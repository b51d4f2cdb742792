"""Seeded input generator for the benchmark's workloads.

Every table is written in the schema `graft.sources.Tables` pins, so the
engine reads it unchanged. The same seed gives byte-identical files; the
generator uses numpy's PCG64 stream seeded with (seed, table number) and
nothing else.

Sizes, and why each workload has them. A run has ~35-50 s in all, of which
`--seconds` (5) is the timed window; JVM start, staging and warm-up take
the rest. At these sizes Spark's fixed per-job cost dominates every
operation, so the sizes are chosen for how many operations a window holds:

* ingest_tail: a 5k-document base and 40 increments of 500. Increments are
  small so each commit is dominated by per-commit fixed cost and the
  resume re-scan of everything already landed, not by new rows; ~1.5-2 s
  a commit on 4 cores, so a window holds 3-4. 40 outlast the warm-up, all
  three windows of a traced run and its three one-core commits unless
  commits get ~2x faster (then a window ends early, when they run out).
* ingest_stream: 6k documents, staged by the JVM side into 24 raw-event
  files drained as 3 micro-batches of 8 files (~0.8-1 s each, mostly
  fixed cost), so a drain takes ~3 s and a window holds two.
* query_suite: all ten tables at the smallest testdata scale (sf0.001
  shape): the suite measures per-query construction, planning and
  scheduling cost, which data size barely moves at this scale.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
         "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
         "the", "value", "vector", "window"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SOURCES = 20

TAIL_BASE = 5_000
TAIL_INCREMENTS = 40
TAIL_INCREMENT_DOCS = 500
STREAM_DOCS = 6_000

ROW_GROUP = 4_096

# pinned schemas (graft.sources.Tables.schemas)
DOCUMENTS = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                       ("source", pa.string()), ("n_chars", pa.int64())])


def rng(seed, table):
    return np.random.default_rng([seed, table])


def documents(seed, n):
    """n documents: 10-100 words from a 31-word vocabulary (~300 chars),
    20 sources round-robin, and 0.5% exact repeats of the previous text."""
    r = rng(seed, 1)
    words = np.array(VOCAB, dtype=object)
    n_words = r.integers(10, 101, n)
    idx = r.integers(0, len(VOCAB), int(n_words.sum()))
    bounds = np.cumsum(n_words)[:-1]
    texts = [" ".join(ws) for ws in np.split(words[idx], bounds)]
    repeat = r.random(n) < 0.005
    for i in np.flatnonzero(repeat[1:]) + 1:
        texts[i] = texts[i - 1]
    ids = np.arange(n, dtype=np.int64)
    lang = np.array(LANGS, dtype=object)[r.choice(len(LANGS), n, p=LANG_P)]
    source = np.array(["src%d" % s for s in range(SOURCES)], dtype=object)[ids % SOURCES]
    n_chars = np.fromiter((len(t) for t in texts), dtype=np.int64, count=n)
    return pa.table([ids, texts, lang, source, n_chars], schema=DOCUMENTS)


def write(table, path):
    pq.write_table(table, path, row_group_size=ROW_GROUP)


def ingest_stream(seed, out):
    os.makedirs(out, exist_ok=True)
    write(documents(seed, STREAM_DOCS), os.path.join(out, "documents.parquet"))


def ingest_tail(seed, out):
    """base.parquet plus increments/inc-NNNNNN.parquet with ids continuing
    past the base, as appended log files would."""
    inc_dir = os.path.join(out, "increments")
    os.makedirs(inc_dir, exist_ok=True)
    docs = documents(seed, TAIL_BASE + TAIL_INCREMENTS * TAIL_INCREMENT_DOCS)
    write(docs.slice(0, TAIL_BASE), os.path.join(out, "base.parquet"))
    for k in range(TAIL_INCREMENTS):
        part = docs.slice(TAIL_BASE + k * TAIL_INCREMENT_DOCS, TAIL_INCREMENT_DOCS)
        write(part, os.path.join(inc_dir, "inc-%06d.parquet" % (k + 1)))


def _ts(base, micros):
    return pa.array(np.datetime64(base, "us") + micros.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def query_tables(seed, out):
    """The ten testdata tables in the sf0.001 shape."""
    docs, vecs, events, customers, suppliers, parts, orders, lineitems = \
        500, 500, 1000, 150, 10, 200, 1500, 6000
    os.makedirs(out, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def save(name, cols, schema):
        write(pa.table(cols, schema=pa.schema(schema)), os.path.join(out, name + ".parquet"))

    write(documents(seed, docs), os.path.join(out, "documents.parquet"))

    r = rng(seed, 2)
    label = r.integers(0, 10, vecs).astype(np.int32)
    centers = r.normal(0, 0.1, (10, 64))
    emb = (centers[label] + r.normal(0, 0.075, (vecs, 64))).astype(np.float32)
    save("embeddings", [np.arange(vecs, dtype=np.int64), list(emb), label],
         [("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)])

    r = rng(seed, 3)
    gaps = r.integers(1, 2 * 30 * 86_400_000_000 // events, events)
    save("events", [np.arange(events, dtype=np.int64), _ts("2024-01-01", np.cumsum(gaps)),
                    r.integers(0, max(1, events // 67), events),
                    np.array(["click", "view", "purchase", "signup", "error"], dtype=object)[
                        r.integers(0, 5, events)],
                    np.round(r.exponential(60.0, events), 2),
                    ['{"k": %d}' % k for k in r.integers(0, 100, events)]],
         [("event_id", i64), ("ts", pa.timestamp("us")), ("user_id", i64),
          ("event_type", s), ("value", f64), ("props", s)])

    r = rng(seed, 4)
    save("region", [np.arange(5, dtype=np.int32),
                    ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]],
         [("r_regionkey", i32), ("r_name", s)])
    save("nation", [np.arange(25, dtype=np.int32), ["NATION_%d" % k for k in range(25)],
                    np.arange(25, dtype=np.int32) % 5],
         [("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)])
    save("customer", [np.arange(customers, dtype=np.int64),
                      ["Customer#%09d" % k for k in range(customers)],
                      r.integers(0, 25, customers).astype(np.int32),
                      np.round(r.uniform(-999.99, 9999.99, customers), 2),
                      np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                "MACHINERY"], dtype=object)[r.integers(0, 5, customers)]],
         [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32), ("c_acctbal", f64),
          ("c_mktsegment", s)])
    save("supplier", [np.arange(suppliers, dtype=np.int64),
                      ["Supplier#%09d" % k for k in range(suppliers)],
                      r.integers(0, 25, suppliers).astype(np.int32),
                      np.round(r.uniform(-999.99, 9999.99, suppliers), 2)],
         [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)])
    adj = ["blue", "red", "small", "large", "hot", "cold", "old", "new"]
    noun = ["anvil", "bolt", "gear", "plate", "ring", "widget", "nut", "spring"]
    save("part", [np.arange(parts, dtype=np.int64),
                  ["%s %s" % (adj[a], noun[b]) for a, b in
                   zip(r.integers(0, 8, parts), r.integers(0, 8, parts))],
                  ["Brand#%d" % b for b in r.integers(1, 26, parts)],
                  np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                           dtype=object)[r.integers(0, 6, parts)],
                  r.integers(1, 51, parts).astype(np.int32),
                  np.round(900.0 + (np.arange(parts) % 1000) * 0.1, 1)],
         [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
          ("p_size", i32), ("p_retailprice", f64)])
    day = 86_400_000_000
    save("orders", [np.arange(orders, dtype=np.int64), r.integers(0, customers, orders),
                    np.array(["F", "O", "P"], dtype=object)[r.integers(0, 3, orders)],
                    np.round(r.uniform(1000.0, 500000.0, orders), 2),
                    _ts("1995-01-01", r.integers(0, 2405, orders) * day),
                    np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                             dtype=object)[r.integers(0, 5, orders)]],
         [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
          ("o_totalprice", f64), ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", s)])
    save("lineitem", [np.sort(r.integers(0, orders, lineitems)), r.integers(0, parts, lineitems),
                      r.integers(0, suppliers, lineitems),
                      r.integers(1, 8, lineitems).astype(np.int32),
                      r.integers(1, 51, lineitems).astype(np.float64),
                      np.round(r.uniform(900.0, 105000.0, lineitems), 2),
                      r.integers(0, 11, lineitems) / 100.0, r.integers(0, 9, lineitems) / 100.0,
                      np.array(["A", "N", "R"], dtype=object)[r.integers(0, 3, lineitems)],
                      np.array(["F", "O"], dtype=object)[r.integers(0, 2, lineitems)],
                      _ts("1995-01-02", r.integers(0, 2498, lineitems) * day)],
         [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32),
          ("l_quantity", f64), ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
          ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", pa.timestamp("us"))])


WORKLOADS = {
    "ingest_tail": ingest_tail,
    "ingest_stream": ingest_stream,
    "query_suite": query_tables,
}


def generate(workload, seed, out):
    WORKLOADS[workload](seed, out)
