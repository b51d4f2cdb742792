"""Output checks, run outside the timed region with DuckDB as the oracle.

The canonical row hashing follows tools/check_oracle.py: columns sorted by
name, rows rendered and sorted, floats rounded to 9 places.
"""
import glob
import hashlib
import json
import os

import duckdb


def canon(v):
    if v is None:
        return "\x00"
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def connect(tmp_dir):
    os.makedirs(tmp_dir, exist_ok=True)
    return duckdb.connect(config={"temp_directory": tmp_dir, "threads": 4})


def fetch(con, sql):
    cur = con.execute(sql)
    return [c[0] for c in cur.description], cur.fetchall()


def same_result(a, b):
    """None if the two (cols, rows) results are equal, else why not."""
    (ac, ar), (bc, br) = a, b
    if sorted(ac) != sorted(bc):
        return "columns %s != %s" % (sorted(ac), sorted(bc))
    if len(ar) != len(br):
        return "%d rows != %d rows" % (len(ar), len(br))
    if table_hash(ac, ar) != table_hash(bc, br):
        return "row hash mismatch"
    return None


def committed_files(sink):
    """Parquet files of the sink table's committed commits (manifests)."""
    files = []
    for man in sorted(glob.glob(os.path.join(sink, "_manifests", "*.json"))):
        with open(man) as f:
            commit_id = json.load(f)["commit_id"]
        d = os.path.join(sink, "data", "commit=%012d" % commit_id)
        files += sorted(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))
    return files


def sink_rows(con, sink, unique):
    """(committed rows, rows whose doc_id repeats another's when `unique`)."""
    files = committed_files(sink)
    if not files:
        return 0, 0
    (n, distinct), = con.execute(
        "SELECT count(*), count(DISTINCT doc_id) FROM read_parquet(?)", [files]).fetchall()
    return n, (n - distinct if unique else 0)


def check_report(con, checks):
    """Ingest workloads: the committed report equals the oracle over the
    generated documents, Σ sink rows equals the input rows, and (tail,
    stream) no doc_id was committed twice."""
    problems = []
    con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('%s')"
                % checks["docs"])
    got = fetch(con, "SELECT * FROM read_parquet('%s/*.parquet')" % checks["report"])
    want = fetch(con, checks["oracle_sql"])
    why = same_result(got, want)
    if why:
        problems.append("report vs oracle %s: %s" % (checks["oracle"], why))
    n, dups = sink_rows(con, checks["sink"], checks["unique_doc_ids"])
    if n != checks["expected_rows"]:
        problems.append("sink rows %d != input rows %d" % (n, checks["expected_rows"]))
    if dups:
        problems.append("%d duplicate doc_id rows committed" % dups)
    return problems


def check_queries(con, checks, names):
    """query_suite: each query's result (written by the cold pass) against
    its oracle SQL over the same generated tables."""
    problems = []
    for p in glob.glob(os.path.join(checks["data"], "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute("CREATE OR REPLACE VIEW %s AS SELECT * FROM read_parquet('%s')" % (name, p))
    with open(os.path.join(checks["results"], "oracle_sql.json")) as f:
        oracles = json.load(f)
    for name in names:
        out = os.path.join(checks["results"], name)
        if not glob.glob(os.path.join(out, "*.parquet")):
            problems.append("%s: no result written" % name)
            continue
        if name not in oracles:
            continue
        got = fetch(con, "SELECT * FROM read_parquet('%s/*.parquet')" % out)
        try:
            want = fetch(con, oracles[name])
        except duckdb.Error as e:
            problems.append("%s: oracle error %s" % (name, str(e)[:200]))
            continue
        why = same_result(got, want)
        if why:
            problems.append("%s: %s" % (name, why))
    return problems


def report_rows(con, checks):
    """sink → records of the committed report (for the traced layer counts)."""
    rows = con.execute("SELECT sink, records FROM read_parquet('%s/*.parquet')"
                       % checks["report"]).fetchall()
    return {s: r for s, r in rows}
