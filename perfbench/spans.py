"""Span arithmetic and the per-layer metrics of a traced run.

The JVM side (perfbench/src/main/scala/perfbench/Trace.scala) writes one
JSON object per line: spans (id, name, parent, start, end, attrs), jobs
attributed to a span through the Spark job group, SQL actions with their
planning phases and file scans, and micro-batch progress. Times are epoch seconds. A SQL
action is placed in the innermost span open when its planning ended: the
client is a single closed-loop thread, so spans nest and never overlap.
"""
import json
import statistics
from collections import defaultdict

SINKS = ["oplog", "nginx", "fgt", "zeek", "quarantine"]
# actions that read a result back rather than write a table
READ_FUNCS = {"head", "collect", "count", "first", "take", "collectAsList", "show"}


def load(path):
    recs = defaultdict(list)
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            recs[r["type"]].append(r)
    return recs


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """{span id: duration minus the part of it its child spans cover}."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - covered(s["start"], s["end"], children[s["id"]])
            for s in spans}


class Trace:
    def __init__(self, recs):
        self.spans = {s["id"]: s for s in recs["span"]}
        self.kids = defaultdict(list)
        for s in recs["span"]:
            self.kids[s["parent"]].append(s["id"])
        self.jobs = defaultdict(list)
        for j in recs["job"]:
            self.jobs[j["span"]].append(j)
        self.sqls = defaultdict(list)
        for x in recs["sql"]:
            ends = [b for _, b in x["phases"].values()]
            if ends:
                self.sqls[self.innermost(max(ends))].append(x)
        self.batches = recs["batch"]

    def innermost(self, t):
        """Id of the latest-starting span open at time t, -1 if none."""
        best = None
        for s in self.spans.values():
            if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        return best["id"] if best else -1

    def named(self, name):
        return [s for s in self.spans.values() if s["name"] == name]

    def subtree(self, sid):
        out, todo = [], [sid]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(self.kids[i])
        return out

    def jobs_in(self, sid):
        return [j for i in self.subtree(sid) for j in self.jobs[i]]

    def sqls_in(self, sid):
        return [x for i in self.subtree(sid) for x in self.sqls[i]]

    def dur(self, sid):
        s = self.spans[sid]
        return s["end"] - s["start"]

    def driver_gap(self, sid):
        s = self.spans[sid]
        return self.dur(sid) - covered(s["start"], s["end"],
                                       [(j["start"], j["end"]) for j in self.jobs_in(sid)])

    def plan_ms(self, sid, phase=None):
        phases = [phase] if phase else ["analysis", "optimization", "planning"]
        return sum(1e3 * (x["phases"][p][1] - x["phases"][p][0])
                   for x in self.sqls_in(sid) for p in phases if p in x["phases"])

    def job_sum(self, sid, key):
        return sum(j[key] for j in self.jobs_in(sid))


def median_or_zero(xs):
    return statistics.median(xs) if xs else 0.0


def mean_or_zero(xs):
    return sum(xs) / len(xs) if xs else 0.0


def engine(t, ops):
    """Engine counters per operation of the traced window."""
    return {
        "pipeline.jobs": mean_or_zero([len(t.jobs_in(o)) for o in ops]),
        "pipeline.tasks": mean_or_zero([t.job_sum(o, "tasks") for o in ops]),
        "pipeline.task_s": mean_or_zero([t.job_sum(o, "task_s") for o in ops]),
        "pipeline.driver_gap_s": mean_or_zero([t.driver_gap(o) for o in ops]),
        "pipeline.gc_s": mean_or_zero([t.spans[o]["gc_s"] for o in ops]),
        "pipeline.plan_ms": mean_or_zero([t.plan_ms(o) for o in ops]),
    }


def prefix_layers(t, chain):
    """Self time and counts per layer from the composed prefixes: a layer's
    cost is its prefix's median minus the previous prefix's median."""
    out, prev = {}, {"s": 0.0, "shuffle": 0.0, "spill": 0.0, "input": 0.0}
    for layer in chain:
        reps = [s["id"] for s in t.named("prefix." + layer)]
        cur = {"s": median_or_zero([t.dur(i) for i in reps]),
               "shuffle": median_or_zero([t.job_sum(i, "shuffle_write_bytes") for i in reps]),
               "spill": median_or_zero([t.job_sum(i, "spill_bytes") for i in reps]),
               "input": median_or_zero([t.job_sum(i, "input_bytes") for i in reps])}
        out[layer] = {k: max(0.0, cur[k] - prev[k]) for k in cur}
        out[layer]["input_total"] = cur["input"]
        prev = cur
    return out


def useful_ratio(t, ops, workload):
    """Rows the ops committed (their manifests) over the rows the engine
    pushed through parse: on the tail, the rows its scans of the documents'
    text returned; on the stream, its micro-batches' input rows."""
    committed = sum(t.spans[o]["attrs"].get("committed_rows", 0) for o in ops)
    if workload == "ingest_tail":
        pushed = sum(sc["rows"] for o in ops for x in t.sqls_in(o) for sc in x["scans"]
                     if "documents.parquet" in sc["path"] and "text" in sc["columns"])
    else:
        pushed = sum(b["rows"] for b in t.batches if b["span"] in set(ops))
    return committed / pushed if pushed else 0.0


def layer_metrics(workload, recs, result, report_rows):
    """Every per-layer metric for one traced run; 0 where the workload does
    not exercise the layer. `report_rows` maps sink → records."""
    t = Trace(recs)
    m = defaultdict(float)
    query = workload == "query_suite"
    ops = [s["id"] for s in t.spans.values()
           if (s["name"].startswith("q:") if query else s["name"] == "op")]
    m.update(engine(t, ops))

    if not query:
        chain = (["read", "parse", "route"] if workload == "ingest_stream"
                 else ["sources", "parse", "dedup", "enrich", "route"])
        lay = prefix_layers(t, chain)
        layer_attrs = result.get("layer", {})
        if workload != "ingest_stream":
            m["sources.self_s"] = lay["sources"]["s"]
            m["sources.bytes_read"] = lay["sources"]["input_total"]
            m["sources.rows"] = layer_attrs.get("sources.rows", 0)
            m["dedup.self_s"] = lay["dedup"]["s"]
            m["dedup.shuffle_bytes"] = lay["dedup"]["shuffle"]
            m["dedup.spill_bytes"] = lay["dedup"]["spill"]
            m["enrich.self_s"] = lay["enrich"]["s"]
            m["enrich.miss_rows"] = layer_attrs.get("enrich.miss_rows", 0)
            m["enrich.broadcast"] = layer_attrs.get("enrich.broadcast", 0)
        m["parse.self_s"] = lay["parse"]["s"]
        total = sum(report_rows.values())
        m["parse.ok_ratio"] = (total - report_rows.get("quarantine", 0)) / total if total else 0.0
        m["route.self_s"] = lay["route"]["s"]
        m["route.shuffle_bytes"] = lay["route"]["shuffle"]
        for sink in SINKS:
            m["route.rows." + sink] = report_rows.get(sink, 0)

        commit = t.named("sinktable.commit")[-1]
        write_s = sum(x["duration_s"] for x in t.sqls_in(commit["id"])
                      if x["func"] not in READ_FUNCS)
        m["sinktable.write_s"] = write_s
        m["sinktable.manifest_s"] = max(0.0, t.dur(commit["id"]) - write_s)
        m["sinktable.files"] = commit["attrs"].get("files", 0)
        rows = commit["attrs"].get("rows", 0)
        m["sinktable.bytes_per_row"] = commit["attrs"].get("bytes", 0) / rows if rows else 0.0
        read = t.named("sinktable.read")[-1]
        m["sinktable.read_s"] = t.dur(read["id"])
        # the report collected inside each timed op (tail) is the layer on
        # the real path; the stream's ops have none, so there it is the
        # composed report minus its read-back
        own = self_times(list(t.spans.values()))
        in_ops = [own[k] for o in ops for k in t.kids[o]
                  if t.spans[k]["name"] == "report.collect"]
        composed = t.named("report.collect")[-1]
        m["report.self_s"] = (statistics.median(in_ops) if in_ops else
                              max(0.0, t.dur(composed["id"]) - t.dur(read["id"])))
        m["sinktable.useful_ratio"] = useful_ratio(t, ops, workload)

    if workload == "ingest_stream":
        bs = [b for b in t.batches if b["rows"] > 0 and b["span"] in set(ops)]
        m["stream.batches"] = len(bs) / len(ops) if ops else 0.0
        m["stream.rows_per_batch"] = mean_or_zero([b["rows"] for b in bs])
        for k in ["addBatch", "latestOffset", "queryPlanning", "walCommit"]:
            m["stream.ms." + k] = median_or_zero([b["ms"].get(k, 0) for b in bs])

    if query:
        # result["families"]: query name -> its family group (perfbench.Main)
        passes = max(1, len(ops) // len(result["families"]))
        fam = defaultdict(lambda: defaultdict(float))
        for o in ops:
            f = fam[result["families"][t.spans[o]["name"][2:]]]
            construct = [k for k in t.kids[o] if t.spans[k]["name"] == "construct"]
            f["construct_s"] += sum(t.dur(k) for k in construct)
            f["construct_jobs"] += sum(len(t.jobs_in(k)) for k in construct)
            f["analysis_ms"] += t.plan_ms(o, "analysis")
            f["optimization_ms"] += t.plan_ms(o, "optimization")
            f["planning_ms"] += t.plan_ms(o, "planning")
            f["codegen_compiles"] += t.spans[o]["codegen_compiles"]
            f["jobs"] += len(t.jobs_in(o))
            f["task_s"] += t.job_sum(o, "task_s")
            f["driver_gap_s"] += t.driver_gap(o)
            f["shuffle_bytes"] += t.job_sum(o, "shuffle_write_bytes")
            f["spill_bytes"] += t.job_sum(o, "spill_bytes")
            f["cached_bytes"] += t.spans[o]["attrs"].get("cached_bytes", 0)
        for g, vals in fam.items():
            for k, v in vals.items():
                m["query.%s.%s" % (g, k)] = v / passes
    return m
