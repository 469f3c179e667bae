"""Per-layer metrics of a traced run, computed from the spans, jobs, stages,
tasks and Catalyst phases the harness recorded (perfbench/scala/Trace.scala).

Every metric is reported for every workload; a layer the workload does not
call reads 0. Spark-engine and Catalyst figures are per request of the
workload's main kind (REQUEST below); module figures are per call.
"""
import json
from collections import defaultdict

# The request whose cost the spark.* and catalyst.* figures describe.
REQUEST = {"ann-serve": "request.query", "ann-upsert": "request.query", "dedup": "request.round"}

UNITS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.idle_s": "s", "spark.task_cpu_s": "s", "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.gc_s": "s",
    "spark.input_mb": "MB", "catalyst.plan_ms": "ms",
    "ivf.fit_s": "s", "ivf.assign_s": "s", "ivf.centroids": "count",
    "ivf.query_construct_ms": "ms", "ivf.query_exec_ms": "ms", "ivf.query_jobs": "count",
    "ivf.rows_examined_per_result": "ratio", "ivf.batch_s": "s", "ivf.apply_diff_s": "s",
    "ivf.write_partitioned_s": "s", "ivf.store_files": "count",
    "knn.exact_batch_s": "s", "knn.distance_evals_per_cpu_s": "1/s",
    "crud.merge_s": "s", "records.snapshot_s": "s", "records.bytes_written_per_user_byte": "ratio",
    "records.open_ms": "ms", "filter.compile_ms": "ms",
    "caching.materialize_s": "s", "caching.cached_mb": "MB",
    "dedup.signature_s": "s", "dedup.lsh_s": "s", "dedup.groups_s": "s",
    "dedup.groups_jobs": "count", "dedup.candidate_pairs": "count", "dedup.verify_yield": "ratio",
}
MB = 1e6


class Trace:
    def __init__(self, trace):
        self.spans = {s["id"]: s for s in trace["spans"]}
        self.children = defaultdict(list)
        for s in self.spans.values():
            self.children[s["parent"]].append(s["id"])
        f = trace["task_fields"]
        self.tasks = defaultdict(list)
        for t in trace["tasks"]:
            t = dict(zip(f, t))
            self.tasks[t["span"]].append(t)
        self.jobs = defaultdict(int)
        for _, span in trace["jobs"]:
            self.jobs[span] += 1
        self.stages = defaultdict(int)
        for _, span in trace["stages"]:
            self.stages[span] += 1
        self.phases = [p for p in trace["phases"] if p[0] in ("analysis", "optimization", "planning")]

    def named(self, name, under=None):
        return [s for s in self.spans.values() if s["name"] == name
                and (under is None or self.root(s)["name"] == under)]

    def root(self, s):
        while s["parent"]:
            s = self.spans[s["parent"]]
        return s

    def subtree(self, sid):
        out, todo = [], [sid]
        while todo:
            i = todo.pop()
            out.append(i)
            todo += self.children[i]
        return out

    def tasks_of(self, s):
        return [t for i in self.subtree(s["id"]) for t in self.tasks[i]]

    def jobs_of(self, s):
        return sum(self.jobs[i] for i in self.subtree(s["id"]))

    @staticmethod
    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def idle(self, s):
        """Span wall time during which none of its tasks was running."""
        lo, hi = s["start_ns"] / 1e6, s["end_ns"] / 1e6
        busy, cur_a, cur_b = 0.0, None, None
        for a, b in sorted((max(lo, t["launch_ms"]), min(hi, t["finish_ms"])) for t in self.tasks_of(s)):
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                busy += 0 if cur_b is None else cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        busy += 0 if cur_b is None else cur_b - cur_a
        return max(0.0, (hi - lo) - busy) / 1e3

    def plan_ms(self, s):
        lo, hi = s["start_ns"] / 1e6, s["end_ns"] / 1e6
        return sum(b - a for _, a, b in self.phases if lo <= a <= hi)


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(workload, trace, res):
    tr = Trace(trace)
    reqs = tr.named(REQUEST[workload])
    v = {}
    per_req = [tr.tasks_of(r) for r in reqs]
    v["spark.jobs"] = mean(tr.jobs_of(r) for r in reqs)
    v["spark.stages"] = mean(sum(tr.stages[i] for i in tr.subtree(r["id"])) for r in reqs)
    v["spark.tasks"] = mean(len(ts) for ts in per_req)
    v["spark.idle_s"] = mean(tr.idle(r) for r in reqs)
    for key, field, scale in (("spark.task_cpu_s", "cpu_ns", 1e9), ("spark.shuffle_read_mb", "shuffle_read", MB),
                              ("spark.shuffle_write_mb", "shuffle_write", MB), ("spark.spill_mb", "spill", MB),
                              ("spark.gc_s", "gc_ms", 1e3), ("spark.input_mb", "input", MB)):
        v[key] = mean(sum(t[field] for t in ts) / scale for ts in per_req)
    v["catalyst.plan_ms"] = mean(tr.plan_ms(r) for r in reqs)

    def span_mean(name, scale=1.0, under=None):
        return mean(tr.dur(s) * scale for s in tr.named(name, under))

    builds = tr.named("IvfIndex.build") + tr.named("IvfIndex.buildCached")
    v["ivf.fit_s"] = mean(tr.dur(s) for s in builds)
    v["ivf.assign_s"] = (span_mean("Caching.materialize") or
                         span_mean("IvfIndex.writePartitioned", under="request.build"))
    cents = [s["attrs"]["centroids"] for s in tr.spans.values() if "centroids" in s["attrs"]]
    v["ivf.centroids"] = mean(cents) if cents else float(res["info"].get("centroids", 0.0))
    v["ivf.query_construct_ms"] = span_mean("IvfIndex.query", 1e3)
    v["ivf.query_exec_ms"] = span_mean("IvfIndex.query.exec", 1e3)
    v["ivf.query_jobs"] = mean(tr.jobs_of(r) for r in tr.named("request.query"))
    probe = [s for s in tr.spans.values() if "rows_examined" in s["attrs"]]
    results = sum(s["attrs"]["results"] for s in probe)
    v["ivf.rows_examined_per_result"] = sum(s["attrs"]["rows_examined"] for s in probe) / results if results else 0.0
    v["ivf.batch_s"] = span_mean("IvfIndex.queryBatch")
    v["ivf.apply_diff_s"] = span_mean("IvfIndex.applyDiff")
    v["ivf.write_partitioned_s"] = span_mean("IvfIndex.writePartitioned", under="request.round")
    v["ivf.store_files"] = float(res["info"].get("store_files", 0.0))
    exact = tr.named("Knn.searchBatch")
    v["knn.exact_batch_s"] = mean(tr.dur(s) for s in exact)
    cpu = sum(t["cpu_ns"] for s in exact for t in tr.tasks_of(s)) / 1e9
    v["knn.distance_evals_per_cpu_s"] = sum(s["attrs"]["distance_evals"] for s in exact) / cpu if cpu else 0.0
    v["crud.merge_s"] = span_mean("Crud.merge")
    v["records.snapshot_s"] = span_mean("Records.snapshot")
    writes = tr.named("Records.snapshot") + tr.named("IvfIndex.writePartitioned", under="request.round")
    user = sum(s["attrs"].get("user_bytes", 0.0) for s in writes)
    written = sum(t["output"] for s in writes for t in tr.tasks_of(s))
    v["records.bytes_written_per_user_byte"] = written / user if user else 0.0
    v["records.open_ms"] = span_mean("Records.open", 1e3)
    v["filter.compile_ms"] = span_mean("FilterDsl.predicate", 1e3)
    v["caching.materialize_s"] = span_mean("Caching.materialize")
    v["caching.cached_mb"] = 0.0 if workload == "ann-upsert" else res["metrics"].get("state_mb", 0.0)
    v["dedup.signature_s"] = span_mean("Dedup.minhashSignature")
    v["dedup.lsh_s"] = span_mean("Dedup.minhashLsh")
    v["dedup.groups_s"] = span_mean("Dedup.duplicateGroups")
    v["dedup.groups_jobs"] = mean(tr.jobs_of(s) for s in tr.named("Dedup.duplicateGroups"))
    lsh = tr.named("Dedup.minhashLsh")
    cand = sum(s["attrs"].get("candidate_pairs", 0.0) for s in lsh)
    v["dedup.candidate_pairs"] = mean(s["attrs"].get("candidate_pairs", 0.0) for s in lsh)
    v["dedup.verify_yield"] = sum(s["attrs"].get("verified_pairs", 0.0) for s in lsh) / cand if cand else 0.0
    return {k: {"value": float(v[k]), "unit": u} for k, u in UNITS.items()}


def per_span(tr):
    """Per span name: calls, wall and self time, and the Spark work its
    calls launched (excluding child spans)."""
    out = {}
    covered = {i: sum(tr.dur(tr.spans[c]) for c in tr.children[i]) for i in tr.spans}
    for s in tr.spans.values():
        row = out.setdefault(s["name"], defaultdict(float))
        ts = tr.tasks[s["id"]]
        row["calls"] += 1
        row["wall_s"] += tr.dur(s)
        row["self_s"] += max(0.0, tr.dur(s) - covered[s["id"]])
        row["jobs"] += tr.jobs[s["id"]]
        row["tasks"] += len(ts)
        row["task_cpu_s"] += sum(t["cpu_ns"] for t in ts) / 1e9
        row["shuffle_mb"] += sum(t["shuffle_read"] for t in ts) / MB
        row["input_mb"] += sum(t["input"] for t in ts) / MB
        row["output_mb"] += sum(t["output"] for t in ts) / MB
    return {k: dict(v) for k, v in out.items()}


def write(path, workload, seed, metrics, trace, res):
    """The per-layer metrics file of one traced run, with the per-span
    breakdown and the spans themselves."""
    tr = Trace(trace)
    with open(path, "w") as f:
        json.dump({"workload": workload, "seed": seed, "metrics": metrics,
                   "per_span": per_span(tr), "e2e_while_traced": res["metrics"],
                   "setup_runs_s": res["setup_s"],
                   "untagged_tasks": len(tr.tasks[0]), "spans": trace["spans"]}, f, indent=1)
