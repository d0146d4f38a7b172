"""Metric definitions: the end-to-end metrics of the untraced timed phase and
the per-layer metrics of the traced phase. README.md here defines each."""
import statistics

END_TO_END = ["setup_s", "throughput_ops_s", "latency_p50_s", "latency_p90_s",
              "heap_live_mb"]

E2E_UNITS = {"setup_s": "s", "throughput_ops_s": "1/s", "latency_p50_s": "s",
             "latency_p90_s": "s", "heap_live_mb": "MB"}

PER_LAYER = [
    "error_rate", "freshness_p50_s", "batch_latency_p50_s", "batch_latency_p90_s",
    "engine.session_start_s", "engine.fixture_warm_s", "engine.warm_pass_s",
    "plans.actions", "plans.analysis_s", "plans.optimization_s", "plans.planning_s",
    "operators.build_s", "operators.result_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_wall_s", "spark.driver_gap_s",
    "spark.task_launch_overhead_s", "spark.task_run_s", "spark.task_cpu_s",
    "spark.task_cpu_ratio", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
    "spark.spill_mb", "spark.gc_s",
    "sources.merge_s", "sources.merge_partitioned_s", "sources.delete_s", "sources.expire_s",
    "sources.changes_s", "sources.time_travel_s", "sources.scan_s",
    "sources.rows_written_per_row_changed", "sources.heap_mb_per_commit",
    "pipeline.initial_s", "pipeline.incremental_s", "pipeline.noop_s",
    "pipeline.actions_per_run",
    "streaming.batches", "streaming.trigger_s", "streaming.add_batch_s",
    "streaming.query_planning_s", "streaming.wal_commit_s", "streaming.commit_offsets_s",
    "streaming.latest_offset_s", "streaming.get_batch_s", "streaming.outside_batches_s",
    "jvm.gc_s",
    "self.operators_s", "self.streaming_s", "self.pipeline_s", "self.sources_s",
    "self.plans_s", "self.spark_s",
    "trace.overhead_pct",
]

COUNTS = {"plans.actions", "spark.jobs", "spark.stages", "spark.tasks", "streaming.batches",
          "pipeline.actions_per_run"}
RATIOS = {"error_rate", "spark.task_cpu_ratio", "sources.rows_written_per_row_changed"}
LAYERS = ["operators", "streaming", "pipeline", "sources", "plans", "spark"]


def unit(name):
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    if name in COUNTS:
        return "count"
    if name in RATIOS:
        return "ratio"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_mb") or "_mb_" in name:
        return "MB"
    return "s"


def percentile(values, p):
    """The p-th percentile (p a whole number from 1 to 99) by the inclusive
    rule of `statistics.quantiles`: linear interpolation between the two
    closest ranks. Ops of one workload differ in kind, so a rank can sit
    where one kind ends and the next begins; interpolating keeps the
    percentile from jumping between them when noise reorders two samples."""
    if len(values) < 2:
        return float(values[0]) if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def union_s(intervals, lo, hi):
    """Seconds of [lo, hi] (milliseconds) covered by at least one interval."""
    cut = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in cut:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1000.0


def span_tree(op, spans):
    """The spans of one op as nodes {layer, start, end, children}, rooted at
    the op. A job hangs under the SQL execution that ran it, a nested
    execution under its root execution, a stage under its job; anything
    else hangs under the innermost micro-batch containing its start, or
    else under the op."""
    root = {"layer": op["layer"], "start": op["start_ms"],
            "end": op["start_ms"] + op["wall_s"] * 1000.0, "children": []}
    execs = {s["id"]: dict(layer="plans", start=s["start_ms"], end=s["end_ms"], children=[], src=s)
             for s in spans if s["kind"] == "exec"}
    jobs = {s["id"]: dict(layer="spark", start=s["start_ms"], end=s["end_ms"], children=[], src=s)
            for s in spans if s["kind"] == "job"}
    batches = [dict(layer="streaming", start=s["start_ms"], end=s["end_ms"], children=[], src=s)
               for s in spans if s["kind"] == "batch"]

    def container(start):
        inside = [b for b in batches if b["start"] <= start <= b["end"]]
        return min(inside, key=lambda b: b["end"] - b["start"]) if inside else root

    for b in batches:
        root["children"].append(b)
    for e in execs.values():
        r = e["src"]["root"]
        parent = execs[r] if r != e["src"]["id"] and r in execs else container(e["start"])
        parent["children"].append(e)
    for j in jobs.values():
        x = j["src"].get("exec")
        parent = execs[x] if x in execs else container(j["start"])
        parent["children"].append(j)
    for s in spans:
        if s["kind"] == "stage":
            parent = jobs.get(s.get("job"), root)
            parent["children"].append(dict(layer="spark", start=s["start_ms"], end=s["end_ms"],
                                           children=[], src=s))
    return root


def self_times(node, acc=None):
    """Adds each node's self time (its duration minus the part of it its
    children cover) to its layer; returns {layer: seconds}."""
    acc = {} if acc is None else acc
    own = (node["end"] - node["start"]) / 1000.0
    covered = union_s([(c["start"], c["end"]) for c in node["children"]],
                      node["start"], node["end"])
    acc[node["layer"]] = acc.get(node["layer"], 0.0) + max(0.0, own - covered)
    for c in node["children"]:
        self_times(c, acc)
    return acc


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def summarize(report, mismatches, spans):
    """`failed` and `correct` cover the ops of every measured phase, traced
    passes too; `error_rate` and the end-to-end metrics cover the untraced
    timed phase."""
    ops = report["ops"]
    timed = [o for o in ops if o["phase"] == "timed"]
    measured = [o for o in ops if o["phase"] in ("timed", "traced", "traced_off")]
    wrong = {name for name, _ in mismatches}

    def bad(o):
        return not o["ok"] or o["name"] in wrong
    # an ingest table that differs is one wrong result beyond its ops
    tables = sum(1 for name, _ in mismatches if not any(o["name"] == name for o in ops))
    failed = sum(1 for o in measured if bad(o)) + tables
    attempted = max(1, len(measured))
    lat = [o["wall_s"] for o in timed]
    setup = report["setup"]
    out = {
        "setup_s": setup["session_start_s"] + setup["fixture_warm_s"] + sum(setup["warm_passes_s"]),
        "throughput_ops_s": len(timed) / report["timed"]["wall_s"],
        "latency_p50_s": percentile(lat, 50),
        "latency_p90_s": percentile(lat, 90),
        "heap_live_mb": report["heap_live_mb"],
        "error_rate": (sum(1 for o in timed if bad(o)) + tables) / max(1, len(timed)),
        "freshness_p50_s": percentile([o["freshness_s"] for o in timed if "freshness_s" in o], 50),
        "engine.session_start_s": setup["session_start_s"],
        "engine.fixture_warm_s": setup["fixture_warm_s"],
        "engine.warm_pass_s": sum(setup["warm_passes_s"]),
    }
    out.update(per_layer(report, spans))
    result = {
        "correct": failed == 0 and not mismatches,
        "attempted": attempted,
        "failed": failed,
        "samples": len(lat),
        "mismatches": [f"{n}: {w}" for n, w in mismatches],
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in out.items()},
    }
    return result


def per_layer(report, spans):
    """Per-layer metrics of the traced phase, per op unless the name says
    otherwise. Zero for a layer the workload does not reach, and for every
    metric of an untraced run."""
    out = {n: 0.0 for n in PER_LAYER
           if not n.startswith("engine.") and n not in ("error_rate", "freshness_p50_s")}
    ops = [o for o in report["ops"] if o["phase"] == "traced"]
    if not ops:
        return out
    n = len(ops)
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)

    ids = {o["id"] for o in ops}

    def kind(k):
        return [s for s in spans if s["kind"] == k and s["op"] in ids]

    qes = {s["id"]: s for s in kind("qe")}
    execs = kind("exec")
    jobs, stages, micro = kind("job"), kind("stage"), kind("batch")
    out["plans.actions"] = sum(1 for e in execs if e["root"] == e["id"]) / n
    for ph in ("analysis_s", "optimization_s", "planning_s"):
        out[f"plans.{ph}"] = sum(q[ph] for q in qes.values()) / n
    out["operators.build_s"] = _mean([o["build_s"] for o in ops])
    out["operators.result_s"] = _mean([o["result_s"] for o in ops])
    out["spark.jobs"] = len(jobs) / n
    out["spark.stages"] = len(stages) / n
    out["spark.tasks"] = sum(s["tasks"] for s in stages) / n
    job_wall = []
    for o in ops:
        lo = o["start_ms"]
        hi = lo + o["wall_s"] * 1000.0
        job_wall.append(union_s([(j["start_ms"], j["end_ms"]) for j in by_op.get(o["id"], [])
                                 if j["kind"] == "job"], lo, hi))
    out["spark.job_wall_s"] = _mean(job_wall)
    out["spark.driver_gap_s"] = _mean([o["wall_s"] - w for o, w in zip(ops, job_wall)])
    run_s = sum(s["task_run_ms"] for s in stages) / 1000.0
    cpu_s = sum(s["task_cpu_ns"] for s in stages) / 1e9
    out["spark.task_launch_overhead_s"] = sum(s["task_launch_ms"] for s in stages) / 1000.0 / n
    out["spark.task_run_s"] = run_s / n
    out["spark.task_cpu_s"] = cpu_s / n
    out["spark.task_cpu_ratio"] = cpu_s / run_s if run_s else 0.0
    mb = 1024.0 * 1024.0
    out["spark.shuffle_write_mb"] = sum(s["shuffle_write_bytes"] for s in stages) / mb / n
    out["spark.shuffle_read_mb"] = sum(s["shuffle_read_bytes"] for s in stages) / mb / n
    out["spark.spill_mb"] = sum(s["spill_bytes"] for s in stages) / mb / n
    out["spark.gc_s"] = sum(s["gc_ms"] for s in stages) / 1000.0 / n

    def wall(name):
        return _mean([o["wall_s"] for o in ops if o["name"] == name])
    for name in ("merge", "merge_partitioned", "delete", "expire", "changes", "time_travel",
                 "scan"):
        out[f"sources.{name}_s"] = wall(f"sources.{name}")
    # copy-on-write: a MERGE writes the rows it changes and copies the
    # untouched rows of every group it rewrites
    written = changed = 0
    for o in ops:
        if o["name"] in ("sources.merge", "sources.merge_partitioned"):
            counts = [q["merge_rows"] for q in qes.values() if q["op"] == o["id"]]
            if counts:
                c = max(counts, key=lambda m: sum(m.values()))
                written += c["copied"] + c["inserted"] + c["updated"]
                changed += c["inserted"] + c["updated"] + c["deleted"]
    out["sources.rows_written_per_row_changed"] = written / changed if changed else 0.0
    # the heap grows with the commits of listener-off passes as well
    commits = sum(1 for o in report["ops"] if o["phase"] in ("traced", "traced_off") and
                  o["name"] in ("sources.merge", "sources.merge_partitioned", "sources.delete"))
    tr = report["traced"]
    if commits:
        out["sources.heap_mb_per_commit"] = (tr["heap_after_mb"] - tr["heap_before_mb"]) / commits
    runs = [o for o in report["ops"] if o["name"] == "pipeline.run"]
    out["pipeline.initial_s"] = _mean([o["wall_s"] for o in runs if o.get("status") == "initial_load"])
    out["pipeline.incremental_s"] = _mean([o["wall_s"] for o in ops if o.get("status") == "success"])
    out["pipeline.noop_s"] = _mean([o["wall_s"] for o in ops if o.get("status") == "no_new_data"])
    run_ids = {o["id"] for o in ops if o["name"] == "pipeline.run"}
    if run_ids:
        out["pipeline.actions_per_run"] = sum(
            1 for e in execs if e["op"] in run_ids and e["root"] == e["id"]) / len(run_ids)

    trig = [b["duration_ms"].get("triggerExecution", 0) / 1000.0 for b in micro]
    out["batch_latency_p50_s"] = percentile(trig, 50)
    out["batch_latency_p90_s"] = percentile(trig, 90)
    # per op of the streaming layer
    streams = [o for o in ops if o["layer"] == "streaming"]
    if streams:
        ns = len(streams)
        out["streaming.batches"] = len(micro) / ns
        for key, name in (("triggerExecution", "trigger_s"), ("addBatch", "add_batch_s"),
                          ("queryPlanning", "query_planning_s"), ("walCommit", "wal_commit_s"),
                          ("commitOffsets", "commit_offsets_s"),
                          ("latestOffset", "latest_offset_s"), ("getBatch", "get_batch_s")):
            out[f"streaming.{name}"] = sum(b["duration_ms"].get(key, 0) for b in micro) / 1000.0 / ns
        out["streaming.outside_batches_s"] = _mean([
            o["wall_s"] - sum(b["duration_ms"].get("triggerExecution", 0)
                              for b in by_op.get(o["id"], []) if b["kind"] == "batch") / 1000.0
            for o in streams])
    out["jvm.gc_s"] = tr["jvm_gc_s"] / n

    selfs = {}
    for o in ops:
        for layer, s in self_times(span_tree(o, by_op.get(o["id"], []))).items():
            selfs[layer] = selfs.get(layer, 0.0) + s
    for layer in LAYERS:
        out[f"self.{layer}_s"] = selfs.get(layer, 0.0) / n
    out["trace.overhead_pct"] = overhead_pct(tr["pairs"])
    return out


def overhead_pct(pairs):
    """Tracing overhead from neighbouring passes with the listeners on and
    off: the summed wall of the traced passes over that of their untraced
    partners, less one, in percent."""
    off = sum(q["off_s"] for q in pairs)
    return (sum(q["on_s"] for q in pairs) / off - 1.0) * 100.0 if off else 0.0
