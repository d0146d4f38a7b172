#!/usr/bin/env python3
"""Per-op job timeline of a perfbench run.

    python3 tools/op_jobs.py <run dir>                     # per-op-name summary
    python3 tools/op_jobs.py <run dir> --op q3_ship_delay  # one traced op's jobs
    python3 tools/op_jobs.py <run dir> --op q3_ship_delay --nth 2

<run dir> is one `perfbench/run.py` output directory,
`.bench_build/runs/<workload>-trace<k>/`, holding `report.json` (every op
record) and, for a traced run, `spans.jsonl` (the listener spans).

The summary prints, for each op name (and status, where ops carry one) of
the timed and traced phases: the op count, the median wall, the median
build/result split, and the Spark jobs per op (traced phase only; the timed
phase runs without listeners). `--op` prints the jobs of the `--nth`
(default 0) traced op of that name: each job's start offset from the op's
start, duration, tasks, shuffle bytes (read + write) and the SQL execution
that ran it, or "none" for a job outside any execution (schema inference,
an eager driver-side action, a listing job).
"""
import argparse
import json
import os
import statistics


def load(run_dir):
    with open(os.path.join(run_dir, "report.json")) as f:
        report = json.load(f)
    spans = []
    path = os.path.join(run_dir, "spans.jsonl")
    if os.path.exists(path):
        with open(path) as f:
            spans = [json.loads(line) for line in f if line.strip()]
    return report, spans


def label(op):
    status = op.get("status")
    return f"{op['name']} [{status}]" if status else op["name"]


def jobs_by_op(spans):
    out = {}
    for s in spans:
        if s["kind"] == "job":
            out.setdefault(s["op"], []).append(s)
    return out


def summary(report, spans):
    per_op = jobs_by_op(spans)
    print(f"{'phase':<7} {'op':<34} {'n':>4} {'wall_p50':>9} {'build_p50':>10} "
          f"{'result_p50':>11} {'jobs/op':>8}")
    for phase in ("timed", "traced"):
        ops = [o for o in report["ops"] if o["phase"] == phase]
        groups = {}
        for o in ops:
            groups.setdefault(label(o), []).append(o)
        for name in sorted(groups):
            g = groups[name]
            jobs = (f"{sum(len(per_op.get(o['id'], [])) for o in g) / len(g):8.2f}"
                    if phase == "traced" else f"{'-':>8}")
            print(f"{phase:<7} {name:<34} {len(g):>4} "
                  f"{statistics.median(o['wall_s'] for o in g):9.3f} "
                  f"{statistics.median(o['build_s'] for o in g):10.3f} "
                  f"{statistics.median(o['result_s'] for o in g):11.3f} {jobs}")
        if phase == "traced" and ops:
            total = sum(len(per_op.get(o["id"], [])) for o in ops)
            print(f"{'traced':<7} {'(all)':<34} {len(ops):>4} "
                  f"{statistics.median(o['wall_s'] for o in ops):9.3f} "
                  f"{statistics.median(o['build_s'] for o in ops):10.3f} "
                  f"{statistics.median(o['result_s'] for o in ops):11.3f} "
                  f"{total / len(ops):8.2f}")


def timeline(report, spans, name, nth):
    ops = [o for o in report["ops"] if o["phase"] == "traced" and o["name"] == name]
    if not ops:
        raise SystemExit(f"no traced op named {name!r}")
    if not 0 <= nth < len(ops):
        raise SystemExit(f"--nth {nth}: {len(ops)} traced ops named {name!r}")
    op = ops[nth]
    stages = {}
    for s in spans:
        if s["kind"] == "stage":
            stages.setdefault(s.get("job"), []).append(s)
    jobs = sorted(jobs_by_op(spans).get(op["id"], []), key=lambda j: j["start_ms"])
    print(f"{label(op)} (op {op['id']}): wall {op['wall_s']:.3f} s, "
          f"build {op['build_s']:.3f} s, result {op['result_s']:.3f} s, {len(jobs)} jobs")
    print(f"{'job':>6} {'start_ms':>9} {'dur_ms':>7} {'tasks':>6} {'shuffle_B':>10} {'exec':>6}")
    for j in jobs:
        st = stages.get(j["id"], [])
        tasks = sum(s["tasks"] for s in st)
        shuffle = sum(s["shuffle_read_bytes"] + s["shuffle_write_bytes"] for s in st)
        ex = "none" if j.get("exec") is None else str(j["exec"])
        print(f"{j['id']:>6} {j['start_ms'] - op['start_ms']:9.0f} "
              f"{j['end_ms'] - j['start_ms']:7.0f} {tasks:>6} {shuffle:>10} {ex:>6}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("run_dir")
    ap.add_argument("--op", help="print this traced op's jobs")
    ap.add_argument("--nth", type=int, default=0, help="which traced op of that name")
    args = ap.parse_args()
    report, spans = load(args.run_dir)
    if args.op:
        timeline(report, spans, args.op, args.nth)
    else:
        summary(report, spans)


if __name__ == "__main__":
    main()
