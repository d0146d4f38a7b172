"""The benchmark's correctness gate, run after the timed phases.

Query workloads: each query's reference result (its first successful run,
which every timed run must match by digest) is compared with the query's
registered oracle SQL run by DuckDB over the same fixture tables, with the
program's own oracle check (tools/oracle_check.py): columns sorted by name,
rows sorted, floats printed to 9 significant digits; dtypes compared too.

`ingest`: the final flat table, its partitioned twin, and the latest
versions of the pipeline and of its streaming twin must equal
keep-latest-by-key over the valid rows of the ticks that ran (the catalog
tables without rows older than the last retention cutoff), and every
tick's `RunResult` counts must equal those of a model of the pipeline's
contract run over the same feed.
"""
import glob
import os
import sys

import duckdb
import pandas as pd
import pyarrow as pa

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from oracle_check import TABLES, canon, table_hash  # noqa: E402


def compare(spark_df, duck_df):
    """None when the two results are equal, else what differs."""
    s, d = canon(spark_df), canon(duck_df)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} != oracle {list(d.columns)}"
    if len(s) != len(d):
        return f"{len(s)} rows != oracle {len(d)}"
    for i, (ra, rb) in enumerate(zip(table_hash(s), table_hash(d))):
        if ra != rb:
            return f"row {i}: {ra} != oracle {rb}"
    ts, td = [str(x) for x in s.dtypes], [str(x) for x in d.dtypes]
    if ts != td:
        return f"dtypes {ts} != oracle {td}"
    return None


def _read(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pd.concat([pd.read_parquet(f) for f in files]) if files else None


def check_queries(report, data, gate_dir):
    """Mismatches as (query name, what differs)."""
    con = duckdb.connect()
    for t in TABLES:
        if os.path.exists(f"{data}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    g = report["gate"]
    mismatches = []
    names = sorted({op["name"] for op in report["ops"]})
    for name in names:
        if name not in g["checked"]:
            mismatches.append((name, "no successful run"))
        elif name in g["oracle"]:
            got = _read(os.path.join(gate_dir, name))
            why = "no result dumped" if got is None else compare(got, con.execute(g["oracle"][name]).fetchdf())
            if why:
                mismatches.append((name, why))
    return mismatches


def _valid(r):
    return r["event_id"] is not None and r["ts"] is not None and \
        (r["value"] is None or r["value"] >= 0)


def expected_runs(batches, last_tick):
    """`RunResult` counts per tick, by the pipeline's contract: a run reads
    every landed row at or after the watermark (all rows on the initial
    load), drops invalid rows, merges keep-latest-by-key, and moves the
    watermark to the newest valid time; a source whose newest time is not
    past the watermark is `no_new_data`."""
    landed, table, wm, out = [], None, 0, []
    for k in range(last_tick + 1):
        b = batches[k]
        if b is not None:
            landed.extend(b.set_column(1, "ts", b["ts"].cast(pa.int64())).to_pylist())
        times = [r["ts"] for r in landed if r["ts"] is not None]
        if table is not None and (not times or max(times) <= wm):
            out.append(dict(tick=k, status="no_new_data", found=0, dropped=0,
                            inserted=0, total=len(table)))
            continue
        initial = table is None
        incoming = landed if initial else [r for r in landed if r["ts"] is not None and r["ts"] >= wm]
        valid = [r for r in incoming if _valid(r)]
        keys = {r["event_id"] for r in valid}
        table = table or {}
        inserted = len(keys - table.keys())
        for r in valid:
            if r["event_id"] not in table or r["ts"] > table[r["event_id"]]["ts"]:
                table[r["event_id"]] = r
        if valid:
            wm = max(r["ts"] for r in valid)
        out.append(dict(tick=k, status="initial_load" if initial else "success",
                        found=len(incoming), dropped=len(incoming) - len(valid),
                        inserted=inserted, total=len(table)))
    return out


def check_ingest(report, batches, cutoffs, gate_dir):
    """Mismatches as (op or table name, what differs)."""
    runs = report["gate"]["runs"]
    mismatches = []
    if not runs:
        return [("pipeline.run", "no pipeline run succeeded")]
    last = max(r["tick"] for r in runs)
    want = {r["tick"]: r for r in expected_runs(batches, last)}
    got = {r["tick"]: r for r in runs}
    for k in range(last + 1):
        if k not in got:
            mismatches.append(("pipeline.run", f"tick {k}: the run failed"))
        elif got[k] != want[k]:
            mismatches.append(("pipeline.run", f"tick {k}: {got[k]} != model {want[k]}"))

    con = duckdb.connect()
    landed = [b for b in batches[:last + 1] if b is not None]
    con.register("feed", pa.concat_tables(landed))
    latest = """SELECT event_id, ts, user_id, event_type, value FROM (
        SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts DESC) AS rn
        FROM feed WHERE event_id IS NOT NULL AND ts IS NOT NULL
          AND (value IS NULL OR value >= 0)) WHERE rn = 1"""
    applied = [c for c in cutoffs[:last + 1] if c is not None]
    retained = latest + (f" AND epoch_us(ts) >= {applied[-1]}" if applied else "")
    for name, sql in (("ingest_pipeline", latest), ("ingest_streaming", latest),
                      ("ingest_flat", retained), ("ingest_partitioned", retained)):
        got_df = _read(os.path.join(gate_dir, name))
        why = "no table dumped" if got_df is None else compare(got_df, con.execute(sql).fetchdf())
        if why:
            mismatches.append((name, why))
    return mismatches


