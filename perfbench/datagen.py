"""Seeded generators for the benchmark's inputs.

`fixtures(dir)` writes the eight sf0.1 tables of the program's harness
fixtures (TESTDATA.md: region nation customer supplier part orders lineitem
events, seed 42) value for value. It replays the draws of the generator
that made them: one numpy `default_rng(42)` stream, table after table,
column after column, and the same label lists. `fixture_check.py` here
compares the output with a copy of the fixtures cell by cell. The
`documents` and `embeddings` tables are not written: no query of the
benchmark's workloads reads them.

`ingest_feed(events_path, seed)` derives the `ingest` workload's batches
from the generated `events` table. The run seed decides every batch's
contents: which keys are re-delivered with an update, with which values and
times, and where the invalid rows fall.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
SF = 0.1
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(dir_, name, cols):
    # fixed writer options so the same seed gives byte-identical files
    pq.write_table(pa.table(cols), os.path.join(dir_, f"{name}.parquet"),
                   compression="snappy", write_statistics=True)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, labels, n):
    return np.array(labels)[rng.integers(0, len(labels), n)]


def fixtures(dir_):
    rng = np.random.default_rng(FIXTURE_SEED)
    os.makedirs(dir_, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_line, n_ev = int(1_500_000 * SF), int(6_000_000 * SF), int(1_000_000 * SF)

    _write(dir_, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(dir_, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(dir_, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD",
                                    "FURNITURE"], n_cust)})
    _write(dir_, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part)
    adj = _pick(rng, "red blue small large hot cold old new".split(), n_part)
    noun = _pick(rng, "anvil widget gizmo bolt gear plate rod ring".split(), n_part)
    _write(dir_, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": _pick(rng, ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"],
                        n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 2)})
    _write(dir_, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2405, n_ord) * US_PER_DAY),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)})
    # ship dates are drawn apart from order dates, as in the fixtures: about
    # half of all lines ship before their order's date
    _write(dir_, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": _money(rng, 0, 0.1, n_line),
        "l_tax": _money(rng, 0, 0.08, n_line),
        "l_returnflag": _pick(rng, ["R", "A", "N"], n_line),
        "l_linestatus": _pick(rng, ["O", "F"], n_line),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, n_line) * US_PER_DAY)})
    # events: times uniform over 30 days, numbered in time order
    secs = np.sort(rng.uniform(0, 30 * 86_400, n_ev))
    _write(dir_, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(EPOCH_2024 + (secs * 1e9).astype(np.int64) // 1000),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": _pick(rng, ["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})


# ---- ingest feed -----------------------------------------------------------
#
# The feed has the reference pipeline's volume (BASELINE.md): its initial
# load reads its whole dataset, 205 launches, and an incremental run reads
# one page of its API, at most 100 rows. The events here stand in for
# launches (FIXTURES.md: events split by time, watermark = newest time).

INITIAL_ROWS = 205  # tick 0: the reference's whole dataset
FRESH_ROWS = 100    # per batch tick: one page of the reference's API
# Keys of earlier batches re-delivered with a changed value (FIXTURES.md A4:
# duplicate keys across batches with changed fields, last write wins). The
# reference publishes no rate; a quarter of a page makes every MERGE update
# as well as insert. The rows at the watermark, which the reference's `>=`
# fetch delivers again, need no injecting: the pipeline re-reads them itself.
UPDATE_ROWS = 25
# Invalid rows per batch: one with a null key and one with a negative value,
# one for each validation rule (`IncrementalPipeline.isValid`) a row can
# break and still fall inside the time window the run reads. The reference
# publishes no rate either.
INVALID_ROWS = 2
# After tick 0, odd ticks land a batch and even ticks land nothing, so the
# reference's three kinds of run all occur (initial load, incremental, no
# new data) and every pass (a batch tick and an empty one) does the same
# work. Each batch tick deletes rows older than the newest KEEP_ROWS fresh
# events, so the tables stay at the reference's size; updates pick keys
# inside that window. The pattern is the same for every seed; the seed
# decides what each batch holds.
KEEP_ROWS = INITIAL_ROWS
MAX_TICKS = 121

EVENT_SCHEMA = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                          ("user_id", pa.int64()), ("event_type", pa.string()),
                          ("value", pa.float64())])


def ingest_feed(events_path, seed, max_ticks=MAX_TICKS):
    """The batches of one `ingest` run and the retention cutoffs: two lists
    with one entry per tick. A batch is a pyarrow Table, or None for an empty
    tick; tick 0 is the initial load. A cutoff is the time in epoch micros
    below which the tick deletes rows, or None.

    Fresh events are consecutive slices of the `events` table in time order.
    A re-delivery repeats a key of the retention window with a new value and
    a time inside the tick's window, so keep-latest-by-key applies it.
    Invalid rows break the pipeline's validation rule (a negative value, or
    a null key) while keeping a time inside the window.
    """
    rng = np.random.default_rng([seed, 7])
    ev = pq.read_table(events_path, columns=["event_id", "ts", "user_id",
                                             "event_type", "value"])
    ids = ev["event_id"].to_numpy()
    ts = ev["ts"].cast(pa.int64()).to_numpy()
    users = ev["user_id"].to_numpy()
    types = ev["event_type"].to_numpy(zero_copy_only=False)
    values = ev["value"].to_numpy()
    next_fresh_id = 10_000_000  # keys of the invalid rows that have one
    batches, cutoffs, pos = [], [], 0
    for tick in range(max_ticks):
        if tick > 0 and tick % 2 == 0:
            batches.append(None)
            cutoffs.append(None)
            continue
        n = INITIAL_ROWS if tick == 0 else FRESH_ROWS
        sl = slice(pos, pos + n)
        pos += n
        cutoffs.append(int(ts[pos - KEEP_ROWS]) if pos > KEEP_ROWS else None)
        b_id, b_ts = list(ids[sl]), list(ts[sl])
        b_user, b_type, b_val = list(users[sl]), list(types[sl]), list(values[sl])
        lo, hi = int(ts[sl][0]), int(ts[sl][-1])
        if tick > 0:
            window = ids[max(0, sl.start - KEEP_ROWS):sl.start]
            for k in rng.choice(window, UPDATE_ROWS, replace=False):
                b_id.append(int(k))
                b_ts.append(int(rng.integers(lo, hi)))
                b_user.append(int(users[k]))
                b_type.append(str(types[k]))
                b_val.append(round(float(rng.exponential(50.0)), 2))
        for j in range(INVALID_ROWS):
            null_key = j % 2 == 0
            b_id.append(None if null_key else next_fresh_id)
            next_fresh_id += 1
            b_ts.append(int(rng.integers(lo, hi)))
            b_user.append(int(rng.integers(0, 1500)))
            b_type.append("error")
            b_val.append(12.5 if null_key else -1.0)
        order = rng.permutation(len(b_id))
        pick = lambda xs: [xs[i] for i in order]
        batches.append(pa.table({
            "event_id": pa.array(pick(b_id), pa.int64()),
            "ts": pa.array(pick(b_ts), pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(pick(b_user), pa.int64()),
            "event_type": pa.array(pick(b_type), pa.string()),
            "value": pa.array(pick(b_val), pa.float64())}, schema=EVENT_SCHEMA))
    return batches, cutoffs


def write_feed(batches, cutoffs, dir_):
    """Writes tick k's batch to `<dir>/tick=<k>.parquet` (empty ticks write
    nothing) and `<dir>/schedule.tsv`: `tick, file or -, cutoff or -`."""
    os.makedirs(dir_, exist_ok=True)
    lines = []
    for k, (b, c) in enumerate(zip(batches, cutoffs)):
        name = "-"
        if b is not None:
            name = f"tick={k:04d}.parquet"
            pq.write_table(b, os.path.join(dir_, name), compression="snappy")
        lines.append(f"{k}\t{name}\t{'-' if c is None else c}\n")
    with open(os.path.join(dir_, "schedule.tsv"), "w") as f:
        f.writelines(lines)
