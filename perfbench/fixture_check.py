#!/usr/bin/env python3
"""Checks that the benchmark's generated fixtures equal the program's harness
fixtures (TESTDATA.md, sf0.1, seed 42) cell by cell.

    python3 perfbench/fixture_check.py <sf0.1 fixture dir>

Generates the tables into a temporary directory and compares each one with
the file of the same name: schema, row count, every column's values, and
the parquet layout (row groups, column chunk sizes, encodings). Prints one
line per table and exits non-zero on any difference.
"""
import os
import sys
import tempfile

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402


def layout(path):
    m = pq.ParquetFile(path).metadata
    return [(m.row_group(i).column(j).total_compressed_size, m.row_group(i).column(j).encodings)
            for i in range(m.num_row_groups) for j in range(m.num_columns)]


def diff(ours, theirs):
    """None when the two files hold the same table, else what differs."""
    a, b = pq.read_table(ours), pq.read_table(theirs)
    if a.schema.remove_metadata() != b.schema.remove_metadata():
        return f"schema {a.schema.remove_metadata()} != {b.schema.remove_metadata()}"
    if a.num_rows != b.num_rows:
        return f"{a.num_rows} rows != {b.num_rows}"
    bad = [c for c in a.column_names if not a[c].equals(b[c])]
    if bad:
        return f"values differ in {bad}"
    if layout(ours) != layout(theirs):
        return "parquet layout differs"
    return None


def main(reference):
    failed = 0
    with tempfile.TemporaryDirectory() as tmp:
        datagen.fixtures(tmp)
        for t in datagen.TABLES:
            why = diff(os.path.join(tmp, f"{t}.parquet"), os.path.join(reference, f"{t}.parquet"))
            print(f"{'DIFF' if why else 'SAME'} {t}" + (f": {why}" if why else ""))
            failed += bool(why)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
