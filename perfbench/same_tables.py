#!/usr/bin/env python3
"""Show that gen_tpch.py reproduces a directory of reference tables.

Usage (from the repository root):
  python3 perfbench/same_tables.py <sf> <reference_dir>

Generates the tables at scale factor <sf> into a temporary directory under
.bench_build/ and compares them with the parquet files of the same names in
<reference_dir> (the repository's seed-42 tables at that sf, TESTDATA.md):
row count, column names, column types and every value, in row order.
Prints one line per table and exits 0 only if all of them are equal.
"""
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def main():
    sf, ref = sys.argv[1], sys.argv[2]
    out = os.path.join(".bench_build", f"same-tables-sf{sf}")
    shutil.rmtree(out, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                                 "gen_tpch.py"), sf, out], check=True)
    differ = []
    for t in TABLES:
        ours = pq.read_table(os.path.join(out, f"{t}.parquet"))
        theirs = pq.read_table(os.path.join(ref, f"{t}.parquet"))
        same_schema = [(f.name, f.type) for f in ours.schema] == \
                      [(f.name, f.type) for f in theirs.schema]
        cols = [c for c in theirs.column_names
                if not same_schema or not ours.column(c).equals(theirs.column(c))]
        ok = same_schema and not cols
        print(f"{t:9s} rows={theirs.num_rows:8d} "
              + ("equal" if ok else f"DIFFER schema_same={same_schema} columns={cols}"))
        if not ok:
            differ.append(t)
    shutil.rmtree(out, ignore_errors=True)
    print(f"sf{sf}: " + ("every table equal" if not differ else f"differ: {differ}"))
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
