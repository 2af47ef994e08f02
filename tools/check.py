#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

For each query result parquet written by `graft.Verify`, runs the matching
oracle SQL from oracle_sql.json in DuckDB (tables = views over the sfDir
parquet files) and compares: row count, column names, dtypes, and values
(rows sorted by all columns). Exit 0 iff everything matches.

Doubles are compared by BIT PATTERN (the way the driver hashes them), not
pandas equality — pandas treats -0.0 == 0.0, which masked the q163 r9
mismatch where DuckDB's round() kept -0.0 and Spark's normalized to +0.0.

DuckDB runs under fixed caps (DUCKDB_CAPS): 6 GB of memory, 2 threads and
at most 8 GB of spill, written to a temporary directory that is deleted on
exit. An oracle that needs more fails with ORACLE_ERROR, which fails the
run; it cannot fill the disk or the machine's memory.
"""
import sys, os, json, glob, shutil, tempfile
import duckdb
import numpy as np
import pandas as pd

DUCKDB_CAPS = {"memory_limit": "6GB", "threads": 2,
               "max_temp_directory_size": "8GB"}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # make lists hashable for sorting
    for c in df.columns:
        if df[c].map(lambda v: isinstance(v, (list, tuple)) or
                     getattr(v, "ndim", 0) == 1 and not isinstance(v, str)).any():
            df[c] = df[c].map(lambda v: tuple(v) if v is not None and not isinstance(v, (str, float, int)) else v)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def bit_mismatch(a: pd.DataFrame, b: pd.DataFrame):
    """First (column, row) where float64 cells differ in BIT PATTERN after
    the value-sort — catches -0.0 vs +0.0 and NaN-payload differences that
    pandas equality hides. Also unpacks float arrays carried as tuples."""
    for c in a.columns:
        if a[c].dtype == np.float64:
            av = a[c].to_numpy().view(np.uint64)
            bv = b[c].to_numpy().view(np.uint64)
            neq = av != bv
            if neq.any():
                i = int(np.nonzero(neq)[0][0])
                return c, i, float(a[c].iloc[i]), float(b[c].iloc[i])
        elif a[c].dtype == object:
            for i, (x, y) in enumerate(zip(a[c], b[c])):
                if isinstance(x, tuple) and isinstance(y, tuple):
                    ax, ay = np.asarray(x), np.asarray(y)
                    if ax.dtype == np.float64 and ay.dtype == np.float64 and \
                            len(ax) == len(ay) and \
                            (ax.view(np.uint64) != ay.view(np.uint64)).any():
                        return c, i, x, y
    return None


def main():
    spill = tempfile.mkdtemp(prefix="graft-check-")
    try:
        check(sys.argv[1], sys.argv[2], spill)
    finally:
        shutil.rmtree(spill, ignore_errors=True)


def check(sf_dir, out_dir, spill):
    con = duckdb.connect(config=dict(DUCKDB_CAPS, temp_directory=spill))
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)

    results = {}
    for qdir in sorted(glob.glob(f"{out_dir}/*/")):
        name = qdir.rstrip("/").split("/")[-1]
        spark_df = con.execute(
            f"SELECT * FROM '{qdir}*.parquet'").fetchdf()
        if name not in oracle:
            results[name] = f"ROWS_ONLY rows={len(spark_df)}"
            continue
        try:
            duck_df = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            results[name] = f"ORACLE_ERROR {str(e)[:200]}"
            continue
        a, b = normalize(spark_df), normalize(duck_df)
        if list(a.columns) != list(b.columns):
            results[name] = f"SCHEMA_MISMATCH spark={list(a.columns)} duck={list(b.columns)}"
            continue
        if len(a) != len(b):
            results[name] = f"ROWCOUNT_MISMATCH spark={len(a)} duck={len(b)}"
            continue
        dtypes_diff = [(c, str(a[c].dtype), str(b[c].dtype))
                       for c in a.columns if str(a[c].dtype) != str(b[c].dtype)]
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
            ok = True; detail = ""
        except AssertionError as e:
            ok = False; detail = str(e).splitlines()[-1][:200]
        if ok:
            bm = bit_mismatch(a, b)
            if bm is not None:
                c, i, va, vb = bm
                ok = False
                detail = (f"BIT_PATTERN col={c} row={i} "
                          f"spark={va!r} duck={vb!r}")
        if ok:
            results[name] = "OK" + (f" (dtypes differ: {dtypes_diff})" if dtypes_diff else "")
        else:
            results[name] = f"VALUE_MISMATCH {detail}"
            # show first diff
            neq = (a != b) & ~(a.isna() & b.isna())
            bad = neq.any(axis=1)
            if bad.any():
                i = bad.idxmax()
                results[name] += f" | first diff row {i}: spark={a.loc[i].to_dict()} duck={b.loc[i].to_dict()}"

    width = max(len(n) for n in results) if results else 10
    n_ok = sum(1 for v in results.values() if v.startswith("OK") or v.startswith("ROWS_ONLY"))
    for nme, v in sorted(results.items()):
        print(f"{nme:<{width}}  {v[:500]}")
    print(f"\n{n_ok}/{len(results)} green")
    sys.exit(0 if n_ok == len(results) else 1)


if __name__ == "__main__":
    main()
