#!/usr/bin/env python3
"""Derive the catalog workload's expected result digests and prove them.

Usage (from the repository root):
  python3 perfbench/prove_digests.py <sf> [<sf> ...]      e.g. 0.1 0.001

For each scale factor: runs every catalog-tpch query once on the generated
tables, writes each result as parquet together with the catalog's oracle
SQL, compares them against DuckDB with tools/check.py (rows, schema and
bit-pattern doubles), and only when every query matches writes
perfbench/digests/sf<sf>.txt. Run it again whenever the tables or the
query set change.
"""
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    root = os.getcwd()
    classpath, _ = run.build(root)
    for sf in sys.argv[1:]:
        sf_dir = run.tables(root, sf)
        prove = os.path.join(root, run.BUILD, f"prove-sf{sf}")
        shutil.rmtree(prove, ignore_errors=True)
        os.makedirs(os.path.join(prove, "tmp"))
        cmd = (["java"] + run.ADD_OPENS + [
            "-Xmx3g", f"-Dlog4j2.configurationFile={os.path.join(run.HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={prove}/tmp", f"-Dspark.local.dir={prove}/tmp",
            f"-Dspark.sql.warehouse.dir={prove}/warehouse",
            "-cp", classpath, "graftbench.Main",
            "--workload", "catalog-tpch", "--cores", str(run.cores()),
            "--sf-dir", sf_dir, "--prove-dir", os.path.join(prove, "results")])
        out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout
        lines = [l for l in out.splitlines() if l.startswith("q")]
        check = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"),
                                sf_dir, os.path.join(prove, "results")])
        if check.returncode != 0:
            run.fail(f"sf{sf}: results differ from the DuckDB oracle; digests not written")
        dest = os.path.join(run.HERE, "digests", f"sf{sf}.txt")
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        with open(dest, "w") as f:
            f.write(f"# catalog-tpch result digests at sf{sf} (rows:sum of row xxhash64),\n"
                    "# proven against the DuckDB oracle by perfbench/prove_digests.py\n")
            f.write("\n".join(lines) + "\n")
        shutil.rmtree(prove, ignore_errors=True)
        print(f"sf{sf}: {len(lines)} digests proven and written to {dest}")


if __name__ == "__main__":
    main()
