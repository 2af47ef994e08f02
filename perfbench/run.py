#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                           [--plant none|digest|drop-batch] [--small]

Workloads: star-perfile, catalog-tpch (see perfbench/README.md).

The first run in a checkout builds the library and the harness from source
with sbt (offline) and generates the fixed TPC-H-shaped tables; both are
cached under .bench_build/ and rebuilt when a source file changes. Each run
then starts one JVM with a local Spark session on `nproc` cores.

The last line of stdout is one JSON object:
  {"correct": bool, "attempted": n, "failed": n, "metrics": {name: {"value", "unit"}}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Diagnostics go to stderr.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
WORKLOADS = ("star-perfile", "catalog-tpch")
RUN_LIMIT_S = 175.0

# per-layer metrics that a workload does not exercise read 0 there
NOT_EXERCISED = {
    "star-perfile": ("catalog.build_ms", "catalog.exec_ms", "catalog.blocks_leaked_bytes"),
    "catalog-tpch": ("streaming.", "store."),
}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


def source_stamp(root):
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(root, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile the library and the harness if a source changed.

    Returns the runtime classpath and whether this call built."""
    stamp_file = os.path.join(root, BUILD, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as c:
                    return c.read().strip(), False
    log("perfbench: building library and harness with sbt (offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g",
            "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {r.returncode})")
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as c:
        return c.read().strip(), True


def tables(root, sf):
    """The fixed TPC-H-shaped tables at scale factor `sf` (generated once)."""
    out = os.path.join(root, BUILD, "data", f"sf{sf}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen_tpch.py"), sf, out],
                       check=True, stdout=sys.stderr, timeout=300)
        open(os.path.join(out, "_DONE"), "w").close()
    return out


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cmd, timeout_s):
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"run exceeded {timeout_s:.0f} s and was stopped")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    result = None
    for line in out.splitlines():
        if line.startswith("GRAFTBENCH_RESULT "):
            result = json.loads(line[len("GRAFTBENCH_RESULT "):])
        else:
            log(line)
    if p.returncode != 0 or result is None:
        fail(f"benchmark JVM exited {p.returncode} without a result")
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--plant", default="none", choices=("none", "digest", "drop-batch"),
                    help="plant a wrong output to show the checks fail")
    ap.add_argument("--small", action="store_true",
                    help="self-test sizes: sf0.001 tables, a 2-file feed")
    a = ap.parse_args()
    # a termination request unwinds through the handlers that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    t_start = time.monotonic()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("no graft sources here: run from the root of a repository checkout")

    classpath, built = build(root)
    sf = "0.001" if a.small else "0.1"
    if a.workload == "catalog-tpch":
        sf_dir, warm_dir = tables(root, sf), tables(root, "0.001")
    # a run that had to build may take longer; otherwise the whole run,
    # build check and table generation included, keeps within the limit
    jvm_limit = RUN_LIMIT_S - (0 if built else time.monotonic() - t_start)

    work = os.path.join(root, BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = os.path.join(root, BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    cmd = (["java"] + ADD_OPENS + [
        "-Xmx3g", "-XX:+UseG1GC",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dspark.local.dir={os.path.join(work, 'tmp')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(cores()), "--work-dir", work,
        "--plant", a.plant, "--trace-out", trace_out])
    if a.workload == "catalog-tpch":
        cmd += ["--sf-dir", sf_dir, "--warmup-sf-dir", warm_dir,
                "--digests", os.path.join(HERE, "digests", f"sf{sf}.txt")]
    if a.small:
        cmd += ["--feed-files", "1"]
    try:
        r = run_jvm(cmd, jvm_limit)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    key = "per_layer" if a.trace else "end_to_end"
    values = r[key]
    metrics = {}
    for m in spec[key]:
        name = m["name"]
        if name in values:
            v = values[name]
        elif any(name.startswith(p) for p in NOT_EXERCISED[a.workload]):
            v = 0.0
        else:
            fail(f"metric {name} missing from the {a.workload} result")
        metrics[name] = {"value": v, "unit": m["unit"]}

    checks_ok = all(c["ok"] for c in r["checks"])
    correct = r["failed"] == 0 and checks_ok
    named = {n["name"]: {"value": n["value"], "unit": n["unit"]} for n in r["named"]}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "verdict": "outputs correct" if correct else "OUTPUTS WRONG",
                      "failed_checks": [c for c in r["checks"] if not c["ok"]][:20],
                      "metrics": named, "info": r["info"]}))
    if a.trace:
        print(json.dumps({"traced_end_to_end": r["end_to_end"], "trace_file": trace_out}))
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
