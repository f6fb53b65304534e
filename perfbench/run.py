#!/usr/bin/env python3
"""Benchmark of the block indexer and its read API.

Usage (from the repository root):

    python3 perfbench/run.py --workload <ingest|serve|analytics> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (`perfbench/build.sbt`,
cached under `.bench_build/` by a hash of the sources), generates the
workload's inputs from the seed, runs one JVM on `local[<cores>]`, checks
the outputs and prints, as the last line of standard output, one JSON
object with `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end ones of BENCHMARK.json, with
`--trace 1` the per-layer ones. The line before it holds the workload's
own named figures and the host description. See perfbench/NOTES.md.
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

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
# Wall-clock limit of one run. backfill is not in BENCHMARK.json and is
# run by hand (see NOTES.md).
DEADLINE_S = {"ingest": 170.0, "serve": 170.0, "analytics": 170.0, "backfill": 900.0}

# Generated `events` rows (8 per block) for the feed-based workloads:
# ingest writes one 64-block micro-batch per 1.5 s of --seconds (5 at
# --seconds 8, whose write and replay then take 9-12 s on 4 cores),
# backfill the reference sf0.1 feed (12,500 blocks).
def feed_events(workload, seconds):
    return {"ingest": 8 * 64 * max(1, round(seconds / 1.5)), "serve": 20_000,
            "backfill": 100_000}[workload]

# The analytics data set, as a fraction of the reference sf0.1 table sizes
# (the size of the reference sf0.001 set).
ANALYTICS_SCALE = 0.01
WORKLOADS = ["ingest", "serve", "analytics", "backfill"]

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness; returns the classpath."""
    cp_file = os.path.join(BUILD, "sbt-target", "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read().split("\n")
    os.makedirs(BUILD, exist_ok=True)
    log("building program and harness with sbt")
    t = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                             cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(cp_file):
        sys.exit(f"build failed (see {os.path.join(BUILD, 'build.log')})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t:.1f} s")
    with open(cp_file) as fh:
        return fh.read().split("\n")


def heap_size():
    """Heap size from MemTotal: half of it, between 2 and 8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(max(g, 2), 8)}g"
    except OSError:
        pass
    return "2g"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (None where unavailable)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests in between:
    runs on a host busy enough to steal time are not comparable."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d[:8]) if sum(d[:8]) else None


def run_jvm(classpath, args, run_dir, timeout):
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cores())
    env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    mem = heap_size()
    # A fixed number of JIT compiler threads: the harness subtracts their
    # CPU time from the JVM's (Main.cpuS), which needs none of them to end.
    cmd = ["java"] + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{mem}", "-Xms2g", "-XX:-UseDynamicNumberOfCompilerThreads",
        "-Dspark.ui.enabled=false",
        f"-Dderby.system.home={run_dir}", f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", os.pathsep.join(classpath), "perfbench.Main"] + args
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            log("JVM timed out; stopping it")
            return -1
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def unit_of(name, spec):
    for m in spec["end_to_end"] + spec["per_layer"]:
        if m["name"] == name:
            return m["unit"]
    return "s" if name.endswith("_s") else "MB" if name.endswith("_mb") else "count"


def oracle_check(data_dir, out_dir):
    """Compares the query results the JVM wrote (graft.Verify) with their
    DuckDB oracle SQL using the repository's own tools/compare.py; returns
    its FAIL, MISS, SCHEMA and OERR lines."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare.py"), data_dir, out_dir],
                       capture_output=True, text=True, stdin=subprocess.DEVNULL)
    problems = [ln for ln in r.stdout.splitlines() if ln.split(" ", 1)[0] in ("FAIL", "MISS", "SCHEMA", "OERR")]
    if r.returncode != 0 and not problems:
        problems.append(f"tools/compare.py failed: {r.stderr.strip()[-300:]}")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    # a terminated run still stops its JVM (run_jvm's finally) and cleans up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        sys.exit("program sources not found: run from the repository root")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    classpath = build()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        sys.path.insert(0, HERE)
        sys.dont_write_bytecode = True
        import gen
        data = os.path.join(run_dir, "data")
        os.makedirs(data)
        if a.workload == "analytics":
            gen.analytics(data, ANALYTICS_SCALE, a.seed)
        else:
            gen.events(data, feed_events(a.workload, a.seconds), a.seed)
        out = os.path.join(run_dir, "result.json")
        timeout = DEADLINE_S[a.workload] - (time.time() - t_start)
        cpu_before = cpu_times()
        rc = run_jvm(classpath, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--run", run_dir, "--out", out],
            run_dir, max(30.0, timeout))
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(run_dir, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-4000:])
            sys.exit(f"benchmark JVM failed with exit code {rc}")
        with open(out) as fh:
            res = json.load(fh)
        res["host"]["cpu_steal_share"] = steal_share(cpu_before, cpu_times())
        if a.workload == "analytics":
            for p in oracle_check(data, os.path.join(run_dir, "verify")):
                res["failed"] += 1
                res["problems"].append(p)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for p in res["problems"]:
        log(p)
    source = res["layer"] if a.trace else res["e2e"]
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        # a workload run by hand reports whatever it measured
        wanted = [{"name": k, "unit": unit_of(k, spec)} for k in source]
    missing = [m["name"] for m in wanted if source.get(m["name"]) is None]
    if missing:
        sys.exit(f"metrics not produced: {missing}")
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "named": res["detail"], "host": res["host"]}))
    print(json.dumps({"correct": res["failed"] == 0 and res["attempted"] > 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
