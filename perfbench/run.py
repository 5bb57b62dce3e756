#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its metrics.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 12 --trace 0

Builds the engine and the benchmark from source on first use (sbt, into
the checkout), starts a fresh JVM for the run and one more that only
builds a session, checks the outputs, and prints a human-readable report
followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, and the spans are kept
under perfbench/target/traces/. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("etl_daily", "ingest_search")
# JVMs an untraced run starts one after another: the first runs the
# workload, the others only build a session; setup_s is the median of
# their set-up times.
SETUPS = 2
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "2g"
# Spark on JDK 17 outside spark-submit (the same list as the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


CHILDREN = []


def stop_children(signum=None, frame=None):
    """Kill every process group this run started and wait for it."""
    for proc in CHILDREN:
        if proc.poll() is None:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    if signum is not None:
        sys.exit(128 + signum)


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for dirpath, dirnames, files in os.walk(p):
            dirnames[:] = [d for d in dirnames if d != "target"]
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    return newest


def classpath():
    """Compile engine + benchmark if any source is newer than the last
    build; return the runtime classpath."""
    cp_file = os.path.join(TARGET, "classpath.txt")
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
              os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= newest_mtime(inputs):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(TARGET, exist_ok=True)
    log_path = os.path.join(TARGET, "build.log")
    print("perfbench: building engine and benchmark (first run)", file=sys.stderr)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=log, text=True,
            stdin=subprocess.DEVNULL, start_new_session=True)
        CHILDREN.append(proc)
        try:
            out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop_children()
            die(f"build timed out; see {log_path}", 1)
        log.write(out)
    if proc.returncode != 0:
        die(f"build failed; see {log_path}", 1)
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if not lines:
        die(f"build printed no classpath; see {log_path}", 1)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp


def host_facts():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    sha = "unknown (not a git checkout)"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                 capture_output=True, timeout=10).stdout.strip() or sha
        except (OSError, subprocess.SubprocessError):
            pass
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "git_sha": sha}


def run_jvm(cp, args, work, out, trace_file, setup_only):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", f"-Dspark.local.dir={tmp}",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--setup-only", "1" if setup_only else "0",
        "--cpus", str(len(os.sched_getaffinity(0))), "--work", work,
        "--out", out, "--trace-file", trace_file]
    # The engine's SPARK_GRAFT_* switches change the session it builds;
    # a result would not record them, so none reaches the run.
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost",
               SPARK_LOCAL_DIRS=tmp)
    log_path = os.path.join(TARGET, "logs", f"{os.path.basename(work)}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    spawned = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log,
                                stdin=subprocess.DEVNULL, env=env,
                                start_new_session=True)
        CHILDREN.append(proc)
        try:
            proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop_children()
            die(f"{args.workload} run timed out; see {log_path}", 1)
    if proc.returncode != 0 or not os.path.exists(out):
        die(f"{args.workload} run failed (exit {proc.returncode}); see {log_path}", 1)
    with open(out) as f:
        res = json.load(f)
    res["setup_s"] = res["ready_epoch_us"] / 1e6 - spawned
    res["log"] = log_path
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("the engine's sources (build.sbt, src/main/scala) are not beside "
            "perfbench/; run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    cp = classpath()
    run_id = f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}"
    for sub in ("results", "traces"):
        os.makedirs(os.path.join(TARGET, sub), exist_ok=True)
    trace_file = os.path.join(TARGET, "traces", f"{run_id}.jsonl")
    runs = []
    for k in range(1 if args.trace else SETUPS):
        work = os.path.join(TARGET, "work", f"{run_id}-{k}")
        os.makedirs(work, exist_ok=True)
        try:
            runs.append(run_jvm(cp, args, work, os.path.join(work, "result.json"),
                                trace_file, k > 0))
        finally:
            shutil.rmtree(work, ignore_errors=True)
    res = runs[0]
    res["setups_s"] = [r["setup_s"] for r in runs]
    res["setup_s"] = statistics.median(res["setups_s"])

    res["host"] = host_facts()
    if args.trace:
        values = dict(res.get("layers", {}))
        specs = bench["per_layer"]
    else:
        values = dict(res)
        specs = bench["end_to_end"]
    # A layer the workload does not drive reads 0; any other metric
    # without a value is an error, never a silent 0.
    def bypassed(name):
        return any(name == p or name.startswith(p + ".") for p in res["bypassed"])
    metrics, missing = {}, []
    for m in specs:
        v = values.get(m["name"])
        if v is None and args.trace and bypassed(m["name"]):
            v = 0.0
        if v is None:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    res["metrics"] = metrics
    res["missing"] = missing
    with open(os.path.join(TARGET, "results", f"{run_id}.json"), "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)

    h = res["host"]
    print(f"# host nproc={h['nproc']} mem_total_mb={h['mem_total_mb']} "
          f"jdk={res['jdk']} spark={res['spark']} {res['local']} git={h['git_sha']}")
    print(f"# {args.workload} seed={args.seed} trace={args.trace} dims={json.dumps(res['dims'])}")
    print(f"# setups: {', '.join(f'{x:.3f}' for x in res['setups_s'])}s")
    print(f"# passes: cold {res['cold_s']:.3f}s, warm {len(res['warm_passes'])} "
          f"({', '.join(f'{w:.3f}' for w in res['warm_passes'])})")
    if "step_p50_s" in res:
        tail = (f", tail p{res['step_tail_pct']:.1f} {res['step_tail_s']:.4f}s"
                if "step_tail_s" in res else ", tail n/a (<11 samples)")
        print(f"# steps: n={res['step_samples']} p50 {res['step_p50_s']:.4f}s{tail}")
    for k, v in sorted(res.get("report", {}).items()):
        print(f"# {k} = {v:.4f}")
    if args.trace:
        lay = res.get("layers", {})
        print(f"# tracing overhead {lay.get('trace.overhead_s', 0.0):.3f}s per warm pass; "
              f"top-level spans cover {lay.get('trace.top_coverage', 0.0):.1%} of a traced pass")
        print(f"# trace: {trace_file}")
    print(f"# fail_ratio {res['failed']}/{res['attempted']}")
    for fl in res["failures"]:
        print(f"# FAILED: {fl}")
    if missing:
        die(f"no value for {', '.join(missing)}; no result printed", 1)
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
