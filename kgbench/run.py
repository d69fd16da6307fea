#!/usr/bin/env python3
"""Benchmark entry point: builds the program and the benchmark from source, runs
one workload in one JVM at local[N], checks its outputs, and prints the
result as the last line of standard output.

    python3 kgbench/run.py --workload batch_sparse --seed 1 --seconds 15 --trace 0
    python3 kgbench/run.py --selftest

N is $SPARK_GRAFT_CPUS, else the number of CPUs this process may run on.
Everything it writes goes under .bench_build/ at the repository root.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "kgbench")
RUN_LIMIT_S = 170
BUILD_RUN_LIMIT_S = 880
KEEP_BUILDS = 4

# per-layer metrics of layers a workload never runs; they read 0
NEVER_RUN = {
    "batch_sparse": ("GraphSink.", "StreamingDedup.", "Dedup."),
    "batch_dense_sink": ("stream.",),
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        die("no Spark jars found (set SPARK_HOME)")
    return jars


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not prog:
        die("no program sources under src/main/scala")
    if not bench:
        die("no benchmark sources under kgbench/src")
    return prog + bench


def build(jars):
    """Compile program + benchmark sources with scalac from the Spark jars.
    Outputs are keyed by a hash of every source, so edits rebuild, and the
    KEEP_BUILDS most recently used are kept, so alternating two revisions
    in one checkout builds each once."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        os.utime(out)
        return out, False
    old = sorted((d for d in glob.glob(os.path.join(BUILD, "classes-*")) if not d.endswith(".tmp")),
                 key=os.path.getmtime)
    for d in old[:max(0, len(old) - (KEEP_BUILDS - 1))]:
        shutil.rmtree(d, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
           "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile]
    t = time.monotonic()
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        die("build failed", 4)
    os.rename(tmp, out)
    print(f"kgbench: built {len(srcs)} sources in {time.monotonic() - t:.1f}s", file=sys.stderr)
    return out, True


def golden_args(workload, seed):
    path = os.path.join(HERE, "golden.json")
    if not os.path.exists(path):
        return []
    entry = json.load(open(path)).get(workload, {}).get(str(seed), {})
    return [a for k, (cnt, chk) in sorted(entry.items()) for a in ("--golden", f"{k}={cnt}:{chk}")]


def cores():
    env = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    if env.isdigit() and int(env) > 0:
        return int(env)
    return len(os.sched_getaffinity(0))


def run_jvm(cmd, env, limit_s):
    """Run the JVM in its own process group; kill the group at the limit."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, env=env,
                         cwd=ROOT, text=True, start_new_session=True)
    lines = []
    deadline = time.monotonic() + limit_s

    def on_alarm(*_):
        os.killpg(p.pid, signal.SIGKILL)

    def on_term(*_):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        shutil.rmtree(os.path.join(BUILD, f"work-{os.getpid()}"), ignore_errors=True)
        sys.exit(143)

    signal.signal(signal.SIGALRM, on_alarm)
    signal.signal(signal.SIGTERM, on_term)
    signal.signal(signal.SIGINT, on_term)
    signal.setitimer(signal.ITIMER_REAL, max(1.0, deadline - time.monotonic()))
    try:
        for line in p.stdout:
            lines.append(line.rstrip("\n"))
        p.wait()
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found at the repository root")
    spec = json.load(open(spec_path))
    workloads = [w["name"] for w in spec["workloads"]]
    if not a.selftest and a.workload not in workloads:
        die(f"unknown workload {a.workload!r}; expected one of {workloads}")
    sources()  # refuse early where the program is absent

    os.makedirs(BUILD, exist_ok=True)
    lock = open(os.path.join(BUILD, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        die("another benchmark run holds the lock; refusing to start", 3)

    jars = spark_jars()
    t_build = time.monotonic()
    classes, built = build(jars)
    build_s = time.monotonic() - t_build
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    n = cores()
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(n))
    # a fixed, pre-touched heap: first-touch page faults no longer slow the
    # early passes; a throughput collector: no concurrent GC threads compete
    # with the N task threads
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "kgbench.Main",
              "--work", work])
    if a.selftest:
        cmd.append("--selftest")
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)] + golden_args(a.workload, a.seed)
    limit = BUILD_RUN_LIMIT_S - build_s if built else RUN_LIMIT_S
    # set-up time counts from the JVM launch, after any build; the JVM's
    # System.nanoTime reads the same CLOCK_MONOTONIC
    if not a.selftest:
        cmd += ["--t0-ns", str(time.monotonic_ns())]
    try:
        code, lines = run_jvm(cmd, env, limit)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.selftest:
        print("\n".join(lines))
        sys.exit(code)
    raw = [l for l in lines if l.startswith("KGBENCH_RESULT ")]
    if code != 0 or not raw:
        die(f"benchmark JVM exited with code {code} and {'a' if raw else 'no'} result", 5)
    res = json.loads(raw[-1][len("KGBENCH_RESULT "):])

    section = "per_layer" if a.trace else "end_to_end"
    got = res[section]
    metrics, absent, missing = {}, [], []
    for m in spec[section]:
        v = got.get(m["name"])
        if v is None:
            if not a.trace:
                die(f"end-to-end metric {m['name']} was not measured", 5)
            if m["name"].startswith(NEVER_RUN.get(a.workload, ())):
                absent.append(m["name"])
            else:
                missing.append(m["name"])
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for k, v in metrics.items():
        print(f"{k} = {v['value']} {v['unit']}")
    if absent:
        print(f"not run in {a.workload} (reported as 0): {', '.join(absent)}")
    if missing:
        # a layer the workload runs went unmeasured: the run is not valid
        print(f"NOT MEASURED in {a.workload} (reported as 0, run fails): {', '.join(missing)}")
        res["checks"]["layers_measured"] = False
        res["attempted"] += 1
        res["failed"] += 1
        res["correct"] = False
    print("report: " + json.dumps({"workload": a.workload, "seed": a.seed, "cores": n,
                                   "build_s": build_s, "built": built,
                                   "checks": res["checks"], "report": res["report"],
                                   "host": res["host"], "error": res.get("error")}))
    out = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
           "failed": int(res["failed"]), "metrics": metrics}
    print(json.dumps(out))
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
