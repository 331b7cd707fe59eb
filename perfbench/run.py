#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one JVM, one result line.

Usage, from the root of a checkout:
  python3 perfbench/run.py --workload recsys --seed 1 --seconds 10 --trace 0

The first run builds the engine and the harness with scalac, against
the Spark jars the engine's build names. Each run makes its input
tables from the seed (datagen.py), then starts one JVM at
local[<cores>] with fixed settings.
txn_write sets up (session, an untimed check pass, an untimed warm pass)
and times at least four passes and --seconds; recsys is a batch job,
timed cold on its one pass. pass_s and cpu_s sum, over the steps of a
pass, each step's median over the timed passes. The checked outputs are
compared with the queries' DuckDB oracle SQL through
tools/oracle_check.py, over the same tables.
The last line of standard output is the JSON result; --trace 0 reports
the end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones.

The engine's per-JVM scratch paths, /tmp/<name>_<pid>, are removed when
the JVM has ended.
"""
import argparse
import contextlib
import glob
import io
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # imports leave the checkout as it is
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
# Fixed JVM settings. The heap is fixed (-Xms = -Xmx) and sized well
# inside a 15 GiB host. It is touched in full at start-up, so that peak
# RSS is the heap plus what the process holds outside it, and does not
# follow which heap regions the collector happened to use (5-7% from run
# to run otherwise). The JIT is the default tiered one, as in the
# engine's launchers.
HEAP = "3g"
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
             "-XX:-UsePerfData"]
DEADLINE_S = 165
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


SOURCES = ["src/main/scala/**/*.scala", "perfbench/src/main/scala/**/*.scala"]


def sources():
    return sorted(f for p in SOURCES
                  for f in glob.glob(os.path.join(ROOT, p), recursive=True))


def spark_jars():
    """The jars of the directory the engine's build.sbt compiles against."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(os.path.join(ROOT, "build.sbt")).read())
    jars = sorted(glob.glob(os.path.join(m.group(1), "*.jar"))) if m else []
    if not jars:
        fail("no Spark jars: build.sbt names no unmanagedBase that has any")
    return jars


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.txt")
    newest = max(os.path.getmtime(f)
                 for f in sources() + [os.path.join(ROOT, "build.sbt")])
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest:
        return open(stamp).read().strip()
    jars = spark_jars()
    compiler = [j for j in jars if re.match(
        r"scala-(compiler|library|reflect)-[0-9.]+\.jar$", os.path.basename(j))]
    classes = os.path.join(BUILD, "classes")
    tmp = os.path.join(BUILD, "tmp")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    os.makedirs(tmp, exist_ok=True)
    args = os.path.join(BUILD, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(["-nowarn", "-d", classes,
                           "-classpath", ":".join(jars), *sources()]))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                 f"-Djava.io.tmpdir={tmp}", "-cp", ":".join(compiler),
                 "scala.tools.nsc.Main", f"@{args}"],
                cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                timeout=BUILD_TIMEOUT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed ({e}); see {log}")
    if rc != 0:
        fail(f"build failed (exit {rc}):\n{open(log).read()[-3000:]}")
    cp = ":".join([classes, *jars])
    with open(stamp, "w") as f:
        f.write(cp)
    return cp


def cpu_jiffies():
    """The host's (total, stolen) CPU time so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def run_jvm(cp, args, data, work, cpus, t_launch):
    tmp = os.path.join(work, "tmp")
    out = os.path.join(work, "out")
    os.makedirs(tmp)
    os.makedirs(out)
    result = os.path.join(work, "result.json")
    java = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
    java += [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    java += ["-cp", cp, "perfbench.Harness",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--sf", data, "--out", out, "--result", result,
             "--cpus", str(cpus)]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        # the launch time is passed last so set-up counts JVM start-up
        java += ["--launch-ms", str(int(t_launch * 1000))]
        proc = subprocess.Popen(java, cwd=ROOT, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t_launch)))
        except subprocess.TimeoutExpired:
            rc = None
        finally:  # also when this script is stopped: the JVM goes with it
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    for p in glob.glob(f"/tmp/*_{proc.pid}"):
        shutil.rmtree(p, ignore_errors=True)
    if rc != 0 or not os.path.exists(result):
        tail = open(log_path).read()[-3000:]
        fail(f"harness JVM {'timed out' if rc is None else f'exit {rc}'}:\n{tail}", 3)
    return json.load(open(result)), os.path.join(out, "check")


def oracle_check(data, check_dir, names):
    """Compare each check output with its oracle SQL, reusing
    tools/oracle_check.py; return the names that failed."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import oracle_check as oc
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        oc.main(data, check_dir, tuple(names))
    lines = buf.getvalue().splitlines()
    for line in lines:
        if line.startswith("FAIL"):
            print(f"perfbench: {line}")
    return sorted({l.split()[1].rstrip(":") for l in lines
                   if l.startswith("FAIL")})


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found")
    spec = json.load(open(spec_path))
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    for needed in ("build.sbt", "src/main/scala/graft", "tools/oracle_check.py"):
        if not os.path.exists(os.path.join(ROOT, needed)):
            fail(f"{needed} not found: run from the root of a full checkout")
    try:
        import datagen  # DuckDB writes the tables and runs the oracle
    except ImportError as e:
        fail(f"{e}: the benchmark needs Python's duckdb module")

    cp = build()
    cpus = len(os.sched_getaffinity(0))
    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = os.path.join(work, "data")
        datagen.generate(data, args.seed)
        t_launch = time.time()
        total0, steal0 = cpu_jiffies()
        res, check_dir = run_jvm(cp, args, data, work, cpus, t_launch)
        total1, steal1 = cpu_jiffies()
        # CPU time the hypervisor gave to other guests: a noisy host shows
        steal_pct = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
        oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
        oracle_failed = oracle_check(data, check_dir, sorted(oracle))
        # the harness's full record of the run, spans included when traced
        with open(os.path.join(WORK, f"{args.workload}-seed{args.seed}"
                               f"-trace{args.trace}.json"), "w") as f:
            json.dump(res, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failures = res["failures"]
    for f in failures:
        print(f"perfbench: FAIL {f['step']} (pass {f['pass']}): {f['error']}")
    attempted = res["attempted"] + len(oracle)
    failed = len(failures) + len(oracle_failed)
    settings = {
        "workload": args.workload, "seed": args.seed, "cores": cpus,
        "jvm": JVM_FLAGS, "data": "sf0.1-sized tables made from the seed",
        "spark": res["spark_version"],
        "passes": res["passes"], "pass_walls_s": res["pass_walls"],
        "pass_jit_s": res["pass_jit_s"], "pass_gc_s": res["pass_gc_s"],
        "host_steal_pct": round(steal_pct, 2),
        "failed_queries": sorted({f["step"] for f in failures}
                                 | set(oracle_failed)),
    }
    print("perfbench: " + json.dumps(settings))

    values = {
        "pass_s": res["pass_s"], "cpu_s": res["cpu_s"],
        "setup_s": res["setup_s"], "peak_rss_mb": res["peak_rss_mb"],
        "ok_frac": 1.0 - min(failed, attempted) / attempted,
    }
    layers = res.get("layers", {})
    chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layers if args.trace else values
    metrics = {}
    for m in chosen:  # a layer a workload never calls reads 0
        metrics[m["name"]] = {"value": source.get(m["name"], 0.0),
                              "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
