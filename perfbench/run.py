#!/usr/bin/env python3
"""Benchmark of the committed extraction job (see perfbench/README.md).

Run from the root of a checkout:

    python3 perfbench/run.py --workload web_backfill --seed 1 --seconds 5 --trace 0

It compiles the program (src/main/scala) and the benchmark
(perfbench/src) with the Scala compiler that ships with Spark, caches the
classes under .bench_build/perfbench/, runs one workload in a fresh JVM
and prints one JSON object as its last line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end_to_end metrics of BENCHMARK.json, with --trace 1 the per_layer
ones.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# a run that takes longer is killed, with every process it started
RUN_LIMIT_S = 170
HEAP = "-Xmx1g"

# what spark-submit adds for Spark on JDK 17 (JavaModuleOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the directory the
    program's own build.sbt names as its unmanagedBase."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            candidates.append(m.group(1))
    for c in candidates:
        if os.path.isdir(c) and glob.glob(os.path.join(c, "scala-compiler*.jar")):
            return c
    fail("no Spark jars with a Scala compiler found (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.exists(exe) else (shutil.which("java") or fail("no java"))


def build(jars):
    """Compile program + benchmark once per source digest."""
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "**", "*.scala"),
                             recursive=True))
    if not prog:
        fail("no program sources under src/main/scala: run from the root of a checkout")
    if not bench:
        fail("no benchmark sources under perfbench/src")
    h = hashlib.sha256()
    for f in prog + bench:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(tmp, "sources.txt")
    with open(args, "w") as fh:
        fh.write("\n".join(prog + bench) + "\n")
    cp = os.path.join(jars, "*")
    t = time.time()
    r = subprocess.run([java(), "-Xss8m", HEAP, "-XX:-UsePerfData", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-cp", cp, "@" + args])
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    os.remove(args)
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print(f"built {out} in {time.time() - t:.1f}s", file=sys.stderr)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found: run from the root of a checkout")
    spec = json.load(open(spec_path))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    jars = spark_jars()
    classes = build(jars)
    cpus = len(os.sched_getaffinity(0))
    # fixed-width names: paths end up in table manifests, whose byte
    # counts must repeat exactly for one seed
    work = os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{os.getpid():07d}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")  # Spark's scratch space, inside the checkout
    os.makedirs(tmp)
    # a fixed 1 GB heap (spark-submit's default driver memory): with the
    # heap's size settled, peak_rss_mb follows the program, not the
    # collector's resizing
    child = ADD_OPENS + ["-Xms1g", HEAP, "-XX:-UsePerfData",
                         "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"]
    cmd = [java()] + child + [
        "-Dperfbench.childOpts=" + "\x1f".join(child),
        # counts of earlier runs of the same build, for the exact-count guard
        "-Dperfbench.counts=" + classes.replace("classes-", "counts-"),
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--cpus", str(cpus)]
    log_path = os.path.join(work, "driver.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                             start_new_session=True,
                             env=dict(os.environ, SPARK_LOCAL_DIRS=tmp))

        def kill(*_):
            # the driver and the IngestApp processes it started
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        signal.signal(signal.SIGTERM, lambda *s: (kill(), sys.exit(3)))
        timer = threading.Timer(RUN_LIMIT_S, kill)
        timer.daemon = True
        timer.start()
        lines = []
        for line in p.stdout:
            lines.append(line.rstrip("\n"))
            if not line.startswith("PERFBENCH_RESULT"):
                print(line, end="", flush=True)
        _, status, usage = os.wait4(p.pid, 0)
        timer.cancel()
        p.returncode = os.waitstatus_to_exitcode(status)
        kill()  # nothing of the run may outlive it
    result = next((l[len("PERFBENCH_RESULT "):] for l in reversed(lines)
                   if l.startswith("PERFBENCH_RESULT ")), None)
    if p.returncode != 0 or result is None:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"benchmark run failed (exit {p.returncode}); work dir kept: {work}", 1)
    res = json.loads(result)
    metrics = res["metrics"]
    if not a.trace:
        # ru_maxrss of a reaped child covers its own reaped children too:
        # the largest resident set of the driver and every IngestApp run
        metrics["peak_rss_mb"] = {"value": usage.ru_maxrss / 1024.0, "unit": "MB"}
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    for name in missing:
        metrics[name] = {"value": 0, "unit": next(m["unit"] for m in wanted if m["name"] == name)}
    if missing:
        print(f"perfbench: missing metrics {missing}", file=sys.stderr)
        res["correct"] = False
    out = {"correct": bool(res["correct"]) and not missing,
           "attempted": int(res["attempted"]), "failed": int(res["failed"]),
           "metrics": {m["name"]: metrics[m["name"]] for m in wanted}}
    if out["correct"]:
        shutil.rmtree(work, ignore_errors=True)
    else:
        print(f"perfbench: work dir kept: {work}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
