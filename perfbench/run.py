#!/usr/bin/env python3
"""Repository benchmark: serve and nrt workloads of the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload serve|nrt --seed N --seconds S --trace 0|1

Compiles the engine (src/main/scala) together with the benchmark
(perfbench/src) with the Scala compiler shipped in Spark's jars, then runs
one workload in a fresh JVM in Spark local mode with one core per CPU. The
last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). The full run record, with all end-to-end
metrics, the query list and the repeat share, is printed on the line
before it and kept in .bench_out/. Exits non-zero when an output check
fails or the program cannot be built or run.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
OUT = os.path.join(ROOT, ".bench_out")


def spark_home():
    """$SPARK_HOME, else the Spark install that spark-submit on the PATH runs."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""


SPARK_JARS = os.path.join(spark_home(), "jars")
RUN_LIMIT_S = 170  # a run must end within 180 s; keep a margin for cleanup

# JDK 17 module opens Spark needs outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

WORKLOADS = ("serve", "nrt")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    return files


def build():
    """Compile engine + benchmark into .bench_build unless already current."""
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at {SPARK_JARS} (set SPARK_HOME)")
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp)
    cp = os.path.join(SPARK_JARS, "*")
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Xss8m", "-Xmx2g",
           "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp] + files
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(BUILD, ignore_errors=True)
        fail("compile failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def heap():
    """A quarter of the machine's memory, between 2 and 6 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "2g"
    mb = min(max(kb // 1024 // 4, 2048), 6144)
    return f"{mb}m"


def print_overhead(a, traced):
    """Tracing overhead: this traced run's end-to-end numbers against the
    untraced run of the same workload and seed, when one was kept."""
    path = os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace0.json")
    if not os.path.exists(path):
        print(f"tracing overhead: no untraced record at {os.path.relpath(path, ROOT)}")
        return
    with open(path) as fh:
        untraced = json.load(fh)["end_to_end"]
    ratios = {k: traced[k]["value"] / v["value"]
              for k, v in untraced.items() if k in traced and v["value"]}
    print("tracing overhead (traced / untraced): " + json.dumps(ratios, sort_keys=True))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build()
    scratch = os.path.join(ROOT, ".bench_scratch", f"{a.workload}-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{heap()}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-cp", os.pathsep.join([classes, os.path.join(SPARK_JARS, "*")]),
              "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--scratch", scratch, "--out", OUT])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            cwd=scratch, start_new_session=True)
    try:
        budget = RUN_LIMIT_S - (time.monotonic() - T_START)
        out, _ = proc.communicate(timeout=max(budget, 30))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run exceeded its time limit")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass

    result = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        else:
            print(line)
    if result is None:
        fail(f"no result (exit code {proc.returncode})")
    # exactly the metrics BENCHMARK.json names, as the program measured them
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    measured = result["per_layer" if a.trace else "end_to_end"]
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing:
        fail(f"program did not report {missing}")
    metrics = {m["name"]: measured[m["name"]] for m in wanted}
    if a.trace:
        print_overhead(a, result["end_to_end"])
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    sys.stdout.flush()
    sys.exit(0 if proc.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
