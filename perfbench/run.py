#!/usr/bin/env python3
"""Benchmark of the graft crawl engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload crawl_growth --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source on first use (sbt, offline,
into .bench_build/), then runs one workload in a fresh JVM at local[nproc]
and prints, as the last line of stdout, one JSON object with the keys
correct, attempted, failed and metrics. --trace 0 prints the end-to-end
metrics, --trace 1 the per-layer ones (see perfbench/DESIGN.md). The line
before it is the run's provenance stamp. All scratch data lives in a
per-process directory under .bench_build/scratch and is removed on exit.
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

WORKLOADS = ("crawl_growth", "crawl_frontier", "query_suite")
HEAP = "2g"
BUILD_TIMEOUT_S = 850
# a run's JVM: about a minute of fixed work, then the timed loop of --seconds
RUN_TIMEOUT_BASE_S = 150
BUILD_DIR = ".bench_build"
BENCH_DIR = "perfbench"
# source trees whose content decides whether the build is current
SOURCES = ("src/main/scala", BENCH_DIR + "/src", BENCH_DIR + "/build.sbt",
           BENCH_DIR + "/project/build.properties")
# Spark on JDK 17 outside spark-submit (the list build.sbt passes to forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    for top in SOURCES:
        if os.path.isfile(top):
            paths = [top]
        else:
            paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark if the sources changed; returns the classpath."""
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(BUILD_DIR, "build.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE, stderr=log,
                text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"build timed out after {BUILD_TIMEOUT_S} s (log: {log_path})", 3)
        log.write(p.stdout)
    if p.returncode != 0:
        die(f"build failed (log: {log_path})", 3)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and "classes" in l]
    if not lines:
        die(f"build printed no classpath (log: {log_path})", 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(digest)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1].strip()


def spark_home():
    """The Spark install to build against: SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark install: set SPARK_HOME or put spark-submit on PATH", 3)
    return home


def git_commit():
    if not os.path.isdir(".git"):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def java_version():
    p = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return (p.stderr.splitlines() or ["unknown"])[0]


def spark_version(classpath):
    for entry in classpath.split(":"):
        name = os.path.basename(entry)
        if name.startswith("spark-core_") and name.endswith(".jar"):
            return name[len("spark-core_"):-len(".jar")]
    return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="bench", choices=("bench", "tiny"),
                    help="tiny: the self-check's sizes")
    ap.add_argument("--partitions", type=int,
                    help="spark.sql.shuffle.partitions (default: nproc); 1 reproduces "
                         "the engine defect described in perfbench/DESIGN.md")
    ap.add_argument("--write-pins", action="store_true",
                    help="record this run's gate values as the pinned ones")
    args = ap.parse_args()
    if not args.seconds > 0:
        die("--seconds must be positive")
    if args.partitions is not None and args.partitions < 1:
        die("--partitions must be at least 1")

    if not os.path.isdir("src/main/scala/graft") or not os.path.isfile("build.sbt"):
        die("run me from the root of a graft checkout: engine sources not found")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    classpath = build()
    timeout_s = RUN_TIMEOUT_BASE_S + 4 * args.seconds

    nproc = len(os.sched_getaffinity(0))
    partitions = args.partitions if args.partitions is not None else nproc
    scratch = os.path.abspath(os.path.join(BUILD_DIR, "scratch", f"run-{os.getpid()}"))
    trace_out = os.path.join(BUILD_DIR, "traces",
                             f"{args.workload}-{args.size}-seed{args.seed}-{os.getpid()}.json")
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": int(args.trace), "size": args.size, "nproc": nproc,
        "spark_threads": nproc, "shuffle_partitions": partitions, "xmx": HEAP,
        "jdk": java_version(), "spark": spark_version(classpath), "commit": git_commit(),
    }
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={scratch}/tmp",
            "-Duser.timezone=UTC",
            f"-Dlog4j2.configurationFile={BENCH_DIR}/log4j2.properties"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--threads", str(nproc), "--partitions", str(partitions),
              "--size", args.size,
              "--scratch", scratch, "--pins", os.path.join(BENCH_DIR, "pins"),
              "--trace-out", trace_out, "--stamp", json.dumps(stamp)]
           + (["--write-pins"] if args.write_pins else []))
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    # a SIGTERM to this script must also stop the JVM, which runs in its own
    # process group: turn it into an exception that the handler below sees
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"run exceeded {timeout_s:.0f} s", 4)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        die(f"benchmark JVM exited with code {proc.returncode}", 5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        die(f"malformed result line: {lines[-1]}", 5)
    for line in lines[:-1]:
        print(line)
    print("# provenance " + json.dumps(stamp))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
