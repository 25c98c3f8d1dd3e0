#!/usr/bin/env python3
"""Run one workload of the repo benchmark and print its result.

    python3 perfbench/run.py --workload cron-ticks --seed 1 --seconds 15 --trace 0

`--workload all` runs every workload in turn. Run from the root of a
checkout. The first run builds the program and the
benchmark with sbt (offline) and caches the classpath under .bench_build/;
later runs rebuild only when a source file changed. Each run then starts
one JVM (local[nproc] Spark) that makes the workload's inputs from the
seed, sets up, measures for --seconds, checks the outputs and prints the
result as the last line of standard output. Stores, Spark scratch and
temporary files live in .bench_build/work/ and are deleted afterwards;
run records (and, with --trace 1, span/job traces) are kept in
.bench_build/records/. See perfbench/NOTES.md.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("cron-ticks", "batch-funnel")
RUN_DEADLINE_S = 165    # a run must end within 180 s
BUILD_DEADLINE_S = 700  # the first run of a checkout, which builds, 900 s

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group with a deadline, capturing
    stdout; on timeout or interruption the whole group is killed."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return subprocess.CompletedProcess(cmd, proc.returncode, out)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def sources():
    """Every file the build reads, for the rebuild stamp."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile the program and the benchmark; return the JVM classpath."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} in {ROOT}: run from the root of a checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    digest = hashlib.sha256()
    for f in sources():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"])
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as err:
        try:
            out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "export perfbench/Runtime/fullClasspath"],
                            BUILD_DEADLINE_S, cwd=HERE, env=env, stderr=err)
        except subprocess.TimeoutExpired:
            fail(f"build did not finish in {BUILD_DEADLINE_S} s; see {log}")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
        with open(log, "a") as fh:
            fh.write(out.stdout)
        fail(f"build failed (exit {out.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def expected_metrics(trace):
    """Metric names BENCHMARK.json promises for this mode, if present."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def clear_stale_work():
    """Remove work directories left by runs whose process has died."""
    top = os.path.join(BUILD, "work")
    for name in os.listdir(top) if os.path.isdir(top) else []:
        pid = name.rsplit("-", 1)[-1]
        try:
            os.kill(int(pid), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(top, name), ignore_errors=True)
        except PermissionError:
            pass


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",),
                    help="one workload, or all of them in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still unwinds, so its JVM group is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    data = os.path.join(HERE, "data")
    if not os.path.exists(os.path.join(data, "documents.parquet")):
        fail(f"missing {data}/documents.parquet")

    cp = build()
    if args.workload != "all":
        sys.exit(run_workload(cp, args.workload, args, data))
    codes = [run_workload(cp, w, args, data) for w in WORKLOADS]
    sys.exit(max(codes))


def run_workload(cp, workload, args, data):
    """One JVM run of one workload; prints its output, returns its exit code."""
    started = time.monotonic()
    clear_stale_work()
    work = os.path.join(BUILD, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--cpus", str(cpus),
              "--work", work, "--data", data,
              "--out", os.path.join(BUILD, "records")])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        proc = run_group(cmd, RUN_DEADLINE_S - (time.monotonic() - started),
                         cwd=ROOT, env=env)
    except subprocess.TimeoutExpired:
        fail("the run did not finish in time")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = proc.stdout.splitlines()
    for line in lines[:-1]:
        print(line)
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail(f"no result line (exit {proc.returncode})")
    want = expected_metrics(args.trace == 1)
    if want is not None and set(result["metrics"]) != want:
        fail("metrics differ from BENCHMARK.json: "
             f"{sorted(set(result['metrics']) ^ want)}")
    print(json.dumps(result), flush=True)
    return proc.returncode


if __name__ == "__main__":
    main()
