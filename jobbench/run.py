#!/usr/bin/env python3
"""Job-queue and curation benchmark for graft.

Usage (from the repository root):

    python3 jobbench/run.py --workload drain --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source on first use (sbt,
offline), runs one workload in one JVM and prints, as the last line of
standard output, one JSON object with the keys correct, attempted,
failed and metrics. --trace 0 reports the end-to-end metrics, --trace 1
the per-layer ones (and writes the spans to jobbench/out/). See
jobbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
TARGET = HERE / "target"
CLASSES = TARGET / "scala-2.13" / "classes"
STAMP = TARGET / "jobbench.stamp"
WORKLOADS = ("drain", "steady", "retry", "ingest")
BUILD_TIMEOUT_S = 800
RUN_LIMIT_S = 175  # a run must end within 180 s

# Spark on JDK 17 needs these outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"jobbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """SPARK_HOME, else the first Spark distribution (a spark-submit with
    a jars directory beside its bin) on the PATH."""
    if os.environ.get("SPARK_HOME"):
        return pathlib.Path(os.environ["SPARK_HOME"])
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = pathlib.Path(d) / "spark-submit"
        if submit.is_file() and (submit.resolve().parent.parent / "jars").is_dir():
            return submit.resolve().parent.parent
    return None


def build_inputs():
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return files + [HERE / "build.sbt", HERE / "project" / "build.properties"]


def source_stamp():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_killing_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build(spark):
    stamp = source_stamp()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=str(spark))
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = TARGET / "build.log"
    TARGET.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as out:
        rc = run_killing_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                               BUILD_TIMEOUT_S, cwd=HERE, env=env,
                               stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail("build failed" if rc is not None else "build timed out")
    STAMP.write_text(stamp)


def main():
    # a terminated benchmark still kills and reaps what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()

    if not PROGRAM_SRC.is_dir():
        fail(f"program sources not found at {PROGRAM_SRC}; run from a full checkout", 2)
    spark = spark_home()
    if spark is None or not (spark / "jars").is_dir():
        fail("no Spark distribution found: set SPARK_HOME", 2)
    build(spark)
    built_s = time.monotonic() - t_start

    # the first run also pays for the build; later runs must end within 180 s
    deadline = t_start + (RUN_LIMIT_S if built_s < 5 else 890)
    result = run_jvm(a, spark, deadline)
    sys.stdout.flush()
    print(result)


def run_jvm(a, spark, deadline):
    """One workload run in its own JVM; returns its one-line JSON result."""
    work = TARGET / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    spans = HERE / "out" / f"spans-{a.workload}-{a.seed}.jsonl"
    # a fixed-size heap: no collections spent growing it while timed
    cmd = (["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={work / 'tmp'}"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", f"{CLASSES}:{spark / 'jars'}/*", "jobbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--result", str(result),
            "--spans", str(spans)])
    try:
        with open(work / "jvm.log", "w") as err:
            rc = run_killing_group(cmd, max(1.0, deadline - time.monotonic()),
                                   cwd=ROOT, stderr=err)
        log = (work / "jvm.log").read_text(errors="replace")
        for line in log.splitlines():
            if line.startswith(("FAILED:", "jobbench ")):
                print(line, file=sys.stderr)
        if rc != 0 or not result.is_file():
            sys.stderr.write(log[-6000:])
            fail("workload timed out" if rc is None else f"workload exited with {rc}")
        return result.read_text().strip()
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
