#!/usr/bin/env python3
"""Flow benchmark driver: builds the engine with the benchmark's own sbt
build, makes the inputs, runs one workload in one JVM and prints one JSON
result line as the last line of standard output.

    python3 perfbench/run.py --workload daily_dag --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. Everything it builds or writes lands
under .bench_build/ in that checkout. `--record` stores the result digests
the run observed into perfbench/expected.json instead of checking them.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("daily_dag", "analyst_read", "corpus_intake")
RUN_LIMIT_S = 170

sys.path.insert(0, HERE)
import inputs  # noqa: E402

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[flowbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def spark_home():
    """The Spark installation the engine compiles against: $SPARK_HOME, or
    the first bin/spark-submit on the PATH that sits beside a jars/ dir."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(":")
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    sys.exit("no Spark installation found: set SPARK_HOME")


def build():
    """Compile the engine and the benchmark once per source state; returns
    the runtime classpath."""
    stamp = os.path.join(OUT, f"classpath-{source_stamp()}.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and benchmark with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        start_new_session=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("build failed")
    cp = lines[-1].strip()
    for old in glob.glob(os.path.join(OUT, "classpath-*.txt")):
        os.remove(old)
    with open(stamp, "w") as fh:
        fh.write(cp)
    return cp


def run_jvm(cp, args, work, budget):
    # client compiler only, with room for all of its code: each run is a
    # fresh short-lived JVM, and this warms up faster and steadier than
    # the tiered default; the default 48 MB cache fills up mid-run.
    # Spark generates classes all run long: a metaspace sized for them
    # keeps its growth from triggering full collections mid-pass
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=256m", "-XX:MetaspaceSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for o in JAVA_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + ["-cp", cp, "flowbench.FlowBench"] + args)
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(f"run exceeded {budget:.0f} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.exit(f"benchmark process failed with code {p.returncode}")
    return lines[-1]


def merge_digests(path):
    exp = os.path.join(HERE, "expected.json")
    cur = {}
    if os.path.exists(exp):
        with open(exp) as fh:
            cur = json.load(fh)
    with open(path) as fh:
        new = json.load(fh)
    changed = {k: (cur[k], v) for k, v in new.items() if k in cur and cur[k] != v}
    for k, (a, b) in sorted(changed.items()):
        log(f"digest of {k} differs from the recorded one: {b} vs {a}")
    cur.update({k: v for k, v in new.items() if k not in cur})
    with open(exp, "w") as fh:
        json.dump(dict(sorted(cur.items())), fh, indent=2)
        fh.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store the observed result digests in expected.json")
    a = ap.parse_args()
    # a terminated run still stops its JVM (see run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"engine sources not found under {ENGINE_SRC}: run from a full checkout")

    cp = build()
    started = time.monotonic()
    work = os.path.join(OUT, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.monotonic()
        inputs.generate(os.path.join(work, "data"))
        gen_s = time.monotonic() - t0
        trace_out = os.path.join(OUT, "traces", f"{a.workload}-seed{a.seed}.json")
        record = os.path.join(work, "digests.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", os.path.join(work, "data"),
                "--work", work, "--expected", os.path.join(HERE, "expected.json"),
                "--trace-out", trace_out, "--input-seconds", f"{gen_s:.6f}"]
        if a.record:
            args += ["--record", record]
        result = run_jvm(cp, args, work, RUN_LIMIT_S - (time.monotonic() - started))
        if a.record:
            merge_digests(record)
        if a.trace:
            log(f"trace written to {os.path.relpath(trace_out, ROOT)}")
        print(result, flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
