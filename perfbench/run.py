#!/usr/bin/env python3
"""Repository benchmark: migrations and the query suite, end to end and
layer by layer. See perfbench/README.md.

    python3 perfbench/run.py --workload bulk-jdbc|schema-objects|query-suite \
        --seed N --seconds S --trace 0|1 [--data DIR]

Builds the program from source (perfbench/build.py), runs one JVM for the
workload and relays its output; the last stdout line is the JSON result.
`--data` is the root of the test corpus (default: $PERFBENCH_TESTDATA, else
/root/testdata); the workloads read its sf0.01 tables.
Exit codes: 0 all output checks passed, 1 an output check failed,
2 bad argument or missing input, 3 build or run error.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing next to the sources
import build  # noqa: E402

WORKLOADS = ("bulk-jdbc", "schema-objects", "query-suite")
SCALE = "sf0.01"
CORPUS = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
RUN_LIMIT_S = 175  # whole run, build excluded
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


class Parser(argparse.ArgumentParser):
    def error(self, message):
        die(message)


def workload(v):
    if v not in WORKLOADS:
        raise argparse.ArgumentTypeError(
            f"unknown workload '{v}' (expected one of {', '.join(WORKLOADS)})")
    return v


def seed(v):
    try:
        n = int(v, 10)
    except ValueError:
        n = -1
    if not 0 <= n < 2 ** 63:
        raise argparse.ArgumentTypeError(f"bad seed '{v}' (expected an integer in [0, 2^63))")
    return n


def seconds(v):
    try:
        n = int(v, 10)
    except ValueError:
        n = 0
    if not 1 <= n <= 600:
        raise argparse.ArgumentTypeError(f"bad seconds '{v}' (expected an integer in [1, 600])")
    return n


def trace(v):
    if v not in ("0", "1"):
        raise argparse.ArgumentTypeError(f"bad trace '{v}' (expected 0 or 1)")
    return v


def parse():
    p = Parser(description="graft repository benchmark")
    p.add_argument("--workload", type=workload, required=True)
    p.add_argument("--seed", type=seed, required=True)
    p.add_argument("--seconds", type=seconds, required=True)
    p.add_argument("--trace", type=trace, default="0")
    p.add_argument("--data", default=os.environ.get("PERFBENCH_TESTDATA", "/root/testdata"))
    a = p.parse_args()
    data = os.path.join(a.data, SCALE)
    if not os.path.isdir(data):
        die(f"testdata directory '{data}' does not exist")
    missing = [t for t in CORPUS if not os.path.isfile(os.path.join(data, f"{t}.parquet"))]
    if missing:
        die(f"testdata directory '{data}' lacks {', '.join(t + '.parquet' for t in missing)}")
    a.data = data
    return a


def main():
    a = parse()
    b0 = time.monotonic()
    try:
        classes = build.build()
    except RuntimeError as e:
        die(str(e), 3)
    build_s = time.monotonic() - b0
    work = os.path.join(build.BUILD_DIR, "work", f"{a.workload}-{os.getpid()}")
    logs = os.path.join(build.BUILD_DIR, "logs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, f"{a.workload}.log")
    # a fixed heap size keeps G1 from resizing differently from run to run
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + build.classpath(), "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--data", a.data, "--work", work,
            "--expected", os.path.join(HERE, "expected", "query_fingerprints.tsv")]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)

        def stop(*_):
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            die("interrupted", 3)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            spent = time.monotonic() - START - build_s
            out, _ = proc.communicate(timeout=RUN_LIMIT_S - spent)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            die(f"run exceeded {RUN_LIMIT_S} s and was stopped; log in {log_path}", 3)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n") if out.strip() else []
    if proc.returncode in (0, 1) and lines and lines[-1].startswith("{"):
        sys.stdout.write("\n".join(lines) + "\n")
        sys.stdout.flush()
        sys.exit(proc.returncode)
    sys.stdout.write("\n".join(l for l in lines if not l.startswith("{")) + "\n")
    with open(log_path) as f:
        tail = f.read()[-3000:]
    die(f"JVM exited with code {proc.returncode} and no result; log tail:\n{tail}", 3)


if __name__ == "__main__":
    main()
