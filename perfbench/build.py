"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the benchmark's own
Scala sources (`perfbench/src`) into `.bench_build/classes-<hash>`, using the
Scala compiler and the Spark jars of the local Spark distribution
(`$SPARK_HOME/jars`, default `/opt/spark/jars`) - the same jars `build.sbt`
compiles against. The output directory is keyed by a hash of every source
file, so an unchanged checkout is compiled once and later runs reuse it.

    python3 perfbench/build.py        # build (or reuse) and print the path
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def classpath():
    return os.path.join(spark_jars(), "*")


def sources():
    """Every Scala source the build compiles, in a stable order."""
    found = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(log=sys.stderr):
    """Return the classes directory for the current sources, compiling it if
    needed. Raises RuntimeError when the sources are missing or do not
    compile."""
    main_dir = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_dir):
        raise RuntimeError(f"program sources not found: {main_dir} does not exist")
    if not os.path.isdir(spark_jars()):
        raise RuntimeError(f"Spark jars not found: {spark_jars()} does not exist")
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD_DIR, "classes-" + digest.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} sources into {out}", file=log, flush=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", classpath(), "scala.tools.nsc.Main",
           "-d", tmp, "-classpath", classpath(), "-nowarn", "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("compilation failed:\n" + proc.stdout[-4000:])
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    for old in os.listdir(BUILD_DIR):
        path = os.path.join(BUILD_DIR, old)
        if old.startswith("classes-") and path != out:
            shutil.rmtree(path, ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(1)
