"""Build file of the benchmark: compiles the engine (`src/main/scala`)
and the harness (`perfbench/harness`) with the Scala compiler that ships
in Spark's jar directory, into `$CARGO_TARGET_DIR` (default
`.bench_build`) under the repository root.

The build is skipped when a stamp over every source file's path and
bytes matches the last successful build.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
SCALA = "2.13.17"


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise FileNotFoundError(f"engine sources {engine} are missing")
    found = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    found += sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    return found


def runtime_classpath():
    """Classpath for running the harness: its classes, then Spark's jars."""
    return os.path.join(build_dir(), "classes") + os.pathsep + os.path.join(SPARK_JARS, "*")


def build():
    """Compile if any source changed; return the classes directory."""
    srcs = sources()
    h = hashlib.sha256(SCALA.encode())
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = os.pathsep.join(
        os.path.join(SPARK_JARS, f"scala-{p}-{SCALA}.jar")
        for p in ("compiler", "library", "reflect"))
    spark_cp = os.pathsep.join(sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar"))))
    args_file = os.path.join(build_dir(), "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", spark_cp, "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise RuntimeError("compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


if __name__ == "__main__":
    print(build())
