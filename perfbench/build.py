"""Build file of the benchmark: compiles the repository's main sources and
the benchmark's own sources with the Scala compiler that ships in the Spark
distribution, into the build directory.

Usage: python3 perfbench/build.py   (from the repository root)

The build directory is `$CARGO_TARGET_DIR` when set, else `.bench_build`.
A stamp over every source file skips the compile when nothing changed.
"""
import hashlib
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: no Spark distribution at {home} (set SPARK_HOME)")
    return jars


def sources():
    for top in (MAIN_SRC, BENCH_SRC):
        if not os.path.isdir(top):
            raise SystemExit(f"perfbench: source directory {os.path.relpath(top, ROOT)} is missing;"
                             " run from the root of a full checkout")
    out = []
    for top in (MAIN_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath():
    """Runtime classpath: compiled classes, main resources, Spark jars."""
    return os.pathsep.join([os.path.join(build_dir(), "classes"), MAIN_RES,
                            os.path.join(spark_jars(), "*")])


def build():
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(",".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(out, exist_ok=True)
    if os.path.isdir(classes):
        subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", cp, "@" + args_file]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
