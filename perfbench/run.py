"""User-path benchmark of the graft engine: builds from source, then runs one
workload in one JVM on Spark local[n] and prints the result JSON as the
last line of standard output.

Usage (from the repository root):
  python3 perfbench/run.py --workload ingest|read --seed N \
      --seconds S --trace 0|1 [--smoke 1]

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("ingest", "read")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def medium(path):
    """Filesystem type of the mount holding `path`, e.g. tmpfs or ext4."""
    path = os.path.realpath(path)
    best, fstype = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            if len(parts) < 3:
                continue
            mnt = parts[1].replace("\\040", " ")
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, fstype = mnt, parts[2]
    kind = "tmpfs" if fstype == "tmpfs" else "disk"
    return f"{kind}({fstype}@{best})"


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--smoke", default="0", choices=("0", "1"),
                    help="tiny sizes, for the benchmark's own tests")
    a = ap.parse_args()
    if a.seconds <= 0:
        ap.error("--seconds must be positive")

    build.build()

    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + work]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--smoke", a.smoke, "--work", work, "--out", out_dir,
            "--medium", medium(work)]
    proc = None
    code = 1
    try:
        with open(log_path, "w") as log:
            env = dict(os.environ)
            env.pop("SPARK_LOCAL_DIRS", None)  # keep Spark's scratch inside the work dir
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, env=env,
                                    text=True, start_new_session=True)
            def on_alarm(*_):
                raise TimeoutError

            signal.signal(signal.SIGALRM, on_alarm)
            signal.alarm(JVM_TIMEOUT_S)
            try:
                for line in proc.stdout:
                    sys.stdout.write(line)
                    sys.stdout.flush()
                code = proc.wait()
            except TimeoutError:
                print(f"perfbench: run exceeded {JVM_TIMEOUT_S} s; stopped", file=sys.stderr)
                code = 3
            finally:
                signal.alarm(0)
        if code != 0:
            with open(log_path) as f:
                tail = f.readlines()[-30:]
            sys.stderr.write("".join(tail))
            print(f"perfbench: JVM exited with {code}; log in {os.path.relpath(log_path, ROOT)}",
                  file=sys.stderr)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    return code


if __name__ == "__main__":
    sys.exit(main())
