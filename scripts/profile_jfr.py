"""CPU profile of one benchmark run: runs `perfbench/run.py` under a JDK
Flight Recorder recording and prints where the samples fall.

Usage (from the repository root):
  python3 scripts/profile_jfr.py --workload read --seed 4245 \\
      [--seconds 70] [--delay 40] \\
      [--frame Configuration.loadResources ...] [--jfr out.jfr]

The benchmark itself runs unchanged; the recording comes from
`JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=settings=profile,delay=…,
duration=…`. The duration is fixed because perfbench's `Main` leaves through
`Runtime.halt`, which skips the JVM's exit hooks: a recording that waits for
exit to dump comes out empty. `--delay` (seconds after JVM start) skips
start-up and the workload's set-up (three set-up repetitions, about 30 s
for `read` under the recording on a 4-CPU host). The recording lasts
`--seconds - 15` s, so that it ends, and is written, before the run does.
A warning is printed when the set-up the run reports outlasted the delay.
The benchmark is built first without the recording, so the compiler's JVM
is not profiled.

Printed, for executor-task threads (`Executor task launch worker …`) and
for all other (driver) threads separately: the sample count, the top
25 frames by self samples (the frame on top of the stack) and by
inclusive samples (the frame anywhere on the stack, counted once per
sample), each with its share of that thread group's samples. Every
`--frame` substring gets its inclusive share in both groups, 0 included: a
sample counts once for a substring when any of its frames contains it.
Then the processes the JVM started (`jdk.ProcessStart`; Hadoop's local
filesystem without its native library forks `chmod` and `ls`): their count
by command, with path arguments dropped, and by thread group.

`jdk.ExecutionSample` records Java frames only: time spent in native code
does not show. For example, the token stream's level-6 deflate takes about
4.8 ms of the 6.2 ms one 64k-token chunk costs to encode, yet `Deflater`
frames appear in about 0.1% of the samples. Time a native-heavy kernel
directly instead (perfbench's `codec.*_mb_s` per-layer metrics).

The recording is kept at `--jfr` (default `.bench_out/profile-<workload>-
seed<seed>.jfr`) for `jfr print` or JDK Mission Control.
"""
import argparse
import collections
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STACK_DEPTH = 128
EXECUTOR_THREAD = "Executor task launch worker"
FRAME_RE = re.compile(r"^\s+([\w$.<>/-]+)\(")
SETUP_RE = re.compile(r"^\[setup\] rep \d+: ([\d.]+) s", re.M)
JVM_START_S = 2.0
TOP = 25


def samples(jfr_file):
    """Yields (thread name, [frames, top of stack first]) per execution sample."""
    p = subprocess.Popen(["jfr", "print", "--events", "jdk.ExecutionSample",
                          "--stack-depth", str(STACK_DEPTH), jfr_file],
                         stdout=subprocess.PIPE, text=True)
    thread, frames, in_stack = None, [], False
    for line in p.stdout:
        s = line.strip()
        if s.startswith("sampledThread = "):
            thread = s[len("sampledThread = "):].split('" (')[0].strip('"')
        elif s == "stackTrace = [":
            in_stack, frames = True, []
        elif in_stack and s == "]":
            in_stack = False
            yield thread, frames
        elif in_stack:
            m = FRAME_RE.match(line)
            if m:
                frames.append(m.group(1))
    if p.wait() != 0:
        raise SystemExit(f"profile_jfr: jfr print failed on {jfr_file}")


def group_of(thread):
    return "executor tasks" if thread.startswith(EXECUTOR_THREAD) else "driver"


def process_starts(jfr_file):
    """Yields (thread name, command with path arguments dropped) per
    `jdk.ProcessStart` event."""
    p = subprocess.Popen(["jfr", "print", "--events", "jdk.ProcessStart",
                          "--stack-depth", "1", jfr_file],
                         stdout=subprocess.PIPE, text=True)
    command = None
    for line in p.stdout:
        s = line.strip()
        if s.startswith("command = "):
            args = s[len("command = "):].strip('"').split()
            command = " ".join(a for a in args if not a.startswith("/"))
        elif s.startswith("eventThread = ") and command is not None:
            yield s[len("eventThread = "):].split('" (')[0].strip('"'), command
            command = None
    if p.wait() != 0:
        raise SystemExit(f"profile_jfr: jfr print failed on {jfr_file}")


def report_processes(started):
    """Prints the process starts by command and by thread group."""
    by_command, by_group = collections.Counter(), collections.Counter()
    for thread, command in started:
        by_command[command] += 1
        by_group[group_of(thread)] += 1
    print(f"\n== process starts: {sum(by_command.values())}")
    for group in ("executor tasks", "driver"):
        print(f"{by_group[group]:7d}  {group}")
    for command, c in by_command.most_common():
        print(f"{c:7d}  {command}")


def tally(sampled, wanted):
    """Per thread group: [samples, self counts, inclusive counts, counts per
    wanted substring]. Inclusive and wanted counts take each sample once."""
    groups = {g: [0, collections.Counter(), collections.Counter(), collections.Counter()]
              for g in ("executor tasks", "driver")}
    for thread, frames in sampled:
        if not frames:
            continue
        g = groups[group_of(thread)]
        g[0] += 1
        g[1][frames[0]] += 1
        g[2].update(set(frames))
        g[3].update(w for w in wanted if any(w in f for f in frames))
    return groups


def report(name, n, self_counts, incl_counts, wanted_counts, wanted):
    print(f"\n== {name}: {n} samples")
    if n == 0:
        return
    for title, counts in (("self", self_counts), ("inclusive", incl_counts)):
        print(f"-- top {TOP} by {title} samples")
        for frame, c in counts.most_common(TOP):
            print(f"{c / n:7.1%} {c:7d}  {frame}")
    if wanted:
        print("-- requested frames (inclusive)")
        for w in wanted:
            c = wanted_counts[w]
            print(f"{c / n:7.1%} {c:7d}  {w}")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("ingest", "read"))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=float, default=70.0)
    ap.add_argument("--delay", type=float, default=40.0)
    ap.add_argument("--frame", action="append", default=[],
                    help="frame substring whose inclusive share to print (repeatable)")
    ap.add_argument("--jfr", default=None, help="where to keep the recording")
    a = ap.parse_args()
    duration = max(1.0, a.seconds - 15.0)
    jfr_file = os.path.abspath(a.jfr or os.path.join(
        ROOT, ".bench_out", f"profile-{a.workload}-seed{a.seed}.jfr"))
    os.makedirs(os.path.dirname(jfr_file), exist_ok=True)
    if os.path.exists(jfr_file):
        os.remove(jfr_file)

    subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "build.py")],
                   cwd=ROOT, check=True)
    env = dict(os.environ)
    env["JAVA_TOOL_OPTIONS"] = (
        f"-XX:FlightRecorderOptions=stackdepth={STACK_DEPTH} "
        f"-XX:StartFlightRecording=settings=profile,delay={int(a.delay)}s,"
        f"duration={int(duration)}s,filename={jfr_file}")
    run = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                          "--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", "0"],
                         cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    if run.returncode != 0:
        raise SystemExit(f"profile_jfr: benchmark run failed (exit {run.returncode})")
    setup_s = sum(float(m.group(1)) for m in SETUP_RE.finditer(run.stdout))
    if setup_s + JVM_START_S > a.delay:
        print(f"profile_jfr: warning: set-up took {setup_s:.1f} s, so the recording "
              f"({int(a.delay)} s after JVM start) includes set-up; raise --delay")
    if not os.path.exists(jfr_file) or os.path.getsize(jfr_file) == 0:
        raise SystemExit(f"profile_jfr: no recording at {jfr_file}; the run ended before "
                         f"delay + duration ({int(a.delay)} s + {int(duration)} s)")

    groups = tally(samples(jfr_file), a.frame)
    print(f"recording: {os.path.relpath(jfr_file, ROOT)} "
          f"({a.workload}, seed {a.seed}, {int(a.delay)} s delay, {int(duration)} s)")
    for name, counts in groups.items():
        report(name, *counts, a.frame)
    report_processes(process_starts(jfr_file))


if __name__ == "__main__":
    main()
