"""Paired A/B runs of the repository benchmark: parent commit against change.

Runs N alternating pairs of `perfbench/run.py` (one parent run and one
change run per pair, the side that runs first alternating) for each
workload, then prints, for every end-to-end metric of BENCHMARK.json and
every workload: each side's median and quartiles, how many pairs the change
won, whether the change's median stays within the metric's bound, and
whether a gain can be claimed. Where the parent's interquartile spread,
relative to its median, is wider than the bound, the bound check is
UNRESOLVED unless every change run reads better than every parent run. A gain needs the change to win at least nine
tenths of the pairs (ties count for neither side) and the medians to differ
by more than the parent's interquartile spread.

Usage (from the repository root):
  python3 scripts/bench_pairs.py --parent HEAD~1 [--change HEAD] \\
      [--pairs 10] [--seed 601] [--workload ingest --workload read] \\
      [--trace 0|1] [--metric NAME ...] [--out pairs.json]
  python3 scripts/bench_pairs.py --parent-dir DIR --change-dir DIR ...

With revisions, both sides are checked out as detached `git worktree`s in a
temporary directory, removed again at the end. With directories, the two
checkouts are used as they are. Pair i runs seed `--seed + i` on both sides
with the benchmark's `run_seconds`. `--metric` adds metrics beyond the
end-to-end ones (for example per-layer metrics of `--trace 1` runs); the
direction comes from BENCHMARK.json. Every run's result is appended to
`--out` as it finishes. Nothing under `perfbench/` is changed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quantile(xs, q):
    """Linear-interpolation quantile (numpy's default)."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def load_benchmark(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(checkout, command, workload, seed, seconds, trace):
    """One benchmark run; returns the parsed result JSON (last stdout line)."""
    cmd = list(command) + ["--workload", workload, "--seed", str(seed),
                           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    if p.returncode != 0 or result is None:
        sys.stderr.write(p.stderr[-3000:])
        return {"error": f"exit {p.returncode}", "metrics": {}}
    return result


def better_of(bench, name):
    for section in ("end_to_end", "per_layer"):
        for m in bench.get(section, []):
            if m["name"] == name:
                return m["better"], m.get("bound")
    raise SystemExit(f"bench_pairs: metric {name} is not declared in BENCHMARK.json")


def summarize(bench, runs, extra_metrics):
    """Prints one row per (workload, metric) over the recorded pairs."""
    names = [m["name"] for m in bench["end_to_end"]] + list(extra_metrics)
    workloads = sorted({r["workload"] for r in runs})
    ok = True
    print(f"{'workload':8} {'metric':32} {'parent median [q1,q3]':>30} "
          f"{'change median [q1,q3]':>30} {'chg/par':>8} {'wins':>7}  verdict")
    for w in workloads:
        pairs = {}
        for r in runs:
            if r["workload"] == w:
                pairs.setdefault(r["pair"], {})[r["side"]] = r
        complete = [p for _, p in sorted(pairs.items()) if "parent" in p and "change" in p]
        failed = sum(1 for p in complete for s in p.values() if "error" in s["result"])
        if failed:
            print(f"{w:8} {failed} failed run(s) among {len(complete)} pairs")
            ok = False
        for name in names:
            better, bound = better_of(bench, name)
            par, chg, wins = [], [], 0
            for p in complete:
                a = p["parent"]["result"].get("metrics", {}).get(name)
                b = p["change"]["result"].get("metrics", {}).get(name)
                if a is None or b is None:
                    continue
                a, b = a["value"], b["value"]
                par.append(a)
                chg.append(b)
                if a != b and (b < a) == (better == "lower"):
                    wins += 1
            if not par:
                continue
            n = len(par)
            pm, pq1, pq3 = quantile(par, .5), quantile(par, .25), quantile(par, .75)
            cm, cq1, cq3 = quantile(chg, .5), quantile(chg, .25), quantile(chg, .75)
            ratio = cm / pm if pm else float("nan")
            # worsening of the change's median relative to the parent's
            if pm == 0:
                worse = 0.0
            else:
                worse = (cm - pm) / pm if better == "lower" else (pm - cm) / pm
            improved = (cm < pm) if better == "lower" else (cm > pm)
            verdicts = []
            if bound is not None:
                separated = max(chg) < min(par) if better == "lower" else min(chg) > max(par)
                if pm and (pq3 - pq1) / abs(pm) > bound and not separated:
                    verdicts.append(f"UNRESOLVED (parent spread > bound {bound})")
                    ok = False
                else:
                    within = worse <= bound
                    verdicts.append("within bound" if within else f"WORSE than bound {bound}")
                    ok = ok and within
            if wins >= 0.9 * n and improved and abs(cm - pm) > (pq3 - pq1):
                verdicts.append("GAIN")
            par_s = f"{pm:.4g} [{pq1:.4g}, {pq3:.4g}]"
            chg_s = f"{cm:.4g} [{cq1:.4g}, {cq3:.4g}]"
            print(f"{w:8} {name:32} {par_s:>30} {chg_s:>30} {ratio:8.3f} {wins:>3}/{n:<3}  "
                  + ", ".join(verdicts))
    return ok


def add_worktree(rev, dest):
    subprocess.run(["git", "-C", ROOT, "worktree", "add", "--detach", dest, rev], check=True,
                   stdout=subprocess.DEVNULL)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", help="parent revision")
    ap.add_argument("--change", default="HEAD", help="change revision (default HEAD)")
    ap.add_argument("--parent-dir", help="existing checkout of the parent")
    ap.add_argument("--change-dir", help="existing checkout of the change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=601, help="seed of the first pair")
    ap.add_argument("--workload", action="append", help="default: every workload")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--metric", action="append", default=[], help="extra metric to report")
    ap.add_argument("--out", help="JSON file that collects every run (appended to)")
    a = ap.parse_args()

    if bool(a.parent_dir) != bool(a.change_dir):
        ap.error("--parent-dir and --change-dir go together")
    if not a.parent_dir and not a.parent:
        ap.error("give --parent REV or --parent-dir/--change-dir")
    if a.pairs < 1:
        ap.error("--pairs must be at least 1")

    tmp = None
    worktrees = []
    try:
        if a.parent_dir:
            sides = {"parent": os.path.abspath(a.parent_dir),
                     "change": os.path.abspath(a.change_dir)}
        else:
            tmp = tempfile.mkdtemp(prefix="bench-pairs-")
            sides = {}
            for side, rev in (("parent", a.parent), ("change", a.change)):
                dest = os.path.join(tmp, side)
                add_worktree(rev, dest)
                worktrees.append(dest)
                sides[side] = dest
        bench = load_benchmark(sides["change"])
        for m in a.metric:
            better_of(bench, m)
        workloads = a.workload or [w["name"] for w in bench["workloads"]]
        runs = []
        for i in range(a.pairs):
            seed = a.seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for w in workloads:
                for side in order:
                    res = run_once(sides[side], bench["command"], w, seed,
                                   bench["run_seconds"], a.trace)
                    rec = {"pair": i, "seed": seed, "workload": w, "side": side,
                           "trace": int(a.trace), "result": res}
                    runs.append(rec)
                    if a.out:
                        with open(a.out, "a") as f:
                            f.write(json.dumps(rec) + "\n")
                    e2e = {k: v["value"] for k, v in res.get("metrics", {}).items()
                           if k in ("ops_per_s", "op_p50_ms")}
                    print(f"[pair {i} seed {seed}] {w} {side}: "
                          f"{res.get('error') or e2e}", flush=True)
        return 0 if summarize(bench, runs, a.metric) else 1
    finally:
        for dest in worktrees:
            subprocess.run(["git", "-C", ROOT, "worktree", "remove", "--force", dest],
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        if tmp:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
