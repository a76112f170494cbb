#!/usr/bin/env python3
"""Paired A/B of the benchmark: a base commit against the working tree.

    python3 tools/perf_ab.py --base HEAD~1 --workload edi_feeds --seeds 201-210

Checks the base commit out with `git worktree` in a temporary directory
outside the repository (or uses --base-dir, an existing checkout of it),
then runs `perfbench/run.py` unchanged in both checkouts, one pair per seed,
alternating which side runs first. Every run uses the same seed and
--seconds on both sides. For each end-to-end metric of BENCHMARK.json it
prints each side's median and quartiles, the share of pairs the change wins
(ties count for neither) and a verdict:

  gain        the change wins at least 9 of every 10 pairs and the medians
              differ by more than the base's interquartile distance
  worse       the change's median is worse than the base's by more than the
              metric's bound in BENCHMARK.json
  unresolved  the base's own runs spread wider than the bound, and not every
              change run beats every base run
  no change   none of the above

With --trace, after the pairs of a workload it also runs one traced run
(`--trace 1`) per side on the first seed and prints the per-layer figures
that differ: every count (`spark.jobs`, `queries.<q>.stages`, ...) whose
value moved, and the nonzero driver gaps (`spark.driver_gap_s`,
`queries.<q>.driver_gap_s`) those counts explain.

Each run's JSON result is appended to --out (JSON lines). Nothing under
perfbench/ and nothing in BENCHMARK.json is written.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(*a):
    print("[ab]", *a, file=sys.stderr, flush=True)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(checkout, workload, seed, seconds, trace=0):
    """One benchmark run; its result object, or None when it printed none."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        log(f"{checkout}: {workload} seed {seed} exited {p.returncode} without a result")
        return None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(base, change, better, bound):
    """(wins, pairs, verdict) for paired values of one metric."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for b, c in zip(base, change) if sign * (b - c) > 0)
    mb, mc = statistics.median(base), statistics.median(change)
    q1, q3 = quartiles(base)
    if wins >= 0.9 * len(base) and sign * (mb - mc) > q3 - q1:
        return wins, "gain"
    if sign * (mc - mb) > bound * mb:
        return wins, "worse"
    if (q3 - q1) > bound * mb and not all(sign * (b - c) > 0 for b in base for c in change):
        return wins, "unresolved"
    return wins, "no change"


def report(workload, pairs, spec):
    ok = [(b, c) for b, c in pairs if b and c]
    bad = [(b, c) for b, c in pairs if not (b and c and b["correct"] and c["correct"]
                                             and b["failed"] == 0 and c["failed"] == 0)]
    print(f"\n{workload}: {len(ok)} complete pairs of {len(pairs)}; "
          f"{len(bad)} with a missing, incorrect or failing run")
    if not ok:
        return
    print("| metric | base median [q1, q3] | change median [q1, q3] | change | wins | verdict |")
    print("|---|---|---|---|---|---|")
    for m in spec["end_to_end"]:
        name = m["name"]
        base = [b["metrics"][name]["value"] for b, _ in ok]
        change = [c["metrics"][name]["value"] for _, c in ok]
        wins, v = verdict(base, change, m["better"], m["bound"])
        mb, mc = statistics.median(base), statistics.median(change)
        (b1, b3), (c1, c3) = quartiles(base), quartiles(change)
        print(f"| `{name}` ({m['unit']}) | {mb:.4g} [{b1:.4g}, {b3:.4g}] | {mc:.4g} [{c1:.4g}, {c3:.4g}] "
              f"| {100 * (mc - mb) / mb:+.1f}% | {wins}/{len(ok)} | {v} |")


def trace_report(workload, seed, traced, spec):
    """The per-layer counts that differ between one traced run per side."""
    print(f"\n{workload}: traced run, seed {seed}")
    b, c = traced["base"], traced["change"]
    if not (b and c):
        print("a traced run printed no result")
        return
    print("| per-layer metric | base | change | delta |")
    print("|---|---|---|---|")
    for m in spec["per_layer"]:
        name = m["name"]
        vb, vc = b["metrics"][name]["value"], c["metrics"][name]["value"]
        if (m["unit"] == "count" and vb != vc) or (name.endswith("driver_gap_s") and (vb or vc)):
            print(f"| `{name}` ({m['unit']}) | {vb:.4g} | {vc:.4g} | {vc - vb:+.4g} |")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--base", required=True, help="the commit to compare the working tree against")
    ap.add_argument("--base-dir", help="an existing checkout of --base to use instead of a new worktree")
    ap.add_argument("--workload", action="append", required=True, help="repeat for several workloads")
    ap.add_argument("--seeds", default="201-210", help="seeds, one pair each, e.g. 201-210 or 1,5,9")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", action="store_true",
                    help="after the pairs, one traced run per side on the first seed")
    ap.add_argument("--out", default=os.path.join(tempfile.gettempdir(), "perf_ab.jsonl"))
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ss = seeds(args.seeds)
    if len(ss) < 10:
        log(f"warning: {len(ss)} pairs; a gain needs at least 10")
    tmp = None
    base_dir = args.base_dir
    if not base_dir:
        tmp = tempfile.mkdtemp(prefix="graft-ab-")
        base_dir = os.path.join(tmp, "base")
        subprocess.run(["git", "-C", ROOT, "worktree", "add", "--detach", base_dir, args.base], check=True,
                       stdout=subprocess.DEVNULL)
    sides = {"base": base_dir, "change": ROOT}
    try:
        for side, d in sides.items():
            subprocess.run([sys.executable, "perfbench/build.py"], cwd=d, check=True, stdout=subprocess.DEVNULL)
            log(f"{side} built in {d}")
        with open(args.out, "a") as out:
            for w in args.workload:
                pairs = []
                for i, seed in enumerate(ss):
                    order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
                    res = {}
                    for side in order:
                        res[side] = run(sides[side], w, seed, args.seconds)
                        out.write(json.dumps({"workload": w, "seed": seed, "side": side, "first": order[0],
                                              "result": res[side]}) + "\n")
                        out.flush()
                    pairs.append((res["base"], res["change"]))
                    log(f"{w} seed {seed} ({order[0]} first): " + ", ".join(
                        f"{s} {r['metrics']['cpu_us_per_row']['value']:.1f}" if r else f"{s} -"
                        for s, r in res.items()) + " us/row")
                report(w, pairs, spec)
                if args.trace:
                    traced = {}
                    for side in ("base", "change"):
                        traced[side] = run(sides[side], w, ss[0], args.seconds, trace=1)
                        out.write(json.dumps({"workload": w, "seed": ss[0], "side": side, "trace": 1,
                                              "result": traced[side]}) + "\n")
                        out.flush()
                    trace_report(w, ss[0], traced, spec)
    finally:
        if tmp:
            subprocess.run(["git", "-C", ROOT, "worktree", "remove", "--force", base_dir],
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
