#!/usr/bin/env python3
"""A/B two checkouts on one perfbench workload, as alternating pairs.

    python3 tools/perf_ab.py --parent ../parent --change . \\
        --workload lake_sync --seeds 41-50 [--seconds 20] [--trace 0]

Pair i runs `perfbench/run.py --workload W --seed S` once in each checkout,
one after the other: the parent first in odd pairs, the change first in
even ones, so a drift of the host over the series falls on both sides
alike. Each checkout builds its own jar on its first run (perfbench keys
its build dir by a hash of the sources).

For every figure line (`{"metric": ...}`, the per-op figures and the
contract metrics) and, in traced runs, every `layer_metric` line, it prints
each pair's two values, each side's median and quartiles, and in how many
pairs the change was better. A unit with `/s` in it is better higher, any
other lower. The last line per metric says whether a gain holds: better in
at least nine of ten pairs, and the medians further apart than the
parent's interquartile range. Runs that are not `correct` or that print a
`counter_not_deterministic` flag are reported after the table.

It only reads what `perfbench/run.py` prints; `--json FILE` also writes
every run's parsed values.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def parse_seeds(specs):
    """`41-50 60 62` -> [41, ..., 50, 60, 62]."""
    seeds = []
    for spec in specs:
        for part in spec.split(","):
            lo, _, hi = part.partition("-")
            seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def quartiles(xs):
    """(q1, median, q3), cut as `statistics.quantiles(n=4)` cuts them."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def run_once(checkout, workload, seed, seconds, trace):
    """One perfbench run: {"values": {name: (unit, value)}, "correct", "flags", ...}."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    out = {"checkout": str(checkout), "seed": seed, "exit": proc.returncode,
           "values": {}, "correct": False, "failed": None, "flags": []}
    for line in proc.stdout.splitlines():
        try:
            rec = json.loads(line)
        except ValueError:
            continue
        if "metric" in rec and rec.get("median") is not None:
            out["values"][rec["metric"]] = (rec["unit"], rec["median"])
        elif "layer_metric" in rec:
            out["values"][rec["layer_metric"]] = ("", rec["value"])
        elif rec.get("flag"):
            out["flags"].append(rec.get("counter", rec["flag"]))
        elif "correct" in rec:
            out["correct"], out["failed"] = rec["correct"], rec["failed"]
    if proc.returncode != 0:
        out["stderr_tail"] = proc.stderr.splitlines()[-5:]
    return out


def report(pairs):
    """Print the per-metric table for `pairs`: [(seed, first_side, parent, change)]."""
    names = dict.fromkeys(n for _, _, p, c in pairs for n in [*p["values"], *c["values"]])
    for name in names:
        rows = [(seed, first, p["values"].get(name), c["values"].get(name))
                for seed, first, p, c in pairs]
        rows = [(s, f, pv, cv) for s, f, pv, cv in rows if pv and cv]
        if not rows:
            continue
        unit = rows[0][2][0]
        higher = "/s" in unit
        print(f"\n{name} ({unit or 'layer'}; {'higher' if higher else 'lower'} is better)")
        print(f"  {'pair':>4} {'seed':>5} {'first':>7} {'parent':>14} {'change':>14}")
        wins = 0
        for i, (seed, first, (_, pv), (_, cv)) in enumerate(rows, 1):
            wins += (cv > pv) if higher else (cv < pv)
            print(f"  {i:>4} {seed:>5} {first:>7} {pv:>14.6g} {cv:>14.6g}")
        pq1, pmed, pq3 = quartiles([r[2][1] for r in rows])
        cq1, cmed, cq3 = quartiles([r[3][1] for r in rows])
        print(f"  parent median {pmed:.6g} (q1 {pq1:.6g}, q3 {pq3:.6g}); "
              f"change median {cmed:.6g} (q1 {cq1:.6g}, q3 {cq3:.6g})")
        moved = cmed - pmed
        holds = wins * 10 >= 9 * len(rows) and abs(moved) > pq3 - pq1
        print(f"  change better in {wins}/{len(rows)} pairs; median moved {moved:+.6g} "
              f"against a parent IQR of {pq3 - pq1:.6g}: gain {'holds' if holds else 'not shown'}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, type=Path, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, type=Path, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, nargs="+", help="seeds or ranges, e.g. 41-50")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--json", type=Path, help="also write every run's parsed values here")
    args = ap.parse_args(argv)

    pairs = []
    for i, seed in enumerate(parse_seeds(args.seeds), 1):
        order = ["parent", "change"] if i % 2 else ["change", "parent"]
        runs = {}
        for side in order:
            print(f"pair {i} seed {seed}: {side}", file=sys.stderr, flush=True)
            runs[side] = run_once(getattr(args, side).resolve(), args.workload, seed,
                                  args.seconds, args.trace)
        pairs.append((seed, order[0], runs["parent"], runs["change"]))

    if args.json:
        args.json.write_text(json.dumps(
            [{"seed": s, "first": f, "parent": p, "change": c} for s, f, p, c in pairs], indent=1))
    print(f"{args.workload}: {len(pairs)} pairs, --seconds {args.seconds:g} --trace {args.trace}")
    report(pairs)
    bad = [(side, r) for _, _, p, c in pairs for side, r in (("parent", p), ("change", c))
           if r["exit"] != 0 or not r["correct"] or r["flags"]]
    for side, r in bad:
        print(f"\n{side} seed {r['seed']}: exit {r['exit']}, correct {r['correct']}, "
              f"failed {r['failed']}, flags {r['flags']} {r.get('stderr_tail', '')}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
