"""Summarize an interleaved parent-vs-change A/B of the forwarder benchmark.

Reads the result lines `perfbench/run.py` prints (its last stdout line),
one file per side and seed, named `[<workload>-]<side>-s<seed>.json` with
`<side>` one of `parent` or `change`:

    python3 tools/ab_summary.py "$SCRATCH"
    python3 tools/ab_summary.py "$SCRATCH" --workload fwd_guarded

Per workload and end-to-end metric (names, units and the better direction
come from BENCHMARK.json) it prints each side's median with its quartiles,
the change's wins over the pairs (ties count for neither side), the median
gap against the parent's quartile spread, and whether the gain rule holds:
the change wins at least nine tenths of the pairs and the medians differ by
more than the parent's quartile spread, in the better direction. It also
checks per seed that `correct` is true on both sides and that `failed` is
equal, and lists the per-pair values. A seed with one side missing is
reported and left out of the pairs.
"""

import argparse
import collections
import json
import os
import re
import statistics
import sys

NAME = re.compile(r"^(?:(?P<workload>.+)-)?(?P<side>parent|change)-s(?P<seed>\d+)\.json$")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def result_line(path):
    """The last line of the file that parses as a JSON object with metrics."""
    with open(path) as fh:
        lines = [l for l in fh.read().splitlines() if l.strip()]
    for line in reversed(lines):
        try:
            res = json.loads(line)
        except ValueError:
            continue
        if isinstance(res, dict) and "metrics" in res:
            return res
    return None


def quartiles(xs):
    """(q1, median, q3), by the inclusive method (exact for n = 1)."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def fmt(x):
    return f"{x:.4g}" if abs(x) < 1000 else f"{x:.0f}"


def summarize(workload, runs, metrics, out):
    seeds = sorted(s for s in runs if {"parent", "change"} <= runs[s].keys())
    missing = sorted(s for s in runs if s not in seeds)
    out.write(f"== {workload}: {len(seeds)} pairs (seeds {', '.join(map(str, seeds))})\n")
    if missing:
        out.write(f"   unpaired seeds left out: {', '.join(map(str, missing))}\n")
    ok = True
    for s in seeds:
        p, c = runs[s]["parent"], runs[s]["change"]
        if not (p.get("correct") and c.get("correct")):
            out.write(f"   seed {s}: correct parent={p.get('correct')} change={c.get('correct')}\n")
            ok = False
        if p.get("failed") != c.get("failed"):
            out.write(f"   seed {s}: failed parent={p.get('failed')} change={c.get('failed')}\n")
            ok = False
    out.write(f"   correct on every run and failed equal per seed: {'yes' if ok else 'NO'}\n")
    if not seeds:
        return
    for m in metrics:
        name, better = m["name"], m["better"]
        paired = [(s, runs[s]["parent"]["metrics"][name]["value"],
                   runs[s]["change"]["metrics"][name]["value"]) for s in seeds
                  if name in runs[s]["parent"]["metrics"] and name in runs[s]["change"]["metrics"]]
        if not paired:
            continue
        pairs = [(p, c) for _, p, c in paired]
        sign = 1 if better == "higher" else -1
        wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
        pq1, pmed, pq3 = quartiles([p for p, _ in pairs])
        cq1, cmed, cq3 = quartiles([c for _, c in pairs])
        gap = sign * (cmed - pmed)
        spread = pq3 - pq1
        gain = wins >= 0.9 * len(pairs) and gap > spread
        out.write(f"   {name} ({m['unit']}, {better} is better): "
                  f"parent {fmt(pmed)} [{fmt(pq1)}, {fmt(pq3)}] -> "
                  f"change {fmt(cmed)} [{fmt(cq1)}, {fmt(cq3)}] "
                  f"({(cmed - pmed) / pmed * 100:+.1f}%); wins {wins}/{len(pairs)}; "
                  f"median gap {fmt(gap)} vs parent spread {fmt(spread)}; "
                  f"gain rule {'met' if gain else 'not met'}\n")
        out.write("      pairs: " + ", ".join(
            f"s{s} {fmt(p)}->{fmt(c)}" for s, p, c in paired) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("dir", help="directory holding the per-side, per-seed result files")
    ap.add_argument("--workload", help="only this workload")
    ap.add_argument("--benchmark", default=os.path.join(ROOT, "BENCHMARK.json"),
                    help="benchmark spec with the end-to-end metrics (default: the repo's)")
    args = ap.parse_args()

    with open(args.benchmark) as fh:
        metrics = json.load(fh)["end_to_end"]
    runs = collections.defaultdict(lambda: collections.defaultdict(dict))
    for f in sorted(os.listdir(args.dir)):
        m = NAME.match(f)
        if not m:
            continue
        workload = m.group("workload") or "-"
        if args.workload and workload != args.workload:
            continue
        res = result_line(os.path.join(args.dir, f))
        if res is None:
            print(f"{f}: no result line (the run failed?)", file=sys.stderr)
            continue
        runs[workload][int(m.group("seed"))][m.group("side")] = res
    if not runs:
        sys.exit(f"no result files named [<workload>-]<side>-s<seed>.json in {args.dir}")
    for workload in sorted(runs):
        summarize(workload, runs[workload], metrics, sys.stdout)


if __name__ == "__main__":
    main()
