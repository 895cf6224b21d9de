"""Spread of recorded runs, for comparing result sets.

    python3 perfbench/spread.py [--last N | --sets N]

For each workload, the untraced runs recorded in ``.perfbench/results.jsonl``
(the last N of each, if given): per end-to-end metric the median and the
distance between the first and third quartile as a share of the median,
beside the metric's bound from BENCHMARK.json, and the load average range
the runs saw.  With ``--sets N`` the last 2N runs of each workload are split
into two sets of N in the order they ran, and each metric also shows how far
the second set's median moved from the first's, in the metric's worse
direction, against its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def report(rs: list[dict], bench: dict) -> dict[str, float]:
    """Print one set's medians and spreads; return the medians."""
    loads = [x for r in rs for x in (r["loadavg_before"][0], r["loadavg_after"][0])]
    print(f"  {len(rs)} runs, seeds {[r['seed'] for r in rs]}, "
          f"load average {min(loads):.2f}..{max(loads):.2f}, "
          f"all correct: {all(r['correct'] for r in rs)}")
    medians = {}
    for m in bench["end_to_end"]:
        vals = [r["end_to_end"][m["name"]] for r in rs if m["name"] in r["end_to_end"]]
        if len(vals) < 2:
            continue
        share = stats.iqr_share(vals)
        medians[m["name"]] = statistics.median(vals)
        print(f"    {m['name']:12s} median {medians[m['name']]:12.3f} {m['unit']:3s} "
              f"spread {share:6.3f}  bound {m['bound']:.2f}  {'ok' if share <= m['bound'] / 3 else 'WIDE'}")
    return medians


def main() -> None:
    p = argparse.ArgumentParser()
    g = p.add_mutually_exclusive_group()
    g.add_argument("--last", type=int, default=0, help="only the last N runs of each workload")
    g.add_argument("--sets", type=int, default=0, help="compare the last two sets of N runs of each workload")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs: dict[str, list[dict]] = {}
    with open(os.path.join(ROOT, ".perfbench", "results.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            if not r["trace"]:
                runs.setdefault(r["workload"], []).append(r)
    for workload, rs in runs.items():
        print(f"{workload}:")
        if not args.sets:
            report(rs[-args.last:] if args.last else rs, bench)
            continue
        if len(rs) < 2 * args.sets:
            print(f"  only {len(rs)} runs")
            continue
        first = report(rs[-2 * args.sets:-args.sets], bench)
        second = report(rs[-args.sets:], bench)
        for m in bench["end_to_end"]:
            a, b = first.get(m["name"]), second.get(m["name"])
            if a and b is not None:
                worse = (b / a - 1) * (1 if m["better"] == "lower" else -1)
                print(f"    {m['name']:12s} second median worse by {worse:+.3f}  bound {m['bound']:.2f}  "
                      f"{'ok' if worse <= m['bound'] else 'OVER'}")


if __name__ == "__main__":
    main()
