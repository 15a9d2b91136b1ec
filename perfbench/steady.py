#!/usr/bin/env python3
"""Steadiness report: compares two sets of benchmark runs.

    python3 perfbench/steady.py A.jsonl B.jsonl

Each file holds the lines `run.py --report FILE` appends, one per run.
For every (workload, end-to-end metric) it prints each set's median and
quartiles, each set's spread (inter-quartile distance over the median),
how much worse B's median is than A's, and whether both spreads and the
drift stay within the metric's bound from BENCHMARK.json. The spread of
setup_s is shown but not judged, as the driver does. For traced runs it
prints the tracing overhead instead. Exits 1 if any judged pair fails.
"""
import collections
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def load(path):
    runs = collections.defaultdict(list)
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                runs[(r["context"]["workload"], r["context"]["trace"])].append(r)
    return runs


def main(a_path, b_path):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    a, b = load(a_path), load(b_path)
    bad = 0
    print(f"{'workload':9s} {'metric':14s} {'n':>5s} {'A q1/med/q3':>28s} {'A spr':>6s} "
          f"{'B q1/med/q3':>28s} {'B spr':>6s} {'worse':>7s} {'bound':>5s} verdict")
    for (w, trace) in sorted(set(a) & set(b)):
        if trace:
            for side, runs in (("A", a[(w, 1)]), ("B", b[(w, 1)])):
                ov = [r["metrics"]["trace.overhead_pct"]["value"] for r in runs
                      if "trace.overhead_pct" in r["metrics"]]
                print(f"{w:9s} tracing overhead ({side}): median {stats.median(ov):.1f}% "
                      f"over {len(ov)} runs")
            continue
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            va = [r["metrics"][name]["value"] for r in a[(w, 0)]]
            vb = [r["metrics"][name]["value"] for r in b[(w, 0)]]
            qa, qb = stats.quartiles(va), stats.quartiles(vb)
            sa, sb = stats.spread(va), stats.spread(vb)
            worse = stats.worse_by(qa[1], qb[1], m["better"])
            ok = worse <= bound and (name == "setup_s" or (sa <= bound and sb <= bound))
            bad += not ok
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{w:9s} {name:14s} {len(va):2d}/{len(vb):<2d} {fmt(qa):>28s} {sa:6.3f} "
                  f"{fmt(qb):>28s} {sb:6.3f} {worse:7.3f} {bound:5.2f} "
                  f"{'ok' if ok else 'FAIL'}")
        fa = [r["fail_frac"] for r in a[(w, 0)] + b[(w, 0)]]
        print(f"{w:9s} {'fail_frac':14s} max over both sets {max(fa):.4f}")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
