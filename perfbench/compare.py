#!/usr/bin/env python3
"""Compare two sets of benchmark records (a parent and a change).

  python3 perfbench/compare.py <base_dir> <change_dir>

Each directory holds record files written by run.py (untraced runs; traced
records are skipped). For every workload and end-to-end metric of
BENCHMARK.json it reports each side's median and quartiles, the pair win
ratio of the change, and a verdict against the metric's bound:

  improved    the change wins at least 9/10 of the pairs and the medians
              differ by more than the parent's own quartile spread
  worse       the change's median is worse than the parent's by more than
              the bound
  unresolved  a side's quartile spread (as a share of its median) is wider
              than the bound, and not every change run beats every parent
              run
  unchanged   otherwise

An improvement on a workload where the change has more failed ops or more
incorrect runs than the parent is reported as unresolved.

Pairs are runs with the same seed on both sides, else runs in the order
they were made. Ties count for neither side.
"""
import argparse
import json
import statistics
import sys
from pathlib import Path

SPEC_PATH = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def load(directory):
    """Untraced records by workload, oldest first."""
    out = {}
    for f in sorted(Path(directory).glob("**/*.json")):
        try:
            r = json.loads(f.read_text())
        except (json.JSONDecodeError, UnicodeDecodeError):
            continue
        if not isinstance(r, dict) or r.get("trace") != 0 \
                or "metrics" not in r:
            continue
        out.setdefault(r["workload"], []).append(r)
    for rs in out.values():
        rs.sort(key=lambda r: r.get("provenance", {}).get("utc", ""))
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def pairs(base, change):
    """(base, change) record pairs: same seed where both sides have it,
    else by position."""
    by_seed = {}
    for r in base:
        by_seed.setdefault(r["seed"], []).append(r)
    seeded = []
    for r in change:
        if by_seed.get(r["seed"]):
            seeded.append((by_seed[r["seed"]].pop(0), r))
    return seeded if seeded else list(zip(base, change))


def verdict(base_vals, change_vals, paired, better, bound):
    """One metric's comparison; `paired` is a list of (base, change)
    values."""
    sign = 1 if better == "lower" else -1
    bq1, bmed, bq3 = quartiles(base_vals)
    cq1, cmed, cq3 = quartiles(change_vals)
    wins = sum(1 for b, c in paired if sign * (b - c) > 0)
    win_ratio = wins / len(paired) if paired else 0.0
    worse_by = sign * (cmed - bmed) / bmed if bmed else 0.0
    spread = max((bq3 - bq1) / bmed if bmed else 0.0,
                 (cq3 - cq1) / cmed if cmed else 0.0)
    all_better = all(sign * (b - c) > 0
                     for b in base_vals for c in change_vals)
    if win_ratio >= 0.9 and sign * (bmed - cmed) > (bq3 - bq1):
        v = "improved"
    elif worse_by > bound:
        v = "worse"
    elif spread > bound and not all_better:
        v = "unresolved"
    else:
        v = "unchanged"
    return {"base": {"q1": bq1, "median": bmed, "q3": bq3,
                     "n": len(base_vals)},
            "change": {"q1": cq1, "median": cmed, "q3": cq3,
                       "n": len(change_vals)},
            "win_ratio": win_ratio, "pairs": len(paired),
            "worse_by": worse_by, "spread": spread, "verdict": v}


def compare(base, change, spec):
    rows = []
    for wl in sorted(set(base) & set(change)):
        b, c = base[wl], change[wl]
        failed = (sum(r["failed"] for r in b), sum(r["failed"] for r in c))
        incorrect = (sum(not r["correct"] for r in b),
                     sum(not r["correct"] for r in c))
        for m in spec["end_to_end"]:
            name = m["name"]
            bv = [r["metrics"][name]["value"] for r in b
                  if name in r["metrics"]]
            cv = [r["metrics"][name]["value"] for r in c
                  if name in r["metrics"]]
            if not bv or not cv:
                continue
            paired = [(x["metrics"][name]["value"], y["metrics"][name]["value"])
                      for x, y in pairs(b, c)
                      if name in x["metrics"] and name in y["metrics"]]
            row = verdict(bv, cv, paired, m["better"], m["bound"])
            if row["verdict"] == "improved" and (
                    failed[1] > failed[0] or incorrect[1] > incorrect[0]):
                row["verdict"] = "unresolved"
            row.update(workload=wl, metric=name, unit=m["unit"],
                       bound=m["bound"], failed=failed, incorrect=incorrect)
            rows.append(row)
    return rows


def main(argv=None):
    ap = argparse.ArgumentParser(description="Compare two record sets.")
    ap.add_argument("base")
    ap.add_argument("change")
    args = ap.parse_args(argv)
    spec = json.loads(SPEC_PATH.read_text())
    rows = compare(load(args.base), load(args.change), spec)
    fmt = lambda s: f"{s['median']:.4g} [{s['q1']:.4g}, {s['q3']:.4g}]"
    print(f"{'workload':12} {'metric':18} {'base median [q1, q3]':>32} "
          f"{'change median [q1, q3]':>32} {'wins':>6} {'bound':>5}  verdict")
    for r in rows:
        print(f"{r['workload']:12} {r['metric']:18} {fmt(r['base']):>32} "
              f"{fmt(r['change']):>32} {r['win_ratio']:6.2f} "
              f"{r['bound']:5.2f}  {r['verdict']}")
    bad = [r for r in rows if r["verdict"] == "worse"]
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
