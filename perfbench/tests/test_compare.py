"""Unit tests of the run comparator on synthetic records.

  python3 -m unittest discover -s perfbench/tests
"""
import json
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import compare  # noqa: E402

SPEC = {"end_to_end": [
    {"name": "wall_s", "unit": "s", "better": "lower", "bound": 0.1},
    {"name": "ops_per_s", "unit": "1/s", "better": "higher", "bound": 0.1},
]}


def record(seed, wall, ops, failed=0, trace=0, workload="w", correct=True):
    return {"workload": workload, "seed": seed, "trace": trace,
            "correct": correct, "failed": failed,
            "provenance": {"utc": f"2026-01-01T00:00:{seed:02d}"},
            "metrics": {"wall_s": {"value": wall, "unit": "s"},
                        "ops_per_s": {"value": ops, "unit": "1/s"}}}


def write(directory, records):
    for i, r in enumerate(records):
        (Path(directory) / f"r{i}.json").write_text(json.dumps(r))


def run(base, change):
    with tempfile.TemporaryDirectory() as a, \
            tempfile.TemporaryDirectory() as b:
        write(a, base)
        write(b, change)
        rows = compare.compare(compare.load(a), compare.load(b), SPEC)
    return {r["metric"]: r for r in rows}


def series(scale, n=10, jitter=0.01):
    """n records whose values sit within ±jitter of the scaled base."""
    return [record(i, 10.0 * scale * (1 + jitter * ((i % 3) - 1)),
                   100.0 / scale * (1 + jitter * ((i % 3) - 1)))
            for i in range(n)]


class CompareTest(unittest.TestCase):
    def test_same_code_is_unchanged(self):
        rows = run(series(1.0), series(1.0))
        self.assertEqual(rows["wall_s"]["verdict"], "unchanged")
        self.assertEqual(rows["ops_per_s"]["verdict"], "unchanged")

    def test_faster_change_is_improved_in_both_directions(self):
        rows = run(series(1.0), series(0.8))
        self.assertEqual(rows["wall_s"]["verdict"], "improved")
        self.assertEqual(rows["ops_per_s"]["verdict"], "improved")
        self.assertEqual(rows["wall_s"]["win_ratio"], 1.0)

    def test_slower_change_beyond_bound_is_worse(self):
        rows = run(series(1.0), series(1.3))
        self.assertEqual(rows["wall_s"]["verdict"], "worse")
        self.assertEqual(rows["ops_per_s"]["verdict"], "worse")
        self.assertAlmostEqual(rows["wall_s"]["worse_by"], 0.3, places=6)

    def test_slower_within_bound_is_unchanged(self):
        rows = run(series(1.0), series(1.05))
        self.assertEqual(rows["wall_s"]["verdict"], "unchanged")

    def test_wide_spread_is_unresolved(self):
        noisy = series(1.0, jitter=0.3)
        rows = run(series(1.0), noisy)
        self.assertEqual(rows["wall_s"]["verdict"], "unresolved")

    def test_quartiles_and_median(self):
        rows = run(series(1.0), series(1.0))
        b = rows["wall_s"]["base"]
        self.assertEqual(b["n"], 10)
        self.assertAlmostEqual(b["median"], 10.0)
        self.assertLessEqual(b["q1"], b["median"])
        self.assertLessEqual(b["median"], b["q3"])

    def test_pairs_match_seeds(self):
        base = [record(s, 10.0, 1.0) for s in (1, 2, 3)]
        change = [record(s, 9.0 if s == 2 else 11.0, 1.0) for s in (3, 2, 1)]
        rows = run(base, change)
        self.assertEqual(rows["wall_s"]["pairs"], 3)
        self.assertAlmostEqual(rows["wall_s"]["win_ratio"], 1 / 3)

    def test_more_failures_cancel_an_improvement(self):
        change = [dict(r, failed=1) for r in series(0.8)]
        rows = run(series(1.0), change)
        self.assertEqual(rows["wall_s"]["verdict"], "unresolved")

    def test_more_incorrect_runs_cancel_an_improvement(self):
        change = series(0.8)
        change[0]["correct"] = False
        rows = run(series(1.0), change)
        self.assertEqual(rows["wall_s"]["verdict"], "unresolved")
        self.assertEqual(rows["wall_s"]["incorrect"], (0, 1))

    def test_traced_records_are_ignored(self):
        base = series(1.0) + [record(99, 50.0, 1.0, trace=1)]
        rows = run(base, series(1.0))
        self.assertEqual(rows["wall_s"]["base"]["n"], 10)


if __name__ == "__main__":
    unittest.main()
