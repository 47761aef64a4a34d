#!/usr/bin/env python3
"""Verdict tests for check_bench.py's bench mode on synthetic records.

Run: python3 tools/test_check_bench.py
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

CHECK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "check_bench.py")


def record(queries, spread=None, fingerprints=None, timed_to="noop"):
    """A full bench record: medians, spreads (tight by default), fingerprints."""
    rec = {
        "metric": "total", "value": sum(queries.values()), "unit": "sec",
        "queries": queries,
        "spread": spread or {q: [t, t, t] for q, t in queries.items()},
        "fingerprints": fingerprints or {q: f"10:{i}" for i, q in enumerate(sorted(queries))},
        "errors": {}, "ingest_records_per_s": 1.0, "freshness_sec": 2.0,
        "sf": "synthetic",
    }
    if timed_to is not None:
        rec["timed_to"] = timed_to
    return rec


BASE = {"a_heavy": 4.0, "b_heavy": 2.0, "c_tiny": 0.2, "d_mid": 1.5}


class CheckBenchVerdicts(unittest.TestCase):
    def run_check(self, new, prev):
        with tempfile.TemporaryDirectory() as d:
            paths = []
            for name, rec in (("new.json", new), ("prev.json", prev)):
                paths.append(os.path.join(d, name))
                with open(paths[-1], "w") as f:
                    json.dump(rec, f)
            p = subprocess.run([sys.executable, CHECK, *paths],
                               capture_output=True, text=True)
            return p.returncode, p.stdout, paths

    def test_same_record_passes(self):
        code, out, _ = self.run_check(record(BASE), record(BASE))
        self.assertEqual(code, 0, out)
        self.assertIn("BENCH OK", out)

    def test_2x_slowdown_is_slow(self):
        code, out, _ = self.run_check(record(dict(BASE, b_heavy=4.5)), record(BASE))
        self.assertEqual(code, 1, out)
        self.assertIn("SLOW b_heavy: 2.00s -> 4.50s", out)

    def test_sub_second_entry_is_exempt(self):
        code, out, _ = self.run_check(record(dict(BASE, c_tiny=0.9)), record(BASE))
        self.assertEqual(code, 0, out)
        self.assertNotIn("SLOW", out)

    def test_missing_entry_is_gone(self):
        new = {k: v for k, v in BASE.items() if k != "d_mid"}
        code, out, _ = self.run_check(record(new), record(BASE))
        self.assertEqual(code, 1, out)
        self.assertIn("GONE d_mid", out)

    def test_moved_fingerprint_fails(self):
        fps = record(BASE)["fingerprints"]
        moved = dict(fps, a_heavy="10:999")
        code, out, _ = self.run_check(record(BASE, fingerprints=moved), record(BASE))
        self.assertEqual(code, 1, out)
        self.assertIn(f"FPRT a_heavy: result fingerprint {fps['a_heavy']} -> 10:999", out)

    def test_timed_to_mismatch_is_incomparable(self):
        code, out, (new_path, prev_path) = self.run_check(
            record(BASE), record(BASE, timed_to=None))
        self.assertEqual(code, 2, out)
        self.assertIn(f"{new_path} is timed to noop, {prev_path} to count", out)

    def test_spread_recurrence_is_var(self):
        wide = dict(record(BASE)["spread"], a_heavy=[3.9, 4.0, 7.0])
        code, out, _ = self.run_check(record(BASE, spread=wide), record(BASE, spread=wide))
        self.assertEqual(code, 1, out)
        self.assertIn("VAR  a_heavy", out)
        self.assertIn("RECURRED vs prev", out)

    def test_first_spread_violation_only_watches(self):
        wide = dict(record(BASE)["spread"], a_heavy=[3.9, 4.0, 7.0])
        code, out, _ = self.run_check(record(BASE, spread=wide), record(BASE))
        self.assertEqual(code, 0, out)
        self.assertIn("var? a_heavy", out)


if __name__ == "__main__":
    unittest.main()
