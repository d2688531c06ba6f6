"""Tests of the benchmark itself (not of the program).

    python3 -m unittest discover -s abrbench -p 'test_*.py'
"""

import hashlib
import json
import os
import re
import tempfile
import unittest

import gen
import run
import spans

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

SMALL = {
    "weekly_drop": dict(rows=300, weeks=2, changed=20, added=10, removed=10),
    "lake_upserts": dict(rows=300, batches=2, updated=14, inserted=6,
                         orders=200),
}


def digest(d):
    """Hash of every input file's name and bytes (the manifest, which
    records build time, excluded)."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            if f == "done.json":
                continue
            h.update(os.path.relpath(os.path.join(root, f), d).encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for wl, scale in SMALL.items():
            with tempfile.TemporaryDirectory() as a, \
                    tempfile.TemporaryDirectory() as b:
                d1, _ = gen.build(a, wl, 7, threads=2, scale=scale)
                d2, _ = gen.build(b, wl, 7, threads=2, scale=scale)
                d3, _ = gen.build(b, wl, 8, threads=2, scale=scale)
                self.assertEqual(digest(d1), digest(d2), wl)
                self.assertNotEqual(digest(d1), digest(d3), wl)

    def test_inputs_are_reused(self):
        with tempfile.TemporaryDirectory() as c:
            d, m1 = gen.build(c, "lake_upserts", 1, threads=2,
                              scale=SMALL["lake_upserts"])
            _, m2 = gen.build(c, "lake_upserts", 1, threads=2,
                              scale=SMALL["lake_upserts"])
            self.assertEqual(m1["build_s"], m2["build_s"])

class SpanTest(unittest.TestCase):

    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(spans.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(spans.union_ms([(0, 10), (5, 15)], 2, 12), 10)
        self.assertEqual(spans.union_ms([]), 0)

    def test_self_time_subtracts_children_once(self):
        ss = [dict(id=1, parent=0, name="week", op=1, start_ms=0, end_ms=100),
              dict(id=2, parent=1, name="ingest", op=1, start_ms=10,
                   end_ms=40),
              dict(id=3, parent=1, name="delta", op=1, start_ms=30,
                   end_ms=90),
              dict(id=4, parent=3, name="updated", op=1, start_ms=35,
                   end_ms=60),
              # a child running past its parent counts only inside it
              dict(id=5, parent=3, name="added", op=1, start_ms=80,
                   end_ms=120)]
        got = {s["name"]: s["self_ms"] for s in spans.with_self_times(ss)}
        self.assertEqual(got["week"], 100 - 80)
        self.assertEqual(got["delta"], 60 - 25 - 10)
        self.assertEqual(got["ingest"], 30)
        self.assertEqual(got["updated"], 25)
        self.assertEqual(spans.innermost(ss, 50)["name"], "updated")
        self.assertEqual(spans.innermost(ss, 20)["name"], "ingest")
        self.assertIsNone(spans.innermost(ss, 150))

    def test_week_spans_cut_from_run_log(self):
        tr = [dict(id=1, parent=0, name="week", op=4, start_ms=0,
                   end_ms=100),
              dict(id=2, parent=1, name="delta", op=4, start_ms=50,
                   end_ms=95)]
        ev = [(1, "Starting ABR ETL Process"), (10, "Extracted 8 files"),
              (45, "Loaded a -> b"), (60, "Running Delta Query (Change)"),
              (80, "Delta written: u"), (81, "Running Delta Query (New)"),
              (94, "Delta written: a"), (97, "Cleaned up 8 staging files")]
        ss = {s["name"]: s for s in spans.week_spans(tr, ev, 4)}
        self.assertEqual((ss["extract"]["start_ms"], ss["extract"]["end_ms"]),
                         (1, 10))
        self.assertEqual((ss["ingest"]["start_ms"], ss["ingest"]["end_ms"]),
                         (10, 45))
        self.assertEqual(ss["msck"]["end_ms"], 60)
        self.assertEqual((ss["added"]["start_ms"], ss["added"]["end_ms"]),
                         (81, 94))
        self.assertEqual(ss["cleanup"]["parent"], 1)
        cov = spans.coverage(list(ss.values()))
        self.assertAlmostEqual(cov[0], (9 + 35 + 45 + 2) / 100)


class MetricNameTest(unittest.TestCase):

    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.b = json.load(f)

    def test_names_and_units_are_valid_and_unique(self):
        names = [m["name"] for k in ("end_to_end", "per_layer")
                 for m in self.b[k]] + [w["name"] for w in self.b["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for k in ("end_to_end", "per_layer"):
            for m in self.b[k]:
                self.assertRegex(m["unit"], UNIT)
                self.assertIn(m["better"], ("lower", "higher"))

    def test_benchmark_json_matches_what_run_reports(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.b["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.b["per_layer"]},
                         run.PER_LAYER)
        self.assertEqual([w["name"] for w in self.b["workloads"]],
                         list(run.WORKLOADS))
        self.assertEqual(set(gen.SCALES), set(run.WORKLOADS))
        setup = next(m for m in self.b["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual(setup["bound"],
                         max(m["bound"] for m in self.b["end_to_end"]))
        for m in self.b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)


if __name__ == "__main__":
    unittest.main()
