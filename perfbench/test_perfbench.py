"""Tests of the benchmark's own arithmetic and inputs.

    python3 perfbench/test_perfbench.py            # unit tests (seconds)
    PERFBENCH_SMOKE=1 python3 perfbench/test_perfbench.py   # + smoke runs

The smoke test builds the engine if needed and runs every workload on a
tiny input for a few operations, checking outputs as a full run does.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

SCRATCH = os.path.join(HERE, ".work", "tests")


class PercentileChoice(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(99))
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(199), 90.0)
        self.assertEqual(metrics.tail_percentile(200), 95.0)
        self.assertEqual(metrics.tail_percentile(999), 95.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile([7.0], 90), 7.0)
        self.assertEqual(metrics.percentile(list(reversed(xs)), 99), 99)


def span(i, parent, start, end, kind="x"):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end, "kind": kind}


class SelfTime(unittest.TestCase):
    def test_nested(self):
        # op 0..100 ⊃ build 0..10, execute 10..90 ⊃ job 20..80 ⊃ stage 30..70
        spans = [span(0, -1, 0, 100), span(1, 0, 0, 10), span(2, 0, 10, 90),
                 span(3, 2, 20, 80), span(4, 3, 30, 70)]
        st = metrics.self_times(spans, 0)
        self.assertEqual(st, {0: 10, 1: 10, 2: 20, 3: 20, 4: 40})
        self.assertEqual(sum(st.values()), 100)

    def test_overlapping_siblings_and_clipping(self):
        # two concurrent jobs under one execute span; the second overruns it
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 60), span(2, 1, 20, 50),
                 span(3, 1, 30, 70), span(4, 3, 40, 45)]
        st = metrics.self_times(spans, 0)
        self.assertEqual(sum(st.values()), 100)
        self.assertEqual(st[0], 50)          # 0..10 and 60..100
        self.assertEqual(st[4], 5)           # deepest wins 40..45
        self.assertEqual(st[3], 25)          # 30..40 and 45..60 (later start wins ties)
        self.assertEqual(st[2], 10)          # 20..30
        self.assertEqual(st[1], 10)          # 10..20

    def test_only_the_subtree_counts(self):
        spans = [span(0, -1, 0, 10), span(1, -1, 10, 20), span(2, 1, 12, 18)]
        self.assertEqual(metrics.self_times(spans, 1), {1: 4, 2: 6})

    def test_scheduler_spans_attach_to_groups(self):
        result = {"anchor_ms": 1000, "spans": [span(0, -1, 0, 50_000_000, "op"),
                                               span(1, 0, 0, 50_000_000, "execute")],
                  "recorder": {"jobs": [{"id": 7, "group": "span-1", "submit_ms": 1010,
                                         "end_ms": 1040, "stage_ids": [3]}],
                               "stages": [{"id": 3, "attempt": 0, "submit_ms": 1012,
                                           "complete_ms": 1030}]}}
        extra = metrics.scheduler_spans(result)
        job, stage = extra
        self.assertEqual((job["parent"], job["start_ns"], job["end_ns"]), (1, 10_000_000, 40_000_000))
        self.assertEqual(stage["parent"], job["id"])
        st = metrics.self_times(result["spans"] + extra, 0)
        self.assertEqual(sum(st.values()), 50_000_000)


class SeedDeterminism(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in gen.GENERATORS:
            a, b, c = (os.path.join(SCRATCH, w, x) for x in "abc")
            gen.generate(w, 7, "smoke", a)
            gen.generate(w, 7, "smoke", b)
            gen.generate(w, 8, "smoke", c)
            files = sorted(os.listdir(a))
            self.assertEqual(files, sorted(os.listdir(b)))
            _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)
            parquet = [f for f in files if f.endswith(".parquet")]
            _, mismatch, _ = filecmp.cmpfiles(a, c, parquet, shallow=False)
            self.assertEqual(sorted(mismatch), parquet, w)


@unittest.skipUnless(os.environ.get("PERFBENCH_SMOKE") == "1", "set PERFBENCH_SMOKE=1")
class Smoke(unittest.TestCase):
    def test_every_workload(self):
        for w in gen.GENERATORS:
            for trace in ("0", "1"):
                p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                    "--seed", "3", "--seconds", "2", "--trace", trace, "--smoke"],
                                   capture_output=True, text=True, timeout=600)
                self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                out = json.loads(p.stdout.strip().splitlines()[-1])
                self.assertTrue(out["correct"], (w, trace, p.stdout[-3000:]))
                self.assertEqual(out["failed"], 0)
                self.assertGreater(out["attempted"], 0)


if __name__ == "__main__":
    unittest.main()
