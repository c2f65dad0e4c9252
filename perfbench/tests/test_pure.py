"""Tests for the benchmark's pure parts.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import gen    # noqa: E402
import run    # noqa: E402
import stats  # noqa: E402

SRC = os.environ.get("PERFBENCH_TEST_SRC", os.path.expanduser("~/testdata/sf0.001"))


def scratch_dir():
    """A fresh directory under perfbench/.work, which git ignores."""
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    return tempfile.mkdtemp(dir=os.path.join(HERE, ".work"))


def read(path):
    with open(path) as f:
        return f.read()


class SummaryTest(unittest.TestCase):
    def test_too_few_samples_for_a_percentile(self):
        s = stats.summary([3.0, 1.0, 2.0, 5.0, 4.0])
        self.assertEqual((s["n"], s["median"], s["pct"]), (5, 3.0, None))

    def test_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.summary(range(10))["pct"])
        self.assertEqual(stats.summary(range(20))["pct"], 50.0)
        self.assertEqual(stats.summary(range(99))["pct"], 50.0)
        s = stats.summary(range(100))
        self.assertEqual((s["n"], s["pct"], s["pct_value"]), (100, 90.0, 89))
        self.assertEqual(stats.summary(range(1000))["pct"], 99.0)
        self.assertEqual(stats.summary(range(10000))["pct"], 99.9)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "start_s": a, "end_s": b}

    def test_children_overlaps_merged_and_clipped(self):
        spans = [self.span(1, 0, 0.0, 10.0),
                 self.span(2, 1, 1.0, 3.0), self.span(3, 1, 2.0, 5.0),
                 self.span(4, 1, 7.0, 8.0), self.span(5, 1, 9.5, 12.0),
                 self.span(6, 3, 2.5, 4.0)]
        st = stats.self_times(spans)
        # parent covered by [1,5] + [7,8] + [9.5,10] = 5.5
        self.assertAlmostEqual(st[1], 4.5)
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[3], 3.0 - 1.5)
        self.assertAlmostEqual(st[6], 1.5)

    def test_leaf_self_is_duration(self):
        st = stats.self_times([self.span(7, 0, 1.0, 1.25)])
        self.assertAlmostEqual(st[7], 0.25)


class FailureCountTest(unittest.TestCase):
    def test_exception_and_mismatch_both_count(self):
        recs = [{"name": "a"},
                {"name": "b", "error": "boom"},
                {"name": "c"},
                {"name": "a", "consistent": False},
                {"name": "d", "consistent": True},
                {"name": "c", "consistent": True}]
        verdicts = {"a": True, "c": False, "d": True}
        # b raised, the second a changed its result, both c runs mismatch
        self.assertEqual(stats.count_failures(recs, verdicts), (6, 4))

    def test_all_good(self):
        recs = [{"name": "a", "consistent": True}]
        self.assertEqual(stats.count_failures(recs, {"a": True}), (1, 0))


class DigestTest(unittest.TestCase):
    def test_reference_compare_rule(self):
        import pandas as pd
        a = pd.DataFrame({"y": [1.0, -0.0, float("nan")], "x": ["p", "q", "r"]})
        b = pd.DataFrame({"x": ["p", "q", "r"], "y": [1.0, 0.0, float("nan")]})
        self.assertTrue(stats.digests_match(stats.frame_digest(a),
                                            stats.frame_digest(b)))
        c = b.iloc[::-1].reset_index(drop=True)   # same rows, other order
        self.assertTrue(stats.digests_match(stats.frame_digest(c),
                                            stats.frame_digest(b)))
        d = pd.DataFrame({"x": ["p", "q", "r"], "y": [1.0, 0.5, float("nan")]})
        self.assertFalse(stats.digests_match(stats.frame_digest(d),
                                             stats.frame_digest(b)))
        e = b.astype({"y": "float32"})
        self.assertFalse(stats.digests_match(stats.frame_digest(e),
                                             stats.frame_digest(b)))


@unittest.skipUnless(os.path.isfile(f"{SRC}/lineitem.parquet"), "no source tables")
class LockTest(unittest.TestCase):
    def setUp(self):
        self.dir = scratch_dir()
        self.saved = (run.LOCK, run.LOCK_WAIT_S)
        run.LOCK = os.path.join(self.dir, ".graft_gate.lock")

    def tearDown(self):
        run.LOCK, run.LOCK_WAIT_S = self.saved
        shutil.rmtree(self.dir)

    def write_lock(self, age_s):
        with open(run.LOCK, "w") as f:
            f.write("other 1")
        t = time.time() - age_s
        os.utime(run.LOCK, (t, t))

    def test_stale_lock_is_stolen(self):
        self.write_lock(run.LOCK_STALE_S + 60)
        run.acquire_lock()
        self.assertTrue(read(run.LOCK).startswith("perfbench "))
        self.assertEqual(os.listdir(self.dir), [".graft_gate.lock"])
        run.release_lock()
        self.assertFalse(os.path.exists(run.LOCK))

    def test_live_lock_fails_the_run_and_is_left_alone(self):
        self.write_lock(5)
        run.LOCK_WAIT_S = 1.5
        with self.assertRaises(SystemExit):
            run.acquire_lock()
        self.assertEqual(read(run.LOCK), "other 1")


class CleanupTest(unittest.TestCase):
    def test_only_this_runs_tables_are_removed(self):
        root = scratch_dir()
        try:
            work = "/w/perfbench/.work/tpch_warm-1-12"
            mine = [run.table_suffix(f"{work}/setup{r}") for r in range(3)]
            names = ["tradeedges" + mine[0], "tradeedges" + mine[2],
                     ("orders_bj" + mine[1]).lower(),
                     "tradeedges" + run.table_suffix(
                         "/w/perfbench/.work/tpch_warm-1-123/setup0"),
                     "copairs_root_testdata_sf0_01"]
            for n in names:
                os.makedirs(os.path.join(root, n))
            run.remove_tables(root, run.table_suffix(work + "/"), existed=True)
            self.assertEqual(sorted(os.listdir(root)), sorted(names[3:]))
        finally:
            shutil.rmtree(root)

    def test_dir_made_by_the_run_goes_when_empty(self):
        parent = scratch_dir()
        try:
            path = os.path.join(parent, "graft-index")
            os.makedirs(os.path.join(path, "t_w_1_"))
            run.remove_tables(path, "_w_1_", existed=False)
            self.assertFalse(os.path.exists(path))
        finally:
            shutil.rmtree(parent)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = os.path.join(HERE, ".work", f"test-{os.getpid()}")
        os.makedirs(self.tmp)
        self.src_state = {f: os.stat(os.path.join(SRC, f)).st_mtime_ns
                          for f in os.listdir(SRC)}

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def test_seed_determines_every_table(self):
        info = gen.generate(SRC, f"{self.tmp}/a", 2, 5)
        gen.generate(SRC, f"{self.tmp}/b", 2, 5)
        gen.generate(SRC, f"{self.tmp}/c", 2, 6)
        ha, hb, hc = (gen.table_hashes(f"{self.tmp}/{x}") for x in "abc")
        self.assertEqual(ha, hb)
        for t in gen.TABLES:
            if info[t]["rows"] >= 20:
                self.assertNotEqual(ha[t], hc[t], t)
        self.assertEqual(info["lineitem"]["rows"] % 2, 0)
        self.assertGreater(info["lineitem"]["bytes"], 0)
        # the source is only read
        self.assertEqual(self.src_state, {f: os.stat(os.path.join(SRC, f)).st_mtime_ns
                                          for f in os.listdir(SRC)})


if __name__ == "__main__":
    unittest.main()
