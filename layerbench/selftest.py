"""Self-tests of the benchmark's own statistics and span accounting.

    python3 layerbench/selftest.py

Needs neither Spark nor the library: job attribution is tested against
a stand-in for the SparkContext and its status tracker.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import unittest
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402
from spans import Tracer  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        vals = list(range(1, 101))      # 1..100
        self.assertEqual(stats.percentile(vals, 50), 50)
        self.assertEqual(stats.percentile(vals, 90), 90)
        self.assertEqual(stats.percentile(vals, 99), 99)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)

    def test_ten_samples_beyond(self):
        # p90 needs 100 samples so that 10 lie above it
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertTrue(stats.supported(100, 90))
        self.assertFalse(stats.supported(99, 90))
        self.assertEqual(stats.highest_supported(100), 90)
        self.assertEqual(stats.highest_supported(1000), 99)
        self.assertEqual(stats.highest_supported(40), 75)
        self.assertIsNone(stats.highest_supported(39))
        for n in range(1, 500):
            q = stats.highest_supported(n)
            if q is not None:
                vals = list(range(n))
                p = stats.percentile(vals, q)
                self.assertGreaterEqual(sum(v > p for v in vals), 10)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)

    def test_summary_reports_tail_only_when_supported(self):
        few = stats.summary([float(v) for v in range(39)])
        self.assertEqual((few["n"], few["p50"], few["tail"]), (39, 19.0, None))
        many = stats.summary([float(v) for v in range(100)])
        self.assertEqual((many["tail_pct"], many["tail"]), (90, 89.0))


class SelfTimeTest(unittest.TestCase):
    def test_children_subtracted_once(self):
        # parent 0..10; children 1..3 and 2..5 overlap (1..5 = 4 s) and
        # a third child sticks out past the parent's end (9..12 -> 1 s)
        self.assertAlmostEqual(
            stats.self_time(0, 10, [(1, 3), (2, 5), (9, 12)]), 5.0)

    def test_no_children(self):
        self.assertAlmostEqual(stats.self_time(2, 7, []), 5.0)

    def test_child_outside_ignored(self):
        self.assertAlmostEqual(stats.self_time(0, 4, [(5, 6)]), 4.0)

    def test_tracer_self_seconds(self):
        tr = Tracer(enabled=True)
        with tr.span("outer") as outer:
            with tr.span("inner"):
                pass
        inner = tr.named("inner")[0]
        self.assertEqual(inner.parent, outer.sid)
        want = (outer.end - outer.start) - (inner.end - inner.start)
        self.assertAlmostEqual(tr.self_seconds(outer), want, places=9)

    def test_coverage(self):
        tr = Tracer(enabled=True)
        tr.spans = []
        for sid, (s, e) in enumerate([(0, 4), (3, 6), (8, 9)]):
            tr.spans.append(SimpleNamespace(sid=sid, parent=None,
                                            start=s, end=e))
        self.assertAlmostEqual(tr.coverage(0, 10), 0.7)


class InodeBytesTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def write(self, name, n):
        with open(os.path.join(self.dir, name), "wb") as fh:
            fh.write(b"x" * n)

    def test_hard_links_count_once(self):
        self.write("a", 100)
        before = stats.inode_map(self.dir)
        # a merge-like step: one new file, one hard link to an old file,
        # one new file linked twice
        self.write("b", 30)
        os.link(os.path.join(self.dir, "a"), os.path.join(self.dir, "a2"))
        self.write("c", 7)
        os.link(os.path.join(self.dir, "c"), os.path.join(self.dir, "c2"))
        after = stats.inode_map(self.dir)
        self.assertEqual(stats.new_bytes(before, after), 37)
        self.assertEqual(stats.live_bytes(self.dir), 137)

    def test_rewritten_file_counts(self):
        self.write("a", 10)
        before = stats.inode_map(self.dir)
        self.write("b", 50)
        os.replace(os.path.join(self.dir, "b"), os.path.join(self.dir, "a"))
        after = stats.inode_map(self.dir)
        self.assertEqual(stats.new_bytes(before, after), 50)


class FakeTracker:
    """The slice of the status tracker the tracer reads."""

    def __init__(self):
        self.groups: dict[str, list[int]] = {}
        self.jobs: dict[int, SimpleNamespace] = {}
        self.stages: dict[int, SimpleNamespace] = {}

    def getJobIdsForGroup(self, group):
        return list(self.groups.get(group, []))

    def getJobInfo(self, j):
        return self.jobs.get(j)

    def getStageInfo(self, s):
        return self.stages.get(s)


class FakeContext:
    """Submits jobs under whatever job group is set, as Spark does."""

    def __init__(self):
        self.props: dict[str, str | None] = {}
        self.tracker = FakeTracker()

    def setJobGroup(self, group, description):
        self.props["spark.jobGroup.id"] = group

    def setLocalProperty(self, key, value):
        self.props[key] = value

    def statusTracker(self):
        return self.tracker

    def run_job(self, n_stages, tasks_per_stage):
        t = self.tracker
        j = len(t.jobs)
        first = len(t.stages)
        sids = list(range(first, first + n_stages))
        for s in sids:
            t.stages[s] = SimpleNamespace(numTasks=tasks_per_stage)
        t.jobs[j] = SimpleNamespace(status="SUCCEEDED", stageIds=sids)
        g = self.props.get("spark.jobGroup.id")
        if g is not None:
            t.groups.setdefault(g, []).append(j)


class JobAttributionTest(unittest.TestCase):
    def test_jobs_charged_to_innermost_span(self):
        sc = FakeContext()
        tr = Tracer(enabled=True)
        tr.sc = sc
        sc.run_job(1, 9)                         # before tracing: nobody's
        with tr.span("op"):
            sc.run_job(2, 4)                     # op itself
            with tr.span("plan"):
                sc.run_job(1, 1)
            with tr.span("collect"):
                sc.run_job(3, 2)
                with tr.span("inner"):
                    sc.run_job(1, 5)
                sc.run_job(1, 3)                 # back in collect
            sc.run_job(1, 4)                     # back in op
        sc.run_job(1, 9)                         # after: nobody's
        self.assertIsNone(sc.props["spark.jobGroup.id"])
        tr.resolve_jobs(timeout=0.1)
        by = {s.name: s for s in tr.spans}
        self.assertEqual((by["op"].jobs, by["op"].stages, by["op"].tasks),
                         (2, 3, 12))
        self.assertEqual((by["plan"].jobs, by["plan"].tasks), (1, 1))
        self.assertEqual((by["collect"].jobs, by["collect"].stages,
                          by["collect"].tasks), (2, 4, 9))
        self.assertEqual((by["inner"].jobs, by["inner"].tasks), (1, 5))
        self.assertEqual(tr.total(by["op"], "jobs"), 6)
        self.assertEqual(tr.total(by["op"], "tasks"), 27)
        self.assertEqual(tr.total(by["collect"], "stages"), 5)

    def test_disabled_tracer_sets_no_group(self):
        sc = FakeContext()
        tr = Tracer(enabled=False)
        tr.sc = sc
        with tr.span("op") as sp:
            sc.run_job(1, 1)
        self.assertIsNone(sp)
        self.assertEqual(sc.props, {})
        self.assertEqual(tr.spans, [])


if __name__ == "__main__":
    unittest.main()
