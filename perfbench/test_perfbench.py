"""Tests of the benchmark's own logic (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import tempfile
import unittest
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import build
import inputs
import metrics
import run


def span(i, parent, start, end, name="s", **attrs):
    return {"id": i, "parent": parent, "name": name, "start_ms": start,
            "end_ms": end, "ok": True, "attrs": attrs}


class TailRule(unittest.TestCase):
    def test_known_sizes(self):
        self.assertIsNone(metrics.tail_rank(10))
        self.assertEqual(metrics.tail_rank(11), (9, 1))
        self.assertEqual(metrics.tail_rank(20), (50, 10))
        self.assertEqual(metrics.tail_rank(100), (90, 90))
        self.assertEqual(metrics.tail_rank(1000), (99, 990))

    def test_highest_percentile_with_ten_beyond(self):
        for n in range(11, 600):
            p, rank = metrics.tail_rank(n)
            self.assertGreaterEqual(n - rank, 10, n)
            # one whole percentile higher would leave fewer than ten beyond
            if p < 99:
                self.assertLess(n - ((p + 1) * n + 99) // 100, 10, n)

    def test_summary_values(self):
        s = metrics.latency_summary([float(x) for x in range(1, 101)])
        self.assertEqual((s["p50"], s["tail"], s["tail_pct"]), (50.5, 90.0, 90))
        few = metrics.latency_summary([3.0, 1.0, 2.0])
        self.assertEqual((few["tail"], few["tail_pct"], few["tail_has_10_beyond"]),
                         (3.0, 100, False))


class Generator(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.base = Path(self.tmp.name) / "base"
        self.base.mkdir()
        n = 5000
        pq.write_table(pa.table({
            "doc_id": pa.array(range(n), pa.int64()),
            "text": [f"doc {i} text {i % 97}" for i in range(n)],
        }), self.base / "documents.parquet", row_group_size=1000)
        for name, key in (("events", "event_id"), ("orders", "o_orderkey"),
                          ("customer", "c_custkey")):
            pq.write_table(pa.table({key: pa.array(range(n), pa.int64())}),
                           self.base / f"{name}.parquet")
        for name in ("nation", "region"):
            pq.write_table(pa.table({"k": [1, 2]}), self.base / f"{name}.parquet")

    def tearDown(self):
        self.tmp.cleanup()

    def lake(self, workload, seed, tag):
        dest = Path(self.tmp.name) / tag
        h, _ = inputs.make_lake(self.base, dest, workload, seed)
        return h, {f.name: f.read_bytes() for f in sorted(dest.glob("*.parquet"))}

    def test_same_seed_same_inputs(self):
        for wl in inputs.LAKES:
            h1, files1 = self.lake(wl, 7, f"{wl}-a")
            h2, files2 = self.lake(wl, 7, f"{wl}-b")
            self.assertEqual(h1, h2)
            self.assertEqual(files1, files2)
        self.assertEqual(inputs.analyst_calls(7, 3), inputs.analyst_calls(7, 3))

    def test_other_seed_other_inputs(self):
        for wl in inputs.LAKES:
            self.assertNotEqual(self.lake(wl, 7, f"{wl}-a")[0], self.lake(wl, 8, f"{wl}-b")[0])
        self.assertNotEqual(inputs.analyst_calls(7, 3), inputs.analyst_calls(8, 3))

    def test_rounds_hold_every_query_once(self):
        calls = inputs.analyst_calls(3, 4)
        q = len(inputs.ANALYST_QUERIES)
        for r in range(4):
            self.assertEqual(sorted(calls[r * q:(r + 1) * q]), sorted(inputs.ANALYST_QUERIES))

    def test_feed(self):
        lake = Path(self.tmp.name) / "lake"
        inputs.make_lake(self.base, lake, "release_cold", 7)
        d = Path(self.tmp.name)
        h1 = inputs.make_feed(lake, d / "f1.parquet", 7, 50, 4)
        h2 = inputs.make_feed(lake, d / "f2.parquet", 7, 50, 4)
        h3 = inputs.make_feed(lake, d / "f3.parquet", 8, 50, 4)
        self.assertEqual(h1, h2)
        self.assertNotEqual(h1, h3)
        f = pq.read_table(d / "f1.parquet").to_pydict()
        self.assertEqual(f["doc_id"], list(range(200)))
        self.assertEqual(f["trigger"], [i // 50 for i in range(200)])


class Spans(unittest.TestCase):
    def test_nesting(self):
        ok = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 1, 20, 30),
              span(3, 0, 50, 90)]
        self.assertEqual(metrics.nesting_errors(ok), [])
        bad = ok + [span(4, 3, 85, 95)]
        self.assertEqual(len(metrics.nesting_errors(bad)), 1)
        self.assertEqual(len(metrics.nesting_errors([span(0, 5, 0, 1)])), 1)

    def test_self_time_is_duration_minus_child_coverage(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 30, 60),
                 span(3, 0, 70, 80), span(4, 1, 15, 25)]
        selfs = metrics.self_ms(spans)
        self.assertEqual(selfs[0], 100 - 50 - 10)  # [10,60) overlapped once, [70,80)
        self.assertEqual(selfs[1], 30 - 10)
        self.assertEqual(selfs[4], 10)
        for s in spans:
            self.assertLessEqual(selfs[s["id"]], metrics.dur_ms(s))

    def test_innermost_attribution(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 1, 20, 30)]
        self.assertEqual(metrics.innermost(spans, 25), 2)
        self.assertEqual(metrics.innermost(spans, 35), 1)
        self.assertEqual(metrics.innermost(spans, 95), 0)
        self.assertIsNone(metrics.innermost(spans, 150))


class Counts(unittest.TestCase):
    def test_timed_counts_follow_seconds_only(self):
        self.assertEqual(run.analyst_rounds(10), 2)
        self.assertEqual(run.analyst_rounds(1), 2)
        self.assertEqual(run.analyst_rounds(30), 6)
        self.assertEqual(run.timed_triggers(10), 6)
        self.assertEqual(run.timed_triggers(1), 4)
        for sec in range(1, 61):
            self.assertEqual(run.timed_triggers(sec) % 2, 0, sec)


class Overhead(unittest.TestCase):
    def test_per_query_pairs_ignore_the_traced_mix(self):
        # a slow query traced twice, a fast one once: the raw means differ
        # by the mix, the per-query pairs by nothing
        calls = [span(0, -1, 0, 3000, q="slow", traced=True),
                 span(1, -1, 0, 100, q="fast", traced=False),
                 span(2, -1, 0, 3000, q="slow", traced=False),
                 span(3, -1, 0, 100, q="fast", traced=True),
                 span(4, -1, 0, 3000, q="slow", traced=True),
                 span(5, -1, 0, 500, q="once", traced=True)]
        pairs = metrics.query_pairs(calls)
        self.assertEqual(sorted(pairs), [(0.1, 0.1), (3.0, 3.0)])
        self.assertAlmostEqual(metrics.overhead_share(pairs), 0.0)

    def test_neighbour_pairs_cancel_linear_growth(self):
        # every trigger 100 ms slower than the one before; traced ones
        # cost 10% more
        ops = [span(i, -1, 0, (1000 + 100 * i) * (1.1 if i % 2 == 0 else 1.0),
                    traced=i % 2 == 0) for i in range(6)]
        pairs = metrics.neighbour_pairs(ops)
        self.assertEqual(len(pairs), 3)
        self.assertEqual(pairs[0], (1.1, 1.1))  # first: only the next one
        self.assertAlmostEqual(pairs[1][1], 1.2)  # mean of 1.1 and 1.3
        self.assertAlmostEqual(metrics.overhead_share(pairs[1:]), 0.1)

    def test_no_pairs(self):
        self.assertNotEqual(metrics.overhead_share([]), metrics.overhead_share([]))  # NaN


class SbtSettings(unittest.TestCase):
    def test_reads_version_and_options(self):
        text = ('ThisBuild / scalaVersion := "2.13.17"\n'
                'scalacOptions ++= Seq(\n  "-deprecation", // why\n  "-feature",\n)\n'
                'Compile / scalacOptions += "-Xlint"\n')
        self.assertEqual(build.sbt_settings(text),
                         ("2.13.17", ["-deprecation", "-feature", "-Xlint"]))
        self.assertEqual(build.sbt_settings('scalaVersion := "2.13.17"\n'), ("2.13.17", []))

    def test_unreadable_options_stop_the_build(self):
        for text in ('scalaVersion := "2.13.17"\nscalacOptions ++= common\n',
                     'scalaVersion := "2.13.17"\nscalacOptions ++= Seq("-a", extra)\n',
                     'scalacOptions += "-a"\n'):
            with self.assertRaises(build.BuildFailed, msg=text):
                build.sbt_settings(text)

    def test_repository_build_is_readable(self):
        root = Path(__file__).resolve().parent.parent
        build.sbt_settings((root / "build.sbt").read_text())


if __name__ == "__main__":
    unittest.main()
