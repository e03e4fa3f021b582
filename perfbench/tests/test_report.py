"""Summary statistics and per-call accounting of the benchmark.

    python3 -m unittest discover -s perfbench/tests
"""
import statistics
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import report  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median_and_quartiles(self):
        vals = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(report.median(vals), 3.0)
        self.assertEqual(report.median([]), 0.0)
        self.assertEqual(report.quartiles(vals), tuple(statistics.quantiles(vals, n=4)))
        self.assertEqual(report.quartiles([7.0]), (7.0, 7.0, 7.0))

    def test_tail_keeps_ten_samples_beyond(self):
        vals = [float(i) for i in range(1, 101)]  # 1..100
        pct, v = report.tail(vals)
        self.assertEqual(v, 90.0)
        self.assertEqual(sum(1 for x in vals if x > v), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_tail_order_independent(self):
        vals = [float((i * 37) % 53) for i in range(53)]
        self.assertEqual(report.tail(vals), report.tail(sorted(vals)))
        pct, v = report.tail(vals)
        self.assertEqual(sum(1 for x in vals if x > v), 10)
        self.assertAlmostEqual(pct, 100.0 * 43 / 53)

    def test_tail_with_too_few_samples_is_the_maximum(self):
        self.assertEqual(report.tail([3.0, 1.0, 2.0]), (100.0, 3.0))
        self.assertEqual(report.tail([]), (0.0, 0.0))
        # below 21 samples the tenth-from-top would sit below the median
        self.assertEqual(report.tail([float(i) for i in range(11)]), (100.0, 10.0))
        self.assertEqual(report.tail([float(i) for i in range(21)]), (100.0 * 11 / 21, 10.0))

    def test_geomean(self):
        self.assertAlmostEqual(report.geomean([1.0, 100.0]), 10.0)
        self.assertEqual(report.geomean([]), 0.0)

    def test_covered_ms_merges_and_clips(self):
        self.assertEqual(report.covered_ms(0, 100, []), 0.0)
        self.assertEqual(report.covered_ms(0, 100, [(10, 20), (15, 30), (50, 60)]), 30.0)
        self.assertEqual(report.covered_ms(0, 100, [(-10, 5), (95, 120)]), 10.0)
        self.assertEqual(report.covered_ms(0, 100, [(200, 300)]), 0.0)


def _call(op, kind, cls, window, start, end, rows=1, ok=True, extra=None):
    return {"op": op, "kind": kind, "cls": cls, "window": window, "start_ms": start,
            "end_ms": end, "cpu_ms": 2 * (end - start), "rows": rows, "ok": ok, "note": "",
            "extra": extra or {}}


class AccountingTest(unittest.TestCase):
    def raw(self):
        calls = [
            _call("op1", "append", "commit", 0, 0, 100, rows=10),
            _call("op2", "box_manifest", "read", 0, 100, 130),
            _call("op3", "append", "commit", 0, 130, 330, rows=10),
            _call("op4", "compact", "commit", 0, 330, 1330, rows=0),
            _call("op5", "box_manifest", "read", 0, 1330, 1340, ok=False),
            _call("op6", "append", "commit", 1, 2000, 2100, rows=10),
            _call("op7", "box_manifest", "read", 1, 2100, 2150,
                  extra={"files_planned": 2.0, "files_live": 8.0, "rows_scanned": 4.0}),
            _call("op8", "append", "commit", 2, 3000, 3120, rows=10),
            _call("op9", "box_manifest", "read", 2, 3120, 3150),
        ]
        spans = [{"id": 0, "parent": -1, "op": "", "name": "window0", "start_ms": 0, "end_ms": 1340},
                 {"id": 1, "parent": -1, "op": "", "name": "window1", "start_ms": 2000, "end_ms": 2150},
                 {"id": 2, "parent": -1, "op": "op7", "name": "plan", "start_ms": 2100, "end_ms": 2110}]
        facts = {"layout_bytes": 640, "live_row_bytes": 320, "end": {"files_live": 8}}
        return {
            "setup": {"session_s": 1.0, "build_s": [3.0, 1.0, 2.0], "warm_s": 0.5},
            "calls": calls, "spans": spans, "peak_rss_mb": 100.0, "live_heap_mb": 50.0,
            "windows": [{"window": 0, "traced": False, "load": {}, "facts": facts},
                        {"window": 1, "traced": True, "load": {}, "facts": facts},
                        {"window": 2, "traced": False, "load": {}, "facts": facts}],
            "engine": {"jobs": [{"id": 0, "op": "op6", "start_ms": 2010, "end_ms": 2050}],
                       "per_op": {"op6": {"tasks": 4.0, "output_bytes": 640.0}},
                       "phases": [], "cached_peak_bytes": 2 ** 20},
        }

    def test_end_to_end(self):
        m = report.end_to_end(self.raw())
        self.assertEqual(m["setup_s"], (1.0 + 2.0 + 0.5, "s"))
        # each class on its own: reads and commits; compactions excluded
        self.assertAlmostEqual(m["read_p50_ms"][0], 20.0)
        self.assertAlmostEqual(m["write_p50_ms"][0], 150.0)
        self.assertEqual(set(m), {"setup_s", "read_p50_ms", "write_p50_ms", "peak_rss_mb"})

    def test_classes_weigh_kinds_equally(self):
        raw = self.raw()
        raw["calls"] = [
            _call("a", "q_tracks", "batch", 0, 0, 100),
            _call("b", "q_tracks", "batch", 0, 100, 200),
            _call("c", "q_segdiff", "batch", 0, 200, 600),
            _call("d", "q_blockmedian", "batch", 0, 600, 650),
            _call("e", "release", "release", 0, 650, 900),
        ]
        raw["windows"][0]["facts"] = {"products": ["q_blockmedian"]}
        f = report.window_figures(raw, 0)
        # a batch stage whose output the pass keeps is a write; releases are neither
        self.assertAlmostEqual(f["read_p50_ms"], (100.0 * 400.0) ** 0.5)
        self.assertAlmostEqual(f["write_p50_ms"], 50.0)

    def test_failures_count_against_attempts(self):
        r = report.result(self.raw(), [{"name": "q", "ok": False}], traced=False)
        self.assertEqual((r["attempted"], r["failed"], r["correct"]), (9, 2, False))

    def test_per_layer(self):
        m = report.per_layer(self.raw())
        self.assertEqual(m["sources.commit_jobs"][0], 1.0)
        self.assertEqual(m["sources.commit_driver_ms"][0], 60.0)
        self.assertEqual(m["sources.bytes_written_per_user_byte"][0], 2.0)
        self.assertEqual(m["sources.prune_ratio"][0], 0.25)
        self.assertEqual(m["sources.plan_ms"][0], 10.0)
        self.assertEqual(m["calls.commit_tail_ms"][0], 1000.0)
        self.assertAlmostEqual(m["calls.per_s"][0], 5 / 1.34)
        self.assertAlmostEqual(m["calls.cpu_ms"][0], 2 * (150.0 * 20.0) ** 0.5)
        self.assertEqual(m["calls.space_amp"][0], 2.0)
        self.assertEqual(m["core.cached_mb"][0], 1.0)
        # traced window 1 against the mean of untraced windows 0 and 2
        self.assertAlmostEqual(m["trace.read_p50_ms_delta"][0], 50.0 - (20.0 + 30.0) / 2)
        self.assertAlmostEqual(m["trace.write_p50_ms_delta"][0], 100.0 - (150.0 + 120.0) / 2)
        self.assertEqual(m["spark.commit.driver_self_ms"][0], 60.0)
        self.assertEqual(m["operators.crossovers_s"][0], 0.0)

    def test_points_per_s_counts_complete_passes(self):
        raw = self.raw()
        raw["calls"] = [
            _call("a", "q_tracks", "batch", 0, 0, 100, extra={"pass": 1.0}),
            _call("b", "release", "release", 0, 100, 110, extra={"pass": 1.0}),
            _call("c", "q_tracks", "batch", 0, 110, 400, extra={"pass": 2.0}),
        ]
        raw["windows"][0]["facts"] = {"input_rows": 1100}
        self.assertAlmostEqual(report.per_layer(raw)["calls.points_per_s"][0], 1100 / 0.11)


if __name__ == "__main__":
    unittest.main()
