"""Tiny-scale smoke of every workload with its output checks on.

Each workload runs at 1/100 of its size (about the sf0.001 corpus) for
six seconds a window, long enough for a lake_cdc cycle to reach its
reads, traced, so both the untraced window behind the
end-to-end metrics and the traced one behind the per-layer metrics
run.  Builds the engine on first use.

    python3 -m unittest perfbench.tests.test_smoke
"""
import io
import json
import sys
import unittest
from contextlib import redirect_stdout
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
import report  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


class SmokeTest(unittest.TestCase):
    def run_workload(self, name):
        out = io.StringIO()
        with redirect_stdout(out):
            rc = run.main(["--workload", name, "--seed", "7", "--seconds", "6",
                           "--trace", "1", "--scale", "0.01"])
        self.assertEqual(rc, 0)
        lines = out.getvalue().strip().splitlines()
        detail, result = json.loads(lines[-2]), json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], detail["failures"] or detail["oracle"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in SPEC["per_layer"]})
        raw = json.loads((run.RUNS / f"last-{name}-trace1.json").read_text())["raw"]
        e2e = report.end_to_end(raw)
        self.assertEqual(set(e2e), {m["name"] for m in SPEC["end_to_end"]})
        for m in SPEC["end_to_end"]:
            self.assertGreater(e2e[m["name"]][0], 0, m["name"])
            self.assertEqual(e2e[m["name"]][1], m["unit"])
        return detail, result

    def test_lake_cdc(self):
        _, r = self.run_workload("lake_cdc")
        self.assertGreater(r["metrics"]["sources.files_planned_per_read"]["value"], 0)
        self.assertGreater(r["metrics"]["sources.commit_jobs"]["value"], 0)
        self.assertGreater(r["metrics"]["calls.space_amp"]["value"], 0)

    def test_altimetry_batch(self):
        detail, r = self.run_workload("altimetry_batch")
        # every stage of the warm pass, and the five products of the last measured pass
        self.assertEqual(len(detail["oracle"]), 16)
        self.assertTrue(all(o["ok"] for o in detail["oracle"]), detail["oracle"])


if __name__ == "__main__":
    unittest.main()
