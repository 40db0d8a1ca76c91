"""Tests for scripts/jfr_profile.py on a small hand-made sample file.

Run: python3 -m unittest discover scripts/tests
"""
import io
import json
import os
import sys
import unittest
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import jfr_profile  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "jfr_samples.json")


class JfrProfileTest(unittest.TestCase):

    def setUp(self):
        with open(FIXTURE) as f:
            self.samples = jfr_profile.load_samples(json.load(f))

    def test_loads_only_execution_samples_with_dotted_frames(self):
        self.assertEqual(len(self.samples), 10)
        self.assertEqual(self.samples[1][2][1], "graft.tables.ManagedTable.writeCommit")

    def test_parses_nanosecond_timestamps(self):
        t = jfr_profile.parse_time
        self.assertEqual(t("2026-10-18T10:00:01.600000001Z") - t("2026-10-18T10:00:01.5Z"),
                         100_000_001)
        self.assertEqual(t("2026-10-18T12:00:00+02:00"), t("2026-10-18T10:00:00Z"))

    def test_categories_over_the_op_window(self):
        s = jfr_profile.summarize(self.samples, "runOp")
        lo, hi = s["window_ns"]
        self.assertEqual(hi - lo, 1_500_000_000)
        self.assertEqual(s["samples"], 8)  # setup and the trailing sample are out
        # an unmatched parquet leaf is charged to the writer frame above it
        self.assertEqual(dict(s["categories"]), {
            "closure cleaner": 1, "parquet dictionary": 1, "parquet write": 2,
            "hadoop conf": 1, "codegen": 1, "other": 2})

    def test_driver_samples_charge_the_leaf_most_graft_frame(self):
        s = jfr_profile.summarize(self.samples, "runOp")
        self.assertEqual(s["driver_samples"], 3)
        self.assertEqual(dict(s["driver_frames"]), {
            "graft.tables.ManagedTable.writeCommit": 1,
            "graft.pipeline.Processing.source": 1,
            "(no graft frame)": 1})

    def test_without_an_op_frame_the_whole_recording_counts(self):
        s = jfr_profile.summarize(self.samples, "noSuchFrame")
        self.assertEqual(s["window_ns"], (None, None))
        self.assertEqual(s["samples"], 10)
        self.assertEqual(s["driver_samples"], 0)

    def test_cli_prints_both_tables(self):
        buf = io.StringIO()
        with redirect_stdout(buf):
            jfr_profile.main([FIXTURE])
        out = buf.getvalue()
        self.assertIn("op window: 1.500 s, 8 samples", out)
        self.assertIn("parquet dictionary", out)
        self.assertIn("graft.tables.ManagedTable.writeCommit", out)
        self.assertRegex(out, r"other\s+2\s+25\.0%")


if __name__ == "__main__":
    unittest.main()
