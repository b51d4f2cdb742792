import os
import sys
import unittest
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import spans  # noqa: E402


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name,
            "attrs": {}, "gc_s": 0.0, "codegen_compiles": 0}


class SelfTimeTest(unittest.TestCase):
    def test_covered_merges_overlaps_and_clips(self):
        self.assertAlmostEqual(spans.covered(0, 10, [(1, 3), (2, 5), (7, 8)]), 5.0)
        self.assertAlmostEqual(spans.covered(0, 10, [(-2, 1), (9, 12)]), 2.0)
        self.assertAlmostEqual(spans.covered(0, 10, [(3, 3), (11, 12)]), 0.0)
        self.assertAlmostEqual(spans.covered(0, 10, []), 0.0)

    def test_self_time_is_span_minus_children(self):
        got = spans.self_times([span(0, -1, 0, 10), span(1, 0, 1, 4), span(2, 0, 6, 7),
                                span(3, 1, 2, 3)])
        self.assertAlmostEqual(got[0], 10 - 3 - 1)
        self.assertAlmostEqual(got[1], 3 - 1)
        self.assertAlmostEqual(got[2], 1)
        self.assertAlmostEqual(got[3], 1)

    def test_driver_gap_is_time_no_job_ran(self):
        recs = defaultdict(list)
        recs["span"] = [span(0, -1, 0, 10, "op"), span(1, 0, 2, 6, "inner")]
        recs["job"] = [{"span": 0, "start": 1, "end": 3}, {"span": 1, "start": 2.5, "end": 5}]
        self.assertAlmostEqual(spans.Trace(recs).driver_gap(0), 10 - 4)

    def test_sql_lands_in_innermost_open_span(self):
        recs = defaultdict(list)
        recs["span"] = [span(0, -1, 0, 10), span(1, 0, 2, 6), span(2, 0, 7, 9)]
        recs["sql"] = [{"phases": {"analysis": [2.0, 2.5], "planning": [3.0, 3.5]}},
                       {"phases": {"planning": [6.5, 6.8]}}]
        t = spans.Trace(recs)
        self.assertEqual(len(t.sqls[1]), 1)
        self.assertEqual(len(t.sqls[0]), 1)
        self.assertAlmostEqual(t.plan_ms(0), 500 + 500 + 300)

    def test_prefix_layers_are_median_differences(self):
        recs = defaultdict(list)
        i = 0
        for name, durs in [("a", [1.0, 1.2, 5.0]), ("b", [1.5, 1.6, 1.7]), ("c", [1.4, 1.5, 1.5])]:
            for d in durs:
                recs["span"].append(span(i, -1, 100.0 * i, 100.0 * i + d, "prefix." + name))
                i += 1
        lay = spans.prefix_layers(spans.Trace(recs), ["a", "b", "c"])
        self.assertAlmostEqual(lay["a"]["s"], 1.2)
        self.assertAlmostEqual(lay["b"]["s"], 0.4)
        self.assertAlmostEqual(lay["c"]["s"], 0.0)  # non-monotone prefix reads 0

    def test_useful_ratio_counts_only_the_scans_that_feed_parse(self):
        recs = defaultdict(list)
        recs["span"] = [span(0, -1, 0, 10, "op"), span(1, 0, 1, 9, "pipeline.run")]
        recs["span"][0]["attrs"]["committed_rows"] = 500
        docs = "/t/documents.parquet"
        recs["sql"] = [{"phases": {"planning": [2.0, 2.1]}, "scans": [
            {"path": docs, "columns": ["doc_id", "text"], "rows": 5500},  # parse input
            {"path": docs, "columns": ["source"], "rows": 5500},  # the enrich dimension
            {"path": "/t/out/data/commit=2", "columns": ["line_no"], "rows": 500}]}]
        t = spans.Trace(recs)
        self.assertAlmostEqual(spans.useful_ratio(t, [0], "ingest_tail"), 500 / 5500)


if __name__ == "__main__":
    unittest.main()
