import json
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
# scratch space inside the checkout, next to the benchmark's own runs
SCRATCH = os.path.join(os.path.dirname(HERE), ".bench_build", "tests")
os.makedirs(SCRATCH, exist_ok=True)

import checks  # noqa: E402
import gen  # noqa: E402

ORACLE = "SELECT source AS sink, count(*) AS records FROM documents GROUP BY 1"


class ReportCheckTest(unittest.TestCase):
    """A sink table laid out as graft.table.SinkTable writes it, routed by
    source, checked the way the ingest workloads are."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory(dir=SCRATCH)
        t = self.tmp.name
        self.docs = gen.documents(5, 300)
        pq.write_table(self.docs, os.path.join(t, "documents.parquet"))
        self.sink = os.path.join(t, "sink")
        os.makedirs(os.path.join(self.sink, "_manifests"))
        os.makedirs(os.path.join(self.sink, "data", "commit=000000000001"))
        with open(os.path.join(self.sink, "_manifests", "000000000001.json"), "w") as f:
            json.dump({"commit_id": 1, "rows": 300, "max_line_no": 299, "partitions": []}, f)
        self.write_sink(self.docs)
        # an uncommitted commit (no manifest) must stay invisible
        os.makedirs(os.path.join(self.sink, "data", "commit=000000000002"))
        pq.write_table(self.docs.slice(0, 10),
                       os.path.join(self.sink, "data", "commit=000000000002", "part-0.parquet"))
        self.con = checks.connect(os.path.join(t, "duckdb"))
        report = os.path.join(t, "report")
        os.makedirs(report)
        self.con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet('%s')"
                         % os.path.join(t, "documents.parquet"))
        self.con.execute("COPY (%s) TO '%s' (FORMAT PARQUET)"
                         % (ORACLE, os.path.join(report, "part-0.parquet")))
        self.spec = {"docs": os.path.join(t, "documents.parquet"), "report": report,
                     "oracle": "test", "oracle_sql": ORACLE, "sink": self.sink,
                     "expected_rows": 300, "unique_doc_ids": True}

    def tearDown(self):
        self.con.close()
        self.tmp.cleanup()

    def write_sink(self, rows):
        pq.write_table(rows, os.path.join(self.sink, "data", "commit=000000000001",
                                          "part-0.parquet"))

    def test_intact_table_passes(self):
        self.assertEqual(checks.check_report(self.con, self.spec), [])

    def test_dropping_one_sink_row_fails(self):
        self.write_sink(self.docs.slice(1))
        problems = checks.check_report(self.con, self.spec)
        self.assertEqual(problems, ["sink rows 299 != input rows 300"])

    def test_duplicate_doc_id_fails(self):
        # row count intact, but one row replaced by a copy of another
        self.write_sink(pa.concat_tables([self.docs.slice(1), self.docs.slice(1, 1)]))
        problems = checks.check_report(self.con, self.spec)
        self.assertEqual(problems, ["1 duplicate doc_id rows committed"])

    def test_report_differing_from_oracle_fails(self):
        report = os.path.join(self.spec["report"], "part-0.parquet")
        t = pq.read_table(report)
        pq.write_table(t.set_column(1, "records", pc.add(t.column("records"), 1)), report)
        problems = checks.check_report(self.con, self.spec)
        self.assertEqual(problems, ["report vs oracle test: row hash mismatch"])


class CanonTest(unittest.TestCase):
    def test_hash_ignores_row_and_column_order(self):
        a = (["x", "y"], [(1, "a"), (2, "b")])
        b = (["y", "x"], [("b", 2), ("a", 1)])
        self.assertIsNone(checks.same_result(a, b))

    def test_floats_compare_to_nine_places(self):
        self.assertIsNone(checks.same_result((["v"], [(0.1 + 0.2,)]), (["v"], [(0.3,)])))
        self.assertIsNotNone(checks.same_result((["v"], [(0.3001,)]), (["v"], [(0.3,)])))


if __name__ == "__main__":
    unittest.main()
