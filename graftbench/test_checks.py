"""Tests for graftbench's output checks: each plants one fault in otherwise
correct outputs and shows that the check rejects it.

Run from the repo root: python3 -m unittest graftbench/test_checks.py
"""
import json
import math
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402

LABELS = {"__name__": "up", "job": "j"}
# (name, time, value, labels) as the reference derives them; the +Inf sample
# sent alongside is dropped, the NaN one becomes null
GOOD = [("up", 1000, 1.5, LABELS), ("up", 2000, None, LABELS), ("", 0, None, {"job": "j"}),
        ("up", 3000, 42.0, LABELS)]


def line(name, time, value, labels, raw_value=None):
    v = raw_value if raw_value is not None else json.dumps(value)
    return (f'{{"name":{json.dumps(name)},"time":{time},"value":{v},'
            f'"labels":{json.dumps(labels)}}}\n')


class RelaySinkChecks(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.sink = os.path.join(self.tmp.name, "bench")
        os.makedirs(self.sink)
        n, d = checks.digest(GOOD)
        self.expect = {"records": n, "records_digest": str(d)}

    def tearDown(self):
        self.tmp.cleanup()

    def write_chunk(self, name, lines, keys):
        with open(os.path.join(self.sink, name), "w") as f:
            f.writelines(lines)
        with open(os.path.join(self.sink, f".{name}.keys"), "w") as f:
            f.writelines(json.dumps(k) + "\n" for k in keys)

    def good_lines(self):
        return [line(*r) for r in GOOD], [r[0] for r in GOOD]

    def assertRejected(self):
        self.assertTrue(checks.check_relay_sink(self.tmp.name, self.expect))

    def test_correct_sink_passes(self):
        lines, keys = self.good_lines()
        # Go renders 42.0 as 42: the same number, so the same record
        lines[3] = line(*GOOD[3], raw_value="42")
        self.write_chunk("a.jsonl", lines[:2], keys[:2])
        self.write_chunk("b.jsonl", lines[2:], keys[2:])
        self.assertEqual(checks.check_relay_sink(self.tmp.name, self.expect), [])

    def test_dropped_record(self):
        lines, keys = self.good_lines()
        self.write_chunk("a.jsonl", lines[1:], keys[1:])
        self.assertRejected()

    def test_duplicated_record(self):
        lines, keys = self.good_lines()
        self.write_chunk("a.jsonl", lines + lines[:1], keys + keys[:1])
        self.assertRejected()

    def test_nan_not_turned_into_null(self):
        lines, keys = self.good_lines()
        lines[1] = line(*GOOD[1], raw_value="NaN")
        self.write_chunk("a.jsonl", lines, keys)
        self.assertRejected()

    def test_inf_not_dropped(self):
        lines, keys = self.good_lines()
        self.write_chunk("a.jsonl", lines + [line("up", 4000, None, LABELS, "Infinity")],
                         keys + ["up"])
        self.assertRejected()

    def test_chunk_over_500_entries(self):
        records = [("up", t, float(t), LABELS) for t in range(501)]
        n, d = checks.digest(records)
        self.expect = {"records": n, "records_digest": str(d)}
        self.write_chunk("a.jsonl", [line(*r) for r in records], ["up"] * 501)
        errors = checks.check_relay_sink(self.tmp.name, self.expect)
        self.assertTrue(any("501 entries" in e for e in errors), errors)

    def test_key_differs_from_record_name(self):
        lines, keys = self.good_lines()
        keys[0] = "down"
        self.write_chunk("a.jsonl", lines, keys)
        errors = checks.check_relay_sink(self.tmp.name, self.expect)
        self.assertTrue(any("key" in e for e in errors), errors)


class HttpChecks(unittest.TestCase):
    GOOD = {"valid_sent": 19, "valid_200": 19, "corrupt_sent": 1, "corrupt_400": 1,
            "body_files": 19}

    def test_correct_statuses_pass(self):
        self.assertEqual(checks.check_http(self.GOOD), [])

    def test_corrupt_body_accepted(self):
        self.assertTrue(checks.check_http(dict(self.GOOD, corrupt_400=0, body_files=20)))


class RateChecks(unittest.TestCase):
    ROWS = [{"name": "c", "user_id": 1, "n_samples": 2, "n_resets": 0, "n_late": 0,
             "total_increase": 5.0},
            {"name": "c", "user_id": 1, "n_samples": 4, "n_resets": 1, "n_late": 0,
             "total_increase": 9.0},
            {"name": "c", "user_id": 2, "n_samples": 3, "n_resets": 0, "n_late": 0,
             "total_increase": 7.0}]
    EXPECT = {"rate_n_samples": 7, "rate_n_resets": 1, "rate_total_increase": 16}

    def run_check(self, rows, expect):
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "part-00000.json"), "w") as f:
                f.writelines(json.dumps(r) + "\n" for r in rows)
            return checks.check_rate(d, expect)

    def test_correct_totals_pass(self):
        self.assertEqual(self.run_check(self.ROWS, self.EXPECT), [])

    def test_total_off_by_one(self):
        rows = [dict(r) for r in self.ROWS]
        rows[2]["total_increase"] = 8.0
        self.assertTrue(self.run_check(rows, self.EXPECT))

    def test_late_rows(self):
        rows = [dict(r) for r in self.ROWS]
        rows[1]["n_late"] = 1
        self.assertTrue(self.run_check(rows, self.EXPECT))

    def test_non_integer_counter(self):
        rows = [dict(r) for r in self.ROWS]
        rows[2]["total_increase"] = math.inf
        self.assertTrue(self.run_check(rows, self.EXPECT))


class OracleChecks(unittest.TestCase):
    """The oracle check runs the repo's tools/check.py."""
    SQL = "SELECT n_regionkey AS k, CAST(SUM(n_nationkey) AS DOUBLE) / 3 AS s FROM nation GROUP BY 1"

    def setUp(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        self.tmp = tempfile.TemporaryDirectory()
        self.tables = os.path.join(self.tmp.name, "tables")
        self.results = os.path.join(self.tmp.name, "results")
        os.makedirs(self.tables)
        os.makedirs(os.path.join(self.results, "q"))
        for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
                  "events", "documents", "embeddings"]:
            pq.write_table(pa.table({
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
                os.path.join(self.tables, f"{t}.parquet"))
        with open(os.path.join(self.results, "oracle_sql.json"), "w") as f:
            json.dump({"q": self.SQL}, f)

    def tearDown(self):
        self.tmp.cleanup()

    def write_result(self, perturb):
        import duckdb
        con = duckdb.connect()
        con.sql(f"CREATE VIEW nation AS SELECT * FROM '{self.tables}/nation.parquet'")
        sql = f"SELECT k, s + (CASE WHEN k = 3 THEN {perturb} ELSE 0 END) AS s FROM ({self.SQL})"
        con.sql(f"COPY ({sql}) TO '{self.results}/q/part-0.parquet' (FORMAT PARQUET)")

    def test_matching_result_passes(self):
        self.write_result(0)
        self.assertEqual(checks.check_oracle(self.results, self.tables), [])

    def test_one_value_perturbed(self):
        self.write_result(1e-9)
        self.assertTrue(checks.check_oracle(self.results, self.tables))


if __name__ == "__main__":
    unittest.main()
