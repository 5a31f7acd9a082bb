"""The benchmark's own test: the output checker accepts outputs that agree
with the generator and rejects deliberately corrupted ones.

    python3 perfbench/test_checker.py
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import gen  # noqa: E402


def write_outputs(out, rows, expected, drop_violation=False,
                  bad_fingerprint=False, skip_commit=None):
    """Outputs shaped like graft.cli.Main's, built from the generator's
    expectations, optionally corrupted."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def table(name, cols):
        os.makedirs(os.path.join(out, name))
        pq.write_table(pa.table(cols), os.path.join(out, name, "part-0.parquet"))

    rule_ids = [r for r, c in sorted(expected["rules"].items()) for _ in range(c)]
    if drop_violation:
        rule_ids = rule_ids[1:]
    table("violations", {"rule_id": rule_ids,
                         "severity": ["ERROR"] * len(rule_ids)})
    table("reports", {"path": [r[1] for r in rows]})
    table("column_stats", {"column": ["repo"]})
    table("lang_drift", {"lang": sorted(expected["langs"])})
    langs = sorted(expected["langs"])
    fp = [expected["langs"][lang]["sha_fingerprint"] for lang in langs]
    if bad_fingerprint:
        fp[0] ^= 1
    table("partition_verdicts", {
        "lang": langs,
        "records": [expected["langs"][lang]["records"] for lang in langs],
        "failed_records": [expected["langs"][lang]["failed_records"]
                           for lang in langs],
        "sha_fingerprint": fp})
    os.makedirs(os.path.join(out, "_ledger"))
    for lang in langs:
        if lang == skip_commit:
            continue
        with open(os.path.join(out, "_ledger", f"lang={lang}.commit"), "w") as f:
            json.dump({"lang": lang, **expected["langs"][lang]}, f)


class BatchCheckerTest(unittest.TestCase):
    def setUp(self):
        scratch = os.path.join(gen.ROOT, ".bench_build")
        os.makedirs(scratch, exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=scratch)
        self.rows, self.expected = gen.batch_records(seed=5, n=400)

    def tearDown(self):
        shutil.rmtree(self.dir)

    def problems(self, exit_code=None, **corrupt):
        out = os.path.join(self.dir, "out")
        shutil.rmtree(out, ignore_errors=True)
        write_outputs(out, self.rows, self.expected, **corrupt)
        code = self.expected["exit_code"] if exit_code is None else exit_code
        return check.check_batch(out, self.expected, code)

    def test_generator_mix(self):
        self.assertEqual(self.expected["exit_code"], 120)  # 30% of 400 fail
        self.assertEqual(self.expected["langs"]["en"]["records"], 280)
        self.assertEqual(sum(v["failed_records"]
                             for v in self.expected["langs"].values()), 120)
        again, _ = gen.batch_records(seed=5, n=400)
        self.assertEqual(again, self.rows)
        other, _ = gen.batch_records(seed=6, n=400)
        self.assertNotEqual(other, self.rows)

    def test_accepts_agreeing_outputs(self):
        self.assertEqual(self.problems(), [])

    def test_rejects_dropped_violation_row(self):
        self.assertTrue(any("violation counts" in p for p in
                            self.problems(drop_violation=True)))

    def test_rejects_wrong_fingerprint(self):
        self.assertTrue(any("sha_fingerprint" in p for p in
                            self.problems(bad_fingerprint=True)))

    def test_rejects_missing_ledger_commit(self):
        self.assertTrue(any("ledger commits" in p for p in
                            self.problems(skip_commit="fr")))

    def test_rejects_wrong_exit_code(self):
        self.assertTrue(any("exit code" in p for p in
                            self.problems(exit_code=0)))


class ServiceCheckerTest(unittest.TestCase):
    ETS = ('{"id":"a","report_type":"ets","summary":{"PASSED":12},'
           '"datetime":"2026-01-01T00:00:00Z","generated_by":"g"}')
    EXPECT = {
        "ok": {"ets": ETS, "kpi": '{"report_type":"kpi"}',
               "gate_failed": False, "gate_errors": ""},
        "gated": {"ets": ETS, "kpi": '{"report_type":"kpi"}',
                  "gate_failed": True, "gate_errors": "$.conformsTo: bad"},
        "csv": {"error": "Encoding error: record is not valid JSON"},
    }

    def check(self, kind, key, status, body):
        return check.check_response(kind, key, status, body, self.EXPECT)

    def test_accepts_reference_answers_with_other_datetime(self):
        live = self.ETS.replace("2026-01-01T00:00:00Z", "2030-05-05T10:00:00Z")
        self.assertIsNone(self.check("ets", "ok", 200, live))
        self.assertIsNone(self.check("ets_gate", "ok", 200, live))
        self.assertIsNone(self.check("kpi", "ok", 200, '{"report_type":"kpi"}'))
        self.assertIsNone(self.check(
            "ets_gate", "gated", 500,
            '{"code":"ProcessorExecuteError","description":"Record fails '
            'WCMP2 validation. Stopping ETS errors: [$.conformsTo: bad]"}'))
        self.assertIsNone(self.check(
            "not_json", "csv", 400,
            '{"code":"InvalidParameterValue","description":'
            '"Encoding error: record is not valid JSON"}'))
        self.assertIsNone(self.check(
            "missing", None, 400,
            '{"code":"MissingParameterValue","description":"Missing record"}'))
        self.assertIsNone(self.check(
            "get", None, 200, '{"processes":[{"id":"pywcmp-wis2-wcmp2-ets"},'
            '{"id":"pywcmp-wis2-wcmp2-kpi"}]}'))

    def test_rejects_wrong_body(self):
        wrong = self.ETS.replace('"PASSED":12', '"PASSED":11')
        self.assertIsNotNone(self.check("ets", "ok", 200, wrong))

    def test_rejects_wrong_status(self):
        self.assertIsNotNone(self.check("ets_gate", "gated", 200, self.ETS))
        self.assertIsNotNone(self.check("kpi", "ok", 500, '{"report_type":"kpi"}'))

    def test_rejects_wrong_400_message(self):
        self.assertIsNotNone(self.check(
            "missing", None, 400,
            '{"code":"MissingParameterValue","description":"no record"}'))


if __name__ == "__main__":
    unittest.main()
