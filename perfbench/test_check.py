"""Tests of the benchmark's output checks: a perturbed result must fail.

    python3 -m unittest perfbench/test_check.py
"""
import os
import sys
import unittest

import pandas as pd

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
from refs import summary  # noqa: E402


def frame():
    return pd.DataFrame({
        "o_orderpriority": ["1-URGENT", "2-HIGH", "3-MEDIUM"],
        "n_lines": pd.Series([10, 20, 30], dtype="int64"),
        "sum_price": [1000.25, 2000.5, 3000.75],
        "day": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03"]),
    })


class ExactMatch(unittest.TestCase):
    def test_identical_rows_in_any_order_pass(self):
        ok, why = check.exact_match(frame().iloc[::-1], summary(frame()))
        self.assertTrue(ok, why)

    def test_one_changed_cell_fails(self):
        bad = frame()
        bad.loc[1, "sum_price"] = 2000.5000001
        self.assertFalse(check.exact_match(bad, summary(frame()))[0])

    def test_missing_row_fails(self):
        self.assertFalse(check.exact_match(frame().iloc[:2], summary(frame()))[0])

    def test_wider_integer_type_fails(self):
        # the repository gate's hash is dtype-sensitive: 1 != 1.0
        bad = frame()
        bad["n_lines"] = bad["n_lines"].astype("float64")
        self.assertFalse(check.exact_match(bad, summary(frame()))[0])


class ApproxMatch(unittest.TestCase):
    def test_float_noise_within_tolerance_passes(self):
        ours = frame()
        ours["sum_price"] = ours["sum_price"] * (1 + 1e-12)
        ours["n_lines"] = ours["n_lines"].astype("int32")
        ok, why = check.approx_match(ours.iloc[::-1], frame())
        self.assertTrue(ok, why)

    def test_changed_sum_fails(self):
        ours = frame()
        ours.loc[2, "sum_price"] += 0.01
        self.assertFalse(check.approx_match(ours, frame())[0])

    def test_changed_key_fails(self):
        ours = frame()
        ours.loc[0, "o_orderpriority"] = "5-LOW"
        self.assertFalse(check.approx_match(ours, frame())[0])

    def test_changed_timestamp_fails(self):
        ours = frame()
        ours.loc[0, "day"] = pd.Timestamp("2024-01-01 00:00:01")
        self.assertFalse(check.approx_match(ours, frame())[0])


class FakeRefs:
    """References whose SQL text is the expected result's key."""

    def __init__(self, con, expected):
        self._con, self.expected = con, expected

    def con(self):
        return self._con

    def exact(self, sql):
        return summary(self.expected[sql])


class IngestProperties(unittest.TestCase):
    """check_ingest on a hand-made run record: the clean record passes and
    each broken property fails the operation that owns it."""

    def setUp(self):
        import duckdb
        import tempfile
        self.tmp = tempfile.TemporaryDirectory()
        self.con = duckdb.connect()
        d = self.tmp.name

        def write(name, df):
            os.makedirs(os.path.join(d, name))
            df.to_parquet(os.path.join(d, name, "part-0.parquet"), index=False)
            return os.path.join(d, name)

        join = frame()[["o_orderpriority", "n_lines", "sum_price"]]
        self.paths = {
            "probe0_b0": write("probe", pd.DataFrame(
                {"brep": [5, 6], "crep": [5, 6], "jaccard": [1.0, 1.0]})),
            "prep_b0_kept": write("kept", pd.DataFrame({"id": [1, 20000000]})),
            "prep_b0_dropped": write("dropped", pd.DataFrame(
                {"id": [2, 10000000], "stage": ["low_quality", "corpus_near_dup"]})),
            "join": write("join", join),
            "stages": write("stages", pd.DataFrame({"n": [1]})),
        }
        self.refs = FakeRefs(self.con, {"J": join, "S": pd.DataFrame({"n": [1]})})
        docs = pd.DataFrame({"doc_id": [5, 6, 7, 8], "text": ["a b", "c d", "e f", "C  d"]})
        self.con.execute("CREATE TABLE documents AS SELECT * FROM docs")

    def tearDown(self):
        self.con.close()
        self.tmp.cleanup()

    def record(self, **batch):
        p = self.paths

        def ex(op, outputs):
            return {"op": op, "round": 0, "err": None, "outputs": outputs}
        b = {"cycle": 0, "batch": 0, "k": 0, "probe_ids": [[5, 6]], "copy_ids": [10000000],
             "fresh_ids": [20000000], "reps_before": 100, "reps_after": 102,
             "append_ran": True, "join_sql": "J"}
        b.update(batch)
        return {
            "oracles": {"llm_corpus_prep_stages": "S"},
            "info": {"batches": [b], "cycles": [{
                "cycle": 0, "facts_compacted": True, "index_compacted": True,
                "max_files_after": 1, "join_sql": "J"}]},
            "execs": [ex("probe0_b0", [p["probe0_b0"]]),
                      ex("prep_b0", [p["prep_b0_kept"], p["prep_b0_dropped"]]),
                      ex("append_b0", []), ex("join_b0", [p["join"]]),
                      ex("llm_corpus_prep_stages", [p["stages"]]),
                      ex("compact", []), ex("join_final", [p["join"]])],
        }

    def verdict(self, **batch):
        v = check.Verdict()
        check.check_ingest(self.record(**batch), self.refs, {}, v)
        return v

    def test_clean_record_passes(self):
        v = self.verdict()
        self.assertTrue(v.correct, v.notes)
        self.assertEqual(v.failed, 0)

    def test_kept_planted_copy_fails(self):
        v = self.verdict(copy_ids=[20000000])
        self.assertFalse(v.correct)
        self.assertIn("prep_b0", v.notes[0])

    def test_dropped_fresh_doc_fails(self):
        self.assertFalse(self.verdict(fresh_ids=[2]).correct)

    def test_rep_count_off_by_one_fails(self):
        self.assertFalse(self.verdict(reps_after=103).correct)

    def test_probe_missing_its_own_doc_fails(self):
        self.assertFalse(self.verdict(probe_ids=[[5, 7]]).correct)

    def test_probed_docs_sharing_a_text_need_one_match(self):
        # doc 8 normalizes to doc 6's text, so the probe reports it as rep 6
        v = self.verdict(probe_ids=[[5, 6, 8]])
        self.assertTrue(v.correct, v.notes)

    def test_known_fault_counts_failed_but_stays_correct(self):
        v = check.Verdict()
        rec = self.record()
        rec["oracles"]["llm_corpus_prep_stages"] = "J"  # reference now differs
        check.check_ingest(rec, self.refs, {"llm_corpus_prep_stages": "fault"}, v)
        self.assertTrue(v.correct, v.notes)
        self.assertEqual(v.failed, 1)


if __name__ == "__main__":
    unittest.main()
