"""Tests of the benchmark's own code: python3 -m unittest discover perfbench/tests"""
import csv
import os
import shutil
import sys
import tempfile
import unittest
import zlib

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402


class SpecTest(unittest.TestCase):
    def test_names_and_units_are_valid_and_unique(self):
        spec = metrics.spec()
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
        names += [w["name"] for w in spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(metrics.valid_name(n), n)
        for k in ("end_to_end", "per_layer"):
            for m in spec[k]:
                self.assertTrue(metrics.valid_unit(m["unit"]), m)
                self.assertIn(m["better"], ("higher", "lower"))
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(max(m["bound"] for m in spec["end_to_end"]), setup[0]["bound"])
        self.assertLessEqual(len(spec["per_layer"]), 128)

    def test_name_rule(self):
        self.assertTrue(metrics.valid_name("q.q_hits.max_task_share"))
        for bad in ("", "_x", ".x", "a b", "x" * 65, "ms/op"):
            self.assertFalse(metrics.valid_name(bad), bad)
        self.assertTrue(metrics.valid_unit("1/s"))
        self.assertFalse(metrics.valid_unit("per second"))

    def test_workloads_report_every_end_to_end_metric(self):
        spec = metrics.spec()
        wanted = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        for w in (x["name"] for x in spec["workloads"]):
            kinds = metrics.OP_KINDS[w] or {"graph"}
            rec = fake_record([{"kind": sorted(kinds)[0], "name": f"op{i}", "s": 1.0 + i / 100}
                               for i in range(30)])
            got, _ = metrics.end_to_end(w, rec)
            self.assertEqual({n: u for n, (_, u) in got.items()}, wanted)
            self.assertTrue(all(v is not None and v > 0 for v, _ in got.values()), got)


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail(list(range(10))))
        v, pct, n = metrics.tail(list(range(11)))
        self.assertEqual((v, n), (0, 11))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(100, 0, -1))  # 1..100, unsorted
        v, pct, n = metrics.tail(xs)
        self.assertEqual((v, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        v, pct, _ = metrics.tail(list(range(1, 1001)))
        self.assertEqual((v, pct), (990, 99.0))


class AccountingTest(unittest.TestCase):
    def test_one_failed_query_loses_its_number_and_the_workload_still_reports(self):
        ops = [{"kind": "graph", "name": f"q{i}", "s": 2.0} for i in range(13)]
        ops.append({"kind": "graph", "name": "q_broken", "s": None, "error": "boom"})
        rec = fake_record(ops)
        self.assertEqual(metrics.accounting(rec["ops"]), (14, 1))
        got, details = metrics.end_to_end("operator_mix", rec)
        self.assertEqual(details["op_p50_ms"][0], 2000.0)
        self.assertEqual(details["ops_ok"], 13)
        self.assertEqual(details["mix_graph_s"][0], 13.0)

    def test_a_failed_operation_makes_the_run_incorrect(self):
        ok = [{"name": "c", "ok": True}]
        values = {"pass_s": (9.0, "s"), "setup_s": (2.0, "s")}
        self.assertTrue(metrics.correct(ok, values, 0))
        self.assertFalse(metrics.correct(ok, values, 1))
        self.assertFalse(metrics.correct(ok, dict(values, pass_s=(None, "s")), 0))
        self.assertFalse(metrics.correct([{"name": "c", "ok": False}], values, 0))

    def test_non_200_gets_count_as_failed(self):
        api = [{"route": "runs", "ms": 5.0, "status": 200}, {"route": "detail", "ms": 9.0, "status": 404}]
        self.assertEqual(metrics.accounting([{"kind": "upsert", "s": 1.0}], api), (3, 1))

    def test_layers_without_work_read_zero(self):
        got = metrics.per_layer({"layers": {"streaming.batch_s": 0.5}},
                                [("streaming.batch_s", "s"), ("q.q1_agg.s", "s")])
        self.assertEqual(got, {"streaming.batch_s": (0.5, "s"), "q.q1_agg.s": (0.0, "s")})


class OrdersInputTest(unittest.TestCase):
    def test_expected_target_is_last_writer_wins_over_the_written_files(self):
        with tempfile.TemporaryDirectory() as d:
            want = gen.orders(7, d, n_bulk=50, n_upsert=10, n_files=3, n_warm=4)
            final = {}
            for k, name in enumerate(["bulk.csv", "upsert_01.csv", "upsert_02.csv", "upsert_03.csv"]):
                with open(os.path.join(d, name)) as f:
                    rows = list(csv.DictReader(f))
                self.assertEqual(len({r["OrderId"] for r in rows}), len(rows))
                final.update((r["OrderId"], r["Amount"]) for r in rows)
                cents = {o: int(a.replace(".", "")) for o, a in final.items()}
                checksum = sum(zlib.crc32(f"{o}|{a}|{gen.amount_category(cents[o])}".encode())
                               for o, a in final.items())
                self.assertEqual(want[k], {"rows": len(final), "checksum": checksum})
            self.assertEqual(want[3]["rows"], 50 + 3 * 5)
            again = tempfile.mkdtemp(dir=d)
            self.assertEqual(gen.orders(7, again, n_bulk=50, n_upsert=10, n_files=3, n_warm=4), want)


class StreamCheckTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, self.dir)
        self.path = os.path.join(self.dir, "seen.json")

    def run_checks(self, *admitted, key="k"):
        rec = {"samples": {"stream": [{"input": 10, "admitted_ids": list(a)} for a in admitted]}}
        return {c["name"]: c["ok"] for c in checks.stream(rec, [(1, 4), (2, 7)], 10, key, self.path)}

    def test_one_member_of_each_planted_pair_may_be_admitted(self):
        for key, ids in (("a", [0, 1, 2, 3, 5]), ("b", [0, 3, 4, 5, 7])):
            got = self.run_checks(ids, ids, key=key)
            self.assertTrue(all(got.values()), got)

    def test_a_fully_admitted_planted_pair_fails(self):
        got = self.run_checks([0, 1, 2, 4])
        self.assertFalse(got["stream_planted_pairs_0"])

    def test_unknown_or_repeated_ids_fail(self):
        self.assertFalse(self.run_checks([0, 11])["stream_admitted_known_0"])
        self.assertFalse(self.run_checks([0, 0])["stream_admitted_known_0"])

    def test_admitted_sets_must_repeat_within_and_across_runs(self):
        self.assertFalse(self.run_checks([0, 1], [0, 2])["stream_admitted_hash_repeatable"])
        self.assertTrue(self.run_checks([0, 1], key="k2")["stream_admitted_hash_repeatable"])
        self.assertFalse(self.run_checks([0, 3], key="k2")["stream_admitted_hash_repeatable"])
        self.assertTrue(self.run_checks([0, 3], key="k3")["stream_admitted_hash_repeatable"])

    def test_planted_pairs_are_copies_or_near_copies(self):
        pairs = gen.stream(3, self.dir, n_docs=200, n_batches=4)
        self.assertTrue(pairs)
        import pyarrow.parquet as pq
        text = pq.read_table(os.path.join(self.dir, "docs.parquet")).column("text").to_pylist()
        for a, b in pairs:
            self.assertLess(a, b)
            self.assertIn(text[b], (text[a], text[a] + " dup"))
        self.assertEqual(gen.stream(3, tempfile.mkdtemp(dir=self.dir), n_docs=200, n_batches=4), pairs)


class OracleCheckTest(unittest.TestCase):
    def test_one_check_per_query_line(self):
        out = "PASS q_kcore (12 rows)\nFAIL q_join_agg: rows 3 != 4\n  WARN x\n== 1 pass, 1 fail ==\n"
        got = checks.oracle_checks(1, out)
        self.assertEqual([(c["name"], c["ok"]) for c in got],
                         [("oracle_q_kcore", True), ("oracle_q_join_agg", False)])

    def test_a_tool_failure_without_query_lines_fails(self):
        self.assertFalse(checks.oracle_checks(1, "Traceback ...")[0]["ok"])
        self.assertFalse(checks.oracle_checks(0, "")[0]["ok"])
        self.assertFalse(all(c["ok"] for c in checks.oracle_checks(1, "PASS q1 (1 rows)\nboom")))


def fake_record(ops):
    return {"ops": ops, "setup_reps_s": [3.0, 2.0, 2.5], "passes_s": [10.0, 11.0],
            "details": {}, "samples": {"stream": [{"input": 100}],
                                       "api": [{"route": "runs", "ms": 1.0 + i, "status": 200}
                                               for i in range(12)]}}


if __name__ == "__main__":
    unittest.main()
