"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import datetime as dt
import json
import os
import shutil
import statistics
import sys
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lib import check, layers, plans, stats  # noqa: E402


class SampleRuleTest(unittest.TestCase):
    def test_reportable_percentile_needs_ten_samples_beyond(self):
        self.assertEqual(stats.highest_reportable_percentile(1000), 99)
        self.assertEqual(stats.highest_reportable_percentile(200), 95)
        self.assertEqual(stats.highest_reportable_percentile(189), 90)
        self.assertEqual(stats.highest_reportable_percentile(100), 90)
        self.assertEqual(stats.highest_reportable_percentile(99), 75)
        self.assertEqual(stats.highest_reportable_percentile(40), 75)
        self.assertIsNone(stats.highest_reportable_percentile(39))
        self.assertIsNone(stats.highest_reportable_percentile(12))

    def test_spread_is_quartile_distance_over_median(self):
        vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 9.9]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        self.assertAlmostEqual(stats.spread(vals), (q3 - q1) / med)

    def test_geomean_weighs_every_op_alike(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0, 16.0]), 4.0)
        self.assertAlmostEqual(stats.geomean([0.5]), 0.5)
        # halving one light op moves it as much as halving one heavy op
        self.assertAlmostEqual(stats.geomean([0.25, 8.0]), stats.geomean([0.5, 4.0]))


class SpanTest(unittest.TestCase):
    def span(self, i, parent, name, s, e):
        return {"id": i, "parent": parent, "name": name, "start": s, "end": e, "op": 0}

    def test_self_time_subtracts_union_of_children(self):
        spans = [self.span(0, -1, "op", 0, 100),
                 self.span(1, 0, "build", 0, 30),
                 self.span(2, 0, "execute", 30, 100),
                 self.span(3, 2, "job", 40, 60),
                 self.span(4, 2, "job", 50, 80),  # overlaps the first job
                 self.span(5, 3, "stage", 45, 55)]
        st = stats.self_times(spans)
        self.assertEqual(st["op"], 0)
        self.assertEqual(st["build"], 30)
        self.assertEqual(st["execute"], 70 - 40)
        self.assertEqual(st["job"], (20 - 10) + 30)
        self.assertEqual(st["stage"], 10)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span(0, -1, "op", 10, 20), self.span(1, 0, "job", 5, 15)]
        self.assertEqual(stats.self_times(spans)["op"], 5)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(stats.union_length([]), 0)


class FailureAccountingTest(unittest.TestCase):
    def test_failed_wrong_and_refused_count_guard_skips_do_not(self):
        acct = stats.failure_accounting(
            ["ok", "ok", "failed", "wrong", "refused", "guard_skipped", "ok", "ok"])
        self.assertEqual(acct["attempted"], 8)
        self.assertEqual(acct["failed"], 3)
        self.assertAlmostEqual(acct["failed_frac"], 3 / 8)
        self.assertEqual(acct["guard_skipped"], 1)

    def test_all_ok(self):
        acct = stats.failure_accounting(["ok"] * 5)
        self.assertEqual((acct["failed"], acct["failed_frac"]), (0, 0.0))

    def test_unknown_outcome_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.failure_accounting(["ok", "maybe"])


class PanelTest(unittest.TestCase):
    def test_median_member_of_each_stratum(self):
        w = {f"q{i}": float(i) for i in range(20)}
        self.assertEqual(stats.stratified_panel(w, 4), ["q2", "q7", "q12", "q17"])
        self.assertEqual(stats.stratified_panel(w, 1), ["q9"])

    def test_more_strata_than_names(self):
        self.assertEqual(stats.stratified_panel({"a": 2.0, "b": 1.0}, 5), ["b", "a"])

    def test_ties_break_by_name(self):
        w = {"z": 1.0, "a": 1.0, "m": 1.0}
        self.assertEqual(stats.stratified_panel(w, 3), ["a", "m", "z"])


    def test_frozen_panel_is_the_stratified_choice(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                               "registry_ref.json")) as f:
            ref = json.load(f)
        self.assertEqual(stats.stratified_panel(ref["batch"], len(plans.PANEL)), plans.PANEL)
        self.assertEqual(stats.stratified_panel(ref["stream"], 1), plans.DRAINS)

    def test_registry_plan_is_the_panel_then_the_drains(self):
        listing = {"queries": plans.PANEL + plans.DRAINS + ["q_other"]}
        self.assertEqual(plans.registry(listing)["queries"], plans.PANEL + plans.DRAINS)

    def test_a_missing_panel_query_is_an_error(self):
        listing = {"queries": plans.PANEL[1:] + plans.DRAINS}
        with self.assertRaises(SystemExit):
            plans.registry(listing)


class EtlCheckTest(unittest.TestCase):
    """check.etl against tables written as a correct program would write
    them: one parquet file per load, truncate replacing the directory."""

    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.plan = plans.etl(7, os.path.join(self.dir, "inputs"))
        con = duckdb.connect()
        con.execute(f"CREATE TABLE corpus AS SELECT * FROM read_csv('{self.plan['corpus']}', "
                    "header=false, columns={'brand': 'BIGINT', 'date_str': 'VARCHAR', "
                    "'metric': 'DOUBLE'})")
        con.execute(f"CREATE TABLE dim AS SELECT * FROM '{self.plan['dim']}'")
        today = dt.date.fromisoformat(self.plan["today"])
        tables = os.path.join(self.dir, "tables")
        self.result = {"configs": [], "triggers": []}
        self.appended = []
        for i, tr in enumerate(self.plan["triggers"]):
            configs = json.loads(tr["configs"])
            for cid, cfg in configs.items():
                rows, cols = check._expected_load(con, cfg, json.loads(tr["body"]), today)
                table = os.path.join(tables, cid)
                if tr["disposition"] == "WRITE_TRUNCATE":
                    shutil.rmtree(table, ignore_errors=True)
                os.makedirs(table, exist_ok=True)
                f = os.path.join(table, f"part-{i}.parquet")
                pq.write_table(pa.Table.from_pylist(rows, schema=self._schema(rows, cols)), f)
                if i == len(self.plan["triggers"]) - 1:
                    self.appended.append(f)
                self.result["configs"].append(
                    {"trigger": i, "config": cid, "rows": len(rows), "table": table})
            snapshot = os.path.join(self.dir, "snapshots", str(i))
            shutil.copytree(tables, snapshot)
            self.result["triggers"].append(
                {"code": 200, "snapshot": snapshot,
                 "body": f"Processed {len(configs)} export configurations successfully."})

    def tearDown(self):
        shutil.rmtree(self.dir)

    @staticmethod
    def _schema(rows, cols):
        def typ(c):
            vals = [r[c] for r in rows if r[c] is not None]
            if vals and isinstance(vals[0], float):
                return pa.float64()
            if vals and isinstance(vals[0], int):
                return pa.int64()
            return pa.string()
        return pa.schema([(c, typ(c)) for c in cols])

    def outcomes(self):
        return check.etl(self.plan, self.result)[0]

    def test_the_plan_ends_on_an_append(self):
        self.assertEqual(self.plan["triggers"][-1]["disposition"], "WRITE_APPEND")
        self.assertIn("WRITE_TRUNCATE", [t["disposition"] for t in self.plan["triggers"]])

    def test_correct_tables_pass(self):
        got = self.outcomes()
        per_trigger = plans.CONFIGS_PER_TRIGGER * len(self.plan["triggers"])
        self.assertEqual(got, ["ok"] * (2 * per_trigger))

    def test_a_corrupted_appended_value_is_wrong(self):
        f = self.appended[0]
        t = pq.read_table(f)
        name = next(c for c in t.column_names if c.startswith("sum:"))
        vals = t.column(name).to_pylist()
        vals[0] += 1.0
        t = t.set_column(t.column_names.index(name), name, pa.array(vals, pa.float64()))
        last = self.result["triggers"][-1]["snapshot"]
        pq.write_table(t, os.path.join(last, os.path.basename(os.path.dirname(f)),
                                       os.path.basename(f)))
        self.assertEqual(self.outcomes().count("wrong"), 1)

    def test_a_missing_append_is_wrong_even_when_the_row_count_is_reported(self):
        last = self.result["triggers"][-1]["snapshot"]
        f = self.appended[1]
        os.remove(os.path.join(last, os.path.basename(os.path.dirname(f)), os.path.basename(f)))
        self.assertEqual(self.outcomes().count("wrong"), 1)


class BenchmarkFileTest(unittest.TestCase):
    def test_per_layer_list_matches_benchmark_json(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
                         layers.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
