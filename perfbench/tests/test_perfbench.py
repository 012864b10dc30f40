"""Tests for the benchmark's own logic: input generation, the issue
prediction, the tail-percentile rule, span self time, and how a failed op
is kept out of the latency metrics.

Run from the root of the repository:
    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def stream(seed):
    return gen.LintStream(seed, n_tables=30, cols_per_table=10, cycles=12, ops_per_cycle=4)


class LintStreamTest(unittest.TestCase):
    def test_same_seed_same_ddl_and_issues(self):
        a, b = stream(7), stream(7)
        self.assertEqual(a.schema, b.schema)
        self.assertEqual(a.batches, b.batches)
        self.assertEqual(a.expected, b.expected)
        self.assertEqual(a.columns, b.columns)

    def test_other_seed_other_stream(self):
        a, b = stream(7), stream(8)
        self.assertNotEqual(a.schema, b.schema)
        self.assertNotEqual(a.batches[1:], b.batches[1:])

    def test_every_rule_fires_on_the_base_schema(self):
        kinds = {k for _, _, k in stream(3).expected[0]}
        self.assertEqual(kinds, set(gen.RULE_TYPES.values()))

    def test_schema_has_keys_and_indexes_of_every_kind(self):
        ddl = "\n".join(stream(3).schema)
        self.assertIn("PRIMARY KEY (id, seq_no)", ddl)
        self.assertIn("CREATE UNIQUE INDEX", ddl)
        self.assertIn("CREATE INDEX", ddl)
        multi = [s for s in stream(3).schema if "FOREIGN KEY" in s and "," in s.split("KEY (")[1]]
        self.assertTrue(multi, "no multi-column foreign key generated")

    def test_cycles_change_the_schema(self):
        s = stream(5)
        self.assertTrue(all(len(b) == 4 for b in s.batches[1:]))
        self.assertEqual(len(s.expected), 13)
        self.assertGreater(sum(s.expected[i] != s.expected[i - 1] for i in range(1, 13)), 3)


class IssuePredictionTest(unittest.TestCase):
    def table(self):
        t = gen.Table("t001_store", composite=False)
        for name, tpe, length, nullable in [
                ("id", "INTEGER", None, False), ("store_name", "VARCHAR", 255, True),
                ("store_code", "VARCHAR", 254, True), ("store_ref_id", "INTEGER", None, True),
                ("price", "DOUBLE", None, True), ("rating", "REAL", None, False),
                ("email", "VARCHAR", 100, False)]:
            t.cols[name] = gen.Column(name, tpe, length, nullable)
        return {t.name: t}, t

    def kinds(self, tables, col):
        return sorted(k for _, c, k in gen.issues(tables) if c == col.upper())

    def test_rules_fire_on_names_types_and_nullability(self):
        tables, _ = self.table()
        self.assertEqual(self.kinds(tables, "store_name"), [gen.RULE_TYPES[1]])
        self.assertEqual(self.kinds(tables, "store_code"), [])  # 254 < 255
        self.assertEqual(self.kinds(tables, "store_ref_id"), [gen.RULE_TYPES[2]])
        self.assertEqual(self.kinds(tables, "price"),
                         sorted([gen.RULE_TYPES[3], gen.RULE_TYPES[5]]))
        self.assertEqual(self.kinds(tables, "rating"), [gen.RULE_TYPES[4]])
        self.assertEqual(self.kinds(tables, "email"), [])  # NOT NULL
        self.assertEqual(self.kinds(tables, "id"), [])  # primary key

    def test_indexes_and_foreign_keys_suppress_rules_1_and_2(self):
        tables, t = self.table()
        t.indexes["ix1"] = (["store_name"], True)
        t.fks["fk1"] = (["store_ref_id"], "t002_vendor")
        self.assertEqual(self.kinds(tables, "store_name"), [])
        self.assertEqual(self.kinds(tables, "store_ref_id"), [])

    def test_second_column_of_a_foreign_key_is_indexed_not_fk_first(self):
        tables, t = self.table()
        t.cols["vendor_id"] = gen.Column("vendor_id", "INTEGER", None, True)
        t.fks["fk1"] = (["store_ref_id", "vendor_id"], "t002_vendor")
        # the backing index covers both columns, so neither is flagged
        self.assertEqual(self.kinds(tables, "vendor_id"), [])
        del t.fks["fk1"]
        self.assertEqual(self.kinds(tables, "vendor_id"), [gen.RULE_TYPES[2]])


class TailTest(unittest.TestCase):
    def test_ten_samples_have_no_qualifying_percentile(self):
        v, pct, above, n = metrics.tail([float(i) for i in range(1, 11)])
        self.assertEqual((v, pct, n), (5.5, 50.0, 10))
        self.assertLess(above, 10)

    def test_eleven_samples_give_the_minimum(self):
        v, pct, above, n = metrics.tail([float(i) for i in range(1, 12)])
        self.assertEqual((v, above, n), (1.0, 10, 11))
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_hundred_samples_give_p90(self):
        xs = [float(i) for i in range(100, 0, -1)]
        self.assertEqual(metrics.tail(xs), (90.0, 90.0, 10, 100))

    def test_ties_at_the_cut_step_down(self):
        xs = [1.0] * 5 + [2.0] * 3 + [3.0] * 10
        v, pct, above, n = metrics.tail(xs)
        self.assertEqual((v, above, n), (2.0, 10, 18))
        xs = [1.0, 2.0, 2.0] + [3.0] * 9  # rank 2 has only 9 strictly above it
        self.assertEqual(metrics.tail(xs)[:3], (1.0, 100.0 / 12, 11))

    def test_empty(self):
        self.assertEqual(metrics.tail([])[2:], (0, 0))


class SelfTimeTest(unittest.TestCase):
    span = {"start_ms": 100.0, "end_ms": 200.0}

    def job(self, a, b):
        return {"start_ms": a, "end_ms": b}

    def test_no_children(self):
        self.assertEqual(metrics.self_time(self.span, []), 100.0)

    def test_disjoint_and_overlapping_children(self):
        kids = [self.job(110, 120), self.job(115, 140), self.job(150, 160)]
        self.assertEqual(metrics.self_time(self.span, kids), 100.0 - 30 - 10)

    def test_children_clipped_to_the_span(self):
        kids = [self.job(50, 110), self.job(190, 260), self.job(300, 400)]
        self.assertEqual(metrics.self_time(self.span, kids), 80.0)

    def test_fully_covered(self):
        kids = [self.job(90, 150), self.job(150, 210)]
        self.assertEqual(metrics.self_time(self.span, kids), 0.0)


def record(latencies_by_pass):
    """A minimal run record: untimed warm-up pass 0, then timed passes."""
    passes = []
    for p, lats in enumerate(latencies_by_pass):
        ops = [{"pass": p, "name": f"q{i}", "ok": True, "build_s": 0.0, "exec_s": x}
               for i, x in enumerate(lats)]
        passes.append({"pass": p, "traced": False, "wall_s": sum(lats), "ops": ops})
    return {"session_s": 1.0, "vmhwm_kb": 2048, "cores": 4, "spans": [], "jobs": [],
            "body": {"setup": [{"setup_s": 3.0}, {"setup_s": 2.0}, {"setup_s": 5.0}],
                     "passes": passes}}


class FailedOpTest(unittest.TestCase):
    def test_failed_op_raises_fail_ratio_and_stays_out_of_latency(self):
        lats = [[1.0, 1.0, 1.0]] + [[1.0, 1.1, 1.2 + p / 100] for p in range(1, 5)]
        rec = record(lats)
        rec["body"]["passes"][2]["ops"][1]["exec_s"] = 50.0  # the failing op
        rec["body"]["passes"][2]["wall_s"] += 50.0
        clean, _ = metrics.end_to_end(record(lats), set(), first=1)
        out, info = metrics.end_to_end(rec, {(2, "q1")}, first=1)
        self.assertEqual((info["attempted"], info["failed"]), (12, 1))
        self.assertAlmostEqual(info["fail_ratio"], 1 / 12)
        self.assertLess(out["op_tail_s"], 2.0)
        self.assertLess(out["op_p50_s"], 2.0)
        self.assertLess(out["pass_s"], 4.0)
        self.assertEqual(info["op_samples"], 11)
        self.assertEqual(clean["setup_s"], 1.0 + 3.0)  # session + median repetition

    def test_warm_up_passes_are_not_timed(self):
        out, info = metrics.end_to_end(record([[9.0, 9.0], [1.0, 1.0], [1.0, 1.0]]), set(), 1)
        self.assertEqual((out["op_p50_s"], info["attempted"]), (1.0, 4))


class PlanTest(unittest.TestCase):
    w = run.WORKLOADS["ops_iterative"]

    def test_seed_fixes_the_query_order(self):
        self.assertEqual(run.plan(self.w, 4, 15, 0), run.plan(self.w, 4, 15, 0))
        orders = {tuple(map(tuple, run.plan(self.w, s, 15, 0)[1])) for s in range(6)}
        self.assertGreater(len(orders), 1)

    def test_traced_run_interleaves_traced_and_untraced_passes(self):
        _, passes, traced = run.plan(self.w, 1, 15, 1)
        timed = list(range(run.WARMUP_PASSES, len(passes)))
        self.assertEqual(len(timed), 4)
        self.assertEqual(traced, timed[1:3])  # untraced, traced, traced, untraced
        untraced = [p for p in timed if p not in traced]
        self.assertEqual(sum(traced) / 2, sum(untraced) / 2)  # same mean position
        self.assertEqual(run.plan(self.w, 1, 15, 0)[2], [])


class OutputCheckTest(unittest.TestCase):
    """Outputs written in set-up and in the check pass after the timed
    passes are hashed against the pins; a wrong one fails its query."""
    good = "SELECT range AS node, range * 2 AS rank FROM range(5)"

    def run_check(self, final_sql):
        import duckdb
        con = duckdb.connect()
        rows, digest = run.canonical_hash(con.sql(self.good))
        pins = {"q1": {"rows": rows, "sha256": digest}}
        op = {"name": "q1", "ok": True}
        body = {"setup": [{"ops": [op]} for _ in range(3)], "check": [op],
                "passes": [{"pass": p, "ops": [{"pass": p, "name": "q1", "ok": True}]}
                           for p in (1, 2)]}
        with tempfile.TemporaryDirectory() as d:
            for sub, sql in [(f"rep{i}", self.good) for i in range(3)] + [("final", final_sql)]:
                os.makedirs(f"{d}/check/{sub}/q1")
                con.execute(f"COPY ({sql}) TO '{d}/check/{sub}/q1/part-0.parquet' (FORMAT PARQUET)")
            bad = run.check_outputs(pins, body, d)
        return bad, run.ops_verdict(body, bad)

    def test_right_outputs_pass(self):
        bad, (failed, problems) = self.run_check(self.good)
        self.assertEqual((bad, failed, problems), ({}, set(), []))

    def test_wrong_output_in_the_check_pass_fails_the_run(self):
        bad, (failed, problems) = self.run_check(self.good.replace("* 2", "* 3"))
        self.assertIn("check pass", bad["q1"])
        self.assertEqual(failed, {(1, "q1"), (2, "q1")})
        self.assertTrue(problems)


class CanonicalHashTest(unittest.TestCase):
    def test_column_order_is_ignored_row_order_is_not(self):
        import duckdb
        con = duckdb.connect()
        a = run.canonical_hash(con.sql("SELECT 1 AS b, 'x' AS a UNION ALL SELECT 2, 'y'"))
        b = run.canonical_hash(con.sql("SELECT 'x' AS a, 1 AS b UNION ALL SELECT 'y', 2"))
        c = run.canonical_hash(con.sql("SELECT 'y' AS a, 2 AS b UNION ALL SELECT 'x', 1"))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        self.assertEqual(a[0], 2)


if __name__ == "__main__":
    unittest.main()
