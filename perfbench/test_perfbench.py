"""Tests of the benchmark's own code.

Run from the repository root: python3 -m unittest perfbench/test_perfbench.py
"""
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402


class GeneratorDeterminism(unittest.TestCase):

    def digest(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            return gen.generate(workload, seed, d)["content_sha256"]

    def test_same_seed_same_content_other_seed_other_content(self):
        for w in sorted(gen.SIZES):
            with self.subTest(workload=w):
                a = self.digest(w, 7)
                self.assertEqual(a, self.digest(w, 7))
                self.assertNotEqual(a, self.digest(w, 8))

    def test_corpus_has_eval_docs_and_stated_duplicate_shares(self):
        t = gen.documents_table(3, 4000, exact_dup=0.1, near_dup=0.1).to_pydict()
        self.assertEqual(t["doc_id"], list(range(4000)))
        texts = t["text"]
        exact = len(texts) - len(set(texts))
        near = sum(1 for x in texts if "dup" in x.split(" "))
        self.assertTrue(300 < exact < 500, exact)
        self.assertTrue(300 < near < 500, near)

    def test_dsl_sequence_keeps_the_mix_in_every_dealt_block(self):
        seq = gen.dsl_sequence(5, 4, 50)
        block = sum(n for _, n in gen.DSL_MIX)
        dealt = [seq[i % 4][i // 4] for i in range(4 * 50)]
        for b in range(0, len(dealt) - block + 1, block):
            counts = {k: dealt[b:b + block].count(k) for k, _ in gen.DSL_MIX}
            self.assertEqual(counts, dict(gen.DSL_MIX))

    def test_events_follow_the_fixture_shape(self):
        t = gen.events_table(1, 5000).to_pydict()
        self.assertTrue(all(0 <= u < 1500 for u in t["user_id"]))
        self.assertEqual(set(t["event_type"]), set(gen.EVENT_TYPES))
        span_us = (max(t["ts"]) - min(t["ts"])).total_seconds() * 1e6
        self.assertLessEqual(span_us, 30 * gen.DAY_US)


class TailPercentile(unittest.TestCase):

    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail(range(1, 101)), (90.0, 90))
        self.assertEqual(stats.tail(range(1, 1001)), (99.0, 990))
        self.assertEqual(stats.tail(range(1, 10001)), (99.9, 9990))
        self.assertEqual(stats.tail(range(1, 41)), (75.0, 30))

    def test_too_few_samples_have_no_tail(self):
        self.assertEqual(stats.tail(range(1, 21)), (50.0, 10))
        self.assertIsNone(stats.tail(range(1, 20)))

    def test_rule_counts_samples_beyond_the_rank(self):
        for n in range(20, 400):
            p, v = stats.tail(range(1, n + 1))
            self.assertGreaterEqual(sum(1 for x in range(1, n + 1) if x > v), 10)


class SelfTime(unittest.TestCase):
    # (id, parent, op, name, start, end)
    TREE = [
        (1, 0, 7, "op", 0, 100),
        (2, 1, 7, "build", 10, 40),
        (3, 1, 7, "exec", 30, 60),     # overlaps build: covered once
        (4, 2, 7, "job", 15, 20),
        (5, 1, 7, "late", 90, 120),    # runs past its parent: clipped
        (6, 0, 8, "op", 0, 10),
    ]

    def test_self_time_is_duration_minus_covered_part(self):
        st = stats.self_times(self.TREE)
        self.assertEqual(st[1], 100 - 50 - 10)
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 5)
        self.assertEqual(st[5], 30)
        self.assertEqual(st[6], 10)

    def test_layer_split_sums_self_time_per_op_and_name(self):
        split = stats.layer_self_ms([s[:4] + (s[4] * 10**6, s[5] * 10**6)
                                     for s in self.TREE])
        self.assertEqual(split[7], {"op": 40.0, "build": 25.0, "exec": 30.0,
                                    "job": 5.0, "late": 30.0})
        self.assertEqual(split[8], {"op": 10.0})


class ExecTotals(unittest.TestCase):

    def stage(self, op, submitted, completed, durations, wait):
        return {"op": op, "submitted": submitted, "completed": completed,
                "tasks": len(durations), "failed_tasks": 0,
                "run_ms": sum(durations), "cpu_ns": 10**6 * sum(durations),
                "shuffle_read_bytes": 1, "shuffle_write_bytes": 2,
                "spill_bytes": 0, "input_bytes": 5, "input_rows": 3,
                "scan_tasks": 1, "wait_ms": wait, "durations": durations}

    def test_skew_comes_from_the_slowest_stage(self):
        t = stats.op_exec_totals([
            self.stage(1, 0, 50, [10, 10, 40], 6),
            self.stage(1, 50, 60, [5, 5], 2),
        ])[1]
        self.assertEqual((t["stages"], t["tasks"], t["task_ms"]), (2, 5, 70))
        self.assertEqual(t["skew"], 4.0)
        self.assertEqual(t["sched_wait_ms"], 8 / 5)


class OracleCheck(unittest.TestCase):

    def test_only_ctes_referenced_twice_are_materialized(self):
        sql = ("WITH a AS (SELECT 1 AS x), b AS (SELECT x FROM a), "
               "c AS (SELECT x FROM b UNION ALL SELECT x FROM b) SELECT * FROM c")
        out = oracle.materialized(sql)
        self.assertIn("b AS MATERIALIZED (", out)
        self.assertIn("a AS (", out)
        self.assertIn("c AS (", out)

    def test_compare_is_strict_on_values_and_dtype_kinds(self):
        import pandas as pd
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.0]})
        self.assertEqual(oracle.compare(a, a.iloc[::-1]), [])
        self.assertTrue(oracle.compare(a, a.assign(v=[0.5, 1.0 + 1e-12])))
        self.assertTrue(oracle.compare(a, a.assign(k=[1.0, 2.0])))
        self.assertTrue(oracle.compare(a, a.iloc[:1]))


if __name__ == "__main__":
    unittest.main()
