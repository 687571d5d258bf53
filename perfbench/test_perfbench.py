"""Self-tests of the benchmark's own code: python3 -m unittest perfbench/test_perfbench.py"""

import os
import random
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


def _olap(seed):
    tables = {"lineitem": "l.parquet"}
    return workloads.olap_plan(seed, tables, tables, 30)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_statements(self):
        self.assertEqual(_olap(7).ops, _olap(7).ops)
        self.assertEqual(_olap(7).oracle, _olap(7).oracle)

    def test_other_seed_other_statements(self):
        self.assertNotEqual(_olap(7).ops, _olap(8).ops)

    def test_dedup_corpus_follows_seed(self):
        args = (200, 3, 50)
        a = workloads.dedup_corpus(random.Random(1), *args)
        b = workloads.dedup_corpus(random.Random(1), *args)
        c = workloads.dedup_corpus(random.Random(2), *args)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_dedup_shares(self):
        seed, batches = workloads.dedup_corpus(random.Random(5), 2000, 8, 250)
        docs = seed + [d for b in batches for d in b]
        near = sum(d[1].endswith(" dup") for d in docs) / len(docs)
        self.assertAlmostEqual(near, workloads.NEAR_SHARE, delta=0.01)
        self.assertEqual([d[0] for d in docs], list(range(len(docs))))

    def test_tpch_tables_deterministic(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            a = workloads.tpch_tables(os.path.join(d, "a"), 0.001)
            b = workloads.tpch_tables(os.path.join(d, "b"), 0.001)
            for name in a:
                self.assertTrue(pq.read_table(a[name]).equals(pq.read_table(b[name])), name)


class PercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(list(range(91)), 90))
        self.assertIsNotNone(stats.tail_percentile(list(range(101)), 90))

    def test_p90_refused_for_few_samples(self):
        self.assertIsNone(stats.tail_percentile([1.0, 2.0, 3.0], 90))
        self.assertIsNone(stats.tail_percentile([], 90))

    def test_median(self):
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)


class CheckerTest(unittest.TestCase):
    def _plan(self):
        plan = workloads.Plan()
        plan.duck_setup.append("CREATE TABLE t AS SELECT * FROM (VALUES (1, 'a', 1.5), (2, 'b', 2.5)) v(k, s, x)")
        plan.add("query", "select k, s, x from t", ("query", "SELECT k, s, x FROM t"))
        plan.add("write", "insert into t values (3, 'c', 3.5)",
                 ("exec", ["INSERT INTO t VALUES (3, 'c', 3.5)"]))
        plan.add("query", "select count(*) from t", ("query", "SELECT count(*) FROM t"))
        return plan

    def test_correct_results_pass(self):
        results = {"main": {0: [[2, "b", 2.5], [1, "a", 1.5000000001]], 2: [[3]]}}
        self.assertEqual(oracle.check(self._plan(), results), (2, []))

    def test_corrupted_results_flagged(self):
        for bad in ([[1, "a", 1.5], [2, "b", 2.6]],   # wrong value
                    [[1, "a", 1.5]],                   # missing row
                    [[1, "a", 1.5], [2, "x", 2.5]]):   # wrong string
            checked, mismatches = oracle.check(self._plan(), {"main": {0: bad, 2: [[3]]}})
            self.assertEqual(checked, 2)
            self.assertEqual([m[1] for m in mismatches], [0])

    def test_write_replay_is_checked(self):
        # the count after the insert must be 3: a stale 2 is wrong
        _, mismatches = oracle.check(self._plan(), {"main": {2: [[2]]}})
        self.assertEqual([m[1] for m in mismatches], [2])


class AuditTest(unittest.TestCase):
    CLEAN = {"dropped_postings": 0, "persisted_rdds_after_release": 0, "cap_probe_dropped": 3}

    def test_clean_run_passes(self):
        self.assertEqual(run.audit(self.CLEAN), [])

    def test_dropped_postings_flagged(self):
        self.assertEqual(len(run.audit(dict(self.CLEAN, dropped_postings=2))), 1)

    def test_leaked_rdds_flagged(self):
        self.assertEqual(len(run.audit(dict(self.CLEAN, persisted_rdds_after_release=1))), 1)

    def test_blind_cap_probe_flagged(self):
        # the over-cap probe corpus must register dropped postings
        self.assertEqual(len(run.audit(dict(self.CLEAN, cap_probe_dropped=0))), 1)


class LayerSplitTest(unittest.TestCase):
    def test_self_times_cover_the_op(self):
        spans = [[2, 1, 0, "nutql.parse", "nutql", 0.0, 1.0],
                 [3, 1, 0, "engine.bind", "engine", 1.0, 5.0],
                 [4, 1, 0, "exec.action", "exec", 5.0, 15.0],
                 [1, 0, 0, "op", "harness", 0.0, 15.5]]
        phases = [["analysis", 2.0, 3.0], ["planning", 5.0, 7.0]]
        split, _ = stats.layer_split(spans, phases)
        self.assertAlmostEqual(sum(split[0].values()), 15.5)
        self.assertAlmostEqual(split[0]["catalyst"], 3.0)
        self.assertAlmostEqual(split[0]["engine"], 3.0)
        self.assertAlmostEqual(split[0]["exec"], 8.0)
        self.assertAlmostEqual(split[0]["harness"], 0.5)


if __name__ == "__main__":
    unittest.main()
