"""Checks of the benchmark's own logic (no Spark needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import random
import re
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import metrics as M
import run


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond_when_there_are_enough(self):
        xs = list(range(1, 101))              # 100 samples
        v, pct, beyond = M.tail(xs)
        self.assertEqual(beyond, 10)
        self.assertEqual(v, 90)               # 91..100 lie beyond it
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        xs = list(range(200))
        random.Random(1).shuffle(xs)
        self.assertEqual(M.tail(xs)[0], 189)

    def test_short_runs_keep_a_quarter_beyond(self):
        v, pct, beyond = M.tail([5, 1, 4, 2, 3, 6, 8, 7])
        self.assertEqual((v, beyond), (6, 2))
        self.assertAlmostEqual(pct, 75.0)
        self.assertEqual(M.tail([3, 1, 2])[0], 3)   # fewer than 4: the max

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            M.tail([])


class Attribution(unittest.TestCase):
    SPANS = [
        {"i": 0, "kind": "op", "layer": "a.x", "ms0": 1000, "ms1": 2000,
         "ns": 1_000_000_000},
        {"i": 1, "kind": "write", "layer": "a.y", "ms0": 2500, "ms1": 3000,
         "ns": 500_000_000},
    ]

    def test_jobs_go_to_the_span_they_start_in(self):
        jobs = [{"job": 1, "ms": 1000}, {"job": 2, "ms": 1999},
                {"job": 3, "ms": 2200}, {"job": 4, "ms": 2500},
                {"job": 5, "ms": 3001}, {"job": 6, "ms": 999}]
        self.assertEqual(M.attribute(self.SPANS, jobs),
                         {1: 0, 2: 0, 3: None, 4: 1, 5: None, 6: None})

    def test_measures_per_call(self):
        starts = [{"job": 1, "ms": 1100, "stages": [10, 11]},
                  {"job": 2, "ms": 1600, "stages": [11, 12]},
                  {"job": 3, "ms": 2600, "stages": [13]},
                  {"job": 4, "ms": 2200, "stages": [14]}]   # between spans
        ends = [{"job": 1, "ms": 1400}, {"job": 2, "ms": 1800},
                {"job": 3, "ms": 2900}, {"job": 4, "ms": 2300}]
        stage = {"tasks": 4, "run_ms": 100, "cpu_ns": 50_000_000,
                 "gc_ms": 10, "shuffle_bytes": 1_000_000, "spill_bytes": 0}
        stages = {s: dict(stage, stage=s) for s in (10, 11, 12, 13, 14)}
        out = M.per_layer(self.SPANS, starts, ends, stages)
        # stage 11 is shared by jobs 1 and 2 and counted once, with job 1
        self.assertEqual(out["a.x.jobs"], 2)
        self.assertEqual(out["a.x.stages"], 3)
        self.assertEqual(out["a.x.tasks"], 12)
        self.assertAlmostEqual(out["a.x.exec_cpu_s"], 0.15)
        self.assertAlmostEqual(out["a.x.shuffle_mb"], 3.0)
        # 1000 ms span, jobs busy 1100-1400 and 1600-1800
        self.assertAlmostEqual(out["a.x.driver_gap_s"], 0.5)
        self.assertAlmostEqual(out["a.x.s"], 1.0)
        self.assertEqual(out["a.y.jobs"], 1)
        self.assertAlmostEqual(out["a.y.driver_gap_s"], 0.2)
        # job 4 ran between calls: in no layer and not in the totals
        self.assertEqual(out["spark.jobs"], 3)
        self.assertAlmostEqual(out["spark.driver_gap_s"], 0.7)

    def test_overlapping_jobs_are_not_double_counted(self):
        span = {"i": 0, "ms0": 0, "ms1": 1000, "ns": 10**9}
        jobs = [{"ms": 100, "end_ms": 600, "stages": []},
                {"ms": 200, "end_ms": 400, "stages": []},
                {"ms": 500, "end_ms": 1200, "stages": []}]
        m = M.span_measures(span, jobs, {})
        self.assertAlmostEqual(m["driver_gap_s"], 0.1)


class OracleCache(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.cache = os.path.join(self.dir, "cache")
        self.docs = os.path.join(self.dir, "documents.parquet")
        self.write_docs([1, 2, 3])

    def write_docs(self, ids):
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}),
                       self.docs)

    def test_key_follows_sql_and_bytes(self):
        k = M.oracle_key("SELECT 1", [self.docs])
        self.assertEqual(k, M.oracle_key("SELECT 1", [self.docs]))
        self.assertNotEqual(k, M.oracle_key("SELECT 2", [self.docs]))
        self.write_docs([1, 2, 4])
        self.assertNotEqual(k, M.oracle_key("SELECT 1", [self.docs]))

    def test_hit_miss_and_invalidation(self):
        sql = "SELECT doc_id FROM documents ORDER BY doc_id"
        first, _ = run.chain_oracle(self.dir, sql, self.cache)
        self.assertEqual(first["rows"], [[1], [2], [3]])
        self.assertEqual(len(os.listdir(self.cache)), 1)
        again, _ = run.chain_oracle(self.dir, sql, self.cache)
        self.assertEqual(again, first)
        self.assertEqual(len(os.listdir(self.cache)), 1)
        self.write_docs([7, 8])                 # input change: new entry
        moved, _ = run.chain_oracle(self.dir, sql, self.cache)
        self.assertEqual(moved["rows"], [[7], [8]])
        other, _ = run.chain_oracle(            # SQL change: new entry
            self.dir, sql.replace("ORDER BY doc_id", "ORDER BY doc_id DESC"),
            self.cache)
        self.assertEqual(other["rows"], [[8], [7]])
        self.assertEqual(len(os.listdir(self.cache)), 3)


class Plans(unittest.TestCase):
    def test_same_seed_same_plan(self):
        for seed in (0, 5):
            self.assertEqual(run.serve_plan(random.Random(seed)),
                             run.serve_plan(random.Random(seed)))
            self.assertEqual(run.chain_plan(random.Random(seed)),
                             run.chain_plan(random.Random(seed)))
        self.assertNotEqual(run.serve_plan(random.Random(1)),
                            run.serve_plan(random.Random(2)))

    def test_chain_times_the_first_default_compaction(self):
        pre = run.chain_prebuild_plan()
        for seed in range(20):
            plan, removed = run.chain_plan(random.Random(seed))
            batches = [p.split() for p in plan if p.startswith("batch")]
            self.assertEqual(batches[0][1], "16")   # CorpusStream.CompactEvery
            self.assertGreaterEqual(len(batches), 3)   # post-compaction too
            # contiguous ascending boundaries from the cached batches on
            lo = int(pre[-1].split()[3]) + 1
            for p in plan:
                f = p.split()
                if f[0] == "batch":
                    self.assertEqual(int(f[2]), lo)
                    lo = int(f[3]) + 1
            self.assertEqual(lo, run.chain_docs())
            # takedowns name already-arrived ids, each once
            arrived = -1
            for p in plan:
                f = p.split()
                if f[0] == "batch":
                    arrived = int(f[3])
                elif f[0] == "remove":
                    self.assertTrue(all(int(i) <= arrived
                                        for i in f[1].split(",")))
            self.assertEqual(len(removed), len(set(removed)))

    def test_serve_probes_before_and_after_compaction(self):
        for seed in range(20):
            plan = [p.split()[0] for p in run.serve_plan(random.Random(seed))]
            c = plan.index("compact")
            self.assertTrue(any(p.startswith("probe") for p in plan[:c]))
            self.assertTrue(any(p.startswith("probe") for p in plan[c:]))
            self.assertIn("append", plan[:c])
            self.assertIn("delete", plan[:c])
            # every round between writes: one plain, one filtered probe
            rounds = " ".join(plan[1:]).replace("probe_filtered", "F")
            for r in re.split(r"append|delete|compact", rounds):
                self.assertEqual(sorted(r.split()), ["F", "probe"])

    def test_etl_plan_is_a_fixed_subset_in_seeded_order(self):
        gates = {f"{p}{i:02d}_g": "m" for p in ("a", "ann", "dp", "x")
                 for i in range(1, 13)}
        a = run.etl_plan(random.Random(1), gates)
        b = run.etl_plan(random.Random(2), gates)
        self.assertEqual(sorted(a), sorted(b))
        self.assertNotEqual(a, b)
        self.assertFalse(any(g.split()[1].startswith(("ann", "dp"))
                             for g in a))


if __name__ == "__main__":
    unittest.main()
