"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

The last two tests run the benchmark itself (one short fixed-cost run,
and one in a directory that holds only the benchmark), so they build the
engine on first use.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import inventory  # noqa: E402
import ledger  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def corpus_digest(seed, sf=0.001, shuffle=False):
    tables = gen.make_tables(sf, seed)
    if shuffle:
        tables = {k: gen.shuffled(v, seed, k) for k, v in tables.items()}
    with tempfile.TemporaryDirectory() as d:
        gen.write_tables(tables, d)
        h = hashlib.sha256()
        for t in gen.TABLES:
            with open(os.path.join(d, f"{t}.parquet"), "rb") as fh:
                h.update(fh.read())
        return h.hexdigest()


def fixed_sample(seed):
    return gen.sample_queries(inventory.fixed_cost_strata(),
                              inventory.FIXED_COST_PER_STRATUM, seed,
                              "fixed-cost", cost=inventory.WARM_S)


def batches(seed):
    out, live = gen.ingest_batches(seed, list(range(100)), 4, 10, 5, 1000)
    flat = [(k, ids, None if v is None else v.tobytes()) for k, ids, v in out]
    return flat, live


class Seeding(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        self.assertEqual(fixed_sample(7), fixed_sample(7))
        self.assertEqual(corpus_digest(7), corpus_digest(7))
        self.assertEqual(corpus_digest(7, 0.01, True),
                         corpus_digest(7, 0.01, True))
        self.assertEqual(batches(7), batches(7))

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(fixed_sample(7), fixed_sample(8))
        self.assertNotEqual(set(fixed_sample(7)), set(fixed_sample(8)))
        self.assertNotEqual(corpus_digest(7), corpus_digest(8))
        self.assertNotEqual(batches(7), batches(8))

    def test_sample_covers_every_family_at_balanced_cost(self):
        strata = inventory.fixed_cost_strata()
        want = sum(sum(inventory.WARM_S[n] for n in s) / len(s)
                   for s in strata)
        for seed in range(1, 6):
            q = fixed_sample(seed)
            self.assertEqual({inventory.family(n) for n in q},
                             set(inventory.FAMILIES))
            self.assertFalse(set(q) & inventory.ARTIFACT_QUERIES)
            cost = sum(inventory.WARM_S[n] for n in q)
            self.assertLessEqual(abs(cost - want), 0.01 * want)

    def test_batches_track_membership(self):
        out, live = gen.ingest_batches(3, list(range(50)), 4, 10, 5, 1000)
        members = set(range(50))
        for kind, ids, vecs in out:
            if kind == "append":
                self.assertEqual(vecs.shape, (len(ids), gen.DIM))
                members |= set(ids)
            else:
                self.assertTrue(set(ids) <= members)
                members -= set(ids)
        self.assertEqual(sorted(members), live)


class Percentiles(unittest.TestCase):
    def test_tail_needs_ten_beyond(self):
        with self.assertRaises(ValueError):
            ledger.percentile(range(99), 90)
        self.assertEqual(ledger.percentile(range(100), 90), 89.1)
        with self.assertRaises(ValueError):
            ledger.percentile(range(39), 75)
        ledger.percentile(range(40), 75)

    def test_median_of_few(self):
        self.assertEqual(ledger.median([3, 1, 2]), 2)
        self.assertEqual(ledger.median([4, 1, 2, 3]), 2.5)
        with self.assertRaises(ValueError):
            ledger.median([])


class Spans(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [
            {"id": 1, "parent": 0, "start_ns": 0, "end_ns": 10_000_000_000},
            {"id": 2, "parent": 1, "start_ns": 1_000_000_000,
             "end_ns": 4_000_000_000},
            {"id": 3, "parent": 1, "start_ns": 3_000_000_000,
             "end_ns": 6_000_000_000},
            {"id": 4, "parent": 2, "start_ns": 1_000_000_000,
             "end_ns": 2_000_000_000},
        ]
        st = ledger.self_times(spans)
        self.assertAlmostEqual(st[1], 5.0)
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[3], 3.0)
        self.assertAlmostEqual(st[4], 1.0)


class OracleChecks(unittest.TestCase):
    def test_each_op_checked_where_it_wrote(self):
        """Two runs of one query, written to their own directories: each
        op is judged on its own output, so a wrong second run is caught
        even though the first was right."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen.write_tables(gen.make_tables(0.001, 1), os.path.join(d, "in"))
            ops = []
            for op, n in (("cold.0.qx", 25), ("warm.0.qx", 24)):
                out = os.path.join(d, "out", op)
                os.makedirs(out)
                pq.write_table(pa.table({"n": pa.array([n], pa.int64())}),
                               os.path.join(out, "part-0.parquet"))
                ops.append({"op": op, "name": "qx", "out": out})
            res = {"oracle": {"qx": "SELECT count(*) AS n FROM nation"}}
            got = oracle.check_ops(os.path.join(d, "in"),
                                   os.path.join(d, "out"), ops, res)
        self.assertEqual(got, {"cold.0.qx": True, "warm.0.qx": False})


class Schema(unittest.TestCase):
    PINNED_LAYERS = [
        "tables.open_s", "tables.open_jobs", "build.s", "build.jobs",
        "build.task_s", "plan.s", "plan.analysis_s", "plan.optimization_s",
        "plan.planning_s", "exec.s", "exec.jobs", "exec.stages",
        "exec.tasks", "exec.task_s", "exec.cpu_s", "exec.gc_s",
        "exec.sched_delay_s", "exec.par_eff", "exec.input_mb",
        "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
        "artifact.builds", "artifact.reuse_ratio", "artifact.validate_s",
        "artifact.mb", "artifact.files", "artifact.space_amp",
        "ingest.bootstrap_s", "ingest.append_s", "ingest.delete_s",
        "ingest.compact_s", "ingest.compact_ratio",
        "ingest.max_fragmentation", "ingest.write_amp",
        "ingest.batch_p50_s", "ingest.probe_p50_s", "handoff.s",
        "handoff.write_s", "handoff.read_s", "handoff.pmml_s",
        "handoff.udf_s", "handoff.mb", "phase.cold_build_s",
        "phase.restart_s", "phase.warm_serve_s", "phase.ingest_s",
        "phase.first_pass_s", "trace.wall_s", "trace.overhead_s", "query.p50_s"]
    PINNED_END_TO_END = ["setup_s", "wall_s", "heap_retained_mb"]

    def test_ledger_schema_is_fixed(self):
        self.assertEqual(list(ledger.LEDGER), self.PINNED_LAYERS)
        self.assertEqual(list(run.END_TO_END), self.PINNED_END_TO_END)

    def test_benchmark_json_matches(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual([m["name"] for m in b["per_layer"]],
                         self.PINNED_LAYERS)
        self.assertEqual([m["unit"] for m in b["per_layer"]],
                         [ledger.LEDGER[k] for k in self.PINNED_LAYERS])
        self.assertEqual([m["name"] for m in b["end_to_end"]],
                         self.PINNED_END_TO_END)
        self.assertEqual(sorted(w["name"] for w in b["workloads"]),
                         sorted(run.WORKLOADS))


class RealRun(unittest.TestCase):
    def test_last_line_is_the_result(self):
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "fixed-cost",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        last = p.stdout.strip().splitlines()[-1]
        self.assertFalse(last.startswith("["))
        res = json.loads(last)
        self.assertEqual(set(res), {"correct", "attempted", "failed",
                                    "metrics"})
        self.assertTrue(res["correct"])
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                         run.END_TO_END)

    def test_bare_benchmark_dir_fails_without_result(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload",
                 "fixed-cost", "--seed", "1", "--seconds", "1",
                 "--trace", "0"],
                cwd=d, capture_output=True, text=True, timeout=180)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
