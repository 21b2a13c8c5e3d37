#!/usr/bin/env python3
"""The repo benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload fixed-cost --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source (`perfbench/build.py`); every run then generates its
inputs from `--seed` under `.bench_work/`, drives the engine in a fresh
JVM as a closed loop with one client on `local[4]`, checks every result
outside the timed region (DuckDB oracle SQL, row counts, index
membership, hand-off read-back), and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ledger (`ledger.LEDGER`) of a separate traced run. Everything it writes
stays under the checkout and is removed when the run ends.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import inventory  # noqa: E402
import ledger  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT
CORES = 4
HEAP = "3g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END = {"setup_s": "s", "wall_s": "s", "heap_retained_mb": "MB"}


class Ctx:
    def __init__(self, args, classpath):
        self.args = args
        self.cp = classpath
        self.work = os.path.join(ROOT, ".bench_work",
                                 f"{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("in", "out", "tmp", "artifacts"):
            os.makedirs(os.path.join(self.work, d))
        self.out = os.path.join(self.work, "out")

    def path(self, *p):
        return os.path.join(self.work, *p)

    def inputs(self, sf, seed, shuffle=False):
        """The seeded catalog at `sf`; with `shuffle`, every table's rows
        in seeded order."""
        tables = gen.make_tables(sf, seed)
        if shuffle:
            tables = {k: gen.shuffled(v, seed, k) for k, v in tables.items()}
        d = self.path("in", "catalog")
        gen.write_tables(tables, d)
        return d

    def jvm(self, plan, result):
        """Run the harness on `plan`; return its result.json."""
        plan = dict(plan, cores=CORES, trace=self.args.trace, out=self.out,
                    result=result, artifact_root=self.path("artifacts"),
                    seconds=self.args.seconds)
        pfile = self.path(result + ".plan")
        with open(pfile, "w") as fh:
            for k, v in plan.items():
                v = ",".join(v) if isinstance(v, (list, tuple)) else v
                fh.write(f"{k}={v}\n")
        # no hsperfdata file: the JVM writes nothing outside the checkout
        cmd = ["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={self.path('tmp')}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in JDK_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", self.cp, "perfbench.Harness", pfile]
        env = dict(os.environ, GRAFT_ARTIFACT_DIR=self.path("artifacts"),
                   SPARK_LOCAL_DIRS=self.path("tmp"), SPARK_GRAFT_CPUS=str(CORES))
        log = self.path(result + ".log")
        with open(log, "w") as fh:
            rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                env=env, cwd=self.work).returncode
        if rc != 0:
            with open(log) as fh:
                sys.stderr.write(fh.read()[-4000:])
            raise SystemExit(f"perfbench: harness exited with {rc}")
        with open(os.path.join(self.out, result)) as fh:
            return json.load(fh)


# ---- workloads -------------------------------------------------------------

def setup_seconds(res):
    """Process start (interpreter, build check, input generation, JVM
    boot, Spark context) to the first timed op, on the wall clock."""
    return res["timed_start_ms"] / 1e3 - T_START


def fixed_cost(ctx):
    """Passes over the sample in one fresh JVM with no warm-up: the first
    pass pays the JVM's class loading and compilation, the later ones
    are the per-query fixed cost a long-lived node pays (frame
    construction, planning, job scheduling). `wall_s` is the pass wall
    at each query's fastest later run: a stall of the shared machine
    that hits one run of a query does not count."""
    queries = gen.sample_queries(inventory.fixed_cost_strata(),
                                 inventory.FIXED_COST_PER_STRATUM,
                                 ctx.args.seed, "fixed-cost",
                                 cost=inventory.WARM_S)
    d = ctx.inputs(0.001, ctx.args.seed)
    res = ctx.jvm({"mode": "queries", "input": d, "queries": queries,
                   "min_passes": inventory.FIXED_COST_PASSES}, "result.json")
    timed = [o for o in res["ops"] if o["kind"] == "query"]
    checks = oracle.check_ops(d, ctx.out, timed, res)
    failed = sum(1 for o in timed if not o["ok"] or not checks[o["op"]])
    warm = [o for o in timed if not o["op"].startswith("p0.")]
    best = {}
    for o in warm:
        at = o["op"].split(".", 1)[1]  # "<index in sample>.<query>"
        best[at] = min(best.get(at, math.inf), ledger.op_seconds(o))
    e2e = {"setup_s": setup_seconds(res), "wall_s": sum(best.values()),
           "heap_retained_mb": res["heap_retained_mb"]}
    layers = None
    if ctx.args.trace:
        layers = ledger.ledger_metrics(res, CORES, e2e["wall_s"])
        layers["query.p50_s"] = ledger.median(
            [ledger.op_seconds(o) for o in warm])
        layers["phase.first_pass_s"] = res["passes"][0]
        ledger.artifact_metrics(layers, res, gen.input_bytes(d),
                                inventory.ARTIFACT_QUERIES)
    return dict(attempted=len(timed), failed=failed, e2e=e2e, layers=layers,
                checks=checks, res=res)


def index_lifecycle(ctx):
    seed = ctx.args.seed
    d = ctx.inputs(0.01, seed, shuffle=True)
    queries = inventory.LIFECYCLE_QUERIES
    ing = ctx.path("in", "ingest")
    os.makedirs(ing)
    import pyarrow as pa
    import pyarrow.parquet as pq
    r = gen.rng(seed, "bootstrap")
    n0 = inventory.INGEST_BOOTSTRAP_ROWS
    base_ids = list(range(n0))
    pq.write_table(pa.table({"vec_id": pa.array(base_ids, pa.int64()),
                             "embedding": gen.vector_column(
                                 gen.unit_vectors(r, n0))}),
                   os.path.join(ing, "bootstrap.parquet"))
    pq.write_table(pa.table({"vec_id": pa.array(range(8), pa.int64()),
                             "embedding": gen.vector_column(
                                 gen.unit_vectors(r, 8))}),
                   os.path.join(ing, "probe.parquet"))
    batches, want = gen.ingest_batches(
        seed, base_ids, inventory.INGEST_BATCHES, inventory.INGEST_APPEND_ROWS,
        inventory.INGEST_DELETE_ROWS, 1_000_000)
    names = []
    for i, (kind, ids, vecs) in enumerate(batches):
        cols = {"vec_id": pa.array(ids, pa.int64())}
        if vecs is not None:
            cols["embedding"] = gen.vector_column(vecs)
        names.append(f"{kind}{i}")
        pq.write_table(pa.table(cols), os.path.join(ing, f"{kind}{i}.parquet"))
    plan = {"input": d, "queries": queries, "ingest_dir": ing,
            "ingest_base": ctx.path("artifacts", "ingest-ivf"),
            "ingest_cells": inventory.INGEST_CELLS, "ingest_batches": names}
    cold = ctx.jvm(dict(plan, mode="lifecycle-cold"), "cold.json")
    warm = ctx.jvm(dict(plan, mode="lifecycle-warm"), "warm.json")
    res = dict(warm)
    res["ops"] = cold["ops"] + warm["ops"]
    # span ids restart in each JVM: shift the second JVM's past the first's
    shift = max((s["id"] for s in cold.get("spans", [])), default=0)
    res["spans"] = cold.get("spans", []) + [
        dict(s, id=s["id"] + shift,
             parent=s["parent"] + shift if s["parent"] else 0)
        for s in warm.get("spans", [])]
    res["groups"] = dict(cold.get("groups", {}), **warm.get("groups", {}))
    for k, v in cold.items():
        if k.startswith("cold_") or k == "timed_start_ms":
            res[k] = v

    def kind(*ks):
        return [o for o in res["ops"] if o["kind"] in ks]
    timed_q = kind("cold", "restart", "warm")
    checks = oracle.check_ops(d, ctx.out, timed_q, res)
    with open(os.path.join(ctx.out, "members.txt")) as fh:
        members = [int(x) for x in fh.read().split()]
    checks["ingest.membership"] = members == want
    checks["handoff.readback"] = (res.get("handoff_equal") is True
                                  and res.get("handoff_pmml") is True)

    batch_ops, probes, hand = kind("batch"), kind("probe"), kind("handoff")
    ingest_ops = kind("bootstrap") + batch_ops + probes
    timed = timed_q + ingest_ops + hand
    failed = sum(1 for o in timed_q if not o["ok"] or not checks[o["op"]])
    failed += sum(1 for o in ingest_ops + hand if not o["ok"])
    failed += sum(1 for c in ("ingest.membership", "handoff.readback")
                  if not checks[c])

    phase = {p: res[f"{p}_wall_s"] for p in ("cold", "restart", "warm")}
    ingest_s = sum(ledger.op_seconds(o) for o in ingest_ops)
    wall = (sum(phase.values()) + ingest_s
            + sum(ledger.op_seconds(o) for o in hand))
    e2e = {"setup_s": setup_seconds(res), "wall_s": wall,
           "heap_retained_mb": res["heap_retained_mb"]}
    layers = None
    if ctx.args.trace:
        layers = ledger.ledger_metrics(res, CORES, wall)
        layers["query.p50_s"] = ledger.median(
            [ledger.op_seconds(o) for o in timed_q])
        ledger.artifact_metrics(layers, res, gen.input_bytes(d),
                                inventory.ARTIFACT_QUERIES)
        appended = sum(os.path.getsize(os.path.join(ing, f"{n}.parquet"))
                       for n in names if n.startswith("append"))
        ingest_layers(layers, res, batch_ops, probes, hand, appended)
        layers["phase.cold_build_s"] = phase["cold"]
        layers["phase.restart_s"] = phase["restart"]
        layers["phase.warm_serve_s"] = phase["warm"]
        layers["phase.ingest_s"] = ingest_s
    return dict(attempted=len(timed), failed=failed, e2e=e2e, layers=layers,
                checks=checks, res=res)


def ingest_layers(m, res, batch_ops, probes, hand, appended_bytes):
    spans = res.get("spans", [])
    m["ingest.bootstrap_s"] = ledger.span_seconds(spans, "bootstrap")
    m["ingest.append_s"] = ledger.span_seconds(spans, "append")
    m["ingest.delete_s"] = ledger.span_seconds(spans, "delete")
    m["ingest.compact_s"] = ledger.span_seconds(spans, "compact")
    if batch_ops:
        m["ingest.compact_ratio"] = (
            sum(1 for o in batch_ops if o["compacted"]) / len(batch_ops))
        m["ingest.max_fragmentation"] = max(o["fragmentation"]
                                            for o in batch_ops)
        m["ingest.batch_p50_s"] = ledger.median(
            [ledger.op_seconds(o) for o in batch_ops])
        # bytes the ingest wrote (each sink's growth of the artifact plus
        # every compaction's full rewrite) per byte of appended input
        written = sum(max(0, o["bytes_after_sink"] - o["bytes_before"])
                      + (o["artifact_bytes"] if o["compacted"] else 0)
                      for o in batch_ops)
        if appended_bytes:
            m["ingest.write_amp"] = written / appended_bytes
    if probes:
        m["ingest.probe_p50_s"] = ledger.median(
            [ledger.op_seconds(o) for o in probes])
    self_s = ledger.self_times(spans)
    for name in ("udf", "write", "pmml", "read"):
        m[f"handoff.{name}_s"] = sum(self_s[s["id"]] for s in spans
                                     if s["op"] == "handoff"
                                     and s["name"] == name)
    m["handoff.s"] = sum(ledger.op_seconds(o) for o in hand)
    m["handoff.mb"] = res.get("handoff_bytes", 0) / 1e6


WORKLOADS = {"fixed-cost": fixed_cost, "index-lifecycle": index_lifecycle}


def metric_block(values, units):
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    ctx = Ctx(args, build.build())
    try:
        out = WORKLOADS[args.workload](ctx)
    finally:
        shutil.rmtree(ctx.work, ignore_errors=True)
    bad = sorted(k for k, ok in out["checks"].items() if not ok)
    for k in bad:
        print(f"perfbench: check failed: {k}", file=sys.stderr)
    for o in out["res"]["ops"]:
        if not o["ok"]:
            print(f"perfbench: {o['op']} failed: {o['error']}", file=sys.stderr)
    if args.trace:
        metrics = metric_block(out["layers"], ledger.LEDGER)
    else:
        metrics = metric_block(out["e2e"], END_TO_END)
    print(json.dumps({"correct": not bad and out["failed"] == 0,
                      "attempted": out["attempted"], "failed": out["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
