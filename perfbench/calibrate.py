#!/usr/bin/env python3
"""One-off calibration, not a workload: a traced run over the whole
query inventory at one scale factor, in two passes (the first touches
every artifact for the first time, the second serves warm), each result
checked against its oracle.

    python3 perfbench/calibrate.py --sf 0.001 --seed 1

Prints, per pass, the build / plan / exec seconds, jobs (and jobs started
while frames were being built), summed task time and parallel
efficiency; the jobs per `graft.Tables` open; the first-touch extra
seconds of each query that built an artifact, and the artifact kinds
created; each query's cold and warm seconds (the source of
`inventory.WARM_S`); and any query that failed or disagreed with its
oracle.
"""
import argparse
import collections
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import inventory  # noqa: E402
import ledger  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    args = argparse.Namespace(workload="calibrate", seed=a.seed, seconds=0,
                              trace=1)
    ctx = run.Ctx(args, build.build())
    try:
        queries = sorted(inventory.WARM_S)
        d = ctx.inputs(a.sf, a.seed)
        res = ctx.jvm({"mode": "queries", "input": d,
                       "warmup": inventory.WARMUP, "queries": queries,
                       "min_passes": 2}, "result.json")
        checks = oracle.check_ops(
            d, ctx.out, [o for o in res["ops"] if o["kind"] == "query"], res)
        art_root = ctx.path("artifacts")
        kinds = sorted(os.listdir(art_root)) if os.path.isdir(art_root) else []
    finally:
        import shutil
        shutil.rmtree(ctx.work, ignore_errors=True)

    spans, groups = res["spans"], res["groups"]
    print(f"sf{a.sf}: {len(queries)} queries, {run.CORES} cores")
    print("pass     build     plan     exec    total   jobs (at build)"
          "   task_s  par_eff")
    per_query = collections.defaultdict(dict)
    # op ids are `p<pass>.<index>.<query>` (`pass<pass>` for table opens)
    passes = [("cold", lambda op: op.split(".")[0] in ("p0", "pass0")),
              ("warm", lambda op: op.split(".")[0] in ("p1", "pass1"))]
    for p, (label, mine) in enumerate(passes):
        ps = [s for s in spans if mine(s["op"])]
        pg = {g: v for g, v in groups.items() if mine(g.split("|")[0])}
        b = ledger.span_seconds(ps, "build")
        pl = ledger.span_seconds(ps, "plan")
        ex = ledger.span_seconds(ps, "exec")
        jb = ledger.sum_groups(pg, {"build"})
        je = ledger.sum_groups(pg, {"exec"})
        task = (jb["task_ms"] + je["task_ms"]) / 1e3
        total = b + pl + ex
        print(f"{label:5s} {b:8.1f} {pl:8.1f} {ex:8.1f} {total:8.1f} "
              f"{jb['jobs'] + je['jobs']:6d} ({jb['jobs']})  {task:8.1f} "
              f"{task / total / run.CORES:8.2f}")
        for o in res["ops"]:
            if mine(o["op"]) and o["kind"] == "query":
                per_query[o["name"]][p] = ledger.op_seconds(o)
                per_query[o["name"]]["built"] = (
                    per_query[o["name"]].get("built", 0) + int(o["built"]))
    tab = [o for o in res["ops"] if o["kind"] == "tables"]
    tj = ledger.sum_groups(groups, {"tables"})
    print(f"tables: {len(tab)} opens, {tj['jobs']} jobs "
          f"({tj['jobs'] / max(1, len(tab)):.2f} per open)")
    firsts = sorted(((v[0] - v[1], q) for q, v in per_query.items()
                     if v.get("built") and 0 in v and 1 in v), reverse=True)
    print("first-touch extra seconds (pass 0 - pass 1) of queries that "
          "built an artifact:")
    print("  " + ", ".join(f"{q} {d:.1f}" for d, q in firsts))
    print("artifact kinds created: " + ", ".join(kinds))
    print("per query: cold_s warm_s artifacts_built")
    for q in sorted(per_query):
        v = per_query[q]
        print(f"  {q} {v.get(0, -1):.3f} {v.get(1, -1):.3f} {v['built']}")
    bad = [o["name"] for o in res["ops"] if o["kind"] == "query"
           and not o["ok"]]
    wrong = [o["name"] for o in res["ops"] if o["op"] in checks
             and not checks[o["op"]]]
    print(f"failed: {sorted(set(bad))}")
    print(f"oracle mismatches: {sorted(set(wrong))}")


if __name__ == "__main__":
    main()
