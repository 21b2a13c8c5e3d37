"""Metric arithmetic over what the harness recorded: percentiles, span
self time, and the per-layer ledger whose schema the tests pin."""
import math

# per-layer metric name -> unit; the traced run prints exactly these
LEDGER = {
    "tables.open_s": "s", "tables.open_jobs": "count",
    "build.s": "s", "build.jobs": "count", "build.task_s": "s",
    "plan.s": "s", "plan.analysis_s": "s", "plan.optimization_s": "s",
    "plan.planning_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_s": "s", "exec.cpu_s": "s",
    "exec.gc_s": "s", "exec.sched_delay_s": "s", "exec.par_eff": "ratio",
    "exec.input_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "artifact.builds": "count", "artifact.reuse_ratio": "ratio",
    "artifact.validate_s": "s", "artifact.mb": "MB",
    "artifact.files": "count", "artifact.space_amp": "ratio",
    "ingest.bootstrap_s": "s", "ingest.append_s": "s",
    "ingest.delete_s": "s", "ingest.compact_s": "s",
    "ingest.compact_ratio": "ratio", "ingest.max_fragmentation": "count",
    "ingest.write_amp": "ratio", "ingest.batch_p50_s": "s",
    "ingest.probe_p50_s": "s",
    "handoff.s": "s", "handoff.write_s": "s", "handoff.read_s": "s",
    "handoff.pmml_s": "s", "handoff.udf_s": "s", "handoff.mb": "MB",
    "phase.cold_build_s": "s", "phase.restart_s": "s",
    "phase.warm_serve_s": "s", "phase.ingest_s": "s",
    "phase.first_pass_s": "s",
    "trace.wall_s": "s", "trace.overhead_s": "s",
    "query.p50_s": "s",
}

# counter columns of the harness's per-job-group sums
GROUP_COLS = ["jobs", "stages", "tasks", "task_ms", "cpu_ns", "gc_ms",
              "sched_ms", "in_b", "shrd_b", "shwr_b", "spill_b"]

MIN_BEYOND = 10

# op kinds that are timed catalog queries
TIMED_QUERY_KINDS = {"query", "cold", "restart", "warm"}


def percentile(values, p):
    """The `p`-th percentile (0 < p < 100) by linear interpolation.

    A tail percentile (p > 50) is refused unless at least MIN_BEYOND
    samples lie beyond it: fewer than that and the figure is one or two
    slow samples, not a percentile. The median is always reported."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("percentile of no samples")
    if p > 50 and n * (100 - p) / 100.0 < MIN_BEYOND:
        raise ValueError(f"p{p} needs {MIN_BEYOND} samples beyond it; "
                         f"{n} samples leave {n * (100 - p) / 100.0:g}")
    pos = (n - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def op_seconds(op):
    """Duration of one recorded op."""
    return (op["end_ns"] - op["start_ns"]) / 1e9


def self_times(spans):
    """Self time per span id: its duration minus the part of its
    interval covered by its children."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0, s["start_ns"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], end), min(c["end_ns"], s["end_ns"])
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def layer_of(group):
    """`<op>|<layer>` job group -> layer name."""
    return group.rsplit("|", 1)[-1] if "|" in group else "-"


def sum_groups(groups, layers):
    tot = dict.fromkeys(GROUP_COLS, 0)
    for g, vals in groups.items():
        if layer_of(g) in layers:
            for k, v in zip(GROUP_COLS, vals):
                tot[k] += v
    return tot


def span_seconds(spans, name):
    """Summed self time of every span called `name`."""
    st = self_times(spans)
    return sum(st[s["id"]] for s in spans if s["name"] == name)


def timed_op(op):
    """Whether an op id belongs to the timed region (not to set-up)."""
    return not op.startswith("setup")


def ledger_metrics(res, cores, timed_wall):
    """The per-layer ledger of one traced run's timed region."""
    spans = [s for s in res.get("spans", []) if timed_op(s["op"])]
    groups = {g: v for g, v in res.get("groups", {}).items()
              if timed_op(g.split("|")[0])}
    ops = [o for o in res["ops"] if timed_op(o["op"])]
    m = dict.fromkeys(LEDGER, 0.0)
    m["trace.wall_s"] = timed_wall

    tab_ops = [o for o in ops if o["kind"] == "tables"]
    tab = sum_groups(groups, {"tables"})
    if tab_ops:
        m["tables.open_s"] = span_seconds(spans, "tables") / len(tab_ops)
        m["tables.open_jobs"] = tab["jobs"] / len(tab_ops)

    b = sum_groups(groups, {"build"})
    m["build.s"] = span_seconds(spans, "build")
    m["build.jobs"] = b["jobs"]
    m["build.task_s"] = b["task_ms"] / 1e3

    m["plan.s"] = span_seconds(spans, "plan")
    q_ops = [o for o in ops if "plan_analysis" in o]
    for ph in ("analysis", "optimization", "planning"):
        m[f"plan.{ph}_s"] = sum(float(o.get(f"plan_{ph}", 0))
                                for o in q_ops) / 1e3

    e = sum_groups(groups, {"exec"})
    m["exec.s"] = span_seconds(spans, "exec")
    m["exec.jobs"] = e["jobs"]
    m["exec.stages"] = e["stages"]
    m["exec.tasks"] = e["tasks"]
    m["exec.task_s"] = e["task_ms"] / 1e3
    m["exec.cpu_s"] = e["cpu_ns"] / 1e9
    m["exec.gc_s"] = e["gc_ms"] / 1e3
    m["exec.sched_delay_s"] = e["sched_ms"] / 1e3
    if m["exec.s"] > 0:
        m["exec.par_eff"] = m["exec.task_s"] / m["exec.s"] / cores
    m["exec.input_mb"] = e["in_b"] / 1e6
    m["exec.shuffle_read_mb"] = e["shrd_b"] / 1e6
    m["exec.shuffle_write_mb"] = e["shwr_b"] / 1e6
    m["exec.spill_mb"] = e["spill_b"] / 1e6

    # tracing work inside the timed region: the per-pass table probes
    # (made only when tracing) and the bookkeeping between layer calls
    # (the self time of each op's outer span)
    m["trace.overhead_s"] = (span_seconds(spans, "query")
                             + span_seconds(spans, "tables"))
    return m


def artifact_metrics(m, res, input_bytes, artifact_queries):
    """Artifact-layer figures seen from outside the store: builds are
    markers a timed op created or rewrote; a touch is a timed op of a
    query that serves from an artifact, reused when it built nothing;
    validation time, bytes and files come from the walk of the artifact
    root at the end of the run."""
    timed = [o for o in res["ops"] if o["kind"] in TIMED_QUERY_KINDS]
    m["artifact.builds"] = sum(int(o.get("built", 0)) for o in timed)
    touches = [o for o in timed if o["name"] in artifact_queries]
    if touches:
        m["artifact.reuse_ratio"] = (
            sum(1 for o in touches if int(o.get("built", 0)) == 0)
            / len(touches))
    end = res.get("artifacts_end")
    if end:
        m["artifact.validate_s"] = end["validate_s"]
        m["artifact.mb"] = end["bytes"] / 1e6
        m["artifact.files"] = end["files"]
        if input_bytes:
            m["artifact.space_amp"] = end["bytes"] / input_bytes

