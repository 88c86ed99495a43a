"""Rolls a traced run's spans up into the per-layer metrics.

Spans arrive from the harness (`op`, `sql.prepare`, `sources.validate`,
`octo.render`, with explicit parents) and from Spark's events (`job`
spans parented through the `perfbench.span` local property;
`catalyst.*` phases, `qe` records and `stream.trigger` spans with no
parent). A span without a parent belongs to the operation whose interval
holds its start; one op runs at a time, so that is unambiguous.

Every metric is a mean per traced operation.
"""
import collections

from .stats import self_time, union_length

# (name, unit, better) of every per-layer metric, in report order.
METRICS = [
    ("engine.session_s", "s", "lower"),
    ("engine.warmup_s", "s", "lower"),
    ("sql.prepare_s", "s", "lower"),
    ("sql.prepare_jobs", "count", "lower"),
    ("sources.infer_s", "s", "lower"),
    ("sources.infer_jobs", "count", "lower"),
    ("sources.validate_s", "s", "lower"),
    ("sources.validate_jobs", "count", "lower"),
    ("sources.input_bytes", "B", "lower"),
    ("sources.input_rows", "count", "lower"),
    ("catalyst.analysis_s", "s", "lower"),
    ("catalyst.optimization_s", "s", "lower"),
    ("catalyst.planning_s", "s", "lower"),
    ("plans.rule_s", "s", "lower"),
    ("plans.rule_effective_ratio", "share", "higher"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.task_s", "s", "lower"),
    ("exec.task_cpu_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.busy_share", "share", "higher"),
    ("exec.driver_gap_s", "s", "lower"),
    ("shuffle.write_bytes", "B", "lower"),
    ("shuffle.read_bytes", "B", "lower"),
    ("shuffle.write_s", "s", "lower"),
    ("shuffle.fetch_wait_s", "s", "lower"),
    ("shuffle.spill_bytes", "B", "lower"),
    ("operators.materialized_rdds", "count", "lower"),
    ("operators.cached_bytes", "B", "lower"),
    ("operators.cap_binds", "count", "lower"),
    ("operators.cap_reports", "count", "higher"),
    ("stream.batches", "count", "lower"),
    ("stream.trigger_s", "s", "lower"),
    ("stream.add_batch_s", "s", "lower"),
    ("stream.query_planning_s", "s", "lower"),
    ("stream.wal_commit_s", "s", "lower"),
    ("stream.commit_offsets_s", "s", "lower"),
    ("stream.state_commit_s", "s", "lower"),
    ("stream.state_rows", "count", "lower"),
    ("stream.state_memory_bytes", "B", "lower"),
    ("stream.state_partitions", "count", "lower"),
    ("stream.lifecycle_s", "s", "lower"),
    ("octo.render_s", "s", "lower"),
    ("octo.rows_out", "count", "lower"),
    ("octo.bytes_out", "B", "lower"),
    ("trace.overhead_latency_p50", "share", "lower"),
    ("trace.overhead_latency_tail", "share", "lower"),
    ("trace.overhead_ops_per_s", "share", "lower"),
    ("trace.overhead_flagship_rows_per_s", "share", "lower"),
]

JOB_SUMS = {
    "exec.stages": "stages", "exec.tasks": "tasks", "exec.task_s": "task_s",
    "exec.task_cpu_s": "task_cpu_s", "exec.gc_s": "gc_s",
    "sources.input_bytes": "input_bytes", "sources.input_rows": "input_rows",
    "shuffle.write_bytes": "shuffle_write_bytes", "shuffle.read_bytes": "shuffle_read_bytes",
    "shuffle.write_s": "shuffle_write_s", "shuffle.fetch_wait_s": "shuffle_fetch_wait_s",
    "shuffle.spill_bytes": "spill_bytes",
}
TRIGGER_SUMS = {
    "stream.add_batch_s": "add_batch_s", "stream.query_planning_s": "query_planning_s",
    "stream.wal_commit_s": "wal_commit_s", "stream.commit_offsets_s": "commit_offsets_s",
    "stream.state_commit_s": "state_commit_s",
}
TRIGGER_MAX = {
    "stream.state_rows": "state_rows", "stream.state_memory_bytes": "state_memory_bytes",
    "stream.state_partitions": "state_partitions",
}


def _iv(s):
    return (s["start"] / 1e3, s["end"] / 1e3)


def _dur(s):
    return (s["end"] - s["start"]) / 1e3


def assign(ops, spans):
    """Maps each traced op's span id to the spans that belong to it."""
    by_id = {s["id"]: s for s in spans}
    roots = {o["span"]: o for o in ops if o.get("traced")}
    windows = sorted((o["start_ms"], o["end_ms"], o["span"]) for o in roots.values())

    def root_of(s):
        seen = set()
        while s["parent"] and s["parent"] in by_id and s["id"] not in seen:
            seen.add(s["id"])
            s = by_id[s["parent"]]
        if s["id"] in roots:
            return s["id"]
        for lo, hi, rid in windows:
            if lo <= s["start"] <= hi:
                return rid
        return None

    owned = collections.defaultdict(list)
    for s in spans:
        if s["id"] in roots:
            continue
        r = root_of(s)
        if r is not None:
            owned[r].append(s)
    return roots, owned


def op_metrics(op, spans, cpus):
    """Per-layer numbers of one traced operation."""
    m = collections.defaultdict(float)
    wall = (op["end_ms"] - op["start_ms"]) / 1e3
    window = (op["start_ms"] / 1e3, op["end_ms"] / 1e3)
    by_name = collections.defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)
    jobs = by_name["job"]
    ids = {name: {s["id"] for s in by_name[name]}
           for name in ("sql.prepare", "sources.validate", "octo.render")}

    def jobs_under(name):
        return [j for j in jobs if j["parent"] in ids[name]]

    def inside(outer, names):
        lo, hi = outer["start"], outer["end"]
        return [s for n in names for s in by_name[n] if lo <= s["start"] <= hi]

    catalyst = ("catalyst.analysis", "catalyst.optimization", "catalyst.planning")
    for p in by_name["sql.prepare"]:
        kids = [j for j in jobs if j["parent"] == p["id"]] + inside(p, catalyst)
        m["sql.prepare_s"] += self_time(_iv(p), [_iv(k) for k in kids])
    infer = jobs_under("sql.prepare")
    m["sql.prepare_jobs"] = m["sources.infer_jobs"] = len(infer)
    m["sources.infer_s"] = union_length([_iv(j) for j in infer])
    m["sources.validate_s"] = sum(_dur(v) for v in by_name["sources.validate"])
    m["sources.validate_jobs"] = len(jobs_under("sources.validate"))
    for r in by_name["octo.render"]:
        kids = [j for j in jobs if j["parent"] == r["id"]] + inside(r, ("sources.validate",) + catalyst)
        m["octo.render_s"] += self_time(_iv(r), [_iv(k) for k in kids])
    m["octo.rows_out"] = op.get("rows_out", 0)
    m["octo.bytes_out"] = op.get("bytes_out", 0)

    for phase in catalyst:
        m[phase + "_s"] = sum(_dur(s) for s in by_name[phase])
    qes = by_name["qe"]
    m["plans.rule_s"] = sum(q["attrs"]["rule_s"] for q in qes)
    invoked = sum(q["attrs"]["rule_invocations"] for q in qes)
    m["plans.rule_effective_ratio"] = (
        sum(q["attrs"]["rule_effective"] for q in qes) / invoked if invoked else 0.0)
    m["operators.cap_reports"] = float(any(q["attrs"]["cap_reports"] > 0 for q in qes))
    m["operators.cap_binds"] = float(any(q["attrs"]["cap_binds"] > 0 for q in qes))
    m["operators.materialized_rdds"] = op.get("materialized_rdds", 0)
    m["operators.cached_bytes"] = op.get("cached_bytes", 0)

    m["exec.jobs"] = len(jobs)
    for metric, attr in JOB_SUMS.items():
        m[metric] = sum(j["attrs"].get(attr, 0.0) for j in jobs)
    m["exec.busy_share"] = m["exec.task_s"] / (wall * cpus) if wall > 0 else 0.0
    m["exec.driver_gap_s"] = wall - union_length([_iv(j) for j in jobs], *window)

    triggers = by_name["stream.trigger"]
    m["stream.batches"] = len(triggers)
    m["stream.trigger_s"] = sum(_dur(t) for t in triggers)
    for metric, attr in TRIGGER_SUMS.items():
        m[metric] = sum(t["attrs"][attr] for t in triggers)
    for metric, attr in TRIGGER_MAX.items():
        m[metric] = max((t["attrs"][attr] for t in triggers), default=0.0)
    m["stream.lifecycle_s"] = (wall - union_length([_iv(t) for t in triggers], *window)
                               if triggers else 0.0)
    return m


def rollup(result, cpus):
    """Per-layer means over the traced ops, and the same per query key."""
    roots, owned = assign(result["ops"], result["spans"])
    per_op = [(o["key"], op_metrics(o, owned.get(sid, []), cpus)) for sid, o in roots.items()]
    names = [n for n, _, _ in METRICS if not n.startswith(("engine.", "trace."))]

    def mean(rows):
        return {n: sum(r[n] for r in rows) / len(rows) if rows else 0.0 for n in names}

    by_key = collections.defaultdict(list)
    for key, m in per_op:
        by_key[key].append(m)
    return mean([m for _, m in per_op]), {k: mean(v) for k, v in sorted(by_key.items())}
