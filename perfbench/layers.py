"""Per-layer metrics of a traced run: the benchmark's own operation
records, the tracer's layer spans and Spark's event log, joined on the
operation tag (job group) and on time.

Every metric covers the timed phase only. Names and units are the ones
``BENCHMARK.json`` lists under ``per_layer``.
"""

from __future__ import annotations

import statistics

from eventlog import TASK_FIELDS, Log, attribute, plan_counts

MB = 2**20

UNITS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_share": "ratio",
    "plans.failed": "count",
    "operators.cc_s": "s",
    "operators.cc_jobs": "count",
    "operators.dims_s": "s",
    "operators.failed": "count",
    "cachereg.boundary_s": "s",
    "cachereg.pinned_mb_peak": "MB",
    "cachereg.evictions": "count",
    "cachereg.evict_s": "s",
    "cachereg.failed": "count",
    "catalog.load_calls": "count",
    "catalog.load_s": "s",
    "catalog.load_jobs": "count",
    "catalog.hit_ratio": "ratio",
    "catalog.failed": "count",
    "action.run_s": "s",
    "action.jobs": "count",
    "action.failed": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.deser_s": "s",
    "spark.core_util": "ratio",
    "spark.input_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "plan.exchanges": "count",
    "plan.sort_merge_joins": "count",
    "plan.sort_aggregates": "count",
    "plan.python_evals": "count",
    "plan.in_memory_scans": "count",
    "sources.read_s": "s",
    "sources.failed": "count",
    "sinks.write_s": "s",
    "sinks.write_mb": "MB",
    "sinks.write_amp": "ratio",
    "sinks.failed": "count",
    "streaming.batches": "count",
    "streaming.batch_p50_s": "s",
    "streaming.jobs": "count",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "streaming.failed": "count",
    "query.samples": "count",
    "failed_frac": "ratio",
    "trace.unattributed_jobs": "count",
    "trace.overhead_s": "s",
}

# tracer layer -> metric prefix
_PREFIX = {
    "operators.cc": "operators",
    "operators.dims": "operators",
    "cachereg": "cachereg",
    "catalog": "catalog",
    "sources": "sources",
    "sinks": "sinks",
    "streaming.watermark": "streaming",
    "streaming.stateful": "streaming",
}


def _in(t: float, a: float, b: float) -> bool:
    return a <= t <= b


def layer_metrics(res, spans: list[dict], log: Log, cores: int, samples: int, attempted: int, failed: int) -> dict:
    timed = res.timed
    tags = {op.tag for op in timed}
    spans = [s for s in spans if s["op"] in tags]
    # check-phase operations are attributed too, so their jobs are not
    # mistaken for unattributed ones; the metrics use the timed ones only
    owned = attribute(log, [{"tag": op.tag, "start": op.start, "end": op.end} for op in res.ops])
    jobs_of = {tag: owned[tag]["jobs"] for tag in tags}
    all_jobs = [j for tag in tags for j in jobs_of[tag]]
    stages = set().union(*(owned[tag]["stages"] for tag in tags)) if tags else set()
    runs = set().union(*(owned[tag]["runs"] for tag in tags)) if tags else set()

    def jobs_in(tag: str, a: float, b: float) -> int:
        return sum(_in(j.submit_s, a, b) for j in jobs_of[tag])

    def layer(name: str) -> list[dict]:
        return [s for s in spans if s["layer"] == name]

    def span_s(ss) -> float:
        return sum(s["end"] - s["start"] for s in ss)

    def span_jobs(ss) -> int:
        return sum(jobs_in(s["op"], s["start"], s["end"]) for s in ss)

    m: dict[str, float] = {}
    m["session.start_s"] = res.start_s
    m["session.warm_s"] = res.warm_s

    build_s = sum(op.build_s for op in timed)
    action_s = sum(op.action_s for op in timed)
    m["plans.build_s"] = build_s
    m["plans.build_jobs"] = sum(jobs_in(op.tag, op.start, op.build_end) for op in timed)
    m["plans.build_share"] = build_s / (build_s + action_s) if build_s + action_s else 0.0
    m["action.run_s"] = action_s
    m["action.jobs"] = sum(jobs_in(op.tag, op.build_end, op.end) for op in timed)
    # an exception is charged to the step it was raised in; an output
    # mismatch is in failed_frac only
    m["plans.failed"] = sum(op.failed_step == "build" for op in timed)
    m["action.failed"] = sum(op.failed_step == "action" for op in timed)

    cc, dims = layer("operators.cc"), layer("operators.dims")
    m["operators.cc_s"] = span_s(cc)
    m["operators.cc_jobs"] = span_jobs(cc)
    m["operators.dims_s"] = span_s(dims)

    b0, b1 = res.boundary0, res.boundary1
    m["cachereg.boundary_s"] = span_s(layer("cachereg"))
    m["cachereg.pinned_mb_peak"] = res.pinned_mb_peak
    m["cachereg.evictions"] = b1.get("evictions", 0) - b0.get("evictions", 0)
    m["cachereg.evict_s"] = b1.get("evict_sec", 0.0) - b0.get("evict_sec", 0.0)

    loads = layer("catalog")
    load_jobs = [jobs_in(s["op"], s["start"], s["end"]) for s in loads]
    m["catalog.load_calls"] = len(loads)
    m["catalog.load_s"] = span_s(loads)
    m["catalog.load_jobs"] = sum(load_jobs)
    m["catalog.hit_ratio"] = sum(n == 0 for n in load_jobs) / len(loads) if loads else 0.0

    acc = dict.fromkeys(TASK_FIELDS, 0)
    for st in stages:
        for k, v in log.stage_metrics.get(st, {}).items():
            acc[k] += v
    wall = build_s + action_s
    m["spark.jobs"] = len(all_jobs)
    m["spark.stages"] = len(stages)
    m["spark.tasks"] = acc["tasks"]
    m["spark.executor_run_s"] = acc["run_ms"] / 1e3
    m["spark.executor_cpu_s"] = acc["cpu_ns"] / 1e9
    m["spark.gc_s"] = acc["gc_ms"] / 1e3
    m["spark.deser_s"] = acc["deser_ms"] / 1e3
    m["spark.core_util"] = acc["run_ms"] / 1e3 / (wall * cores) if wall > 0 else 0.0
    m["spark.input_mb"] = acc["in_b"] / MB
    m["spark.shuffle_read_mb"] = acc["shr_b"] / MB
    m["spark.shuffle_write_mb"] = acc["shw_b"] / MB
    m["spark.spill_mb"] = acc["spill_b"] / MB

    plan = dict.fromkeys(("exchanges", "sort_merge_joins", "sort_aggregates", "python_evals", "in_memory_scans"), 0)
    for exec_id in {j.exec_id for j in all_jobs if j.exec_id is not None}:
        if exec_id in log.plans:
            for k, v in plan_counts(log.plans[exec_id]).items():
                plan[k] += v
    for k, v in plan.items():
        m[f"plan.{k}"] = v

    m["sources.read_s"] = span_s(layer("sources"))
    m["sinks.write_s"] = span_s(layer("sinks"))
    m["sinks.write_mb"] = acc["out_b"] / MB
    m["sinks.write_amp"] = acc["out_b"] / acc["in_b"] if acc["in_b"] else 0.0

    progress = [p for p in log.progress if p.get("runId") in runs]
    last_state: dict[str, tuple[int, int]] = {}
    for p in progress:
        ops = p.get("stateOperators") or []
        last_state[p["runId"]] = (
            sum(o.get("numRowsTotal", 0) for o in ops),
            sum(o.get("memoryUsedBytes", 0) for o in ops),
        )
    durations = [p.get("durationMs", {}).get("triggerExecution", 0) / 1e3 for p in progress]
    m["streaming.batches"] = len(progress)
    m["streaming.batch_p50_s"] = statistics.median(durations) if durations else 0.0
    m["streaming.jobs"] = sum(j.group in runs for j in all_jobs)
    m["streaming.state_rows"] = sum(r for r, _ in last_state.values())
    m["streaming.state_mb"] = sum(b for _, b in last_state.values()) / MB

    for prefix in ("operators", "cachereg", "catalog", "sources", "sinks", "streaming"):
        m[f"{prefix}.failed"] = sum(s["failed"] for s in spans if _PREFIX[s["layer"]] == prefix)

    m["query.samples"] = samples
    m["failed_frac"] = failed / attempted
    # jobs of the untimed output check carry a "verify-" group
    m["trace.unattributed_jobs"] = sum(
        _in(j.submit_s, res.timed_start, res.timed_end) and not (j.group or "").startswith("verify-")
        for j in owned[None]["jobs"]
    )
    return m
