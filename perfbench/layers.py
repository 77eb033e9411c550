"""Per-layer metrics of one traced pass, named ``<layer>.<metric>``.

Counts come from three places, all outside the program: the driver's
REST API (stage and SQL-node metrics of each op's job group), the zones
the op wrote (read back with DuckDB and parquet footers), and the raw
inputs. Metrics a workload does not exercise read 0.
"""

from __future__ import annotations

from rawzone import RULES, TABLES, slug
from workloads import CORES, OPERATOR_ROWS, QUERY_MIX


def _sum(ops, key) -> float:
    return sum(op.attrs.get(key, 0) for op in ops)


def _spark(ops) -> dict:
    spans = [op.attrs["span"] for op in ops if op.attrs.get("span")]
    st = lambda k: sum(s.stages.get(k, 0) for s in spans)  # noqa: E731
    wall = sum(s.wall_s for s in spans)
    run_s = st("executor_run_ms") / 1e3
    return {
        "spark.jobs": (sum(s.jobs for s in spans), "count"),
        "spark.tasks": (st("tasks"), "count"),
        "spark.executor_run_s": (run_s, "s"),
        "spark.executor_cpu_s": (st("executor_cpu_ns") / 1e9, "s"),
        "spark.gc_s": (st("gc_ms") / 1e3, "s"),
        "spark.input_bytes": (st("input_bytes"), "B"),
        "spark.shuffle_write_bytes": (st("shuffle_write_bytes"), "B"),
        "spark.spill_bytes": (st("memory_spill_bytes") + st("disk_spill_bytes"), "B"),
        "spark.output_bytes": (st("output_bytes"), "B"),
        "spark.core_util": (run_s / (wall * CORES) if wall else 0.0, "ratio"),
    }


def _pipeline(ops) -> dict:
    spans = [op.attrs["span"] for op in ops if op.attrs.get("span")]
    bytes_in = _sum(ops, "bytes_in")
    accepted = _sum(ops, "accepted")
    rows_written = _sum(ops, "rows_written")
    rejected = {f"{t}.{slug(r)}": 0 for t in TABLES for r in RULES[t]}
    for op in ops:
        for key, n in op.attrs.get("rejected_by_rule", {}).items():
            rejected[key] = rejected.get(key, 0) + n
    dedup_spill = sum(
        m.get("spill size", 0.0)
        for s in spans
        for _e, _o, _d, nodes in s.executions
        if any(n.startswith("Window") for n, _m in nodes)
        for n, m in nodes
        if n == "Sort"
    )
    out = {
        "readers.rows_in": (_sum(ops, "rows_in"), "count"),
        "readers.corrupt_rows": (_sum(ops, "corrupt"), "count"),
        "readers.read_amp": (
            sum(s.stages.get("input_bytes", 0) for s in spans) / bytes_in
            if bytes_in else 0.0, "ratio"),
        "validation.rejected_rows": (sum(rejected.values()), "count"),
    }
    for key, n in rejected.items():
        out[f"validation.rejected.{key}"] = (n, "count")
    out.update({
        "dedup.dropped_rows": (_sum(ops, "dedup_dropped"), "count"),
        "dedup.spill_bytes": (dedup_spill, "B"),
        "writers.rows_written": (rows_written, "count"),
        "writers.rewrite_amp": (rows_written / accepted if accepted else 0.0, "ratio"),
        "writers.target_bytes_read": (
            sum(s.node_metric("Scan parquet", "size of files read") for s in spans), "B"),
        "writers.partitions_rewritten": (_sum(ops, "partitions_rewritten"), "count"),
        "writers.files_written": (_sum(ops, "files_written"), "count"),
        "writers.output_bytes": (_sum(ops, "output_bytes"), "B"),
        "pipeline.self_s": (sum(s.wall_s - s.execution_s() for s in spans), "s"),
        "pipeline.jobs": (sum(s.jobs for s in spans), "count"),
        "pipeline.cpu_s": (_sum(ops, "cpu_s"), "s"),
        "pipeline.unaccounted_rows": (_sum(ops, "unaccounted"), "count"),
    })
    return out


def _queries(ops) -> dict:
    by_name = {op.name: op for op in ops}
    out = {
        "query.build_s": (_sum(ops, "build"), "s"),
        "query.plan_s": (_sum(ops, "plan"), "s"),
        "query.exec_s": (_sum(ops, "exec"), "s"),
    }
    for q in QUERY_MIX:
        op = by_name.get(q)
        out[f"query.{q}.s"] = (op.latency_s if op else 0.0, "s")
        out[f"query.{q}.cpu_s"] = (op.attrs.get("cpu_s", 0.0) if op else 0.0, "s")
    for q in OPERATOR_ROWS:
        span = by_name[q].attrs.get("span") if q in by_name else None
        out[f"query.{q}.shuffle_bytes"] = (
            span.stages.get("shuffle_write_bytes", 0) if span else 0, "B")
        out[f"query.{q}.tasks"] = (span.stages.get("tasks", 0) if span else 0, "count")
    return out


def _zero(metrics: dict) -> dict:
    return {k: (0.0, unit) for k, (_v, unit) in metrics.items()}


def pass_layers(workload: str, ops, tracer_overhead_s: float) -> dict:
    """Every per-layer metric for one traced pass of ``workload``."""
    spans = [op.attrs["span"] for op in ops if op.attrs.get("span")]
    pipe = _pipeline(ops)
    qry = _queries(ops)
    out = {}
    out.update(pipe if workload == "upsert_daily" else _zero(pipe))
    out.update(qry if workload == "query_mix" else _zero(qry))
    out["caching.persisted_bytes_peak"] = (
        max((s.attrs.get("persisted_bytes", 0) for s in spans), default=0), "B")
    out["caching.persisted_rdds_peak"] = (
        max((s.attrs.get("persisted_rdds", 0) for s in spans), default=0), "count")
    out.update(_spark(ops))
    out["trace.wall_s"] = (sum(op.latency_s for op in ops), "s")
    out["trace.overhead_s"] = (tracer_overhead_s, "s")
    return out
