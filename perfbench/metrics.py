"""The benchmark's metrics: names, units, and what each layer metric is
predicted to move.

``END_TO_END`` and ``PER_LAYER`` must agree with BENCHMARK.json (a
self-test checks it). ``PREDICTIONS`` is the table written down before
any optimisation: which end-to-end metric a per-layer metric should
move, on which workload, and where it should stay still. A traced run
prints it with its numbers.
"""

from __future__ import annotations

import statistics
from typing import Sequence

WORKLOADS = ("sql_oltp", "etl_batch", "stream_ingest")

# name -> unit; every workload reports every one of these
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "op/s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
}

PER_LAYER = {
    "session.sql_self_ms_per_op": "ms",
    "dialect.rewrite_calls_per_op": "count",
    "dialect.rewrite_ms_per_op": "ms",
    "catalog.route_self_ms_per_op": "ms",
    "catalog.refresh_view_ms_per_write": "ms",
    "catalog.jobs_per_write": "count",
    "catalog.useful_job_ratio": "ratio",
    "operators.dml.write_ms_per_write": "ms",
    "operators.dml.read_ms_per_op": "ms",
    "operators.dml.bytes_written_per_write": "B",
    "operators.dml.files_written_per_write": "count",
    "operators.dml.versions_end": "count",
    "operators.dml.space_amp": "ratio",
    "spark.files_discovered_per_op": "count",
    "spark.file_cache_hits_per_op": "count",
    "spark.analysis_ms_per_read": "ms",
    "spark.optimizer_ms_per_read": "ms",
    "spark.planning_ms_per_read": "ms",
    "spark.codegen_compiles_per_op": "count",
    "spark.codegen_compile_ms_per_op": "ms",
    "workloads.build_ms_per_op": "ms",
    "workloads.build_jobs_per_op": "count",
    "workloads.exec_ms_per_op": "ms",
    "spark.exec.jobs_per_op": "count",
    "spark.exec.stages_per_op": "count",
    "spark.exec.tasks_per_op": "count",
    "spark.exec.task_run_ms_per_op": "ms",
    "spark.exec.task_cpu_ms_per_op": "ms",
    "spark.exec.gc_ms_per_op": "ms",
    "spark.exec.stage_busy_ratio": "ratio",
    "spark.exec.shuffle_write_bytes_per_op": "B",
    "spark.exec.shuffle_read_bytes_per_op": "B",
    "spark.exec.spill_bytes_per_op": "B",
    "spark.exec.peak_exec_mem_bytes": "B",
    "streaming.drain_ms_per_drain": "ms",
    "streaming.triggers_per_drain": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms_per_trigger": "ms",
    "streaming.query_planning_ms_per_trigger": "ms",
    "streaming.wal_commit_ms_per_trigger": "ms",
    "streaming.commit_offsets_ms_per_trigger": "ms",
    "streaming.state_rows_total": "count",
    "streaming.state_mem_bytes": "B",
    "tables.load_ms": "ms",
    "session.build_spark_s": "s",
    "session.peak_rss_mb": "MB",
    "trace.ops_per_s": "op/s",
    "trace.overhead_pct": "%",
}

# Metrics where a higher value is the better one; every other is lower.
HIGHER_IS_BETTER = {"ops_per_s", "catalog.useful_job_ratio",
                    "spark.exec.stage_busy_ratio", "trace.ops_per_s",
                    "spark.file_cache_hits_per_op"}

# (per-layer metric prefix or name, end-to-end metrics it should move,
#  workloads where it should move them, workloads where it should not)
PREDICTIONS = (
    ("session.sql_self_ms_per_op", "op_p50_ms", "sql_oltp", "etl_batch"),
    ("dialect.rewrite_", "op_p50_ms (<=0.2%: recorded so nobody optimises it blind)",
     "sql_oltp", "etl_batch stream_ingest"),
    ("catalog.route_self_ms_per_op catalog.refresh_view_ms_per_write",
     "op_p50_ms op_tail_ms", "sql_oltp", "etl_batch"),
    ("catalog.jobs_per_write catalog.useful_job_ratio", "op_tail_ms",
     "sql_oltp", "etl_batch"),
    ("operators.dml.", "op_tail_ms; ops_per_s via stream_upsert_sink",
     "sql_oltp stream_ingest", "etl_batch"),
    ("spark.files_discovered_per_op spark.file_cache_hits_per_op",
     "op_p50_ms op_tail_ms", "sql_oltp", "etl_batch"),
    ("spark.analysis_ms_per_read spark.optimizer_ms_per_read spark.planning_ms_per_read",
     "op_p50_ms", "sql_oltp", "etl_batch"),
    ("spark.codegen_", "op_p50_ms op_tail_ms", "sql_oltp", "etl_batch (~0 after warm-up)"),
    ("workloads.", "ops_per_s op_p50_ms", "etl_batch", "sql_oltp"),
    ("spark.exec.", "ops_per_s op_tail_ms", "etl_batch", "sql_oltp (small share)"),
    ("streaming.", "ops_per_s op_p50_ms", "stream_ingest", "sql_oltp etl_batch"),
    ("tables.load_ms session.build_spark_s session.peak_rss_mb", "setup_s",
     "sql_oltp etl_batch stream_ingest", "-"),
)

TAIL_BEYOND = 10


def tail(samples: Sequence[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ``TAIL_BEYOND`` samples above it."""
    xs = sorted(samples)
    n = len(xs)
    if n <= TAIL_BEYOND:
        raise ValueError(f"a tail needs more than {TAIL_BEYOND} samples, got {n}")
    rank = n - TAIL_BEYOND  # 1-based rank of the tail sample
    return xs[rank - 1], 100.0 * rank / n


def end_to_end(setup_s: float, latencies_ms: Sequence[float], busy_s: float) -> tuple[dict, dict]:
    """The end-to-end metrics of one untraced run, with units, and which
    percentile the tail is over how many samples."""
    value, pct = tail(latencies_ms)
    vals = {
        "setup_s": setup_s,
        "ops_per_s": len(latencies_ms) / busy_s,
        "op_p50_ms": statistics.median(latencies_ms),
        "op_tail_ms": value,
    }
    metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}
    return metrics, {"percentile": pct, "n": len(latencies_ms)}


def with_units(values: dict[str, float]) -> dict:
    """Per-layer values with units; a layer a workload never reaches
    reads 0."""
    return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
