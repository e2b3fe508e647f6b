"""Per-layer metrics of a traced run, each tied to the end-to-end metric and
workload it should move.

Times are self times (a span's duration minus its child spans), except
``lake.table.compact_s`` and ``lake.table.vacuum_s``, which time the whole
maintenance call; writes made under ``compact`` count as
``lake.table.bytes_rewritten``, not as ``lake.table.bytes_written``. Sums
and times are per cycle (a sync or a serve round); counts of
state are the mean of end-of-cycle values.
"""

from __future__ import annotations

from .eventlog import Counters
from .trace import Span, self_times

_WRITES = "write_p50_s; events_per_s"
_EVERY_WRITER = "sync_stream, serve_mixed"
_UDF = "events_per_s, then write_p50_s"

#: metric -> (unit, end-to-end metric it should move, on which workload)
LAYER_METRICS = {
    "streaming.add_batch_s": ("s", "write_p50_s, events_per_s", "sync_stream"),
    "streaming.overhead_s": ("s", "write_p50_s, events_per_s", "sync_stream"),
    "streaming.triggers": ("count", "write_p50_s, events_per_s", "sync_stream"),
    "streaming.state_rows": ("count", "events_per_s", "sync_stream"),
    "streaming.state_bytes": ("bytes", "events_per_s", "sync_stream"),
    "streaming.state_commit_s": ("s", "events_per_s", "sync_stream"),
    "streaming.dedup_drop_frac": ("frac", "events_per_s", "sync_stream"),
    "lake.merge.s": ("s", _WRITES, _EVERY_WRITER),
    "lake.merge.calls": ("count", _WRITES, _EVERY_WRITER),
    "lake.merge.rows_in": ("count", _WRITES, _EVERY_WRITER),
    "lake.merge.collapse_ratio": ("frac", _WRITES, _EVERY_WRITER),
    "lake.scd.s": ("s", "write_p50_s (no change elsewhere)", "sync_stream"),
    "lake.scd.calls": ("count", "write_p50_s (no change elsewhere)", "sync_stream"),
    "lake.table.write_s": ("s", _WRITES, _EVERY_WRITER),
    "lake.table.files_written": ("count", _WRITES, _EVERY_WRITER),
    "lake.table.bytes_written": ("bytes", _WRITES, _EVERY_WRITER),
    "lake.table.commit_s": ("s", "write_p50_s", "sync_stream"),
    "lake.table.commit_retries": ("count", "write_p50_s", "sync_stream"),
    "lake.table.snapshot_s": ("s", "write_p50_s", "sync_stream"),
    "lake.table.log_reads": ("count", "write_p50_s", "sync_stream"),
    "lake.table.lookup_plan_s": ("s", "read_p50_s, scan_p50_s", "serve_mixed"),
    "lake.table.lookup_files_read_frac": ("frac", "read_p50_s, scan_p50_s", "serve_mixed"),
    "lake.table.files_live": ("count", "read_p50_s, scan_p50_s", "serve_mixed"),
    "lake.table.delta_files_live": ("count", "read_p50_s, scan_p50_s", "serve_mixed"),
    "lake.table.compact_s": ("s", "ops_per_s", "serve_mixed"),
    "lake.table.vacuum_s": ("s", "ops_per_s", "serve_mixed"),
    "lake.table.bytes_rewritten": ("bytes", "ops_per_s", "serve_mixed"),
    "functions.udf_rows": ("count", _UDF, _EVERY_WRITER),
    "functions.udf_s": ("s", _UDF, _EVERY_WRITER),
    "functions.udf_bytes_sent": ("bytes", _UDF, _EVERY_WRITER),
    "functions.udf_boot_s": ("s", _UDF, _EVERY_WRITER),
    "operators.collapse_rows_in": ("count", "events_per_s", _EVERY_WRITER),
    "operators.collapse_rows_out": ("count", "events_per_s", _EVERY_WRITER),
    "spark.jobs": ("count", "write_p50_s", "sync_stream"),
    "spark.jobs_per_trigger": ("count", "write_p50_s", "sync_stream"),
    "spark.tasks": ("count", "events_per_s, ops_per_s", "all"),
    "spark.executor_run_s": ("s", "events_per_s, ops_per_s", "all"),
    "spark.executor_cpu_s": ("s", "events_per_s, ops_per_s", "all"),
    "spark.gc_s": ("s", "events_per_s, ops_per_s", "all"),
    "spark.core_busy_frac": ("frac", "events_per_s, ops_per_s", "all"),
    "spark.shuffle_write_bytes": ("bytes", "events_per_s", _EVERY_WRITER),
    "spark.spill_bytes": ("bytes", "events_per_s", _EVERY_WRITER),
    "spark.scan_bytes": ("bytes", "scan_p50_s, read_p50_s", "serve_mixed"),
    "trace.overhead_frac": ("frac", "traced wall / untraced wall - 1 (event log on in both)", "all"),
}


def _under(span: Span, name: str, by_id: dict[int, Span]) -> bool:
    p = span.parent
    while p is not None:
        if by_id[p].name == name:
            return True
        p = by_id[p].parent
    return False


def per_layer(
    spans: list[Span],
    progress: list[dict],
    counters: Counters,
    *,
    cycles: int,
    events: int,
    write_ops: int,
    write_windows: list[tuple[float, float]],
    wall_s: float,
    cores: int,
    end_files: list[tuple[int, int]],
    overhead_frac: float,
) -> dict[str, float]:
    """Fold spans, streaming progress and event-log counters into the
    ``LAYER_METRICS`` values (per cycle where the metric is a total)."""
    selfs = self_times(spans)
    by_id = {s.id: s for s in spans}

    def of(name):
        return [s for s in spans if s.name == name]

    def self_s(name, exclude_under=None):
        return sum(selfs[s.id] for s in of(name)
                   if not (exclude_under and _under(s, exclude_under, by_id)))

    def attr(name, key, under=None, exclude_under=None):
        total = 0
        for s in of(name):
            if under and not _under(s, under, by_id):
                continue
            if exclude_under and _under(s, exclude_under, by_id):
                continue
            total += s.attrs.get(key, 0)
        return total

    per = 1.0 / max(1, cycles)
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = [p.get("durationMs", {}) for p in progress]
    states = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    dropped = sum(
        s.get("numRowsDroppedByWatermark", 0)
        + (s.get("customMetrics") or {}).get("numDroppedDuplicateRows", 0)
        for s in states
    )
    input_rows = sum(p.get("numInputRows", 0) for p in data)
    # end-of-cycle state: the last progress of each sync
    last_states = [p["stateOperators"][0] for p in _last_per_run(progress)
                   if p.get("stateOperators")]
    merge_rows = attr("lake.merge", "rows_in")
    lookups_total = attr("lake.table.lookup_plan", "total_files")
    jobs_in_writes = sum(
        1 for t in counters.job_times if any(lo <= t <= hi for lo, hi in write_windows)
    )
    py = counters.python
    return {
        "streaming.add_batch_s": per * sum(d.get("addBatch", 0) for d in dur) / 1e3,
        "streaming.overhead_s": per * sum(
            d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dur) / 1e3,
        "streaming.triggers": per * len(progress),
        "streaming.state_rows": _mean([s.get("numRowsTotal", 0) for s in last_states]),
        "streaming.state_bytes": _mean([s.get("memoryUsedBytes", 0) for s in last_states]),
        "streaming.state_commit_s": per * sum(s.get("commitTimeMs", 0) for s in states) / 1e3,
        "streaming.dedup_drop_frac": dropped / input_rows if input_rows else 0.0,
        "lake.merge.s": per * self_s("lake.merge"),
        "lake.merge.calls": per * len(of("lake.merge")),
        "lake.merge.rows_in": per * merge_rows,
        "lake.merge.collapse_ratio": merge_rows / events if events else 0.0,
        "lake.scd.s": per * self_s("lake.scd"),
        "lake.scd.calls": per * len(of("lake.scd")),
        "lake.table.write_s": per * self_s("lake.table.write", exclude_under="lake.table.compact"),
        "lake.table.files_written": per * attr(
            "lake.table.write", "files", exclude_under="lake.table.compact"),
        "lake.table.bytes_written": per * attr(
            "lake.table.write", "bytes", exclude_under="lake.table.compact"),
        "lake.table.commit_s": per * self_s("lake.table.commit"),
        "lake.table.commit_retries": per * attr("lake.table.commit", "retries"),
        "lake.table.snapshot_s": per * self_s("lake.table.snapshot"),
        "lake.table.log_reads": per * attr("lake.table.snapshot", "log_reads"),
        "lake.table.lookup_plan_s": per * self_s("lake.table.lookup_plan"),
        "lake.table.lookup_files_read_frac": (
            attr("lake.table.lookup_plan", "files") / lookups_total if lookups_total else 0.0),
        "lake.table.files_live": _mean([f for f, _ in end_files]),
        "lake.table.delta_files_live": _mean([d for _, d in end_files]),
        "lake.table.compact_s": per * sum(s.duration for s in of("lake.table.compact")),
        "lake.table.vacuum_s": per * sum(s.duration for s in of("lake.table.vacuum")),
        "lake.table.bytes_rewritten": per * attr(
            "lake.table.write", "bytes", under="lake.table.compact"),
        "functions.udf_rows": per * py.get("udf_rows", 0.0),
        "functions.udf_s": per * py.get("udf_ms", 0.0) / 1e3,
        "functions.udf_bytes_sent": per * py.get("udf_bytes_sent", 0.0),
        "functions.udf_boot_s": per * py.get("udf_boot_ms", 0.0) / 1e3,
        "operators.collapse_rows_in": per * counters.collapse_rows_in,
        "operators.collapse_rows_out": per * counters.collapse_rows_out,
        "spark.jobs": per * counters.jobs,
        "spark.jobs_per_trigger": jobs_in_writes / write_ops if write_ops else 0.0,
        "spark.tasks": per * counters.tasks,
        "spark.executor_run_s": per * counters.executor_run_ms / 1e3,
        "spark.executor_cpu_s": per * counters.executor_cpu_ns / 1e9,
        "spark.gc_s": per * counters.gc_ms / 1e3,
        "spark.core_busy_frac": (
            counters.executor_run_ms / 1e3 / (wall_s * cores) if wall_s else 0.0),
        "spark.shuffle_write_bytes": per * counters.shuffle_write_bytes,
        "spark.spill_bytes": per * counters.spill_bytes,
        "spark.scan_bytes": per * counters.scan_bytes,
        "trace.overhead_frac": overhead_frac,
    }


def _mean(xs: list) -> float:
    return float(sum(xs) / len(xs)) if xs else 0.0


def _last_per_run(progress: list[dict]) -> list[dict]:
    last: dict[str, dict] = {}
    for p in progress:
        last[p.get("runId", "")] = p
    return list(last.values())
