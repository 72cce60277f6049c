"""Workload and metric names, units and bounds: the single source the
benchmark prints from, kept equal to ``BENCHMARK.json`` by the tests."""

from __future__ import annotations

WORKLOADS = {
    "interactive_session": (
        "register once, query many: box slices, OR-chain point lookups and "
        "metadata-only aggregates, so driver planning and pruning dominate"
    ),
    "anomaly_to_zarr": (
        "inline dataset, climatology self-join written back with "
        "to_zarr_distributed, reopened and reverse-pivoted: the write path"
    ),
}

END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "cells_per_s", "unit": "cells/s", "better": "higher", "bound": 0.25},
    {"name": "latency_p50_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "peak_rss_mb", "unit": "MB", "better": "lower", "bound": 0.1},
    {"name": "stored_bytes_ratio", "unit": "B/B", "better": "lower", "bound": 0.02},
]


def _layer(name: str, unit: str, better: str = "lower") -> dict:
    return {"name": name, "unit": unit, "better": better}


PER_LAYER = [
    _layer("xr_session.from_dataset_s", "s"),
    _layer("xr_session.sql_s", "s"),
    _layer("xr_session.zero_job_ops", "count", "higher"),
    _layer("grid_source.plan_s", "s"),
    _layer("grid_source.chunks_total", "count"),
    _layer("grid_source.chunks_read", "count"),
    _layer("grid_source.prune_ratio", "ratio", "higher"),
    _layer("grid_source.rows_out", "count"),
    _layer("grid_source.arrow_bytes", "B"),
    _layer("grid_source.payload_bytes", "B"),
    _layer("zarr_store.open_s", "s"),
    _layer("zarr_store.decode_s", "s"),
    _layer("zarr_store.decode_mb_per_s", "MB/s", "higher"),
    _layer("zarr_store.bytes_read", "B"),
    _layer("pivot.s", "s"),
    _layer("pivot.rows_per_s", "rows/s", "higher"),
    _layer("crossing.s", "s"),
    _layer("spark.jobs", "count"),
    _layer("spark.stages", "count"),
    _layer("spark.tasks", "count"),
    _layer("spark.executor_run_s", "s"),
    _layer("spark.executor_cpu_s", "s"),
    _layer("spark.gc_s", "s"),
    _layer("spark.shuffle_read_bytes", "B"),
    _layer("spark.shuffle_write_bytes", "B"),
    _layer("to_dataset.s", "s"),
    _layer("to_dataset.rows_per_s", "rows/s", "higher"),
    _layer("zarr_sink.s", "s"),
    _layer("zarr_sink.chunks_written", "count"),
    _layer("zarr_sink.bytes_written", "B"),
    _layer("process_tree.cpu_s_per_op", "s"),
    _layer("trace.overhead_s", "s"),
    _layer("known_defects.failed", "count"),
]


def pack(values: dict, specs: list[dict]) -> dict:
    """``{name: {"value", "unit"}}`` for exactly the names in ``specs``;
    a missing or extra name is a benchmark bug and raises."""
    names = [s["name"] for s in specs]
    missing = [n for n in names if n not in values]
    extra = [n for n in values if n not in names]
    if missing or extra:
        raise KeyError(f"metric names out of spec: missing={missing} extra={extra}")
    return {s["name"]: {"value": values[s["name"]], "unit": s["unit"]} for s in specs}
