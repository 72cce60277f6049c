"""The traced run: spans recorded around the benchmark's calls into the
program's public functions, Spark status-store counters per span (one
job group per span of each operation), grid read-log chunk counts, and an
in-process replay of each operation's read blocks that times store
decode and pivot (those run inside Python workers, out of the driver's
sight).
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

import numpy as np


class Tracer:
    """Spans (name, start, end, parent, op) kept in memory; written out
    once at exit. Disabled, ``span`` costs one branch.

    ``on_group`` is called with ``"<op>:<span name>"`` as each span opens
    (and with the parent's again as it closes), so the Spark jobs a span
    starts can be found by that job group."""

    def __init__(self, enabled: bool, on_group=None):
        self.enabled = enabled
        self.on_group = on_group
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    def _group(self, idx: int | None) -> None:
        if self.on_group is not None and idx is not None:
            self.on_group(f"{self.op}:{self.spans[idx]['name']}")

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "op": self.op,
            "parent": parent,
            "start": time.perf_counter(),
            "end": None,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        self._group(self._stack[-1])
        try:
            yield
        finally:
            self._stack.pop()
            self._group(parent)
            rec["end"] = time.perf_counter()

    def totals(self, op: str) -> dict[str, float]:
        """Per span name: summed duration within one op."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["op"] == op:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def self_times(self, op: str) -> dict[str, float]:
        """Per span name: duration minus what its child spans cover."""
        spans = [(i, s) for i, s in enumerate(self.spans) if s["op"] == op]
        child = {i: 0.0 for i, _ in spans}
        for _i, s in spans:
            if s["parent"] is not None and s["parent"] in child:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out


# -- Spark status store ------------------------------------------------------
COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "scan_run_s",
)


def spark_counters(spark, op: str) -> dict[str, dict]:
    """Per job group ``"<op>:<span>"``: jobs, completed stages and their
    task metrics, read from the driver's status store (works with the UI
    disabled). A stage is a grid scan when it reads records but no input
    bytes: a Python data source reports rows only, a cached-block read
    reports both. ``stage_list`` keeps each stage for critical-path use."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out: dict[str, dict] = {}
    seen: set[int] = set()
    for i in range(jobs.size()):
        job = jobs.apply(i)
        g = job.jobGroup()
        if not (g.isDefined() and g.get().startswith(op + ":")):
            continue
        c = out.setdefault(g.get(), {**dict.fromkeys(COUNTERS, 0), "stage_list": []})
        c["jobs"] += 1
        ids = job.stageIds()
        for k in range(ids.size()):
            sid = ids.apply(k)
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if str(st.status()) != "COMPLETE":
                continue  # skipped: its output was reused
            run_s = st.executorRunTime() / 1e3
            scan = st.inputRecords() > 0 and st.inputBytes() == 0
            c["stages"] += 1
            c["tasks"] += st.numCompleteTasks()
            c["executor_run_s"] += run_s
            c["executor_cpu_s"] += st.executorCpuTime() / 1e9
            c["gc_s"] += st.jvmGcTime() / 1e3
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["scan_run_s"] += run_s if scan else 0.0
            c["stage_list"].append(
                {"stage": sid, "run_s": run_s, "tasks": st.numCompleteTasks(), "scan": scan}
            )
    return out


def merge_counters(by_group: dict[str, dict]) -> dict:
    total = dict.fromkeys(COUNTERS, 0)
    for c in by_group.values():
        for k in COUNTERS:
            total[k] += c[k]
    return total


# -- grid read log -----------------------------------------------------------
def read_log_files(log_dir: str) -> set[str]:
    return set(glob.glob(os.path.join(log_dir, "read_*.json")))


def read_log_records(paths) -> list[dict]:
    recs = []
    for p in sorted(paths):
        with open(p) as f:
            rec = json.load(f)
        if rec["partition"] >= 0:  # -1 is the empty sentinel partition
            recs.append(rec)
    return recs


# -- in-process replay of the read path ----------------------------------------
def _chunk_file_bytes(store: str, var: str, block: dict, dims, chunks: dict) -> int:
    """On-disk bytes of the Zarr v2 chunk files a block overlaps."""
    ranges = []
    for d in dims:
        a, b = block[d]
        c = chunks.get(d)
        ranges.append(range(a // c, (b - 1) // c + 1) if c else range(0, 1))
    total = 0
    for key in np.ndindex(*[len(r) for r in ranges]):
        name = ".".join(str(r[k]) for r, k in zip(ranges, key))
        p = os.path.join(store, var, name)
        if os.path.exists(p):
            total += os.path.getsize(p)
    return total


def replay(records: list[dict], ds, store: str | None, zarr_chunks: dict, batch_size: int) -> dict:
    """Re-run each logged block's decode (``read_block``) and pivot
    (``pivot.iter_record_batches``) in this process. Replay numbers:
    they time the same calls the workers make, on one warm core."""
    from xarray_sql_spark import pivot

    out = {"decode_s": 0.0, "decoded_bytes": 0, "bytes_read": 0, "pivot_s": 0.0, "rows": 0, "arrow_bytes": 0}
    for rec in records:
        dims = tuple(rec["block"])
        block = {d: slice(*rec["block"][d]) for d in dims}
        t = time.perf_counter()
        arrays = {
            v: ds.data_vars[v].read_block(tuple(block[d] for d in ds.data_vars[v].dims))
            for v in rec["vars_read"]
        }
        out["decode_s"] += time.perf_counter() - t
        out["decoded_bytes"] += sum(a.nbytes for a in arrays.values())
        if store:
            for v in rec["vars_read"]:
                out["bytes_read"] += _chunk_file_bytes(
                    store, v, rec["block"], ds.data_vars[v].dims, zarr_chunks
                )
        coords = {d: np.asarray(ds.coords[d])[block[d]] for d in dims}
        schema = pivot.infer_schema(dims, coords, {v: ds.data_vars[v] for v in rec["vars_read"]})
        t = time.perf_counter()
        for batch in pivot.iter_record_batches(dims, coords, arrays, schema, batch_size):
            out["rows"] += batch.num_rows
            # only the columns Spark asked for cross into the JVM
            out["arrow_bytes"] += sum(
                batch.column(c).nbytes for c in rec["columns"] if c in schema.names
            )
        out["pivot_s"] += time.perf_counter() - t
    return out
