"""One benchmark run in this process: start Spark, set up a workload's
inputs, run its closed loop (one client) for ``--seconds``, check every
operation against the oracle, and print the metrics. ``gridbench/run.py``
pins the launch environment and starts this module; run that instead.

Set-up time is the session start (Spark, ``XarraySession``, its first
registration) plus the median of ``SETUP_REPS`` input set-ups (generate,
write, open, register) plus a warm-up: the workload's first
``warm_units`` units of operations, run untimed. End-to-end metrics come
from ``--trace 0`` runs. ``--trace 1`` alternates traced and untraced
units of work and prints the per-layer metrics instead.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import numpy as np  # noqa: E402

from gridbench import procfs, spec, tracing  # noqa: E402
from gridbench.workloads import WORKLOADS, as_dataset, known_defects  # noqa: E402

SETUP_REPS = 3


class Ctx:
    def __init__(self, args):
        self.seed = args.seed
        self.cpus = args.cpus
        self.trace = bool(args.trace)
        self.work = args.work
        self.read_log = os.path.join(self.work, "read_log")
        self.spark = None
        self.xs = None


def percentile_with_ten_beyond(lat: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile that still has ten samples above it."""
    n = len(lat)
    if n < 11:
        return None
    p = int(100 * (n - 10) / n)
    s = sorted(lat)
    return p, s[min(n - 1, max(0, int(p / 100 * n) - 1))]


def ranked_latencies(records: list[dict]) -> list[float]:
    """Failed operations count as missing any latency limit: they rank
    above every successful one."""
    ok = sorted(r["latency_s"] for r in records if r["ok"])
    worst = max([r["latency_s"] for r in records], default=0.0)
    return ok + [worst] * sum(not r["ok"] for r in records)


def run_loop(ctx, wl, units, seconds: float, tracer) -> list[dict]:
    pid = os.getpid()
    sc = ctx.spark.sparkContext
    off = tracing.Tracer(False)
    tracer.on_group = lambda group: sc.setJobGroup(group, group)
    records: list[dict] = []
    start = time.perf_counter()
    for u, unit in enumerate(units):
        # a traced run measures at least one untraced and one traced unit
        if time.perf_counter() - start >= seconds and (not ctx.trace or u >= 2):
            break
        traced = ctx.trace and u % 2 == 1
        for op in unit:
            op_id = f"op{len(records)}"
            rec = {"op": op_id, "kind": op.kind, "traced": traced}
            if ctx.trace:
                sc.setJobGroup(f"{op_id}:untraced", op.kind)
                logs_before = tracing.read_log_files(ctx.read_log)
            tracer.op = op_id if traced else None
            cpu0 = procfs.tree_cpu_s(pid)
            t0 = time.perf_counter()
            try:
                with (tracer if traced else off).span("op"):
                    res = wl.run(op, traced, tracer if traced else off, plan=traced)
                err = None
            except Exception as e:  # a failed op is counted, not fatal
                res, err = None, f"raised {type(e).__name__}: {str(e).splitlines()[0][:200]}"
            rec["latency_s"] = time.perf_counter() - t0
            rec["cpu_s"] = procfs.tree_cpu_s(pid) - cpu0
            if traced:
                rec["spark_by_span"] = tracing.spark_counters(ctx.spark, op_id)
                rec["spark"] = tracing.merge_counters(rec["spark_by_span"])
                rec["read_log"] = sorted(tracing.read_log_files(ctx.read_log) - logs_before)
            reason = err or wl.check(op, res)
            if res is not None:
                rec.update(wl.op_counters(res))
            rec["ok"] = reason is None
            rec["reason"] = reason
            rec["cells"] = wl.cells(op) if reason is None else 0
            records.append(rec)
            if res is not None:
                wl.cleanup(op, res)
            if reason:
                print(f"# FAILED {op_id} {op.kind}: {reason}", file=sys.stderr)
    return records


def end_to_end(setup_s: float, wl, records: list[dict], peak_rss: int) -> dict:
    busy = sum(r["latency_s"] for r in records)
    return {
        "setup_s": setup_s,
        "cells_per_s": sum(r["cells"] for r in records) / busy,
        "latency_p50_s": statistics.median(ranked_latencies(records)),
        "peak_rss_mb": peak_rss / 2**20,
        "stored_bytes_ratio": wl.stored_bytes_ratio,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True, help="directory for the traced-run artifact")
    ap.add_argument("--work", required=True, help="scratch directory, removed by the launcher")
    ap.add_argument("--cpus", type=int, required=True)
    args = ap.parse_args(argv)

    import xarray_sql_spark  # noqa: F401 -- fail fast when the program is absent

    ctx = Ctx(args)
    os.makedirs(ctx.read_log, exist_ok=True)
    wl = WORKLOADS[args.workload](ctx)
    tracer = tracing.Tracer(ctx.trace)
    with procfs.PeakRss(os.getpid()) as rss:
        records, setup, defects, layers = _run(ctx, wl, args, tracer)

    failed = sum(not r["ok"] for r in records)
    if ctx.trace:
        metrics = spec.pack(layers["metrics"], spec.PER_LAYER)
        _write_artifact(args, ctx, records, setup, defects, layers, tracer)
    else:
        metrics = spec.pack(end_to_end(setup["setup_s"], wl, records, rss.peak), spec.END_TO_END)
    _summary(args, records, setup, defects, metrics)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _run(ctx, wl, args, tracer):
    from xarray_sql_spark.dataset import Dataset, Variable
    from xarray_sql_spark.session import get_spark
    from xarray_sql_spark.xr_session import XarraySession

    ctx.spark = get_spark(f"gridbench-{args.workload}", cpus=args.cpus)
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.xs = XarraySession(ctx.spark)
    spark_start_s = time.perf_counter() - T_START
    try:
        # The session's first registration starts the Python planner worker;
        # a one-cell grid takes that cost here, in the session start.
        ctx.xs.from_dataset(
            "prime", Dataset({"v": Variable(("x",), np.zeros(1))}, {"x": np.arange(1)})
        )
        session_s = time.perf_counter() - T_START
        reps, from_dataset = [], []
        for k in range(SETUP_REPS):
            payloads0 = _payload_files()
            t = time.perf_counter()
            from_dataset.append(wl.setup_inputs(k))
            reps.append(time.perf_counter() - t)
        new_payloads = _payload_files() - payloads0
        units = wl.units()
        t = time.perf_counter()
        for k in range(wl.warm_units):
            warm_up(ctx, wl, next(units), logged_too=k == 0)
        warm_s = time.perf_counter() - t
        setup = {
            "setup_s": session_s + statistics.median(reps) + warm_s,
            "session_s": session_s,
            "spark_start_s": spark_start_s,
            "input_setup_s": reps,
            "warm_up_s": warm_s,
            "from_dataset_s": from_dataset,
            "payload_bytes": statistics.mean(os.path.getsize(p) for p in new_payloads),
        }
        records = run_loop(ctx, wl, units, args.seconds, tracer)
        # the defect repros are reported with the per-layer numbers
        defects = known_defects(ctx, wl) if ctx.trace and wl.name == "interactive_session" else []
        layers = per_layer(ctx, wl, records, setup, defects, tracer) if ctx.trace else None
    finally:
        ctx.spark.stop()
    return records, setup, defects, layers


def warm_up(ctx, wl, unit, logged_too: bool) -> None:
    """Run a unit of real operations untimed (on the read-logged table
    too, in a traced run, if ``logged_too``), so code generation, Python
    workers and the program's caches are warm before timing. Both tables
    run the same code, so one unit warms the read-logged one. A warm-up op
    that fails still fails the run: it is checked like any other."""
    off = tracing.Tracer(False)
    for traced in (False, True) if ctx.trace and logged_too else (False,):
        for op in unit:
            res = wl.run(op, traced, off, plan=traced)
            reason = wl.check(op, res)
            if reason:
                raise RuntimeError(f"warm-up {op.kind} failed the oracle: {reason}")
            wl.cleanup(op, res)


def _payload_files() -> set[str]:
    """Registration payload pickles: XarraySession writes them under the
    process temp directory, which the launcher points into the run's own
    scratch directory."""
    import glob
    import tempfile

    return set(glob.glob(os.path.join(tempfile.gettempdir(), "xgrid_*", "payload_*.pkl")))


# -- the traced run ---------------------------------------------------------------
# Which share of operation time each workload is predicted to spend where;
# the traced run reports the measured shares next to this.
PREDICTED_DOMINANT = {
    "interactive_session": "driver_planning",
    "anomaly_to_zarr": "zarr_sink",
}


def per_layer(ctx, wl, records, setup, defects, tracer) -> dict:
    from xarray_sql_spark.dataset import Dataset

    traced = [r for r in records if r["traced"]]
    untraced = [r for r in records if not r["traced"]]
    n = max(1, len(traced))
    table_chunks = -(-len(wl.grid.time) // wl.grid.time_chunk)
    tot = {k: 0.0 for k in (
        "sql_s", "plan_s", "open_s", "decode_s", "decoded_bytes", "bytes_read", "pivot_s",
        "rows", "arrow_bytes", "crossing_s", "to_dataset_s", "to_dataset_rows", "sink_s",
        "sink_chunks", "sink_bytes", "chunks_total", "chunks_read", "rows_out",
    )}
    spark_tot = {k: 0.0 for k in (
        "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
        "shuffle_read_bytes", "shuffle_write_bytes",
    )}
    zero_job_ops = 0
    for r in traced:
        spans = tracer.totals(r["op"])
        r["span_s"], r["self_s"] = spans, tracer.self_times(r["op"])
        logs = tracing.read_log_records(r["read_log"])
        reads = [tuple(sorted((d, tuple(b)) for d, b in rec["block"].items())) for rec in logs]
        scans = max([reads.count(b) for b in set(reads)], default=1)
        tot["chunks_total"] += table_chunks * scans
        tot["chunks_read"] += len(logs)
        for rec in logs:
            cells = 1
            for a, b in rec["block"].values():
                cells *= b - a
            tot["rows_out"] += cells
        if wl.store and logs:
            t = time.perf_counter()
            ds = Dataset.open_store(wl.store)
            tot["open_s"] += time.perf_counter() - t
        else:
            ds = as_dataset(wl.grid, wl.var)
        rep = tracing.replay(logs, ds, wl.store, {"time": wl.grid.time_chunk}, 65_536)
        if not wl.store:
            rep["decode_s"] = rep["decoded_bytes"] = 0.0  # inline: no store decode
        r["replay"] = rep
        for k in ("decode_s", "decoded_bytes", "bytes_read", "pivot_s", "rows", "arrow_bytes"):
            tot[k] += rep[k]
        sp = r["spark"]
        r["crossing_s"] = sp["scan_run_s"] - rep["decode_s"] - rep["pivot_s"] if logs else 0.0
        tot["crossing_s"] += r["crossing_s"]
        for k in spark_tot:
            spark_tot[k] += sp[k]
        zero_job_ops += sp["jobs"] == 0
        tot["sql_s"] += spans.get("xr_session.sql", 0.0)
        tot["plan_s"] += spans.get("grid_source.plan", 0.0)
        tot["to_dataset_s"] += spans.get("to_dataset", 0.0)
        tot["sink_s"] += spans.get("zarr_sink", 0.0)
        for k in ("to_dataset_rows", "sink_chunks", "sink_bytes"):
            tot[k] += r.get(k, 0)

    def rate(num, den):
        return num / den if den > 0 else 0.0

    overhead = 0.0
    if traced and untraced:
        overhead = statistics.median(ranked_latencies(traced)) - statistics.median(
            ranked_latencies(untraced)
        )
    m = {
        "xr_session.from_dataset_s": statistics.median(setup["from_dataset_s"]),
        "xr_session.sql_s": tot["sql_s"] / n,
        "xr_session.zero_job_ops": zero_job_ops,
        "grid_source.plan_s": tot["plan_s"] / n,
        "grid_source.chunks_total": tot["chunks_total"] / n,
        "grid_source.chunks_read": tot["chunks_read"] / n,
        "grid_source.prune_ratio": 1.0 - rate(tot["chunks_read"], tot["chunks_total"]),
        "grid_source.rows_out": tot["rows_out"] / n,
        "grid_source.arrow_bytes": tot["arrow_bytes"] / n,
        "grid_source.payload_bytes": setup["payload_bytes"],
        "zarr_store.open_s": tot["open_s"] / n,
        "zarr_store.decode_s": tot["decode_s"] / n,
        "zarr_store.decode_mb_per_s": rate(tot["decoded_bytes"] / 1e6, tot["decode_s"]),
        "zarr_store.bytes_read": tot["bytes_read"] / n,
        "pivot.s": tot["pivot_s"] / n,
        "pivot.rows_per_s": rate(tot["rows"], tot["pivot_s"]),
        "crossing.s": tot["crossing_s"] / n,
        **{f"spark.{k}": v / n for k, v in spark_tot.items()},
        "to_dataset.s": tot["to_dataset_s"] / n,
        "to_dataset.rows_per_s": rate(tot["to_dataset_rows"], tot["to_dataset_s"]),
        "zarr_sink.s": tot["sink_s"] / n,
        "zarr_sink.chunks_written": tot["sink_chunks"] / n,
        "zarr_sink.bytes_written": tot["sink_bytes"] / n,
        # CPU seconds of the process tree per op, over the untraced ops
        "process_tree.cpu_s_per_op": rate(sum(r["cpu_s"] for r in untraced), len(untraced)),
        "trace.overhead_s": overhead,
        "known_defects.failed": sum(d["failed"] for d in defects),
    }
    return {"metrics": m, "shares": _shares(wl.name, traced, ctx.cpus)}


def _shares(workload: str, traced: list[dict], cpus: int) -> dict:
    """Share of traced operation time per layer group. Each span's self
    time goes to its layer, except the Spark work it drove: per stage, the
    executor run time over the tasks that could run at once is that
    stage's critical path; grid-scan stages' critical path is the read
    path (decode, pivot, crossing), other stages' is ``spark_other``. What
    remains of a span is driver work of that layer -- for ``toPandas``,
    Python data source planning, task launch and result collection, which
    join ``driver_planning``."""
    layer_of = {
        "xr_session.sql": "driver_planning", "grid_source.plan": "driver_planning",
        "spark.execute": "driver_planning", "zarr_sink": "zarr_sink",
        "zarr_store.reopen": "zarr_store_reopen", "to_dataset": "to_dataset",
        "op": "unattributed",
    }
    groups = dict.fromkeys(["read_path", "spark_other", *dict.fromkeys(layer_of.values())], 0.0)
    total = 0.0
    for r in traced:
        total += r["span_s"].get("op", 0.0)
        for name, self_s in r["self_s"].items():
            c = r["spark_by_span"].get(f"{r['op']}:{name}", {"stage_list": []})
            crit = {True: 0.0, False: 0.0}
            for st in c["stage_list"]:
                crit[st["scan"]] += st["run_s"] / max(1, min(st["tasks"], cpus))
            read = min(crit[True], self_s)
            other = min(crit[False], self_s - read)
            groups["read_path"] += read
            groups["spark_other"] += other
            groups[layer_of[name]] += self_s - read - other
    shares = {k: (v / total if total else 0.0) for k, v in groups.items()}
    measured = max(shares, key=shares.get)
    predicted = PREDICTED_DOMINANT[workload]
    return {
        "share_of_op_time": shares,
        "predicted_dominant": predicted,
        "measured_dominant": measured,
        "prediction_met": measured == predicted,
    }


def _write_artifact(args, ctx, records, setup, defects, layers, tracer) -> None:
    path = os.path.join(args.out, f"trace_{args.workload}_seed{args.seed}.json")
    doc = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "cpus": args.cpus,
        "note": (
            "zarr_store.* and pivot.* are in-process replay numbers of each traced "
            "operation's read-log blocks; crossing.s is the scan stages' executor run "
            "time minus replayed decode and pivot; per-layer values are means per "
            "traced operation unless the name says otherwise"
        ),
        "per_layer": layers["metrics"],
        "shares": layers["shares"],
        "setup": setup,
        "known_defects": defects,
        "operations": [{k: v for k, v in r.items() if k != "read_log"} for r in records],
        "spans": tracer.spans,
    }
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, default=float)
    print(f"# trace artifact: {os.path.relpath(path)}")


def _summary(args, records, setup, defects, metrics) -> None:
    n = len(records)
    failed = sum(not r["ok"] for r in records)
    print(f"# gridbench workload={args.workload} seed={args.seed} local[{args.cpus}] "
          f"seconds={args.seconds} trace={args.trace}")
    print(f"# operations attempted={n} failed={failed} ops_failed_ratio={failed / max(1, n):.4f}")
    print(f"# setup: session {setup['session_s']:.3f} s (Spark start "
          f"{setup['spark_start_s']:.3f} s) + median of {len(setup['input_setup_s'])} "
          f"input set-ups {statistics.median(setup['input_setup_s']):.3f} s + warm-up "
          f"{setup['warm_up_s']:.3f} s")
    for name, m in metrics.items():
        print(f"#   {name} = {m['value']:.6g} {m['unit']}")
    lat = ranked_latencies(records)
    print(f"#   latency p50 over n={n} ops = {statistics.median(lat):.4f} s")
    tail = percentile_with_ten_beyond(lat)
    print("#   tail: " + (f"p{tail[0]} = {tail[1]:.4f} s (n={n}, 10 beyond)" if tail
                          else f"no percentile has ten samples beyond it (n={n})"))
    for kind in sorted({r["kind"] for r in records}):
        ks = [r["latency_s"] for r in records if r["kind"] == kind]
        print(f"#   {kind}: n={len(ks)} median {statistics.median(ks):.4f} s, in order: "
              + " ".join(f"{x:.3f}" for x in ks[:12]) + (" ..." if len(ks) > 12 else ""))
    for d in defects:
        print(f"# known defect {d['name']}: {'FAILS' if d['failed'] else 'passes'}"
              + (f" ({d['reason']})" if d["reason"] else ""))


if __name__ == "__main__":
    sys.exit(main())
