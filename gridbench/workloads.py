"""The workloads: how each sets up its inputs, which operations it
cycles through, and how each operation's result is checked.

Every operation goes through the public grid API only: ``XarraySession``
registration and ``sql``, ``toPandas``, ``to_zarr_distributed``,
``open_zarr`` and ``to_dataset``. Spans mark each of those calls.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from gridbench import inputs, oracle
from gridbench.inputs import Grid

ANOMALY = """
WITH clim AS (
    SELECT lat, lon, hour(time) AS h, AVG(t2m) AS m
    FROM {t} GROUP BY lat, lon, hour(time)
)
SELECT e.time, e.lat, e.lon, e.t2m - c.m AS anom
FROM {t} e JOIN clim c
  ON hour(e.time) = c.h AND e.lat = c.lat AND e.lon = c.lon
"""
ZONAL_ANOMALY = """
WITH clim AS (
    SELECT lat, lon, hour(time) AS h, AVG(t2m) AS m
    FROM {t} GROUP BY lat, lon, hour(time)
)
SELECT e.time, e.lat, AVG(e.t2m - c.m) AS zanom
FROM {t} e JOIN clim c
  ON hour(e.time) = c.h AND e.lat = c.lat AND e.lon = c.lon
GROUP BY e.time, e.lat ORDER BY e.time, e.lat
"""


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def as_dataset(grid: Grid, var: str):
    from xarray_sql_spark.dataset import Dataset, Variable

    return Dataset(
        {var: Variable(("time", "lat", "lon"), grid.values)},
        {"time": grid.time, "lat": grid.lat, "lon": grid.lon},
    )


class Op:
    """One operation: ``run`` is timed, ``check`` is not."""

    def __init__(self, kind: str, sql: str, spec: dict | None = None):
        self.kind = kind
        self.sql = sql
        self.spec = spec or {}


class Workload:
    """Shared machinery. ``self.table`` is the registered grid every op
    queries; in a traced run ``self.traced_table`` is the same input
    registered with a read log, used by the traced half of the ops."""

    name = ""
    var = ""
    warm_units = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.grid: Grid | None = None
        self.table = "grid"
        self.traced_table = "grid_traced"
        self.store: str | None = None
        self.stored_bytes_ratio = float("nan")

    # -- set-up ----------------------------------------------------------------
    def _register(self, name: str, ds, chunks: dict, store: str | None, log_dir: str | None) -> float:
        t = time.perf_counter()
        self.ctx.xs.from_dataset(name, ds, chunks=chunks, store=store, read_log_dir=log_dir)
        return time.perf_counter() - t

    def setup_inputs(self, rep: int) -> float:
        """Generate, write and register this workload's input; return the
        seconds spent in ``from_dataset``. Repeatable: each rep replaces
        the last."""
        raise NotImplementedError

    def units(self):
        """Yield lists of ops; a run stops only between units, so every run
        measures the same mix. The first ``warm_units`` are the warm-up."""
        raise NotImplementedError

    def run(self, op: Op, traced: bool, tracer, plan: bool = False):
        """Run one op on the plain (or, ``traced``, the read-logged) table;
        ``plan`` forces the physical plan first, inside its own span."""
        raise NotImplementedError

    def op_table(self, traced: bool) -> str:
        return self.traced_table if traced else self.table

    def cells(self, op: Op) -> int:
        raise NotImplementedError

    def op_counters(self, result) -> dict:
        """Counts an operation's result carries, for the traced run."""
        return {}

    def cleanup(self, op: Op, result) -> None:
        pass


class InteractiveSession(Workload):
    name = "interactive_session"
    var = "air"
    BLOCKS = 64  # more than any run can use; a run stops between blocks

    def setup_inputs(self, rep: int) -> float:
        from xarray_sql_spark.dataset import Dataset
        from xarray_sql_spark.zarr_store import write_zarr

        self.grid = inputs.store_grid(self.ctx.seed)
        path = os.path.join(self.ctx.work, f"store_r{rep}.zarr")
        write_zarr(
            as_dataset(self.grid, self.var),
            path,
            chunks={"time": self.grid.time_chunk},
            compressor={"id": "zlib", "level": 1},
        )
        chunks = {"time": self.grid.time_chunk}
        elapsed = self._register(self.table, Dataset.open_store(path), chunks, path, None)
        if self.ctx.trace:
            self._register(
                self.traced_table, Dataset.open_store(path), chunks, path, self.ctx.read_log
            )
        if self.store and self.store != path:
            shutil.rmtree(self.store, ignore_errors=True)
        self.store = path
        self.stored_bytes_ratio = dir_bytes(path) / self.grid.values.nbytes
        return elapsed

    def units(self):
        block = sum(inputs.BLOCK.values())
        ops = inputs.interactive_ops(self.ctx.seed, self.grid, self.BLOCKS, table="{t}")
        for i in range(0, len(ops), block):
            yield [Op(o["kind"], o["sql"], o) for o in ops[i : i + block]]

    def run(self, op: Op, traced: bool, tracer, plan: bool = False):
        with tracer.span("xr_session.sql"):
            xdf = self.ctx.xs.sql(op.sql.format(t=self.op_table(traced)))
        if plan:
            with tracer.span("grid_source.plan"):
                # forces planning (pushdown, partitions) on the QueryExecution
                # that toPandas then executes, so it is not planned twice
                xdf.df._jdf.queryExecution().executedPlan()
        with tracer.span("spark.execute"):
            return xdf.toPandas()

    def check(self, op: Op, pdf) -> str | None:
        if op.kind == "meta":
            return oracle.check_meta(pdf, self.grid, op.spec)
        return oracle.check_cells(pdf, self.grid, op.spec)

    def cells(self, op: Op) -> int:
        return oracle.scanned_cells(self.grid, op.spec)


class AnomalyToZarr(Workload):
    name = "anomaly_to_zarr"
    var = "t2m"
    # one op is a unit; ops keep getting faster for about five while the JVM
    # compiles the join, sink and reverse-pivot paths
    warm_units = 5

    def __init__(self, ctx):
        super().__init__(ctx)
        self._writes = 0

    def setup_inputs(self, rep: int) -> float:
        self.grid = inputs.inline_grid(self.ctx.seed)
        ds = as_dataset(self.grid, self.var)
        chunks = {"time": self.grid.time_chunk}
        elapsed = self._register(self.table, ds, chunks, None, None)
        if self.ctx.trace:
            self._register(self.traced_table, ds, chunks, None, self.ctx.read_log)
        self.want = oracle.anomaly(self.grid)
        return elapsed

    def units(self):
        while True:
            yield [Op("anomaly", ANOMALY)]

    def run(self, op: Op, traced: bool, tracer, plan: bool = False):
        from xarray_sql_spark.zarr_store import open_zarr

        self._writes += 1
        table, grid = self.op_table(traced), self.grid
        path = os.path.join(self.ctx.work, f"anomaly_{self._writes}.zarr")

        with tracer.span("xr_session.sql"):
            xdf = self.ctx.xs.sql(ANOMALY.format(t=table))
        if plan:
            with tracer.span("grid_source.plan"):
                xdf.df._jdf.queryExecution().executedPlan()
        with tracer.span("zarr_sink"):
            written = xdf.to_zarr_distributed(
                path, dims=("time", "lat", "lon"), chunks={"time": grid.time_chunk}
            )
        with tracer.span("zarr_store.reopen"):
            stored = open_zarr(path)
            anom = stored.data_vars["anom"].values()
        with tracer.span("xr_session.sql"):
            zdf = self.ctx.xs.sql(ZONAL_ANOMALY.format(t=table))
        with tracer.span("to_dataset"):
            zonal = zdf.to_dataset(dims=("time", "lat"))
        return {"written": written, "coords": stored.coords, "anom": anom, "zonal": zonal, "path": path}

    def check(self, op: Op, res) -> str | None:
        return oracle.check_anomaly_store(res["coords"], res["anom"], self.grid, self.want) or (
            oracle.check_zonal_anomaly(res["zonal"], self.grid, self.want)
        )

    def cells(self, op: Op) -> int:
        return self.grid.cells

    def op_counters(self, res) -> dict:
        return {
            "sink_chunks": len(res["written"]),
            "sink_bytes": dir_bytes(res["path"]),
            "to_dataset_rows": res["zonal"].sizes["time"] * res["zonal"].sizes["lat"],
        }

    def cleanup(self, op: Op, res) -> None:
        # bytes on disk per byte of result data (float64 anomalies)
        self.stored_bytes_ratio = dir_bytes(res["path"]) / (self.want.size * 8)
        shutil.rmtree(res["path"], ignore_errors=True)


WORKLOADS = {w.name: w for w in (InteractiveSession, AnomalyToZarr)}


# -- known defects -------------------------------------------------------------
def known_defects(ctx, wl: InteractiveSession) -> list[dict]:
    """Repros of the two grid-path defects known at the time the benchmark
    was written. They run after the timed loop, on their own tables (and on
    the interactive table once its timed ops are done), and report whether
    each still returns a wrong answer or raises."""
    from xarray_sql_spark.dataset import Dataset, Variable

    xs = ctx.xs
    t = (inputs.T0 + np.arange(48)).astype("datetime64[ns]")
    v = np.arange(48 * 4, dtype=np.float64).reshape(48, 4)

    def small(name: str) -> None:
        xs.from_dataset(
            name, Dataset({"v": Variable(("time", "x"), v)}, {"time": t, "x": np.arange(4)}),
            chunks={"time": 6},
        )

    def first(sql: str):
        return xs.sql(sql).toPandas().iloc[0, 0]

    def stale_hour_filter():
        small("kd_stale")
        first("SELECT count(v) FROM kd_stale WHERE time < TIMESTAMP '2024-01-01 06:00:00'")
        got = first("SELECT count(v) FROM kd_stale WHERE hour(time) = 7")
        return got, 8

    def stale_after_box():
        ops = inputs.interactive_ops(ctx.seed, wl.grid, 1, table=wl.table)
        xs.sql(next(o["sql"] for o in ops if o["kind"] == "box")).toPandas()
        got = first(
            f"SELECT COUNT(air) AS n, MAX(lat), MAX(lon), MAX(time) FROM {wl.table}"
        )
        return got, oracle.count_valid(wl.grid)

    def stale_inside_self_join():
        small("kd_join")
        got = first(
            "WITH c AS (SELECT x, hour(time) AS h, COUNT(v) AS n FROM kd_join "
            "GROUP BY x, hour(time)) SELECT SUM(c.n) FROM kd_join e JOIN c "
            "ON hour(e.time) = c.h AND e.x = c.x "
            "WHERE e.time >= TIMESTAMP '2024-01-02 00:00:00'"
        )
        return got, 24 * 4 * 2

    def replan_unused_cte_column():
        small("kd_replan")
        got = len(
            xs.sql(
                "WITH c AS (SELECT x, AVG(v) AS m FROM kd_replan GROUP BY x) SELECT x FROM c"
            ).toPandas()
        )
        return got, 4

    out = []
    for name, fn in (
        ("stale_pruning_hour_filter", stale_hour_filter),
        ("stale_pruning_after_box_slice", stale_after_box),
        ("stale_pruning_inside_self_join", stale_inside_self_join),
        ("replan_unused_cte_column", replan_unused_cte_column),
    ):
        try:
            got, want = fn()
            reason = None if int(got) == want else f"returned {int(got)}, expected {want}"
        except Exception as e:  # a defect may surface as an exception
            reason = f"raised {type(e).__name__}: {str(e).splitlines()[0][:160]}"
        out.append({"name": name, "failed": reason is not None, "reason": reason})
    return out
