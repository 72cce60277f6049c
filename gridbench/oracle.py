"""Numpy oracle: the expected answer of every benchmark operation,
computed from the generated arrays without the program under test.

Each ``check_*`` takes the collected result and returns ``None`` when it
matches, else a one-line reason. Sums run in float64 over the float32
cells, as Spark's AVG does, so tolerances only absorb summation order.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from gridbench.inputs import Grid

RTOL = 1e-9
ATOL = 1e-9


def hour_of_day(time: np.ndarray) -> np.ndarray:
    return (time.astype("datetime64[h]").astype(np.int64) % 24).astype(np.int64)


def _sum_count(values: np.ndarray, axis) -> tuple[np.ndarray, np.ndarray]:
    v = values.astype(np.float64)
    ok = ~np.isnan(v)
    return np.where(ok, v, 0.0).sum(axis=axis), ok.sum(axis=axis)


def _mean(total: np.ndarray, count: np.ndarray) -> np.ndarray:
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(count > 0, total / np.maximum(count, 1), np.nan)


def climatology(grid: Grid) -> np.ndarray:
    """(24, lat, lon) mean over every cell sharing an hour of day."""
    hod = hour_of_day(grid.time)
    total = np.zeros((24,) + grid.values.shape[1:])
    count = np.zeros((24,) + grid.values.shape[1:], dtype=np.int64)
    for h in np.unique(hod):
        s, c = _sum_count(grid.values[hod == h], axis=0)
        total[h] += s
        count[h] += c
    return _mean(total, count)


def count_valid(grid: Grid) -> int:
    return int((~np.isnan(grid.values)).sum())


def _index(axis: np.ndarray, col: pd.Series, name: str) -> np.ndarray:
    vals = np.asarray(col.to_numpy(), dtype=axis.dtype)
    idx = np.searchsorted(axis, vals)
    idx = np.clip(idx, 0, len(axis) - 1)
    if not np.array_equal(axis[idx], vals):
        raise ValueError(f"{name} values outside the grid axis")
    return idx


def _close(got: np.ndarray, want: np.ndarray) -> bool:
    return bool(np.allclose(got, want, rtol=RTOL, atol=ATOL, equal_nan=True))


def _box(grid: Grid, op: dict) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    t = np.asarray(op["times"])
    la = np.arange(op["lat"][0], op["lat"][1] + 1)
    lo = np.arange(op["lon"][0], op["lon"][1] + 1)
    return t, la, lo


def check_cells(pdf: pd.DataFrame, grid: Grid, op: dict) -> str | None:
    """Box slice / point lookup: exactly the selected cells, bit-equal."""
    t, la, lo = _box(grid, op)
    want = grid.values[np.ix_(t, la, lo)]
    if len(pdf) != want.size:
        return f"{op['kind']} returned {len(pdf)} rows, expected {want.size}"
    it = _index(grid.time, pdf["time"], "time")
    ilat = _index(grid.lat, pdf["lat"], "lat")
    ilon = _index(grid.lon, pdf["lon"], "lon")
    got = grid.values[it, ilat, ilon]
    air = pdf["air"].to_numpy(dtype=np.float32, na_value=np.nan)
    if not np.isin(it, t).all() or not np.array_equal(got, air, equal_nan=True):
        return f"{op['kind']} values differ"
    if len(np.unique(it * grid.values[0].size + ilat * len(grid.lon) + ilon)) != want.size:
        return f"{op['kind']} rows duplicated"
    return None


def check_meta(pdf: pd.DataFrame, grid: Grid, op: dict) -> str | None:
    t, la, _ = _box(grid, op)
    want = {
        "t_min": grid.time[t[0]],
        "t_max": grid.time[t[-1]],
        "lat_min": grid.lat[la[0]],
        "lat_max": grid.lat[la[-1]],
        "n": len(t) * len(la) * len(grid.lon),
    }
    row = pdf.iloc[0]
    for k, v in want.items():
        got = row[k]
        if k.startswith("t_"):
            got = np.datetime64(pd.Timestamp(got).to_datetime64(), "ns")
        if got != v:
            return f"metadata aggregate {k} = {got}, expected {v}"
    return None


def chunks_touched(grid: Grid, times) -> int:
    return len(np.unique(np.asarray(times) // grid.time_chunk))


def scanned_cells(grid: Grid, op: dict) -> int:
    """Cells in the chunks a correctly pruned scan must read (zero for a
    metadata-only answer): the useful work of a query operation."""
    if op["kind"] == "meta":
        return 0
    per_chunk = grid.time_chunk * len(grid.lat) * len(grid.lon)
    return chunks_touched(grid, op["times"]) * per_chunk


# -- anomaly write-back ------------------------------------------------------
def anomaly(grid: Grid) -> np.ndarray:
    clim = climatology(grid)
    return grid.values.astype(np.float64) - clim[hour_of_day(grid.time)]


def check_anomaly_store(coords: dict, got: np.ndarray, grid: Grid, want: np.ndarray) -> str | None:
    """The reopened store: same axes as the input, anomaly values."""
    for d in ("time", "lat", "lon"):
        if not np.array_equal(np.asarray(coords[d]), getattr(grid, d)):
            return f"stored {d} axis differs from the input"
    if got.shape != want.shape:
        return f"stored anomaly shape {got.shape}, expected {want.shape}"
    return None if _close(got, want) else "stored anomaly values differ"


def check_zonal_anomaly(ds, grid: Grid, want_anom: np.ndarray) -> str | None:
    """The reverse-pivoted (time, lat) zonal-mean anomaly."""
    want = _mean(*_sum_count(want_anom, axis=2))
    if tuple(ds.sizes[d] for d in ("time", "lat")) != want.shape:
        return f"zonal anomaly sizes {ds.sizes}, expected {want.shape}"
    if not (np.array_equal(ds.coords["time"], grid.time) and np.array_equal(ds.coords["lat"], grid.lat)):
        return "zonal anomaly axes differ from the input"
    got = ds.data_vars["zanom"].values()
    return None if bool(np.allclose(got, want, rtol=1e-7, atol=1e-7, equal_nan=True)) else "zonal anomaly values differ"
