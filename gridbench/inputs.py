"""Seeded input generators. Same seed, same grids and operation mixes;
the program under test only ever sees what these return."""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

# 1-degree global grid, hourly, chunked on time only.
STORE_SHAPE = {"time": 96, "lat": 181, "lon": 360}
STORE_TIME_CHUNK = 6
# 1-degree CONUS box, hourly, kept in memory (payload-shipped); one chunk
# per day keeps an op's task count, and so its latency (about 3 s on four
# cores), low enough that a 20 s run measures six or more ops.
INLINE_SHAPE = {"time": 72, "lat": 31, "lon": 61}
INLINE_TIME_CHUNK = 24
T0 = np.datetime64("2024-01-01T00", "h")
NAN_FRACTION = 0.01


@dataclass(frozen=True)
class Grid:
    time: np.ndarray  # datetime64[ns]
    lat: np.ndarray  # float64
    lon: np.ndarray  # float64
    values: np.ndarray  # float32 (time, lat, lon)
    time_chunk: int

    @property
    def cells(self) -> int:
        return int(self.values.size)


def _field(rng, time, lat, lon, nan_fraction: float) -> np.ndarray:
    """Temperature-like field: a latitude profile, a diurnal cycle that
    travels with longitude, and seeded noise; optional missing cells."""
    hours = (time.astype("datetime64[h]") - T0).astype(np.int64)
    phase = 2 * np.pi * (hours[:, None] / 24.0 + lon[None, :] / 360.0)
    base = 300.0 - 0.6 * np.abs(lat)[None, :, None]
    diurnal = 4.0 * np.sin(phase)[:, None, :]
    noise = rng.standard_normal((len(time), len(lat), len(lon)))
    out = (base + diurnal + 2.0 * noise).astype(np.float32)
    if nan_fraction:
        out[rng.random(out.shape) < nan_fraction] = np.nan
    return out


def _time_axis(n: int) -> np.ndarray:
    return (T0 + np.arange(n)).astype("datetime64[ns]")


def store_grid(seed: int, shape: dict = STORE_SHAPE, time_chunk: int = STORE_TIME_CHUNK) -> Grid:
    rng = np.random.default_rng([seed, 1])
    time = _time_axis(shape["time"])
    lat = np.linspace(-90.0, 90.0, shape["lat"])
    lon = np.linspace(0.0, 360.0, shape["lon"], endpoint=False)
    return Grid(time, lat, lon, _field(rng, time, lat, lon, NAN_FRACTION), time_chunk)


def inline_grid(seed: int, shape: dict = INLINE_SHAPE, time_chunk: int = INLINE_TIME_CHUNK) -> Grid:
    rng = np.random.default_rng([seed, 2])
    time = _time_axis(shape["time"])
    lat = np.linspace(25.0, 55.0, shape["lat"])
    lon = np.linspace(-125.0, -65.0, shape["lon"])
    return Grid(time, lat, lon, _field(rng, time, lat, lon, 0.0), time_chunk)


# -- interactive session mix ------------------------------------------------
# One block of operations holds a fixed mix in a seeded order, so every run
# measures the same composition -- and reads the same number of chunks --
# whatever the seed: box slices whose time window lies in one chunk or
# spans two, point lookups at three times in three different chunks, and
# metadata-only aggregates.
BLOCK = {"box": 7, "point": 2, "meta": 1}
BOX_CHUNK_SPANS = (1, 1, 1, 1, 2, 2, 2)


def _ts(t: np.datetime64) -> str:
    return f"TIMESTAMP '{np.datetime_as_string(t.astype('datetime64[s]'), unit='s').replace('T', ' ')}'"


def _lit(x: float) -> str:
    return repr(float(x))


def _box_times(rng, nt: int, c: int, span: int) -> np.ndarray:
    """A window of consecutive steps inside ``span`` adjacent chunks of
    ``c`` steps, touching each of them."""
    first = int(rng.integers(0, -(-nt // c) - span + 1))
    lo, hi = first * c, min(nt, (first + span) * c) - 1
    if span == 1:
        t0 = int(rng.integers(lo, hi + 1))
        t1 = int(rng.integers(t0, hi + 1))
    else:
        t0 = int(rng.integers(lo, lo + c))  # in the first chunk
        t1 = int(rng.integers(hi - c + 1, hi + 1))  # in the last
    return np.arange(t0, t1 + 1)


def interactive_ops(seed: int, grid: Grid, blocks: int, table: str = "wx") -> list[dict]:
    """``blocks`` blocks of box slices (pushable BETWEEN on every dim),
    OR-chain point lookups on time and metadata-only MIN/MAX/COUNT over
    dims. Each op carries the index ranges the oracle needs."""
    rng = np.random.default_rng([seed, 3])
    nt, nlat, nlon = len(grid.time), len(grid.lat), len(grid.lon)
    c = grid.time_chunk
    ops: list[dict] = []
    for _ in range(blocks):
        kinds = [k for k, n in BLOCK.items() for _ in range(n)]
        rng.shuffle(kinds)
        spans = list(rng.permutation(BOX_CHUNK_SPANS))
        for kind in kinds:
            # boxes span 1/18 to 2/9 of the latitudes, 1/18 to 1/6 of the longitudes
            dla = int(rng.integers(nlat // 18, 2 * nlat // 9 + 1))
            dlo = int(rng.integers(nlon // 18, nlon // 6 + 1))
            la0 = int(rng.integers(0, nlat - dla))
            lo0 = int(rng.integers(0, nlon - dlo))
            la1, lo1 = la0 + dla, lo0 + dlo
            lat_pred = f"lat BETWEEN {_lit(grid.lat[la0])} AND {_lit(grid.lat[la1])}"
            lon_pred = f"lon BETWEEN {_lit(grid.lon[lo0])} AND {_lit(grid.lon[lo1])}"
            if kind == "box":
                times = _box_times(rng, nt, c, int(spans.pop()))
                sql = (
                    f"SELECT time, lat, lon, air FROM {table} WHERE {lat_pred} AND {lon_pred} "
                    f"AND time BETWEEN {_ts(grid.time[times[0]])} AND {_ts(grid.time[times[-1]])}"
                )
            elif kind == "point":
                chunks = rng.choice(-(-nt // c), size=3, replace=False)
                times = np.sort([int(rng.integers(k * c, min(nt, (k + 1) * c))) for k in chunks])
                chain = " OR ".join(f"time = {_ts(grid.time[i])}" for i in times)
                sql = (
                    f"SELECT time, lat, lon, air FROM {table} "
                    f"WHERE ({chain}) AND {lat_pred} AND {lon_pred}"
                )
            else:
                t0 = int(rng.integers(0, nt - 1))
                sql = (
                    f"SELECT MIN(time) AS t_min, MAX(time) AS t_max, MIN(lat) AS lat_min, "
                    f"MAX(lat) AS lat_max, COUNT(*) AS n FROM {table} "
                    f"WHERE {lat_pred} AND time >= {_ts(grid.time[t0])}"
                )
                times = np.arange(t0, nt)
                lo0, lo1 = 0, nlon - 1
            ops.append(
                {
                    "kind": kind,
                    "sql": sql,
                    "times": times,
                    "lat": (la0, la1),
                    "lon": (lo0, lo1),
                }
            )
    return ops
