"""The benchmark's own tests: seeded generators, an oracle that catches a
missing chunk, and printed names that match ``BENCHMARK.json``. No Spark:
run with ``python3 -m pytest gridbench/tests -q`` from the repository root."""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from gridbench import inputs, main, oracle, spec, tracing

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SMALL = {"time": 48, "lat": 19, "lon": 36}


def _small(seed: int = 5) -> inputs.Grid:
    return inputs.store_grid(seed, SMALL, 6)


# -- generators ------------------------------------------------------------------
@pytest.mark.parametrize("make", [inputs.store_grid, inputs.inline_grid])
def test_grids_are_deterministic_per_seed(make):
    a, b, c = make(3, SMALL, 6), make(3, SMALL, 6), make(4, SMALL, 6)
    for field in ("time", "lat", "lon", "values"):
        assert np.array_equal(getattr(a, field), getattr(b, field), equal_nan=True)
    assert not np.array_equal(a.values, c.values, equal_nan=True)


def test_interactive_mix_is_deterministic_and_fixed_per_block():
    g = _small()
    a, b = inputs.interactive_ops(7, g, 3), inputs.interactive_ops(7, g, 3)
    assert [o["sql"] for o in a] == [o["sql"] for o in b]
    assert [o["sql"] for o in a] != [o["sql"] for o in inputs.interactive_ops(8, g, 3)]
    block = sum(inputs.BLOCK.values())
    for seed in (7, 8):
        ops = inputs.interactive_ops(seed, g, 3)
        for i in range(0, len(ops), block):
            unit = ops[i : i + block]
            kinds = [o["kind"] for o in unit]
            assert {k: kinds.count(k) for k in inputs.BLOCK} == inputs.BLOCK
            spans = sorted(oracle.chunks_touched(g, o["times"]) for o in unit if o["kind"] == "box")
            assert spans == sorted(inputs.BOX_CHUNK_SPANS)
            assert all(oracle.chunks_touched(g, o["times"]) == 3 for o in unit if o["kind"] == "point")


# -- oracle ------------------------------------------------------------------------
def _rows(g: inputs.Grid, t, la, lo) -> pd.DataFrame:
    """A result in the shape Spark returns for a box slice."""
    it, ila, ilo = (a.ravel() for a in np.meshgrid(t, la, lo, indexing="ij"))
    return pd.DataFrame(
        {"time": g.time[it], "lat": g.lat[ila], "lon": g.lon[ilo], "air": g.values[it, ila, ilo]}
    )


def _two_chunk_box(g: inputs.Grid) -> dict:
    return {"kind": "box", "times": np.arange(4, 9), "lat": (2, 9), "lon": (3, 20)}


def test_oracle_accepts_the_right_cells_in_any_order():
    g = _small()
    op = _two_chunk_box(g)
    pdf = _rows(g, op["times"], np.arange(2, 10), np.arange(3, 21))
    assert oracle.check_cells(pdf.sample(frac=1.0, random_state=0), g, op) is None
    assert oracle.scanned_cells(g, op) == 2 * 6 * len(g.lat) * len(g.lon)


def test_oracle_flags_a_result_missing_one_chunk():
    """Stale pruning reads a previous query's chunks: the rows of a chunk
    the predicate needs never arrive."""
    g = _small()
    op = _two_chunk_box(g)
    pdf = _rows(g, op["times"], np.arange(2, 10), np.arange(3, 21))
    first_chunk_only = pdf[pdf["time"] < g.time[6]]
    assert oracle.check_cells(first_chunk_only, g, op) is not None


def test_oracle_flags_an_anomaly_whose_climatology_missed_a_chunk():
    """The self-join form of stale pruning: the climatology is computed
    from the windowed chunks only."""
    g = inputs.inline_grid(5, SMALL, 6)
    want = oracle.anomaly(g)
    coords = {"time": g.time, "lat": g.lat, "lon": g.lon}
    assert oracle.check_anomaly_store(coords, want.copy(), g, want) is None
    stale = inputs.Grid(g.time[6:], g.lat, g.lon, g.values[6:], 6)
    clim = oracle.climatology(stale)
    got = g.values.astype(np.float64) - clim[oracle.hour_of_day(g.time)]
    assert oracle.check_anomaly_store(coords, got, g, want) is not None


def test_oracle_checks_metadata_aggregates():
    g = _small()
    op = {"kind": "meta", "times": np.arange(10, 48), "lat": (1, 5), "lon": (0, 35)}
    good = pd.DataFrame(
        {"t_min": [g.time[10]], "t_max": [g.time[47]], "lat_min": [g.lat[1]],
         "lat_max": [g.lat[5]], "n": [38 * 5 * 36]}
    )
    assert oracle.check_meta(good, g, op) is None
    assert oracle.check_meta(good.assign(n=[37 * 5 * 36]), g, op) is not None


# -- names ---------------------------------------------------------------------------
def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_spec_matches_benchmark_json():
    from gridbench.workloads import WORKLOADS

    doc = _benchmark_json()
    assert [w["name"] for w in doc["workloads"]] == list(spec.WORKLOADS) == list(WORKLOADS)
    assert doc["end_to_end"] == spec.END_TO_END
    assert doc["per_layer"] == spec.PER_LAYER


def _records(traced: bool) -> list[dict]:
    counters = dict.fromkeys(tracing.COUNTERS, 0)
    return [
        {"op": f"op{i}", "kind": "box", "traced": traced, "latency_s": 0.5 + i, "cpu_s": 1.0,
         "ok": True, "cells": 10, "spark": counters, "spark_by_span": {}, "read_log": []}
        for i in range(3)
    ]


def test_printed_end_to_end_names_match_spec():
    class Wl:
        stored_bytes_ratio = 0.8

    values = main.end_to_end(1.0, Wl(), _records(False), 2**30)
    assert list(spec.pack(values, spec.END_TO_END)) == [m["name"] for m in spec.END_TO_END]


def test_printed_per_layer_names_match_spec():
    class Ctx:
        cpus = 4

    class Wl:
        name = "anomaly_to_zarr"
        store = None
        var = "t2m"
        grid = inputs.inline_grid(1, SMALL, 6)

    tracer = tracing.Tracer(True)
    records = _records(True) + _records(False)
    for r in records[:3]:
        tracer.op = r["op"]
        with tracer.span("op"):
            with tracer.span("zarr_sink"):
                pass
    setup = {"from_dataset_s": [0.1], "payload_bytes": 100}
    layers = main.per_layer(Ctx(), Wl(), records, setup, [], tracer)
    assert list(spec.pack(layers["metrics"], spec.PER_LAYER)) == [m["name"] for m in spec.PER_LAYER]


def test_pack_rejects_unknown_or_missing_names():
    with pytest.raises(KeyError):
        spec.pack({"setup_s": 1.0}, spec.END_TO_END)


def test_tail_percentile_needs_ten_samples_beyond():
    assert main.percentile_with_ten_beyond([1.0] * 10) is None
    p, _ = main.percentile_with_ten_beyond(list(range(40)))
    assert p == 75
