"""Temporal gap-filling over scene time series (harmonized EO stacks).

The reference processes one scene at a time; a cluster-scale training
pipeline wants harmonized per-pixel TIME SERIES — cloud/nodata gaps at
epoch t filled by interpolating the nearest valid observations of the
same pixel (the standard gap-filled NDVI/reflectance stack).

``gapfill_series`` semantics (replayed by the driver's DuckDB twin):

- rows carry (series_id, epoch, payload) — all epochs of one series
  share a grid;
- per pixel and band, a nodata value at epoch t becomes

      v_prev + (v_next - v_prev) * ((t - t_prev) / (t_next - t_prev))

  where prev/next are the nearest valid epochs before/after t;
- before the first valid epoch / after the last, the nearest valid
  value extends (constant extrapolation);
- pixels valid at t, and pixels with NO valid epoch at all, pass
  through unchanged.

Physical strategy: ONE hash exchange on series_id (a temporal operator
irreducibly needs every epoch of a pixel together — on a real cluster
the images table would be bucketed by series_id, making this exchange
a local sort), then one ``applyInArrow`` group stage that stacks the
series as a (T, bands, h, w) array and fills all gaps with pure
vectorized index arithmetic (prev/next valid epoch via two
maximum/minimum.accumulate sweeps — no per-pixel Python).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ukis_pysat_spark import codec
from ukis_pysat_spark.operators import arrowio

GAPFILL_SCHEMA = (
    "series_id string, epoch double, bytes binary, w int, h int, "
    "fmt string, bands int, dtype string, transform array<double>, "
    "nodata double, n_filled long"
)

_PA_SCHEMA = pa.schema(
    [
        ("series_id", pa.string()),
        ("epoch", pa.float64()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("bands", pa.int32()),
        ("dtype", pa.string()),
        ("transform", pa.list_(pa.float64())),
        ("nodata", pa.float64()),
        ("n_filled", pa.int64()),
    ]
)


def _load_series(
    batches: Iterator[pa.RecordBatch], reject_duplicate_epochs: bool = False
):
    """Collect one series' epochs from ``applyInArrow`` group batches.

    Returns ``(sid, ts, stack, transforms_sorted, nod)`` with epochs
    sorted ascending and the payloads decoded into one (T, bands, h, w)
    float64 stack, or ``None`` for an empty group.  Raises if the
    series mixes grids (warp first), or — for callers whose math is
    ambiguous under duplicates, i.e. gap-fill interpolation — when two
    observations share an epoch (composite/trend accept duplicates:
    they are legitimate repeat observations there)."""
    epochs, payloads, transforms_, nodatas, sid = [], [], [], [], None
    for batch in batches:
        ids = batch.column("series_id").to_pylist()
        ep = batch.column("epoch").to_pylist()
        tc = batch.column("transform").to_pylist()
        nd = batch.column("nodata").to_pylist()
        pay = batch.column("bytes")
        for ri in range(batch.num_rows):
            sid = ids[ri]
            epochs.append(ep[ri])
            payloads.append(pay[ri].as_buffer())
            transforms_.append(tc[ri])
            nodatas.append(nd[ri])
    if sid is None:
        return None
    order = np.argsort(np.asarray(epochs), kind="stable")
    ts = np.asarray(epochs, dtype=np.float64)[order]
    if reject_duplicate_epochs and ts.size > 1 and (np.diff(ts) == 0.0).any():
        # duplicate epochs make the interpolation denominator ambiguous
        # (ADVICE r5): reject loudly, like the mixed-grid check —
        # deduplicate or composite the duplicate observations first
        dup = float(ts[np.flatnonzero(np.diff(ts) == 0.0)[0]])
        raise ValueError(
            f"series {sid!r} has duplicate epoch {dup}; composite or "
            "deduplicate observations before gap-filling"
        )
    arrs = [codec.decode(payloads[i]).astype(np.float64) for i in order]
    shapes = {a.shape for a in arrs}
    if len(shapes) != 1:
        raise ValueError(f"series {sid!r} mixes grids {sorted(shapes)}; warp first")
    nod = nodatas[order[0]]
    return sid, ts, np.stack(arrs), [transforms_[i] for i in order], nod


def _fill_stack(stack: np.ndarray, ts: np.ndarray, nod: float):
    """stack (T, nb, h, w) float64; returns (filled stack, per-epoch
    fill counts).  Vectorized prev/next valid-epoch transport."""
    T = stack.shape[0]
    valid = stack != nod
    idx = np.arange(T, dtype=np.int64).reshape(T, 1, 1, 1)
    # latest valid epoch index at-or-before t (-1 if none)
    prev = np.where(valid, idx, -1)
    np.maximum.accumulate(prev, axis=0, out=prev)
    # earliest valid epoch index at-or-after t (T if none)
    nxt = np.where(valid, idx, T)
    nxt = np.minimum.accumulate(nxt[::-1], axis=0)[::-1]
    pc = np.clip(prev, 0, T - 1)
    ncl = np.clip(nxt, 0, T - 1)
    take = np.take_along_axis
    v_prev = take(stack, pc, axis=0)
    v_next = take(stack, ncl, axis=0)
    t_prev = ts[pc]
    t_next = ts[ncl]
    has_prev = prev >= 0
    has_next = nxt < T
    with np.errstate(divide="ignore", invalid="ignore"):
        frac = (ts.reshape(T, 1, 1, 1) - t_prev) / np.where(
            t_next == t_prev, 1.0, t_next - t_prev
        )
        interp = v_prev + (v_next - v_prev) * frac
    filled = np.where(
        valid,
        stack,
        np.where(
            has_prev & has_next,
            interp,
            np.where(has_prev, v_prev, np.where(has_next, v_next, nod)),
        ),
    )
    counts = ((~valid) & (has_prev | has_next)).sum(axis=(1, 2, 3))
    return filled, counts


def gapfill_series(
    images: DataFrame,
    series_col: str = "series_id",
    epoch_col: str = "epoch",
) -> DataFrame:
    """Linear temporal gap-fill per (series, pixel, band); see the
    module docstring for the exact interpolation/extrapolation rules.
    Input rows need (series_col, epoch_col, bytes, transform, nodata);
    every epoch of a series must share grid and nodata."""
    sel = images.select(
        images[series_col].alias("series_id"),
        images[epoch_col].cast("double").alias("epoch"),
        "bytes",
        "transform",
        "nodata",
    )

    def fill_group(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        loaded = _load_series(batches, reject_duplicate_epochs=True)
        if loaded is None:
            return
        sid, ts, stack, transforms_, nod = loaded
        if nod is None:
            filled, counts = stack, np.zeros(stack.shape[0], dtype=np.int64)
        else:
            filled, counts = _fill_stack(stack, ts, nod)
        _, nb, h, w = stack.shape
        cols = {
            "series_id": sid, "epoch": ts, "w": w, "h": h, "fmt": "raw", "bands": nb,
            "dtype": "float64", "transform": transforms_, "nodata": nod, "n_filled": counts,
        }
        payload = [codec.encode_chunks(plane, "raw") for plane in filled]
        yield from arrowio.emit(_PA_SCHEMA, [(len(ts), cols, payload)])

    return sel.groupBy("series_id").applyInArrow(fill_group, schema=GAPFILL_SCHEMA)


COMPOSITE_SCHEMA = (
    "series_id string, stat string, n_epochs int, bytes binary, w int, "
    "h int, fmt string, bands int, dtype string, transform array<double>, "
    "nodata double"
)

_COMPOSITE_PA = pa.schema(
    [
        ("series_id", pa.string()),
        ("stat", pa.string()),
        ("n_epochs", pa.int32()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("bands", pa.int32()),
        ("dtype", pa.string()),
        ("transform", pa.list_(pa.float64())),
        ("nodata", pa.float64()),
    ]
)

_COMPOSITE_STATS = ("median", "mean", "min", "max", "count")


def _composite_stack(stack: np.ndarray, nod, stat: str) -> np.ndarray:
    """One (bands, h, w) composite plane from a (T, bands, h, w) stack,
    ignoring nodata observations; all-nodata pixels emit ``nod``
    (``count`` emits 0).  ``median`` is the interpolated (quantile_cont
    0.5) median — exact for integer-valued observations, matching the
    SQL ``median`` the driver oracles replay."""
    valid = np.ones(stack.shape, dtype=bool) if nod is None else stack != nod
    cnt = valid.sum(axis=0)
    if stat == "count":
        return cnt.astype(np.float64)
    if stat == "mean":
        s = np.where(valid, stack, 0.0).sum(axis=0)
        vals = s / np.maximum(cnt, 1)
    elif stat == "min":
        vals = np.where(valid, stack, np.inf).min(axis=0)
    elif stat == "max":
        vals = np.where(valid, stack, -np.inf).max(axis=0)
    else:  # median
        s = np.sort(np.where(valid, stack, np.inf), axis=0)
        k = np.maximum(cnt, 1)
        lo = np.take_along_axis(s, ((k - 1) // 2)[None], axis=0)[0]
        hi = np.take_along_axis(s, (k // 2)[None], axis=0)[0]
        vals = (lo + hi) / 2.0
    if nod is None:
        return vals
    return np.where(cnt > 0, vals, nod)


TREND_STATS = ("slope", "intercept", "n_valid")


def trend_series(
    images: DataFrame,
    series_col: str = "series_id",
    epoch_col: str = "epoch",
) -> DataFrame:
    """Per-pixel ordinary-least-squares linear trend across a scene
    time series — the NDVI/reflectance trend map (greening/browning,
    subsidence-rate style analytics).  For each (series, pixel, band)
    the valid observations (value != nodata) fit ``v ~ a + b * t``:

        slope     b = (n*Stv - St*Sv) / (n*Stt - St*St)
        intercept a = (Sv - b*St) / n

    computed from plain sums, in exactly this expression order — for
    integer-valued observations and epochs every sum is exact, so the
    result is bit-reproducible in any engine (the driver's DuckDB twin
    replays the same sums).  Pixels with fewer than 2 valid epochs or a
    degenerate denominator (all valid epochs equal) emit the series
    nodata in the slope/intercept planes; the ``n_valid`` plane always
    reports the count.

    Same physical plan as :func:`gapfill_series` — ONE series_id
    exchange, one ``applyInArrow`` stack stage, vectorized sums.
    Output: three rows per series (stat in slope / intercept /
    n_valid), each a (bands, h, w) payload."""
    sel = images.select(
        images[series_col].alias("series_id"),
        images[epoch_col].cast("double").alias("epoch"),
        "bytes",
        "transform",
        "nodata",
    )

    def trend_group(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        loaded = _load_series(batches)
        if loaded is None:
            return
        sid, ts, stack, transforms_, nod = loaded
        T = stack.shape[0]
        valid = np.ones(stack.shape, dtype=bool) if nod is None else stack != nod
        t4 = ts.reshape(T, 1, 1, 1)
        n = valid.sum(axis=0).astype(np.float64)
        st = np.where(valid, t4, 0.0).sum(axis=0)
        sv = np.where(valid, stack, 0.0).sum(axis=0)
        stt = np.where(valid, t4 * t4, 0.0).sum(axis=0)
        stv = np.where(valid, t4 * stack, 0.0).sum(axis=0)
        den = n * stt - st * st
        ok = (n >= 2.0) & (den > 0.0)
        out_nod = 0.0 if nod is None else nod
        slope = np.where(
            ok, (n * stv - st * sv) / np.where(ok, den, 1.0), out_nod
        )
        intercept = np.where(
            ok, (sv - slope * st) / np.maximum(n, 1.0), out_nod
        )
        nb, h, w = n.shape
        cols = {
            "series_id": sid, "stat": list(TREND_STATS), "n_epochs": T, "w": w, "h": h,
            "fmt": "raw", "bands": nb, "dtype": "float64", "transform": [transforms_[0]] * 3,
            "nodata": [out_nod, out_nod, 0.0],
        }
        payload = [codec.encode_chunks(plane, "raw") for plane in (slope, intercept, n)]
        yield from arrowio.emit(_COMPOSITE_PA, [(3, cols, payload)])

    return sel.groupBy("series_id").applyInArrow(trend_group, schema=COMPOSITE_SCHEMA)


def composite_series(
    images: DataFrame,
    stat: str = "median",
    series_col: str = "series_id",
    epoch_col: str = "epoch",
) -> DataFrame:
    """Per-pixel temporal composite over a scene time series (the
    classic seasonal/annual median-composite): reduces every pixel and
    band across a series' epochs with ``stat`` in median / mean / min /
    max / count, skipping nodata observations.  Same physical plan as
    :func:`gapfill_series` — ONE series_id exchange, one
    ``applyInArrow`` stack stage, fully vectorized reduction — and the
    same shared-grid contract.  Output: one row per series with the
    composite payload, ``n_epochs``, and the earliest epoch's
    transform."""
    if stat not in _COMPOSITE_STATS:
        raise ValueError(f"unknown composite stat {stat!r}")
    sel = images.select(
        images[series_col].alias("series_id"),
        images[epoch_col].cast("double").alias("epoch"),
        "bytes",
        "transform",
        "nodata",
    )

    def comp_group(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        loaded = _load_series(batches)
        if loaded is None:
            return
        sid, ts, stack, transforms_, nod = loaded
        vals = _composite_stack(stack, nod, stat)
        nb, h, w = vals.shape
        cols = {
            "series_id": sid, "stat": stat, "n_epochs": stack.shape[0], "w": w, "h": h,
            "fmt": "raw", "bands": nb, "dtype": "float64", "transform": [transforms_[0]],
            "nodata": 0.0 if stat == "count" else nod,
        }
        yield from arrowio.emit(_COMPOSITE_PA, [(1, cols, [codec.encode_chunks(vals, "raw")])])

    return sel.groupBy("series_id").applyInArrow(comp_group, schema=COMPOSITE_SCHEMA)
