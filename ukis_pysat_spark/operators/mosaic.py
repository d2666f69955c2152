"""Mosaic compositing: per-pixel reduction of overlapping scenes onto a
common target grid (median / mean / min / max / count).

The multi-scene generalization of the reference's single-scene model:
ukis-pysat processes one ``Image`` at a time (raster.py:30) and leaves
"stack my scenes into a cloud-free composite" to the caller.  Here it
is one distributed plan over the whole images table:

1. **Relational tile cover** (zero Python): each image's pixel
   footprint is mapped to the target-grid tile rectangle it overlaps
   with closed-form affine arithmetic on the transform columns, then
   ``explode(sequence(...))`` twice — the same pure-relational cover
   trick as spatial_join's cell cover, so Catalyst prunes and AQE
   sizes the fan-out.
2. **Contribution stage** (one mapInArrow): each image is decoded
   ONCE, and for each covered tile the selected band is resampled to
   the tile's pixel centers by inverse-affine nearest-neighbor
   (center-in-source-cell semantics, consistent with the engine's
   closed-boundary membership); nodata becomes NaN.  Contributions
   leave through the package's zero-copy output buffer.
3. **Stack stage** (groupBy tile + applyInArrow): each tile's cropped
   contributions become (flat pixel index, value) COO pairs and are
   reduced per pixel with one lexsort + grouped slicing (exact
   interpolated median, mean via bincount, min/max/count) — never a
   depth x tile^2 cube; pixels no scene covers come out as
   ``nodata_out``.

Scale: contributions are CROPPED to their covered sub-window, so the
shuffle is O(total valid source pixels) — a 10 m scene on a sparse
continental grid ships ~4 values, not a half-megabyte NaN canvas —
keyed by tile_id; a planet-scale composite shuffles each scene exactly
once however many scenes stack.  The stack stage is likewise
O(contributed pixels log depth) in time and O(contributed pixels) in
memory (the datagen hotspot — ~4000 scenes on one tile — reduces in
one lexsort), so deep stacks are bounded by the tile's *contributed*
data, with a smaller ``tile`` as the remaining lever for extreme
cases.  min/max/mean/count could partial-aggregate before the
shuffle; they ride the same COO stage because the shuffle already
carries only the pixels themselves.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ukis_pysat_spark import codec
from ukis_pysat_spark.operators import arrowio

_METHODS = ("median", "mean", "min", "max", "count")

_CONTRIB_FIELDS = [
    ("tx", pa.int32()),
    ("ty", pa.int32()),
    ("x0", pa.int32()),  # tile-relative column of the cropped window
    ("y0", pa.int32()),  # tile-relative row of the cropped window
    ("bytes", pa.binary()),
]

COMPOSITE_SCHEMA = (
    "tx int, ty int, bytes binary, w int, h int, fmt string, bands int, "
    "dtype string, crs string, transform array<double>, nodata double, "
    "n_scenes int"
)


def _tile_cover(images: DataFrame, grid_transform, grid_w, grid_h, tile):
    """(image row) -> one row per overlapped target tile, computed with
    closed-form column arithmetic (no UDF, no geometry)."""
    ga, gc, ge, gf = grid_transform[0], grid_transform[2], grid_transform[4], grid_transform[5]
    a = F.get("transform", 0)
    c = F.get("transform", 2)
    e = F.get("transform", 4)
    f_ = F.get("transform", 5)
    # image bounds in target pixel space (a > 0, e < 0 north-up grids)
    x0 = (c - F.lit(gc)) / F.lit(ga)
    x1 = (c + F.col("w") * a - F.lit(gc)) / F.lit(ga)
    y0 = (f_ - F.lit(gf)) / F.lit(ge)
    y1 = (f_ + F.col("h") * e - F.lit(gf)) / F.lit(ge)
    ntx = -(-grid_w // tile)
    nty = -(-grid_h // tile)
    tx0 = F.greatest(F.floor(x0 / tile).cast("int"), F.lit(0))
    tx1 = F.least(F.ceil(x1 / tile).cast("int") - 1, F.lit(ntx - 1))
    ty0 = F.greatest(F.floor(y0 / tile).cast("int"), F.lit(0))
    ty1 = F.least(F.ceil(y1 / tile).cast("int") - 1, F.lit(nty - 1))
    return (
        images.withColumns({"tx0": tx0, "tx1": tx1, "ty0": ty0, "ty1": ty1})
        .where((F.col("tx0") <= F.col("tx1")) & (F.col("ty0") <= F.col("ty1")))
        .withColumn("tx", F.explode(F.sequence("tx0", "tx1")))
        .withColumn("ty", F.explode(F.sequence("ty0", "ty1")))
        .drop("tx0", "tx1", "ty0", "ty1")
    )


def _contributions(grid_transform, grid_w, grid_h, tile, band):
    ga, gc, ge, gf = grid_transform[0], grid_transform[2], grid_transform[4], grid_transform[5]
    # rows for one image arrive adjacent (the explode preserves input
    # order inside a partition): decode once per image, hold ONE image
    decoded: dict[str, np.ndarray] = {}

    def contrib(row: dict) -> Iterator[tuple]:
        iid = row["image_id"]
        arr = decoded.get(iid)
        if arr is None:
            decoded.clear()
            arr = codec.decode(row["bytes"]).astype(np.float64)
            decoded[iid] = arr
        nb, sh, sw = arr.shape
        plane = arr[min(band, nb - 1)]
        a, _b, c, _d, e, f_ = row["transform"]
        nod = row["nodata"]
        tx, ty = row["tx"], row["ty"]
        c0, r0 = tx * tile, ty * tile
        tw = min(tile, grid_w - c0)
        th = min(tile, grid_h - r0)
        # target pixel centers -> source cells (inverse affine,
        # center-in-cell: floor((coord - origin) / step))
        xs = gc + (np.arange(c0, c0 + tw, dtype=np.float64) + 0.5) * ga
        ys = gf + (np.arange(r0, r0 + th, dtype=np.float64) + 0.5) * ge
        sc = np.floor((xs - c) / a).astype(np.int64)
        sr = np.floor((ys - f_) / e).astype(np.int64)
        # xs/ys are monotone, so the in-source runs are contiguous: crop
        # the contribution to its covered sub-window (a small scene on a
        # big tile ships only its own pixels, keeping the shuffle O(source
        # px))
        okc = np.flatnonzero((sc >= 0) & (sc < sw))
        okr = np.flatnonzero((sr >= 0) & (sr < sh))
        if okc.size == 0 or okr.size == 0:
            return
        sub = plane[sr[okr][:, None], sc[okc][None, :]]
        if nod is not None:
            sub = np.where(sub == nod, np.nan, sub)
        if np.isnan(sub).all():
            return
        cols = {"tx": tx, "ty": ty, "x0": int(okc[0]), "y0": int(okr[0])}
        yield 1, cols, [codec.encode_chunks(np.ascontiguousarray(sub[None, :, :]), "raw")]

    return contrib


_OUT_PA = pa.schema(
    [
        ("tx", pa.int32()),
        ("ty", pa.int32()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("bands", pa.int32()),
        ("dtype", pa.string()),
        ("crs", pa.string()),
        ("transform", pa.list_(pa.float64())),
        ("nodata", pa.float64()),
        ("n_scenes", pa.int32()),
    ]
)


def _stack_fn(grid_transform, grid_w, grid_h, tile, method, crs, nodata_out, out_dtype):
    ga, gc, ge, gf = grid_transform[0], grid_transform[2], grid_transform[4], grid_transform[5]
    np_dtype = np.dtype(out_dtype)

    def stack(
        key: "Tuple[pa.Scalar, ...]", batches: Iterator[pa.RecordBatch]
    ) -> Iterator[pa.RecordBatch]:
        tx, ty = key[0].as_py(), key[1].as_py()
        c0, r0 = tx * tile, ty * tile
        tw = min(tile, grid_w - c0)
        th = min(tile, grid_h - r0)
        # COO accumulation: cropped contributions become (flat pixel
        # index, value) pairs, so a 4000-deep stack of tiny scenes on
        # one tile costs O(contributed pixels), never depth x tile^2
        idx_chunks: list[np.ndarray] = []
        val_chunks: list[np.ndarray] = []
        n_scenes = 0
        for b in batches:
            payload = b.column("bytes")
            x0s = b.column("x0").to_pylist()
            y0s = b.column("y0").to_pylist()
            for ri in range(b.num_rows):
                sub = codec.decode(payload[ri].as_buffer())[0]
                n_scenes += 1
                finite = np.isfinite(sub)
                rr, cc = np.nonzero(finite)
                idx_chunks.append((rr + y0s[ri]) * tw + (cc + x0s[ri]))
                val_chunks.append(sub[finite])
        idxs = np.concatenate(idx_chunks)
        vals = np.concatenate(val_chunks)
        counts = np.bincount(idxs, minlength=th * tw)
        out = np.full(th * tw, float(nodata_out))
        covered = counts > 0
        if method == "count":
            out[covered] = counts[covered].astype(np.float64)
        elif method == "mean":
            sums = np.bincount(idxs, weights=vals, minlength=th * tw)
            out[covered] = sums[covered] / counts[covered]
        else:
            order = np.lexsort((vals, idxs))
            sv = vals[order]
            starts = np.cumsum(counts) - counts
            cs, ss = counts[covered], starts[covered]
            if method == "median":
                lo = sv[ss + (cs - 1) // 2]
                hi = sv[ss + cs // 2]
                out[covered] = (lo + hi) / 2.0
            elif method == "min":
                out[covered] = sv[ss]
            else:  # max
                out[covered] = sv[ss + cs - 1]
        canvas = out.reshape(th, tw).astype(np_dtype)[None, :, :]
        transform = [ga, 0.0, gc + c0 * ga, 0.0, ge, gf + r0 * ge]
        cols = {
            "tx": tx, "ty": ty, "w": tw, "h": th, "fmt": "raw", "bands": 1,
            "dtype": str(np_dtype), "crs": crs, "transform": [transform],
            "nodata": float(nodata_out), "n_scenes": n_scenes,
        }
        yield from arrowio.emit(_OUT_PA, [(1, cols, [codec.encode_chunks(canvas, "raw")])])

    return stack


def composite(
    images: DataFrame,
    grid_transform: list[float],
    grid_w: int,
    grid_h: int,
    crs: str = "EPSG:4326",
    band: int = 0,
    tile: int = 256,
    method: str = "median",
    nodata_out: float = 0.0,
    out_dtype: str = "float64",
) -> DataFrame:
    """Composite every scene of `images` onto the target grid.

    images: image_id, bytes, transform, nodata (same CRS as the grid —
            warp first for mixed-CRS corpora)
    grid_transform: 6-double north-up affine of the target grid
    method: 'median' | 'mean' | 'min' | 'max' | 'count', applied per
            pixel across the valid (non-nodata) scene values; NaN
            propagation is suppressed (nan-aware reductions).

    Returns one row per target tile any scene touches:
    (tx, ty, bytes, w, h, fmt, bands=1, dtype, crs, transform, nodata,
    n_scenes).  Pixels no scene covers hold `nodata_out`."""
    if method not in _METHODS:
        raise ValueError(f"method must be one of {_METHODS}, got {method!r}")
    covered = _tile_cover(
        images.select("image_id", "bytes", "w", "h", "transform", "nodata"),
        grid_transform, grid_w, grid_h, tile,
    )
    contribs = arrowio.map_groups(
        covered,
        ["image_id", "bytes", "transform", "nodata", "tx", "ty"],
        _contributions(grid_transform, grid_w, grid_h, tile, band),
        _CONTRIB_FIELDS,
    )
    # a second Python stage: the tile groupBy's exchange separates the two
    return contribs.groupBy("tx", "ty").applyInArrow(
        _stack_fn(
            grid_transform, grid_w, grid_h, tile, method, crs, nodata_out, out_dtype
        ),
        schema=COMPOSITE_SCHEMA,
    )
