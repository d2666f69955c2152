"""Rasterize: burn AOI polygons into target image grids (vector->raster).

The inverse of operators/zonal.py and the missing half of the north
rule's raster<->vector axis.  The reference reaches the same semantics
through rasterio: ``Image.mask`` (ukis_pysat/raster.py:113-138) has
rasterio.mask geometry-rasterize the shapes against the scene grid
before applying them.  Here the burn is a distributed plan:

1. ``spatial_join.candidate_pairs`` pairs each target grid with the
   AOIs whose bbox cells touch it (a superset: the window mask of step
   3 is the exact test, so a false candidate burns nothing).
2. Pairs fold to ONE row per target (``collect_list`` of its AOIs) —
   rings are id+vertices only, so the fold shuffle is tiny and AQE
   broadcasts it against the targets table.
3. One Arrow stage per target: allocate the canvas at ``background``,
   and burn each AOI's value into its covered pixel centers.

Steps 1-2 and the window loop of step 3 are zonal's (``_fold_aois``,
``_aoi_windows``: analyzed-ring cache, box / convex half-plane /
generic PIP window masks).  The payload leaves through the zero-copy
PayloadBuf emitter.

Combine rule: overlapping AOIs take the MAXIMUM burn value — unlike
rasterio's document-order last-wins, max is commutative, so the result
is deterministic under any Spark partitioning / fold order.

Closed-boundary center containment throughout (a pixel is burned iff
its center is inside-or-on the ring), matching zonal_stats membership
exactly: ``zonal_stats`` over a rasterized mask reproduces the burn
counts.

Scale: targets never shuffle their payloads (targets here carry no
input payload at all — the canvas is BORN in the Arrow stage); the
only exchanges are the ids-only cell join and the small ring fold.
Output payload is one encoded raster per covered target.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ukis_pysat_spark import codec
from ukis_pysat_spark.operators import spatial_join as sj
from ukis_pysat_spark.operators import arrowio
from ukis_pysat_spark.operators.zonal import (
    _AoiListView,
    _WinCache,
    _aoi_windows,
    _fold_aois,
)

RASTERIZE_FIELDS = [
    ("image_id", pa.string()),
    ("bytes", pa.binary()),
    ("w", pa.int32()),
    ("h", pa.int32()),
    ("fmt", pa.string()),
    ("bands", pa.int32()),
    ("dtype", pa.string()),
    ("crs", pa.string()),
    ("transform", pa.list_(pa.float64())),
    ("nodata", pa.float64()),
    ("burned", pa.int64()),
]

RASTERIZE_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "bands int, dtype string, crs string, transform array<double>, "
    "nodata double, burned long"
)


def _burn_batches(dtype: str, background: float, fmt: str):
    np_dtype = np.dtype(dtype)

    def burn(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple]:
        win_cache = _WinCache()
        for batch in batches:
            ids = batch.column("image_id").to_pylist()
            ws = batch.column("w").to_pylist()
            hs = batch.column("h").to_pylist()
            transforms_col = batch.column("transform").to_pylist()
            crss = batch.column("crs").to_pylist()
            aois = _AoiListView(batch.column("aois"), extra="burn")
            burns = aois.extra
            for ri in range(batch.num_rows):
                w, h = ws[ri], hs[ri]
                full, parts = _aoi_windows(
                    win_cache, aois, ri, crss[ri], transforms_col[ri], w, h
                )
                if not full and not parts:
                    continue
                canvas = np.full((1, h, w), background, dtype=np_dtype)
                if full:
                    # AOIs covering the whole canvas fold to ONE max (max
                    # is commutative/associative, so one full-canvas
                    # np.maximum replaces per-AOI passes — same pixels)
                    np.maximum(
                        canvas, max(np_dtype.type(burns[i]) for i in full), out=canvas
                    )
                for i, (c0, c1, r0, r1, inside) in parts:
                    val = np_dtype.type(burns[i])
                    target = canvas[0, r0:r1, c0:c1]
                    if inside is None:
                        np.maximum(target, val, out=target)
                    else:
                        target[inside] = np.maximum(target[inside], val)
                cols = {
                    "image_id": ids[ri],
                    "w": w,
                    "h": h,
                    "fmt": fmt,
                    "bands": 1,
                    "dtype": dtype,
                    "crs": crss[ri],
                    "transform": [transforms_col[ri]],
                    "nodata": float(background),
                    "burned": int(np.count_nonzero(canvas != background)),
                }
                yield 1, cols, [codec.encode_chunks(canvas, fmt)]

    return lambda batches: arrowio.emit(RASTERIZE_FIELDS, burn(batches))


def rasterize(
    targets: DataFrame,
    aois: DataFrame,
    res: int = sj.DEFAULT_RES,
    value_col: str | None = None,
    dtype: str = "int32",
    background: float = 0.0,
    fmt: str = "raw",
) -> DataFrame:
    """Burn AOI polygons into each intersecting target grid.

    targets: image_id, w, h, transform, crs, footprint_lon,
             footprint_lat (the grids to burn into; any payload they
             carry is ignored — the canvas is created fresh)
    aois:    aoi_id, ring_lon, ring_lat (lon/lat degrees), plus
             `value_col` when per-AOI burn values are wanted
             (default burn value 1)

    Returns one images-schema-like row per target touched by >= 1 AOI:
    (image_id, bytes, w, h, fmt, bands=1, dtype, crs, transform,
    nodata=background, burned) where `burned` counts pixels whose
    final value differs from `background`.  Pixels are burned iff
    their CENTER is inside-or-on a ring (closed boundary); overlaps
    resolve to the maximum value (commutative, partitioning-safe)."""
    burn_val = (
        F.col(value_col).cast("double") if value_col else F.lit(1.0)
    )
    joined = _fold_aois(
        targets, ("w", "h", "transform", "crs"), aois, res, extra=(burn_val.alias("burn"),)
    )
    return joined.mapInArrow(
        _burn_batches(dtype, background, fmt), schema=RASTERIZE_SCHEMA
    )
