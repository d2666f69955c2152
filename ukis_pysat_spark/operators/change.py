"""Change detection: per-band difference statistics between two image
tables (bi-temporal EO analysis — before/after scenes of the same
grid).

The reference computes single-scene products only; change detection is
the canonical two-epoch workflow (difference image -> threshold ->
changed-pixel count).  Here it is a payload equi-join plus ONE Arrow
stage:

- the two tables join on ``image_id`` (the one unavoidable payload
  shuffle — two independently-stored epochs; AQE broadcasts the
  smaller epoch when it fits);
- per pair, both payloads decode once, grids are verified identical
  (shape + affine — mixed grids must be warped first, loudly), and
  per-band stats of ``b - a`` over mutually valid pixels reduce in
  one vectorized pass: count, mean, min, max, RMSE, and the count of
  pixels with ``|diff| > threshold``.

Only the tiny stats rows leave the stage — the difference raster is
never materialized unless ``change_mask`` asks for it, in which case the
binary change mask (|diff| > threshold, uint8) leaves through the
payload emitter instead (operators/arrowio.py).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ukis_pysat_spark import codec
from ukis_pysat_spark.operators import arrowio

CHANGE_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("band", pa.int32()),
        ("n_valid", pa.int64()),
        ("mean_diff", pa.float64()),
        ("min_diff", pa.float64()),
        ("max_diff", pa.float64()),
        ("rmse", pa.float64()),
        ("n_changed", pa.int64()),
    ]
)

MASK_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("bands", pa.int32()),
        ("dtype", pa.string()),
        ("transform", pa.list_(pa.float64())),
        ("n_changed", pa.int64()),
    ]
)

_PAIR_COLS = ["image_id", "bytes_a", "transform", "nodata_a", "bytes_b", "transform_b", "nodata_b"]


def _joined(images_a: DataFrame, images_b: DataFrame) -> DataFrame:
    a = images_a.select(
        "image_id",
        F.col("bytes").alias("bytes_a"),
        "transform",
        F.col("nodata").alias("nodata_a"),
    )
    b = images_b.select(
        "image_id",
        F.col("bytes").alias("bytes_b"),
        F.col("transform").alias("transform_b"),
        F.col("nodata").alias("nodata_b"),
    )
    return a.join(b, "image_id")


def _pair(row: dict):
    """Decode one joined row's two epochs and mask the pixels valid in
    both: (a, b, valid) as float64 (bands, h, w) arrays."""
    arr_a = codec.decode(row["bytes_a"]).astype(np.float64)
    arr_b = codec.decode(row["bytes_b"]).astype(np.float64)
    if arr_a.shape != arr_b.shape or row["transform"] != row["transform_b"]:
        raise ValueError(
            "change detection requires identical grids per image_id "
            f"(shapes {arr_a.shape} vs {arr_b.shape}); warp one epoch first"
        )
    valid = codec.valid_mask(arr_a, row["nodata_a"]) & codec.valid_mask(arr_b, row["nodata_b"])
    return arr_a, arr_b, valid


def change_stats(
    images_a: DataFrame, images_b: DataFrame, threshold: float = 0.0
) -> DataFrame:
    """Per-(image, band) statistics of ``b - a`` over pixels valid in
    BOTH epochs: n_valid, mean/min/max difference, RMSE, and
    n_changed = count(|diff| > threshold).  Bands with no valid pixel
    emit no row."""

    def rows_fn(row: dict) -> dict | None:
        arr_a, arr_b, valid = _pair(row)
        d = arr_b - arr_a
        n = valid.sum(axis=(1, 2))
        keep = n > 0
        if not keep.any():
            return None
        dm = np.where(valid, d, 0.0)
        s1 = dm.sum(axis=(1, 2))
        s2 = (dm * dm).sum(axis=(1, 2))
        mn = np.where(valid, d, np.inf).min(axis=(1, 2))
        mx = np.where(valid, d, -np.inf).max(axis=(1, 2))
        chg = (valid & (np.abs(d) > threshold)).sum(axis=(1, 2))
        safe = np.maximum(n, 1)
        return {
            "image_id": [row["image_id"]] * int(keep.sum()),
            "band": np.flatnonzero(keep),
            "n_valid": n[keep],
            "mean_diff": (s1 / safe)[keep],
            "min_diff": mn[keep],
            "max_diff": mx[keep],
            "rmse": np.sqrt(s2 / safe)[keep],
            "n_changed": chg[keep],
        }

    return arrowio.map_rows(_joined(images_a, images_b), _PAIR_COLS, rows_fn, CHANGE_SCHEMA)


def change_mask(
    images_a: DataFrame, images_b: DataFrame, threshold: float
) -> DataFrame:
    """Binary change-mask rasters: uint8 payload with 1 where any band
    differs by more than `threshold` between mutually valid pixels."""

    def rows_fn(row: dict):
        arr_a, arr_b, valid = _pair(row)
        changed = (valid & (np.abs(arr_b - arr_a) > threshold)).any(axis=0)
        meta = {
            "image_id": row["image_id"],
            "w": changed.shape[1],
            "h": changed.shape[0],
            "fmt": "raw",
            "bands": 1,
            "dtype": "uint8",
            "transform": row["transform"],
            "n_changed": int(changed.sum()),
        }
        yield meta, changed.astype(np.uint8)[None, :, :], "raw"

    return arrowio.flat_map_payload_rows(
        _joined(images_a, images_b), _PAIR_COLS, rows_fn, MASK_SCHEMA
    )
