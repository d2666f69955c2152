"""Raster write sinks (reference S4, write_to_file, raster.py:535-580).

The reference casts the in-memory array (including the ``'min'``
minimal-dtype choice, raster.py:555-556) and writes one GTiff with a
driver/compression profile.  The engine's sink is a table write:
``cast_images`` casts + re-encodes the payload per row in one Arrow
stage, then the caller lands the rows in Parquet (zstd) — or any table
format it points at.
Payload-level compression maps to the codec's ``rawz`` format; columnar
compression is the Parquet codec.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ukis_pysat_spark import codec
from ukis_pysat_spark.operators import arrowio
from ukis_pysat_spark.operators.arrowio import META_COLS as _META_COLS


def cast_images(images: DataFrame, dtype: str = "min", out_fmt: str | None = None) -> DataFrame:
    """Cast every payload to `dtype` ('min' = smallest dtype representing
    the values, per image — reference raster.py:555-556) and re-encode,
    updating the dtype/fmt metadata columns.  One decode+encode per row,
    emitted through the Arrow-native buffer (operators/arrowio.py).
    """

    def row_fn(row: dict) -> tuple[dict, np.ndarray, str]:
        arr = codec.decode(row["bytes"])
        dt = codec.minimum_dtype(arr) if dtype == "min" else dtype
        out = arr.astype(np.dtype(dt), copy=False)
        fmt = out_fmt or row["fmt"]
        d = {k: row[k] for k in _META_COLS if k != "bytes"}
        d["dtype"] = str(out.dtype)
        d["fmt"] = fmt
        return d, out, fmt

    return arrowio.map_image_rows(images, _META_COLS, row_fn)


# --------------------------------------------------------------------------
# GeoTIFF sink/source (reference S4, write_to_file driver='GTiff' +
# compress, raster.py:535-580): the engine's payloads leave as real
# GeoTIFF files — one strip-organized GTiff per image row, written by
# sources/geotiff.write_geotiff (pure-numpy container writer, TIFF 6.0
# / GeoTIFF 1.1).  Every stage is one arrowio mapInArrow; nothing
# collects to the driver, so the sink scales with partitions.

_GTIFF_SCHEMA = pa.schema(
    [("image_id", pa.string()), ("caption", pa.string()),
     ("n_bytes", pa.int64()), ("tiff", pa.binary())]
)
_GTIFF_COLS = ["image_id", "bytes", "caption", "transform", "crs", "nodata"]
_FILES_SCHEMA = pa.schema(
    [("image_id", pa.string()), ("path", pa.string()), ("n_bytes", pa.int64())]
)


def _geotiff_encoder(dtype: str | None, compression: str, predictor: int | str):
    """row (_GTIFF_COLS) -> one GeoTIFF blob of its payload + geo
    metadata: the encode shared by to_geotiff and write_geotiff_files."""
    from ukis_pysat_spark.sources.geotiff import write_geotiff

    def encode(row: dict) -> bytes:
        arr = codec.decode(row["bytes"])
        if dtype == "min":
            arr = arr.astype(codec.minimum_dtype(arr), copy=False)
        elif dtype is not None:
            arr = arr.astype(np.dtype(dtype), copy=False)
        return write_geotiff(
            arr,
            transform=row["transform"],
            crs=row["crs"],
            nodata=row["nodata"],
            compression=compression,
            predictor=predictor,
        )

    return encode


def to_geotiff(
    images: DataFrame,
    dtype: str | None = None,
    compression: str = "deflate",
    predictor: int | str = "auto",
) -> DataFrame:
    """images table -> (image_id, caption, n_bytes, tiff) rows, each
    `tiff` a complete GeoTIFF encoding of the row's payload + geo
    metadata.  dtype: None keeps the stored dtype, 'min' picks the
    smallest representing dtype per image (reference raster.py:555),
    anything else casts.  Composable: write the result to Parquet /
    Iceberg for a blob table; write_geotiff_files writes the same blobs
    as files."""
    encode = _geotiff_encoder(dtype, compression, predictor)

    def rows_fn(row: dict) -> dict:
        tiff = encode(row)
        return {"image_id": [row["image_id"]], "caption": [row["caption"]],
                "n_bytes": [len(tiff)], "tiff": [tiff]}

    return arrowio.map_rows(images, _GTIFF_COLS, rows_fn, _GTIFF_SCHEMA)


def from_geotiff(blobs: DataFrame, tiff_col: str = "tiff", fmt: str = "raw") -> DataFrame:
    """(image_id, caption, tiff) blob rows -> images table: decode each
    GeoTIFF or PNG blob (sources/png.read_image sniffs the magic),
    re-encode with the engine codec, rebuild the geo columns from the
    parsed tags (PNGs land on the default unit grid).  The engine's one
    blob -> images stage: the read twin of to_geotiff (to_geotiff |>
    from_geotiff is a lossless loop) and the stage under
    sources/geotiff.ingest_geotiffs.  Arrow-native: each blob enters as
    a zero-copy buffer view and the re-encoded payloads leave through
    the chunked PayloadBuf."""
    import pyspark.sql.functions as F

    from ukis_pysat_spark.datagen import phash64
    from ukis_pysat_spark.sources.png import read_image

    def row_fn(row: dict):
        arr, meta = read_image(bytes(row["bytes"]))
        t = meta["transform"] or [1.0, 0.0, 0.0, 0.0, -1.0, 0.0]
        lon0, lat0 = t[2], t[5]
        lon1 = lon0 + arr.shape[2] * t[0]
        lat1 = lat0 + arr.shape[1] * t[4]
        d = {
            "image_id": row["image_id"],
            "w": int(arr.shape[2]),
            "h": int(arr.shape[1]),
            "fmt": fmt,
            "caption": row.get("caption") or row["image_id"],
            "phash": phash64(arr),
            "bands": int(arr.shape[0]),
            "dtype": str(arr.dtype),
            "crs": meta["crs"] or "EPSG:4326",
            "transform": [float(v) for v in t],
            "nodata": meta["nodata"] if meta["nodata"] is not None else 0.0,
            "footprint_lon": [lon0, lon1, lon1, lon0, lon0],
            "footprint_lat": [lat0, lat0, lat1, lat1, lat0],
            "platform": "",
        }
        return d, arr, fmt

    src = blobs.select(
        "image_id",
        (F.col("caption") if "caption" in blobs.columns else F.col("image_id")).alias("caption"),
        F.col(tiff_col).alias("bytes"),
    )
    return arrowio.map_image_rows(src, ["image_id", "caption", "bytes"], row_fn)


def write_geotiff_files(
    images: DataFrame,
    out_dir: str,
    dtype: str | None = None,
    compression: str = "deflate",
    predictor: int | str = "auto",
) -> DataFrame:
    """Sink: one `<image_id>.tif` per row under out_dir, written from
    the executors (posix paths here; on a cluster point out_dir at a
    fuse/NFS mount, or keep the blobs in a table via to_geotiff and
    let the object store take them).  Each row is encoded (as
    to_geotiff does) and written in the same stage, so the blob never
    crosses back to the JVM.  Returns the (image_id, path, n_bytes)
    manifest — an action on it performs the writes."""
    import os

    encode = _geotiff_encoder(dtype, compression, predictor)

    def rows_fn(row: dict) -> dict:
        tiff = encode(row)
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{row['image_id']}.tif")
        with open(path, "wb") as fh:
            fh.write(tiff)
        return {"image_id": [row["image_id"]], "path": [path], "n_bytes": [len(tiff)]}

    cols = [c for c in _GTIFF_COLS if c != "caption"]
    return arrowio.map_rows(images, cols, rows_fn, _FILES_SCHEMA)
