"""Point sampling: raster values at point locations, at scale.

The gdallocationinfo / rasterio.sample analog — and the label- or
feature-extraction primitive of a training-data pipeline (sample a
land-cover raster at survey points, attach DEM height to captions,
build (point, band value) feature tables).  The reference leaves this
to its caller after ``mask()``/array indexing (ukis_pysat/raster.py);
here it is one distributed plan:

1. ``spatial_join.points_in_aois`` (cell equi-join + exact PIP refine,
   axis-box fast path) pairs each point with every image whose
   footprint contains it — ids only cross the refine.
2. Pairs pick up the point coordinates and fold to ONE row per image
   (``collect_list``), so each image payload crosses exactly one
   equi-join no matter how many points hit it (the zonal_stats
   pattern).
3. A single ``mapInArrow`` stage decodes each image once, projects all
   its points into the image CRS in one vectorized call, inverse-affine
   maps them to pixel indices, and gathers every band with one fancy
   index — only the tiny (point, band, value) rows leave the stage.

Pixel rule: the pixel CONTAINING the point, ``col = floor((x-c)/a)``,
``row = floor((y-f)/e)`` — a point exactly on a pixel edge belongs to
the pixel right/below of it (GDAL's grid convention).  Points whose
pixel falls outside the array (possible only for points exactly on the
east/south footprint edge) emit nothing.  nodata pixels ARE reported
(gdallocationinfo behavior) — filter ``val != nodata`` to drop them.

Scale: the payload never shuffles (one equi-join by image_id); the
point exchanges carry (id, lon, lat) rows only; per-image work is one
decode + O(points hitting it).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ukis_pysat_spark import codec
from ukis_pysat_spark.operators import arrowio
from ukis_pysat_spark.operators import spatial_join as sj
from ukis_pysat_spark.operators.zonal import _is_lonlat

SAMPLE_SCHEMA = (
    "point_id string, image_id string, band int, r int, c int, val double"
)

_SAMPLE_PA_SCHEMA = pa.schema(
    [
        ("point_id", pa.string()),
        ("image_id", pa.string()),
        ("band", pa.int32()),
        ("r", pa.int32()),
        ("c", pa.int32()),
        ("val", pa.float64()),
    ]
)

def _sample_groups(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple]:
    """Arrow-native gather: point coordinates are read as zero-copy
    numpy views of the folded list column (offsets + flat child
    arrays), per-image output columns stay numpy/Arrow end to end —
    with hotspot corpora a single stage emits tens of millions of
    (point, band) rows, so no per-row Python objects are ever built."""
    for batch in batches:
        ids = batch.column("image_id").to_pylist()
        payload = batch.column("bytes")
        transforms_col = batch.column("transform").to_pylist()
        crss = batch.column("crs").to_pylist()
        pts = batch.column("pts")
        if isinstance(pts, pa.ChunkedArray):
            pts = pts.combine_chunks()
        offs = pts.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        flat = pts.values  # StructArray of (pid, plon, plat)
        pid_all = flat.field("pid")
        plon_all = flat.field("plon").to_numpy(zero_copy_only=False)
        plat_all = flat.field("plat").to_numpy(zero_copy_only=False)
        for ri in range(batch.num_rows):
            s, e = offs[ri], offs[ri + 1]
            if s == e:
                continue
            arr = codec.decode(payload[ri].as_buffer()).astype(np.float64)
            nb, h, w = arr.shape
            a, _b, c0, _d, e0, f0 = transforms_col[ri]
            plon = plon_all[s:e]
            plat = plat_all[s:e]
            if _is_lonlat(crss[ri]):
                x, y = plon, plat
            else:
                from ukis_pysat_spark.operators.transforms import _fwd

                x, y = _fwd(crss[ri], plon, plat)
            cc = np.floor((x - c0) / a).astype(np.int64)
            rr = np.floor((y - f0) / e0).astype(np.int64)
            ok = (cc >= 0) & (cc < w) & (rr >= 0) & (rr < h)
            if not ok.any():
                continue
            sel = np.nonzero(ok)[0]
            cc, rr = cc[sel], rr[sel]
            # band-major layout; every column built vectorized
            yield sel.size * nb, {
                "point_id": pid_all.take(pa.array(np.tile(sel + s, nb))),
                "image_id": ids[ri],
                "band": np.repeat(np.arange(nb, dtype=np.int32), sel.size),
                "r": np.tile(rr, nb),
                "c": np.tile(cc, nb),
                "val": arr[:, rr, cc].ravel(),
            }


def sample_points(
    images: DataFrame,
    points: DataFrame,
    res: int = sj.DEFAULT_RES,
    id_col: str = "point_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Every band value of every image at every point inside its
    footprint.

    images: image_id, bytes, transform, nodata, crs,
            footprint_lon, footprint_lat
    points: id_col, lon_col, lat_col (lon/lat degrees)

    Returns (point_id, image_id, band, r, c, val) — one row per
    (point, image, band); nodata values are reported, not dropped."""
    fp = images.select(
        F.col("image_id").alias("aoi_id"),
        F.col("footprint_lon").alias("ring_lon"),
        F.col("footprint_lat").alias("ring_lat"),
    )
    # keep_coords: the pair set arrives with each point's coordinates
    # already attached (they rode the candidate join), so the fold
    # consumes them directly — no re-join of the point table against
    # the full pair set (r7: that join sorted tens of millions of rows
    # by the string point id at a hotspot)
    pairs = sj.points_in_aois(
        points, fp, id_col=id_col, lon_col=lon_col, lat_col=lat_col, res=res,
        keep_coords=True,
    )
    per_img = (
        pairs.withColumnRenamed("aoi_id", "image_id")
        .groupBy("image_id")
        .agg(
            F.collect_list(
                F.struct(
                    F.col(id_col).alias("pid"),
                    F.col(lon_col).alias("plon"),
                    F.col(lat_col).alias("plat"),
                )
            ).alias("pts")
        )
    )
    joined = images.select("image_id", "bytes", "transform", "crs").join(
        per_img, "image_id"
    )
    # a second Python stage: the per-image fold's exchange follows the refine
    return joined.mapInArrow(
        lambda batches: arrowio.emit(_SAMPLE_PA_SCHEMA, _sample_groups(batches)),
        schema=SAMPLE_SCHEMA,
    )
