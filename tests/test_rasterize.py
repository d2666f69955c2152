"""Rasterize (vector->raster burn) vs an independent numpy oracle.

Oracle: full-grid center PIP per AOI (no window logic shared with the
operator), combined with elementwise max — rasterio's geometry
rasterization semantics with deterministic overlap resolution.
"""

import numpy as np
import pyspark.sql.functions as F
import pytest

from ukis_pysat_spark import codec, datagen
from ukis_pysat_spark.operators import rasterize, zonal
from ukis_pysat_spark.operators.geometry import points_in_polygon
from tests.conftest import images_pdf


def _np_burn(w, h, transform, rows, dtype="int32", background=0.0):
    """Brute-force burn: PIP every pixel center against every ring."""
    a, _, c, _, e, f_ = transform
    px = c + (np.arange(w) + 0.5) * a
    py = f_ + (np.arange(h) + 0.5) * e
    gx, gy = np.meshgrid(px, py)
    canvas = np.full((h, w), background, dtype=np.dtype(dtype))
    for _aid, rx, ry, val in rows:
        rx = np.asarray(rx, dtype=np.float64)
        ry = np.asarray(ry, dtype=np.float64)
        span = max(rx.max() - rx.min(), 1.0)
        inside = points_in_polygon(
            (gx.ravel() - rx.min()) / span,
            gy.ravel(),
            (rx - rx.min()) / span,
            ry,
        ).reshape(h, w)
        v = np.dtype(dtype).type(val)
        canvas[inside] = np.maximum(canvas[inside], v)
    return canvas


def _aoi_df(spark, rows):
    return spark.createDataFrame(
        [
            (
                aid,
                [float(x) for x in rx],
                [float(y) for y in ry],
                float(val),
                float(min(ry)),
                float(max(ry)),
            )
            for aid, rx, ry, val in rows
        ],
        "aoi_id string, ring_lon array<double>, ring_lat array<double>, "
        "val double, lat_min double, lat_max double",
    )


def test_rasterize_matches_numpy_bruteforce(spark):
    imgs = datagen.gen_images(spark, 48, profile="mixed")
    rows = []
    for k in range(5):
        lon0 = -18.0 + k * 10.0
        lat0 = 32.0 + k * 4.0
        rows.append(
            (
                f"box{k}",
                [lon0, lon0 + 9.0, lon0 + 9.0, lon0, lon0],
                [lat0, lat0, lat0 + 12.0, lat0 + 12.0, lat0],
                k + 1,
            )
        )
    # overlapping rotated quad and triangle exercise the convex path +
    # max-overlap combine
    rows.append(("quad0", [0.0, 9.0, 11.0, 2.0, 0.0], [40.0, 38.0, 47.0, 49.0, 40.0], 9))
    rows.append(("tri0", [-15.0, -2.0, -9.0, -15.0], [50.0, 50.0, 59.0, 50.0], 8))
    out = rasterize.rasterize(
        imgs, _aoi_df(spark, rows), res=6, value_col="val"
    ).collect()
    assert len(out) > 0

    got = {r["image_id"]: r for r in out}
    pdf = images_pdf(np.arange(48), profile="mixed")
    n_checked = 0
    for _, img in pdf.iterrows():
        exp = _np_burn(img["w"], img["h"], img["transform"], rows)
        iid = img["image_id"]
        if not exp.any():
            assert iid not in got  # untouched targets emit no row
            continue
        r = got[iid]
        assert (r["w"], r["h"], r["bands"], r["dtype"]) == (
            img["w"],
            img["h"],
            1,
            "int32",
        )
        canvas = codec.decode(r["bytes"])
        assert canvas.dtype == np.int32 and canvas.shape == (1, img["h"], img["w"])
        np.testing.assert_array_equal(canvas[0], exp)
        assert r["burned"] == int(np.count_nonzero(exp))
        n_checked += 1
    assert n_checked >= 8  # the corpus genuinely exercises burns


def test_rasterize_zonal_roundtrip(spark):
    """zonal_stats over a rasterized mask counts exactly the burned
    pixels: raster->vector and vector->raster agree on membership."""
    imgs = datagen.gen_images(spark, 48, profile="mixed")
    rows = [("q", [0.0, 9.0, 11.0, 2.0, 0.0], [40.0, 38.0, 47.0, 49.0, 40.0], 1)]
    aois = _aoi_df(spark, rows)
    burned = rasterize.rasterize(imgs, aois, res=6, dtype="uint8")
    # give the burned rasters footprints so zonal can spatial-join them
    masks = burned.join(
        imgs.select("image_id", "footprint_lon", "footprint_lat"), "image_id"
    ).withColumn("nodata", F.lit(0.0))
    stats = {
        (r["image_id"], r["aoi_id"]): r["n_valid"]
        for r in zonal.zonal_stats(masks, aois.select(
            "aoi_id", "ring_lon", "ring_lat", "lat_min", "lat_max"
        ), res=6).collect()
    }
    for r in burned.collect():
        assert stats[(r["image_id"], "q")] == r["burned"]
    assert len(stats) > 0


def test_rasterize_default_value_and_overlap_max(spark):
    """Default burn value is 1; overlapping AOIs take the max value."""
    img = spark.createDataFrame(
        [
            (
                "t0",
                8,
                8,
                [1.0, 0.0, 0.0, 0.0, -1.0, 8.0],
                "EPSG:4326",
                [0.0, 8.0, 8.0, 0.0, 0.0],
                [8.0, 8.0, 0.0, 0.0, 8.0],
            )
        ],
        "image_id string, w int, h int, transform array<double>, crs string, "
        "footprint_lon array<double>, footprint_lat array<double>",
    )
    a = ("a", [0.0, 5.0, 5.0, 0.0, 0.0], [0.0, 0.0, 5.0, 5.0, 0.0], 3)
    b = ("b", [3.0, 8.0, 8.0, 3.0, 3.0], [3.0, 3.0, 8.0, 8.0, 3.0], 7)
    out = rasterize.rasterize(
        img, _aoi_df(spark, [a, b]), res=4, value_col="val"
    ).collect()
    assert len(out) == 1
    canvas = codec.decode(out[0]["bytes"])[0]
    exp = _np_burn(8, 8, [1.0, 0.0, 0.0, 0.0, -1.0, 8.0], [a, b])
    np.testing.assert_array_equal(canvas, exp)
    # overlap cell (4.5, 3.5) takes max(3, 7); a-only cell (0.5, 0.5)
    # keeps 3 (row 7 is y=0.5 under the north-up transform)
    assert canvas.max() == 7 and canvas[4, 4] == 7 and canvas[7, 0] == 3

    # default value: every burned pixel is exactly 1
    out1 = rasterize.rasterize(img, _aoi_df(spark, [a, b]), res=4).collect()
    c1 = codec.decode(out1[0]["bytes"])[0]
    assert set(np.unique(c1)) == {0, 1}
    np.testing.assert_array_equal(c1 != 0, exp != 0)
