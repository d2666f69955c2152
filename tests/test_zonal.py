"""Zonal statistics: fused spatial-join -> window -> PIP mask -> stats.

Oracle: an independent numpy brute force that crops every (image, AOI)
pair the slow way (full-grid center PIP over the whole raster, no
window logic shared with the operator) and reduces with plain numpy.
"""

import math

import numpy as np
import pyspark.sql.functions as F
import pytest

from ukis_pysat_spark import codec, datagen
from ukis_pysat_spark.operators import zonal
from ukis_pysat_spark.operators.geometry import points_in_polygon
from ukis_pysat_spark.operators.transforms import _fwd, _inv
from tests.conftest import images_pdf


def _np_zonal(arr, transform, nodata, ring_x, ring_y):
    """Brute-force oracle: PIP every pixel center of the FULL raster."""
    nb, h, w = arr.shape
    a, _, c, _, e, f_ = transform
    px = c + (np.arange(w) + 0.5) * a
    py = f_ + (np.arange(h) + 0.5) * e
    gx, gy = np.meshgrid(px, py)
    span = max(ring_x.max() - ring_x.min(), 1.0)
    inside = points_in_polygon(
        (gx.ravel() - ring_x.min()) / span,
        gy.ravel(),
        (ring_x - ring_x.min()) / span,
        ring_y,
    ).reshape(h, w)
    out = {}
    for b in range(nb):
        vals = arr[b][inside]
        if nodata is not None:
            vals = vals[vals != nodata]
        if vals.size:
            out[b] = (
                vals.size,
                float(vals.sum()),
                float(vals.mean()),
                float(vals.min()),
                float(vals.max()),
            )
    return out


def _aoi_df(spark, rows):
    return spark.createDataFrame(
        [
            (
                aid,
                [float(x) for x in rx],
                [float(y) for y in ry],
                float(min(ry)),
                float(max(ry)),
            )
            for aid, rx, ry in rows
        ],
        "aoi_id string, ring_lon array<double>, ring_lat array<double>, "
        "lat_min double, lat_max double",
    )


def _collect_zonal(df):
    return {
        (r["image_id"], r["aoi_id"], r["band"]): (
            r["n_valid"],
            r["sum"],
            r["mean"],
            r["min"],
            r["max"],
        )
        for r in df.collect()
    }


def test_zonal_matches_numpy_bruteforce(spark):
    imgs = datagen.gen_images(spark, 24, profile="mixed")
    # AOIs: axis boxes + a rotated quad + a triangle, scattered over the
    # scene belt (lon -20..40, lat 30..60)
    rows = []
    for k in range(6):
        lon0 = -18.0 + k * 9.0
        lat0 = 31.0 + k * 4.0
        rows.append(
            (
                f"box{k}",
                [lon0, lon0 + 6.0, lon0 + 6.0, lon0, lon0],
                [lat0, lat0, lat0 + 5.0, lat0 + 5.0, lat0],
            )
        )
    rows.append(("quad0", [0.0, 9.0, 11.0, 2.0, 0.0], [40.0, 38.0, 47.0, 49.0, 40.0]))
    rows.append(("tri0", [-15.0, -2.0, -9.0, -15.0], [50.0, 50.0, 59.0, 50.0]))
    aois = _aoi_df(spark, rows)

    got = _collect_zonal(zonal.zonal_stats(imgs, aois, res=6))

    # independent expectation from the generator's own pixel arrays
    exp = {}
    pdf = images_pdf(np.arange(24), profile="mixed")
    for _, img in pdf.iterrows():
        arr = codec.decode(img["bytes"]).astype(np.float64)
        for aid, rx, ry in rows:
            stats = _np_zonal(
                arr,
                img["transform"],
                img["nodata"],
                np.asarray(rx, dtype=np.float64),
                np.asarray(ry, dtype=np.float64),
            )
            for b, st in stats.items():
                exp[(img["image_id"], aid, b)] = st

    assert set(got) == set(exp)
    assert len(got) >= 40  # the corpus genuinely exercises pairs x bands
    for key, (n, s, m, mn, mx) in exp.items():
        gn, gs, gm, gmn, gmx = got[key]
        assert gn == n
        assert gs == pytest.approx(s, rel=1e-12)
        assert gm == pytest.approx(m, rel=1e-12)
        assert (gmn, gmx) == (mn, mx)


def test_zonal_axis_box_equals_general_pip(spark):
    """The axis-aligned fast path and the general PIP path agree: the
    same rectangle expressed as a 5-pt box ring and as a ring with a
    redundant mid-edge vertex (defeats _is_axis_box's vertex-count
    check) produce identical stats."""
    imgs = datagen.gen_images(spark, 8, profile="mixed")
    box = ("a", [0.0, 20.0, 20.0, 0.0, 0.0], [35.0, 35.0, 55.0, 55.0, 35.0])
    hexa = (
        "a",
        [0.0, 10.0, 20.0, 20.0, 0.0, 0.0],
        [35.0, 35.0, 35.0, 55.0, 55.0, 35.0],
    )
    got_box = _collect_zonal(zonal.zonal_stats(imgs, _aoi_df(spark, [box]), res=6))
    got_hex = _collect_zonal(zonal.zonal_stats(imgs, _aoi_df(spark, [hexa]), res=6))
    assert got_box == got_hex
    assert len(got_box) > 0


def test_zonal_projected_crs(spark):
    """An image in UTM: the lon/lat AOI ring is projected into the
    image CRS before the window/PIP stage.  Oracle: inverse-project
    every pixel center to lon/lat and PIP there."""
    crs = "EPSG:32632"
    arr = datagen.pixels_for(3, 2, 40, 50, "uint16", seed=7)
    # 40x50 px at 100 m in UTM32 around (9E, 48N)
    x0, y0 = _fwd(crs, np.array([8.97]), np.array([48.02]))
    transform = [100.0, 0.0, float(x0[0]), 0.0, -100.0, float(y0[0])]
    # ring edges DENSIFIED (16 verts/edge): the operator draws chords
    # straight in the image CRS, the oracle straight in lon/lat; at
    # ~200 m segments the two differ by far less than any center-to-
    # edge distance, so membership is identical under both readings
    vx = [8.975, 9.01, 9.012, 8.978, 8.975]
    vy = [47.995, 47.996, 48.015, 48.013, 47.995]
    dx, dy = [], []
    for i in range(4):
        dx.extend(np.linspace(vx[i], vx[i + 1], 16, endpoint=False))
        dy.extend(np.linspace(vy[i], vy[i + 1], 16, endpoint=False))
    dx.append(vx[0])
    dy.append(vy[0])
    ring = (np.array(dx), np.array(dy))
    img = spark.createDataFrame(
        [
            (
                "u0",
                bytearray(codec.encode(arr, "raw")),
                [float(v) for v in transform],
                0.0,
                crs,
                [8.9, 9.1, 9.1, 8.9, 8.9],
                [48.03, 48.03, 47.9, 47.9, 48.03],
            )
        ],
        "image_id string, bytes binary, transform array<double>, nodata double, "
        "crs string, footprint_lon array<double>, footprint_lat array<double>",
    )
    aois = _aoi_df(spark, [("r0", ring[0].tolist(), ring[1].tolist())])
    got = _collect_zonal(zonal.zonal_stats(img, aois, res=6))

    # oracle in lon/lat space
    a, _, c, _, e, f_ = transform
    px = c + (np.arange(50) + 0.5) * a
    py = f_ + (np.arange(40) + 0.5) * e
    gx, gy = np.meshgrid(px, py)
    lon, lat = _inv(crs, gx.ravel(), gy.ravel())
    inside = points_in_polygon(lon, lat, ring[0], ring[1]).reshape(40, 50)
    farr = arr.astype(np.float64)
    n_mismatch = 0
    for b in range(2):
        vals = farr[b][inside]
        vals = vals[vals != 0.0]
        key = ("u0", "r0", b)
        assert key in got
        gn = got[key][0]
        # ring projection is exact only at vertices; edge chords differ
        # by < 1e-6 deg here, so pixel membership may differ on exact
        # boundary grazes — allow none in this fixture
        n_mismatch += abs(gn - vals.size)
        assert got[key][3] >= 1.0 and got[key][4] <= 2000.0
    assert n_mismatch == 0
    # and the means agree exactly given identical membership
    for b in range(2):
        vals = farr[b][inside]
        vals = vals[vals != 0.0]
        assert got[("u0", "r0", b)][2] == pytest.approx(vals.mean(), rel=1e-12)


def test_zonal_concave_and_star_rings(spark):
    """Non-convex rings skip the half-plane fast path: a concave
    arrowhead and a pentagram (all edge crosses same-sign but total
    turning 4*pi — the shape the convexity guard exists for, whose
    even-odd interior has a hole) both match the brute-force oracle."""
    imgs = datagen.gen_images(spark, 6, profile="mixed")
    # concave arrowhead over the scene belt
    concave = (
        "cv0",
        [-10.0, 20.0, 20.0, 5.0, -10.0, -10.0],
        [35.0, 35.0, 55.0, 45.0, 55.0, 35.0],
    )
    # pentagram: vertices of a regular 5/2 star centered on the belt
    ang = np.pi / 2 + 2 * np.pi * 2 * np.arange(5) / 5
    star = (
        "st0",
        (10.0 + 18.0 * np.cos(ang)).tolist() + [10.0 + 18.0 * np.cos(ang[0])],
        (45.0 + 14.0 * np.sin(ang)).tolist() + [45.0 + 14.0 * np.sin(ang[0])],
    )
    rows = [concave, star]
    got = _collect_zonal(zonal.zonal_stats(imgs, _aoi_df(spark, rows), res=6))
    exp = {}
    pdf = images_pdf(np.arange(6), profile="mixed")
    for _, img in pdf.iterrows():
        arr = codec.decode(img["bytes"]).astype(np.float64)
        for aid, rx, ry in rows:
            stats = _np_zonal(
                arr,
                img["transform"],
                img["nodata"],
                np.asarray(rx, dtype=np.float64),
                np.asarray(ry, dtype=np.float64),
            )
            for b, st in stats.items():
                exp[(img["image_id"], aid, b)] = st
    assert set(got) == set(exp) and len(got) > 0
    for key, (n, s, m, mn, mx) in exp.items():
        gn, gs, gm, gmn, gmx = got[key]
        assert gn == n and (gmn, gmx) == (mn, mx)
        assert gs == pytest.approx(s, rel=1e-12)
    # the guard itself: sign test alone would accept the star
    orient, _, _ = zonal._convex_orient(
        np.asarray(star[1], dtype=np.float64), np.asarray(star[2], dtype=np.float64)
    )
    assert orient == 0
    orient, _, _ = zonal._convex_orient(
        np.asarray(concave[1], dtype=np.float64),
        np.asarray(concave[2], dtype=np.float64),
    )
    assert orient == 0


def test_zonal_empty_and_nodata(spark):
    """Pairs whose ring contains no pixel center emit no row; all-nodata
    windows emit no row."""
    arr = np.zeros((1, 4, 4), dtype=np.uint8)  # all nodata
    transform = [1.0, 0.0, 0.0, 0.0, -1.0, 4.0]
    img = spark.createDataFrame(
        [
            (
                "z0",
                bytearray(codec.encode(arr, "raw")),
                [float(v) for v in transform],
                0.0,
                "EPSG:4326",
                [0.0, 4.0, 4.0, 0.0, 0.0],
                [4.0, 4.0, 0.0, 0.0, 4.0],
            )
        ],
        "image_id string, bytes binary, transform array<double>, nodata double, "
        "crs string, footprint_lon array<double>, footprint_lat array<double>",
    )
    # sliver ring between pixel centers (x in (0.6, 0.9): no center .5+k)
    sliver = ("s", [0.6, 0.9, 0.9, 0.6, 0.6], [0.0, 0.0, 4.0, 4.0, 0.0])
    full = ("f", [0.0, 4.0, 4.0, 0.0, 0.0], [0.0, 0.0, 4.0, 4.0, 0.0])
    out = zonal.zonal_stats(img, _aoi_df(spark, [sliver, full]), res=6)
    assert out.count() == 0


def test_axis_box_needs_four_rectilinear_corners():
    """Only a rectangle takes the box window test: a right triangle (or
    a bowtie) also has every vertex on a bbox corner."""
    box = zonal._is_axis_box
    f = np.array
    assert box(f([0.0, 2.0, 2.0, 0.0, 0.0]), f([0.0, 0.0, 1.0, 1.0, 0.0]))
    assert box(f([0.0, 2.0, 2.0, 0.0]), f([0.0, 0.0, 1.0, 1.0]))
    assert not box(f([0.0, 2.0, 0.0, 0.0]), f([0.0, 0.0, 1.0, 0.0]))
    assert not box(f([0.0, 2.0, 0.0, 2.0, 0.0]), f([0.0, 1.0, 1.0, 0.0, 0.0]))
    assert not box(f([0.0, 2.0, 2.0, 2.0, 0.0]), f([0.0, 0.0, 1.0, 0.0, 0.0]))


def test_zonal_nan_nodata(spark):
    """A NaN nodata (what from_geotiff parses from a GDAL_NODATA tag of
    'nan') masks the NaN pixels in zonal_stats and zonal_mode, on whole-
    grid, box, convex and generic-ring windows alike; a window whose pixels are
    all NaN emits no row.  Oracle: nan-aware numpy over a full-grid
    center PIP."""
    rng = np.random.default_rng(3)
    arr = rng.integers(0, 4, size=(2, 6, 6)).astype(np.float32)
    arr[0, 1:3, 1:4] = np.nan
    arr[1, :, 3:] = np.nan  # band 1: right half all NaN
    transform = [1.0, 0.0, 0.0, 0.0, -1.0, 6.0]
    img = spark.createDataFrame(
        [
            (
                "n0",
                bytearray(codec.encode(arr, "raw")),
                transform,
                float("nan"),
                "EPSG:4326",
                [0.0, 6.0, 6.0, 0.0, 0.0],
                [6.0, 6.0, 0.0, 0.0, 6.0],
            )
        ],
        "image_id string, bytes binary, transform array<double>, nodata double, "
        "crs string, footprint_lon array<double>, footprint_lat array<double>",
    )
    rows = [
        ("full", [0.0, 6.0, 6.0, 0.0, 0.0], [0.0, 0.0, 6.0, 6.0, 0.0]),
        ("box", [0.0, 4.0, 4.0, 0.0, 0.0], [2.0, 2.0, 6.0, 6.0, 2.0]),
        ("right", [3.0, 6.0, 6.0, 3.0, 3.0], [0.0, 0.0, 6.0, 6.0, 0.0]),
        ("tri", [0.2, 5.7, 0.2, 0.2], [0.2, 0.2, 5.7, 0.2]),
        ("ell", [0.1, 5.9, 5.9, 2.9, 2.9, 0.1, 0.1], [0.1, 0.1, 2.9, 2.9, 5.9, 5.9, 0.1]),
    ]
    aois = _aoi_df(spark, rows)
    px = np.arange(6) + 0.5
    gx, gy = np.meshgrid(px, 6.0 - px)
    exp_stats, exp_mode = {}, {}
    for aid, rx, ry in rows:
        inside = points_in_polygon(
            gx.ravel(), gy.ravel(), np.asarray(rx), np.asarray(ry)
        ).reshape(6, 6)
        for b in range(2):
            vals = arr[b][inside].astype(np.float64)
            vals = vals[~np.isnan(vals)]
            if vals.size == 0:
                continue
            exp_stats[("n0", aid, b)] = (
                vals.size, vals.sum(), vals.mean(), vals.min(), vals.max()
            )
            uq, cnts = np.unique(vals, return_counts=True)
            k = int(np.argmax(cnts))
            exp_mode[("n0", aid, b)] = (float(uq[k]), int(cnts[k]), vals.size)
    assert ("n0", "right", 1) not in exp_stats

    got = _collect_zonal(zonal.zonal_stats(img, aois, res=6))
    assert set(got) == set(exp_stats)
    for key, (n, s, m, mn, mx) in exp_stats.items():
        assert got[key][0] == n, key
        assert got[key][1:] == pytest.approx((s, m, mn, mx)), key
    got_mode = {
        (r["image_id"], r["aoi_id"], r["band"]): (r["mode"], r["n_mode"], r["n_valid"])
        for r in zonal.zonal_mode(img, aois, res=6).collect()
    }
    assert got_mode == exp_mode


def test_zonal_grid_equals_single_image(spark):
    """zonal_stats_grid over mosaic tiles matches zonal_stats over the
    assembled grid exactly (stats merge across tile boundaries)."""
    from tests.test_mosaic import _overlap_corpus
    from ukis_pysat_spark.operators import mosaic

    imgs, _ = _overlap_corpus(spark)
    gt = [0.07, 0.0, 5.2, 0.0, -0.07, 8.1]
    gw, gh, tile = 37, 29, 16
    tiles = mosaic.composite(imgs, gt, gw, gh, tile=tile, method="count")
    aois = _aoi_df(
        spark,
        [
            ("box", [5.5, 7.0, 7.0, 5.5, 5.5], [6.3, 6.3, 7.9, 7.9, 6.3]),
            ("quad", [5.4, 6.8, 7.3, 5.9, 5.4], [6.5, 6.2, 7.6, 7.9, 6.5]),
        ],
    )
    got = {
        (r["aoi_id"], r["band"]): (
            r["n_valid"], r["sum"], r["mean"], r["min"], r["max"]
        )
        for r in zonal.zonal_stats_grid(tiles, aois, res=6).collect()
    }

    full = np.zeros((gh, gw))
    for t in tiles.collect():
        c0, r0 = t["tx"] * tile, t["ty"] * tile
        full[r0 : r0 + t["h"], c0 : c0 + t["w"]] = codec.decode(t["bytes"])[0]
    single = spark.createDataFrame(
        [
            (
                "full",
                bytearray(codec.encode(full[None, :, :], "raw")),
                [float(v) for v in gt],
                0.0,
                "EPSG:4326",
                [gt[2], gt[2] + gw * gt[0], gt[2] + gw * gt[0], gt[2], gt[2]],
                [gt[5], gt[5], gt[5] + gh * gt[4], gt[5] + gh * gt[4], gt[5]],
            )
        ],
        "image_id string, bytes binary, transform array<double>, nodata double, "
        "crs string, footprint_lon array<double>, footprint_lat array<double>",
    )
    exp = {
        (r["aoi_id"], r["band"]): (
            r["n_valid"], r["sum"], r["mean"], r["min"], r["max"]
        )
        for r in zonal.zonal_stats(single, aois, res=6).collect()
    }
    assert set(got) == set(exp) and len(got) == 2
    for k, (n, s, m, mn, mx) in exp.items():
        gn, gs, gm, gmn, gmx = got[k]
        assert gn == n and (gmn, gmx) == (mn, mx)
        assert gs == pytest.approx(s, rel=1e-12)
        assert gm == pytest.approx(m, rel=1e-12)


def test_zonal_mode_matches_bruteforce(spark):
    imgs = datagen.gen_images(spark, 12, profile="mixed")
    rows = []
    for k in range(4):
        lon0 = -16.0 + k * 12.0
        lat0 = 32.0 + k * 6.0
        rows.append((
            f"mbox{k}",
            [lon0, lon0 + 8.0, lon0 + 8.0, lon0, lon0],
            [lat0, lat0, lat0 + 6.0, lat0 + 6.0, lat0],
        ))
    rows.append(("mtri", [-15.0, -2.0, -9.0, -15.0], [50.0, 50.0, 59.0, 50.0]))
    aois = _aoi_df(spark, rows)
    got = {
        (r["image_id"], r["aoi_id"], r["band"]): (r["mode"], r["n_mode"], r["n_valid"])
        for r in zonal.zonal_mode(imgs, aois, res=6).collect()
    }
    exp = {}
    pdf = images_pdf(np.arange(12), profile="mixed")
    for _, img in pdf.iterrows():
        arr = codec.decode(img["bytes"]).astype(np.float64)
        nb, h, w = arr.shape
        a, _, c, _, e, f_ = img["transform"]
        px = c + (np.arange(w) + 0.5) * a
        py = f_ + (np.arange(h) + 0.5) * e
        gx, gy = np.meshgrid(px, py)
        for aid, rx, ry in rows:
            rx_, ry_ = np.asarray(rx, float), np.asarray(ry, float)
            span = max(rx_.max() - rx_.min(), 1.0)
            inside = points_in_polygon(
                (gx.ravel() - rx_.min()) / span, gy.ravel(),
                (rx_ - rx_.min()) / span, ry_,
            ).reshape(h, w)
            for b in range(nb):
                vals = arr[b][inside]
                if img["nodata"] is not None:
                    vals = vals[vals != img["nodata"]]
                if vals.size == 0:
                    continue
                uq, cnts = np.unique(vals, return_counts=True)
                k2 = int(np.argmax(cnts))
                exp[(img["image_id"], aid, b)] = (
                    float(uq[k2]), int(cnts[k2]), int(vals.size)
                )
    assert got == exp
    assert len(exp) >= 10


def test_zonal_mode_tie_breaks_to_smallest(spark):
    """Two values with equal counts inside the AOI: the smaller wins."""
    arr = np.array([[[5.0, 5.0, 3.0], [3.0, 9.0, 9.0], [9.0, 1.0, 2.0]]])
    imgs = spark.createDataFrame(
        [(
            "m0", bytes(codec.encode(arr, "raw")), 3, 3, "raw", "", 0,
            1, "float64", "EPSG:4326",
            [1.0, 0.0, 0.0, 0.0, -1.0, 3.0], None,
            [0.0, 3.0, 3.0, 0.0, 0.0], [3.0, 3.0, 0.0, 0.0, 3.0], "X",
        )],
        datagen.IMAGES_SCHEMA,
    )
    aois = _aoi_df(spark, [
        ("all", [0.0, 3.0, 3.0, 0.0, 0.0], [0.0, 0.0, 3.0, 3.0, 0.0]),
        # top 2x3 sub-box: values {5,5,3,3,9,9} -> tie 3/5/9 x2 -> 3
        ("top", [0.0, 3.0, 3.0, 0.0, 0.0], [1.0, 1.0, 3.0, 3.0, 1.0]),
    ])
    got = {
        (r["aoi_id"]): (r["mode"], r["n_mode"], r["n_valid"])
        for r in zonal.zonal_mode(imgs, aois, res=4).collect()
    }
    assert got["all"] == (9.0, 3, 9)
    assert got["top"] == (3.0, 2, 6)


def test_zonal_projected_crs_lcc(spark):
    """An image on a Lambert-93 (EPSG:2154, Lambert conformal conic
    2SP) grid: the lon/lat AOI ring routes through the analytic LCC
    forward before the window/PIP stage.  Oracle: inverse-project every
    pixel center to lon/lat and PIP there (same discipline as the UTM
    twin above)."""
    crs = "EPSG:2154"
    arr = datagen.pixels_for(5, 2, 44, 52, "uint16", seed=9)
    # 44x52 px at 100 m around (3.02E, 46.48N) — near the LCC natural
    # origin so Lambert-93 coordinates are mid-range, grid convergence
    # nonzero
    x0, y0 = _fwd(crs, np.array([2.99]), np.array([46.51]))
    transform = [100.0, 0.0, float(x0[0]), 0.0, -100.0, float(y0[0])]
    vx = [2.995, 3.045, 3.047, 2.998, 2.995]
    vy = [46.465, 46.467, 46.502, 46.5, 46.465]
    dx, dy = [], []
    for i in range(4):
        dx.extend(np.linspace(vx[i], vx[i + 1], 16, endpoint=False))
        dy.extend(np.linspace(vy[i], vy[i + 1], 16, endpoint=False))
    dx.append(vx[0])
    dy.append(vy[0])
    img = spark.createDataFrame(
        [
            (
                "l0",
                bytearray(codec.encode(arr, "raw")),
                [float(v) for v in transform],
                0.0,
                crs,
                [2.9, 3.1, 3.1, 2.9, 2.9],
                [46.55, 46.55, 46.4, 46.4, 46.55],
            )
        ],
        "image_id string, bytes binary, transform array<double>, nodata double, "
        "crs string, footprint_lon array<double>, footprint_lat array<double>",
    )
    aois = _aoi_df(spark, [("r0", dx, dy)])
    got = _collect_zonal(zonal.zonal_stats(img, aois, res=6))

    a, _, c, _, e, f_ = transform
    px = c + (np.arange(52) + 0.5) * a
    py = f_ + (np.arange(44) + 0.5) * e
    gx, gy = np.meshgrid(px, py)
    lon, lat = _inv(crs, gx.ravel(), gy.ravel())
    inside = points_in_polygon(
        lon, lat, np.array(dx), np.array(dy)
    ).reshape(44, 52)
    farr = arr.astype(np.float64)
    for b in range(2):
        vals = farr[b][inside]
        vals = vals[vals != 0.0]
        key = ("l0", "r0", b)
        assert key in got
        assert got[key][0] == vals.size
        assert got[key][2] == pytest.approx(vals.mean(), rel=1e-12)
