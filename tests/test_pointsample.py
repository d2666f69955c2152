"""Point sampling: fused PIP join -> decode-once -> gather.

Oracle: numpy brute force over the generator's own pixel arrays —
inverse-affine every point into every image independently of the
operator's join/window logic.
"""

import numpy as np
import pytest

from ukis_pysat_spark import codec, datagen
from ukis_pysat_spark.operators import pointsample
from ukis_pysat_spark.operators.transforms import _fwd
from tests.conftest import images_pdf


def _points_df(spark, pts):
    return spark.createDataFrame(
        [(pid, float(lon), float(lat)) for pid, lon, lat in pts],
        "point_id string, lon double, lat double",
    )


def _brute(pdf_images, pts):
    exp = {}
    for _, img in pdf_images.iterrows():
        arr = codec.decode(img["bytes"]).astype(np.float64)
        nb, h, w = arr.shape
        a, _b, c0, _d, e, f0 = img["transform"]
        lon0, lon1 = min(img["footprint_lon"]), max(img["footprint_lon"])
        lat0, lat1 = min(img["footprint_lat"]), max(img["footprint_lat"])
        for pid, lon, lat in pts:
            if not (lon0 <= lon <= lon1 and lat0 <= lat <= lat1):
                continue
            if img["crs"] and not img["crs"].startswith("EPSG:4326"):
                x, y = _fwd(img["crs"], np.array([lon]), np.array([lat]))
                x, y = float(x[0]), float(y[0])
            else:
                x, y = lon, lat
            c = int(np.floor((x - c0) / a))
            r = int(np.floor((y - f0) / e))
            if not (0 <= c < w and 0 <= r < h):
                continue
            for b in range(nb):
                exp[(pid, img["image_id"], b)] = (r, c, float(arr[b, r, c]))
    return exp


def _collect(df):
    return {
        (r["point_id"], r["image_id"], r["band"]): (r["r"], r["c"], r["val"])
        for r in df.collect()
    }


def test_sample_points_matches_bruteforce(spark):
    imgs = datagen.gen_images(spark, 24, profile="mixed")
    pdf = images_pdf(np.arange(24), profile="mixed")
    # points inside footprints (scenes are tiny — uniform points would
    # miss them all): a few interior fractions per scene, plus jittered
    # near-misses just outside
    rng = np.random.Generator(np.random.Philox(key=np.uint64(41)))
    pts = []
    for _, img in pdf.iterrows():
        lon0, lon1 = min(img["footprint_lon"]), max(img["footprint_lon"])
        lat0, lat1 = min(img["footprint_lat"]), max(img["footprint_lat"])
        for j, (fx, fy) in enumerate(
            [(0.13, 0.27), (0.51, 0.68), (0.92, 0.05), (0.33, 0.97)]
        ):
            pts.append((
                f"p{img['image_id']}_{j}",
                lon0 + fx * (lon1 - lon0) + float(rng.uniform(-1e-4, 1e-4))
                * (lon1 - lon0),
                lat0 + fy * (lat1 - lat0) + float(rng.uniform(-1e-4, 1e-4))
                * (lat1 - lat0),
            ))
        pts.append((
            f"m{img['image_id']}", lon1 + 0.3 * (lon1 - lon0), lat0
        ))
    # a point exactly on a footprint corner (edge-of-grid rule) and one
    # far outside everything
    t0 = pdf.iloc[0]
    pts.append(("corner", float(min(t0["footprint_lon"])),
                float(max(t0["footprint_lat"]))))
    pts.append(("nowhere", 179.0, -80.0))

    got = _collect(pointsample.sample_points(imgs, _points_df(spark, pts)))
    exp = _brute(pdf, pts)
    assert got == exp
    assert len(exp) >= 100  # the corpus genuinely exercises hits
    assert not any(k[0] == "nowhere" for k in got)


def test_sample_points_projected_crs(spark):
    """A UTM image: points are lon/lat, sampling happens in meters."""
    arr = (np.arange(2 * 8 * 10, dtype=np.float64)).reshape(2, 8, 10)
    x0, y0 = _fwd("EPSG:32632", np.array([9.0]), np.array([50.0]))
    transform = [30.0, 0.0, float(x0[0]), 0.0, -30.0, float(y0[0])]
    # footprint ring back in lon/lat: inverse of the four corners
    from ukis_pysat_spark.operators.transforms import _inv

    xs = np.array([x0[0], x0[0] + 300.0, x0[0] + 300.0, x0[0], x0[0]])
    ys = np.array([y0[0], y0[0], y0[0] - 240.0, y0[0] - 240.0, y0[0]])
    rlon, rlat = _inv("EPSG:32632", xs, ys)
    imgs = spark.createDataFrame(
        [(
            "utm0", bytes(codec.encode(arr)), 10, 8, "raw", "", 0,
            2, "float64", "EPSG:32632",
            transform, None,
            [float(v) for v in rlon], [float(v) for v in rlat], "X",
        )],
        datagen.IMAGES_SCHEMA,
    )
    # a point mid-image
    plon, plat = float(rlon[:4].mean()), float(rlat[:4].mean())
    got = _collect(pointsample.sample_points(imgs, _points_df(
        spark, [("q0", plon, plat)])))
    x, y = _fwd("EPSG:32632", np.array([plon]), np.array([plat]))
    c = int(np.floor((x[0] - transform[2]) / 30.0))
    r = int(np.floor((y[0] - transform[5]) / -30.0))
    assert got == {
        ("q0", "utm0", 0): (r, c, float(arr[0, r, c])),
        ("q0", "utm0", 1): (r, c, float(arr[1, r, c])),
    }


def test_sample_points_single_arrow_stage(spark, tmp_path):
    datagen.gen_images(spark, 4, profile="mixed").write.parquet(str(tmp_path / "imgs"))
    imgs = spark.read.parquet(str(tmp_path / "imgs"))
    pts = _points_df(spark, [("p0", 0.0, 45.0)])
    plan = (
        pointsample.sample_points(imgs, pts)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the images are read from Parquet, so the operator itself must
    # plan exactly two MapInArrow stages (PIP refine + sampler) and
    # no pandas stage of its own
    assert plan.count("MapInArrow") == 2
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
