"""Change detection vs a numpy oracle (b - a over mutually valid px)."""

import numpy as np
import pytest

from ukis_pysat_spark import codec, datagen
from ukis_pysat_spark.operators import change, transforms
from tests.conftest import images_pdf


def _epochs(spark, n=10):
    a = datagen.gen_images(spark, n, profile="mixed")
    b = transforms.apply_transforms(
        a,
        [transforms.pixel_math(lambda x: x.astype("float64") * 0.5 + 2.0)],
        out_fmt="raw",
    )
    return a, b


def test_change_stats_matches_numpy(spark):
    a, b = _epochs(spark)
    got = {
        (r["image_id"], r["band"]): r
        for r in change.change_stats(a, b, threshold=5.0).collect()
    }
    pdf = images_pdf(np.arange(10), profile="mixed")
    checked = 0
    for _, img in pdf.iterrows():
        arr = codec.decode(img["bytes"]).astype(np.float64)
        brr = arr * 0.5 + 2.0
        nod = img["nodata"]
        for band in range(arr.shape[0]):
            va = arr[band]
            vb = brr[band]
            valid = np.ones(va.shape, bool)
            if nod is not None:
                valid &= (va != nod) & (vb != nod)
            d = (vb - va)[valid]
            if d.size == 0:
                assert (img["image_id"], band) not in got
                continue
            r = got[(img["image_id"], band)]
            assert r["n_valid"] == d.size
            assert r["mean_diff"] == pytest.approx(d.mean(), rel=1e-12)
            assert (r["min_diff"], r["max_diff"]) == (d.min(), d.max())
            assert r["rmse"] == pytest.approx(
                float(np.sqrt((d * d).mean())), rel=1e-12
            )
            assert r["n_changed"] == int((np.abs(d) > 5.0).sum())
            checked += 1
    assert checked > 10


def test_change_mask_and_grid_mismatch(spark):
    a, b = _epochs(spark, n=4)
    rows = change.change_mask(a, b, threshold=5.0).collect()
    assert len(rows) == 4
    for r in rows:
        m = codec.decode(r["bytes"])
        assert m.dtype == np.uint8 and m.shape[0] == 1
        assert int(m.sum()) == r["n_changed"]
    # mismatched grids raise loudly
    import pyspark.sql.functions as F

    shifted = b.withColumn(
        "transform", F.expr("transform(transform, x -> x + 1.0)")
    )
    with pytest.raises(Exception, match="identical grids"):
        change.change_stats(a, shifted).collect()


def _float_img(spark, image_id, arr, nodata):
    arr = arr.astype(np.float32)
    return spark.createDataFrame(
        [(
            image_id, bytes(codec.encode(arr, "raw")), arr.shape[2], arr.shape[1],
            "raw", "", 0, arr.shape[0], "float32", "EPSG:4326",
            [0.25, 0.0, 0.0, 0.0, -0.25, 0.0], nodata,
            [0.0, 1.0, 1.0, 0.0, 0.0], [0.0, 0.0, -1.0, -1.0, 0.0], "X",
        )],
        datagen.IMAGES_SCHEMA,
    )


@pytest.mark.parametrize("shape", [(1, 2, 2), (2, 7, 9)])
def test_nan_nodata_is_masked(spark, shape):
    """A NaN nodata (what from_geotiff parses from GDAL_NODATA 'nan')
    masks the NaN pixels in change_stats, change_mask, decode_stats,
    glcm_features and polygonize, checked against a nan-aware numpy
    oracle; `x != nan` would count every NaN pixel as valid."""
    from ukis_pysat_spark.operators import multimodal, polygonize, texture

    nan = float("nan")
    if shape == (1, 2, 2):
        a = np.array([[[1, nan], [3, 4]]])
        b = np.array([[[2, 5], [nan, 6]]])
    else:
        rng = np.random.default_rng(7)
        a = rng.integers(0, 6, shape).astype(np.float64)
        b = a + rng.integers(-2, 3, shape)
        a[rng.random(shape) < 0.3] = nan
        b[rng.random(shape) < 0.3] = nan
    ia, ib = _float_img(spark, "n0", a, nan), _float_img(spark, "n0", b, nan)
    va, vb = ~np.isnan(a), ~np.isnan(b)

    got = {r["band"]: r for r in change.change_stats(ia, ib, threshold=0.5).collect()}
    for band in range(shape[0]):
        ok = va[band] & vb[band]
        d = (b[band] - a[band])[ok]
        r = got[band]
        assert r["n_valid"] == d.size
        assert r["mean_diff"] == pytest.approx(d.mean(), rel=1e-12)
        assert (r["min_diff"], r["max_diff"]) == (d.min(), d.max())
        assert r["rmse"] == pytest.approx(float(np.sqrt((d * d).mean())), rel=1e-12)
        assert r["n_changed"] == int((np.abs(d) > 0.5).sum())
    if shape == (1, 2, 2):
        assert (got[0]["n_valid"], got[0]["mean_diff"]) == (2, 1.5)

    (m,) = change.change_mask(ia, ib, threshold=0.5).collect()
    want = (va & vb & (np.abs(b - a) > 0.5)).any(axis=0)
    np.testing.assert_array_equal(codec.decode(m["bytes"])[0], want.astype(np.uint8))
    assert m["n_changed"] == int(want.sum())

    stats = {r["band"]: r for r in multimodal.decode_stats(ia, nodata=nan).collect()}
    for band in range(shape[0]):
        v = a[band][va[band]]
        r = stats[band]
        assert r["n_valid"] == v.size
        assert r["mean"] == pytest.approx(v.mean(), rel=1e-12)
        assert r["std"] == pytest.approx(v.std(), rel=1e-9, abs=1e-12)
        assert (r["min"], r["max"]) == (v.min(), v.max())

    glcm = {r["band"]: r["n_pairs"] for r in texture.glcm_features(ia, levels=4).collect()}
    assert glcm == {
        band: int((va[band][:, :-1] & va[band][:, 1:]).sum())
        for band in range(shape[0])
        if (va[band][:, :-1] & va[band][:, 1:]).any()
    }

    regions = polygonize.polygonize(ia).collect()
    assert regions and not any(np.isnan(r["value"]) for r in regions)
    assert sum(r["n_pixels"] for r in regions) == int(va[0].sum())
