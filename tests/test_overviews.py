"""Overview pyramids vs a per-block numpy oracle."""

import numpy as np
import pytest

from ukis_pysat_spark import codec, datagen
from ukis_pysat_spark.operators import overviews
from tests.conftest import images_pdf


def _np_level(arr, f, nod):
    nb, h, w = arr.shape
    oh, ow = -(-h // f), -(-w // f)
    out = np.empty((nb, oh, ow))
    for b in range(nb):
        for r in range(oh):
            for c in range(ow):
                blk = arr[b, r * f : (r + 1) * f, c * f : (c + 1) * f]
                v = blk[blk != nod] if nod is not None else blk.ravel()
                out[b, r, c] = v.mean() if v.size else nod
    return out


def test_overviews_match_numpy_blocks(spark):
    imgs = datagen.gen_images(spark, 6, profile="mixed")
    rows = overviews.build_overviews(imgs, factors=(2, 4)).collect()
    got = {(r["image_id"], r["level"]): r for r in rows}
    pdf = images_pdf(np.arange(6), profile="mixed")
    checked = 0
    for _, img in pdf.iterrows():
        arr = codec.decode(img["bytes"]).astype(np.float64)
        for f in (2, 4):
            r = got[(img["image_id"], f)]
            exp = _np_level(arr, f, img["nodata"])
            dec = codec.decode(r["bytes"])
            assert dec.shape == exp.shape and (r["h"], r["w"]) == exp.shape[1:]
            np.testing.assert_allclose(dec, exp, rtol=1e-13, atol=0)
            # scaled affine, unchanged origin
            a, _, c, _, e, f_ = img["transform"]
            assert r["transform"] == pytest.approx(
                [a * f, 0.0, c, 0.0, e * f, f_]
            )
            checked += 1
    assert checked == 12 and len(rows) == 12


def test_overviews_all_nodata_block_stays_nodata(spark):
    arr = np.zeros((1, 4, 4), dtype=np.float64)
    arr[0, 2:, 2:] = 7.0  # one quadrant valid, rest nodata(0)
    img = spark.createDataFrame(
        [
            (
                "o0",
                bytearray(codec.encode(arr, "raw")),
                [1.0, 0.0, 0.0, 0.0, -1.0, 4.0],
                "EPSG:4326",
                0.0,
            )
        ],
        "image_id string, bytes binary, transform array<double>, crs string, "
        "nodata double",
    )
    r = overviews.build_overviews(img, factors=(2,)).collect()[0]
    dec = codec.decode(r["bytes"])[0]
    np.testing.assert_array_equal(dec, [[0.0, 0.0], [0.0, 7.0]])
    with pytest.raises(ValueError):
        overviews.build_overviews(img, factors=(1,))
