"""band_histogram vs numpy (decode_stats and the payload emitters
are covered in test_pipeline_ops.py)."""
def test_band_histogram_matches_numpy(spark):
    """band_histogram vs np.histogram per band, nodata + range drops."""
    import numpy as np
    from ukis_pysat_spark import codec, datagen
    from ukis_pysat_spark.operators import multimodal
    from tests.conftest import images_pdf

    imgs = datagen.gen_images(spark, 8, profile="mixed")
    bins, lo, hi = 16, 0.0, 2048.0
    rows = multimodal.band_histogram(imgs, bins=bins, lo=lo, hi=hi).collect()
    got = {
        (r["image_id"], r["band"], r["bin"]): r["count"] for r in rows
    }
    pdf = images_pdf(np.arange(8), profile="mixed")
    n_checked = 0
    for _, img in pdf.iterrows():
        arr = codec.decode(img["bytes"]).astype(np.float64)
        for b in range(arr.shape[0]):
            v = arr[b].ravel()
            v = v[(v != 0.0) & (v >= lo) & (v < hi)]
            counts, _ = np.histogram(v, bins=bins, range=(lo, hi))
            for bi in range(bins):
                key = (img["image_id"], b, bi)
                assert got.get(key, 0) == counts[bi], key
                n_checked += counts[bi] > 0
    assert n_checked > 20
    # empty-bin rows are never emitted
    assert all(r["count"] > 0 for r in rows)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        multimodal.band_histogram(imgs, bins=0, lo=0.0, hi=1.0)
