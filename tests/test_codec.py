import numpy as np
import pytest

from ukis_pysat_spark import codec
from tests.conftest import psnr


def peek_shape(payload: bytes) -> tuple[int, int, int]:
    """(bands, rows, cols) of an engine payload, read from its header."""
    _, _, _, _, _, bands, _, rows, cols = codec._HEADER.unpack_from(
        bytes(payload[: codec.HEADER_SIZE]), 0
    )
    return bands, rows, cols


@pytest.mark.parametrize("fmt", ["raw", "rawz"])
@pytest.mark.parametrize("dtype", ["uint8", "uint16", "int16", "float32"])
def test_lossless_roundtrip(fmt, dtype):
    rng = np.random.Generator(np.random.Philox(key=7))
    arr = rng.integers(0, 255, size=(3, 17, 23)).astype(dtype)
    out = codec.decode(codec.encode(arr, fmt))
    assert out.dtype == np.dtype(dtype)
    assert np.array_equal(out, arr)


def test_2d_promotes_to_3d():
    # reference promotes 2-D arrays to (1, rows, cols): raster.py:65-66
    arr = np.ones((385, 502), dtype=np.int16)
    out = codec.decode(codec.encode(arr, "raw"))
    assert out.shape == (1, 385, 502)


def test_q8_psnr_gate():
    rng = np.random.Generator(np.random.Philox(key=11))
    arr = (rng.random((2, 64, 64)) * 2000).astype(np.int16)
    out = codec.decode(codec.encode(arr, "q8"))
    assert out.dtype == np.float32
    assert psnr(arr, out) >= 40.0  # BASELINE.json:15 lossy gate


def test_peek_shape():
    arr = np.zeros((4, 5, 6), dtype=np.uint16)
    assert peek_shape(codec.encode(arr)) == (4, 5, 6)


@pytest.mark.parametrize("dtype", ["uint8", "uint16", "int8", "int16"])
@pytest.mark.parametrize("bands", [1, 2, 3, 4])
def test_png_payload_roundtrip(dtype, bands):
    rng = np.random.Generator(np.random.Philox(key=13))
    info = np.iinfo(np.dtype(dtype))
    arr = rng.integers(info.min, int(info.max) + 1, size=(bands, 17, 23)).astype(dtype)
    p = codec.encode(arr, "png")
    out = codec.decode(p)
    assert out.dtype == np.dtype(dtype)
    assert np.array_equal(out, arr)
    assert peek_shape(p) == (bands, 17, 23)
    # the body after the UPSR header is a complete standalone PNG file
    # (signed dtypes ride as biased unsigned samples)
    from ukis_pysat_spark.sources.png import read_png

    arr2, _ = read_png(p[codec.HEADER_SIZE:])
    bias = {"int8": 128, "int16": 32768}.get(dtype, 0)
    assert np.array_equal(arr2.astype(np.int64) - bias, arr.astype(np.int64))


def test_png_payload_rejects_unsupported():
    with pytest.raises(ValueError, match="png payload"):
        codec.encode(np.zeros((5, 3, 3), np.uint8), "png")
    with pytest.raises(ValueError, match="png payload"):
        codec.encode(np.zeros((1, 3, 3), np.float32), "png")


def test_png_tiles_through_tile_pixels(spark):
    """tile_pixels with out_fmt='png': the per-tile compressed-encode
    path emits PNG payloads that decode to the raw tiles exactly."""
    from ukis_pysat_spark import datagen
    from ukis_pysat_spark.operators import tiling

    imgs = datagen.gen_images(spark, 2, profile="bench")
    raw = {r.tile_id: r for r in tiling.tile_pixels(imgs, 32, 32, 4).collect()
           if r.image_id == "img00000000"}
    png = {r.tile_id: r for r in
           tiling.tile_pixels(imgs, 32, 32, 4, out_fmt="png").collect()
           if r.image_id == "img00000000"}
    assert set(raw) == set(png) and raw
    for tid in raw:
        a = codec.decode(raw[tid].px)
        b = codec.decode(png[tid].px)
        assert np.array_equal(a, b), tid
