"""Property-based tests (hypothesis) over the pure codec/geometry
kernels — the layers where a fuzzable invariant exists and a failure
would silently corrupt pixels at scale.

Spark stages are NOT driven from hypothesis (session-per-example would
dominate); these target the numpy/bytes kernels those stages call.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from ukis_pysat_spark import codec
from ukis_pysat_spark.operators import geometry, multimodal
from ukis_pysat_spark.sources import geotiff

from tests import tiffgen
from tests.test_pipeline_ops import _wav_bytes

_DTYPES = ["uint8", "uint16", "int16", "int32", "float32", "float64"]


@st.composite
def _arrays(draw):
    dtype = draw(st.sampled_from(_DTYPES))
    bands = draw(st.integers(1, 4))
    h = draw(st.integers(1, 17))
    w = draw(st.integers(1, 19))
    seed = draw(st.integers(0, 2**32 - 1))
    rng = np.random.Generator(np.random.Philox(key=np.uint64(seed)))
    if dtype.startswith("float"):
        arr = rng.normal(0, 1e4, size=(bands, h, w)).astype(dtype)
    else:
        info = np.iinfo(dtype)
        arr = rng.integers(
            info.min, info.max, size=(bands, h, w), endpoint=True
        ).astype(dtype)
    return arr


@settings(max_examples=60, deadline=None)
@given(_arrays(), st.sampled_from(["raw", "rawz"]))
def test_codec_roundtrip_property(arr, fmt):
    out = codec.decode(codec.encode(arr, fmt))
    assert out.dtype == arr.dtype and out.shape == arr.shape
    assert np.array_equal(out, arr)


@settings(max_examples=40, deadline=None)
@given(st.binary(min_size=0, max_size=6000))
def test_lzw_roundtrip_property(payload):
    enc = tiffgen.lzw_encode(payload)
    assert geotiff._lzw_decode(enc) == payload
    assert tiffgen.lzw_decode(enc) == payload


@settings(max_examples=40, deadline=None)
@given(st.binary(min_size=0, max_size=4000))
def test_packbits_roundtrip_property(payload):
    assert geotiff._packbits_decode(tiffgen.packbits_encode(payload)) == payload


@settings(max_examples=40, deadline=None)
@given(
    st.integers(1, 3),
    st.integers(1, 400),
    st.sampled_from(["<i2", "<i4", "<f4", "u1"]),
    st.integers(0, 2**32 - 1),
)
def test_wav_pcm_roundtrip_property(n_ch, n, dtype, seed):
    rng = np.random.Generator(np.random.Philox(key=np.uint64(seed)))
    if dtype == "<f4":
        samples = rng.normal(size=(n_ch, n)).astype(dtype)
    elif dtype == "u1":
        samples = rng.integers(0, 256, size=(n_ch, n)).astype(np.uint8)
    else:
        info = np.iinfo(dtype)
        samples = rng.integers(
            info.min, info.max, size=(n_ch, n), endpoint=True
        ).astype(dtype)
    arr, rate = multimodal.parse_wav(_wav_bytes(samples, rate=8000))
    assert rate == 8000
    assert np.array_equal(arr, samples)


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2**32 - 1), st.integers(1, 40))
def test_pairwise_pip_matches_scalar_property(seed, n):
    rng = np.random.Generator(np.random.Philox(key=np.uint64(seed)))
    rings_x, rings_y, px, py = [], [], [], []
    for _ in range(n):
        cx = float(-170 + 340 * rng.random())
        cy = float(-80 + 160 * rng.random())
        wdt = float(0.5 + 4 * rng.random())
        hgt = float(0.5 + 4 * rng.random())
        rings_x.append(np.array([cx, cx + wdt, cx + wdt, cx, cx]))
        rings_y.append(np.array([cy, cy, cy + hgt, cy + hgt, cy]))
        px.append(float(cx + (rng.random() * 2 - 0.5) * wdt))
        py.append(float(cy + (rng.random() * 2 - 0.5) * hgt))
    got = geometry.points_in_rings_pairwise(
        np.array(px), np.array(py), rings_x, rings_y
    )
    exp = [
        bool(
            geometry.points_in_polygon(
                np.array([px[i]]), np.array([py[i]]), rings_x[i], rings_y[i]
            )[0]
        )
        for i in range(n)
    ]
    assert got.tolist() == exp
