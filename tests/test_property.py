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


def _ring(kind: str, rng, cx: float, cy: float, size: float):
    """One closed test ring of the given kind around (cx, cy)."""
    if kind == "convex":  # regular polygon, 3..8 vertices
        t = np.linspace(0, 2 * np.pi, int(rng.integers(3, 9)), endpoint=False)
        t += rng.uniform(0, 2 * np.pi)
        xs, ys = cx + size * np.cos(t), cy + size * np.sin(t)
    elif kind == "star":  # 5/2 pentagram: even-odd interior is not the hull
        t = np.radians(90 + 144 * np.arange(5))
        xs, ys = cx + size * np.cos(t), cy + size * np.sin(t)
    elif kind == "collinear":  # triangle with a redundant mid-edge vertex
        xs = cx + size * np.array([-1.0, 0.0, 1.0, 0.0])
        ys = cy + size * np.array([-1.0, -1.0, -1.0, 1.0])
    else:  # box across the antimeridian
        w, e = 180.0 - size, -180.0 + size * rng.uniform(0.2, 1.0)
        xs = np.array([w, e, e, w])
        ys = cy + size * np.array([-1.0, -1.0, 1.0, 1.0])
    xs = (xs + 180.0) % 360.0 - 180.0
    return np.append(xs, xs[0]), np.append(ys, ys[0])


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2**32 - 1), st.integers(1, 30))
def test_pairwise_polygon_matches_scalar_property(seed, n):
    """The batched production kernel polygon_intersects_pairwise agrees
    with the scalar oracle pair by pair over convex, star, collinear
    and antimeridian rings placed near each other (touching, nested,
    crossing and apart)."""
    from tests import geometry_oracle

    rng = np.random.Generator(np.random.Philox(key=np.uint64(seed)))
    kinds = ["convex", "star", "collinear", "antimeridian"]
    a_rings, b_rings = [], []
    for _ in range(n):
        cx = float(rng.uniform(-175, 175))
        cy = float(rng.uniform(-60, 60))
        ka, kb = rng.choice(kinds, 2)
        if "antimeridian" in (ka, kb):
            cx = 179.0 * float(rng.choice([-1.0, 1.0]))
        a_rings.append(_ring(ka, rng, cx, cy, float(rng.uniform(0.5, 3.0))))
        dx, dy = rng.uniform(-4, 4, 2)
        b_rings.append(_ring(kb, rng, cx + dx, cy + dy, float(rng.uniform(0.5, 3.0))))
    got = geometry.polygon_intersects_pairwise(
        [a[0] for a in a_rings], [a[1] for a in a_rings],
        [b[0] for b in b_rings], [b[1] for b in b_rings],
    )
    exp = [geometry_oracle.polygon_intersects(*a, *b) for a, b in zip(a_rings, b_rings)]
    assert got.tolist() == exp
