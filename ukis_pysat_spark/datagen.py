"""Deterministic synthetic data generation (images / AOIs / metadata).

Everything is a pure function of (seed, id) — independent of partitioning,
task retries, and cluster size — so any row can be recomputed by an oracle
and the same tables regenerate bit-identically at any scale.  Generation is
*distributed*: ``spark.range(n)`` -> one ``arrowio.map_rows`` stage (one
``mapInArrow``) running a per-id row function (``image_row``,
``aoi_row``, ``metadata_row``), so a 10^6-image (or 10^12-image) table
is produced by executors, never the driver.

Schema (input_hint, BASELINE.json:15):
    image_id string, bytes binary, w int, h int, fmt string,
    caption string, phash bigint
geo sidecar columns:
    bands int, dtype string, crs string, transform array<double>[6],
    nodata double, footprint_lon array<double>, footprint_lat array<double>

The default transform mirrors the reference's dummy.tif fixture
(pixel size 8.983152871870239e-05 deg, origin (11.896863892,
51.515176657)) so the reference's golden tile/bounds values transfer
exactly (see /root/reference/tests/test_raster.py:362-375).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from ukis_pysat_spark import codec
from ukis_pysat_spark.operators import arrowio

PIXEL_DEG = 8.983152871870239e-05  # nominal pixel size (deg/px)
# dummy.tif's exact affine, derived from the reference's golden bounds
# (tests/test_raster.py:375): x and y pixel sizes differ in the 9th digit.
REF_PIXEL_X = 8.983152871852187e-05
REF_PIXEL_Y = -8.983152879592029e-05
REF_ORIGIN = (11.896863892, 51.515176657)  # dummy.tif origin (lon, lat)
REF_SHAPE = (1, 764, 679)  # dummy.tif (bands, rows, cols)

# Spark forms of the Arrow schemas declared in operators/arrowio.py
IMAGES_SCHEMA = from_arrow_schema(arrowio.IMAGES_SCHEMA)
METADATA_SCHEMA = from_arrow_schema(arrowio.METADATA_SCHEMA)

_AOIS = pa.schema(
    [("aoi_id", pa.string()), ("ring_lon", pa.list_(pa.float64())),
     ("ring_lat", pa.list_(pa.float64()))]
    + [(n, pa.float64()) for n in (
        "centroid_lon", "centroid_lat", "lon_min", "lat_min", "lon_max", "lat_max")]
)
AOI_SCHEMA = from_arrow_schema(_AOIS)

# Shape profiles: (bands, rows, cols, dtype) pools the generator cycles
# through.  'golden' row 0 is the dummy.tif analog used by golden tests.
_PROFILES = {
    "golden": [REF_SHAPE + ("int16",)],
    "mixed": [
        REF_SHAPE + ("int16",),
        (10, 10, 10, "uint16"),  # LC08 analog
        (8, 10, 10, "uint8"),  # LE07 analog
        (7, 10, 10, "uint8"),  # LT05 analog
        (13, 10, 10, "uint16"),  # S2 pre-baseline-4 analog
        (13, 8, 9, "uint16"),  # S2 baseline>=4 analog
        (3, 64, 96, "uint16"),
        (1, 128, 128, "int16"),
    ],
    # bench: constant moderate payload so throughput measures the engine
    "bench": [(1, 128, 128, "int16")],
    # toa_bench: scene-like 512 KiB payloads for payload-emitting stages
    # (kept under ~1 MiB/row: input Arrow batches are 128 rows, and 32
    # concurrent tasks x rows x payload must fit MaxDirectMemorySize)
    "toa_bench": [(4, 256, 256, "uint16")],
    # oracle: NOISE-FREE pixels + closed-form metadata so per-band TOA
    # means are SQL-expressible (the driver's dn2toa value-level oracle).
    # Shapes are the FULL band stacks of the four platforms (idx % 4
    # aligns shape and platform; nb == len(BAND_ORDER[p]) makes the
    # metadata factor arrays label-indexed), small enough that a DuckDB
    # per-pixel grid stays tiny.  Values stay < 256 for the uint8 rows
    # (b<=8 -> max 241) so no cast wrap enters the closed form.
    "oracle": [(7, 6, 9, "uint8"), (9, 7, 8, "uint8"), (11, 6, 7, "uint16"), (13, 5, 8, "uint16")],
}

_PLATFORMS = ["Landsat5", "Landsat7", "Landsat8", "Sentinel2"]


def pixels_for(
    idx: int, bands: int, rows: int, cols: int, dtype: str, seed: int, noise: bool = True
) -> np.ndarray:
    """Recomputable pixel content: gradient + checkerboard + seeded noise.

    A strip of nodata(=0) rows at the top makes valid-data-bbox tests
    meaningful (cf. reference get_valid_data_bbox, raster.py:104-111).
    noise=False (the 'oracle' profile) keeps the content a closed-form
    function of (idx, b, r, c) that plain SQL can reproduce per pixel.
    """
    r = np.arange(rows, dtype=np.float64)[:, None]
    c = np.arange(cols, dtype=np.float64)[None, :]
    b = np.arange(bands, dtype=np.float64)[:, None, None]
    base = (r * 3.0 + c * 5.0)[None, :, :] + b * 17.0
    checker = (((r // 8).astype(np.int64) + (c // 8).astype(np.int64)) % 2)[None, :, :] * 50.0
    if noise:
        rng = np.random.Generator(np.random.Philox(key=np.uint64(seed * 1_000_003 + idx)))
        base = base + rng.integers(0, 25, size=(bands, rows, cols)).astype(np.float64)
    arr = np.mod(base + checker, 2000.0) + 1.0  # 1..2000, 0 reserved as nodata
    nod = idx % 7 + 1  # 1..7 nodata rows at the top
    arr[:, :nod, :] = 0.0
    return arr.astype(np.dtype(dtype))


def phash64(arr: np.ndarray) -> int:
    """Deterministic 64-bit perceptual-style hash: 8x8 block-mean of band 0
    thresholded at its mean, packed MSB-first into a signed int64."""
    a = arr[0].astype(np.float64)
    rows, cols = a.shape
    rr = np.linspace(0, rows, 9).astype(int)
    cc = np.linspace(0, cols, 9).astype(int)
    blocks = np.empty((8, 8))
    for i in range(8):
        for j in range(8):
            blk = a[rr[i] : max(rr[i + 1], rr[i] + 1), cc[j] : max(cc[j + 1], cc[j] + 1)]
            blocks[i, j] = blk.mean() if blk.size else 0.0
    bits = (blocks > blocks.mean()).ravel()
    v = np.uint64(0)
    for bit in bits:
        v = (v << np.uint64(1)) | np.uint64(bool(bit))
    return int(v.astype(np.int64))


def _center_for(idx: int, seed: int, skew_frac: float) -> tuple[float, float]:
    """Scene center; a `skew_frac` share of ids collapse onto one hotspot
    (the dense-cluster skew case the north rule requires handling)."""
    rng = np.random.Generator(np.random.Philox(key=np.uint64(seed * 7_777_777 + idx)))
    if skew_frac > 0.0 and rng.random() < skew_frac:
        return 11.95, 51.45  # hotspot near the reference origin
    lon = -20.0 + 60.0 * rng.random()
    lat = 30.0 + 30.0 * rng.random()
    return float(lon), float(lat)


def image_row(
    idx: int,
    seed: int = 42,
    profile: str = "mixed",
    fmt: str = "raw",
    skew_frac: float = 0.0,
) -> dict:
    """Image `idx`'s row, as {column: value} (pure; gen_images runs it
    per id on executors, and tests/oracles call it directly)."""
    bands, h_, w_, dtype = _PROFILES[profile][idx % len(_PROFILES[profile])]
    arr = pixels_for(idx, bands, h_, w_, dtype, seed, noise=profile != "oracle")
    if idx == 0:
        lon0, lat0 = REF_ORIGIN
        transform = [REF_PIXEL_X, 0.0, lon0, 0.0, REF_PIXEL_Y, lat0]
    else:
        clon, clat = _center_for(idx, seed, skew_frac)
        lon0, lat0 = clon - w_ * PIXEL_DEG / 2.0, clat + h_ * PIXEL_DEG / 2.0
        transform = [PIXEL_DEG, 0.0, lon0, 0.0, -PIXEL_DEG, lat0]
    lon1 = lon0 + w_ * PIXEL_DEG
    lat1 = lat0 - h_ * PIXEL_DEG
    platform = _PLATFORMS[idx % len(_PLATFORMS)]
    return {
        "image_id": f"img{idx:08d}",
        "bytes": codec.encode(arr, fmt),
        "w": w_,
        "h": h_,
        "fmt": fmt,
        "caption": f"scene {idx} over ({lon0:.3f},{lat0:.3f}) platform={platform}",
        "phash": phash64(arr),
        "bands": bands,
        "dtype": dtype,
        "crs": "EPSG:4326",
        "transform": transform,
        "nodata": 0.0,
        "footprint_lon": [lon0, lon1, lon1, lon0, lon0],
        "footprint_lat": [lat0, lat0, lat1, lat1, lat0],
        "platform": platform,
    }


def _generate(spark: SparkSession, n: int, parts: int, row_fn, schema: pa.Schema) -> DataFrame:
    """`spark.range(n)` -> one `row_fn(id)` row per id, in one
    mapInArrow (arrowio.map_rows)."""
    return arrowio.map_rows(
        spark.range(0, n, numPartitions=parts),
        ["id"],
        lambda row: {k: [v] for k, v in row_fn(row["id"]).items()},
        schema,
    )


def gen_images(
    spark: SparkSession,
    n: int,
    seed: int = 42,
    profile: str = "mixed",
    fmt: str = "raw",
    skew_frac: float = 0.0,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic images table of n rows."""
    parts = partitions or max(8, min(n // 64 + 1, 512))
    return _generate(
        spark, n, parts,
        lambda idx: image_row(idx, seed, profile, fmt, skew_frac),
        arrowio.IMAGES_SCHEMA,
    )


def aoi_row(idx: int, seed: int = 43, skew_frac: float = 0.0) -> dict:
    """AOI `idx`'s polygon row: even ids are axis-aligned boxes, odd ids
    convex quads; a skew_frac share concentrates on the hotspot."""
    rng = np.random.Generator(np.random.Philox(key=np.uint64(seed * 99_991 + idx)))
    if skew_frac > 0.0 and rng.random() < skew_frac:
        clon, clat = 11.95, 51.45
    else:
        clon = -20.0 + 60.0 * rng.random()
        clat = 30.0 + 30.0 * rng.random()
    half = 0.02 + 0.2 * rng.random()
    if idx % 2 == 0:  # box
        lons = [clon - half, clon + half, clon + half, clon - half, clon - half]
        lats = [clat - half, clat - half, clat + half, clat + half, clat - half]
    else:  # convex quad (jittered diamond)
        j = 0.3 + 0.7 * rng.random(4)
        lons = [clon, clon + half * j[1], clon, clon - half * j[3], clon]
        lats = [clat - half * j[0], clat, clat + half * j[2], clat, clat - half * j[0]]
    return {
        "aoi_id": f"aoi{idx:06d}",
        "ring_lon": [float(v) for v in lons],
        "ring_lat": [float(v) for v in lats],
        "centroid_lon": float(np.mean(lons[:-1])),
        "centroid_lat": float(np.mean(lats[:-1])),
        "lon_min": float(min(lons)),
        "lat_min": float(min(lats)),
        "lon_max": float(max(lons)),
        "lat_max": float(max(lats)),
    }


def gen_aois(
    spark: SparkSession, n: int, seed: int = 43, skew_frac: float = 0.0
) -> DataFrame:
    parts = max(4, min(n // 128 + 1, 64))
    return _generate(spark, n, parts, lambda idx: aoi_row(idx, seed, skew_frac), _AOIS)


def metadata_row(idx: int, seed: int = 42, profile: str = "mixed") -> dict:
    """Image `idx`'s dn2toa rescale factors (the broadcast side of the
    TOA transform; semantics mirror MTL/MTD contents, raster.py:276-422).

    The 'oracle' profile replaces the seeded factors with CLOSED-FORM
    functions of (idx, band) — plain double arithmetic any SQL engine
    reproduces bit-exactly — so the driver's DuckDB oracle can compute
    the expected TOA statistics from scratch."""
    shapes = _PROFILES[profile]
    nb = shapes[idx % len(shapes)][0]
    rng = np.random.Generator(np.random.Philox(key=np.uint64(seed * 31_337 + idx)))
    platform = _PLATFORMS[idx % len(_PLATFORMS)]
    thermal = []
    if platform == "Landsat8":
        thermal = [i for i in range(nb) if i >= nb - 2] if nb >= 3 else []
    elif platform in ("Landsat5", "Landsat7"):
        thermal = [nb // 2] if nb >= 3 else []
    if profile == "oracle":
        return {
            "image_id": f"img{idx:08d}",
            "platform": platform,
            "sun_elevation": 25.0 + (idx * 13 % 40),
            "mult_reflectance": [2e-5 * (1.0 + 0.01 * i + 0.001 * (idx % 5)) for i in range(nb)],
            "add_reflectance": [-0.1 * (1.0 + 0.005 * i) for i in range(nb)],
            "mult_radiance": [3e-4 * (1.0 + 0.01 * i) for i in range(nb)],
            "add_radiance": [0.1 * (1.0 + 0.01 * i) for i in range(nb)],
            "k1": [774.0 + i for i in range(nb)],
            "k2": [1321.0 + i for i in range(nb)],
            "quantification_value": 10000.0,
            "radio_add_offset": [-1000.0 if (idx + i) % 2 == 0 else 0.0 for i in range(nb)],
            "processing_baseline": 4.0 if idx % 8 < 4 else 2.09,
            "thermal_band_idx": thermal,
        }
    return {
        "image_id": f"img{idx:08d}",
        "platform": platform,
        "sun_elevation": 25.0 + 40.0 * rng.random(),
        "mult_reflectance": 2e-5 * (0.9 + 0.2 * rng.random(nb)),
        "add_reflectance": -0.1 * (0.9 + 0.2 * rng.random(nb)),
        "mult_radiance": 3e-4 * (0.9 + 0.2 * rng.random(nb)),
        "add_radiance": 0.1 * (0.9 + 0.2 * rng.random(nb)),
        "k1": 774.0 + 10.0 * rng.random(nb),
        "k2": 1321.0 + 10.0 * rng.random(nb),
        "quantification_value": 10000.0,
        "radio_add_offset": -1000.0 * rng.integers(0, 2, nb).astype(float),
        "processing_baseline": 4.0 if idx % 2 == 0 else 2.09,
        "thermal_band_idx": thermal,
    }


def gen_metadata(
    spark: SparkSession, n: int, seed: int = 42, profile: str = "mixed"
) -> DataFrame:
    parts = max(4, min(n // 128 + 1, 64))
    return _generate(
        spark, n, parts, lambda idx: metadata_row(idx, seed, profile), arrowio.METADATA_SCHEMA
    )
