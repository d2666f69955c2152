"""GeoTIFF WRITER (engine S4 sink twin of the reader; reference
raster.py:535-580 writes via rasterio/GDAL — the engine writes the
container itself).  Gates:

- write -> read bit-exact roundtrips over the dtype x compression x
  predictor matrix, geo metadata included;
- the reference's own fixtures survive a read -> write -> read loop
  byte-for-byte (every compression);
- the SYSTEM libtiff (the decoder GDAL uses) reads our files back
  bit-exact — external differential for the LZW/PackBits encoders and
  the predictor transforms;
- our LZW encoder's streams decode identically through the simple
  per-code reference decoder;
- the Spark sink loop (to_geotiff |> from_geotiff) and the file sink
  (write_geotiff_files -> binaryFile -> ingest_geotiffs) are lossless.
"""

from __future__ import annotations

import ctypes
import glob
import os

import numpy as np
import pytest

from ukis_pysat_spark import codec, datagen, sinks
from ukis_pysat_spark.sources import geotiff

from tests import tiffgen

REF_DIR = "/root/reference/tests/testfiles"

_rng = np.random.Generator(np.random.Philox(key=np.uint64(11)))


def _fixture(dtype: str, bands: int = 3, h: int = 53, w: int = 71) -> np.ndarray:
    a = (_rng.random((bands, h, w)) * 900).astype(dtype)
    a[:, :10] = 7  # compressible block pushes LZW through width changes
    return a


@pytest.mark.parametrize("comp", ["none", "deflate", "lzw", "packbits"])
@pytest.mark.parametrize("pred", [1, 2, 3, "auto"])
@pytest.mark.parametrize("dtype", ["uint8", "uint16", "int16", "int32", "float32", "float64"])
def test_write_read_matrix(comp, pred, dtype):
    kind = np.dtype(dtype).kind
    if pred == 2 and kind == "f":
        return
    if pred == 3 and kind != "f":
        return
    a = _fixture(dtype)
    t = [0.25, 0.0, -10.0, 0.0, -0.25, 60.0]
    b = geotiff.write_geotiff(
        a, transform=t, crs="EPSG:32632", nodata=-1.0, compression=comp, predictor=pred
    )
    out, meta = geotiff.read_geotiff(b)
    assert np.array_equal(out, a)
    assert out.dtype == a.dtype
    assert meta["transform"] == t
    assert meta["crs"] == "EPSG:32632"
    assert meta["nodata"] == -1.0


def test_geographic_vs_projected_geokeys():
    a = _fixture("uint8", bands=1)
    for crs, geo in [("EPSG:4326", True), ("EPSG:3857", False), ("EPSG:32719", False)]:
        b = geotiff.write_geotiff(a, crs=crs)
        _, meta = geotiff.read_geotiff(b)
        assert meta["crs"] == crs
        tags = geotiff.parse_ifd(b)
        keys = tags[34735]
        kv = {keys[k]: keys[k + 3] for k in range(4, len(keys) - 3, 4)}
        assert kv[1024] == (2 if geo else 1)
        assert (2048 in kv) == geo and (3072 in kv) == (not geo)


def test_bigtiff_forced_and_single_strip():
    a = _fixture("uint16", bands=2, h=37, w=41)
    b = geotiff.write_geotiff(a, compression="deflate", bigtiff=True, rows_per_strip=37)
    assert b[2:4] == b"\x2b\x00"  # magic 43
    out, _ = geotiff.read_geotiff(b)
    assert np.array_equal(out, a)


def test_writer_input_validation():
    a = _fixture("float32", bands=1)
    with pytest.raises(ValueError, match="rotated"):
        geotiff.write_geotiff(a, transform=[1.0, 0.1, 0.0, 0.0, -1.0, 0.0])
    with pytest.raises(ValueError, match="north-up"):
        geotiff.write_geotiff(a, transform=[1.0, 0.0, 0.0, 0.0, 1.0, 0.0])
    with pytest.raises(ValueError, match="EPSG"):
        geotiff.write_geotiff(a, crs="PROJCS[custom]")
    with pytest.raises(ValueError, match="predictor 2"):
        geotiff.write_geotiff(a, predictor=2)
    with pytest.raises(ValueError, match="predictor 3"):
        geotiff.write_geotiff(a.astype("uint8"), predictor=3)
    with pytest.raises(ValueError, match="compression"):
        geotiff.write_geotiff(a, compression="jpeg")


def test_lzw_encoder_vs_reference_decoder():
    """Differential: product LZW streams must decode identically through
    the simple per-code reference loop AND the vectorized decoder, on
    shapes covering width growth, table clears, and KwKwK."""
    cases = [
        b"",
        b"\x00" * 5000,  # KwKwK chains
        bytes(_rng.integers(0, 256, 60_000, dtype=np.uint8)),  # clears
        bytes(_rng.integers(0, 4, 20_000, dtype=np.uint8)),
        b"TOBEORNOTTOBEORTOBEORNOT" * 400,
    ]
    # width-boundary flush cases: when the final segment holds exactly
    # 254/766/1790 data codes the decoder widens while consuming the
    # last code, so the EOI must be written at the widened width (the
    # LZWPostEncode sync in _lzw_encode) or it is misread as a table
    # code and two garbage bytes append to the strip.  Mostly-distinct
    # adjacent byte pairs keep code count == byte count - 1.
    def _distinct_pair_bytes(n: int) -> bytes:
        out: list[int] = []
        s = 1
        while len(out) < n:
            x = (s * 37) % 256
            for _ in range(256):
                out.append(x)
                x = (x + s) % 256
                if len(out) >= n:
                    break
            s += 1
        return bytes(out[:n])

    for n_codes in (254, 766, 1790):
        cases.append(_distinct_pair_bytes(n_codes + 1))
    for data in cases:
        enc = geotiff._lzw_encode(data)
        assert tiffgen.lzw_decode(enc) == data
        assert geotiff._lzw_decode(enc) == data


def test_reference_fixtures_survive_write_loop():
    """Every reference .tif: engine-read -> engine-write (each codec)
    -> engine-read must reproduce pixels AND geo metadata bit-exact."""
    paths = sorted(glob.glob(os.path.join(REF_DIR, "**", "*.tif"), recursive=True))
    if not paths:
        pytest.skip("reference checkout not present")
    for p in paths:
        arr, meta = geotiff.read_geotiff(open(p, "rb").read())
        for comp in ("none", "deflate", "lzw", "packbits"):
            b = geotiff.write_geotiff(
                arr,
                transform=meta["transform"],
                crs=meta["crs"],
                nodata=meta["nodata"],
                compression=comp,
            )
            out, meta2 = geotiff.read_geotiff(b)
            assert np.array_equal(out, arr), (p, comp)
            assert meta2["transform"] == meta["transform"], (p, comp)
            assert meta2["crs"] == meta["crs"], (p, comp)
            assert meta2["nodata"] == meta["nodata"], (p, comp)


def test_libtiff_reads_our_files(tmp_path):
    """External ground truth, reverse direction of the reader's libtiff
    test: files WRITTEN by the engine must read back bit-exact through
    the system libtiff (the codec implementation GDAL ships)."""
    try:
        lt = ctypes.CDLL("libtiff.so.6")
    except OSError:
        pytest.skip("system libtiff not available")
    lt.TIFFOpen.restype = ctypes.c_void_p
    lt.TIFFOpen.argtypes = [ctypes.c_char_p, ctypes.c_char_p]
    lt.TIFFReadScanline.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_uint32, ctypes.c_uint16,
    ]
    lt.TIFFClose.argtypes = [ctypes.c_void_p]

    def read_back(path: str, shape: tuple, dtype: str) -> np.ndarray:
        bands, h, w = shape
        t = lt.TIFFOpen(path.encode(), b"r")
        assert t, path
        out = np.empty((h, w, bands), dtype=dtype)
        for r in range(h):
            assert lt.TIFFReadScanline(
                t, out[r].ctypes.data_as(ctypes.c_void_p), r, 0
            ) == 1, (path, r)
        lt.TIFFClose(t)
        return out.transpose(2, 0, 1)

    cases = [
        ("uint8", "lzw", "auto"), ("uint8", "deflate", "auto"),
        ("uint8", "packbits", 1), ("uint8", "none", 1),
        ("uint16", "lzw", "auto"), ("int16", "deflate", "auto"),
        ("float32", "deflate", "auto"), ("float32", "lzw", 3),
        ("float64", "deflate", 1),
    ]
    for i, (dtype, comp, pred) in enumerate(cases):
        a = _fixture(dtype, bands=2, h=90, w=123)
        p = str(tmp_path / f"w{i}.tif")
        open(p, "wb").write(
            geotiff.write_geotiff(a, compression=comp, predictor=pred)
        )
        assert np.array_equal(read_back(p, a.shape, dtype), a), (dtype, comp, pred)


def test_spark_geotiff_loop_and_file_sink(spark, tmp_path):
    imgs = datagen.gen_images(spark, 8, profile="oracle")
    loop = sinks.from_geotiff(sinks.to_geotiff(imgs, compression="deflate"))
    a = {r["image_id"]: r for r in imgs.collect()}
    b = {r["image_id"]: r for r in loop.collect()}
    assert set(a) == set(b)
    for k, ra in a.items():
        rb = b[k]
        assert np.array_equal(
            codec.decode(bytes(ra["bytes"])), codec.decode(bytes(rb["bytes"]))
        ), k
        for col in ("transform", "crs", "nodata", "dtype", "w", "h", "bands"):
            assert ra[col] == rb[col], (k, col)

    # file sink -> binaryFile scan -> ingest: the full circle a user
    # runs to hand scenes to any GDAL-based consumer and back
    out_dir = str(tmp_path / "tifs")
    manifest = sinks.write_geotiff_files(imgs, out_dir, compression="lzw").collect()
    assert len(manifest) == 8 and all(os.path.getsize(m["path"]) > 0 for m in manifest)
    # each file is byte for byte to_geotiff's blob of the same row
    blobs = {
        r["image_id"]: bytes(r["tiff"])
        for r in sinks.to_geotiff(imgs, compression="lzw").collect()
    }
    for m in manifest:
        with open(m["path"], "rb") as fh:
            assert fh.read() == blobs[m["image_id"]], m["image_id"]
        assert m["n_bytes"] == len(blobs[m["image_id"]])
    back = geotiff.ingest_geotiffs(spark.read.format("binaryFile").load(out_dir))
    c = {r["image_id"]: r for r in back.collect()}
    assert set(c) == set(a)
    for k, ra in a.items():
        assert np.array_equal(
            codec.decode(bytes(ra["bytes"])), codec.decode(bytes(c[k]["bytes"]))
        ), k
        assert c[k]["caption"] == f"{k}.tif"
        for col in ("transform", "crs", "nodata", "dtype"):
            assert ra[col] == c[k][col], (k, col)


def test_ingest_raises_on_a_truncated_tiff(spark, tmp_path):
    """A file whose magic claims TIFF but whose body does not decode
    fails the ingest instead of vanishing from the images table; files
    without PNG or TIFF magic are still dropped."""
    from pyspark.errors import PythonException

    whole = geotiff.write_geotiff(_fixture("uint16"), compression="deflate")
    (tmp_path / "ok.tif").write_bytes(whole)
    (tmp_path / "notes.txt").write_bytes(b"not a raster")
    files = spark.read.format("binaryFile").load(str(tmp_path))
    assert [r.image_id for r in geotiff.ingest_geotiffs(files).collect()] == ["ok"]

    (tmp_path / "cut.tif").write_bytes(whole[:64])
    files = spark.read.format("binaryFile").load(str(tmp_path))
    with pytest.raises(PythonException):
        geotiff.ingest_geotiffs(files).collect()


def test_proj_string_crs_roundtrips_via_citation():
    """Engine warps emit '+proj=' CRSes (lcc/aea/sinu/...); the writer
    records them as a user-defined PCS (3072=32767) with the proj
    string as the GTCitation in GeoAsciiParams, and the reader recovers
    the string verbatim — every CRS the analytic warp speaks roundtrips
    through the sink (GDAL's user-defined-CS convention)."""
    a = _fixture("uint16", bands=1)
    t = [100.0, 0.0, 0.0, 0.0, -100.0, 0.0]
    for crs in (
        "+proj=lcc +lat_1=49 +lat_2=44 +lat_0=46.5 +lon_0=3 "
        "+x_0=700000 +y_0=6600000",
        "+proj=lcc +lat_1=18 +lat_0=18 +lon_0=-77 +k_0=0.98",
        "+proj=aea +lat_1=29.5 +lat_2=45.5 +lat_0=23 +lon_0=-96",
        "+proj=sinu +lon_0=12",
    ):
        b = geotiff.write_geotiff(a, transform=t, crs=crs, nodata=0.0)
        out, meta = geotiff.read_geotiff(b)
        assert np.array_equal(out, a)
        assert meta["crs"] == crs
    # EPSG keys still win over citations, and a user-defined PCS code
    # must never surface as a fake EPSG
    b = geotiff.write_geotiff(a, crs="EPSG:32719")
    assert geotiff.read_geotiff(b)[1]["crs"] == "EPSG:32719"
    with pytest.raises(ValueError, match="proj"):
        geotiff.write_geotiff(a, crs="PROJCS[custom]")


@pytest.mark.parametrize("comp", ["none", "deflate", "lzw", "packbits"])
def test_tiled_write_roundtrip(comp):
    """tiled=True/<size> (the reference's kwargs={'tiled': True} path,
    raster.py:553 docstring): tile-organized output with zero-padded
    edge tiles, roundtripping bit-exact through the engine reader for
    every codec and both predictors."""
    for dtype, pred in (("uint16", "auto"), ("float32", "auto"), ("uint8", 1)):
        a = _fixture(dtype, bands=2, h=70, w=113)
        b = geotiff.write_geotiff(
            a, transform=[0.1, 0, 5.0, 0, -0.1, 50.0], crs="EPSG:4326",
            nodata=0.0, compression=comp, predictor=pred, tiled=32,
        )
        tags = geotiff.parse_ifd(b)
        assert tags[322] == [32] and tags[323] == [32] and 324 in tags
        out, meta = geotiff.read_geotiff(b)
        assert np.array_equal(out, a), (dtype, comp)
        assert meta["crs"] == "EPSG:4326"
    with pytest.raises(ValueError, match="multiple of 16"):
        geotiff.write_geotiff(a, tiled=20)


def test_libtiff_reads_our_tiled_files(tmp_path):
    """System libtiff reads engine-written TILE-organized files back
    bit-exact (TIFFReadEncodedTile) — external differential for the
    tiled layout + per-tile codec streams."""
    try:
        lt = ctypes.CDLL("libtiff.so.6")
    except OSError:
        pytest.skip("system libtiff not available")
    lt.TIFFOpen.restype = ctypes.c_void_p
    lt.TIFFOpen.argtypes = [ctypes.c_char_p, ctypes.c_char_p]
    lt.TIFFReadEncodedTile.restype = ctypes.c_ssize_t
    lt.TIFFReadEncodedTile.argtypes = [
        ctypes.c_void_p, ctypes.c_uint32, ctypes.c_void_p, ctypes.c_ssize_t,
    ]
    lt.TIFFClose.argtypes = [ctypes.c_void_p]

    tsz = 32
    for i, (dtype, comp) in enumerate(
        [("uint8", "lzw"), ("uint16", "deflate"), ("float32", "deflate")]
    ):
        a = _fixture(dtype, bands=2, h=70, w=113)
        p = str(tmp_path / f"t{i}.tif")
        open(p, "wb").write(
            geotiff.write_geotiff(a, compression=comp, tiled=tsz)
        )
        bands, h, w = a.shape
        across = -(-w // tsz)
        down = -(-h // tsz)
        t = lt.TIFFOpen(p.encode(), b"r")
        assert t, p
        out = np.zeros((h, w, bands), dtype=dtype)
        buf = np.empty((tsz, tsz, bands), dtype=dtype)
        for ty in range(down):
            for tx in range(across):
                n = lt.TIFFReadEncodedTile(
                    t, ty * across + tx,
                    buf.ctypes.data_as(ctypes.c_void_p), buf.nbytes,
                )
                assert n == buf.nbytes, (dtype, comp, ty, tx, n)
                ys = min(tsz, h - ty * tsz)
                xs = min(tsz, w - tx * tsz)
                out[ty * tsz : ty * tsz + ys, tx * tsz : tx * tsz + xs] = \
                    buf[:ys, :xs]
        lt.TIFFClose(t)
        assert np.array_equal(out.transpose(2, 0, 1), a), (dtype, comp)


def test_nbits1_bilevel_masks(tmp_path):
    """nbits=1 (the reference's kwargs={'nbits': 1} mask path,
    raster.py:553): 0/1 masks write as bit-packed bilevel strips and
    roundtrip bit-exact for every codec; the system libtiff reads them
    back; WhiteIsZero files invert per spec on read."""
    rng = np.random.Generator(np.random.Philox(key=np.uint64(13)))
    mask = (rng.random((1, 77, 101)) < 0.3).astype(np.uint8)
    t = [0.1, 0.0, 5.0, 0.0, -0.1, 50.0]
    for comp in ("none", "deflate", "lzw", "packbits"):
        b = geotiff.write_geotiff(
            mask, transform=t, crs="EPSG:4326", nodata=0.0,
            compression=comp, nbits=1, rows_per_strip=13,
        )
        tags = geotiff.parse_ifd(b)
        assert tags[258] == [1]
        out, meta = geotiff.read_geotiff(b)
        assert np.array_equal(out, mask), comp
        assert meta["transform"] == t and meta["crs"] == "EPSG:4326"
    # bool input is the natural mask dtype
    b = geotiff.write_geotiff(mask.astype(bool), nbits=1)
    assert np.array_equal(geotiff.read_geotiff(b)[0], mask)
    # validation
    with pytest.raises(ValueError, match="single band"):
        geotiff.write_geotiff(np.zeros((2, 4, 4), np.uint8), nbits=1)
    with pytest.raises(ValueError, match="0/1"):
        geotiff.write_geotiff(np.full((1, 4, 4), 3, np.uint8), nbits=1)
    with pytest.raises(ValueError, match="strip"):
        geotiff.write_geotiff(mask, nbits=1, tiled=32)

    # libtiff reads our bilevel files back bit-exact (packed rows)
    try:
        lt = ctypes.CDLL("libtiff.so.6")
    except OSError:
        pytest.skip("system libtiff not available")
    lt.TIFFOpen.restype = ctypes.c_void_p
    lt.TIFFOpen.argtypes = [ctypes.c_char_p, ctypes.c_char_p]
    lt.TIFFReadScanline.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_uint32, ctypes.c_uint16,
    ]
    lt.TIFFClose.argtypes = [ctypes.c_void_p]
    p = str(tmp_path / "mask.tif")
    open(p, "wb").write(geotiff.write_geotiff(mask, compression="lzw", nbits=1))
    h, w = mask.shape[1:]
    row_bytes = (w + 7) // 8
    tf = lt.TIFFOpen(p.encode(), b"r")
    assert tf
    got = np.empty((h, row_bytes), np.uint8)
    for r in range(h):
        assert lt.TIFFReadScanline(
            tf, got[r].ctypes.data_as(ctypes.c_void_p), r, 0
        ) == 1
    lt.TIFFClose(tf)
    assert np.array_equal(
        np.unpackbits(got, axis=1)[:, :w], mask[0]
    )

    # WhiteIsZero inversion on read (photometric 0)
    b = bytearray(geotiff.write_geotiff(mask, nbits=1))
    tags = geotiff.parse_ifd(bytes(b))
    # patch photometric 262 -> 0 in place (classic IFD walk)
    import struct as _struct
    (ifd_off,) = _struct.unpack("<I", b[4:8])
    (n,) = _struct.unpack("<H", b[ifd_off : ifd_off + 2])
    for i in range(n):
        base = ifd_off + 2 + i * 12
        (tag,) = _struct.unpack("<H", b[base : base + 2])
        if tag == 262:
            b[base + 8 : base + 10] = _struct.pack("<H", 0)
    out, _ = geotiff.read_geotiff(bytes(b))
    assert np.array_equal(out, 1 - mask)
