"""Per-pixel / per-image raster transforms (reference P2-P10).

All operators share one execution harness: an Arrow-native
``mapInArrow`` stage (operators/arrowio.py) that decodes each image's
payload ONCE (zero-copy from the Arrow buffer), applies a chain of
numpy transforms, and appends the re-encoded payload into a shared
native binary buffer — no pandas block assembly, no per-row Python
bytes objects.  Chaining transforms through :func:`compose` keeps one
decode/encode per *stage* — the reference instead round-trips the whole
raster through an in-memory GTiff after every mutation
(ukis_pysat/raster.py:189-213), which is the per-op tax this design
eliminates.

Operators:
- pixel_math       arbitrary vectorized array math (raster.py:84-102 P2/P3)
- valid_data_bbox  tightest window of pixels != nodata (raster.py:104-111)
- mask_bbox        crop/mask to bbox or polygon (raster.py:113-138), with
                   optional pad-to-cover (fill=True, raster.py:125-129)
- pad              pad all directions + transform shift (raster.py:160-187)
- dn2toa           DN -> TOA reflectance / brightness temperature
                   (raster.py:276-422) via broadcast metadata join
- warp             analytic reprojection between EPSG:4326, 3857
                   (web mercator), UTM 326xx/327xx + arbitrary-param
                   +proj=tmerc (Snyder Transverse Mercator series;
                   accepts get_proj_string output), polar stereographic
                   3413/3976/3031/3995/3032 + UPS 5041/5042 + +proj=
                   stere in both EPSG variants (A: +k at the pole,
                   B: +lat_ts; Snyder 15-9/21-34..40), LAEA 3035 +
                   +proj=laea (Snyder 24-x, authalic latitude),
                   ellipsoidal Mercator 3395 + +proj=merc variants A/B
                   (Snyder 7-6..7-8; distinct from spherical 3857),
                   Lambert conformal conic 2SP (2154/3347 + +proj=lcc,
                   Snyder ch.15), Albers equal-area (5070/3577 +
                   +proj=aea, Snyder ch.14), sinusoidal (ESRI:54008
                   ellipsoidal + the spherical MODIS SIN grid via
                   +proj=sinu +R=, Snyder ch.30), equidistant
                   cylindrical EPSG:4087 + +proj=eqc with lat_ts, and
                   +proj=longlat — six resampling kernels
                   (raster.py:215-274; the datum is always WGS84/GRS80:
                   datum-shift-grade PROJ coverage is out of scope
                   without GDAL)

Every transform is a pure function of the row — task-retry-safe and
partitioning-independent.
"""

from __future__ import annotations

import math
import re
from typing import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ukis_pysat_spark import codec
from ukis_pysat_spark.operators import arrowio
from ukis_pysat_spark.operators.arrowio import META_COLS as _META_COLS
from ukis_pysat_spark.operators.multimodal import STATS_SCHEMA

# A transform takes (arr, meta) and returns (arr, meta); meta is a dict
# with keys transform (list[6]), nodata, crs.
TransformFn = Callable[[np.ndarray, dict], tuple[np.ndarray, dict]]


def apply_transforms(images: DataFrame, fns: list[TransformFn], out_fmt: str | None = None) -> DataFrame:
    """Run a chain of transforms with ONE decode + ONE encode per image
    (Arrow-native emitter, see operators/arrowio.py)."""

    def row_fn(row: dict) -> tuple[dict, np.ndarray, str]:
        arr = codec.decode(row["bytes"])
        meta = {
            "transform": list(row["transform"]),
            "nodata": row["nodata"],
            "crs": row["crs"],
        }
        for fn in fns:
            arr, meta = fn(arr, meta)
        fmt = out_fmt or row["fmt"]
        t = meta["transform"]
        a, _, c, _, e, f_ = t
        h2, w2 = arr.shape[-2], arr.shape[-1]
        x1, y1 = c + w2 * a, f_ + h2 * e
        # footprint columns are ALWAYS geographic lon/lat (the spatial
        # join's cell cover maps degrees): after a CRS change the corner
        # coords are inverse-projected back
        cx = np.array([c, x1, x1, c, c])
        cy = np.array([f_, f_, y1, y1, f_])
        try:
            fp_lon, fp_lat = _inv(meta["crs"], cx, cy)
            fp_lon = [float(v) for v in fp_lon]
            fp_lat = [float(v) for v in fp_lat]
        except ValueError:  # CRS without an analytic inverse
            fp_lon, fp_lat = None, None
        d = dict(row)
        d.pop("bytes")
        d.update(
            w=int(w2),
            h=int(h2),
            fmt=fmt,
            bands=int(arr.shape[0]),
            dtype=str(arr.dtype),
            crs=meta["crs"],
            transform=[float(v) for v in t],
            nodata=meta["nodata"],
            footprint_lon=fp_lon,
            footprint_lat=fp_lat,
        )
        return d, arr, fmt

    return arrowio.map_image_rows(images, _META_COLS, row_fn)


def compose(*fns: TransformFn) -> list[TransformFn]:
    return list(fns)


# --- P2/P3: arbitrary pixel math -----------------------------------------


def pixel_math(fn: Callable[[np.ndarray], np.ndarray]) -> TransformFn:
    """Arbitrary vectorized array math; (rows, cols) must be preserved,
    band count may change — the reference's arr-setter contract
    (raster.py:95-100)."""

    def t(arr: np.ndarray, meta: dict) -> tuple[np.ndarray, dict]:
        out = codec.promote_3d(np.asarray(fn(arr)))
        if out.shape[-2:] != arr.shape[-2:]:
            raise ValueError(
                f"Shape mismatch. Shape of source array: {arr.shape}, "
                f"shape of altered array {out.shape}"
            )
        return out, meta

    return t


def _quantile_linear(sorted_vals: np.ndarray, q: float) -> float:
    """Interpolated quantile over a SORTED 1-D array with the
    ``lo + (hi - lo) * frac`` expression at position ``(n - 1) * q``
    (numpy's 'linear' / SQL quantile_cont definition).  At integer
    positions (q = 0, 1, or (n-1)*q integral) no interpolation happens,
    so the result is an exact order statistic in every engine."""
    n = sorted_vals.size
    pos = (n - 1) * q
    i = int(math.floor(pos))
    frac = pos - i
    lo = float(sorted_vals[i])
    if frac == 0.0 or i + 1 >= n:
        return lo
    return lo + (float(sorted_vals[i + 1]) - lo) * frac


def stretch(
    p_lo: float = 2.0,
    p_hi: float = 98.0,
    dst: tuple = (0.0, 255.0),
    out_dtype: str = "uint8",
) -> TransformFn:
    """Percentile contrast stretch (the ``gdal_translate -scale`` /
    QGIS "cumulative count cut" enhancement): per band, map the
    [p_lo, p_hi] percentile range of VALID pixels linearly onto
    ``dst``, clip, and round half-up —

        floor(d0 + (v - qlo) * (d1 - d0) / (qhi - qlo) + 0.5)

    in exactly that operation order (the driver's SQL twin replays it
    verbatim at p = 0/100, where the percentiles are exact order
    statistics).  Degenerate bands (qhi == qlo, e.g. constant or
    all-nodata) map everything to the valid floor.

    Nodata handling RESERVES the output nodata code (GDAL's
    ``-a_nodata`` discipline): unsigned outputs remap nodata to 0 and
    stretch valid pixels into [d0+1, d1], so a valid low-percentile
    pixel can never collide with (and silently grow) the nodata mask.
    A signed/float output keeps the incoming nodata; if that value
    lands inside ``dst`` the collision is unrecoverable and the
    transform raises instead of corrupting the mask."""
    if not 0.0 <= p_lo < p_hi <= 100.0:
        raise ValueError("need 0 <= p_lo < p_hi <= 100")
    d0, d1 = float(dst[0]), float(dst[1])
    if d0 >= d1:
        raise ValueError("need dst[0] < dst[1]")

    def t(arr: np.ndarray, meta: dict) -> tuple[np.ndarray, dict]:
        nod = meta["nodata"]
        z = arr.astype(np.float64, copy=False)
        nb = z.shape[0]
        e0 = d0
        new_nod = nod
        if nod is not None:
            new_nod = 0.0 if out_dtype.startswith("u") else nod
            if new_nod == d0:
                e0 = d0 + 1.0  # reserve the nodata code
            elif d0 < new_nod <= d1:
                raise ValueError(
                    f"output nodata {new_nod} falls inside dst {dst}; "
                    "pick a dst range that excludes it"
                )
        out = np.empty_like(z)
        for b in range(nb):
            plane = z[b]
            valid = plane[plane != nod] if nod is not None else plane.ravel()
            if valid.size == 0:
                out[b] = e0
                continue
            sv = np.sort(valid)
            qlo = _quantile_linear(sv, p_lo / 100.0)
            qhi = _quantile_linear(sv, p_hi / 100.0)
            if qhi == qlo:
                out[b] = e0
                continue
            mapped = np.floor(e0 + (plane - qlo) * (d1 - e0) / (qhi - qlo) + 0.5)
            out[b] = np.clip(mapped, e0, d1)
        if nod is not None:
            out = np.where(z != nod, out, new_nod)
        return out.astype(np.dtype(out_dtype)), dict(meta, nodata=new_nod)

    return t


def equalize(levels: int = 256) -> TransformFn:
    """Histogram equalization (the classic contrast enhancement, rank
    form): per band, each valid value v maps to

        round_half_up((cdf(v) - cdf_min) * (levels-1) / (n - cdf_min))

    where cdf(v) counts valid pixels <= v and cdf_min = cdf(min) —
    the OpenCV/textbook formula, generalized to continuous values via
    ranks.  All arithmetic is INTEGER (the round-half-up rides the
    ``(2a + b) // (2b)`` identity), so results are bit-reproducible in
    any engine; the driver's DuckDB twin replays the cumulative window
    sum.  Nodata pixels pass through and are excluded from the cdf.
    Output stays float64 (chain ``write_raster`` for a uint8 sink).

    The output nodata code is RESERVED (same discipline as
    :func:`stretch`): when the preserved nodata equals 0 — the common
    unsigned convention — valid pixels equalize into [1, levels-1] so
    no valid pixel can silently join the nodata mask (constant bands
    map to 1).  A nodata value strictly inside (0, levels-1] cannot be
    reserved and raises; nodata outside [0, levels-1] (e.g. -9999)
    keeps the full [0, levels-1] range (constant bands map to 0)."""
    if levels < 2:
        raise ValueError("need levels >= 2")

    def t(arr: np.ndarray, meta: dict) -> tuple[np.ndarray, dict]:
        nod = meta["nodata"]
        lo = 0
        if nod is not None:
            if nod == 0.0:
                lo = 1  # reserve the nodata code
            elif 0.0 < nod <= levels - 1:
                raise ValueError(
                    f"nodata {nod} falls inside the equalized range "
                    f"[0, {levels - 1}] and cannot be reserved; rescale "
                    "nodata first"
                )
        L = levels - 1 - lo
        z = arr.astype(np.float64, copy=False)
        out = np.empty_like(z)
        for b in range(z.shape[0]):
            plane = z[b]
            valid = (
                np.ones(plane.shape, dtype=bool) if nod is None else plane != nod
            )
            vals = plane[valid]
            if vals.size == 0:
                out[b] = plane
                continue
            uq, inv, cnts = np.unique(
                vals, return_inverse=True, return_counts=True
            )
            cdf = np.cumsum(cnts)
            n, cmin = int(cdf[-1]), int(cdf[0])
            if n == cmin:
                lev = np.zeros(cdf.shape, dtype=np.int64)
            else:
                lev = ((cdf - cmin) * L * 2 + (n - cmin)) // (2 * (n - cmin))
            res = plane.copy()
            res[valid] = (lo + lev[inv]).astype(np.float64)
            out[b] = res
        return out, dict(meta)

    return t


# --- P4: valid-data bbox ---------------------------------------------------


def valid_data_bbox(images: DataFrame, nodata: float = 0.0) -> DataFrame:
    """Tightest geo bbox of pixels != nodata across all bands
    (rasterio.windows.get_data_window semantics, raster.py:104-111).
    Returns (image_id, left, bottom, right, top).  One mapInArrow
    stage: payloads enter as zero-copy buffer views and the four
    doubles leave as one row."""

    def rows_fn(row: dict) -> dict:
        valid = (codec.decode(row["bytes"]) != nodata).any(axis=0)
        rows_any = np.flatnonzero(valid.any(axis=1))
        cols_any = np.flatnonzero(valid.any(axis=0))
        a, _, c, _, e, f_ = row["transform"]
        if rows_any.size == 0:
            r0 = r1 = c0 = c1 = 0
        else:
            r0, r1 = int(rows_any[0]), int(rows_any[-1]) + 1
            c0, c1 = int(cols_any[0]), int(cols_any[-1]) + 1
        return {
            "image_id": [row["image_id"]],
            "left": [c + c0 * a],
            "bottom": [f_ + r1 * e],
            "right": [c + c1 * a],
            "top": [f_ + r0 * e],
        }

    schema = pa.schema(
        [("image_id", pa.string()), ("left", pa.float64()), ("bottom", pa.float64()),
         ("right", pa.float64()), ("top", pa.float64())]
    )
    return arrowio.map_rows(images, ["image_id", "bytes", "transform"], rows_fn, schema)


# --- P5/P6/P7: mask / pad --------------------------------------------------


def _pad_width_for(bbox: tuple, bounds: tuple, pixel_size: float) -> int:
    """Biggest bbox overhang beyond raster bounds in pixels
    (reference _get_pad_width, raster.py:140-158)."""
    max_diff_ur = max(bbox[2] - bounds[2], bbox[3] - bounds[3])
    max_diff_ll = max(bounds[0] - bbox[0], bounds[1] - bbox[1])
    max_diff = max(max_diff_ll, max_diff_ur)
    return math.ceil(max_diff / pixel_size)


def pad(pad_width: int, constant_values: float = 0.0) -> TransformFn:
    """Pad raster in all directions; shifts the transform origin
    (raster.py:160-187)."""

    def t(arr: np.ndarray, meta: dict) -> tuple[np.ndarray, dict]:
        p = int(pad_width)
        out = np.pad(
            arr,
            ((0, 0), (p, p), (p, p)),
            mode="constant",
            constant_values=constant_values,
        )
        a, b, c, d, e, f_ = meta["transform"]
        meta = dict(meta, transform=[a, b, c - p * a, d, e, f_ - p * e])
        return out, meta

    return t


def mask_bbox(
    bbox_or_ring,
    crop: bool = True,
    fill: bool = False,
    constant_values: float = 0.0,
    nodata: float | None = None,
) -> TransformFn:
    """Crop/mask to a bbox tuple (left, bottom, right, top) or polygon
    ring ([(lon,lat),...]); rasterio.mask.mask semantics (raster.py:113-138):

    - window = floor/ceil of the geometry bounds in fractional pixels,
      intersected with the array;
    - pixels outside the polygon (center-in-polygon test) are set to
      nodata;
    - fill=True pads first so the raster covers the bbox
      (raster.py:125-129).
    """
    from ukis_pysat_spark.operators.geometry import points_in_polygon

    if isinstance(bbox_or_ring, tuple):
        bbox = bbox_or_ring
        ring = None
    else:
        ring = np.asarray(bbox_or_ring, dtype=np.float64)
        bbox = (
            float(ring[:, 0].min()),
            float(ring[:, 1].min()),
            float(ring[:, 0].max()),
            float(ring[:, 1].max()),
        )

    def t(arr: np.ndarray, meta: dict) -> tuple[np.ndarray, dict]:
        a, b, c, d, e, f_ = meta["transform"]
        nod = nodata if nodata is not None else (meta["nodata"] or 0.0)
        h, w = arr.shape[-2], arr.shape[-1]
        if fill:
            bounds = (c, f_ + h * e, c + w * a, f_)
            pw = _pad_width_for(bbox, bounds, a)
            if pw > 0:
                arr, meta = pad(pw, constant_values)(arr, meta)
                a, b, c, d, e, f_ = meta["transform"]
                h, w = arr.shape[-2], arr.shape[-1]
        # geometry window in fractional pixel coords (y axis flipped: e<0)
        c0 = math.floor((bbox[0] - c) / a)
        c1 = math.ceil((bbox[2] - c) / a)
        r0 = math.floor((bbox[3] - f_) / e)
        r1 = math.ceil((bbox[1] - f_) / e)
        c0, r0 = max(c0, 0), max(r0, 0)
        c1, r1 = min(c1, w), min(r1, h)
        if crop:
            out = arr[:, r0:r1, c0:c1]
            new_c = c + c0 * a
            new_f = f_ + r0 * e
        else:
            out = arr
            new_c, new_f = c, f_
            r0, r1, c0, c1 = 0, h, 0, w
        if ring is not None:
            hh, ww = out.shape[-2], out.shape[-1]
            px_lon = new_c + (np.arange(ww) + 0.5) * a
            px_lat = new_f + (np.arange(hh) + 0.5) * e
            gx, gy = np.meshgrid(px_lon, px_lat)
            inside = points_in_polygon(
                gx.ravel(), gy.ravel(), ring[:, 0], ring[:, 1]
            ).reshape(hh, ww)
            out = np.where(inside[None, :, :], out, np.asarray(nod, dtype=out.dtype))
        meta = dict(meta, transform=[a, b, new_c, d, e, new_f], nodata=nod)
        return np.ascontiguousarray(out), meta

    return t


# --- P9: dn2toa ------------------------------------------------------------


def dn2toa_arrays(
    arr: np.ndarray,
    platform: str,
    sun_elevation: float,
    mult_reflectance,
    add_reflectance,
    mult_radiance,
    add_radiance,
    k1,
    k2,
    thermal_band_idx,
    quantification_value: float,
    radio_add_offset,
    processing_baseline: float,
    wavelengths: list[str] | None = None,
) -> np.ndarray:
    """Closed-form TOA math (semantics of raster.py:276-422):

    Landsat thermal bands:  L = ML*DN + AL;  T = K2 / ln(K1/L + 1)
    Landsat reflectance:    rho = (MR*DN + AR) / sin(radians(sun_elev))
    Sentinel-2 baseline>=4: rho = (DN + radio_offset) / QV
    Sentinel-2 otherwise:   rho = DN / QV
    Output float32 (matches the reference's *_toa.tif fixtures).

    wavelengths follows the reference semantics EXACTLY (raster.py:337
    `for idx, b in enumerate(self._lookup_bands(platform, wavelengths))`):
    the PIXEL array is indexed positionally by the wavelengths list
    (band i of the payload IS the i-th requested wavelength), while the
    rescale FACTORS are selected by the looked-up band label.  Factor
    arrays support two conventions: label-indexed over the platform's
    full band order (MTL/MTD-parsed metadata, sources/ingest.py) or
    positional per payload band (synthetic metadata).  Thermal
    membership is re-derived from the band LABELS (L8 10/11, other
    Landsats 6*).
    """
    from ukis_pysat_spark.functions import bands as _bands

    # canonicalize: both the Platform enum values ('Sentinel-2') and the
    # datagen/table codes ('Sentinel2') are accepted
    platform = platform.replace("-", "")
    if wavelengths is not None:
        labels = _bands.lookup_bands(platform, wavelengths)
        k = min(len(labels), arr.shape[0])
        labels = labels[:k]
        arr = arr[:k]
        order = _bands.BAND_ORDER[platform]

        def _sel(x):
            if x is None:
                return None
            if len(x) == len(order):  # label-indexed (full band order)
                return [x[order.index(lab)] for lab in labels]
            return [x[i] for i in range(k)]  # positional (payload order)

        mult_reflectance = _sel(mult_reflectance)
        add_reflectance = _sel(add_reflectance)
        mult_radiance = _sel(mult_radiance)
        add_radiance = _sel(add_radiance)
        k1 = _sel(k1)
        k2 = _sel(k2)
        radio_add_offset = _sel(radio_add_offset)
        thermal_band_idx = [
            i for i, lab in enumerate(labels) if _bands.is_thermal_label(platform, lab)
        ]
    dn = arr.astype(np.float32)
    if platform.startswith("Landsat"):
        out = np.empty_like(dn)
        thermal = set(int(i) for i in thermal_band_idx)
        sin_e = np.float32(np.sin(np.radians(sun_elevation)))
        for i in range(dn.shape[0]):
            if i in thermal:
                L = np.float32(mult_radiance[i]) * dn[i] + np.float32(add_radiance[i])
                with np.errstate(divide="ignore", invalid="ignore"):
                    out[i] = np.float32(k2[i]) / np.log(np.float32(k1[i]) / L + 1.0)
            else:
                out[i] = (
                    np.float32(mult_reflectance[i]) * dn[i] + np.float32(add_reflectance[i])
                ) / sin_e
        return out
    if platform == "Sentinel2":
        qv = np.float32(quantification_value)
        if processing_baseline >= 4.0:
            off = np.asarray(radio_add_offset, dtype=np.float32)[: dn.shape[0]]
            return (dn + off[:, None, None]) / qv
        return dn / qv
    raise ValueError(
        f"Cannot convert dn2toa. Platform {platform} not supported "
        f"[Landsat-5, Landsat-7, Landsat-8, Sentinel-2]."
    )


def dn2toa(
    images: DataFrame,
    metadata: DataFrame,
    out_fmt: str | None = None,
    wavelengths: list[str] | None = None,
) -> DataFrame:
    """DN -> TOA as a broadcast metadata join + one fused Arrow stage.

    The rescale-factor table is tiny relative to images (one row per
    image/scene, no payload) — broadcast it so the transform stage is
    shuffle-free.  `wavelengths` selects bands via the platform lookup
    table (reference dn2toa(wavelengths=...), raster.py:276,424-483).
    Payloads are emitted through the Arrow-native buffer
    (operators/arrowio.py) — no pandas, no per-row bytes objects.
    """
    joined = images.join(F.broadcast(metadata.drop("platform")), "image_id")

    meta_cols = [
        "sun_elevation", "mult_reflectance", "add_reflectance",
        "mult_radiance", "add_radiance", "k1", "k2",
        "quantification_value", "radio_add_offset",
        "processing_baseline", "thermal_band_idx",
    ]

    def row_fn(row: dict) -> tuple[dict, np.ndarray, str]:
        toa = dn2toa_arrays(
            codec.decode(row["bytes"]),
            row["platform"],
            row["sun_elevation"],
            row["mult_reflectance"],
            row["add_reflectance"],
            row["mult_radiance"],
            row["add_radiance"],
            row["k1"],
            row["k2"],
            row["thermal_band_idx"],
            row["quantification_value"],
            row["radio_add_offset"],
            row["processing_baseline"],
            wavelengths=wavelengths,
        )
        fmt = out_fmt or row["fmt"]
        d = {k: row[k] for k in _META_COLS if k != "bytes"}
        d["fmt"] = fmt
        d["dtype"] = "float32"
        d["bands"] = int(toa.shape[0])
        return d, toa, fmt

    return arrowio.map_image_rows(joined, _META_COLS + meta_cols, row_fn)


def dn2toa_stats(
    images: DataFrame, metadata: DataFrame, wavelengths: list[str] | None = None
) -> DataFrame:
    """Fused DN->TOA + per-band statistics in ONE Arrow stage.

    Decodes each image once, applies the closed-form TOA math, and emits
    band statistics directly — no re-encode, no second decode, half the
    Arrow payload traffic of dn2toa(...) |> decode_stats(...).
    """
    joined = images.select(
        "image_id", "bytes", "platform",
    ).join(F.broadcast(metadata.drop("platform")), "image_id")

    meta_cols = [
        "sun_elevation", "mult_reflectance", "add_reflectance",
        "mult_radiance", "add_radiance", "k1", "k2",
        "quantification_value", "radio_add_offset",
        "processing_baseline", "thermal_band_idx",
    ]

    def rows_fn(row: dict) -> dict:
        toa = dn2toa_arrays(
            codec.decode(row["bytes"]), row["platform"],
            row["sun_elevation"], row["mult_reflectance"],
            row["add_reflectance"], row["mult_radiance"],
            row["add_radiance"], row["k1"], row["k2"],
            row["thermal_band_idx"], row["quantification_value"],
            row["radio_add_offset"], row["processing_baseline"],
            wavelengths=wavelengths,
        ).astype(np.float64)
        nb = toa.shape[0]
        return {
            "image_id": [row["image_id"]] * nb,
            "band": np.arange(nb),
            "mean": toa.mean(axis=(1, 2)),
            "std": toa.std(axis=(1, 2)),
            "min": toa.min(axis=(1, 2)),
            "max": toa.max(axis=(1, 2)),
            "n_valid": np.full(nb, toa.shape[1] * toa.shape[2]),
        }

    return arrowio.map_rows(
        joined, ["image_id", "bytes", "platform", *meta_cols], rows_fn, STATS_SCHEMA
    )


# --- P8: warp --------------------------------------------------------------

_R_MERC = 6378137.0

# WGS84 ellipsoid + UTM constants (Transverse Mercator, Snyder series)
_WGS_A = 6378137.0
_WGS_F = 1.0 / 298.257223563
_E2 = _WGS_F * (2.0 - _WGS_F)
_EP2 = _E2 / (1.0 - _E2)
_K0 = 0.9996
_UTM_FE = 500_000.0
_UTM_FN_S = 10_000_000.0
_E1 = (1.0 - math.sqrt(1.0 - _E2)) / (1.0 + math.sqrt(1.0 - _E2))


def _utm_params(crs: str) -> tuple[float, bool] | None:
    """(central_meridian_deg, south) for a UTM CRS, else None.

    Accepts 'EPSG:326xx'/'EPSG:327xx' and the reference-parity proj
    string produced by get_proj_string ('+proj=utm +zone=56J, ...',
    file.py:244 — letters C..M are the southern hemisphere).

    A proj string whose hemisphere is NOT determinable (no zone letter
    and no explicit '+south'/'+north' token) returns None — silently
    assuming north would shift southern coordinates by the 10,000 km
    false northing, so _fwd/_inv raise unsupported-CRS instead."""
    if crs.startswith("EPSG:326") and len(crs) == 10:
        return (int(crs[8:]) * 6.0 - 183.0, False)
    if crs.startswith("EPSG:327") and len(crs) == 10:
        return (int(crs[8:]) * 6.0 - 183.0, True)
    if crs.startswith("+proj=utm"):
        m = re.search(r"\+zone=(\d+)([C-X]?)", crs)
        if m:
            zone = int(m.group(1))
            letter = m.group(2)
            if letter:
                south = letter < "N"
            elif re.search(r"\+south\b", crs):
                south = True
            elif re.search(r"\+north\b", crs):
                south = False
            else:
                return None  # hemisphere indeterminable
            return (zone * 6.0 - 183.0, south)
    return None


def _meridian_arc(phi: np.ndarray) -> np.ndarray:
    e2, e4, e6 = _E2, _E2**2, _E2**3
    return _WGS_A * (
        (1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256) * phi
        - (3 * e2 / 8 + 3 * e4 / 32 + 45 * e6 / 1024) * np.sin(2 * phi)
        + (15 * e4 / 256 + 45 * e6 / 1024) * np.sin(4 * phi)
        - (35 * e6 / 3072) * np.sin(6 * phi)
    )


def _tmerc_fwd(lon, lat, lon0_deg: float, lat0_deg: float, k0: float, fe: float, fn: float):
    """Transverse Mercator, Snyder eqs 8-9..8-13 with arbitrary natural
    origin (lat0), scale (k0) and false grid offsets; UTM is the
    (lat0=0, k0=0.9996, fe=500km) special case."""
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64) - lon0_deg)
    sin_p, cos_p, tan_p = np.sin(phi), np.cos(phi), np.tan(phi)
    N = _WGS_A / np.sqrt(1.0 - _E2 * sin_p**2)
    T = tan_p**2
    C = _EP2 * cos_p**2
    A = lam * cos_p
    M = _meridian_arc(phi)
    M0 = float(_meridian_arc(np.array(math.radians(lat0_deg))))
    x = k0 * N * (
        A
        + (1 - T + C) * A**3 / 6.0
        + (5 - 18 * T + T**2 + 72 * C - 58 * _EP2) * A**5 / 120.0
    ) + fe
    y = k0 * (
        M
        - M0
        + N * tan_p * (
            A**2 / 2.0
            + (5 - T + 9 * C + 4 * C**2) * A**4 / 24.0
            + (61 - 58 * T + T**2 + 600 * C - 330 * _EP2) * A**6 / 720.0
        )
    ) + fn
    return x, y


def _utm_fwd(lon, lat, lon0_deg: float, south: bool):
    return _tmerc_fwd(
        lon, lat, lon0_deg, 0.0, _K0, _UTM_FE, _UTM_FN_S if south else 0.0
    )


def _phi_from_M(M: np.ndarray) -> np.ndarray:
    """Footpoint latitude from meridian arc (Snyder 3-26/7-19
    rectifying-latitude series) — shared by UTM, sinusoidal and
    equidistant-cylindrical inverses."""
    mu = M / (_WGS_A * (1 - _E2 / 4 - 3 * _E2**2 / 64 - 5 * _E2**3 / 256))
    e1 = _E1
    return (
        mu
        + (3 * e1 / 2 - 27 * e1**3 / 32) * np.sin(2 * mu)
        + (21 * e1**2 / 16 - 55 * e1**4 / 32) * np.sin(4 * mu)
        + (151 * e1**3 / 96) * np.sin(6 * mu)
        + (1097 * e1**4 / 512) * np.sin(8 * mu)
    )


def _tmerc_inv(x, y, lon0_deg: float, lat0_deg: float, k0: float, fe: float, fn: float):
    x = np.asarray(x, dtype=np.float64) - fe
    y = np.asarray(y, dtype=np.float64) - fn
    M0 = float(_meridian_arc(np.array(math.radians(lat0_deg))))
    phi1 = _phi_from_M(M0 + y / k0)
    sin1, cos1, tan1 = np.sin(phi1), np.cos(phi1), np.tan(phi1)
    C1 = _EP2 * cos1**2
    T1 = tan1**2
    N1 = _WGS_A / np.sqrt(1 - _E2 * sin1**2)
    R1 = _WGS_A * (1 - _E2) / (1 - _E2 * sin1**2) ** 1.5
    D = x / (N1 * k0)
    phi = phi1 - (N1 * tan1 / R1) * (
        D**2 / 2.0
        - (5 + 3 * T1 + 10 * C1 - 4 * C1**2 - 9 * _EP2) * D**4 / 24.0
        + (61 + 90 * T1 + 298 * C1 + 45 * T1**2 - 252 * _EP2 - 3 * C1**2) * D**6 / 720.0
    )
    lam = (
        D
        - (1 + 2 * T1 + C1) * D**3 / 6.0
        + (5 - 2 * C1 + 28 * T1 - 3 * C1**2 + 8 * _EP2 + 24 * T1**2) * D**5 / 120.0
    ) / cos1
    return lon0_deg + np.degrees(lam), np.degrees(phi)


def _utm_inv(x, y, lon0_deg: float, south: bool):
    return _tmerc_inv(
        x, y, lon0_deg, 0.0, _K0, _UTM_FE, _UTM_FN_S if south else 0.0
    )


# --- polar stereographic (EPSG variant B) + LAEA (round 5) -----------------
# Closed-form ellipsoidal formulas (Snyder 1987, Map Projections — A
# Working Manual, eqs 15-9/21-34..21-40 and 24-x/3-16..3-18; EPSG
# Guidance Note 7-2 parameterization).  Anchors used by the tests:
# the pole maps to the grid origin, EPSG:3035's natural origin (10E,
# 52N) maps to (FE, FN) BY DEFINITION, round-trips close to <1e-9 deg,
# and the e->0 limit matches independent spherical formulas.

_E = math.sqrt(_E2)

# crs -> (lat_ts, lon_0) with hemisphere implied by lat_ts's sign;
# false easting/northing are 0 for all three
_PS_PARAMS = {
    "EPSG:3413": (70.0, -45.0),  # NSIDC Sea Ice Polar Stereographic North
    "EPSG:3976": (-70.0, 0.0),  # NSIDC Sea Ice Polar Stereographic South
    "EPSG:3031": (-71.0, 0.0),  # Antarctic Polar Stereographic
}

# EPSG:3035 (ETRS89-extended / LAEA Europe): lat_0, lon_0, FE, FN
_LAEA_EUROPE = (52.0, 10.0, 4_321_000.0, 3_210_000.0)


def _conformal_phi(chi: np.ndarray) -> np.ndarray:
    """Geodetic latitude from conformal latitude (Snyder 3-5 series) —
    shared by polar stereographic and Lambert conformal conic inverses."""
    e2 = _E2
    return (
        chi
        + (e2 / 2.0 + 5.0 * e2**2 / 24.0 + e2**3 / 12.0 + 13.0 * e2**4 / 360.0)
        * np.sin(2.0 * chi)
        + (7.0 * e2**2 / 48.0 + 29.0 * e2**3 / 240.0 + 811.0 * e2**4 / 11520.0)
        * np.sin(4.0 * chi)
        + (7.0 * e2**3 / 120.0 + 81.0 * e2**4 / 1120.0) * np.sin(6.0 * chi)
        + (4279.0 * e2**4 / 161280.0) * np.sin(8.0 * chi)
    )


def _m_ell(phi: np.ndarray) -> np.ndarray:
    """Snyder 14-15: radius of the parallel / a."""
    s = np.sin(phi)
    return np.cos(phi) / np.sqrt(1.0 - _E2 * s * s)


def _ps_t(phi: np.ndarray) -> np.ndarray:
    # Snyder 15-9 (north aspect): conformal-latitude half-angle tangent
    es = _E * np.sin(phi)
    return np.tan(np.pi / 4.0 - phi / 2.0) / ((1.0 - es) / (1.0 + es)) ** (_E / 2.0)


def _ps_consts(lat_ts_abs: float) -> tuple[float, float]:
    phi_f = math.radians(lat_ts_abs)
    t_f = float(_ps_t(np.array(phi_f)))
    m_f = math.cos(phi_f) / math.sqrt(1.0 - _E2 * math.sin(phi_f) ** 2)
    return t_f, m_f


def _ps_scale(lat_ts: float | None, k0: float | None) -> float:
    """rho = scale * t(phi) for the polar aspect: EPSG variant B scales
    by the standard parallel (Snyder 21-34, rho = a m_f t / t_f);
    variant A by the scale factor AT the pole (Snyder 21-39,
    rho = 2 a k0 t / sqrt((1+e)^(1+e) (1-e)^(1-e)))."""
    if lat_ts is not None and abs(lat_ts) != 90.0:
        t_f, m_f = _ps_consts(abs(lat_ts))
        return _WGS_A * m_f / t_f
    k = 1.0 if k0 is None else k0
    return 2.0 * _WGS_A * k / math.sqrt(
        (1.0 + _E) ** (1.0 + _E) * (1.0 - _E) ** (1.0 - _E)
    )


def _ps_fwd(lon, lat, lat_ts: float | None, lon0: float,
            fe: float = 0.0, fn: float = 0.0,
            k0: float | None = None, north: bool | None = None):
    if north is None:
        north = lat_ts >= 0.0  # EPSG-code path: hemisphere from lat_ts sign
    scale = _ps_scale(lat_ts, k0)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64) - lon0)
    if not north:
        phi = -phi
    rho = scale * _ps_t(phi)
    x = rho * np.sin(lam)
    y = -rho * np.cos(lam)
    return (x + fe, y + fn) if north else (x + fe, -y + fn)


def _ps_inv(x, y, lat_ts: float | None, lon0: float,
            fe: float = 0.0, fn: float = 0.0,
            k0: float | None = None, north: bool | None = None):
    if north is None:
        north = lat_ts >= 0.0
    scale = _ps_scale(lat_ts, k0)
    x = np.asarray(x, dtype=np.float64) - fe
    y = np.asarray(y, dtype=np.float64) - fn
    if not north:
        y = -y
    rho = np.hypot(x, y)
    t = rho / scale
    phi = _conformal_phi(np.pi / 2.0 - 2.0 * np.arctan(t))
    lam = np.arctan2(x, -y)
    # the pole itself (rho == 0) has undefined lon; pick lon0
    lam = np.where(rho == 0.0, 0.0, lam)
    lon = lon0 + np.degrees(lam)
    lat = np.degrees(phi)
    return (lon, lat) if north else (lon, -lat)


def _laea_q(phi: np.ndarray) -> np.ndarray:
    # Snyder 3-12: authalic-latitude auxiliary
    s = np.sin(phi)
    es = _E * s
    return (1.0 - _E2) * (
        s / (1.0 - _E2 * s * s) - np.log((1.0 - es) / (1.0 + es)) / (2.0 * _E)
    )


_LAEA_QP = float(_laea_q(np.array(math.pi / 2.0)))
_LAEA_RQ = _WGS_A * math.sqrt(_LAEA_QP / 2.0)


def _authalic_phi(beta: np.ndarray) -> np.ndarray:
    """Geodetic latitude from authalic latitude (Snyder 3-18 series) —
    shared by LAEA and Albers equal-area inverses."""
    e2 = _E2
    return (
        beta
        + (e2 / 3.0 + 31.0 * e2**2 / 180.0 + 517.0 * e2**3 / 5040.0) * np.sin(2.0 * beta)
        + (23.0 * e2**2 / 360.0 + 251.0 * e2**3 / 3780.0) * np.sin(4.0 * beta)
        + (761.0 * e2**3 / 45360.0) * np.sin(6.0 * beta)
    )


def _laea_fwd(lon, lat, lat0: float, lon0: float, fe: float, fn: float):
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64) - lon0)
    beta = np.arcsin(np.clip(_laea_q(phi) / _LAEA_QP, -1.0, 1.0))
    beta1 = math.asin(min(max(float(_laea_q(np.array(math.radians(lat0)))) / _LAEA_QP, -1.0), 1.0))
    sb1, cb1 = math.sin(beta1), math.cos(beta1)
    sb, cb = np.sin(beta), np.cos(beta)
    denom = 1.0 + sb1 * sb + cb1 * cb * np.cos(lam)
    b = _LAEA_RQ * np.sqrt(2.0 / denom)
    x = b * cb * np.sin(lam)
    y = b * (cb1 * sb - sb1 * cb * np.cos(lam))
    return x + fe, y + fn


def _laea_inv(x, y, lat0: float, lon0: float, fe: float, fn: float):
    xp = np.asarray(x, dtype=np.float64) - fe
    yp = np.asarray(y, dtype=np.float64) - fn
    beta1 = math.asin(min(max(float(_laea_q(np.array(math.radians(lat0)))) / _LAEA_QP, -1.0), 1.0))
    sb1, cb1 = math.sin(beta1), math.cos(beta1)
    rho = np.hypot(xp, yp)
    ce = 2.0 * np.arcsin(np.clip(rho / (2.0 * _LAEA_RQ), -1.0, 1.0))
    sce, cce = np.sin(ce), np.cos(ce)
    with np.errstate(divide="ignore", invalid="ignore"):
        beta = np.arcsin(np.clip(cce * sb1 + yp * sce * cb1 / rho, -1.0, 1.0))
        lam = np.arctan2(xp * sce, rho * cb1 * cce - yp * sb1 * sce)
    center = rho == 0.0
    beta = np.where(center, beta1, beta)
    lam = np.where(center, 0.0, lam)
    return lon0 + np.degrees(lam), np.degrees(_authalic_phi(beta))


# --- Lambert conformal conic (2SP), Albers equal-area, sinusoidal,
# --- equidistant cylindrical (round 5, continued) ---------------------------
# Closed-form ellipsoidal formulas, Snyder 1987: LCC eqs 14-15/15-7..
# 15-10 (inverse via the shared conformal-latitude series 3-5), Albers
# eqs 14-1..14-11 (inverse via the shared authalic series 3-18),
# sinusoidal eqs 30-8/30-9 (inverse via the rectifying series 3-26),
# equidistant cylindrical EPSG method 1028 with lat_ts=0.  EPSG
# shortcuts below; arbitrary parameterizations via proj strings
# ('+proj=lcc +lat_1=.. +lat_2=.. +lat_0=.. +lon_0=.. +x_0=.. +y_0=..',
# '+proj=aea ..', '+proj=sinu [+R=..]', '+proj=eqc').  The datum is
# always the WGS84/GRS80 ellipsoid (they differ by ~0.1 mm in b; the
# reference's rasterio would treat these grids identically at float32
# pixel scale).

# crs -> (lat_1, lat_2, lat_0, lon_0, FE, FN)
_LCC_PARAMS = {
    # RGF93 v1 / Lambert-93 (France)
    "EPSG:2154": (49.0, 44.0, 46.5, 3.0, 700_000.0, 6_600_000.0),
    # NAD83 / Statistics Canada Lambert
    "EPSG:3347": (49.0, 77.0, 63.390675, -91.8666666666667, 6_200_000.0, 3_000_000.0),
}

# crs -> (lat_1, lat_2, lat_0, lon_0, FE, FN)
_AEA_PARAMS = {
    # NAD83 / Conus Albers
    "EPSG:5070": (29.5, 45.5, 23.0, -96.0, 0.0, 0.0),
    # GDA94 / Australian Albers (southern-hemisphere cone, n < 0)
    "EPSG:3577": (-18.0, -36.0, 0.0, 132.0, 0.0, 0.0),
}


def _lcc_consts(lat1: float, lat2: float, lat0: float, k0: float = 1.0):
    p1, p2, p0 = (math.radians(v) for v in (lat1, lat2, lat0))
    m1 = float(_m_ell(np.array(p1)))
    m2 = float(_m_ell(np.array(p2)))
    t1 = float(_ps_t(np.array(p1)))
    t2 = float(_ps_t(np.array(p2)))
    t0 = float(_ps_t(np.array(p0)))
    n = math.log(m1 / m2) / math.log(t1 / t2) if lat1 != lat2 else math.sin(p1)
    # k0 != 1 is the 1SP form (EPSG method 9801 / Snyder 15-2: rho =
    # a F t^n k0); the 2SP form always has k0 = 1 (scale is pinned by
    # the two standard parallels instead)
    Fc = k0 * m1 / (n * t1**n)
    rho0 = _WGS_A * Fc * t0**n
    return n, Fc, rho0


def _lcc_fwd(lon, lat, lat1, lat2, lat0, lon0, fe, fn, k0=1.0):
    n, Fc, rho0 = _lcc_consts(lat1, lat2, lat0, k0)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    theta = n * np.radians(np.asarray(lon, dtype=np.float64) - lon0)
    rho = _WGS_A * Fc * _ps_t(phi) ** n
    return rho * np.sin(theta) + fe, rho0 - rho * np.cos(theta) + fn


def _lcc_inv(x, y, lat1, lat2, lat0, lon0, fe, fn, k0=1.0):
    n, Fc, rho0 = _lcc_consts(lat1, lat2, lat0, k0)
    xp = np.asarray(x, dtype=np.float64) - fe
    yp = rho0 - (np.asarray(y, dtype=np.float64) - fn)
    rho = np.sign(n) * np.hypot(xp, yp)
    # Snyder p.107: for n < 0 the signs of x', y', rho all flip
    theta = np.arctan2(np.sign(n) * xp, np.sign(n) * yp)
    with np.errstate(divide="ignore"):
        t = (rho / (_WGS_A * Fc)) ** (1.0 / n)
    phi = _conformal_phi(np.pi / 2.0 - 2.0 * np.arctan(t))
    phi = np.where(rho == 0.0, np.sign(n) * np.pi / 2.0, phi)
    return lon0 + np.degrees(theta / n), np.degrees(phi)


def _aea_consts(lat1: float, lat2: float, lat0: float):
    p1, p2, p0 = (math.radians(v) for v in (lat1, lat2, lat0))
    m1 = float(_m_ell(np.array(p1)))
    m2 = float(_m_ell(np.array(p2)))
    q1 = float(_laea_q(np.array(p1)))
    q2 = float(_laea_q(np.array(p2)))
    q0 = float(_laea_q(np.array(p0)))
    n = (m1**2 - m2**2) / (q2 - q1) if lat1 != lat2 else math.sin(p1)
    C = m1**2 + n * q1
    rho0 = _WGS_A * math.sqrt(C - n * q0) / n
    return n, C, rho0


def _aea_fwd(lon, lat, lat1, lat2, lat0, lon0, fe, fn):
    n, C, rho0 = _aea_consts(lat1, lat2, lat0)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    theta = n * np.radians(np.asarray(lon, dtype=np.float64) - lon0)
    rho = _WGS_A * np.sqrt(np.maximum(C - n * _laea_q(phi), 0.0)) / n
    return rho * np.sin(theta) + fe, rho0 - rho * np.cos(theta) + fn


def _aea_inv(x, y, lat1, lat2, lat0, lon0, fe, fn):
    n, C, rho0 = _aea_consts(lat1, lat2, lat0)
    xp = np.asarray(x, dtype=np.float64) - fe
    yp = rho0 - (np.asarray(y, dtype=np.float64) - fn)
    rho = np.hypot(xp, yp)
    theta = np.arctan2(np.sign(n) * xp, np.sign(n) * yp)
    q = (C - (rho * n / _WGS_A) ** 2) / n
    beta = np.arcsin(np.clip(q / _LAEA_QP, -1.0, 1.0))
    return lon0 + np.degrees(theta / n), np.degrees(_authalic_phi(beta))


def _sinu_fwd(lon, lat, lon0, fe, fn, R=None):
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64) - lon0)
    if R is not None:  # spherical variant (MODIS SIN grid, +R=6371007.181)
        return R * lam * np.cos(phi) + fe, R * phi + fn
    s = np.sin(phi)
    x = _WGS_A * lam * np.cos(phi) / np.sqrt(1.0 - _E2 * s * s)
    return x + fe, _meridian_arc(phi) + fn


def _sinu_inv(x, y, lon0, fe, fn, R=None):
    xp = np.asarray(x, dtype=np.float64) - fe
    yp = np.asarray(y, dtype=np.float64) - fn
    if R is not None:
        phi = yp / R
        with np.errstate(divide="ignore", invalid="ignore"):
            lam = xp / (R * np.cos(phi))
    else:
        phi = _phi_from_M(yp)
        s = np.sin(phi)
        with np.errstate(divide="ignore", invalid="ignore"):
            lam = xp * np.sqrt(1.0 - _E2 * s * s) / (_WGS_A * np.cos(phi))
    lam = np.where(np.abs(np.cos(phi)) < 1e-12, 0.0, lam)  # pole: undefined lon
    return lon0 + np.degrees(lam), np.degrees(phi)


def _eqc_nu1cos(lat_ts: float) -> float:
    # EPSG method 1028: x scales by nu(lat_ts)*cos(lat_ts)/a
    p = math.radians(lat_ts)
    return math.cos(p) / math.sqrt(1.0 - _E2 * math.sin(p) ** 2)


def _eqc_fwd(lon, lat, lon0, fe, fn, lat_ts: float = 0.0):
    # EPSG method 1028: x = nu1*cos(lat_ts)*lam, y = meridian arc
    lam = np.radians(np.asarray(lon, dtype=np.float64) - lon0)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    return _WGS_A * _eqc_nu1cos(lat_ts) * lam + fe, _meridian_arc(phi) + fn


def _eqc_inv(x, y, lon0, fe, fn, lat_ts: float = 0.0):
    lam = (np.asarray(x, dtype=np.float64) - fe) / (_WGS_A * _eqc_nu1cos(lat_ts))
    phi = _phi_from_M(np.asarray(y, dtype=np.float64) - fn)
    return lon0 + np.degrees(lam), np.degrees(phi)


def _merc_fwd(lon, lat, lon0, k0, fe, fn):
    """Ellipsoidal Mercator (EPSG methods 9804/9805; Snyder 7-6/7-7):
    y = -a k0 ln t(phi).  Distinct from the SPHERICAL web-mercator
    EPSG:3857 fast path.  k0 comes in resolved (variant B passes
    m(lat_ts), see _conic_args)."""
    lam = np.radians(np.asarray(lon, dtype=np.float64) - lon0)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    x = _WGS_A * k0 * lam + fe
    with np.errstate(divide="ignore"):
        y = -_WGS_A * k0 * np.log(_ps_t(phi)) + fn
    return x, y


def _merc_inv(x, y, lon0, k0, fe, fn):
    lam = (np.asarray(x, dtype=np.float64) - fe) / (_WGS_A * k0)
    t = np.exp(-(np.asarray(y, dtype=np.float64) - fn) / (_WGS_A * k0))
    phi = _conformal_phi(np.pi / 2.0 - 2.0 * np.arctan(t))
    return lon0 + np.degrees(lam), np.degrees(phi)


def _longlat_fwd(lon, lat):
    return np.asarray(lon, dtype=np.float64), np.asarray(lat, dtype=np.float64)


# named ellipsoids accepted by +ellps= for the sterea (double
# projection) family — (a, 1/f); every OTHER family stays WGS84-only.
# No datum SHIFT is applied anywhere: +ellps changes the surface the
# formulas run on, matching how the EPSG worked examples are stated.
_ELLPS = {
    "WGS84": (6378137.0, 298.257223563),
    "GRS80": (6378137.0, 298.257222101),
    "bessel": (6377397.155, 299.1528128),
    "intl": (6378388.0, 297.0),
    "clrk66": (6378206.4, 294.9786982),
}


def _sterea_consts(lat0: float, lon0: float, a: float, e2: float):
    """Conformal-sphere constants of the Oblique Stereographic double
    projection (EPSG method 9809; the 'Dutch'/Roussilhe method used by
    RD New): latitude maps ellipsoid -> conformal sphere -> plane."""
    e = math.sqrt(e2)
    phi0 = math.radians(lat0)
    s0 = math.sin(phi0)
    rho0 = a * (1.0 - e2) / (1.0 - e2 * s0 * s0) ** 1.5
    nu0 = a / math.sqrt(1.0 - e2 * s0 * s0)
    R = math.sqrt(rho0 * nu0)
    n = math.sqrt(1.0 + e2 * math.cos(phi0) ** 4 / (1.0 - e2))
    S1 = (1.0 + s0) / (1.0 - s0)
    S2 = (1.0 - e * s0) / (1.0 + e * s0)
    w1 = (S1 * S2**e) ** n
    sin_chi00 = (w1 - 1.0) / (w1 + 1.0)
    c = (n + s0) * (1.0 - sin_chi00) / ((n - s0) * (1.0 + sin_chi00))
    w2 = c * w1
    chi0 = math.asin((w2 - 1.0) / (w2 + 1.0))
    return R, n, c, chi0, math.radians(lon0)


def _sterea_chi(phi: np.ndarray, n: float, c: float, e: float) -> np.ndarray:
    s = np.sin(phi)
    Sa = (1.0 + s) / (1.0 - s)
    Sb = (1.0 - e * s) / (1.0 + e * s)
    w = c * (Sa * Sb**e) ** n
    return np.arcsin((w - 1.0) / (w + 1.0))


def _sterea_fwd(lon, lat, lat0: float, lon0: float, k0: float,
                fe: float, fn: float, a: float = _WGS_A, e2: float = _E2):
    R, n, c, chi0, lam0 = _sterea_consts(lat0, lon0, a, e2)
    e = math.sqrt(e2)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64))
    Lam = n * (lam - lam0) + lam0
    chi = _sterea_chi(phi, n, c, e)
    dl = Lam - lam0
    B = 1.0 + np.sin(chi) * math.sin(chi0) + np.cos(chi) * math.cos(chi0) * np.cos(dl)
    x = fe + 2.0 * R * k0 * np.cos(chi) * np.sin(dl) / B
    y = fn + 2.0 * R * k0 * (
        np.sin(chi) * math.cos(chi0) - np.cos(chi) * math.sin(chi0) * np.cos(dl)
    ) / B
    return x, y


def _sterea_inv(x, y, lat0: float, lon0: float, k0: float,
                fe: float, fn: float, a: float = _WGS_A, e2: float = _E2):
    R, n, c, chi0, lam0 = _sterea_consts(lat0, lon0, a, e2)
    e = math.sqrt(e2)
    xp = np.asarray(x, dtype=np.float64) - fe
    yp = np.asarray(y, dtype=np.float64) - fn
    g = 2.0 * R * k0 * math.tan(math.pi / 4.0 - chi0 / 2.0)
    h = 4.0 * R * k0 * math.tan(chi0) + g
    i = np.arctan2(xp, h + yp)
    j = np.arctan2(xp, g - yp) - i
    chi = chi0 + 2.0 * np.arctan((yp - xp * np.tan(j / 2.0)) / (2.0 * R * k0))
    Lam = j + 2.0 * i + lam0
    lam = (Lam - lam0) / n + lam0
    # conformal-sphere isometric latitude -> ellipsoidal latitude
    # (EPSG 9809 inverse): Newton iteration on the isometric latitude
    psi = np.log((1.0 + np.sin(chi)) / (c * (1.0 - np.sin(chi)))) / (2.0 * n)
    phi = 2.0 * np.arctan(np.exp(psi)) - np.pi / 2.0
    for _ in range(6):
        es = e * np.sin(phi)
        psi_i = np.log(np.tan(phi / 2.0 + np.pi / 4.0) * ((1.0 - es) / (1.0 + es)) ** (e / 2.0))
        phi = phi - (psi_i - psi) * np.cos(phi) * (1.0 - e2 * np.sin(phi) ** 2) / (1.0 - e2)
    return np.degrees(lam), np.degrees(phi)


def _proj_tokens(crs: str) -> dict[str, float] | None:
    """Parse '+k=v' tokens of a proj string for the conic/pseudocyl
    families; returns None if crs is not a proj string."""
    if not crs.startswith("+proj="):
        return None
    toks: dict[str, float] = {}
    for m in re.finditer(r"\+([a-zA-Z_0-9]+)(?:=([^\s]+))?", crs):
        k, v = m.group(1), m.group(2)
        if k == "proj":
            toks["__proj__"] = v  # type: ignore[assignment]
        elif v is not None:
            try:
                toks[k] = float(v)
            except ValueError:
                toks[k] = v  # type: ignore[assignment]  # e.g. +ellps=bessel
    return toks


def _ellps_args(toks: dict) -> tuple[float, float]:
    """(a, e2) from +ellps/+a/+rf tokens (sterea family only; default
    WGS84).  This selects the computation SURFACE — no datum shift."""
    name = toks.get("ellps", "WGS84")
    if name not in _ELLPS:
        raise ValueError(
            f"unknown +ellps={name!r} (known: {sorted(_ELLPS)}); "
            "or give +a= and +rf= explicitly"
        )
    a, rf = _ELLPS[name]
    a = float(toks.get("a", a))
    rf = float(toks.get("rf", rf))
    f = 1.0 / rf
    return a, f * (2.0 - f)


# EPSG shortcuts resolved to parameterized families (args match the
# corresponding _*_fwd/_*_inv signatures after (lon, lat | x, y))
_FAMILY_EPSG = {
    # WGS 84 / UPS North & South: polar stereographic VARIANT A
    # (k0=0.994 at the pole), FE=FN=2,000 km
    "EPSG:5041": ("stere", (None, 0.0, 2_000_000.0, 2_000_000.0, 0.994, True)),
    "EPSG:5042": ("stere", (None, 0.0, 2_000_000.0, 2_000_000.0, 0.994, False)),
    # WGS 84 / Arctic Polar Stereographic (variant B, lat_ts=71N)
    "EPSG:3995": ("stere", (71.0, 0.0, 0.0, 0.0, None, True)),
    # WGS 84 / Australian Antarctic Polar Stereographic (lat_ts=71S,
    # lon0=70E, FE=FN=6,000 km)
    "EPSG:3032": ("stere", (-71.0, 70.0, 6_000_000.0, 6_000_000.0, None, False)),
    # WGS 84 / World Mercator: ELLIPSOIDAL Mercator variant A, k0=1
    # (unlike the spherical web-mercator EPSG:3857 fast path)
    "EPSG:3395": ("merc", (0.0, 1.0, 0.0, 0.0)),
}


def _conic_args(crs: str) -> tuple[str, tuple] | None:
    """Resolve crs (EPSG shortcut or '+proj=' string with arbitrary
    parameters) to a (family, args) pair, or None if unrecognized."""
    if crs in _LCC_PARAMS:
        return "lcc", _LCC_PARAMS[crs]
    if crs in _AEA_PARAMS:
        return "aea", _AEA_PARAMS[crs]
    if crs in _FAMILY_EPSG:
        return _FAMILY_EPSG[crs]
    if crs == "ESRI:54008":  # World Sinusoidal (ellipsoidal)
        return "sinu", (0.0, 0.0, 0.0, None)
    if crs == "EPSG:4087":  # WGS 84 / World Equidistant Cylindrical
        return "eqc", (0.0, 0.0, 0.0)
    toks = _proj_tokens(crs)
    if toks is None:
        return None
    fam = toks.get("__proj__")
    lon0 = toks.get("lon_0", 0.0)
    fe, fn = toks.get("x_0", 0.0), toks.get("y_0", 0.0)
    if fam in ("lcc", "aea"):
        if "lat_1" not in toks:
            raise ValueError(f"proj string {crs!r} needs +lat_1")
        lat1 = toks["lat_1"]
        lat2 = toks.get("lat_2", lat1)
        base = (lat1, lat2, toks.get("lat_0", 0.0), lon0, fe, fn)
        if fam == "lcc":
            # +k_0 selects the 1SP form (EPSG 9801); 2SP ignores it
            return fam, base + (toks.get("k", toks.get("k_0", 1.0)),)
        return fam, base
    if fam == "sinu":
        return "sinu", (lon0, fe, fn, toks.get("R"))
    if fam == "eqc":
        return "eqc", (lon0, fe, fn, toks.get("lat_ts", 0.0))
    if fam == "laea":
        return "laea", (toks.get("lat_0", 0.0), lon0, fe, fn)
    if fam == "tmerc":
        return "tmerc", (lon0, toks.get("lat_0", 0.0), toks.get("k", toks.get("k_0", 1.0)), fe, fn)
    if fam == "merc":
        if "lat_ts" in toks:  # variant B: true scale at lat_ts
            k0 = _eqc_nu1cos(toks["lat_ts"])
        else:  # variant A: explicit scale at the natural origin
            k0 = toks.get("k", toks.get("k_0", 1.0))
        return "merc", (lon0, k0, fe, fn)
    if fam == "stere":
        lat0 = toks.get("lat_0", 90.0)
        if abs(lat0) != 90.0:
            raise ValueError(
                f"proj string {crs!r}: only POLAR stereographic is supported "
                "analytically (+lat_0=90 or +lat_0=-90); for oblique centers "
                "use +proj=sterea (the EPSG 9809 double projection)"
            )
        lat_ts = toks.get("lat_ts")
        k0 = toks.get("k", toks.get("k_0")) if lat_ts is None else None
        return "stere", (lat_ts, lon0, fe, fn, k0, lat0 > 0.0)
    if fam == "sterea":
        a_, e2_ = _ellps_args(toks)
        return "sterea", (
            toks.get("lat_0", 0.0), lon0,
            toks.get("k", toks.get("k_0", 1.0)), fe, fn, a_, e2_,
        )
    if fam in ("longlat", "latlong", "lonlat", "latlon"):
        return "longlat", ()
    return None


_CONIC_FWD = {
    "lcc": _lcc_fwd, "aea": _aea_fwd, "sinu": _sinu_fwd, "eqc": _eqc_fwd,
    "laea": _laea_fwd, "tmerc": _tmerc_fwd, "merc": _merc_fwd,
    "stere": _ps_fwd, "sterea": _sterea_fwd, "longlat": _longlat_fwd,
}
_CONIC_INV = {
    "lcc": _lcc_inv, "aea": _aea_inv, "sinu": _sinu_inv, "eqc": _eqc_inv,
    "laea": _laea_inv, "tmerc": _tmerc_inv, "merc": _merc_inv,
    "stere": _ps_inv, "sterea": _sterea_inv, "longlat": _longlat_fwd,
}

_CRS_SUPPORT_MSG = (
    "analytic warp supports EPSG:4326/3857/UTM, polar stereographic "
    "3413/3976/3031/3995/3032 + UPS 5041/5042, LAEA 3035, LCC 2154/3347, "
    "Albers 5070/3577, sinusoidal ESRI:54008, eqc EPSG:4087, Mercator "
    "EPSG:3395, and arbitrary-parameter "
    "+proj=utm/tmerc/lcc/aea/laea/stere(polar)/sterea/merc/sinu/eqc/longlat strings"
)


def _fwd(crs: str, lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    if crs == "EPSG:4326":
        return lon, lat
    if crs in _PS_PARAMS:
        return _ps_fwd(lon, lat, *_PS_PARAMS[crs])
    if crs == "EPSG:3035":
        return _laea_fwd(lon, lat, *_LAEA_EUROPE)
    if crs == "EPSG:3857":
        x = _R_MERC * np.radians(lon)
        y = _R_MERC * np.log(np.tan(np.pi / 4.0 + np.radians(lat) / 2.0))
        return x, y
    utm = _utm_params(crs)
    if utm is not None:
        return _utm_fwd(lon, lat, *utm)
    conic = _conic_args(crs)
    if conic is not None:
        return _CONIC_FWD[conic[0]](lon, lat, *conic[1])
    raise ValueError(f"unsupported CRS {crs} ({_CRS_SUPPORT_MSG})")


def _inv(crs: str, x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    if crs == "EPSG:4326":
        return x, y
    if crs in _PS_PARAMS:
        return _ps_inv(x, y, *_PS_PARAMS[crs])
    if crs == "EPSG:3035":
        return _laea_inv(x, y, *_LAEA_EUROPE)
    if crs == "EPSG:3857":
        lon = np.degrees(x / _R_MERC)
        lat = np.degrees(2.0 * np.arctan(np.exp(y / _R_MERC)) - np.pi / 2.0)
        return lon, lat
    utm = _utm_params(crs)
    if utm is not None:
        return _utm_inv(x, y, *utm)
    conic = _conic_args(crs)
    if conic is not None:
        return _CONIC_INV[conic[0]](x, y, *conic[1])
    raise ValueError(f"unsupported CRS {crs} ({_CRS_SUPPORT_MSG})")


def warp(
    dst_crs: str,
    resolution: float | tuple[float, float] | None = None,
    nodata: float = 0.0,
    target_transform: list | None = None,
    target_size: tuple[int, int] | None = None,
    resampling: str = "nearest",
) -> TransformFn:
    """Analytic reprojection with nearest (the reference's default
    resampling_method=0), bilinear (=1), cubic (=2, Catmull-Rom
    4x4 convolution, the Keys a=-0.5 kernel), lanczos (=4, separable
    windowed sinc with a=3, 6x6 taps, discrete weights renormalized)
    average (=5, center-binned downsampling mean with nearest fallback
    where no source center lands) or mode (=6, categorical majority
    vote, ties to the smallest value, integer rasters only) resampling
    — the most-used entries of the reference's GDAL resampling enum
    (raster.py:228).

    Default grid mirrors calculate_default_transform: the source bbox's
    corners are projected and the output keeps ~the source pixel count
    unless `resolution` overrides it; `target_transform`+`target_size`
    reproduce the reference's target_align (raster.py:235-238).

    Bilinear/cubic sample in pixel-CENTER coordinates (edge-replicated
    taps), compute in float64 and round back for integer dtypes; a
    destination pixel is valid when its source position lands inside
    the source extent (same validity rule as nearest).  Cubic is
    third-order accurate: it reproduces quadratic fields exactly,
    where bilinear provably steps (the golden test's criterion).
    """
    if resampling not in ("nearest", "bilinear", "cubic", "lanczos", "average", "mode"):
        raise ValueError(
            f"unsupported resampling {resampling!r} "
            "(nearest | bilinear | cubic | lanczos | average | mode)"
        )

    def t(arr: np.ndarray, meta: dict) -> tuple[np.ndarray, dict]:
        src_crs = meta["crs"]
        a, _, c, _, e, f_ = meta["transform"]
        h, w = arr.shape[-2], arr.shape[-1]
        # project the source bbox corners
        corner_lon = np.array([c, c + w * a, c + w * a, c])
        corner_lat = np.array([f_, f_, f_ + h * e, f_ + h * e])
        if src_crs != "EPSG:4326":
            corner_lon, corner_lat = _inv(src_crs, corner_lon, corner_lat)
        X, Y = _fwd(dst_crs, corner_lon, corner_lat)
        x0, x1 = float(X.min()), float(X.max())
        y0, y1 = float(Y.min()), float(Y.max())
        if target_transform is not None and target_size is not None:
            na, _, nc, _, ne, nf = target_transform
            W, H = target_size
        else:
            if resolution is None:
                na = (x1 - x0) / w
                ne = -(y1 - y0) / h
            else:
                rx, ry = (resolution, resolution) if np.isscalar(resolution) else resolution
                na, ne = float(rx), -float(ry)
            W = max(int(math.ceil((x1 - x0) / na)), 1)
            H = max(int(math.ceil((y1 - y0) / -ne)), 1)
            nc, nf = x0, y1
        # destination pixel centers -> source pixel indices (nearest)
        dx = nc + (np.arange(W) + 0.5) * na
        dy = nf + (np.arange(H) + 0.5) * ne
        gx, gy = np.meshgrid(dx, dy)
        lon, lat = _inv(dst_crs, gx, gy)
        if src_crs != "EPSG:4326":
            sx, sy = _fwd(src_crs, lon, lat)
        else:
            sx, sy = lon, lat
        col = np.floor((sx - c) / a).astype(np.int64)
        row = np.floor((sy - f_) / e).astype(np.int64)
        valid = (col >= 0) & (col < w) & (row >= 0) & (row < h)
        if resampling == "nearest":
            colc = np.clip(col, 0, w - 1)
            rowc = np.clip(row, 0, h - 1)
            out = arr[:, rowc, colc]
        elif resampling == "mode":
            # categorical majority vote (the reference's Resampling.mode
            # for class rasters): forward-map source centers like
            # 'average', then per-cell modal value via one np.unique
            # over packed (cell, value) keys; ties break to the
            # smallest value, empty cells fall back to nearest.
            # Integer dtypes only — a float 'class' raster is a bug.
            if not np.issubdtype(arr.dtype, np.integer):
                raise ValueError("mode resampling requires an integer raster")
            src_x = c + (np.arange(w) + 0.5) * a
            src_y = f_ + (np.arange(h) + 0.5) * e
            gsx, gsy = np.meshgrid(src_x, src_y)
            s_lon, s_lat = _inv(src_crs, gsx, gsy)
            if dst_crs != "EPSG:4326":
                dx_, dy_ = _fwd(dst_crs, s_lon, s_lat)
            else:
                dx_, dy_ = s_lon, s_lat
            dcol = np.floor((dx_ - nc) / na).astype(np.int64)
            drow = np.floor((dy_ - nf) / ne).astype(np.int64)
            inb = (dcol >= 0) & (dcol < W) & (drow >= 0) & (drow < H)
            flat = (drow * W + dcol)[inb]
            colc = np.clip(col, 0, w - 1)
            rowc = np.clip(row, 0, h - 1)
            out = np.empty((arr.shape[0], H, W), dtype=arr.dtype)
            info = np.iinfo(arr.dtype)
            for bi in range(arr.shape[0]):
                vals = arr[bi][inb].astype(np.int64) - int(info.min)  # >= 0
                span = int(vals.max()) + 1 if vals.size else 1
                keys, counts = np.unique(flat * span + vals, return_counts=True)
                cells = keys // span
                vs = keys % span
                # per cell: max count, ties -> smallest value.  Sort by
                # (cell, -count, value): unique output is already
                # value-ascending per cell, so a stable sort on -count
                # then taking each cell's first entry does it.
                order = np.lexsort((vs, -counts, cells))
                cells_o = cells[order]
                first = np.ones(cells_o.shape, dtype=bool)
                first[1:] = cells_o[1:] != cells_o[:-1]
                win_cells = cells_o[first]
                win_vals = (vs[order][first] + int(info.min)).astype(arr.dtype)
                plane = arr[bi, rowc, colc].copy()  # nearest fallback
                plane.ravel()[win_cells] = win_vals
                out[bi] = plane
        elif resampling == "average":
            # center-binned downsampling mean (the reference's
            # Resampling.average, raster.py:228, modulo GDAL's
            # area-weighting at cell boundaries): every SOURCE pixel
            # center forward-maps to one destination cell; per-cell
            # sums/counts accumulate via bincount (one C pass per
            # band).  Destination cells no source center lands in
            # (upscale regions) fall back to nearest — the bucket has
            # nothing to average.
            src_x = c + (np.arange(w) + 0.5) * a
            src_y = f_ + (np.arange(h) + 0.5) * e
            gsx, gsy = np.meshgrid(src_x, src_y)
            s_lon, s_lat = _inv(src_crs, gsx, gsy)
            if dst_crs != "EPSG:4326":
                dx_, dy_ = _fwd(dst_crs, s_lon, s_lat)
            else:
                dx_, dy_ = s_lon, s_lat
            dcol = np.floor((dx_ - nc) / na).astype(np.int64)
            drow = np.floor((dy_ - nf) / ne).astype(np.int64)
            inb = (dcol >= 0) & (dcol < W) & (drow >= 0) & (drow < H)
            flat = (drow * W + dcol)[inb]
            counts = np.bincount(flat, minlength=W * H).astype(np.float64)
            filled = counts > 0
            safe = np.maximum(counts, 1.0)
            colc = np.clip(col, 0, w - 1)
            rowc = np.clip(row, 0, h - 1)
            fsrc = arr.astype(np.float64, copy=False)
            interp = np.empty((arr.shape[0], H, W), dtype=np.float64)
            for bi in range(arr.shape[0]):
                sums = np.bincount(
                    flat, weights=fsrc[bi][inb], minlength=W * H
                )
                mean = (sums / safe).reshape(H, W)
                near = fsrc[bi, rowc, colc]
                interp[bi] = np.where(filled.reshape(H, W), mean, near)
            if np.issubdtype(arr.dtype, np.integer):
                info = np.iinfo(arr.dtype)
                interp = np.clip(np.rint(interp), info.min, info.max)
            out = interp.astype(arr.dtype)
        elif resampling == "bilinear":
            fx = (sx - c) / a - 0.5  # pixel-center coordinates
            fy = (sy - f_) / e - 0.5
            x0 = np.floor(fx).astype(np.int64)
            y0 = np.floor(fy).astype(np.int64)
            wx = fx - x0
            wy = fy - y0
            x0c = np.clip(x0, 0, w - 1)
            x1c = np.clip(x0 + 1, 0, w - 1)
            y0c = np.clip(y0, 0, h - 1)
            y1c = np.clip(y0 + 1, 0, h - 1)
            fsrc = arr.astype(np.float64, copy=False)
            interp = (
                fsrc[:, y0c, x0c] * ((1.0 - wx) * (1.0 - wy))[None, :, :]
                + fsrc[:, y0c, x1c] * (wx * (1.0 - wy))[None, :, :]
                + fsrc[:, y1c, x0c] * ((1.0 - wx) * wy)[None, :, :]
                + fsrc[:, y1c, x1c] * (wx * wy)[None, :, :]
            )
            if np.issubdtype(arr.dtype, np.integer):
                interp = np.rint(interp)
            out = interp.astype(arr.dtype)
        elif resampling == "cubic":  # separable Catmull-Rom (Keys a=-0.5), taps -1..2
            fx = (sx - c) / a - 0.5
            fy = (sy - f_) / e - 0.5
            x0 = np.floor(fx).astype(np.int64)
            y0 = np.floor(fy).astype(np.int64)
            tx = fx - x0
            ty = fy - y0

            def _cr_weights(t: np.ndarray) -> list[np.ndarray]:
                t2 = t * t
                t3 = t2 * t
                return [
                    -0.5 * t3 + t2 - 0.5 * t,
                    1.5 * t3 - 2.5 * t2 + 1.0,
                    -1.5 * t3 + 2.0 * t2 + 0.5 * t,
                    0.5 * t3 - 0.5 * t2,
                ]

            wxs = _cr_weights(tx)
            wys = _cr_weights(ty)
            xc = [np.clip(x0 + k - 1, 0, w - 1) for k in range(4)]
            yc = [np.clip(y0 + k - 1, 0, h - 1) for k in range(4)]
            fsrc = arr.astype(np.float64, copy=False)
            interp = np.zeros((arr.shape[0],) + fx.shape, dtype=np.float64)
            for i in range(4):  # rows
                row_acc = np.zeros_like(interp)
                for j in range(4):  # cols
                    row_acc += fsrc[:, yc[i], xc[j]] * wxs[j][None, :, :]
                interp += row_acc * wys[i][None, :, :]
            if np.issubdtype(arr.dtype, np.integer):
                info = np.iinfo(arr.dtype)
                interp = np.clip(np.rint(interp), info.min, info.max)
            out = interp.astype(arr.dtype)
        else:  # lanczos: separable windowed sinc, a=3, taps -2..3
            # (the reference's Resampling.lanczos, raster.py:228); the
            # discrete 6-tap weights are renormalized to sum 1 per
            # sample position, GDAL-style, so constant fields survive
            # exactly and DC gain is 1 everywhere between taps
            fx = (sx - c) / a - 0.5
            fy = (sy - f_) / e - 0.5
            x0 = np.floor(fx).astype(np.int64)
            y0 = np.floor(fy).astype(np.int64)
            tx = fx - x0
            ty = fy - y0

            def _lanczos_weights(t: np.ndarray) -> list[np.ndarray]:
                ws = []
                for k in range(6):
                    x = t - (k - 2)  # in (-3, 3)
                    ws.append(np.sinc(x) * np.sinc(x / 3.0))
                s = sum(ws)
                return [wk / s for wk in ws]

            wxs = _lanczos_weights(tx)
            wys = _lanczos_weights(ty)
            xc = [np.clip(x0 + k - 2, 0, w - 1) for k in range(6)]
            yc = [np.clip(y0 + k - 2, 0, h - 1) for k in range(6)]
            fsrc = arr.astype(np.float64, copy=False)
            interp = np.zeros((arr.shape[0],) + fx.shape, dtype=np.float64)
            for i in range(6):
                row_acc = np.zeros_like(interp)
                for j in range(6):
                    row_acc += fsrc[:, yc[i], xc[j]] * wxs[j][None, :, :]
                interp += row_acc * wys[i][None, :, :]
            if np.issubdtype(arr.dtype, np.integer):
                info = np.iinfo(arr.dtype)
                interp = np.clip(np.rint(interp), info.min, info.max)
            out = interp.astype(arr.dtype)
        out = np.where(valid[None, :, :], out, np.asarray(nodata, dtype=arr.dtype))
        meta = dict(meta, crs=dst_crs, transform=[na, 0.0, nc, 0.0, ne, nf], nodata=nodata)
        return np.ascontiguousarray(out), meta

    return t
