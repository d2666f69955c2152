"""Sliding-window tiling — the engine's flatMap/explode.

Reproduces the reference's ``Image.get_tiles``/``get_subset`` semantics
(ukis_pysat/raster.py:485-519) exactly:

- offsets enumerate ``product(range(0, cols, width), range(0, rows,
  height))`` — **columns outer, rows inner**, so
  ``tile_id = col_idx * ceil(rows/height) + row_idx``;
- each window is ``(col_off-overlap, row_off-overlap, width+2*overlap,
  height+2*overlap)`` intersected with the full-array window, i.e.
  negative offsets clamp to 0 and edge windows shrink;
- bounds follow rasterio.windows.bounds (raster.py:515):
  ``left = c + col_off*a; top = f + row_off*e; right = left + tw*a;
  bottom = top + th*e`` for the GDAL affine (a,b,c,d,e,f).

Two physical strategies, chosen by what the query needs:

``tile_windows``   pure relational (sequence + posexplode + greatest/
                   least).  Window geometry only — **no pixel decode, no
                   Python** — whole-stage-codegen'd JVM expressions, and
                   the ``bytes`` column is never read (column pruning
                   reaches the parquet scan).  Use for counting, geometry,
                   and joining tiles spatially.

``tile_pixels``    Arrow-batched ``mapInArrow`` that decodes each image
                   once, slices every window from the in-memory array and
                   emits encoded tile payloads.  One decode per image per
                   stage (the reference instead re-materializes a GTiff
                   after every op, raster.py:189-213).

Golden invariants (reference tests/test_raster.py:362-375): a 679x764
image at (5,5,1) yields 20,808 windows; window 2578 = (79,649,7,7) with
bounds (11.903960582768779, 51.45624717410995, 11.904589403469808,
51.45687599481152).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from ukis_pysat_spark import codec

TILE_PIXELS_SCHEMA = (
    "image_id string, tile_id long, col_off int, row_off int, "
    "tw int, th int, left double, bottom double, right double, top double, "
    "px binary, caption string"
)


def _clip(off0: Column, full: Column, size: int, overlap: int) -> tuple[Column, Column]:
    """Intersection with the bounding window (raster.py:497-505)."""
    start = F.greatest(off0 - F.lit(overlap), F.lit(0))
    end = F.least(off0 - F.lit(overlap) + F.lit(size + 2 * overlap), full)
    return start, end - start


def tile_windows(
    images: DataFrame, width: int = 256, height: int = 256, overlap: int = 0
) -> DataFrame:
    """Relational tile-window enumeration (no pixel decode).

    Input needs columns (image_id, w, h, transform); output one row per
    window with deterministic tile_id matching the reference enumeration.
    """
    n_row_tiles = F.ceil(F.col("h") / F.lit(height)).cast("long")
    df = (
        images.select("image_id", "w", "h", "transform")
        .select(
            "image_id",
            "w",
            "h",
            "transform",
            n_row_tiles.alias("_nrt"),
            F.posexplode(F.sequence(F.lit(0), F.col("w") - 1, F.lit(width))).alias(
                "col_idx", "col_off0"
            ),
        )
        .select(
            "*",
            F.posexplode(F.sequence(F.lit(0), F.col("h") - 1, F.lit(height))).alias(
                "row_idx", "row_off0"
            ),
        )
    )
    col_off, tw = _clip(F.col("col_off0"), F.col("w"), width, overlap)
    row_off, th = _clip(F.col("row_off0"), F.col("h"), height, overlap)
    a = F.get("transform", 0)
    c = F.get("transform", 2)
    e = F.get("transform", 4)
    f = F.get("transform", 5)
    left = c + col_off.cast("double") * a
    top = f + row_off.cast("double") * e
    return df.select(
        "image_id",
        (F.col("col_idx").cast("long") * F.col("_nrt") + F.col("row_idx")).alias("tile_id"),
        col_off.cast("int").alias("col_off"),
        row_off.cast("int").alias("row_off"),
        tw.cast("int").alias("tw"),
        th.cast("int").alias("th"),
        left.alias("left"),
        (top + th.cast("double") * e).alias("bottom"),
        (left + tw.cast("double") * a).alias("right"),
        top.alias("top"),
    )


def enumerate_windows(w: int, h: int, width: int, height: int, overlap: int) -> np.ndarray:
    """numpy mirror of the window enumeration: rows of
    (tile_id, col_off, row_off, tw, th).  Used by the pixel path and by
    test oracles; must stay in lockstep with tile_windows()."""
    col_offs = np.arange(0, w, width, dtype=np.int64)
    row_offs = np.arange(0, h, height, dtype=np.int64)
    gx, gy = np.meshgrid(col_offs, row_offs, indexing="ij")  # cols outer
    co = gx.ravel()
    ro = gy.ravel()
    tile_id = np.arange(co.size, dtype=np.int64)
    c0 = np.maximum(co - overlap, 0)
    r0 = np.maximum(ro - overlap, 0)
    c1 = np.minimum(co - overlap + width + 2 * overlap, w)
    r1 = np.minimum(ro - overlap + height + 2 * overlap, h)
    return np.column_stack([tile_id, c0, r0, c1 - c0, r1 - r0])


_PA_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("tile_id", pa.int64()),
        ("col_off", pa.int32()),
        ("row_off", pa.int32()),
        ("tw", pa.int32()),
        ("th", pa.int32()),
        ("left", pa.float64()),
        ("bottom", pa.float64()),
        ("right", pa.float64()),
        ("top", pa.float64()),
        ("px", pa.binary()),
        ("caption", pa.string()),
    ]
)


class _TileBuf:
    """Accumulates per-shape-group column chunks and flushes them as ONE
    pyarrow RecordBatch with a native binary `px` array built directly
    from (offsets, values) buffers — no pandas block assembly, no Python
    bytes objects per tile."""

    def __init__(self):
        self.cols: dict[str, list[np.ndarray]] = {
            k: [] for k in ("tile_id", "col_off", "row_off", "tw", "th",
                            "left", "bottom", "right", "top")
        }
        self.ids: list[tuple[str, str, int]] = []  # (image_id, caption, n)
        self.px_values: list[np.ndarray] = []  # uint8 payload chunks
        # (n_tiles, bytes_per_tile) — bytes_per_tile is an int for the
        # uniform bulk path or an int64 array of per-tile lengths for
        # variable-size encodings (rawz/q8 payload sizes differ per tile)
        self.px_sizes: list[tuple[int, int | np.ndarray]] = []
        self.n = 0
        self.nbytes = 0

    def add(self, image_id, caption, chunk_cols, payload, n, sz):
        for k, v in chunk_cols.items():
            self.cols[k].append(v)
        self.ids.append((image_id, caption, n))
        self.px_values.append(payload)
        self.px_sizes.append((n, sz))
        self.n += n
        self.nbytes += payload.nbytes

    def flush(self) -> pa.RecordBatch:
        if self.nbytes >= (1 << 31):  # pa.binary() carries int32 offsets
            raise ValueError(
                "tile batch exceeds 2 GiB of payload; lower FLUSH_BYTES or "
                "tile size (a single image's tiles must fit one batch)"
            )
        lengths = np.concatenate(
            [
                sz if isinstance(sz, np.ndarray) else np.full(n, sz, dtype=np.int64)
                for n, sz in self.px_sizes
            ]
        )
        offsets = np.empty(self.n + 1, dtype=np.int32)
        offsets[0] = 0
        np.cumsum(lengths, out=offsets[1:])
        values = np.concatenate(self.px_values)
        px = pa.Array.from_buffers(
            pa.binary(), self.n, [None, pa.py_buffer(offsets), pa.py_buffer(values)]
        )
        ids = pa.array(
            np.repeat(
                np.array([i for i, _, _ in self.ids], dtype=object),
                [n for _, _, n in self.ids],
            ),
            type=pa.string(),
        )
        caps = pa.array(
            np.repeat(
                np.array([c for _, c, _ in self.ids], dtype=object),
                [n for _, _, n in self.ids],
            ),
            type=pa.string(),
        )
        arrs = [
            ids,
            pa.array(np.concatenate(self.cols["tile_id"])),
            pa.array(np.concatenate(self.cols["col_off"])),
            pa.array(np.concatenate(self.cols["row_off"])),
            pa.array(np.concatenate(self.cols["tw"])),
            pa.array(np.concatenate(self.cols["th"])),
            pa.array(np.concatenate(self.cols["left"])),
            pa.array(np.concatenate(self.cols["bottom"])),
            pa.array(np.concatenate(self.cols["right"])),
            pa.array(np.concatenate(self.cols["top"])),
            px,
            caps,
        ]
        return pa.RecordBatch.from_arrays(arrs, schema=_PA_SCHEMA)


def tile_pixels(
    images: DataFrame,
    width: int = 256,
    height: int = 256,
    overlap: int = 0,
    band: int | None = None,
    out_fmt: str = "raw",
) -> DataFrame:
    """Pixel-emitting tiling: decode once per image, slice every window,
    emit encoded tile payloads.

    Physical strategy: ``mapInArrow`` — tile payloads are written into
    ONE contiguous uint8 buffer per (image, window-shape) group (header
    broadcast + strided body copy, zero per-tile Python) and exposed to
    Arrow as a binary array over that buffer.  The pandas object-column
    path this replaced spent most of its wall clock on block assembly
    and per-tile bytes objects.

    band=None keeps all bands; band=k extracts a single band like the
    reference's get_subset(tile, band) (raster.py:507-519).
    """

    # memory bound: yield accumulated tile rows once they exceed this
    # many payload bytes, independent of the Arrow input batch size
    FLUSH_BYTES = 32 << 20

    def encode_group(arr, sub, th, tw, bands, dt):
        """(n, header+body) uint8 matrix for one window-shape group."""
        view = np.lib.stride_tricks.sliding_window_view(arr, (th, tw), axis=(1, 2))
        block = view[:, sub[:, 2], sub[:, 1]]  # (bands, n, th, tw)
        block = block.transpose(1, 0, 2, 3).astype(dt, copy=False)
        n = sub.shape[0]
        if out_fmt == "raw":
            header = codec.make_header("raw", str(arr.dtype.name), bands, th, tw)
            hlen = len(header)
            sz = bands * th * tw * dt.itemsize
            out = np.empty((n, hlen + sz), dtype=np.uint8)
            out[:, :hlen] = np.frombuffer(header, dtype=np.uint8)
            out[:, hlen:] = np.ascontiguousarray(block).view(np.uint8).reshape(n, sz)
            return out.reshape(-1), n, hlen + sz
        # compressed/lossy formats (rawz/q8): per-tile encode.  Payload
        # sizes differ per tile in practice, so the buffer carries the
        # actual per-tile lengths — flush() builds the binary offsets
        # from their cumsum (uniform sizes collapse to the scalar form).
        bufs = [codec.encode(np.ascontiguousarray(block[j]), out_fmt) for j in range(n)]
        sizes = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=n)
        payload = np.frombuffer(b"".join(bufs), dtype=np.uint8)
        if n and (sizes == sizes[0]).all():
            return payload, n, int(sizes[0])
        return payload, n, sizes

    def emit(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        buf = _TileBuf()
        for batch in batches:
            col_bytes = batch.column("bytes")
            col_id = batch.column("image_id")
            col_cap = batch.column("caption")
            col_w = batch.column("w").to_numpy(zero_copy_only=False)
            col_h = batch.column("h").to_numpy(zero_copy_only=False)
            col_t = batch.column("transform")
            for ri in range(batch.num_rows):
                arr = codec.decode(col_bytes[ri].as_buffer())
                t = col_t[ri].as_py()
                a, _, c, _, e, f = t[0], t[1], t[2], t[3], t[4], t[5]
                wins = enumerate_windows(int(col_w[ri]), int(col_h[ri]), width, height, overlap)
                src = arr if band is None else arr[band : band + 1]
                bands = src.shape[0]
                dt = src.dtype.newbyteorder("<")
                # group windows by clipped shape (at most 4 groups)
                shape_key = wins[:, 4] * np.int64(1 << 32) + wins[:, 3]
                order = np.argsort(shape_key, kind="stable")
                wins = wins[order]
                shape_key = shape_key[order]
                starts = np.flatnonzero(np.r_[True, shape_key[1:] != shape_key[:-1]])
                ends = np.r_[starts[1:], wins.shape[0]]
                image_id = col_id[ri].as_py()
                caption = col_cap[ri].as_py()
                for s, epos in zip(starts, ends):
                    sub = wins[s:epos]
                    th, tw = int(sub[0, 4]), int(sub[0, 3])
                    payload, n, sz = encode_group(src, sub, th, tw, bands, dt)
                    left = c + sub[:, 1] * a
                    top = f + sub[:, 2] * e
                    buf.add(
                        image_id,
                        caption,
                        {
                            "tile_id": sub[:, 0],
                            "col_off": sub[:, 1].astype(np.int32),
                            "row_off": sub[:, 2].astype(np.int32),
                            "tw": sub[:, 3].astype(np.int32),
                            "th": sub[:, 4].astype(np.int32),
                            "left": left,
                            "bottom": top + sub[:, 4] * e,
                            "right": left + sub[:, 3] * a,
                            "top": top,
                        },
                        payload,
                        n,
                        sz,
                    )
                if buf.nbytes >= FLUSH_BYTES:
                    yield buf.flush()
                    buf = _TileBuf()
        if buf.n:
            yield buf.flush()

    cols = ["image_id", "bytes", "w", "h", "transform", "caption"]
    return images.select(*cols).mapInArrow(emit, schema=TILE_PIXELS_SCHEMA)
