"""Arrow-native emitter for image-row stages (the `_TileBuf` pattern of
operators/tiling.py applied to the full images schema).

Every payload-emitting stage used to build per-row dicts with Python
``bytes`` payloads into pandas object columns inside ``mapInPandas`` —
pandas block assembly plus one bytes object per image was the dominant
constant on pixel-emitting pipelines (removing it took tile_pixels from
22 s to ~5 s).  This module gives apply_transforms / dn2toa /
cast_images the same treatment:

- the stage runs as ``mapInArrow``;
- each output payload is appended as (header, body) uint8 chunks into a
  shared buffer; one contiguous ``values`` buffer + an int32 offsets
  cumsum becomes the Arrow binary column directly (zero per-row bytes
  objects, and for fmt='raw' zero payload copies before the flush);
- the small metadata columns ride as plain Python lists -> pa.array
  (one value per IMAGE, negligible next to the payload).

Flushes are bounded by payload bytes, independent of the input batch
size, so worker memory stays flat however large the images are.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ukis_pysat_spark import codec

# column order is the engine's images schema (datagen.IMAGES_SCHEMA /
# transforms.IMAGES_OUT_SCHEMA); 'bytes' is the payload column
META_COLS = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash",
             "bands", "dtype", "crs", "transform", "nodata",
             "footprint_lon", "footprint_lat", "platform"]

IMAGES_OUT_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, bands int, dtype string, crs string, "
    "transform array<double>, nodata double, "
    "footprint_lon array<double>, footprint_lat array<double>, "
    "platform string"
)

_PA_TYPES = {
    "image_id": pa.string(),
    "w": pa.int32(),
    "h": pa.int32(),
    "fmt": pa.string(),
    "caption": pa.string(),
    "phash": pa.int64(),
    "bands": pa.int32(),
    "dtype": pa.string(),
    "crs": pa.string(),
    "transform": pa.list_(pa.float64()),
    "nodata": pa.float64(),
    "footprint_lon": pa.list_(pa.float64()),
    "footprint_lat": pa.list_(pa.float64()),
    "platform": pa.string(),
}

# full images-schema field list, 'bytes' the payload
_IMAGES_FIELDS = [("image_id", pa.string()), ("bytes", pa.binary())] + [
    (n, _PA_TYPES[n]) for n in META_COLS[2:]
]


class PayloadBuf:
    """Accumulates rows of an arbitrary (meta..., one binary payload)
    schema; flushes ONE RecordBatch whose payload column is built from
    (offsets, values) buffers — zero per-row bytes objects.

    `fields` is the full output field list in order, as (name, pyarrow
    type) pairs; exactly one field named `payload_name` is the binary
    payload column (its declared type is ignored — it is always
    pa.binary())."""

    def __init__(self, fields, payload_name: str = "bytes") -> None:
        self.fields = list(fields)
        self.payload_name = payload_name
        self.types = {n: t for n, t in self.fields}
        self.meta: dict[str, list] = {
            n: [] for n, _ in self.fields if n != payload_name
        }
        self.schema = pa.schema(
            [(n, pa.binary() if n == payload_name else t) for n, t in self.fields]
        )
        self.chunks: list[np.ndarray] = []  # header/body uint8 chunks
        self.sizes: list[int] = []  # total payload bytes per row
        self.n = 0
        self.nbytes = 0

    def add(self, d: dict, header: bytes, body: np.ndarray) -> None:
        for k in self.meta:
            self.meta[k].append(d[k])
        self.chunks.append(np.frombuffer(header, dtype=np.uint8))
        self.chunks.append(body)
        size = len(header) + body.nbytes
        self.sizes.append(size)
        self.n += 1
        self.nbytes += size

    def flush(self) -> pa.RecordBatch:
        if self.nbytes >= (1 << 31):  # pa.binary() carries int32 offsets
            raise ValueError(
                "image batch exceeds 2 GiB of payload; lower flush_bytes "
                "(a single image's payload must fit one batch)"
            )
        offsets = np.empty(self.n + 1, dtype=np.int32)
        offsets[0] = 0
        np.cumsum(np.asarray(self.sizes, dtype=np.int64), out=offsets[1:])
        values = np.concatenate(self.chunks) if self.chunks else np.empty(0, np.uint8)
        px = pa.Array.from_buffers(
            pa.binary(), self.n, [None, pa.py_buffer(offsets), pa.py_buffer(values)]
        )
        arrays = [
            px if n == self.payload_name else pa.array(self.meta[n], type=self.types[n])
            for n, _ in self.fields
        ]
        return pa.RecordBatch.from_arrays(arrays, schema=self.schema)


# row_fn contract: dict (python values; 'bytes' is a buffer-protocol
# object) -> (meta dict WITHOUT payload, pixel array, fmt string)
RowFn = Callable[[dict], tuple[dict, np.ndarray, str]]


def map_image_rows(
    images: DataFrame,
    in_cols: list[str],
    row_fn: RowFn,
    flush_bytes: int = 64 << 20,
) -> DataFrame:
    """Run `row_fn` over every image row and emit images-schema rows
    through the Arrow-native buffer (one decode + one encode per row,
    no pandas in the loop) — `flat_map_payload_rows` with one output
    row per input row."""
    return flat_map_payload_rows(
        images, in_cols, lambda row: (row_fn(row),), _IMAGES_FIELDS,
        flush_bytes=flush_bytes,
    )


_DDL_OF_PA = {
    pa.string(): "string",
    pa.binary(): "binary",
    pa.int32(): "int",
    pa.int64(): "long",
    pa.float32(): "float",
    pa.float64(): "double",
    pa.list_(pa.float64()): "array<double>",
}


def _ddl(fields) -> str:
    return ", ".join(f"{n} {_DDL_OF_PA[t]}" for n, t in fields)


# rows_fn contract: dict (python values; 'bytes' is a buffer-protocol
# object) -> iterable of (meta dict WITHOUT payload, pixel array, fmt)
# — zero, one, or many output rows per input row (flatMap).
RowsFn = Callable[[dict], "Iterator[tuple[dict, np.ndarray, str]]"]


def flat_map_payload_rows(
    images: DataFrame,
    in_cols: list[str],
    rows_fn: RowsFn,
    fields: list,
    payload_name: str = "bytes",
    flush_bytes: int = 64 << 20,
    in_payload: str | None = None,
) -> DataFrame:
    """Generalized Arrow-native emitter: run `rows_fn` over every input
    row (1 -> N output rows) and emit rows of the caller-declared
    (meta..., payload binary) schema through a PayloadBuf — same
    zero-per-row-bytes discipline as map_image_rows, with flushes
    bounded by payload size, not input batch size.

    `in_payload` names the INPUT payload column handed to `rows_fn` as a
    zero-copy buffer view; it defaults to `payload_name` so a caller that
    renames the payload column keeps the no-bytes-objects path on input
    too (pass explicitly when input and output payload names differ)."""
    fields = [(n, t) for n, t in fields]
    src = payload_name if in_payload is None else in_payload

    def emit(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        buf = PayloadBuf(fields, payload_name)
        for batch in batches:
            names = [n for n in batch.schema.names if n != src]
            lists = [batch.column(n).to_pylist() for n in names]
            payload = batch.column(src) if src in batch.schema.names else None
            for ri in range(batch.num_rows):
                row = {n: ls[ri] for n, ls in zip(names, lists)}
                if payload is not None:
                    row[src] = payload[ri].as_buffer()
                for d, arr, fmt in rows_fn(row):
                    header, body = codec.encode_chunks(arr, fmt)
                    buf.add(d, header, body)
                    if buf.nbytes >= flush_bytes:
                        yield buf.flush()
                        buf = PayloadBuf(fields, payload_name)
        if buf.n:
            yield buf.flush()

    return images.select(*in_cols).mapInArrow(emit, schema=_ddl(fields))
