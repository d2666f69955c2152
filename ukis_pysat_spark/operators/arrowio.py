"""The JVM<->Python Arrow boundary of every per-image stage, and of the
sources, sinks and generators: raster blobs become images rows in
``sinks.from_geotiff`` (the stage under ``sources/geotiff.ingest_geotiffs``),
``sources/ingest``'s scene listing and manifest, MTL/MTD and annotation
parsers are ``map_rows`` stages, and so is the GeoTIFF file sink
(``sinks.write_geotiff_files``), which encodes and writes each file in
one row function.  ``datagen``'s generators are ``map_rows`` stages over
``spark.range``.  The batch engine's only other Python nodes are the
Arrow UDFs of the sketch joins (dedup's MinHash bands, similarity's LSH
and IVF buckets).

A stage hands its input columns, a per-row function and its output
``pa.schema`` to one of two emitters; the Spark schema is derived from
that ``pa.schema`` (``from_arrow_schema``), so each stage declares its
output once.  Both emitters run as ONE ``mapInArrow`` and walk the
input through the same row iterator (`_rows`):

- every binary column (image payloads, GeoTIFF blobs, packed masks)
  reaches the row function as a zero-copy ``pa.Buffer`` view — no
  per-row Python ``bytes`` copies; every other column is a Python value;
- ``map_rows`` is the scalar-row emitter: each row returns a dict of
  equal-length output columns (lists or numpy arrays; numpy chunks
  concatenate with numpy), and one RecordBatch leaves per input batch;
- ``flat_map_payload_rows`` is the payload emitter: each row yields
  (meta dict, pixel array, fmt) output rows whose encoded payload is
  appended as (header, body) uint8 chunks into a `PayloadBuf`; one
  contiguous ``values`` buffer + an int32 offsets cumsum becomes the
  ``bytes`` column directly.  Flushes are bounded by payload bytes, not
  by the input batch size, so worker memory stays flat however large
  the images are.

Stages that keep state across a whole batch or flush on their own rule
(tiling's ``_TileBuf``, the zonal/rasterize AOI-list view, pointsample,
pixels, the halo stages) keep their own loops.

The images and metadata tables' schemas are declared here once, in
Arrow; ``datagen`` derives their Spark forms.
"""

from __future__ import annotations

from itertools import chain
from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema

from ukis_pysat_spark import codec

# The Arrow forms of the engine's images and metadata tables, declared
# once: datagen derives their Spark forms (``datagen.IMAGES_SCHEMA``,
# ``datagen.METADATA_SCHEMA``) with ``from_arrow_schema``.  'bytes' is
# the images payload.
IMAGES_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
        ("bands", pa.int32()),
        ("dtype", pa.string()),
        ("crs", pa.string()),
        ("transform", pa.list_(pa.float64())),
        ("nodata", pa.float64()),
        ("footprint_lon", pa.list_(pa.float64())),
        ("footprint_lat", pa.list_(pa.float64())),
        ("platform", pa.string()),
    ]
)

_F64S = pa.list_(pa.float64())
METADATA_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("platform", pa.string()),
        ("sun_elevation", pa.float64()),
        ("mult_reflectance", _F64S),
        ("add_reflectance", _F64S),
        ("mult_radiance", _F64S),
        ("add_radiance", _F64S),
        ("k1", _F64S),
        ("k2", _F64S),
        ("quantification_value", pa.float64()),
        ("radio_add_offset", _F64S),
        ("processing_baseline", pa.float64()),
        ("thermal_band_idx", pa.list_(pa.int32())),
    ]
)

META_COLS = IMAGES_SCHEMA.names

# payload bytes per emitted RecordBatch: bounds worker memory, and stays
# far below the 2 GiB that pa.binary()'s int32 offsets can address
_FLUSH_BYTES = 64 << 20


class PayloadBuf:
    """Accumulates rows of a (meta..., ``bytes`` binary payload) schema;
    flushes ONE RecordBatch whose payload column is built from
    (offsets, values) buffers — zero per-row bytes objects.

    `schema` is the output ``pa.schema`` (or its (name, type) pairs)."""

    def __init__(self, schema) -> None:
        self.schema = pa.schema(schema)
        self.meta: dict[str, list] = {n: [] for n in self.schema.names if n != "bytes"}
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
                "image batch exceeds 2 GiB of payload (a single image's "
                "payload must fit one batch)"
            )
        offsets = np.empty(self.n + 1, dtype=np.int32)
        offsets[0] = 0
        np.cumsum(np.asarray(self.sizes, dtype=np.int64), out=offsets[1:])
        values = np.concatenate(self.chunks) if self.chunks else np.empty(0, np.uint8)
        px = pa.Array.from_buffers(
            pa.binary(), self.n, [None, pa.py_buffer(offsets), pa.py_buffer(values)]
        )
        arrays = [
            px if f.name == "bytes" else pa.array(self.meta[f.name], type=f.type)
            for f in self.schema
        ]
        return pa.RecordBatch.from_arrays(arrays, schema=self.schema)


def _rows(batch: pa.RecordBatch) -> Iterator[dict]:
    """One dict per row of `batch`: binary columns as zero-copy buffer
    views (None for a null), every other column as Python values."""
    binary = [n for n, t in zip(batch.schema.names, batch.schema.types) if t == pa.binary()]
    lists = {n: batch.column(n).to_pylist() for n in batch.schema.names if n not in binary}
    views = {n: batch.column(n) for n in binary}
    for ri in range(batch.num_rows):
        row = {n: ls[ri] for n, ls in lists.items()}
        for n, col in views.items():
            row[n] = col[ri].as_buffer()
        yield row


def _column(chunks: list, type_: pa.DataType) -> pa.Array:
    if chunks and isinstance(chunks[0], np.ndarray):
        return pa.array(np.concatenate(chunks), type=type_)
    return pa.array(list(chain.from_iterable(chunks)), type=type_)


# rows_fn contract: row dict (see _rows) -> {output column: equal-length
# list or numpy array} for this row's output rows, or None for none
RowsFn = Callable[[dict], "dict | None"]


def map_rows(
    df: DataFrame, in_cols: list[str], rows_fn: RowsFn, schema: pa.Schema
) -> DataFrame:
    """Run `rows_fn` over every row of `df.select(*in_cols)` and emit
    the rows it returns, with output `schema`, as one RecordBatch per
    input batch."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            outs = [o for o in map(rows_fn, _rows(batch)) if o is not None]
            arrays = [_column([o[f.name] for o in outs], f.type) for f in schema]
            if arrays and len(arrays[0]):
                yield pa.RecordBatch.from_arrays(arrays, schema=schema)

    return df.select(*in_cols).mapInArrow(run, schema=from_arrow_schema(schema))


# payload rows_fn contract: row dict (see _rows) -> iterable of
# (meta dict WITHOUT payload, pixel array, fmt) — zero, one, or many
# output rows per input row (flatMap).
PayloadRowsFn = Callable[[dict], "Iterator[tuple[dict, np.ndarray, str]]"]


def flat_map_payload_rows(
    df: DataFrame, in_cols: list[str], rows_fn: PayloadRowsFn, schema
) -> DataFrame:
    """Run `rows_fn` over every row of `df.select(*in_cols)` (1 -> N
    output rows) and emit rows of `schema` — a (meta..., ``bytes``
    binary) ``pa.schema`` or its (name, type) pairs — through a
    PayloadBuf, flushed every `_FLUSH_BYTES` of payload."""
    schema = pa.schema(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        buf = PayloadBuf(schema)
        for batch in batches:
            for row in _rows(batch):
                for d, arr, fmt in rows_fn(row):
                    header, body = codec.encode_chunks(arr, fmt)
                    buf.add(d, header, body)
                    if buf.nbytes >= _FLUSH_BYTES:
                        yield buf.flush()
                        buf = PayloadBuf(schema)
        if buf.n:
            yield buf.flush()

    return df.select(*in_cols).mapInArrow(run, schema=from_arrow_schema(schema))


def map_image_rows(
    images: DataFrame,
    in_cols: list[str],
    row_fn: Callable[[dict], tuple[dict, np.ndarray, str]],
) -> DataFrame:
    """`flat_map_payload_rows` with one images-schema output row per
    input row: `row_fn` returns (meta dict WITHOUT payload, pixel array,
    fmt)."""
    return flat_map_payload_rows(
        images, in_cols, lambda row: (row_fn(row),), IMAGES_SCHEMA
    )
