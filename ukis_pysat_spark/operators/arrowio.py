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

Input side: a stage that walks rows reads them through one row
iterator (`_rows`): every binary column (image payloads, GeoTIFF blobs,
packed masks) reaches the row function as a zero-copy ``pa.Buffer``
view — no per-row Python ``bytes`` copies; every other column is a
Python value.

Output side: every Python stage builds its output batches through ONE
buffer, `PayloadBuf`, under one flush rule (`emit`): a batch leaves
when its payload reaches 64 MiB or its rows reach 2^20, so worker
memory stays flat however large the images are.  A stage hands the
buffer groups of n rows; per column a scalar (one value over the n
rows), a list, a numpy array or a ``pa.Array``; and for the schema's
binary payload column either one (header, body) pair per row or one
uint8 buffer with per-row sizes (tiling's window-shape groups).  The
payload column is one contiguous ``values`` buffer plus an int32
offsets cumsum.  Each stage declares its output ``pa.schema`` once;
the Spark schema is derived from it (``from_arrow_schema``).

- ``map_rows``: each row returns a dict of equal-length output columns
  (lists or numpy arrays); at most one batch leaves per input batch;
- ``map_groups``: each row yields output groups (tiling, to_pixels,
  mosaic's contributions), one buffer per task;
- ``flat_map_payload_rows``: each row yields (meta dict, pixel array,
  fmt) output rows whose pixels are encoded into the payload column;
- ``emit``: the stages that read whole input columns at once (the
  zonal/rasterize AOI-list view, pointsample's folded points) or emit
  per ``applyInArrow`` group (timeseries, mosaic's stack) feed it their
  groups directly.

The images and metadata tables' schemas are declared here once, in
Arrow; ``datagen`` derives their Spark forms.
"""

from __future__ import annotations

from itertools import chain, groupby
from operator import itemgetter
from typing import Callable, Iterable, Iterator

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

# the one flush rule of every Python output stage: a batch leaves when
# its payload reaches _FLUSH_BYTES (bounds worker memory, and stays far
# below the 2 GiB that pa.binary()'s int32 offsets address) or its rows
# reach _FLUSH_ROWS
_FLUSH_BYTES = 64 << 20
_FLUSH_ROWS = 1 << 20


def _kind(chunk) -> int:
    """0: a scalar, one value over its group's rows; 1: a list, tuple or
    numpy array of the group's values; 2: a ``pa.Array`` of them."""
    if isinstance(chunk, (list, tuple, np.ndarray)):
        return 1
    return 2 if isinstance(chunk, pa.Array) else 0


def _column(chunks: list, ns: list[int], type_: pa.DataType) -> pa.Array:
    """One output column from its per-group chunks; ``ns`` holds the
    groups' row counts.  Each run of chunks of one kind becomes one
    array: scalars take over their values (one string over n rows costs
    an index array, not n Python references), lists and numpy arrays
    concatenate, ``pa.Array`` chunks pass through."""
    parts = []
    for kind, run in groupby(zip(map(_kind, chunks), chunks, ns), key=itemgetter(0)):
        _, vals, reps = zip(*run)
        if kind == 0:
            arr = pa.array(vals, type=type_)
            if any(r != 1 for r in reps):
                arr = arr.take(pa.array(np.repeat(np.arange(len(vals)), reps)))
            parts.append(arr)
        elif kind == 2:
            parts.extend(vals)
        elif all(isinstance(v, np.ndarray) for v in vals):
            parts.append(pa.array(np.concatenate(vals), type=type_))
        else:
            parts.append(pa.array(list(chain.from_iterable(vals)), type=type_))
    if len(parts) == 1:
        return parts[0]
    return pa.concat_arrays(parts) if parts else pa.array([], type=type_)


class PayloadBuf:
    """The package's one output buffer: accumulates groups of rows of
    `schema` (a ``pa.schema`` or its (name, type) pairs) and flushes
    them as ONE RecordBatch.

    The schema's first binary column is its payload column.  A group
    may fill it through `add`'s ``payload`` instead of a column chunk;
    the column is then built from (offsets, values) buffers, with zero
    per-row bytes objects."""

    def __init__(self, schema) -> None:
        self.schema = pa.schema(schema)
        self.payload_col = next(
            (f.name for f in self.schema if f.type == pa.binary()), None
        )
        self._reset()

    def _reset(self) -> None:
        self.cols: dict[str, list] = {n: [] for n in self.schema.names}
        self.ns: list[int] = []  # rows per group
        self.values: list[np.ndarray] = []  # payload uint8 chunks
        self.lengths: list[int] = []  # payload bytes per row
        self.n = 0
        self.nbytes = 0

    def add(self, n: int, cols: dict, payload=None, sizes=None) -> None:
        """Append a group of `n` rows.  `cols` holds one chunk per
        column: a scalar (repeated over the n rows), or a list, tuple,
        numpy array or ``pa.Array`` of n values.  `payload` fills the
        payload column: a list of n (header, body) pairs, one per row;
        or, with `sizes`, one uint8 buffer holding the n payloads back to
        back, `sizes` being their byte sizes (one int for all, or n of
        them)."""
        skip = None if payload is None else self.payload_col
        for name, chunks in self.cols.items():
            if name != skip:
                chunks.append(cols[name])
        if payload is not None:
            if sizes is None:
                sizes = [len(h) + b.nbytes for h, b in payload]
                for h, b in payload:
                    self.values += (np.frombuffer(h, dtype=np.uint8), b)
                self.lengths += sizes
                self.nbytes += sum(sizes)
            else:
                self.values.append(payload)
                self.lengths += [sizes] * n if np.isscalar(sizes) else np.asarray(sizes).tolist()
                self.nbytes += payload.nbytes
        self.ns.append(n)
        self.n += n

    def flush(self) -> pa.RecordBatch:
        """The buffered rows as one RecordBatch; the buffer is empty after."""
        arrays = [
            self._payload()
            if f.name == self.payload_col and self.lengths
            else _column(self.cols[f.name], self.ns, f.type)
            for f in self.schema
        ]
        batch = pa.RecordBatch.from_arrays(arrays, schema=self.schema)
        self._reset()
        return batch

    def _payload(self) -> pa.Array:
        if self.nbytes >= (1 << 31):  # pa.binary() carries int32 offsets
            raise ValueError(
                "output batch exceeds 2 GiB of payload (one group's payload "
                "must fit one batch)"
            )
        lengths = np.asarray(self.lengths, dtype=np.int64)
        if lengths.size != self.n:
            raise ValueError("every group of a payload batch must carry its payload")
        offsets = np.empty(self.n + 1, dtype=np.int32)
        offsets[0] = 0
        np.cumsum(lengths, out=offsets[1:])
        values = np.concatenate(self.values) if self.values else np.empty(0, np.uint8)
        return pa.Array.from_buffers(
            pa.binary(), self.n, [None, pa.py_buffer(offsets), pa.py_buffer(values)]
        )


def emit(schema, groups: Iterable[tuple]) -> Iterator[pa.RecordBatch]:
    """RecordBatches of `schema` from `groups`, each a tuple of
    `PayloadBuf.add`'s arguments (n, cols[, payload[, sizes]]), under
    the one flush rule."""
    buf = PayloadBuf(schema)
    for group in groups:
        buf.add(*group)
        if buf.nbytes >= _FLUSH_BYTES or buf.n >= _FLUSH_ROWS:
            yield buf.flush()
    if buf.n:
        yield buf.flush()


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


# rows_fn contract: row dict (see _rows) -> {output column: equal-length
# list or numpy array} for this row's output rows, or None for none
RowsFn = Callable[[dict], "dict | None"]


def map_rows(
    df: DataFrame, in_cols: list[str], rows_fn: RowsFn, schema: pa.Schema
) -> DataFrame:
    """Run `rows_fn` over every row of `df.select(*in_cols)` and emit
    the rows it returns, with output `schema`; one buffer per input
    batch, so each batch in leaves as one batch out unless the flush
    rule splits it."""

    def groups(batch: pa.RecordBatch) -> Iterator[tuple]:
        for out in map(rows_fn, _rows(batch)):
            if out is not None:
                yield len(next(iter(out.values()))), out

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield from emit(schema, groups(batch))

    return df.select(*in_cols).mapInArrow(run, schema=from_arrow_schema(schema))


# groups_fn contract: row dict (see _rows) -> iterable of `emit` groups,
# (n, cols[, payload[, sizes]]) — zero, one or many per input row
GroupsFn = Callable[[dict], Iterable[tuple]]


def map_groups(df: DataFrame, in_cols: list[str], groups_fn: GroupsFn, schema) -> DataFrame:
    """Run `groups_fn` over every row of `df.select(*in_cols)` and emit
    the row groups it yields, with output `schema`, through one buffer
    per task."""
    schema = pa.schema(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rows = chain.from_iterable(map(_rows, batches))
        return emit(schema, chain.from_iterable(map(groups_fn, rows)))

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
    binary) ``pa.schema`` or its (name, type) pairs — with each row's
    encoded pixels as its payload."""

    schema = pa.schema(schema)
    # one row per group: a scalar is its one value, except in list columns
    lists = [f.name for f in schema if pa.types.is_list(f.type)]

    def groups_fn(row: dict) -> Iterator[tuple]:
        for meta, arr, fmt in rows_fn(row):
            cols = dict(meta)
            for k in lists:
                cols[k] = [cols[k]]
            yield 1, cols, [codec.encode_chunks(arr, fmt)]

    return map_groups(df, in_cols, groups_fn, schema)


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
