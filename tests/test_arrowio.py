"""The package's one output buffer (``arrowio.PayloadBuf`` and its flush
rule ``arrowio.emit``), checked without starting Spark."""

import numpy as np
import pyarrow as pa
import pytest

from ukis_pysat_spark.operators import arrowio

SCHEMA = pa.schema(
    [
        ("sid", pa.string()),
        ("n", pa.int32()),
        ("v", pa.float64()),
        ("pid", pa.string()),
        ("t", pa.list_(pa.float64())),
        ("bytes", pa.binary()),
    ]
)


def _payloads(rows: list[bytes], form: str):
    """`rows` as add()'s payload (and sizes) in the given form."""
    if form == "pairs":
        return [(r[:2], np.frombuffer(r[2:], dtype=np.uint8)) for r in rows], None
    values = np.frombuffer(b"".join(rows), dtype=np.uint8)
    sizes = {len(r) for r in rows}
    if form == "uniform" and len(sizes) == 1:
        return values, len(rows[0]) if rows else 0
    return values, np.array([len(r) for r in rows], dtype=np.int64)


def _groups(form: str):
    """Groups covering every chunk kind (a scalar, a list or tuple, a
    numpy array, a pa.Array; kinds mixed within a column), a 0-row
    group, and the expected rows."""
    specs = [
        (3, "a", (1, 2, 3), np.array([0.5, 1.5, 2.5]), ["p0", "p1", "p2"]),
        (0, "b", [], np.empty(0), []),
        (2, "c", np.array([4, 5], dtype=np.int32), [3.5, 4.5], ["p3", "p4"]),
        (4, None, [6, 7, 8, 9], np.arange(4, dtype=np.float64), ["p5", "p6", "p7", "p8"]),
        (1, "e", 10, 9.0, ["p9"]),
    ]
    groups, expected = [], []
    for gi, (n, sid, ns, vs, pids) in enumerate(specs):
        t = [[float(gi), float(j)] for j in range(n)]
        payload = [bytes([gi, j]) + bytes(range(j + 1)) * (gi % 2 + 1) for j in range(n)]
        if form == "uniform":
            payload = [bytes([gi, 7, 7, 7]) for _ in range(n)]
        cols = {
            "sid": sid,
            "n": ns,
            "v": vs,
            # the pa.Array kind for one group, the list kind for the others
            "pid": pa.array(pids, pa.string()) if gi % 2 else pids,
            "t": t,
        }
        groups.append((n, cols, *_payloads(payload, form)))
        ns_list = [ns] * n if np.isscalar(ns) else list(ns)
        vs_list = [vs] * n if np.isscalar(vs) else list(vs)
        for j in range(n):
            expected.append(
                {"sid": sid, "n": int(ns_list[j]), "v": float(vs_list[j]), "pid": pids[j],
                 "t": t[j], "bytes": payload[j]}
            )
    return groups, expected


@pytest.mark.parametrize("form", ["pairs", "uniform", "sized"])
def test_flushes_concatenate_to_one_flush(monkeypatch, form):
    groups, expected = _groups(form)
    one = list(arrowio.emit(SCHEMA, groups))
    assert len(one) == 1 and one[0].schema == SCHEMA
    assert one[0].to_pylist() == expected
    monkeypatch.setattr(arrowio, "_FLUSH_ROWS", 3)
    by_rows = list(arrowio.emit(SCHEMA, groups))
    monkeypatch.setattr(arrowio, "_FLUSH_ROWS", 1 << 20)
    monkeypatch.setattr(arrowio, "_FLUSH_BYTES", 5)
    by_bytes = list(arrowio.emit(SCHEMA, groups))
    for batches in (by_rows, by_bytes):
        assert len(batches) > 1
        assert pa.Table.from_batches(batches).equals(pa.Table.from_batches(one))


def test_rows_without_payload_form():
    """A binary column handed over as a chunk, like any other column."""
    schema = pa.schema([("k", pa.string()), ("blob", pa.binary())])
    (batch,) = arrowio.emit(schema, [(2, {"k": "x", "blob": [b"ab", b""]}), (1, {"k": ["y"], "blob": [b"c"]})])
    assert batch.to_pylist() == [
        {"k": "x", "blob": b"ab"}, {"k": "x", "blob": b""}, {"k": "y", "blob": b"c"}
    ]


@pytest.mark.parametrize("form", ["pairs", "sized"])
def test_payload_guard_raises_past_2_gib(form):
    body = np.broadcast_to(np.uint8(0), (1 << 31,))  # zero-stride: allocates nothing
    buf = arrowio.PayloadBuf(SCHEMA)
    cols = {"sid": "a", "n": 1, "v": 0.0, "pid": ["p"], "t": [[0.0]]}
    if form == "pairs":
        buf.add(1, cols, [(b"", body)])
    else:
        buf.add(1, cols, body, 1 << 31)
    with pytest.raises(ValueError, match="2 GiB"):
        buf.flush()


def test_empty_flush_and_zero_row_groups():
    assert list(arrowio.emit(SCHEMA, [])) == []
    empty = arrowio.PayloadBuf(SCHEMA).flush()
    assert empty.num_rows == 0 and empty.schema == SCHEMA
    cols = {"sid": "a", "n": [], "v": np.empty(0), "pid": [], "t": []}
    zero = [(0, cols, np.empty(0, np.uint8), 0), (0, cols, [])]
    assert list(arrowio.emit(SCHEMA, zero)) == []
    buf = arrowio.PayloadBuf(SCHEMA)
    for group in zero:
        buf.add(*group)
    batch = buf.flush()
    assert batch.num_rows == 0 and batch.schema == SCHEMA
    assert buf.n == 0 and buf.flush().num_rows == 0  # a flush empties the buffer
