"""Minimal TIFF *writer* used only by tests to synthesize compressed /
predictor-differenced fixtures for the engine's reader (the reference
gets these free from GDAL; this environment has no TIFF library).

Implements the encoder side of TIFF 6.0 §9 (PackBits), §13 (LZW with
early change) and the tag-317 horizontal-differencing predictor, plus a
strip-organized classic-TIFF container with optional GeoTIFF tags, and
the per-code reference LZW decoder the engine's vectorized one is
tested against.
Test-only code — the product reader is ukis_pysat_spark/sources/geotiff.py.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np


def lzw_encode(data: bytes) -> bytes:
    """TIFF-variant LZW encoder (MSB-first, ClearCode 256, EOI 257,
    early change: code width grows when the next free index reaches
    2^width - 1; table cleared before it exceeds 4094)."""
    out = bytearray()
    acc = 0
    accbits = 0
    nbits = 9

    def emit(code: int) -> None:
        nonlocal acc, accbits
        acc = (acc << nbits) | code
        accbits += nbits
        while accbits >= 8:
            out.append((acc >> (accbits - 8)) & 0xFF)
            accbits -= 8
            acc &= (1 << accbits) - 1

    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    emit(256)
    w = b""
    for ch in data:
        c = bytes([ch])
        wc = w + c
        if wc in table:
            w = wc
            continue
        emit(table[w])
        table[wc] = next_code
        next_code += 1
        # width sync (validated against libtiff-written streams): the
        # decoder widens after ADDING entry (1<<nbits)-2, which it does
        # one code later than the encoder adds it — hence == (1<<nbits)
        if next_code == (1 << nbits) and nbits < 12:
            nbits += 1
        if next_code >= 4094:
            emit(256)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            nbits = 9
        w = c
    if w:
        emit(table[w])
    emit(257)
    if accbits:
        out.append((acc << (8 - accbits)) & 0xFF)
    return bytes(out)


def lzw_decode(raw: bytes) -> bytes:
    """Reference TIFF-variant LZW decoder (TIFF 6.0 §13): the simple
    per-code loop, the differential-test twin of the engine's
    vectorized `sources.geotiff._lzw_decode`.  MSB-first bit packing,
    code 256 = ClearCode, 257 = EndOfInformation, table entries from
    258, code width 9→12 bits with the TIFF 'early change' (width grows
    one code early, when the next free index reaches 2^width - 1)."""
    out = bytearray()
    base = [bytes([i]) for i in range(256)] + [b"", b""]
    table = list(base)
    nbits = 9
    prev = b""
    bitpos = 0
    total_bits = len(raw) * 8
    while bitpos + nbits <= total_bits:
        byte_i = bitpos >> 3
        chunk = int.from_bytes(raw[byte_i : byte_i + 3].ljust(3, b"\0"), "big")
        code = (chunk >> (24 - (bitpos & 7) - nbits)) & ((1 << nbits) - 1)
        bitpos += nbits
        if code == 256:  # ClearCode
            table = list(base)
            nbits = 9
            prev = b""
            continue
        if code == 257:  # EndOfInformation
            break
        if not prev:
            if code >= len(table):
                raise ValueError("corrupt LZW stream: code beyond table")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # the KwKwK case: code == next free index
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt LZW stream: code beyond table")
        out += entry
        prev = entry
        if len(table) == (1 << nbits) - 1 and nbits < 12:
            nbits += 1  # early change
    return bytes(out)


def packbits_encode(data: bytes) -> bytes:
    """PackBits RLE encoder: repeated runs >= 3 become (257-n, byte),
    everything else literal chunks of <= 128 bytes."""
    out = bytearray()
    i = 0
    L = len(data)
    while i < L:
        run = 1
        while i + run < L and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out.append(257 - run)
            out.append(data[i])
            i += run
            continue
        # literal: scan forward until a >=3 run starts or 128 bytes
        j = i + 1
        while j < L and j - i < 128:
            if j + 2 < L and data[j] == data[j + 1] == data[j + 2]:
                break
            j += 1
        out.append(j - i - 1)
        out += data[i:j]
        i = j
    return bytes(out)


def write_tiff(
    arr: np.ndarray,
    compression: int = 1,
    predictor: int = 1,
    rows_per_strip: int | None = None,
    pixel_scale: tuple[float, float] | None = None,
    tiepoint: tuple[float, float] | None = None,
    epsg: int | None = None,
    bigtiff: bool = False,
) -> bytes:
    """(bands, rows, cols) array -> little-endian chunky strip TIFF bytes.

    compression: 1 none, 5 LZW, 8 deflate, 32773 PackBits.
    predictor: 1 none, 2 horizontal differencing (integer dtypes).
    bigtiff: write the BigTIFF (magic 43) layout — 8-byte IFD offset,
    8-byte entry count, 20-byte entries with 8-byte inline values;
    strip offsets/counts use LONG8 (type 16).
    """
    arr = np.ascontiguousarray(arr)
    if arr.ndim == 2:
        arr = arr[None]
    bands, h, w = arr.shape
    dt = arr.dtype.newbyteorder("<")
    chunky = arr.transpose(1, 2, 0).astype(dt)  # (rows, cols, bands)
    rps = rows_per_strip or max(1, min(h, 8192 // max(w * bands * dt.itemsize, 1) or 1))
    sfmt = {"u": 1, "i": 2, "f": 3}[dt.kind]

    strips = []
    for r0 in range(0, h, rps):
        seg = chunky[r0 : r0 + rps]
        if predictor == 2:
            seg = seg.astype(dt.newbyteorder("="))
            seg = np.concatenate([seg[:, :1], np.diff(seg, axis=1)], axis=1).astype(dt)
            raw = seg.tobytes()
        elif predictor == 3:
            # floating-point predictor: per scanline, split values into
            # itemsize byte planes MSB-first, then stride-wise byte diff
            k = dt.itemsize
            nr, n = seg.shape[0], seg.shape[1] * bands
            vb = np.ascontiguousarray(seg.astype(f">f{k}")).view(np.uint8)
            planes = vb.reshape(nr, n, k).transpose(0, 2, 1).reshape(nr, k * n)
            d = planes.reshape(nr, (k * n) // bands, bands).copy()
            d[:, 1:, :] -= d[:, :-1, :].copy()  # uint8 wraparound diff
            raw = np.ascontiguousarray(d.reshape(nr, k * n)).tobytes()
        else:
            raw = seg.tobytes()
        if compression == 1:
            strips.append(raw)
        elif compression == 5:
            strips.append(lzw_encode(raw))
        elif compression == 8:
            strips.append(zlib.compress(raw))
        elif compression == 32773:
            strips.append(packbits_encode(raw))
        else:
            raise ValueError(compression)

    # layout: header | strip data | out-of-line tag values | IFD
    if bigtiff:
        header = struct.pack("<2sHHHQ", b"II", 43, 8, 0, 0)  # IFD off patched
    else:
        header = struct.pack("<2sHI", b"II", 42, 0)  # IFD offset patched later
    body = bytearray(header)
    strip_offs = []
    for s in strips:
        strip_offs.append(len(body))
        body += s

    tags: list[tuple[int, int, int, bytes]] = []  # (tag, type, count, value-bytes)

    def add(tag: int, typ: int, vals: list) -> None:
        fmt = {3: "H", 4: "I", 12: "d", 16: "Q"}[typ]
        tags.append((tag, typ, len(vals), struct.pack("<" + fmt * len(vals), *vals)))

    off_typ = 16 if bigtiff else 4  # LONG8 in BigTIFF
    add(256, 4, [w])
    add(257, 4, [h])
    add(258, 3, [dt.itemsize * 8] * bands)
    add(259, 3, [compression])
    add(262, 3, [1])
    add(273, off_typ, strip_offs)
    add(277, 3, [bands])
    add(278, 4, [rps])
    add(279, off_typ, [len(s) for s in strips])
    add(284, 3, [1])
    if predictor != 1:
        add(317, 3, [predictor])
    add(339, 3, [sfmt] * bands)
    if pixel_scale is not None:
        add(33550, 12, [pixel_scale[0], pixel_scale[1], 0.0])
    if tiepoint is not None:
        add(33922, 12, [0.0, 0.0, 0.0, tiepoint[0], tiepoint[1], 0.0])
    if epsg is not None:
        add(34735, 3, [1, 1, 0, 1, 3072, 0, 1, epsg])

    # out-of-line values
    entries = []
    inline = 8 if bigtiff else 4
    for tag, typ, cnt, val in sorted(tags):
        if bigtiff:
            head = struct.pack("<HHQ", tag, typ, cnt)
            if len(val) <= inline:
                entries.append(head + val.ljust(inline, b"\0"))
            else:
                off = len(body)
                body += val
                entries.append(head + struct.pack("<Q", off))
        elif len(val) <= inline:
            entries.append(struct.pack("<HHI", tag, typ, cnt) + val.ljust(4, b"\0"))
        else:
            off = len(body)
            body += val
            entries.append(struct.pack("<HHII", tag, typ, cnt, off))
    ifd_off = len(body)
    if bigtiff:
        body += struct.pack("<Q", len(entries)) + b"".join(entries) + struct.pack("<Q", 0)
        body[8:16] = struct.pack("<Q", ifd_off)
    else:
        body += struct.pack("<H", len(entries)) + b"".join(entries) + struct.pack("<I", 0)
        body[4:8] = struct.pack("<I", ifd_off)
    return bytes(body)
