"""Contour extraction (the ``gdal_contour`` workflow): marching
squares over pixel centers, emitted as a deterministic SEGMENT SOUP.

Semantics (documented here, replayed verbatim by the driver's DuckDB
twin):

- grid nodes are pixel CENTERS; each 2x2 neighborhood is one cell;
- a corner is "above" iff value > level (strict);
- crossings interpolate linearly between the two adjacent centers:
  ``t = (level - z_a) / (z_b - z_a)`` with a = the top/left corner of
  the edge, and the point is ``p_a + t * (p_b - p_a)``;
- the 16-case table pairs crossings per cell; the two saddle cases
  (5: TR+BL above, 10: TL+BR above) disambiguate on the cell-center
  mean ``(z_tl + z_tr + z_bl + z_br) / 4 > level``;
- cells with any nodata corner emit nothing;
- each segment's endpoints are ordered lexicographically by (x, y), so
  output rows are orientation-free and partitioning-independent.

Segments are NOT stitched into polylines: stitching is a driver-side
aesthetic that would make output order-dependent; join segment
endpoints through ``graph.connected_components`` when closed isolines
are wanted.

Physical strategy: one ``mapInArrow`` stage, zero shuffle; the
marching-squares table is evaluated as whole-plane boolean masks (one
vector pass per case class, no per-cell Python).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ukis_pysat_spark import codec
from ukis_pysat_spark.operators import arrowio

CONTOUR_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("band", pa.int32()),
        ("level", pa.float64()),
        ("r", pa.int32()),
        ("c", pa.int32()),
        ("x0", pa.float64()),
        ("y0", pa.float64()),
        ("x1", pa.float64()),
        ("y1", pa.float64()),
    ]
)

# case index -> list of (edge_a, edge_b) segments; edges are
# 0=top 1=right 2=bottom 3=left.  5 and 10 are saddles (resolved at
# runtime); complements share entries.
_CASES = {
    1: [(3, 2)], 14: [(3, 2)],
    2: [(2, 1)], 13: [(2, 1)],
    3: [(3, 1)], 12: [(3, 1)],
    4: [(0, 1)], 11: [(0, 1)],
    6: [(0, 2)], 9: [(0, 2)],
    7: [(0, 3)], 8: [(0, 3)],
}
_SADDLE = {
    # (case, center_above) -> segments
    (5, True): [(3, 0), (1, 2)],
    (5, False): [(0, 1), (2, 3)],
    (10, True): [(0, 1), (2, 3)],
    (10, False): [(3, 0), (1, 2)],
}


def _plane_segments(plane, nod, level, xs, ys):
    """Vectorized marching squares on one plane for one level.
    Returns (r, c, x0, y0, x1, y1) arrays."""
    ztl = plane[:-1, :-1]
    ztr = plane[:-1, 1:]
    zbl = plane[1:, :-1]
    zbr = plane[1:, 1:]
    ok = np.ones(ztl.shape, bool)
    if nod is not None:
        ok = (ztl != nod) & (ztr != nod) & (zbl != nod) & (zbr != nod)
    idx = (
        (ztl > level).astype(np.int8) * 8
        + (ztr > level).astype(np.int8) * 4
        + (zbr > level).astype(np.int8) * 2
        + (zbl > level).astype(np.int8)
    )
    ch, cw = ztl.shape
    # crossing coordinates per edge (nan where the edge has no crossing
    # — never selected by the case table)
    with np.errstate(divide="ignore", invalid="ignore"):
        t_top = (level - ztl) / (ztr - ztl)
        t_bot = (level - zbl) / (zbr - zbl)
        t_left = (level - ztl) / (zbl - ztl)
        t_right = (level - ztr) / (zbr - ztr)
    xg = np.broadcast_to(xs[None, :-1], (ch, cw))
    xg1 = np.broadcast_to(xs[None, 1:], (ch, cw))
    yg = np.broadcast_to(ys[:-1, None], (ch, cw))
    a_x = xs[1] - xs[0] if xs.size > 1 else 0.0
    e_y = ys[1] - ys[0] if ys.size > 1 else 0.0
    ex = (xg + t_top * a_x, xg1, xg + t_bot * a_x, xg)
    ey = (yg, yg + t_right * e_y, np.broadcast_to(ys[1:, None], (ch, cw)), yg + t_left * e_y)

    out_r, out_c, out_p = [], [], []
    center_above = (ztl + ztr + zbl + zbr) / 4.0 > level

    def emit(mask, pairs):
        if not mask.any():
            return
        rr, cc = np.nonzero(mask)
        for ea, eb in pairs:
            xa, ya = ex[ea][rr, cc], ey[ea][rr, cc]
            xb, yb = ex[eb][rr, cc], ey[eb][rr, cc]
            swap = (xb < xa) | ((xb == xa) & (yb < ya))
            x0 = np.where(swap, xb, xa)
            y0 = np.where(swap, yb, ya)
            x1 = np.where(swap, xa, xb)
            y1 = np.where(swap, ya, yb)
            out_r.append(rr)
            out_c.append(cc)
            out_p.append((x0, y0, x1, y1))

    for case, pairs in _CASES.items():
        emit(ok & (idx == case), pairs)
    for (case, above), pairs in _SADDLE.items():
        emit(ok & (idx == case) & (center_above == above), pairs)
    if not out_r:
        z = np.empty(0)
        return (np.empty(0, np.int64),) * 2 + (z,) * 4
    rr = np.concatenate(out_r)
    cc = np.concatenate(out_c)
    x0 = np.concatenate([p[0] for p in out_p])
    y0 = np.concatenate([p[1] for p in out_p])
    x1 = np.concatenate([p[2] for p in out_p])
    y1 = np.concatenate([p[3] for p in out_p])
    return rr, cc, x0, y0, x1, y1


def contour(
    images: DataFrame, levels: list[float], band: int = 0
) -> DataFrame:
    """Marching-squares contour segments for each level: one row per
    segment with the cell's top-left pixel (r, c) and the endpoint
    coordinates (lexicographically ordered).  See the module docstring
    for the exact case/saddle/nodata semantics."""
    if not levels:
        raise ValueError("levels must be non-empty")
    levels = [float(v) for v in levels]

    def rows_fn(row: dict) -> dict | None:
        arr = codec.decode(row["bytes"]).astype(np.float64)
        nb, h, w = arr.shape
        if h < 2 or w < 2:
            return None
        b = min(band, nb - 1)
        a, _b, c0, _d, e, f0 = row["transform"]
        xs = c0 + (np.arange(w) + 0.5) * a
        ys = f0 + (np.arange(h) + 0.5) * e
        segs = [_plane_segments(arr[b], row["nodata"], level, xs, ys) for level in levels]
        n = [seg[0].size for seg in segs]
        cols = dict(zip(("r", "c", "x0", "y0", "x1", "y1"), map(np.concatenate, zip(*segs))))
        cols.update(image_id=[row["image_id"]] * sum(n), band=np.full(sum(n), b), level=np.repeat(levels, n))
        return cols

    return arrowio.map_rows(
        images, ["image_id", "bytes", "transform", "nodata"], rows_fn, CONTOUR_SCHEMA
    )
