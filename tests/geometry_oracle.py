"""Numpy oracles of the spatial engine, used only by tests.

- The cell index (``cell_id``, ``cell_of_points``, ``cover_bbox``,
  ``cover_polygon``, ``neighbors``): the numpy twin of the relational
  ``spatial_join.cell_key`` / ``point_ixy`` / ``with_cells`` and of the
  ring neighborhood of ``knn``, in the same id format
  (res << 58) | (ix << 29) | iy.
- The scalar polygon test (``polygon_intersects``, ``edges_cross``):
  one pair at a time, the oracle of the batched production kernel
  ``geometry.polygon_intersects_pairwise``.
"""

from __future__ import annotations

import numpy as np

from ukis_pysat_spark.operators import geometry

MAX_RES = 29


def cell_id(res: int, ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    """Pack (resolution, ix, iy) into int64 cell ids (vectorized)."""
    return (
        (np.int64(res) << np.int64(58))
        | (ix.astype(np.int64) << np.int64(29))
        | iy.astype(np.int64)
    )


def cell_of_points(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Cell id containing each (lon, lat) point. Vectorized.  Longitude
    folds modulo n (a point at exactly +180 lands in seam cell 0);
    latitude clamps at the poles."""
    n = 1 << res
    ix = np.floor((np.asarray(lon) + 180.0) / 360.0 * n).astype(np.int64) % n
    iy = np.clip(((np.asarray(lat) + 90.0) / 180.0 * n).astype(np.int64), 0, n - 1)
    return cell_id(res, ix, iy)


def cover_bbox(lon_min, lat_min, lon_max, lat_max, res: int) -> np.ndarray:
    """All cells at `res` intersecting the bbox (exact rectangle cover).

    Antimeridian convention: lon_min > lon_max denotes a bbox that
    crosses +-180 and covers [lon_min, 180] U [-180, lon_max]; the ix
    range wraps modulo n."""
    n = 1 << res
    ix0 = int(np.clip(np.floor((lon_min + 180.0) / 360.0 * n), 0, n - 1))
    ix1_raw = int(np.floor((lon_max + 180.0) / 360.0 * n))
    iy0 = int(np.clip(np.floor((lat_min + 90.0) / 180.0 * n), 0, n - 1))
    iy1 = int(np.clip(np.floor((lat_max + 90.0) / 180.0 * n), 0, n - 1))
    if lon_min > lon_max:  # wrapped interval
        ix1_raw += n
    # east edge folds modulo n (exactly +180 gains seam cell 0),
    # bounded to one revolution — the rule of spatial_join.with_cells
    ix = np.arange(ix0, min(ix1_raw, ix0 + n - 1) + 1, dtype=np.int64) % n
    iy = np.arange(iy0, iy1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(np.unique(ix), iy, indexing="ij")
    return cell_id(res, gx.ravel(), gy.ravel())


def cover_polygon(ring_lon: np.ndarray, ring_lat: np.ndarray, res: int) -> np.ndarray:
    """Cells at `res` covering the polygon's bbox (superset of the exact
    cover — sufficient as the coarse filter of filter-and-refine)."""
    return cover_bbox(
        float(np.min(ring_lon)),
        float(np.min(ring_lat)),
        float(np.max(ring_lon)),
        float(np.max(ring_lat)),
        res,
    )


def neighbors(cell: int, k: int = 1) -> np.ndarray:
    """Cells within a (2k+1)^2 square ring neighborhood.  Longitude
    WRAPS at the antimeridian (ix mod n); latitude clamps at the
    poles (no cells beyond them)."""
    res = int(cell >> 58)
    n = 1 << res
    ix = int((cell >> 29) & ((1 << 29) - 1))
    iy = int(cell & ((1 << 29) - 1))
    xs = np.arange(ix - k, ix + k + 1) % n
    ys = np.clip(np.arange(iy - k, iy + k + 1), 0, n - 1)
    gx, gy = np.meshgrid(np.unique(xs), np.unique(ys), indexing="ij")
    return cell_id(res, gx.ravel(), gy.ravel())


def polygon_intersects(ax: np.ndarray, ay: np.ndarray, bx: np.ndarray, by: np.ndarray) -> bool:
    """True iff simple polygons A and B intersect — CLOSED semantics
    ('share any point', boundary included, matching the relational
    <=/>= bbox fast path for axis-aligned boxes).

    Sufficient & complete test for simple polygons: any vertex of A
    inside-or-on B, any vertex of B inside-or-on A, or any edge pair
    properly crosses (a crossing with no vertex on/inside the other
    ring is always proper).  Antimeridian-crossing rings are unwrapped
    and brought into a common frame first.
    """
    ax = geometry.unwrap_ring(np.asarray(ax, dtype=np.float64))
    ay = np.asarray(ay, dtype=np.float64)
    bx = geometry.unwrap_ring(np.asarray(bx, dtype=np.float64))
    by = np.asarray(by, dtype=np.float64)
    mid_a = (ax.min() + ax.max()) / 2.0
    mid_b = (bx.min() + bx.max()) / 2.0
    bx = bx + 360.0 * np.round((mid_a - mid_b) / 360.0)
    if geometry.points_in_polygon(ax, ay, bx, by, include_boundary=True).any():
        return True
    if geometry.points_in_polygon(bx, by, ax, ay, include_boundary=True).any():
        return True
    return edges_cross(ax, ay, bx, by)


def edges_cross(ax, ay, bx, by) -> bool:
    """Any edge of ring A properly crosses any edge of ring B."""

    def close(rx, ry):
        if rx[0] != rx[-1] or ry[0] != ry[-1]:
            rx = np.append(rx, rx[0])
            ry = np.append(ry, ry[0])
        return rx, ry

    ax, ay = close(np.asarray(ax, float), np.asarray(ay, float))
    bx, by = close(np.asarray(bx, float), np.asarray(by, float))
    a1x, a1y, a2x, a2y = ax[:-1], ay[:-1], ax[1:], ay[1:]
    b1x, b1y, b2x, b2y = bx[:-1], by[:-1], bx[1:], by[1:]

    def cross(ox, oy, p1x, p1y, p2x, p2y):
        return (p1x - ox) * (p2y - oy) - (p1y - oy) * (p2x - ox)

    # broadcast A edges (m,1) vs B edges (1,n)
    A1x, A1y, A2x, A2y = (v[:, None] for v in (a1x, a1y, a2x, a2y))
    B1x, B1y, B2x, B2y = (v[None, :] for v in (b1x, b1y, b2x, b2y))
    d1 = cross(B1x, B1y, B2x, B2y, A1x, A1y)
    d2 = cross(B1x, B1y, B2x, B2y, A2x, A2y)
    d3 = cross(A1x, A1y, A2x, A2y, B1x, B1y)
    d4 = cross(A1x, A1y, A2x, A2y, B2x, B2y)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
    return bool(proper.any())
