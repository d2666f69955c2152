"""Distributed accumulated-cost distance over TILED raster grids.

``terrain.cost_distance`` runs synchronized Bellman-Ford on ONE image
— exact, but rounds scale with the longest shortest-path HOP COUNT,
which on a continental corridor raster approaches O(h*w).  This module
is the scale path (the ``proximity_grid`` halo pattern applied to a
monotone relaxation): the grid stays tiled, every tile relaxes LOCALLY
to its own fixpoint (work bounded by the tile, never the scene), and
tiles exchange 1-pixel border strips until no tile improves — a
cross-tile fixpoint reached in O(tile-graph crossings of the longest
shortest path) GLOBAL rounds, each round one ids+coords shuffle of
perimeter rows (payloads never move off their partitions).

Bit-exactness vs the untiled operator: every path's cost accumulates
in path order — ((0 + s1) + s2) + ... — in both schedules, and both
run to the exact fixpoint (the minimum over identical per-path IEEE
sums), so tiled == untiled per pixel, which the tests assert.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ukis_pysat_spark import codec
from ukis_pysat_spark.operators import arrowio
from ukis_pysat_spark.operators.proximity import _GRID_FIELDS, _halo_rows

_SQ2 = math.sqrt(2.0)
_D8 = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)]

_MIN_PA = pa.schema([("m", pa.float64())])
_STATE_PA = pa.schema(
    [
        ("tx", pa.int32()), ("ty", pa.int32()), ("image_id", pa.string()),
        ("transform", pa.list_(pa.float64())), ("w", pa.int32()),
        ("h", pa.int32()), ("cost", pa.binary()), ("valid", pa.binary()),
        ("d", pa.binary()), ("improved", pa.int32()),
    ]
)
_BORDER_PA = pa.schema(
    [
        ("dtx", pa.int32()), ("dty", pa.int32()), ("gr", pa.int64()),
        ("gc", pa.int64()), ("bd", pa.float64()), ("bc", pa.float64()),
    ]
)


def _state_row(tx, ty, image_id, transform, cost, valid, d, improved) -> dict:
    """One tile's relaxation state as a map_rows row of `_STATE_PA`."""
    h, w = cost.shape
    return {
        "tx": [tx], "ty": [ty], "image_id": [image_id], "transform": [transform],
        "w": [w], "h": [h], "cost": [cost.tobytes()],
        "valid": [np.packbits(valid).tobytes()],
        "d": [np.ascontiguousarray(d).tobytes()], "improved": [improved],
    }


def _relax_to_fixpoint(
    cost: np.ndarray, valid: np.ndarray, d: np.ndarray, frozen: np.ndarray
) -> np.ndarray:
    """Synchronized Bellman-Ford on one (H, W) plane until unchanged;
    `frozen` cells (the halo ring) keep their incoming d — they are
    boundary conditions, not relaxation targets."""
    h, w = cost.shape

    def shifted(plane, dr, dc, fill):
        s = np.full(plane.shape, fill, dtype=plane.dtype)
        s[max(-dr, 0) : h - max(dr, 0), max(-dc, 0) : w - max(dc, 0)] = \
            plane[max(dr, 0) : h - max(-dr, 0), max(dc, 0) : w - max(-dc, 0)]
        return s

    while True:
        nd = d
        for dr, dc in _D8:
            du = shifted(d, dr, dc, np.inf)
            cu = shifted(cost, dr, dc, 0.0)
            vu = shifted(valid, dr, dc, False)
            dist = _SQ2 if dr != 0 and dc != 0 else 1.0
            cand = du + (cu + cost) / 2.0 * dist
            cand = np.where(vu & valid, cand, np.inf)
            nd = np.minimum(nd, cand)
        nd = np.where(frozen, d, nd)
        if np.array_equal(nd, d):
            return d
        d = nd


def cost_distance_grid(
    tiles: DataFrame,
    grid_transform: list[float],
    tile: int = 256,
    out_nodata: float = -1.0,
    band: int = 0,
    max_halo_rounds: int = 256,
    stats: dict | None = None,
) -> DataFrame:
    """Distributed ``terrain.cost_distance`` over a tiled grid —
    row-identical to running the single-image operator on the
    assembled raster.  Sources are the GRID's minimum-valid-cost cells
    (one tiny per-tile-min aggregate establishes the global minimum);
    nodata cells are barriers.  Returns 1-band float64 tiles of
    accumulated cost (unreached/invalid cells carry ``out_nodata``)."""
    ga, gc0 = grid_transform[0], grid_transform[2]
    ge, gf0 = grid_transform[4], grid_transform[5]

    planes = tiles.select("image_id", "bytes", "transform", "nodata")

    def plane_of(row: dict) -> np.ndarray:
        arr = codec.decode(row["bytes"])
        return arr[min(band, arr.shape[0] - 1)].astype(np.float64)

    def min_fn(row: dict):
        plane = plane_of(row)
        v = plane[plane != row["nodata"]] if row["nodata"] is not None else plane
        return {"m": [float(v.min())]} if v.size else None

    row = arrowio.map_rows(planes, planes.columns, min_fn, _MIN_PA).agg(F.min("m")).collect()
    zmin = row[0][0]
    if zmin is None:
        raise ValueError("cost_distance_grid: no valid cost cells on the grid")

    def init_fn(row: dict):
        plane = plane_of(row)
        h, w = plane.shape
        a, _b, c, _dd, e, f_ = row["transform"]
        valid = np.ones(plane.shape, bool) if row["nodata"] is None else plane != row["nodata"]
        d0 = np.where(valid & (plane == zmin), 0.0, np.inf)
        d0 = _relax_to_fixpoint(plane, valid, d0, np.zeros(plane.shape, bool))
        return _state_row(
            int(round((c - gc0) / (ga * tile))), int(round((f_ - gf0) / (ge * tile))),
            row["image_id"], [a, 0.0, c, 0.0, e, f_], plane, valid, d0, 1,
        )

    state = arrowio.map_rows(planes, planes.columns, init_fn, _STATE_PA).localCheckpoint()

    def border_fn(row: dict):
        if not row["improved"]:
            return None
        h, w = row["h"], row["w"]
        d = np.frombuffer(row["d"], np.float64).reshape(h, w)
        cst = np.frombuffer(row["cost"], np.float64).reshape(h, w)
        edge = np.zeros((h, w), bool)
        edge[0, :] = edge[-1, :] = edge[:, 0] = edge[:, -1] = True
        edge &= np.isfinite(d)
        er, ec = np.nonzero(edge)
        tx, ty = row["tx"], row["ty"]
        gr = er.astype(np.int64) + ty * tile
        gc = ec.astype(np.int64) + tx * tile
        return _halo_rows(tx, ty, gr, gc, tile, 1, bd=d[er, ec], bc=cst[er, ec])

    def relax_fn(row: dict):
        h, w = row["h"], row["w"]
        tx, ty = row["tx"], row["ty"]
        cst = np.frombuffer(row["cost"], np.float64).reshape(h, w)
        valid = np.unpackbits(
            np.frombuffer(row["valid"], np.uint8), count=h * w
        ).astype(bool).reshape(h, w)
        d = np.frombuffer(row["d"], np.float64).reshape(h, w)
        improved = 0
        if row["halo_r"] is not None and len(row["halo_r"]):
            # extend by the 1-pixel halo ring: received border cells are
            # frozen boundary conditions
            ce = np.zeros((h + 2, w + 2))
            ve = np.zeros((h + 2, w + 2), bool)
            de = np.full((h + 2, w + 2), np.inf)
            fe = np.zeros((h + 2, w + 2), bool)
            ce[1 : 1 + h, 1 : 1 + w] = cst
            ve[1 : 1 + h, 1 : 1 + w] = valid
            de[1 : 1 + h, 1 : 1 + w] = d
            rr = np.asarray(row["halo_r"], np.int64) - ty * tile + 1
            cc = np.asarray(row["halo_c"], np.int64) - tx * tile + 1
            keep = (rr >= 0) & (rr < h + 2) & (cc >= 0) & (cc < w + 2)
            rr, cc = rr[keep], cc[keep]
            dv = np.asarray(row["halo_d"], np.float64)[keep]
            cv = np.asarray(row["halo_cst"], np.float64)[keep]
            # duplicates (same cell from multiple rounds) keep the
            # minimum d — monotone, order-independent
            order = np.argsort(dv)[::-1]
            de[rr[order], cc[order]] = dv[order]
            ce[rr[order], cc[order]] = cv[order]
            ve[rr, cc] = True
            fe[rr, cc] = True
            de2 = _relax_to_fixpoint(ce, ve, de, fe)
            nd = de2[1 : 1 + h, 1 : 1 + w]
            if not np.array_equal(nd, d):
                improved = 1
                d = nd
        return _state_row(tx, ty, row["image_id"], list(row["transform"]), cst, valid, d, improved)

    # max_halo_rounds + 1 convergence checks for max_halo_rounds relax
    # steps: a grid that reaches the fixpoint exactly on the last
    # permitted round is recognized instead of raising
    for rounds in range(max_halo_rounds + 1):
        if state.agg(F.sum("improved")).collect()[0][0] == 0:
            if stats is not None:
                stats["halo_rounds"] = rounds
            break
        halos = (
            arrowio.map_rows(state, state.columns, border_fn, _BORDER_PA)
            .groupBy("dtx", "dty")
            .agg(
                F.collect_list("gr").alias("halo_r"),
                F.collect_list("gc").alias("halo_c"),
                F.collect_list("bd").alias("halo_d"),
                F.collect_list("bc").alias("halo_cst"),
            )
        )
        joined = state.join(
            halos, (state.tx == halos.dtx) & (state.ty == halos.dty), "left"
        ).drop("dtx", "dty")
        state = arrowio.map_rows(joined, joined.columns, relax_fn, _STATE_PA).localCheckpoint()
    else:
        raise RuntimeError(
            f"cost_distance_grid did not reach the cross-tile fixpoint in "
            f"{max_halo_rounds} halo rounds"
        )

    def out_fn(row: dict):
        h, w = row["h"], row["w"]
        d = np.frombuffer(row["d"], np.float64).reshape(h, w)
        valid = np.unpackbits(
            np.frombuffer(row["valid"], np.uint8), count=h * w
        ).astype(bool).reshape(h, w)
        out = np.where(valid & np.isfinite(d), d, out_nodata)[None, :, :]
        a, _b, c, _dd, e, f_ = row["transform"]
        yield (
            {
                "image_id": row["image_id"], "w": w, "h": h, "fmt": "raw",
                "bands": 1, "dtype": "float64", "crs": "grid",
                "transform": [a, 0.0, c, 0.0, e, f_], "nodata": out_nodata,
            },
            out,
            "raw",
        )

    return arrowio.flat_map_payload_rows(
        state,
        ["image_id", "transform", "w", "h", "valid", "d"],
        out_fn,
        _GRID_FIELDS,
    )
