"""Distributed raster<->vector spatial join (filter-and-refine).

The reference's only spatial operation is per-image: mask an Image with
one polygon (ukis_pysat/raster.py:113-138) or read a footprint
(ukis_pysat/file.py:143-169).  The engine generalizes this to a
many-to-many join between a scene table and an AOI polygon set, the
north rule's core operator:

1. FILTER: both sides get an H3/S2-style cell cover — pure relational
   explode(sequence()) arithmetic over the ring bbox (zero Python),
   exploded to a cell-keyed table; a plain cell equi-join produces
   candidate pairs — Catalyst/AQE pick broadcast vs sort-merge and
   split skewed cells.
2. PRE-REFINE: a relational bbox-overlap test (pure JVM expressions)
   eliminates most false candidates without touching Python.
3. REFINE: exact polygon-polygon intersection (vertex-in-or-on +
   edge-crossing, pure numpy) inside an Arrow-batched UDF restores
   exact semantics — output rows match a brute-force O(n*m) oracle.

Cell index: resolution r splits lon/lat into 2^r x 2^r rectangular
cells; ``cell_key`` packs a cell id as (r << 58) | (ix << 29) | iy
(ix, iy < 2^29, r <= 29) and ``point_ixy`` is the point->cell rule.
Ring covers are bbox covers: a candidate superset (PBSM lineage).

Boundary semantics are CLOSED engine-wide: 'intersects' means 'share
any point', boundary included — the relational <=/>= box-box fast path
and the general polygon refine agree on touching geometries.
Antimeridian: rings spanning +-180 (planar lon span > 180 deg, physical
extent < 180 deg) get wrapped cell covers, circular-interval bbox
pre-refines, and frame-normalized exact refinement.

One physical path: dense AOI clusters make some cells hot, and the
only skew handling is AQE's skew-join split of the cell equi-join
(spark.sql.adaptive.skewJoin.*), which splits a hot cell's partition
by its measured size when the join runs as a sort-merge join.  The
oracle twin is ``spatial_join_bruteforce`` below (an O(n*m)
cross join + the same exact refine); tests and the benchmark's
reference pass compare against it.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F
import pyspark.sql.types as T

from ukis_pysat_spark.operators import geometry

DEFAULT_RES = 12  # ~0.09 deg cells: tens of cells per fixture footprint


def _cell_index(coord: Column, origin: float, span: float, res: int) -> Column:
    n = 1 << res
    return F.least(
        F.greatest(F.floor((coord + F.lit(origin)) / F.lit(span) * F.lit(n)), F.lit(0)),
        F.lit(n - 1),
    ).cast("long")


def cell_key(res: int, ix: Column, iy: Column) -> Column:
    """Pack (res, ix, iy) into the int64 cell id (res<<58) | (ix<<29) | iy.
    ix and iy must already lie in [0, 2^res)."""
    return (
        F.lit(int(res) << 58).cast("long")
        + ix.cast("long") * F.lit(1 << 29).cast("long")
        + iy.cast("long")
    )


def point_ixy(lon: Column, lat: Column, res: int) -> tuple[Column, Column]:
    """(ix, iy) of the cell holding each point: lon folds modulo n (a
    point at exactly +180 lands in seam cell 0, matching the cover's
    east-edge fold); lat clamps at the poles."""
    n = F.lit(1 << res)
    ix = F.pmod(F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n), n)
    return ix, _cell_index(lat, 90.0, 180.0, res)


def lon_interval(lon_col: Column) -> tuple[Column, Column]:
    """(west, east) edges of a ring's longitude interval, UNWRAPPED:
    east >= west always, and east may exceed 180.

    Antimeridian convention (engine-wide): a ring whose planar lon span
    exceeds 180 deg crosses +-180 (physical extent is < 180 deg); its
    interval is [min non-negative lon, max negative lon + 360].  For
    ordinary rings this is just [array_min, array_max].

    GLOBAL rings are outside the convention: when the wrapped reading
    ALSO spans >= 180 deg (vertices fill most of the circle), neither
    interpretation is faithful and the cover would silently miss cells
    — such rows now raise at the cell-cover boundary instead (VERDICT
    r4 next-round #6); split the geometry upstream."""
    mn, mx = F.array_min(lon_col), F.array_max(lon_col)
    wraps = (mx - mn) > F.lit(180.0)
    pos_min = F.array_min(F.filter(lon_col, lambda x: x >= F.lit(0.0)))
    neg_max = F.array_max(F.filter(lon_col, lambda x: x < F.lit(0.0)))
    too_wide = wraps & ((neg_max + F.lit(360.0) - pos_min) >= F.lit(180.0))
    guarded = F.when(
        ~too_wide, F.lit(0.0)
    ).otherwise(
        F.raise_error(
            F.lit(
                "global ring: physical lon extent >= 180 deg is outside the "
                "antimeridian convention — split the ring before the cell cover"
            )
        ).cast("double")
    )
    lon0 = F.when(wraps, pos_min + guarded).otherwise(mn + guarded)
    lon1 = F.when(wraps, neg_max + F.lit(360.0)).otherwise(mx)
    return lon0, lon1


def lon_intervals_overlap(a0: Column, a1: Column, b0: Column, b1: Column) -> Column:
    """Closed overlap of two UNWRAPPED longitude intervals on the
    circle: b starts within a (mod 360) or a starts within b."""
    return (F.pmod(b0 - a0, F.lit(360.0)) <= (a1 - a0)) | (
        F.pmod(a0 - b0, F.lit(360.0)) <= (b1 - b0)
    )


def with_cells(df: DataFrame, lon_col: str, lat_col: str, res: int = DEFAULT_RES) -> DataFrame:
    """Add an exploded `cell` column covering the ring's bbox.

    FULLY relational (the tile_windows pattern): the bbox comes from
    array_min/array_max and the ix x iy cell grid from two nested
    explode(sequence(...)) generators — whole-stage-codegen'd JVM
    expressions, zero Python in the spatial join's filter stage.
    Null or empty rings get no cell.  Rings crossing the antimeridian
    (lon_interval convention) cover a wrapped ix range — the sequence
    runs past n-1 and is folded back with pmod, so Pacific footprints
    land in the seam cells on both sides instead of covering (or
    missing) the whole globe.

    The lon interval is computed ONCE per row, as two temporary columns
    before the explode, so the Generate's index math references two
    attributes instead of repeating lon_interval's CASE WHEN +
    filter-lambda tree in every place it uses an edge.
    """
    n = 1 << res
    lon0, lon1 = F.col("_cov_lon0"), F.col("_cov_lon1")
    ix0 = _cell_index(lon0, 180.0, 360.0, res)
    ix1_raw = F.floor((lon1 + F.lit(180.0)) / F.lit(360.0) * F.lit(n)).cast("long")
    # east edge unclamped (folded by pmod below), bounded to one full
    # revolution: an east edge at exactly +180 gains the seam cell 0,
    # so geometries touching across the antimeridian share a cell
    ix1 = F.least(ix1_raw, ix0 + F.lit(n - 1))
    iy0 = _cell_index(F.array_min(F.col(lat_col)), 90.0, 180.0, res)
    iy1 = _cell_index(F.array_max(F.col(lat_col)), 90.0, 180.0, res)
    cov_lon0, cov_lon1 = lon_interval(F.col(lon_col))
    return (
        df.withColumns({"_cov_lon0": cov_lon0, "_cov_lon1": cov_lon1})
        .withColumn("_ix", F.explode(F.sequence(ix0, ix1)))
        .withColumn("_iy", F.explode(F.sequence(iy0, iy1)))
        .withColumn(
            "cell",
            cell_key(res, F.pmod(F.col("_ix"), F.lit(n).cast("long")), F.col("_iy")),
        )
        .drop("_cov_lon0", "_cov_lon1", "_ix", "_iy")
    )


def axis_aligned_box(lon_col: Column, lat_col: Column) -> Column:
    """True when a closed 5-vertex ring is an axis-aligned rectangle.

    For such rings the bbox-overlap pre-refine IS the exact
    intersection test, so box-box candidate pairs need no Python
    refinement at all.  The check is pure JVM array expressions:
    4 vertices + closure, exactly two distinct values per axis, and
    every edge rectilinear (changes exactly one coordinate — this
    excludes self-crossing 'bowtie' quads that share the same value
    sets)."""
    edge_lon_eq = F.zip_with(
        F.slice(lon_col, 1, 4), F.slice(lon_col, 2, 4), lambda a, b: a == b
    )
    edge_lat_eq = F.zip_with(
        F.slice(lat_col, 1, 4), F.slice(lat_col, 2, 4), lambda a, b: a == b
    )
    rectilinear = F.forall(
        F.zip_with(edge_lon_eq, edge_lat_eq, lambda a, b: a != b), lambda x: x
    )
    # F.get (0-based, null-safe): common-subexpression elimination can
    # hoist the index-4 access out of the size==5 short-circuit when
    # this predicate appears in several conjuncts of one projection
    # (r7) — with get, a short ring yields NULL and
    # `false AND null = false` keeps the verdict identical.  get is
    # used instead of try_element_at because ElementAt's codegen
    # mis-scopes its isNull flag when the conjunct tree is split into
    # helper methods (janino "isNull_N is not an rvalue"), silently
    # dropping the whole stage to interpreted execution.
    return (
        (F.size(lon_col) == 5)
        & (F.size(F.array_distinct(lon_col)) == 2)
        & (F.size(F.array_distinct(lat_col)) == 2)
        & (F.get(lon_col, 0) == F.get(lon_col, 4))
        & (F.get(lat_col, 0) == F.get(lat_col, 4))
        & rectilinear
    )


def convex_simple_ring(lon_col: Column, lat_col: Column) -> Column:
    """True when a CLOSED ring (first == last vertex) is strictly
    convex and simply wound — the relational twin of the Python-side
    ``zonal._convex_orient`` certificate: all edge cross products share
    one strict sign (collinear/repeated vertices fail closed, routing
    the pair to the exact Python refine) AND the total turning is
    ±2π within 1e-6 (a same-sign test alone would admit star
    polygons, whose even-odd interior differs from the convex hull).
    Pure JVM array expressions; O(V) per ring."""
    n = F.size(lon_col) - 1  # true vertex count (closing dup dropped)
    xs = F.slice(lon_col, 1, n)
    ys = F.slice(lat_col, 1, n)
    nxt = lambda a: F.concat(F.slice(a, 2, n - 1), F.slice(a, 1, 1))  # noqa: E731
    ex = F.zip_with(nxt(xs), xs, lambda b, a: b - a)
    ey = F.zip_with(nxt(ys), ys, lambda b, a: b - a)
    ex2 = F.concat(F.slice(ex, 2, n - 1), F.slice(ex, 1, 1))
    ey2 = F.concat(F.slice(ey, 2, n - 1), F.slice(ey, 1, 1))
    cr = F.zip_with(
        F.zip_with(ex, ey2, lambda a, b: a * b),
        F.zip_with(ey, ex2, lambda a, b: a * b),
        lambda a, b: a - b,
    )
    dt = F.zip_with(
        F.zip_with(ex, ex2, lambda a, b: a * b),
        F.zip_with(ey, ey2, lambda a, b: a * b),
        lambda a, b: a + b,
    )
    turn = F.aggregate(
        F.zip_with(cr, dt, lambda c, d: F.atan2(c, d)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    same_sign = F.forall(cr, lambda c: c > 0.0) | F.forall(cr, lambda c: c < 0.0)
    closed = (
        (F.get(lon_col, 0) == F.get(lon_col, F.size(lon_col) - 1))
        & (F.get(lat_col, 0) == F.get(lat_col, F.size(lat_col) - 1))
    )
    return (
        (n >= 3)
        & closed
        & same_sign
        & (F.abs(F.abs(turn) - F.lit(2.0 * math.pi)) <= F.lit(1e-6))
    )


def sat_axes(lon_col: Column, lat_col: Column) -> Column:
    """(nx, ny, qmin, qmax) per edge of a convex closed ring."""
    n = F.size(lon_col) - 1
    xs = F.slice(lon_col, 1, n)
    ys = F.slice(lat_col, 1, n)
    nxt = lambda a: F.concat(F.slice(a, 2, n - 1), F.slice(a, 1, 1))  # noqa: E731
    nx = F.zip_with(nxt(ys), ys, lambda b, a: -(b - a))
    ny = F.zip_with(nxt(xs), xs, lambda b, a: b - a)
    return F.zip_with(
        nx,
        ny,
        lambda nxi, nyi: F.struct(
            nxi.alias("nx"),
            nyi.alias("ny"),
            F.array_min(
                F.zip_with(xs, ys, lambda x, y: nxi * x + nyi * y)
            ).alias("qmin"),
            F.array_max(
                F.zip_with(xs, ys, lambda x, y: nxi * x + nyi * y)
            ).alias("qmax"),
        ),
    )


def sat_box_separated(axes: Column, x0, x1, y0, y1) -> Column:
    """True iff some AOI edge normal STRICTLY separates the convex
    ring from the axis-aligned box [x0,x1]x[y0,y1] (closed semantics:
    touching is intersecting, so separation is strict).  The box's own
    axes were already tested by the closed bbox overlap in the cell
    join, so by SAT: not separated here <=> the polygons intersect."""
    return F.exists(
        axes,
        lambda e: (
            e["qmin"]
            > (
                F.greatest(e["nx"] * x0, e["nx"] * x1)
                + F.greatest(e["ny"] * y0, e["ny"] * y1)
            )
        )
        | (
            e["qmax"]
            < (
                F.least(e["nx"] * x0, e["nx"] * x1)
                + F.least(e["ny"] * y0, e["ny"] * y1)
            )
        ),
    )


def _cell_tables(
    images: DataFrame, aois: DataFrame, res: int, flags: bool
) -> tuple[DataFrame, DataFrame]:
    """Exploded cell tables carrying ids + the 4-double bbox (32 B/row)
    — NOT the geometry arrays.  The bbox rides along so the overlap
    pre-refine can kill false candidates IN the cell join, before the
    pair-dedup shuffle.  With ``flags`` the per-geometry exactness
    certificates (axis-box, convexity, SAT axes) are computed ONCE per
    input row BEFORE the cell explode and ride the join too, so pair
    decisions happen in-join with no geometry re-attach."""
    i_lon0, i_lon1 = lon_interval(F.col("footprint_lon"))
    img_cols = {
        "i_lon0": i_lon0,
        "i_lon1": i_lon1,
        "i_lat_min": F.array_min("footprint_lat"),
        "i_lat_max": F.array_max("footprint_lat"),
    }
    if flags:
        ibox = axis_aligned_box(F.col("footprint_lon"), F.col("footprint_lat"))
        no_wrap_i = (
            F.array_max("footprint_lon") - F.array_min("footprint_lon")
        ) <= 180.0
        img_cols["_ibox"] = ibox
        img_cols["_ibox_nw"] = no_wrap_i & ibox
    img_cells = with_cells(
        images.select("image_id", "footprint_lon", "footprint_lat").withColumns(
            img_cols
        ),
        "footprint_lon",
        "footprint_lat",
        res,
    ).drop("footprint_lon", "footprint_lat")

    a_lon0, a_lon1 = lon_interval(F.col("ring_lon"))
    aoi_cols = {"a_lon0": a_lon0, "a_lon1": a_lon1}
    if flags:
        abox = axis_aligned_box(F.col("ring_lon"), F.col("ring_lat"))
        conv = convex_simple_ring(F.col("ring_lon"), F.col("ring_lat"))
        no_wrap_a = (F.array_max("ring_lon") - F.array_min("ring_lon")) <= 180.0
        aoi_cols["_abox"] = abox
        aoi_cols["_aconv"] = no_wrap_a & ~abox & conv
        aoi_cols["_sat"] = F.when(
            no_wrap_a & conv, sat_axes(F.col("ring_lon"), F.col("ring_lat"))
        )
    aoi_cells = with_cells(
        aois.select("aoi_id", "ring_lon", "ring_lat", "lat_min", "lat_max").withColumns(
            aoi_cols
        ),
        "ring_lon",
        "ring_lat",
        res,
    ).drop("ring_lon", "ring_lat")
    return img_cells, aoi_cells


def _bbox_overlap() -> Column:
    """Closed bbox overlap of a joined (image, AOI) cell row.  The lon
    test is circular-interval overlap (antimeridian-correct); for
    ordinary footprints it reduces to the plain closed overlap."""
    return (
        lon_intervals_overlap(
            F.col("i_lon0"), F.col("i_lon1"), F.col("a_lon0"), F.col("a_lon1")
        )
        & (F.col("i_lat_min") <= F.col("lat_max"))
        & (F.col("i_lat_max") >= F.col("lat_min"))
    )


def candidate_pairs(
    images: DataFrame,
    aois: DataFrame,
    res: int = DEFAULT_RES,
) -> DataFrame:
    """Deduped (image_id, aoi_id) bbox-overlap candidates — a SUPERSET
    of ``spatial_join`` with recall 1.0 (a false candidate exists only
    where the bboxes overlap but the rings do not).

    Consumers that re-test containment exactly per pixel/point anyway
    (zonal_stats, zonal_mode, rasterize: their window masks emit rows
    only where >= 1 pixel CENTER lies inside the ring, so false pairs
    contribute nothing) get identical results from this superset and
    skip the whole refine machinery — the geometry re-join, the SAT
    evaluation and the Python refine of the exact join (r7; measured
    ~16 s of zonal_stats' 40 s at the sf1.0 hotspot)."""
    img_cells, aoi_cells = _cell_tables(images, aois, res, flags=False)
    return (
        img_cells.join(aoi_cells, "cell")
        .filter(_bbox_overlap())
        .select("image_id", "aoi_id")
        .dropDuplicates(["image_id", "aoi_id"])
    )


def spatial_join(
    images: DataFrame,
    aois: DataFrame,
    res: int = DEFAULT_RES,
) -> DataFrame:
    """Exact scene-footprint x AOI-polygon intersection join.

    Returns distinct (image_id, aoi_id) pairs whose geometries
    intersect.

    Exactness fast paths decide pairs INSIDE the cell join (r7):

    - box-box: for axis-aligned rectangles the closed bbox overlap IS
      the exact test;
    - box-convex: when the image footprint is an axis box and the AOI
      ring certifies strictly-convex + simply-wound
      (convex_simple_ring) with no antimeridian wrap on either side,
      the separating-axis test over the AOI's edge normals decides the
      pair exactly (the box's own axes are the bbox overlap).  The
      normals + projection ranges are precomputed once per AOI row
      BEFORE the cell explode (sat_axes), so the per-pair cost is
      O(edges) flops of codegen'd expressions.

    Certificates are per-geometry booleans computed before the explode
    and riding the cell join, so decided pairs reach the dedup as
    (ids, hard=false) rows with no geometry re-attach at all; decided
    non-intersections are filtered before the dedup shuffle.  Only the
    (rare) hard pairs re-join their geometry and cross the Arrow
    refine — measurement showed shipping 39 M id-copy rows through the
    Python stage cost more than the whole candidate phase, and the
    r7 follow-up showed the two post-dedup geometry joins of the
    branch-split plan cost another ~16 s at sf1.0."""
    # explicit isnotnull on the join ids: the hard branch's downstream
    # geometry join infers these and pushes them through the dedup
    # aggregate into the shared subtree — with the filters already
    # present, both union branches canonicalize EQUAL and exchange
    # reuse computes the cell join + dedup once (without this the
    # whole candidate phase runs twice; a localCheckpoint also fixes
    # it but its persisted blocks linger in executor storage across
    # queries and starve later big shuffles — measured point_sample
    # 21 s -> 169 s later in the same bench process)
    images = images.filter(F.col("image_id").isNotNull())
    aois = aois.filter(F.col("aoi_id").isNotNull())
    img_cells, aoi_cells = _cell_tables(images, aois, res, flags=True)

    easy = F.col("_ibox") & F.col("_abox")
    sat_pair = F.col("_ibox_nw") & F.col("_aconv")
    separated = sat_box_separated(
        F.col("_sat"),
        F.col("i_lon0"),
        F.col("i_lon1"),
        F.col("i_lat_min"),
        F.col("i_lat_max"),
    )
    decided = easy | sat_pair
    keep_rel = easy | (sat_pair & ~separated)
    tagged = (
        img_cells.join(aoi_cells, "cell")
        .filter(_bbox_overlap())
        .filter(~decided | keep_rel)  # decided non-intersections out
        .select("image_id", "aoi_id", (~decided).alias("_hard"))
        .dropDuplicates(["image_id", "aoi_id"])
    )
    decided_ids = tagged.filter(~F.col("_hard")).select("image_id", "aoi_id")
    hard = (
        tagged.filter(F.col("_hard"))
        .join(images.select("image_id", "footprint_lon", "footprint_lat"), "image_id")
        .join(aois.select("aoi_id", "ring_lon", "ring_lat"), "aoi_id")
        .select(
            "image_id", "aoi_id",
            "footprint_lon", "footprint_lat", "ring_lon", "ring_lat",
        )
    )
    return decided_ids.unionByName(
        _refine(hard, _polygons_keep, ["image_id", "aoi_id"], "image_id string, aoi_id string")
    )


_REFINE_CHUNK = 1 << 16  # rows per vectorized refine call


def _ring_views(col) -> list:
    """ListArray -> per-row numpy views (values buffer + offsets, zero
    per-row copies).  Handles sliced arrays: `values` is the full child
    array, so the window [offsets[0], offsets[-1]) is cut first."""
    import pyarrow as pa

    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    offsets = arr.offsets.to_numpy()
    values = arr.values.to_numpy(zero_copy_only=False)[offsets[0] : offsets[-1]]
    return np.split(values, offsets[1:-1] - offsets[0])


def _refine(
    pairs: DataFrame, make_keep, out_cols: list[str], schema: str | T.StructType
) -> DataFrame:
    """The exact refine of every vector join, one ``mapInArrow`` stage:
    refine rows are tiny, so RecordBatches (capped at 128 rows by the
    session) are gathered into ``_REFINE_CHUNK``-row tables, and each
    table is decided by ONE vectorized ``keep(table) -> bool mask``
    call; ``make_keep()`` builds ``keep`` once per task, so a kernel may
    memoize across tables.  Kept rows leave as ``out_cols``/``schema``.

    Every list column is a ring; a null or empty ring on either side
    intersects nothing (the cell cover gives it no cell), so such rows
    are dropped before the kernel."""

    def run(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        keep = make_keep()

        def decide(buf: list):
            tbl = pa.Table.from_batches(buf).combine_chunks()
            rings = [c for c, f in zip(tbl.columns, tbl.schema) if pa.types.is_list(f.type)]
            shortest = pc.min_element_wise(*map(pc.list_value_length, rings), skip_nulls=False)
            ok = pc.fill_null(pc.greater(shortest, 0), False)
            if not pc.all(ok).as_py():
                tbl = tbl.filter(ok).combine_chunks()
            if tbl.num_rows:
                kept = tbl.select(out_cols).filter(pa.array(keep(tbl)))
                yield from kept.combine_chunks().to_batches()

        buf, n = [], 0
        for batch in batches:
            buf.append(batch)
            n += batch.num_rows
            if n >= _REFINE_CHUNK:
                yield from decide(buf)
                buf, n = [], 0
        if n:
            yield from decide(buf)

    return pairs.mapInArrow(run, schema=schema)


def _polygons_keep():
    """Footprint x ring polygon-intersects kernel of the refine, its
    verdicts MEMOIZED per distinct geometry pair (r7): co-registered
    scene stacks repeat footprints exactly, so a hotspot's millions of
    (same footprint, same AOI) pairs pay one test each — the key is the
    raw coordinate bytes, so equality is exact, never hash-trusted."""
    verdicts: dict[bytes, bool] = {}

    def keep(tbl) -> np.ndarray:
        fl = _ring_views(tbl.column("footprint_lon"))
        fa = _ring_views(tbl.column("footprint_lat"))
        rl = _ring_views(tbl.column("ring_lon"))
        ra = _ring_views(tbl.column("ring_lat"))
        keys = [
            fl[i].tobytes() + fa[i].tobytes() + b"|" + rl[i].tobytes() + ra[i].tobytes()
            for i in range(len(fl))
        ]
        miss = [i for i, k in enumerate(keys) if verdicts.get(k) is None]
        if miss:
            got = geometry.polygon_intersects_pairwise(
                [fl[i] for i in miss],
                [fa[i] for i in miss],
                [rl[i] for i in miss],
                [ra[i] for i in miss],
            )
            if len(verdicts) > 200_000:  # bound worker memory (~60 MB)
                verdicts.clear()
            for i, v in zip(miss, got):
                verdicts[keys[i]] = bool(v)
        return np.fromiter((verdicts[k] for k in keys), dtype=bool, count=len(keys))

    return keep


def spatial_join_bruteforce(images: DataFrame, aois: DataFrame) -> DataFrame:
    """O(n*m) oracle: cross join + exact refine.  Small scale only —
    used by tests to prove the indexed join's output rows match exactly
    (BASELINE.json:14)."""
    cand = images.select("image_id", "footprint_lon", "footprint_lat").crossJoin(
        F.broadcast(aois.select("aoi_id", "ring_lon", "ring_lat"))
    )
    return _refine(cand, _polygons_keep, ["image_id", "aoi_id"], "image_id string, aoi_id string")


def _pip_candidates(
    points: DataFrame, aois: DataFrame, id_col: str, lon_col: str, lat_col: str, res: int
) -> DataFrame:
    """Candidate phase of ``points_in_aois``: (point, AOI) pairs whose
    point lies in the ring's bbox, with the ring and its box flag."""
    pts = points.withColumn("cell", cell_key(res, *point_ixy(F.col(lon_col), F.col(lat_col), res)))
    # per-ring bounds are plain columns computed BEFORE the cell join
    # (r7): lon_interval's CASE WHEN + filter-lambda tree in the join
    # condition was re-evaluated PER CANDIDATE PAIR (minutes in
    # HashJoin.boundCondition on a hot sf1.0 cell)
    r_lon0, r_lon1 = lon_interval(F.col("ring_lon"))
    aoi_cells = with_cells(
        aois.select(
            "aoi_id", "ring_lon", "ring_lat",
            axis_aligned_box(F.col("ring_lon"), F.col("ring_lat")).alias("_abox"),
            r_lon0.alias("_rl0"), r_lon1.alias("_rl1"),
            F.array_min("ring_lat").alias("_rlat0"),
            F.array_max("ring_lat").alias("_rlat1"),
        ),
        "ring_lon",
        "ring_lat",
        res,
    )
    # the relational point-in-bbox pre-refine (circular in lon) kills
    # most false candidates; for axis-aligned box AOIs it IS exact
    return (
        pts.join(aoi_cells, "cell")
        .filter(
            (F.pmod(F.col(lon_col) - F.col("_rl0"), F.lit(360.0))
             <= (F.col("_rl1") - F.col("_rl0")))
            & (F.col(lat_col) >= F.col("_rlat0"))
            & (F.col(lat_col) <= F.col("_rlat1"))
        )
        .select(id_col, lon_col, lat_col, "aoi_id", "_abox", "ring_lon", "ring_lat")
    )


def points_in_aois(
    points: DataFrame,
    aois: DataFrame,
    id_col: str = "point_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int = DEFAULT_RES,
    keep_coords: bool = False,
) -> DataFrame:
    """Point-in-polygon join: cell equi-join + exact PIP refine.

    The point side only needs one cell per point (point_ixy — pure
    relational arithmetic, no UDF); the AOI side gets a polygon cover.

    keep_coords=True additionally returns the point's (lon_col,
    lat_col) columns — they already ride the candidate join, so callers
    that need coordinates per pair (point sampling's fold) avoid
    re-joining the point table against the full pair set (r7).
    """
    cand = _pip_candidates(points, aois, id_col, lon_col, lat_col, res)
    out_cols = [id_col, lon_col, lat_col, "aoi_id"] if keep_coords else [id_col, "aoi_id"]

    def pip(tbl) -> np.ndarray:
        return geometry.points_in_rings_pairwise(
            tbl.column(lon_col).to_numpy(),
            tbl.column(lat_col).to_numpy(),
            _ring_views(tbl.column("ring_lon")),
            _ring_views(tbl.column("ring_lat")),
        )

    # branch split at the Python boundary (r7): box-AOI pairs are
    # DECIDED by the bbox test and leave on a JVM-only branch; only
    # non-box rings carry their geometry into the exact PIP refine
    decided_ids = cand.filter(F.col("_abox")).select(*out_cols)
    hard = cand.filter(~F.col("_abox")).select(
        id_col, lon_col, lat_col, "aoi_id", "ring_lon", "ring_lat"
    )
    # typed from the input, so a point id of any type works; declared
    # nullable, so the plan does not depend on the input's nullability
    schema = T.StructType(
        [T.StructField(f.name, f.dataType) for f in hard.select(*out_cols).schema]
    )
    return decided_ids.unionByName(_refine(hard, lambda: pip, out_cols, schema))
