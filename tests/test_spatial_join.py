"""Spatial join: indexed filter-and-refine must match the brute-force
O(n*m) oracle EXACTLY (BASELINE.json:14 'matching the reference's join
output rows')."""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from ukis_pysat_spark import datagen
from ukis_pysat_spark.operators import geometry, knn, spatial_join
from tests import geometry_oracle as oracle
from tests.conftest import aois_pdf


def _pairs(df):
    return set((r.image_id, r.aoi_id) for r in df.collect())


def _intersects(a, b) -> bool:
    """The production kernel polygon_intersects_pairwise on one pair."""
    return bool(geometry.polygon_intersects_pairwise(
        [np.asarray(a[0], float)], [np.asarray(a[1], float)],
        [np.asarray(b[0], float)], [np.asarray(b[1], float)],
    )[0])


def test_pip_oracle_agreement():
    # pure-numpy PIP sanity against a hand-built polygon
    ring_x = np.array([0.0, 2.0, 2.0, 0.0])
    ring_y = np.array([0.0, 0.0, 2.0, 2.0])
    px = np.array([1.0, 3.0, -0.1, 1.999])
    py = np.array([1.0, 1.0, 0.5, 0.001])
    assert geometry.points_in_polygon(px, py, ring_x, ring_y).tolist() == [
        True, False, False, True]


def test_polygon_intersects_cases():
    sq = (np.array([0, 2, 2, 0.0]), np.array([0, 0, 2, 2.0]))
    far = (np.array([5, 6, 6, 5.0]), np.array([5, 5, 6, 6.0]))
    inside = (np.array([0.5, 1.5, 1.5, 0.5]), np.array([0.5, 0.5, 1.5, 1.5]))
    crossing = (np.array([1, 3, 3, 1.0]), np.array([1, 1, 3, 3.0]))
    # containment without vertex-in: big diamond around the square
    diamond = (np.array([-3, 1, 5, 1.0]), np.array([1, -3, 1, 5.0]))
    assert not _intersects(sq, far)
    assert _intersects(sq, inside)
    assert _intersects(sq, crossing)
    assert _intersects(sq, diamond)
    assert _intersects(diamond, sq)


def test_cover_contains_point_cells(spark):
    """The relational cell index (point_ixy + cell_key, with_cells)
    equals its numpy oracle cell for cell: points at +-180, +-90 and at
    random, and ring covers of random, seam, pole and wrapping rings."""
    ring_lon = np.array([10.0, 10.5, 10.5, 10.0, 10.0])
    ring_lat = np.array([50.0, 50.0, 50.4, 50.4, 50.0])
    cover = set(oracle.cover_polygon(ring_lon, ring_lat, 12).tolist())
    pts = oracle.cell_of_points(
        np.array([10.1, 10.49, 10.25]), np.array([50.05, 50.39, 50.2]), 12
    )
    assert set(pts.tolist()) <= cover

    res = 8
    rng = np.random.Generator(np.random.Philox(key=np.uint64(8)))
    edge_lon = [-180.0, 180.0, 0.0, -180.0 + 360.0 / 256 * 3, 179.999999]
    edge_lat = [-90.0, 90.0, 0.0, -90.0 + 180.0 / 256 * 5, -89.999999]
    lon = np.concatenate([np.repeat(edge_lon, 5), rng.uniform(-180, 180, 280)])
    lat = np.concatenate([np.tile(edge_lat, 5), rng.uniform(-90, 90, 280)])
    pdf = pd.DataFrame({"pid": np.arange(len(lon)), "lon": lon, "lat": lat})
    cell = spatial_join.cell_key(res, *spatial_join.point_ixy(F.col("lon"), F.col("lat"), res))
    got = spark.createDataFrame(pdf).select("pid", cell.alias("cell")).toPandas()
    got = got.sort_values("pid")["cell"].to_numpy()
    assert got.tolist() == oracle.cell_of_points(lon, lat, res).tolist()

    rings = [
        _box_ring(170.0, 180.0, 0.0, 1.0),       # east edge exactly +180
        _box_ring(-180.0, -170.0, 0.0, 1.0),     # west edge exactly -180
        _box_ring(178.0, -178.0, 0.0, 2.0),      # wraps
        _box_ring(10.0, 20.0, 80.0, 90.0),       # touches the north pole
        _box_ring(10.0, 20.0, -90.0, -80.0),     # touches the south pole
        _box_ring(179.0, -179.0, 85.0, 90.0),    # wraps at the pole
    ]
    for _ in range(196):  # random star-shaped rings, some across the seam
        m = int(rng.integers(4, 9))
        t = np.sort(rng.uniform(0, 2 * np.pi, m))
        r = rng.uniform(0.3, 1.0, m)
        x = rng.uniform(-180, 180) + rng.uniform(0.05, 20) * r * np.cos(t)
        y = rng.uniform(-85, 85) + rng.uniform(0.05, 10) * r * np.sin(t)
        x = (x + 180.0) % 360.0 - 180.0
        y = np.clip(y, -90.0, 90.0)
        rings.append((list(np.append(x, x[0])), list(np.append(y, y[0]))))
    ring_df = spark.createDataFrame(
        [(i, [float(v) for v in rl], [float(v) for v in ra]) for i, (rl, ra) in enumerate(rings)],
        "rid int, ring_lon array<double>, ring_lat array<double>",
    )
    covers = {}
    for row in spatial_join.with_cells(ring_df, "ring_lon", "ring_lat", res).collect():
        covers.setdefault(row.rid, []).append(row.cell)
    n_wrap = 0
    for i, (rl, ra) in enumerate(rings):
        rl, ra = np.asarray(rl), np.asarray(ra)
        if rl.max() - rl.min() > 180.0:  # wraps: west > east
            n_wrap += 1
            exp = oracle.cover_bbox(rl[rl >= 0].min(), ra.min(), rl[rl < 0].max(), ra.max(), res)
        else:
            exp = oracle.cover_polygon(rl, ra, res)
        assert sorted(covers[i]) == sorted(exp.tolist()), (i, rl, ra)
    assert n_wrap >= 5


def test_knn_ring_matches_numpy_neighbors(spark):
    """The relational ring neighborhood of the indexed kNN equals the
    numpy oracle: with k above the candidate count the raw ring answer
    holds exactly the points whose cell is in neighbors(centroid cell),
    across the antimeridian and at the pole."""
    res, ring = 6, 2
    n = 1 << res
    ix, iy = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    lon = -180.0 + (ix.ravel() + 0.5) * 360.0 / n
    lat = -90.0 + (iy.ravel() + 0.5) * 180.0 / n
    pts = spark.createDataFrame(pd.DataFrame(
        {"point_id": [f"p{i}" for i in range(lon.size)], "lon": lon, "lat": lat}
    ))
    centroids = [("seam_pole", -179.9, 88.0), ("mid", 3.0, -10.0), ("seam", 179.5, 1.0)]
    aois = spark.createDataFrame(
        centroids, "aoi_id string, centroid_lon double, centroid_lat double"
    )
    got = {
        (r.aoi_id, r.point_id)
        for r in knn._knn_ring(pts, aois, 1000, res, ring, "point_id", "lon", "lat").collect()
    }
    pt_cells = oracle.cell_of_points(lon, lat, res)
    exp = set()
    for aoi_id, clon, clat in centroids:
        c = int(oracle.cell_of_points(np.array([clon]), np.array([clat]), res)[0])
        hood = set(oracle.neighbors(c, ring).tolist())
        exp |= {(aoi_id, f"p{i}") for i in np.flatnonzero(np.isin(pt_cells, list(hood)))}
    assert got == exp


def test_spatial_join_matches_bruteforce(spark):
    imgs = datagen.gen_images(spark, 120, profile="bench", skew_frac=0.3)
    aois = datagen.gen_aois(spark, 60, skew_frac=0.3)
    got = _pairs(spatial_join.spatial_join(imgs, aois, res=12))
    exp = _pairs(spatial_join.spatial_join_bruteforce(imgs, aois))
    assert got == exp
    assert len(exp) > 0  # fixture produces real overlaps


_SKEW_SPLIT_CONF = {
    # no broadcast, so the cell join is a sort-merge join AQE can split
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
}


def test_spatial_join_aqe_skew_split_matches_bruteforce(spark):
    """The one skew path: on a hotspot corpus AQE splits the hot cells
    of the sort-merge cell join, and the rows still equal brute force."""
    imgs = datagen.gen_images(spark, 100, profile="bench", skew_frac=0.8)
    aois = datagen.gen_aois(spark, 50, skew_frac=0.8)
    saved = {k: spark.conf.get(k, None) for k in _SKEW_SPLIT_CONF}
    try:
        for k, v in _SKEW_SPLIT_CONF.items():
            spark.conf.set(k, v)
        joined = spatial_join.spatial_join(imgs, aois, res=12)
        got = _pairs(joined)
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "SortMergeJoin(skew=true) [cell#" in plan, plan
    assert got == _pairs(spatial_join.spatial_join_bruteforce(imgs, aois))


def test_spatial_join_pathological_skew(spark):
    """SURVEY §7.4 case: 80% of AOIs AND scenes collapse onto one
    hotspot cell; the join must still match brute force exactly."""
    imgs = datagen.gen_images(spark, 100, profile="bench", skew_frac=0.8)
    aois = datagen.gen_aois(spark, 50, skew_frac=0.8)
    exp = _pairs(spatial_join.spatial_join_bruteforce(imgs, aois))
    got = _pairs(spatial_join.spatial_join(imgs, aois, res=12))
    assert got == exp
    assert len(exp) > 100  # the hotspot really is dense


def test_points_in_aois_matches_numpy(spark):
    rng = np.random.Generator(np.random.Philox(key=5))
    n = 400
    pts = pd.DataFrame(
        {
            "point_id": [f"p{i}" for i in range(n)],
            "lon": 8.0 + 8.0 * rng.random(n),
            "lat": 48.0 + 6.0 * rng.random(n),
        }
    )
    aois = aois_pdf(np.arange(30), seed=77)
    pts_df = spark.createDataFrame(pts)
    aois_df = spark.createDataFrame(aois)
    got = set((r.point_id, r.aoi_id) for r in
              spatial_join.points_in_aois(pts_df, aois_df).collect())
    exp = set()
    for a in aois.itertuples(index=False):
        inside = geometry.points_in_polygon(
            pts["lon"].values, pts["lat"].values,
            np.asarray(a.ring_lon), np.asarray(a.ring_lat))
        for pid in pts["point_id"].values[inside]:
            exp.add((pid, a.aoi_id))
    assert got == exp


def test_knn_broadcast_matches_oracle(spark):
    imgs = datagen.gen_images(spark, 80, profile="bench")
    aois = datagen.gen_aois(spark, 12)
    got = knn.knn_broadcast(imgs, aois, k=5).toPandas()
    scenes = knn.scene_centroids(imgs).toPandas()
    exp = knn.knn_bruteforce_oracle(scenes, aois.toPandas(), k=5)
    g = got.sort_values(["aoi_id", "rank"]).reset_index(drop=True)
    e = exp.sort_values(["aoi_id", "rank"]).reset_index(drop=True)
    assert (g["image_id"] == e["image_id"]).all()
    assert np.allclose(g["dist_km"], e["dist_km"])


def test_knn_indexed_matches_broadcast_when_ring_covers(spark):
    imgs = datagen.gen_images(spark, 200, profile="bench")
    aois = datagen.gen_aois(spark, 8)
    exact = knn.knn_broadcast(imgs, aois, k=3).toPandas()
    idx = knn.knn_indexed(imgs, aois, k=3, res=3, ring=2).toPandas()
    g = idx.sort_values(["aoi_id", "rank"]).reset_index(drop=True)
    e = exact.sort_values(["aoi_id", "rank"]).reset_index(drop=True)
    assert (g["image_id"] == e["image_id"]).all()


def _scene_at(image_id: str, lon: float, lat: float):
    # transform places the 100x100 scene's centroid exactly at (lon, lat)
    a = 1e-4
    return (image_id, 100, 100, [a, 0.0, lon - 50 * a, 0.0, -a, lat + 50 * a])


def _scenes_df(spark, pts):
    return spark.createDataFrame(
        [_scene_at(*p) for p in pts],
        "image_id string, w int, h int, transform array<double>",
    )


def _aoi_df(spark, aoi_id, lon, lat):
    return spark.createDataFrame(
        [(aoi_id, lon, lat)], "aoi_id string, centroid_lon double, centroid_lat double"
    )


def _raw_ring(scenes, aoi, k=3, res=6, ring=1):
    """The uncertified ring answer of knn_indexed on a scene table."""
    return knn._knn_ring(knn.scene_centroids(scenes), aoi, k, res, ring, **knn._SCENE_COLS)


def test_knn_indexed_exact_fallback_under_return(spark):
    """VERDICT r2 #4a: all scenes outside the ring -> the raw ring path
    returns ZERO rows; the certified answer must equal knn_broadcast."""
    scenes = _scenes_df(spark, [(f"s{i}", float(i), 40.0) for i in range(10)])
    aoi = _aoi_df(spark, "a0", 0.0, 0.0)  # 40 deg of latitude away
    raw = _raw_ring(scenes, aoi)
    assert raw.count() < 3  # provable under-return
    fixed = knn.knn_indexed(scenes, aoi, k=3, res=6, ring=1).toPandas()
    exact = knn.knn_broadcast(scenes, aoi, k=3).toPandas()
    f = fixed.sort_values("rank").reset_index(drop=True)
    e = exact.sort_values("rank").reset_index(drop=True)
    assert list(f["image_id"]) == list(e["image_id"])
    assert np.allclose(f["dist_km"], e["dist_km"])


def test_knn_indexed_exact_fallback_kth_outside_ring(spark):
    """VERDICT r2 #4b: the nastier case — the ring holds >= k scenes but
    a CLOSER scene sits just outside it.  The certificate (k-th distance
    vs the ring's guaranteed-covered radius) must reject the ring answer
    and the fallback must return the true kNN."""
    # centroid cell at res 6: lon cell 5.625 deg, lat cell 2.8125 deg
    inside_far = [(f"in{i}", 10.9, 5.0 + 0.1 * i) for i in range(3)]  # ~1250 km, inside ring
    outside_near = [("out0", -6.0, 0.1)]  # ~680 km but 2 lon cells away
    scenes = _scenes_df(spark, inside_far + outside_near)
    aoi = _aoi_df(spark, "a0", 0.1, 0.1)
    raw = _raw_ring(scenes, aoi).toPandas()
    assert "out0" not in set(raw["image_id"]), "fixture: out0 must be outside the ring"
    exact = knn.knn_broadcast(scenes, aoi, k=3).toPandas()
    assert exact.sort_values("rank")["image_id"].iloc[0] == "out0"
    fixed = knn.knn_indexed(scenes, aoi, k=3, res=6, ring=1).toPandas()
    f = fixed.sort_values("rank").reset_index(drop=True)
    e = exact.sort_values("rank").reset_index(drop=True)
    assert list(f["image_id"]) == list(e["image_id"])
    assert np.allclose(f["dist_km"], e["dist_km"])


def test_knn_auto_chooser_paths():
    """choose_knn_path: small pair counts take the broadcast scan; big
    ones take the indexed path with a res sized for ~8k candidates per
    ring under a uniform spread."""
    assert knn.choose_knn_path(20_000, 500, k=5) == ("broadcast", 0)
    path, res = knn.choose_knn_path(10**9, 10_000, k=5)
    assert path == "indexed"
    # expected candidates per ring at that res land near the target
    expect = 10**9 * 25 / 4**res
    assert 40 <= expect <= 8 * 40, expect
    assert 4 <= res <= 14
    # res clamps at both ends
    assert knn.choose_knn_path(100, 10**7, k=5)[1] == 4
    assert knn.choose_knn_path(10**15, 10**6, k=1)[1] == 14


def _chooser_res(n_points: int, k: int) -> int:
    """The res choose_knn_path sizes the indexed path at for n_points
    (it does not depend on the AOI count once the pairs pass the
    crossover)."""
    path, res = knn.choose_knn_path(n_points, knn._CROSSOVER_PAIRS, k)
    assert path == "indexed"
    return res


def _assert_knn_equal(got, exp, id_col):
    g = got.sort_values(["aoi_id", "rank"]).reset_index(drop=True)
    e = exp.sort_values(["aoi_id", "rank"]).reset_index(drop=True)
    assert list(g[id_col]) == list(e["image_id"])
    assert np.allclose(g["dist_km"], e["dist_km"])


def test_knn_auto_matches_broadcast_on_both_paths(spark):
    """knn() and both physical paths the chooser picks between (the
    broadcast scan, and the indexed path at the chooser's res) return
    the oracle's rows."""
    imgs = datagen.gen_images(spark, 200, profile="bench")
    aois = datagen.gen_aois(spark, 8)
    scenes = knn.scene_centroids(imgs)
    exp = knn.knn_bruteforce_oracle(scenes.toPandas(), aois.toPandas(), k=3)
    cols = knn._SCENE_COLS
    for got in (
        knn.knn(imgs, aois, k=3),
        knn.knn_points(scenes, aois, k=3, **cols),
        knn.knn_points_indexed(scenes, aois, k=3, res=_chooser_res(200, 3), **cols),
    ):
        _assert_knn_equal(got.toPandas(), exp, "image_id")


def test_knn_indexed_certified_skips_fallback(spark):
    """When the ring is sufficient the certified path must keep the ring
    answer (equal to broadcast) — covering the guard-radius math."""
    imgs = datagen.gen_images(spark, 200, profile="bench")
    aois = datagen.gen_aois(spark, 8)
    exact = knn.knn_broadcast(imgs, aois, k=3).toPandas()
    idx = knn.knn_indexed(imgs, aois, k=3, res=3, ring=2).toPandas()
    g = idx.sort_values(["aoi_id", "rank"]).reset_index(drop=True)
    e = exact.sort_values(["aoi_id", "rank"]).reset_index(drop=True)
    assert (g["image_id"] == e["image_id"]).all()
    assert np.allclose(g["dist_km"], e["dist_km"])


def test_axis_aligned_box_classifier(spark):
    """Box-box candidate pairs skip Python refinement; the classifier
    must accept exactly closed axis-aligned rectangles (either winding)
    and reject quads, bowties, open rings and degenerate boxes."""
    rows = [
        ("rect_ccw", [0.0, 2.0, 2.0, 0.0, 0.0], [0.0, 0.0, 1.0, 1.0, 0.0], True),
        ("rect_cw", [0.0, 0.0, 2.0, 2.0, 0.0], [0.0, 1.0, 1.0, 0.0, 0.0], True),
        # same value sets but self-crossing (bowtie): edges not rectilinear
        ("bowtie", [0.0, 2.0, 0.0, 2.0, 0.0], [0.0, 1.0, 1.0, 0.0, 0.0], False),
        ("diamond", [1.0, 2.0, 1.0, 0.0, 1.0], [0.0, 1.0, 2.0, 1.0, 0.0], False),
        ("open", [0.0, 2.0, 2.0, 0.0, 0.5], [0.0, 0.0, 1.0, 1.0, 0.0], False),
        ("degenerate", [0.0, 0.0, 0.0, 0.0, 0.0], [0.0, 0.0, 1.0, 1.0, 0.0], False),
        ("hexagon", [0.0, 1.0, 2.0, 2.0, 1.0, 0.0], [0.0, 0.0, 1.0, 2.0, 2.0, 0.0], False),
    ]
    df = spark.createDataFrame(
        [(r[0], r[1], r[2]) for r in rows],
        "name string, ring_lon array<double>, ring_lat array<double>",
    ).select(
        "name", spatial_join.axis_aligned_box(F.col("ring_lon"), F.col("ring_lat")).alias("b")
    )
    got = {r.name: r.b for r in df.collect()}
    assert got == {r[0]: r[3] for r in rows}, got


def test_spatial_join_all_box_matches_bruteforce(spark):
    """All-box corpus (the satellite-scene common case): the join runs
    the relational fast path end-to-end and must still match the
    brute-force PIP oracle exactly."""
    imgs = datagen.gen_images(spark, 120, profile="bench", skew_frac=0.3)
    # datagen AOIs alternate boxes and quads; keep only the boxes
    aois = datagen.gen_aois(spark, 40, skew_frac=0.3).filter(
        spatial_join.axis_aligned_box(F.col("ring_lon"), F.col("ring_lat"))
    )
    assert aois.count() > 10
    got = {(r.image_id, r.aoi_id) for r in spatial_join.spatial_join(imgs, aois, res=12).collect()}
    exp = {
        (r.image_id, r.aoi_id)
        for r in spatial_join.spatial_join_bruteforce(imgs, aois).collect()
    }
    assert got == exp


# --- antimeridian + closed-boundary semantics (round 4) -----------------------


def _box_ring(lon_w, lon_e, lat_s, lat_n):
    return (
        [lon_w, lon_e, lon_e, lon_w, lon_w],
        [lat_s, lat_s, lat_n, lat_n, lat_s],
    )


def _aois_from_rings(spark, rows):
    data = []
    for aoi_id, (rlon, rlat) in rows:
        data.append((aoi_id, rlon, rlat,
                     float(np.mean(rlon[:-1])), float(np.mean(rlat[:-1])),
                     min(rlon), min(rlat), max(rlon), max(rlat)))
    return spark.createDataFrame(data, datagen.AOI_SCHEMA)


def _imgs_from_rings(spark, rows):
    return spark.createDataFrame(
        [(i, rlon, rlat) for i, (rlon, rlat) in rows],
        "image_id string, footprint_lon array<double>, footprint_lat array<double>",
    )


def test_spatial_join_antimeridian(spark):
    """Scenes/AOIs straddling +-180: wrapped rings must join across the
    seam, seam-touching pairs count (closed semantics), and a wrapped
    ring must NOT swallow the whole planet (planar-naive behavior)."""
    scenes = [
        ("A", _box_ring(178.0, -178.0, 0.0, 2.0)),   # crosses the seam
        ("C", _box_ring(176.0, 177.0, 0.0, 1.0)),    # mid-east, no wrap
        ("D", _box_ring(170.0, 180.0, 0.0, 1.0)),    # east edge exactly +180
    ]
    aois = [
        ("B1", _box_ring(179.0, 179.5, 0.5, 1.0)),
        ("B2", _box_ring(-179.5, -179.0, 0.5, 1.0)),
        ("B3", _box_ring(0.0, 1.0, 0.0, 1.0)),       # far side of the world
        ("B4", _box_ring(179.0, -179.0, 0.5, 1.0)),  # crosses the seam
        ("B5", _box_ring(-180.0, -170.0, 0.0, 1.0)), # west edge exactly -180
    ]
    imgs = _imgs_from_rings(spark, scenes)
    adf = _aois_from_rings(spark, aois)
    expected = {
        ("A", "B1"), ("A", "B2"), ("A", "B4"), ("A", "B5"),
        ("D", "B1"), ("D", "B4"), ("D", "B5"),
    }
    got = _pairs(spatial_join.spatial_join(imgs, adf, res=12))
    assert got == expected, got
    brute = _pairs(spatial_join.spatial_join_bruteforce(imgs, adf))
    assert brute == expected, brute


def test_points_in_aois_antimeridian(spark):
    """Points near/at +-180 against wrapped box and wrapped NON-box
    AOIs; a planar-naive ring would both lose seam points and gain the
    whole mid-world."""
    quad = (  # seam-crossing trapezoid -> NOT axis-aligned: real PIP path
        [178.0, -178.0, -178.5, 178.5, 178.0],
        [0.0, 0.0, 2.0, 2.0, 0.0],
    )
    aois = [
        ("B4", _box_ring(179.0, -179.0, 0.5, 1.0)),
        ("B5", _box_ring(-180.0, -170.0, 0.0, 1.0)),
        ("Q", quad),
    ]
    pts = [
        ("p1", 179.9, 0.7),    # eastern seam side
        ("p2", -179.9, 0.7),   # western seam side
        ("p3", 0.0, 0.7),      # mid-world: inside the PLANAR span only
        ("p4", 180.0, 0.5),    # exactly on the seam
        ("p5", 177.9, 1.0),    # inside planar quad bbox, outside real quad
    ]
    pts_df = spark.createDataFrame(pts, "point_id string, lon double, lat double")
    adf = _aois_from_rings(spark, aois)
    got = set(
        (r.point_id, r.aoi_id)
        for r in spatial_join.points_in_aois(pts_df, adf).collect()
    )
    expected = {
        ("p1", "B4"), ("p2", "B4"), ("p4", "B4"),
        ("p2", "B5"), ("p4", "B5"),
        ("p1", "Q"), ("p2", "Q"), ("p4", "Q"),
    }
    assert got == expected, got


@pytest.mark.parametrize("keep_coords", [False, True])
def test_points_in_aois_non_string_id(spark, keep_coords):
    """A long point id through the exact PIP refine (a quad AOI is not
    a box): the output keeps the input's id type and nullability."""
    quad = ([10.0, 11.0, 10.5, 9.5, 10.0], [50.0, 50.5, 51.5, 51.0, 50.0])
    pts = spark.createDataFrame(
        [(1, 10.2, 50.6), (2, 9.6, 50.1), (3, 10.4, 51.2)], "point_id long, lon double, lat double"
    )
    out = spatial_join.points_in_aois(
        pts, _aois_from_rings(spark, [("Q", quad)]), keep_coords=keep_coords
    )
    assert out.schema["point_id"].dataType == pts.schema["point_id"].dataType
    assert [f.nullable for f in out.schema] == [True] * len(out.schema)
    inside = geometry.points_in_polygon(
        np.array([10.2, 9.6, 10.4]), np.array([50.6, 50.1, 51.2]), np.array(quad[0]), np.array(quad[1])
    )
    assert sorted(r.point_id for r in out.collect()) == [i + 1 for i in np.flatnonzero(inside)]


def test_knn_indexed_antimeridian(spark):
    """The ring neighborhood must WRAP at +-180: scenes on the far side
    of the seam are genuine ring candidates (not fallback rescues), so
    the RAW pruned ring answer already equals the
    periodic-haversine broadcast top-k."""
    scenes = _scenes_df(
        spark,
        [
            ("s_e1", 179.2, 0.0),
            ("s_e2", 179.8, 0.0),
            ("s_w1", -179.7, 0.0),
            ("s_far", 170.0, 0.0),
        ],
    )
    aoi = _aoi_df(spark, "a0", -179.9, 0.0)
    exact = knn.knn_broadcast(scenes, aoi, k=3).toPandas().sort_values("rank")
    assert list(exact["image_id"]) == ["s_w1", "s_e2", "s_e1"]
    raw = _raw_ring(scenes, aoi).toPandas().sort_values("rank")
    assert list(raw["image_id"]) == list(exact["image_id"])
    assert np.allclose(raw["dist_km"], exact["dist_km"])
    cert = (
        knn.knn_indexed(scenes, aoi, k=3, res=6, ring=1)
        .toPandas()
        .sort_values("rank")
    )
    assert list(cert["image_id"]) == list(exact["image_id"])


def test_boundary_touch_consistent_across_paths(spark):
    """ADVICE r3: closed boundary semantics must not depend on the
    representation.  Abutting rectangles (shared edge / shared corner)
    must join whether the rings classify as axis-aligned boxes (fast
    path) or not (general PIP refine via a redundant midpoint vertex)."""
    box = _box_ring(0.0, 2.0, 0.0, 2.0)
    # same rectangle with a redundant vertex: NOT box-classified
    hexa = ([0.0, 1.0, 2.0, 2.0, 0.0, 0.0], [0.0, 0.0, 0.0, 2.0, 2.0, 0.0])
    edge_touch = _box_ring(2.0, 3.0, 0.0, 2.0)    # shares edge x=2
    corner_touch = _box_ring(2.0, 3.0, 2.0, 3.0)  # shares corner (2,2)
    gap = _box_ring(2.1, 3.0, 0.0, 2.0)
    for scene_ring in (box, hexa):
        imgs = _imgs_from_rings(spark, [("s", scene_ring)])
        adf = _aois_from_rings(
            spark, [("edge", edge_touch), ("corner", corner_touch), ("gap", gap)]
        )
        got = _pairs(spatial_join.spatial_join(imgs, adf, res=12))
        assert got == {("s", "edge"), ("s", "corner")}, (scene_ring, got)


def test_point_on_edge_consistent_across_paths(spark):
    """A point exactly on the rectangle edge is inside (closed), via
    both the box fast path and the general PIP refine."""
    box = _box_ring(0.0, 2.0, 0.0, 2.0)
    hexa = ([0.0, 1.0, 2.0, 2.0, 0.0, 0.0], [0.0, 0.0, 0.0, 2.0, 2.0, 0.0])
    pts = spark.createDataFrame(
        [("edge", 2.0, 1.0), ("corner", 2.0, 2.0), ("out", 2.0001, 1.0)],
        "point_id string, lon double, lat double",
    )
    for name, ring in (("box", box), ("hexa", hexa)):
        adf = _aois_from_rings(spark, [("a", ring)])
        got = {r.point_id for r in spatial_join.points_in_aois(pts, adf).collect()}
        assert got == {"edge", "corner"}, (name, got)


def test_polygon_intersects_boundary_and_wrap_units():
    sq = _box_ring(0.0, 2.0, 0.0, 2.0)
    assert _intersects(sq, _box_ring(2.0, 3.0, 0.0, 2.0))
    assert _intersects(sq, _box_ring(2.0, 3.0, 2.0, 3.0))
    assert not _intersects(sq, _box_ring(2.0001, 3.0, 0.0, 2.0))
    wrap_a = _box_ring(178.0, -178.0, 0.0, 2.0)
    assert _intersects(wrap_a, _box_ring(179.0, 179.5, 0.5, 1.0))
    assert _intersects(wrap_a, _box_ring(-179.5, -179.0, 0.5, 1.0))
    assert not _intersects(wrap_a, _box_ring(0.0, 1.0, 0.0, 1.0))
    # one batch of three pairs gives the same verdicts
    got = geometry.polygon_intersects_pairwise(
        [np.array(wrap_a[0])] * 3,
        [np.array(wrap_a[1])] * 3,
        [np.array(_box_ring(179.0, 179.5, 0.5, 1.0)[0]),
         np.array(_box_ring(-179.5, -179.0, 0.5, 1.0)[0]),
         np.array(_box_ring(0.0, 1.0, 0.0, 1.0)[0])],
        [np.array(_box_ring(179.0, 179.5, 0.5, 1.0)[1]),
         np.array(_box_ring(-179.5, -179.0, 0.5, 1.0)[1]),
         np.array(_box_ring(0.0, 1.0, 0.0, 1.0)[1])],
    )
    assert got.tolist() == [True, True, False]


def test_global_ring_raises(spark):
    """VERDICT r4 #6: a ring whose vertices fill most of the lon circle
    (wrapped reading ALSO spans >= 180 deg) is outside the antimeridian
    convention; the cell cover must fail loudly, not silently mis-cover.
    Ordinary and seam-crossing rings keep working."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    glob = ([0.0, 100.0, 179.0, -179.0, -100.0, 0.0],
            [0.0, 0.0, 1.0, 2.0, 1.0, 0.0])
    imgs = _imgs_from_rings(spark, [("G", glob)])
    with pytest.raises(SparkRuntimeException, match="global ring"):
        spatial_join.with_cells(
            imgs, "footprint_lon", "footprint_lat", 8
        ).collect()
    # the convention cases still pass through the same expression
    ok = _imgs_from_rings(spark, [
        ("N", _box_ring(10.0, 12.0, 0.0, 2.0)),
        ("W", _box_ring(178.0, -178.0, 0.0, 2.0)),
    ])
    cells = spatial_join.with_cells(ok, "footprint_lon", "footprint_lat", 8)
    assert cells.select("image_id").distinct().count() == 2


def test_points_in_rings_pairwise_matches_scalar():
    """The pairwise PIP twin must agree with points_in_polygon row by
    row, including boundary points and an antimeridian ring."""
    rng = np.random.Generator(np.random.Philox(key=np.uint64(41)))
    rings = []
    for i in range(50):
        lon0 = -170.0 + 8.0 * i
        if i % 7 == 0:  # seam-crossing ring
            rlon = np.array([176.0, -176.0, -176.0, 176.0, 176.0])
        else:
            rlon = np.array([lon0, lon0 + 3, lon0 + 3, lon0, lon0]) % 360.0 - 180.0
        rlat = np.array([0.0, 0.0, 4.0, 4.0, 0.0]) + (i % 5)
        rings.append((rlon, rlat))
    px = np.array([(r[0].min() + r[0].max()) / 2.0 if i % 3 else r[0][0]
                   for i, r in enumerate(rings)])
    py = np.array([r[1][0] if i % 4 == 0 else r[1].mean() for i, r in enumerate(rings)])
    px += rng.normal(0, 0.5, size=px.shape)
    got = geometry.points_in_rings_pairwise(
        px, py, [r[0] for r in rings], [r[1] for r in rings]
    )
    exp = np.array([
        bool(geometry.points_in_polygon(px[i:i+1], py[i:i+1], rings[i][0], rings[i][1])[0])
        for i in range(len(rings))
    ])
    assert got.tolist() == exp.tolist()


def test_knn_points_auto_matches_broadcast_on_both_paths(spark):
    """The generic point-table kNN (round 5): knn_points_auto and both
    physical paths (the broadcast scan, and the certified indexed path
    at the chooser's res) return the oracle's rows."""
    rng = np.random.Generator(np.random.Philox(key=np.uint64(9)))
    n = 300
    pdf = pd.DataFrame({
        "point_id": [f"p{i:04d}" for i in range(n)],
        "lon": -20.0 + 50.0 * rng.random(n),
        "lat": 25.0 + 30.0 * rng.random(n),
    })
    pts = spark.createDataFrame(pdf)
    aois = datagen.gen_aois(spark, 7)
    exp = knn.knn_bruteforce_oracle(
        pdf.rename(columns={"point_id": "image_id", "lon": "scene_lon", "lat": "scene_lat"}),
        aois.toPandas(), k=4,
    )
    for got in (
        knn.knn_points_auto(pts, aois, k=4),
        knn.knn_points(pts, aois, k=4),
        knn.knn_points_indexed(pts, aois, k=4, res=_chooser_res(n, 4)),
    ):
        _assert_knn_equal(got.toPandas(), exp, "point_id")


def test_sat_fast_path_adversarial_rings(spark):
    """The r7 relational SAT fast path (box image x convex-certified
    AOI decided in the join) must match the brute-force Python refine
    on rings built to defeat a naive convexity gate: a 5/2 pentagram
    (same-sign crosses, winding 2 — interior is even-odd, NOT the
    hull), a quad with a collinear vertex, a touching-edge quad, and
    ordinary convex diamonds."""
    import math as m

    def ring(pts):
        pts = pts + [pts[0]]
        return [p[0] for p in pts], [p[1] for p in pts]

    # pentagram centered at (0, 0), radius 1
    star = [
        (m.cos(m.radians(90 + 144 * i)), m.sin(m.radians(90 + 144 * i)))
        for i in range(5)
    ]
    diamond = [(0.5, -0.25), (0.75, 0.0), (0.5, 0.25), (0.25, 0.0)]
    collinear = [(-1.0, -1.0), (0.0, -1.0), (1.0, -1.0), (0.0, 1.0)]
    touch = [(1.0, 0.0), (2.0, -1.0), (3.0, 0.0), (2.0, 1.0)]  # touches box x=1 edge
    rows = []
    for i, p in enumerate([star, diamond, collinear, touch]):
        lons, lats = ring(p)
        rows.append((f"aoi{i}", lons, lats, min(lats), max(lats)))
    aois = spark.createDataFrame(
        rows, ["aoi_id", "ring_lon", "ring_lat", "lat_min", "lat_max"]
    )
    # box scenes probing the pentagram's even-odd holes (the center
    # pocket is INSIDE the hull but inside the even-odd interior too
    # for the pentagram core; the notches between arms are not)
    boxes = []
    k = 0
    for cx, cy in [
        (0.0, 0.0), (0.0, 0.55), (0.45, 0.35), (-0.45, 0.35),
        (0.5, 0.0), (0.9, 0.0), (0.0, -0.9), (2.0, 0.0), (0.9, 0.9),
    ]:
        for half in (0.05, 0.12):
            lon0, lon1 = cx - half, cx + half
            lat0, lat1 = cy - half, cy + half
            boxes.append(
                (
                    f"img{k}",
                    [lon0, lon1, lon1, lon0, lon0],
                    [lat1, lat1, lat0, lat0, lat1],
                )
            )
            k += 1
    imgs = spark.createDataFrame(
        boxes, ["image_id", "footprint_lon", "footprint_lat"]
    )
    got = _pairs(spatial_join.spatial_join(imgs, aois, res=8))
    exp = _pairs(spatial_join.spatial_join_bruteforce(imgs, aois))
    assert got == exp


def test_null_and_empty_rings_intersect_nothing(spark):
    """A null or empty ring on either side intersects nothing: the
    brute-force oracle agrees with the indexed join (whose cell cover
    gives such rings no cell), and points_in_aois drops them too."""
    quad = ([0.2, 1.5, 1.2, 0.1, 0.2], [0.2, 0.3, 1.4, 1.1, 0.2])  # not a box
    imgs = spark.createDataFrame(
        [("img_ok", *_box_ring(0.0, 1.0, 0.0, 1.0)), ("img_null", None, None),
         ("img_empty", [], [])],
        "image_id string, footprint_lon array<double>, footprint_lat array<double>",
    )
    aois = _aois_from_rings(
        spark, [("a_near", quad), ("a_far", _box_ring(10.0, 11.0, 10.0, 11.0))]
    ).unionByName(spark.createDataFrame(
        [("a_null", None, None, 0.0, 0.0, None, None, None, None),
         ("a_empty", [], [], 0.0, 0.0, None, None, None, None)],
        datagen.AOI_SCHEMA,
    ))
    expected = {("img_ok", "a_near")}
    assert _pairs(spatial_join.spatial_join(imgs, aois, res=8)) == expected
    assert _pairs(spatial_join.spatial_join_bruteforce(imgs, aois)) == expected
    pts = spark.createDataFrame(
        [("p1", 0.5, 0.5), ("p2", 10.5, 10.5), ("p3", 0.0, 0.0)],
        "point_id string, lon double, lat double",
    )
    got = {(r.point_id, r.aoi_id) for r in spatial_join.points_in_aois(pts, aois, res=8).collect()}
    assert got == {("p1", "a_near"), ("p2", "a_far")}
