"""Physical-plan shape assertions — the 100 TB contract.

These tests pin the properties that make the operators scale: column
pruning reaching the parquet scan, broadcast joins for small sides,
and zero Python evaluation in relational stages.  They read plans, not
rows, so they are cheap and catch silent plan regressions.
"""

import numpy as np
import pyspark.sql.functions as F
import pytest

from ukis_pysat_spark import datagen, sinks
from ukis_pysat_spark.operators import (
    arrowio, change, contour, dedup, histmatch, knn, multimodal, pansharpen,
    polygonize, spatial_join, texture, tiling, transforms,
)
from tests.conftest import SF_DIR, aois_pdf


@pytest.fixture(scope="module")
def images_parquet(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "images")
    datagen.gen_images(spark, 24, profile="bench").write.mode("overwrite").parquet(p)
    return p


@pytest.fixture(scope="module")
def metadata_parquet(spark, images_parquet):
    """The metadata table, materialized so that datagen's own MapInArrow
    source does not show up in the stage plans under audit."""
    p = images_parquet + "_meta_plan"
    datagen.gen_metadata(spark, 24, profile="bench").write.mode("overwrite").parquet(p)
    return p


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_tile_windows_prunes_bytes(spark, images_parquet):
    """Window-geometry queries must never read the payload column: the
    parquet ReadSchema must exclude `bytes` entirely."""
    images = spark.read.parquet(images_parquet)
    plan = _plan(tiling.tile_windows(images, 32, 32, 4))
    scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln or "ReadSchema" in ln]
    assert scan_lines, plan
    assert all("bytes" not in ln for ln in scan_lines), scan_lines
    # pure JVM: no Python eval anywhere
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow"):
        assert marker not in plan, marker


def test_spatial_join_filter_stage_is_jvm(spark, images_parquet, tmp_path):
    """The candidate-generation (cell cover + equi-join + dedup) stage
    must contain no Python nodes; the ONLY Python in the whole join is
    the final exact-refine — a mapInArrow stage since round 5 (raw
    RecordBatch accumulation, no pandas block assembly)."""
    images = spark.read.parquet(images_parquet)
    datagen.gen_aois(spark, 10).write.parquet(str(tmp_path / "aois"))
    aois = spark.read.parquet(str(tmp_path / "aois"))
    plan = _plan(spatial_join.spatial_join(images, aois, res=12))
    # r7 shape: a Union of (JVM-decided pairs) and (hard pairs ->
    # exact refine).  The ONLY MapInArrow in the whole join plan is
    # that refine; relationally decided pairs never reach Python (the
    # aoi side is read from Parquet, so datagen's own stage is not in
    # the plan).
    assert "Union" in plan
    assert plan.count("MapInArrow") == 1  # the hard-pair refine only
    assert "ArrowEvalPython" not in plan  # no pandas-UDF cell cover


def test_knn_below_crossover_is_broadcast_window_topk(spark, images_parquet):
    """Below choose_knn_path's crossover knn() plans the broadcast scan:
    a BroadcastNestedLoopJoin feeding a WindowGroupLimit partial top-k
    before the shuffle, all JVM (the AOIs come from a local table, so
    no fixture Python node either)."""
    images = spark.read.parquet(images_parquet)
    aois = spark.createDataFrame(aois_pdf(np.arange(5)))
    plan = _plan(knn.knn(images, aois, k=3))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert any(
        "WindowGroupLimit" in ln and ln.endswith("Partial") for ln in plan.splitlines()
    ), plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow"):
        assert marker not in plan, marker


def test_dn2toa_broadcasts_metadata(spark, images_parquet, metadata_parquet):
    images = spark.read.parquet(images_parquet)
    meta = spark.read.parquet(metadata_parquet)
    plan = _plan(transforms.dn2toa_stats(images, meta))
    # round 5: the fused stats stage is Arrow-native like its siblings
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan.split("BroadcastHashJoin")[0], plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_minhash_candidate_shuffle_is_narrow(spark):
    """The bucket self-join must not carry the shingle arrays: no `sh`
    column may appear inside an Exchange below the pair-dedup."""
    docs = spark.createDataFrame(
        [(i, f"w{i} " * 20) for i in range(20)], ["doc_id", "text"]
    )
    plan = _plan(dedup.minhash_lsh_pairs(docs, n=3, n_hashes=32, bands=8))
    # find hashpartitioning exchanges on `bucket`: their column lists
    # must be (doc_id, bucket) only
    for ln in plan.splitlines():
        if "hashpartitioning" in ln and "bucket" in ln:
            assert "sh#" not in ln, ln


def _eval_types(plan: str) -> list[str]:
    """The eval type closing each ArrowEvalPython node of `plan`."""
    return [ln.rsplit(", ", 1)[-1] for ln in plan.splitlines() if "ArrowEvalPython" in ln]


def test_sketch_udfs_are_arrow_udfs(spark):
    """minhash's band buckets, lsh's hyperplane buckets and ivf's list
    assignment are Arrow UDFs (eval type 250), not pandas UDFs (200);
    each query plans one on each side of its bucket join."""
    from ukis_pysat_spark.operators import similarity

    docs = spark.createDataFrame([(i, f"w{i} " * 20) for i in range(20)], ["doc_id", "text"])
    e = spark.createDataFrame(
        [(i, [float(i), 1.0, -1.0]) for i in range(20)], "vec_id long, embedding array<float>"
    )
    q = e.filter("vec_id < 3").selectExpr("vec_id AS query_id", "embedding AS query_vec")
    centroids = np.eye(3)
    for df in (
        dedup.minhash_lsh_pairs(docs, n=3, n_hashes=32, bands=8),
        similarity.lsh_ann(e, q, k=2),
        similarity.ivf_ann(e, q, k=2, n_probe=2, centroids=centroids),
    ):
        plan = _plan(df)
        assert _eval_types(plan) == ["250", "250"], plan
        assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, plan


@pytest.mark.parametrize("gen", [
    lambda spark: datagen.gen_images(spark, 8, profile="bench"),
    lambda spark: datagen.gen_aois(spark, 8),
    lambda spark: datagen.gen_metadata(spark, 8),
], ids=["gen_images", "gen_aois", "gen_metadata"])
def test_datagen_generators_are_one_arrow_stage(spark, gen):
    plan = _plan(gen(spark))
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_exact_dedup_partial_aggregation(spark):
    docs = spark.createDataFrame([(i, f"t {i % 5}") for i in range(50)], ["doc_id", "text"])
    plan = _plan(dedup.exact_dedup(docs))
    # map-side partial agg before the exchange
    assert "partial_" in plan.lower() or "HashAggregate" in plan
    assert plan.index("HashAggregate") < plan.index("Exchange")


def test_image_emitting_stages_are_map_in_arrow(spark, images_parquet, metadata_parquet):
    """Round 3: the payload-emitting stages (apply_transforms, dn2toa,
    cast_images) must run as a single MapInArrow above the (possibly
    broadcast-joined) scan — no MapInPandas, no extra Python nodes."""
    from ukis_pysat_spark import sinks

    images = spark.read.parquet(images_parquet)
    meta = spark.read.parquet(metadata_parquet)
    for df in (
        transforms.apply_transforms(images, [transforms.pixel_math(lambda a: a + 1)]),
        transforms.dn2toa(images, meta),
        sinks.cast_images(images, dtype="min"),
    ):
        plan = _plan(df)
        assert plan.count("MapInArrow") == 1, plan
        assert "MapInPandas" not in plan, plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    # dn2toa keeps the metadata side broadcast
    plan = _plan(transforms.dn2toa(images, meta))
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan, plan


def test_ivf_training_sample_is_take_ordered(spark):
    """The IVF coarse-quantizer training sample must stay a bounded
    TakeOrderedAndProject (per-partition top-K heap, no global sort
    exchange) — a full Sort over the embeddings table would turn the
    fixed-size model fit into a data-scale shuffle."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sample = (
        emb.select("vec_id", "embedding")
        .orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(64)
    )
    plan = _plan(sample)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_multimodal_stages_are_map_in_arrow(spark, images_parquet):
    """Round 4: the multimodal operators (decode_stats, resize_images,
    frame_sample) must each run as a single MapInArrow above the scan —
    no MapInPandas, no per-row Python eval nodes."""
    from ukis_pysat_spark.operators import multimodal

    images = spark.read.parquet(images_parquet)
    for df in (
        multimodal.decode_stats(images),
        multimodal.resize_images(images, 32, 32),
        multimodal.frame_sample(images, every_n=2),
    ):
        plan = _plan(df)
        assert plan.count("MapInArrow") == 1, plan
        assert "MapInPandas" not in plan, plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_sessionize_single_user_exchange(spark):
    """sessionize: ONE hash exchange on the user key serves both the
    lag/running-sum window and the session aggregate (HashPartitioning
    on user_id satisfies the grouping's ClusteredDistribution on
    (user_id, session_idx)) — no second shuffle."""
    from ukis_pysat_spark.operators import events as ev

    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = _plan(ev.sessionize(e, gap_minutes=30))
    import re

    hashes = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(hashes) == 1, plan
    assert "user_id" in hashes[0] and "session_idx" not in hashes[0], hashes


def test_zonal_rasterize_plan_shape(spark, images_parquet, tmp_path_factory):
    """zonal_stats, zonal_mode and rasterize run exactly ONE Arrow stage (the
    stats/burn stage — since r7 their pair source is the relational
    bbox candidate superset, so the spatial-join exact-refine Arrow
    stage is gone: the window mask is the exact test), zero
    MapInPandas / per-row Python, with the folded AOI side broadcast;
    the footprint-only scans never read the payload column."""
    from ukis_pysat_spark.operators import rasterize, zonal

    pa_ = str(tmp_path_factory.mktemp("plans") / "aois")
    datagen.gen_aois(spark, 10).write.mode("overwrite").parquet(pa_)
    images = spark.read.parquet(images_parquet)
    aois = spark.read.parquet(pa_)
    for df in (
        zonal.zonal_stats(images, aois, res=8),
        zonal.zonal_mode(images, aois, res=8),
        rasterize.rasterize(images, aois, res=8),
    ):
        plan = _plan(df)
        assert plan.count("MapInArrow") == 1, plan
        assert "MapInPandas" not in plan, plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
        fp_scans = [
            ln
            for ln in plan.splitlines()
            if "FileScan" in ln and "footprint_lon" in ln
        ]
        assert fp_scans and all("bytes" not in ln for ln in fp_scans), fp_scans


def test_mosaic_plan_shape(spark, images_parquet):
    """Round 5: the composite is ONE contribution MapInArrow above a
    pure-relational tile cover, ONE tile-key exchange, and the COO
    stack as FlatMapGroupsInArrow — no other shuffles, no pandas."""
    from ukis_pysat_spark.operators import mosaic

    images = spark.read.parquet(images_parquet)
    plan = _plan(
        mosaic.composite(images, [0.01, 0.0, -20.0, 0.0, -0.01, 60.0], 6000, 3000)
    )
    assert plan.count("MapInArrow") == 1, plan
    assert "FlatMapGroupsIn" in plan, plan
    assert "MapInPandas" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_polygonize_plan_single_arrow_stage(spark, images_parquet):
    """Round 5: polygonize is ONE MapInArrow above the scan — region
    extraction never shuffles the payload."""
    from ukis_pysat_spark.operators import polygonize

    images = spark.read.parquet(images_parquet)
    plan = _plan(polygonize.polygonize(images, band=0, quantize=256.0))
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan, plan
    assert "Exchange" not in plan, plan


def test_terrain_chain_single_arrow_stage(spark, images_parquet):
    """Round 5: a chained terrain pipeline (slope -> focal in ONE
    apply_transforms) is a single MapInArrow with zero exchanges, and
    to_pixels over it adds exactly one more Arrow stage — per-pixel
    materialization never shuffles payloads."""
    from ukis_pysat_spark.operators import pixels, terrain

    images = spark.read.parquet(images_parquet)
    chained = transforms.apply_transforms(
        images, [terrain.slope(), terrain.focal("mean", 3)], out_fmt="raw"
    )
    plan = _plan(chained)
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan and "Exchange" not in plan, plan

    plan2 = _plan(pixels.to_pixels(chained))
    assert plan2.count("MapInArrow") == 2, plan2
    assert "Exchange" not in plan2, plan2


def test_proximity_grid_plan_shape(spark, images_parquet):
    """Round 5: proximity_grid's tile payloads must NOT cross the
    strip shuffle — only the coordinate-strip rows exchange, and the
    halo join is a broadcast/left join onto the stationary tiles."""
    from ukis_pysat_spark.operators import proximity as prox

    images = spark.read.parquet(images_parquet)
    tiles = images.select("image_id", "bytes", "transform", "nodata")
    plan = _plan(
        prox.proximity_grid(
            tiles, [0.25, 0.0, -10.0, 0.0, -0.25, 60.0], tile=128, maxdist=8.0
        )
    )
    assert plan.count("MapInArrow") == 2, plan
    assert "MapInPandas" not in plan, plan
    # every exchange partitions on the strip keys, never on payload rows
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "dtx" in m.group(1) or "dty" in m.group(1), m.group(1)


def test_sampling_and_contour_stay_jvm_or_single_stage(spark, images_parquet):
    from ukis_pysat_spark.operators import contour as ct
    from ukis_pysat_spark.operators import sampling

    images = spark.read.parquet(images_parquet)
    plan = _plan(ct.contour(images, [100.5]))
    assert plan.count("MapInArrow") == 1 and "Exchange" not in plan, plan

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    splan = _plan(sampling.split_assign(docs, {"a": 0.5, "b": 0.5}, "doc_id"))
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "Exchange"):
        assert marker not in splan, marker


def test_session3_ops_plan_shapes(spark, images_parquet):
    """Round-5 session-3 operators keep their scale contracts: the
    terrain hydrology/texture chain and equalize run as ONE MapInArrow
    payload stage; trend_series is one series exchange + one
    FlatMapGroupsInArrow; histmatch is one payload equi-join + one
    Arrow stage; funnel and bm25 never leave the JVM."""
    import numpy as np

    from ukis_pysat_spark.operators import (
        events as events_ops,
        histmatch,
        indices,
        terrain,
        text,
        timeseries,
    )

    images = spark.read.parquet(images_parquet)

    # chained hydrology + texture + index + equalize: ONE Arrow stage
    chain = transforms.apply_transforms(
        images,
        [
            terrain.flow_accum(),
            terrain.stream_order(),
            terrain.lbp(),
            transforms.equalize(),
        ],
        out_fmt="raw",
    )
    plan = _plan(chain)
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan

    # morphology open (a 2-fn chain) also fuses into the same stage
    plan = _plan(
        transforms.apply_transforms(
            images, terrain.morphology("open"), out_fmt="raw"
        )
    )
    assert plan.count("MapInArrow") == 1

    # trend: exactly one exchange (series key) + one grouped Arrow stage
    ts = images.select(
        F.col("image_id").alias("series_id"),
        F.lit(0.0).alias("epoch"),
        "bytes", "transform", "nodata",
    )
    plan = _plan(timeseries.trend_series(ts))
    assert "FlatMapGroupsInArrow" in plan
    assert plan.count("Exchange") == 1, plan

    # histmatch: one equi-join, one Arrow stage, no pandas
    plan = _plan(histmatch.match_histogram(images, images))
    assert plan.count("MapInArrow") == 1
    assert "MapInPandas" not in plan

    # funnel + bm25: pure JVM
    ev = spark.createDataFrame(
        [(1, "2025-01-01 00:00:00", 1, "view")],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    for q in (
        events_ops.funnel(ev, ["view", "click"]),
        text.bm25_topk(
            spark.createDataFrame([(0, "a b")], "doc_id long, text string"),
            "a",
        ),
    ):
        p = _plan(q)
        for marker in ("ArrowEvalPython", "BatchEvalPython",
                       "MapInPandas", "MapInArrow"):
            assert marker not in p, marker



_STATS_DDL = (
    "image_id string, band int, mean double, std double, "
    "min double, max double, n_valid long"
)
_RASTER_DDL = (
    "image_id string, bytes binary, w int, h int, fmt string, bands int, "
    "dtype string, crs string, transform array<double>, nodata double"
)
_IMAGES_DDL = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, bands int, dtype string, crs string, "
    "transform array<double>, nodata double, "
    "footprint_lon array<double>, footprint_lat array<double>, "
    "platform string"
)
_METADATA_DDL = (
    "image_id string, platform string, sun_elevation double, "
    "mult_reflectance array<double>, add_reflectance array<double>, "
    "mult_radiance array<double>, add_radiance array<double>, "
    "k1 array<double>, k2 array<double>, "
    "quantification_value double, radio_add_offset array<double>, "
    "processing_baseline double, thermal_band_idx array<int>"
)
_AOI_DDL = (
    "aoi_id string, ring_lon array<double>, ring_lat array<double>, "
    "centroid_lon double, centroid_lat double, "
    "lon_min double, lat_min double, lon_max double, lat_max double"
)


def _grid_stage(images):
    rows_fn = polygonize._grid_rows([1.0, 0.0, 0.0, 0.0, -1.0, 0.0], 256, 128, 0, None)
    return arrowio.map_rows(
        images, ["bytes", "transform", "nodata"], rows_fn, polygonize.GRID_STAGE_SCHEMA
    )


# (stage, builder over (images, metadata), the output schema DDL the
# stage declared by hand before its Arrow schema became the only one)
_ARROW_ROW_STAGES = [
    ("decode_stats", lambda im, meta: multimodal.decode_stats(im), _STATS_DDL),
    ("compute_phash", lambda im, meta: multimodal.compute_phash(im),
     "image_id string, phash long"),
    ("band_histogram", lambda im, meta: multimodal.band_histogram(im, 16, 0.0, 4096.0),
     "image_id string, band int, bin int, count long"),
    ("resize_images", lambda im, meta: multimodal.resize_images(im, 8, 8),
     "image_id string, bytes binary, w int, h int, caption string"),
    ("change_stats", lambda im, meta: change.change_stats(im, im),
     "image_id string, band int, n_valid long, mean_diff double, "
     "min_diff double, max_diff double, rmse double, n_changed long"),
    ("change_mask", lambda im, meta: change.change_mask(im, im, 1.0),
     "image_id string, bytes binary, w int, h int, fmt string, bands int, "
     "dtype string, transform array<double>, n_changed long"),
    ("contour", lambda im, meta: contour.contour(im, [100.0]),
     "image_id string, band int, level double, r int, c int, "
     "x0 double, y0 double, x1 double, y1 double"),
    ("glcm_features", lambda im, meta: texture.glcm_features(im),
     "image_id string, band int, n_pairs long, contrast double, "
     "dissimilarity double, homogeneity double, energy double"),
    ("valid_data_bbox", lambda im, meta: transforms.valid_data_bbox(im),
     "image_id string, left double, bottom double, right double, top double"),
    ("dn2toa_stats", transforms.dn2toa_stats, _STATS_DDL),
    ("dn2toa", transforms.dn2toa, _IMAGES_DDL),
    ("to_geotiff", lambda im, meta: sinks.to_geotiff(im),
     "image_id string, caption string, n_bytes long, tiff binary"),
    ("polygonize", lambda im, meta: polygonize.polygonize(im),
     "image_id string, region_id long, value double, n_pixels long, "
     "r0 int, c0 int, r1 int, c1 int, "
     "left double, top double, right double, bottom double"),
    ("polygonize_grid stage", lambda im, meta: _grid_stage(im),
     "kind int, gid long, value double, n_pixels long, "
     "g_r0 long, g_c0 long, g_r1 long, g_c1 long, ekey long, pos long"),
    ("pansharpen", lambda im, meta: pansharpen.pansharpen(im, im), _RASTER_DDL),
    ("match_histogram", lambda im, meta: histmatch.match_histogram(im, im), _RASTER_DDL),
]


@pytest.mark.parametrize(
    "build, ddl", [s[1:] for s in _ARROW_ROW_STAGES], ids=[s[0] for s in _ARROW_ROW_STAGES]
)
def test_arrow_row_stage_schema_and_plan(spark, images_parquet, metadata_parquet, build, ddl):
    """Every stage on the arrowio emitters derives its Spark schema from
    its Arrow schema: that must equal the DDL it used to declare, and
    the stage must stay ONE MapInArrow with no per-row Python eval."""
    images = spark.read.parquet(images_parquet)
    df = build(images, spark.read.parquet(metadata_parquet))
    assert df.schema.simpleString() == spark.createDataFrame([], ddl).schema.simpleString()
    plan = _plan(df)
    assert plan.count("MapInArrow") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_sources_and_sinks_are_one_arrow_stage(spark, images_parquet, tmp_path):
    """Raster ingest is a JVM projection over from_geotiff's stage, and
    each scene parser is one arrowio stage: every one plans exactly one
    MapInArrow and no MapInPandas.  So does the GeoTIFF file sink, which
    encodes and writes each file in the same row function."""
    from ukis_pysat_spark.sources import geotiff, ingest

    (tmp_path / "scene.tif").write_bytes(b"II*\x00")  # planned, never read
    files = spark.read.format("binaryFile").load(str(tmp_path))
    for df in (
        geotiff.ingest_geotiffs(files),
        ingest.list_scene_idents(files),
        ingest.parse_manifests(files),
        ingest.parse_scene_metadata(files),
        ingest.parse_annotations(files),
    ):
        plan = _plan(df)
        assert plan.count("MapInArrow") == 1, plan
        assert "MapInPandas" not in plan, plan
    images = spark.read.parquet(images_parquet)
    plan = _plan(sinks.write_geotiff_files(images, str(tmp_path / "tifs")))
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan, plan
    # datagen's Spark schemas, derived from arrowio's Arrow ones, equal
    # the DDL they were written in before
    assert datagen.IMAGES_SCHEMA == spark.createDataFrame([], _IMAGES_DDL).schema
    assert datagen.METADATA_SCHEMA == spark.createDataFrame([], _METADATA_DDL).schema
    assert datagen.AOI_SCHEMA == spark.createDataFrame([], _AOI_DDL).schema
