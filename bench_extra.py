"""Per-query / per-phase measurement harness for optimization work.

NOT part of the frozen driver contract (bench.py is the measured
artifact); this file exists so single queries and internal phases can
be timed in isolation (guide §1.4: noop sink) without paying the full
bench run.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py q1 q2 ...
    python bench_extra.py --list
    python bench_extra.py --reps 3 zonal_stats

Prints one JSON line per query: {"name": ..., "secs": [...], "min": ..., "rows": N}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyspark.sql.functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
import bench as benchmod  # noqa: E402
from ukis_pysat_spark.operators import (  # noqa: E402
    change,
    dedup,
    graph,
    knn,
    mosaic,
    multimodal,
    pointsample,
    polygonize,
    rasterize,
    spatial_join,
    terrain,
    texture,
    tiling,
    transforms,
    zonal,
)
from ukis_pysat_spark import sinks  # noqa: E402
from ukis_pysat_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def noop(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return -1


def _sj_cand_ids(images, aois, res):
    """spatial_join's FILTER phase only: cell cover join + bbox overlap
    + pair dedup (the ids-only candidate set, no geometry re-attach, no
    Python refine)."""
    from ukis_pysat_spark.operators.spatial_join import lon_interval, with_cells
    i_lon0, i_lon1 = lon_interval(F.col("footprint_lon"))
    img_cells = with_cells(
        images.select("image_id", "footprint_lon", "footprint_lat"),
        "footprint_lon", "footprint_lat", res,
    ).select(
        "image_id", "cell",
        i_lon0.alias("i_lon0"), i_lon1.alias("i_lon1"),
        F.array_min("footprint_lat").alias("i_lat_min"),
        F.array_max("footprint_lat").alias("i_lat_max"),
    )
    from ukis_pysat_spark.operators.spatial_join import lon_intervals_overlap
    a_lon0, a_lon1 = lon_interval(F.col("ring_lon"))
    aoi_cells = with_cells(
        aois.select("aoi_id", "ring_lon", "ring_lat", "lat_min", "lat_max"),
        "ring_lon", "ring_lat", res,
    ).select(
        "aoi_id", "cell",
        a_lon0.alias("a_lon0"), a_lon1.alias("a_lon1"),
        "lat_min", "lat_max",
    )
    return (
        img_cells.join(aoi_cells, ["cell"])
        .filter(
            lon_intervals_overlap(
                F.col("i_lon0"), F.col("i_lon1"), F.col("a_lon0"), F.col("a_lon1")
            )
            & (F.col("i_lat_min") <= F.col("lat_max"))
            & (F.col("i_lat_max") >= F.col("lat_min"))
        )
        .select("image_id", "aoi_id")
        .dropDuplicates(["image_id", "aoi_id"])
    )


def build_registry(spark, sf: float):
    base = f"/tmp/upss_bench_sf{sf}"
    paths = benchmod.materialize_synthetic(spark, sf, base)
    images_p, aois_p, meta_p, toa_img_p, toa_meta_p, hashes_p = paths
    images = spark.read.parquet(images_p)
    aois = spark.read.parquet(aois_p)
    metadata = spark.read.parquet(meta_p)
    toa_images = spark.read.parquet(toa_img_p)
    toa_metadata = spark.read.parquet(toa_meta_p)
    hashes = spark.read.parquet(hashes_p)

    qs = entrymod.queries_unfolded()

    bench_pts = images.where(
        F.substring("image_id", 4, 8).cast("long") % 16 == 0
    ).select(
        F.concat(F.lit("pt"), F.col("image_id")).alias("point_id"),
        ((F.array_min("footprint_lon") + F.array_max("footprint_lon")) / 2).alias("lon"),
        ((F.array_min("footprint_lat") + F.array_max("footprint_lat")) / 2).alias("lat"),
    )

    reg = {
        # --- headline queries (same construction as bench.py) ---
        "tile_windows": lambda: tiling.tile_windows(images, 32, 32, 4).count(),
        "tile_pixels": lambda: tiling.tile_pixels(images, 32, 32, 4).count(),
        "spatial_join": lambda: spatial_join.spatial_join(images, aois, res=12).count(),
        "zonal_stats": lambda: zonal.zonal_stats(images, aois, res=12).count(),
        "rasterize": lambda: rasterize.rasterize(images, aois, res=12).count(),
        "mosaic_median": lambda: mosaic.composite(
            images, [0.01, 0.0, -20.0, 0.0, -0.01, 60.0], 6000, 3000,
            tile=256, method="median", out_dtype="float32",
        ).count(),
        "polygonize": lambda: polygonize.polygonize(images, band=0, quantize=256.0).count(),
        "knn": lambda: knn.knn(images, aois, k=5).count(),
        "knn_indexed": lambda: knn.knn_indexed(images, aois, k=5, res=6, ring=2).count(),
        "change_stats": lambda: change.change_stats(images, images, threshold=1.0).count(),
        "band_hist": lambda: multimodal.band_histogram(images, 32, 0.0, 4096.0).count(),
        "glcm": lambda: texture.glcm_features(images, levels=16).count(),
        "zonal_mode": lambda: zonal.zonal_mode(images, aois, res=12).count(),
        "hillshade": lambda: transforms.apply_transforms(
            images, [terrain.hillshade()], out_fmt="raw"
        ).count(),
        "viewshed": lambda: transforms.apply_transforms(
            images, [terrain.viewshed((64, 64), oh=2.0, maxdist=24)], out_fmt="raw"
        ).count(),
        "point_sample": lambda: pointsample.sample_points(images, bench_pts, res=12).count(),
        "dn2toa_stats": lambda: transforms.dn2toa_stats(images, metadata).count(),
        "dn2toa_pixels": lambda: transforms.dn2toa(toa_images, toa_metadata).count(),
        "gtiff_roundtrip": lambda: sinks.from_geotiff(
            sinks.to_geotiff(toa_images, compression="deflate")
        ).count(),
        "phash_neardup": lambda: dedup.phash_neardup(hashes, max_hamming=4).count(),
        "embedding_neardup_blocked": lambda: dedup.embedding_neardup_blocked(
            spark.read.parquet(f"{SF_DIR}/embeddings.parquet"), threshold=0.35
        ).count(),
        "dedup_clusters_blocked": lambda: graph.connected_components(
            dedup.embedding_neardup_blocked(
                spark.read.parquet(f"{SF_DIR}/embeddings.parquet"), threshold=0.35
            )
        ).count(),
        # --- phase probes (noop-isolated internals) ---
        "ph_zonal_fold": lambda: noop(
            spatial_join.spatial_join(
                images.select("image_id", "footprint_lon", "footprint_lat"),
                aois, res=12,
            )
            .join(aois.select("aoi_id", "ring_lon", "ring_lat"), "aoi_id")
            .groupBy("image_id")
            .agg(F.collect_list(F.struct("aoi_id", "ring_lon", "ring_lat")).alias("aois"))
        ),
        "ph_simhash_col": lambda: noop(
            dedup.simhash64_col(entrymod._t(spark, SF_DIR, "documents"))
        ),
        "ph_simhash_blocks": lambda: noop(
            dedup.hamming_blocks(
                dedup.simhash64_col(entrymod._t(spark, SF_DIR, "documents")),
                "doc_id", "sh64", 6, 64,
            )
        ),
        "ph_phash_blocks": lambda: noop(
            dedup.hamming_blocks(
                hashes.select("image_id", "phash"), "image_id", "phash", 4, 64
            )
        ),
        "ph_sj_cand": lambda: noop(_sj_cand_ids(images, aois, 12)),
        "ph_ngram_choose": lambda: int(
            dedup.choose_prefix_filter(entrymod._t(spark, SF_DIR, "documents"), 3)
        ),
        "ngram_prefix": lambda: dedup.ngram_jaccard_pairs(
            entrymod._t(spark, SF_DIR, "documents"), n=3, threshold=0.4,
            prefix_filter=True,
        ).count(),
        "ngram_naive": lambda: dedup.ngram_jaccard_pairs(
            entrymod._t(spark, SF_DIR, "documents"), n=3, threshold=0.4,
            prefix_filter=False,
        ).count(),
        "ph_dn2toa_noop": lambda: noop(transforms.dn2toa(toa_images, toa_metadata)),
        # point_sample phase probes
        "ph_psamp_cand": lambda: spatial_join._pip_candidates(
            bench_pts,
            images.select(
                F.col("image_id").alias("aoi_id"),
                F.col("footprint_lon").alias("ring_lon"),
                F.col("footprint_lat").alias("ring_lat"),
            ),
            "point_id", "lon", "lat", res=12,
        ).count(),
        "ph_psamp_pairs": lambda: spatial_join.points_in_aois(
            bench_pts,
            images.select(
                F.col("image_id").alias("aoi_id"),
                F.col("footprint_lon").alias("ring_lon"),
                F.col("footprint_lat").alias("ring_lat"),
            ),
            res=12,
        ).count(),
        "ph_psamp_fold": lambda: noop(
            spatial_join.points_in_aois(
                bench_pts,
                images.select(
                    F.col("image_id").alias("aoi_id"),
                    F.col("footprint_lon").alias("ring_lon"),
                    F.col("footprint_lat").alias("ring_lat"),
                ),
                res=12,
            )
            .withColumnRenamed("aoi_id", "image_id")
            .join(
                bench_pts.select(
                    "point_id",
                    F.col("lon").alias("plon"),
                    F.col("lat").alias("plat"),
                ),
                "point_id",
            )
            .groupBy("image_id")
            .agg(
                F.collect_list(
                    F.struct(F.col("point_id").alias("pid"), "plon", "plat")
                ).alias("pts")
            )
        ),
        "ph_psamp_noop": lambda: noop(
            pointsample.sample_points(images, bench_pts, res=12)
        ),
        "ph_gtiff_write_noop": lambda: noop(
            sinks.to_geotiff(toa_images, compression="deflate")
        ),
    }

    # driver-table queries from the entry module
    for name in [
        "q1_pricing", "revenue_by_nation", "events_by_type", "doc_profile",
        "exact_dedup", "ann_topk", "minhash_lsh_docs", "simhash_docs",
        "ngram_jaccard", "scene_meta_profile", "revenue_rollup", "ivf_ann_topk",
        "pip_points_in_boxes", "knn_points", "events_sessions", "doc_chunks",
        "bm25_topk",
    ]:
        reg[name] = lambda n=name: qs[n](spark, SF_DIR).count()
    return reg


def main() -> None:
    args = [a for a in sys.argv[1:]]
    reps = 2
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    sf = benchmod._sf_of(SF_DIR)
    spark = get_spark("bench-extra", master=f"local[{CPUS}]", shuffle_partitions=max(CPUS, 8))
    reg = build_registry(spark, sf)
    if "--list" in args:
        print("\n".join(sorted(reg)))
        return
    for name in args:
        fn = reg[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        fn()  # warm-up
        secs = []
        n = 0
        for _ in range(reps):
            t0 = time.perf_counter()
            n = fn()
            secs.append(round(time.perf_counter() - t0, 3))
        print(json.dumps({"name": name, "secs": secs, "min": min(secs), "rows": n, "sf": sf}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
