"""The one query registry of the measurement tools: query name -> a
function of the bench inputs that builds the DataFrame the query runs.

It holds every leaf of ``bench.py``, built exactly as bench.py builds
it: the 23 timed operator queries on the synthetic corpus bench.py
materializes, and the 17 driver queries of
``__spark_entry__.queries_unfolded()`` on ``$SPARK_GRAFT_SF_DIR``.  The
phase probes (``ph_*``) build one stage of an operator's own plan.
``run`` executes a query the way bench.py does (``count()``), a probe
into the noop sink, which materializes every column.

``bench_extra.py`` times registry queries and ``tools/plans.py`` writes
their plans, both on the session of ``session.get_spark``'s defaults.
"""

from __future__ import annotations

import os
import sys
from functools import cached_property

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
import bench  # noqa: E402
from ukis_pysat_spark import sinks  # noqa: E402
from ukis_pysat_spark.operators import (  # noqa: E402
    change,
    dedup,
    graph,
    knn,
    mosaic,
    multimodal,
    overviews,
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

# bench.py's driver-query leaves, in its order
DRIVER_QUERIES = [
    "q1_pricing", "revenue_by_nation", "events_by_type", "doc_profile",
    "exact_dedup", "ann_topk", "minhash_lsh_docs", "simhash_docs",
    "ngram_jaccard", "scene_meta_profile", "revenue_rollup", "ivf_ann_topk",
    "pip_points_in_boxes", "knn_points", "events_sessions", "doc_chunks",
    "bm25_topk",
]
_SYNTHETIC = ("images", "aois", "metadata", "toa_images", "toa_metadata", "hashes")


class Inputs:
    """bench.py's inputs in one session.  The synthetic tables (the
    attributes named in ``_SYNTHETIC``) are materialized on first use,
    under the directory bench.py uses."""

    def __init__(self, spark, sf_dir: str = bench.SF_DIR):
        self.spark = spark
        self.sf_dir = sf_dir
        self.sf = bench._sf_of(sf_dir)

    def __getattr__(self, name):
        if name not in _SYNTHETIC:
            raise AttributeError(name)
        paths = bench.materialize_synthetic(self.spark, self.sf, f"/tmp/upss_bench_sf{self.sf}")
        for n, p in zip(_SYNTHETIC, paths):
            setattr(self, n, self.spark.read.parquet(p))
        return getattr(self, name)

    def table(self, name: str):
        return entry._t(self.spark, self.sf_dir, name)

    @cached_property
    def bench_pts(self):
        """bench.py's point_sample points: every 16th scene's center."""
        images = self.images
        return images.where(F.substring("image_id", 4, 8).cast("long") % 16 == 0).select(
            F.concat(F.lit("pt"), F.col("image_id")).alias("point_id"),
            ((F.array_min("footprint_lon") + F.array_max("footprint_lon")) / 2).alias("lon"),
            ((F.array_min("footprint_lat") + F.array_max("footprint_lat")) / 2).alias("lat"),
        )

    @cached_property
    def footprints(self):
        """The image footprints as AOI rings, as sample_points joins them."""
        return self.images.select(
            F.col("image_id").alias("aoi_id"),
            F.col("footprint_lon").alias("ring_lon"),
            F.col("footprint_lat").alias("ring_lat"),
        )


def _neardup_blocked(t):
    return dedup.embedding_neardup_blocked(t.table("embeddings"), threshold=0.35)


QUERIES = {
    # bench.py's timed leaves
    "tile_windows": lambda t: tiling.tile_windows(t.images, 32, 32, 4),
    "tile_pixels": lambda t: tiling.tile_pixels(t.images, 32, 32, 4),
    "spatial_join": lambda t: spatial_join.spatial_join(t.images, t.aois, res=12),
    "zonal_stats": lambda t: zonal.zonal_stats(t.images, t.aois, res=12),
    "rasterize": lambda t: rasterize.rasterize(t.images, t.aois, res=12),
    "mosaic_median": lambda t: mosaic.composite(
        t.images, [0.01, 0.0, -20.0, 0.0, -0.01, 60.0], 6000, 3000,
        tile=256, method="median", out_dtype="float32",
    ),
    "polygonize": lambda t: polygonize.polygonize(t.images, band=0, quantize=256.0),
    "knn": lambda t: knn.knn(t.images, t.aois, k=5),
    "knn_indexed": lambda t: knn.knn_indexed(t.images, t.aois, k=5, res=6, ring=2),
    "change_stats": lambda t: change.change_stats(t.images, t.images, threshold=1.0),
    "overviews": lambda t: overviews.build_overviews(t.images, factors=(2, 4, 8)),
    "band_hist": lambda t: multimodal.band_histogram(t.images, 32, 0.0, 4096.0),
    "glcm": lambda t: texture.glcm_features(t.images, levels=16),
    "zonal_mode": lambda t: zonal.zonal_mode(t.images, t.aois, res=12),
    "hillshade": lambda t: transforms.apply_transforms(
        t.images, [terrain.hillshade()], out_fmt="raw"
    ),
    "viewshed": lambda t: transforms.apply_transforms(
        t.images, [terrain.viewshed((64, 64), oh=2.0, maxdist=24)], out_fmt="raw"
    ),
    "point_sample": lambda t: pointsample.sample_points(t.images, t.bench_pts, res=12),
    "dn2toa_stats": lambda t: transforms.dn2toa_stats(t.images, t.metadata),
    "dn2toa_pixels": lambda t: transforms.dn2toa(t.toa_images, t.toa_metadata),
    "gtiff_roundtrip": lambda t: sinks.from_geotiff(
        sinks.to_geotiff(t.toa_images, compression="deflate")
    ),
    "phash_neardup": lambda t: dedup.phash_neardup(t.hashes, max_hamming=4),
    "embedding_neardup_blocked": _neardup_blocked,
    "dedup_clusters_blocked": lambda t: graph.connected_components(_neardup_blocked(t)),
    # ngram_jaccard's two candidate paths, each forced
    "ngram_prefix": lambda t: dedup.ngram_jaccard_pairs(
        t.table("documents"), n=3, threshold=0.4, prefix_filter=True
    ),
    "ngram_naive": lambda t: dedup.ngram_jaccard_pairs(
        t.table("documents"), n=3, threshold=0.4, prefix_filter=False
    ),
    # phase probes: one stage of an operator's plan
    "ph_sj_cand": lambda t: spatial_join.candidate_pairs(t.images, t.aois, res=12),
    "ph_zonal_fold": lambda t: zonal._fold_aois(t.images, (), t.aois, 12),
    "ph_simhash_col": lambda t: dedup.simhash64_col(t.table("documents")),
    "ph_simhash_blocks": lambda t: dedup.hamming_blocks(
        dedup.simhash64_col(t.table("documents")), "doc_id", "sh64", 6, 64
    ),
    "ph_phash_blocks": lambda t: dedup.hamming_blocks(
        t.hashes.select("image_id", "phash"), "image_id", "phash", 4, 64
    ),
    "ph_psamp_cand": lambda t: spatial_join._pip_candidates(
        t.bench_pts, t.footprints, "point_id", "lon", "lat", res=12
    ),
    "ph_psamp_pairs": lambda t: spatial_join.points_in_aois(t.bench_pts, t.footprints, res=12),
    # sample_points' fold: the pairs with their coordinates, one row per image
    "ph_psamp_fold": lambda t: spatial_join.points_in_aois(
        t.bench_pts, t.footprints, res=12, keep_coords=True
    )
    .withColumnRenamed("aoi_id", "image_id")
    .groupBy("image_id")
    .agg(
        F.collect_list(
            F.struct(
                F.col("point_id").alias("pid"),
                F.col("lon").alias("plon"),
                F.col("lat").alias("plat"),
            )
        ).alias("pts")
    ),
    "ph_psamp_noop": lambda t: pointsample.sample_points(t.images, t.bench_pts, res=12),
    "ph_dn2toa_noop": lambda t: transforms.dn2toa(t.toa_images, t.toa_metadata),
    "ph_gtiff_write_noop": lambda t: sinks.to_geotiff(t.toa_images, compression="deflate"),
}
for _name in DRIVER_QUERIES:
    QUERIES[_name] = lambda t, n=_name: entry.queries_unfolded()[n](t.spark, t.sf_dir)


def run(name: str, df) -> int:
    """bench.py's action: the row count of a query; -1 for a probe,
    which runs into the noop sink."""
    if name.startswith("ph_"):
        df.write.format("noop").mode("overwrite").save()
        return -1
    return df.count()
