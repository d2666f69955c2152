"""Capture .explain('formatted') for the optimization-round queries.

    python tools/capture_plans.py OUTDIR [corpus] [sf_dir]

Run once with the round-start tree on PYTHONPATH and once with the
working tree to produce the plans/r07/<query>_{before,after}.txt pairs
the judge checks plan claims against.  Queries whose optimization is
Python-stage-internal keep an identical plan; the pair documents that.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.getcwd())

import pyspark.sql.functions as F  # noqa: E402


def main() -> None:
    outdir = sys.argv[1]
    corpus = sys.argv[2] if len(sys.argv) > 2 else "/tmp/upss_bench_sf0.1"
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    os.makedirs(outdir, exist_ok=True)

    from ukis_pysat_spark.operators import (
        dedup, knn, pointsample, polygonize, rasterize, spatial_join, terrain,
        tiling, transforms, zonal,
    )
    from ukis_pysat_spark import sinks
    from ukis_pysat_spark.session import get_spark

    # the benchmarked session's conf (broadcast threshold, batch sizes),
    # so the captured plans are the plans that ran
    spark = get_spark("capture-plans", master="local[8]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    images = spark.read.parquet(f"{corpus}/images")
    aois = spark.read.parquet(f"{corpus}/aois")
    toa_images = spark.read.parquet(f"{corpus}/toa_images")
    toa_metadata = spark.read.parquet(f"{corpus}/toa_metadata")
    hashes = spark.read.parquet(f"{corpus}/hashes")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    qs = {
        "zonal_stats": lambda: zonal.zonal_stats(images, aois, res=12),
        "zonal_mode": lambda: zonal.zonal_mode(images, aois, res=12),
        "rasterize": lambda: rasterize.rasterize(images, aois, res=12),
        "spatial_join": lambda: spatial_join.spatial_join(images, aois, res=12),
        "polygonize": lambda: polygonize.polygonize(images, band=0, quantize=256.0),
        "phash_neardup": lambda: dedup.phash_neardup(hashes, max_hamming=4),
        "simhash_docs": lambda: dedup.simhash_pairs(docs, max_hamming=6),
        "ngram_jaccard": lambda: dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.4),
        "gtiff_roundtrip": lambda: sinks.from_geotiff(
            sinks.to_geotiff(toa_images, compression="deflate")
        ),
        "viewshed": lambda: transforms.apply_transforms(
            images, [terrain.viewshed((64, 64), oh=2.0, maxdist=24)], out_fmt="raw"
        ),
        "dn2toa_pixels": lambda: transforms.dn2toa(toa_images, toa_metadata),
        "tile_pixels": lambda: tiling.tile_pixels(images, 32, 32, 4),
        "knn_indexed": lambda: knn.knn_indexed(images, aois, k=5, res=6, ring=2),
        "point_sample": lambda: pointsample.sample_points(
            images,
            images.where(
                F.substring("image_id", 4, 8).cast("long") % 16 == 0
            ).select(
                F.concat(F.lit("pt"), F.col("image_id")).alias("point_id"),
                ((F.array_min("footprint_lon") + F.array_max("footprint_lon")) / 2).alias("lon"),
                ((F.array_min("footprint_lat") + F.array_max("footprint_lat")) / 2).alias("lat"),
            ),
            res=12,
        ),
    }
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name, fn in qs.items():
        try:
            df = fn()
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as e:  # noqa: BLE001
            plan = f"EXPLAIN FAILED: {type(e).__name__}: {e}"
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(plan)
        print(name, "written", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
