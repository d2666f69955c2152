"""ukis_pysat_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch re-expression of the capabilities of dlr-eoc/ukis-pysat
(reference: /root/reference, v1 ~= upstream 1.5.1) on the Spark DataFrame
API.  The reference is an eager, single-machine rasterio wrapper; this
engine is a distributed, lazy, columnar design:

- images + captions live as rows of a Parquet/Iceberg-style table
  (image_id, bytes, w, h, fmt, caption, phash, + geo columns);
- pixels are decoded ONLY inside ``mapInArrow`` stages on one Arrow
  boundary (operators/arrowio.py) — never per-row Python UDFs, never on
  the driver; raster files enter through the same boundary
  (sources/geotiff.ingest_geotiffs over sinks.from_geotiff);
- raster<->vector operations (footprint cell cover, point-in-polygon,
  kNN) are expressed as cell-keyed equi-joins + numpy refinement so
  Catalyst/AQE pick the physical plan (broadcast vs shuffle, skew split);
- tiling reproduces the reference's sliding-window get_tiles semantics
  (ukis_pysat/raster.py:485-505) as a relational explode (window
  geometry) or a pixel-emitting ``mapInArrow`` stage (tile extraction).

Subpackages:
    codec       in-house deterministic raster byte codec (raw/rawz/q8)
    datagen     seeded synthetic images/aoi/metadata tables
    operators   tiling, transforms, spatial join, kNN, dedup, similarity,
                text analysis, multimodal plumbing
    functions   scene-metadata scalar functions (pure Column expressions)
    plans       lineage/metrics + checkpoint/resume
    session     tuned SparkSession builder
"""

__version__ = "0.1.0"

from ukis_pysat_spark.session import get_spark  # noqa: F401
