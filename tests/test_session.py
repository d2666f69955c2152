"""Per-task and per-query start-up costs that get_spark removes: the
worker daemon's zip re-read skip and the generated-class cache."""

import importlib
import sys
import zipfile
import zipimport

import pyspark.sql.functions as F
import pytest

from ukis_pysat_spark import datagen
from ukis_pysat_spark import pydaemon
from ukis_pysat_spark.operators import dedup, knn, spatial_join, tiling, zonal

lazy_zip_reads = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="invalidate_caches no longer re-reads archives"
)


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@lazy_zip_reads
def test_invalidate_skips_unchanged_and_rereads_changed_zip(tmp_path, monkeypatch):
    """An unchanged archive keeps its parsed directory across
    invalidate_caches(); a rewritten one is read again and its new
    member imports."""
    zp = str(tmp_path / "upss_zip_probe.zip")
    _write_zip(zp, {"upss_zip_probe_a.py": "A = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_if_changed
    )
    monkeypatch.syspath_prepend(zp)
    try:
        assert importlib.import_module("upss_zip_probe_a").A == 1
        imp = sys.path_importer_cache[zp]
        importlib.invalidate_caches()  # first call reads and records the signature
        files = imp._files
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert imp._files is files

        _write_zip(zp, {"upss_zip_probe_a.py": "A = 1\n", "upss_zip_probe_b.py": "B = 2\n"})
        importlib.invalidate_caches()
        assert imp._files is not files
        assert "upss_zip_probe_b.py" in imp._files
        assert importlib.import_module("upss_zip_probe_b").B == 2
    finally:
        for name in ("upss_zip_probe_a", "upss_zip_probe_b"):
            sys.modules.pop(name, None)


@lazy_zip_reads
def test_install_wraps_zipimporter(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    assert not pydaemon.installed()
    assert pydaemon.install()
    assert pydaemon.installed()


def test_addpyfile_zip_imports_in_worker(spark, tmp_path):
    """A zip written now and shipped with addPyFile — the reason pyspark
    invalidates import caches before every task — imports inside a
    mapInArrow UDF, in workers forked from the package's daemon."""
    zp = tmp_path / "upss_pyfile_probe.zip"
    _write_zip(zp, {"upss_pyfile_probe.py": "VALUE = 41\n"})
    spark.sparkContext.addPyFile(str(zp))

    def probe(batches):
        import pyarrow as pa
        import upss_pyfile_probe

        from ukis_pysat_spark import pydaemon

        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {
                    "value": [upss_pyfile_probe.VALUE + 1] * b.num_rows,
                    "installed": [pydaemon.installed()] * b.num_rows,
                }
            )

    rows = (
        spark.range(8, numPartitions=4)
        .mapInArrow(probe, "value long, installed boolean")
        .collect()
    )
    assert len(rows) == 8
    assert {r.value for r in rows} == {42}
    assert {r.installed for r in rows} == {sys.version_info < (3, 12)}


def test_codegen_cache_holds_engine_working_set(spark):
    """Engine queries compiling more than Spark's default 100 generated
    classes must not evict the first query's classes: re-running it
    compiles nothing."""
    images = datagen.gen_images(spark, 200, seed=5, profile="bench", skew_frac=0.2).cache()
    aois = datagen.gen_aois(spark, 20, seed=6, skew_frac=0.2).cache()
    images.count()
    aois.count()
    points = images.select(
        "image_id",
        F.array_min("footprint_lon").alias("lon"),
        F.array_min("footprint_lat").alias("lat"),
    )
    footprints = images.select(
        F.col("image_id").alias("aoi_id"),
        F.col("footprint_lon").alias("ring_lon"),
        F.col("footprint_lat").alias("ring_lat"),
    )
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def first():
        return spatial_join.spatial_join(images, aois, res=12).collect()

    expect = sorted(first())
    for q in (
        lambda: spatial_join.points_in_aois(points, footprints, "image_id", "lon", "lat", res=12),
        lambda: knn.knn(images, aois, k=3),
        lambda: zonal.zonal_stats(images, aois, res=12),
        lambda: tiling.tile_pixels(images, 32, 32, 4),
        lambda: dedup.phash_neardup(images, max_hamming=4),
    ):
        q().collect()
    before = compiles.getCount()
    assert sorted(first()) == expect
    assert compiles.getCount() == before
    images.unpersist()
    aois.unpersist()
