"""Per-task and per-query start-up costs that get_spark removes: the
worker daemon's zip re-read skip, its preloaded and frozen worker stack,
and the generated-class cache."""

import importlib
import os
import subprocess
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


def test_workers_inherit_a_frozen_arrow_stack(spark):
    """Workers fork from a daemon that loaded pyarrow, numpy and pandas
    and froze them out of the collector, so the collection a reused
    worker runs after each task walks only the task's own objects."""

    def probe(batches):
        import gc

        import pyarrow as pa

        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {
                    "frozen": [gc.get_freeze_count()] * b.num_rows,
                    "tracked": [len(gc.get_objects())] * b.num_rows,
                }
            )

    rows = spark.range(8, numPartitions=4).mapInArrow(probe, "frozen long, tracked long").collect()
    assert len(rows) == 8
    assert min(r.frozen for r in rows) > 30_000  # the stock daemon freezes nothing
    assert max(r.tracked for r in rows) < 20_000  # a stock worker tracks ~75,000


def test_blas_works_in_forked_workers(spark):
    """numpy started its OpenBLAS threads in the daemon before the fork;
    a matmul in every worker still returns the right product."""

    def matmul(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            ok = []
            for seed in b.column(0).to_pylist():
                rng = np.random.default_rng(seed)
                # large enough for OpenBLAS to split it over its threads;
                # einsum without optimize multiplies in numpy's own loops
                x, y = rng.random((256, 192)), rng.random((192, 224))
                want = np.einsum("ik,kj->ij", x, y, optimize=False)
                ok.append(bool(np.allclose(x @ y, want)))
            yield pa.RecordBatch.from_pydict({"ok": ok})

    rows = spark.range(16, numPartitions=4).mapInArrow(matmul, "ok boolean").collect()
    assert [r.ok for r in rows] == [True] * 16


def test_importing_pydaemon_loads_no_dataframe_stack():
    """The preload runs only when the daemon runs as ``__main__``: the
    driver, which imports the module to name it, keeps pandas and
    pyarrow out (a fresh interpreter, since the tests import pandas)."""
    code = (
        "import sys; import ukis_pysat_spark.pydaemon; "
        "print(sorted(m for m in ('pandas', 'pyarrow') if m in sys.modules))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.stdout.split() == ["[]"]


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


def test_codegen_class_reused_under_another_stage_id(spark):
    """A plan that runs again as another whole-stage codegen stage (here
    the second input of a union; under adaptive execution the order in
    which stages finish) reuses its generated class."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    first = spark.range(32).selectExpr("id * 1009 + 2 AS v").where("v % 3 = 2")
    second = spark.range(64).selectExpr("id * 1013 + 3 AS v").where("v % 5 = 1")
    first.collect()
    second.collect()  # codegen stage 1, as `first` was
    before = compiles.getCount()
    assert len(first.unionByName(second).collect()) == 11 + 13  # `second` is stage 2
    assert compiles.getCount() == before


def _vm_option(spark, name: str) -> str:
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return bean.getVMOption(name).getValue()


def test_driver_jvm_runs_the_jit_and_memory_policy(spark):
    """The JVM get_spark launched runs one C1 and one C2 compiler thread
    and bounds direct memory at 8 GB."""
    assert _vm_option(spark, "CICompilerCount") == "2"
    assert _vm_option(spark, "MaxDirectMemorySize") == str(8 << 30)


def test_callers_java_options_add_to_the_policy(tmp_path):
    """A caller's ``spark.driver.extraJavaOptions`` (perfbench passes its
    own) reaches the JVM next to get_spark's flags instead of replacing
    them (a fresh interpreter, since the test session's JVM is up)."""
    code = (
        "import sys; from ukis_pysat_spark.session import get_spark\n"
        "s = get_spark('java-options-probe', master='local[1]', extra_conf={\n"
        "    'spark.driver.extraJavaOptions': '-Djava.io.tmpdir=' + sys.argv[1]})\n"
        "rt = s._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()\n"
        "print('\\n'.join(rt.getInputArguments()))\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path)], capture_output=True, text=True, check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))), timeout=300,
    )
    args = out.stdout.split()
    assert f"-Djava.io.tmpdir={tmp_path}" in args
    assert {"-XX:CICompilerCount=2", "-XX:MaxDirectMemorySize=8g"} <= set(args)
