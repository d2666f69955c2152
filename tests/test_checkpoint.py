"""Checkpoint/resume: a killed run resumes from the last committed batch
with no duplicates and the same final result as a one-shot run
(SURVEY.md §5.2 item 4; north-rule resumability requirement)."""

import datetime
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
import pyspark.sql.functions as F

from ukis_pysat_spark import datagen
from ukis_pysat_spark.operators import tiling
from ukis_pysat_spark.plans.checkpoint import (
    CheckpointedRun,
    _batch_id,
    _footer_lineage,
    _planned_tasks,
    run_stage_in_batches,
)


def _transform(batch):
    return tiling.tile_windows(batch, 64, 64, 0)


def _ids(n_batches, buckets=None):
    """The batch ids of ``buckets`` (all by default) of an image_id
    batching into ``n_batches``."""
    return [_batch_id(b, n_batches, "image_id")
            for b in (range(n_batches) if buckets is None else buckets)]


def test_resume_after_injected_failure(spark, tmp_path):
    imgs = datagen.gen_images(spark, 40, profile="bench")
    ckpt = CheckpointedRun(spark, str(tmp_path / "run"), run_id="t1")

    with pytest.raises(RuntimeError, match="injected failure"):
        run_stage_in_batches(ckpt, imgs, "tiles", "image_id", _transform,
                             n_batches=4, fail_after=2)

    partial = ckpt.committed("tiles")
    n_partial = partial.count()
    assert 0 < n_partial

    # resume: completes remaining batches only
    run_stage_in_batches(ckpt, imgs, "tiles", "image_id", _transform, n_batches=4)
    final = ckpt.committed("tiles")

    oneshot = _transform(imgs)
    assert final.count() == oneshot.count()
    # no duplicates
    assert final.select("image_id", "tile_id").distinct().count() == oneshot.count()
    # rerunning again is a no-op (idempotent)
    run_stage_in_batches(ckpt, imgs, "tiles", "image_id", _transform, n_batches=4)
    assert ckpt.committed("tiles").count() == oneshot.count()


def test_metrics_lineage(spark, tmp_path):
    imgs = datagen.gen_images(spark, 20, profile="bench")
    ckpt = CheckpointedRun(spark, str(tmp_path / "run2"), run_id="t2")
    run_stage_in_batches(ckpt, imgs, "tiles", "image_id", _transform, n_batches=2)
    m = ckpt.metrics("tiles")
    rows = m.collect()
    assert all(r.run_id == "t2" and r.stage == "tiles" for r in rows)
    # per-partition row counts sum to the stage total
    assert sum(r.row_count for r in rows) == ckpt.committed("tiles").count()
    # lineage keys are real image ids
    assert all(r.key_min.startswith("img") for r in rows)


def test_metrics_replay_idempotent(spark, tmp_path):
    """A replayed batch (streaming-restart path) must REPLACE its
    lineage rows, not append duplicates that double-count row_count."""
    imgs = datagen.gen_images(spark, 12, profile="bench")
    ckpt = CheckpointedRun(spark, str(tmp_path / "run4"), run_id="t4")
    out = _transform(imgs)
    ckpt.commit_batch(out, "tiles", "image_id", batch_id="b0000")
    once = ckpt.metrics("tiles").collect()
    total_once = sum(r.row_count for r in once)
    ckpt.commit_batch(out, "tiles", "image_id", batch_id="b0000")  # replay
    twice = ckpt.metrics("tiles").collect()
    assert sum(r.row_count for r in twice) == total_once
    assert len(twice) == len(once)


def test_uncommitted_batch_ignored(spark, tmp_path):
    imgs = datagen.gen_images(spark, 10, profile="bench")
    base = tmp_path / "run3"
    ckpt = CheckpointedRun(spark, str(base), run_id="t3")
    run_stage_in_batches(ckpt, imgs, "tiles", "image_id", _transform, n_batches=1)
    n = ckpt.committed("tiles").count()
    # simulate a torn write: a batch dir without _SUCCESS
    torn = base / "tiles" / "batch=b9999"
    torn.mkdir(parents=True)
    (torn / "part-00000.parquet").write_bytes(b"garbage")
    assert ckpt.committed("tiles").count() == n


def test_checkpoint_resume_iceberg_mode(spark, tmp_path):
    """The SAME resume/idempotence flow through the Iceberg writeTo
    path (snapshot commits, overwritePartitions replay).  Skips cleanly
    when no Iceberg catalog is configured (no runtime jar ships in this
    environment); on a catalog-backed cluster it runs for real."""
    from ukis_pysat_spark.plans import checkpoint as cp

    if not cp.iceberg_catalog_available(spark, "ice"):
        with pytest.raises(ValueError, match="not resolvable"):
            CheckpointedRun(spark, "ice_run", run_id="t5", catalog="ice")
        pytest.skip("no Iceberg catalog 'ice' configured")

    imgs = datagen.gen_images(spark, 24, profile="bench")
    ckpt = CheckpointedRun(spark, f"ice_run_{tmp_path.name}", run_id="t5",
                           catalog="ice")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_stage_in_batches(ckpt, imgs, "tiles", "image_id", _transform,
                             n_batches=4, fail_after=2)
    assert 0 < ckpt.committed("tiles").count()
    run_stage_in_batches(ckpt, imgs, "tiles", "image_id", _transform, n_batches=4)
    oneshot = _transform(imgs)
    assert ckpt.committed("tiles").count() == oneshot.count()
    # replay a batch: overwritePartitions must keep metrics single-counted
    m = ckpt.metrics("tiles")
    total = sum(r.row_count for r in m.collect())
    assert total == oneshot.count()


def test_commit_is_one_spark_job(spark, tmp_path, count_jobs):
    """Parquet-mode commit = the data write only; lineage comes from the
    footers it wrote (it used to re-read them in 3 more jobs)."""
    out = _transform(datagen.gen_images(spark, 12, profile="bench"))
    ckpt = CheckpointedRun(spark, str(tmp_path / "run"), run_id="j1")
    _, jobs = count_jobs(lambda: ckpt.commit_batch(out, "tiles", "image_id", batch_id="b0000"))
    assert jobs == 1
    assert sum(r.row_count for r in ckpt.metrics("tiles").collect()) == 12 * 4


def test_second_commit_compiles_nothing(spark, tmp_path):
    """Nothing commit-specific (batch id, timestamp) reaches generated
    code, so committing the same plan again reuses every class."""
    out = _transform(datagen.gen_images(spark, 12, profile="bench"))
    ckpt = CheckpointedRun(spark, str(tmp_path / "run"), run_id="j2")
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    ckpt.commit_batch(out, "tiles", "image_id", batch_id="b0000")
    before = compiles.getCount()
    ckpt.commit_batch(out, "tiles", "image_id", batch_id="b0001")
    assert compiles.getCount() == before


def _planning(transform, plans):
    def run(batch):
        plans.append(batch._jdf.queryExecution().optimizedPlan().toString())
        return transform(batch)
    return run


def test_resume_unchanged_batching_skips_anti_join(spark, tmp_path, count_jobs):
    imgs = datagen.gen_images(spark, 40, profile="bench")
    base = str(tmp_path / "run")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_stage_in_batches(CheckpointedRun(spark, base), imgs, "tiles", "image_id",
                             _transform, n_batches=4, fail_after=2)
    plans = []
    reopened = CheckpointedRun(spark, base)
    _, jobs = count_jobs(lambda: run_stage_in_batches(
        reopened, imgs, "tiles", "image_id", _planning(_transform, plans), n_batches=4))
    assert len(plans) == 2 and jobs == 2  # one job per pending batch
    assert not any("LeftAnti" in p for p in plans)
    final = reopened.committed("tiles")
    assert final.count() == final.select("image_id", "tile_id").distinct().count() == 40 * 4


def test_changed_batching_resumes_exactly_once_without_anti_join(spark, tmp_path):
    """Crash at n_batches=2, resume at n_batches=4: each pending bucket
    drops the keys the committed mod-2 bucket covers, a column predicate
    with no join, and no tile is written twice or lost."""
    imgs = datagen.gen_images(spark, 40, profile="bench")
    ckpt = CheckpointedRun(spark, str(tmp_path / "run"))
    with pytest.raises(RuntimeError, match="injected failure"):
        run_stage_in_batches(ckpt, imgs, "tiles", "image_id", _transform,
                             n_batches=2, fail_after=1)
    plans = []
    run_stage_in_batches(ckpt, imgs, "tiles", "image_id", _planning(_transform, plans),
                         n_batches=4)
    assert len(plans) == 4 and not any("LeftAnti" in p for p in plans)
    oneshot = _transform(imgs)

    def assert_exactly_once():
        final = ckpt.committed("tiles").drop("src_partition")
        assert final.count() == final.select("image_id", "tile_id").distinct().count()
        assert final.exceptAll(oneshot).count() == 0 == oneshot.exceptAll(final).count()

    assert_exactly_once()
    # the stage now mixes batchings: losing the last commit redoes that
    # bucket alone, less the keys the mod-2 bucket covers
    plans.clear()
    shutil.rmtree(tmp_path / "run" / "tiles" / f"batch={_ids(4, [3])[0]}")
    run_stage_in_batches(ckpt, imgs, "tiles", "image_id", _planning(_transform, plans),
                         n_batches=4)
    assert len(plans) == 1 and not any("LeftAnti" in p for p in plans)
    assert_exactly_once()


def test_shrunk_batching_commits_uncovered_buckets(spark, tmp_path):
    """Crash at n_batches=4 after buckets 0 and 1, resume at 2: those
    ids hold only the mod-4 buckets 0 and 1, so both mod-2 buckets are
    pending and commit their keys less the covered ones under ids naming
    the new batching, which a further resume at 2 treats as final."""
    imgs = datagen.gen_images(spark, 40, profile="bench")
    ckpt = CheckpointedRun(spark, str(tmp_path / "run"))
    with pytest.raises(RuntimeError, match="injected failure"):
        run_stage_in_batches(ckpt, imgs, "tiles", "image_id", _transform,
                             n_batches=4, fail_after=2)
    run_stage_in_batches(ckpt, imgs, "tiles", "image_id", _transform, n_batches=2)
    oneshot = _transform(imgs)
    final = ckpt.committed("tiles").drop("src_partition")
    assert final.count() == final.select("image_id", "tile_id").distinct().count()
    assert final.exceptAll(oneshot).count() == 0 == oneshot.exceptAll(final).count()
    assert ckpt._committed_ids("tiles") == {*_ids(4, [0, 1]), *_ids(2)}
    plans = []
    run_stage_in_batches(ckpt, imgs, "tiles", "image_id", _planning(_transform, plans),
                         n_batches=2)
    assert plans == []


def test_resume_rebuilds_missing_lineage(spark, tmp_path):
    """A process that dies between the data commit and the lineage write
    leaves a committed batch without lineage; the resume rebuilds it."""
    imgs = datagen.gen_images(spark, 20, profile="bench")
    base = tmp_path / "run"
    ckpt = CheckpointedRun(spark, str(base))
    with pytest.raises(RuntimeError, match="injected failure"):
        run_stage_in_batches(ckpt, imgs, "tiles", "image_id", _transform,
                             n_batches=4, fail_after=1)
    shutil.rmtree(base / "_metrics" / "tiles" / f"batch={_ids(4, [0])[0]}")
    run_stage_in_batches(ckpt, imgs, "tiles", "image_id", _transform, n_batches=4)
    per_batch = {}
    for r in ckpt.metrics("tiles").collect():
        per_batch[r.batch_id] = per_batch.get(r.batch_id, 0) + r.row_count
    assert sorted(per_batch) == _ids(4)
    assert sum(per_batch.values()) == ckpt.committed("tiles").count() == 20 * 4


def _assert_footer_lineage_exact(spark, ckpt, stage, key_col, batch_id):
    committed = spark.read.parquet(f"{ckpt.base}/{stage}/batch={batch_id}")
    want = sorted(
        tuple(r) for r in committed.groupBy("src_partition").agg(
            F.count("*"),
            F.min(key_col).cast("string"),
            F.max(key_col).cast("string"),
        ).collect()
    )
    got = sorted(
        (r.src_partition, r.row_count, r.key_min, r.key_max)
        for r in ckpt.metrics(stage).where(F.col("batch_id") == batch_id).collect()
    )
    assert got == want
    return want


def _frame(spark, parts, key_type):
    """Partition ``i`` holds exactly ``parts[i]`` (no shuffle, so each
    list becomes one ``src_partition``), with a payload column."""
    rdd = spark.sparkContext.parallelize(range(len(parts)), len(parts)).flatMap(
        lambda i: [(k, "x" * 40) for k in parts[i]]
    )
    return spark.createDataFrame(rdd, f"key {key_type}, pad string")


def test_footer_lineage_many_files_and_row_groups(spark, tmp_path):
    keys = [f"k{(i * 7919) % 5003:05d}" for i in range(3000)]
    df = _frame(spark, [keys[:1200], keys[1200:1500], keys[1500:]], "string")
    ckpt = CheckpointedRun(spark, str(tmp_path / "run"))
    conf = {"spark.sql.files.maxRecordsPerFile": "400", "parquet.block.size": "2048"}
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        ckpt.commit_batch(df, "s", "key", batch_id="b0000")
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    d = tmp_path / "run" / "s" / "batch=b0000"
    metas = [pq.read_metadata(f) for f in sorted(d.glob("part-*.parquet"))]
    assert len(metas) > 3 and max(m.num_row_groups for m in metas) > 1
    assert len(_assert_footer_lineage_exact(spark, ckpt, "s", "key", "b0000")) == 3


def test_footer_lineage_non_ascii_keys(spark, tmp_path):
    """Footer min/max follow UTF-8 byte order, which is Spark's string
    order; UTF-16 order would rank the astral emoji below U+FF01."""
    parts = [
        ["a", "Z", "\u00e4", "\u20ac", "\u65e5\u672c"],
        ["\uff01", "\U0001f600"],
        ["", "\u00e9t\u00e9", None],
        [None, None],
    ]
    ckpt = CheckpointedRun(spark, str(tmp_path / "run"))
    ckpt.commit_batch(_frame(spark, parts, "string"), "s", "key", batch_id="b0000")
    want = _assert_footer_lineage_exact(spark, ckpt, "s", "key", "b0000")
    assert ("\uff01", "\U0001f600") in {(lo, hi) for _, _, lo, hi in want}


def test_footer_lineage_integer_key(spark, tmp_path):
    ckpt = CheckpointedRun(spark, str(tmp_path / "run"))
    ckpt.commit_batch(_frame(spark, [[5, -3, 10**12], [7], [-(2**40), 0, 2]], "long"),
                      "s", "key", batch_id="b0000")
    ckpt.commit_batch(_frame(spark, [[9, -11], [None, 3]], "int"), "s", "key", batch_id="b0001")
    for b in ("b0000", "b0001"):
        _assert_footer_lineage_exact(spark, ckpt, "s", "key", b)


def test_footer_lineage_empty_batch(spark, tmp_path):
    ckpt = CheckpointedRun(spark, str(tmp_path / "run"))
    df = _frame(spark, [["a"], ["b"]], "string")
    ckpt.commit_batch(df, "s", "key", batch_id="b0000")
    ckpt.commit_batch(df.where(F.col("key") == "none"), "s", "key", batch_id="b0001")
    assert _assert_footer_lineage_exact(spark, ckpt, "s", "key", "b0001") == []
    assert {r.batch_id for r in ckpt.metrics("s").collect()} == {"b0000"}


@pytest.mark.parametrize("key", ["cast(id AS double)", "timestamp_seconds(id)"])
def test_commit_rejects_keys_without_exact_footer_bounds(spark, tmp_path, key):
    df = spark.range(4).selectExpr(f"{key} AS key", "id")
    ckpt = CheckpointedRun(spark, str(tmp_path / "run"))
    with pytest.raises(TypeError, match="string or integral"):
        ckpt.commit_batch(df, "s", "key", batch_id="b0000")
    assert not (tmp_path / "run" / "s").exists()  # refused before writing


def test_footer_lineage_fails_closed(tmp_path):
    """Footers that cannot state a row group's partition or key bounds
    raise, naming the file; lineage is never guessed."""
    t = pa.table({"key": ["a", "b"], "src_partition": pa.array([0, 1], pa.int32())})
    pq.write_table(t, tmp_path / "part-00000.parquet")
    with pytest.raises(ValueError, match="part-00000.parquet.*src_partition 0..1"):
        _footer_lineage(str(tmp_path), "key")
    pq.write_table(t.slice(0, 1), tmp_path / "part-00000.parquet", write_statistics=False)
    with pytest.raises(ValueError, match="part-00000.parquet.*no min/max"):
        _footer_lineage(str(tmp_path), "key")
    ts = pa.array([datetime.datetime(2024, 1, 1)] * 2)
    pq.write_table(t.set_column(0, "key", ts).slice(0, 1), tmp_path / "part-00000.parquet")
    with pytest.raises(TypeError, match="part-00000.parquet"):
        _footer_lineage(str(tmp_path), "key")
    os.remove(tmp_path / "part-00000.parquet")
    assert _footer_lineage(str(tmp_path), "key") == {}


def _files_input(spark, tmp_path):
    """80 images in 8 Parquet files: a file scan of P = 8 tasks."""
    path = str(tmp_path / "images")
    datagen.gen_images(spark, 80, profile="bench", partitions=8).write.parquet(path)
    imgs = spark.read.parquet(path)
    assert imgs.rdd.getNumPartitions() == 8
    return imgs


def _src_partitions(ckpt, stage):
    per_batch = {}
    for r in ckpt.metrics(stage).collect():
        per_batch.setdefault(r.batch_id, set()).add(r.src_partition)
    return per_batch


def test_batch_runs_on_its_share_of_input_tasks(spark, tmp_path):
    """Each of 3 batches of an 8-task input runs on ceil(8/3) = 3 tasks,
    not 8, so its lineage names at most 3 src_partitions."""
    imgs = _files_input(spark, tmp_path)
    ckpt = CheckpointedRun(spark, str(tmp_path / "run"))
    run_stage_in_batches(ckpt, imgs, "tiles", "image_id", _transform, n_batches=3)
    per_batch = _src_partitions(ckpt, "tiles")
    assert sorted(per_batch) == _ids(3)
    assert all(0 < len(parts) <= 3 for parts in per_batch.values()), per_batch
    assert sum(r.row_count for r in ckpt.metrics("tiles").collect()) == 80 * 4


def test_planned_tasks_reads_the_plan_without_a_job(spark, tmp_path, count_jobs):
    imgs = _files_input(spark, tmp_path)
    cached = imgs.repartition(3).cache()
    for df in (
        imgs,
        imgs.repartition(5, "image_id"),
        imgs.join(F.broadcast(imgs.select("image_id").limit(10)), "image_id"),
        imgs.unionByName(imgs),
        imgs.coalesce(3),
        cached,
    ):
        n, jobs = count_jobs(lambda: _planned_tasks(df._jdf.queryExecution().executedPlan()))
        assert (n, jobs) == (df.rdd.getNumPartitions(), 0)
    cached.unpersist()


# Spark jobs of one 3-batch run over the 8-file input: one write per
# pending batch, 3 or 2 (a resume onto another batching reads no
# committed data, so it adds none); a repartitioned input adds its
# shuffle stage per batch.  Reading the input's task count adds none.
RUN_JOBS = {"fresh": 3, "unchanged_resume": 2, "changed_resume": 3, "exchange": 3 * 2}


@pytest.mark.parametrize("case", sorted(RUN_JOBS))
def test_reading_input_tasks_runs_no_job(spark, tmp_path, count_jobs, case):
    imgs = _files_input(spark, tmp_path)
    if case == "exchange":
        imgs = imgs.repartition(5, "image_id")
    ckpt = CheckpointedRun(spark, str(tmp_path / "run"))
    if case.endswith("_resume"):
        with pytest.raises(RuntimeError, match="injected failure"):
            run_stage_in_batches(ckpt, imgs, "tiles", "image_id", _transform,
                                 n_batches=2 if case == "changed_resume" else 3, fail_after=1)
    _, jobs = count_jobs(lambda: run_stage_in_batches(
        ckpt, imgs, "tiles", "image_id", _transform, n_batches=3))
    assert jobs == RUN_JOBS[case]
    final = ckpt.committed("tiles")
    assert final.count() == final.select("image_id", "tile_id").distinct().count() == 80 * 4


def test_crash_and_resume_on_coalesced_batches(spark, tmp_path):
    """Crash a 3-batch run after its first commit, then resume: the
    result equals the one-shot transform with no duplicate key, and the
    lineage sums to the committed rows."""
    imgs = _files_input(spark, tmp_path)
    ckpt = CheckpointedRun(spark, str(tmp_path / "run"))
    with pytest.raises(RuntimeError, match="injected failure"):
        run_stage_in_batches(ckpt, imgs, "tiles", "image_id", _transform,
                             n_batches=3, fail_after=1)
    assert len(_src_partitions(ckpt, "tiles")) == 1
    run_stage_in_batches(ckpt, imgs, "tiles", "image_id", _transform, n_batches=3)
    final = ckpt.committed("tiles").drop("src_partition")
    oneshot = _transform(imgs)
    assert final.count() == final.select("image_id", "tile_id").distinct().count()
    assert final.exceptAll(oneshot).count() == 0 == oneshot.exceptAll(final).count()
    assert sum(r.row_count for r in ckpt.metrics("tiles").collect()) == final.count()


@pytest.fixture(scope="module")
def images40(spark):
    imgs = datagen.gen_images(spark, 40, profile="bench")
    return imgs, _transform(imgs).drop("src_partition")


@pytest.mark.parametrize("n_crash,fail_after,n_resume", [
    (4, 2, 2), (2, 1, 4), (3, 1, 2), (1, 1, 3), (4, 3, 3), (4, 1, 4),
])
def test_resume_matches_one_shot_across_batchings(
    spark, tmp_path, count_jobs, images40, n_crash, fail_after, n_resume
):
    """Differential: crash after ``fail_after`` of ``n_crash`` batches,
    resume at ``n_resume``; the committed rows equal the one-shot
    transform exactly once, lineage sums to them, and the resume runs
    one Spark job per pending batch."""
    imgs, oneshot = images40
    ckpt = CheckpointedRun(spark, str(tmp_path / "run"))
    with pytest.raises(RuntimeError, match="injected failure"):
        run_stage_in_batches(ckpt, imgs, "tiles", "image_id", _transform,
                             n_batches=n_crash, fail_after=fail_after)
    pending = set(_ids(n_resume)) - ckpt._committed_ids("tiles")
    _, jobs = count_jobs(lambda: run_stage_in_batches(
        ckpt, imgs, "tiles", "image_id", _transform, n_batches=n_resume))
    assert jobs == len(pending)
    final = ckpt.committed("tiles").drop("src_partition")
    assert final.count() == final.select("image_id", "tile_id").distinct().count()
    assert final.exceptAll(oneshot).count() == 0 == oneshot.exceptAll(final).count()
    assert sum(r.row_count for r in ckpt.metrics("tiles").collect()) == final.count()


def test_resume_fails_closed_on_ids_it_cannot_read(spark, tmp_path):
    """A committed id that does not name a bucket of the key (streaming's
    ``s%08d``, a bare ``b%04d``, another key column's id) raises before
    any write, as does a batch count the four-digit ids cannot hold."""
    imgs = datagen.gen_images(spark, 8, profile="bench")
    out = _transform(imgs)
    for i, bad in enumerate(["s00000001", "b0000", _batch_id(0, 2, "caption")]):
        ckpt = CheckpointedRun(spark, str(tmp_path / f"run{i}"))
        ckpt.commit_batch(out, "tiles", "image_id", batch_id=bad)
        with pytest.raises(ValueError, match=bad):
            ckpt.resume_filter(imgs, "tiles", "image_id")
        with pytest.raises(ValueError, match=bad):
            run_stage_in_batches(ckpt, imgs, "tiles", "image_id", _transform, n_batches=2)
        assert ckpt._committed_ids("tiles") == {bad}
        assert os.listdir(tmp_path / f"run{i}" / "tiles") == [f"batch={bad}"]
    for n in (0, 10_000):
        ckpt = CheckpointedRun(spark, str(tmp_path / f"n{n}"))
        with pytest.raises(ValueError, match="1..9999"):
            run_stage_in_batches(ckpt, imgs, "tiles", "image_id", _transform, n_batches=n)
        assert not (tmp_path / f"n{n}").exists()
