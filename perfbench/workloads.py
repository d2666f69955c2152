"""Workloads of the engine benchmark: the seeded corpus, the operations
each workload runs, their output checks and the kernel probes that run
without Spark.

An operation is one call into the package's public API whose result is
consumed by one Spark action: the row count plus an order-independent
content hash (the sum of ``xxhash64`` over the output columns).  The
benchmark compares every pass's (rows, hash) with the first pass of the
run, whose output is checked against the package's oracles.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
import uuid

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from ukis_pysat_spark import codec, datagen, sinks
from ukis_pysat_spark.operators import dedup, geometry, knn, tiling, transforms, zonal
from ukis_pysat_spark.operators import spatial_join as sj
from ukis_pysat_spark.plans.checkpoint import CheckpointedRun, run_stage_in_batches

from tracing import duration, tree_cpu_s

DEFAULT_SEED = 42  # images use the seed, AOIs seed + 1: the round-7 corpus at 42
RES = 12
TILE = (32, 32, 4)  # tile width, height, overlap
K = 5
MAX_HAMMING = 4
CKPT_STAGE = "tiles"
CKPT_BATCHES = 4
CKPT_FAIL_AFTER = 2
TILE_COLS = [
    "image_id", "tile_id", "col_off", "row_off", "tw", "th",
    "left", "bottom", "right", "top", "px", "caption",
]

# Output rows at the default seed.  At 0.01 and 0.1 they equal the
# round-7 frozen bench (BENCH/bench_sf*_local_r07_final.json; its
# point_sample is the same points x footprints join with one band per
# image).  The 0.0025 and 0.005 rows were recorded by this benchmark in
# runs whose outputs passed every oracle.  ckpt_crash (two of four
# xxhash64 buckets) has no round-7 counterpart.
PINNED_ROWS = {
    0.0025: {
        "spatial_join": 1077, "points_in_aois": 456, "knn": 250, "phash_neardup": 100,
        "tile_pixels": 8000, "zonal_stats": 1077, "dn2toa": 50,
        "ckpt_crash": 3872, "ckpt_resume": 8000, "gtiff_roundtrip": 50,
    },
    0.005: {
        "spatial_join": 2008, "points_in_aois": 1456, "knn": 250, "phash_neardup": 200,
        "tile_pixels": 16000, "zonal_stats": 2008, "dn2toa": 50,
        "ckpt_crash": 8032, "ckpt_resume": 16000, "gtiff_roundtrip": 50,
    },
    0.01: {
        "spatial_join": 4209, "points_in_aois": 8924, "knn": 250, "phash_neardup": 400,
        "tile_pixels": 32000, "zonal_stats": 4209, "dn2toa": 100,
        "ckpt_resume": 32000, "gtiff_roundtrip": 100,
        "ckpt_crash": 16080,
    },
    0.1: {
        "spatial_join": 409806, "points_in_aois": 1018805, "knn": 2500, "phash_neardup": 4000,
        "tile_pixels": 320000, "zonal_stats": 409806, "dn2toa": 1000,
        "ckpt_resume": 320000, "gtiff_roundtrip": 1000,
        "ckpt_crash": 160688,
    },
}


class CheckFailed(Exception):
    """An operation's output disagrees with its reference or oracle."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


# ------------------------------------------------------------- corpus


def sizes(scale: float) -> dict[str, int]:
    """Table sizes of bench.py's synthetic corpus at a scale factor."""
    return {
        "images": max(int(200_000 * scale), 200),
        "aois": max(int(5_000 * scale), 50),
        "toa": max(int(10_000 * scale), 50),
        "hashes": max(int(2_000_000 * scale), 2_000),
    }


def _hash_corpus(spark, n: int, seed: int):
    """bench.py's closed-form 62-bit hashes with 2 % planted variants at
    hamming 0..4, over an id window chosen by the seed (window 0 at the
    default seed; the offset keeps the products inside int64)."""
    off = ((seed - DEFAULT_SEED) % 997) * n
    mix = (
        "((({x} * 2654435761) % 2147483648) + "
        "(({x} * 2246822519) % 2147483648) * 2147483648)"
    )
    return spark.range(off, off + n).selectExpr(
        "concat('ph', cast(id as string)) AS image_id",
        f"""CASE WHEN id % 50 = 49 THEN {mix.format(x="(id-7)")} ^ (
              (shiftleft(cast(1 as bigint), cast(id%5 as int)) - 1)
              * shiftleft(cast(1 as bigint), cast((id*5)%54 as int)))
            ELSE {mix.format(x="id")} END AS phash""",
    )


def write_corpus(spark, tables, seed: int, scale: float, out: str) -> None:
    n = sizes(scale)
    make = {
        "images": lambda: datagen.gen_images(
            spark, n["images"], seed=seed, profile="bench", skew_frac=0.2
        ),
        "aois": lambda: datagen.gen_aois(spark, n["aois"], seed=seed + 1, skew_frac=0.2),
        "hashes": lambda: _hash_corpus(spark, n["hashes"], seed),
        "toa": lambda: datagen.gen_images(spark, n["toa"], seed=seed, profile="toa_bench"),
        "toa_meta": lambda: datagen.gen_metadata(spark, n["toa"], seed=seed, profile="toa_bench"),
    }
    for t in tables:
        make[t]().write.mode("overwrite").parquet(f"{out}/{t}")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Ctx:
    """Inputs of one run plus the values its operations and checks share."""

    def __init__(self, spark, corpus: str, scratch: str, tables, seed: int, scale: float):
        self.spark = spark
        self.scratch = scratch
        self.seed = seed
        for t in tables:
            setattr(self, t, spark.read.parquet(f"{corpus}/{t}"))
        self.n = sizes(scale)
        self.rng = np.random.default_rng(seed)
        self.state: dict = {}
        self.keep: dict = {}  # op -> Column selecting output rows the oracles read
        self.kept: dict = {}  # op -> those rows, from the reference pass

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.scratch, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def sample_ids(self, k: int) -> list[str]:
        """A seeded sample of image ids (datagen names image i img%08d)."""
        idx = self.rng.choice(self.n["images"], size=min(k, self.n["images"]), replace=False)
        return [f"img{int(i):08d}" for i in sorted(idx)]


def digest(df, cols, tr=None, extra=(), keep=None):
    """(rows, hash, row) of ``df`` in ONE action: count, the order-
    independent sum of xxhash64 over ``cols``, any ``extra`` aggregates,
    and with ``keep`` the ``cols`` of the rows it selects as ``row.kept``."""
    if keep is not None:
        extra = [*extra, F.collect_list(F.when(keep, F.struct(*cols))).alias("kept")]
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.xxhash64(*cols).cast("decimal(38,0)")), F.lit(0)).alias("h"),
        *extra,
    )
    row = agg.collect()[0]
    if tr is not None:
        tr.rollup(agg)
    return int(row["n"]), str(row["h"]), row


def clock() -> tuple[float, float]:
    """(wall, CPU) seconds now; the CPU is this process tree's."""
    return time.perf_counter(), tree_cpu_s(os.getpid())


def since(t0: tuple[float, float]) -> tuple[float, float]:
    """(wall, CPU) seconds since ``t0``, a ``clock()`` reading."""
    wall, cpu = clock()
    return wall - t0[0], cpu - t0[1]


class Out:
    """One operation's result: the timed call's wall and CPU seconds,
    rows and hash."""

    def __init__(self, timed: tuple[float, float], rows: int, hash_: str, **notes):
        self.secs, self.cpu = timed
        self.rows = rows
        self.hash = hash_
        self.notes = notes


def _timed_digest(ctx, op: str, build, cols, tr, span: str | None = None):
    """Build operation ``op``'s DataFrame and digest it (all columns when
    ``cols`` is None); the seconds cover both, since plan construction
    is part of what a caller waits for.  Rows ``ctx.keep[op]`` selects
    are kept in ``ctx.kept[op]`` for the oracles.  Returns ((wall, CPU)
    seconds, rows, hash)."""
    keep = ctx.keep.get(op)
    with tr.span(span) if tr is not None and span else contextlib.nullcontext():
        t0 = clock()
        df = build()
        rows, h, row = digest(df, cols or df.columns, tr, keep=keep)
        timed = since(t0)
    if keep is not None:
        ctx.kept[op] = row["kept"]
    return timed, rows, h


def _cover_and_cand(ctx, tr) -> float:
    """Traced probes of the cell cover and the candidate phase shared by
    spatial_join and zonal_stats; returns the candidate span's seconds
    (the candidate job computes the cover again)."""
    images = ctx.images.select("image_id", "footprint_lon", "footprint_lat")
    # both sides' covers in one job, as the candidate join computes them
    cover = sj.with_cells(images, "footprint_lon", "footprint_lat", RES).select(
        F.col("image_id").alias("id"), "cell"
    ).unionByName(
        sj.with_cells(ctx.aois, "ring_lon", "ring_lat", RES).select(
            F.col("aoi_id").alias("id"), "cell"
        )
    )
    with tr.span("spatial_join.cover") as s_cover:
        n_cover = tr.materialize(cover)
    cand = sj.candidate_pairs(images, ctx.aois, res=RES)
    with tr.span("spatial_join.cand") as s_cand:
        n_pairs = tr.materialize(cand)
    tr.add("spatial_join.cover_rows", n_cover)
    tr.add("spatial_join.cover_s", duration(s_cover))
    tr.add("spatial_join.cand_pairs", n_pairs)
    tr.add("spatial_join.cand_rows", tr.plan(cand).get("join.rows", 0))
    tr.add("spatial_join.cand_s", duration(s_cand) - duration(s_cover))
    return duration(s_cand)


# ------------------------------------------------------- catalog_join


def _points(images):
    """Every 16th scene's center as a point (bench.py's bench_pts)."""
    return images.where(F.substring("image_id", 4, 8).cast("long") % 16 == 0).select(
        F.concat(F.lit("pt"), F.col("image_id")).alias("point_id"),
        ((F.array_min("footprint_lon") + F.array_max("footprint_lon")) / 2).alias("lon"),
        ((F.array_min("footprint_lat") + F.array_max("footprint_lat")) / 2).alias("lat"),
    )


def _footprints(images):
    return images.select(
        F.col("image_id").alias("aoi_id"),
        F.col("footprint_lon").alias("ring_lon"),
        F.col("footprint_lat").alias("ring_lat"),
    )


def op_spatial_join(ctx, tr):
    cand_s = 0.0
    if tr is not None:
        cand_s = _cover_and_cand(ctx, tr)
    timed, rows, h = _timed_digest(
        ctx, "spatial_join", lambda: sj.spatial_join(ctx.images, ctx.aois, res=RES),
        ["image_id", "aoi_id"], tr, "spatial_join",
    )
    if tr is not None:
        cand_rows = tr.values.get("spatial_join.cand_rows", 0)
        tr.add("spatial_join.exact_ratio", rows / cand_rows if cand_rows else 0.0)
        tr.add("spatial_join.refine_rows_in", tr.last.get("arrow.rows_sent", 0))
        tr.add("spatial_join.refine_s", timed[0] - cand_s)
    return Out(timed, rows, h)


def op_points_in_aois(ctx, tr):
    timed, rows, h = _timed_digest(
        ctx, "points_in_aois",
        lambda: sj.points_in_aois(_points(ctx.images), _footprints(ctx.images), res=RES),
        ["point_id", "aoi_id"], tr,
    )
    return Out(timed, rows, h)


def op_knn(ctx, tr):
    timed, rows, h = _timed_digest(ctx, "knn", lambda: knn.knn(ctx.images, ctx.aois, k=K), None, tr)
    path, res = knn.choose_knn_path(ctx.n["images"], ctx.n["aois"], K)
    if tr is not None:
        tr.add("knn.cand_rows", tr.last.get("join.rows", 0))
    return Out(timed, rows, h, path=path, res=res)


def op_phash_neardup(ctx, tr):
    timed, rows, h = _timed_digest(
        ctx, "phash_neardup", lambda: dedup.phash_neardup(ctx.hashes, max_hamming=MAX_HAMMING), None, tr
    )
    if tr is not None:
        with tr.span("dedup.blocks"):
            runs = (
                dedup.hamming_blocks(ctx.hashes, "image_id", "phash", MAX_HAMMING, 64)
                .groupBy("blk", "key").count()
                .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("pairs"))
                .collect()
            )
        cand = float(runs[0]["pairs"] or 0)
        tr.add("dedup.cand_pairs", cand)
        tr.add("dedup.verify_ratio", rows / cand if cand else 0.0)
    return Out(timed, rows, h)


# ------------------------------------------------------ tile_io reads


def op_tile_pixels(ctx, tr):
    timed, rows, h = _timed_digest(
        ctx, "tile_pixels", lambda: tiling.tile_pixels(ctx.images, *TILE), TILE_COLS, tr,
        "tiling.tile_pixels",
    )
    # the reference pass's tiles: the clean output a resumed checkpoint must equal
    ctx.state.setdefault("tiles", (rows, h))
    if tr is not None:
        tr.add("tiling.tiles", rows)
        tr.add("tiling.tile_pixels_s", timed[0])
    return Out(timed, rows, h)


def op_zonal_stats(ctx, tr):
    if tr is not None:
        _cover_and_cand(ctx, tr)
        tr.add("zonal.cand_pairs", tr.values["spatial_join.cand_pairs"])
    timed, rows, h = _timed_digest(
        ctx, "zonal_stats", lambda: zonal.zonal_stats(ctx.images, ctx.aois, res=RES), None, tr
    )
    if tr is not None:
        tr.add("zonal.stats_rows", rows)
    return Out(timed, rows, h)


def op_dn2toa(ctx, tr):
    timed, rows, h = _timed_digest(
        ctx, "dn2toa", lambda: transforms.dn2toa(ctx.toa, ctx.toa_meta), None, tr
    )
    return Out(timed, rows, h)


# ----------------------------------------------------- tile_io writes


def _ckpt_run(ctx, tr, base: str, **kw) -> tuple[float, float]:
    """Drive the tiling stage through ``run_stage_in_batches`` into the
    checkpoint at ``base`` (a new one, or the one a crashed run left);
    returns the call's (wall, CPU) seconds.  Traced, every commit_batch call gets a
    span and every batch's tiles are first materialized under a tiling
    span (the commit then computes them again)."""
    ck = CheckpointedRun(ctx.spark, base, run_id=uuid.uuid4().hex[:12])

    def tiles(batch):
        return tiling.tile_pixels(batch, *TILE)

    transform = tiles
    if tr is not None:
        commit = ck.commit_batch

        def traced_commit(*a, **k):
            with tr.span("checkpoint.commit") as s:
                commit(*a, **k)
            tr.add("checkpoint.commit_s", duration(s))
            tr.add("checkpoint.commits", 1)

        def traced_tiles(batch):
            df = tiles(batch)
            with tr.span("tiling.tile_pixels") as s:
                tr.add("tiling.tiles", tr.materialize(df, rollup=True))
            tr.add("tiling.tile_pixels_s", duration(s))
            return df

        ck.commit_batch = traced_commit
        transform = traced_tiles
    t0 = clock()
    run_stage_in_batches(
        ck, ctx.images, CKPT_STAGE, "image_id", transform, n_batches=CKPT_BATCHES, **kw
    )
    return since(t0)


def _ckpt_state(spark, base: str) -> dict:
    """Committed rows, hash and payload bytes, per-batch lineage rows,
    bytes on disk per committed payload byte, and the duplicate-key
    check of the checkpoint at ``base``, reopened as a new process would."""
    ck = CheckpointedRun(spark, base)
    committed = ck.committed(CKPT_STAGE)
    expect(committed is not None, "no committed batch")
    rows, h, row = digest(
        committed, TILE_COLS,
        extra=[
            F.sum(F.length("px")).alias("payload"),
            F.count_distinct("image_id", "tile_id").alias("keys"),
        ],
    )
    lineage = {
        r["batch_id"]: int(r["rows"])
        for r in ck.metrics(CKPT_STAGE).groupBy("batch_id")
        .agg(F.sum("row_count").alias("rows")).collect()
    }
    expect(int(row["keys"]) == rows, f"duplicate committed keys: {rows} rows, {row['keys']} keys")
    expect(sum(lineage.values()) == rows, f"lineage rows {sum(lineage.values())} != committed {rows}")
    payload = int(row["payload"] or 0)
    return {
        "rows": rows, "hash": h, "lineage": lineage,
        "write_amp": dir_bytes(base) / payload if payload else 0.0,
    }


def op_ckpt_crash(ctx, tr):
    base = ctx.state["crash_base"] = ctx.fresh_dir("ckpt_crash")
    t0 = clock()
    try:
        _ckpt_run(ctx, tr, base, fail_after=CKPT_FAIL_AFTER)
    except RuntimeError as e:
        timed = since(t0)
        expect("injected failure" in str(e), f"unexpected error: {e!r}")
    else:
        raise CheckFailed("the injected failure did not happen")
    st = ctx.state["crashed"] = _ckpt_state(ctx.spark, base)
    expect(len(st["lineage"]) == CKPT_FAIL_AFTER, f"committed batches {sorted(st['lineage'])}")
    return Out(timed, st["rows"], st["hash"], batches=sorted(st["lineage"]))


def op_ckpt_resume(ctx, tr):
    before, base = ctx.state["crashed"], ctx.state["crash_base"]
    clean_rows, clean_hash = ctx.state["tiles"]
    if tr is not None:
        reopened = CheckpointedRun(ctx.spark, base)
        with tr.span("checkpoint.resume_filter") as s:
            tr.materialize(reopened.resume_filter(ctx.images, CKPT_STAGE, "image_id"))
        tr.add("checkpoint.resume_filter_s", duration(s))
    timed = _ckpt_run(ctx, tr, base)
    st = _ckpt_state(ctx.spark, base)
    redone = sum(v for b, v in st["lineage"].items() if b not in before["lineage"])
    # committed keys are distinct, so the uncommitted buckets hold the
    # clean run's rows less those committed before the crash
    expected = clean_rows - before["rows"]
    expect(redone == expected, f"rows recomputed {redone} != uncommitted bucket rows {expected}")
    expect((st["rows"], st["hash"]) == (clean_rows, clean_hash), "resumed output != clean tile_pixels run")
    if tr is not None:
        tr.add("checkpoint.rows_recomputed", redone)
        tr.add("checkpoint.write_amp", st["write_amp"])
    return Out(timed, st["rows"], st["hash"], rows_recomputed=redone, write_amp=st["write_amp"])


def op_gtiff_roundtrip(ctx, tr):
    to_s = 0.0
    if tr is not None:
        with tr.span("sinks.to_geotiff") as s:
            r = sinks.to_geotiff(ctx.toa, compression="deflate").agg(
                F.sum("n_bytes").alias("tiff")
            ).collect()[0]
        to_s = duration(s)
        tr.add("sinks.to_geotiff_s", to_s)
        tr.add("sinks.tiff_bytes_per_raw_byte", r["tiff"] / ctx.state["toa_raw_bytes"])
    timed, rows, h = _timed_digest(
        ctx, "gtiff_roundtrip",
        lambda: sinks.from_geotiff(sinks.to_geotiff(ctx.toa, compression="deflate")),
        ["image_id", "bytes"], tr, "gtiff_roundtrip",
    )
    expect(h == ctx.state["toa_hash"], "GeoTIFF round trip changed the payloads")
    if tr is not None:
        tr.add("sources.from_geotiff_s", timed[0] - to_s)
    return Out(timed, rows, h)


# passes: the untraced passes after the reference pass whose CPU time
# pass_cpu_s takes.  A pass's CPU varies 5-10 % across seeds and runs, and
# falls by a third from the first pass to the third while the JVM
# compiles the engine's paths; on catalog_join which pass of a run reads
# high varies, so the mean of three steadies it.  tile_io's passes take
# twice as long, and its runs differ as a whole (a run whose first pass
# costs more costs more in the next), so a second pass adds time, not
# steadiness.
WORKLOADS = {
    "catalog_join": {
        "tables": ("images", "aois", "hashes"),
        "passes": 3,
        "ops": {
            "spatial_join": op_spatial_join,
            "points_in_aois": op_points_in_aois,
            "knn": op_knn,
            "phash_neardup": op_phash_neardup,
        },
    },
    "tile_io": {
        "tables": ("images", "aois", "toa", "toa_meta"),
        "passes": 1,
        "ops": {
            "tile_pixels": op_tile_pixels,
            "zonal_stats": op_zonal_stats,
            "dn2toa": op_dn2toa,
            "ckpt_crash": op_ckpt_crash,
            "ckpt_resume": op_ckpt_resume,
            "gtiff_roundtrip": op_gtiff_roundtrip,
        },
    },
}


def prepare(ctx, workload: str) -> None:
    """Per-run reference values some checks need (untimed)."""
    if workload == "tile_io":
        rows, h, row = digest(ctx.toa, ["image_id", "bytes"], extra=[F.sum(F.length("bytes")).alias("raw")])
        ctx.state["toa_hash"] = h
        ctx.state["toa_raw_bytes"] = int(row["raw"])


# ------------------------------------------------------------ oracles


_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def _popcount64(x: np.ndarray) -> np.ndarray:
    """Set bits per uint64 element (numpy < 2 has no bitwise_count)."""
    x = np.ascontiguousarray(x, dtype=np.uint64)
    return _POP8[x.view(np.uint8)].reshape(*x.shape, 8).sum(axis=-1)


def oracle_samples(ctx) -> dict:
    """Row selections the reference pass keeps for the oracles: pairs of
    500 seeded images (every image at the default scale), all kNN and
    near-dup rows, tiles of 6 seeded images."""
    ids = ctx.state["oracle_ids"] = ctx.sample_ids(500)
    return {
        "spatial_join": F.col("image_id").isin(ids),
        "knn": F.lit(True),
        "phash_neardup": F.lit(True),
        "tile_pixels": F.col("image_id").isin(ctx.sample_ids(6)),
    }


def check_spatial_join(ctx) -> None:
    ids = ctx.state["oracle_ids"]
    got = {(r.image_id, r.aoi_id) for r in ctx.kept["spatial_join"]}
    want = {
        (r.image_id, r.aoi_id)
        for r in sj.spatial_join_bruteforce(
            ctx.images.where(F.col("image_id").isin(ids)), ctx.aois
        ).collect()
    }
    expect(got == want, f"spatial_join differs from brute force on {len(got ^ want)} pairs")


def check_knn(ctx) -> None:
    scenes = knn.scene_centroids(ctx.images).toPandas()
    aois = ctx.aois.select("aoi_id", "centroid_lon", "centroid_lat").toPandas()
    want = knn.knn_bruteforce_oracle(scenes, aois, K).sort_values(["aoi_id", "rank"])
    got = pd.DataFrame([r.asDict() for r in ctx.kept["knn"]]).sort_values(["aoi_id", "rank"])
    expect(
        list(zip(got.aoi_id, got.image_id, got["rank"])) == list(zip(want.aoi_id, want.image_id, want["rank"])),
        "knn neighbours differ from the brute-force oracle",
    )
    expect(np.allclose(got.dist_km.values, want.dist_km.values, rtol=1e-9), "knn distances differ")


def check_phash(ctx) -> None:
    pdf = ctx.hashes.toPandas()
    ids = pdf.image_id.values
    hv = pdf.phash.values.astype(np.int64).view(np.uint64)
    pos = {s: i for i, s in enumerate(ids)}
    got = ctx.kept["phash_neardup"]
    for r in got:
        d = int(_popcount64(np.array([hv[pos[r.id_a]] ^ hv[pos[r.id_b]]]))[0])
        expect(d == r.hamming and d <= MAX_HAMMING and r.id_a < r.id_b, f"bad pair {r}")
    sample = ctx.rng.choice(len(ids), size=min(500, len(ids)), replace=False)
    want = set()
    for lo in range(0, len(sample), 25):
        chunk = sample[lo : lo + 25]
        dist = _popcount64(hv[chunk][:, None] ^ hv[None, :])
        for i, j in zip(*np.nonzero(dist <= MAX_HAMMING)):
            a, b = ids[chunk[i]], ids[j]
            if a != b:
                want.add((min(a, b), max(a, b)))
    picked = set(ids[sample])
    have = {(r.id_a, r.id_b) for r in got if r.id_a in picked or r.id_b in picked}
    expect(have == want, f"phash recall: {len(want - have)} missing, {len(have - want)} extra")


def check_tiles(ctx) -> None:
    """Window geometry against enumerate_windows, and decoded tile pixels
    and captions against the decoded source image (BASELINE's per-row
    invariant), for the tiles the reference pass kept."""
    tiles = ctx.kept["tile_pixels"]
    ids = sorted({t.image_id for t in tiles})
    expect(len(ids) > 0, "no tiles kept for the oracle")
    src = {
        r.image_id: r
        for r in ctx.images.where(F.col("image_id").isin(ids))
        .select("image_id", "bytes", "w", "h", "caption").collect()
    }
    for iid, s in src.items():
        arr = codec.decode(s.bytes)
        mine = sorted((t for t in tiles if t.image_id == iid), key=lambda t: t.tile_id)
        win = tiling.enumerate_windows(s.w, s.h, *TILE)
        got = [(t.tile_id, t.col_off, t.row_off, t.tw, t.th) for t in mine]
        expect(got == [tuple(int(v) for v in w) for w in win], f"{iid}: tile windows differ")
        for t in mine:
            want = arr[:, t.row_off : t.row_off + t.th, t.col_off : t.col_off + t.tw]
            expect(np.allclose(codec.decode(t.px), want), f"{iid}/{t.tile_id}: pixels differ")
            expect(t.caption == s.caption, f"{iid}/{t.tile_id}: caption differs")


ORACLES = {
    "spatial_join": check_spatial_join,
    "knn": check_knn,
    "phash_neardup": check_phash,
    "tile_pixels": check_tiles,
}


# ------------------------------------------------------ kernel probes


class KernelProbes:
    """Fixed seeded samples pulled once from the corpus; the timed calls
    are the package's numpy kernels with no Spark involved."""

    def __init__(self, ctx, n_pairs: int = 512, n_payloads: int = 256):
        rng = np.random.default_rng(ctx.seed + 7)
        ids = ctx.sample_ids(max(n_pairs, n_payloads))
        rows = (
            ctx.images.where(F.col("image_id").isin(ids))
            .select("footprint_lon", "footprint_lat", "bytes").collect()
        )
        rings = [(np.array(r.footprint_lon), np.array(r.footprint_lat)) for r in rows]
        aoi_rings = [
            (np.array(r.ring_lon), np.array(r.ring_lat))
            for r in ctx.aois.select("ring_lon", "ring_lat").collect()
        ]
        a = rng.integers(0, len(rings), n_pairs)
        b = rng.integers(0, len(aoi_rings), n_pairs)
        self.poly = (
            [rings[i][0] for i in a], [rings[i][1] for i in a],
            [aoi_rings[j][0] for j in b], [aoi_rings[j][1] for j in b],
        )
        # each point is a scene center paired with a random footprint ring
        c = rng.integers(0, len(rings), n_pairs)
        self.pip = (
            np.array([rings[i][0][:4].mean() for i in a]),
            np.array([rings[i][1][:4].mean() for i in a]),
            [rings[i][0] for i in c], [rings[i][1] for i in c],
        )
        self.payloads = [bytes(r.bytes) for r in rows[:n_payloads]]
        self.arrays = [codec.decode(p) for p in self.payloads]

    @staticmethod
    def _rate(fn, work: float, min_secs: float = 0.2) -> float:
        reps, t0 = 0, time.perf_counter()
        while True:
            fn()
            reps += 1
            el = time.perf_counter() - t0
            if el >= min_secs:
                return work * reps / el

    def measure(self) -> dict[str, float]:
        n_poly = len(self.poly[0])
        n_pip = len(self.pip[0])
        mb = sum(a.nbytes for a in self.arrays) / 2**20
        return {
            "geometry.poly_pairs_per_s": self._rate(
                lambda: geometry.polygon_intersects_pairwise(*self.poly), n_poly
            ),
            "geometry.pip_pairs_per_s": self._rate(
                lambda: geometry.points_in_rings_pairwise(*self.pip), n_pip
            ),
            "codec.decode_mb_per_s": self._rate(
                lambda: [codec.decode(p) for p in self.payloads], mb
            ),
            "codec.encode_mb_per_s": self._rate(
                lambda: [codec.encode(a, "raw") for a in self.arrays], mb
            ),
        }

