"""Structured Streaming ingest: incremental file stream -> tiling ->
checkpointed sink; restart resumes without duplicates."""

import numpy as np
import pyspark.sql.functions as F

from ukis_pysat_spark import datagen
from ukis_pysat_spark.plans.checkpoint import CheckpointedRun
from ukis_pysat_spark.streaming import ingest


def run_stream_to_checkpointed_sink(stream_df, ckpt, stage, key_col, checkpoint_dir):
    """Drive a streaming DataFrame into CheckpointedRun batch commits
    through foreachBatch: the stream checkpoint replays the same batch
    ids on restart and commit_batch overwrites its batch directory, so
    the commits are idempotent."""

    def sink(batch_df, batch_id: int) -> None:
        if not batch_df.isEmpty():
            ckpt.commit_batch(batch_df, stage, key_col, batch_id=f"s{batch_id:08d}")

    return (
        stream_df.writeStream.foreachBatch(sink)
        .outputMode("update")  # aggregations emit changed groups per microbatch
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def test_stream_tiles_to_checkpointed_sink(spark, tmp_path):
    src = str(tmp_path / "images_stream")
    datagen.gen_images(spark, 24, profile="bench").write.mode("overwrite").parquet(src)

    stream = ingest.stream_images(spark, src, max_files_per_trigger=4)
    assert stream.isStreaming
    counts = ingest.stream_tile_counts(stream, 64, 64, 0)

    ckpt = CheckpointedRun(spark, str(tmp_path / "sink"), run_id="s1")
    q = run_stream_to_checkpointed_sink(
        counts, ckpt, "tile_counts", "image_id", str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    out = ckpt.committed("tile_counts")
    # streaming aggregation emits per-microbatch partial counts for the
    # images in that batch; every image appears exactly once overall
    assert out.select("image_id").distinct().count() == 24
    total = out.agg(F.sum("n_tiles")).collect()[0][0]
    assert total == 24 * 4  # 128x128 @ 64 -> 4 tiles per image

    # restart with the same checkpoint: no new data -> no new commits
    n_before = out.count()
    q2 = run_stream_to_checkpointed_sink(
        ingest.stream_tile_counts(ingest.stream_images(spark, src), 64, 64, 0),
        ckpt, "tile_counts", "image_id", str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    assert ckpt.committed("tile_counts").count() == n_before


def test_stream_events_windowed_plan(spark):
    # the windowed aggregation composes on a batch frame too (same plan)
    ev = spark.createDataFrame(
        [("2024-01-01 00:01:00", "click", 1.0), ("2024-01-01 00:02:00", "click", 2.0)],
        ["ts_s", "event_type", "value"],
    ).select(F.to_timestamp("ts_s").alias("ts"), "event_type", "value")
    out = (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
    )
    rows = out.collect()
    assert sum(r.n for r in rows) == 4  # each event falls in 2 sliding windows


def test_stream_first_seen_dedup_across_restarts(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): each distinct
    normalized text is emitted exactly once — across micro-batches AND
    across a stream restart (state survives in the checkpoint)."""
    from ukis_pysat_spark.streaming import dedup as sdedup

    src = str(tmp_path / "docs_stream")
    ckpt_dir = str(tmp_path / "dedup_ckpt")
    out_dir = str(tmp_path / "dedup_out")

    spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon"), (3, "Alpha  beta   gamma")],
        ["doc_id", "text"],
    ).write.mode("overwrite").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            sdedup.stream_first_seen(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first = spark.read.parquet(out_dir)
    rows = {r.doc_id for r in first.collect()}
    # doc 3 normalizes to doc 1's text -> exactly 2 distinct fingerprints
    assert first.select("fp").distinct().count() == 2
    assert 2 in rows and (1 in rows or 3 in rows)

    # restart with MORE data: an old dup and one genuinely new doc
    spark.createDataFrame(
        [(10, "delta epsilon"), (11, "zeta eta theta")], ["doc_id", "text"]
    ).write.mode("append").parquet(src)
    run_once()
    after = spark.read.parquet(out_dir)
    # the replayed duplicate (10) was suppressed by the durable state
    assert after.count() == 3
    assert {r.doc_id for r in after.collect()} - rows == {11}


def test_stream_first_seen_ttl_expiry(spark, tmp_path):
    """VERDICT r2 #8: ttl_seconds bounds state retention.  Semantics are
    Spark's processing-time timeout model: a fingerprint expires at the
    first micro-batch that runs past its idle TTL WITHOUT new data for
    it; until then duplicates stay suppressed.  The test drives one
    stream through three availableNow runs: suppress within TTL (long
    TTL leg), then expire + re-emit (short TTL leg with a flush batch
    that lets the timeout fire)."""
    import time

    from ukis_pysat_spark.streaming import dedup as sdedup

    def run_once(src, ckpt_dir, out_dir, ttl):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            sdedup.stream_first_seen(stream, ttl_seconds=ttl)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        # ProcessingTimeTimeout availableNow queries never self-
        # terminate (endless cleanup batches) — drain and stop instead
        # of eating awaitTermination's full timeout per run
        ingest.await_available_now(q, timeout=120)

    # --- leg 1: duplicates within the TTL stay suppressed ---------------
    src1, ck1, out1 = (str(tmp_path / n) for n in ("s1", "c1", "o1"))
    spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], ["doc_id", "text"]
    ).write.mode("overwrite").parquet(src1)
    run_once(src1, ck1, out1, ttl=600.0)
    assert spark.read.parquet(out1).count() == 2
    spark.createDataFrame([(3, "alpha beta")], ["doc_id", "text"]).write.mode(
        "append"
    ).parquet(src1)
    run_once(src1, ck1, out1, ttl=600.0)
    assert spark.read.parquet(out1).count() == 2, "doc 3 must be suppressed"

    # --- leg 2: idle past the TTL -> expire -> re-emit -------------------
    # Timing-sensitive by nature (processing-time timeouts vs batch
    # scheduling under co-tenant load), so the expiry probe retries:
    # each round sleeps past the TTL, runs a flush batch of UNRELATED
    # data (the idle key has no rows -> its timeout may fire), then
    # replays the old text with a fresh id.  Any probe getting EMITTED
    # proves the state was dropped.
    src2, ck2, out2 = (str(tmp_path / n) for n in ("s2", "c2", "o2"))
    spark.createDataFrame([(1, "alpha beta")], ["doc_id", "text"]).write.mode(
        "overwrite"
    ).parquet(src2)
    run_once(src2, ck2, out2, ttl=1.0)
    probes: list[int] = []
    got: set = set()
    for attempt in range(3):
        time.sleep(2.0 + attempt)
        spark.createDataFrame(
            [(60 + attempt, f"flush text {attempt}")], ["doc_id", "text"]
        ).write.mode("append").parquet(src2)
        run_once(src2, ck2, out2, ttl=1.0)
        probe = 4 + attempt
        probes.append(probe)
        spark.createDataFrame([(probe, "alpha beta")], ["doc_id", "text"]).write.mode(
            "append"
        ).parquet(src2)
        run_once(src2, ck2, out2, ttl=1.0)
        got = {r.doc_id for r in spark.read.parquet(out2).collect()}
        if any(pb in got for pb in probes):
            break
    assert any(pb in got for pb in probes), (
        "expired fingerprint must re-emit after the TTL", got)
    # every flush doc emitted (all distinct); doc 1 emitted once
    assert 1 in got and all(60 + a in got for a in range(len(probes)))


def test_stream_sessionize_closed_sessions(spark, tmp_path):
    """Round 5: streaming sessionization (event-time timeout).  Run 1:
    one batch closes sessions at in-batch gaps and the watermark's
    cleanup pass times out an idle user.  Run 2 (restart, more data):
    state survives — an event inside the open session's gap merges into
    it, a later event closes it with the surviving session ordinal.
    Closed sessions match the batch operator exactly."""
    import pandas as pd

    from ukis_pysat_spark.operators import events as bev
    from ukis_pysat_spark.streaming import events as sev

    src = str(tmp_path / "events_stream")
    ckpt = str(tmp_path / "sess_ckpt")
    out_dir = str(tmp_path / "sess_out")

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    rows = []
    eid = 0

    def ev(user, minutes, value):
        nonlocal eid
        rows.append((eid, t0 + pd.Timedelta(minutes=minutes), user, value))
        eid += 1

    # user 1: session A (0..5 min), B (120..125), C (360, stays open);
    # user 2: one idle session at t0 (closed by the event-time timeout)
    for m in (0.0, 2.0, 5.0):
        ev(1, m, 1.0)
    for m in (120.0, 125.0):
        ev(1, m, 2.0)
    ev(1, 360.0, 3.0)
    ev(2, 0.0, 5.0)
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "value"])
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp_ntz, user_id long, value double"
            ).parquet(src)
        )
        q = (
            sev.stream_sessionize(stream, gap_minutes=30, watermark="10 minutes")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        ingest.await_available_now(q)

    run_once()
    got = {
        (r.user_id, r.session_idx): (r.n_events, r.start_us, r.end_us, r.sum_value)
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        (r.user_id, r.session_idx): (r.n_events, r.start_us, r.end_us, r.sum_value)
        for r in bev.sessionize(spark.createDataFrame(pdf), gap_minutes=30).collect()
    }
    # A and B closed by in-batch gaps; user2 closed by the timeout
    # (watermark 360-10=350 > 0+30); C (open at 360) not emitted
    assert set(got) == {(1, 1), (1, 2), (2, 1)}, got
    for k, v in got.items():
        assert batch[k][:3] == v[:3], (k, v, batch[k])
        assert abs(batch[k][3] - v[3]) < 1e-9

    # restart with more data: 365 merges into open C, 500 closes C
    rows2 = [(100, t0 + pd.Timedelta(minutes=365.0), 1, 4.0),
             (101, t0 + pd.Timedelta(minutes=500.0), 1, 1.5)]
    pdf2 = pd.DataFrame(rows2, columns=["event_id", "ts", "user_id", "value"])
    spark.createDataFrame(pdf2).write.mode("append").parquet(src)
    run_once()
    after = {
        (r.user_id, r.session_idx): (r.n_events, r.start_us, r.end_us, r.sum_value)
        for r in spark.read.parquet(out_dir).collect()
    }
    allb = {
        (r.user_id, r.session_idx): (r.n_events, r.start_us, r.end_us, r.sum_value)
        for r in bev.sessionize(
            spark.createDataFrame(pd.concat([pdf, pdf2])), gap_minutes=30
        ).collect()
    }
    assert (1, 3) in after, after  # C closed with 2 events (360+365)
    assert after[(1, 3)] == allb[(1, 3)]


def test_stream_points_in_aois_matches_batch(spark, tmp_path):
    """Stream-static spatial join: the SAME points_in_aois plan runs
    over a file-source point stream against static AOIs and must emit
    exactly the batch operator's pairs — including the exact PIP refine
    (mapInArrow is stateless, so it composes with streaming)."""
    import numpy as np
    import pandas as pd

    from ukis_pysat_spark.operators import spatial_join

    rng = np.random.default_rng(61)
    pts = pd.DataFrame({
        "point_id": [f"p{i}" for i in range(400)],
        "lon": rng.uniform(-10, 30, 400),
        "lat": rng.uniform(30, 60, 400),
    })
    # AOIs: two axis-aligned boxes + one convex quad (exercises the
    # box fast path AND the exact-ring refine in the stream)
    aois = pd.DataFrame({
        "aoi_id": ["box1", "box2", "quad"],
        "ring_lon": [[0.0, 10.0, 10.0, 0.0, 0.0],
                     [15.0, 25.0, 25.0, 15.0, 15.0],
                     [2.0, 12.0, 14.0, 4.0, 2.0]],
        "ring_lat": [[35.0, 35.0, 45.0, 45.0, 35.0],
                     [40.0, 40.0, 55.0, 55.0, 40.0],
                     [46.0, 48.0, 56.0, 54.0, 46.0]],
    })
    src = str(tmp_path / "points_stream")
    out_dir = str(tmp_path / "pip_out")
    ckpt = str(tmp_path / "pip_ckpt")
    pdf = spark.createDataFrame(pts)
    pdf.repartition(3).write.mode("overwrite").parquet(src)
    aoi_df = spark.createDataFrame(aois)

    stream = (
        spark.readStream.schema("point_id string, lon double, lat double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    joined = spatial_join.points_in_aois(stream, aoi_df, res=10)
    assert joined.isStreaming
    q = (
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {(r.point_id, r.aoi_id) for r in spark.read.parquet(out_dir).collect()}
    exp = {
        (r.point_id, r.aoi_id)
        for r in spatial_join.points_in_aois(
            spark.createDataFrame(pts), aoi_df, res=10
        ).collect()
    }
    assert got == exp
    assert exp, "fixture must produce matches"
    # both fast-path and refine-path AOIs must appear
    assert any(a == "quad" for _, a in exp) and any(a == "box1" for _, a in exp)


def test_stream_hamming_pairs_matches_batch_join(spark, tmp_path):
    """Streaming near-dup detector (stream_hamming_pairs): the set of
    emitted (pair, hamming) match events over a micro-batched stream
    equals the batch hamming_pairs join on the same rows (pigeonhole
    recall 1.0 holds incrementally), and state survives a restart —
    a near-dup arriving after the stream is restarted still pairs with
    a base seen before the restart."""
    from ukis_pysat_spark.operators import dedup as bdedup
    from ukis_pysat_spark.streaming import dedup as sdedup

    rng = np.random.default_rng(73)
    base = rng.integers(-(2**63), 2**63, 40, dtype=np.int64)
    vals = list(base)
    for i, k in [(0, 1), (5, 4), (9, 6), (17, 3), (23, 6), (31, 2)]:
        v = np.uint64(base[i])
        for b in rng.choice(64, k, replace=False):
            v ^= np.uint64(1) << np.uint64(b)
        vals.append(v.astype(np.int64))
    rows = [(f"d{i:03d}", int(v)) for i, v in enumerate(vals)]

    src = str(tmp_path / "hashes_stream")
    ckpt = str(tmp_path / "ham_ckpt")
    out_dir = str(tmp_path / "ham_out")
    # 3 files -> 3 micro-batches at maxFilesPerTrigger=1
    for lo, hi in [(0, 20), (20, 40), (40, len(rows))]:
        spark.createDataFrame(
            rows[lo:hi], "image_id string, phash long"
        ).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema("image_id string, phash long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            sdedup.stream_hamming_pairs(stream, max_hamming=6)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_once()
    got = {
        (min(r.id_new, r.id_seen), max(r.id_new, r.id_seen), r.hamming)
        for r in spark.read.parquet(out_dir).collect()
    }
    exp = {
        (r.id_a, r.id_b, r.hamming)
        for r in bdedup.hamming_pairs(
            spark.createDataFrame(rows, "image_id string, phash long"),
            "image_id", "phash", max_hamming=6,
        ).collect()
    }
    assert got == exp
    assert len(exp) >= 6  # every planted near-dup found

    # restart: a new variant of base d001 (2 bit flips) must pair with
    # the pre-restart state
    v = np.uint64(base[1]) ^ np.uint64(1) ^ (np.uint64(1) << np.uint64(63))
    spark.createDataFrame(
        [("d900", int(v.astype(np.int64)))], "image_id string, phash long"
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    after = {
        (min(r.id_new, r.id_seen), max(r.id_new, r.id_seen), r.hamming)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert ("d001", "d900", 2) in after - got


def test_stream_image_neardup_end_to_end(spark, tmp_path):
    """Streaming image near-dup at ingest: pixel payloads decode to
    phash inside the stream (mapInArrow composes onto the streaming
    frame) and a byte-identical copy arriving in a LATER micro-batch
    emits a hamming-0 match event against checkpointed state."""
    from ukis_pysat_spark.streaming import ingest as singest

    src = str(tmp_path / "img_stream")
    ckpt = str(tmp_path / "img_ckpt")
    out_dir = str(tmp_path / "img_out")

    imgs = datagen.gen_images(spark, 6, profile="mixed")
    imgs.coalesce(1).write.mode("append").parquet(src)
    # second file: a byte-identical copy of image 0 under a new id
    imgs.limit(1).withColumn(
        "image_id", F.concat(F.col("image_id"), F.lit("_copy"))
    ).coalesce(1).write.mode("append").parquet(src)

    stream = singest.stream_images(spark, src, max_files_per_trigger=1)
    q = (
        singest.stream_image_neardup(stream, max_hamming=0)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    events = {
        (min(r.id_new, r.id_seen), max(r.id_new, r.id_seen), r.hamming)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert ("img00000000", "img00000000_copy", 0) in events
