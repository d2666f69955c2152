"""Structured Streaming ingest paths.

The reference is a batch library (no streaming); the engine adds the
streaming entry points a continuously-arriving scene feed needs:

- ``stream_images``: a file-source stream over an images parquet
  directory — new files are picked up incrementally with exactly-once
  progress tracked in the stream's checkpoint location.
- ``stream_tile_counts``: stateless tiling of streamed scenes (the
  relational tile_windows composes with streaming sources unchanged —
  one logical plan, batch or streaming).
- ``stream_image_neardup``: near-duplicate image events at ingest
  (decode to a perceptual hash, then the checkpointed hamming state of
  ``streaming/dedup.stream_hamming_pairs``).

The stateless batch operators compose with streaming sources unchanged:
``spatial_join.points_in_aois`` over a point stream is a stream-static
join against a static AOI table, with no wrapper.

A stream lands idempotently when each ``foreachBatch`` micro-batch is
committed with ``CheckpointedRun.commit_batch`` under its batch id: a
restart replays the same ids, so a crashed stream resumes without
duplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ukis_pysat_spark.datagen import IMAGES_SCHEMA
from ukis_pysat_spark.operators import tiling


def stream_images(spark: SparkSession, path: str, max_files_per_trigger: int = 16) -> DataFrame:
    """Incremental parquet stream of the images table."""
    return (
        spark.readStream.schema(IMAGES_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )


def stream_tile_counts(images_stream: DataFrame, width: int = 256, height: int = 256,
                       overlap: int = 0) -> DataFrame:
    """Tiles-per-image over a streaming source; tile_windows is pure
    relational so the same operator serves batch and streaming plans."""
    win = tiling.tile_windows(images_stream, width, height, overlap)
    return win.groupBy("image_id").agg(F.count("*").alias("n_tiles"))


def stream_image_neardup(
    images_stream: DataFrame,
    max_hamming: int = 6,
    ttl_seconds: float | None = None,
) -> DataFrame:
    """Streaming IMAGE near-dup at ingest: decode each arriving image
    payload to its 64-bit perceptual hash (compute_phash, one stateless
    mapInArrow stage — mapInArrow composes onto streaming frames) and
    feed the hashes into the checkpointed pigeonhole state of
    stream_hamming_pairs.  Emits (id_new, id_seen, hamming) match
    events: a crawler sees "this image is a near-copy of one already
    ingested" at arrival time, across micro-batches and restarts.

    When the catalog already carries a trusted precomputed ``phash``
    column, skip the decode and call stream_hamming_pairs directly."""
    from ukis_pysat_spark.operators import multimodal
    from ukis_pysat_spark.streaming import dedup as sdedup

    hashes = multimodal.compute_phash(images_stream)
    return sdedup.stream_hamming_pairs(
        hashes, "image_id", "phash", max_hamming=max_hamming, ttl_seconds=ttl_seconds
    )


def await_available_now(q, timeout: float = 120.0, poll: float = 0.25) -> None:
    """Drain-and-stop for ``trigger(availableNow=True)`` queries.

    Stateless availableNow queries self-terminate, but stateful queries
    with ProcessingTimeTimeout do NOT: Spark keeps scheduling zero-input
    state-cleanup batches forever so pending timeouts can fire, and
    ``awaitTermination(t)`` blocks for its whole timeout.  This helper
    waits until the backlog is drained AND at least one zero-input
    (cleanup) batch has completed — giving due timeouts their chance to
    fire — then stops the query.  Returns as soon as the query is no
    longer active; raises TimeoutError if the backlog never drains.
    """
    import time as _time

    deadline = _time.time() + timeout
    zero_batches: set = set()
    while _time.time() < deadline:
        if not q.isActive:
            return
        lp = q.lastProgress
        st = q.status
        if lp is not None:
            if lp.get("numInputRows", 0) > 0:
                # data still flowing — any earlier empties were startup
                zero_batches.clear()
            else:
                zero_batches.add(lp.get("batchId"))
            # require TWO distinct drained batches: right after start a
            # no-op trigger can report zero input before the backlog is
            # even planned (observed race: stopping there loses data)
            if len(zero_batches) >= 2 and not st["isDataAvailable"]:
                q.stop()
                q.awaitTermination(60)
                return
        _time.sleep(poll)
    raise TimeoutError("availableNow query did not drain within timeout")
