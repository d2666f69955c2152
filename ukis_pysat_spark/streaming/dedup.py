"""Stateful streaming deduplication (applyInPandasWithState).

A continuously-ingesting training-data pipeline must drop documents it
has already accepted — across micro-batches and across restarts.  This
operator keys the stream by content fingerprint and keeps ONE small
state cell per distinct fingerprint (first-seen doc_id + occurrence
count); only the first occurrence is emitted downstream.  State lives
in the stream's checkpoint, so a restarted stream continues
deduplicating against everything it has ever accepted.

State size: one (fingerprint, doc_id, count) row per DISTINCT document
— the same cardinality an exact_dedup groupBy would shuffle, but
maintained incrementally instead of recomputed per batch.  Exact
forever-dedup keeps state unbounded by design; ``ttl_seconds`` bounds
retention instead: a fingerprint idle for longer than the TTL is
dropped from state (its next occurrence re-emits) — the right trade
when the dedup window is "recent history", e.g. a rolling crawl.  At
larger state than executors can hold, swap the fingerprint key space
for a partitioned RocksDB state store
(spark.sql.streaming.stateStore.*) — the operator itself is unchanged.
"""

from __future__ import annotations

from typing import Any, Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
import pyspark.sql.functions as F

from ukis_pysat_spark.operators.dedup import _popcount_u64, hamming_blocks
from ukis_pysat_spark.operators.text import fingerprint

OUT_SCHEMA = "fp string, doc_id long, text string"
STATE_SCHEMA = "first_doc_id long, n_seen long"


def _make_first_seen_fn(ttl_ms: int | None) -> Callable:
    def _first_seen_fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Emit the first-ever row of this fingerprint; count the rest."""
        if ttl_ms is not None and state.hasTimedOut:
            # idle past the TTL: forget the fingerprint so its next
            # occurrence re-emits (bounded-retention dedup)
            state.remove()
            return iter([])
        (fp,) = key
        if state.exists:
            first_id, n_seen = state.get
            new = False
        else:
            first_id, n_seen = None, 0
            new = True
        out = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            if new:
                pdf = pdf.sort_values("doc_id")
                first = pdf.iloc[:1].copy()
                if "fp" not in first.columns:  # key column arrives in the pdf
                    first.insert(0, "fp", fp)
                out.append(first[["fp", "doc_id", "text"]])
                first_id = int(pdf["doc_id"].iloc[0])
                new = False
            n_seen += len(pdf)
        state.update((first_id, n_seen))
        if ttl_ms is not None:
            # processing-time timeout, re-armed on every occurrence:
            # retention is "idle for ttl", not "ttl after first seen"
            state.setTimeoutDuration(ttl_ms)
        return iter(out)

    return _first_seen_fn


def stream_first_seen(documents: DataFrame, ttl_seconds: float | None = None) -> DataFrame:
    """doc stream -> first occurrence per content fingerprint.

    Works on a streaming DataFrame with (doc_id, text); the returned
    stream emits each distinct normalized text exactly once — ever
    (default, durable state) or per ``ttl_seconds`` idle window
    (bounded-retention dedup: expired fingerprints re-emit).
    """
    keyed = documents.select(
        fingerprint(F.col("text")).alias("fp"), "doc_id", "text"
    ).groupBy("fp")
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_seconds is not None
        else GroupStateTimeout.NoTimeout
    )
    ttl_ms = int(ttl_seconds * 1000) if ttl_seconds is not None else None
    return keyed.applyInPandasWithState(
        _make_first_seen_fn(ttl_ms),
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )

# --- streaming hamming near-dup --------------------------------------------

HAMMING_OUT_SCHEMA = "id_new string, id_seen string, hamming int"
HAMMING_STATE_SCHEMA = "ids array<string>, hashes array<long>"


def _make_hamming_fn(max_hamming: int, ttl_ms: int | None) -> Callable:
    def _hamming_fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return iter([])
        if state.exists:
            ids, hashes = state.get
            ids, hashes = list(ids), list(hashes)
        else:
            ids, hashes = [], []
        out_new: list[str] = []
        out_seen: list[str] = []
        out_ham: list[int] = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            # deterministic within-batch order (micro-batches carry no
            # row order): process by id so same-batch pairs orient as
            # (later id vs earlier id), matching the batch join's
            # id_a < id_b
            pdf = pdf.sort_values("__id__")
            for iid, h in zip(pdf["__id__"].values, pdf["__h__"].values):
                h = int(h)
                if hashes:
                    x = np.bitwise_xor(
                        np.asarray(hashes, dtype=np.int64), np.int64(h)
                    )
                    ham = _popcount_u64(x.view(np.uint64))
                    for i in np.nonzero(ham <= max_hamming)[0]:
                        out_new.append(str(iid))
                        out_seen.append(ids[int(i)])
                        out_ham.append(int(ham[int(i)]))
                ids.append(str(iid))
                hashes.append(h)
        state.update((ids, hashes))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if not out_new:
            return iter([])
        return iter(
            [pd.DataFrame({"id_new": out_new, "id_seen": out_seen, "hamming": out_ham})]
        )

    return _hamming_fn


def stream_hamming_pairs(
    df: DataFrame,
    id_col: str = "image_id",
    hash_col: str = "phash",
    max_hamming: int = 6,
    n_bits: int = 64,
    ttl_seconds: float | None = None,
) -> DataFrame:
    """Streaming near-duplicate DETECTOR over a 64-bit hash column
    (phash/simhash): emits one (id_new, id_seen, hamming) match event
    whenever an arriving row is within ``max_hamming`` bits of an
    already-seen row — across micro-batches and restarts (state lives
    in the stream checkpoint).

    The state key is the same pigeonhole block key as the batch
    ``hamming_pairs`` join (operators/dedup.hamming_blocks): h <=
    max_hamming differing bits cannot touch all max_hamming+1 blocks,
    so every true pair shares at least one block-key group and recall
    is 1.0 — the emitted pair SET equals the batch join on the same
    rows.  A pair sharing several block keys is emitted once per
    sharing group; consumers canonicalize with a downstream
    de-dup (set semantics), kept OUT of this operator so the query has
    a single stateful stage.

    State per (blk, key) group is the id+hash list of rows seen there —
    7x the input cardinality overall (the same blow-up the batch
    explode shuffles per run, but maintained incrementally);
    ``ttl_seconds`` bounds retention exactly like stream_first_seen."""
    keyed = (
        hamming_blocks(df, id_col, hash_col, max_hamming, n_bits)
        .select(
            F.col(id_col).cast("string").alias("__id__"),
            F.col(hash_col).alias("__h__"),
            "blk",
            "key",
        )
        .groupBy("blk", "key")
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_seconds is not None
        else GroupStateTimeout.NoTimeout
    )
    ttl_ms = int(ttl_seconds * 1000) if ttl_seconds is not None else None
    return keyed.applyInPandasWithState(
        _make_hamming_fn(max_hamming, ttl_ms),
        outputStructType=HAMMING_OUT_SCHEMA,
        stateStructType=HAMMING_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )
