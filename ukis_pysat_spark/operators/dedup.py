"""Deduplication operators for training-data pipelines.

Five strategies over ``documents`` / ``embeddings``:

- exact_dedup           hash-groupBy on a normalized fingerprint (SQL-
                        oracle-checkable, pure relational).
- ngram_jaccard_pairs   exact n-gram-shingle Jaccard via shingle
                        explode + self-equi-join on shingle + group
                        count (|A∩B|) and |A|+|B| — the inclusion-
                        exclusion trick keeps everything relational.
- minhash_lsh_pairs     MinHash signatures (vectorized numpy, one
                        Arrow UDF) banded into LSH buckets; candidate
                        pairs from a bucket self-join, verified by exact
                        Jaccard.  The scale path: no quadratic work.
- simhash_pairs         64-bit SimHash; near-dups = equal bucket on
                        rotated prefixes + Hamming<=`max_hamming` check.
- embedding_neardup     cosine >= threshold pairs on embeddings
                        (relational dot product via zip_with/aggregate,
                        SQL-oracle-checkable).

All pair outputs are canonicalized (id_a < id_b) and deterministic.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql.pandas.types import from_arrow_schema
import pyspark.sql.functions as F
from pyspark.sql.types import ArrayType, LongType

from ukis_pysat_spark.operators.text import fingerprint, normalized_text

# --- exact -----------------------------------------------------------------


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Keep the smallest doc_id per identical normalized text; emit
    (fp, keep_id, n_dups).  Map-side partial aggregation applies."""
    return (
        documents.select(fingerprint(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups"))
    )


def md5_hash60(c: Column) -> Column:
    """60-bit integer hash from the md5 hex digest — JVM-side and
    SQL-PORTABLE: DuckDB computes the identical value as
    ``CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)``, so the
    ``*_md5`` oracle-twin queries can value-gate the sketch pipelines
    (simhash blocks, bucket joins, popcount filters) end-to-end against
    a pure-SQL oracle.  15 hex chars = 60 bits, always positive, no
    signed-overflow divergence between the engines.  xxhash64 stays the
    default production hash (native JVM, no hex round-trip)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


# --- n-gram shingles ---------------------------------------------------------


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of normalized text (relational).

    Documents with fewer than n words yield an EMPTY shingle set:
    sequence(1, k) with k<=0 would produce a descending range and
    slice(words, 0, n) would throw on executors, so the index list is
    gated on k >= 1."""
    words = F.split(normalized_text(text), " ")
    k = F.size(words) - (n - 1)
    idx = F.when(k >= 1, F.sequence(F.lit(1), k)).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, n)))
    )


def _word_count(text: Column) -> Column:
    return F.size(F.split(normalized_text(text), " "))


def _spread(documents: DataFrame) -> DataFrame:
    """Repartition documents BEFORE any shingle/hash expression.

    Small-file sources arrive as one input partition, and Catalyst
    pushes deterministic projections/filters below a later repartition
    — which would evaluate the (interpreted, HOF-heavy) shingle
    expressions single-threaded on the scan side.  Exchanging the raw
    (doc_id, text) rows first keeps the expensive expressions above the
    exchange, spread across the cluster."""
    n_parts = int(documents.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return documents.repartition(n_parts, "doc_id")


def _shingle_table(documents: DataFrame, n: int) -> DataFrame:
    return _spread(documents).select(
        "doc_id", F.explode(shingles(F.col("text"), n)).alias("sh")
    )


def expected_candidate_blowup(
    documents: DataFrame, n: int = 3, sample_mod: int = 10
) -> tuple[float, int, float]:
    """(expected naive candidate pairs = sum_sh C(df,2), total shingle
    rows, sample fraction) from ONE map-side-combinable aggregation over
    a deterministic 1/``sample_mod`` document sample (xxhash64(doc_id),
    retry-stable).  This is the cheap measured signal the auto path
    selection uses: the naive self-join's output volume is sum(df^2)/2-
    ish, so a corpus with hot/boilerplate shingles announces itself
    BEFORE the quadratic join is launched.  Sampling keeps the pre-pass
    at ~1/sample_mod of one shingle pass even at web scale; the
    decision ratio rescales exactly (E[C(df_s,2)] = p^2 C(df,2),
    rows_s = p*rows => ratio_s = p*ratio)."""
    p = 1.0 / sample_mod
    sampled = documents.filter(
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(sample_mod)) == 0
    ) if sample_mod > 1 else documents
    row = (
        _shingle_table(sampled, n)
        .groupBy("sh")
        .agg(F.count("*").alias("df"))
        .agg(
            F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("cand"),
            F.sum("df").alias("rows"),
        )
        .collect()[0]
    )
    return float(row["cand"] or 0.0), int(row["rows"] or 0), p


def choose_prefix_filter(
    documents: DataFrame,
    n: int = 3,
    naive_blowup_factor: float = 80.0,
    sample_mod: int = 10,
) -> bool:
    """True when the measured candidate volume of the naive shingle
    self-join exceeds ``naive_blowup_factor`` candidate pairs per
    shingle row — i.e. the join's OUTPUT would dwarf its input and the
    AllPairs/PPJoin prefix path is the right plan.  Measured on the
    deterministic sample; the threshold rescales by the sample
    fraction (see expected_candidate_blowup).

    Threshold calibration (r7, measured at sf1.0/local[32]): the naive
    join is ~linear in candidate pairs (120M pairs -> 18 s) while the
    prefix path's cost is dominated by the per-doc HOF work
    (array_sort + slice + array_intersect, ~31 s on the same corpus,
    weakly dependent on the ratio) — so the crossover sits near 80
    candidates per shingle row, not the previous 20.  Boilerplate-
    ridden web corpora announce themselves at ratios in the thousands
    and still route to the prefix path."""
    cand, rows, p = expected_candidate_blowup(documents, n, sample_mod)
    if rows == 0:  # degenerate/tiny sample: keep the naive default
        return False
    return cand > naive_blowup_factor * p * rows


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    prefix_filter: bool | None = None,
) -> DataFrame:
    """EXACT Jaccard-similar pairs via shingle join.

    J(A,B) = |A∩B| / (|A|+|B|-|A∩B|); the intersection count comes from
    a shingle equi-join, sizes from a per-doc count — no quadratic
    cross join, only pairs sharing >=1 shingle are ever materialized.
    The naive self-join + count aggregate is the fastest plan when
    shingle document-frequencies are low, but its candidate volume
    grows as sum(df^2): one boilerplate shingle shared by 1% of a web
    corpus emits ~10^10 pairs.  ``prefix_filter=None`` (default)
    therefore MEASURES the corpus first — one map-side-combinable
    aggregation over the shingle table (choose_prefix_filter) — and
    picks the prefix path when the naive join's expected output exceeds
    20 candidate pairs per shingle row.  NOTE: this measuring pass is
    an EAGER Spark job (a sampled shingle aggregation + one collected
    scalar) executed at DataFrame-CONSTRUCTION time — a deliberate
    laziness break, traded for never constructing the 10^10-pair naive
    plan blind.  Pass prefix_filter=True/False explicitly to keep
    construction fully lazy (and for streaming inputs, where the
    measuring job cannot run — the default falls back to the prefix
    path there).  Tests prove the two paths emit IDENTICAL pairs and
    jaccard values.

    With ``prefix_filter`` the candidate join uses the
    AllPairs/PPJoin prefix principle with a HASH total order: each
    document's shingles are hashed (xxhash64), sorted, and only the
    first ``|A| - ceil(t*|A|) + 1`` participate in the candidate join —
    two documents can reach Jaccard >= t only if their prefixes share
    an element (any fixed total order satisfies the principle).  The
    prefix is computed per-row with array expressions (sort_array +
    slice — NO extra shuffle), and it bounds the damage of frequent
    shingles: a boilerplate shingle shared by 1% of a web corpus emits
    10^10 candidate pairs in the naive self-join but only lands in the
    prefix of ~(1-t) of its documents under a hash order.  The verify
    stage intersects full 64-bit-hashed shingle sets (collision odds
    are negligible and deterministic), re-attached after the ids-only
    pair dedup like minhash_lsh_pairs.
    """
    if prefix_filter is None:
        if documents.isStreaming:
            # can't run the eager measuring job on a stream; the prefix
            # path is the safe default (correct at any df distribution)
            prefix_filter = True
        else:
            prefix_filter = choose_prefix_filter(documents, n)
    if prefix_filter:
        slack = threshold * (1.0 - 1e-9)  # guard the rounded-threshold boundary
        hashed = F.array_sort(
            F.array_distinct(
                F.transform(shingles(F.col("text"), n), lambda s: F.xxhash64(s))
            )
        )
        # the word-count gate is CHEAP, so letting Catalyst push it to
        # the scan side is fine; it is equivalent to size(shs) > 0
        sets = _spread(documents.filter(_word_count(F.col("text")) >= n)).select(
            "doc_id", hashed.alias("shs")
        )
        plen = F.size("shs") - F.ceil(F.lit(slack) * F.size("shs")) + 1
        pref = sets.select(
            "doc_id", F.explode(F.slice("shs", 1, plen.cast("int"))).alias("sh")
        )
        a = pref.alias("a")
        b = pref.alias("b")
        cand = (
            a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        pairs = cand.join(
            sets.withColumnsRenamed({"doc_id": "id_a", "shs": "shs_a"}), "id_a"
        ).join(sets.withColumnsRenamed({"doc_id": "id_b", "shs": "shs_b"}), "id_b")
        inter_sz = F.size(F.array_intersect("shs_a", "shs_b"))
        union_sz = F.size("shs_a") + F.size("shs_b") - inter_sz
        return (
            pairs.withColumn("jaccard", F.round(inter_sz / union_sz, 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    sh = _shingle_table(documents, n)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"doc_id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"doc_id": "id_b", "sz": "sz_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --- MinHash + LSH -----------------------------------------------------------

_MERSENNE = (1 << 61) - 1
_MINHASH_CHUNK = 1 << 14  # shingles hashed at once: 16 MB at 128 hashes


def _minhash_matrix(hash_lists: pa.ListArray, n_hashes: int, seed: int) -> np.ndarray:
    """(rows, n_hashes) MinHash signatures from PRE-HASHED shingles
    (an Arrow list<int64> array; the string->int64 hashing runs JVM-side
    via xxhash64 so Python only does vectorized integer math).  A null
    or empty shingle list signs as all zeros."""
    rng = np.random.Generator(np.random.Philox(key=np.uint64(seed)))
    a = rng.integers(1, _MERSENNE, size=n_hashes, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, size=n_hashes, dtype=np.int64)
    lens = pc.list_value_length(hash_lists).fill_null(0).to_numpy()
    hs = hash_lists.flatten().to_numpy() & 0x7FFFFFFFFFFFFFFF
    ends = np.cumsum(lens)
    out = np.zeros((len(lens), n_hashes), dtype=np.int64)
    r0 = 0
    while r0 < len(lens):  # row chunks of ~_MINHASH_CHUNK shingles bound memory
        v0 = ends[r0] - lens[r0]
        r1 = max(int(np.searchsorted(ends, v0 + _MINHASH_CHUNK, "right")), r0 + 1)
        rows = np.flatnonzero(lens[r0:r1]) + r0
        if len(rows):
            # (n_shingles, n_hashes) universal hashing mod Mersenne prime
            m = (hs[v0 : ends[r1 - 1], None] * a[None, :] + b[None, :]) % _MERSENNE
            out[rows] = np.minimum.reduceat(m, ends[rows] - lens[rows] - v0, axis=0)
        r0 = r1
    return out


def _band_buckets_udf(n_hashes: int, bands: int, seed: int):
    """list<int64> shingle hashes -> list<int64> of `bands` LSH bucket
    ids (FNV over each band's MinHash rows, offset per band)."""
    rows_per_band = n_hashes // bands

    @F.arrow_udf(ArrayType(LongType()))
    def band_buckets(sh: pa.Array) -> pa.Array:
        sig = _minhash_matrix(sh, n_hashes, seed).reshape(len(sh), bands, rows_per_band)
        # bucket = FNV over the band's signature values
        buckets = np.empty((len(sh), bands), dtype=np.int64)
        for bi in range(bands):
            acc = np.full(len(sh), 0xCBF29CE484222325, dtype=np.uint64)
            for ri in range(rows_per_band):
                acc = (acc ^ sig[:, bi, ri].astype(np.uint64)) * np.uint64(0x100000001B3)
            buckets[:, bi] = (acc >> np.uint64(1)).astype(np.int64) + bi * (1 << 40)
        return _fixed_lists(buckets)

    return band_buckets


def minhash_lsh_pairs(
    documents: DataFrame,
    n: int = 3,
    n_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
    seed: int = 1,
) -> DataFrame:
    """Banded-MinHash candidate generation + exact Jaccard verification.

    rows/band = n_hashes/bands; docs sharing any band bucket become
    candidates (equi-join on (band, bucket) — distributes/salts like any
    key join), then exact Jaccard filters false positives, so output ==
    the exact ngram_jaccard_pairs at the same threshold up to LSH
    recall (tests measure recall=1.0 on the fixtures at these params).

    Shingle strings are hashed to int64 JVM-side (xxhash64 inside
    transform()) so the Python stage is pure vectorized integer math;
    the exact verify stage intersects hashed shingle sets (64-bit, so
    collision-induced error is negligible and deterministic).
    """
    # shingle-less docs (fewer than n words) have no defined Jaccard;
    # the WORD-COUNT form of the gate is cheap enough to be pushed to
    # the scan side (a size(sh)>0 filter would drag the whole shingle
    # expression below the exchange and single-thread it)
    docs_sh = _spread(documents.filter(_word_count(F.col("text")) >= n)).select(
        "doc_id",
        F.transform(shingles(F.col("text"), n), lambda s: F.xxhash64(s)).alias("sh"),
    )
    # the (band,bucket) self-join + pair dedup shuffle ONLY (doc_id,
    # bucket) / (id, id) rows; the int64 shingle arrays are re-attached
    # AFTER the candidate pairs are distinct (the ids-only candidate
    # pattern of spatial_join) — at web scale the bucket join's shuffle
    # payload is 16 bytes/row instead of the full shingle set
    band_buckets = _band_buckets_udf(n_hashes, bands, seed)
    # the self-join below evaluates band_buckets once on each side
    bucketed = docs_sh.select("doc_id", F.explode(band_buckets("sh")).alias("bucket"))
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    cand_ids = (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = cand_ids.join(
        docs_sh.withColumnsRenamed({"doc_id": "id_a", "sh": "sh_a"}), "id_a"
    ).join(docs_sh.withColumnsRenamed({"doc_id": "id_b", "sh": "sh_b"}), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --- SimHash -----------------------------------------------------------------


def simhash64_col(
    documents: DataFrame,
    text_col: str = "text",
    word_hash=None,
    n_bits: int = 64,
) -> DataFrame:
    """(doc_id, sh64) — n_bits-bit SimHash, FULLY relational.

    Word hashing runs JVM-side (explode(split) + xxhash64 by default;
    pass ``word_hash=md5_hash60, n_bits=60`` for the SQL-portable
    oracle-twin variant); the bit vote is an n_bits-column ±1 sum with
    map-side partial aggregation, and the final hash is a bitwise-OR
    fold of the positive votes.  No Python touches any row — the whole
    thing is one whole-stage-codegen'd scan plus one hash aggregate
    keyed by doc_id.
    """
    words = _spread(documents).select(
        "doc_id",
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    # hash once in a projection BELOW the aggregate: referencing the
    # hash expression inside n_bits sum() updates would evaluate the
    # (md5/xxhash) hash up to n_bits times per word row
    hashed_words = words.select("doc_id", (word_hash or F.xxhash64)(F.col("w")).alias("h"))
    # votes algebra: sum(bit*2 - 1) > 0  <=>  2*sum(bit) > count — one
    # cheap (h>>b)&1 sum per bit plus a single shared count, instead of
    # the twice-as-wide ±1 expression per bit
    votes = hashed_words.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("nw"),
        *[
            F.sum(
                F.shiftrightunsigned(F.col("h"), b).bitwiseAND(F.lit(1)).cast("long")
            ).alias(f"v{b}")
            for b in range(n_bits)
        ],
    )
    sh64 = None
    for b in range(n_bits):
        bit = F.when(
            F.col(f"v{b}") * 2 > F.col("nw"),
            F.shiftleft(F.lit(1).cast("long"), b),
        ).otherwise(F.lit(0).cast("long"))
        sh64 = bit if sh64 is None else sh64.bitwiseOR(bit)
    hashed = votes.select("doc_id", sh64.alias("sh64"))
    # wordless documents (empty/whitespace text) hash to 0
    return (
        documents.select("doc_id")
        .join(hashed, "doc_id", "left")
        .select("doc_id", F.coalesce("sh64", F.lit(0).cast("long")).alias("sh64"))
    )


def _simhash_block_bounds(n_blocks: int, n_bits: int = 64) -> list[tuple[int, int]]:
    """Split n_bits bits into n_blocks near-equal (shift, width) blocks."""
    base, extra = divmod(n_bits, n_blocks)
    bounds = []
    shift = 0
    for i in range(n_blocks):
        width = base + (1 if i < extra else 0)
        bounds.append((shift, width))
        shift += width
    return bounds


def simhash_pairs(
    documents: DataFrame,
    max_hamming: int = 3,
    word_hash=None,
    n_bits: int = 64,
) -> DataFrame:
    """n_bits-bit SimHash near-dup pairs at Hamming distance <= max_hamming.

    Candidates: equal bit-block in any of (max_hamming+1) block
    positions — the pigeonhole guarantee is exact for the REQUESTED
    radius (h differing bits cannot touch all h+1 blocks), so recall is
    1.0 by construction; an exact popcount filter removes false
    positives.  Each block join is a relational equi-join on
    (block_index, block_value).

    Because recall is 1.0 by construction, the semantic output equals
    the brute-force all-pairs Hamming filter — which IS SQL-expressible
    when ``word_hash`` is the portable ``md5_hash60`` — so the blocked
    plan can be value-gated against a cross-join DuckDB oracle
    (``simhash_md5_docs`` in __spark_entry__).
    """
    docs = simhash64_col(documents, word_hash=word_hash, n_bits=n_bits)
    return hamming_pairs(docs, "doc_id", "sh64", max_hamming, n_bits)


def hamming_blocks(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    n_bits: int = 64,
) -> DataFrame:
    """(id, hash, blk, key): each row exploded into its (max_hamming+1)
    pigeonhole block keys — the candidate-generation half shared by the
    batch ``hamming_pairs`` join and the streaming near-dup state key.
    ONE explode, not a union of per-block projections (a union would
    replicate the possibly-expensive upstream subtree per block)."""
    n_blocks = max_hamming + 1

    def _mask(width: int) -> int:
        # two's-complement int64 (width == 64 -> all-ones == -1);
        # a raw (1<<64)-1 literal overflows Spark's LongType
        m = (1 << width) - 1
        return m - (1 << 64) if m > 0x7FFFFFFFFFFFFFFF else m

    entries = F.array(
        *[
            F.struct(
                F.lit(bi).alias("blk"),
                F.shiftrightunsigned(F.col(hash_col), shift)
                .bitwiseAND(F.lit(_mask(width)).cast("long"))
                .alias("key"),
            )
            for bi, (shift, width) in enumerate(_simhash_block_bounds(n_blocks, n_bits))
        ]
    )
    return df.select(
        id_col, hash_col, F.explode(entries).alias("e")
    ).select(id_col, hash_col, F.col("e.blk").alias("blk"), F.col("e.key").alias("key"))


_POPCNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def _popcount_u64(x: np.ndarray) -> np.ndarray:
    """Vectorized popcount of a uint64 array (numpy<2 has no
    bitwise_count): byte-view + 256-entry lookup, summed per word."""
    b = _POPCNT8[x.view(np.uint8)]
    return b.reshape(*x.shape, 8).sum(axis=-1, dtype=np.int32)


def _sorted_run_pairs(starts: np.ndarray, sizes: np.ndarray, chunk: int):
    """Yield (pi, pj) int64 position-pair arrays — every unordered
    within-run pair (pi < pj positionally) of the runs given by
    (starts, sizes) over a sorted axis, at most ~chunk pairs per yield.

    Fully vectorized and DIVISION-FREE (a `pairidx // size` scheme
    costs ~100 ns/pair in int64 numpy — measured 123 ns/probe, slower
    than the row-at-a-time join it replaced): runs are grouped by
    EXACT size and one precomputed triu_indices(s, 1) template is
    broadcast over all same-size run starts (~5 ns/pair, massive
    template reuse at small s); a run too big for templates is swept
    in row blocks with repeat/tile (template-free)."""
    order = np.argsort(sizes, kind="stable")
    starts, sizes = starts[order], sizes[order]
    uniq, first = np.unique(sizes, return_index=True)
    bounds = np.append(first, len(sizes))
    TEMPLATE_MAX = 1 << 18  # templates only where they are reused
    for u_i, sz in enumerate(uniq):
        sz = int(sz)
        if sz < 2:
            continue
        st_all = starts[bounds[u_i] : bounds[u_i + 1]]
        npairs = sz * (sz - 1) // 2
        if npairs > TEMPLATE_MAX:
            rows = max(1, chunk // sz)
            for s0 in st_all:
                s0 = int(s0)
                for i0 in range(0, sz - 1, rows):
                    i1 = min(i0 + rows, sz)
                    ii = np.repeat(np.arange(i0, i1, dtype=np.int64), sz)
                    jj = np.tile(np.arange(sz, dtype=np.int64), i1 - i0)
                    keep = jj > ii
                    yield ii[keep] + s0, jj[keep] + s0
            continue
        ti, tj = np.triu_indices(sz, 1)
        ti, tj = ti.astype(np.int64), tj.astype(np.int64)
        rpc = max(1, chunk // max(npairs, 1))
        for g0 in range(0, len(st_all), rpc):
            st = st_all[g0 : g0 + rpc, None]
            yield (st + ti[None, :]).ravel(), (st + tj[None, :]).ravel()


_SUB_MIN = 128  # runs at least this hot get sub-pigeonholed


def hamming_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    n_bits: int = 64,
) -> DataFrame:
    """All (id_a < id_b) pairs whose ``hash_col`` values differ in at
    most ``max_hamming`` of ``n_bits`` bits — the pigeonhole-blocked
    plan shared by simhash_pairs and phash_neardup.

    (max_hamming+1) near-equal bit blocks; h differing bits cannot
    touch all h+1 blocks, so candidates sharing a (block, key) have
    recall 1.0 by construction.  Verification: rows are hash-partitioned
    and sorted by (blk, key);
    ONE mapInArrow stage detects the equal-key runs vectorized and
    verifies every candidate pair with chunked numpy XOR+popcount —
    segmented-arange index generation, so there is no per-bucket
    Python/pandas overhead (200k cold 5-row buckets cost the same as
    one array pass) AND a hot bucket is swept at numpy rates instead
    of stalling one core in a join (simhash bit votes over natural
    text are heavily correlated: a hot bucket is a SINGLE join key,
    unsplittable by AQE, so a self-join pays its whole s^2 candidate
    set on one core at row-machinery rates — measured minutes at 17k
    rows/bucket where the numpy sweep takes ~1 s).  Measured at sf0.1
    (cold buckets) the segmented stage matches the relational join
    within noise, so it is the only path.  Its oracle twin, the
    round-6 (blk, key) self-equi-join with a bit_count filter, lives
    in tests/test_pipeline_ops.py, where differential tests compare
    the two row for row.  dropDuplicates folds the per-block copies."""
    bucketed = hamming_blocks(df, id_col, hash_col, max_hamming, n_bits)
    id_type = df.schema[id_col].dataType.simpleString()
    h = int(max_hamming)
    bounds_blocks = _simhash_block_bounds(h + 1, n_bits)

    def segmented(batches):
        """One mapInArrow over (blk,key)-partitioned, sorted rows: runs
        of equal (blk,key) are detected vectorized and their candidate
        pairs generated by _sorted_run_pairs (no per-bucket Python or
        pandas objects).  HOT runs (>= _SUB_MIN rows) are first
        SUB-PIGEONHOLED: rows of a run agree on their block's bits, so
        any pair at hamming <= h differs only in the complement bits —
        re-splitting the complement into h+1 sub-blocks means every
        true pair agrees on at least one sub-key (recall 1.0, same
        argument as the outer blocks), and only sub-key-equal pairs
        are probed: a 2k-row bucket drops from ~2M probes to a few
        thousand.  Runs whose complement bits do not discriminate
        (measured: slot-0 sub-runs still cover >= 1/4 of the direct
        pair count — near-identical hash clusters) are swept directly
        once instead of paying h+1 redundant slot passes.  Duplicate
        candidates across slots are allowed — the exact popcount keeps
        only true pairs and the global dropDuplicates folds copies,
        exactly as it already does for the outer per-block copies."""
        import pyarrow as pa
        import pyarrow.compute as pc_

        buf = [b for b in batches if b.num_rows]
        if not buf:
            return
        tbl = pa.Table.from_batches(buf).combine_chunks()
        ids_arr = tbl.column(id_col).combine_chunks()
        out_schema = pa.schema(
            [("id_a", ids_arr.type), ("id_b", ids_arr.type), ("hamming", pa.int32())]
        )
        hv = (
            tbl.column(hash_col)
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
            .view(np.uint64)
        )
        blk = tbl.column("blk").to_numpy(zero_copy_only=False)
        key = tbl.column("key").to_numpy(zero_copy_only=False)
        n = len(hv)
        change = np.empty(n, dtype=bool)
        change[0] = True
        change[1:] = (blk[1:] != blk[:-1]) | (key[1:] != key[:-1])
        starts = np.flatnonzero(change).astype(np.int64)
        sizes = np.diff(np.append(starts, n))
        live = sizes >= 2
        starts, sizes = starts[live], sizes[live].astype(np.int64)
        if not len(starts):
            return
        CH = 1 << 23  # ~8M (i,j) probes per chunk bounds memory

        def emit(ii: np.ndarray, jj: np.ndarray):
            pc = _popcount_u64(hv[ii] ^ hv[jj])
            good = np.flatnonzero(pc <= h)
            if not good.size:
                return None
            ia = ids_arr.take(pa.array(ii[good]))
            ib = ids_arr.take(pa.array(jj[good]))
            ne = pc_.invert(pc_.equal(ia, ib))
            if not pc_.any(ne).as_py():
                return None
            ia, ib = ia.filter(ne), ib.filter(ne)
            hm = pa.array(pc[good], type=pa.int32()).filter(ne)
            # if_else(less) instead of min/max_element_wise: works for
            # string ids too (lexicographic bytes == Spark UTF8 order)
            a_lt = pc_.less(ia, ib)
            lo = pc_.if_else(a_lt, ia, ib)
            hi = pc_.if_else(a_lt, ib, ia)
            return pa.RecordBatch.from_arrays([lo, hi, hm], schema=out_schema)

        hot = sizes >= _SUB_MIN
        # cold runs: direct template pair sweep on the global axis
        for pi, pj in _sorted_run_pairs(starts[~hot], sizes[~hot], CH):
            b = emit(pi, pj)
            if b is not None:
                yield b

        hot_starts, hot_sizes = starts[hot], sizes[hot]
        if not len(hot_starts):
            return
        nh = int(hot_sizes.sum())
        hrows = (
            np.repeat(
                hot_starts - np.concatenate(([0], np.cumsum(hot_sizes)))[:-1],
                hot_sizes,
            )
            + np.arange(nh, dtype=np.int64)
        )
        run_id = np.repeat(np.arange(len(hot_starts), dtype=np.int64), hot_sizes)
        hv_h = hv[hrows]
        blk_h = blk[hrows]

        def run_bounds(rid_sorted, sk_sorted):
            chg = np.empty(rid_sorted.size, dtype=bool)
            chg[0] = True
            chg[1:] = (rid_sorted[1:] != rid_sorted[:-1]) | (
                sk_sorted[1:] != sk_sorted[:-1]
            )
            st2 = np.flatnonzero(chg).astype(np.int64)
            sz2 = np.diff(np.append(st2, rid_sorted.size)).astype(np.int64)
            return st2, sz2

        for b_i, (sh_b, w_b) in enumerate(bounds_blocks):
            m = blk_h == b_i
            if not m.any():
                continue
            x = hv_h[m]
            rid = run_id[m]
            gm = hrows[m]
            w_comp = n_bits - w_b
            if w_comp < h + 1:
                # fewer complement bits than h+1 sub-blocks: some sub-
                # block is empty, and a true pair may agree on that one
                # only, so no sub-key would ever probe it — sweep directly
                o = np.argsort(rid, kind="stable")
                st2, sz2 = run_bounds(rid[o], np.zeros(o.size, dtype=np.int64))
                go = gm[o]
                for pi, pj in _sorted_run_pairs(st2, sz2, CH):
                    b = emit(go[pi], go[pj])
                    if b is not None:
                        yield b
                continue
            comp = np.zeros(x.size, dtype=np.uint64)
            pos = 0
            for k, (sh, w) in enumerate(bounds_blocks):
                if k == b_i:
                    continue
                comp |= (
                    (x >> np.uint64(sh)) & np.uint64((1 << w) - 1)
                ) << np.uint64(pos)
                pos += w
            sub_bounds = _simhash_block_bounds(h + 1, pos)
            # slot-0 compressibility probe: per run, do the slot-0
            # sub-runs still cover >= 1/4 of the direct pair count?
            sh0, w0 = sub_bounds[0]
            sk0 = (comp >> np.uint64(sh0)) & np.uint64((1 << w0) - 1)
            o0 = np.lexsort((sk0, rid))
            st2, sz2 = run_bounds(rid[o0], sk0[o0])
            uruns, rinv = np.unique(rid, return_inverse=True)
            rloc_of_subrun = np.searchsorted(uruns, rid[o0][st2])
            sub_pairs = np.bincount(
                rloc_of_subrun, weights=(sz2 * (sz2 - 1) // 2), minlength=len(uruns)
            )
            direct_pairs = np.bincount(rinv, minlength=len(uruns)).astype(np.int64)
            direct_pairs = direct_pairs * (direct_pairs - 1) // 2
            compressible = sub_pairs <= 0.25 * direct_pairs
            comp_rows = compressible[rinv]

            # incompressible runs (near-identical hash clusters): one
            # direct sweep instead of h+1 redundant slot passes
            if not comp_rows.all():
                rid_d = rid[~comp_rows]
                gm_d = gm[~comp_rows]
                od = np.argsort(rid_d, kind="stable")
                st2d, sz2d = run_bounds(rid_d[od], np.zeros(od.size, dtype=np.int64))
                god = gm_d[od]
                for pi, pj in _sorted_run_pairs(st2d, sz2d, CH):
                    b = emit(god[pi], god[pj])
                    if b is not None:
                        yield b
                if not comp_rows.any():
                    continue
                comp = comp[comp_rows]
                rid = rid[comp_rows]
                gm = gm[comp_rows]

            for sh2, w2 in sub_bounds:
                sk = (comp >> np.uint64(sh2)) & np.uint64((1 << w2) - 1)
                o = np.lexsort((sk, rid))
                st2, sz2 = run_bounds(rid[o], sk[o])
                go = gm[o]
                for pi, pj in _sorted_run_pairs(st2, sz2, CH):
                    b = emit(go[pi], go[pj])
                    if b is not None:
                        yield b

    return (
        bucketed.repartition("blk", "key")
        .sortWithinPartitions("blk", "key")
        .mapInArrow(segmented, schema=f"id_a {id_type}, id_b {id_type}, hamming int")
        .dropDuplicates(["id_a", "id_b"])
    )


def phash_neardup(images: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Perceptual-hash near-duplicate image pairs: Hamming distance
    over the images table's 64-bit ``phash`` column (the input_hint's
    precomputed perceptual hash) — no pixel decode anywhere in the
    plan, pure relational pigeonhole blocks, so it runs at catalog
    scan speed over a 10^12-image table."""
    return hamming_pairs(
        images.select("image_id", "phash"), "image_id", "phash", max_hamming, 64
    )


# --- embedding cosine near-dup ------------------------------------------------


def cosine_col(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns — relational
    (zip_with + aggregate), no UDF."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    return dot / (na * nb)


_COSINE_PAIRS = pa.schema([("id_a", pa.int64()), ("id_b", pa.int64()), ("cosine", pa.float64())])


def _block_matrix(col: pa.Array | pa.ChunkedArray) -> np.ndarray:
    """A list<float> column as a (rows, dim) float64 matrix: one reshape
    of its values.  Null vectors or vectors of unequal length raise,
    since the reshape would misalign them."""
    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    lens = np.diff(arr.offsets.to_numpy())
    if arr.null_count or (len(lens) and lens.min() != lens.max()):
        raise ValueError("needs non-null vectors of one length")
    dim = int(lens[0]) if len(lens) else 0
    return arr.flatten().to_numpy(zero_copy_only=False).astype(np.float64).reshape(len(arr), dim)


def _fixed_lists(v: np.ndarray) -> pa.ListArray:
    """A (rows, width) int64 matrix as a list<int64> array, one row per
    list: an offsets array over the flat values, no per-row lists."""
    offsets = np.arange(v.shape[0] + 1, dtype=np.int32) * np.int32(v.shape[1])
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(v.ravel(), pa.int64()))


def embedding_neardup_blocked(
    embeddings: DataFrame, threshold: float = 0.95, n_blocks: int | None = None
) -> DataFrame:
    """All pairs with cosine >= threshold via DISTRIBUTED block-pair GEMM.

    The corpus is hashed into B blocks; every unordered block pair
    (i, j), i <= j, becomes one cogroup task that multiplies block i
    against block j with a single numpy matmul and emits only pairs
    above threshold.  Both blocks reach the task as Arrow tables
    (``applyInArrow``), each block matrix one reshape of its list
    column's values buffer.  Nothing is collected to the driver and
    nothing is broadcast: each row is shuffled at most B times (the left
    side of block i fans out to pairs (i, i..B-1), the right side to
    (0..j, j)), so shuffle volume is n*B rows while task memory is
    bounded by two blocks ~ 2*(n/B)*dim*8 bytes — pick
    B ~ sqrt(n*dim*8/mem_budget).
    O(n^2) FLOPs but fully vectorized and horizontally scalable; for
    web-scale corpora where even n^2 FLOPs are prohibitive use
    similarity.lsh_ann.
    """
    if n_blocks is None:
        n_blocks = int(embeddings.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        n_blocks = max(4, min(n_blocks, 64))
    B = int(n_blocks)
    thr = float(threshold)

    blk = F.pmod(F.xxhash64("vec_id"), F.lit(B)).cast("int")
    base = embeddings.select("vec_id", "embedding", blk.alias("blk"))
    # left side: block i participates in pairs (i, j) for all j >= i
    left = base.select(
        F.col("blk").alias("gi"),
        F.explode(F.sequence(F.col("blk"), F.lit(B - 1))).alias("gj"),
        "vec_id",
        "embedding",
    )
    # right side: block j participates in pairs (i, j) for all i <= j.
    # NB the payload columns are RENAMED: both sides derive from the same
    # plan, and identical attribute ids across the two cogroup children
    # make Catalyst's de-duplication prune the right side's payload —
    # distinct names force fresh attributes.
    right = base.select(
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("gi"),
        F.col("blk").alias("gj"),
        F.col("vec_id").alias("vec_id_r"),
        F.col("embedding").alias("embedding_r"),
    )

    def gemm(key, left: pa.Table, right: pa.Table) -> pa.Table:
        if not left.num_rows or not right.num_rows:
            return _COSINE_PAIRS.empty_table()
        la = left.column("vec_id").to_numpy()
        ra = right.column("vec_id_r").to_numpy()
        lm = _block_matrix(left.column("embedding"))
        rm = _block_matrix(right.column("embedding_r"))
        lm /= np.linalg.norm(lm, axis=1, keepdims=True)
        rm /= np.linalg.norm(rm, axis=1, keepdims=True)
        sims = lm @ rm.T
        ki, kj = np.nonzero(sims >= thr)
        ia, ib = la[ki], ra[kj]
        lo = np.minimum(ia, ib)
        hi = np.maximum(ia, ib)
        mask = lo < hi  # drop self pairs; canonicalize id_a < id_b
        if key[0].as_py() == key[1].as_py():
            # same block on both sides: keep each unordered pair once
            mask &= ia < ib
        return pa.table(
            [lo[mask], hi[mask], np.round(sims[ki[mask], kj[mask]], 6)], schema=_COSINE_PAIRS
        )

    return (
        left.groupBy("gi", "gj")
        .cogroup(right.groupBy("gi", "gj"))
        .applyInArrow(gemm, schema=from_arrow_schema(_COSINE_PAIRS))
    )


def embedding_neardup(embeddings: DataFrame, threshold: float = 0.95) -> DataFrame:
    """All pairs with cosine >= threshold.  Pure-relational exact
    variant (zip_with/aggregate — deterministic sequential summation,
    used by the DuckDB-oracle correctness gate).  For throughput use
    embedding_neardup_blocked; for web scale use similarity.lsh_ann."""
    a = embeddings.alias("a")
    b = embeddings.alias("b")
    pairs = a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
    cos = cosine_col(F.col("a.embedding"), F.col("b.embedding"))
    return (
        pairs.select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
