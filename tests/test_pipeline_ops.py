"""Training-data pipeline operators: dedup / similarity / text / multimodal.
SQL-parity ops are cross-checked against DuckDB on the driver-provided
testdata (same check the driver's correctness gate runs)."""

import duckdb
import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from ukis_pysat_spark import codec, datagen
from ukis_pysat_spark.operators import dedup, multimodal, similarity, text
from tests.conftest import SF_DIR

DOCS = f"{SF_DIR}/documents.parquet"
EMB = f"{SF_DIR}/embeddings.parquet"


def _docs(spark):
    return spark.read.parquet(DOCS)


def _emb(spark):
    return spark.read.parquet(EMB)


# --- text ---------------------------------------------------------------


def test_document_profile_matches_duckdb(spark):
    got = text.document_profile(_docs(spark)).orderBy("doc_id").toPandas()
    exp = duckdb.sql(
        f"""
        SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        FROM '{DOCS}' ORDER BY doc_id
        """
    ).df()
    assert (got["n_tokens"].values == exp["n_tokens"].values).all()
    assert (got["n_bpe_tokens"].values == exp["n_bpe_tokens"].values).all()
    assert (got["fp"].values == exp["fp"].values).all()
    assert set(got["pred_lang"]) <= {"en", "de", "fr", "es"}
    assert ((got["quality"] >= 0) & (got["quality"] <= 1)).all()


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog went to the park and it is good for you"),
            (2, "der hund und die katze sind nicht mit der maus zu hause"),
            (3, "le chat et le chien sont dans la maison pour une heure"),
            (4, "el perro y el gato son para la casa con una mesa por"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.lang for r in df.select("doc_id", text.lang_id(F.col("text")).alias("lang")).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es"}


# --- dedup ----------------------------------------------------------------


def test_exact_dedup_matches_duckdb(spark):
    got = dedup.exact_dedup(_docs(spark)).orderBy("fp").toPandas()
    exp = duckdb.sql(
        f"""
        SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
               min(doc_id) AS keep_id, count(*) AS n_dups
        FROM '{DOCS}' GROUP BY 1 ORDER BY fp
        """
    ).df()
    assert (got["fp"].values == exp["fp"].values).all()
    assert (got["keep_id"].values == exp["keep_id"].values).all()
    assert (got["n_dups"].values == exp["n_dups"].values).all()


def _near_dup_docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog near the quiet river "
        "while morning light settles on the calm green valley floor"
    )
    rows = [(0, base)]
    words = base.split()
    for i in range(1, 5):  # 4 near-dups: one word changed
        w = list(words)
        w[3 + i] = f"tok{i}"
        rows.append((i, " ".join(w)))
    for i in range(5, 25):  # unrelated docs
        rng = np.random.Generator(np.random.Philox(key=np.uint64(i)))
        rows.append((i, " ".join(f"w{rng.integers(0, 5000)}" for _ in range(30))))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_ngram_jaccard_and_minhash_agree(spark):
    docs = _near_dup_docs(spark)
    exact = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    lsh = dedup.minhash_lsh_pairs(docs, n=3, n_hashes=128, bands=32, threshold=0.5)
    e = {(r.id_a, r.id_b): r.jaccard for r in exact.collect()}
    l = {(r.id_a, r.id_b): r.jaccard for r in lsh.collect()}
    assert e, "fixture must contain near-dups"
    assert set(l) == set(e)  # full recall at these params
    for k in e:
        assert abs(e[k] - l[k]) < 1e-9  # exact verify stage -> same jaccard


def test_simhash_finds_near_dups(spark):
    docs = _near_dup_docs(spark)
    pairs = {(r.id_a, r.id_b) for r in dedup.simhash_pairs(docs, max_hamming=8).collect()}
    # the 4 near-dup docs must pair with the base doc
    assert {(0, 1), (0, 2), (0, 3), (0, 4)} <= pairs
    # unrelated docs don't flood in
    assert len(pairs) < 30


def test_simhash_recall_exact_vs_blocked(spark):
    """Pigeonhole guarantee: for max_hamming=6 the block join must
    recover EVERY pair at hamming<=6 (recall 1.0 by construction) with
    the exact hamming value — oracle = all-pairs popcount in numpy on
    the collected simhash values (driver fixtures, small n)."""
    docs = _docs(spark).limit(200)
    hv = dedup.simhash64_col(docs).orderBy("doc_id").toPandas()
    ids = hv["doc_id"].values
    h = hv["sh64"].values.astype(np.uint64)
    x = h[:, None] ^ h[None, :]
    ham = np.zeros(x.shape, dtype=np.int64)
    for b in range(64):
        ham += ((x >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
    ii, jj = np.nonzero((ham <= 6) & (ids[:, None] < ids[None, :]))
    expected = {
        (int(ids[i]), int(ids[j]), int(ham[i, j])) for i, j in zip(ii, jj)
    }
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_pairs(docs, max_hamming=6).collect()
    }
    assert got == expected


def test_md5_hash60_parity(spark):
    """dedup.md5_hash60 must equal both the stdlib reference
    (int(md5(s).hexdigest()[:15], 16)) and the DuckDB expression the
    oracle twins use — all three engines bit-exact on the same bytes."""
    import hashlib

    vals = ["", "a", "the quick brown fox", "Ünïcode tøkens", "0" * 500]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {r.s: r.h for r in df.select("s", dedup.md5_hash60(F.col("s")).alias("h")).collect()}
    for v in vals:
        exp = int(hashlib.md5(v.encode("utf-8")).hexdigest()[:15], 16)
        assert got[v] == exp, (v, got[v], exp)
        duck = duckdb.sql(
            "SELECT CAST(concat('0x', substr(md5(?), 1, 15)) AS BIGINT)", params=[v]
        ).fetchone()[0]
        assert duck == exp, (v, duck, exp)


def test_simhash_md5_twin_matches_independent_oracle(spark):
    """The md5-hash 60-bit simhash twin (the driver's simhash_md5_docs
    path) against a FULLY independent oracle: tokenization, hashing,
    bit votes, and all-pairs Hamming recomputed from raw text with
    hashlib+numpy — no engine code on the oracle side."""
    import hashlib
    import re

    docs = _docs(spark).limit(150)
    rows = docs.select("doc_id", "text").orderBy("doc_id").collect()
    sigs, ids = [], []
    for r in rows:
        words = [w for w in re.split(r"\s+", r.text.lower()) if w != ""]
        votes = np.zeros(60, dtype=np.int64)
        for w in words:
            h = int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16)
            bits = (h >> np.arange(60)) & 1
            votes += 2 * bits - 1
        sig = int(((votes > 0).astype(np.uint64) << np.arange(60, dtype=np.uint64)).sum())
        sigs.append(sig)
        ids.append(r.doc_id)
    h = np.array(sigs, dtype=np.uint64)
    idv = np.array(ids)
    x = h[:, None] ^ h[None, :]
    ham = np.zeros(x.shape, dtype=np.int64)
    for b in range(60):
        ham += ((x >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
    ii, jj = np.nonzero((ham <= 6) & (idv[:, None] < idv[None, :]))
    expected = {(int(idv[i]), int(idv[j]), int(ham[i, j])) for i, j in zip(ii, jj)}
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_pairs(
            docs, max_hamming=6, word_hash=dedup.md5_hash60, n_bits=60
        ).collect()
    }
    assert got == expected
    assert expected, "fixture must produce at least one near-dup pair"


def test_simhash_no_per_row_python(spark):
    """simhash64_col must be pure JVM: no Python eval nodes in the plan."""
    plan = dedup.simhash64_col(_docs(spark))._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "PythonUDF"):
        assert marker not in plan, marker


def test_embedding_neardup_matches_duckdb(spark):
    got = (
        dedup.embedding_neardup(_emb(spark), threshold=0.9)
        .orderBy("id_a", "id_b")
        .toPandas()
    )
    exp = duckdb.sql(
        f"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.embedding, b.embedding), 6) AS cosine
        FROM '{EMB}' a JOIN '{EMB}' b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.embedding, b.embedding), 6) >= 0.9
        ORDER BY id_a, id_b
        """
    ).df()
    assert len(got) == len(exp)
    if len(got):
        assert (got["id_a"].values == exp["id_a"].values).all()
        assert np.allclose(got["cosine"].values, exp["cosine"].values, atol=2e-6)


# --- similarity -------------------------------------------------------------


def _queries(spark, n=5):
    e = _emb(spark)
    return (
        e.orderBy("vec_id")
        .limit(n)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )


def test_brute_force_topk_matches_duckdb(spark):
    e = _emb(spark)
    q = _queries(spark)
    got = similarity.brute_force_topk(e, q, k=5).orderBy("query_id", "rank").toPandas()
    exp = duckdb.sql(
        f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS query_vec
                   FROM '{EMB}' ORDER BY vec_id LIMIT 5),
        cand AS (SELECT q.query_id, e.vec_id,
                        round(list_cosine_similarity(e.embedding, q.query_vec), 6) AS cosine
                 FROM '{EMB}' e CROSS JOIN q WHERE e.vec_id != q.query_id),
        ranked AS (SELECT *, row_number() OVER
                     (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
                   FROM cand)
        SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5
        ORDER BY query_id, rank
        """
    ).df()
    assert (got["vec_id"].values == exp["vec_id"].values).all()
    assert np.allclose(got["cosine"].values, exp["cosine"].values, atol=2e-6)


def test_lsh_ann_recall(spark):
    e = _emb(spark)
    q = _queries(spark, n=8)
    exact = similarity.brute_force_topk(e, q, k=5).toPandas()
    approx = similarity.lsh_ann(e, q, k=5, n_planes=6, n_tables=8, multiprobe=True).toPandas()
    rec = similarity.recall_at_k(approx, exact, k=5)
    assert rec >= 0.5, f"LSH recall {rec} too low"


# --- multimodal ---------------------------------------------------------------


def test_decode_stats_oracle(spark):
    imgs = datagen.gen_images(spark, 3, profile="bench")
    got = multimodal.decode_stats(imgs).filter("image_id='img00000001'").orderBy("band").collect()
    src = datagen.pixels_for(1, 1, 128, 128, "int16", 42).astype(np.float64)
    valid = src[0][src[0] != 0.0]
    assert np.isclose(got[0].mean, valid.mean())
    assert got[0].n_valid == valid.size
    assert np.isclose(got[0].std, valid.std())


def test_decode_stats_high_mean_precision(spark):
    """ADVICE r4: E[x^2]-E[x]^2 cancels catastrophically at high
    mean/low variance; the two-pass path must stay accurate at
    mean 1e7, sigma 0.5 (old path measured 6.8% rel. error there)."""
    rng = np.random.Generator(np.random.Philox(key=np.uint64(7)))
    arr = (1e7 + rng.normal(0, 0.5, size=(1, 64, 64))).astype(np.float64)
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(image_id="hp", bytes=bytes(codec.encode(arr, "raw")))]
    )
    got = multimodal.decode_stats(df, nodata=None).collect()[0]
    ref_std = arr[0].std()
    assert abs(got.std - ref_std) / ref_std < 1e-6, (got.std, ref_std)
    assert np.isclose(got.mean, arr[0].mean())


def test_resize_images(spark):
    imgs = datagen.gen_images(spark, 2, profile="bench")
    out = multimodal.resize_images(imgs, 32, 48).collect()
    for r in out:
        arr = codec.decode(r.bytes)
        assert arr.shape[1:] == (32, 48)
        assert r.caption.startswith("scene ")


def test_resize_images_area(spark):
    """Area resize block-averages exactly: against a per-block numpy
    oracle on the same decoded source, bit-for-bit after rounding."""
    imgs = datagen.gen_images(spark, 2, profile="bench")
    out = {r.image_id: r for r in multimodal.resize_images(imgs, 32, 32, method="area").collect()}
    src_rows = {r.image_id: codec.decode(r.bytes) for r in imgs.collect()}
    for image_id, r in out.items():
        got = codec.decode(r.bytes)
        src = src_rows[image_id]
        assert got.shape[1:] == (32, 32)
        h, w = src.shape[1], src.shape[2]
        exp = np.empty_like(got, dtype=np.float64)
        for i in range(32):
            for j in range(32):
                r0, r1 = i * h // 32, (i + 1) * h // 32
                c0, c1 = j * w // 32, (j + 1) * w // 32
                exp[:, i, j] = src[:, r0:r1, c0:c1].astype(np.float64).mean(axis=(1, 2))
        if np.issubdtype(src.dtype, np.integer):
            exp = np.rint(exp)
        assert np.array_equal(got, exp.astype(src.dtype))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported resize method"):
        multimodal.resize_images(imgs, 8, 8, method="lanczos")


def test_frame_sample(spark):
    imgs = datagen.gen_images(spark, 6, profile="mixed").filter("bands >= 8")
    out = multimodal.frame_sample(imgs, every_n=3)
    rows = out.groupBy("image_id").count().collect()
    bands = {r.image_id: r.bands for r in imgs.select("image_id", "bands").collect()}
    for r in rows:
        assert r["count"] == -(-bands[r.image_id] // 3)  # ceil


def _wav_bytes(samples: np.ndarray, rate: int = 8000, fmt_tag: int | None = None,
               bits: int | None = None) -> bytes:
    """Minimal RIFF/WAVE writer for tests: samples is (channels, n)."""
    import struct

    ch, n = samples.shape
    inter = np.ascontiguousarray(samples.T)
    if bits == 24:
        i32 = inter.astype("<i4")
        data = i32.view(np.uint8).reshape(-1, 4)[:, :3].tobytes()
    else:
        data = inter.tobytes()
    if fmt_tag is None:
        fmt_tag = 3 if samples.dtype.kind == "f" else 1
    if bits is None:
        bits = samples.dtype.itemsize * 8
    block = ch * bits // 8
    fmt = struct.pack("<HHIIHH", fmt_tag, ch, rate, rate * block, block, bits)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data + (b"\0" if len(data) & 1 else b"")
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_parse_wav_roundtrips():
    rng = np.random.Generator(np.random.Philox(key=np.uint64(11)))
    stereo = (rng.normal(0, 8000, size=(2, 333))).astype("<i2")
    arr, rate = multimodal.parse_wav(_wav_bytes(stereo, rate=44100))
    assert rate == 44100 and np.array_equal(arr, stereo)
    mono8 = rng.integers(0, 255, size=(1, 100)).astype(np.uint8)
    arr, _ = multimodal.parse_wav(_wav_bytes(mono8))
    assert np.array_equal(arr, mono8)
    f32 = rng.normal(size=(2, 64)).astype("<f4")
    arr, _ = multimodal.parse_wav(_wav_bytes(f32))
    assert np.array_equal(arr, f32)
    # 24-bit PCM widens to int32, sign preserved
    s24 = rng.integers(-(1 << 23), 1 << 23, size=(2, 77)).astype("<i4")
    arr, _ = multimodal.parse_wav(_wav_bytes(s24, bits=24))
    assert arr.dtype == np.int32 and np.array_equal(arr, s24)


def test_decode_audio_pcm_wav(spark):
    """VERDICT r4 #5: PCM WAV decodes for real through the Arrow
    plumbing; per-channel stats of the decoded payload match numpy."""
    from pyspark.sql import Row

    rng = np.random.Generator(np.random.Philox(key=np.uint64(23)))
    s0 = (10000.0 * np.sin(np.arange(500) / 7.0)).astype("<i2")
    s1 = rng.normal(0, 3000, size=500).astype("<i2")
    wav = _wav_bytes(np.stack([s0, s1]), rate=16000)
    df = spark.createDataFrame([Row(image_id="a0", bytes=wav)])
    out = multimodal.decode_audio(df).collect()[0]
    assert (out.channels, out.sample_rate, out.n_samples) == (2, 16000, 500)
    dec = codec.decode(out.bytes)
    assert dec.shape == (2, 1, 500)
    assert np.array_equal(dec[0, 0], s0) and np.array_equal(dec[1, 0], s1)
    # stats parity through decode_stats on the re-encoded payload
    st = multimodal.decode_stats(multimodal.decode_audio(df), nodata=None).collect()
    by_band = {r.band: r for r in st}
    assert np.isclose(by_band[0].mean, s0.astype(np.float64).mean())
    assert np.isclose(by_band[1].std, s1.astype(np.float64).std())


def test_decode_audio_compressed_raises(spark):
    import pytest as _pytest
    from pyspark.sql import Row

    mp3ish = _wav_bytes(np.zeros((1, 16), dtype="<i2"), fmt_tag=0x55)
    df = spark.createDataFrame([Row(image_id="a0", bytes=mp3ish)])
    with _pytest.raises(Exception, match="compressed audio"):
        multimodal.decode_audio(df).collect()


def test_embedding_neardup_blocked_matches_relational(spark):
    rel = dedup.embedding_neardup(_emb(spark), threshold=0.35).toPandas()
    blk = dedup.embedding_neardup_blocked(_emb(spark), threshold=0.35).toPandas()
    r = {(int(a), int(b)) for a, b in zip(rel["id_a"], rel["id_b"])}
    bl = {(int(a), int(b)) for a, b in zip(blk["id_a"], blk["id_b"])}
    # threshold-boundary pairs may differ by float summation order; the
    # symmetric difference must sit within 2e-6 of the threshold
    assert not (r ^ bl) or all(
        abs(c - 0.35) < 2e-6
        for pair in (r ^ bl)
        for c in [
            float(rel.loc[(rel.id_a == pair[0]) & (rel.id_b == pair[1]), "cosine"].iloc[0])
            if pair in r
            else float(blk.loc[(blk.id_a == pair[0]) & (blk.id_b == pair[1]), "cosine"].iloc[0])
        ]
    )
    common = r & bl
    assert len(common) >= max(len(r), 1) * 0.99


def test_ngram_jaccard_prefix_filter_exact(spark):
    """Prefix-filtered candidate generation (AllPairs) must return the
    IDENTICAL pair set + jaccard values as the naive exact self-join."""
    docs = _docs(spark).limit(300)
    fast = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.4, prefix_filter=True)
    naive = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.4, prefix_filter=False)
    f = {(r.id_a, r.id_b): r.jaccard for r in fast.collect()}
    v = {(r.id_a, r.id_b): r.jaccard for r in naive.collect()}
    assert v, "fixture should contain similar pairs"
    assert f == v


def test_ivf_ann_recall(spark):
    e = _emb(spark)
    q = _queries(spark, n=8)
    exact = similarity.brute_force_topk(e, q, k=5).toPandas()
    approx = similarity.ivf_ann(e, q, k=5, n_lists=8, n_probe=4).toPandas()
    rec = similarity.recall_at_k(approx, exact, k=5)
    # uniform random embeddings have little cluster structure, so the
    # probe/lists ratio is close to a uniform hit rate; measured 0.575
    assert rec >= 0.5, f"IVF recall {rec} too low"
    # full probe == exact (every list probed -> brute force)
    full = similarity.ivf_ann(e, q, k=5, n_lists=8, n_probe=8).toPandas()
    assert similarity.recall_at_k(full, exact, k=5) == 1.0


def test_ngram_jaccard_auto_path_selection(spark):
    """VERDICT r2 #3: prefix_filter=None must MEASURE the corpus.  A
    hot-shingle fixture (one boilerplate shingle in ~30% of docs) must
    flip the auto choice to the prefix path, a benign corpus must keep
    the naive plan, and the auto output must equal the naive output on
    the hot corpus (paths are proven identical)."""
    import pyspark.sql.functions as F

    docs = _docs(spark).limit(200)
    # benign low-df corpus -> naive
    assert dedup.choose_prefix_filter(docs, n=3) is False
    # hot corpus: 400 documents all sharing one boilerplate page —
    # ~(k_sampled-1)/2 candidate pairs per shingle row in the 1/10
    # measuring sample, past the measured r7 crossover of 80 (the
    # previous 100-dup fixture sat between the old threshold 20 and
    # the recalibrated 80)
    boiler = " ".join(f"boilerplate{i} token{i}" for i in range(300))
    wide = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    ).withColumn("text", F.lit(boiler))
    assert dedup.choose_prefix_filter(wide, n=3) is True
    # path-equality on a half-hot corpus (kept small: the verify join
    # over 400 identical docs is quadratic)
    hot = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 2 == 0, F.lit(boiler)).otherwise(F.col("text")),
    )
    auto = dedup.ngram_jaccard_pairs(hot, n=3, threshold=0.4)  # default = auto
    naive = dedup.ngram_jaccard_pairs(hot, n=3, threshold=0.4, prefix_filter=False)
    a = {(r.id_a, r.id_b): r.jaccard for r in auto.collect()}
    v = {(r.id_a, r.id_b): r.jaccard for r in naive.collect()}
    assert v, "hot fixture should contain similar pairs"
    assert a == v


# --- IMA ADPCM (round 5) ------------------------------------------------------

_IMA_STEPS = multimodal._IMA_STEPS
_IMA_INDEX = multimodal._IMA_INDEX


def _ima_encode_channel(samples: np.ndarray, idx0: int = 0):
    """Scalar spec IMA encoder for one channel; returns (header bytes,
    nibble list, reconstructed samples) — the reconstruction sequence
    is by definition what a conforming decoder must output."""
    import struct

    pred = int(samples[0])
    idx = idx0
    header = struct.pack("<hBB", pred, idx, 0)
    nibbles, recon = [], [pred]
    for s in samples[1:]:
        step = int(_IMA_STEPS[idx])
        diff = int(s) - pred
        n = 0
        if diff < 0:
            n = 8
            diff = -diff
        if diff >= step:
            n |= 4
            diff -= step
        if diff >= step >> 1:
            n |= 2
            diff -= step >> 1
        if diff >= step >> 2:
            n |= 1
        d = step >> 3
        if n & 1:
            d += step >> 2
        if n & 2:
            d += step >> 1
        if n & 4:
            d += step
        pred = pred - d if n & 8 else pred + d
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + int(_IMA_INDEX[n & 7])))
        nibbles.append(n)
        recon.append(pred)
    return header, nibbles, np.array(recon, dtype=np.int16)


def _ima_wav(chans: list, rate: int = 8000) -> tuple[bytes, np.ndarray]:
    """Build a multi-block IMA ADPCM WAV from per-channel int16 arrays;
    returns (wav bytes, expected (n_ch, n) reconstruction)."""
    import struct

    n_ch = len(chans)
    spb = 249  # 1 header sample + 248 nibble samples = 124 B = 31 words
    total = len(chans[0])
    nblocks = -(-total // spb)
    pad = nblocks * spb - total
    chans = [np.concatenate([c, np.full(pad, c[-1], dtype=np.int16)]) for c in chans]
    block_align = 4 * n_ch + (spb - 1) // 2 * n_ch
    body = b""
    expect = [[] for _ in range(n_ch)]
    for bi in range(nblocks):
        headers, words = [], []
        for ch in range(n_ch):
            seg = chans[ch][bi * spb : (bi + 1) * spb]
            h, nibs, rec = _ima_encode_channel(seg, idx0=(bi * 7 + ch) % 89)
            packed = bytes(
                (nibs[i] | (nibs[i + 1] << 4)) for i in range(0, len(nibs), 2)
            )
            headers.append(h)
            words.append(packed)
            expect[ch].append(rec)
        body += b"".join(headers)
        for w in range(0, len(words[0]), 4):
            for ch in range(n_ch):
                body += words[ch][w : w + 4]
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, n_ch, rate, rate * block_align // spb, block_align, 4, 2, spb
    )
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"fact" + struct.pack("<II", 4, total)
    chunks += b"data" + struct.pack("<I", len(body)) + body
    wav = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    exp = np.stack([np.concatenate(e)[:total] for e in expect])
    return wav, exp


def test_ima_adpcm_wav_decodes():
    """Vectorized IMA ADPCM vs an independent scalar spec encoder's
    reconstruction sequence, mono + stereo, multi-block, fact-trimmed."""
    rng = np.random.Generator(np.random.Philox(key=np.uint64(29)))
    mono = (8000 * np.sin(np.arange(700) / 9.0)).astype(np.int16)
    wav, exp = _ima_wav([mono])
    arr, rate = multimodal.parse_wav(wav)
    assert rate == 8000 and arr.shape == (1, 700)
    assert np.array_equal(arr[0], exp[0])
    s0 = (6000 * np.sin(np.arange(600) / 5.0)).astype(np.int16)
    s1 = rng.integers(-9000, 9000, size=600).astype(np.int16)
    wav2, exp2 = _ima_wav([s0, s1], rate=11025)
    arr2, rate2 = multimodal.parse_wav(wav2)
    assert rate2 == 11025 and arr2.shape == (2, 600)
    assert np.array_equal(arr2, exp2)


def test_ima_adpcm_matches_audioop():
    """Differential vs CPython's audioop Intel/DVI codec (same tables):
    decode one mono block's nibble stream with both."""
    import pytest as _pytest

    audioop = _pytest.importorskip("audioop")
    samples = (5000 * np.sin(np.arange(249) / 4.0)).astype(np.int16)
    wav, exp = _ima_wav([samples])
    arr, _ = multimodal.parse_wav(wav)
    # audioop decodes the nibble stream given the header state; it
    # consumes HIGH nibble first, so swap packing
    _, nibs, _ = _ima_encode_channel(samples, idx0=0)
    swapped = bytes((nibs[i] << 4) | nibs[i + 1] for i in range(0, len(nibs), 2))
    pcm, _ = audioop.adpcm2lin(swapped, 2, (int(samples[0]), 0))
    ref = np.frombuffer(pcm, dtype="<i2")
    assert np.array_equal(arr[0][1:], ref)


# --- events + graph (round 5) -------------------------------------------------


def test_sessionize_matches_duckdb(spark):
    from ukis_pysat_spark.operators import events as ev

    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    got = ev.sessionize(e, gap_minutes=30).orderBy("user_id", "session_idx").toPandas()
    exp = duckdb.sql(
        f"""
        WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value
                   FROM '{SF_DIR}/events.parquet'),
        m AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
                              OR us - lag(us) OVER w > 1800000000
                             THEN 1 ELSE 0 END AS new_s
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                         ROWS UNBOUNDED PRECEDING) AS session_idx
              FROM m)
        SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
               COUNT(*) AS n_events, MIN(us) AS start_us, MAX(us) AS end_us,
               MAX(us) - MIN(us) AS duration_us,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx
        """
    ).df()
    assert len(got) == len(exp)
    for c in ("user_id", "session_idx", "n_events", "start_us", "end_us", "duration_us"):
        assert (got[c].values == exp[c].values).all(), c
    assert np.allclose(got["sum_value"], exp["sum_value"], atol=1e-9)


def _uf_oracle(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_matches_union_find(spark):
    from ukis_pysat_spark.operators import graph

    rng = np.random.Generator(np.random.Philox(key=np.uint64(61)))
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 300, size=(400, 2)) if a != b]
    edges += [(1000 + i, 1001 + i) for i in range(12)]  # diameter-12 path
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r.node: r.comp for r in graph.connected_components(df).collect()}
    exp = _uf_oracle(edges)
    assert got == exp


def test_hamming_pairs_int64_including_negative(spark):
    """hamming_pairs over full-width signed int64 hashes (top bit set
    -> negative in Spark's LongType) against a numpy brute-force
    oracle; pigeonhole recall must be 1.0 at the requested radius."""
    rng = np.random.default_rng(41)
    base = rng.integers(-(2**63), 2**63, 40, dtype=np.int64)
    vals = list(base)
    # plant near-dups: flip 1..6 bits of some bases (top bit included)
    for i, k in [(0, 1), (3, 6), (7, 3), (11, 6)]:
        v = np.uint64(base[i])
        for b in rng.choice(64, k, replace=False):
            v ^= np.uint64(1) << np.uint64(b)
        vals.append(v.astype(np.int64))
    ids = list(range(len(vals)))
    df = spark.createDataFrame(
        [(i, int(v)) for i, v in zip(ids, vals)], "id long, h long"
    )
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.hamming_pairs(df, "id", "h", max_hamming=6).collect()
    }
    hv = np.array(vals, dtype=np.int64).view(np.uint64)
    x = hv[:, None] ^ hv[None, :]
    ham = np.zeros(x.shape, dtype=np.int64)
    for b in range(64):
        ham += ((x >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
    ii, jj = np.nonzero((ham <= 6) & (np.arange(len(vals))[:, None] < np.arange(len(vals))[None, :]))
    exp = {(int(i), int(j), int(ham[i, j])) for i, j in zip(ii, jj)}
    assert got == exp
    assert len(exp) >= 4  # the planted near-dups must be found


def test_hamming_pairs_verify_paths_identical(spark):
    """The segmented (production) and relational-join verify plans
    must emit identical rows, with string ids (lexicographic min/max
    canonicalization) and with a hot bucket that exercises the
    segmented stage's row-blocked hot-run sweep."""
    rng = np.random.default_rng(7)
    base = rng.integers(-(2**63), 2**63, 60, dtype=np.int64)
    vals = list(base)
    for i in range(0, 30, 3):  # planted near-dups
        v = np.uint64(base[i])
        for b in rng.choice(64, int(rng.integers(1, 7)), replace=False):
            v ^= np.uint64(1) << np.uint64(b)
        vals.append(v.astype(np.int64))
    df = spark.createDataFrame(
        [(f"d{i}", int(v)) for i, v in enumerate(vals)], "id string, h long"
    )
    paths = {}
    for mode in ("join", "segmented"):
        paths[mode] = {
            (r.id_a, r.id_b, r.hamming)
            for r in dedup.hamming_pairs(
                df, "id", "h", max_hamming=6, verify=mode
            ).collect()
        }
    assert paths["join"] == paths["segmented"]
    assert len(paths["join"]) >= 10

    # hot bucket: all rows share block-2's key (top bits constant) but
    # differ in far more than max_hamming of the remaining bits — the
    # single-key bucket that stalls a join must sweep clean here, and
    # a handful of planted near-dups inside it must still surface
    n = 3000
    rng2 = np.random.default_rng(11)
    low = rng2.integers(0, 2**40, n, dtype=np.int64)
    rows = [(f"h{i:05d}", int((7 << 60) | v)) for i, v in enumerate(low)]
    rows.append(("hdup1", rows[5][1] ^ 1))  # hamming 1 from h00005
    rows.append(("hdup2", rows[9][1]))  # exact dup of h00009
    hot = spark.createDataFrame(rows, "id string, h long")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.hamming_pairs(hot, "id", "h", max_hamming=2).collect()
    }
    exp = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.hamming_pairs(hot, "id", "h", max_hamming=2, verify="join").collect()
    }
    assert got == exp
    assert ("h00005", "hdup1", 1) in got and ("h00009", "hdup2", 0) in got


@pytest.mark.parametrize("n_bits,h", [(10, 8), (10, 9)])
def test_hamming_pairs_radius_near_width_matches_bruteforce(spark, n_bits, h):
    """max_hamming close to n_bits with one hot (>= 128-row) bucket: a
    block's complement is then narrower than h+1 sub-blocks, so some
    sub-block is empty.  Pairs planted to agree on block 0 alone (they
    differ in every other bit) must still be found; the whole output
    must equal a brute-force popcount over all pairs."""
    rng = np.random.default_rng(n_bits * 100 + h)
    w0 = dedup._simhash_block_bounds(h + 1, n_bits)[0][1]
    low = (1 << w0) - 1
    # every row has block 0's bits = 1, so block 0 is one 320-row bucket
    vals = [(int(v) & ~low) | 1 for v in rng.integers(0, 1 << n_bits, 300)]
    planted = [v ^ ((1 << n_bits) - 1 - low) for v in vals[:20]]
    vals += planted
    df = spark.createDataFrame(list(enumerate(vals)), "id long, h long")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.hamming_pairs(df, "id", "h", max_hamming=h, n_bits=n_bits).collect()
    }
    exp = set()
    for i, a in enumerate(vals):
        for j in range(i + 1, len(vals)):
            d = bin(a ^ vals[j]).count("1")
            if d <= h:
                exp.add((i, j, d))
    assert got == exp
    assert all((i, 300 + i, n_bits - w0) in got for i in range(20))


def test_phash_neardup_finds_duplicate_images(spark):
    """phash_neardup over the images table: byte-identical images have
    equal phash (hamming 0); the plan must not decode any pixels."""
    imgs = datagen.gen_images(spark, 6, profile="bench")
    dup = imgs.limit(2).withColumn(
        "image_id", F.concat(F.col("image_id"), F.lit("_copy"))
    )
    both = imgs.unionByName(dup)
    pairs = dedup.phash_neardup(both, max_hamming=0).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert {("img00000000", "img00000000_copy"),
            ("img00000001", "img00000001_copy")} <= got
    # the plan never decodes pixels and contains no row-at-a-time
    # Python; the only Python stage is the single segmented Arrow
    # verify (r7) fed by the (blk, key) exchange
    rel = spark.createDataFrame([("a", 1), ("b", 2)], "image_id string, phash long")
    plan = dedup.phash_neardup(rel)._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan, marker
    assert plan.count("MapInArrow") == 1


def test_phash64_arr_matches_datagen_scalar():
    """multimodal.phash64_arr (SAT-vectorized) vs datagen.phash64
    (per-block scalar loop) — two independent implementations — across
    integer dtypes, degenerate sub-8px shapes, and the float fallback."""
    rng = np.random.default_rng(7)
    shapes = [(1, 128, 128), (3, 64, 96), (13, 8, 9), (1, 1, 1), (2, 4, 5),
              (1, 7, 300), (1, 300, 7)]
    for dt in ("uint8", "uint16", "int16", "int32", "float32", "float64"):
        for shape in shapes:
            if np.issubdtype(np.dtype(dt), np.integer):
                info = np.iinfo(dt)
                arr = rng.integers(info.min, info.max, shape).astype(dt)
            else:
                arr = (rng.random(shape) * 1e4 - 5e3).astype(dt)
            got = multimodal.phash64_arr(arr)
            exp = datagen.phash64(arr)
            assert got == exp, (dt, shape)
    # constant image: no block exceeds the mean -> hash 0 in both
    flat = np.full((1, 32, 32), 7, dtype=np.uint8)
    assert multimodal.phash64_arr(flat) == datagen.phash64(flat) == 0


def test_compute_phash_matches_precomputed_column(spark):
    """compute_phash over the mixed-profile images equals the datagen
    precomputed phash column, and pixel-identical copies collide."""
    imgs = datagen.gen_images(spark, 16)
    got = multimodal.compute_phash(imgs)
    joined = (
        got.withColumnRenamed("phash", "phash_c")
        .join(imgs.select("image_id", "phash"), "image_id")
        .collect()
    )
    assert len(joined) == 16
    for r in joined:
        assert r.phash_c == r.phash, r.image_id
    # end-to-end: computed hashes feed hamming_pairs and find the copy
    dup = imgs.limit(1).withColumn(
        "image_id", F.concat(F.col("image_id"), F.lit("_copy"))
    )
    pairs = dedup.hamming_pairs(
        multimodal.compute_phash(imgs.unionByName(dup)),
        "image_id", "phash", max_hamming=0,
    ).collect()
    assert ("img00000000", "img00000000_copy") in {
        (r.id_a, r.id_b) for r in pairs
    }


def test_frame_neardup_finds_shared_frames(spark):
    """frame_neardup: two 'videos' sharing identical frames pair at
    hamming 0; per-frame phash matches a direct numpy recomputation."""
    a = datagen.pixels_for(3, 6, 24, 24, "uint8", 42)
    b = np.concatenate([a[2:4], datagen.pixels_for(9, 2, 24, 24, "uint8", 7)])
    rows = [
        ("vidA", codec.encode(a, "raw")),
        ("vidB", codec.encode(b, "raw")),
    ]
    vids = spark.createDataFrame(rows, "image_id string, bytes binary")
    pairs = {
        (r.id_a, r.id_b, r.hamming)
        for r in multimodal.frame_neardup(vids, every_n=1, max_hamming=0).collect()
    }
    # vidB frame 0 == vidA frame 2, vidB frame 1 == vidA frame 3
    assert ("vidA#2", "vidB#0", 0) in pairs
    assert ("vidA#3", "vidB#1", 0) in pairs
    # distinct planted frames never collide at radius 0 unless their
    # hashes truly match the numpy recomputation
    for fid_a, fid_b, ham in pairs:
        vid_a, fr_a = fid_a.split("#")
        vid_b, fr_b = fid_b.split("#")
        src_a = a[int(fr_a)][None] if vid_a == "vidA" else b[int(fr_a)][None]
        src_b = a[int(fr_b)][None] if vid_b == "vidA" else b[int(fr_b)][None]
        assert multimodal.phash64_arr(src_a) == multimodal.phash64_arr(src_b)


def _brute_chunks(text, size, overlap, by):
    units = text if by == "chars" else [w for w in __import__("re").split(r"\s+", text) if w]
    step = size - overlap
    n = len(units)
    out = []
    k = 0
    while True:
        start = k * step
        if start >= n and k > 0:
            break
        piece = units[start : start + size]
        out.append((k, start, piece if by == "chars" else " ".join(piece)))
        k += 1
        if start + size >= n:
            break
    return out


def test_chunk_documents_differential(spark):
    from ukis_pysat_spark.operators import text as text_ops

    docs = [
        ("d0", "abcdefghij"),            # 10 chars
        ("d1", "abcde"),                 # exactly one chunk at size 5
        ("d2", ""),                      # empty -> one empty chunk
        ("d3", "  two  words   here "),  # whitespace runs
        ("d4", "x" * 17),                # ragged tail
        ("d5", "ünïcödé tèxt wörds and more words beyond"),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    for size, overlap, by in [(5, 0, "chars"), (5, 2, "chars"), (3, 1, "words"), (2, 0, "words")]:
        got = {
            (r["id"], r["chunk_id"]): (r["chunk_start"], r["chunk"])
            for r in text_ops.chunk_documents(df, size, overlap, by=by).collect()
        }
        want = {}
        for did, t in docs:
            for k, start, piece in _brute_chunks(t, size, overlap, by):
                want[(did, k)] = (start, piece)
        assert got == want, (size, overlap, by)

    import pytest as _pt
    with _pt.raises(ValueError):
        text_ops.chunk_documents(df, 5, 5)
    with _pt.raises(ValueError):
        text_ops.chunk_documents(df, 5, 1, by="tokens")


def test_bm25_topk_differential(spark):
    """Brute-force BM25 in Python with the same idf-float32 +
    dyadic-floor contract; scores and ranking must match exactly."""
    import math

    docs = [
        (0, "spark join fast fast fast query"),
        (1, "slow table scan scan scan scan scan scan"),
        (2, "join join join join spark"),
        (3, "query"),
        (4, "unrelated words only here"),
        (5, "fast query fast query spark spark join extra padding tokens"),
        (6, ""),
        (7, "  spark   "),  # whitespace runs
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    k1, b = 1.2, 0.75
    got = [
        (r["doc_id"], r["score"])
        for r in text.bm25_topk(df, "spark join fast query", k=5).collect()
    ]

    toks = {d: [w for w in t.lower().split() if w] for d, t in docs}
    n_docs = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n_docs
    terms = sorted({"spark", "join", "fast", "query"})
    scores = {}
    for d, tk in toks.items():
        s = 0.0
        for term in terms:
            tf = tk.count(term)
            if tf == 0:
                continue
            dfc = sum(1 for v in toks.values() if term in v)
            idf = np.float64(np.float32(math.log(
                1.0 + (n_docs - dfc + 0.5) / (dfc + 0.5))))
            part = (tf * (k1 + 1.0)) / (
                tf + k1 * ((1.0 - b) + (b * len(tk)) / avgdl))
            s += math.floor(idf * part * 1048576.0) / 1048576.0
        if s > 0.0:
            scores[d] = s
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert got == want
    # the all-terms doc must beat the no-term docs; absent docs score 0
    ids = [d for d, _ in got]
    assert 0 in ids and 4 not in ids and 6 not in ids


def test_bm25_stays_jvm_and_filters_before_exchange(spark):
    df = spark.createDataFrame([(0, "spark join")], "doc_id long, text string")
    q = text.bm25_topk(df, "spark", k=3)
    plan = q._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "MapInArrow"):
        assert marker not in plan, marker
    assert "TakeOrderedAndProject" in plan
    # postings filter must sit below the tf aggregation's exchange:
    # the optimized plan filters the exploded terms before any shuffle
    opt = q._jdf.queryExecution().optimizedPlan().toString()
    assert "spark" in opt  # the isin literal survived pushdown


def test_chunk_documents_stays_jvm(spark):
    from ukis_pysat_spark.operators import text as text_ops

    df = spark.createDataFrame([("d0", "hello world")], "doc_id string, text string")
    plan = text_ops.chunk_documents(df, 4, 1)._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow"):
        assert marker not in plan, marker


def test_funnel_differential(spark):
    """Conversion funnel vs a brute per-user chase, with boundary
    cases: step events sharing a timestamp (>= rule keeps them), a
    conversion exactly at the window edge (<= keeps it), one past it,
    and out-of-order arrival."""
    from datetime import datetime, timedelta

    from ukis_pysat_spark.operators import events as events_ops

    t0 = datetime(2025, 1, 1, 12, 0, 0)
    m = timedelta(minutes=1)
    rows = [
        # u1 converts fully; click shares the view timestamp (>= keeps)
        (1, t0, 1, "view"), (2, t0, 1, "click"), (3, t0 + 5 * m, 1, "purchase"),
        # u2: purchase BEFORE click -> not counted for step 3
        (4, t0, 2, "view"), (5, t0 + 9 * m, 2, "click"), (6, t0 + 2 * m, 2, "purchase"),
        # u3: click exactly at the window edge (kept), purchase past it
        (7, t0, 3, "view"), (8, t0 + 10 * m, 3, "click"), (9, t0 + 11 * m, 3, "purchase"),
        # u4: no view at all -> never enters the funnel
        (10, t0, 4, "click"), (11, t0 + m, 4, "purchase"),
        # u5: view only
        (12, t0 + 3 * m, 5, "view"),
    ]
    df = spark.createDataFrame(
        [(eid, ts, uid, et) for eid, ts, uid, et in rows],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    got = {
        (r["step"], r["step_type"]): r["n_users"]
        for r in events_ops.funnel(
            df, ["view", "click", "purchase"], within_minutes=10.0
        ).collect()
    }
    # u1: all three.  u2: view+click (purchase precedes click).
    # u3: view+click at edge; purchase at minute 11 > 10-min window.
    # u4: none.  u5: view only.
    assert got == {
        (1, "view"): 4,
        (2, "click"): 3,
        (3, "purchase"): 1,
    }
    # no-window variant: u2's purchase still precedes its click, u3's
    # purchase now counts
    got2 = {
        (r["step"], r["step_type"]): r["n_users"]
        for r in events_ops.funnel(df, ["view", "click", "purchase"]).collect()
    }
    assert got2 == {
        (1, "view"): 4,
        (2, "click"): 3,
        (3, "purchase"): 2,
    }
    import pytest as _pt
    with _pt.raises(ValueError):
        events_ops.funnel(df, [])


def test_connected_components_chain_log_rounds(spark):
    """Pathological high-diameter fixture (SURVEY §2 large-star claim):
    a 512-node path graph converges in O(log n) alternating-star
    rounds — label propagation needs ~diameter (511) rounds here."""
    from ukis_pysat_spark.operators import graph

    n = 512
    df = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"])
    stats: dict = {}
    got = {r.node: r.comp for r in graph.connected_components(df, stats=stats).collect()}
    assert got == {i: 0 for i in range(n)}
    assert stats["rounds"] <= 12, stats  # ~2*log2(512) + slack


def test_connected_components_auto_chooser(spark):
    """The measured degree chooser: dense near-clique graphs route to
    labelprop, sparse chains keep the star default — labels identical
    to the union-find oracle either way (r7)."""
    from ukis_pysat_spark.operators import graph

    # three 20-cliques (mean degree 19) -> labelprop
    edges = [
        (g * 100 + i, g * 100 + j)
        for g in range(3)
        for i in range(20)
        for j in range(i + 1, 20)
    ]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    stats: dict = {}
    got = {r.node: r.comp for r in graph.connected_components(df, stats=stats).collect()}
    assert stats["algorithm"] == "labelprop"
    assert stats["rounds"] <= 4, stats
    assert got == _uf_oracle(edges)

    # a 64-node path (mean degree ~2) -> star
    chain = [(i, i + 1) for i in range(63)]
    df2 = spark.createDataFrame(chain, ["id_a", "id_b"])
    stats2: dict = {}
    got2 = {r.node: r.comp for r in graph.connected_components(df2, stats=stats2).collect()}
    assert stats2["algorithm"] == "star"
    assert got2 == {i: 0 for i in range(64)}


def test_connected_components_labelprop_handoff(spark):
    """A high-diameter graph FORCED through labelprop must hand off to
    the star loop after the round budget and still produce exact
    labels in far fewer than diameter rounds (r7)."""
    from ukis_pysat_spark.operators import graph

    n = 256
    chain = [(i, i + 1) for i in range(n - 1)] + [(500, 501), (501, 502)]
    df = spark.createDataFrame(chain, ["id_a", "id_b"])
    stats: dict = {}
    got = {
        r.node: r.comp
        for r in graph.connected_components(
            df, stats=stats, algorithm="labelprop"
        ).collect()
    }
    exp = {i: 0 for i in range(n)}
    exp.update({500: 500, 501: 500, 502: 500})
    assert got == exp
    assert stats["rounds"] <= 20, stats  # 8 labelprop + O(log) star


def test_connected_components_star_equals_labelprop(spark):
    """Differential: alternating-star and min-label propagation must
    emit identical (node, comp) labelings — random graphs, self-loops,
    and an isolated self-loop-only node included."""
    from ukis_pysat_spark.operators import graph

    rng = np.random.Generator(np.random.Philox(key=np.uint64(71)))
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 120, size=(150, 2))]
    edges += [(999, 999)]  # isolated node, self-loop only
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    star = {r.node: r.comp for r in graph.connected_components(df).collect()}
    lp = {r.node: r.comp for r in graph.connected_components_labelprop(df).collect()}
    assert star == lp
    assert star[999] == 999
