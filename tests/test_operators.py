"""Operator-library tests: dedup family, similarity search, multimodal
plumbing — small in-memory corpora with known ground truth."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from evolution_spark.operators import (
    cosine_topk,
    dedup_exact,
    embedding_near_dups,
    lsh_ann_topk,
    minhash_lsh_candidates,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    simhash_near_dups,
    simhash_signatures,
)


BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = "the quick brown fox jumps over the lazy dog again and again tomorrow"
OTHER = "completely different content about spark query engines and columnar formats"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE, "a"),
        (1, BASE, "a"),              # exact dup of 0
        (2, "  The   Quick brown fox jumps over the lazy dog again and again today ", "a"),  # dup after normalization
        (3, NEAR, "a"),              # near dup of 0
        (4, OTHER, "b"),
        (5, OTHER + " with a small suffix", "b"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "src"])


def test_dedup_exact(spark, docs):
    kept = dedup_exact(docs, "text", "doc_id")
    ids = sorted(r.doc_id for r in kept.collect())
    # 0,1,2 collapse to 0 (normalization folds case+whitespace); 3,4,5 survive
    assert ids == [0, 3, 4, 5]


def test_dedup_keep_best(spark):
    """Among identical normalized texts the highest score survives (min id
    on ties); unique texts always survive."""
    from evolution_spark.operators.dedup import dedup_keep_best

    rows = [
        (0, "Same Text", 5),
        (1, "same text", 9),   # best capture of the dup group
        (2, "SAME   TEXT", 9), # ties with 1 -> min id wins
        (3, "unique", 1),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, score bigint")
    kept = sorted(r.doc_id for r in dedup_keep_best(df, "text", "doc_id", "score").collect())
    assert kept == [1, 3]


def test_minhash_candidates_find_near_dup(spark, docs):
    pairs = minhash_lsh_candidates(docs, "doc_id", "text", jaccard_threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 3) in got or (0, 1) in got  # near/exact pairs surface
    assert (0, 1) in got  # identical docs always collide
    assert all(r.jaccard >= 0.5 for r in pairs.collect())
    assert not any({a, b} == {0, 4} for a, b in got)  # unrelated never pairs


def test_minhash_dedup_keeps_min_ids(spark, docs):
    kept = minhash_lsh_dedup(docs, "doc_id", "text", jaccard_threshold=0.5)
    ids = sorted(r.doc_id for r in kept.collect())
    assert 0 in ids and 4 in ids
    assert 1 not in ids and 2 not in ids and 3 not in ids


def test_ngram_jaccard_blocked(spark, docs):
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", "src", threshold=0.2)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in got and (4, 5) in got
    # cross-block pairs never appear even if similar
    assert all(
        {a, b} <= {0, 1, 2, 3} or {a, b} <= {4, 5} for a, b in got
    )


def test_ngram_jaccard_hot_gram_guard(spark):
    """max_gram_freq: a cap at or above the hottest gram's co-frequency is a
    no-op (exact equivalence), and a biting cap drops only the boilerplate
    stop-gram — the skew guard for web-scale corpora where one hot gram
    alone would contribute c*(c-1)/2 join pairs."""
    # every doc shares the boilerplate gram "terms of service"; pairs
    # (0,1) and (2,3) also share real content grams
    rows = [
        (0, "terms of service alpha beta gamma delta", "b"),
        (1, "terms of service alpha beta gamma delta epsilon", "b"),
        (2, "terms of service red green blue yellow", "b"),
        (3, "terms of service red green blue purple", "b"),
        (4, "terms of service completely unrelated words here", "b"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, src string")

    base = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", "src", threshold=0.01
        ).collect()
    }
    # cap above the hottest co-frequency (5 docs share "terms of service"):
    # bit-identical to the uncapped run
    capped_hi = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", "src", threshold=0.01, max_gram_freq=5
        ).collect()
    }
    assert capped_hi == base
    # a biting cap (grams in >2 docs dropped) removes the boilerplate-only
    # pairs but keeps the true near-dups, with Jaccard over surviving grams
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", "src", threshold=0.01, max_gram_freq=2
        ).collect()
    }
    assert (0, 1) in capped and (2, 3) in capped
    assert (0, 4) not in capped and (1, 2) not in capped
    # exact Jaccard over the filtered universe: docs 0/1 share 4 of 5
    # surviving grams once the 5-doc "terms of service" gram is dropped
    assert capped[(0, 1)] == pytest.approx(4 / 5)
    assert base[(0, 1)] == pytest.approx(5 / 6)


def test_simhash_near_dups(spark, docs):
    sigs = {r.doc_id: r.simhash for r in simhash_signatures(docs, "doc_id", "text").collect()}
    assert sigs[0] == sigs[1]  # identical text -> identical signature
    pairs = simhash_near_dups(docs, "doc_id", "text", max_hamming=6)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in got
    assert not any({a, b} == {0, 4} for a, b in got)


@pytest.fixture(scope="module")
def vectors(spark):
    import math
    rows = []
    for i in range(50):
        base = [math.sin(0.1 * i + 0.01 * j) for j in range(8)]
        rows.append((i, [float(x) for x in base]))
    # 50 and 51: near-identical to 0
    rows.append((50, [x + 0.001 for x in rows[0][1]]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_topk_exact(spark, vectors):
    probes = vectors.where(F.col("vec_id") == 0)
    top = cosine_topk(vectors, probes, "vec_id", "embedding", k=3)
    rows = top.collect()
    assert len(rows) == 3
    assert rows == sorted(rows, key=lambda r: (-r.cos_sim, r.neighbor_id))
    assert rows[0].neighbor_id == 50  # the planted near-duplicate wins
    assert rows[0].cos_sim > 0.999


def test_lsh_ann_finds_planted_neighbor(spark, vectors):
    probes = vectors.where(F.col("vec_id") == 0)
    top = lsh_ann_topk(vectors, probes, "vec_id", "embedding", dim=8, k=3)
    rows = top.collect()
    # near-identical vector shares every hyperplane sign -> always in bucket
    assert rows and rows[0].neighbor_id == 50


def test_embedding_near_dups(spark, vectors):
    pairs = embedding_near_dups(vectors, "vec_id", "embedding", dim=8, threshold=0.9999)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 50) in got


def test_multimodal_pipeline(spark):
    from evolution_spark.operators.multimodal import (
        FEATURE_DIM,
        MEDIA_SCHEMA,
        decode_media,
        extract_features,
        media_stats,
        resize_images,
        sample_frames,
    )

    rows = [
        (0, "image", b"\x89PNG fake bytes 0", "image/png", 64, 64, None),
        (1, "image", b"\x89PNG fake bytes 1", "image/png", 32, 32, None),
        (2, "audio", b"RIFF fake wav", "audio/wav", None, None, 1200),
        (3, "video", b"\x00\x00ftyp fake mp4", "video/mp4", 640, 480, 5000),
        (4, "image", None, "image/png", None, None, None),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)

    # real decode is stubbed
    with pytest.raises(NotImplementedError, match="codec"):
        decode_media(b"x", "image")

    feats = extract_features(df, fake=True).collect()
    by_id = {r.media_id: r for r in feats}
    assert len(by_id[0].features) == FEATURE_DIM
    assert by_id[4].features is None
    # determinism: same payload -> same features
    feats2 = extract_features(df, fake=True).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))

    resized = resize_images(df.where(F.col("kind") == "image"), 8, 8).collect()
    assert all(r.payload is None or len(r.payload) == 64 for r in resized)

    frames = sample_frames(df.where(F.col("kind") == "video"), n_frames=3).collect()
    assert len(frames) == 3
    assert sorted(f.frame_idx for f in frames) == [0, 1, 2]

    stats = {r.kind: r for r in media_stats(df).collect()}
    assert stats["image"].n_rows == 3 and stats["image"].n_with_payload == 2
    assert stats["video"].total_bytes == len(b"\x00\x00ftyp fake mp4")


# ---------------------------------------------------------------------------
# Curation operators
# ---------------------------------------------------------------------------


def test_split_assign_partitions_and_determinism(spark):
    from evolution_spark.operators import split_assign

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    out = split_assign(df, "doc_id", {"train": 90, "val": 5, "test": 5})
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > 1600  # ~90% of 2000
    # exhaustive + disjoint: every row gets exactly one split
    assert sum(counts.values()) == 2000
    # deterministic: re-running yields identical assignment
    again = split_assign(df, "doc_id", {"train": 90, "val": 5, "test": 5})
    assert out.exceptAll(again).count() == 0
    with pytest.raises(ValueError):
        split_assign(df, "doc_id", {"train": 80, "test": 10})


def test_sample_deterministic_stable_and_join_consistent(spark):
    from evolution_spark.operators import sample_deterministic

    df = spark.range(5000).withColumnRenamed("id", "k")
    s1 = sample_deterministic(df, "k", 0.2)
    n = s1.count()
    assert 800 < n < 1200  # ~20% of 5000
    # join-stability: sampling a second table by the same key keeps rows aligned
    df2 = df.withColumn("payload", F.col("k") * 2)
    s2 = sample_deterministic(df2, "k", 0.2)
    assert s1.join(s2, "k").count() == n


def test_scrub_patterns_counts_and_replaces(spark):
    from evolution_spark.operators import scrub_patterns

    df = spark.createDataFrame(
        [(1, "contact a@b.com or c@d.org now"), (2, "no addresses here")],
        "id: long, text: string",
    )
    out = scrub_patterns(
        df, "text", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"
    ).collect()
    by_id = {r.id: r for r in out}
    assert by_id[1].n_redacted == 2 and by_id[1].text == "contact [EMAIL] or [EMAIL] now"
    assert by_id[2].n_redacted == 0 and by_id[2].text == "no addresses here"


def test_chunk_tokens_windows_and_tail(spark):
    from evolution_spark.operators import chunk_tokens

    text = " ".join(f"t{i}" for i in range(50))
    df = spark.createDataFrame([(7, text)], "doc_id: long, text: string")
    rows = sorted(
        chunk_tokens(df, "text", ["doc_id"], chunk_tokens=32, overlap=8).collect(),
        key=lambda r: r.chunk_idx,
    )
    # starts 0, 24, 48: t0..t31 (32), t24..t49 (26), tail t48..t49 (2)
    assert [(r.chunk_idx, r.n_tokens) for r in rows] == [(0, 32), (1, 26), (2, 2)]
    assert rows[0].chunk_text.startswith("t0 ") and rows[1].chunk_text.startswith("t24 ")
    # overlap region appears in both chunks
    assert " t24 " in " " + rows[0].chunk_text + " "


def test_quantize_dequantize_roundtrip(spark):
    from evolution_spark.operators import (
        dequantize_embeddings,
        quantize_embeddings_int8,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    q = quantize_embeddings_int8(e)
    deq = dequantize_embeddings(q.drop("embedding"), out_col="rec")
    joined = q.select("vec_id", "embedding").join(deq.select("vec_id", "rec", "scale"), "vec_id")
    err = joined.select(
        F.array_max(
            F.zip_with("embedding", "rec", lambda a, b: F.abs(a.cast("double") - b.cast("double")))
        ).alias("e"),
        "scale",
    ).collect()
    # reconstruction error bounded by scale/2 (+ float32 storage rounding)
    assert all(r.e <= r.scale / 2 + 1e-6 for r in err)
    # quantized components fit int8 range
    qmax = q.select(F.array_max(F.transform("q_embedding", F.abs)).alias("m")).agg(F.max("m")).collect()[0][0]
    assert qmax <= 127


def test_quantize_zero_vector_guarded(spark):
    from evolution_spark.operators import quantize_embeddings_int8

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
        "vec_id int, embedding array<float>",
    )
    rows = {r.vec_id: r for r in quantize_embeddings_int8(df).collect()}
    assert rows[1].scale == 0.0
    assert rows[1].q_embedding == [0, 0, 0]  # not NULL/NaN
    assert rows[2].q_embedding[1] == -127


def test_real_bmp_wav_codecs(spark):
    """The two dependency-free REAL codecs: 24-bit BMP and 16-bit PCM WAV
    round-trip exactly through encode->decode, and decode_media dispatches
    on magic bytes without fake=True."""
    import numpy as np

    from evolution_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_bmp,
        decode_media,
        decode_wav,
        encode_bmp,
        encode_wav,
        extract_features,
    )

    rng = np.random.default_rng(7)
    # width 5: stride padding path (5*3=15 -> padded to 16)
    img = rng.integers(0, 256, size=(4, 5, 3), dtype=np.uint8)
    bmp = encode_bmp(img)
    assert np.array_equal(decode_bmp(bmp), img)

    stereo = rng.integers(-32768, 32767, size=(100, 2), dtype=np.int16)
    wav = encode_wav(stereo, sample_rate=8000)
    samples, rate = decode_wav(wav)
    assert rate == 8000 and np.array_equal(samples, stereo)

    # decode_media sniffs magic bytes: real decode, no fake flag
    assert decode_media(bmp, "image").shape == (4 * 5 * 3,)
    assert decode_media(wav, "audio").shape == (200,)

    # end-to-end Spark pipeline over REAL payloads (fake=False)
    rows = [
        (0, "image", bmp, "image/bmp", 5, 4, None),
        (1, "audio", wav, "audio/wav", None, None, 12),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r for r in extract_features(df, fake=False).collect()}
    assert len(feats[0].features) == 16 and len(feats[1].features) == 16
    assert feats[0].n_bytes == len(bmp)
    # features are real pixel means, not hash noise: recompute one bucket
    flat = decode_media(bmp, "image")
    pooled = flat[: (len(flat) // 16) * 16].reshape(16, -1).mean(axis=1)
    assert abs(feats[0].features[0] - float(pooled[0])) < 1e-5


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------

def test_pack_sequences_contiguous_fill(spark):
    from evolution_spark.operators.curation import pack_sequences

    rows = [("a", 1, 300), ("a", 2, 300), ("a", 3, 300), ("a", 4, 50), ("b", 1, 600)]
    df = spark.createDataFrame(rows, "shard string, seq int, n_tokens int")
    out = {
        (r.shard, r.seq): r.pack_id
        for r in pack_sequences(df, "n_tokens", 512, by="shard", order="seq").collect()
    }
    # offsets: a -> 0,300,600,900 // 512 = packs 0,0,1,1 ; b -> 0
    assert out == {("a", 1): 0, ("a", 2): 0, ("a", 3): 1, ("a", 4): 1, ("b", 1): 0}


def test_pack_sequences_deterministic_and_complete(spark):
    from evolution_spark.operators.curation import pack_sequences
    from evolution_spark.queries.base import table
    import pyspark.sql.functions as F

    d = table(spark, "/root/testdata/sf0.001", "documents").select(
        "lang", "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    a = pack_sequences(d, "n_tokens", 512, by="lang", order="doc_id")
    b = pack_sequences(d, "n_tokens", 512, by="lang", order="doc_id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # every doc assigned exactly one pack; packs are dense from 0 per shard
    assert a.where("pack_id IS NULL").count() == 0
    firsts = a.groupBy("lang").agg(F.min("pack_id").alias("m")).collect()
    assert all(r.m == 0 for r in firsts)


# ---------------------------------------------------------------------------
# Distributed global rank
# ---------------------------------------------------------------------------

def test_global_rank_is_exact_and_partition_invariant(spark):
    from evolution_spark.operators.rank import with_global_rank

    vals = [(i, (i * 37) % 101) for i in range(500)]  # unique scrambled keys
    df = spark.createDataFrame(vals, "id int, key int")
    for nparts in (1, 3, 16):
        got = {
            r.id: r.rank
            for r in with_global_rank(
                df, ["key", "id"], n_partitions=nparts
            ).collect()
        }
        want = {
            i: rk + 1
            for rk, (i, _k) in enumerate(sorted(vals, key=lambda t: (t[1], t[0])))
        }
        assert got == want, f"nparts={nparts}"


def test_ntile_from_rank_matches_sql_ntile(spark):
    """Closed-form ntile must equal Spark's own NTILE for many (n, k)."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from evolution_spark.operators.rank import ntile_from_rank

    for n, k in [(10, 4), (7, 3), (12, 5), (5, 5), (4, 7), (1, 3), (100, 8)]:
        df = spark.range(1, n + 1).withColumnRenamed("id", "r")
        w = Window.orderBy("r")
        got = df.select(
            "r", ntile_from_rank(F.col("r"), F.lit(n), k).alias("a"),
            F.ntile(k).over(w).alias("b"),
        ).where("a <> b").count()
        assert got == 0, f"n={n} k={k}"


def test_kmeans_refine_reduces_inertia(spark):
    """Each Lloyd iteration must not increase total inertia (assignment and
    update are both argmin steps); empty cells may drop but every vector
    stays assigned."""
    import pyspark.sql.functions as F

    from evolution_spark.operators.ivf import kmeans_refine
    from evolution_spark.queries.base import table

    e = table(spark, "/root/testdata/sf0.001", "embeddings")

    def inertia(n_iters):
        assigned, cents = kmeans_refine(
            e, "vec_id", "embedding", n_cells=8, n_iters=n_iters
        )
        d2 = F.aggregate(
            F.zip_with(F.col("__vi"), F.col("centroid"), lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda s, x: s + x,
        )
        j = assigned.join(cents, "cell_id")
        total = j.agg(F.sum(d2).alias("i")).first().i
        n_rows = assigned.count()
        return total, n_rows

    base = e.count()
    i0, n0 = inertia(0)
    i1, n1 = inertia(1)
    i2, n2 = inertia(2)
    assert n0 == n1 == n2 == base
    assert i1 <= i0 and i2 <= i1
    assert i1 < i0  # sampled init is far from optimal: one step must help


def test_resize_bmp_real_roundtrip(spark):
    """resize_images(fake=False) on real BMP payloads: output is itself a
    decodable BMP at the target size, nearest-neighbor exact (identity
    resize returns identical pixels, 2x downsample picks every other
    pixel)."""
    import numpy as np

    from evolution_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_bmp,
        encode_bmp,
        resize_bmp,
        resize_images,
    )

    px = (np.arange(8 * 8 * 3, dtype=np.int64) % 251).astype(np.uint8).reshape(8, 8, 3)
    payload = encode_bmp(px)
    # identity
    assert np.array_equal(decode_bmp(resize_bmp(payload, 8, 8)), px)
    # 2x downsample = every other row/col
    down = decode_bmp(resize_bmp(payload, 4, 4))
    assert np.array_equal(down, px[::2][:, ::2])
    # through the Spark plumbing
    rows = [(1, "image", bytearray(payload), "image/bmp", 8, 8, None)]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = resize_images(df, 4, 4, fake=False).collect()[0]
    assert np.array_equal(decode_bmp(bytes(out.payload)), px[::2][:, ::2])
    assert (out.width, out.height) == (4, 4)


def test_resample_wav_real():
    """resample_wav: output decodes at the target rate with the expected
    frame count; identity resample is lossless; a pure sine survives 2x
    downsampling with low distortion."""
    import numpy as np

    from evolution_spark.operators.multimodal import decode_wav, encode_wav, resample_wav

    t = np.arange(3200)
    sine = (10000 * np.sin(2 * np.pi * 220 * t / 32000)).astype(np.int16)
    payload = encode_wav(sine, 32000)

    same, rate_same = decode_wav(resample_wav(payload, 32000))
    assert rate_same == 32000 and np.array_equal(same[:, 0], sine)

    down, rate_down = decode_wav(resample_wav(payload, 16000))
    assert rate_down == 16000 and down.shape[0] == 1600
    # 220 Hz is far below the new Nyquist: linear interp error stays small
    expect = (10000 * np.sin(2 * np.pi * 220 * np.arange(1600) / 16000))
    err = np.abs(down[:, 0].astype(np.float64) - expect).max()
    assert err < 150  # < 1.5% of amplitude


def test_resample_wav_stereo_shapes():
    import numpy as np

    from evolution_spark.operators.multimodal import decode_wav, encode_wav, resample_wav

    stereo = np.stack(
        [np.arange(100, dtype=np.int16), -np.arange(100, dtype=np.int16)], axis=1
    )
    payload = encode_wav(stereo, 8000)
    up, rate = decode_wav(resample_wav(payload, 12000))
    assert rate == 12000 and up.shape == (150, 2)


def test_kmeans_refine_deep_iters_checkpoint_invariant(spark):
    """n_iters past the localCheckpoint cadence (every 4th iteration) must
    produce the same centroids as the logical plan would without
    truncation: checkpointing is a lineage optimization, not a semantic
    change — verified by monotone non-increasing inertia through the
    checkpoint boundary and exact determinism across two runs."""
    import pyspark.sql.functions as F

    from evolution_spark.operators.ivf import kmeans_refine
    from evolution_spark.queries.base import table

    e = table(spark, "/root/testdata/sf0.001", "embeddings")

    def run(n_iters):
        assigned, cents = kmeans_refine(
            e, "vec_id", "embedding", n_cells=8, n_iters=n_iters
        )
        rows = sorted(
            (r.cell_id, tuple(r.centroid)) for r in cents.collect()
        )
        d2 = F.aggregate(
            F.zip_with(F.col("__vi"), F.col("centroid"), lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda s, x: s + x,
        )
        inertia = (
            assigned.join(cents, "cell_id").agg(F.sum(d2).alias("i")).first().i
        )
        return rows, inertia

    c5a, i5 = run(5)
    c5b, _ = run(5)
    assert c5a == c5b  # deterministic through the checkpoint
    _, i2 = run(2)
    assert i5 <= i2  # refinement kept improving across the boundary


def test_pq_adc_recall_vs_exact(spark):
    """On clustered data, PQ asymmetric-distance top-k must retrieve the
    probe's own cluster: 8 planted centers, 25 points each; the ADC top-10
    for a cluster-0 probe must be >=80% cluster-0 points and rank the probe
    itself first (its reconstruction is the global minimum)."""
    import numpy as np
    import pyspark.sql.functions as F

    from evolution_spark.operators.pq import pq_adc_topk, pq_encode, pq_train

    rng = np.random.default_rng(7)
    centers = rng.uniform(-1.0, 1.0, size=(8, 64))
    rows = []
    for i in range(200):
        c = i % 8
        v = centers[c] + rng.normal(0, 0.02, size=64)
        rows.append((i, [float(x) for x in v], c))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")

    cb = pq_train(df, "vec_id", "embedding", n_codes=16)
    enc = pq_encode(df, cb, "vec_id", "embedding", n_subspaces=8)
    cb_rows = [(r["code"], list(r["cen"])) for r in cb.first()["__pq"]]
    probe_vi = list(enc.where(F.col("vec_id") == 0).first()["__vi"])
    top = [r.vec_id for r in pq_adc_topk(enc, cb_rows, probe_vi, "vec_id", topk=10).collect()]
    assert top[0] == 0  # probe's own code is the minimum
    same_cluster = sum(1 for i in top if i % 8 == 0)
    assert same_cluster >= 8, top


def test_micros_since_epoch_both_timestamp_types(spark):
    """micros_since_epoch must return identical values for the same wall
    clock whether the column is TIMESTAMP or TIMESTAMP_NTZ (the regenerated
    testdata is NTZ; earlier data read as TIMESTAMP) — and match the known
    epoch arithmetic."""
    import datetime as dt

    import pyspark.sql.functions as F

    from evolution_spark.functions.time import micros_since_epoch

    t = dt.datetime(2024, 1, 1, 0, 0, 1, 500000)
    want = int(
        (t - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000
    )
    ntz = spark.createDataFrame([(t,)], "ts timestamp_ntz")
    tz = spark.createDataFrame([(t,)], "ts timestamp")
    got_ntz = ntz.select(micros_since_epoch(ntz, "ts").alias("us")).first().us
    got_tz = tz.select(micros_since_epoch(tz, "ts").alias("us")).first().us
    assert got_ntz == want  # NTZ: naive arithmetic, tz-independent
    assert got_tz == want   # TIMESTAMP under UTC session tz


def test_bpe_train_and_tokenize(spark):
    """BPE on a corpus where 'ab' dominates: the first merge must be
    ('a','b'); tokenization must apply merges greedily by rank, memo or
    not; unknown characters fall back to single symbols; round-trip
    concatenation restores the word."""
    import pyspark.sql.functions as F

    from evolution_spark.functions.bpe import bpe_tokenize, train_bpe_merges

    df = spark.createDataFrame(
        [(1, "abab abab ab"), (2, "abc ab xyz")], "id bigint, text string"
    )
    merges = train_bpe_merges(df, "text", n_merges=3)
    assert merges[0] == ("a", "b")

    out = {
        r.id: list(r.toks)
        for r in df.select(
            "id", bpe_tokenize(df, "text", merges).alias("toks")
        ).collect()
    }
    for i, text in ((1, "abab abab ab"), (2, "abc ab xyz")):
        flat = "".join(t for t in out[i])
        assert flat == "".join(w + "</w>" for w in text.split())
    # determinism: retraining yields the same merges
    assert train_bpe_merges(df, "text", n_merges=3) == merges


def test_bpe_train_bounded_vocab(spark):
    """The training collect is bounded: a cap at or above the distinct-word
    count trains identically to the unbounded collect, and a heavy-tail
    corpus (few frequent words + many singletons) trains identically above
    the frequency floor to training on just the frequent sub-corpus — the
    driver never needs the tail."""
    from evolution_spark.functions.bpe import train_bpe_merges

    head = [(i, "abab cdcd abab") for i in range(30)]
    tail = [(1000 + i, f"w{i:03d}qz") for i in range(200)]  # 200 singletons
    df = spark.createDataFrame(head + tail, "id bigint, text string")
    head_df = spark.createDataFrame(head, "id bigint, text string")

    unbounded = train_bpe_merges(df, "text", n_merges=4, max_vocab=None)
    # cap >= distinct words: identical to unbounded
    assert train_bpe_merges(df, "text", n_merges=4, max_vocab=100000) == unbounded
    # frequency floor drops the singleton tail: merges come out exactly as
    # if trained on the frequent sub-corpus alone
    floored = train_bpe_merges(df, "text", n_merges=4, min_freq=2)
    assert floored == train_bpe_merges(head_df, "text", n_merges=4, max_vocab=None)
    # top-N cap keeps the most frequent words (ties lexicographic): with
    # N=2 only {abab, cdcd} survive — same result as the floor
    assert train_bpe_merges(df, "text", n_merges=4, max_vocab=2) == floored


def test_read_media_dir_binaryfile_ingest(spark, tmp_path):
    """binaryFile ingest: a directory of real BMP + WAV files lands in the
    canonical media schema with kinds sniffed from magic bytes, and the
    payloads decode through the REAL codecs downstream."""
    import numpy as np

    from evolution_spark.operators.multimodal import (
        decode_bmp,
        decode_wav,
        encode_bmp,
        encode_wav,
        extract_features,
        read_media_dir,
    )

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    (tmp_path / "a.bmp").write_bytes(encode_bmp(px))
    smp = (np.sin(np.linspace(0, 3.14, 32)) * 1000).astype(np.int16)
    (tmp_path / "b.wav").write_bytes(encode_wav(smp, 16000))
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "c.bmp").write_bytes(encode_bmp(px))

    # RIFF is a container family: AVI is video, unknown forms stay binary
    (tmp_path / "d.avi").write_bytes(b"RIFF\x24\x00\x00\x00AVI LIST fake")
    (tmp_path / "e.webp").write_bytes(b"RIFF\x24\x00\x00\x00WEBPVP8 fake")

    df = read_media_dir(spark, str(tmp_path))
    collected = df.collect()
    rows = {r.mime: r for r in collected}
    assert sorted(r.kind for r in collected) == [
        "audio",
        "binary",
        "image",
        "image",
        "video",
    ]
    assert rows["video/x-msvideo"].kind == "video"
    assert rows["application/octet-stream"].kind == "binary"
    assert (decode_bmp(bytes(rows["image/bmp"].payload)) == px).all()
    got_smp, rate = decode_wav(bytes(rows["audio/wav"].payload))
    assert rate == 16000 and (got_smp.ravel() == smp).all()
    # glob pruning happens at listing time
    assert read_media_dir(spark, str(tmp_path), glob="*.wav").count() == 1
    # downstream real-codec features run on the ingested frame
    feats = extract_features(df.where(F.col("kind") == "image"), fake=False)
    assert feats.count() == 2


def test_lit_array_helpers_bit_identical(spark):
    """The single-parse array constants must evaluate bit-identically to
    the per-element F.lit form across edge values (negatives, int64
    extremes, subnormal/huge doubles, shortest-repr floats)."""
    import pyspark.sql.functions as F

    from evolution_spark.functions.vectors import lit_double_array, lit_long_array

    longs = [0, -1, 1, 2**63 - 1, -(2**63), 123456789012345678]
    doubles = [0.0, -0.0, 1.0, -1.5, 1e308, 5e-324, 0.1, -2.5e-10, 3.141592653589793]
    row = spark.range(1).select(
        lit_long_array(longs).alias("l"),
        F.array(*[F.lit(v).cast("bigint") for v in longs]).alias("l_ref"),
        lit_double_array(doubles).alias("d"),
        F.array(*[F.lit(float(v)).cast("double") for v in doubles]).alias("d_ref"),
    ).first()
    assert list(row.l) == list(row.l_ref) == longs
    import struct

    bits = lambda xs: [struct.pack("<d", x) for x in xs]
    assert bits(row.d) == bits(row.d_ref) == bits([float(v) for v in doubles])


def test_semdedup_prunes_planted_only(spark):
    """semdedup: planted near-identical copies are pruned (they land in the
    same cluster as their source and cosine ~ 1), while distinct random
    vectors survive; the keep-lowest-id rule keeps every original."""
    from pyspark.sql import functions as F

    from evolution_spark.operators.dedup import semdedup

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    dup_ids = [r.vec_id for r in base.select("vec_id").limit(5).collect()]
    planted = base.unionByName(
        base.where(F.col("vec_id").isin(dup_ids)).select(
            (F.col("vec_id") + 10**6).alias("vec_id"),
            F.transform("v", lambda x: x * 1.0000001).alias("v"),
        )
    )
    marked = semdedup(planted, "vec_id", "v", n_cells=4, threshold=0.999)
    pruned = {r.vec_id for r in marked.where("is_pruned").collect()}
    assert pruned == {i + 10**6 for i in dup_ids}
    # membership is total and disjoint
    assert marked.count() == base.count() + len(dup_ids)


def test_dhash_brightness_invariant_and_band_recall(spark):
    """dHash: uniform brightness shift leaves the hash unchanged (planted
    copies collide at hamming 0); a single flipped difference-bit is still
    found by the 4x16 band join (pigeonhole recall for hamming <= 3); and
    unrelated gradient images do not pair up."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    from evolution_spark.operators.multimodal import (
        dhash_bits,
        dhash_images,
        dhash_near_dups,
        encode_bmp,
    )

    def img(seed, shift=0):
        px = ((np.arange(12 * 12 * 3, dtype=np.int64) * (seed + 5)) % 239).astype(
            np.uint8
        ).reshape(12, 12, 3)
        return encode_bmp(px + shift)

    # brightness invariance, pixel-exact
    assert dhash_bits(img(1)) == dhash_bits(img(1, shift=6))
    assert dhash_bits(img(1)) != dhash_bits(img(2))

    rows = [(i, img(i)) for i in range(20)] + [(100 + i, img(i, shift=6)) for i in range(20)]
    df = spark.createDataFrame(rows, "media_id BIGINT, payload BINARY")
    pairs = dhash_near_dups(dhash_images(df), max_hamming=3)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    for i in range(20):
        assert got.get((i, 100 + i)) == 0
    assert all(b - a == 100 for (a, b) in got)


def test_edit_distance_join_exact_vs_bruteforce(spark):
    """PassJoin segment filtering is LOSSLESS: the keyed candidate join +
    levenshtein verify returns exactly the brute-force pair set, for k=1
    and k=2, over an adversarial short-alphabet corpus (many near-ties,
    lengths 1..9 including strings shorter than k+1 segments)."""
    import random

    from pyspark.sql import functions as F

    from evolution_spark.operators.fuzzy import edit_distance_join

    random.seed(11)
    strs = [
        "".join(random.choice("ab") for _ in range(random.randint(1, 9)))
        for _ in range(80)
    ]
    df = spark.createDataFrame(list(enumerate(strs)), "id BIGINT, s STRING")
    a = df.selectExpr("id id_a", "s sa")
    b = df.selectExpr("id id_b", "s sb")
    for k in (1, 2):
        got = {
            (r.id_a, r.id_b, r.dist)
            for r in edit_distance_join(df, "id", "s", k=k).collect()
        }
        ref = {
            (r.id_a, r.id_b, r.dist)
            for r in a.crossJoin(b)
            .where("id_a < id_b")
            .select("id_a", "id_b", F.levenshtein("sa", "sb").alias("dist"))
            .where(F.col("dist") <= k)
            .collect()
        }
        assert got == ref, f"k={k}: {len(got)} vs {len(ref)}"


# --------------------------------------------------------------------------
# Weighted sampling (A-ES)
# --------------------------------------------------------------------------


def test_weighted_sample_deterministic_and_biased(spark):
    from evolution_spark.operators.curation import weighted_sample

    rows = [(i, 1000 if i < 50 else 10) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, w long")
    a = sorted(r.id for r in weighted_sample(df, "id", "w", 40).collect())
    b = sorted(r.id for r in weighted_sample(df, "id", "w", 40).collect())
    assert a == b and len(a) == 40
    # 50 heavy rows carry 100x the weight of the 450 light rows: they must
    # dominate the sample (expected ~47 of 40 slots from the heavy pool)
    heavy = sum(1 for i in a if i < 50)
    assert heavy >= 30, heavy


def test_weighted_sample_k_larger_than_input(spark):
    from evolution_spark.operators.curation import weighted_sample

    df = spark.createDataFrame([(1, 5), (2, 5)], "id long, w long")
    assert weighted_sample(df, "id", "w", 10).count() == 2


def test_edit_distance_join_empty_strings(spark):
    """Empty strings are legal PassJoin participants: ("", "a") at k=1 and
    ("", "") at any k must be found (regression: the candidate side used
    to clamp partner length to 1, losing every pair involving "")."""
    from evolution_spark.operators.fuzzy import edit_distance_join

    df = spark.createDataFrame(
        [(0, ""), (1, "a"), (2, ""), (3, "ab")], "id long, s string"
    )
    got = {
        (r.id_a, r.id_b): r.dist
        for r in edit_distance_join(df, "id", "s", k=1).collect()
    }
    assert got == {(0, 1): 1, (0, 2): 0, (1, 2): 1, (1, 3): 1}


def test_edit_distance_join_k1_length_bands(spark):
    """The k=1 dispatch splits by string length (deletion variants <= cap,
    segment path >= cap): pairs straddling the cap boundary must be found
    exactly once, long-long pairs by the segment band, short-short by the
    variant band — verified against brute force with a tiny cap so every
    band and the boundary are exercised."""
    from pyspark.sql import functions as F

    from evolution_spark.operators.fuzzy import edit_distance_join

    # lengths 3..8 around cap=5: short(<=5), boundary (5 vs 6), long(>5)
    strs = [
        "abc", "abd", "abcd", "abcde", "abcdf", "abcdef", "abcdeg",
        "abcdefg", "abcdefh", "abcdefgh", "xbcde", "xbcdef",
    ]
    df = spark.createDataFrame(list(enumerate(strs)), "id BIGINT, s STRING")
    a = df.selectExpr("id id_a", "s sa")
    b = df.selectExpr("id id_b", "s sb")
    ref = {
        (r.id_a, r.id_b, r.dist)
        for r in a.crossJoin(b)
        .where("id_a < id_b")
        .select("id_a", "id_b", F.levenshtein("sa", "sb").alias("dist"))
        .where(F.col("dist") <= 1)
        .collect()
    }
    for cap in (0, 1, 5, 64):
        rows = edit_distance_join(df, "id", "s", k=1, k1_max_len=cap).collect()
        got = [(r.id_a, r.id_b, r.dist) for r in rows]
        assert len(got) == len(set(got)), f"cap={cap}: duplicate pairs"
        assert set(got) == ref, f"cap={cap}: {len(got)} vs {len(ref)}"


def test_dedup_keep_best_string_ids_tie_deterministic(spark):
    """Tie-break must be the MIN id even for string ids (regression: the
    negated-id ordering cast string ids to NULL, making ties arbitrary)."""
    from evolution_spark.operators.dedup import dedup_keep_best

    rows = [("b", "same text", 1.0), ("a", "same text", 1.0), ("c", "same text", 0.5),
            ("z", "other", 2.0)]
    df = spark.createDataFrame(rows, "doc string, text string, score double")
    kept = sorted(r.doc for r in dedup_keep_best(df, "text", "doc", "score").collect())
    assert kept == ["a", "z"]
    import pytest

    with pytest.raises(TypeError, match="must be numeric"):
        dedup_keep_best(df.withColumn("score", df.doc), "text", "doc", "score")


def test_global_running_sum_partition_invariance(spark):
    """Exact global cumsum under range partitioning + carries: equals the
    sequential prefix sum at every row, for any partition count."""
    import random

    from evolution_spark.operators.rank import global_running_sum

    rng = random.Random(3)
    rows = [(i, rng.randint(-5, 5)) for i in range(500)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k long, v long")
    seq = {}
    acc = 0
    for k, v in sorted(rows):
        acc += v
        seq[k] = acc
    for n in (1, 3, 16):
        got = {
            r.k: r.running
            for r in global_running_sum(df, ["k"], "v", n_partitions=n).collect()
        }
        assert got == seq, f"n_partitions={n}"


def test_weighted_sample_rejects_nonpositive_weights(spark):
    """w=0 (NULL priority, silently dropped) and w<0 (u^(1/w)>1, silently
    dominates) both corrupt the A-ES draw — they must fail loudly."""
    import pytest
    from pyspark.errors import PySparkException

    from evolution_spark.operators.curation import weighted_sample

    df = spark.createDataFrame([(1, 1.0), (2, 0.0)], "id long, w double")
    with pytest.raises(PySparkException, match="non-positive weight"):
        weighted_sample(df, "id", "w", 2).collect()
    df2 = spark.createDataFrame([(1, 1.0), (2, -3.0)], "id long, w double")
    with pytest.raises(PySparkException, match="non-positive weight"):
        weighted_sample(df2, "id", "w", 2).collect()
    # positive weights unaffected
    df3 = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, w double")
    assert weighted_sample(df3, "id", "w", 2).count() == 2


def test_data_contract_check_semantics(spark):
    """Per-rule violation counts in one scan; NULL rule results count as
    violations; empty rule list refused."""
    import pytest

    from evolution_spark.operators.curation import data_contract_check

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, None, -1.0), (None, "b", None)],
        "k long, s string, v double",
    )
    out = {
        r.rule: (r.n_violations, r.n_rows)
        for r in data_contract_check(
            df,
            [
                ("k_not_null", F.col("k").isNotNull()),
                ("s_enum", F.col("s").isin("a", "b")),
                ("v_positive", F.col("v") > 0),  # NULL v -> violation
            ],
        ).collect()
    }
    assert out == {
        "k_not_null": (1, 3),
        "s_enum": (1, 3),
        "v_positive": (2, 3),
    }
    with pytest.raises(ValueError, match="at least one rule"):
        data_contract_check(df, [])


def test_png_codec_roundtrip_all_filters():
    """encode_png/decode_png round-trip every filter type over gray,
    gray+alpha, RGB and RGBA shapes, including smooth gradients that
    stress the Average/Paeth predictors."""
    import numpy as np

    from evolution_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(3)
    shapes = [(5, 7), (5, 7, 2), (8, 9, 3), (4, 4, 4), (1, 1, 3), (3, 1), (1, 5, 3)]
    for shape in shapes:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        for f in range(5):
            got = decode_png(encode_png(img, filter_type=f))
            assert got.shape == img.shape
            assert np.array_equal(got, img), (shape, f)
    x = np.arange(64)
    grad = ((x[:, None] * 3 + x[None, :] * 5) % 256).astype(np.uint8)
    for f in range(5):
        assert np.array_equal(decode_png(encode_png(grad, f)), grad)


def test_png_16bit_roundtrip_and_spec_fixture():
    """16-bit PNG (round 12): every filter round-trips full-range uint16
    content for gray/gray+alpha/RGB/RGBA; a hand-built 16-bit stream
    decodes the exact big-endian samples; dtype is preserved."""
    import zlib

    import numpy as np

    from evolution_spark.operators.multimodal import (
        _png_chunk,
        _PNG_SIG,
        decode_media,
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(7)
    for shape in [(5, 7), (4, 6, 2), (6, 5, 3), (3, 4, 4), (1, 1), (2, 1, 3)]:
        img = rng.integers(0, 1 << 16, size=shape, dtype=np.uint16)
        for f in range(5):
            got = decode_png(encode_png(img, filter_type=f))
            assert got.dtype == np.uint16
            assert np.array_equal(got, img), (shape, f)
    # hand-built fixture: 2x1 gray 16-bit, filter None, samples
    # 0x0102 0xFFFE big-endian (independent of encode_png)
    ihdr = (2).to_bytes(4, "big") + (1).to_bytes(4, "big") + bytes(
        [16, 0, 0, 0, 0])
    raw = bytes([0, 0x01, 0x02, 0xFF, 0xFE])
    payload = (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
               + _png_chunk(b"IDAT", zlib.compress(raw))
               + _png_chunk(b"IEND", b""))
    assert decode_png(payload).tolist() == [[0x0102, 0xFFFE]]
    # production dispatch flattens 16-bit values losslessly to float32?
    # 0xFFFE needs 16 bits — float32 holds integers to 2^24, exact
    flat = decode_media(payload, "image")
    assert flat.tolist() == [258.0, 65534.0]
    # 16-bit + Adam7: 2x2 gray emits passes 1 ((0,0)), 6 ((0,1)),
    # 7 (row 1) — hand-built per the spec pass grid
    ihdr7 = (2).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes(
        [16, 0, 0, 0, 1])
    raw7 = (bytes([0, 0x00, 0x0A]) + bytes([0, 0x10, 0x01])
            + bytes([0, 0x20, 0x02, 0x30, 0x03]))
    payload7 = (_PNG_SIG + _png_chunk(b"IHDR", ihdr7)
                + _png_chunk(b"IDAT", zlib.compress(raw7))
                + _png_chunk(b"IEND", b""))
    assert decode_png(payload7).tolist() == [
        [0x000A, 0x1001], [0x2002, 0x3003]]


def test_png_decoder_spec_fixtures():
    """Decode hand-built PNG byte streams with filter bytes computed BY
    HAND from the spec (RFC 2083 §6) — independent of encode_png, so a
    symmetric encoder/decoder mistake cannot cancel out."""
    import struct
    import zlib

    import numpy as np

    from evolution_spark.operators.multimodal import decode_png

    def png(width, height, color_type, raw_scanlines: bytes) -> bytes:
        def chunk(ctype, body):
            crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
            return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)

        ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw_scanlines)) + chunk(b"IEND", b""))

    # Sub filter, gray 3x1: pixels [10, 20, 30] -> filtered [10, 10, 10]
    img = decode_png(png(3, 1, 0, bytes([1, 10, 10, 10])))
    assert img.tolist() == [[10, 20, 30]]
    # Up filter, gray 2 rows: row0=[5,6] (None), row1=[7,9] -> up-diffs [2,3]
    img = decode_png(png(2, 2, 0, bytes([0, 5, 6, 2, 2, 3])))
    assert img.tolist() == [[5, 6], [7, 9]]
    # Average, gray 2x2: row0=[8,4] raw. row1 recon=[10,9]:
    #   x0: avg=floor((0+8)/2)=4 -> filt=6; x1: avg=floor((10+4)/2)=7 -> filt=2
    img = decode_png(png(2, 2, 0, bytes([0, 8, 4, 3, 6, 2])))
    assert img.tolist() == [[8, 4], [10, 9]]
    # Paeth, gray 2x2: row0=[3,9]. want row1=[7,8]:
    #   x0: a=0,b=3,c=0 -> p=3, pred=b=3 -> filt=4
    #   x1: a=7,b=9,c=3 -> p=13, pa=6,pb=4,pc=10 -> pred=b=9 -> filt=255 (8-9 mod 256)
    img = decode_png(png(2, 2, 0, bytes([0, 3, 9, 4, 4, 255])))
    assert img.tolist() == [[3, 9], [7, 8]]
    # RGB Sub: pixel0=(1,2,3), filtered pixel1=(10,10,10) -> pixel1=(11,12,13)
    img = decode_png(png(2, 1, 2, bytes([1, 1, 2, 3, 10, 10, 10])))
    assert img.tolist() == [[[1, 2, 3], [11, 12, 13]]]
    # modulo-256 wrap: gray [250] then Sub +10 -> 4
    img = decode_png(png(2, 1, 0, bytes([1, 250, 10])))
    assert img.tolist() == [[250, 4]]


def test_png_decoder_guards():
    import numpy as np
    import pytest

    from evolution_spark.operators.multimodal import decode_media, decode_png, encode_png

    with pytest.raises(ValueError, match="signature"):
        decode_png(b"not a png")
    # 16-bit / palette / interlace refuse loudly: flip IHDR fields
    img = encode_png(np.zeros((2, 2, 3), dtype=np.uint8))
    broken = bytearray(img)
    broken[24] = 7  # invalid bit depth byte inside IHDR
    with pytest.raises(ValueError, match="unsupported PNG shape"):
        decode_png(bytes(broken))
    # 16-bit is supported since round 12, but a lying depth byte makes
    # the stream length wrong — refuses, never mis-decodes
    broken[24] = 16
    with pytest.raises(ValueError, match="wrong length"):
        decode_png(bytes(broken))
    # production dispatch routes PNG magic to the real decoder
    flat = decode_media(encode_png(np.full((2, 3), 9, dtype=np.uint8)), "image")
    assert flat.tolist() == [9.0] * 6


def test_jpeg_codec_roundtrip_paths():
    """Baseline JPEG codec: DC-only images roundtrip EXACTLY (the oracle
    contract), smooth content stays within tight error at high quality,
    grayscale/RGB/odd dimensions all work, and the production
    decode_media dispatch routes on the JPEG magic."""
    import numpy as np

    from evolution_spark.operators.multimodal import (
        decode_jpeg,
        decode_media,
        encode_jpeg,
    )

    # constant-per-8x8-block gray, even values: DC-only -> exact
    img = np.zeros((24, 32), dtype=np.uint8)
    for by in range(3):
        for bx in range(4):
            img[by*8:(by+1)*8, bx*8:(bx+1)*8] = 2 * ((3 + 5*bx + 7*by) % 128)
    assert np.array_equal(decode_jpeg(encode_jpeg(img, quality=50)), img)
    # smooth RGB gradient: AC paths (run-lengths, magnitudes) + YCbCr
    yv, xv = np.meshgrid(np.arange(32), np.arange(48), indexing="ij")
    rgb = np.stack(
        [(xv * 3) % 200 + 20, (yv * 4) % 200 + 20, ((xv + yv) * 2) % 200 + 20],
        axis=-1,
    ).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(rgb, quality=90))
    assert dec.shape == rgb.shape
    assert np.abs(dec.astype(int) - rgb.astype(int)).max() <= 4
    # non-multiple-of-8 dims crop correctly (edge-replicated pad blocks)
    odd = (np.arange(19 * 13) % 256).astype(np.uint8).reshape(19, 13)
    dec2 = decode_jpeg(encode_jpeg(odd, quality=95))
    assert dec2.shape == (19, 13)
    assert np.abs(dec2.astype(int) - odd.astype(int)).max() <= 2
    # production dispatch routes JPEG bytes
    flat = decode_media(encode_jpeg(img), "image")
    assert flat.shape == (24 * 32,)
    assert int(flat.sum()) == int(img.sum())


def test_jpeg_decoder_refusals():
    """Unsupported modes refuse loudly instead of mis-decoding."""
    import numpy as np
    import pytest

    from evolution_spark.operators.multimodal import decode_jpeg, encode_jpeg

    payload = bytearray(encode_jpeg(np.full((8, 8), 100, dtype=np.uint8)))
    # flip SOF0 (0xC0) to SOF5 (differential/hierarchical; arithmetic
    # SOF9/SOF10 and lossless SOF3 DECODE since round 11 — see
    # tests/test_jpeg_arithmetic.py / test_jpeg_lossless.py)
    i = payload.index(b"\xff\xc0")
    payload[i + 1] = 0xC5
    with pytest.raises(NotImplementedError, match="SOF5"):
        decode_jpeg(bytes(payload))
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"not a jpeg")
    # a baseline stream relabeled SOF2 routes to the progressive decoder
    # and fails its scan-header validation (full-band interleaved scan)
    payload[i + 1] = 0xC2
    with pytest.raises(ValueError, match="non-DC band"):
        decode_jpeg(bytes(payload))


def test_jpeg_progressive_matches_baseline_exactly():
    """Progressive is a TRANSMISSION reordering of the same quantized
    coefficients: for any image and quality, decode(progressive) must
    equal decode(baseline) pixel-for-pixel — one bit of drift in the
    spectral-selection / successive-approximation / refinement paths
    breaks equality."""
    import numpy as np

    from evolution_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(17)
    # structured + noisy RGB, dims not multiples of 8
    h, w = 37, 53
    x = np.linspace(0, 255, w)[None, :] * np.ones((h, 1))
    y = np.linspace(0, 255, h)[:, None] * np.ones((1, w))
    img = np.stack([x, y, (x + y) / 2], axis=-1)
    img[9:18, 11:29, 0] = 250
    img += rng.normal(0, 15, img.shape)
    img = np.clip(img, 0, 255).astype(np.uint8)
    for q in (25, 50, 90):
        base = decode_jpeg(encode_jpeg(img, q))
        prog = decode_jpeg(encode_jpeg_progressive(img, q))
        assert np.array_equal(base, prog), f"quality {q} diverged"
    # grayscale + pure noise (dense AC spectrum stresses refinement)
    g = rng.integers(0, 256, (24, 31), dtype=np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(g, 75)),
        decode_jpeg(encode_jpeg_progressive(g, 75)),
    )
    # flat image (EOB-heavy scans)
    flat = np.full((16, 16, 3), 77, dtype=np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(flat, 50)),
        decode_jpeg(encode_jpeg_progressive(flat, 50)),
    )


def test_jpeg_progressive_eob_run_decoding():
    """Hand-built progressive stream with an EOB RUN spanning blocks (the
    EOBn symbols Annex K tables lack, so foreign encoders' custom tables
    are modeled with a custom DHT): 2 blocks, AC scan ends both via one
    EOB2 symbol. The decoder must skip exactly the run's blocks."""
    import numpy as np

    from evolution_spark.operators.multimodal import (
        _JpegBitWriter,
        _jpeg_canonical_codes,
        _jpeg_magnitude,
        decode_jpeg,
    )

    h, w = 8, 16  # 2 blocks side by side, grayscale
    dc = [4, -6]  # quantized DC per block (q00=16 below)

    def seg(marker, body):
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    out = bytearray(b"\xff\xd8")
    qt = bytes([0]) + bytes([16] * 64)  # flat QT: all steps 16
    out += seg(0xDB, qt)
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([1])
    sof += bytes([1, 0x11, 0])
    out += seg(0xC2, sof)
    # DC table: standard-ish (sizes 0..11); AC table: EOB1 (0x10) only
    dc_bits = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    dc_vals = list(range(12))
    out += seg(0xC4, bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals))
    ac_bits = [1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
    ac_vals = [0x10]  # the EOBn symbol with r=1: run = 2 + extra bit
    out += seg(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals))
    # scan 1: DC first, Al=0
    dc_codes = _jpeg_canonical_codes(dc_bits, dc_vals)
    bw = _JpegBitWriter()
    pred = 0
    for v in dc:
        s, bits = _jpeg_magnitude(v - pred)
        pred = v
        code, ln = dc_codes[s]
        bw.write(code, ln)
        if s:
            bw.write(bits, s)
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x00])) + bw.flush()
    # scan 2: AC first 1..63, Al=0 — ONE EOB2 symbol covers both blocks
    ac_codes = _jpeg_canonical_codes(ac_bits, ac_vals)
    bw = _JpegBitWriter()
    code, ln = ac_codes[0x10]
    bw.write(code, ln)
    bw.write(0, 1)  # extra bit 0: run = (1 << 1) + 0 = 2 blocks
    out += seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x00])) + bw.flush()
    out += b"\xff\xd9"

    px = decode_jpeg(bytes(out))
    assert px.shape == (8, 16)
    # DC-only blocks reconstruct as constants: dc*16/8 + 128
    assert np.all(px[:, :8] == np.clip(round(4 * 16 / 8 + 128), 0, 255))
    assert np.all(px[:, 8:] == np.clip(round(-6 * 16 / 8 + 128), 0, 255))


def test_jpeg_progressive_via_media_dispatch():
    """decode_media routes SOF2 payloads through the progressive decoder
    (magic-byte dispatch is format-blind between baseline/progressive)."""
    import numpy as np

    from evolution_spark.operators.multimodal import (
        decode_media,
        encode_jpeg_progressive,
    )

    img = np.full((16, 24), 90, dtype=np.uint8)
    img[4:12, 6:18] = 200
    flat = decode_media(encode_jpeg_progressive(img, 60), "image")
    assert flat.shape == (16 * 24,)


def test_dhash_cross_format_identity_and_jpeg_near():
    """round 11: dHash decodes EVERY supported image format, so the same
    pixels hash IDENTICALLY across lossless containers and hamming-near
    across a lossy JPEG re-save — the canonical scraped-corpus near-dup."""
    import numpy as np

    from evolution_spark.operators.gif import encode_gif
    from evolution_spark.operators.multimodal import (
        dhash_bits,
        encode_bmp,
        encode_jpeg,
        encode_png,
    )
    from evolution_spark.operators.tiff import encode_tiff

    rng = np.random.default_rng(61)
    img = (rng.integers(0, 5, (40, 56, 3)) * 60).astype(np.uint8)
    h_bmp = dhash_bits(encode_bmp(img))
    assert dhash_bits(encode_png(img)) == h_bmp
    assert dhash_bits(encode_tiff(img, compression="lzw")) == h_bmp
    assert dhash_bits(encode_gif(img)) == h_bmp
    h_jpeg = dhash_bits(encode_jpeg(img, quality=75))
    ham = bin((h_jpeg ^ h_bmp) & ((1 << 64) - 1)).count("1")
    assert ham <= 10, ham  # lossy re-save stays hamming-near
    # an unrelated image is far
    other = (rng.integers(0, 5, (40, 56, 3)) * 60).astype(np.uint8)
    far = bin((dhash_bits(encode_bmp(other)) ^ h_bmp) & ((1 << 64) - 1)).count("1")
    assert far > 10, far


def test_resize_images_real_cross_format(spark):
    """round 11: the real resize path decodes any image format and emits
    a valid BMP with exact nearest-neighbor content."""
    import numpy as np

    from evolution_spark.operators.gif import encode_gif
    from evolution_spark.operators.multimodal import (
        decode_bmp,
        encode_png,
        resize_images,
    )

    rng = np.random.default_rng(62)
    img = (rng.integers(0, 5, (30, 44, 3)) * 60).astype(np.uint8)
    rows_df = spark.createDataFrame(
        [
            (1, "image", bytearray(encode_png(img)), "image/png",
             44, 30, None),
            (2, "image", bytearray(encode_gif(img)), "image/gif",
             44, 30, None),
        ],
        "media_id long, kind string, payload binary, mime string, "
        "width int, height int, duration_ms int",
    )
    out = {
        r["media_id"]: bytes(r["payload"])
        for r in resize_images(rows_df, 11, 10, fake=False).collect()
    }
    rows = (np.arange(10) * 30) // 10
    cols = (np.arange(11) * 44) // 11
    expect = img[np.ix_(rows, cols)]
    for mid in (1, 2):
        got = decode_bmp(out[mid])
        assert got.shape == (10, 11, 3)
        assert np.array_equal(got, expect), mid


def test_dhash_handles_alpha_png():
    """review r11 pass 8: alpha PNGs (the common web/screenshot shape)
    hash instead of crashing — alpha strips at the shared spatial
    dispatch."""
    import numpy as np

    from evolution_spark.operators.multimodal import (
        dhash_bits,
        encode_bmp,
        encode_png,
    )

    rng = np.random.default_rng(63)
    img = (rng.integers(0, 5, (24, 24, 3)) * 60).astype(np.uint8)
    rgba = np.concatenate(
        [img, np.full((24, 24, 1), 255, np.uint8)], axis=-1
    )
    assert dhash_bits(encode_png(rgba)) == dhash_bits(encode_bmp(img))
    ga = np.stack([img[..., 0], np.full((24, 24), 255, np.uint8)], axis=-1)
    assert isinstance(dhash_bits(encode_png(ga)), int)


def test_png_palette_decode_all_depths():
    """round 11: palette PNGs (color type 3, the common web icon shape)
    decode at 1/2/4/8-bit packing, with tRNS alpha when present."""
    import numpy as np

    from evolution_spark.operators.multimodal import (
        decode_png,
        encode_png_palette,
    )

    rng = np.random.default_rng(71)
    pal = rng.integers(0, 256, (16, 3)).astype(np.uint8)
    for bits, ncol in ((1, 2), (2, 4), (4, 16), (8, 16)):
        idx = rng.integers(0, ncol, (23, 31)).astype(np.uint8)
        out = decode_png(encode_png_palette(idx, pal[:ncol], bit_depth=bits))
        assert np.array_equal(out, pal[:ncol][idx]), bits
    trns = np.array([255, 128, 0, 255], np.uint8)
    idx = rng.integers(0, 4, (9, 9)).astype(np.uint8)
    out = decode_png(encode_png_palette(idx, pal[:4], trns=trns))
    assert out.shape == (9, 9, 4)
    assert np.array_equal(out[..., :3], pal[:4][idx])
    assert np.array_equal(out[..., 3], trns[idx])


def test_png_adam7_decode():
    """round 11: Adam7-interlaced PNGs deinterlace exactly for every
    channel shape, odd/degenerate sizes, and sub-byte palette depths."""
    import numpy as np

    from evolution_spark.operators.multimodal import (
        decode_png,
        encode_png_adam7,
        encode_png_palette,
    )

    rng = np.random.default_rng(72)
    for shape in ((16, 16, 3), (23, 31, 3), (7, 5), (1, 9, 3), (9, 1),
                  (8, 8, 4), (13, 17, 2)):
        img = rng.integers(0, 256, shape).astype(np.uint8)
        assert np.array_equal(decode_png(encode_png_adam7(img)), img), shape
    pal = rng.integers(0, 256, (16, 3)).astype(np.uint8)
    for bits, ncol in ((1, 2), (2, 4), (4, 16), (8, 16)):
        idx = rng.integers(0, ncol, (21, 15)).astype(np.uint8)
        out = decode_png(
            encode_png_palette(idx, pal[:ncol], bit_depth=bits,
                               interlace=True)
        )
        assert np.array_equal(out, pal[:ncol][idx]), bits


def test_png_lying_depth_byte_refuses():
    """16-bit decodes since round 12; an 8-bit stream whose IHDR CLAIMS
    16 has the wrong IDAT length and must refuse, never mis-decode."""
    import numpy as np

    from evolution_spark.operators.multimodal import decode_png, encode_png

    payload = bytearray(encode_png(np.zeros((4, 4), np.uint8)))
    i = payload.find(b"IHDR")
    payload[i + 4 + 8] = 16  # bit depth byte
    import pytest as _pytest

    with _pytest.raises(ValueError, match="wrong length"):
        decode_png(bytes(payload))


def test_png_malformed_interlace_and_trns_refuse():
    """review r11 pass 10: trailing IDAT junk on Adam7 streams and
    oversized tRNS chunks refuse with PNG-specific ValueErrors."""
    import zlib

    import numpy as np
    import pytest as _pytest

    from evolution_spark.operators.multimodal import (
        decode_png,
        encode_png_adam7,
        encode_png_palette,
    )

    rng = np.random.default_rng(73)
    img = rng.integers(0, 256, (12, 12, 3)).astype(np.uint8)
    payload = bytearray(encode_png_adam7(img))
    # rebuild the IDAT with 50 junk bytes appended post-deflate
    i = payload.find(b"IDAT")
    size = int.from_bytes(payload[i - 4: i], "big")
    raw = zlib.decompress(bytes(payload[i + 4: i + 4 + size]))
    bad = zlib.compress(raw + b"\x00" * 50, 6)
    rebuilt = (
        bytes(payload[: i - 4])
        + len(bad).to_bytes(4, "big") + b"IDAT" + bad
        + (zlib.crc32(b"IDAT" + bad) & 0xFFFFFFFF).to_bytes(4, "big")
        + bytes(payload[i + 8 + size:])
    )
    with _pytest.raises(ValueError, match="wrong length"):
        decode_png(rebuilt)

    pal = rng.integers(0, 256, (4, 3)).astype(np.uint8)
    idx = rng.integers(0, 4, (6, 6)).astype(np.uint8)
    good = encode_png_palette(idx, pal, trns=np.zeros(4, np.uint8))
    j = good.find(b"tRNS")
    oversized = (
        good[: j - 4]
        + (10).to_bytes(4, "big") + b"tRNS" + bytes(10)
        + (zlib.crc32(b"tRNS" + bytes(10)) & 0xFFFFFFFF).to_bytes(4, "big")
        + good[j + 4 + 4 + 4:]
    )
    with _pytest.raises(ValueError, match="tRNS"):
        decode_png(oversized)


def test_png_corrupt_idat_raises_value_error():
    """review r12 pass 10: a corrupt (not just truncated) IDAT stream
    must surface as ValueError, not zlib.error — the mapInPandas error
    contract."""
    import numpy as np
    import pytest as _pytest

    from evolution_spark.operators.multimodal import decode_png, encode_png

    p = bytearray(encode_png(np.arange(64, dtype=np.uint8).reshape(8, 8)))
    i = p.find(b"IDAT") + 8
    p[i] ^= 0xFF
    with _pytest.raises(ValueError, match="IDAT stream corrupt"):
        decode_png(bytes(p))


def test_cap_payload_partitions_bounds_task_bytes(spark):
    """round 13 (VERDICT item 4): the multi-MB-payload batch guidance
    is now an executable cap — a skewed single-partition layout that
    would have handed one Python worker 12 MB of payloads in one Arrow
    batch is split so no task holds more than the cap; already-bounded
    inputs pass through without a shuffle."""
    from evolution_spark.operators.multimodal import (
        cap_payload_partitions,
        extract_features,
    )

    rows = [(i, "image", bytearray([i]) * (1 << 20)) for i in range(12)]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary"
    ).coalesce(1)
    capped = cap_payload_partitions(df, 2.0)
    per_part = capped.rdd.mapPartitions(
        lambda it: [sum(len(r.payload) for r in it)]
    ).collect()
    # HARD bound: cap plus at most one row above a bucket boundary
    assert max(per_part) <= 3 * (1 << 20)
    assert sorted(capped.select("media_id").rdd.flatMap(
        lambda r: r).collect()) == list(range(12))
    # bounded input: no-op (no shuffle inserted)
    small = spark.createDataFrame(
        [(1, "image", b"x" * 100)],
        "media_id long, kind string, payload binary",
    )
    assert cap_payload_partitions(small, 2.0) is small
    # results identical with and without the cap
    a = extract_features(df, fake=True).orderBy("media_id").collect()
    b = extract_features(
        df, fake=True, max_payload_mb_per_batch=2.0
    ).orderBy("media_id").collect()
    assert a == b
    import pytest as _pytest
    with _pytest.raises(ValueError, match="positive"):
        cap_payload_partitions(df, 0)


def test_bmp_palette_and_rle_decode():
    """round 13: 8/4-bit palette BMPs (raw + RLE8/RLE4) decode — runs,
    absolute mode, EOL/EOF/delta escapes, bottom-up flip, palette
    bounds."""
    import numpy as np
    import pytest as _pytest

    from evolution_spark.operators.multimodal import decode_bmp

    def bmp(width, height, bpp, compression, palette, body):
        n = len(palette)
        pal = b"".join(bytes([b_, g, r, 0]) for (r, g, b_) in palette)
        data_off = 14 + 40 + len(pal)
        info = ((40).to_bytes(4, "little")
                + width.to_bytes(4, "little", signed=True)
                + height.to_bytes(4, "little", signed=True)
                + (1).to_bytes(2, "little")
                + bpp.to_bytes(2, "little")
                + compression.to_bytes(4, "little")
                + len(body).to_bytes(4, "little")
                + bytes(8) + n.to_bytes(4, "little") + bytes(4))
        hdr = (b"BM" + (data_off + len(body)).to_bytes(4, "little")
               + bytes(4) + data_off.to_bytes(4, "little"))
        return hdr + info + pal + body

    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
    # raw 8-bit, 5x2, stride pads to 8
    body = bytes([0, 1, 2, 3, 0, 0, 0, 0,
                  3, 2, 1, 0, 3, 0, 0, 0])
    img = decode_bmp(bmp(5, 2, 8, 0, palette, body))
    assert img.shape == (2, 5, 3)
    # bottom-up: file row 0 is the BOTTOM row
    assert tuple(img[1, 0]) == (255, 0, 0) and tuple(img[0, 0]) == (9, 9, 9)
    # RLE8: run of 3 idx1, absolute [2,0,3], EOL; delta skip; EOF
    rle = bytes([3, 1,                 # run: 1 1 1
                 0, 3, 2, 0, 3, 0,     # absolute: 2 0 3 (padded)
                 0, 0,                 # EOL -> row 1
                 0, 2, 2, 0,           # delta: x += 2
                 4, 2,                 # run: 2 2 2 2
                 0, 1])                # EOF
    img = decode_bmp(bmp(6, 2, 8, 1, palette, rle))
    assert img.shape == (2, 6, 3)
    assert [tuple(p) for p in img[1]] == [
        (0, 255, 0)] * 3 + [(0, 0, 255), (255, 0, 0), (9, 9, 9)]
    # row 1 (top): 2 skipped (stay index 0 default) then 4x idx2
    assert [tuple(p) for p in img[0][:2]] == [(255, 0, 0)] * 2
    assert [tuple(p) for p in img[0][2:]] == [(0, 0, 255)] * 4
    # RLE4: run alternates nibbles; absolute packs nibbles
    rle4 = bytes([5, 0x12,             # 1 2 1 2 1
                  0, 3, 0x30, 0x10, 0, 0,  # absolute: 3 0 1 (pad to 2+2)
                  0, 1])               # EOF
    img = decode_bmp(bmp(8, 1, 4, 2, palette, rle4))
    got = [tuple(p) for p in img[0]]
    assert got[:5] == [(0, 255, 0), (0, 0, 255)] * 2 + [(0, 255, 0)]
    assert got[5:] == [(9, 9, 9), (255, 0, 0), (0, 255, 0)]
    # refusals
    with _pytest.raises(ValueError, match="bottom-up"):
        decode_bmp(bmp(4, -2, 8, 1, palette, bytes([0, 1])))
    with _pytest.raises(ValueError, match="overruns"):
        decode_bmp(bmp(4, 2, 8, 1, palette, bytes([9, 1, 0, 1])))
    with _pytest.raises(ValueError, match="palette index"):
        decode_bmp(bmp(4, 1, 8, 0, palette[:2],
                       bytes([3, 0, 0, 0])))


def test_cap_payload_partitions_exact_global_bins(spark):
    """round 14 (ADVICE): bucket keys are now exact global byte bins
    (driver anchors per-partition prefix sums), not partition-local
    pid<<40 composites whose sparse key space let range sampling pile
    several cap/2 buckets into one task."""
    from evolution_spark.operators.multimodal import cap_payload_partitions

    # 3 skewed input partitions: 9 x 1 MiB, 2 x 1 MiB, 1 x 1 MiB
    rows = [(i, bytes([i]) * (1 << 20)) for i in range(12)]
    df = (
        spark.createDataFrame(rows, "media_id long, payload binary")
        .repartitionByRange(3, "media_id")
    )
    cap_mb = 2.0
    capped = cap_payload_partitions(df, cap_mb)
    per_part = capped.rdd.mapPartitions(
        lambda it: [sum(len(r.payload) for r in it)]
    ).collect()
    cap = int(cap_mb * (1 << 20))
    # every task <= cap + one row's overhang (rows are 1 MiB)
    assert max(per_part) <= cap + (1 << 20)
    # exact packing: ceil(12 MiB / 2 MiB) = 6 bins, all non-empty
    assert sorted(b for b in per_part if b) == [2 << 20] * 6
    # nothing lost or duplicated
    assert sorted(capped.select("media_id").rdd.flatMap(
        lambda r: r).collect()) == list(range(12))


def test_global_running_sum_with_rank_matches_stacked_ops(spark):
    """r15 fusion: the one-exchange cum+rank operator must equal the
    stacked global_running_sum -> with_global_rank pipeline at every row
    (unique keys), for any partition count."""
    import random

    from evolution_spark.operators.rank import (
        global_running_sum,
        global_running_sum_with_rank,
        with_global_rank,
    )

    rng = random.Random(7)
    rows = [(i, rng.randint(-9, 9)) for i in range(500)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k long, v long")
    for n in (1, 3, 16):
        stacked = {
            (r.k): (r.running, r.rank)
            for r in with_global_rank(
                global_running_sum(df, ["k"], "v", n_partitions=n),
                ["k"],
                n_partitions=n,
            ).collect()
        }
        fused = {
            (r.k): (r.running, r.rank)
            for r in global_running_sum_with_rank(
                df, ["k"], "v", n_partitions=n
            ).collect()
        }
        assert fused == stacked, f"n_partitions={n}"
