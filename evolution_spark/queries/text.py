"""Text analysis + deduplication over the ``documents`` table — the
LLM-training-data-pipeline surface (BASELINE.json north star).

All hot-path expressions are Spark built-ins (JVM, codegen); the only hash
primitive is ``conv(substr(md5(x),1,8),16,10)`` which is bit-identical to
DuckDB's ``('0x'||substr(md5(x),1,8))::BIGINT`` — so every operator here,
including MinHash-LSH, is oracle-checkable.

Scale design (100 TB corpus):
* Exact dedup: hash-groupBy on a 128-bit fingerprint — one shuffle on the
  hash, never on the text.
* MinHash-LSH: per-doc signature (narrow), explode to (band, band_hash) keys
  (b rows/doc), shuffle-join on band hash — candidate generation cost is
  O(docs x bands), never O(docs^2). Only candidate pairs (tiny) compute exact
  Jaccard.
* SimHash: 64-bit signature per doc; near-dup = small Hamming distance.
* All tokenization is regex/split built-ins — no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from evolution_spark.queries.base import query, table
from evolution_spark.functions.text import (
    LANG_STOPWORDS,
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    hash32 as _base_hash,
    lang_id,
    norm_text as _norm_text,
    quality_score as _quality_score,
    token_count_bpe_ish,
    token_count_ws,
    word_shingles,
)


_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


@query(
    "text_stats",
    oracle="""
    SELECT doc_id, lang,
           length(text) AS n_chars_actual,
           len(string_split(trim(text), ' ')) AS n_words,
           len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
           length(text) * 1.0 / len(string_split(trim(text), ' ')) AS chars_per_word
    FROM documents
    """,
)
def text_stats(spark, sf_dir):
    """Per-document statistics: char/word/punct counts — one narrow
    projection over the scan."""
    d = table(spark, sf_dir, "documents")
    n_words = token_count_ws(F.col("text"))
    return d.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars_actual"),
        n_words.alias("n_words"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.,;:!?]"), 0)).alias("n_punct"),
        (F.length("text") * 1.0 / n_words).alias("chars_per_word"),
    )


@query(
    "token_count",
    oracle="""
    SELECT doc_id,
           len(string_split(trim(text), ' ')) AS ws_tokens,
           len(regexp_extract_all(lower(text),
               '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe_ish_tokens
    FROM documents
    """,
)
def token_count(spark, sf_dir):
    """Token counting: whitespace tokens + a BPE-ish regex segmentation
    (letter runs / digit runs / single symbols)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count_ws(F.col("text")).alias("ws_tokens"),
        token_count_bpe_ish(F.col("text")).alias("bpe_ish_tokens"),
    )


def _stopword_count_sql(lang: str) -> str:
    pattern = r"\b(" + "|".join(LANG_STOPWORDS[lang]) + r")\b"
    return f"len(regexp_extract_all(lower(text), '{pattern}'))"


@query(
    "lang_id_heuristic",
    oracle=f"""
    SELECT doc_id, lang AS lang_true,
           CASE
             WHEN len(regexp_extract_all(text, '[\\x{{4e00}}-\\x{{9fff}}]')) > 0 THEN 'zh'
             WHEN {_stopword_count_sql('en')} >= {_stopword_count_sql('de')}
              AND {_stopword_count_sql('en')} >= {_stopword_count_sql('es')}
              AND {_stopword_count_sql('en')} >= {_stopword_count_sql('fr')} THEN 'en'
             WHEN {_stopword_count_sql('de')} >= {_stopword_count_sql('es')}
              AND {_stopword_count_sql('de')} >= {_stopword_count_sql('fr')} THEN 'de'
             WHEN {_stopword_count_sql('es')} >= {_stopword_count_sql('fr')} THEN 'es'
             ELSE 'fr'
           END AS lang_pred
    FROM documents
    """,
)
def lang_id_heuristic(spark, sf_dir):
    """Language ID: CJK codepoint presence -> zh, else argmax of per-language
    stopword hits (deterministic tie-break by the fixed en>de>es>fr order so
    both engines agree)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.col("lang").alias("lang_true"), lang_id(F.col("text")).alias("lang_pred")
    )


@query(
    "quality_score",
    oracle="""
    SELECT doc_id,
           0.4 * least(length(text) / 500.0, 1.0)
           + 0.3 * (1.0 - least(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s\\x{4e00}-\\x{9fff}]')) * 1.0
                                / greatest(length(text), 1), 1.0))
           + 0.3 * least(len(list_distinct(string_split(lower(trim(text)), ' '))) * 1.0
                         / greatest(len(string_split(trim(text), ' ')), 1), 1.0)
           AS quality
    FROM documents
    """,
)
def quality_score(spark, sf_dir):
    """Heuristic quality score in [0,1]: length saturation + low symbol noise
    + lexical diversity (type/token ratio)."""
    d = table(spark, sf_dir, "documents")
    # NO rounding: identical scalar expression trees yield bit-identical
    # doubles in both engines, while ROUND diverges when a value lands on
    # the half-grid (integer ratios do, frequently)
    return d.select("doc_id", _quality_score(F.col("text")).alias("quality"))


@query(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id, md5({_NORM_SQL}) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark, sf_dir):
    """128-bit content fingerprint of normalized text (lowercase, collapsed
    whitespace) — the dedup key. Shuffles the 32-hex fingerprint, never the
    document body."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", F.md5(_norm_text(F.col("text"))).alias("fingerprint"))


@query(
    "dedup_exact",
    oracle=f"""
    SELECT md5({_NORM_SQL}) AS fingerprint,
           MIN(doc_id) AS canonical_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on the fingerprint; min doc_id is the
    canonical survivor. At 100 TB this shuffles 32 bytes + 8 bytes per doc."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(_norm_text(F.col("text"))).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@query(
    "dedup_keep_best",
    oracle=f"""
    SELECT doc_id, lang, n_chars FROM (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY md5({_NORM_SQL})
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents) WHERE rn = 1
    """,
)
def dedup_keep_best(spark, sf_dir):
    """Quality-aware exact dedup (operators/dedup.dedup_keep_best): among
    rows with identical normalized text, keep the highest-n_chars capture
    (min doc_id on ties) instead of the arbitrary min-id one — the curation
    policy for multiply-crawled pages. Same movement contract as
    dedup_exact: one (fingerprint, id, score) shuffle with map-side max_by
    combine, then an id semi-join; text never crosses the wire."""
    from evolution_spark.operators.dedup import dedup_keep_best as keep_best

    d = table(spark, sf_dir, "documents")
    return keep_best(d, "text", "doc_id", "n_chars").select(
        "doc_id", "lang", "n_chars"
    )


INCR_BATCH_START = 400  # doc_id >= this = "the new batch"


@query(
    "dedup_incremental_batch",
    oracle=f"""
    WITH corpus AS (
      SELECT DISTINCT md5({_NORM_SQL}) AS fp FROM documents
      WHERE doc_id < {INCR_BATCH_START}
    ), batch AS (
      SELECT doc_id, md5({_NORM_SQL}) AS fp, lang FROM documents
      WHERE doc_id >= {INCR_BATCH_START}
    )
    SELECT b.lang,
           COUNT(*) AS n_batch,
           CAST(SUM(CASE WHEN c.fp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
           MIN(CASE WHEN c.fp IS NULL THEN b.doc_id END) AS first_new_doc
    FROM batch b LEFT JOIN corpus c ON b.fp = c.fp
    GROUP BY b.lang
    """,
)
def dedup_incremental_batch(spark, sf_dir):
    """Incremental dedup: screen a NEW batch of documents against the
    fingerprints of the existing corpus (left-anti semantics; here counted
    per lang with the first surviving id). This is how dedup actually runs
    in production — the corpus fingerprint table persists, each day's
    batch joins against it, and only survivors append; the full-corpus
    passes (dedup_exact etc.) are the bootstrap. 100 TB cost: the batch
    shuffles its 16-byte fingerprints against the fingerprint table's —
    document text appears in neither side of the join."""
    d = table(spark, sf_dir, "documents")
    fp = F.md5(_norm_text(F.col("text")))
    corpus = (
        d.where(F.col("doc_id") < INCR_BATCH_START)
        .select(fp.alias("fp"))
        .distinct()
        .withColumn("__seen", F.lit(1))
    )
    batch = d.where(F.col("doc_id") >= INCR_BATCH_START).select(
        "doc_id", fp.alias("fp"), "lang"
    )
    joined = batch.join(corpus, "fp", "left")
    is_new = F.col("__seen").isNull()
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.sum(is_new.cast("int")).cast("bigint").alias("n_new"),
        F.min(F.when(is_new, F.col("doc_id"))).alias("first_new_doc"),
    )


@query(
    "dedup_repeated_chunks",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    c AS (SELECT doc_id, CAST(t.i AS INT) AS chunk_idx,
                 array_to_string(words[t.i*10+1 : t.i*10+10], ' ') AS chunk
          FROM w CROSS JOIN UNNEST(range(CAST(ceil(len(words)/10.0) AS BIGINT))) AS t(i)),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY chunk
                                       ORDER BY doc_id, chunk_idx) AS rn FROM c)
    SELECT doc_id, string_agg(chunk, ' ' ORDER BY chunk_idx) AS dedup_text
    FROM r WHERE rn = 1 GROUP BY doc_id
    """,
)
def dedup_repeated_chunks(spark, sf_dir):
    """Repeated-span removal (10-word chunks, first occurrence wins): the
    boilerplate-stripping curation pass. Winner election aggregates narrow
    hash rows with map-side combine (hot spans collapse before the
    shuffle); see operators/dedup.dedup_repeated_chunks for the scale
    contract."""
    from evolution_spark.operators.dedup import dedup_repeated_chunks as op

    d = table(spark, sf_dir, "documents")
    return op(d, "text", "doc_id", chunk_words=10)


# ---------------------------------------------------------------------------
# MinHash-LSH near-duplicate detection
# ---------------------------------------------------------------------------

N_HASHES = 16
BAND_ROWS = 4  # 4 bands x 4 rows
SHINGLE_K = 3
JACCARD_THRESHOLD = 0.5


def _shingles(col) -> Column:
    """Distinct word 3-gram shingles (shared impl: functions.text)."""
    return word_shingles(col, SHINGLE_K)


_SHINGLES_SQL = f"""
list_distinct(list_transform(
    range(greatest(len(string_split({_NORM_SQL}, ' ')) - {SHINGLE_K - 1}, 1)),
    i -> array_to_string((string_split({_NORM_SQL}, ' '))[i+1:i+{SHINGLE_K}], ' ')))
""".strip()


# Universal-hash MinHash over the shared seeded constants
# (functions.text.MINHASH_A/B — same values the operator library uses, so
# the oracle SQL below and operators/dedup.py agree by construction).
_MINHASH_P = MINHASH_P
_MINHASH_A = MINHASH_A[:N_HASHES]
_MINHASH_B = MINHASH_B[:N_HASHES]


_BASEHASH_SQL = (
    "list_transform(shingles, s -> ('0x'||substr(md5(s),1,8))::BIGINT)"
)
_MINHASH_SQL = (
    "["
    + ", ".join(
        f"list_min(list_transform(hs, h -> (h * {_MINHASH_A[i]} + {_MINHASH_B[i]}) % {_MINHASH_P}))"
        for i in range(N_HASHES)
    )
    + "]"
)


@query(
    "dedup_minhash_signature",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents),
         hh AS (SELECT doc_id, {_BASEHASH_SQL} AS hs FROM sh)
    SELECT doc_id, ({_MINHASH_SQL})[1] AS sig0, ({_MINHASH_SQL})[{N_HASHES}] AS sig{N_HASHES - 1}
    FROM hh
    """,
)
def dedup_minhash_signature(spark, sf_dir):
    """First/last MinHash signature components per doc (signature
    correctness probe for the LSH pipeline)."""
    from evolution_spark.operators.dedup import _signatures

    d = table(spark, sf_dir, "documents")
    sig_df = _signatures(d, "doc_id", "text", N_HASHES, SHINGLE_K)
    return sig_df.select(
        "doc_id",
        F.col("s0").alias("sig0"),
        F.col(f"s{N_HASHES - 1}").alias(f"sig{N_HASHES - 1}"),
    )


def minhash_lsh_pairs(spark, sf_dir) -> DataFrame:
    """Candidate pairs via LSH banding + exact Jaccard verification
    (``operators.dedup.minhash_lsh_candidates``): the band self-join
    carries only ids and band hashes, and shingles are re-derived from the
    raw text for the deduplicated candidate pairs alone."""
    from evolution_spark.operators.dedup import minhash_lsh_candidates

    # The signature projection is compute-dense (shingles x N_HASHES md5s per
    # doc); spread it across all cores — the driver testdata is one row group,
    # which would otherwise pin the whole stage to one task. At cluster scale
    # the scan has many splits and this repartition coalesces skew instead.
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    pairs = minhash_lsh_candidates(
        d, "doc_id", "text", N_HASHES, BAND_ROWS, SHINGLE_K, JACCARD_THRESHOLD
    )
    return pairs.select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "jaccard")


_BANDS_SQL = ", ".join(
    "md5(" + "||'-'||".join(f"CAST(sig[{b * BAND_ROWS + r + 1}] AS VARCHAR)" for r in range(BAND_ROWS)) + ")"
    for b in range(N_HASHES // BAND_ROWS)
)


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH sh0 AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents),
         sh AS (
      SELECT doc_id, shingles, {_MINHASH_SQL} AS sig
      FROM (SELECT doc_id, shingles, {_BASEHASH_SQL} AS hs FROM sh0)
    ), bands AS (
      SELECT doc_id, shingles, band_idx, band_hash
      FROM sh, (SELECT unnest(range({N_HASHES // BAND_ROWS})) AS band_idx),
      LATERAL (SELECT ([{_BANDS_SQL}])[band_idx + 1] AS band_hash)
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.shingles AS sh_a, b.shingles AS sh_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           len(list_intersect(sh_a, sh_b)) * 1.0 /
           (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) AS jaccard
    FROM pairs
    WHERE len(list_intersect(sh_a, sh_b)) * 1.0 /
          (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup pairs (see ``minhash_lsh_pairs``)."""
    return minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b", "jaccard")


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, source,
             list_transform({_SHINGLES_SQL},
                            g -> ('0x'||substr(md5(g),1,15))::BIGINT) AS hs
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(a.hs, b.hs)) * 1.0 /
           (len(a.hs) + len(b.hs)
            - len(list_intersect(a.hs, b.hs))) AS jaccard
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.hs, b.hs)) * 1.0 /
          (len(a.hs) + len(b.hs)
           - len(list_intersect(a.hs, b.hs))) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Blocked n-gram Jaccard: candidate pairs restricted to the same
    ``source`` block (the classic blocking-key pattern — at 100 TB the block
    key bounds the quadratic term; MinHash-LSH above removes even that).

    Implementation: the TOKEN-JOIN set-similarity formulation, not
    pairwise array intersection. Each (doc, gram-hash) explodes once; an
    equi-join on (block, gram) + a pair-count aggregation yields
    |A∩B| directly, so work scales with the grams' block co-frequency
    (sum of c·(c−1)/2 per gram — 63k rows here) instead of
    all-pairs × set-size (620k pairs × ~54-element intersections, which
    this replaced: 22 s → sub-second at sf0.1). Pairs sharing no gram have
    Jaccard 0 and are correctly absent. Sizes join back from a tiny
    broadcast side. Hot grams under a skewed corpus → salt the gram key
    (operators/skew.py) or pre-drop stop-grams above a co-frequency cap.
    The oracle computes the same Jaccard from hashed arrays; 60-bit gram
    hashes make collisions nil (~100 values in 2^60 per pair)."""
    from evolution_spark.functions.text import hash60

    # explicit-count pre-shingle spread (same rationale as minhash/winnow,
    # r15): the shingle split + per-gram md5 is compute-dense and explode-
    # multiplied; hanging it off the scan pins it to the input's split
    # count (one task on a single-row-group table), and a countless keyed
    # repartition would be AQE-coalesced on the tiny text bytes. Measured
    # r15 at sf0.1: 3.18 s -> 1.38 s, identical rows.
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    sh = d.select("doc_id", "source", _shingles(F.col("text")).alias("__sh"))
    g = sh.select(
        "doc_id", "source", F.explode("__sh").alias("__g")
    ).select("doc_id", "source", hash60(F.col("__g")).alias("__gh"))
    a = g.select(F.col("doc_id").alias("doc_a"), "source", "__gh")
    b = g.select(F.col("doc_id").alias("doc_b"), "source", "__gh")
    inter = (
        a.join(b, ["source", "__gh"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    # sizes join: id-keyed, AQE broadcasts it when small; no forced hint so
    # the plan stays valid when the corpus side is 100 TB
    sizes = sh.select("doc_id", F.size("__sh").alias("__n"))
    joined = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"),
                                F.col("__n").alias("__na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"),
                           F.col("__n").alias("__nb")), "doc_b")
    )
    jac = F.col("__i") * 1.0 / (F.col("__na") + F.col("__nb") - F.col("__i"))
    return joined.select("doc_a", "doc_b", jac.alias("jaccard")).where(
        F.col("jaccard") >= 0.2
    )


@query(
    "dedup_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, list_distinct(string_split({_NORM_SQL}, ' ')) AS words
      FROM documents
    ), hashes AS (
      SELECT doc_id,
             list_transform(words, w -> ('0x'||substr(md5(w),1,15))::BIGINT) AS hs
      FROM tok
    )
    SELECT doc_id,
           len(list_filter(hs, h -> (h & 1) != 0)) * 1.0 / len(hs) AS bit0_ratio,
           len(list_filter(hs, h -> (h & 2) != 0)) * 1.0 / len(hs) AS bit1_ratio
    FROM hashes
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash bit statistics (probe of the 64-bit token-hash machinery; the
    full signature assembly lives in operators/dedup.py). Uses the first 16
    md5 hex digits as a 64-bit token hash."""
    d = table(spark, sf_dir, "documents")
    words = F.array_distinct(F.split(_norm_text(F.col("text")), " "))
    hs = F.transform(
        words, lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("bigint")
    )
    return d.select(
        "doc_id",
        (F.size(F.filter(hs, lambda h: h.bitwiseAND(1) != 0)) * 1.0 / F.size(hs)).alias("bit0_ratio"),
        (F.size(F.filter(hs, lambda h: h.bitwiseAND(2) != 0)) * 1.0 / F.size(hs)).alias("bit1_ratio"),
    )


@query(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, source, {_SHINGLES_SQL} AS shingles FROM documents
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0 /
            (len(a.shingles) + len(b.shingles)
             - len(list_intersect(a.shingles, b.shingles))) >= 0.2
    ), sym AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), reach(id, comp) AS (
      SELECT a, a FROM sym
      UNION
      SELECT s.a, r.comp FROM sym s JOIN reach r ON s.b = r.id
    )
    SELECT id AS doc_id, MIN(comp) AS component,
           (id = MIN(comp)) AS is_keeper
    FROM reach GROUP BY id
    """,
)
def dedup_cluster_components(spark, sf_dir):
    """Transitive closure of the n-gram-Jaccard near-dup pairs: connected
    components via distributed label propagation (operators/graph.py), the
    keeper per cluster being the min doc_id. The step that turns pairwise
    similarity output into actually-deletable duplicate sets — A~B and B~C
    collapse to one keeper even though A~C was never emitted.

    Oracle: DuckDB recursive CTE enumerating reachable vertices (exact
    closure, feasible at oracle scale); the Spark side converges in
    O(diameter) rounds shuffling only (id, label) pairs."""
    from evolution_spark.operators.graph import dedup_clusters

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return dedup_clusters(pairs)


@query(
    "topk_frequent_words",
    oracle=f"""
    WITH tok AS (
      SELECT lang, unnest(string_split({_NORM_SQL}, ' ')) AS word FROM documents
    ), counts AS (
      SELECT lang, word, COUNT(*) AS n FROM tok GROUP BY lang, word
    ), ranked AS (
      SELECT lang, word, n,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, word) AS rk
      FROM counts
    )
    SELECT lang, word, n, rk FROM ranked WHERE rk <= 5
    """,
)
def topk_frequent_words(spark, sf_dir):
    """Top-5 corpus vocabulary per language (frequency-ranked, word as the
    deterministic tiebreak). Explode -> two-level hash-agg (map-side combine
    collapses each partition's token stream to its distinct words before
    the shuffle) -> per-lang top-k window over the tiny counts table. The
    shuffled rows are (lang, word, partial count) — corpus text never
    moves."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(F.split(_norm_text(F.col("text")), " ")).alias("word"))
    counts = tok.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("word").asc())
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("lang", "word", "n", "rk")
    )


# The pinned BPE setup that makes bpe_token_stats hash-checkable: merges
# are trained on this PLANTED vocabulary (corpus-like words, fixed counts)
# and must come out exactly as _BPE_PINNED_MERGES — the query asserts the
# equality, so the trainer stays live-checked — while the scale-side
# APPLICATION runs over the real documents corpus and is verified by a
# DuckDB oracle that simulates the same priority-merge loop with a
# recursive CTE (merge the first lowest-rank adjacent pair, repeat).
_BPE_PLANT = [("table", 50), ("data", 40), ("value", 30), ("scan", 20),
              ("batch", 15), ("the", 60), ("a", 45), ("join", 25),
              ("hash", 18)]
_BPE_PINNED_MERGES = [
    ("e", "</w>"), ("t", "a"), ("t", "h"), ("th", "e</w>"), ("ta", "b"),
    ("tab", "l"), ("tabl", "e</w>"), ("n", "</w>"), ("a", "</w>"),
    ("ta", "</w>"), ("d", "a"), ("da", "ta</w>"),
]
# rank list as chr(1)-joined pair keys; list_position gives 1-based rank,
# nullif(...,0) turns DuckDB's 0-for-missing into NULL so non-merge pairs
# never win list_min
_BPE_KEYS_SQL = ", ".join(
    f"'{a}'||chr(1)||'{b}'" for a, b in _BPE_PINNED_MERGES
)
_BPE_RKS_SQL = (
    "list_transform(range(1, len(sym)), i -> nullif(list_position(["
    + _BPE_KEYS_SQL + "], sym[i]||chr(1)||sym[i+1]), 0))"
)


@query(
    "bpe_token_stats",
    oracle=f"""
    WITH RECURSIVE
    w AS (
      SELECT lang, word, COUNT(*) AS occ
      FROM (SELECT lang, unnest(string_split_regex(lower(text), '\\s+'))
              AS word FROM documents)
      WHERE word <> '' GROUP BY lang, word
    ),
    dw AS (SELECT DISTINCT word FROM w),
    tok AS (
      SELECT word, list_append(string_split(word, ''), '</w>') AS sym FROM dw
      UNION ALL
      SELECT word, sym[1:bi-1] || [sym[bi]||sym[bi+1]] || sym[bi+2:] AS sym
      FROM (
        SELECT word, sym, list_position(rks, list_min(rks)) AS bi
        FROM (SELECT word, sym, {_BPE_RKS_SQL} AS rks FROM tok)
      ) WHERE bi IS NOT NULL AND bi > 0
    ),
    fin AS (
      SELECT word, len(sym) AS n_toks
      FROM (SELECT word, sym, {_BPE_RKS_SQL} AS rks FROM tok)
      WHERE list_min(rks) IS NULL
    ),
    tt AS (
      SELECT w.lang, CAST(SUM(w.occ * f.n_toks) AS BIGINT) AS total_tokens
      FROM w JOIN fin f USING (word) GROUP BY w.lang
    ),
    d AS (
      SELECT lang, COUNT(*) AS n_docs, SUM(n_chars) AS chars
      FROM documents GROUP BY lang
    )
    SELECT d.lang, d.n_docs, tt.total_tokens,
           d.chars * 1.0 / tt.total_tokens AS chars_per_token
    FROM d JOIN tt USING (lang)
    """,
)
def bpe_token_stats(spark, sf_dir):
    """Byte-pair tokenization end to end, hash-checked (rows-only until
    round 6): merges train on a PLANTED vocabulary and the query asserts
    they equal the pinned expectation — a drifted trainer fails loudly —
    then the Arrow-batched pandas-UDF APPLICATION (the part proportional
    to corpus size, memoized per distinct word) runs over the real
    documents corpus. The oracle re-derives every word's token count in
    DuckDB with a recursive CTE simulating the identical priority loop
    (merge the FIRST occurrence of the LOWEST-rank adjacent pair, repeat
    until none applies), so one mis-merged word anywhere in the corpus
    fails the hash. chars_per_token is one IEEE division of exact integer
    sums — bit-identical cross-engine."""
    from evolution_spark.functions.bpe import bpe_tokenize, train_bpe_merges

    plant = spark.createDataFrame(
        [((w + " ") * n,) for w, n in _BPE_PLANT], "text string"
    )
    merges = train_bpe_merges(plant, "text", n_merges=12)
    if merges != _BPE_PINNED_MERGES:
        raise AssertionError(
            f"BPE trainer drifted from the pinned merge table: {merges}"
        )
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", "n_chars", F.size(bpe_tokenize(d, "text", merges)).alias("n_tokens")
    )
    return toks.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        (F.sum("n_chars") * 1.0 / F.sum("n_tokens")).alias("chars_per_token"),
    )


@query(
    "bigram_pmi_collocations",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM documents
    ), tok AS (
      SELECT unnest(ws) AS word FROM w
    ), uni AS (
      SELECT word, COUNT(*) AS n FROM tok GROUP BY word
    ), tot AS (SELECT COUNT(*) AS n_tok FROM tok),
    bi AS (
      SELECT ws[t.i+1] AS w1, ws[t.i+2] AS w2, COUNT(*) AS n_pair
      FROM w CROSS JOIN UNNEST(range(len(ws)-1)) AS t(i)
      GROUP BY 1, 2
    )
    SELECT b.w1, b.w2, b.n_pair, u1.n AS n1, u2.n AS n2,
           b.n_pair * tot.n_tok * 1.0 / (u1.n * u2.n) AS lift
    FROM bi b
    JOIN uni u1 ON b.w1 = u1.word
    JOIN uni u2 ON b.w2 = u2.word
    CROSS JOIN tot
    WHERE b.n_pair >= 5
    ORDER BY lift DESC, b.w1, b.w2 LIMIT 20
    """,
)
def bigram_pmi_collocations(spark, sf_dir):
    """Collocation mining: top-20 adjacent word pairs by PMI lift
    (pair-frequency over independence). Ranking uses the raw lift ratio —
    one IEEE division of exact integer counts, bit-identical cross-engine
    — instead of ``log`` (PMI's log is monotone in the ratio, and JVM vs
    libm ``log`` can differ in the last ulp).

    Scale: ONE exploded pass — each token emits ``(w1=token, w2=next
    token, NULL at doc end)`` — feeds a single (w1, w2) hash-agg with
    map-side combine; unigram counts (``sum`` over w2) and the corpus
    token total re-aggregate that vocabulary-sized pair table, so Spark's
    ReuseExchange collapses everything onto one scan + one corpus-sized
    shuffle, and the total rides in-plan as a broadcast single row instead
    of a separate ``count()`` job that would re-scan 100 TB."""
    d = table(spark, sf_dir, "documents")
    ws = F.split(_norm_text(F.col("text")), " ")
    w = d.select(ws.alias("ws"))
    tp = w.select(F.col("ws"), F.posexplode("ws").alias("i", "w1")).select(
        "w1", F.get("ws", F.col("i") + 1).alias("w2")
    )
    # Three tricks keep ALL consumers on one reused exchange (verified: the
    # final plan has exactly one documents scan and 3 ReusedExchange nodes):
    # 1. __has2 (constant per group: w2 is a key) carries the doc-end filter
    #    as an AGG OUTPUT — written as `w2 IS NOT NULL` Catalyst would push
    #    it below the agg and fork the bi branch's exchange;
    # 2. uni/tot re-aggregate through a `__has2 IS NOT NULL` tautology
    #    (first() is nullable to Catalyst, so it can't fold it away) so
    #    column pruning can't produce a __has2-free partial agg;
    # 3. the u1/u2 joins use null-safe equality — plain `=` would infer
    #    IsNotNull(w1)/IsNotNull(w2) and push them below the shared agg.
    bi_all = tp.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.col("w2").isNotNull()).alias("__has2"),
    )
    shared = bi_all.where(F.col("__has2").isNotNull())
    uni = shared.groupBy("w1").agg(F.sum("n").cast("bigint").alias("n_u"))
    tot = shared.agg(F.sum("n").cast("bigint").alias("n_tok"))
    bi = bi_all.where(F.col("__has2") & (F.col("n") >= 5)).select(
        "w1", "w2", F.col("n").alias("n_pair")
    )
    u1 = uni.select(F.col("w1").alias("w1k"), F.col("n_u").alias("n1"))
    u2 = uni.select(F.col("w1").alias("w2k"), F.col("n_u").alias("n2"))
    lift = F.col("n_pair") * F.col("n_tok") * 1.0 / (F.col("n1") * F.col("n2"))
    return (
        bi.join(F.broadcast(u1), F.col("w1").eqNullSafe(F.col("w1k")))
        .join(F.broadcast(u2), F.col("w2").eqNullSafe(F.col("w2k")))
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "n_pair", "n1", "n2", lift.alias("lift"))
        .orderBy(F.desc("lift"), "w1", "w2")
        .limit(20)
    )


@query(
    "ngram_lm_perplexity",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM documents
    ), tokp AS (
      SELECT doc_id, ws[t.i+1] AS w1, ws[t.i+2] AS w2
      FROM w CROSS JOIN UNNEST(range(len(ws)-1)) AS t(i)
    ), tok AS (
      SELECT unnest(ws) AS word FROM w
    ), uni AS (
      SELECT word, COUNT(*) AS n1 FROM tok GROUP BY word
    ), vs AS (
      SELECT COUNT(DISTINCT word) AS v FROM tok
    ), bi AS (
      SELECT w1, w2, COUNT(*) AS n12 FROM tokp GROUP BY w1, w2
    )
    SELECT t.doc_id, COUNT(*) AS n_pairs,
           ROUND(exp(-SUM(ln((b.n12 + 1) * 1.0 / (u.n1 + vs.v))) / COUNT(*)), 3)
             AS ppl
    FROM tokp t
    JOIN bi b ON t.w1 = b.w1 AND t.w2 = b.w2
    JOIN uni u ON t.w1 = u.word
    CROSS JOIN vs
    GROUP BY t.doc_id
    """,
)
def ngram_lm_perplexity(spark, sf_dir):
    """CCNet-style statistical quality filter: a bigram language model with
    add-one smoothing, trained on the corpus itself, scores every document
    by pseudo-perplexity ``exp(-avg ln p(w2|w1))`` — boilerplate scores
    low, lexical garbage scores high, and the filter needs no external
    model. Per-doc ppl is ROUNDed to 3 decimals (sub-ulp libm ``ln``
    divergence between engines vanishes at that precision; no ranking, so
    no tie-flip risk — the hash covers every document's score).

    Scale: the model is never collected — bigram and unigram count tables
    live distributed and join the (doc_id, w1, w2) pair stream on their
    token keys (co-partitioned hash joins with map-side combine on the
    counts); the vocab size rides in-plan as one broadcast row
    (``crossJoin(broadcast(v))`` — no separate count job, same one-scan
    discipline as bigram_pmi_collocations). At 100 TB an optional
    frequency floor would shrink the model below the broadcast threshold,
    but the join form is the general, unbounded path."""
    d = table(spark, sf_dir, "documents")
    ws = F.split(_norm_text(F.col("text")), " ")
    w = d.select("doc_id", ws.alias("ws"))
    tokp = w.select(
        "doc_id", F.col("ws"), F.posexplode("ws").alias("i", "w1")
    ).select("doc_id", "w1", F.get("ws", F.col("i") + 1).alias("w2")).where(
        F.col("w2").isNotNull()
    )
    tok = w.select(F.explode("ws").alias("word"))
    uni = tok.groupBy("word").agg(F.count(F.lit(1)).alias("n1"))
    vs = tok.agg(F.countDistinct("word").alias("v"))
    bi = tokp.groupBy(
        F.col("w1").alias("b1"), F.col("w2").alias("b2")
    ).agg(F.count(F.lit(1)).alias("n12"))
    logp = F.log((F.col("n12") + 1) * 1.0 / (F.col("n1") + F.col("v")))
    return (
        tokp.join(bi, (F.col("w1") == F.col("b1")) & (F.col("w2") == F.col("b2")))
        .join(uni, F.col("w1") == F.col("word"))
        .crossJoin(F.broadcast(vs))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.exp(-F.sum(logp) / F.count(F.lit(1))), 3).alias("ppl"),
        )
    )


@query(
    "winnow_fingerprints",
    oracle="""
    WITH pos AS (
      SELECT doc_id, UNNEST(range(1, length(text) - 2)) AS i, text
      FROM documents WHERE length(text) >= 4
    ),
    grams AS (
      SELECT doc_id, i,
             ('0x' || substr(md5(substr(text, CAST(i AS INT), 4)), 1, 8))::BIGINT AS h
      FROM pos
    ),
    sel AS (
      SELECT doc_id,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp,
             i
      FROM grams
    )
    SELECT doc_id,
           COUNT(DISTINCT fp) AS n_fingerprints,
           MIN(fp) AS min_fp, MAX(fp) AS max_fp
    FROM sel WHERE i >= 4
    GROUP BY doc_id
    """,
)
def winnow_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS scheme): hash every character 4-gram (rolling-hash position
    stream), slide a window of 4 hashes, and keep each window's MINIMUM —
    the guarantee is that any match of length >= w+k-1 between two
    documents shares at least one selected fingerprint, which is what
    makes the selected set a plagiarism/overlap detector at a fraction of
    the full hash stream. Reported per doc: distinct-fingerprint count and
    min/max (an engine-neutral digest of the selected set).

    Scale: the ONE exchange runs on the raw text, not the gram stream —
    repartitioning by doc_id BEFORE the explode satisfies the window's
    hash-partitioning requirement, so the O(chars) gram rows (~20x the
    text bytes once (doc_id, i, hash) tuples replace characters) never
    shuffle, and the explode's parallelism no longer depends on input
    file splits (a single-file table would otherwise run the whole gram
    generation in one task). The partition count is EXPLICIT
    (defaultParallelism, the same spread minhash uses): a keyed
    repartition without a count lets AQE coalesce the ~MB-sized text
    exchange to one partition — sized on the exchange's bytes, blind to
    the ~20x gram explode and per-gram md5 behind it — serializing the
    whole compute stage (measured r15: 3.88 s -> 0.70 s at sf0.1 with
    the count pinned; identical rows). The hash is the md5-prefix
    integer primitive shared with MinHash, bit-identical in DuckDB.
    Window starts are clamped to full windows (i >= w) so both engines
    select over identical frames."""
    d = (
        table(spark, sf_dir, "documents")
        .where(F.length("text") >= 4)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    grams = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("text") - 3)).alias("i"),
        F.col("text"),
    ).select(
        "doc_id",
        "i",
        F.conv(F.substring(F.md5(F.substring("text", F.col("i"), 4)), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(-3, Window.currentRow)
    )
    sel = grams.select(
        "doc_id", "i", F.min("h").over(w).alias("fp")
    ).where(F.col("i") >= 4)
    return sel.groupBy("doc_id").agg(
        F.count_distinct("fp").alias("n_fingerprints"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
    )


@query(
    "feature_hash_vectorize",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split({_NORM_SQL}, ' ')) AS tok
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           CAST(('0x'||substr(md5(tok),1,8))::BIGINT % 16 AS INT) AS dim,
           COUNT(*) AS n
    FROM toks WHERE tok <> ''
    GROUP BY doc_id, dim ORDER BY doc_id, dim
    """,
)
def feature_hash_vectorize(spark, sf_dir):
    """Feature hashing (the 'hashing trick'): tokens bucket into a fixed
    16-dim count vector via the shared md5-prefix hash — the embedding-free
    vectorizer behind cheap similarity/classification when no model is
    available. Long format (doc_id, dim, n) so the oracle is a plain
    GROUP BY; the dense array is one ``map_from/transform`` away.

    Scale: explode -> two-level hash aggregate with map-side combine; the
    shuffle carries (doc_id, dim, partial n) — 16 rows per doc max, never
    tokens. Dimensionality is a constant, so output size is O(docs), and
    the hash is engine-portable (bit-identical in DuckDB)."""
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    toks = d.select(
        "doc_id",
        F.explode(F.split(_norm_text(F.col("text")), " ")).alias("tok"),
    ).where(F.col("tok") != "")
    return (
        toks.groupBy(
            "doc_id", (_base_hash(F.col("tok")) % 16).cast("int").alias("dim")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("doc_id", "dim")
    )
