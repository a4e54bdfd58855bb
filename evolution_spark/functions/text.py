"""Reusable text expression library (pure Column functions, JVM-side).

Shared by the query surface (``evolution_spark.queries.text``) and the
operator library (``evolution_spark.operators``). Everything here is a
deterministic Spark built-in composition — no UDFs — and each primitive has a
documented DuckDB-SQL equivalent so operators built from them stay
oracle-checkable.
"""

from __future__ import annotations

import random as _random

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Normalization / tokenization
# ---------------------------------------------------------------------------


def norm_text(col) -> Column:
    """Lowercase + collapse whitespace (fingerprint normalization).
    DuckDB: trim(regexp_replace(lower(x), '\\s+', ' ', 'g'))"""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def words(col) -> Column:
    """Whitespace tokens of normalized text."""
    return F.split(norm_text(col), " ")


def word_shingles(col, k: int = 3) -> Column:
    """Distinct word k-gram shingles.
    DuckDB: list_distinct(list_transform(range(greatest(len(w)-k+1, 1)),
    i -> array_to_string(w[i+1:i+k], ' ')))

    Implementation: a single regex pass with a k-word lookahead capture
    (``(?=(\\S+ ... \\S+))\\S+ ?``) — one JVM regexp_extract_all call per
    row. This replaces the transform/slice/concat higher-order formulation,
    which Spark evaluates interpreted per element (~9x slower at sf0.1);
    output is element-identical, including the single short gram emitted
    when the document has fewer than k words."""
    t = norm_text(col)
    w = F.split(t, " ")
    if k < 2:
        return F.array_distinct(w)
    pattern = "(?=(" + r"\S+ " * (k - 1) + r"\S+))\S+ ?"
    return F.when(
        F.size(w) >= k,
        F.array_distinct(F.regexp_extract_all(t, F.lit(pattern), 1)),
    ).otherwise(F.array(F.concat_ws(" ", w)))


# ---------------------------------------------------------------------------
# Hashing (cross-engine portable: md5-hex prefix as integer)
# ---------------------------------------------------------------------------


def hash32(col) -> Column:
    """32-bit hash: first 8 md5 hex digits as a BIGINT.
    DuckDB: ('0x'||substr(md5(x),1,8))::BIGINT"""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def hash60(col) -> Column:
    """60-bit hash (15 hex digits — fits int64 in every engine).
    DuckDB: ('0x'||substr(md5(x),1,15))::BIGINT"""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def fingerprint128(col) -> Column:
    """128-bit content fingerprint (md5 hex of normalized text)."""
    return F.md5(norm_text(col))


# ---------------------------------------------------------------------------
# MinHash (universal hashing over a 32-bit base hash)
# ---------------------------------------------------------------------------

MINHASH_P = 4294967311  # prime > 2^32

_rng = _random.Random(1337)
MINHASH_A = [_rng.randrange(1, 1 << 20) for _ in range(64)]
MINHASH_B = [_rng.randrange(0, 1 << 20) for _ in range(64)]


def minhash_mix(h: Column, i: int) -> Column:
    """i-th universal hash of a base hash value: (a_i*h + b_i) mod P.
    a_i < 2^20 keeps products < 2^52 (exact in int64 everywhere)."""
    return (h * MINHASH_A[i] + MINHASH_B[i]) % MINHASH_P


# ---------------------------------------------------------------------------
# Statistics / heuristics
# ---------------------------------------------------------------------------

LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "del", "las", "por"),
    "fr": ("le", "la", "de", "et", "les", "des", "est", "une", "dans", "que"),
}

CJK_RANGE = r"[\x{4e00}-\x{9fff}]"


def stopword_count(col, lang: str) -> Column:
    pattern = r"\b(" + "|".join(LANG_STOPWORDS[lang]) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(pattern), 0))


def lang_id(col) -> Column:
    """Heuristic language ID: CJK presence -> zh, else stopword argmax with
    fixed en>de>es>fr tie-break order."""
    en, de, es, fr = (stopword_count(col, x) for x in ("en", "de", "es", "fr"))
    has_cjk = F.size(F.regexp_extract_all(col, F.lit(CJK_RANGE), 0)) > 0
    return (
        F.when(has_cjk, "zh")
        .when((en >= de) & (en >= es) & (en >= fr), "en")
        .when((de >= es) & (de >= fr), "de")
        .when(es >= fr, "es")
        .otherwise("fr")
    )


def quality_score(col) -> Column:
    """Heuristic quality in [0,1]: length saturation + low symbol noise +
    lexical diversity. Emitted unrounded (deterministic scalar tree)."""
    length_term = F.least(F.length(col) / 500.0, F.lit(1.0))
    n_sym = F.size(
        F.regexp_extract_all(col, F.lit(r"[^a-zA-Z0-9\s\x{4e00}-\x{9fff}]"), 0)
    )
    noise_term = 1.0 - F.least(
        n_sym * 1.0 / F.greatest(F.length(col), F.lit(1)), F.lit(1.0)
    )
    w = F.split(F.trim(col), " ")
    lw = F.split(F.lower(F.trim(col)), " ")
    ttr_term = F.least(
        F.size(F.array_distinct(lw)) * 1.0 / F.greatest(F.size(w), F.lit(1)),
        F.lit(1.0),
    )
    return 0.4 * length_term + 0.3 * noise_term + 0.3 * ttr_term


def token_count_ws(col) -> Column:
    """Whitespace token count."""
    return F.size(F.split(F.trim(col), " "))


def token_count_bpe_ish(col) -> Column:
    """BPE-ish segmentation count (letter runs / digit runs / single symbols)."""
    return F.size(
        F.regexp_extract_all(F.lower(col), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
    )


def simhash64(col) -> Column:
    """SimHash signature over distinct words (60 effective bits, from the
    60-bit portable token hash): bit b of the signature is 1 iff more token
    hashes have bit b set than not. JVM-side: one hash per word + per-bit
    filtered counts folded into a bigint via shifts."""
    hs = F.transform(F.array_distinct(words(col)), hash60)
    n = F.size(hs)
    bits = [
        F.when(
            F.size(F.filter(hs, _bit_test_fn(b))) * 2 > n, F.lit(1).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
        for b in range(60)
    ]
    out = F.lit(0).cast("bigint")
    for b, bit in enumerate(bits):
        out = out + F.shiftleft(bit, b)
    return out


def _bit_test_fn(b: int):
    mask = 1 << b
    return lambda h: h.bitwiseAND(mask) != 0
