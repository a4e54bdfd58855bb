"""Reusable vector expression library (JVM-side array math).

Dot products are explicit left-to-right double folds so results are
bit-reproducible and match DuckDB's ``list_inner_product(::DOUBLE[])``.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def lit_long_array(values) -> Column:
    """Bigint array literal as ONE parsed SQL expression. Building the same
    array with ``F.array(*[F.lit(v) ...])`` costs a py4j round-trip per
    element — for the 64-512-element constants the ANN operators embed
    (centroids, codebooks, probes, hyperplanes), that per-element chatter
    dominates plan-build time; one expr string parse is ~10x cheaper."""
    return F.expr("array(" + ",".join(f"{int(v)}L" for v in values) + ")")


def lit_double_array(values) -> Column:
    """Double array literal as ONE parsed SQL expression (see
    ``lit_long_array``). ``repr(float)`` is shortest-roundtrip and the
    string->double cast preserves every IEEE value including -0.0 and
    subnormals (a bare ``-0.0`` literal would parse as DECIMAL and drop
    the sign), so the parsed constant is bit-identical to ``F.lit``."""
    return F.expr(
        "array(" + ",".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in values) + ")"
    )


def dot(a, b) -> Column:
    """Sequential double-precision dot product."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm(a) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a, b) -> Column:
    # NOTE (r15): an element_at-unrolled dot (no zip_with/aggregate) was
    # A/B'd here and measured 2-5x SLOWER in every top-level expression
    # context (projection, join filter) — the HOF fold wins outside HOF
    # lambdas; only operators/pq.py's INNER distance (already inside a
    # transform lambda, where everything is interpreted) benefits from
    # unrolling. Keep the fold.
    return dot(a, b) / (norm(a) * norm(b))


def euclidean(a, b) -> Column:
    diff_sq = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))
    )
    return F.sqrt(F.aggregate(diff_sq, F.lit(0.0).cast("double"), lambda s, v: s + v))


def plane_sign_value(plane: int, dim_index: int) -> float:
    """Deterministic pseudo-random +/-1 hyperplane component: md5 parity of
    'plane:dim'. Computed driver-side (it is a constant per (plane, dim)) —
    bit-identical to the SQL form ('0x'||substr(md5('j:i'),1,8))::BIGINT % 2."""
    h = int(hashlib.md5(f"{plane}:{dim_index}".encode()).hexdigest()[:8], 16)
    return 1.0 if h % 2 == 0 else -1.0


def lsh_bucket(vec_col, n_planes: int, dim: int) -> Column:
    """Random-hyperplane LSH bucket key: concatenated sign bits of n_planes
    projections. Scale path for ANN — bucket cardinality ~ corpus/2^planes.

    The hyperplane components are CONSTANTS per (plane, dim): they are
    precomputed driver-side and embedded as literal arrays, so each row pays
    n_planes x dim multiply-adds — not n_planes x dim md5 evaluations
    (measured ~20x on the projection stage)."""
    bits = []
    for j in range(n_planes):
        signs = lit_double_array(plane_sign_value(j, i) for i in range(dim))
        proj = F.aggregate(
            F.zip_with(vec_col, signs, lambda x, s: x.cast("double") * s),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)
