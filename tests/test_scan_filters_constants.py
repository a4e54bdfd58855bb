"""Unit tests for the shared per-file constant lookup
(``scan_filters.per_file_constant_columns``) — the one implementation
behind the Delta row-tracking scan and the Iceberg v3 lineage projection
(extracted review r11 pass 3: the two verbatim copies had already begun
to drift)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from evolution_spark.io.scan_filters import per_file_constant_columns


def _frame(spark, paths):
    rows = [(p, p.rsplit("/", 1)[-1], i) for i, p in enumerate(paths)]
    return spark.createDataFrame(rows, "__fp string, __bn string, n long")


def _resolve(df, cols):
    out = df.select(
        "n", cols[0].alias("c0"), cols[1].alias("c1")
    ).collect()
    return {r["n"]: (r["c0"], r["c1"]) for r in out}


def test_map_literal_fast_path(spark):
    paths = ["/t/data/part-0.parquet", "/t/data/part-1.parquet"]
    per_file = [(paths[0], (100, 7)), (paths[1], (None, 9))]
    df = _frame(spark, paths)
    out, cols = per_file_constant_columns(df, per_file, "__bn", "__fp")
    assert out is df  # fast path: no join
    assert _resolve(out, cols) == {0: (100, 7), 1: (None, 9)}


def test_map_literal_fast_path_quotes_basename_col(spark):
    # a backtick or hyphen in the caller's basename column must not break
    # the map-lookup SQL the fast path builds
    paths = ["/t/data/part-0.parquet", "/t/data/part-1.parquet"]
    per_file = [(paths[0], (100, 7)), (paths[1], (None, 9))]
    df = _frame(spark, paths).withColumnRenamed("__bn", "b`n-x")
    out, cols = per_file_constant_columns(df, per_file, "b`n-x", "__fp")
    assert out is df
    assert _resolve(out, cols) == {0: (100, 7), 1: (None, 9)}


def test_join_fallback_on_unsafe_basename(spark):
    # a space is not URL-safe: the raw _metadata URI form would differ
    # from the stored form, so the helper must fall back to the join
    paths = ["/t/data/part 0.parquet", "/t/data/part-1.parquet"]
    per_file = [(paths[0], (100, 7)), (paths[1], (200, 9))]
    df = _frame(spark, paths)
    out, cols = per_file_constant_columns(df, per_file, "__bn", "__fp")
    assert out is not df  # join path
    assert _resolve(out, cols) == {0: (100, 7), 1: (200, 9)}


def test_join_fallback_on_duplicate_basename(spark):
    paths = ["/t/a/part-0.parquet", "/t/b/part-0.parquet"]
    per_file = [(paths[0], (100, 7)), (paths[1], (200, 9))]
    df = _frame(spark, paths)
    out, cols = per_file_constant_columns(df, per_file, "__bn", "__fp")
    assert _resolve(out, cols) == {0: (100, 7), 1: (200, 9)}


def test_join_fallback_past_map_cap(spark):
    paths = [f"/t/data/part-{i}.parquet" for i in range(4)]
    per_file = [(p, (10 * i, i)) for i, p in enumerate(paths)]
    df = _frame(spark, paths)
    out, cols = per_file_constant_columns(
        df, per_file, "__bn", "__fp", max_map_files=2
    )
    assert _resolve(out, cols) == {i: (10 * i, i) for i in range(4)}


def test_empty_per_file_raises(spark):
    df = _frame(spark, ["/t/x.parquet"])
    with pytest.raises(ValueError, match="non-empty"):
        per_file_constant_columns(df, [], "__bn", "__fp")
