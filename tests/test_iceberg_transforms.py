"""Iceberg partition transforms: spec Appendix B exactness, partitioned
write/read/append round-trips, transform-aware metadata pruning, and DML
on transform-partitioned tables.

Reference parity: the reference's Iceberg target declares partitioned
writes (crates/evolution-target/src/target.rs) but implements no
transform; this engine implements the v2 transform family Spark-first
(JVM expressions + one Arrow-batched string bucket UDF)."""

import datetime as dt
import shutil

import pytest
from pyspark.sql import functions as F

from evolution_spark.io.iceberg_meta import (
    append_iceberg_snapshot,
    read_iceberg_table,
    update_iceberg_rows,
    write_iceberg_table,
    _load_metadata,
)
from evolution_spark.io.iceberg_transforms import (
    bucket_hash,
    murmur3_32,
    parse_partition_by,
    result_ice_type,
    transform_literal,
)


# ---------------------------------------------------------------- unit --


def test_bucket_hash_spec_vectors():
    """The spec's Appendix B test vectors pin Murmur3-x86-32 over the
    single-value serialization — int and long hash identically."""
    assert bucket_hash(34, "int") == 2017239379
    assert bucket_hash(34, "long") == 2017239379
    assert bucket_hash("iceberg", "string") == 1210000089
    days = (dt.date(2017, 11, 16) - dt.date(1970, 1, 1)).days
    assert bucket_hash(days, "date") == -653330422


def test_murmur3_tail_and_empty():
    # canonical murmur3_x86_32 vectors (seed 0)
    assert murmur3_32(b"") == 0
    assert murmur3_32(b"hello") == 0x248BFA47


def test_transform_literal_matrix():
    assert transform_literal("day", "1995-01-05", "date") == 9135
    assert transform_literal("day", dt.date(1970, 1, 2), "date") == 1
    assert transform_literal("month", "1971-02-10", "date") == 13
    assert transform_literal("year", dt.date(1969, 6, 1), "date") == -1
    assert transform_literal("hour", dt.datetime(1970, 1, 2, 3), "timestamp") == 27
    assert transform_literal("truncate[10]", 97, "int") == 90
    assert transform_literal("truncate[10]", -7, "int") == -10  # floor-mod
    assert transform_literal("truncate[3]", "iceberg", "string") == "ice"
    assert transform_literal("bucket[8]", 34, "long") == (2017239379 % 8)
    assert transform_literal("identity", "1995-01-05", "date") == 9135
    assert transform_literal("bucket[4]", None, "int") is None


def test_parse_partition_by_forms_and_refusals():
    ice = {
        "fields": [
            {"id": 1, "name": "k", "type": "long"},
            {"id": 2, "name": "s", "type": "string"},
            {"id": 3, "name": "d", "type": "date"},
        ]
    }
    spec = parse_partition_by(
        ["k", "bucket(16, k)", "truncate(4, s)", "days(d)", "months(d)"], ice
    )
    assert [f["transform"] for f in spec] == [
        "identity", "bucket[16]", "truncate[4]", "day", "month",
    ]
    assert [f["name"] for f in spec] == [
        "k", "k_bucket", "s_trunc", "d_day", "d_month",
    ]
    assert [f["source-id"] for f in spec] == [1, 1, 2, 3, 3]
    with pytest.raises(ValueError, match="unknown column"):
        parse_partition_by(["bucket(4, nope)"], ice)
    with pytest.raises(TypeError, match="truncate transform"):
        parse_partition_by(["truncate(4, d)"], ice)  # truncate on date
    with pytest.raises(TypeError, match="hour transform"):
        parse_partition_by(["hours(d)"], ice)  # hour needs timestamp
    with pytest.raises(TypeError, match="day transform"):
        parse_partition_by(["days(k)"], ice)  # temporal on long


def test_result_types():
    assert result_ice_type("bucket[8]", "string") == "int"
    assert result_ice_type("truncate[4]", "string") == "string"
    assert result_ice_type("truncate[100]", "long") == "long"
    assert result_ice_type("day", "timestamp") == "int"
    assert result_ice_type("identity", "date") == "date"


# ---------------------------------------------------------- integration --


@pytest.fixture()
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )


def _scanned_files(df):
    return df.select(F.col("_metadata.file_path")).distinct().count()


def test_transform_partitioned_roundtrip_and_prune(spark, orders, tmp_path):
    p = str(tmp_path / "tx")
    write_iceberg_table(
        orders, p, partition_by=["days(o_orderdate)", "bucket(4, o_custkey)"]
    )
    md, _ = _load_metadata(__import__("pathlib").Path(p))
    spec = md["partition-specs"][0]["fields"]
    assert [f["transform"] for f in spec] == ["day", "bucket[4]"]

    back = read_iceberg_table(spark, p)
    # transform partitioning is lossy: source columns stay in data files
    assert sorted(back.columns) == sorted(orders.columns)
    assert back.count() == orders.count()
    # value-faithful: anti-join both ways is empty
    assert back.exceptAll(orders).count() == 0
    assert orders.exceptAll(back).count() == 0

    # bucket prune: ~1/4 of the files, all rows for the key present
    k = int(orders.select("o_custkey").first()[0])
    full_files = _scanned_files(read_iceberg_table(spark, p))
    pruned = read_iceberg_table(spark, p, partition_where={"o_custkey": k})
    assert _scanned_files(pruned) < full_files
    want = orders.where(F.col("o_custkey") == k).count()
    assert pruned.where(F.col("o_custkey") == k).count() == want

    # day prune via the SOURCE column with a natural literal
    day = orders.select("o_orderdate").first()[0]
    by_day = read_iceberg_table(spark, p, partition_where={"o_orderdate": day})
    assert _scanned_files(by_day) < full_files
    same_day = orders.where(
        F.col("o_orderdate").cast("date") == day.date()
    ).count()
    assert (
        by_day.where(F.col("o_orderdate").cast("date") == day.date()).count()
        == same_day
    )

    # combined keys resolve to BOTH spec fields (one check each)
    both = read_iceberg_table(
        spark, p, partition_where={"o_custkey": k, "o_orderdate": day}
    )
    assert _scanned_files(both) <= _scanned_files(pruned)


def test_transform_partitioned_append_update(spark, orders, tmp_path):
    p = str(tmp_path / "tx2")
    base = orders.limit(100)
    write_iceberg_table(base, p, partition_by=["bucket(4, o_orderkey)"])
    append_iceberg_snapshot(base.limit(7), p)
    assert read_iceberg_table(spark, p).count() == 107

    # UPDATE on a non-partition column works; the re-appended rows land
    # in the right bucket dirs (partition record parses as int)
    k = int(base.select("o_orderkey").first()[0])
    update_iceberg_rows(
        spark, p, f"o_orderkey = {k}", {"o_totalprice": "0.0"}
    )
    after = read_iceberg_table(spark, p)
    assert (
        after.where(F.col("o_orderkey") == k)
        .where(F.col("o_totalprice") != 0.0)
        .count()
        == 0
    )
    # UPDATE touching a transform SOURCE column refuses
    with pytest.raises(ValueError, match="partition source columns"):
        update_iceberg_rows(
            spark, p, f"o_orderkey = {k}", {"o_orderkey": "1"}
        )


def test_bucket_udf_matches_driver_side_hash(spark, tmp_path):
    """The executor-side buckets (the staged JVM lane for longs and
    dates, the Arrow UDF for strings) agree with the scalar driver-side
    bucket on longs, strings, dates, and nulls."""
    from evolution_spark.io.iceberg_transforms import with_transform_column

    rows = [
        (34, "iceberg", dt.date(2017, 11, 16)),
        (-1, "", dt.date(1969, 12, 31)),
        (2**40 + 17, "évolution", dt.date(1970, 1, 1)),
        (None, None, None),
    ]
    df = spark.createDataFrame(rows, "k long, s string, d date")
    for name, src, typ in [("bk", "k", "long"), ("bs", "s", "string"),
                           ("bd", "d", "date")]:
        df = with_transform_column(df, name, "bucket[16]", src, typ)
    out = df.select("bk", "bs", "bd").collect()
    for (k, s, d), r in zip(rows, out):
        assert r["bk"] == transform_literal("bucket[16]", k, "long")
        assert r["bs"] == transform_literal("bucket[16]", s, "string")
        assert r["bd"] == transform_literal("bucket[16]", d, "date")


def test_prune_unknown_key_still_refuses(spark, orders, tmp_path):
    p = str(tmp_path / "tx3")
    write_iceberg_table(orders.limit(10), p, partition_by=["days(o_orderdate)"])
    with pytest.raises(ValueError, match="neither a partition field"):
        read_iceberg_table(spark, p, partition_where={"o_totalprice": 1.0})


def test_transform_literal_tz_aware_pins_utc():
    """tz-AWARE literals normalize to their UTC instant before temporal/
    bucket transforms — a +05:00 literal partitions by the UTC calendar,
    not its local one (review r7)."""
    import datetime as dt

    tz5 = dt.timezone(dt.timedelta(hours=5))
    v = dt.datetime(1970, 1, 1, 0, 30, tzinfo=tz5)  # 1969-12-31T19:30Z
    assert transform_literal("hour", v, "timestamptz") == -5
    assert transform_literal("day", v, "timestamptz") == -1
    assert transform_literal("month", v, "timestamptz") == -1
    assert transform_literal("year", v, "timestamptz") == -1
    # same instant expressed in UTC buckets identically
    utc = v.astimezone(dt.timezone.utc)
    assert transform_literal("bucket[8]", v, "timestamptz") == transform_literal(
        "bucket[8]", utc, "timestamptz"
    )
    # naive datetimes keep NTZ (tz-free) semantics
    naive = dt.datetime(1970, 1, 1, 0, 30)
    assert transform_literal("hour", naive, "timestamp") == 0


def test_integral_bucket_is_pure_jvm_and_spec_exact(spark):
    """Round-8: bucket[N] over integral sources is a BUILT-IN expression
    (whole-stage codegen, no Python eval in the plan) and matches the
    python Murmur3 reference on spec vectors + randoms, nulls included."""
    import datetime
    import random

    from pyspark.sql import functions as F

    from evolution_spark.io.iceberg_transforms import (
        bucket_hash,
        with_transform_column,
    )

    rows = [(34, 34, datetime.date(2017, 11, 16),
             datetime.datetime(2017, 11, 16, 22, 31, 8), None)]
    df = spark.createDataFrame(rows, "i int, l long, d date, ts timestamp, nul long")
    for name, src, typ in [("bi", "i", "int"), ("bl", "l", "long"),
                           ("bd", "d", "date"), ("bts", "ts", "timestamptz"),
                           ("bnul", "nul", "long")]:
        df = with_transform_column(df, name, "bucket[16]", src, typ)
    q = df.select("bi", "bl", "bd", "bts", "bnul")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    out = q.first()
    # Appendix B: 34 -> 2017239379; date -> -653330422; ts -> -2047944441
    assert out.bi == 2017239379 % 16 and out.bl == out.bi
    assert out.bd == (-653330422 & 0x7FFFFFFF) % 16
    assert out.bts == (-2047944441 & 0x7FFFFFFF) % 16
    assert out.bnul is None

    rng = random.Random(8)
    vals = [rng.randint(-2**62, 2**62) for _ in range(500)] + [
        0, -1, 1, 2**31, -2**31,
    ]
    vdf = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {r.v: r.b for r in with_transform_column(
        vdf, "b", "bucket[97]", "v", "long"
    ).collect()}
    assert got == {v: (bucket_hash(v, "long") & 0x7FFFFFFF) % 97 for v in vals}


def test_bucket_ntz_timestamp_matches_reference(spark):
    """Regression (round-8 review): iceberg 'timestamp' is NTZ in Spark —
    unix_micros refuses it and a session-zone cast would shift the epoch;
    the NTZ lane builds micros from calendar components and must match
    the python Murmur3 reference, pre-epoch and sub-second included."""
    import datetime

    from evolution_spark.io.iceberg_transforms import (
        bucket_hash,
        with_transform_column,
    )

    vals = [
        datetime.datetime(2017, 11, 16, 22, 31, 8),
        datetime.datetime(1969, 12, 31, 23, 59, 59, 123456),
        datetime.datetime(1970, 1, 1, 0, 0, 0),
        datetime.datetime(2038, 1, 19, 3, 14, 7, 999999),
    ]
    df = spark.createDataFrame([(v,) for v in vals], "ts timestamp_ntz")
    got = {r.ts: r.b for r in with_transform_column(
        df, "b", "bucket[16]", "ts", "timestamp"
    ).collect()}
    epoch = datetime.datetime(1970, 1, 1)
    us = datetime.timedelta(microseconds=1)
    exp = {v: (bucket_hash((v - epoch) // us, "long") & 0x7FFFFFFF) % 16
           for v in vals}
    assert got == exp


def test_partition_spec_evolution_lifecycle(spark, tmp_path):
    """Round-8: PARTITION EVOLUTION — a new default spec (metadata-only),
    old files keep their layout/spec-id, reads union the spec epochs, and
    pruning applies per-manifest against each manifest's OWN spec (an old
    spec that cannot express the filter just does not prune)."""
    from pyspark.sql import functions as F

    from evolution_spark.io.iceberg_meta import (
        append_iceberg_snapshot,
        evolve_iceberg_partition_spec,
        read_iceberg_table,
        write_iceberg_table,
    )

    path = str(tmp_path / "specevo")

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("seg"),
            (F.col("id") * 10).alias("v"),
        )

    write_iceberg_table(batch(0, 10), path)  # spec 0: unpartitioned
    r = evolve_iceberg_partition_spec(path, ["seg"])
    assert r["spec-id"] == 1
    append_iceberg_snapshot(batch(10, 16), path)  # spec 1: identity(seg)

    back = read_iceberg_table(spark, path)
    got = sorted((row.k, row.seg, row.v) for row in back.collect())
    assert got == sorted(
        (k, "a" if k % 2 == 0 else "b", k * 10) for k in range(16)
    )

    # pruning: new-spec manifests prune on seg; old-spec files are kept
    # conservatively — every seg='a' row must survive
    pr = read_iceberg_table(spark, path, partition_where={"seg": "a"})
    assert len(pr.inputFiles()) < len(back.inputFiles())
    assert {row.k for row in pr.collect() if row.seg == "a"} == {
        k for k in range(16) if k % 2 == 0
    }

    # evolving again: bucket over k (field-id allocation continues);
    # no-op evolution returns without a new spec
    r2 = evolve_iceberg_partition_spec(path, ["bucket(4, k)"])
    assert r2["spec-id"] == 2
    append_iceberg_snapshot(batch(16, 20), path)
    assert read_iceberg_table(spark, path).count() == 20
    same = evolve_iceberg_partition_spec(path, ["bucket(4, k)"])
    assert same.get("note") == "partition spec unchanged"

    # the Python DataSource tolerates multi-spec tables too (per-file
    # partition records, spec-aware pruning)
    from evolution_spark.io.iceberg_source import register_iceberg_source

    register_iceberg_source(spark)
    src = spark.read.format("evolution_iceberg").load(path)
    assert src.count() == 20
    pruned = (
        spark.read.format("evolution_iceberg")
        .option("partition.seg", "a").load(path)
    )
    assert {row.k for row in pruned.collect() if row.seg == "a"} == {
        k for k in range(20) if k % 2 == 0
    }


def test_evolution_guard_covers_all_spec_epochs(spark, tmp_path):
    """Renaming a column that is a partition source of an OLD spec (even
    after evolving away from it) refuses — old-spec identity layouts
    reconstruct the column from directory names keyed at write time."""
    from pyspark.sql import functions as F

    from evolution_spark.io.iceberg_meta import (
        evolve_iceberg_partition_spec,
        rename_iceberg_column,
        write_iceberg_table,
    )

    path = str(tmp_path / "guardspec")
    df = spark.range(6).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("seg"),
    )
    write_iceberg_table(df, path, partition_by=["seg"])
    evolve_iceberg_partition_spec(path, [])  # back to unpartitioned
    import pytest as _pytest

    with _pytest.raises(ValueError, match="partition source"):
        rename_iceberg_column(path, "seg", "segment")
    # non-source columns still rename fine
    rename_iceberg_column(path, "k", "key")

    # a NON-identity source of a RETIRED spec stays renameable: the
    # transform is lossy (source lives in the files, field-id realigned)
    # and records key on the partition-FIELD name, not the source
    from evolution_spark.io.iceberg_meta import read_iceberg_table

    p2 = str(tmp_path / "guardbucket")
    write_iceberg_table(df, p2, partition_by=["bucket(4, k)"])
    evolve_iceberg_partition_spec(p2, [])
    rename_iceberg_column(p2, "k", "kid")
    got = {(r.kid, r.seg) for r in read_iceberg_table(spark, p2).collect()}
    assert got == {(i, "a" if i % 2 == 0 else "b") for i in range(6)}


def test_staged_bucket_matches_reference_all_integral_types(spark):
    """The STAGED bucket lane (what every partitioned write uses) must
    match the python Murmur3 reference for every integral source type —
    int/long/date/NTZ-timestamp/timestamptz — not just longs."""
    import datetime

    from pyspark.sql import functions as F

    from evolution_spark.io.iceberg_transforms import (
        bucket_hash,
        with_transform_column,
    )

    epoch_d = datetime.date(1970, 1, 1)
    epoch_ts = datetime.datetime(1970, 1, 1)
    us = datetime.timedelta(microseconds=1)
    rows = [
        (7, 7, datetime.date(2017, 11, 16),
         datetime.datetime(2017, 11, 16, 22, 31, 8),
         datetime.datetime(1969, 12, 31, 23, 59, 59, 123456)),
        (-3, -3, datetime.date(1969, 6, 1),
         datetime.datetime(2038, 1, 19, 3, 14, 7, 999999),
         datetime.datetime(2000, 2, 29, 12, 0, 0, 5)),
        (None, None, None, None, None),
    ]
    df = spark.createDataFrame(
        rows, "i int, l long, d date, tz timestamp, nt timestamp_ntz"
    )
    out = df
    for name, src, typ in [
        ("bi", "i", "int"), ("bl", "l", "long"), ("bd", "d", "date"),
        ("btz", "tz", "timestamptz"), ("bnt", "nt", "timestamp"),
    ]:
        out = with_transform_column(out, name, "bucket[16]", src, typ)
    got = [(r.bi, r.bl, r.bd, r.btz, r.bnt) for r in out.collect()]

    def b(v):
        return None if v is None else (bucket_hash(v, "long") & 0x7FFFFFFF) % 16

    def dt_us(d):
        return (d - epoch_ts) // us

    exp = [
        (
            b(r[0]), b(r[1]),
            None if r[2] is None else b((r[2] - epoch_d).days),
            None if r[3] is None else b(dt_us(r[3])),
            None if r[4] is None else b(dt_us(r[4])),
        )
        for r in rows
    ]
    assert got == exp


def test_staged_bucket_lane_quotes_odd_names(spark):
    """Source and output names holding a backtick or a hyphen reach the
    staged lane's SQL quoted: the lane still matches the reference."""
    from evolution_spark.io.iceberg_transforms import bucket_hash, with_transform_column

    df = spark.createDataFrame([(34,), (-3,), (None,)], "`a``b-c` long")
    out = with_transform_column(df, "b`k-1", "bucket[16]", "a`b-c", "long")
    assert out.columns == ["a`b-c", "b`k-1"]
    got = [r["b`k-1"] for r in out.collect()]
    exp = [None if v is None else (bucket_hash(v, "long") & 0x7FFFFFFF) % 16
           for v in (34, -3, None)]
    assert got == exp


def test_staged_bucket_lane_replaces_existing_out_name(spark):
    """An ``out_name`` column already in the frame is replaced in place,
    as ``withColumn`` does, not duplicated."""
    from evolution_spark.io.iceberg_transforms import bucket_hash, with_transform_column

    df = spark.createDataFrame([(34, "x", 1), (-3, "y", 2)], "k long, b string, z int")
    out = with_transform_column(df, "b", "bucket[16]", "k", "long")
    assert out.columns == ["k", "b", "z"]
    assert dict(out.dtypes)["b"] == "int"
    assert [r.b for r in out.collect()] == [
        (bucket_hash(v, "long") & 0x7FFFFFFF) % 16 for v in (34, -3)
    ]
    # the source column itself as the output
    assert with_transform_column(df, "k", "bucket[16]", "k", "long").columns == ["k", "b", "z"]
