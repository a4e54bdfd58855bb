"""The `evolution_delta` Python DataSource (PySpark 4 DataSource API):
batch reads with per-file DV masking / time travel / hive partitions /
column mapping, and the Structured Streaming source whose offsets are log
versions (backfill -> incremental appends -> loud failure on non-append
commits)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def registered(spark):
    from evolution_spark.io.delta_source import register_delta_source

    register_delta_source(spark)
    return spark


def test_batch_read_with_dv_and_time_travel(registered, tmp_path):
    from evolution_spark.io.delta_log import (
        delete_delta_rows,
        read_delta_snapshot,
        write_delta_snapshot,
    )

    spark = registered
    path = str(tmp_path / "src")
    write_delta_snapshot(
        spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .repartition(3),
        path,
    )
    delete_delta_rows(spark, path, "k % 5 = 0")

    df = spark.read.format("evolution_delta").load(path)
    assert df.columns == ["k", "v"]
    got = {(r.k, r.v) for r in df.collect()}
    assert got == {(k, k * 2) for k in range(50) if k % 5 != 0}
    # agrees with the join-based reader
    ref = {(r.k, r.v) for r in read_delta_snapshot(spark, path).collect()}
    assert got == ref
    # time travel via option
    assert (
        spark.read.format("evolution_delta").option("version", 0).load(path).count()
        == 50
    )


def test_batch_read_partitioned(registered, tmp_path):
    from evolution_spark.io.delta_log import write_delta_snapshot

    spark = registered
    path = str(tmp_path / "srcp")
    write_delta_snapshot(
        spark.range(30).select(F.col("id").alias("k"), (F.col("id") % 3).alias("p")),
        path,
        partition_by=["p"],
    )
    df = spark.read.format("evolution_delta").load(path)
    # partition column typed from the schema, injected from add actions
    assert dict(df.dtypes)["p"] == "bigint"
    assert df.where("p = 1").count() == 10
    assert {r.k for r in df.where("p = 2").collect()} == {
        k for k in range(30) if k % 3 == 2
    }


def test_batch_read_column_mapped(registered, tmp_path):
    from tests.test_deletion_vectors import _write_column_mapped_table

    spark = registered
    table = tmp_path / "srccm"
    _write_column_mapped_table(spark, table, n=20, with_dv=True)
    df = spark.read.format("evolution_delta").load(str(table))
    assert df.columns == ["k", "v"]  # logical names
    assert {r.k for r in df.collect()} == set(range(20)) - {0, 2, 4}


def test_streaming_backfill_increment_and_nonappend_failure(
    registered, tmp_path
):
    from evolution_spark.io.delta_log import (
        commit_delta,
        delete_delta_rows,
        write_delta_snapshot,
    )

    spark = registered
    path = str(tmp_path / "stream")
    write_delta_snapshot(spark.range(10).select(F.col("id").alias("k")), path)
    q = (
        spark.readStream.format("evolution_delta")
        .load(path)
        .writeStream.format("memory")
        .queryName("evo_src_test")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT count(*) c FROM evo_src_test").collect()[0].c == 10
        # incremental: only the new commit's rows arrive
        commit_delta(
            spark.range(10, 16).select(F.col("id").alias("k")), path, mode="append"
        )
        q.processAllAvailable()
        assert spark.sql("SELECT count(*) c FROM evo_src_test").collect()[0].c == 16
        assert {r.k for r in spark.sql("SELECT k FROM evo_src_test").collect()} == set(
            range(16)
        )
        # a merge-on-read DELETE is not representable as appends -> stream fails
        delete_delta_rows(spark, path, "k = 1")
        with pytest.raises(Exception, match="STREAM_FAILED|not an append"):
            q.processAllAvailable()
        assert not q.isActive
    finally:
        if q.isActive:
            q.stop()


def test_streaming_ignore_changes_reemits_nonappend(registered, tmp_path):
    """ignoreChanges matches upstream's at-least-once contract: a
    mid-stream non-append commit RE-EMITS its (re-)added files with their
    DVs applied — surviving rows of the rewritten file arrive again
    (duplicates), deleted rows are never delivered again, and genuinely
    new rows in a change commit are not lost."""
    from evolution_spark.io.delta_log import (
        commit_delta,
        delete_delta_rows,
        write_delta_snapshot,
    )

    spark = registered
    path = str(tmp_path / "stream2")
    write_delta_snapshot(
        spark.range(5).select(F.col("id").alias("k")).coalesce(1), path
    )
    q = (
        spark.readStream.format("evolution_delta")
        .option("ignoreChanges", "true")
        .load(path)
        .writeStream.format("memory")
        .queryName("evo_src_reemit")
        .start()
    )
    try:
        q.processAllAvailable()
        delete_delta_rows(spark, path, "k = 0")  # non-append, mid-stream
        commit_delta(
            spark.range(5, 8).select(F.col("id").alias("k")), path, mode="append"
        )
        q.processAllAvailable()
        counts = {
            r.k: r.c
            for r in spark.sql(
                "SELECT k, count(*) c FROM evo_src_reemit GROUP BY k"
            ).collect()
        }
        # k=0: snapshot only (the re-emitted file's DV masks it out);
        # k=1..4: snapshot + re-emit = 2 (at-least-once); k=5..7: once
        assert counts[0] == 1
        assert all(counts[k] == 2 for k in range(1, 5))
        assert all(counts[k] == 1 for k in range(5, 8))
    finally:
        q.stop()


def test_streaming_skip_change_commits(registered, tmp_path):
    """skipChangeCommits skips a non-append commit entirely (the former
    ignoreChanges behavior, under upstream's name for it): no duplicates,
    no re-delivery, later appends still arrive."""
    from evolution_spark.io.delta_log import (
        commit_delta,
        delete_delta_rows,
        write_delta_snapshot,
    )

    spark = registered
    path = str(tmp_path / "stream2b")
    write_delta_snapshot(
        spark.range(5).select(F.col("id").alias("k")).coalesce(1), path
    )
    q = (
        spark.readStream.format("evolution_delta")
        .option("skipChangeCommits", "true")
        .load(path)
        .writeStream.format("memory")
        .queryName("evo_src_skipcc")
        .start()
    )
    try:
        q.processAllAvailable()
        delete_delta_rows(spark, path, "k = 0")
        commit_delta(
            spark.range(5, 8).select(F.col("id").alias("k")), path, mode="append"
        )
        q.processAllAvailable()
        rows = [r.k for r in spark.sql("SELECT k FROM evo_src_skipcc").collect()]
        assert sorted(rows) == list(range(8))  # no duplicates, no loss
    finally:
        q.stop()


def test_streaming_missing_log_version_fails(registered, tmp_path):
    """An interior gap in (start, end] — e.g. log files cleaned by a
    foreign writer's retention while the stream was down — fails loudly
    instead of silently dropping the missing commits' rows."""
    import pytest as _pytest

    from evolution_spark.io.delta_log import commit_delta, write_delta_snapshot
    from evolution_spark.io.delta_source import _StreamReader

    spark = registered
    path = tmp_path / "streamgap"
    write_delta_snapshot(spark.range(3).select(F.col("id").alias("k")), str(path))
    for lo_, hi_ in [(3, 6), (6, 9), (9, 12)]:
        commit_delta(
            spark.range(lo_, hi_).select(F.col("id").alias("k")),
            str(path), mode="append",
        )
    reader = _StreamReader({"path": str(path)})
    (path / "_delta_log" / f"{2:020d}.json").unlink()  # foreign cleanup
    with _pytest.raises(RuntimeError, match=r"missing|\[2\]"):
        reader.partitions(
            {"version": 1, "snapshot_done": True},
            {"version": 3, "snapshot_done": True},
        )


def test_streaming_schema_change_fails(registered, tmp_path):
    """A schema-changing metaData commit inside (start, end] fails the
    stream (the pinned schema would silently project later files down),
    like the real Delta source."""
    import pytest as _pytest

    from pyspark.sql import types as T

    from evolution_spark.io.delta_log import (
        commit_delta,
        evolve_delta_schema,
        write_delta_snapshot,
    )
    from evolution_spark.io.delta_source import _StreamReader

    spark = registered
    path = str(tmp_path / "streamschema")
    write_delta_snapshot(spark.range(3).select(F.col("id").alias("k")), path)
    reader = _StreamReader({"path": path})  # pins the v0 schema
    evolve_delta_schema(path, [("w", T.DoubleType())])  # v1: metaData only
    commit_delta(
        spark.range(3, 5).select(F.col("id").alias("k"),
                                 (F.col("id") * 1.0).alias("w")),
        path, mode="append",
    )
    with _pytest.raises(RuntimeError, match="schema"):
        reader.partitions(
            {"version": 0, "snapshot_done": True},
            {"version": 2, "snapshot_done": True},
        )


def test_streaming_snapshot_backfill_on_delete_history(registered, tmp_path):
    """A stream STARTING on a table whose history already contains a MOR
    DELETE backfills the current snapshot (DV-masked) — no ignoreChanges
    needed, and the deleted rows are absent."""
    from evolution_spark.io.delta_log import (
        commit_delta,
        delete_delta_rows,
        write_delta_snapshot,
    )

    spark = registered
    path = str(tmp_path / "stream3")
    write_delta_snapshot(spark.range(10).select(F.col("id").alias("k")), path)
    delete_delta_rows(spark, path, "k % 2 = 0")  # v1 in HISTORY
    q = (
        spark.readStream.format("evolution_delta")
        .load(path)
        .writeStream.format("memory")
        .queryName("evo_src_snap")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {r.k for r in spark.sql("SELECT k FROM evo_src_snap").collect()}
        assert got == {k for k in range(10) if k % 2 == 1}
        # incremental appends still flow after the snapshot
        commit_delta(
            spark.range(10, 12).select(F.col("id").alias("k")), path, mode="append"
        )
        q.processAllAvailable()
        got = {r.k for r in spark.sql("SELECT k FROM evo_src_snap").collect()}
        assert got == {k for k in range(10) if k % 2 == 1} | {10, 11}
    finally:
        q.stop()


def test_streaming_starting_version_inclusive(registered, tmp_path):
    """startingVersion follows the real source's INCLUSIVE semantics:
    startingVersion=0 replays the v0 write itself."""
    from evolution_spark.io.delta_log import commit_delta, write_delta_snapshot

    spark = registered
    path = str(tmp_path / "stream4")
    write_delta_snapshot(spark.range(4).select(F.col("id").alias("k")), path)
    commit_delta(
        spark.range(4, 6).select(F.col("id").alias("k")), path, mode="append"
    )
    q = (
        spark.readStream.format("evolution_delta")
        .option("startingVersion", "1")
        .load(path)
        .writeStream.format("memory")
        .queryName("evo_src_sv")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {r.k for r in spark.sql("SELECT k FROM evo_src_sv").collect()}
        assert got == {4, 5}  # version 1 itself, not just later commits
    finally:
        q.stop()


def test_batch_time_travel_across_schema_evolution(registered, tmp_path):
    """schema() must honor the version option: a time-travel read of a
    pre-evolution version declares AND yields the old schema."""
    from pyspark.sql import types as T

    from evolution_spark.io.delta_log import (
        commit_delta,
        evolve_delta_schema,
        write_delta_snapshot,
    )

    spark = registered
    path = str(tmp_path / "srcev")
    write_delta_snapshot(spark.range(5).select(F.col("id").alias("k")), path)
    evolve_delta_schema(path, [("w", T.DoubleType())])
    commit_delta(
        spark.range(5, 7).select(F.col("id").alias("k"),
                                 (F.col("id") * 1.5).alias("w")),
        path, mode="append",
    )
    latest = spark.read.format("evolution_delta").load(path)
    assert latest.columns == ["k", "w"] and latest.count() == 7
    # evolved column null on legacy files via the typed-constant path
    assert latest.where("w IS NULL").count() == 5
    v0 = spark.read.format("evolution_delta").option("version", 0).load(path)
    assert v0.columns == ["k"] and v0.count() == 5


def test_batch_date_partition_typed_constant(registered, tmp_path):
    """Partition columns of non-string types (here: date) materialize as
    typed constants matching the declared schema."""
    from evolution_spark.io.delta_log import write_delta_snapshot

    spark = registered
    path = str(tmp_path / "srcdate")
    df = spark.range(6).select(
        F.col("id").alias("k"),
        F.to_date(
            F.concat(F.lit("2024-01-0"), ((F.col("id") % 3) + 1).cast("string"))
        ).alias("d"),
    )
    write_delta_snapshot(df, path, partition_by=["d"])
    back = spark.read.format("evolution_delta").load(path)
    assert dict(back.dtypes)["d"] == "date"
    assert back.where("d = DATE'2024-01-02'").count() == 2


# --------------------------------------------------------------------------
# evolution_iceberg (the Iceberg twin)
# --------------------------------------------------------------------------


@pytest.fixture()
def ice_registered(spark):
    from evolution_spark.io.iceberg_source import register_iceberg_source

    register_iceberg_source(spark)
    return spark


def test_iceberg_source_batch_with_position_deletes(ice_registered, tmp_path):
    from evolution_spark.io.iceberg_meta import (
        append_iceberg_snapshot,
        append_position_deletes,
        read_iceberg_table,
        write_iceberg_table,
    )
    from tests.test_iceberg_deletes import _positions_of

    spark = ice_registered
    path = str(tmp_path / "isrc")
    df = spark.range(40).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    s0 = write_iceberg_table(df, path)
    append_iceberg_snapshot(
        spark.range(40, 50).select(F.col("id").alias("k"),
                                   (F.col("id") * 3).alias("v")), path
    )
    append_position_deletes(path, _positions_of(spark, path, "k % 6 = 0"))

    got = spark.read.format("evolution_iceberg").load(path)
    assert got.columns == ["k", "v"]
    rows = {(r.k, r.v) for r in got.collect()}
    assert rows == {(k, k * 3) for k in range(50) if k % 6 != 0}
    # agrees with the manifest-driven reader
    ref = {(r.k, r.v) for r in read_iceberg_table(spark, path).collect()}
    assert rows == ref
    # time travel by snapshot id
    assert (
        spark.read.format("evolution_iceberg")
        .option("snapshot", str(s0["snapshot-id"])).load(path).count() == 40
    )


def test_iceberg_source_partitioned_and_pruned(ice_registered, tmp_path):
    from evolution_spark.io.iceberg_meta import write_iceberg_table

    spark = ice_registered
    path = str(tmp_path / "isrcp")
    df = spark.range(30).select(F.col("id").alias("k"), (F.col("id") % 3).alias("p"))
    write_iceberg_table(df, path, partition_by=["p"])
    full = spark.read.format("evolution_iceberg").load(path)
    assert dict(full.dtypes)["p"] == "bigint"
    assert full.count() == 30
    pruned = (
        spark.read.format("evolution_iceberg")
        .option("partition.p", "1").load(path)
    )
    assert {r.k for r in pruned.collect()} == {k for k in range(30) if k % 3 == 1}
    # metadata-level pruning: fewer input partitions than the full read
    assert pruned.rdd.getNumPartitions() < full.rdd.getNumPartitions()


def test_iceberg_source_date_partition_and_typed_pruning(ice_registered, tmp_path):
    """Date-identity partitions: manifest partition values are typed int
    day-counts; the source must materialize date32 constants (a naive
    int64->date32 cast crashes) and parse partition options by the SPEC
    type (int-guessing would silently prune string/date partitions)."""
    from evolution_spark.io.iceberg_meta import write_iceberg_table

    spark = ice_registered
    path = str(tmp_path / "isrcd")
    df = spark.range(6).select(
        F.col("id").alias("k"),
        F.to_date(
            F.concat(F.lit("2024-01-0"), ((F.col("id") % 3) + 1).cast("string"))
        ).alias("d"),
    )
    write_iceberg_table(df, path, partition_by=["d"])
    back = spark.read.format("evolution_iceberg").load(path)
    assert dict(back.dtypes)["d"] == "date"
    assert back.count() == 6
    pruned = (
        spark.read.format("evolution_iceberg")
        .option("partition.d", "2024-01-02").load(path)
    )
    assert {r.k for r in pruned.collect()} == {1, 4}
    # typo'd partition key raises instead of silently pruning everything
    with pytest.raises(Exception, match="neither a partition field"):
        spark.read.format("evolution_iceberg").option(
            "partition.nope", "1"
        ).load(path).count()


def test_iceberg_source_uri_recorded_delete_targets(ice_registered, tmp_path):
    """A foreign delete file recording its targets as file:// URIs still
    deletes — paths are normalized before keying the per-file bitmaps."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from evolution_spark.io.iceberg_meta import (
        append_position_deletes,
        read_iceberg_table,
        write_iceberg_table,
    )
    from tests.test_iceberg_deletes import _positions_of

    spark = ice_registered
    path = str(tmp_path / "isrcu")
    write_iceberg_table(spark.range(20).select(F.col("id").alias("k")), path)
    dels = _positions_of(spark, path, "k < 5")
    res = append_position_deletes(path, [(f"file://{fp}", ri) for fp, ri in dels])
    got = spark.read.format("evolution_iceberg").load(path)
    assert {r.k for r in got.collect()} == set(range(5, 20))
    # the manifest-driven reader agrees
    assert read_iceberg_table(spark, path).count() == 15


# --------------------------------------------------------------------------
# write side (batch append + exactly-once streaming sink)
# --------------------------------------------------------------------------


def test_batch_write_append(registered, tmp_path):
    from evolution_spark.io.delta_log import read_delta_snapshot, write_delta_snapshot

    spark = registered
    path = str(tmp_path / "wsink")
    write_delta_snapshot(spark.range(5).select(F.col("id").alias("k")), path)
    spark.range(5, 9).select(F.col("id").alias("k")).write.format(
        "evolution_delta"
    ).mode("append").save(path)
    assert {r.k for r in read_delta_snapshot(spark, path).collect()} == set(range(9))
    # the sink's commit is a real log version readable by the source too
    assert spark.read.format("evolution_delta").load(path).count() == 9
    # the per-writer staging dir is reclaimed at commit, not left for a
    # 24h reclaim_stale_staging pass
    assert list((tmp_path / "wsink").glob("_staging_sink-*")) == []
    with pytest.raises(Exception, match="append-only"):
        spark.range(3).select(F.col("id").alias("k")).write.format(
            "evolution_delta"
        ).mode("overwrite").save(path)


def test_sink_commit_owns_its_staging_dir(registered, tmp_path):
    """Another committer's shards, staged for the same version, are
    neither published nor deleted by this sink's commit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from evolution_spark.io.delta_log import read_delta_snapshot, write_delta_snapshot

    spark = registered
    path = tmp_path / "wsink"
    write_delta_snapshot(spark.range(5).select(F.col("id").alias("k")), str(path))
    foreign = [path / "_staging_v1-sink" / "foreign.parquet",
               path / f"_staging_v1-sink-{'0' * 32}" / "foreign.parquet"]
    for f in foreign:
        f.parent.mkdir()
        pq.write_table(pa.table({"k": pa.array([100, 101], pa.int64())}), f)
    spark.range(5, 9).select(F.col("id").alias("k")).write.format(
        "evolution_delta"
    ).mode("append").save(str(path))
    assert sorted(r.k for r in read_delta_snapshot(spark, str(path)).collect()) == list(range(9))
    assert all(f.exists() for f in foreign)


def test_streaming_sink_exactly_once(registered, tmp_path):
    """The format-level streaming sink: each micro-batch is ONE Delta
    version carrying a txn action; a replayed batchId is skipped."""
    import time

    from evolution_spark.io.delta_log import (
        last_txn_version,
        read_delta_snapshot,
        write_delta_snapshot,
    )

    spark = registered
    src = str(tmp_path / "ssrc")
    dst = str(tmp_path / "sdst")
    ck = str(tmp_path / "ck")
    write_delta_snapshot(spark.range(0).select(F.col("id").alias("k")), dst)
    write_delta_snapshot(spark.range(6).select(F.col("id").alias("k")), src)
    q = (
        spark.readStream.format("evolution_delta").load(src)
        .writeStream.format("evolution_delta")
        .option("checkpointLocation", ck)
        .option("txnAppId", "pipeline_a")
        .start(dst)
    )
    try:
        q.processAllAvailable()
        assert {r.k for r in read_delta_snapshot(spark, dst).collect()} == set(range(6))
        from evolution_spark.io.delta_log import commit_delta

        commit_delta(
            spark.range(6, 10).select(F.col("id").alias("k")), src, mode="append"
        )
        q.processAllAvailable()
        got = {r.k for r in read_delta_snapshot(spark, dst).collect()}
        assert got == set(range(10))
        # txn bookkeeping recorded for exactly-once replay skipping
        assert last_txn_version(dst, "pipeline_a") is not None
    finally:
        q.stop()
    # streaming commits reclaim their per-writer staging dirs immediately
    assert list((tmp_path / "sdst").glob("_staging_sink-*")) == []
    # replaying an already-committed batch is a no-op (idempotence)
    from evolution_spark.io.delta_log import _replay_log
    from evolution_spark.io.delta_source import _StreamWriter
    from pathlib import Path as _P

    _, schema_string, *_ = _replay_log(_P(dst), return_state=True)
    w = _StreamWriter({"path": dst, "txnAppId": "pipeline_a"}, schema_string)
    seen = last_txn_version(dst, "pipeline_a")
    w.commit([], seen)  # batchId <= seen -> skipped, no new version
    assert {r.k for r in read_delta_snapshot(spark, dst).collect()} == set(range(10))
    # a sink without txnAppId refuses (exactly-once needs the identity)
    with pytest.raises(ValueError, match="txnAppId"):
        _StreamWriter({"path": dst}, schema_string)


def test_batch_write_schema_mismatch_and_nulls(registered, tmp_path):
    """Schema-mismatched appends refuse loudly (silent all-null rows
    otherwise); all-null columns write with the DECLARED type."""
    from evolution_spark.io.delta_log import read_delta_snapshot, write_delta_snapshot

    spark = registered
    path = str(tmp_path / "wsink2")
    write_delta_snapshot(
        spark.range(2).select(F.col("id").alias("k"),
                              F.lit("x").alias("s")), path
    )
    with pytest.raises(Exception, match="schema mismatch"):
        spark.range(2).select(F.col("id").alias("kk"),
                              F.lit("y").alias("s")).write.format(
            "evolution_delta").mode("append").save(path)
    # all-null string column: declared-type shard, not a Null-typed one
    spark.range(2, 4).select(
        F.col("id").alias("k"), F.lit(None).cast("string").alias("s")
    ).write.format("evolution_delta").mode("append").save(path)
    back = read_delta_snapshot(spark, path)
    assert back.count() == 4 and back.where("s IS NULL").count() == 2


def test_streaming_max_versions_per_trigger(registered, tmp_path):
    """Rate limiting: the FIRST batch of a (re)started query is uncapped
    (a capped offset below the checkpointed commit would regress the
    stream), then a backlog of N versions drains in >= N/cap capped
    micro-batches."""
    from evolution_spark.io.delta_log import commit_delta, write_delta_snapshot

    spark = registered
    path = str(tmp_path / "ratelim")
    write_delta_snapshot(spark.range(2).select(F.col("id").alias("k")), path)
    q = (
        spark.readStream.format("evolution_delta")
        .option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "2")
        .load(path)
        .writeStream.format("memory")
        .queryName("evo_rate")
        .start()
    )
    try:
        q.processAllAvailable()  # first batch: v0, baseline set
        for i in range(1, 5):  # backlog of 4 versions lands mid-stream
            commit_delta(
                spark.range(i * 10, i * 10 + 2).select(F.col("id").alias("k")),
                path, mode="append",
            )
        q.processAllAvailable()
        got = {r.k for r in spark.sql("SELECT k FROM evo_rate").collect()}
        assert got == {0, 1, 10, 11, 20, 21, 30, 31, 40, 41}
        # the 4-version backlog drained over >= 2 DATA batches, each at
        # most cap(2) x 2 rows (a vacuous progress-count check would pass
        # even with the cap broken)
        data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert len(data_batches) >= 3  # v0 batch + >=2 capped batches
        assert all(p["numInputRows"] <= 4 for p in data_batches)
    finally:
        q.stop()



def test_iceberg_streaming_source(ice_registered, tmp_path):
    """Iceberg streaming: snapshot backfill (position deletes applied),
    incremental appends by sequence number, loud failure on delete
    snapshots mid-stream, ignoreChanges skip."""
    from evolution_spark.io.iceberg_meta import (
        append_iceberg_snapshot,
        append_position_deletes,
        write_iceberg_table,
    )
    from tests.test_iceberg_deletes import _positions_of

    spark = ice_registered
    path = str(tmp_path / "istream")
    write_iceberg_table(spark.range(10).select(F.col("id").alias("k")), path)
    append_position_deletes(path, _positions_of(spark, path, "k % 2 = 0"))
    q = (
        spark.readStream.format("evolution_iceberg").load(path)
        .writeStream.format("memory").queryName("ice_stream").start()
    )
    try:
        q.processAllAvailable()
        got = {r.k for r in spark.sql("SELECT k FROM ice_stream").collect()}
        # snapshot backfill sees the delete-filtered current state
        assert got == {k for k in range(10) if k % 2 == 1}
        append_iceberg_snapshot(
            spark.range(10, 13).select(F.col("id").alias("k")), path
        )
        q.processAllAvailable()
        got = {r.k for r in spark.sql("SELECT k FROM ice_stream").collect()}
        assert got == {k for k in range(10) if k % 2 == 1} | {10, 11, 12}
        # a delete snapshot mid-stream fails loudly
        append_position_deletes(path, _positions_of(spark, path, "k = 1"))
        with pytest.raises(Exception, match="STREAM_FAILED|cannot represent"):
            q.processAllAvailable()
        assert not q.isActive
    finally:
        if q.isActive:
            q.stop()
    # ignoreChanges: a fresh stream (snapshot covers the delete) + skipping
    q2 = (
        spark.readStream.format("evolution_iceberg")
        .option("ignoreChanges", "true").load(path)
        .writeStream.format("memory").queryName("ice_stream2").start()
    )
    try:
        q2.processAllAvailable()
        got = {r.k for r in spark.sql("SELECT k FROM ice_stream2").collect()}
        assert got == ({k for k in range(10) if k % 2 == 1} | {10, 11, 12}) - {1}
    finally:
        q2.stop()


def test_iceberg_v3_streaming_source_dv_aware(ice_registered, tmp_path):
    """Round 11 (verdict item 9): streaming over a FORMAT-VERSION 3 table
    whose delete state lives as Puffin DELETION VECTORS — the initial
    snapshot batch applies the DVs (batch-twin checked against
    read_iceberg_table), incremental appends stream by sequence number,
    a DV delete mid-stream fails loudly, and ignoreChanges skips it."""
    from evolution_spark.io.iceberg_meta import (
        append_iceberg_snapshot,
        delete_iceberg_rows_dv,
        read_iceberg_table,
        upgrade_iceberg_format_version,
        write_iceberg_table,
    )

    spark = ice_registered
    path = str(tmp_path / "iv3stream")
    write_iceberg_table(spark.range(10).select(F.col("id").alias("k")), path)
    upgrade_iceberg_format_version(path)
    delete_iceberg_rows_dv(spark, path, "k % 2 = 0")
    batch_twin = {r.k for r in read_iceberg_table(spark, path).collect()}
    q = (
        spark.readStream.format("evolution_iceberg").load(path)
        .writeStream.format("memory").queryName("ice3_stream").start()
    )
    try:
        q.processAllAvailable()
        got = {r.k for r in spark.sql("SELECT k FROM ice3_stream").collect()}
        assert got == batch_twin == {1, 3, 5, 7, 9}
        # v3 append (assigns row lineage) streams as a plain data batch
        append_iceberg_snapshot(
            spark.range(10, 13).select(F.col("id").alias("k")), path
        )
        q.processAllAvailable()
        got = {r.k for r in spark.sql("SELECT k FROM ice3_stream").collect()}
        assert got == {1, 3, 5, 7, 9, 10, 11, 12}
        # a DV delete snapshot mid-stream fails loudly (same contract as
        # the v2 position-delete case — its row removal is unrepresentable)
        delete_iceberg_rows_dv(spark, path, "k = 1")
        with pytest.raises(Exception, match="STREAM_FAILED|cannot represent"):
            q.processAllAvailable()
        assert not q.isActive
    finally:
        if q.isActive:
            q.stop()
    # a fresh stream's snapshot covers the DV delete; ignoreChanges lets
    # later delete snapshots skip
    q2 = (
        spark.readStream.format("evolution_iceberg")
        .option("ignoreChanges", "true").load(path)
        .writeStream.format("memory").queryName("ice3_stream2").start()
    )
    try:
        q2.processAllAvailable()
        got = {r.k for r in spark.sql("SELECT k FROM ice3_stream2").collect()}
        assert got == {r.k for r in read_iceberg_table(spark, path).collect()}
        assert got == {3, 5, 7, 9, 10, 11, 12}
        delete_iceberg_rows_dv(spark, path, "k = 3")
        append_iceberg_snapshot(
            spark.range(20, 22).select(F.col("id").alias("k")), path
        )
        q2.processAllAvailable()
        got = {r.k for r in spark.sql("SELECT k FROM ice3_stream2").collect()}
        # the skipped DV delete's rows stay in the consumer's view (the
        # documented ignoreChanges trade-off); the append streamed
        assert got == {3, 5, 7, 9, 10, 11, 12, 20, 21}
    finally:
        q2.stop()


def test_const_array_malformed_partition_value_named_error():
    """A stored partition value that fits neither the declared type nor
    its string rendering raises a typed error NAMING the column, instead
    of a downstream cast failure far from its cause."""
    import pyarrow as pa
    import pytest as _pytest

    from evolution_spark.io.delta_source import _const_array

    # well-formed paths still work
    assert _const_array("7", pa.int32(), 2, col="p").to_pylist() == [7, 7]
    assert _const_array(19723, pa.date32(), 1, col="d").to_pylist() is not None
    with _pytest.raises(ValueError, match=r"partition column 'p'.*'not-a-number'"):
        _const_array("not-a-number", pa.int64(), 3, col="p")


def test_iceberg_batch_write_append(ice_registered, tmp_path):
    from evolution_spark.io.iceberg_meta import (
        read_iceberg_table,
        write_iceberg_table,
    )

    spark = ice_registered
    path = str(tmp_path / "iwsink")
    write_iceberg_table(spark.range(5).select(F.col("id").alias("k")), path)
    spark.range(5, 9).select(F.col("id").alias("k")).write.format(
        "evolution_iceberg"
    ).mode("append").save(path)
    assert {r.k for r in read_iceberg_table(spark, path).collect()} == set(range(9))
    # the sink's snapshot is readable by the source (and snapshot-listed)
    assert spark.read.format("evolution_iceberg").load(path).count() == 9
    # staging reclaimed at commit
    assert list((tmp_path / "iwsink").glob("_staging_sink-*")) == []
    with pytest.raises(Exception, match="append-only"):
        spark.range(3).select(F.col("id").alias("k")).write.format(
            "evolution_iceberg"
        ).mode("overwrite").save(path)
    # schema mismatch refuses loudly
    with pytest.raises(Exception, match="schema mismatch"):
        spark.range(3).select(F.col("id").alias("wrong")).write.format(
            "evolution_iceberg"
        ).mode("append").save(path)


def test_iceberg_batch_write_guards(ice_registered, tmp_path):
    from evolution_spark.io.iceberg_meta import write_iceberg_table

    spark = ice_registered
    # nonexistent table refuses (the sink cannot invent table metadata)
    with pytest.raises(Exception, match="EXISTING table"):
        spark.range(2).select(F.col("id").alias("k")).write.format(
            "evolution_iceberg"
        ).mode("append").save(str(tmp_path / "absent"))
    # partitioned table refuses (shards carry no partition layout)
    ppath = str(tmp_path / "ipart")
    write_iceberg_table(
        spark.range(6).select(F.col("id").alias("k"), (F.col("id") % 2).alias("p")),
        ppath, partition_by=["p"],
    )
    with pytest.raises(Exception, match="unpartitioned"):
        spark.range(6, 8).select(
            F.col("id").alias("k"), (F.col("id") % 2).alias("p")
        ).write.format("evolution_iceberg").mode("append").save(ppath)


def test_iceberg_streaming_sink_exactly_once(ice_registered, tmp_path):
    """The Iceberg format-level streaming sink: each micro-batch is ONE
    snapshot carrying the txn identity in its summary; a replayed batchId
    is skipped (the Delta twin's contract on Iceberg metadata)."""
    from evolution_spark.io.delta_log import write_delta_snapshot
    from evolution_spark.io.delta_source import register_delta_source
    from evolution_spark.io.iceberg_meta import (
        last_iceberg_txn,
        read_iceberg_table,
        write_iceberg_table,
    )

    spark = ice_registered
    register_delta_source(spark)
    src = str(tmp_path / "issrc")
    dst = str(tmp_path / "isdst")
    ck = str(tmp_path / "ick")
    write_iceberg_table(spark.range(0).select(F.col("id").alias("k")), dst)
    write_delta_snapshot(spark.range(6).select(F.col("id").alias("k")), src)
    q = (
        spark.readStream.format("evolution_delta").load(src)
        .writeStream.format("evolution_iceberg")
        .option("checkpointLocation", ck)
        .option("txnAppId", "ice_pipeline")
        .start(dst)
    )
    try:
        q.processAllAvailable()
        assert {r.k for r in read_iceberg_table(spark, dst).collect()} == set(
            range(6)
        )
        from evolution_spark.io.delta_log import commit_delta

        commit_delta(
            spark.range(6, 10).select(F.col("id").alias("k")), src, mode="append"
        )
        q.processAllAvailable()
        got = {r.k for r in read_iceberg_table(spark, dst).collect()}
        assert got == set(range(10))
        assert last_iceberg_txn(dst, "ice_pipeline") is not None
    finally:
        q.stop()
    assert list((tmp_path / "isdst").glob("_staging_sink-*")) == []
    # replaying an already-committed batch is a no-op (idempotence)
    from evolution_spark.io.iceberg_source import _IcebergStreamWriter

    schema_json = read_iceberg_table(spark, dst).schema.json()
    w = _IcebergStreamWriter(
        {"path": dst, "txnAppId": "ice_pipeline"}, schema_json
    )
    seen = last_iceberg_txn(dst, "ice_pipeline")
    w.commit([], seen)  # batchId <= seen -> skipped, no new snapshot
    assert read_iceberg_table(spark, dst).count() == 10
    # a sink without txnAppId refuses (exactly-once needs the identity)
    with pytest.raises(ValueError, match="txnAppId"):
        _IcebergStreamWriter({"path": dst}, schema_json)


def test_iceberg_sink_shards_are_distributed(ice_registered, tmp_path):
    """Plan-shape gate for the sink: each executor task stages its own
    shard (distributed write — no driver-side collect), and the commit
    adds exactly one manifest entry per non-empty shard."""
    from evolution_spark.io.avro import _read_avro
    from evolution_spark.io.iceberg_meta import (
        _load_metadata,
        write_iceberg_table,
    )
    from pathlib import Path as _P

    spark = ice_registered
    path = str(tmp_path / "ishard")
    write_iceberg_table(spark.range(2).select(F.col("id").alias("k")), path)
    spark.range(2, 42).select(F.col("id").alias("k")).repartition(5).write.format(
        "evolution_iceberg"
    ).mode("append").save(path)
    metadata, _ = _load_metadata(_P(path))
    snap = next(
        s for s in metadata["snapshots"]
        if s["snapshot-id"] == metadata["current-snapshot-id"]
    )
    added = [
        mf for mf in _read_avro(_P(snap["manifest-list"]))
        if mf["added_snapshot_id"] == snap["snapshot-id"]
    ]
    assert len(added) == 1  # ONE manifest for the whole commit
    entries = _read_avro(_P(added[0]["manifest_path"]))
    # one data file per writing task (5 repartitioned shards)
    assert len(entries) == 5
    assert all(e["status"] == 1 for e in entries)
    assert int(snap["summary"]["added-records"]) == 40


def test_streaming_restart_after_schema_evolution(registered, tmp_path):
    """Round-8 restart path: after a mid-stream ADD COLUMN fails the
    running query (previous test), a RESTARTED query — same checkpoint,
    fresh reader pinning the NEW schema — must resume from the
    checkpointed offset without data loss: the evolution commit's
    metaData now matches the pinned schema (no failure), pre-evolution
    versions' files read with the added column as null, and no version
    is re-delivered or skipped."""
    from pyspark.sql import types as T

    from evolution_spark.io.delta_log import (
        commit_delta,
        evolve_delta_schema,
        write_delta_snapshot,
    )

    spark = registered
    path = str(tmp_path / "restartsrc")
    sink = str(tmp_path / "restartsink")
    ckpt = str(tmp_path / "restartckpt")
    write_delta_snapshot(
        spark.range(4).select(F.col("id").alias("k")), path
    )

    q = (
        spark.readStream.format("evolution_delta").load(path)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert {r.k for r in spark.read.parquet(sink).collect()} == {0, 1, 2, 3}

    # v1: ADD COLUMN (metadata-only); v2: append rows under the new
    # schema; v3: another old-column-only... (not possible post-evolve);
    # append a second new-schema batch instead
    evolve_delta_schema(path, [("w", T.DoubleType())])
    commit_delta(
        spark.range(4, 6).select(F.col("id").alias("k"),
                                 (F.col("id") * 1.5).alias("w")),
        path, mode="append",
    )
    commit_delta(
        spark.range(6, 7).select(F.col("id").alias("k"),
                                 (F.col("id") * 1.5).alias("w")),
        path, mode="append",
    )

    # restart with the SAME checkpoint: the fresh reader pins the new
    # schema and resumes from the committed offset
    q2 = (
        spark.readStream.format("evolution_delta").load(path)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    back = spark.read.option("mergeSchema", "true").parquet(sink)
    rows = {(r.k, r.w) for r in back.collect()}
    # initial snapshot rows arrived pre-evolution (no w column -> null
    # via mergeSchema); the two post-evolution appends arrive exactly once
    assert {k for k, _ in rows} == set(range(7))
    assert (4, 6.0) in rows and (5, 7.5) in rows and (6, 9.0) in rows
    assert len(rows) == 7


def test_streaming_read_change_feed(registered, tmp_path):
    """readChangeFeed=true: the stream emits row-level CHANGES (table
    cols + _change_type + _commit_version) — the initial snapshot as
    inserts, appends as inserts, DML commits from their CDF sidecars
    (exact pre/post-image pairs, which the plain stream can only fail
    on). A DML commit WITHOUT sidecars fails loudly."""
    from evolution_spark.io.delta_log import (
        commit_delta,
        delete_delta_rows,
        update_delta_rows,
        write_delta_snapshot,
    )

    spark = registered
    path = str(tmp_path / "cdfsrc")
    write_delta_snapshot(
        spark.range(6).select(F.col("id").alias("k"),
                              (F.col("id") * 10).alias("v")),
        path, configuration={"delta.enableChangeDataFeed": "true"},
    )
    update_delta_rows(spark, path, "k = 2", {"v": "v + 1"})   # v1
    delete_delta_rows(spark, path, "k = 5")                   # v2
    commit_delta(
        spark.createDataFrame([(9, 90)], "k long, v long"), path,
        mode="append",                                        # v3
    )

    q = (
        spark.readStream.format("evolution_delta")
        .option("readChangeFeed", "true")
        .option("startingVersion", 1)
        .load(path)
        .writeStream.format("memory").queryName("cdf_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM cdf_stream").collect()
    got = sorted((r.k, r.v, r._change_type, r._commit_version) for r in rows)
    assert got == [
        (2, 20, "update_preimage", 1),
        (2, 21, "update_postimage", 1),
        (5, 50, "delete", 2),
        (9, 90, "insert", 3),
    ]

    # initial-snapshot mode (no startingVersion): current rows as inserts
    q2 = (
        spark.readStream.format("evolution_delta")
        .option("readChangeFeed", "true")
        .load(path)
        .writeStream.format("memory").queryName("cdf_snapshot")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    snap = spark.sql("SELECT * FROM cdf_snapshot").collect()
    assert {r._change_type for r in snap} == {"insert"}
    assert sorted(r.k for r in snap) == [0, 1, 2, 3, 4, 9]

    # batch readChangeFeed points at table_changes
    import pytest as _pytest

    with _pytest.raises(Exception, match="STREAMING option"):
        spark.read.format("evolution_delta").option(
            "readChangeFeed", "true"
        ).load(path).collect()


def test_streaming_change_feed_requires_sidecars(registered, tmp_path):
    from evolution_spark.io.delta_log import (
        delete_delta_rows,
        write_delta_snapshot,
    )
    from evolution_spark.io.delta_source import _StreamReader

    spark = registered
    path = str(tmp_path / "cdfnoside")
    write_delta_snapshot(
        spark.range(4).select(F.col("id").alias("k")), path  # CDF OFF
    )
    delete_delta_rows(spark, path, "k = 1")  # v1: DV commit, no sidecars
    reader = _StreamReader({"path": path, "readChangeFeed": "true"})
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="without CDF sidecars"):
        reader.partitions(
            {"version": 0, "snapshot_done": True},
            {"version": 1, "snapshot_done": True},
        )


def test_cdf_stream_checkpoint_restart_across_schema_evolution(
    registered, tmp_path
):
    """Round-9 composition of the r08 proofs: a CHECKPOINTED readChangeFeed
    stream (file sink — memory sinks can't recover checkpoints) stopped
    before an in-history RENAME + ADD COLUMN + DML, then RESTARTED with the
    same checkpoint. The fresh reader pins the evolved schema, resumes from
    the committed offset, and the post-evolution changes (update pre/post
    images from CDF sidecars under RENAMED physical names, the append's
    inserts) arrive exactly once with exact values."""
    from pyspark.sql import types as T

    from evolution_spark.io.delta_log import (
        commit_delta,
        evolve_delta_schema,
        rename_delta_column,
        update_delta_rows,
        upgrade_delta_to_column_mapping,
        write_delta_snapshot,
    )

    spark = registered
    path = str(tmp_path / "cdfevosrc")
    sink = str(tmp_path / "cdfevosink")
    ckpt = str(tmp_path / "cdfevockpt")
    write_delta_snapshot(
        spark.range(4).select(F.col("id").alias("k"),
                              (F.col("id") * 10).alias("v")),
        path, configuration={"delta.enableChangeDataFeed": "true"},
    )

    q = (
        spark.readStream.format("evolution_delta")
        .option("readChangeFeed", "true")
        .load(path)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    first = spark.read.parquet(sink)
    assert sorted(r.k for r in first.collect()) == [0, 1, 2, 3]
    assert {r._change_type for r in first.collect()} == {"insert"}

    # in-history evolution while the stream is DOWN: mapping upgrade (v1),
    # RENAME v->val (v2), ADD COLUMN w (v3), UPDATE with sidecars (v4),
    # append under the evolved schema (v5)
    upgrade_delta_to_column_mapping(path)
    rename_delta_column(path, "v", "val")
    evolve_delta_schema(path, [("w", T.DoubleType())])
    update_delta_rows(spark, path, "k = 2", {"val": "val + 1"})
    commit_delta(
        spark.createDataFrame([(9, 90, 4.5)], "k long, val long, w double"),
        path, mode="append",
    )

    q2 = (
        spark.readStream.format("evolution_delta")
        .option("readChangeFeed", "true")
        .load(path)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    # explicit all-nullable schema: the sink holds two generations
    # (pre-rename files carry v, post-rename val/w) and parquet's schema
    # merge would mark the generation-specific columns required
    back = spark.read.schema(
        "k long, v long, val long, w double, "
        "_change_type string, _commit_version long"
    ).parquet(sink)
    changes = sorted(
        (r._commit_version, r._change_type, r.k, r.val, r.w)
        for r in back.collect() if r._commit_version >= 4
    )
    assert changes == [
        (4, "update_postimage", 2, 21, None),
        (4, "update_preimage", 2, 20, None),
        (5, "insert", 9, 90, 4.5),
    ]
    # exactly-once: restart re-delivered nothing from the snapshot batch
    assert back.where(F.col("_commit_version") < 4).count() == 4


def test_sink_refuses_invariant_tables(registered, tmp_path):
    """The evolution_delta sink is a row-adding path with no SparkSession
    to validate with — legacy delta.invariants must refuse like CHECK
    constraints do, not silently commit unvalidated rows (ADVICE r09)."""
    import json as _json
    import pathlib

    from evolution_spark.io.delta_log import (
        read_delta_snapshot,
        write_delta_snapshot,
    )

    spark = registered
    path = str(tmp_path / "wsink_inv")
    write_delta_snapshot(
        spark.range(1, 4).select(F.col("id").alias("k")), path
    )
    log = pathlib.Path(path) / "_delta_log"
    v0 = (log / f"{0:020d}.json").read_text().splitlines()
    meta = next(_json.loads(l) for l in v0 if "metaData" in l)
    sch = _json.loads(meta["metaData"]["schemaString"])
    sch["fields"][0]["metadata"] = {
        "delta.invariants": '{"expression":{"expression":"k > 0"}}'
    }
    meta["metaData"]["schemaString"] = _json.dumps(sch)
    (log / f"{1:020d}.json").write_text(_json.dumps(meta) + "\n")
    with pytest.raises(Exception, match="column invariants"):
        spark.range(4, 6).select(F.col("id").alias("k")).write.format(
            "evolution_delta").mode("append").save(path)
    assert read_delta_snapshot(spark, path).count() == 3  # nothing landed


def test_sink_refuses_generated_column_tables(registered, tmp_path):
    """Generated columns carry the same row-level obligation as
    invariants — the sink has no SparkSession to validate with."""
    import json as _json
    import pathlib

    from evolution_spark.io.delta_log import write_delta_snapshot

    spark = registered
    path = str(tmp_path / "wsink_gen")
    write_delta_snapshot(
        spark.range(1, 4).select(
            F.col("id"), (F.col("id") * 2).alias("twice")
        ), path,
    )
    log = pathlib.Path(path) / "_delta_log"
    v0 = (log / f"{0:020d}.json").read_text().splitlines()
    meta = next(_json.loads(l) for l in v0 if "metaData" in l)
    sch = _json.loads(meta["metaData"]["schemaString"])
    next(f for f in sch["fields"] if f["name"] == "twice")["metadata"] = {
        "delta.generationExpression": "id * 2"
    }
    meta["metaData"]["schemaString"] = _json.dumps(sch)
    (log / f"{1:020d}.json").write_text(_json.dumps(meta) + "\n")
    with pytest.raises(Exception, match="generated columns"):
        spark.range(4, 6).select(
            F.col("id"), (F.col("id") * 2).alias("twice")
        ).write.format("evolution_delta").mode("append").save(path)


def test_stream_survives_identity_watermark_commits(registered, tmp_path):
    """Identity high-water-mark bumps are metadata-only bookkeeping in
    every generated append — the streaming evolution guard must NOT treat
    them as schema changes (review r10 pass 2: streams over identity
    tables died on every append)."""
    import json as _json
    import pathlib

    from evolution_spark.io.delta_log import (
        commit_delta,
        write_delta_snapshot,
    )

    spark = registered
    path = str(tmp_path / "ident_stream")
    write_delta_snapshot(
        spark.range(1, 4).select(
            (F.col("id") * 10).alias("uid"), F.col("id").alias("k")
        ), path,
    )
    log = pathlib.Path(path) / "_delta_log"
    v0 = log / f"{0:020d}.json"
    lines = []
    for ln in v0.read_text().splitlines():
        a = _json.loads(ln)
        if "metaData" in a:
            sj = _json.loads(a["metaData"]["schemaString"])
            for f in sj["fields"]:
                if f["name"] == "uid":
                    f["metadata"] = {
                        "delta.identity.start": 10,
                        "delta.identity.step": 10,
                        "delta.identity.highWaterMark": 30,
                        "delta.identity.allowExplicitInsert": False,
                    }
            a["metaData"]["schemaString"] = _json.dumps(sj)
        lines.append(_json.dumps(a))
    v0.write_text("\n".join(lines) + "\n")

    q = (spark.readStream.format("evolution_delta").load(path)
         .writeStream.format("memory").queryName("identstream")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(processingTime="0 seconds")
         .start())
    try:
        q.processAllAvailable()
        assert spark.sql("select count(*) n from identstream").first().n == 3
        # generated append: carries the hwm metaData action + adds
        commit_delta(spark.range(4, 7).select(F.col("id").alias("k")),
                     str(path), mode="append")
        q.processAllAvailable()
        assert spark.sql("select count(*) n from identstream").first().n == 6
    finally:
        q.stop()
