"""Iceberg v2 merge-on-read deletes: position-delete snapshots
(``append_position_deletes``) and sequence-scoped GLOBAL equality deletes
(``append_equality_deletes``) apply during the scan, time travel sees
pre-delete rows, compaction materializes both away, and the malformed /
partition-scoped equality shapes refuse loudly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from evolution_spark.io.iceberg_meta import (
    IcebergFormatError,
    append_iceberg_snapshot,
    append_position_deletes,
    compact_iceberg_table,
    read_iceberg_table,
    write_iceberg_table,
)


def _positions_of(spark, table_dir, predicate):
    """(file_path, pos) pairs of rows matching ``predicate`` — computed the
    way a real DELETE would, from the scan's file/row-index metadata."""
    rows = (
        # pathGlobFilter: scan data files only (delete-* files share data/)
        spark.read.option("pathGlobFilter", "part-*").parquet(f"{table_dir}/data")
        .where(predicate)
        .select(
            F.regexp_replace(
                F.col("_metadata.file_path"), "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/"
            ).alias("fp"),
            F.col("_metadata.row_index").alias("ri"),
        )
        .collect()
    )
    return [(r.fp, r.ri) for r in rows]


def test_position_deletes_roundtrip(spark, tmp_path):
    path = str(tmp_path / "posdel")
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    write_iceberg_table(df, path)
    append_iceberg_snapshot(df.select(F.col("k") + 100, F.col("v") + 1000).toDF("k", "v"), path)

    dels = _positions_of(spark, path, "k % 7 = 0")
    res = append_position_deletes(path, dels)
    assert res["position-deletes"] == len(dels) > 0

    got = {r.k for r in read_iceberg_table(spark, path).collect()}
    assert got == {k for k in range(200) if k % 7 != 0}
    # values of survivors intact
    vs = {r.v for r in read_iceberg_table(spark, path).collect()}
    assert vs == {k * 10 if k < 100 else (k - 100) * 10 + 1000
                  for k in range(200) if k % 7 != 0}


def test_position_deletes_time_travel_and_stacking(spark, tmp_path):
    path = str(tmp_path / "posdel_tt")
    df = spark.range(60).select(F.col("id").alias("k"))
    s0 = write_iceberg_table(df, path)
    d1 = append_position_deletes(path, _positions_of(spark, path, "k % 5 = 0"))
    d2 = append_position_deletes(path, _positions_of(spark, path, "k % 9 = 0"))

    assert read_iceberg_table(spark, path, snapshot_id=s0["snapshot-id"]).count() == 60
    after1 = {r.k for r in read_iceberg_table(
        spark, path, snapshot_id=d1["snapshot-id"]).collect()}
    assert after1 == {k for k in range(60) if k % 5 != 0}
    # deletes stack: the second snapshot carries the first delete manifest
    # by reference
    after2 = {r.k for r in read_iceberg_table(
        spark, path, snapshot_id=d2["snapshot-id"]).collect()}
    assert after2 == {k for k in range(60) if k % 5 != 0 and k % 9 != 0}
    assert read_iceberg_table(spark, path).count() == len(after2)


def test_compaction_materializes_deletes(spark, tmp_path):
    """A REPLACE snapshot starts a fresh manifest list, so compaction
    rewrites survivors only and drops the delete manifests."""
    import json
    from pathlib import Path

    path = str(tmp_path / "posdel_compact")
    df = spark.range(50).select(F.col("id").alias("k"))
    write_iceberg_table(df, path)
    append_position_deletes(path, _positions_of(spark, path, "k >= 40"))
    compact_iceberg_table(spark, path, target_files=1)

    got = {r.k for r in read_iceberg_table(spark, path).collect()}
    assert got == set(range(40))
    # post-compaction metadata: current snapshot has NO delete manifests
    from evolution_spark.io.avro import _read_avro
    from evolution_spark.io.iceberg_meta import _load_metadata

    meta, _ = _load_metadata(Path(path))
    cur = next(s for s in meta["snapshots"]
               if s["snapshot-id"] == meta["current-snapshot-id"])
    contents = [int(m.get("content") or 0)
                for m in _read_avro(Path(cur["manifest-list"]))]
    assert contents == [0]


def test_position_deletes_partitioned_table(spark, tmp_path):
    path = str(tmp_path / "posdel_part")
    df = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("p")
    )
    write_iceberg_table(df, path, partition_by=["p"])
    append_position_deletes(path, _positions_of(spark, path, "k < 10"))
    got = {r.k for r in read_iceberg_table(spark, path).collect()}
    assert got == set(range(10, 40))
    # partition pruning composes with delete application
    pruned = read_iceberg_table(spark, path, partition_where={"p": 1})
    assert {r.k for r in pruned.collect()} == {k for k in range(10, 40) if k % 4 == 1}


def test_malformed_equality_delete_metadata_refused(spark, tmp_path):
    import json
    from pathlib import Path

    from evolution_spark.io.avro import _read_avro, _write_avro
    from evolution_spark.io.iceberg_meta import _load_metadata

    path = str(tmp_path / "eqdel")
    df = spark.range(10).select(F.col("id").alias("k"))
    write_iceberg_table(df, path)
    append_position_deletes(path, _positions_of(spark, path, "k = 0"))
    # flip the delete entry's content to 2 (equality) in the delete manifest
    meta, _ = _load_metadata(Path(path))
    cur = next(s for s in meta["snapshots"]
               if s["snapshot-id"] == meta["current-snapshot-id"])
    mlist = _read_avro(Path(cur["manifest-list"]))
    dman = next(m for m in mlist if int(m.get("content") or 0) == 1)
    # rewrite the manifest with content=2 on its entry
    import evolution_spark.io.iceberg_meta as im

    entries = _read_avro(Path(dman["manifest_path"]))
    entries[0]["data_file"]["content"] = 2
    ice_schema = next(s for s in meta["schemas"]
                      if s["schema-id"] == meta["current-schema-id"])
    spec_fields = next(sp for sp in meta["partition-specs"]
                       if sp["spec-id"] == meta["default-spec-id"])["fields"]
    part_schema = im._partition_record_schema(spec_fields, ice_schema)
    _write_avro(Path(dman["manifest_path"]),
                im._manifest_entry_schema(part_schema), entries,
                meta={"format-version": "2", "content": "deletes"})
    with pytest.raises(IcebergFormatError, match="equality"):
        read_iceberg_table(spark, path)


def test_iceberg_table_changes_lifecycle(spark, tmp_path):
    """Inserts from appends, deletes from position-delete snapshots,
    refusal on replace (and skip_rewrites opt-in), exclusive-after /
    inclusive-to windowing."""
    from evolution_spark.io.iceberg_meta import iceberg_table_changes

    path = str(tmp_path / "icecdc")
    df = spark.range(0, 10).select(F.col("id").alias("k"))
    s0 = write_iceberg_table(df, path)
    s1 = append_iceberg_snapshot(
        spark.range(10, 16).select(F.col("id").alias("k")), path
    )
    d2 = append_position_deletes(path, _positions_of(spark, path, "k % 5 = 0"))

    ch = iceberg_table_changes(spark, path)
    got = {(r.k, r._change_type, r._snapshot_id) for r in ch.collect()}
    expect = (
        {(k, "insert", s0["snapshot-id"]) for k in range(10)}
        | {(k, "insert", s1["snapshot-id"]) for k in range(10, 16)}
        | {(k, "delete", d2["snapshot-id"]) for k in (0, 5, 10, 15)}
    )
    assert got == expect

    # consumer holding s1: only the delete snapshot arrives
    inc = iceberg_table_changes(spark, path, after_snapshot_id=s1["snapshot-id"])
    assert {(r.k, r._change_type) for r in inc.collect()} == {
        (k, "delete") for k in (0, 5, 10, 15)
    }
    # windowed to s1: no deletes yet
    upto = iceberg_table_changes(
        spark, path, after_snapshot_id=s0["snapshot-id"],
        to_snapshot_id=s1["snapshot-id"],
    )
    assert {(r.k, r._change_type) for r in upto.collect()} == {
        (k, "insert") for k in range(10, 16)
    }

    # replace snapshots refuse by default, skip under the opt-in
    compact_iceberg_table(spark, path, target_files=1)
    with pytest.raises(IcebergFormatError, match="REPLACE"):
        iceberg_table_changes(spark, path, after_snapshot_id=d2["snapshot-id"])
    assert (
        iceberg_table_changes(
            spark, path, after_snapshot_id=d2["snapshot-id"], skip_rewrites=True
        ).count()
        == 0
    )


def test_iceberg_table_changes_guards(spark, tmp_path):
    from evolution_spark.io.iceberg_meta import iceberg_table_changes

    path = str(tmp_path / "icecdc2")
    s0 = write_iceberg_table(
        spark.range(3).select(F.col("id").alias("k")), path
    )
    with pytest.raises(ValueError, match="not in history"):
        iceberg_table_changes(spark, path, after_snapshot_id=12345)
    # empty window -> empty frame with the change schema
    out = iceberg_table_changes(spark, path, after_snapshot_id=s0["snapshot-id"])
    assert out.count() == 0
    assert out.columns == ["k", "_change_type", "_snapshot_id"]


def test_iceberg_table_changes_rewrite_ops(spark, tmp_path):
    """Snapshots with unknown/rewrite operations refuse (row diff not
    derivable from metadata); an ADD-ONLY ``overwrite`` — this engine's
    UPDATE/MERGE shape — IS derivable and feeds delete+insert pairs."""
    import json
    from pathlib import Path

    from evolution_spark.io.iceberg_meta import (
        _load_metadata,
        iceberg_table_changes,
        update_iceberg_rows,
    )

    path = str(tmp_path / "icecdc3")
    write_iceberg_table(
        spark.range(5).select(F.col("id").alias("k"),
                              (F.col("id") * 10).alias("v")),
        path,
    )
    meta, meta_file = _load_metadata(Path(path))
    base = meta["current-snapshot-id"]
    meta["snapshots"][-1]["summary"]["operation"] = "foreign-rewrite"
    meta_file.write_text(json.dumps(meta))
    with pytest.raises(IcebergFormatError, match="foreign-rewrite"):
        iceberg_table_changes(spark, path)
    # restore, then an UPDATE's overwrite snapshot flows as delete+insert
    meta["snapshots"][-1]["summary"]["operation"] = "append"
    meta_file.write_text(json.dumps(meta))
    update_iceberg_rows(spark, path, "k = 3", {"v": "v + 1"})
    ch = iceberg_table_changes(spark, path, base)
    rows = sorted((r["_change_type"], r.k, r.v) for r in ch.collect())
    assert rows == [("delete", 3, 30), ("insert", 3, 31)]


def test_equality_deletes_read_with_sequence_scoping(spark, tmp_path):
    """Equality deletes (content=2) READ: matching rows in OLDER data
    files disappear, while rows (re-)appended AFTER the delete with the
    same key survive — the spec's strict sequence rule that makes
    equality deletes the upsert primitive."""
    from evolution_spark.io.iceberg_meta import append_equality_deletes

    path = str(tmp_path / "eqread")
    df = spark.range(20).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    write_iceberg_table(df, path)
    append_equality_deletes(path, [{"k": 3}, {"k": 7}, {"k": 11}], ["k"])
    got = {(r.k, r.v) for r in read_iceberg_table(spark, path).collect()}
    assert got == {(k, k * 10) for k in range(20) if k not in (3, 7, 11)}

    # re-append k=3 AFTER the delete: newer sequence -> survives
    append_iceberg_snapshot(
        spark.createDataFrame([(3, 999)], "k long, v long"), path
    )
    got = {(r.k, r.v) for r in read_iceberg_table(spark, path).collect()}
    assert (3, 999) in got and (3, 30) not in got
    assert len(got) == 18

    # a second equality delete hits BOTH generations (both older than it)
    append_equality_deletes(path, [{"k": 3}], ["k"])
    got = {r.k for r in read_iceberg_table(spark, path).collect()}
    assert 3 not in got and len(got) == 17


def test_equality_deletes_multi_column_and_compaction(spark, tmp_path):
    from evolution_spark.io.iceberg_meta import append_equality_deletes

    path = str(tmp_path / "eqread2")
    df = spark.range(12).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    )
    write_iceberg_table(df, path)
    # composite key: only (k, g) BOTH matching dies
    append_equality_deletes(path, [{"k": 4, "g": 1}, {"k": 5, "g": 2}], ["k", "g"])
    got = {(r.k, r.g) for r in read_iceberg_table(spark, path).collect()}
    assert (4, 1) not in got and (5, 2) not in got and len(got) == 10
    # compaction materializes equality deletes away
    compact_iceberg_table(spark, path, target_files=1)
    got2 = {(r.k, r.g) for r in read_iceberg_table(spark, path).collect()}
    assert got2 == got
    # position + equality compose
    path2 = str(tmp_path / "eqread3")
    write_iceberg_table(spark.range(10).select(F.col("id").alias("k"),
                                               F.lit(0).alias("g")), path2)
    append_position_deletes(path2, _positions_of(spark, path2, "k = 0"))
    append_equality_deletes(path2, [{"k": 9}], ["k"])
    assert {r.k for r in read_iceberg_table(spark, path2).collect()} == set(range(1, 9))


def test_equality_deletes_guards(spark, tmp_path):
    from evolution_spark.io.iceberg_meta import append_equality_deletes

    path = str(tmp_path / "eqguard")
    write_iceberg_table(spark.range(3).select(F.col("id").alias("k")), path)
    with pytest.raises(ValueError, match="non-empty"):
        append_equality_deletes(path, [], ["k"])
    with pytest.raises(ValueError, match="not in schema"):
        append_equality_deletes(path, [{"z": 1}], ["z"])
    with pytest.raises(ValueError, match="exactly"):
        append_equality_deletes(path, [{"k": 1, "extra": 2}], ["k"])


def test_deletes_refused_on_empty_table(tmp_path):
    """A table with no current snapshot (foreign-created, never appended)
    refuses position/equality deletes with a clear error instead of a
    bare StopIteration from the snapshot lookup."""
    import json as _json

    from evolution_spark.io.iceberg_meta import (
        append_equality_deletes,
        append_position_deletes,
    )

    meta_dir = tmp_path / "empty" / "metadata"
    meta_dir.mkdir(parents=True)
    meta_name = "00000-deadbeef.metadata.json"
    (meta_dir / meta_name).write_text(_json.dumps({
        "format-version": 2,
        "current-snapshot-id": None,
        "snapshots": [],
        "schemas": [],
        "partition-specs": [],
    }))
    (meta_dir / "version-hint.text").write_text(meta_name)
    path = str(tmp_path / "empty")
    with pytest.raises(ValueError, match="no current snapshot"):
        append_position_deletes(path, [("f.parquet", 0)])
    with pytest.raises(ValueError, match="no current snapshot"):
        append_equality_deletes(path, [{"k": 1}], ["k"])


def test_delete_iceberg_rows_predicate_lifecycle(spark, tmp_path):
    """Predicate-driven DELETE: matched rows vanish from the scan, a
    second DELETE stacks, already-deleted rows are not re-deleted, and
    compaction materializes the survivors."""
    from evolution_spark.io.iceberg_meta import (
        compact_iceberg_table,
        delete_iceberg_rows,
        read_iceberg_table,
    )

    path = str(tmp_path / "preddel")
    write_iceberg_table(
        spark.range(40).selectExpr("id AS k", "id * 2 AS v").repartition(3),
        path,
    )
    res = delete_iceberg_rows(spark, path, "k % 5 = 0")
    assert res["deleted_rows"] == 8
    got = {r.k for r in read_iceberg_table(spark, path).collect()}
    assert got == {k for k in range(40) if k % 5 != 0}
    # second predicate stacks; overlap with the first is NOT re-deleted
    res2 = delete_iceberg_rows(spark, path, "k % 2 = 0")
    assert res2["deleted_rows"] == 16  # evens minus the 4 already-dead %10
    got = {r.k for r in read_iceberg_table(spark, path).collect()}
    assert got == {k for k in range(40) if k % 5 != 0 and k % 2 != 0}
    # no match -> no-op, no new snapshot
    assert delete_iceberg_rows(spark, path, "k = -1")["deleted_rows"] == 0
    # compaction materializes the deletes away
    compact_iceberg_table(spark, path)
    assert {r.k for r in read_iceberg_table(spark, path).collect()} == got


def test_update_iceberg_rows_atomic_snapshot(spark, tmp_path):
    """Predicate-driven UPDATE: one snapshot carries BOTH the position
    deletes and the updated copies — time travel to the parent shows the
    pre-update rows, the new snapshot the post-update rows, and no
    intermediate state exists."""
    from evolution_spark.io.iceberg_meta import (
        _load_metadata,
        read_iceberg_table,
        update_iceberg_rows,
    )
    from pathlib import Path as _P

    path = str(tmp_path / "predupd")
    write_iceberg_table(
        spark.range(30).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
        .repartition(3),
        path,
    )
    metadata, _ = _load_metadata(_P(path))
    base_snap = metadata["current-snapshot-id"]
    n_snaps = len(metadata["snapshots"])
    res = update_iceberg_rows(spark, path, "k % 3 = 0", {"v": "v + 100"})
    assert res["updated_rows"] == 10
    metadata, _ = _load_metadata(_P(path))
    assert len(metadata["snapshots"]) == n_snaps + 1  # ONE snapshot
    snap = next(
        s for s in metadata["snapshots"]
        if s["snapshot-id"] == metadata["current-snapshot-id"]
    )
    assert snap["summary"]["operation"] == "overwrite"
    assert snap["summary"]["added-position-deletes"] == "10"
    got = {(r.k, r.v) for r in read_iceberg_table(spark, path).collect()}
    assert got == {
        (k, float(k) + (100 if k % 3 == 0 else 0)) for k in range(30)
    }
    # parent snapshot still reads the pre-update rows
    old = {(r.k, r.v) for r in
           read_iceberg_table(spark, path, snapshot_id=base_snap).collect()}
    assert old == {(k, float(k)) for k in range(30)}
    # no match -> no-op
    assert update_iceberg_rows(spark, path, "k = -1", {"v": "0.0"})[
        "updated_rows"
    ] == 0


def test_update_iceberg_rows_partitioned(spark, tmp_path):
    """UPDATE preserves the partition layout of the updated copies and
    refuses to rewrite partition values."""
    from evolution_spark.io.iceberg_meta import (
        read_iceberg_table,
        update_iceberg_rows,
    )

    path = str(tmp_path / "predupdp")
    write_iceberg_table(
        spark.range(20).selectExpr("id AS k", "id % 2 AS p", "id * 10 AS v"),
        path, partition_by=["p"],
    )
    with pytest.raises(ValueError, match="partition source columns"):
        update_iceberg_rows(spark, path, "k < 5", {"p": "1 - p"})
    res = update_iceberg_rows(spark, path, "p = 1 AND k < 10", {"v": "v + 1"})
    assert res["updated_rows"] == 5
    got = {(r.k, r.p, r.v) for r in read_iceberg_table(spark, path).collect()}
    assert got == {
        (k, k % 2, k * 10 + (1 if k % 2 == 1 and k < 10 else 0))
        for k in range(20)
    }
    # partition pruning still works on the updated table (metadata-level)
    pruned = read_iceberg_table(spark, path, partition_where={"p": 1})
    assert {r.k for r in pruned.collect()} == {k for k in range(20) if k % 2}


def test_merge_iceberg_cdc_lifecycle(spark, tmp_path):
    """Merge-on-read MERGE: one snapshot carries position deletes for
    every matched row version plus new files with exactly the upserted
    rows; updates, deletes and inserts land atomically and the pre-merge
    snapshot stays time-travel readable."""
    from evolution_spark.io.iceberg_meta import (
        _load_metadata,
        compact_iceberg_table,
        merge_iceberg_cdc,
        read_iceberg_table,
    )
    from pathlib import Path as _P

    path = str(tmp_path / "icemrg")
    write_iceberg_table(
        spark.range(20).selectExpr("id AS k", "id * 10 AS v").repartition(3),
        path,
    )
    md, _ = _load_metadata(_P(path))
    base_snap = md["current-snapshot-id"]
    changes = spark.createDataFrame(
        [(5, 555, "u"), (7, 777, "u"), (4, None, "d"),
         (100, 1000, "u"), (999, None, "d")],  # missing-key delete: no-op
        "k long, v long, _op string",
    )
    res = merge_iceberg_cdc(spark, path, changes, key="k")
    assert res["matched"] == 3  # 5, 7 (updates) + 4 (delete)
    assert res["new_rows"] == 3  # updated 5, 7 + inserted 100
    got = {(r.k, r.v) for r in read_iceberg_table(spark, path).collect()}
    want = {(k, k * 10) for k in range(20) if k not in (4, 5, 7)}
    want |= {(5, 555), (7, 777), (100, 1000)}
    assert got == want
    # ONE snapshot; pre-merge state still readable
    md, _ = _load_metadata(_P(path))
    assert len(md["snapshots"]) == 2
    old = read_iceberg_table(spark, path, snapshot_id=base_snap)
    assert {(r.k, r.v) for r in old.collect()} == {
        (k, k * 10) for k in range(20)
    }
    # compaction materializes the merge away
    compact_iceberg_table(spark, path)
    assert {(r.k, r.v) for r in read_iceberg_table(spark, path).collect()} == want


def test_merge_iceberg_cdc_guards(spark, tmp_path):
    from evolution_spark.io.iceberg_meta import (
        append_iceberg_snapshot,
        merge_iceberg_cdc,
    )

    path = str(tmp_path / "icemrgg")
    write_iceberg_table(
        spark.range(5).selectExpr("id AS k", "id AS v"), path
    )
    with pytest.raises(ValueError, match="duplicate key"):
        merge_iceberg_cdc(
            spark, path,
            spark.createDataFrame([(1, 1, "u"), (1, 2, "u")],
                                  "k long, v long, _op string"),
            key="k",
        )
    with pytest.raises(ValueError, match="unknown op"):
        merge_iceberg_cdc(
            spark, path,
            spark.createDataFrame([(1, 1, "x")], "k long, v long, _op string"),
            key="k",
        )
    with pytest.raises(ValueError, match="NULL merge key"):
        merge_iceberg_cdc(
            spark, path,
            spark.createDataFrame([(None, 1, "u")], "k long, v long, _op string"),
            key="k",
        )
    # duplicated TARGET key under an upsert refuses (MOR appends ONE
    # version; collapsing two surviving rows would change cardinality)
    append_iceberg_snapshot(
        spark.createDataFrame([(2, 99)], "k long, v long"), path
    )
    with pytest.raises(ValueError, match="matches 2 target rows"):
        merge_iceberg_cdc(
            spark, path,
            spark.createDataFrame([(2, 5, "u")], "k long, v long, _op string"),
            key="k",
        )
    # pure-delete merge: no data manifest needed, rows vanish
    res = merge_iceberg_cdc(
        spark, path,
        spark.createDataFrame([(0, None, "d")], "k long, v long, _op string"),
        key="k",
    )
    assert res["matched"] == 1 and res["new_files"] == 0


def test_iceberg_stats_skipping(spark, tmp_path):
    """Manifest column bounds (field-id keyed, spec single-value binary
    serialization) prune files whose range provably excludes a skip_where
    predicate — BEFORE Spark lists them; bounds survive rename (id-keyed)
    and deletes still apply on pruned reads."""
    from evolution_spark.io.iceberg_meta import (
        delete_iceberg_rows,
        read_iceberg_table,
        rename_iceberg_column,
        write_iceberg_table,
    )

    path = str(tmp_path / "skip")
    df = spark.range(4000).selectExpr(
        "id AS k", "id * 2 AS v", "CAST(id AS STRING) AS s"
    )
    write_iceberg_table(df.repartitionByRange(8, "k"), path)
    full = read_iceberg_table(spark, path)
    assert len(full.inputFiles()) == 8
    pruned = read_iceberg_table(spark, path, skip_where=[("k", ">=", 3600)])
    assert len(pruned.inputFiles()) == 1
    assert {r.k for r in pruned.where("k >= 3600").collect()} == set(
        range(3600, 4000)
    )
    # rename-safe: bounds are field-id keyed, not name keyed
    rename_iceberg_column(path, "k", "key")
    p2 = read_iceberg_table(spark, path, skip_where=[("key", "=", 3999)])
    assert len(p2.inputFiles()) == 1
    assert p2.where("key = 3999").count() == 1
    # string bounds prune too
    p3 = read_iceberg_table(spark, path, skip_where=[("s", "=", "42")])
    assert len(p3.inputFiles()) < 8
    assert p3.where("s = '42'").count() == 1
    # position deletes still apply on the pruned scan
    delete_iceberg_rows(spark, path, "key = 3999")
    p4 = read_iceberg_table(spark, path, skip_where=[("key", "=", 3999)])
    assert p4.where("key = 3999").count() == 0
    # unknown column refuses (a typo would silently scan everything)
    with pytest.raises(ValueError, match="zz"):
        read_iceberg_table(spark, path, skip_where=[("zz", "=", 1)])


def test_iceberg_bounds_codec_roundtrip():
    """Single-value binary serialization roundtrips for every pruned
    type (spec Appendix D: little-endian fixed widths, UTF-8 strings)."""
    import datetime
    import struct

    from evolution_spark.io.iceberg_meta import _decode_bound, _encode_bound

    assert _encode_bound("int", 7) == struct.pack("<i", 7)
    assert _decode_bound("long", _encode_bound("long", -(1 << 40))) == -(1 << 40)
    assert _decode_bound("double", _encode_bound("double", 2.5)) == 2.5
    assert abs(_decode_bound("float", _encode_bound("float", 1.25)) - 1.25) < 1e-6
    assert _decode_bound("string", _encode_bound("string", "héllo")) == "héllo"
    d = datetime.date(2024, 3, 1)
    days = (d - datetime.date(1970, 1, 1)).days
    assert _decode_bound("date", _encode_bound("date", d)) == days
    assert _encode_bound("binary", b"x") is None  # unsupported: no bounds


def test_partition_scoped_equality_deletes(spark, tmp_path):
    """Round-8: a partition-SCOPED equality delete (real values in the
    delete entry's partition record) applies ONLY to data files in that
    partition — the same key value in every other partition survives (the
    over-delete regression the old refusal guarded against), and the
    strict-sequence rule still lets re-appends into the scoped partition
    survive."""
    from evolution_spark.io.iceberg_meta import append_equality_deletes

    path = str(tmp_path / "eqscoped")
    # k repeats across partitions: k in 0..9, seg in (a, b)
    df = spark.range(20).select(
        (F.col("id") % 10).alias("k"),
        F.when(F.col("id") < 10, "a").otherwise("b").alias("seg"),
        (F.col("id") * 10).alias("v"),
    )
    write_iceberg_table(df, path, partition_by=["seg"])
    append_equality_deletes(
        path, [{"k": 3}, {"k": 7}], ["k"], partition_scope={"seg": "a"}
    )
    got = {(r.k, r.seg) for r in read_iceberg_table(spark, path).collect()}
    # scoped partition loses the keys; the OTHER partition keeps them
    assert (3, "a") not in got and (7, "a") not in got
    assert (3, "b") in got and (7, "b") in got
    assert len(got) == 18

    # re-append k=3 INTO the scoped partition after the delete: newer
    # sequence -> survives (spec sequence rule composes with scoping)
    append_iceberg_snapshot(
        spark.createDataFrame([(3, "a", 999)], "k long, seg string, v long"),
        path,
    )
    got = {(r.k, r.seg, r.v) for r in read_iceberg_table(spark, path).collect()}
    assert (3, "a", 999) in got
    assert len(got) == 19

    # a global delete still hits every partition
    append_equality_deletes(path, [{"k": 5}], ["k"])
    got = {(r.k, r.seg) for r in read_iceberg_table(spark, path).collect()}
    assert (5, "a") not in got and (5, "b") not in got


def test_partition_scope_validation(spark, tmp_path):
    from evolution_spark.io.iceberg_meta import append_equality_deletes

    part = str(tmp_path / "eqval_part")
    df = spark.range(6).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("seg"),
    )
    write_iceberg_table(df, part, partition_by=["seg"])
    with pytest.raises(ValueError, match="exactly the partition fields"):
        append_equality_deletes(
            part, [{"k": 1}], ["k"], partition_scope={"nope": "a"}
        )
    with pytest.raises(ValueError, match="all null"):
        append_equality_deletes(
            part, [{"k": 1}], ["k"], partition_scope={"seg": None}
        )

    flat = str(tmp_path / "eqval_flat")
    write_iceberg_table(spark.range(3).select(F.col("id").alias("k")), flat)
    with pytest.raises(ValueError, match="unpartitioned"):
        append_equality_deletes(
            flat, [{"k": 1}], ["k"], partition_scope={"seg": "a"}
        )


def test_partition_scope_value_type_validation(spark, tmp_path):
    """Regression (round-8 review): a scope value whose TYPE differs from
    the partition field's result type would canonicalize differently from
    the data files' partition records and silently delete nothing —
    refuse loudly instead."""
    from evolution_spark.io.iceberg_meta import append_equality_deletes

    path = str(tmp_path / "eqtype")
    df = spark.range(8).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("g")
    )
    write_iceberg_table(df, path, partition_by=["g"])
    with pytest.raises(TypeError, match="does not match"):
        append_equality_deletes(
            path, [{"k": 1}], ["k"], partition_scope={"g": "1"}  # str vs long
        )
    # correctly-typed scope works
    append_equality_deletes(path, [{"k": 1}], ["k"], partition_scope={"g": 1})
    got = {(r.k, r.g) for r in read_iceberg_table(spark, path).collect()}
    assert (1, 1) not in got and len(got) == 7
