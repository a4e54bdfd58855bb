"""Iceberg expire-snapshots: only expired-only files are deleted, kept
snapshots stay readable, the current snapshot is protected."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from evolution_spark.io.iceberg_meta import (
    append_iceberg_snapshot,
    expire_iceberg_snapshots,
    read_iceberg_table,
    write_iceberg_table,
)


def test_expire_deletes_only_expired_files(spark, tmp_path):
    path = str(tmp_path / "exp")
    df = spark.range(20).select(F.col("id").alias("k"))
    s0 = write_iceberg_table(df, path)
    s1 = append_iceberg_snapshot(df.where("k >= 18"), path)

    res = expire_iceberg_snapshots(path, keep_last=1)
    # snapshot 1 (an append) still REFERENCES snapshot 0's data files via
    # the carried-forward manifests, so nothing is deletable
    assert res["expired"] == [s0["snapshot-id"]]
    assert res["deleted_data_files"] == 0
    latest = read_iceberg_table(spark, path)
    assert latest.count() == 22
    # the expired id is gone from history
    with pytest.raises(ValueError, match="not in table history"):
        read_iceberg_table(spark, path, snapshot_id=s0["snapshot-id"])
    assert read_iceberg_table(spark, path, snapshot_id=s1["snapshot-id"]).count() == 22


def test_expire_noop_and_guards(spark, tmp_path):
    path = str(tmp_path / "exp2")
    df = spark.range(5).select(F.col("id").alias("k"))
    write_iceberg_table(df, path)
    assert expire_iceberg_snapshots(path, keep_last=3)["expired"] == []
    with pytest.raises(ValueError, match="keep_last"):
        expire_iceberg_snapshots(path, keep_last=0)


def test_iceberg_reader_format_guard(spark, tmp_path):
    """Spec forward-compat: refuse format-version 3 tables and snapshots
    carrying row-level DELETE manifests instead of silently resurrecting
    deleted rows (the Iceberg twin of the Delta protocol guard)."""
    import json as _json
    import pathlib

    import pytest
    from pyspark.sql import functions as F

    from evolution_spark.io.avro import _read_avro, _write_avro
    from evolution_spark.io.iceberg_meta import (
        IcebergFormatError,
        read_iceberg_table,
        write_iceberg_table,
        _MANIFEST_LIST_SCHEMA,
    )

    path = str(tmp_path / "iceguard")
    df = spark.range(10).select(F.col("id").alias("k"))
    write_iceberg_table(df, path)
    assert read_iceberg_table(spark, path).count() == 10

    meta_dir = pathlib.Path(path) / "metadata"
    hint = (meta_dir / "version-hint.text").read_text().strip()
    meta_file = meta_dir / hint
    metadata = _json.loads(meta_file.read_text())

    # a foreign writer upgrades the table past the implemented version
    # (v3 READS since round 9 — tests/test_iceberg_v3.py — so the
    # forward-compat guard now bites at 4)
    v4 = dict(metadata, **{"format-version": 4})
    meta_file.write_text(_json.dumps(v4))
    with pytest.raises(IcebergFormatError, match="format-version 4"):
        read_iceberg_table(spark, path)
    meta_file.write_text(_json.dumps(metadata))  # restore

    # a foreign v2 writer adds a DELETE manifest whose tracked file is a
    # data file (content=0) — malformed; position deletes (content=1) are
    # SUPPORTED since round 6 (tests/test_iceberg_deletes.py), equality
    # deletes are covered by test_equality_deletes_still_refused
    snap = metadata["snapshots"][-1]
    mlist = pathlib.Path(snap["manifest-list"])
    entries = _read_avro(mlist)
    del_entry = dict(entries[0])
    del_entry["content"] = 1  # DELETES manifest pointing at a data manifest
    _write_avro(mlist, _MANIFEST_LIST_SCHEMA, entries + [del_entry],
                meta={"format-version": "2"})
    with pytest.raises(IcebergFormatError, match="malformed"):
        read_iceberg_table(spark, path)


def test_iceberg_partition_pruned_read(spark, tmp_path):
    """partition_where prunes data files from the manifest entries at the
    metadata level: the scan's inputFiles are exactly the matching
    partition's, results identical to the unpruned read + filter."""
    from pyspark.sql import functions as F

    from evolution_spark.io.iceberg_meta import (
        read_iceberg_table,
        write_iceberg_table,
    )

    path = str(tmp_path / "icepart")
    df = spark.range(90).select(
        (F.col("id") % 3).alias("bucket"), F.col("id").alias("k")
    )
    write_iceberg_table(df, path, partition_by=["bucket"])

    full = read_iceberg_table(spark, path)
    assert full.count() == 90
    pruned = read_iceberg_table(spark, path, partition_where={"bucket": 1})
    assert pruned.count() == 30
    assert all("bucket=1" in f for f in pruned.inputFiles())
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    # values match the plain filter
    assert sorted(r.k for r in pruned.collect()) == sorted(
        r.k for r in full.where("bucket = 1").collect()
    )
    # no matching partition -> empty frame, right schema
    none = read_iceberg_table(spark, path, partition_where={"bucket": 99})
    assert none.count() == 0 and none.columns == ["bucket", "k"]


def test_iceberg_partition_where_validates_keys(spark, tmp_path):
    """Pruning on a key that is not a partition column must raise, not
    silently return an empty result."""
    import pytest
    from pyspark.sql import functions as F

    from evolution_spark.io.iceberg_meta import (
        read_iceberg_table,
        write_iceberg_table,
    )

    path = str(tmp_path / "icevalidate")
    df = spark.range(30).select((F.col("id") % 3).alias("bucket"),
                                F.col("id").alias("k"))
    write_iceberg_table(df, path, partition_by=["bucket"])
    with pytest.raises(ValueError, match="neither a partition field"):
        read_iceberg_table(spark, path, partition_where={"bucket_": 1})
    # unpartitioned table: ANY key is invalid
    path2 = str(tmp_path / "icevalidate2")
    write_iceberg_table(df.select("k"), path2)
    with pytest.raises(ValueError, match="neither a partition field"):
        read_iceberg_table(spark, path2, partition_where={"k": 1})


def test_iceberg_compaction_replace_snapshot(spark, tmp_path):
    """compact_iceberg_table rewrites the current snapshot into fewer
    files as a REPLACE snapshot: rows identical, file count drops, time
    travel to the pre-compaction snapshot still reads the old layout, and
    expire afterwards reclaims the superseded files."""
    from pyspark.sql import functions as F

    from evolution_spark.io.iceberg_meta import (
        append_iceberg_snapshot,
        compact_iceberg_table,
        expire_iceberg_snapshots,
        read_iceberg_table,
        write_iceberg_table,
    )

    path = str(tmp_path / "icecompact")
    df = spark.range(100).select(F.col("id").alias("k"))
    write_iceberg_table(df.repartition(4), path)
    s1 = append_iceberg_snapshot(df.where("k < 10").repartition(3), path)

    before = read_iceberg_table(spark, path)
    assert before.count() == 110
    n_files_before = len(before.inputFiles())
    assert n_files_before >= 7

    res = compact_iceberg_table(spark, path, target_files=2)
    after = read_iceberg_table(spark, path)
    assert after.count() == 110
    assert len(after.inputFiles()) <= 2
    assert sorted(r.k for r in after.collect()) == sorted(
        r.k for r in before.collect()
    )
    # pre-compaction snapshot still readable by id
    assert read_iceberg_table(
        spark, path, snapshot_id=s1["snapshot-id"]
    ).count() == 110
    # expire reclaims the superseded layout's files
    exp = expire_iceberg_snapshots(path, keep_last=1)
    assert exp["deleted_data_files"] >= n_files_before
    assert read_iceberg_table(spark, path).count() == 110


def test_iceberg_compaction_aborts_on_concurrent_append(spark, tmp_path, monkeypatch):
    """A replace snapshot discards all prior manifests, so a compaction
    whose base snapshot was superseded by a concurrent append must abort
    instead of silently erasing the appended rows."""
    import pytest
    from pyspark.sql import functions as F

    import evolution_spark.io.iceberg_meta as im

    path = str(tmp_path / "icerace")
    df = spark.range(20).select(F.col("id").alias("k"))
    im.write_iceberg_table(df, path)

    orig_read = im.read_iceberg_table

    def read_then_append(spark_, p, snapshot_id=None, partition_where=None):
        out = orig_read(spark_, p, snapshot_id, partition_where)
        out = out.localCheckpoint()  # pin rows before the rival lands
        im.append_iceberg_snapshot(df.where("k < 3"), p)  # rival append
        return out

    monkeypatch.setattr(im, "read_iceberg_table", read_then_append)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        im.compact_iceberg_table(spark, path, target_files=1)
    monkeypatch.undo()
    # the rival's rows are intact
    assert im.read_iceberg_table(spark, path).count() == 23


def test_expire_publishes_metadata_before_reclaim(spark, tmp_path, monkeypatch):
    """Publish-then-delete ordering (ADVICE r5): a reclaim failure after
    the metadata publish must leave a fully readable table with the commit
    durable (orphans, not corruption) and must NOT wedge the table with a
    leftover commit marker."""
    import os

    import evolution_spark.io.iceberg_meta as im

    path = str(tmp_path / "exporder")
    df = spark.range(20).select(F.col("id").alias("k"))
    im.write_iceberg_table(df, path)
    # a replace snapshot makes snapshot 0's files exclusively expired
    im.compact_iceberg_table(spark, path, target_files=1)

    real_unlink = os.unlink

    def failing_unlink(p, *a, **kw):  # every reclaim unlink fails
        raise OSError("simulated storage failure during reclaim")

    monkeypatch.setattr(os, "unlink", failing_unlink)
    res = expire_iceberg_snapshots(path, keep_last=1)
    monkeypatch.setattr(os, "unlink", real_unlink)

    # the expire COMMITTED despite the reclaim failure: history truncated,
    # table readable, nothing deleted (orphans remain on disk)
    assert len(res["expired"]) == 1
    assert res["deleted_data_files"] == 0 and res["deleted_metadata_files"] == 0
    assert read_iceberg_table(spark, path).count() == 20
    # no wedge: the next commit (append) succeeds
    append_iceberg_snapshot(df.where("k < 2"), path)
    assert read_iceberg_table(spark, path).count() == 22
    # no wedge for maintenance either: a later expire with working storage
    # walks the surviving history cleanly
    res2 = expire_iceberg_snapshots(path, keep_last=1)
    assert len(res2["expired"]) == 1


def test_rollback_iceberg_table(spark, tmp_path):
    """Rollback moves current-snapshot-id back (metadata-only); the
    abandoned snapshots stay readable until expire, sequence numbers
    stay monotonic for later writes, and rollback is reversible."""
    from pyspark.sql import functions as F

    from evolution_spark.io.iceberg_meta import (
        _load_metadata,
        append_iceberg_snapshot,
        read_iceberg_table,
        rollback_iceberg_table,
        write_iceberg_table,
    )
    from pathlib import Path as _P

    path = str(tmp_path / "rollback")
    write_iceberg_table(spark.range(5).selectExpr("id AS k"), path)
    md, _ = _load_metadata(_P(path))
    first = md["current-snapshot-id"]
    append_iceberg_snapshot(spark.range(5, 9).selectExpr("id AS k"), path)
    md, _ = _load_metadata(_P(path))
    second = md["current-snapshot-id"]
    rollback_iceberg_table(path, first)
    assert {r.k for r in read_iceberg_table(spark, path).collect()} == set(range(5))
    # abandoned snapshot still time-travel readable; rollback reversible
    assert read_iceberg_table(spark, path, snapshot_id=second).count() == 9
    rollback_iceberg_table(path, second)
    assert read_iceberg_table(spark, path).count() == 9
    # sequence numbers continue monotonically after rollback + append
    rollback_iceberg_table(path, first)
    res = append_iceberg_snapshot(spark.range(100, 102).selectExpr("id AS k"), path)
    md, _ = _load_metadata(_P(path))
    assert res["sequence-number"] == 3  # never reuses the rolled-back seq
    assert {r.k for r in read_iceberg_table(spark, path).collect()} == (
        set(range(5)) | {100, 101}
    )
    # unknown snapshot refuses; same-snapshot rollback is a no-op
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in table history"):
        rollback_iceberg_table(path, 123456)
    assert rollback_iceberg_table(
        path, md["current-snapshot-id"]
    )["snapshot-id"] is None


def test_iceberg_tags_pin_snapshots(spark, tmp_path):
    """Tags read by name, survive expire (ref'd snapshots are held), and
    expire normally once dropped."""
    from pyspark.sql import functions as F

    from evolution_spark.io.iceberg_meta import (
        append_iceberg_snapshot,
        drop_iceberg_ref,
        expire_iceberg_snapshots,
        read_iceberg_table,
        resolve_iceberg_ref,
        tag_iceberg_snapshot,
    )

    path = str(tmp_path / "tags")
    write_iceberg_table(spark.range(5).selectExpr("id AS k"), path)
    tag_iceberg_snapshot(path, "v1")  # pins the first snapshot
    append_iceberg_snapshot(spark.range(5, 9).selectExpr("id AS k"), path)
    append_iceberg_snapshot(spark.range(9, 12).selectExpr("id AS k"), path)
    # read by ref = the pinned state
    by_ref = read_iceberg_table(spark, path, ref="v1")
    assert {r.k for r in by_ref.collect()} == set(range(5))
    assert read_iceberg_table(spark, path).count() == 12
    # expire keeps the tagged snapshot alive
    res = expire_iceberg_snapshots(path, keep_last=1)
    assert resolve_iceberg_ref(path, "v1") not in [
        s for s in res["expired"]
    ]
    assert {r.k for r in
            read_iceberg_table(spark, path, ref="v1").collect()} == set(range(5))
    # drop the tag -> next expire reclaims it
    drop_iceberg_ref(path, "v1")
    expire_iceberg_snapshots(path, keep_last=1)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no ref"):
        read_iceberg_table(spark, path, ref="v1")
    assert read_iceberg_table(spark, path).count() == 12
    # guards
    with _pytest.raises(ValueError, match="already exists"):
        tag_iceberg_snapshot(path, "head")
        tag_iceberg_snapshot(path, "head")
    with _pytest.raises(ValueError, match="not in table history"):
        tag_iceberg_snapshot(path, "nope", snapshot_id=42)


def test_iceberg_branch_write_audit_publish(spark, tmp_path):
    """BRANCH refs: commits advance the branch head, main is untouched
    until fast-forward; a diverged main refuses; expire holds branch
    heads and keep_last counts MAIN history only."""
    import pytest
    from pyspark.sql import functions as F

    from evolution_spark.io.iceberg_meta import (
        append_iceberg_snapshot,
        create_iceberg_branch,
        expire_iceberg_snapshots,
        fast_forward_iceberg_branch,
        read_iceberg_table,
        write_iceberg_table,
    )

    path = str(tmp_path / "branchy")
    write_iceberg_table(
        spark.range(10).select(F.col("id").alias("k")), path
    )
    create_iceberg_branch(path, "staging")
    append_iceberg_snapshot(
        spark.range(10, 15).select(F.col("id").alias("k")), path,
        branch="staging",
    )
    append_iceberg_snapshot(
        spark.range(15, 18).select(F.col("id").alias("k")), path,
        branch="staging",
    )
    assert read_iceberg_table(spark, path).count() == 10  # main untouched
    assert read_iceberg_table(spark, path, ref="staging").count() == 18
    r = fast_forward_iceberg_branch(path, "staging")
    assert r["fast_forwarded"] == 2
    assert read_iceberg_table(spark, path).count() == 18
    # idempotent once published
    assert fast_forward_iceberg_branch(path, "staging")["fast_forwarded"] == 0

    # diverged main refuses the fast-forward
    create_iceberg_branch(path, "b2")
    append_iceberg_snapshot(
        spark.range(100, 101).select(F.col("id").alias("k")), path
    )
    append_iceberg_snapshot(
        spark.range(200, 201).select(F.col("id").alias("k")), path,
        branch="b2",
    )
    with pytest.raises(ValueError, match="does not descend"):
        fast_forward_iceberg_branch(path, "b2")

    # expire: keep_last=1 of MAIN; the branch head read still works
    expire_iceberg_snapshots(path, keep_last=1)
    assert read_iceberg_table(spark, path).count() == 19
    assert read_iceberg_table(spark, path, ref="b2").count() == 19


def test_iceberg_branch_commit_requires_branch(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    from evolution_spark.io.iceberg_meta import (
        append_iceberg_snapshot,
        tag_iceberg_snapshot,
        write_iceberg_table,
    )

    path = str(tmp_path / "nobranch")
    df = spark.range(5).select(F.col("id").alias("k"))
    write_iceberg_table(df, path)
    tag_iceberg_snapshot(path, "v1")  # a TAG is not writable
    with pytest.raises(ValueError, match="no branch"):
        append_iceberg_snapshot(df, path, branch="nope")
    with pytest.raises(ValueError, match="no branch"):
        append_iceberg_snapshot(df, path, branch="v1")


def test_expire_preserves_branch_ancestry_for_fast_forward(spark, tmp_path):
    """Expire keeps a branch's ANCESTRY chain (not just its head): the
    fast-forward ancestry walk must still reach main after routine
    retention runs between branch commits and publish (review r7)."""
    from pyspark.sql import functions as F

    from evolution_spark.io.iceberg_meta import (
        append_iceberg_snapshot,
        create_iceberg_branch,
        expire_iceberg_snapshots,
        fast_forward_iceberg_branch,
        read_iceberg_table,
        write_iceberg_table,
    )

    path = str(tmp_path / "ffexpire")
    write_iceberg_table(spark.range(5).select(F.col("id").alias("k")), path)
    create_iceberg_branch(path, "staging")
    append_iceberg_snapshot(
        spark.range(5, 8).select(F.col("id").alias("k")), path,
        branch="staging",
    )
    append_iceberg_snapshot(
        spark.range(8, 10).select(F.col("id").alias("k")), path,
        branch="staging",
    )
    expire_iceberg_snapshots(path, keep_last=1)  # B1 must survive
    r = fast_forward_iceberg_branch(path, "staging")
    assert r["fast_forwarded"] == 2
    assert read_iceberg_table(spark, path).count() == 10


def test_branch_typo_does_not_leak_data_files(spark, tmp_path):
    """An unknown-branch append refuses BEFORE staging moves files into
    data/ — a typo'd branch name must not leak forever-unreferenced
    files into the table (review r7)."""
    import glob

    import pytest
    from pyspark.sql import functions as F

    from evolution_spark.io.iceberg_meta import (
        append_iceberg_snapshot,
        write_iceberg_table,
    )

    path = str(tmp_path / "typoleak")
    df = spark.range(5).select(F.col("id").alias("k"))
    write_iceberg_table(df, path)
    n_before = len(glob.glob(path + "/data/**/*.parquet", recursive=True))
    with pytest.raises(ValueError, match="no branch"):
        append_iceberg_snapshot(df, path, branch="typo")
    assert len(
        glob.glob(path + "/data/**/*.parquet", recursive=True)
    ) == n_before


def test_iceberg_create_publishes_through_the_version_claim(spark, tmp_path, monkeypatch):
    """A table's first snapshot is published like every later one: the
    version-hint is swapped in by rename, never written in place, and a
    create whose version 0 a rival create published first gets "concurrent
    commit detected" instead of swapping the hint over the rival's."""
    from pathlib import Path

    import evolution_spark.io.iceberg_meta as im

    df = spark.range(5).select(F.col("id").alias("k"))
    real_write = Path.write_text

    def no_in_place_hint(self, *a, **kw):
        assert self.name != "version-hint.text", "version-hint written in place"
        return real_write(self, *a, **kw)

    monkeypatch.setattr(Path, "write_text", no_in_place_hint)
    one = tmp_path / "one"
    res = im.write_iceberg_table(df, str(one))
    assert (one / "metadata" / "version-hint.text").read_text() == Path(res["metadata"]).name
    assert res["metadata"].rsplit("/", 1)[-1].startswith("00000-")

    publish, rival = im._publish_metadata, []

    def rival_publishes_first(meta_dir, prev, meta):
        # a concurrent create of the same table publishes its version 0
        # between this create's data write and its own publish
        rival.append(publish(meta_dir, prev, dict(meta, **{"table-uuid": "rival"})))
        return publish(meta_dir, prev, meta)

    monkeypatch.setattr(im, "_publish_metadata", rival_publishes_first)
    two = tmp_path / "two"
    with pytest.raises(RuntimeError, match="concurrent commit detected"):
        im.write_iceberg_table(df, str(two))
    monkeypatch.undo()
    meta = two / "metadata"
    assert (meta / "version-hint.text").read_text() == rival[0].name
    assert sorted(p.name for p in meta.glob("*.metadata.json")) == [rival[0].name]
    assert not list(meta.glob("*.tmp")) and not list(meta.glob(".*.tmp"))
    assert read_iceberg_table(spark, str(two)).count() == 5
