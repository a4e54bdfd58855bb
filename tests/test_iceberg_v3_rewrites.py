"""Iceberg format-version 3 ROW-LINEAGE-PRESERVING REWRITES (round 11).

Spec basis (Iceberg Table Spec v3, 'Row Lineage' / 'Reserved Field IDs' /
'First Row ID Inheritance'):

- every row of a v3 table has ``_row_id`` = materialized column value if
  present and non-null (reserved name, parquet field-id 2147483540),
  else the file's ``first_row_id`` + row position, else null
  (pre-lineage files); ``_last_updated_sequence_number`` analogously
  (field-id 2147483539, fallback = file data sequence number);
- rewrites (compaction / UPDATE / MERGE) must PRESERVE carried rows' ids
  by materializing both columns in the rewritten files;
- rows rewritten from pre-lineage files materialize NULL and acquire
  fresh ids via the new file's ``first_row_id`` + position.

Ref parity: the reference's Iceberg target is a ``todo!()``
(examples/iceberg/src/main.rs:28-30) — this surface exceeds it.
"""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from evolution_spark.io.iceberg_meta import (
    IcebergFormatError,
    _load_metadata,
    append_iceberg_snapshot,
    compact_iceberg_table,
    delete_iceberg_rows,
    delete_iceberg_rows_dv,
    merge_iceberg_cdc,
    read_iceberg_table,
    update_iceberg_rows,
    upgrade_iceberg_format_version,
    write_iceberg_table,
)


def _kv(spark, n=10):
    return spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )


def _mixed_era_table(spark, tmp_path, name):
    """v2-era rows k<4 (null lineage), then two v3 appends + a DV delete
    of k=5 — the canonical mixed-lineage fixture."""
    d = str(tmp_path / name)
    df = _kv(spark)
    write_iceberg_table(df.where("k < 4"), d)
    upgrade_iceberg_format_version(d)
    append_iceberg_snapshot(df.where("k >= 4 and k < 7"), d)
    append_iceberg_snapshot(df.where("k >= 7"), d)
    delete_iceberg_rows_dv(spark, d, "k = 5")
    return d


def _lineage(spark, d):
    return {
        r["k"]: (r["_row_id"], r["_last_updated_sequence_number"])
        for r in read_iceberg_table(spark, d, row_lineage=True).collect()
    }


def test_row_lineage_read_rule(spark, tmp_path):
    d = _mixed_era_table(spark, tmp_path, "lin")
    byk = _lineage(spark, d)
    # pre-upgrade rows: null _row_id, seq fallback = their file's seq (1)
    assert all(byk[k] == (None, 1) for k in range(4))
    assert 5 not in byk  # DV applied under lineage projection
    # v3 appends: explicit first_row_id 0 and 3, ids contiguous in-file
    assert byk[4][0] == 0 and byk[6][0] == 2
    assert [byk[k][0] for k in (7, 8, 9)] == [3, 4, 5]
    assert byk[7][1] == 3  # second append's sequence number


def test_row_lineage_refuses_v2(spark, tmp_path):
    d = str(tmp_path / "v2")
    write_iceberg_table(_kv(spark), d)
    with pytest.raises(IcebergFormatError, match="format-version 3"):
        read_iceberg_table(spark, d, row_lineage=True)


def test_compaction_preserves_ids_and_assigns_fresh(spark, tmp_path):
    d = _mixed_era_table(spark, tmp_path, "cmp")
    pre = _lineage(spark, d)
    meta_pre, _ = _load_metadata(__import__("pathlib").Path(d))
    old_next = int(meta_pre["next-row-id"])
    compact_iceberg_table(spark, d, target_files=2)
    post = _lineage(spark, d)
    # carried rows byte-identical (both id and last-updated seq)
    for k, lin in pre.items():
        if lin[0] is not None:
            assert post[k] == lin, (k, lin, post[k])
    # pre-upgrade rows acquired fresh unique ids beyond the old mark
    fresh = [post[k][0] for k in pre if pre[k][0] is None]
    assert all(i is not None and i >= old_next for i in fresh)
    assert len({p[0] for p in post.values()}) == len(post)
    meta_post, _ = _load_metadata(__import__("pathlib").Path(d))
    assert int(meta_post["next-row-id"]) >= old_next + len(post)
    # a second compaction is a lineage no-op
    compact_iceberg_table(spark, d, target_files=1)
    assert _lineage(spark, d) == post
    # plain read + pre-compaction time travel unaffected
    assert read_iceberg_table(spark, d).count() == 9
    assert (
        read_iceberg_table(
            spark, d, snapshot_id=meta_pre["current-snapshot-id"]
        ).count()
        == 9
    )


def test_compaction_writes_reserved_field_ids(spark, tmp_path):
    import pyarrow.parquet as pq

    d = _mixed_era_table(spark, tmp_path, "fid")
    compact_iceberg_table(spark, d, target_files=1)
    meta, _ = _load_metadata(__import__("pathlib").Path(d))
    snap = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    from evolution_spark.io.avro import _read_avro
    from pathlib import Path

    data_manifest = next(
        mf for mf in _read_avro(Path(snap["manifest-list"]))
        if int(mf.get("content") or 0) == 0
        and mf["added_snapshot_id"] == snap["snapshot-id"]
    )
    entry = _read_avro(Path(data_manifest["manifest_path"]))[0]
    sch = pq.ParquetFile(entry["data_file"]["file_path"]).schema_arrow
    fids = {
        f.name: (f.metadata or {}).get(b"PARQUET:field_id") for f in sch
    }
    assert fids["_row_id"] == b"2147483540"
    assert fids["_last_updated_sequence_number"] == b"2147483539"
    # the compaction output still has an explicit first_row_id (spec:
    # every ADDED v3 data file) — materialized values shadow it
    assert entry["data_file"]["first_row_id"] is not None


def test_update_preserves_id_resets_last_updated(spark, tmp_path):
    d = str(tmp_path / "upd")
    df = _kv(spark)
    write_iceberg_table(df.where("k < 5"), d)
    upgrade_iceberg_format_version(d)
    append_iceberg_snapshot(df.where("k >= 5"), d)
    pre = _lineage(spark, d)
    res = update_iceberg_rows(spark, d, "k in (6, 8)", {"v": "v + 100"})
    assert res["updated_rows"] == 2
    rows = {
        r["k"]: (r["v"], r["_row_id"], r["_last_updated_sequence_number"])
        for r in read_iceberg_table(spark, d, row_lineage=True).collect()
    }
    assert rows[6][0] == 112 and rows[8][0] == 116
    assert rows[6][1] == pre[6][0] and rows[8][1] == pre[8][0]
    assert rows[7][1] == pre[7][0]  # untouched row untouched
    assert rows[6][2] == res["sequence-number"]  # "last updated: now"
    # update-of-an-update keeps the original id
    update_iceberg_rows(spark, d, "k = 6", {"v": "v + 1000"})
    rows2 = {
        r["k"]: (r["v"], r["_row_id"])
        for r in read_iceberg_table(spark, d, row_lineage=True).collect()
    }
    assert rows2[6] == (1112, pre[6][0])
    assert read_iceberg_table(spark, d).count() == 10


def test_v3_delete_routes_to_dv(spark, tmp_path):
    d = str(tmp_path / "delroute")
    write_iceberg_table(_kv(spark), d)
    upgrade_iceberg_format_version(d)
    delete_iceberg_rows(spark, d, "k = 0")
    assert read_iceberg_table(spark, d).count() == 9
    # no parquet position-delete files were written
    assert not glob.glob(d + "/data/delete-*.parquet")


def test_successive_dv_deletes_keep_total_records_right(spark, tmp_path):
    """Round-11 regression: the second DV delete used to double-subtract
    the first's (merged) positions from the summary's total-records."""
    from pathlib import Path

    d = str(tmp_path / "dvtot")
    write_iceberg_table(_kv(spark), d)
    upgrade_iceberg_format_version(d)
    delete_iceberg_rows_dv(spark, d, "k = 5")
    delete_iceberg_rows_dv(spark, d, "k = 6")
    meta, _ = _load_metadata(Path(d))
    snap = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    assert snap["summary"]["total-records"] == "8"
    assert read_iceberg_table(spark, d).count() == 8


def test_merge_carries_update_ids_and_mints_insert_ids(spark, tmp_path):
    from pathlib import Path

    d = str(tmp_path / "mrg")
    write_iceberg_table(_kv(spark, 8), d)
    upgrade_iceberg_format_version(d)
    compact_iceberg_table(spark, d)  # assign ids to the v2-era rows
    pre = {
        r["k"]: r["_row_id"]
        for r in read_iceberg_table(spark, d, row_lineage=True).collect()
    }
    ch = spark.createDataFrame(
        [(2, 999, "u"), (3, None, "d"), (100, 42, "u")],
        "k long, v long, _op string",
    )
    merge_iceberg_cdc(spark, d, ch, key="k")
    rows = {
        r["k"]: (r["v"], r["_row_id"])
        for r in read_iceberg_table(spark, d, row_lineage=True).collect()
    }
    assert 3 not in rows
    assert rows[2] == (999, pre[2])  # update keeps the target's id
    assert rows[100][0] == 42
    assert rows[100][1] is not None and rows[100][1] not in pre.values()
    meta, _ = _load_metadata(Path(d))
    snap = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    assert snap["summary"]["total-records"] == "8"
    # compaction after MERGE keeps the whole lineage state
    post = dict(rows)
    compact_iceberg_table(spark, d)
    rows2 = {
        r["k"]: (r["v"], r["_row_id"])
        for r in read_iceberg_table(spark, d, row_lineage=True).collect()
    }
    assert rows2 == post


def test_v3_merge_refuses_before_staging_on_foreign_deletes(
    spark, tmp_path
):
    """Review r11 pass 1: a v3 MERGE on a table carrying pre-upgrade
    parquet position deletes must refuse BEFORE the distributed staging
    write — a post-staging refusal would leak orphaned data files."""
    import glob

    d = str(tmp_path / "orphan")
    write_iceberg_table(_kv(spark).repartition(2), d)
    delete_iceberg_rows(spark, d, "k = 1")  # v2-era parquet delete file
    upgrade_iceberg_format_version(d)
    pre_files = set(glob.glob(d + "/data/**/*.parquet", recursive=True))
    ch = spark.createDataFrame([(2, 999, "u")], "k long, v long, _op string")
    with pytest.raises(IcebergFormatError, match="non-DV delete"):
        merge_iceberg_cdc(spark, d, ch, key="k")
    post_files = set(glob.glob(d + "/data/**/*.parquet", recursive=True))
    assert post_files == pre_files, "refused MERGE left staged orphans"


def test_replace_without_materialized_lineage_refuses(spark, tmp_path):
    from evolution_spark.io.iceberg_meta import _commit_iceberg_snapshot

    d = str(tmp_path / "ref")
    write_iceberg_table(_kv(spark), d)
    upgrade_iceberg_format_version(d)
    with pytest.raises(IcebergFormatError, match="carried_lineage"):
        _commit_iceberg_snapshot(
            read_iceberg_table(spark, d), d, operation="replace"
        )


def test_reserved_name_collision_refuses(spark, tmp_path):
    d = str(tmp_path / "clash")
    write_iceberg_table(
        spark.range(3).select(F.col("id").alias("_row_id")), d
    )
    upgrade_iceberg_format_version(d)
    with pytest.raises(IcebergFormatError, match="reserved"):
        read_iceberg_table(spark, d, row_lineage=True)


def test_first_row_id_inheritance_from_manifest(spark, tmp_path):
    """A foreign manifest may leave ADDED entries' first_row_id null and
    rely on the manifest-list base + record-count inheritance — rewrite
    our explicit values to null and check the reader reconstructs the
    same ids."""
    import json
    from pathlib import Path

    from evolution_spark.io.avro import _read_avro, _read_avro_with_meta, _write_avro
    from evolution_spark.io.iceberg_meta import (
        _manifest_entry_schema,
        _manifest_list_schema,
        _partition_record_schema,
    )

    d = str(tmp_path / "inherit")
    write_iceberg_table(_kv(spark).repartition(3), d)
    upgrade_iceberg_format_version(d)
    append_iceberg_snapshot(_kv(spark).where("k < 0"), d)  # no-op rows
    append_iceberg_snapshot(
        _kv(spark, 20).where("k >= 10").repartition(2), d
    )
    before = _lineage(spark, d)
    meta, meta_file = _load_metadata(Path(d))
    snap = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    # null out the explicit per-file ids in every data manifest
    for mf in _read_avro(Path(snap["manifest-list"])):
        if int(mf.get("content") or 0) != 0:
            continue
        entries, m = _read_avro_with_meta(Path(mf["manifest_path"]))
        changed = False
        for e in entries:
            if e["data_file"].get("first_row_id") is not None:
                e["data_file"]["first_row_id"] = None
                changed = True
        if changed:
            part_schema = _partition_record_schema(
                json.loads(m["partition-spec"].decode()),
                json.loads(m["schema"].decode()),
            )
            _write_avro(
                Path(mf["manifest_path"]),
                _manifest_entry_schema(part_schema, lineage=True),
                entries,
                meta={k: v.decode() for k, v in m.items()},
            )
    after = _lineage(spark, d)
    assert after == before


def test_first_row_id_mixed_explicit_and_null(spark, tmp_path):
    """Spec reader rule (review r11 pass 3): a null first_row_id inherits
    manifest.first_row_id plus the record counts of preceding added files
    that were themselves ASSIGNED (null) — a preceding file with an
    EXPLICIT first_row_id does not consume from the manifest's block."""
    import json
    from pathlib import Path

    from evolution_spark.io.avro import _read_avro, _read_avro_with_meta, _write_avro
    from evolution_spark.io.iceberg_meta import (
        _manifest_entry_schema,
        _partition_record_schema,
    )

    d = str(tmp_path / "mixed_inherit")
    write_iceberg_table(_kv(spark).where("k < 2"), d)
    upgrade_iceberg_format_version(d)
    append_iceberg_snapshot(
        _kv(spark, 20).where("k >= 10").repartition(2), d
    )
    before = _lineage(spark, d)
    meta, _ = _load_metadata(Path(d))
    snap = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    # null the SECOND added entry of the two-file data manifest, keep the
    # first explicit
    nulled = None
    for mf in _read_avro(Path(snap["manifest-list"])):
        if int(mf.get("content") or 0) != 0 or mf.get("first_row_id") is None:
            continue
        entries, m = _read_avro_with_meta(Path(mf["manifest_path"]))
        added = [
            e for e in entries
            if e["status"] == 1
            and e["data_file"].get("first_row_id") is not None
        ]
        if len(added) < 2:
            continue
        mf_first = int(mf["first_row_id"])
        f2_explicit = int(added[1]["data_file"]["first_row_id"])
        added[1]["data_file"]["first_row_id"] = None
        part_schema = _partition_record_schema(
            json.loads(m["partition-spec"].decode()),
            json.loads(m["schema"].decode()),
        )
        _write_avro(
            Path(mf["manifest_path"]),
            _manifest_entry_schema(part_schema, lineage=True),
            entries,
            meta={k: v.decode() for k, v in m.items()},
        )
        nulled = (mf_first, f2_explicit, added[1]["data_file"]["file_path"])
        break
    assert nulled is not None, "expected a two-file lineage manifest"
    mf_first, f2_explicit, _ = nulled
    # this engine writes contiguous explicit ids, so the second file's
    # explicit base sits PAST the first file's rows — the spec rule must
    # now assign it the manifest base instead (preceding file was explicit)
    assert f2_explicit > mf_first
    after = _lineage(spark, d)
    for k, (rid, seq) in before.items():
        if rid is not None and rid >= f2_explicit:
            assert after[k] == (rid - f2_explicit + mf_first, seq), k
        else:
            assert after[k] == (rid, seq), k


def test_field_id_conf_restored_after_v3_rewrites(spark, tmp_path):
    """The lineage rewrites stamp reserved parquet field ids via a SCOPED
    spark.sql.parquet.fieldId.write.enabled — leaving it set session-wide
    would embed stray parquet.field.id metadata into every later write
    (review r11 pass 3)."""
    key = "spark.sql.parquet.fieldId.write.enabled"

    def current():
        try:
            return spark.conf.get(key)
        except Exception:
            return None

    baseline = current()
    d = _mixed_era_table(spark, tmp_path, "confscope")
    compact_iceberg_table(spark, d, target_files=2)
    assert current() == baseline
    update_iceberg_rows(spark, d, "k = 7", {"v": "v + 1"})
    assert current() == baseline
    changes = spark.createDataFrame(
        [(9, 99, "u"), (40, 80, "u")], "k long, v long, op string"
    )
    merge_iceberg_cdc(spark, d, changes, key="k", op_col="op")
    assert current() == baseline
    # and an explicitly-set caller value is restored, not unset
    spark.conf.set(key, "false")
    try:
        compact_iceberg_table(spark, d, target_files=1)
        assert spark.conf.get(key) == "false"
    finally:
        if baseline is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, baseline)
