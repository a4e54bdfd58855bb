"""The one Avro container codec (``io/avro.py``) as the Iceberg writer
uses it: manifest bytes pinned against golden files, and the reader's
refusal of a compressed or corrupt file for Iceberg reads and the Avro
target alike.

The golden files under ``tests/golden/`` were written by the manifest
writer ``io/iceberg_meta.py`` carried before its codec moved into
``io/avro.py``, from the inputs ``_manifest_inputs`` builds and the sync
marker ``_SYNC``."""

from __future__ import annotations

import uuid
from pathlib import Path

import pytest

GOLDEN = Path(__file__).parent / "golden"
_SYNC = uuid.UUID("0123456789abcdef0123456789abcdef")


def _manifest_inputs() -> list[tuple[str, dict, list, dict]]:
    """(golden file name, schema, records, extra metadata) for one data
    manifest and the manifest list that names it: a date identity
    partition and an int bucket, bounds, equality ids, nulls."""
    import json

    from evolution_spark.io.iceberg_meta import (
        _MANIFEST_LIST_SCHEMA,
        _manifest_entry_schema,
        _partition_record_schema,
    )

    ice_schema = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "k", "required": True, "type": "long"},
        {"id": 2, "name": "d", "required": False, "type": "date"},
        {"id": 3, "name": "s", "required": False, "type": "string"},
    ]}
    spec = [
        {"name": "d", "transform": "identity", "source-id": 2, "field-id": 1000},
        {"name": "k_bucket", "transform": "bucket[4]", "source-id": 1,
         "field-id": 1001},
    ]
    entry_schema = _manifest_entry_schema(_partition_record_schema(spec, ice_schema))

    def data_file(path, partition, rows, **extra):
        return {
            "content": 0, "file_path": path, "file_format": "PARQUET",
            "partition": partition, "record_count": rows,
            "file_size_in_bytes": 1000 + rows, "equality_ids": None,
            "lower_bounds": None, "upper_bounds": None, **extra,
        }

    entries = [
        {"status": 1, "snapshot_id": 77, "sequence_number": None,
         "file_sequence_number": None,
         "data_file": data_file(
             "/t/data/d=2017-11-16/k_bucket=2/part-0.parquet",
             {"d": 17486, "k_bucket": 2}, 3,
             lower_bounds=[{"key": 1, "value": (-5).to_bytes(8, "little", signed=True)},
                           {"key": 3, "value": "é".encode()}],
             upper_bounds=[{"key": 1, "value": (2**40).to_bytes(8, "little")},
                           {"key": 3, "value": b"zz"}])},
        {"status": 2, "snapshot_id": None, "sequence_number": 4,
         "file_sequence_number": 3,
         "data_file": data_file(
             "/t/data/d=__HIVE_DEFAULT_PARTITION__/k_bucket=0/part-1.parquet",
             {"d": None, "k_bucket": 0}, 0, content=2, equality_ids=[1, 3])},
    ]
    manifest_list = [{
        "manifest_path": "/t/metadata/m0.avro", "manifest_length": 4321,
        "partition_spec_id": 0, "content": 0, "sequence_number": 1,
        "min_sequence_number": 1, "added_snapshot_id": 77,
        "added_data_files_count": 1, "existing_data_files_count": 0,
        "deleted_data_files_count": 1, "added_rows_count": 3,
        "existing_rows_count": 0, "deleted_rows_count": -1,
    }]
    return [
        ("iceberg_data_manifest.avro", entry_schema, entries, {
            "schema": json.dumps(ice_schema), "schema-id": "0",
            "partition-spec": json.dumps(spec), "partition-spec-id": "0",
            "format-version": "2", "content": "data",
        }),
        ("iceberg_manifest_list.avro", _MANIFEST_LIST_SCHEMA, manifest_list,
         {"format-version": "2"}),
    ]


@pytest.mark.parametrize("name", ["iceberg_data_manifest.avro",
                                  "iceberg_manifest_list.avro"])
def test_manifest_bytes_match_golden(tmp_path, monkeypatch, name):
    from evolution_spark.io.avro import _read_avro_with_meta, _write_avro

    monkeypatch.setattr(uuid, "uuid4", lambda: _SYNC)
    _, schema, records, meta = next(i for i in _manifest_inputs() if i[0] == name)
    out = tmp_path / name
    n = _write_avro(out, schema, records, meta)
    golden = (GOLDEN / name).read_bytes()
    assert n == len(golden)
    assert out.read_bytes() == golden
    back, back_meta = _read_avro_with_meta(out)
    assert back == records
    assert {k: back_meta[k].decode() for k in meta} == meta


def _tamper(path: Path, defect: str) -> None:
    data = path.read_bytes()
    if defect == "codec":
        # the header claims deflate; the blocks stay as they were written
        assert data.count(b"avro.codec\x08null") == 1
        data = data.replace(b"avro.codec\x08null", b"avro.codec\x0edeflate")
    else:  # the file's last block ends in a sync marker that does not match
        data = data[:-1] + bytes([data[-1] ^ 0xFF])
    path.write_bytes(data)


@pytest.mark.parametrize("defect", ["codec", "sync"])
def test_avro_reader_refuses_codec_and_sync_defects(tmp_path, defect):
    """Both readers of the one codec — the raw one the Iceberg metadata
    uses and the Avro target's row decoder — refuse the same files."""
    from evolution_spark.io.avro import _read_avro, _write_avro, decode_avro_file

    schema = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"}, {"name": "b", "type": ["null", "string"]}]}
    p = tmp_path / "f.avro"
    _write_avro(p, schema, [{"a": 1, "b": None}, {"a": -2, "b": "x"}])
    assert decode_avro_file(str(p))[1] == [(1, None), (-2, "x")]
    _tamper(p, defect)
    match = "codec" if defect == "codec" else "sync marker"
    with pytest.raises(ValueError, match=match):
        _read_avro(p)
    with pytest.raises(ValueError, match=match):
        decode_avro_file(str(p))


@pytest.mark.parametrize("target", ["manifest-list", "manifest"])
@pytest.mark.parametrize("defect", ["codec", "sync"])
def test_iceberg_read_refuses_bad_manifest(spark, tmp_path, target, defect):
    """A manifest list or manifest whose codec is not ``null``, or whose
    block ends in a mismatched sync marker, fails the table read with
    ValueError instead of yielding the records it would misread."""
    from evolution_spark.io.iceberg_meta import read_iceberg_table, write_iceberg_table

    path = tmp_path / "t"
    write_iceberg_table(spark.range(6).selectExpr("id AS k"), str(path))
    assert read_iceberg_table(spark, str(path)).count() == 6
    # one snapshot: one manifest list (snap-*.avro) naming one manifest
    [victim] = [p for p in (path / "metadata").glob("*.avro")
                if p.name.startswith("snap-") == (target == "manifest-list")]
    _tamper(victim, defect)
    with pytest.raises(ValueError, match="codec" if defect == "codec" else "sync marker"):
        read_iceberg_table(spark, str(path)).collect()

