"""Native Apache Iceberg (format-version 2) table writer/reader: Spark
parquet data files + spec-compliant Iceberg metadata, no connector jar.

The reference declares an Iceberg target but leaves it ``todo!()``
(crates/evolution-target/src/target.rs:31-37,
examples/iceberg/src/main.rs:28-30). This module implements the
snapshot-write surface the same way ``io/delta_log.py`` does for Delta:

* data files: a normal distributed ``df.write.parquet`` under
  ``<table>/data`` — cluster-scale, hive-style dirs for identity
  partitions, nothing driver-bound;
* metadata: the driver writes the three spec layers —
  ``metadata/00000-<uuid>.metadata.json`` (table metadata: schema with
  field-ids, partition spec, snapshot log), one manifest file
  (``<uuid>-m0.avro``) listing the data files, and the snapshot's
  manifest list (``snap-<id>-1-<uuid>.avro``) — all metadata-sized.

Manifests are Avro object-container files per the spec, written and
read with ``io/avro.py``'s codec on raw values (nested records such as
``manifest_entry.data_file.partition``, arrays, ``[null, T]`` unions; a
partition ``date`` is its int day count). Byte-level validity is
cross-checked in tests with the JVM's own
``org.apache.avro.file.DataFileReader``.

Spark's plain parquet writer does not embed Iceberg field-ids in the
files, so the table metadata carries ``schema.name-mapping.default``
(the spec's escape hatch for migrated/imported files): spec-compliant
readers resolve columns by name through the mapping. Scope: v2 tables
with append/replace snapshots, identity partitioning, time travel by
snapshot id, BOTH merge-on-read delete flavors write+read
(``append_position_deletes`` / ``append_equality_deletes``; the scan
applies position deletes as a (file, row-index) anti-join and equality
deletes as sequence-scoped null-safe anti-joins per equality-column
set), compaction + snapshot expiry, ADD COLUMN schema evolution
(``evolve_iceberg_schema`` — fresh field-ids under a new schema-id),
and the incremental change reader (``iceberg_table_changes``).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from contextlib import contextmanager, nullcontext
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from evolution_spark.io.avro import _read_avro, _read_avro_with_meta, _write_avro
from evolution_spark.io.iceberg_transforms import (
    parse_partition_by,
    resolve_partition_where,
    result_ice_type,
    with_transform_column,
)
from evolution_spark.io.save_mode import save_output
from evolution_spark.io.scan_filters import parquet_files

# --------------------------------------------------------------------------
# Spark <-> Iceberg schema mapping
# --------------------------------------------------------------------------

_TO_ICEBERG = {
    T.BooleanType: "boolean",
    T.IntegerType: "int",
    T.ShortType: "int",
    T.ByteType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.StringType: "string",
    T.BinaryType: "binary",
    T.DateType: "date",
    T.TimestampType: "timestamptz",
    T.TimestampNTZType: "timestamp",
}

_FROM_ICEBERG = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "date": T.DateType(),
    "timestamptz": T.TimestampType(),
    "timestamp": T.TimestampNTZType(),
}


def iceberg_schema_of(schema: T.StructType) -> dict:
    """Iceberg struct schema with field-ids 1..n (spec: ids are assigned
    once and never reused; a single snapshot needs only the initial
    assignment)."""
    fields = []
    for i, f in enumerate(schema.fields, start=1):
        ice = _TO_ICEBERG.get(type(f.dataType))
        if ice is None:
            raise TypeError(f"unsupported Spark type for iceberg sink: {f.dataType}")
        fields.append(
            {"id": i, "name": f.name, "required": not f.nullable, "type": ice}
        )
    return {"type": "struct", "schema-id": 0, "fields": fields}


def spark_schema_of(ice: dict) -> T.StructType:
    return T.StructType(
        [
            T.StructField(f["name"], _FROM_ICEBERG[f["type"]], not f["required"])
            for f in ice["fields"]
        ]
    )


# --------------------------------------------------------------------------
# manifest schemas (Iceberg spec, format-version 2; field-ids per spec)
# --------------------------------------------------------------------------


def decode_initial_default(field: dict, key: str = "initial-default"):
    """Decode a schema field's ``initial-default`` / ``write-default``
    (Iceberg spec v3 'Default values', JSON single-value serialization)
    into a Python literal — what the realigned read injects for
    pre-evolution rows (``initial-default``) or what an append fills
    into omitted columns (``write-default``). Supported primitives:
    boolean/int/long/float/double/string (the JSON value verbatim) and
    date (ISO 'YYYY-MM-DD' string -> datetime.date). Anything else
    refuses loudly — injecting a mis-decoded default would silently
    corrupt every affected row, the worst possible failure mode."""
    raw = field.get(key)
    if raw is None:
        return None
    t = field.get("type")
    if t == "boolean" and isinstance(raw, bool):
        return raw
    if t in ("int", "long") and isinstance(raw, int) and not isinstance(raw, bool):
        return raw
    if t in ("float", "double") and isinstance(raw, (int, float)) \
            and not isinstance(raw, bool):
        return float(raw)
    if t == "string" and isinstance(raw, str):
        return raw
    if t == "date" and isinstance(raw, str):
        import datetime as _dt

        return _dt.date.fromisoformat(raw)
    raise IcebergFormatError(
        f"field {field.get('name')!r}: {key} {raw!r} for type "
        f"{t!r} is not a supported single-value encoding "
        "(boolean/int/long/float/double/string/date) — refusing rather "
        "than injecting a mis-decoded default"
    )


def _with_partition_cols(df, spec_fields: list[dict], ice_schema: dict):
    """Attach computed TRANSFORM columns (named by partition field) so a
    plain ``partitionBy`` lays out the spec's dirs: identity fields
    partition on the source column itself (Spark drops it from data files;
    the reader reconstructs it from dir values), transform fields on a
    synthetic column (dropped from data files by ``partitionBy``; the
    LOSSY transform means the source column must stay in the files).
    Returns (df, dir column names in spec order)."""
    by_id = {f["id"]: f for f in ice_schema["fields"]}
    part_cols = []
    for pf in spec_fields:
        src = by_id[pf["source-id"]]
        transform = pf.get("transform", "identity")
        if transform != "identity":
            # staged form: integral buckets land via chained narrow
            # projections so the write plan stays in whole-stage codegen
            df = with_transform_column(
                df, pf["name"], transform, src["name"], src["type"]
            )
        part_cols.append(pf["name"])
    return df, part_cols


def _partition_dir_types(spec_fields: list[dict], ice_schema: dict) -> dict:
    """Partition-field name -> the iceberg type its DIR VALUES parse as
    (the transform's result type; identity keeps the source type)."""
    by_id = {f["id"]: f for f in ice_schema["fields"]}
    return {
        pf["name"]: result_ice_type(
            pf.get("transform", "identity"), by_id[pf["source-id"]]["type"]
        )
        for pf in spec_fields
    }


def _partition_record_schema(part_fields: list[dict], ice_schema: dict) -> dict:
    by_id = {f["id"]: f for f in ice_schema["fields"]}
    fields = []
    for pf in part_fields:
        ice_t = result_ice_type(
            pf.get("transform", "identity"), by_id[pf["source-id"]]["type"]
        )
        # the spec's Avro mapping: date is an int (days since epoch) with
        # the `date` logical type — the value side already stores days
        # (_parse_partition_value)
        avro_t = (
            {"type": "int", "logicalType": "date"} if ice_t == "date" else ice_t
        )
        fields.append(
            {
                "name": pf["name"],
                "type": ["null", avro_t],
                "field-id": pf["field-id"],
                "default": None,
            }
        )
    return {"type": "record", "name": "r102", "fields": fields}


_BOUND_PACK = {
    "int": "<i", "long": "<q", "float": "<f", "double": "<d", "date": "<i",
}


def _encode_bound(ice_type: str, v) -> bytes | None:
    """Iceberg single-value binary serialization (spec Appendix D) for
    the bound types this engine prunes on; None = unsupported type."""
    import datetime as _dt
    import struct as _s

    if ice_type in ("int", "long"):
        return _s.pack(_BOUND_PACK[ice_type], int(v))
    if ice_type in ("float", "double"):
        return _s.pack(_BOUND_PACK[ice_type], float(v))
    if ice_type == "string":
        return str(v).encode("utf-8")
    if ice_type == "date":
        days = (v - _dt.date(1970, 1, 1)).days if isinstance(v, _dt.date) else int(v)
        return _s.pack("<i", days)
    return None


def _decode_bound(ice_type: str, b: bytes):
    import struct as _s

    if ice_type in _BOUND_PACK:  # date decodes to epoch days
        # decode by the STORED width, not the current type's: bounds
        # written before a widen_iceberg_column (int->long 4-byte,
        # float->double 4-byte) stay valid after the metadata-only
        # promotion — the spec widens values losslessly, so an int bound
        # IS the long bound
        if ice_type in ("int", "long", "date") and len(b) == 4:
            return _s.unpack("<i", b)[0]
        if ice_type in ("int", "long", "date") and len(b) == 8:
            return _s.unpack("<q", b)[0]
        if ice_type in ("float", "double") and len(b) == 4:
            return _s.unpack("<f", b)[0]
        if ice_type in ("float", "double") and len(b) == 8:
            return _s.unpack("<d", b)[0]
        return _s.unpack(_BOUND_PACK[ice_type], b)[0]
    if ice_type == "string":
        return b.decode("utf-8")
    return None


def _file_column_bounds(pq_path, ice_schema: dict, md=None):
    """(lower_bounds, upper_bounds) for one parquet file from its footer
    statistics, as the manifest's array-of-{key,value} maps keyed by
    field id — or (None, None) when no column has usable stats. Driver
    cost: footer-only, no data read; pass ``md`` (a pre-read
    ``ParquetFile(...).metadata``) to share one footer read with the
    caller's row counting."""
    import pyarrow.parquet as _papq

    by_name = {f["name"]: f for f in ice_schema["fields"]}
    if md is None:
        md = _papq.ParquetFile(pq_path).metadata
    mins: dict[int, object] = {}
    maxs: dict[int, object] = {}
    for rg in range(md.num_row_groups):
        row = md.row_group(rg)
        for ci in range(row.num_columns):
            col = row.column(ci)
            name = col.path_in_schema
            f = by_name.get(name)
            if f is None:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                mins[f["id"]] = maxs[f["id"]] = None  # poison: partial stats
                continue
            fid = f["id"]
            if fid in mins and mins[fid] is None:
                continue
            mins[fid] = st.min if fid not in mins or mins[fid] is None or st.min < mins[fid] else mins[fid]
            maxs[fid] = st.max if fid not in maxs or maxs[fid] is None or st.max > maxs[fid] else maxs[fid]
    id_type = {f["id"]: f["type"] for f in ice_schema["fields"]}
    lower, upper = [], []
    for fid in sorted(mins):
        if mins[fid] is None or maxs.get(fid) is None:
            continue
        lo = _encode_bound(id_type.get(fid, ""), mins[fid])
        hi = _encode_bound(id_type.get(fid, ""), maxs[fid])
        if lo is None or hi is None:
            continue
        lower.append({"key": fid, "value": lo})
        upper.append({"key": fid, "value": hi})
    return (lower or None, upper or None)


def _bounds_may_match(lo, hi, op: str, val) -> bool:
    """Conservative range check: False ONLY when the file provably holds
    no matching row."""
    if lo is None or hi is None:
        return True
    if op in ("=", "=="):
        return lo <= val <= hi
    if op == "<":
        return lo < val
    if op == "<=":
        return lo <= val
    if op == ">":
        return hi > val
    if op == ">=":
        return hi >= val
    return True  # unknown op: keep


def _manifest_entry_schema(
    part_schema: dict, dv_fields: bool = False, lineage: bool = False
) -> dict:
    # format-version 3 deletion-vector placement fields (spec field-ids
    # 143-145): present only in DV delete manifests — a v2 manifest never
    # carries them, and foreign v3 manifests are read by field name via
    # the generic avro reader regardless. ``lineage`` adds the v3 row-
    # lineage field ``first_row_id`` (spec field-id 142) for data
    # manifests of v3 tables — the _row_id of the file's first row.
    lineage_extra = [
        {"name": "first_row_id", "type": ["null", "long"],
         "field-id": 142, "default": None},
    ] if lineage else []
    dv_extra = [
        {"name": "referenced_data_file", "type": ["null", "string"],
         "field-id": 143, "default": None},
        {"name": "content_offset", "type": ["null", "long"],
         "field-id": 144, "default": None},
        {"name": "content_size_in_bytes", "type": ["null", "long"],
         "field-id": 145, "default": None},
    ] if dv_fields else []
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "type": part_schema, "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            *lineage_extra,
            *dv_extra,
            {
                # spec field: the schema field-ids an EQUALITY delete file
                # (content=2) matches on; null for data/position files
                "name": "equality_ids",
                "type": ["null", {"type": "array", "items": "int"}],
                "field-id": 135,
                "default": None,
            },
            {
                # per-column value bounds keyed by FIELD ID (spec: a map
                # serialized as an array of key/value records; values use
                # the single-value binary serialization). Rename-safe by
                # construction — the pruning key is the id, not the name.
                "name": "lower_bounds",
                "type": ["null", {
                    "type": "array", "logicalType": "map",
                    "items": {"type": "record", "name": "k126_v127",
                              "fields": [
                                  {"name": "key", "type": "int",
                                   "field-id": 126},
                                  {"name": "value", "type": "bytes",
                                   "field-id": 127}]},
                }],
                "field-id": 125,
                "default": None,
            },
            {
                "name": "upper_bounds",
                "type": ["null", {
                    "type": "array", "logicalType": "map",
                    "items": {"type": "record", "name": "k129_v130",
                              "fields": [
                                  {"name": "key", "type": "int",
                                   "field-id": 129},
                                  {"name": "value", "type": "bytes",
                                   "field-id": 130}]},
                }],
                "field-id": 128,
                "default": None,
            },
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {
                "name": "snapshot_id",
                "type": ["null", "long"],
                "field-id": 1,
                "default": None,
            },
            {
                "name": "sequence_number",
                "type": ["null", "long"],
                "field-id": 3,
                "default": None,
            },
            {
                "name": "file_sequence_number",
                "type": ["null", "long"],
                "field-id": 4,
                "default": None,
            },
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }


_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_data_files_count", "type": "int", "field-id": 504},
        {"name": "existing_data_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_data_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}


def _manifest_list_schema(fv: int) -> dict:
    """The manifest-list schema for a table's format version: v3 adds
    ``first_row_id`` (spec field-id 520) — the starting ``_row_id``
    assigned to rows in the manifest's ADDED data files (null for delete
    manifests and for pre-upgrade manifests whose rows carry no ids).
    v2 lists keep the exact pre-round-10 shape so foreign v2 readers see
    unchanged bytes."""
    if fv < 3:
        return _MANIFEST_LIST_SCHEMA
    return {
        "type": "record",
        "name": "manifest_file",
        "fields": _MANIFEST_LIST_SCHEMA["fields"] + [
            {"name": "first_row_id", "type": ["null", "long"],
             "field-id": 520, "default": None},
        ],
    }


def _parse_partition_value(ice_type: str, raw: str):
    if raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    # Spark escapes path-hostile characters percent-style (escapePathName);
    # decode so the manifest records the VALUE, not its dir encoding
    from urllib.parse import unquote

    raw = unquote(raw)
    if ice_type in ("int", "long"):
        return int(raw)
    if ice_type == "string":
        return raw
    if ice_type == "date":
        import datetime as dt

        return (dt.date.fromisoformat(raw) - dt.date(1970, 1, 1)).days
    raise TypeError(f"identity partition on iceberg type {ice_type} not supported")


# --------------------------------------------------------------------------
# writer / reader
# --------------------------------------------------------------------------


def write_iceberg_table(
    df: DataFrame,
    path: str,
    mode: str = "error",
    partition_by: list[str] | None = None,
    properties: dict[str, str] | None = None,
    distribute: bool = False,
) -> dict | None:
    """Write ``df`` as a single-snapshot Iceberg v2 table at ``path``.

    ``mode`` follows ``io/save_mode.py`` (``overwrite`` replaces the whole
    output; ``append`` is refused, ``append_iceberg_snapshot`` appends).

    ``distribute=True`` is the spec connector's ``write.distribution-mode
    = hash``: ONE shuffle clustering rows by partition value before the
    split, so each partition dir is written by one task — without it a
    partitioned write emits up to tasks x dirs files (the small-files
    explosion that murders a 100 TB scan); with it, dirs x 1. Off by
    default: already-clustered inputs should not pay a second shuffle.

    Returns a commit summary (snapshot id, files, rows) for tests/logs.
    """
    return save_output(
        path, mode,
        lambda p: _create_iceberg_table(df, Path(p), partition_by, properties, distribute),
        table_marker="metadata/version-hint.text", relocatable=False,
    )


def _create_iceberg_table(
    df: DataFrame,
    table_dir: Path,
    partition_by: list[str] | None = None,
    properties: dict[str, str] | None = None,
    distribute: bool = False,
) -> dict:
    """``write_iceberg_table``'s write: the first snapshot of a new table
    in the empty directory ``table_dir``."""
    import pyarrow.parquet as pq

    ice_schema = iceberg_schema_of(df.schema)
    by_name = {f["name"]: f for f in ice_schema["fields"]}
    spec_fields = parse_partition_by(partition_by, ice_schema)
    out_df, part_cols = _with_partition_cols(df, spec_fields, ice_schema)
    if distribute and part_cols:
        from pyspark.sql import functions as F

        # explicit task count (the session's shuffle-partition setting —
        # exactly what write.distribution-mode=hash does in the spec
        # connector): a countless keyed repartition lets AQE coalesce the
        # few-MB exchange to ONE task that then writes every partition
        # dir serially (r15: measured 2.44 s -> 2.10 s on the 642-file
        # months x bucket layout with the count pinned; same file layout,
        # still one file per dir per holding task)
        try:
            n_out = int(
                out_df.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except ValueError:
            # deployments may set the conf to a non-numeric value (e.g.
            # "auto"); mirror the other pinned-count sites' fallback
            n_out = out_df.sparkSession.sparkContext.defaultParallelism
        out_df = out_df.repartition(n_out, *[F.col(c) for c in part_cols])
    writer = out_df.write.mode("error")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    data_dir = table_dir / "data"
    writer.parquet(str(data_dir))
    part_schema = _partition_record_schema(spec_fields, ice_schema)
    entry_schema = _manifest_entry_schema(part_schema)

    now_ms = int(time.time() * 1000)
    snapshot_id = uuid.uuid4().int % (1 << 62)
    meta_dir = table_dir / "metadata"
    meta_dir.mkdir(parents=True, exist_ok=True)

    # ---- manifest: one ADDED entry per data file ----------------------
    entries = []
    total_rows = 0
    dir_type = _partition_dir_types(spec_fields, ice_schema)
    paths = sorted(data_dir.rglob("*.parquet"))
    # footer reads are independent per file and IO-bound (pyarrow releases
    # the GIL); a partitioned write can land hundreds of files, and the
    # sequential driver-side loop was the long pole of the metadata commit
    # (guide 5: the driver should not do per-file data work serially)
    from concurrent.futures import ThreadPoolExecutor

    def _footer(p):
        md = pq.ParquetFile(p).metadata
        return (md.num_rows, p.stat().st_size,
                _file_column_bounds(p, ice_schema, md))

    with ThreadPoolExecutor(max_workers=min(16, max(1, len(paths)))) as pool:
        footers = list(pool.map(_footer, paths))
    for p, (n_rows, file_size, bounds) in zip(paths, footers):
        rel = p.relative_to(data_dir)
        values: dict[str, object] = {}
        for part in rel.parts[:-1]:
            if "=" in part:
                k, _, v = part.partition("=")
                values[k] = _parse_partition_value(dir_type[k], v)
        if sorted(values) != sorted(part_cols):
            raise ValueError(
                f"partition dirs {sorted(values)} != declared {sorted(part_cols)}"
            )
        total_rows += n_rows
        entries.append(
            {
                "status": 1,  # ADDED
                "snapshot_id": snapshot_id,
                # null sequence numbers inherit from the manifest-list entry
                "sequence_number": None,
                "file_sequence_number": None,
                "data_file": {
                    "content": 0,  # DATA
                    "file_path": str(p),
                    "file_format": "PARQUET",
                    "partition": values,
                    "record_count": n_rows,
                    "file_size_in_bytes": file_size,
                    "equality_ids": None,
                    # per-column bounds from the parquet footer (field-id
                    # keyed) — what skip_where prunes on
                    **dict(zip(("lower_bounds", "upper_bounds"), bounds)),
                },
            }
        )

    manifest_path = meta_dir / f"{uuid.uuid4()}-m0.avro"
    manifest_len = _write_avro(
        manifest_path,
        entry_schema,
        entries,
        meta={
            "schema": json.dumps(ice_schema),
            "schema-id": "0",
            "partition-spec": json.dumps(spec_fields),
            "partition-spec-id": "0",
            "format-version": "2",
            "content": "data",
        },
    )

    # ---- manifest list ------------------------------------------------
    mlist_path = meta_dir / f"snap-{snapshot_id}-1-{uuid.uuid4()}.avro"
    _write_avro(
        mlist_path,
        _MANIFEST_LIST_SCHEMA,
        [
            {
                "manifest_path": str(manifest_path),
                "manifest_length": manifest_len,
                "partition_spec_id": 0,
                "content": 0,  # data
                "sequence_number": 1,
                "min_sequence_number": 1,
                "added_snapshot_id": snapshot_id,
                "added_data_files_count": len(entries),
                "existing_data_files_count": 0,
                "deleted_data_files_count": 0,
                "added_rows_count": total_rows,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        ],
        meta={"format-version": "2"},
    )

    # ---- table metadata ----------------------------------------------
    name_mapping = [
        {"field-id": f["id"], "names": [f["name"]]} for f in ice_schema["fields"]
    ]
    props = {"schema.name-mapping.default": json.dumps(name_mapping)}
    props.update(properties or {})
    metadata = {
        "format-version": 2,
        "table-uuid": str(uuid.uuid4()),
        "location": str(table_dir),
        "last-sequence-number": 1,
        "last-updated-ms": now_ms,
        "last-column-id": len(ice_schema["fields"]),
        "current-schema-id": 0,
        "schemas": [ice_schema],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "last-partition-id": 999 + len(spec_fields),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": props,
        "current-snapshot-id": snapshot_id,
        "snapshots": [
            {
                "snapshot-id": snapshot_id,
                "sequence-number": 1,
                "timestamp-ms": now_ms,
                "manifest-list": str(mlist_path),
                "summary": {
                    "operation": "append",
                    "added-data-files": str(len(entries)),
                    "added-records": str(total_rows),
                    "total-data-files": str(len(entries)),
                    "total-records": str(total_rows),
                },
                "schema-id": 0,
            }
        ],
        "snapshot-log": [{"timestamp-ms": now_ms, "snapshot-id": snapshot_id}],
        "metadata-log": [],
    }
    meta_file = _publish_metadata(meta_dir, None, metadata)
    return {
        "snapshot-id": snapshot_id,
        "files": len(entries),
        "rows": total_rows,
        "metadata": str(meta_file),
    }


class IcebergFormatError(RuntimeError):
    """Raised when a table's metadata demands reader capabilities this
    implementation does not have (format-version above 2, malformed
    delete metadata, partition-scoped equality deletes). Mirrors
    ``delta_log.DeltaProtocolError``: refusing loudly beats silently
    resurrecting deleted rows. Both POSITION (content=1) and GLOBAL
    EQUALITY (content=2) deletes are implemented — applied during scan —
    since round 6."""


def _partition_record_key(part: dict) -> str:
    """Canonical string key for a manifest entry's partition record, used
    to match partition-SCOPED equality deletes to data files: both sides
    go through this one encoding, so scoping can never drift on value
    formatting (dates/decimals stringify identically)."""
    return json.dumps(part, sort_keys=True, default=str)


def _position_delete_frame(spark, delete_files, dv_deletes):
    """One ``(file_path, pos)`` DataFrame from parquet position-delete
    files plus decoded v3 deletion vectors (or None when neither exists).
    DV blobs are decoded driver-side — each is one seek+read sized by its
    deleted-row count, and the resulting frame is the anti-join's BUILD
    side, so cost tracks deleted rows, never table size."""
    from pyspark.sql import functions as F

    from evolution_spark.io.scan_filters import decoded_file_path

    frames = []
    if delete_files:
        frames.append(
            parquet_files(spark, delete_files, "file_path string, pos long")
            # delete files may record paths as plain paths or URIs;
            # normalize to the same decoded plain-path form the join uses
            .withColumn("file_path", decoded_file_path("file_path"))
        )
    if dv_deletes:
        import pandas as pd

        from evolution_spark.io.puffin import read_puffin_dv
        from evolution_spark.io.scan_filters import plain_path

        parts = []
        for puffin_path, data_file, offset, size in dv_deletes:
            positions = read_puffin_dv(puffin_path, offset, size)
            parts.append(pd.DataFrame({
                "file_path": plain_path(data_file),
                "pos": positions,
            }))
        frames.append(spark.createDataFrame(
            pd.concat(parts, ignore_index=True),
            schema="file_path string, pos long",
        ))
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def read_iceberg_table(
    spark,
    path: str,
    snapshot_id: int | None = None,
    partition_where: dict[str, object] | None = None,
    skip_where: list[tuple[str, str, object]] | None = None,
    ref: str | None = None,
    _lineage: bool = False,
    _current_schema: bool = False,
    row_lineage: bool = False,
) -> DataFrame:
    """Open an Iceberg table by replaying its metadata chain — version
    hint -> table metadata -> current snapshot -> manifest list ->
    manifests -> data files. The file list comes from the snapshot, NOT a
    directory listing (orphan/uncommitted files are invisible — the
    Iceberg read contract), and identity-partition columns resolve from
    the hive paths under ``basePath`` with the schema's declared types.
    ``snapshot_id`` time-travels to any snapshot in the table's history
    (appends never rewrite old manifests, so the historical file lists
    are still intact).

    ROW-LEVEL DELETES (v2 merge-on-read): POSITION delete files
    (manifest-list ``content=1`` entries whose data files have
    ``content=1``) are applied during the scan — the delete files are
    plain parquet ``(file_path, pos)`` pairs, read as a DataFrame and
    anti-joined against ``_metadata.file_path``/``row_index`` (JVM-side;
    cost proportional to DELETED rows in scanned files, not table size).
    A position delete names its target file explicitly, so applying by
    (file_path, pos) needs no sequence-number arithmetic — file paths are
    never reused across snapshots. EQUALITY delete files (``content=2``)
    apply as sequence-scoped null-safe anti-joins per equality-column set
    — strictly-older data files only, so rows (re-)appended after the
    delete survive (the upsert semantics). Forward-compat guard (the
    spec's reader obligation): refuses ``format-version`` > 3 (v3 reads
    are full: Puffin DVs + row-lineage-bearing manifests), malformed
    delete metadata, and PARTITION-scoped equality deletes this reader
    cannot scope (applying them globally would over-delete).

    PARTITION PRUNING (``partition_where``): an equality map
    ``{partition_col: value}`` is matched against each manifest entry's
    ``data_file.partition`` record, dropping non-matching files from the
    scan at the METADATA level — the Iceberg read path's core scale
    feature (the delta twin is ``read_delta_snapshot(skip_where=...)``).
    Spark's own partition-dir pruning would skip the same rows, but only
    after listing every file; this never ships the pruned paths to the
    reader at all.

    ROW LINEAGE (``row_lineage=True``, v3 tables only): projects two
    extra columns per the spec's 'Row Lineage' reader rule —
    ``_row_id`` = the row's materialized ``_row_id`` column value when
    the data file carries one (reserved name + field-id 2147483540,
    written by this engine's v3 rewrites), else the file's assigned
    ``first_row_id`` + the row's position, else null (pre-upgrade
    files); ``_last_updated_sequence_number`` = the materialized value
    (reserved field-id 2147483539) else the file's data sequence number.
    ``first_row_id`` inheritance: an ADDED entry with a null value
    inherits the manifest's ``first_row_id`` plus the record counts of
    preceding ADDED data files in that manifest (spec 'First Row ID
    Inheritance'). Scale: lineage is a broadcast (file -> first/seq) map
    join plus two coalesce projections — no extra shuffle, no data pass."""
    if ref is not None:
        if snapshot_id is not None:
            raise ValueError("pass snapshot_id OR ref, not both")
        snapshot_id = resolve_iceberg_ref(path, ref)
    table_dir = Path(path)
    meta_dir = table_dir / "metadata"
    hint = (meta_dir / "version-hint.text").read_text().strip()
    metadata = json.loads((meta_dir / hint).read_text())
    fv = int(metadata.get("format-version", 1))
    if fv > 3:
        raise IcebergFormatError(
            f"table format-version {fv} exceeds the implemented version 3 — "
            "refusing to read rather than dropping unknown semantics"
        )
    # v3 read support covers what this engine models: deletion vectors
    # (Puffin blobs, decoded below exactly like position deletes), the
    # unchanged v2 scan semantics, and (round 11) the spec's row-lineage
    # reader rule behind ``row_lineage=True`` — what lets rewrites
    # (compaction/UPDATE/MERGE) carry each surviving row's _row_id.
    if row_lineage and fv < 3:
        raise IcebergFormatError(
            "row_lineage=True requires a format-version 3 table (row "
            "lineage is a v3 feature) — upgrade_iceberg_format_version "
            "first"
        )
    specs_by_id = {
        sp["spec-id"]: sp["fields"]
        for sp in metadata.get("partition-specs") or []
    }
    resolved_by_spec: dict[int, list | None] = {}
    if partition_where:
        if not specs_by_id:
            raise IcebergFormatError(
                "metadata declares no partition-specs — cannot resolve "
                "partition_where against a spec-less table"
            )
        cur_schema = next(
            s for s in metadata["schemas"]
            if s["schema-id"] == metadata["current-schema-id"]
        )
        # per-SPEC resolution: under partition evolution a key may be
        # expressible in some spec epochs and not others — manifests
        # whose spec cannot express it are kept conservatively (the
        # spec's rule). A key NO spec can resolve is a typo and raises.
        last_err: Exception | None = None
        for sid, sp_fields in specs_by_id.items():
            try:
                resolved_by_spec[sid] = resolve_partition_where(
                    partition_where, sp_fields, cur_schema["fields"]
                )
            except (ValueError, KeyError) as e:
                resolved_by_spec[sid] = None
                last_err = e
        if last_err is not None and all(
            v is None for v in resolved_by_spec.values()
        ):
            raise last_err

        def _resolved_for(sid: int):
            return resolved_by_spec.get(sid)
    else:
        def _resolved_for(sid: int):
            return []
    current = snapshot_id if snapshot_id is not None else metadata["current-snapshot-id"]
    try:
        snapshot = next(
            s for s in metadata["snapshots"] if s["snapshot-id"] == current
        )
    except StopIteration:
        known = [s["snapshot-id"] for s in metadata["snapshots"]]
        raise ValueError(f"snapshot {current} not in table history {known}") from None
    # a CURRENT-table read always uses the CURRENT schema (metadata-only
    # evolution like RENAME/DROP/widen creates no snapshot, so the last
    # snapshot's recorded schema-id may lag); TIME TRAVEL reads the schema
    # that was current at that snapshot — a post-evolution read of an old
    # snapshot must not invent added columns or apply later renames.
    # ``_current_schema=True`` (internal, DML): the scan pins the FILE
    # LIST to a snapshot for race-freedom but must still expose CURRENT
    # names/types — predicates arrive against the evolved schema.
    if snapshot_id is None or _current_schema:
        want_schema_id = metadata["current-schema-id"]
    else:
        want_schema_id = snapshot.get("schema-id", metadata["current-schema-id"])
        if want_schema_id is None:
            want_schema_id = metadata["current-schema-id"]
    want_ice_schema = next(
        s for s in metadata["schemas"] if s["schema-id"] == want_schema_id
    )
    skip_checks: list[tuple[int, str, str, object]] = []
    if skip_where:
        # DATA SKIPPING on manifest column bounds (field-id keyed, so a
        # rename between write and read cannot mis-prune): files whose
        # [lower, upper] range provably excludes the predicate are
        # dropped from the scan BEFORE Spark lists them — the needle-on-
        # 100 TB feature; files without bounds are conservatively kept.
        # The SAME predicate must still be applied with .filter.
        by_name_w = {f["name"]: f for f in want_ice_schema["fields"]}
        for col, op, val in skip_where:
            if col not in by_name_w:
                raise ValueError(
                    f"skip_where column {col!r} not in schema "
                    f"{sorted(by_name_w)} — refusing to prune on a "
                    "non-existent column"
                )
            f = by_name_w[col]
            import datetime as _dt

            if f["type"] == "date" and isinstance(val, _dt.date):
                val = (val - _dt.date(1970, 1, 1)).days
            # type-check the literal NOW — a mismatched literal would
            # otherwise surface as a bare TypeError from a bound
            # comparison deep inside the manifest walk
            _want = {
                "int": (int,), "long": (int,), "date": (int,),
                "float": (int, float), "double": (int, float),
                "string": (str,),
            }.get(f["type"])
            if _want is not None and not isinstance(val, _want):
                raise TypeError(
                    f"skip_where literal {val!r} does not match column "
                    f"{col!r}'s iceberg type {f['type']} — pass a "
                    f"{'/'.join(t.__name__ for t in _want)} literal"
                )
            skip_checks.append((f["id"], f["type"], op, val))

    files: list[str] = []
    file_seq: dict[str, int] = {}  # decoded path -> data sequence number
    file_part: dict[str, str] = {}  # decoded path -> canonical partition key
    file_first: dict[str, int | None] = {}  # decoded path -> first_row_id
    file_sid: dict[str, int] = {}  # raw path -> manifest schema-id
    file_spec: dict[str, int] = {}  # raw path -> manifest partition-spec-id
    delete_files: list[str] = []
    # v3 DVs: (puffin path, referenced data file, offset, size)
    dv_deletes: list[tuple[str, str, int, int]] = []
    delete_rows = 0
    # (delete parquet, delete sequence, equality field-ids, record count,
    #  partition scope key or None for global)
    eq_deletes: list[tuple[str, int, list[int], int, str | None]] = []
    from evolution_spark.io.scan_filters import plain_path

    for mf in _read_avro(Path(snapshot["manifest-list"])):
        is_delete_manifest = int(mf.get("content") or 0) == 1
        mf_seq = int(mf.get("sequence_number") or 0)
        mf_spec = int(mf.get("partition_spec_id") or 0)
        # v3 row lineage: the manifest's base _row_id (manifest-list
        # field-id 520) + a running record-count offset implement the
        # spec's 'First Row ID Inheritance' for ADDED entries that carry
        # no explicit first_row_id. Counted over ALL added data entries
        # (pruned ones included — the writer assigned ids in entry order).
        mf_first = mf.get("first_row_id")
        added_offset = 0
        mf_entries, mf_meta = _read_avro_with_meta(Path(mf["manifest_path"]))
        try:
            mf_sid = int((mf_meta.get("schema-id") or b"").decode())
        except ValueError:
            # a manifest without a recorded schema-id (pre-spec writers)
            # is assumed current — the pre-evolution behavior
            mf_sid = metadata["current-schema-id"]
        for entry in mf_entries:
            if entry["status"] == 2:  # DELETED entry
                continue
            dfile = entry["data_file"]
            content = int(dfile.get("content") or 0)
            # entries inherit the manifest's sequence number unless they
            # carry their own (the spec's sequence inheritance; an EXPLICIT
            # 0 is a real sequence number, not absence)
            es = entry.get("sequence_number")
            seq = mf_seq if es is None else int(es)
            if is_delete_manifest:
                if content == 1 and dfile.get("referenced_data_file"):
                    # v3 DELETION VECTOR: a Puffin blob scoped to ONE data
                    # file; decoded driver-side (size ∝ deleted rows) and
                    # applied through the same (file, pos) anti-join as
                    # parquet position deletes
                    dv_deletes.append((
                        dfile["file_path"],
                        dfile["referenced_data_file"],
                        int(dfile["content_offset"]),
                        int(dfile["content_size_in_bytes"]),
                    ))
                    delete_rows += int(dfile.get("record_count") or 0)
                    continue
                if content == 1:  # position deletes: applied below
                    delete_files.append(dfile["file_path"])
                    delete_rows += int(dfile.get("record_count") or 0)
                    continue
                if content == 2:  # equality deletes: applied below
                    ids = dfile.get("equality_ids")
                    if not ids:
                        raise IcebergFormatError(
                            f"equality delete file {dfile['file_path']} "
                            "carries no equality_ids — malformed metadata"
                        )
                    part = dfile.get("partition") or {}
                    # spec scoping: a delete entry with REAL partition
                    # values applies only to data files in that partition
                    # (matched below via the same canonical record
                    # encoding data files get); an all-null record is a
                    # GLOBAL delete (what append_equality_deletes writes
                    # without partition_scope). A foreign delete scoped to
                    # the literal all-null partition is indistinguishable
                    # in this encoding and is treated as global
                    # (documented over-approximation: it can only
                    # over-delete rows carrying the matching key values
                    # in null partitions, never unrelated keys).
                    scope = (
                        _partition_record_key(part)
                        if any(v is not None for v in part.values())
                        else None
                    )
                    eq_deletes.append(
                        (dfile["file_path"], seq, list(ids),
                         int(dfile.get("record_count") or 0), scope)
                    )
                    continue
                raise IcebergFormatError(
                    f"DELETE manifest entry {dfile['file_path']} has "
                    f"content={content} — malformed metadata (delete "
                    "manifests must track content=1/2 files)"
                )
            if content != 0:
                raise IcebergFormatError(
                    f"data manifest entry {dfile['file_path']} has content="
                    f"{content} — malformed metadata (delete files belong "
                    "in content=1 manifests)"
                )
            f_first = dfile.get("first_row_id")
            if (
                entry["status"] == 1
                and f_first is None
                and mf_first is not None
            ):
                # spec inheritance: a null first_row_id is assigned
                # manifest.first_row_id plus the record counts of the
                # PRECEDING added files that were themselves assigned
                # (null) — files carrying an explicit first_row_id do
                # not consume from the manifest's id block
                f_first = int(mf_first) + added_offset
                added_offset += int(dfile.get("record_count") or 0)
            rw = _resolved_for(mf_spec) if partition_where else []
            if rw and any(
                dfile.get("partition", {}).get(k) != v
                for k, v in rw
            ):
                continue  # metadata-level partition pruning
            if skip_checks:
                lbs = {e["key"]: e["value"]
                       for e in (dfile.get("lower_bounds") or [])}
                ubs = {e["key"]: e["value"]
                       for e in (dfile.get("upper_bounds") or [])}
                if any(
                    not _bounds_may_match(
                        _decode_bound(t, lbs[fid]) if fid in lbs else None,
                        _decode_bound(t, ubs[fid]) if fid in ubs else None,
                        op, val,
                    )
                    for fid, t, op, val in skip_checks
                ):
                    continue  # bounds prove no row can match
            files.append(dfile["file_path"])
            file_seq[plain_path(dfile["file_path"])] = seq
            file_first[plain_path(dfile["file_path"])] = (
                int(f_first) if f_first is not None else None
            )
            file_part[plain_path(dfile["file_path"])] = (
                _partition_record_key(dfile.get("partition") or {})
            )
            file_sid[dfile["file_path"]] = mf_sid
            file_spec[dfile["file_path"]] = mf_spec
    ice_schema = want_ice_schema
    schema = spark_schema_of(ice_schema)
    out_names = [f.name for f in schema.fields]
    lineage_fields = [
        T.StructField("_row_id", T.LongType(), True),
        T.StructField(
            "_last_updated_sequence_number", T.LongType(), True
        ),
    ]
    if row_lineage:
        clash = {f.name for f in lineage_fields} & set(out_names)
        if clash:
            raise IcebergFormatError(
                f"table schema uses the spec-reserved column names "
                f"{sorted(clash)} — cannot project row lineage"
            )
        out_names = out_names + [f.name for f in lineage_fields]
    if _lineage:
        # internal (DML planning): expose each surviving row's physical
        # (file, position) so DELETE/UPDATE can emit position deletes
        out_names = out_names + ["_src_file", "_src_pos"]
    need_pos = _lineage or row_lineage  # both need (file, position) cols
    # materialized lineage columns (spec reserved names, field-ids
    # 2147483540/2147483539): read by name when projecting lineage —
    # files without them (plain appends) surface nulls, and the
    # first_row_id fallback below fills those per the spec's reader rule
    scan_schema = (
        T.StructType(schema.fields + lineage_fields) if row_lineage
        else schema
    )

    def _attach_row_lineage(d):
        """coalesce(materialized, first_row_id + pos) via
        :func:`evolution_spark.io.scan_filters.per_file_constant_columns`
        (map-literal fast path keyed on the ``__lin_bn`` basename
        materialized at scan time — the ``_metadata`` pseudo-column does
        not survive joins/unions — else a decoded-path broadcast join;
        shared with the Delta row-tracking scan)."""
        if not row_lineage or not file_seq:
            return d
        from pyspark.sql import functions as F

        from evolution_spark.io.scan_filters import per_file_constant_columns

        per_file = [
            (p, (file_first.get(p), s)) for p, s in sorted(file_seq.items())
        ]
        d, (first_c, seq_c) = per_file_constant_columns(
            d, per_file, "__lin_bn", "_src_file"
        )
        return d.withColumns({
            "_row_id": F.coalesce(
                F.col("_row_id"), first_c + F.col("_src_pos")
            ),
            "_last_updated_sequence_number": F.coalesce(
                F.col("_last_updated_sequence_number"), seq_c
            ),
        })

    if not files:
        extra: list = []
        if row_lineage:
            extra += lineage_fields
        if _lineage:
            extra += [T.StructField("_src_file", T.StringType(), True),
                      T.StructField("_src_pos", T.LongType(), True)]
        return spark.createDataFrame(
            [], T.StructType(schema.fields + extra) if extra else schema
        )
    default_spec_id = int(metadata.get("default-spec-id") or 0)
    # group key = (schema epoch, partition-spec epoch): schema groups
    # realign columns by field id; SPEC groups exist because each spec's
    # files sit under a DIFFERENT hive directory layout (identity columns
    # live in dirs, not files), so one basePath discovery over mixed
    # layouts would conflict — each group scans its own consistent layout
    group_of: dict[tuple[int, int], list[str]] = {}
    for f in files:
        group_of.setdefault(
            (file_sid.get(f, want_schema_id),
             file_spec.get(f, default_spec_id)),
            [],
        ).append(f)
    if set(group_of) != {(want_schema_id, default_spec_id)}:
        # SCHEMA- or PARTITION-SPEC-EVOLVED READ (rename/widen/drop or a
        # repartitioned layout history): data files were written under
        # older schemas/specs. Per group: scan with the WRITTEN schema,
        # mask that group's position deletes, then realign to the wanted
        # schema BY FIELD ID (rename -> alias, widen -> upcast, added ->
        # null, dropped -> not selected) and union. Field-id stability is
        # what makes this metadata-only; no file is rewritten.
        if eq_deletes:
            raise IcebergFormatError(
                "equality deletes over schema- or partition-spec-evolved "
                "data files are not implemented (the anti-join would need "
                "per-epoch resolution) — compact the table first"
            )
        from pyspark.sql import functions as F

        dels_df = _position_delete_frame(spark, delete_files, dv_deletes)
        branches = []
        for sid, spec_id in sorted(group_of):
            g_schema = next(
                (s for s in metadata["schemas"] if s["schema-id"] == sid),
                None,
            )
            if g_schema is None:
                raise IcebergFormatError(
                    f"manifest references unknown schema-id {sid}"
                )
            g_scan = spark_schema_of(g_schema)
            if row_lineage:
                g_scan = T.StructType(g_scan.fields + lineage_fields)
            gdf = parquet_files(spark, group_of[(sid, spec_id)], g_scan,
                                base_path=str(table_dir / "data"))
            if need_pos:
                from evolution_spark.io.scan_filters import (
                    decoded_file_path as _dfp,
                )

                gcols = {
                    "_src_file": _dfp(F.col("_metadata.file_path")),
                    "_src_pos": F.col("_metadata.row_index"),
                }
                if row_lineage:
                    gcols["__lin_bn"] = F.substring_index(
                        F.col("_metadata.file_path"), "/", -1
                    )
                gdf = gdf.withColumns(gcols)
            if dels_df is not None:
                from evolution_spark.io.scan_filters import (
                    anti_join_deleted_positions,
                )

                gdf = anti_join_deleted_positions(gdf, dels_df, delete_rows)
            g_by_id = {f["id"]: f for f in g_schema["fields"]}
            sel = []
            for f, sf in zip(ice_schema["fields"], schema.fields):
                gf = g_by_id.get(f["id"])
                if gf is None:
                    # column added after these files were written: the
                    # spec's v3 'Default values' reader rule — inject the
                    # field's initial-default (null when none declared)
                    sel.append(
                        F.lit(decode_initial_default(f))
                        .cast(sf.dataType).alias(f["name"])
                    )
                else:
                    sel.append(
                        F.col(gf["name"]).cast(sf.dataType).alias(f["name"])
                    )
            if row_lineage:
                sel += [F.col(f.name) for f in lineage_fields]
                sel += [F.col("__lin_bn")]
            if need_pos:
                sel += [F.col("_src_file"), F.col("_src_pos")]
            branches.append(gdf.select(*sel))
        out = branches[0]
        for b in branches[1:]:
            out = out.unionByName(b)
        return _attach_row_lineage(out).select(*out_names)
    df = parquet_files(spark, files, scan_schema, base_path=str(table_dir / "data"))
    if need_pos:
        from pyspark.sql import functions as F

        from evolution_spark.io.scan_filters import decoded_file_path as _dfp

        cols = {
            "_src_file": _dfp(F.col("_metadata.file_path")),
            "_src_pos": F.col("_metadata.row_index"),
        }
        if row_lineage:
            # raw-basename key for the lineage map literal (Catalyst
            # prunes _src_file's URI decode when nothing consumes it)
            cols["__lin_bn"] = F.substring_index(
                F.col("_metadata.file_path"), "/", -1
            )
        df = df.withColumns(cols)
    dels = _position_delete_frame(spark, delete_files, dv_deletes)
    if dels is not None:
        from evolution_spark.io.scan_filters import anti_join_deleted_positions

        # build side ~ deleted-row count (from manifest record_counts)
        df = anti_join_deleted_positions(df, dels, delete_rows)
    if eq_deletes:
        from pyspark.sql import functions as F

        from evolution_spark.io.scan_filters import decoded_file_path

        # the spec's sequence rule: an equality delete applies only to
        # rows whose data file has a STRICTLY OLDER sequence number, so
        # rows (re-)appended after the delete survive. Attach each row's
        # file sequence via a broadcast (file -> seq) map, then anti-join
        # per distinct equality-column set with null-safe equality.
        name_of = {f["id"]: f["name"] for f in ice_schema["fields"]}
        seq_rows = [(p, s, file_part.get(p)) for p, s in file_seq.items()]
        seq_df = spark.createDataFrame(
            seq_rows, "__eq_file string, __eq_seq long, __eq_part string"
        )
        phys = df.withColumn(
            "__eq_fp", decoded_file_path(F.col("_metadata.file_path"))
        ).join(
            F.broadcast(seq_df),
            F.col("__eq_fp") == seq_df["__eq_file"],
            "inner",
        )
        by_ids: dict[tuple[int, ...], list[tuple[str, int, int, str | None]]] = {}
        for dfp, dseq, ids, nrec, scope in eq_deletes:
            by_ids.setdefault(tuple(sorted(ids)), []).append(
                (dfp, dseq, nrec, scope)
            )
        for ids, group in sorted(by_ids.items()):
            try:
                cols = [name_of[i] for i in ids]
            except KeyError as e:
                raise IcebergFormatError(
                    f"equality_ids reference unknown field id {e} — the "
                    "delete predates a schema this reader does not resolve"
                ) from None
            dset = None
            for dfp, dseq, _, scope in group:
                one = spark.read.parquet(dfp).select(
                    *[F.col(c).alias(f"__eqv_{c}") for c in cols]
                ).withColumns({
                    "__eq_dseq": F.lit(dseq),
                    # NULL scope = global delete; a real value restricts
                    # the anti-join to data files whose canonical
                    # partition record matches (the spec's scoping rule)
                    "__eqd_part": F.lit(scope).cast("string"),
                })
                dset = one if dset is None else dset.unionByName(one)
            cond = (
                (F.col("__eq_seq") < F.col("__eq_dseq"))
                & (
                    F.col("__eqd_part").isNull()
                    | (F.col("__eqd_part") == F.col("__eq_part"))
                )
            )
            for c in cols:
                cond = cond & F.col(c).eqNullSafe(F.col(f"__eqv_{c}"))
            # build ~ delete-key count (manifest record_counts): broadcast
            # while small, like the position path; AQE plans it beyond
            group_rows = sum(n for _, _, n, _ in group)
            build = F.broadcast(dset) if group_rows <= 4_000_000 else dset
            phys = phys.join(build, cond, "left_anti")
        df = phys.drop("__eq_fp", "__eq_seq", "__eq_file", "__eq_part")
    # Spark surfaces hive-partition columns last; restore declared order
    return _attach_row_lineage(df).select(*out_names)


def _load_metadata(table_dir: Path) -> tuple[dict, Path]:
    meta_dir = table_dir / "metadata"
    hint = (meta_dir / "version-hint.text").read_text().strip()
    meta_file = meta_dir / hint
    return json.loads(meta_file.read_text()), meta_file


def append_iceberg_snapshot(
    df: DataFrame, path: str, branch: str | None = None
) -> dict:
    """APPEND a new snapshot to an existing Iceberg v2 table.

    The spec's append commit: stage-write the new data files, write ONE new
    manifest for them, write a new manifest list = previous snapshot's
    manifest entries + the new one (previous manifests are reused by
    reference — an append never rewrites old metadata), and publish a new
    ``NNNNN-<uuid>.metadata.json`` with the snapshot appended to
    ``snapshots``/``snapshot-log``, ``last-sequence-number`` bumped, and
    the previous metadata file recorded in ``metadata-log``. The
    version-hint swap is the atomic commit point; every prior snapshot
    stays readable by id (``read_iceberg_table(snapshot_id=...)``).

    Scale: the data write is distributed; manifest/metadata work is
    metadata-sized (one entry per file).

    ``branch``: commit to a named BRANCH ref instead of main — the
    branch head advances, ``current-snapshot-id`` does not, so readers
    of the table see nothing until ``fast_forward_iceberg_branch``
    publishes it (the spec's write-audit-publish pattern)."""
    return _commit_iceberg_snapshot(df, path, operation="append", branch=branch)


def last_iceberg_txn(path: str, app_id: str) -> int | None:
    """Largest batch id a streaming sink with txn identity ``app_id`` has
    committed to this table, or None — read from the snapshot summaries
    (``evolution.txn-app-id`` / ``evolution.txn-batch-id`` properties,
    the Iceberg analogue of Delta's ``txn`` action). Metadata-sized: one
    pass over the snapshot list."""
    metadata, _ = _load_metadata(Path(path))
    best = None
    for s in metadata.get("snapshots") or []:
        summ = s.get("summary") or {}
        if summ.get("evolution.txn-app-id") == app_id:
            b = int(summ["evolution.txn-batch-id"])
            if best is None or b > best:
                best = b
    return best


# Iceberg spec v3 'Reserved Field IDs': the parquet field ids of the
# materialized row-lineage columns rewrites must carry
_ROW_ID_FIELD_ID = 2147483540
_LAST_UPDATED_SEQ_FIELD_ID = 2147483539


@contextmanager
def _field_id_writes(spark):
    """Scoped ``spark.sql.parquet.fieldId.write.enabled=true`` for the
    lineage rewrite paths (they must stamp the reserved field ids into
    rewritten footers). Leaving the conf set SESSION-WIDE would make
    every later parquet write embed any ``parquet.field.id`` StructField
    metadata it carries — e.g. a frame read from an id-mode Delta table
    (whose scan schema stamps Delta column-mapping ids) written anywhere
    else would embed those ids for field-id-resolving readers to
    mis-resolve. Restore the caller's value on exit (review r11 pass 3)."""
    key = "spark.sql.parquet.fieldId.write.enabled"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, "true")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _with_materialized_lineage(df: DataFrame) -> DataFrame:
    """Stamp the two lineage columns with the spec's reserved parquet
    field ids so field-id-resolving foreign readers find them regardless
    of column name (Spark writes ``parquet.field.id`` StructField
    metadata into footers when fieldId.write is enabled — the caller
    enables it). Name-resolving readers (this engine's own) match the
    spec-reserved names directly."""
    from pyspark.sql import functions as F

    stamp = {
        "_row_id": {"parquet.field.id": _ROW_ID_FIELD_ID},
        "_last_updated_sequence_number": {
            "parquet.field.id": _LAST_UPDATED_SEQ_FIELD_ID
        },
    }
    return df.select(*[
        F.col(c).alias(c, metadata=stamp[c]) if c in stamp else F.col(c)
        for c in df.columns
    ])


def compact_iceberg_table(spark, path: str, target_files: int = 1) -> dict:
    """OPTIMIZE (compaction) for the native Iceberg table — the Delta
    ``optimize_delta`` twin: rewrite the CURRENT snapshot's rows into
    ``target_files`` files and commit them as a REPLACE snapshot whose
    manifest list references ONLY the new manifest (old data files stop
    being referenced by the new snapshot; every prior snapshot keeps its
    own manifest list, so time travel by id still reads the pre-compaction
    layout until ``expire_iceberg_snapshots`` reclaims it).

    FORMAT-VERSION 3 (round 11): the rewrite PRESERVES ROW LINEAGE —
    the scan projects each surviving row's ``_row_id`` /
    ``_last_updated_sequence_number`` (spec reader rule: materialized
    value, else first_row_id + position) and the rewritten files
    MATERIALIZE both as parquet columns under the spec's reserved names
    and field ids (2147483540 / 2147483539), so ids survive the rewrite
    byte-identically. Rows rewritten from pre-upgrade (null-lineage)
    files materialize NULL and acquire fresh ids via the new file's
    ``first_row_id`` + position — the spec's id-assignment-on-rewrite.
    DVs/position deletes are materialized away by the rewrite as in v2.

    Scale: the rewrite is a distributed read->coalesce->write of only the
    live files; metadata work is one manifest + one manifest list, and
    the lineage projection is a broadcast map join — no extra shuffle."""
    table_dir = Path(path)
    metadata = _load_metadata(table_dir)[0]
    base_snapshot = metadata["current-snapshot-id"]
    fv = int(metadata.get("format-version", 1))
    if fv >= 3:
        with _field_id_writes(spark):
            live = read_iceberg_table(spark, path, row_lineage=True)
            compacted = _with_materialized_lineage(live).coalesce(
                target_files
            )
            return _commit_iceberg_snapshot(
                compacted, path, operation="replace",
                expect_current=base_snapshot, _carry_lineage=True,
            )
    compacted = read_iceberg_table(spark, path).coalesce(target_files)
    return _commit_iceberg_snapshot(
        compacted, path, operation="replace", expect_current=base_snapshot
    )


def iceberg_table_changes(
    spark,
    path: str,
    after_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
    skip_rewrites: bool = False,
) -> DataFrame:
    """Incremental change reader (the Delta ``table_changes`` twin): the
    row-level changes each snapshot AFTER ``after_snapshot_id`` (exclusive
    — pass the consumer's last-seen id; None = from table creation)
    through ``to_snapshot_id`` (inclusive, default current) made, as the
    table columns plus ``_change_type`` (``insert``/``delete``) and
    ``_snapshot_id``. Derived from snapshot metadata alone:

    - ``append`` snapshots -> inserts of the data files that snapshot
      added (manifest entries with its snapshot id);
    - ``delete`` snapshots (position deletes) -> delete rows recovered by
      joining the delete file's (file, pos) pairs against the referenced
      data files' row indexes;
    - ``replace`` snapshots (compaction/overwrite) REFUSE by default —
      a rewrite's row-level diff is not derivable from metadata (this
      engine's own compactions are row-preserving, but a foreign replace
      may not be); ``skip_rewrites=True`` opts into skipping them under
      that compaction assumption.

    Scale: metadata walk on the driver; row recovery scans only the files
    the change window touches, with the delete positions as a broadcast
    inner join."""
    from pyspark.sql import functions as F

    from evolution_spark.io.scan_filters import (
        anti_join_deleted_positions,  # noqa: F401 (shared-module parity)
        decoded_file_path,
    )

    table_dir = Path(path)
    metadata, _ = _load_metadata(table_dir)
    snaps = metadata["snapshots"]
    ids = [s["snapshot-id"] for s in snaps]
    start_idx = 0
    if after_snapshot_id is not None:
        if after_snapshot_id not in ids:
            raise ValueError(
                f"after_snapshot_id {after_snapshot_id} not in history {ids}"
            )
        start_idx = ids.index(after_snapshot_id) + 1
    end_idx = len(snaps) - 1
    if to_snapshot_id is not None:
        if to_snapshot_id not in ids:
            raise ValueError(
                f"to_snapshot_id {to_snapshot_id} not in history {ids}"
            )
        end_idx = ids.index(to_snapshot_id)

    from evolution_spark.io.scan_filters import plain_path

    insert_files: list[tuple[str, int, int]] = []  # (file, snap id, schema id)
    delete_files: list[tuple[str, int]] = []  # (delete parquet, snapshot id)
    target_sid: dict[str, int] = {}  # delete-target data file -> schema id
    _mf_cache: dict[str, tuple] = {}  # manifest path -> (entries, meta):
    # snapshots share manifests by reference and the delete-target walk
    # re-visits them — one avro read per distinct manifest per call

    def _manifest(path_str: str):
        hit = _mf_cache.get(path_str)
        if hit is None:
            hit = _mf_cache[path_str] = _read_avro_with_meta(Path(path_str))
        return hit

    for snap in snaps[start_idx : end_idx + 1]:
        sid = snap["snapshot-id"]
        op = snap["summary"].get("operation", "append")
        if op not in ("append", "delete", "overwrite"):
            # replace/unknown: the rewrite's row diff is not derivable
            # from metadata — refusing beats a silently incomplete feed.
            # ``overwrite`` (this engine's UPDATE/MERGE) IS derivable when
            # add-only: its delete file holds the deleted positions and
            # its data files the new row versions — the delete+insert CDF
            # fallback; the status==2 check below still rejects any
            # foreign overwrite that REMOVES files.
            if skip_rewrites and op == "replace":
                continue
            raise IcebergFormatError(
                f"snapshot {sid} has operation {op!r}; its row-level diff "
                "is not derivable from metadata — pass skip_rewrites=True "
                "for REPLACE snapshots known row-preserving (this engine's "
                "compactions are), or re-read the table"
            )
        for mf in _read_avro(Path(snap["manifest-list"])):
            if mf.get("added_snapshot_id") != sid:
                continue  # carried by reference from an earlier snapshot
            is_delete_manifest = int(mf.get("content") or 0) == 1
            mf_entries, mf_meta = _manifest(mf["manifest_path"])
            try:
                mf_sid = int((mf_meta.get("schema-id") or b"").decode())
            except ValueError:
                mf_sid = metadata["current-schema-id"]
            for entry in mf_entries:
                if entry["status"] == 2:
                    # a file REMOVAL inside an append/delete snapshot is a
                    # rewrite in disguise — same non-derivable diff
                    raise IcebergFormatError(
                        f"snapshot {sid} removes data file "
                        f"{entry['data_file']['file_path']}; its row-level "
                        "diff is not derivable from metadata"
                    )
                if entry["status"] != 1:  # only files ADDED by this snapshot
                    continue
                dfile = entry["data_file"]
                fp = dfile["file_path"]
                content = int(dfile.get("content") or 0)
                if is_delete_manifest:
                    if content == 2:
                        raise IcebergFormatError(
                            f"delete file {fp} carries EQUALITY deletes "
                            "(content=2); the change feed cannot recover "
                            "their rows — refusing rather than emitting an "
                            "incomplete change set"
                        )
                    if dfile.get("referenced_data_file"):
                        raise IcebergFormatError(
                            f"delete file {fp} is a v3 DELETION VECTOR; "
                            "the change feed cannot diff merged vectors "
                            "across snapshots yet — refusing rather than "
                            "emitting an incomplete change set"
                        )
                    if content != 1:
                        raise IcebergFormatError(
                            f"DELETE manifest entry {fp} has content="
                            f"{content} — malformed metadata"
                        )
                    delete_files.append((fp, sid))
                else:
                    insert_files.append((plain_path(fp), sid, mf_sid))
        if any(s == sid for _, s in delete_files):
            # a delete snapshot's TARGET data files may predate a later
            # rename/widen: record each live data file's WRITTEN schema
            # id so the delete-row recovery below reads pre-evolution
            # files with pre-evolution names/types (metadata-sized; only
            # delete snapshots walk their full manifest list)
            for mf in _read_avro(Path(snap["manifest-list"])):
                if int(mf.get("content") or 0) != 0:
                    continue
                t_entries, t_meta = _manifest(mf["manifest_path"])
                try:
                    t_sid = int((t_meta.get("schema-id") or b"").decode())
                except ValueError:
                    t_sid = metadata["current-schema-id"]
                for entry in t_entries:
                    if entry["status"] == 2:
                        continue
                    target_sid[plain_path(entry["data_file"]["file_path"])] = t_sid

    ice_schema = next(
        s for s in metadata["schemas"] if s["schema-id"] == metadata["current-schema-id"]
    )
    schema = spark_schema_of(ice_schema)
    names = [f.name for f in schema.fields]

    def _read_aligned(files_by_sid: dict[int, list[str]], tag: bool):
        """Read data-file groups with their WRITTEN schema and realign to
        the CURRENT one by field id (rename -> alias, widen -> upcast,
        added -> null, dropped -> not selected) — the change feed's twin
        of the evolved-read path in read_iceberg_table. ``tag`` adds the
        (__chg_fp[, __chg_ri]) physical columns."""
        branches = []
        for gsid in sorted(files_by_sid):
            g_schema = next(
                (s for s in metadata["schemas"] if s["schema-id"] == gsid),
                None,
            )
            if g_schema is None:
                raise IcebergFormatError(
                    f"manifest references unknown schema-id {gsid}"
                )
            gdf = parquet_files(spark, sorted(files_by_sid[gsid]), spark_schema_of(g_schema),
                                base_path=str(table_dir / "data"))
            cols = {"__chg_fp": decoded_file_path(F.col("_metadata.file_path"))}
            if tag:
                cols["__chg_ri"] = F.col("_metadata.row_index")
            gdf = gdf.withColumns(cols)
            g_by_id = {f["id"]: f for f in g_schema["fields"]}
            sel = []
            for f, sf in zip(ice_schema["fields"], schema.fields):
                gf = g_by_id.get(f["id"])
                if gf is None:
                    # added after these files were written: inject the
                    # v3 initial-default (null when none declared)
                    sel.append(
                        F.lit(decode_initial_default(f))
                        .cast(sf.dataType).alias(f["name"])
                    )
                else:
                    sel.append(
                        F.col(gf["name"]).cast(sf.dataType).alias(f["name"])
                    )
            sel += [F.col(c) for c in cols]
            branches.append(gdf.select(*sel))
        out = branches[0]
        for b in branches[1:]:
            out = out.unionByName(b)
        return out
    parts: list[DataFrame] = []
    import pandas as pd

    if insert_files:
        by_sid: dict[int, list[str]] = {}
        for f, _, fsid in insert_files:
            by_sid.setdefault(fsid, []).append(f)
        df = _read_aligned(
            {s: sorted(set(fs)) for s, fs in by_sid.items()}, tag=False
        )
        vers = spark.createDataFrame(
            pd.DataFrame(
                [(f, s) for f, s, _ in insert_files],
                columns=["__chg_file", "__chg_sid"],
            ),
            schema="__chg_file string, __chg_sid long",
        )
        parts.append(
            df.join(
                F.broadcast(vers), df["__chg_fp"] == vers["__chg_file"], "inner"
            ).select(
                *[F.col(n) for n in names],
                F.lit("insert").alias("_change_type"),
                F.col("__chg_sid").alias("_snapshot_id"),
            )
        )
    if delete_files:
        dels = None
        for dfp, sid in delete_files:
            one = (
                spark.read.schema("file_path string, pos long")
                .parquet(dfp)
                .withColumns({
                    "file_path": decoded_file_path("file_path"),
                    "__chg_sid": F.lit(sid),
                })
            )
            dels = one if dels is None else dels.unionByName(one)
        targets = sorted(
            {r.file_path for r in dels.select("file_path").distinct().collect()}
        )
        t_by_sid: dict[int, list[str]] = {}
        for t in targets:
            t_by_sid.setdefault(
                target_sid.get(t, metadata["current-schema-id"]), []
            ).append(t)
        df = _read_aligned(t_by_sid, tag=True)
        parts.append(
            df.join(
                F.broadcast(dels),
                (df["__chg_fp"] == dels["file_path"])
                & (df["__chg_ri"] == dels["pos"]),
                "inner",
            ).select(
                *[F.col(n) for n in names],
                F.lit("delete").alias("_change_type"),
                F.col("__chg_sid").alias("_snapshot_id"),
            )
        )
    if not parts:
        empty = spark.createDataFrame([], schema)
        return empty.withColumns({
            "_change_type": F.lit(None).cast("string"),
            "_snapshot_id": F.lit(None).cast("long"),
        }).where(F.lit(False))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def append_equality_deletes(
    path: str,
    rows: list[dict],
    equality_cols: list[str],
    partition_scope: dict | None = None,
) -> dict:
    """Commit an EQUALITY-delete snapshot (Iceberg v2 merge-on-read, the
    second delete flavor): a parquet file holding the ``equality_cols``
    values of the rows to delete, tracked in a ``content=1`` DELETE
    manifest whose entry carries ``content=2`` and the columns'
    ``equality_ids``. The spec's sequence rule — an equality delete
    applies only to rows whose data file has a STRICTLY OLDER sequence
    number — is what ``read_iceberg_table`` enforces at scan time, so
    rows appended AFTER the delete with the same key values survive (the
    upsert-pattern semantics equality deletes exist for).

    ``rows``: ``[{col: value, ...}, ...]`` — the delete's key set, driver
    -sized by nature (it is the changed-key list an upsert materializes).

    ``partition_scope``: ``{partition_field: value, ...}`` restricts the
    delete to ONE partition (the spec's scoped form — the delete manifest
    entry carries the real partition record instead of all-null, and the
    scan applies the anti-join only to data files in that partition).
    Keys must be exactly the default spec's partition field names. At
    100 TB this is the shape to prefer: the scan proves disjoint
    partitions untouched from metadata alone.

    Maintenance: accumulated delete files grow every scan's anti-join —
    ``io.maintenance.table_health(path)`` tracks the ratio and says when
    to ``compact_iceberg_table`` (BASELINE v3.3 thresholds)."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    if not rows:
        raise ValueError("rows must be non-empty")
    if not equality_cols:
        raise ValueError("equality_cols must be non-empty")
    table_dir = Path(path)
    metadata, prev_meta_file = _load_metadata(table_dir)
    if metadata.get("current-snapshot-id") is None:
        raise ValueError(
            "cannot add equality deletes to a table with no current "
            "snapshot (empty table) — there are no data files to delete from"
        )
    ice_schema = next(
        s for s in metadata["schemas"] if s["schema-id"] == metadata["current-schema-id"]
    )
    by_name = {f["name"]: f for f in ice_schema["fields"]}
    unknown = sorted(set(equality_cols) - set(by_name))
    if unknown:
        raise ValueError(f"equality_cols not in schema: {unknown}")
    bad = [r for r in rows if set(r) != set(equality_cols)]
    if bad:
        raise ValueError(
            f"every row must carry exactly {sorted(equality_cols)}; "
            f"first bad row: {bad[0]}"
        )
    spec_fields = next(
        s for s in metadata["partition-specs"] if s["spec-id"] == metadata["default-spec-id"]
    )["fields"]
    if partition_scope is not None:
        spec_names = {f["name"] for f in spec_fields}
        if not spec_names:
            raise ValueError(
                "partition_scope given but the table is unpartitioned"
            )
        if set(partition_scope) != spec_names:
            raise ValueError(
                f"partition_scope keys {sorted(partition_scope)} must be "
                f"exactly the partition fields {sorted(spec_names)}"
            )
        if all(v is None for v in partition_scope.values()):
            raise ValueError(
                "partition_scope values are all null — that encodes a "
                "GLOBAL delete; omit partition_scope instead"
            )
        # value TYPES must match the partition field's result type: the
        # scan matches scopes against data-file partition records via a
        # canonical serialization, so a '7' where the record holds 7
        # would silently match NOTHING — refuse loudly instead
        from evolution_spark.io.iceberg_transforms import result_ice_type

        field_by_id = {f["id"]: f for f in ice_schema["fields"]}
        for pf in spec_fields:
            v = partition_scope[pf["name"]]
            if v is None:
                continue
            rtype = result_ice_type(
                pf.get("transform", "identity"),
                field_by_id[pf["source-id"]]["type"],
            )
            ok = {
                "long": lambda x: isinstance(x, int) and not isinstance(x, bool),
                "int": lambda x: isinstance(x, int) and not isinstance(x, bool),
                "string": lambda x: isinstance(x, str),
                "double": lambda x: isinstance(x, float),
                "float": lambda x: isinstance(x, float),
                "boolean": lambda x: isinstance(x, bool),
                "date": lambda x: hasattr(x, "toordinal"),
            }.get(rtype)
            if ok is None or not ok(v):
                raise TypeError(
                    f"partition_scope[{pf['name']!r}] = {v!r} does not "
                    f"match the partition field's {rtype!r} type — a "
                    "mistyped scope would silently delete nothing"
                )
    seq = metadata["last-sequence-number"] + 1
    snapshot_id = uuid.uuid4().int % (1 << 62)
    now_ms = int(time.time() * 1000)

    arrow_of = {
        "long": pa.int64(), "int": pa.int32(), "double": pa.float64(),
        "float": pa.float32(), "string": pa.string(),
        "boolean": pa.bool_(), "date": pa.date32(),
    }
    unsupported = [c for c in equality_cols
                   if by_name[c]["type"] not in arrow_of]
    if unsupported:
        raise TypeError(
            f"equality delete on iceberg type(s) "
            f"{[by_name[c]['type'] for c in unsupported]} not supported"
        )
    arrow_schema = pa.schema([
        pa.field(
            c,
            arrow_of[by_name[c]["type"]],
            metadata={b"PARQUET:field_id": str(by_name[c]["id"]).encode()},
        )
        for c in equality_cols
    ])
    del_path = table_dir / "data" / f"eqdelete-s{seq:05d}-{uuid.uuid4().hex}.parquet"
    del_path.parent.mkdir(parents=True, exist_ok=True)
    papq.write_table(
        pa.table(
            {c: pa.array([r[c] for r in rows], arrow_schema.field(c).type)
             for c in equality_cols},
            schema=arrow_schema,
        ),
        del_path,
    )

    part_schema = _partition_record_schema(spec_fields, ice_schema)
    entry_schema = _manifest_entry_schema(part_schema)
    entry = {
        "status": 1,
        "snapshot_id": snapshot_id,
        "sequence_number": None,
        "file_sequence_number": None,
        "data_file": {
            "content": 2,  # EQUALITY DELETES
            "file_path": str(del_path),
            "file_format": "PARQUET",
            "partition": {
                f["name"]: (partition_scope or {}).get(f["name"])
                for f in spec_fields
            },
            "record_count": len(rows),
            "file_size_in_bytes": del_path.stat().st_size,
            "equality_ids": [by_name[c]["id"] for c in equality_cols],
            "lower_bounds": None,
            "upper_bounds": None,
        },
    }
    meta_dir = table_dir / "metadata"
    manifest_path = meta_dir / f"{uuid.uuid4()}-d0.avro"
    manifest_len = _write_avro(
        manifest_path, entry_schema, [entry],
        meta={
            "schema": json.dumps(ice_schema),
            "schema-id": str(metadata["current-schema-id"]),
            "partition-spec": json.dumps(spec_fields),
            "partition-spec-id": str(metadata["default-spec-id"]),
            "format-version": "2",
            "content": "deletes",
        },
    )
    current = metadata["current-snapshot-id"]
    prev_snapshot = next(
        s for s in metadata["snapshots"] if s["snapshot-id"] == current
    )
    prev_entries = _read_avro(Path(prev_snapshot["manifest-list"]))
    new_entry = {
        "manifest_path": str(manifest_path),
        "manifest_length": manifest_len,
        "partition_spec_id": metadata["default-spec-id"],
        "content": 1,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snapshot_id,
        "added_data_files_count": 1,
        "existing_data_files_count": 0,
        "deleted_data_files_count": 0,
        "added_rows_count": len(rows),
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }
    mlist_path = meta_dir / f"snap-{snapshot_id}-1-{uuid.uuid4()}.avro"
    fv = int(metadata.get("format-version", 1))
    if fv >= 3:
        # v3 tables: carry each manifest's first_row_id through (equality
        # deletes add no rows, so next-row-id is untouched) — re-encoding
        # with the v2 schema would silently STRIP lineage
        for mf in prev_entries:
            mf.setdefault("first_row_id", None)
        new_entry["first_row_id"] = None
    _write_avro(
        mlist_path, _manifest_list_schema(fv), prev_entries + [new_entry],
        meta={"format-version": "2" if fv < 3 else "3"},
    )
    new_snapshot = {
        "snapshot-id": snapshot_id,
        "parent-snapshot-id": current,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": str(mlist_path),
        "summary": {
            "operation": "delete",
            "added-delete-files": "1",
            "added-equality-deletes": str(len(rows)),
            "total-data-files": prev_snapshot["summary"].get("total-data-files", "0"),
            "total-records": prev_snapshot["summary"].get("total-records", "0"),
        },
        "schema-id": metadata["current-schema-id"],
    }
    new_meta = dict(metadata)
    if fv >= 3:
        new_snapshot["first-row-id"] = int(metadata.get("next-row-id") or 0)
    new_meta["last-sequence-number"] = seq
    new_meta["last-updated-ms"] = now_ms
    new_meta["current-snapshot-id"] = snapshot_id
    new_meta["snapshots"] = metadata["snapshots"] + [new_snapshot]
    new_meta["snapshot-log"] = metadata["snapshot-log"] + [
        {"timestamp-ms": now_ms, "snapshot-id": snapshot_id}
    ]
    new_meta["metadata-log"] = metadata["metadata-log"] + [
        {"timestamp-ms": metadata["last-updated-ms"],
         "metadata-file": str(prev_meta_file)}
    ]
    _publish_metadata(meta_dir, prev_meta_file, new_meta)
    return {
        "snapshot-id": snapshot_id,
        "delete-file": str(del_path),
        "equality-deletes": len(rows),
        "sequence-number": seq,
    }


def evolve_iceberg_schema(path: str, add_columns: list[tuple[str, str]]) -> dict:
    """ADD COLUMN schema evolution, per the Iceberg spec's rules: every new
    column gets a FRESH field-id (``last-column-id`` increments — ids are
    assigned once and never reused, the invariant that makes Iceberg
    evolution safe), the widened schema is appended to ``schemas`` under a
    new ``schema-id``, ``current-schema-id`` moves to it, and the
    name-mapping gains the new entries so field-id-less parquet files keep
    resolving by name. Metadata-only — no data file is touched; old files
    simply lack the column and scan as null. Historical snapshots keep
    their recorded ``schema-id``, so time travel reads the schema that was
    current at that snapshot.

    ``add_columns``: ``[(name, iceberg_type_string)]`` with the primitive
    types this module maps (boolean/int/long/float/double/string/binary/
    date/timestamp/timestamptz), or ``(name, type, default)`` 3-tuples on
    FORMAT-VERSION 3 tables (spec v3 'Default values'): the default lands
    as the field's ``initial-default`` (what pre-evolution rows read) AND
    ``write-default``, JSON-single-value encoded (dates as ISO strings).
    Added columns are optional (nullable) by construction. Rename/drop/
    type-promotion stay out of scope."""
    import datetime as _dt

    table_dir = Path(path)
    metadata, prev_meta_file = _load_metadata(table_dir)
    if not add_columns:
        raise ValueError("add_columns must be non-empty")
    current = next(
        s for s in metadata["schemas"] if s["schema-id"] == metadata["current-schema-id"]
    )
    existing = {f["name"].lower() for f in current["fields"]}
    col_id = metadata["last-column-id"]
    new_fields = list(current["fields"])
    for spec_col in add_columns:
        name, ice_type = spec_col[0], spec_col[1]
        default = spec_col[2] if len(spec_col) > 2 else None
        if ice_type not in _FROM_ICEBERG:
            raise TypeError(
                f"column {name!r}: unsupported iceberg type {ice_type!r} "
                f"(have {sorted(_FROM_ICEBERG)})"
            )
        if name.lower() in existing:
            raise ValueError(f"column {name!r} already exists in the schema")
        existing.add(name.lower())
        col_id += 1
        field = {
            "id": col_id, "name": name, "required": False, "type": ice_type,
        }
        if default is not None:
            if int(metadata.get("format-version", 1)) < 3:
                raise IcebergFormatError(
                    "column defaults are a format-version 3 feature "
                    "(spec 'Default values') — "
                    "upgrade_iceberg_format_version first"
                )
            encoded = (
                default.isoformat()
                if isinstance(default, _dt.date)
                and not isinstance(default, _dt.datetime)
                else default
            )
            field["initial-default"] = encoded
            field["write-default"] = encoded
            # round-trip through the reader's decoder NOW so a mistyped
            # default refuses at DDL time, not on the first read
            decode_initial_default(field)
        new_fields.append(field)
    new_schema_id = max(s["schema-id"] for s in metadata["schemas"]) + 1
    new_schema = {"type": "struct", "schema-id": new_schema_id, "fields": new_fields}

    props = dict(metadata.get("properties") or {})
    mapping = json.loads(props.get("schema.name-mapping.default", "[]"))
    known = {m["field-id"] for m in mapping}
    for f in new_fields:
        if f["id"] not in known:
            mapping.append({"field-id": f["id"], "names": [f["name"]]})
    props["schema.name-mapping.default"] = json.dumps(mapping)

    now_ms = int(time.time() * 1000)
    new_meta = dict(metadata)
    new_meta["schemas"] = metadata["schemas"] + [new_schema]
    new_meta["current-schema-id"] = new_schema_id
    new_meta["last-column-id"] = col_id
    new_meta["properties"] = props
    new_meta["last-updated-ms"] = now_ms
    new_meta["metadata-log"] = metadata["metadata-log"] + [
        {"timestamp-ms": metadata["last-updated-ms"],
         "metadata-file": str(prev_meta_file)}
    ]
    _publish_metadata(table_dir / "metadata", prev_meta_file, new_meta)
    return {
        "schema-id": new_schema_id,
        "last-column-id": col_id,
        "schema": [f["name"] for f in new_fields],
    }


def _publish_evolved_schema(
    path: str, new_fields: list[dict], op: str, mapping_aliases: dict[int, str] | None = None
) -> dict:
    """Shared metadata-only schema-evolution publish (rename/drop/widen):
    append the evolved field list as a NEW schema under a fresh
    schema-id, move ``current-schema-id`` to it, and extend the
    name-mapping (``mapping_aliases``: field-id -> newly-current name,
    prepended so id-less parquet files keep resolving under every name
    the field ever had). Field-ids never change — that stability is what
    makes Iceberg evolution metadata-only."""
    table_dir = Path(path)
    metadata, prev_meta_file = _load_metadata(table_dir)
    new_schema_id = max(s["schema-id"] for s in metadata["schemas"]) + 1
    new_schema = {
        "type": "struct", "schema-id": new_schema_id, "fields": new_fields
    }
    props = dict(metadata.get("properties") or {})
    mapping = json.loads(props.get("schema.name-mapping.default", "[]"))
    by_fid = {m["field-id"]: m for m in mapping}
    for fid, new_name in (mapping_aliases or {}).items():
        entry = by_fid.get(fid)
        if entry is None:
            entry = {"field-id": fid, "names": []}
            mapping.append(entry)
        if new_name in entry["names"]:
            entry["names"].remove(new_name)
        entry["names"].insert(0, new_name)
    props["schema.name-mapping.default"] = json.dumps(mapping)

    now_ms = int(time.time() * 1000)
    new_meta = dict(metadata)
    new_meta["schemas"] = metadata["schemas"] + [new_schema]
    new_meta["current-schema-id"] = new_schema_id
    new_meta["properties"] = props
    new_meta["last-updated-ms"] = now_ms
    new_meta["metadata-log"] = metadata["metadata-log"] + [
        {"timestamp-ms": metadata["last-updated-ms"],
         "metadata-file": str(prev_meta_file)}
    ]
    _publish_metadata(table_dir / "metadata", prev_meta_file, new_meta)
    return {
        "schema-id": new_schema_id,
        "operation": op,
        "schema": [f["name"] for f in new_fields],
    }


def _current_schema_and_guards(path: str, col: str, op: str):
    """Load metadata, resolve the current schema + the named field, and
    refuse evolution on partition-source columns (changing them would
    invalidate every manifest's partition records)."""
    metadata, _ = _load_metadata(Path(path))
    current = next(
        s for s in metadata["schemas"]
        if s["schema-id"] == metadata["current-schema-id"]
    )
    by_name = {f["name"]: f for f in current["fields"]}
    if col not in by_name:
        raise ValueError(
            f"column {col!r} not in schema {sorted(by_name)}"
        )
    # guard scope: the DEFAULT spec's sources for ALL transforms (writes
    # lay out dirs and prune by them), plus IDENTITY sources of every
    # RETIRED spec — an old identity layout reconstructs the column from
    # directory names keyed at write time, so renaming its source would
    # silently null those epoch's reads. Non-identity sources of retired
    # specs stay renameable: the transform is lossy, the source lives IN
    # the data files (field-id realigned), and partition records key on
    # the partition-FIELD name, not the source.
    specs = metadata["partition-specs"]  # missing key = corrupt: loud
    default_id = metadata["default-spec-id"]
    source_ids = set()
    for sp in specs:
        for pf in sp["fields"]:
            if sp["spec-id"] == default_id or \
                    pf.get("transform", "identity") == "identity":
                source_ids.add(pf["source-id"])
    if by_name[col]["id"] in source_ids:
        raise ValueError(
            f"cannot {op} column {col!r}: it is a partition source of the "
            "default spec or an identity source of a retired spec (the "
            "partition layouts/records in manifests are keyed on it)"
        )
    # live EQUALITY deletes block evolution: the evolved read refuses
    # them (per-epoch field-id resolution of delete-file columns is not
    # implemented), and compaction goes through the same read — evolving
    # now would leave the table unreadable with only circular advice.
    # Refusing HERE keeps compaction possible (schemas still uniform).
    snap_id = metadata.get("current-snapshot-id")
    if snap_id is not None:
        snap = next(
            s for s in metadata["snapshots"] if s["snapshot-id"] == snap_id
        )
        for mf in _read_avro(Path(snap["manifest-list"])):
            if int(mf.get("content") or 0) != 1:
                continue
            for entry in _read_avro(Path(mf["manifest_path"])):
                if entry["status"] == 2:
                    continue
                if int(entry["data_file"].get("content") or 0) == 2:
                    raise ValueError(
                        f"cannot {op} column {col!r} while EQUALITY deletes "
                        "are live (the evolved read cannot resolve delete-"
                        "file columns across schema epochs) — run "
                        "compact_iceberg_table(path) first to materialize "
                        "them, then evolve"
                    )
    return metadata, current, by_name


def evolve_iceberg_partition_spec(path: str, partition_by: list[str]) -> dict:
    """PARTITION EVOLUTION (spec §Partition Evolution), metadata-only: a
    NEW partition spec (fresh spec-id) becomes the default; existing data
    files keep their old layout and their manifests keep the old
    spec-id. Writes after this commit land under the new layout;
    ``read_iceberg_table`` scans each spec epoch as its own group (the
    hive directory layouts differ) and prunes each manifest against ITS
    OWN spec — a ``partition_where`` an old spec cannot express simply
    does not prune those manifests (conservative, never wrong). This is
    the 100 TB lifecycle feature: repartitioning a table (day -> month,
    add a bucket, drop a dimension) without rewriting a byte.

    Partition field-ids are REUSED for (source column, transform) pairs
    any earlier spec already named (the spec's rule — records stay
    comparable across specs) and freshly allocated past
    ``last-partition-id`` otherwise. Reference parity: the reference
    declares the Iceberg target but implements none of this
    (crates/evolution-target/src/target.rs)."""
    from evolution_spark.io.iceberg_transforms import parse_partition_by

    table_dir = Path(path)
    metadata, prev_meta_file = _load_metadata(table_dir)
    cur_schema = next(
        s for s in metadata["schemas"]
        if s["schema-id"] == metadata["current-schema-id"]
    )
    new_fields = parse_partition_by(partition_by or [], cur_schema)
    existing_fid = {
        (f["source-id"], f.get("transform", "identity")): f["field-id"]
        for sp in metadata.get("partition-specs") or []
        for f in sp["fields"]
    }
    last_pid = int(metadata.get("last-partition-id") or 999)
    for f in new_fields:
        key = (f["source-id"], f.get("transform", "identity"))
        if key in existing_fid:
            f["field-id"] = existing_fid[key]
        else:
            last_pid += 1
            f["field-id"] = last_pid
    old_default = next(
        sp for sp in metadata["partition-specs"]
        if sp["spec-id"] == metadata["default-spec-id"]
    )
    if [(f["source-id"], f.get("transform", "identity"))
            for f in new_fields] == [
        (f["source-id"], f.get("transform", "identity"))
        for f in old_default["fields"]
    ]:
        return {"spec-id": metadata["default-spec-id"],
                "note": "partition spec unchanged"}
    new_spec_id = max(
        sp["spec-id"] for sp in metadata["partition-specs"]
    ) + 1
    now_ms = int(time.time() * 1000)
    new_meta = dict(metadata)
    new_meta["partition-specs"] = metadata["partition-specs"] + [
        {"spec-id": new_spec_id, "fields": new_fields}
    ]
    new_meta["default-spec-id"] = new_spec_id
    new_meta["last-partition-id"] = max(
        last_pid, int(metadata.get("last-partition-id") or 999)
    )
    new_meta["last-updated-ms"] = now_ms
    new_meta["metadata-log"] = metadata["metadata-log"] + [
        {"timestamp-ms": metadata["last-updated-ms"],
         "metadata-file": str(prev_meta_file)}
    ]
    _publish_metadata(table_dir / "metadata", prev_meta_file, new_meta)
    return {
        "spec-id": new_spec_id,
        "fields": [
            (f["name"], f.get("transform", "identity")) for f in new_fields
        ],
    }


def rename_iceberg_column(path: str, old: str, new: str) -> dict:
    """RENAME COLUMN, metadata-only (the Iceberg spec's core promise:
    field-ids are stable, names are labels): the field keeps its id and
    type under a new name in a NEW schema version; historical snapshots
    keep their recorded schema-id and still read the old name. Data
    files written before the rename carry the OLD column name —
    ``read_iceberg_table`` resolves them per manifest schema-id and
    realigns by field id, so no file is rewritten."""
    _, current, by_name = _current_schema_and_guards(path, old, "rename")
    if not new or new == old:
        raise ValueError(f"invalid new name {new!r}")
    if new.lower() in {n.lower() for n in by_name}:
        raise ValueError(f"column {new!r} already exists")
    new_fields = [
        dict(f, name=new) if f["name"] == old else f
        for f in current["fields"]
    ]
    return _publish_evolved_schema(
        path, new_fields, "rename",
        mapping_aliases={by_name[old]["id"]: new},
    )


def drop_iceberg_column(path: str, name: str) -> dict:
    """DROP COLUMN, metadata-only: the field leaves the current schema;
    its id is retired (``last-column-id`` never decreases, so a later
    ADD COLUMN can never reuse it and resurrect the stored data).
    Historical snapshots still read the column via their schema-id."""
    _, current, by_name = _current_schema_and_guards(path, name, "drop")
    if len(current["fields"]) == 1:
        raise ValueError("cannot drop the last column of a table")
    new_fields = [f for f in current["fields"] if f["name"] != name]
    return _publish_evolved_schema(path, new_fields, "drop")


_ICEBERG_PROMOTIONS = {("int", "long"), ("float", "double")}


def widen_iceberg_column(path: str, name: str, new_type: str) -> dict:
    """Type promotion per the spec's evolution rules: ``int -> long`` and
    ``float -> double`` only (widenings every reader can apply losslessly
    at scan time); anything else refuses. Metadata-only — old files keep
    their narrow physical type and ``read_iceberg_table`` upcasts them
    during the per-schema-group realignment."""
    _, current, by_name = _current_schema_and_guards(path, name, "widen")
    old_type = by_name[name]["type"]
    if (old_type, new_type) not in _ICEBERG_PROMOTIONS:
        raise TypeError(
            f"cannot widen {name!r} from {old_type!r} to {new_type!r}; "
            f"the spec's lossless promotions are {sorted(_ICEBERG_PROMOTIONS)}"
        )
    new_fields = [
        dict(f, type=new_type) if f["name"] == name else f
        for f in current["fields"]
    ]
    return _publish_evolved_schema(path, new_fields, "widen")


def _publish_metadata(meta_dir: Path, prev_meta_file: Path | None, new_meta: dict) -> Path:
    """The ONE optimistic-concurrency metadata publish shared by every
    commit path (table create, snapshot commit, position deletes, schema
    evolution, expire): claim the next version (0 when ``prev_meta_file``
    is None) with a create-exclusive ``.commit-v``
    marker — two writers racing from the same base version collide here,
    and the loser errors instead of its hint swap silently discarding the
    winner's metadata — then atomically write the new metadata.json and
    swap the version-hint (the commit point). Any failure between claim
    and publish releases the marker, so a crash never wedges the table
    with a permanent 'concurrent commit' error."""
    version_n = 0 if prev_meta_file is None else int(prev_meta_file.name.split("-", 1)[0]) + 1
    marker = meta_dir / f".commit-v{version_n:05d}"
    try:
        fd = os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.close(fd)
    except FileExistsError:
        raise RuntimeError(
            f"concurrent commit detected for version {version_n} — reload "
            "the table metadata and retry"
        ) from None
    try:
        meta_file = meta_dir / f"{version_n:05d}-{uuid.uuid4()}.metadata.json"
        tmp = meta_dir / (meta_file.name + ".tmp")
        tmp.write_text(json.dumps(new_meta, indent=1))
        os.replace(tmp, meta_file)
        tmp_h = meta_dir / ".version-hint.tmp"
        tmp_h.write_text(meta_file.name)
        os.replace(tmp_h, meta_dir / "version-hint.text")
    except BaseException:
        marker.unlink(missing_ok=True)
        raise
    return meta_file


def append_position_deletes(path: str, deletes: list[tuple[str, int]]) -> dict:
    """Commit a merge-on-read DELETE snapshot: write a POSITION delete file
    (plain parquet ``(file_path, pos)`` rows, spec field-ids 2147483546 /
    2147483545), track it in a ``content=1`` DELETE manifest, and publish a
    new snapshot whose manifest list carries the previous snapshot's
    manifests by reference plus the delete manifest. ``read_iceberg_table``
    then drops those rows during the scan; ``compact_iceberg_table``
    materializes them away (its REPLACE snapshot starts a fresh manifest
    list). ``deletes`` holds (data_file_path, row_position) pairs exactly
    as recorded in the target table's manifests — the predicate front-end
    is ``delete_iceberg_rows``.

    Driver cost: metadata-sized — the delete list a DELETE produces is the
    changed-row set, and the parquet/manifest writes are one file each.
    Iceberg spec refs: "Position Delete Files" and "Delete Manifests"
    (format v2); the reference engine's iceberg example is a ``todo!()``
    (examples/iceberg/src/main.rs:28-30), so this exceeds it."""
    if not deletes:
        raise ValueError("deletes must be non-empty")
    table_dir = Path(path)
    metadata, prev_meta_file = _load_metadata(table_dir)
    if metadata.get("current-snapshot-id") is None:
        raise ValueError(
            "cannot add position deletes to a table with no current "
            "snapshot (empty table) — there are no data files to delete from"
        )
    res = _commit_files_as_snapshot(
        table_dir, metadata, prev_meta_file, [], "delete",
        position_deletes=list(deletes),
    )
    return {
        "snapshot-id": res["snapshot-id"],
        "position-deletes": res["position-deletes"],
        "sequence-number": res["sequence-number"],
    }


def upgrade_iceberg_format_version(path: str) -> dict:
    """Metadata-only commit bumping the table to format-version 3 (the
    prerequisite for deletion vectors). ``next-row-id`` is initialized as
    v3 requires. Round 10: v3 APPENDS assign row lineage (explicit
    ``first_row_id`` per added data file + manifest-list entry,
    ``next-row-id`` advanced — ``_commit_files_as_snapshot``); DV DELETEs
    commit Puffin vectors. Round 11: REWRITES preserve carried rows' ids
    by materializing ``_row_id`` / ``_last_updated_sequence_number`` as
    parquet columns (compaction, UPDATE, MERGE all work on v3);
    pre-upgrade files keep null lineage until their first rewrite assigns
    ids (spec-legal). Idempotent."""
    table_dir = Path(path)
    metadata, prev_meta_file = _load_metadata(table_dir)
    fv = int(metadata.get("format-version", 1))
    if fv >= 3:
        return {"format-version": fv, "note": "already v3"}
    new_meta = dict(metadata)
    new_meta["format-version"] = 3
    new_meta.setdefault("next-row-id", 0)
    new_file = _publish_metadata(
        table_dir / "metadata", prev_meta_file, new_meta
    )
    return {"format-version": 3, "metadata-file": str(new_file)}


def _live_dv_positions(metadata: dict) -> dict[str, set[int]]:
    """The CURRENT snapshot's live deletion-vector state as
    {decoded data-file path -> deleted positions} — one manifest-list
    walk plus one Puffin decode per live DV (driver cost ∝ total deleted
    rows). Refuses tables carrying non-DV delete files (parquet
    position/equality deletes, e.g. pre-upgrade v2 state): a DV commit
    supersedes ALL previous delete manifests, and silently superseding
    deletes it cannot merge would resurrect their rows — compact the
    table first to materialize them away."""
    from evolution_spark.io.puffin import read_puffin_dv
    from evolution_spark.io.scan_filters import plain_path

    snapshot = next(
        s for s in metadata["snapshots"]
        if s["snapshot-id"] == metadata["current-snapshot-id"]
    )
    merged: dict[str, set[int]] = {}
    for mf in _read_avro(Path(snapshot["manifest-list"])):
        if int(mf.get("content") or 0) != 1:
            continue
        for entry in _read_avro(Path(mf["manifest_path"])):
            if entry["status"] == 2:
                continue
            dfile = entry["data_file"]
            if not dfile.get("referenced_data_file"):
                raise IcebergFormatError(
                    f"table carries a non-DV delete file "
                    f"{dfile['file_path']} — refusing to supersede delete "
                    "state this commit cannot merge"
                )
            positions = read_puffin_dv(
                dfile["file_path"],
                int(dfile["content_offset"]),
                int(dfile["content_size_in_bytes"]),
            )
            merged.setdefault(
                plain_path(dfile["referenced_data_file"]), set()
            ).update(int(p) for p in positions)
    return merged


def append_deletion_vectors(path: str, deletes: list[tuple[str, int]]) -> dict:
    """Commit a v3 DELETION-VECTOR delete snapshot: the merge-on-read
    DELETE shape where deleted positions live as Puffin roaring-bitmap
    blobs scoped one-per-data-file (``referenced_data_file`` +
    ``content_offset``/``content_size_in_bytes`` manifest fields, spec
    ids 143-145) instead of parquet (file, pos) rows. The v3 invariant is
    AT MOST ONE live DV per data file, so this writer MERGES every
    existing DV with the new positions into one fresh Puffin file and the
    commit's manifest list drops the superseded DV manifests — rewrite
    cost ∝ total deleted rows, the same bill Delta's DV maintenance pays,
    amortized away by compaction. Refuses tables carrying non-DV delete
    files (parquet position/equality deletes): silently superseding those
    would resurrect their rows."""
    if not deletes:
        raise ValueError("deletes must be non-empty")
    table_dir = Path(path)
    metadata, prev_meta_file = _load_metadata(table_dir)
    if int(metadata.get("format-version", 1)) < 3:
        raise IcebergFormatError(
            "deletion vectors require format-version 3 — run "
            "upgrade_iceberg_format_version(path) first"
        )
    if metadata.get("current-snapshot-id") is None:
        raise ValueError("cannot add deletion vectors to an empty table")
    from evolution_spark.io.scan_filters import plain_path

    merged = _live_dv_positions(metadata)
    existing_total = sum(len(ps) for ps in merged.values())
    for f, pos in deletes:
        merged.setdefault(plain_path(f), set()).add(int(pos))
    res = _commit_files_as_snapshot(
        table_dir, metadata, prev_meta_file, [], "delete",
        deletion_vectors={f: sorted(ps) for f, ps in merged.items()},
        superseded_delete_rows=existing_total,
    )
    return {
        "snapshot-id": res["snapshot-id"],
        "dv-files": len(merged),
        "dv-positions": sum(len(ps) for ps in merged.values()),
        "sequence-number": res["sequence-number"],
    }


def delete_iceberg_rows_dv(spark, path: str, predicate: str) -> dict:
    """Predicate front-end for :func:`append_deletion_vectors` — the v3
    twin of ``delete_iceberg_rows``: scan the current snapshot with
    per-row lineage (existing DVs applied, so dead rows never re-delete),
    collect matched (file, position) pairs, commit ONE DV snapshot."""
    table_dir = Path(path)
    metadata, _ = _load_metadata(table_dir)
    if metadata.get("current-snapshot-id") is None:
        raise ValueError("cannot DELETE from a table with no current snapshot")
    snap_id = metadata["current-snapshot-id"]
    matched = (
        read_iceberg_table(
            spark, path, snapshot_id=snap_id, _lineage=True,
            _current_schema=True,
        )
        .where(predicate)
        .select("_src_file", "_src_pos")
        .collect()
    )
    if not matched:
        return {"snapshot-id": None, "deleted_rows": 0}
    res = append_deletion_vectors(
        path, [(r["_src_file"], r["_src_pos"]) for r in matched]
    )
    res["deleted_rows"] = len(matched)
    return res


def delete_iceberg_rows(spark, path: str, predicate: str) -> dict:
    """Predicate-driven merge-on-read DELETE — the Iceberg twin of
    ``delete_delta_rows``: scan the CURRENT snapshot with per-row physical
    lineage (the scan applies existing position/equality deletes, so
    already-dead rows are never re-deleted), collect the matched
    (file, position) pairs — the DELETE's changed-row set, which any
    engine materializes — and commit them as ONE position-delete snapshot.
    No data file is rewritten; ``compact_iceberg_table`` materializes the
    deletes away and ``expire_iceberg_snapshots`` reclaims the files.

    Scale: the predicate scan is a distributed delete-filtered read; only
    the matched positions come to the driver."""
    table_dir = Path(path)
    metadata, prev_meta_file = _load_metadata(table_dir)
    if metadata.get("current-snapshot-id") is None:
        raise ValueError(
            "cannot DELETE from a table with no current snapshot"
        )
    if int(metadata.get("format-version", 1)) >= 3:
        # v3 forbids new parquet position-delete files — the same
        # predicate DELETE commits deletion vectors instead
        return delete_iceberg_rows_dv(spark, path, predicate)
    # pin the scan to the snapshot the commit will be based on — a commit
    # racing in between must not shift which rows the predicate saw
    snap_id = metadata["current-snapshot-id"]
    matched = (
        read_iceberg_table(
            spark, path, snapshot_id=snap_id, _lineage=True,
            _current_schema=True,
        )
        .where(predicate)
        .select("_src_file", "_src_pos")
        .collect()
    )
    if not matched:
        return {"snapshot-id": None, "deleted_rows": 0}
    res = _commit_files_as_snapshot(
        table_dir, metadata, prev_meta_file, [], "delete",
        position_deletes=[(r["_src_file"], r["_src_pos"]) for r in matched],
    )
    return {
        "snapshot-id": res["snapshot-id"],
        "deleted_rows": len(matched),
        "sequence-number": res["sequence-number"],
    }


def update_iceberg_rows(
    spark, path: str, predicate: str, set_exprs: dict[str, str]
) -> dict:
    """Predicate-driven merge-on-read UPDATE — the Iceberg twin of
    ``update_delta_rows``: rows matching ``predicate`` get their
    ``set_exprs`` columns rewritten (``{col: SQL expression}``) WITHOUT
    rewriting the files that hold them. ONE atomic snapshot (operation
    ``overwrite``, the spec's row-level-modified operation) carries BOTH
    a position-delete file marking the old row versions AND the new data
    files holding the updated copies — a reader sees the pre-update or
    post-update table, never the in-between.

    Scale: the position bookkeeping is the DELETE's metadata-sized path;
    the updated-copies write is a distributed write of ONLY the matched
    rows (partition layout preserved). Compare a copy-on-write UPDATE,
    which rewrites every touched FILE — at 100 TB with point updates that
    is kilobytes vs gigabytes per touched file."""
    from pyspark.sql import functions as F

    table_dir = Path(path)
    metadata, prev_meta_file = _load_metadata(table_dir)
    if metadata.get("current-snapshot-id") is None:
        raise ValueError("cannot UPDATE a table with no current snapshot")
    ice_schema = next(
        s for s in metadata["schemas"]
        if s["schema-id"] == metadata["current-schema-id"]
    )
    stored_schema = spark_schema_of(ice_schema)
    if not set_exprs:
        raise ValueError("set_exprs must be non-empty")
    unknown = sorted(set(set_exprs) - {f.name for f in stored_schema.fields})
    if unknown:
        raise ValueError(f"set_exprs reference unknown columns: {unknown}")
    spec_fields = next(
        s for s in metadata["partition-specs"]
        if s["spec-id"] == metadata["default-spec-id"]
    )["fields"]
    # guard on the SOURCE columns: updating a transform's source column
    # (e.g. the date under a day/bucket field) moves rows across
    # partitions just as surely as updating an identity partition column
    by_fid = {f["id"]: f["name"] for f in ice_schema["fields"]}
    part_srcs = {by_fid[f["source-id"]] for f in spec_fields}
    if set(set_exprs) & part_srcs:
        raise ValueError(
            f"set_exprs touch partition source columns "
            f"{sorted(set(set_exprs) & part_srcs)} — rewriting partition "
            "values would move rows across partitions; delete + re-append "
            "instead"
        )

    snap_id = metadata["current-snapshot-id"]
    fv = int(metadata.get("format-version", 1))
    scan = read_iceberg_table(
        spark, path, snapshot_id=snap_id, _lineage=True,
        _current_schema=True, row_lineage=fv >= 3,
    ).where(predicate)
    # ONE pass: cache the matched rows so positions and updated copies
    # come from the same scan (the predicate is evaluated once)
    scan = scan.localCheckpoint(eager=True)
    matched = scan.select("_src_file", "_src_pos").collect()
    if not matched:
        return {"snapshot-id": None, "updated_rows": 0}
    new_cols = [
        F.expr(set_exprs[f.name]).cast(f.dataType).alias(f.name)
        if f.name in set_exprs
        else F.col(f.name)
        for f in stored_schema.fields
    ]
    if fv >= 3:
        # v3 ROW LINEAGE (spec 'Row Lineage'): an UPDATE preserves each
        # row's _row_id (materialized through the new file) and RESETS
        # _last_updated_sequence_number — materialized as NULL so the
        # reader's fallback resolves it to the new file's data sequence
        # number, i.e. "last updated by this very commit". The old row
        # versions die as DELETION VECTORS (v3 forbids new parquet
        # position-delete files), merged with the table's existing DVs
        # under the one-live-DV-per-file invariant.
        new_cols += [
            F.col("_row_id"),
            F.lit(None).cast("long").alias("_last_updated_sequence_number"),
        ]
        updated = _with_materialized_lineage(scan.select(*new_cols))
        from evolution_spark.io.scan_filters import plain_path

        merged = _live_dv_positions(metadata)
        existing_total = sum(len(ps) for ps in merged.values())
        for r in matched:
            merged.setdefault(plain_path(r["_src_file"]), set()).add(
                int(r["_src_pos"])
            )
        seq = metadata["last-sequence-number"] + 1
        with _field_id_writes(spark):
            moved = _stage_and_move(
                updated, table_dir, seq, spec_fields, ice_schema, "UPDATE"
            )
        res = _commit_files_as_snapshot(
            table_dir, metadata, prev_meta_file, moved, "overwrite",
            deletion_vectors={f: sorted(ps) for f, ps in merged.items()},
            carried_lineage=True,
            superseded_delete_rows=existing_total,
        )
        return {
            "snapshot-id": res["snapshot-id"],
            "updated_rows": len(matched),
            "new_files": res["files"],
            "sequence-number": res["sequence-number"],
        }
    updated = scan.select(*new_cols)

    seq = metadata["last-sequence-number"] + 1
    moved = _stage_and_move(
        updated, table_dir, seq, spec_fields, ice_schema, "UPDATE"
    )
    res = _commit_files_as_snapshot(
        table_dir, metadata, prev_meta_file, moved, "overwrite",
        position_deletes=[(r["_src_file"], r["_src_pos"]) for r in matched],
    )
    return {
        "snapshot-id": res["snapshot-id"],
        "updated_rows": len(matched),
        "new_files": res["files"],
        "sequence-number": res["sequence-number"],
    }


def _stage_and_move(
    df: DataFrame,
    table_dir: Path,
    seq: int,
    spec_fields: list[dict],
    ice_schema: dict,
    what: str,
) -> list[Path]:
    """Distributed staged write + atomic move into ``data/`` — the shared
    front half of every snapshot commit that appends files (DataFrame
    append, UPDATE, MERGE). Stages into a uuid-suffixed dir OWNED by this
    process (two writers racing for the same sequence number each stage
    privately; the race is decided by the create-exclusive metadata
    publish, never by one writer rmtree'ing the other's files), guards
    against a concurrent stale-staging reclaim, moves shards under
    sequence-stamped unique names, and skips zero-row shards (a pure-
    delete MERGE or an empty append stages them)."""
    import pyarrow.parquet as _pq

    data_dir = table_dir / "data"
    stage = table_dir / f"_staging_s{seq}-{uuid.uuid4().hex}"
    df, part_cols = _with_partition_cols(df, spec_fields, ice_schema)
    writer = df.write.mode("error")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    moved: list[Path] = []
    try:
        writer.parquet(str(stage))
        # vacuum-race guard (same as commit_delta): if a concurrent
        # reclaim_stale_staging rmtree'd this dir during a long stall,
        # abort rather than committing a snapshot missing its data files
        if not stage.exists():
            raise RuntimeError(
                f"staged write output missing at {stage} — the staging dir "
                f"was reclaimed (or the write never completed); aborting "
                f"the {what} commit"
            )
        for src in sorted(stage.rglob("*.parquet")):
            if _pq.ParquetFile(src).metadata.num_rows == 0:
                continue
            rel = src.relative_to(stage)
            dest_rel = rel.parent / f"part-s{seq:05d}-{uuid.uuid4().hex}.parquet"
            dest = data_dir / dest_rel
            dest.parent.mkdir(parents=True, exist_ok=True)
            os.replace(src, dest)
            moved.append(dest)
    finally:
        if stage.exists():
            shutil.rmtree(stage)
    return moved


def _commit_iceberg_snapshot(
    df: DataFrame,
    path: str,
    operation: str = "append",
    expect_current: int | None = None,
    branch: str | None = None,
    _carry_lineage: bool = False,
) -> dict:
    """Shared snapshot-commit core: ``operation='append'`` carries the
    previous snapshot's manifests by reference; ``'replace'`` starts the
    manifest list fresh (compaction/rewrite semantics).

    ``expect_current`` (replace only): the snapshot id the rewrite was
    BASED on — a replace discards all prior manifests by construction, so
    if another writer committed after the base was read, publishing would
    silently erase that writer's rows; the commit aborts instead (the
    optimistic-concurrency validation an append doesn't need, because an
    append carries whatever the latest snapshot references)."""
    table_dir = Path(path)
    metadata, prev_meta_file = _load_metadata(table_dir)
    if (
        expect_current is not None
        and metadata["current-snapshot-id"] != expect_current
    ):
        raise RuntimeError(
            f"concurrent commit detected: table advanced from snapshot "
            f"{expect_current} to {metadata['current-snapshot-id']} since "
            "the rewrite was planned — retry the compaction against the "
            "new table state (publishing would erase the other writer's "
            "rows)"
        )
    ice_schema = next(
        s
        for s in metadata["schemas"]
        if s["schema-id"] == metadata["current-schema-id"]
    )
    expected = spark_schema_of(ice_schema)
    if _carry_lineage:
        # v3 rewrite: the frame carries the two materialized lineage
        # columns (spec reserved names) AFTER the table columns
        from pyspark.sql import types as _T

        expected = _T.StructType(expected.fields + [
            _T.StructField("_row_id", _T.LongType(), True),
            _T.StructField(
                "_last_updated_sequence_number", _T.LongType(), True
            ),
        ])
    if not _carry_lineage and int(metadata.get("format-version", 1)) >= 3:
        # spec v3 'Default values' WRITE side: a writer that omits a
        # column carrying a write-default fills it with that default
        # (decoded through the same single-value decoder the read side
        # uses, so a mistyped default refuses instead of mis-filling).
        # Columns omitted WITHOUT a write-default still hit the strict
        # schema check below — silent null-filling is not the contract.
        from pyspark.sql import functions as F

        have = set(df.columns)
        fills = {
            f["name"]: decode_initial_default(f, key="write-default")
            for f in ice_schema["fields"]
            if f["name"] not in have and f.get("write-default") is not None
        }
        if fills and have | set(fills) == {f.name for f in expected.fields}:
            for sf in expected.fields:
                if sf.name in fills:
                    df = df.withColumn(
                        sf.name, F.lit(fills[sf.name]).cast(sf.dataType)
                    )
            df = df.select(*[f.name for f in expected.fields])
    if [f.name for f in df.schema] != [f.name for f in expected.fields] or any(
        a.dataType != b.dataType for a, b in zip(df.schema, expected.fields)
    ):
        raise ValueError(
            f"schema mismatch vs table schema {[f.name for f in expected.fields]}"
        )
    spec_fields = next(
        s for s in metadata["partition-specs"] if s["spec-id"] == metadata["default-spec-id"]
    )["fields"]
    if branch is not None:
        # validate BEFORE staging: _stage_and_move irreversibly moves
        # data files into data/, so a typo'd branch name would leak
        # forever-unreferenced files into the table
        refs = metadata.get("refs") or {}
        if branch not in refs or refs[branch].get("type") != "branch":
            raise ValueError(
                f"no branch {branch!r} on this table (refs: "
                f"{sorted(n for n, r in refs.items() if r.get('type') == 'branch')})"
                " — create_iceberg_branch first"
            )
    seq = metadata["last-sequence-number"] + 1
    moved = _stage_and_move(df, table_dir, seq, spec_fields, ice_schema, "snapshot")
    return _commit_files_as_snapshot(
        table_dir, metadata, prev_meta_file, moved, operation, branch=branch,
        carried_lineage=_carry_lineage,
    )


def _write_position_delete_file(table_dir: Path, seq: int, rows) -> Path:
    """Write a spec-conformant POSITION delete parquet file (sorted
    (file_path, pos) pairs, field-ids 2147483546/2147483545)."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    rows = sorted(rows)
    del_path = table_dir / "data" / f"delete-s{seq:05d}-{uuid.uuid4().hex}.parquet"
    del_path.parent.mkdir(parents=True, exist_ok=True)
    papq.write_table(
        pa.table(
            {
                "file_path": pa.array([r[0] for r in rows], pa.string()),
                "pos": pa.array([int(r[1]) for r in rows], pa.int64()),
            },
            schema=pa.schema([
                pa.field("file_path", pa.string(), nullable=False,
                         metadata={b"PARQUET:field_id": b"2147483546"}),
                pa.field("pos", pa.int64(), nullable=False,
                         metadata={b"PARQUET:field_id": b"2147483545"}),
            ]),
        ),
        del_path,
    )
    return del_path


def _commit_files_as_snapshot(
    table_dir: Path,
    metadata: dict,
    prev_meta_file: Path,
    moved: list[Path],
    operation: str,
    extra_summary: dict | None = None,
    position_deletes: list[tuple[str, int]] | None = None,
    branch: str | None = None,
    deletion_vectors: dict[str, list[int]] | None = None,
    carried_lineage: bool | set[str] = False,
    superseded_delete_rows: int = 0,
) -> dict:
    """Back half of a snapshot commit, shared by the DataFrame path
    (``_commit_iceberg_snapshot``), the DataSource sink (which stages its
    own shards), predicate DML (``delete_iceberg_rows`` /
    ``update_iceberg_rows``) and ``append_position_deletes``: parquet
    files already placed under ``data/`` (and/or a position-delete row
    set) become ONE new snapshot — at most one data manifest + one delete
    manifest, one manifest list (non-replace: previous entries carried by
    reference), one published metadata version. ``extra_summary`` lands
    in the snapshot summary (the sink's txn identity for exactly-once
    replay skipping). An UPDATE passes BOTH ``moved`` and
    ``position_deletes``, making the delete-old + append-new pair atomic
    — a reader sees the pre-update or post-update table, never the
    in-between.

    ``carried_lineage`` (v3): which of ``moved`` hold ONLY rows carried
    from existing files with their ``_row_id`` / ``_last_updated_sequence_number``
    MATERIALIZED as parquet columns (spec 'Row Lineage': rewrites must
    preserve carried rows' ids). ``True`` = all files (compaction);
    a set of path strings = those files (a MERGE mixes carried update
    copies with fresh inserts). Carried files are verified to actually
    hold the materialized columns before the commit publishes; they
    still get an explicit ``first_row_id`` like every v3 ADDED file —
    materialized non-null values take precedence (the spec's reader
    rule), and materialized NULLs (rows rewritten from pre-lineage
    files) resolve to ``first_row_id + position``, which is exactly how
    pre-upgrade rows acquire ids on their first rewrite."""
    import pyarrow.parquet as pq

    fv = int(metadata.get("format-version", 1))
    if isinstance(carried_lineage, bool):
        carried_paths = {str(p) for p in moved} if carried_lineage else set()
    else:
        carried_paths = {str(p) for p in carried_lineage}
        unknown_carried = carried_paths - {str(p) for p in moved}
        if unknown_carried:
            raise ValueError(
                f"carried_lineage names files not in this commit: "
                f"{sorted(unknown_carried)}"
            )
    if carried_paths and fv < 3:
        raise IcebergFormatError(
            "carried_lineage is a format-version 3 obligation — v2 "
            "tables have no row lineage to preserve"
        )
    if fv >= 3:
        # v3 writes: APPENDS assign row lineage below (first_row_id per
        # manifest + data file, next-row-id advanced), DV DELETEs commit
        # Puffin vectors. New parquet position-delete FILES are FORBIDDEN
        # in v3 (DVs replace them), and rewrites (replace/compaction)
        # must PRESERVE the row ids of carried rows — materialized
        # ``_row_id`` columns via ``carried_lineage``; a replace that
        # does not declare them refuses.
        if position_deletes:
            hint = (
                "commit deletion vectors instead (delete_iceberg_rows_dv)"
                if operation == "delete" else
                f"the {operation!r} path would need to rewrite its "
                "position deletes as deletion vectors, which is not "
                "implemented for v3 tables"
            )
            raise IcebergFormatError(
                f"format-version {fv} table: parquet position-delete "
                f"files are forbidden in v3 — {hint}"
            )
        if operation == "replace" and carried_paths != {str(p) for p in moved}:
            raise IcebergFormatError(
                f"format-version {fv} table: rewrites must preserve the "
                "row lineage (_row_id) of carried rows — a 'replace' "
                "commit must declare every file carried_lineage with "
                "materialized _row_id columns (compact_iceberg_table "
                "does this)"
            )
    if deletion_vectors is not None and fv < 3:
        raise IcebergFormatError(
            "deletion vectors require format-version 3 "
            "(upgrade_iceberg_format_version first)"
        )
    ice_schema = next(
        s
        for s in metadata["schemas"]
        if s["schema-id"] == metadata["current-schema-id"]
    )
    by_name = {f["name"]: f for f in ice_schema["fields"]}
    spec_fields = next(
        s for s in metadata["partition-specs"]
        if s["spec-id"] == metadata["default-spec-id"]
    )["fields"]
    seq = metadata["last-sequence-number"] + 1
    snapshot_id = uuid.uuid4().int % (1 << 62)
    now_ms = int(time.time() * 1000)
    data_dir = table_dir / "data"
    meta_dir = table_dir / "metadata"
    part_schema = _partition_record_schema(spec_fields, ice_schema)
    entry_schema = _manifest_entry_schema(part_schema)
    manifest_meta = {
        "schema": json.dumps(ice_schema),
        "schema-id": str(metadata["current-schema-id"]),
        "partition-spec": json.dumps(spec_fields),
        "partition-spec-id": str(metadata["default-spec-id"]),
        "format-version": "2",
    }

    mlist_entries = []
    if branch is not None:
        # a BRANCH commit bases on (and advances) the branch head; main's
        # current-snapshot-id is untouched, so readers of the table see
        # no change until the branch is fast-forwarded
        refs = metadata.get("refs") or {}
        if branch not in refs or refs[branch].get("type") != "branch":
            raise ValueError(
                f"no branch {branch!r} on this table (refs: "
                f"{sorted(n for n, r in refs.items() if r.get('type') == 'branch')})"
                " — create_iceberg_branch first"
            )
        current = refs[branch]["snapshot-id"]
    else:
        current = metadata["current-snapshot-id"]
    prev_snapshot = next(
        s for s in metadata["snapshots"] if s["snapshot-id"] == current
    )
    # non-replace: previous snapshot's manifests carried by reference;
    # replace: the new manifest list stands alone (compaction rewrite)
    if operation != "replace":
        prev_entries = _read_avro(Path(prev_snapshot["manifest-list"]))
        if deletion_vectors is not None:
            # DV commits carry MERGED vectors (v3's one-live-DV-per-file
            # invariant), so the superseded DV manifests must drop here —
            # append_deletion_vectors already folded their positions in
            # and verified no non-DV delete file hides among them
            prev_entries = [
                mf for mf in prev_entries if int(mf.get("content") or 0) != 1
            ]
        mlist_entries.extend(prev_entries)

    entries = []
    total_rows = 0
    dir_type = _partition_dir_types(spec_fields, ice_schema)
    for p in moved:
        rel = p.relative_to(data_dir)
        values: dict[str, object] = {}
        for part in rel.parts[:-1]:
            if "=" in part:
                k, _, v = part.partition("=")
                values[k] = _parse_partition_value(dir_type[k], v)
        pq_md = pq.ParquetFile(p).metadata  # one footer read per file
        n_rows = pq_md.num_rows
        total_rows += n_rows
        if str(p) in carried_paths:
            # the carried-lineage promise is load-bearing (these files
            # consume no ids) — verify the materialized columns exist
            have = set(pq_md.schema.to_arrow_schema().names)
            missing = {"_row_id", "_last_updated_sequence_number"} - have
            if missing:
                raise IcebergFormatError(
                    f"carried_lineage file {p} lacks materialized "
                    f"columns {sorted(missing)} — refusing to publish a "
                    "rewrite that would drop row lineage"
                )
        entries.append(
            {
                "status": 1,  # ADDED
                "snapshot_id": snapshot_id,
                "sequence_number": None,
                "file_sequence_number": None,
                "data_file": {
                    "content": 0,
                    "file_path": str(p),
                    "file_format": "PARQUET",
                    "partition": values,
                    "record_count": n_rows,
                    "file_size_in_bytes": p.stat().st_size,
                    "equality_ids": None,
                    # per-column bounds from the parquet footer (field-id
                    # keyed) — what skip_where prunes on
                    **dict(zip(("lower_bounds", "upper_bounds"),
                               _file_column_bounds(p, ice_schema, pq_md))),
                },
            }
        )
    first_row_id = None
    next_row_id = None
    if fv >= 3:
        # v3 ROW LINEAGE (spec 'Row Lineage'): the snapshot's first-row-id
        # is the table's next-row-id; each ADDED data file gets an
        # explicit first_row_id (spec allows inheritance from the
        # manifest, but explicit ids survive manifest compaction), and
        # next-row-id advances by the rows assigned. Driver-side integer
        # bookkeeping — no data file is touched, so the append cost at
        # 100 TB is unchanged.
        first_row_id = int(metadata.get("next-row-id") or 0)
        next_row_id = first_row_id
        for e in entries:
            # every ADDED v3 data file gets an explicit first_row_id —
            # including carried_lineage rewrites: their carried rows read
            # ids from the materialized _row_id column (the spec's
            # precedence rule), while rows REWRITTEN FROM PRE-LINEAGE
            # FILES carry a materialized null and so get first_row_id +
            # position, i.e. the rewrite is exactly where pre-upgrade
            # rows acquire ids. The id range is consumed for the whole
            # file (spec: next-row-id advances by assigned record
            # counts); ids shadowed by materialized values are simply
            # never observed.
            e["data_file"]["first_row_id"] = next_row_id
            next_row_id += int(e["data_file"]["record_count"])
    if entries:
        manifest_path = meta_dir / f"{uuid.uuid4()}-m0.avro"
        manifest_len = _write_avro(
            manifest_path,
            _manifest_entry_schema(part_schema, lineage=fv >= 3),
            entries,
            meta={**manifest_meta, "content": "data",
                  **({"format-version": "3"} if fv >= 3 else {})},
        )
        mlist_entries.append({
            "manifest_path": str(manifest_path),
            "manifest_length": manifest_len,
            "partition_spec_id": metadata["default-spec-id"],
            "content": 0,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snapshot_id,
            "added_data_files_count": len(entries),
            "existing_data_files_count": 0,
            "deleted_data_files_count": 0,
            "added_rows_count": total_rows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
            "first_row_id": first_row_id,
        })

    n_pos_deletes = 0
    if position_deletes:
        n_pos_deletes = len(position_deletes)
        del_path = _write_position_delete_file(table_dir, seq, position_deletes)
        del_entry = {
            "status": 1,  # ADDED
            "snapshot_id": snapshot_id,
            "sequence_number": None,
            "file_sequence_number": None,
            "data_file": {
                "content": 1,  # POSITION DELETES
                "file_path": str(del_path),
                "file_format": "PARQUET",
                # path-position delete file: applies across partitions, so
                # the partition record is all-null (spec: unscoped deletes)
                "partition": {f["name"]: None for f in spec_fields},
                "record_count": n_pos_deletes,
                "file_size_in_bytes": del_path.stat().st_size,
                "equality_ids": None,
                "lower_bounds": None,
                "upper_bounds": None,
            },
        }
        del_manifest_path = meta_dir / f"{uuid.uuid4()}-d0.avro"
        del_manifest_len = _write_avro(
            del_manifest_path, entry_schema, [del_entry],
            meta={**manifest_meta, "content": "deletes"},
        )
        mlist_entries.append({
            "manifest_path": str(del_manifest_path),
            "manifest_length": del_manifest_len,
            "partition_spec_id": metadata["default-spec-id"],
            "content": 1,  # DELETES manifest
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snapshot_id,
            "added_data_files_count": 1,
            "existing_data_files_count": 0,
            "deleted_data_files_count": 0,
            "added_rows_count": n_pos_deletes,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        })

    n_dv_deletes = 0
    if deletion_vectors:
        from evolution_spark.io.puffin import write_puffin_dv_file

        puffin_path = data_dir / "deletes" / f"dv-{uuid.uuid4()}.puffin"
        puffin_path.parent.mkdir(parents=True, exist_ok=True)
        placements = write_puffin_dv_file(
            puffin_path, deletion_vectors, snapshot_id, seq
        )
        dv_entries = []
        for pl in placements:
            n_dv_deletes += pl["cardinality"]
            dv_entries.append({
                "status": 1,  # ADDED
                "snapshot_id": snapshot_id,
                "sequence_number": None,
                "file_sequence_number": None,
                "data_file": {
                    "content": 1,  # position deletes, DV form
                    "file_path": str(puffin_path),
                    "file_format": "PUFFIN",
                    "partition": {f["name"]: None for f in spec_fields},
                    "record_count": pl["cardinality"],
                    "file_size_in_bytes": puffin_path.stat().st_size,
                    "referenced_data_file": pl["referenced_data_file"],
                    "content_offset": pl["content_offset"],
                    "content_size_in_bytes": pl["content_size_in_bytes"],
                    "equality_ids": None,
                    "lower_bounds": None,
                    "upper_bounds": None,
                },
            })
        dv_manifest_path = meta_dir / f"{uuid.uuid4()}-dv0.avro"
        dv_manifest_len = _write_avro(
            dv_manifest_path,
            _manifest_entry_schema(part_schema, dv_fields=True),
            dv_entries,
            meta={**manifest_meta, "format-version": "3",
                  "content": "deletes"},
        )
        mlist_entries.append({
            "manifest_path": str(dv_manifest_path),
            "manifest_length": dv_manifest_len,
            "partition_spec_id": metadata["default-spec-id"],
            "content": 1,  # DELETES manifest
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snapshot_id,
            "added_data_files_count": len(dv_entries),
            "existing_data_files_count": 0,
            "deleted_data_files_count": 0,
            "added_rows_count": n_dv_deletes,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        })
        n_pos_deletes += n_dv_deletes

    mlist_path = meta_dir / f"snap-{snapshot_id}-1-{uuid.uuid4()}.avro"
    if fv >= 3:
        for mf in mlist_entries:
            # entries carried from pre-upgrade (v2-written) manifest
            # lists have no lineage: their rows carry null _row_id until
            # a (refused) rewrite assigns them — spec-legal
            mf.setdefault("first_row_id", None)
    _write_avro(
        mlist_path,
        _manifest_list_schema(fv),
        mlist_entries,
        meta={"format-version": "2" if fv < 3 else "3"},
    )

    prev_total_files = int(prev_snapshot["summary"].get("total-data-files", "0"))
    prev_total_rows = int(prev_snapshot["summary"].get("total-records", "0"))
    if operation == "replace":  # replace: the new files ARE the table
        total_files, total_records = len(entries), total_rows
    else:
        # position deletes REMOVE live rows: total-records is prev +
        # appended - deleted, else repeated UPDATE/MERGE (delete-old +
        # append-new) drifts the summary above the live row count.
        # A DV commit carries the MERGED vector (one-live-DV-per-file
        # invariant), so the positions already subtracted by superseded
        # DV commits must not subtract again — the caller reports them
        # via ``superseded_delete_rows`` (round-11 fix: the second DV
        # delete used to double-count the first's positions).
        total_files, total_records = (
            prev_total_files + len(entries),
            prev_total_rows + total_rows
            - (n_pos_deletes - superseded_delete_rows),
        )
    summary = {
        "operation": operation,
        "added-data-files": str(len(entries)),
        "added-records": str(total_rows),
        "total-data-files": str(total_files),
        "total-records": str(total_records),
        **{k: str(v) for k, v in (extra_summary or {}).items()},
    }
    if position_deletes:
        summary["added-delete-files"] = "1"
        summary["added-position-deletes"] = str(n_pos_deletes)
    new_snapshot = {
        "snapshot-id": snapshot_id,
        "parent-snapshot-id": current,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": str(mlist_path),
        "summary": summary,
        "schema-id": metadata["current-schema-id"],
    }
    new_meta = dict(metadata)
    if fv >= 3:
        # v3 snapshot carries its assigned base row id; the table's
        # next-row-id advances past every id this commit assigned
        base = int(metadata.get("next-row-id") or 0)
        new_snapshot["first-row-id"] = base
        new_meta["next-row-id"] = next_row_id if next_row_id is not None else base
    new_meta["last-sequence-number"] = seq
    new_meta["last-updated-ms"] = now_ms
    new_meta["snapshots"] = metadata["snapshots"] + [new_snapshot]
    if branch is not None:
        refs = dict(metadata.get("refs") or {})
        refs[branch] = dict(refs[branch], **{"snapshot-id": snapshot_id})
        new_meta["refs"] = refs
        # snapshot-log tracks the MAIN branch's history (spec): a branch
        # commit does not advance it or current-snapshot-id
    else:
        new_meta["current-snapshot-id"] = snapshot_id
        new_meta["snapshot-log"] = metadata["snapshot-log"] + [
            {"timestamp-ms": now_ms, "snapshot-id": snapshot_id}
        ]
    new_meta["metadata-log"] = metadata["metadata-log"] + [
        {"timestamp-ms": metadata["last-updated-ms"], "metadata-file": str(prev_meta_file)}
    ]
    meta_file = _publish_metadata(meta_dir, prev_meta_file, new_meta)
    return {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "files": len(entries),
        "rows": total_rows,
        "position-deletes": n_pos_deletes,
        "metadata": str(meta_file),
    }


def expire_iceberg_snapshots(
    path: str, keep_last: int = 1, stale_staging_hours: float = 24.0
) -> dict:
    """Expire all but the last ``keep_last`` snapshots: physically delete
    data files referenced ONLY by expired snapshots (plus their manifest
    lists/manifests), and publish a new metadata.json whose ``snapshots``
    list carries only the keepers — the Iceberg twin of
    ``delta_log.vacuum_delta``. Time travel to kept snapshot ids keeps
    working; expired ids disappear from the table history (the spec's
    expire-snapshots contract, retention measured in snapshots rather
    than hours for a test-driven engine).

    Driver cost: one manifest walk per snapshot — metadata-sized."""
    table_dir = Path(path)
    metadata, prev_meta_file = _load_metadata(table_dir)
    snaps = metadata["snapshots"]
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    if len(snaps) <= keep_last:
        return {"expired": [], "kept": [s["snapshot-id"] for s in snaps]}
    # snapshots are appended in commit order; keep the tail — PLUS every
    # snapshot a ref (tag/branch) pins: expiring a tagged snapshot would
    # silently break the named read the tag exists for (spec: refs hold
    # their snapshots against expiration)
    ref_ids = {
        r["snapshot-id"] for r in (metadata.get("refs") or {}).values()
    }
    # keep_last counts MAIN-branch history (the snapshot-log), not raw
    # snapshot order — un-published branch commits interleave in
    # ``snapshots`` and must not evict main's recent states; they are
    # retained via their ref head (whose manifest list carries every
    # file the branch read needs by reference)
    main_ids = [e["snapshot-id"] for e in metadata["snapshot-log"]]
    tail_ids = set(main_ids[-keep_last:])
    tail_ids.add(metadata["current-snapshot-id"])
    # a BRANCH pins its whole ancestry chain down to the first kept
    # snapshot (not just its head): fast-forward walks parent-snapshot-id
    # to prove main is an ancestor, so expiring an intermediate branch
    # commit would leave the branch permanently unpublishable
    by_id = {s["snapshot-id"]: s for s in snaps}
    for r in (metadata.get("refs") or {}).values():
        if r.get("type") != "branch":
            continue  # tags pin only their own snapshot
        cur = (by_id.get(r["snapshot-id"]) or {}).get("parent-snapshot-id")
        while cur is not None and cur not in tail_ids and cur not in ref_ids:
            ref_ids.add(cur)
            cur = (by_id.get(cur) or {}).get("parent-snapshot-id")
    kept = [s for s in snaps
            if s["snapshot-id"] in tail_ids or s["snapshot-id"] in ref_ids]
    expired = [s for s in snaps if s not in kept]
    kept_ids = {s["snapshot-id"] for s in kept}
    if metadata["current-snapshot-id"] not in kept_ids:
        raise ValueError("cannot expire the current snapshot")

    def files_of(snapshot) -> tuple[set[str], set[str]]:
        data, meta_files = set(), {snapshot["manifest-list"]}
        for mf in _read_avro(Path(snapshot["manifest-list"])):
            meta_files.add(mf["manifest_path"])
            for entry in _read_avro(Path(mf["manifest_path"])):
                if entry["status"] != 2:
                    data.add(entry["data_file"]["file_path"])
        return data, meta_files

    # Publish-then-delete ordering (matches Iceberg's RemoveSnapshots): the
    # new metadata.json goes live FIRST — _publish_metadata's version claim
    # aborts the expire if a concurrent append won the slot — and only
    # files that no surviving snapshot references are reclaimed AFTER. A
    # crash mid-reclaim then leaves harmless orphans (re-collectable by a
    # later expire), never a published metadata pointing at already-deleted
    # manifests.
    meta_dir = table_dir / "metadata"
    kept_data: set[str] = set()
    kept_meta: set[str] = set()
    for s in kept:
        d, m = files_of(s)
        kept_data |= d
        kept_meta |= m
    # walk ALL expired snapshots BEFORE deleting anything: snapshots
    # share manifests by reference (an append's manifest list carries
    # its ancestors' manifests), so the deletable set is exp - kept
    # computed over the full walk
    exp_data: set[str] = set()
    exp_meta: set[str] = set()
    for s in expired:
        d, m = files_of(s)
        exp_data |= d
        exp_meta |= m

    now_ms = int(time.time() * 1000)
    new_meta = dict(metadata)
    new_meta["snapshots"] = kept
    new_meta["snapshot-log"] = [
        e for e in metadata["snapshot-log"] if e["snapshot-id"] in kept_ids
    ]
    new_meta["last-updated-ms"] = now_ms
    new_meta["metadata-log"] = metadata["metadata-log"] + [
        {"timestamp-ms": metadata["last-updated-ms"],
         "metadata-file": str(prev_meta_file)}
    ]
    _publish_metadata(meta_dir, prev_meta_file, new_meta)

    # reclaim AFTER the publish: failures here leave orphans, not a broken
    # table — swallow per-file errors so a flaky unlink can't raise after
    # the commit is already durable
    deleted_data: list[str] = []
    deleted_meta: list[str] = []
    for bucket, out in ((sorted(exp_data - kept_data), deleted_data),
                        (sorted(exp_meta - kept_meta), deleted_meta)):
        for f in bucket:
            try:
                if os.path.exists(f):
                    os.unlink(f)
                    out.append(f)
            except OSError:
                pass

    from evolution_spark.io.maintenance import reclaim_stale_staging

    reclaim_stale_staging(table_dir, stale_staging_hours)
    return {
        "expired": [s["snapshot-id"] for s in expired],
        "kept": [s["snapshot-id"] for s in kept],
        "deleted_data_files": len(deleted_data),
        "deleted_metadata_files": len(deleted_meta),
    }


def merge_iceberg_cdc(
    spark, path: str, changes: DataFrame, key: str, op_col: str = "_op"
) -> dict:
    """MERGE a CDC change set into the native Iceberg v2 table — the
    ``delta_merge_cdc`` twin, but MERGE-ON-READ: instead of rewriting
    every file whose key range intersects the change set (the Delta
    copy-on-write shape), ONE atomic ``overwrite`` snapshot carries a
    position-delete file marking every matched row version (superseded by
    an update, or deleted) plus new data files holding exactly the
    upserted rows. Write volume is O(change set), not O(touched files) —
    on a 100 TB table with point changes that is kilobytes of deletes +
    the new rows, vs rewriting every intersecting gigabyte-sized file;
    ``compact_iceberg_table`` amortizes the read-side delete-application
    cost later, on maintenance time instead of ingest time.

    ``changes`` carries the table's columns plus ``op_col`` with ``'u'``
    (upsert: update if the key exists, insert if not) or ``'d'``
    (delete). Semantics match ``MERGE INTO ... WHEN MATCHED [AND op='d']
    THEN DELETE / WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED [AND
    op='u'] THEN INSERT *``. The same guards as the Delta twin refuse
    NULL/duplicate change keys and unknown ops; additionally an upsert
    key matching MULTIPLE target rows refuses (merge-on-read appends ONE
    new version per change — silently collapsing a duplicated target key
    would change the table's cardinality).

    Scale: the match scan is one distributed delete-filtered read joined
    on the key; only the matched (file, position) pairs — the MERGE's
    changed-row set — reach the driver."""
    from pyspark.sql import functions as F

    from evolution_spark.io.delta_log import _check_cdc_changes

    table_dir = Path(path)
    metadata, prev_meta_file = _load_metadata(table_dir)
    if metadata.get("current-snapshot-id") is None:
        raise ValueError("cannot MERGE into a table with no current snapshot")
    ice_schema = next(
        s for s in metadata["schemas"]
        if s["schema-id"] == metadata["current-schema-id"]
    )
    stored_schema = spark_schema_of(ice_schema)
    data_cols = [f.name for f in stored_schema.fields]
    if key not in data_cols:
        raise ValueError(f"key {key!r} not in table columns {data_cols}")
    missing = sorted(set(data_cols) - set(changes.columns))
    if missing:
        raise ValueError(f"change set lacks table columns {missing}")
    spec_fields = next(
        s for s in metadata["partition-specs"]
        if s["spec-id"] == metadata["default-spec-id"]
    )["fields"]

    ch = changes.select(
        F.col(key).alias("__k"),
        F.col(op_col).alias("__op"),
        *[F.col(c) for c in data_cols if c != key],
    )
    _check_cdc_changes(ch, op_col)

    snap_id = metadata["current-snapshot-id"]
    fv = int(metadata.get("format-version", 1))
    scan = read_iceberg_table(
        spark, path, snapshot_id=snap_id, _lineage=True,
        _current_schema=True, row_lineage=fv >= 3,
    )
    rid_cols = ["_row_id"] if fv >= 3 else []
    matched = (
        scan.select(F.col(key).alias("__mk"), "_src_file", "_src_pos",
                    *rid_cols)
        .join(ch.select("__k", "__op"), F.col("__mk") == F.col("__k"), "inner")
        .select("__mk", "__op", "_src_file", "_src_pos", *rid_cols)
        .collect()
    )
    # an upsert key matching multiple target row versions is ambiguous
    # under merge-on-read (one appended version cannot stand in for N
    # surviving rows) — refuse rather than silently deduplicating
    from collections import Counter

    u_counts = Counter(r["__mk"] for r in matched if r["__op"] == "u")
    dup_target = [k for k, n in u_counts.items() if n > 1]
    if dup_target:
        raise ValueError(
            f"upsert key {dup_target[0]!r} matches {u_counts[dup_target[0]]} "
            "target rows — merge-on-read MERGE requires unique target keys "
            "for updates (deduplicate the table first, e.g. via "
            "exact-dedup keep-best)"
        )
    positions = [(r["_src_file"], r["_src_pos"]) for r in matched]

    new_rows = changes.where(F.col(op_col) == "u").select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in stored_schema.fields
        ]
    )
    if fv >= 3:
        # v3 ROW LINEAGE: an upserted row that UPDATES an existing key
        # carries the target row's _row_id (materialized through the new
        # file — spec: updates preserve ids); a NEW key materializes a
        # NULL _row_id and acquires a fresh id via the new file's
        # first_row_id + position. _last_updated_sequence_number
        # materializes NULL for both (the reader's fallback resolves it
        # to this commit's sequence number). Old row versions die as
        # merged DELETION VECTORS, not parquet position-delete files.
        key_type = next(
            f.dataType for f in stored_schema.fields if f.name == key
        )
        rid_schema = T.StructType([
            T.StructField("__rk", key_type, True),
            T.StructField("__rid", T.LongType(), True),
        ])
        rid_rows = [
            (r["__mk"], r["_row_id"]) for r in matched if r["__op"] == "u"
        ]
        rid_df = spark.createDataFrame(rid_rows, rid_schema)
        new_rows = (
            new_rows.join(
                F.broadcast(rid_df),
                F.col(key).eqNullSafe(F.col("__rk")),
                "left",
            )
            .select(
                *[F.col(f.name) for f in stored_schema.fields],
                F.col("__rid").alias("_row_id"),
                F.lit(None).cast("long").alias(
                    "_last_updated_sequence_number"
                ),
            )
        )
        new_rows = _with_materialized_lineage(new_rows)
    merged: dict[str, set[int]] = {}
    existing_total = 0
    if fv >= 3 and positions:
        # merge the DV state BEFORE staging (refusal convention: a table
        # carrying non-DV deletes must refuse before any distributed
        # write leaves orphaned staged files)
        from evolution_spark.io.scan_filters import plain_path

        merged = _live_dv_positions(metadata)
        existing_total = sum(len(ps) for ps in merged.values())
        for f, pos in positions:
            merged.setdefault(plain_path(f), set()).add(int(pos))
    seq = metadata["last-sequence-number"] + 1
    with _field_id_writes(spark) if fv >= 3 else nullcontext():
        moved = _stage_and_move(
            new_rows, table_dir, seq, spec_fields, ice_schema, "MERGE"
        )
    if not moved and not positions:
        return {"snapshot-id": None, "matched": 0, "new_files": 0}
    if fv >= 3:
        res = _commit_files_as_snapshot(
            table_dir, metadata, prev_meta_file, moved,
            "overwrite" if positions else "append",
            deletion_vectors=(
                {f: sorted(ps) for f, ps in merged.items()}
                if positions else None
            ),
            carried_lineage=bool(moved),
            superseded_delete_rows=existing_total,
            extra_summary={"cdc-merge": "true"},
        )
    else:
        res = _commit_files_as_snapshot(
            table_dir, metadata, prev_meta_file, moved,
            "overwrite" if positions else "append",
            position_deletes=positions or None,
            extra_summary={"cdc-merge": "true"},
        )
    return {
        "snapshot-id": res["snapshot-id"],
        "matched": len(positions),
        "new_rows": res["rows"],
        "new_files": res["files"],
        "sequence-number": res["sequence-number"],
    }


def rollback_iceberg_table(path: str, snapshot_id: int) -> dict:
    """ROLLBACK to an earlier snapshot — the Iceberg
    ``rollback_to_snapshot`` maintenance op, and the Delta
    ``restore_delta_table`` twin: ``current-snapshot-id`` moves back to
    ``snapshot_id`` in a NEW metadata version (the abandoned snapshots
    stay in the table's history until ``expire_iceberg_snapshots``
    reclaims them, so the rollback itself is reversible the same way).
    ``last-sequence-number`` never decreases — sequence numbers are
    monotonic table-wide per the spec, so writes after a rollback
    continue the global order. Metadata-only: O(1) at any table size."""
    table_dir = Path(path)
    metadata, prev_meta_file = _load_metadata(table_dir)
    known = {s["snapshot-id"] for s in metadata["snapshots"]}
    if snapshot_id not in known:
        raise ValueError(
            f"snapshot {snapshot_id} not in table history {sorted(known)}"
        )
    if snapshot_id == metadata.get("current-snapshot-id"):
        return {"snapshot-id": None, "note": "already current"}
    now_ms = int(time.time() * 1000)
    new_meta = dict(metadata)
    new_meta["current-snapshot-id"] = snapshot_id
    new_meta["last-updated-ms"] = now_ms
    new_meta["snapshot-log"] = metadata["snapshot-log"] + [
        {"timestamp-ms": now_ms, "snapshot-id": snapshot_id}
    ]
    new_meta["metadata-log"] = metadata["metadata-log"] + [
        {"timestamp-ms": metadata["last-updated-ms"],
         "metadata-file": str(prev_meta_file)}
    ]
    meta_file = _publish_metadata(table_dir / "metadata", prev_meta_file, new_meta)
    return {"snapshot-id": snapshot_id, "metadata": str(meta_file)}


def tag_iceberg_snapshot(
    path: str, name: str, snapshot_id: int | None = None
) -> dict:
    """Create a named TAG pinning a snapshot (default: current) — the
    spec's ``refs`` map. Tags make audit/reproducibility reads first
    class (``read_iceberg_table(..., ref="training-2026-08")``) and hold
    their snapshot against ``expire_iceberg_snapshots``, which is the
    point: a pinned training-data snapshot survives routine retention.
    Metadata-only, O(1) at any table size."""
    table_dir = Path(path)
    metadata, prev_meta_file = _load_metadata(table_dir)
    refs = dict(metadata.get("refs") or {})
    if name in refs:
        raise ValueError(
            f"ref {name!r} already exists "
            f"(-> snapshot {refs[name]['snapshot-id']})"
        )
    sid = snapshot_id if snapshot_id is not None else metadata.get(
        "current-snapshot-id"
    )
    known = {s["snapshot-id"] for s in metadata["snapshots"]}
    if sid not in known:
        raise ValueError(f"snapshot {sid} not in table history {sorted(known)}")
    refs[name] = {"snapshot-id": sid, "type": "tag"}
    now_ms = int(time.time() * 1000)
    new_meta = dict(metadata)
    new_meta["refs"] = refs
    new_meta["last-updated-ms"] = now_ms
    new_meta["metadata-log"] = metadata["metadata-log"] + [
        {"timestamp-ms": metadata["last-updated-ms"],
         "metadata-file": str(prev_meta_file)}
    ]
    _publish_metadata(table_dir / "metadata", prev_meta_file, new_meta)
    return {"ref": name, "snapshot-id": sid, "type": "tag"}


def create_iceberg_branch(
    path: str, name: str, snapshot_id: int | None = None
) -> dict:
    """Create a named BRANCH ref at a snapshot (default: current) — the
    writable ref flavor (spec ``refs`` ``type: branch``). Commits with
    ``append_iceberg_snapshot(..., branch=name)`` advance the branch
    head without touching main; ``read_iceberg_table(..., ref=name)``
    reads it; ``fast_forward_iceberg_branch`` publishes it to main —
    together the write-audit-publish workflow a training-data pipeline
    stages corpus updates with. Branch heads hold their snapshot against
    expire like tags do. Metadata-only, O(1)."""
    table_dir = Path(path)
    metadata, prev_meta_file = _load_metadata(table_dir)
    refs = dict(metadata.get("refs") or {})
    if name in refs:
        raise ValueError(
            f"ref {name!r} already exists "
            f"(-> snapshot {refs[name]['snapshot-id']})"
        )
    sid = snapshot_id if snapshot_id is not None else metadata.get(
        "current-snapshot-id"
    )
    known = {s["snapshot-id"] for s in metadata["snapshots"]}
    if sid not in known:
        raise ValueError(f"snapshot {sid} not in table history {sorted(known)}")
    refs[name] = {"snapshot-id": sid, "type": "branch"}
    now_ms = int(time.time() * 1000)
    new_meta = dict(metadata)
    new_meta["refs"] = refs
    new_meta["last-updated-ms"] = now_ms
    new_meta["metadata-log"] = metadata["metadata-log"] + [
        {"timestamp-ms": metadata["last-updated-ms"],
         "metadata-file": str(prev_meta_file)}
    ]
    _publish_metadata(table_dir / "metadata", prev_meta_file, new_meta)
    return {"ref": name, "snapshot-id": sid, "type": "branch"}


def fast_forward_iceberg_branch(path: str, name: str) -> dict:
    """Publish a branch to MAIN by fast-forward: requires main's current
    snapshot to be an ANCESTOR of the branch head (walked over
    ``parent-snapshot-id``), then sets ``current-snapshot-id`` to the
    head and appends the branch's new snapshots to the main
    ``snapshot-log``. A diverged main (someone committed to main since
    the branch was cut) refuses — a fast-forward would silently discard
    main's commits; rebase the branch instead. Metadata-only."""
    table_dir = Path(path)
    metadata, prev_meta_file = _load_metadata(table_dir)
    refs = dict(metadata.get("refs") or {})
    if name not in refs or refs[name].get("type") != "branch":
        raise ValueError(
            f"no branch {name!r} on this table (refs: {sorted(refs)})"
        )
    head = refs[name]["snapshot-id"]
    main = metadata["current-snapshot-id"]
    if head == main:
        return {"ref": name, "snapshot-id": head, "fast_forwarded": 0}
    by_id = {s["snapshot-id"]: s for s in metadata["snapshots"]}
    chain = []  # head .. (exclusive) main, newest first
    cur = head
    while cur is not None and cur != main:
        chain.append(cur)
        if cur not in by_id:  # foreign expire broke the ancestry chain
            raise ValueError(
                f"branch {name!r} ancestry references snapshot {cur} which "
                "is no longer in the table history — the chain was expired "
                "by a foreign writer; the branch cannot be fast-forwarded"
            )
        cur = by_id[cur].get("parent-snapshot-id")
    if cur != main:
        raise ValueError(
            f"branch {name!r} head {head} does not descend from main's "
            f"current snapshot {main} — fast-forward would discard main's "
            "commits; rebase the branch onto main first"
        )
    now_ms = int(time.time() * 1000)
    new_meta = dict(metadata)
    new_meta["current-snapshot-id"] = head
    new_meta["snapshot-log"] = metadata["snapshot-log"] + [
        {"timestamp-ms": by_id[sid]["timestamp-ms"], "snapshot-id": sid}
        for sid in reversed(chain)
    ]
    new_meta["last-updated-ms"] = now_ms
    new_meta["metadata-log"] = metadata["metadata-log"] + [
        {"timestamp-ms": metadata["last-updated-ms"],
         "metadata-file": str(prev_meta_file)}
    ]
    _publish_metadata(table_dir / "metadata", prev_meta_file, new_meta)
    return {"ref": name, "snapshot-id": head, "fast_forwarded": len(chain)}


def drop_iceberg_ref(path: str, name: str) -> dict:
    """Remove a tag or branch; its snapshots become expirable again."""
    table_dir = Path(path)
    metadata, prev_meta_file = _load_metadata(table_dir)
    refs = dict(metadata.get("refs") or {})
    if name not in refs:
        raise ValueError(f"no ref {name!r} (have {sorted(refs)})")
    dropped = refs.pop(name)
    now_ms = int(time.time() * 1000)
    new_meta = dict(metadata)
    new_meta["refs"] = refs
    new_meta["last-updated-ms"] = now_ms
    new_meta["metadata-log"] = metadata["metadata-log"] + [
        {"timestamp-ms": metadata["last-updated-ms"],
         "metadata-file": str(prev_meta_file)}
    ]
    _publish_metadata(table_dir / "metadata", prev_meta_file, new_meta)
    return {"ref": name, "was": dropped}


def resolve_iceberg_ref(path: str, ref: str) -> int:
    """Ref name -> pinned snapshot id (for ``read_iceberg_table``'s
    ``snapshot_id`` time-travel parameter)."""
    metadata, _ = _load_metadata(Path(path))
    refs = metadata.get("refs") or {}
    if ref not in refs:
        raise ValueError(f"no ref {ref!r} on this table (have {sorted(refs)})")
    return refs[ref]["snapshot-id"]


def iceberg_metadata_table(spark, path: str, kind: str) -> DataFrame:
    """Iceberg metadata tables (the ``table$snapshots`` / ``$files`` /
    ``$manifests`` / ``$refs`` / ``$history`` surface): inspection
    DataFrames over the table's own metadata — what users query before
    expiring snapshots, debugging a ref, or auditing file layout.
    Driver-side metadata only; ``files`` lists the CURRENT snapshot's
    live data/delete files from its manifests (one row per file, never
    any data I/O)."""
    table_dir = Path(path)
    metadata, _ = _load_metadata(table_dir)
    if kind == "snapshots":
        rows = [(
            int(s["snapshot-id"]), int(s.get("sequence-number") or 0),
            int(s.get("timestamp-ms") or 0),
            (s.get("summary") or {}).get("operation", "append"),
            int((s.get("summary") or {}).get("added-records") or 0),
            s.get("parent-snapshot-id"),
        ) for s in metadata.get("snapshots") or []]
        return spark.createDataFrame(
            rows,
            "snapshot_id long, sequence_number long, timestamp_ms long, "
            "operation string, added_records long, parent_id long",
        )
    if kind == "refs":
        rows = [(
            name, str(r.get("type", "branch")), int(r["snapshot-id"]),
        ) for name, r in (metadata.get("refs") or {}).items()]
        if metadata.get("current-snapshot-id") is not None and not any(
            n == "main" for n, *_ in rows
        ):
            rows.append(("main", "branch",
                         int(metadata["current-snapshot-id"])))
        return spark.createDataFrame(
            rows, "name string, type string, snapshot_id long"
        )
    if kind == "history":
        rows = [(
            int(s.get("timestamp-ms") or 0), int(s["snapshot-id"]),
            s.get("parent-snapshot-id"),
            int(s["snapshot-id"]) == metadata.get("current-snapshot-id"),
        ) for s in metadata.get("snapshots") or []]
        return spark.createDataFrame(
            rows,
            "made_current_at_ms long, snapshot_id long, parent_id long, "
            "is_current boolean",
        )
    if kind in ("files", "manifests"):
        current = metadata.get("current-snapshot-id")
        if current is None:
            return spark.createDataFrame(
                [],
                "content int, file_path string, record_count long, "
                "file_size_in_bytes long, partition string, spec_id int"
                if kind == "files"
                else "manifest_path string, content int, spec_id int, "
                     "sequence_number long, n_entries int",
            )
        snap = next(
            s for s in metadata["snapshots"] if s["snapshot-id"] == current
        )
        mrows = []
        frows = []
        for mf in _read_avro(Path(snap["manifest-list"])):
            entries = _read_avro(Path(mf["manifest_path"]))
            live = [e for e in entries if e["status"] != 2]
            mrows.append((
                mf["manifest_path"], int(mf.get("content") or 0),
                int(mf.get("partition_spec_id") or 0),
                int(mf.get("sequence_number") or 0), len(live),
            ))
            for e in live:
                d = e["data_file"]
                frows.append((
                    int(d.get("content") or 0), d["file_path"],
                    int(d.get("record_count") or 0),
                    int(d.get("file_size_in_bytes") or 0),
                    _partition_record_key(d.get("partition") or {}),
                    int(mf.get("partition_spec_id") or 0),
                ))
        if kind == "manifests":
            return spark.createDataFrame(
                mrows,
                "manifest_path string, content int, spec_id int, "
                "sequence_number long, n_entries int",
            )
        return spark.createDataFrame(
            frows,
            "content int, file_path string, record_count long, "
            "file_size_in_bytes long, partition string, spec_id int",
        )
    raise ValueError(
        f"unknown metadata table {kind!r} (snapshots, files, manifests, "
        "refs, history)"
    )
