"""Minimal Delta Lake table writer: Spark parquet data files + a
spec-compliant ``_delta_log`` commit, no connector jar required.

The Delta transaction log is an open JSON protocol (delta.io
PROTOCOL.md): a table is a directory of parquet files plus
``_delta_log/<version>.json`` holding newline-delimited actions
(``protocol``, ``metaData``, ``add``). Every commit, version 0 included,
writes its data with a normal distributed ``df.write.parquet`` into a
staging dir; the Spark driver then moves the part files into the table (one
entry per file, stats from parquet footers) and ``_publish_commit`` — the
one writer of every log version — adds the ``commitInfo`` and publishes
the version atomically and exclusively (temp file + hard link).

``metaData.schemaString`` is Spark's ``StructType.json()`` — the Delta
spec adopts Spark's schema JSON verbatim, so the round-trip is exact.
Any Delta reader (Spark+delta jar, delta-rs, DuckDB's delta extension)
can open the result. Scope: version-0 snapshots (``write_delta_snapshot``),
multi-version APPEND/OVERWRITE/REPLACE commits (``commit_delta`` —
remove+add actions with per-file min/max stats, optimistic-concurrency
publish), time-travel reads
(``read_delta_snapshot(version=N)``), file-pruned CDC MERGE
(``merge_delta_cdc``), streaming idempotence (``txn`` actions +
``last_txn_version``), OPTIMIZE compaction (``optimize_delta``),
version-retention VACUUM (``vacuum_delta``), and parquet log checkpoints
(``checkpoint_delta`` + ``_last_checkpoint``), deletion-vector READS
(reader-v3 ``deletionVectors`` tables — ``io/deletion_vectors.py``
decodes the roaring-bitmap descriptors and ``_scan_adds`` anti-joins the
deleted positions), and ADD COLUMN schema evolution
(``evolve_delta_schema`` — metadata-only commit, legacy files scan as
null). Remaining connector-only surface: DV writing/maintenance and
column mapping. This is the write-side parity for
the reference's declared-but-``todo!()`` Delta target
(crates/evolution-target/src/target.rs:31-37,
examples/delta/src/main.rs:28-30).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from pathlib import Path
from urllib.parse import quote

from pyspark.sql import DataFrame

from evolution_spark.io.save_mode import save_output
from evolution_spark.io.scan_filters import parquet_files

PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}

# Reader capabilities this module actually implements. We reconstruct
# snapshots with plain add/remove replay (reader version 1) PLUS deletion
# vectors (reader version 3 feature `deletionVectors` — descriptors are
# decoded via io/deletion_vectors.py and applied as a row-position
# anti-join in read_delta_snapshot, so deleted rows never resurrect) PLUS
# column mapping in NAME mode (reader version 2 / the v3 `columnMapping`
# feature — physical-name scan + logical alias in read_delta_snapshot;
# id mode and nested-struct mappings are refused at read time with the
# mode/shape named) PLUS timestampNtz (Spark's TimestampNTZType is this
# engine's native timestamp — ``StructType.fromJson`` decodes the spec's
# ``timestamp_ntz`` primitive directly and parquet stores it as
# isAdjustedToUTC=false, so reads are exact) PLUS v2Checkpoint
# (read_checkpoint_state resolves UUID-named checkpoint manifests,
# validates their checkpointMetadata version, and folds sidecar add
# files from _delta_log/_sidecars/). Anything else a higher reader
# version gates — type widening etc. — would be silently WRONG if
# ignored, so the spec's forward-compat obligation is to refuse loudly.
SUPPORTED_READER_FEATURES: frozenset[str] = frozenset(
    {"deletionVectors", "columnMapping", "timestampNtz", "v2Checkpoint",
     "typeWidening", "typeWidening-preview", "variantType",
     "variantType-preview"}
)

# Type-widening conversions this reader PROVABLY performs (Spark 4's
# parquet vectorized reader decodes the narrow stored type under the
# widened read schema for exactly these; int->double, int->decimal and
# long->decimal raise PARQUET_COLUMN_DATA_TYPE_MISMATCH and must REFUSE
# at the metadata level rather than fail mid-scan or read wrong).
# Decimal->wider-decimal is validated structurally (precision AND scale
# AND integral digits must not shrink).
_WIDENING_OK: frozenset[tuple[str, str]] = frozenset({
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("short", "integer"), ("short", "long"),
    ("integer", "long"),
    ("float", "double"),
    ("date", "timestamp_ntz"),
})


def _validate_type_widening(schema_string: str | None) -> None:
    """Refuse ``delta.typeChanges`` documents whose conversions this
    reader cannot perform (typeWidening feature, PROTOCOL.md 'Type
    Widening'): a supported-looking read of an unsupported pair would
    fail mid-scan per file — or worse, a future Spark could decode it
    differently than the spec requires."""
    if not schema_string or '"delta.typeChanges"' not in schema_string:
        return
    import re as _re

    def dec(t):
        m = _re.fullmatch(r"decimal\((\d+),\s*(-?\d+)\)", str(t))
        return (int(m.group(1)), int(m.group(2))) if m else None

    def walk(fields):
        for f in fields:
            for ch in (f.get("metadata") or {}).get("delta.typeChanges", []):
                frm, to = str(ch.get("fromType")), str(ch.get("toType"))
                if (frm, to) in _WIDENING_OK:
                    continue
                df_, dt_ = dec(frm), dec(to)
                if (df_ and dt_ and dt_[0] >= df_[0] and dt_[1] >= df_[1]
                        and dt_[0] - dt_[1] >= df_[0] - df_[1]):
                    continue
                raise DeltaProtocolError(
                    f"field {f['name']!r} records a type widening "
                    f"{frm} -> {to} this reader cannot perform — "
                    "refusing to read rather than failing per file "
                    "(supported: integer-to-wider-integer, float->double, "
                    "date->timestamp_ntz, decimal precision/scale growth)"
                )
            stack = [f.get("type")]
            while stack:
                t = stack.pop()
                if not isinstance(t, dict):
                    continue
                if t.get("type") == "struct":
                    walk(t["fields"])
                elif t.get("type") == "array":
                    stack.append(t.get("elementType"))
                elif t.get("type") == "map":
                    stack.append(t.get("keyType"))
                    stack.append(t.get("valueType"))

    walk(json.loads(schema_string)["fields"])

# Reader-IGNORABLE features (PROTOCOL.md): these appear in readerFeatures
# of modern foreign tables but carry no obligation for a plain batch read
# — rowTracking's row ids/commit versions are optional metadata columns a
# reader may simply not materialize, domainMetadata actions only scope
# writer coordination state, and vacuumProtocolCheck gates VACUUM (not
# scans). Tolerated on READ only; they are NOT claimed as implemented —
# upgrade_delta_features refuses to declare them, and writes to tables
# carrying them in writerFeatures still refuse (a writer must MAINTAIN
# row tracking / domain metadata, which this engine does not).
READER_IGNORABLE_FEATURES: frozenset[str] = frozenset(
    {"rowTracking", "domainMetadata", "vacuumProtocolCheck"}
)


class DeltaProtocolError(RuntimeError):
    """Raised when a table's protocol action demands reader capabilities
    this implementation does not have (Delta PROTOCOL.md, 'Protocol
    Evolution': readers must refuse tables above their reader version)."""


# collations feature names (stable + preview): tolerated on READ only
# when the schema declares no collation that changes comparison
# semantics — see _validate_collations
_COLLATIONS_FEATURES: frozenset[str] = frozenset(
    {"collations", "collations-preview"}
)


def _validate_collations(schema_string: str | None) -> None:
    """COLLATIONS tolerance read (PROTOCOL.md 'Collations', round 11):
    the feature records collation identifiers in schema FIELD METADATA.
    A table whose every declared collation is UTF8_BINARY (the spec's
    default — an unspecified collation IS binary) compares exactly like
    plain Spark strings, so reading it plainly is faithful. Any OTHER
    identifier (ICU locales, case-insensitive variants) changes
    ordering/equality semantics this reader does not implement and
    refuses loudly — as does any structurally unrecognized collation
    metadata (refusing beats mis-collating). Detection is conservative:
    every field-metadata entry whose KEY mentions 'collation' has all
    its nested STRING VALUES checked against the UTF8_BINARY forms
    (bare, PROVIDER.NAME, with trailing version segments)."""
    if not schema_string:
        raise DeltaProtocolError(
            "table declares the collations feature but no schema is "
            "resolvable — refusing without validating the declared "
            "collations"
        )

    def _idents(v):
        if isinstance(v, str):
            yield v
        elif isinstance(v, dict):
            for inner in v.values():  # keys are column paths, not idents
                yield from _idents(inner)
        elif isinstance(v, (list, tuple)):
            for inner in v:
                yield from _idents(inner)
        else:
            yield v  # non-string leaf: fails the check below, loudly

    def _is_binary(ident) -> bool:
        if not isinstance(ident, str):
            return False
        parts = ident.upper().split(".")
        return "UTF8_BINARY" in (parts[0], parts[1] if len(parts) > 1 else "")

    stack = list(json.loads(schema_string).get("fields") or [])
    while stack:
        f = stack.pop()
        if not isinstance(f, dict):
            continue
        for key, val in (f.get("metadata") or {}).items():
            if "collation" not in key.lower():
                continue
            bad = [i for i in _idents(val) if not _is_binary(i)]
            if bad:
                raise DeltaProtocolError(
                    f"field {f.get('name')!r} declares non-binary "
                    f"collation(s) {bad} — comparisons under them would "
                    "decode wrong; only UTF8_BINARY-collated tables read"
                )
        t = f.get("type")
        if isinstance(t, dict):
            stack.append(t)
        for k in ("fields", "elementType", "keyType", "valueType"):
            v = f.get(k) if isinstance(f, dict) else None
            if isinstance(v, list):
                stack.extend(v)
            elif isinstance(v, dict):
                stack.append(v)


def _check_reader_protocol(
    protocol: dict | None, schema_string: str | None = None
) -> None:
    """Enforce the Delta protocol's reader obligation before serving data:
    a client MUST NOT read a table whose ``minReaderVersion`` (or, for
    reader version 3, whose ``readerFeatures`` set) exceeds what it
    implements. Raises ``DeltaProtocolError`` for v2 (column mapping), any
    unknown v3 reader feature, and any future reader version. The
    ``collations`` feature is schema-gated: tolerated when every declared
    collation is UTF8_BINARY (``schema_string`` must be passed then)."""
    if not protocol:
        return
    v = int(protocol.get("minReaderVersion", 1))
    if v <= 1:
        return
    if v == 2:
        # reader v2 gates exactly column mapping, which this reader
        # implements (name mode; id mode refuses at scan time with the
        # mode named)
        return
    features = set(protocol.get("readerFeatures") or [])
    unsupported = sorted(
        features - SUPPORTED_READER_FEATURES - READER_IGNORABLE_FEATURES
        - _COLLATIONS_FEATURES
    )
    if v == 3 and not unsupported:
        if features & _COLLATIONS_FEATURES:
            _validate_collations(schema_string)
        return
    raise DeltaProtocolError(
        f"table requires minReaderVersion={v}"
        + (f" with reader features {unsupported}" if unsupported else "")
        + "; this reader implements version 1 "
        + (f"(+features {sorted(SUPPORTED_READER_FEATURES)}) "
           if SUPPORTED_READER_FEATURES else "")
        + "— refusing to read rather than silently dropping protocol "
        "semantics (e.g. deletion vectors or column mapping)"
    )


# Writer capabilities this module actually implements: plain append/
# overwrite/replace commits with add/remove/txn/commitInfo actions, plus
# (since round 6) DELETION-VECTOR maintenance — delete_delta_rows writes
# merge-on-read DELETEs, removes echo live DV descriptors, and rewrites
# (OPTIMIZE/MERGE) read through DVs so they can never resurrect rows.
# Writer version 2's obligations on FOREIGN tables are enforced in
# commit_delta: delta.appendOnly refuses dataChange=true removes (layout-
# only OPTIMIZE rewrites pass data_change=False and are legal), and
# legacy COLUMN INVARIANTS (per-field delta.invariants metadata) are
# ENFORCED on every row-adding commit via _enforce_constraints — the same
# staged-scan validation CHECK constraints get, so a v2-era table with
# invariants commits valid rows and refuses violating ones. The v7
# feature set below is the honest claim: deletionVectors (full
# read+maintain), appendOnly and invariants (both enforced in
# commit_delta/update paths) and (round 10) generatedColumns, identity
# columns, typeWidening, in-commit timestamps, domain metadata, and row
# tracking — each with its obligation implemented (staged-scan
# validation, high-water marks, monotone stamps, checkpoint carry,
# baseRowId assignment) and variantType (Spark 4's native VariantType,
# 1:1 mapping). Collations are schema-gated BOTH ways (round 11 read,
# round 12 write): a foreign table whose every declared collation is
# UTF8_BINARY reads and accepts appends/maintenance faithfully — the
# writer obligation is only to preserve the collation metadata, which
# every commit path does (appends carry schemaString verbatim; DDL adds
# collation-free fields) — while any non-binary collation, or CREATING/
# ALTERING collations, stays refused; unknown future features stay
# refused via _check_writer_protocol.
SUPPORTED_WRITER_FEATURES: frozenset[str] = frozenset(
    {"deletionVectors", "appendOnly", "invariants", "columnMapping",
     "checkConstraints", "changeDataFeed", "timestampNtz", "v2Checkpoint",
     "generatedColumns", "identityColumns", "typeWidening",
     "typeWidening-preview", "inCommitTimestamp", "domainMetadata",
     "rowTracking", "variantType", "variantType-preview"}
)


def _check_writer_protocol(
    protocol: dict | None, schema_string: str | None = None
) -> None:
    """Enforce the Delta protocol's writer obligation before committing: a
    client MUST NOT write to a table whose ``minWriterVersion`` (or, for
    writer version 7, whose ``writerFeatures`` set) exceeds what it
    implements — e.g. appending to a table with CHECK constraints without
    validating them corrupts the table's invariants silently. The
    ``collations`` feature is schema-gated like the read side (round 12):
    writing to a foreign table whose every declared collation is
    UTF8_BINARY is faithful — commits preserve the schema's collation
    metadata verbatim and binary collation compares like plain Spark
    strings — so such tables accept appends/maintenance; any non-binary
    collation refuses (``schema_string`` must be passed for the gate)."""
    if not protocol:
        return
    v = int(protocol.get("minWriterVersion", 1))
    if v <= 2:
        return
    if v == 3:
        # writer v3 adds exactly the CHECK-constraints obligation, which
        # every row-adding commit path enforces via _enforce_constraints
        return
    if v == 4:
        # writer v4 adds changeDataFeed (DML under
        # delta.enableChangeDataFeed stages cdc sidecars in the same
        # commit) and generatedColumns (enforced via _enforce_constraints
        # like invariants) — both honored, so v4 tables are writable
        return
    if v == 5:
        # writer v5 adds column mapping, which every write path honors
        # (_physicalize stores physical names; DDL is mapping-aware)
        return
    if v == 6:
        # writer v6 adds identity columns: commit_delta generates values
        # past the high-water mark (or validates explicit inserts) and
        # advances delta.identity.highWaterMark in the same commit; the
        # unsupported shapes (MERGE/partial rewrites, identity UPDATE
        # assignments, column-mapped identity) refuse loudly per-path
        return
    features = set(protocol.get("writerFeatures") or [])
    unsupported = sorted(
        features - SUPPORTED_WRITER_FEATURES - _COLLATIONS_FEATURES
    )
    if v == 7 and not unsupported:
        if features & _COLLATIONS_FEATURES:
            _validate_collations(schema_string)
        return
    raise DeltaProtocolError(
        f"table requires minWriterVersion={v}"
        + (f" with writer features {unsupported}" if unsupported else "")
        + "; this writer implements versions 1-7 (v7 features: "
        f"{sorted(SUPPORTED_WRITER_FEATURES)}) — refusing to commit "
        "rather than silently violating protocol obligations of a "
        "feature or version it does not know"
    )


def _partition_value(raw: str) -> str | None:
    """Decode one hive directory value: Spark's escapePathName percent-
    encoding is reversed and the null sentinel maps to None (the Delta
    spec records null partition values as JSON null) — recording the raw
    dir string would make spec readers' partition filtering wrong."""
    if raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    from urllib.parse import unquote

    return unquote(raw)


def _file_stats(pq_file) -> dict:
    """Delta-spec add-action stats from a parquet footer: numRecords plus
    per-column minValues/maxValues (int/float/string/bool columns only —
    the types file-pruning predicates compare against). Aggregated across
    row groups; a column with any missing row-group statistics is omitted
    rather than recorded wrong."""
    md = pq_file.metadata
    mins: dict = {}
    maxs: dict = {}
    ok: set = set()
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            if "." in name:
                continue  # nested: not a top-level prune target
            try:
                st = col.statistics
                has = st is not None and st.has_min_max
                lo, hi = (st.min, st.max) if has else (None, None)
            except Exception:
                # pyarrow cannot extract stats for some physical types
                # (e.g. fixed-len decimal): omit, never fail the commit
                has = False
            if not has:
                mins.pop(name, None)
                maxs.pop(name, None)
                ok.discard(name)
                continue
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode(), hi.decode()
                except UnicodeDecodeError:
                    mins.pop(name, None)
                    maxs.pop(name, None)
                    ok.discard(name)
                    continue
            if not isinstance(lo, (int, float, str, bool)):
                mins.pop(name, None)
                maxs.pop(name, None)
                ok.discard(name)
                continue
            if name in ok:
                mins[name] = min(mins[name], lo)
                maxs[name] = max(maxs[name], hi)
            elif rg == 0:
                mins[name], maxs[name] = lo, hi
                ok.add(name)
    return {
        "numRecords": md.num_rows,
        "minValues": {k: mins[k] for k in sorted(ok)},
        "maxValues": {k: maxs[k] for k in sorted(ok)},
    }


def write_delta_snapshot(
    df: DataFrame,
    path: str,
    mode: str = "error",
    partition_by: list[str] | None = None,
    name: str | None = None,
    txn: tuple[str, int] | None = None,
    column_mapping: bool = False,
    configuration: dict | None = None,
) -> dict | None:
    """Write ``df`` as a version-0 Delta table at ``path``.

    ``mode`` follows ``io/save_mode.py`` (``overwrite`` replaces the whole
    output with a fresh table, still one commit; ``append`` is refused,
    ``commit_delta`` appends). Returns the commit summary (version, file
    count, row count) for logging/tests.

    ``column_mapping=True`` creates the table in NAME mapping mode (the
    Databricks default after any RENAME/DROP COLUMN): every field gets a
    stable ``delta.columnMapping.id`` and a generated physical name
    (``col-<hex>``), the data files store the physical names, and the
    protocol claims the v3/v7 ``columnMapping`` feature — which is what
    makes ``rename_delta_column`` / ``drop_delta_column`` metadata-only
    commits later. Partitioned mapped tables follow the spec layout:
    directory names AND ``partitionColumns`` AND ``partitionValues`` all
    use the PHYSICAL partition column name."""
    summary = save_output(path, mode, lambda p: _create_delta_table(
        df, Path(p), partition_by, name, txn, column_mapping, configuration))
    if summary is not None:
        summary["path"] = str(Path(path) / "_delta_log" / f"{0:020d}.json")
    return summary


def _create_delta_table(
    df: DataFrame,
    table_dir: Path,
    partition_by: list[str] | None = None,
    name: str | None = None,
    txn: tuple[str, int] | None = None,
    column_mapping: bool = False,
    configuration: dict | None = None,
) -> dict:
    """``write_delta_snapshot``'s write: version 0 of a new table at the
    absent path ``table_dir``."""
    part_cols = list(partition_by or [])
    mapped_fields = None
    config: dict[str, str] = dict(configuration or {})
    protocol = dict(PROTOCOL)
    if column_mapping:
        base = json.loads(df.schema.json())["fields"]
        mapped_fields = []
        for i, f in enumerate(base, start=1):
            phys = f"col-{uuid.uuid4().hex[:12]}"
            mapped_fields.append(dict(
                f,
                metadata={
                    **(f.get("metadata") or {}),
                    "delta.columnMapping.id": i,
                    "delta.columnMapping.physicalName": phys,
                },
            ))
        config = {
            **config,
            "delta.columnMapping.mode": "name",
            "delta.columnMapping.maxColumnId": str(len(base)),
        }
        protocol = {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["columnMapping"],
            "writerFeatures": ["columnMapping"],
        }
        phys_of = {
            f["name"]: mf["metadata"]["delta.columnMapping.physicalName"]
            for f, mf in zip(base, mapped_fields)
        }
        df = df.withColumnsRenamed(phys_of)
        # the spec keys the partition LAYOUT by physical name: directory
        # names, metaData.partitionColumns, and add.partitionValues below
        # (via _collect_staged_adds) all carry the physical partition column
        part_cols = [phys_of.get(c, c) for c in part_cols]
    if _cdf_enabled(config):
        # feature-activation rule: the property obliges writers to emit
        # cdc sidecars, so the protocol must declare changeDataFeed
        upgrade = _cdf_protocol_upgrade(protocol)
        if upgrade:
            protocol = upgrade["protocol"]
    schema_string = (
        json.dumps({"type": "struct", "fields": mapped_fields})
        if mapped_fields is not None
        else df.schema.json()
    )
    # feature-activation rule: a schema carrying timestamp_ntz obliges the
    # protocol to declare timestampNtz (reader AND writer feature) — else a
    # spec reader decodes the column UTC-adjusted and shifts every value
    ntz_up = _ntz_protocol_upgrade(protocol, schema_string)
    if ntz_up:
        protocol = ntz_up["protocol"]
    var_up = _variant_protocol_upgrade(protocol, schema_string)
    if var_up:
        protocol = var_up["protocol"]
    if _ict_enabled(config):
        # feature-activation rule (same shape as CDF/timestampNtz): the
        # enablement property obliges the protocol to declare the
        # inCommitTimestamp writer feature, else a spec-conformant
        # foreign writer sees plain v2 and appends unstamped commits
        v_w = int(protocol.get("minWriterVersion", 2))
        feats_w = set(protocol.get("writerFeatures") or [])
        protocol = {
            "minReaderVersion": int(protocol.get("minReaderVersion", 1)),
            "minWriterVersion": 7,
            **({"readerFeatures": protocol["readerFeatures"]}
               if "readerFeatures" in protocol else {}),
            "writerFeatures": sorted(
                feats_w | _legacy_writer_features(v_w)
                | {"inCommitTimestamp"}
            ),
        }

    table_dir.mkdir(parents=True)
    stage = table_dir / f"_staging_v0-{uuid.uuid4().hex}"
    writer = df.write.mode("error")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(str(stage))
    now_ms = int(time.time() * 1000)
    add_actions, n_files, total_rows = _collect_staged_adds(
        stage, table_dir, 0, now_ms, data_change=True,
        spark=df.sparkSession,
    )
    shutil.rmtree(stage)

    actions: list[dict] = []
    if txn is not None:
        actions.append({"txn": {"appId": txn[0], "version": txn[1]}})
    actions.append({"protocol": protocol})
    actions.append(
        {
            "metaData": {
                "id": str(uuid.uuid4()),
                "name": name,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": part_cols,
                "configuration": config,
                "createdTime": now_ms,
            }
        }
    )
    actions.extend(add_actions)
    (table_dir / "_delta_log").mkdir()
    # creation-time in-commit-timestamp enablement: the publisher stamps
    # v0 itself (spec: every commit after enablement)
    _publish_commit(table_dir, 0, actions, "WRITE", {"mode": "ErrorIfExists"},
                    now_ms=now_ms, config=config)
    return {"version": 0, "files": n_files, "rows": total_rows}


def _log_versions(log_dir: Path) -> list[int]:
    return sorted(int(p.stem) for p in log_dir.glob("*.json") if p.stem.isdigit())



def _fold_action(action: dict, live: dict, state: dict) -> None:
    """Apply ONE log action to the replay accumulators — the single
    implementation of the snapshot-reconstruction fold shared by every
    reader (_replay_log, last_txn_version, checkpoint_delta,
    read_checkpoint_state), so a new action type or a path-convention
    change lands in one place. ``live`` maps stored add-path -> add
    action; ``state`` accumulates schema_string/part_cols/metadata/
    protocol/txns as encountered."""
    if "add" in action:
        live[action["add"]["path"]] = action["add"]
        # re-adding a path supersedes its tombstone (latest action per
        # path wins in the spec's state reconstruction)
        state.get("tombstones", {}).pop(action["add"]["path"], None)
    elif "remove" in action:
        # the spec keys file actions by (path, dvUniqueId): a DELETE on a
        # DV table emits remove(path, dv=old) + add(path, dv=new) in ONE
        # commit, and action order within a commit is unspecified — pairing
        # on the DV id makes the fold order-independent (the remove can
        # never cancel the commit's own new add)
        from evolution_spark.io.deletion_vectors import dv_unique_id

        p = action["remove"]["path"]
        cur = live.get(p)
        if cur is not None and dv_unique_id(cur.get("deletionVector")) == dv_unique_id(
            action["remove"].get("deletionVector")
        ):
            live.pop(p)
        # kept for checkpointing: the spec requires unexpired remove
        # tombstones to be carried into checkpoints so external readers
        # coordinate VACUUM correctly
        state.setdefault("tombstones", {})[action["remove"]["path"]] = action[
            "remove"
        ]
    elif "metaData" in action:
        state["schema_string"] = action["metaData"]["schemaString"]
        state["part_cols"] = action["metaData"].get("partitionColumns", [])
        state["metadata"] = action["metaData"]
    elif "protocol" in action:
        state["protocol"] = action["protocol"]
    elif "txn" in action:
        t = action["txn"]
        txns = state.setdefault("txns", {})
        txns[t["appId"]] = max(t["version"], txns.get(t["appId"], -1))
    elif "domainMetadata" in action:
        d = action["domainMetadata"]
        # latest action per domain wins (removed=true acts as a
        # tombstone); carried so checkpoints and row-tracking writers
        # can preserve foreign coordination state
        state.setdefault("domain_metadata", {})[d["domain"]] = d


def _replay_log(
    table_dir: Path, version: int | None = None, return_state: bool = False
):
    """Replay commits 0..version (default: latest). Returns (live add
    actions keyed by stored path, schemaString, partitionColumns, the
    resolved version[, the full replay state when ``return_state``]). The
    live set applies ``add``/``remove`` in commit order — exactly the
    Delta snapshot-reconstruction contract. Latest-version reads go
    through the newest checkpoint when one exists (checkpoint state +
    post-checkpoint commits — O(live files), not O(history)); explicit
    historical versions replay the JSON chain.

    ``return_state=True`` exposes the accumulated state dict (protocol,
    metadata, txns, tombstones) so write paths can enforce protocol/
    configuration obligations WITHOUT a second replay of the log."""
    if version is None:
        result = read_checkpoint_state(str(table_dir), return_state=return_state)
        if result is not None:
            return result
    log_dir = table_dir / "_delta_log"
    versions = _log_versions(log_dir)
    if not versions:
        raise FileNotFoundError(f"no Delta log at {log_dir}")
    target = versions[-1] if version is None else version
    if target not in versions:
        raise ValueError(f"version {target} not in log (have {versions})")
    # truncated logs (retention removed pre-checkpoint commits): a raw
    # JSON replay from the surviving files would SILENTLY reconstruct a
    # partial live set — resolve through the checkpoint when it covers
    # the target, refuse when the target predates it (that state is gone)
    if versions[0] != 0:
        result = read_checkpoint_state(
            str(table_dir), return_state=return_state, version=target
        )
        if result is not None:
            return result
        raise RuntimeError(
            f"version {target} is not reconstructible: commits 0.."
            f"{versions[0] - 1} were removed by log retention and no "
            "checkpoint at or before it survives — refusing a silently "
            "partial snapshot"
        )
    live: dict[str, dict] = {}
    state: dict = {}
    for v in versions:
        if v > target:
            break
        for line in (log_dir / f"{v:020d}.json").read_text().splitlines():
            _fold_action(json.loads(line), live, state)
    _check_reader_protocol(state.get("protocol"), state.get("schema_string"))
    _validate_type_widening(state.get("schema_string"))
    out = (live, state.get("schema_string"), state.get("part_cols", []), target)
    return out + (state,) if return_state else out


def last_txn_version(path: str, app_id: str) -> int | None:
    """Highest ``txn`` action version committed for ``app_id`` (the Delta
    spec's streaming-idempotence mechanism), or None if never seen.

    Resolves through the newest log checkpoint when one exists (checkpoint
    txn rows + only the JSON commits after it) — without this a streaming
    sink calling it per micro-batch would re-parse the whole commit
    history every trigger, O(batches^2) over the stream's life."""
    table_dir = Path(path)
    log_dir = table_dir / "_delta_log"
    if not log_dir.exists():
        return None
    best: int | None = None
    after = -1
    pointer = log_dir / "_last_checkpoint"
    if pointer.exists():
        ptr = json.loads(pointer.read_text())
        after = ptr["version"]
        # classic single/multi-part or V2 manifest — txn rows live in the
        # manifest parts (V2 sidecars carry only file actions, spec §V2).
        # Parquet parts project the txn column only: this runs per
        # micro-batch on the streaming hot path and must not decode the
        # full sparse action table (review r10 pass 1).
        for part in _resolve_checkpoint_files(log_dir, after,
                                              parts=ptr.get("parts")):
            if part.suffix == ".json":
                rows = _checkpoint_rows(part)
            else:
                import pyarrow.parquet as papq

                pf = papq.ParquetFile(part)
                rows = (pf.read(columns=["txn"]).to_pylist()
                        if "txn" in pf.schema_arrow.names else [])
            for row in rows:
                t = row.get("txn")
                if t and t["appId"] == app_id:
                    best = (t["version"] if best is None
                            else max(best, t["version"]))
    state: dict = {}
    for v in _log_versions(log_dir):
        if v <= after:
            continue
        for line in (log_dir / f"{v:020d}.json").read_text().splitlines():
            _fold_action(json.loads(line), {}, state)
    tail = state.get("txns", {}).get(app_id)
    if tail is not None:
        best = tail if best is None else max(best, tail)
    return best


def commit_delta(
    df: DataFrame,
    path: str,
    mode: str = "append",
    txn: tuple[str, int] | None = None,
    remove_paths: list[str] | None = None,
    data_change: bool = True,
    cdc_df: DataFrame | None = None,
    operation: str = "WRITE",
    _rt_materialized: tuple[str, str] | None = None,
) -> dict:
    """Commit a new version to an existing Delta table (create version 0 if
    the table does not exist). ``mode='append'`` adds files; ``'overwrite'``
    also emits ``remove`` actions for every previously-live file;
    ``'replace'`` removes exactly ``remove_paths`` (stored log paths) — the
    partial-rewrite commit a file-pruned MERGE produces. Removes are
    logical deletes: old versions stay readable, which is what makes time
    travel work. Publish is optimistic-concurrency (``_publish_commit``):
    the commit appears whole or not at all, and a version collision from a
    concurrent writer surfaces as an error instead of a lost update.

    Scale: the data write is a normal distributed ``df.write.parquet`` into
    a staging dir; only the file MOVES and the metadata-sized log write run
    on the driver (one entry per file, never per row).

    Orphan-file note: staged files are moved into the table dir BEFORE the
    log publish (the commit names the moved files). A writer that loses
    the version race or crashes pre-publish therefore leaves its moved
    files as unreferenced orphans; readers are
    unaffected (the file list comes from the log) and a later
    ``vacuum_delta`` reclaims them — same trade-off as object-store Delta
    writers without a commit coordinator."""
    table_dir = Path(path)
    if mode not in ("append", "overwrite", "replace", "error"):
        raise ValueError(f"unknown mode {mode!r}")
    if (mode == "replace") != (remove_paths is not None):
        raise ValueError("remove_paths is required for (and only for) mode='replace'")
    if not data_change and mode != "replace":
        # dataChange=false marks a pure layout rewrite (OPTIMIZE): the row
        # set must be provably unchanged, which only the replace shape
        # (remove exactly these files, add their compaction) expresses
        raise ValueError("data_change=False is only valid with mode='replace'")
    if not (table_dir / "_delta_log").exists():
        return write_delta_snapshot(df, path, mode="error", txn=txn)

    from pyspark.sql.types import StructType

    # writer obligations, from the SAME replay that resolves the live set
    # (no second log pass): refuse protocols above writer version 2,
    # append-only violations, and tables carrying column invariants we
    # cannot validate
    live, schema_string, part_cols, latest, repl_state = _replay_log(
        table_dir, return_state=True
    )
    _check_writer_protocol(repl_state.get("protocol"), schema_string)
    config = dict((repl_state.get("metadata") or {}).get("configuration") or {})
    # the spec forbids only dataChange=true removes on append-only tables;
    # OPTIMIZE-style rewrites (mode='replace' with data_change=False) are
    # legal maintenance and pass through
    if str(config.get("delta.appendOnly", "")).lower() == "true" and (
        mode == "overwrite" or (mode == "replace" and data_change)
    ):
        raise DeltaProtocolError(
            f"table sets delta.appendOnly=true; mode={mode!r} would emit "
            "dataChange=true remove actions — refusing to violate the "
            "append-only contract (layout-only rewrites may pass "
            "data_change=False)"
        )
    # IDENTITY COLUMNS (writer v6 / identityColumns feature): generate
    # values past the high-water mark when the caller omits the column;
    # validate explicit inserts against allowExplicitInsert. The mark
    # advances via a metaData action in this same commit (below).
    identity = _schema_identity_columns(schema_string)
    identity_generated: set[str] = set()
    if identity and data_change:
        # column-mapped tables (round 11): generation happens on LOGICAL
        # names before _physicalize renames the frame, and the high-water
        # mark sync translates logical -> physical for the footer-stats
        # lookup (_identity_hwm_metadata); id mode refuses in
        # mapping_renames like every write path
        mapping_renames(json.loads(schema_string), config)
        from pyspark.sql import functions as F

        schema_fields = [f["name"] for f in json.loads(schema_string)["fields"]]
        for name, ident in identity.items():
            if name in df.columns:
                if not ident["allow"]:
                    raise DeltaProtocolError(
                        f"identity column {name!r} is GENERATED ALWAYS "
                        "(allowExplicitInsert=false): explicit values are "
                        "forbidden"
                        + (" — a partial rewrite (MERGE/replace) cannot "
                           "tell carried rows from new rows needing "
                           "generation, which this writer does not "
                           "support" if mode == "replace" else
                           " — omit the column and the writer assigns "
                           "them")
                    )
                # allowExplicitInsert=true: provided values are legal on
                # every shape (incl. MERGE carried rows); the high-water
                # mark syncs below when they exceed it
            elif mode == "replace":
                raise DeltaProtocolError(
                    f"identity column {name!r} is absent from a partial "
                    "rewrite (MERGE/replace) — generating here would "
                    "reassign carried rows' values; refusing to commit"
                )
            else:
                identity_generated.add(name)
                if ident["high"] is None:
                    base = ident["start"] - ident["step"]
                else:
                    # explicit inserts may have synced an UNALIGNED mark:
                    # snap down to the lattice (start + k*step) so
                    # generated values keep the alignment contract; the
                    # +step below still lands strictly beyond the mark
                    # (review r10 pass 2)
                    base = ident["high"] - (
                        (ident["high"] - ident["start"]) % ident["step"]
                    )
                # monotonically_increasing_id: unique non-negative k per
                # row with NO shuffle; identity values need not be dense,
                # only unique, beyond the mark, and start + k*step-aligned
                df = df.withColumn(
                    name,
                    F.lit(base)
                    + (F.monotonically_increasing_id() + 1)
                    * F.lit(ident["step"]),
                )
        if identity_generated:
            df = df.select(*schema_fields)

    if _row_tracking_active(repl_state) and mode == "replace":
        # rewrites must preserve carried rows' MATERIALIZED row ids
        # (PROTOCOL.md 'Row Tracking') — since round 11 the OPTIMIZE path
        # does exactly that: it projects each row's stable id and passes
        # the materialized column names via ``_rt_materialized``. A
        # replace that does NOT declare them still refuses BEFORE staging
        # (the codebase convention: a refused commit never pays a
        # distributed rewrite or leaves orphans).
        if _rt_materialized is None:
            raise DeltaProtocolError(
                "row tracking: rewrites (MERGE/replace/OPTIMIZE) must "
                "preserve the MATERIALIZED row ids of carried rows — "
                "refusing a replace that declares no materialized "
                "row-tracking columns (optimize_delta does; appends "
                "assign fresh ids; DV deletes re-add the same file and "
                "keep its baseRowId)"
            )
    if _rt_materialized is not None:
        # also legal for mode='overwrite': the un-pruned MERGE fallback
        # rewrites the whole table and still carries every surviving
        # row's materialized id
        if not (_row_tracking_active(repl_state)
                and mode in ("replace", "overwrite")):
            raise ValueError(
                "_rt_materialized is only meaningful for replace/"
                "overwrite commits on a rowTracking table"
            )
        want = (config.get(_RT_ID_KEY), config.get(_RT_VER_KEY))
        if tuple(_rt_materialized) != want or None in want:
            raise DeltaProtocolError(
                f"materialized row-tracking columns {_rt_materialized} "
                f"do not match the table configuration {want} — run "
                "ensure_row_tracking_materialized first"
            )
    stored = StructType.fromJson(json.loads(schema_string))
    if _rt_materialized is not None:
        from pyspark.sql.types import LongType, StructField

        stored = StructType(
            stored.fields
            + [StructField(m, LongType(), True) for m in _rt_materialized]
        )
    # names+types must match; nullability is deliberately NOT compared —
    # Spark cannot statically prove non-nullness through outer joins (a
    # MERGE result is always "nullable" even when every row has a key), and
    # the Delta contract enforces null constraints on data, not plan types
    # simpleString drops nullability at EVERY nesting level while keeping
    # nested field names/types — direct dataType equality would reject a
    # struct whose inner member nullability differs, which the contract
    # above explicitly does not compare
    incompatible = [f.name for f in df.schema] != [f.name for f in stored] or any(
        a.dataType.simpleString() != b.dataType.simpleString()
        for a, b in zip(df.schema, stored)
    )
    if incompatible:
        raise ValueError(
            "schema mismatch vs table metaData — evolve via a new metaData "
            "commit (not supported here), or align the DataFrame schema"
        )
    if mode == "error":
        raise ValueError(f"Delta table already exists at {path} (mode='error')")
    if mode == "replace":
        unknown = [p for p in remove_paths if p not in live]
        if unknown:
            raise ValueError(f"remove_paths not live in the table: {unknown}")
    version = latest + 1
    # uuid-suffixed staging dir OWNED by this process: two writers racing
    # for the same version each stage into their own dir, so the commit
    # race is decided solely by the exclusive publish below — the
    # loser can never rmtree the winner's in-flight staged files (which
    # would publish a commit with remove actions but missing adds).
    stage = table_dir / f"_staging_v{version}-{uuid.uuid4().hex}"
    # mapped tables: files must store PHYSICAL names (else mapped readers
    # resolve the appended files as all-null); no-op when mapping is off.
    # Materialized row-tracking columns are ALREADY physical names (they
    # live outside the schema) and ride along unrenamed.
    df_out = _physicalize_with_extras(
        df, json.loads(schema_string), config, _rt_materialized
    )
    writer = df_out.write.mode("error")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    try:
        writer.parquet(str(stage))
        if data_change:
            # CHECK constraints (writer v3 / checkConstraints feature):
            # layout-only rewrites (dataChange=False) re-add validated rows
            _enforce_constraints(
                df.sparkSession, stage, config, "commit",
                renames=mapping_renames(json.loads(schema_string), config),
                invariants=_schema_invariants(schema_string),
                generated=_schema_generated_columns(schema_string),
            )

        now_ms = int(time.time() * 1000)
        actions: list[dict] = []
        if txn is not None:
            # spec `txn` action: (appId, version) marks this commit as having
            # applied the app's batch `version` — the reader side of streaming
            # exactly-once (see last_txn_version)
            actions.append({"txn": {"appId": txn[0], "version": txn[1]}})
        to_remove = (
            list(live) if mode == "overwrite" else (remove_paths or [])
        )
        if to_remove:
            for stored_path in to_remove:
                rm = {
                    "path": stored_path,
                    "deletionTimestamp": now_ms,
                    "dataChange": data_change,
                }
                # removes pair with adds on (path, dvUniqueId) in replay,
                # so a remove of a DV-carrying add must echo its descriptor
                dv = (live.get(stored_path) or {}).get("deletionVector")
                if dv:
                    rm["deletionVector"] = dv
                actions.append({"remove": rm})
        add_actions, n_files, total_rows = _collect_staged_adds(
            stage, table_dir, version, now_ms, data_change,
            spark=df.sparkSession,
        )
        actions.extend(add_actions)
        if identity and data_change:
            hwm_meta = _identity_hwm_metadata(
                add_actions, identity, identity_generated, repl_state
            )
            if hwm_meta is not None:
                actions.append({"metaData": hwm_meta})
        if _row_tracking_active(repl_state):
            rt_dm = _assign_row_tracking(
                add_actions, {**repl_state, "_live_adds": live}, version
            )
            if rt_dm is not None:
                actions.append(rt_dm)
        if cdc_df is not None and _cdf_enabled(config):
            # caller-supplied row-level change set (MERGE): lands as CDF
            # sidecars in this same commit, with the changeDataFeed
            # writer feature declared
            cdf_up = _cdf_protocol_upgrade(
                repl_state.get("protocol") or dict(PROTOCOL)
            )
            if cdf_up:
                actions.append(cdf_up)
            actions.extend(_stage_cdc_actions(
                cdc_df, table_dir, version, json.loads(schema_string),
                config, part_cols, now_ms,
            ))
    finally:
        if stage.exists():
            shutil.rmtree(stage)

    # callers label maintenance commits (OPTIMIZE/MERGE) via ``operation``
    # so DESCRIBE HISTORY reads like the real log
    mode_param = {"append": "Append", "overwrite": "Overwrite",
                  "replace": "Replace"}[mode]
    _publish_commit(table_dir, version, actions, operation,
                    {"mode": mode_param}, now_ms=now_ms, config=config)
    return {"version": version, "files": n_files, "rows": total_rows}


def _file_may_match(add: dict, col: str, op: str, value) -> bool:
    """Can the file behind ``add`` contain rows where ``col <op> value``?
    Decided from the add action's minValues/maxValues stats; a file with
    no stats for the column conservatively matches (never prunes wrong).
    Supported ops: ``== != < <= > >=``."""
    st = json.loads(add.get("stats") or "{}")
    lo = st.get("minValues", {}).get(col)
    hi = st.get("maxValues", {}).get(col)
    if lo is None or hi is None:
        return True
    if op == "==":
        return lo <= value <= hi
    if op == "<":
        return lo < value
    if op == "<=":
        return lo <= value
    if op == ">":
        return hi > value
    if op == ">=":
        return hi >= value
    if op == "!=":
        # only an all-constant file (lo == hi == value) can be skipped
        return not (lo == hi == value)
    raise ValueError(f"unsupported skip predicate op {op!r}")


def read_delta_snapshot(
    spark,
    path: str,
    version: int | None = None,
    skip_where: list[tuple[str, str, object]] | None = None,
) -> DataFrame:
    """Read a snapshot of the table at ``version`` (default: latest) by
    replaying the log's ``add``/``remove`` actions (no connector): the file
    list comes from the commits, NOT a directory listing — exactly the
    Delta read contract (uncommitted/orphan/staged files are invisible,
    and every historical version stays readable until VACUUM).

    DATA SKIPPING (``skip_where``): a conjunction of simple predicates
    ``[(col, op, literal), ...]`` is evaluated against each add action's
    minValues/maxValues stats, and files that provably contain no matching
    row are dropped from the scan BEFORE Spark ever lists them — the
    metadata-level pruning that makes a needle lookup on a sorted/
    Z-ordered 100 TB table touch O(needle) files instead of O(table)
    footers. This complements (not replaces) Spark's own parquet
    row-group pushdown: the SAME predicate must still be applied with
    ``.filter`` — skipping only removes files that cannot match. Files
    without stats for a predicate column are conservatively kept.

    COLUMN MAPPING (``delta.columnMapping.mode = 'name'``, reader v2 /
    the v3 ``columnMapping`` feature): parquet files store PHYSICAL
    column names (``col-<uuid>``) recorded per field in the schema
    metadata; the scan reads under the physical schema and aliases back
    to the logical names, so renamed/dropped-column foreign tables (the
    other Databricks-default feature besides DVs) read correctly.
    ``skip_where`` columns are logical and are translated to physical for
    the stats lookup. Mode ``'id'`` resolves data columns by parquet
    FIELD ID (Spark's fieldId reader + ``parquet.field.id`` schema
    metadata = ``delta.columnMapping.id``) — physical names may differ
    per file and are ignored; only nested mapped structs still refuse."""
    table_dir = Path(path)
    live, schema_string, part_cols, _, state = _replay_log(
        table_dir, version, return_state=True
    )
    config = dict((state.get("metadata") or {}).get("configuration") or {})
    schema_json = json.loads(schema_string)
    mode = mapping_mode(config)
    # stats (and partitionValues) are keyed by PHYSICAL name in BOTH
    # mapping modes, so skip_where translation is mode-independent
    renames = _physical_renames(schema_json) if mode != "none" else {}
    phys_of = {log: phys for phys, log in renames.items()}
    kept = sorted(live)
    if skip_where:
        kept = [
            p
            for p in kept
            if all(
                _file_may_match(live[p], phys_of.get(col, col), op, val)
                for col, op, val in skip_where
            )
        ]
    from pyspark.sql.types import StructType

    if mode == "id":
        # id mode: resolve data columns by parquet field id (footers may
        # store ANY physical names, differing per file); partition
        # columns scan under their physical directory names and alias
        # back. The conf only affects reads whose requested schema
        # carries parquet.field.id metadata — every other scan in the
        # session is untouched.
        id_schema, aliases = field_id_scan_schema(schema_json, part_cols)
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        df = _scan_adds(spark, table_dir, live, kept, id_schema)
        from pyspark.sql import functions as F

        return df.select(
            *[F.col(scan).alias(log) for scan, log in aliases]
        )
    if mode == "name":
        # scan under the RECURSIVELY physical schema (inner struct/array/
        # map fields rename too) and alias back — struct-bearing fields
        # via positional cast. Gated on the MODE, not the top-level
        # rename map: a table whose only rename is an inner struct field
        # has an empty flat map but still stores physical inner names.
        phys_fields = [_physical_field(f) for f in schema_json["fields"]]
        phys_schema = StructType.fromJson({"type": "struct", "fields": phys_fields})
        df = _scan_adds(spark, table_dir, live, kept, phys_schema)
        return df.select(*_logical_select_cols(schema_json, phys_of))
    schema = StructType.fromJson(schema_json)
    df = _scan_adds(spark, table_dir, live, kept, schema)
    # Spark surfaces hive-partition columns LAST on the relative-path
    # scan; restore the metaData's declared order so round-trips (e.g.
    # OPTIMIZE re-committing the snapshot) pass the order-sensitive
    # schema check
    return df.select(*[f["name"] for f in schema_json["fields"]])


def _scan_adds(
    spark,
    table_dir: Path,
    live: dict,
    kept: list[str],
    schema,
    with_lineage: bool = False,
):
    """Scan the given stored add paths, applying any deletion vectors.

    Files without a DV read as a plain pruned parquet scan. For DV-carrying
    adds, each descriptor is decoded DRIVER-side (a DV is a compressed
    roaring bitmap — metadata-sized, like the log) into (file, position)
    pairs, and the scan drops those rows via a left-anti join on
    ``_metadata.file_path``/``_metadata.row_index`` — JVM-side, no Python
    in the row path. The anti-join's build side is proportional to the
    DELETED row count in scanned files, never to table size; it is
    broadcast while the summed descriptor cardinality stays small and falls
    back to a shuffled join (AQE-planned) beyond that."""
    from urllib.parse import unquote

    # resolve ONCE and use the same root for file paths and basePath —
    # mixing resolved adds with an unresolved basePath breaks partition
    # discovery under symlinked table locations
    root = table_dir.resolve()
    if not kept:
        if with_lineage:
            # the lineage columns must exist even on a zero-file scan
            # (review r11 pass 2: an insert-only MERGE whose key ranges
            # hit no file reads an empty target through _lineage_scan)
            from pyspark.sql.types import (
                LongType,
                StringType,
                StructField,
                StructType,
            )

            schema = StructType(
                schema.fields
                + [StructField("__src_fp", StringType(), True),
                   StructField("__src_ri", LongType(), True),
                   StructField("__src_bn", StringType(), True)]
            )
        return spark.createDataFrame([], schema)
    # the spec allows add.path to be ABSOLUTE (how shallow clones
    # reference the source table's files); pathlib's join already
    # resolves those (Path(root) / '/abs' == '/abs'), but they live
    # outside root, so basePath-driven partition-dir discovery cannot
    # apply — the absolute branch reads partition columns from each
    # add's partitionValues instead (the spec-faithful source)
    rel_kept = [p for p in kept if not _is_absolute_stored(p)]
    abs_kept = [p for p in kept if _is_absolute_stored(p)]

    import pandas as pd
    from pyspark.sql import functions as F

    from evolution_spark.io.deletion_vectors import read_dv_positions
    from evolution_spark.io.scan_filters import (
        anti_join_deleted_positions,
        decoded_file_path,
    )

    def _apply_dvs(df, group, fp_col=None, ri_col=None):
        dvd = [(p, live[p]["deletionVector"]) for p in group
               if live[p].get("deletionVector")]
        if not dvd:
            return df
        frames = []
        for p, desc in dvd:
            frames.append(pd.DataFrame({
                "file_path": _resolved_add_path(root, p),
                "pos": read_dv_positions(desc, table_dir),
            }))
        deleted = spark.createDataFrame(
            pd.concat(frames, ignore_index=True),
            schema="file_path string, pos long",
        )
        total_card = sum(int(d.get("cardinality") or 0) for _, d in dvd)
        return anti_join_deleted_positions(
            df, deleted, total_card, fp_col=fp_col, ri_col=ri_col
        )

    outs = []
    if rel_kept:
        df = parquet_files(spark, [str(root / unquote(p)) for p in rel_kept],
                           schema, base_path=str(root))
        if with_lineage:
            # lineage must become REAL columns per branch: the hidden
            # ``_metadata`` column does not survive the rel/abs union.
            # __src_bn (raw basename, no URI decode) feeds the row-
            # tracking map-literal fast path; Catalyst prunes whichever
            # of the two derived columns goes unconsumed.
            df = df.withColumns({
                "__src_fp": decoded_file_path(F.col("_metadata.file_path")),
                "__src_ri": F.col("_metadata.row_index"),
                "__src_bn": F.substring_index(
                    F.col("_metadata.file_path"), "/", -1
                ),
            })
        outs.append(_apply_dvs(df, rel_kept))
    if abs_kept:
        # ONE scan of all absolute files + a broadcast (file -> partition
        # values) lookup — not a scan per partition value, whose
        # linear union tree would blow up driver planning on
        # many-partition clones. ``_metadata`` is materialized up front:
        # the join output would lose the hidden column.
        part_keys = sorted(
            {k for p in abs_kept
             for k in (live[p].get("partitionValues") or {})}
        )
        by_field = {f.name: f for f in schema.fields}
        from pyspark.sql.types import StructType

        data_schema = StructType(
            [f for f in schema.fields if f.name not in part_keys]
        )
        abs_path_of = {p: _resolved_add_path(root, p) for p in abs_kept}
        adf = (
            parquet_files(spark, sorted(abs_path_of.values()), data_schema)
            .withColumns({
                "__src_fp": decoded_file_path(F.col("_metadata.file_path")),
                "__src_ri": F.col("_metadata.row_index"),
                "__src_bn": F.substring_index(
                    F.col("_metadata.file_path"), "/", -1
                ),
            })
        )
        if part_keys:
            rows = [
                (abs_path_of[p],
                 *[(live[p].get("partitionValues") or {}).get(k)
                   for k in part_keys])
                for p in abs_kept
            ]
            lookup = spark.createDataFrame(
                rows,
                schema=", ".join(
                    ["file_path string"] + [f"`{k}` string" for k in part_keys]
                ),
            )
            adf = adf.join(
                F.broadcast(lookup),
                adf["__src_fp"] == lookup["file_path"],
                "inner",
            ).drop("file_path")
            adf = adf.withColumns({
                k: F.col(k).cast(by_field[k].dataType) for k in part_keys
            })
        adf = _apply_dvs(adf, abs_kept, fp_col="__src_fp", ri_col="__src_ri")
        keep_cols = [f.name for f in schema.fields] + (
            ["__src_fp", "__src_ri", "__src_bn"] if with_lineage else []
        )
        outs.append(adf.select(*keep_cols))
    out = outs[0]
    for b in outs[1:]:
        out = out.unionByName(b)
    return out


def _is_absolute_stored(p: str) -> bool:
    """True when an add action's stored path is absolute (clone source
    reference or a foreign writer's file: URI) rather than
    table-relative."""
    from urllib.parse import unquote

    u = unquote(p)
    return u.startswith("/") or u.startswith("file:")


def _resolved_add_path(root: Path, p: str) -> str:
    """Filesystem path an add action's stored path resolves to: relative
    paths join the table root; absolute ones (clone references) stand
    alone, with any file: scheme stripped so joins against
    ``decoded_file_path(_metadata.file_path)`` match."""
    from urllib.parse import unquote

    from evolution_spark.io.scan_filters import plain_path

    u = unquote(p)
    if u.startswith("file:"):
        return plain_path(u)
    return u if u.startswith("/") else str(root / u)


def _check_cdc_changes(ch, op_col: str) -> None:
    """Validate a prepared CDC change set (columns ``__k``/``__op``) —
    shared by ``merge_delta_cdc`` and ``iceberg_meta.merge_iceberg_cdc``.
    Real MERGE raises when a target row matches multiple source rows — a
    duplicated change key would silently fan the row out instead; an
    unknown op code would silently no-op (matched) or insert an all-NULL
    row (unmatched). One combined aggregate validates everything
    (map-side combined, no groupBy materialization); the detailed probe
    for the error message only runs on the failure path."""
    from pyspark.sql import functions as F

    check = ch.agg(
        F.sum((~F.col("__op").isin("u", "d")).cast("long")).alias("bad_ops"),
        F.sum(F.col("__k").isNull().cast("long")).alias("null_keys"),
        (F.count("__k") - F.count_distinct("__k")).alias("dup_keys"),
    ).collect()[0]
    if check["null_keys"]:
        raise ValueError(
            f"change set has {check['null_keys']} NULL merge key(s) — a null "
            "key can never match a target row; filter or fix upstream"
        )
    if check["bad_ops"]:
        bad_op = ch.where(~F.col("__op").isin("u", "d")).limit(1).collect()
        raise ValueError(
            f"unknown op {bad_op[0]['__op']!r} in {op_col!r} — "
            "use 'u' (upsert) or 'd' (delete)"
        )
    if check["dup_keys"]:
        dup = ch.groupBy("__k").count().where("count > 1").limit(1).collect()
        raise ValueError(
            f"change set has duplicate key {dup[0]['__k']!r} — MERGE requires "
            "at most one change per key (compact the changelog first, e.g. "
            "latest-wins by timestamp)"
        )


def merge_delta_cdc(
    spark,
    path: str,
    changes: DataFrame,
    key: str,
    op_col: str = "_op",
    prune_files: bool = True,
) -> dict:
    """MERGE a CDC change set into a Delta table as one new commit.

    ``changes`` carries the table's columns plus ``op_col`` with ``'u'``
    (upsert: update if the key exists, insert if not) or ``'d'`` (delete).
    Semantics match ``MERGE INTO ... WHEN MATCHED [AND op='d'] THEN DELETE
    / WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED [AND op='u'] THEN
    INSERT *`` — implemented as one full-outer key join, committed so the
    pre-merge version stays time-travel readable.

    FILE PRUNING (``prune_files=True``): instead of rewriting the whole
    table, the change keys are joined against each live file's
    ``minValues``/``maxValues`` key-range stats (recorded in every add
    action; the ranges table is one row per file — metadata-sized and
    broadcast). Only intersecting files are read, merged, and rewritten;
    everything else is carried forward untouched by a ``mode='replace'``
    commit (remove exactly the rewritten files). A key present in a file
    is necessarily inside that file's min/max, so skipping non-intersecting
    files cannot miss a match — inserts fall out of the outer join
    regardless of which file ranges they land in. This is what turns MERGE
    from an O(table) rewrite into an O(touched files) one on a 100 TB
    table; files written from range/Z-order-clustered data give the
    tightest ranges and the deepest pruning. Falls back to the full
    rewrite when any live file lacks key stats."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType

    table_dir = Path(path)
    replayed = _replay_log(table_dir, return_state=True)
    live, schema_string, part_cols, _, repl_state = replayed
    config = dict((repl_state.get("metadata") or {}).get("configuration") or {})
    schema_json = json.loads(schema_string)
    stored = StructType.fromJson(schema_json)
    data_cols = [f.name for f in stored]
    # input validation (key, change-set shape, id-mode refusal inside
    # mapping_renames) runs BEFORE the row-tracking materialization
    # commit below: a refused MERGE must leave no commit behind
    # (review r11 pass 3)
    if key not in data_cols:
        raise ValueError(f"key {key!r} not in table columns {data_cols}")
    key_type = stored[key].dataType
    # column-mapped tables record stats under PHYSICAL names
    phys_key = {log: phys for phys, log in
                mapping_renames(schema_json, config).items()}.get(key, key)
    ch = changes.select(
        F.col(key).alias("__k"),
        F.col(op_col).alias("__op"),
        *[F.col(c).alias(f"__c_{c}") for c in data_cols if c != key],
    )
    _check_cdc_changes(ch, op_col)
    rt = None
    if _row_tracking_active(repl_state):
        # ROW TRACKING (round 11): every surviving row of the rewritten
        # files carries its materialized _row_id — carried rows keep id
        # AND commit version, updated rows keep id with a NULL version
        # (reads back as this commit's), inserts materialize NULL id
        # (fresh via the new add's baseRowId + position). Names resolve
        # from the replayed config (steady state), else one metaData
        # commit + re-replay.
        rt, replayed = _rt_materialized_names(path, replayed)
        live, schema_string, part_cols, _, repl_state = replayed
        config = dict(
            (repl_state.get("metadata") or {}).get("configuration") or {}
        )
        schema_json = json.loads(schema_string)

    remove_paths: list[str] | None = None
    if prune_files and live:
        ranges = []
        for stored_path, add in live.items():
            st = json.loads(add.get("stats") or "{}")
            lo = st.get("minValues", {}).get(phys_key)
            hi = st.get("maxValues", {}).get(phys_key)
            if lo is None or hi is None:
                ranges = None  # a file without key stats: cannot prune safely
                break
            ranges.append((stored_path, lo, hi))
        if ranges is not None:
            ranges_df = spark.createDataFrame(
                ranges,
                StructType(
                    [
                        StructField("__path", StringType()),
                        StructField("__lo", key_type),
                        StructField("__hi", key_type),
                    ]
                ),
            )
            hits = (
                changes.select(F.col(key).alias("__k"))
                .where(F.col("__k").isNotNull())
                .distinct()
                .join(
                    F.broadcast(ranges_df),
                    (F.col("__k") >= F.col("__lo")) & (F.col("__k") <= F.col("__hi")),
                )
                .select("__path")
                .distinct()
            )
            remove_paths = sorted(r["__path"] for r in hits.collect())

    if remove_paths is None:
        if rt:
            target = _lineage_scan(
                spark, table_dir, live, sorted(live), schema_json, config,
                rt[0], rt[1],
            )
        else:
            target = read_delta_snapshot(spark, path)
        mode, removes = "overwrite", None
    else:
        # _logical_scan applies any deletion vectors on the pruned files
        # (so a MERGE rewrite can never resurrect DV-deleted rows) AND
        # resolves column-mapped files physical->logical — scanning a
        # renamed column under its logical name would read all-null and
        # the replace commit would PERSIST those nulls
        if rt:
            target = _lineage_scan(
                spark, table_dir, live, remove_paths, schema_json, config,
                rt[0], rt[1],
            )
        else:
            target = _logical_scan(
                spark, table_dir, live, remove_paths, schema_json, config
            )
        mode, removes = "replace", remove_paths

    joined = target.join(ch, target[key] == ch["__k"], "full_outer")

    def out_col(c):
        if c == key:
            return F.coalesce(target[key], F.col("__k")).alias(key)
        return (
            F.when(F.col("__op") == "u", F.col(f"__c_{c}"))
            .otherwise(target[c])
            .alias(c)
        )

    rt_cols = []
    if rt:
        rt_cols = [
            # carried AND updated rows keep the target's id; inserts
            # (target side null) materialize NULL and mint fresh ids
            target["_row_id"].alias(rt[0]),
            # carried rows keep their commit version; updated rows reset
            # to NULL (reads back as this commit's version)
            F.when(F.col("__op") == "u", F.lit(None).cast("long"))
            .otherwise(target["_row_commit_version"])
            .alias(rt[1]),
        ]
    merged = (
        joined
        # WHEN MATCHED AND op='d' THEN DELETE; a delete for a missing key is
        # a no-op (also dropped here)
        .where(~F.coalesce(F.col("__op") == "d", F.lit(False)))
        # output columns in the TABLE's declared order (not key-first) so
        # the commit's order-sensitive schema check accepts any key position
        .select(*[out_col(c) for c in data_cols], *rt_cols)
    )
    cdc_df = None
    if _cdf_enabled(config):
        # exact row-level MERGE changes for the CDF sidecar: matched
        # deletes (pre-image), matched updates (pre + post image pair),
        # unmatched inserts. Rows merely REWRITTEN by the replace commit
        # (carried, unchanged) are NOT changes — the whole point of
        # sidecars over add/remove derivation, which would report every
        # rewritten row as delete+insert.
        matched = joined.where(target[key].isNotNull() & F.col("__k").isNotNull())
        pre_cols = [target[c].alias(c) for c in data_cols]
        dels = matched.where(F.col("__op") == "d").select(*pre_cols).withColumn(
            "_change_type", F.lit("delete")
        )
        pre = matched.where(F.col("__op") == "u").select(*pre_cols).withColumn(
            "_change_type", F.lit("update_preimage")
        )
        post = matched.where(F.col("__op") == "u").select(
            *[out_col(c) for c in data_cols]
        ).withColumn("_change_type", F.lit("update_postimage"))
        ins = joined.where(
            target[key].isNull() & (F.col("__op") == "u")
        ).select(*[out_col(c) for c in data_cols]).withColumn(
            "_change_type", F.lit("insert")
        )
        cdc_df = dels.unionByName(pre).unionByName(post).unionByName(ins)
        cdc_df = cdc_df.cache()
        if cdc_df.count() == 0:
            # a MERGE that changes NOTHING must not commit: the pruned
            # rewrite would re-add identical rows, and with an EMPTY cdc
            # set the partitioned sidecar write stages zero files, so
            # table_changes would fall back to derivation and report
            # every carried row as a spurious delete+insert
            cdc_df.unpersist()
            return {
                "version": None, "pruned": remove_paths is not None,
                "note": "no-op merge: change set matched nothing",
            }
    summary = commit_delta(
        merged, path, mode=mode, remove_paths=removes, cdc_df=cdc_df,
        operation="MERGE", _rt_materialized=rt,
    )
    if cdc_df is not None:
        cdc_df.unpersist()
    summary["pruned"] = remove_paths is not None
    if remove_paths is not None:
        summary["files_rewritten"] = len(remove_paths)
        summary["files_kept"] = len(live) - len(remove_paths)
    return summary


def _backfill_stats_via_count(
    spark, table_dir: Path, no_stats: list, actions: list[dict]
) -> int:
    """Fill ``numRecords``-only stats for add actions whose parquet
    footers pyarrow cannot parse (e.g. the VARIANT logical type): ONE
    Spark count scan over exactly those files, keyed by the SAME
    decoded-path convention as every other file join in this module
    (``_resolved_add_path`` vs ``decoded_file_path`` — never
    ``Path.resolve()``, which would diverge under symlinked roots).
    Genuinely corrupt files fail THIS scan loudly, so a commit never
    publishes them. Absent groups are empty files (the scan covers the
    exact list). Returns the total rows backfilled."""
    from pyspark.sql import functions as F

    from evolution_spark.io.scan_filters import decoded_file_path

    by_path = {
        r.p: r.n
        for r in parquet_files(spark, [str(p) for p in no_stats])
        .groupBy(decoded_file_path("_metadata.file_path").alias("p"))
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # absolutize WITHOUT resolving symlinks (Spark qualifies the given
    # path verbatim; resolve() diverges under symlinked roots) so
    # RELATIVE table paths key correctly too
    abs_root = Path(os.path.abspath(table_dir))
    added = 0
    consumed: set[str] = set()
    for a in actions:
        if "add" not in a or "stats" in a["add"]:
            continue
        key = _resolved_add_path(abs_root, a["add"]["path"])
        n = int(by_path.get(key, 0))
        consumed.add(key)
        a["add"]["stats"] = json.dumps({"numRecords": n})
        added += n
    stray = set(by_path) - consumed
    if stray:
        # any scan group no action consumed means the keying diverged —
        # fail loudly instead of publishing silent numRecords=0 stats
        raise RuntimeError(
            f"stats count fallback keying mismatch: scan groups {sorted(stray)[:3]}"
            " were not matched by any add action — refusing to publish"
        )
    return added


def _collect_staged_adds(
    stage: Path, table_dir: Path, version: int, now_ms: int,
    data_change: bool, spark=None,
) -> tuple[list[dict], int, int]:
    """Move a completed staged write's part files into the table dir and
    return their add actions — shared by every commit that adds files
    (write_delta_snapshot's version 0, commit_delta, update_delta_rows,
    the streaming sink).

    Vacuum-race guard: a commit stalled long enough for a concurrent
    reclaim_stale_staging to rmtree the staging dir must ABORT, not
    publish with removes but no adds (silent row loss). The dir-existence
    check is config-independent (a _SUCCESS check would false-abort
    healthy writes under marksuccessfuljobs=false); files deleted mid-move
    still fail loudly via os.replace."""
    import pyarrow.parquet as pq

    if not stage.exists():
        raise RuntimeError(
            f"staged write output missing at {stage} — the staging dir "
            "was reclaimed (or the write never completed); aborting "
            "the commit instead of publishing without its add actions"
        )
    actions: list[dict] = []
    total_rows = 0
    n_files = 0
    no_stats: list[Path] = []
    for src in sorted(stage.rglob("*.parquet")):
        rel = src.relative_to(stage)
        # version-unique physical name: appended files can never collide
        # with a prior commit's part files
        dest_rel = rel.parent / f"part-{version:05d}-{uuid.uuid4().hex}.parquet"
        dest = table_dir / dest_rel
        dest.parent.mkdir(parents=True, exist_ok=True)
        os.replace(src, dest)
        try:
            stats = _file_stats(pq.ParquetFile(dest))
        except Exception:
            # pyarrow cannot parse footers carrying logical types newer
            # than its thrift schema (e.g. VARIANT) — fall back to a
            # Spark-side per-file count below; min/max stats are simply
            # absent (spec-legal; skipping keeps such files)
            no_stats.append(dest)
            stats = None
        if stats is not None:
            total_rows += stats["numRecords"]
        n_files += 1
        values = {
            k: _partition_value(v)
            for part in dest_rel.parts[:-1]
            if "=" in part
            for k, _, v in [part.partition("=")]
        }
        add = {
            "path": quote(dest_rel.as_posix()),
            "partitionValues": values,
            "size": dest.stat().st_size,
            "modificationTime": now_ms,
            "dataChange": data_change,
        }
        if stats is not None:
            add["stats"] = json.dumps(stats)
        actions.append({"add": add})
    if no_stats:
        if spark is None:
            raise RuntimeError(
                f"{len(no_stats)} staged files have footers pyarrow "
                "cannot parse and no SparkSession was provided for the "
                "count fallback — refusing to publish adds without "
                "numRecords"
            )
        total_rows += _backfill_stats_via_count(
            spark, table_dir, no_stats, actions
        )
    return actions, n_files, total_rows


def _cdf_enabled(config: dict) -> bool:
    """True when ``delta.enableChangeDataFeed`` is set — the spec's signal
    that DML commits must materialize their row-level changes as
    ``_change_data`` sidecar files (cdc actions) instead of leaving
    readers to derive them from add/remove diffs."""
    return str(config.get("delta.enableChangeDataFeed", "")).lower() == "true"


def _stage_cdc_actions(
    cdc_df: DataFrame,
    table_dir: Path,
    version: int,
    schema_json: dict,
    config: dict,
    part_cols: list[str],
    now_ms: int,
) -> list[dict]:
    """Write a change DataFrame (table columns + ``_change_type``) as CDF
    SIDECAR files under ``_change_data/`` and return the spec's ``cdc``
    actions for the publishing commit (PROTOCOL.md 'Add CDC File'):
    hive-partitioned like the data files (``part_cols`` are the PHYSICAL
    partition names), physical column names on mapped tables,
    ``dataChange: false`` (the cdc files describe the change, they are
    not table data). The write is a normal distributed stage-and-move —
    driver work stays one action per file."""
    from pyspark.sql import functions as F

    # same recursive physicalize as the data files (struct-cast rule,
    # shared via _physicalize_cols): sidecars written under flat
    # top-level renames would store nested INNER fields under logical
    # names, which every mapped reader then resolves as null
    out = cdc_df.select(
        *_physicalize_cols(schema_json, config),
        F.col("_change_type").cast("string").alias("_change_type"),
    )
    stage = table_dir / f"_staging_cdc_v{version}-{uuid.uuid4().hex}"
    writer = out.write.mode("error")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    actions: list[dict] = []
    try:
        writer.parquet(str(stage))
        if not stage.exists():
            # same vacuum-race guard as _collect_staged_adds: a reclaimed
            # staging dir must abort the commit, not publish a CDF commit
            # missing its change files
            raise RuntimeError(
                f"staged CDF output missing at {stage} — aborting the "
                "commit instead of publishing without its cdc actions"
            )
        for src in sorted(stage.rglob("*.parquet")):
            rel = src.relative_to(stage)
            dest_rel = (
                Path("_change_data") / rel.parent
                / f"cdc-{version:05d}-{uuid.uuid4().hex}.parquet"
            )
            dest = table_dir / dest_rel
            dest.parent.mkdir(parents=True, exist_ok=True)
            os.replace(src, dest)
            values = {
                k: _partition_value(v)
                for part in rel.parent.parts
                if "=" in part
                for k, _, v in [part.partition("=")]
            }
            actions.append({"cdc": {
                "path": quote(dest_rel.as_posix()),
                "partitionValues": values,
                "size": dest.stat().st_size,
                "dataChange": False,
            }})
    finally:
        if stage.exists():
            shutil.rmtree(stage)
    return actions


def mapping_mode(config: dict) -> str:
    """Resolved ``delta.columnMapping.mode``: ``'none'`` | ``'name'`` |
    ``'id'``. Any other value is a protocol violation and refuses loudly —
    reading under an unknown resolution rule would be silently wrong."""
    mode = config.get("delta.columnMapping.mode", "none") or "none"
    if mode not in ("none", "name", "id"):
        raise DeltaProtocolError(
            f"delta.columnMapping.mode={mode!r} is not a spec mode "
            "(none/name/id) — refusing to read rather than resolving "
            "columns wrong"
        )
    return mode


def _physical_renames(schema_json: dict) -> dict[str, str]:
    """TOP-LEVEL physical -> logical rename map from each field's
    ``delta.columnMapping.physicalName`` metadata, shared by name AND id
    mode (the spec requires writers to stamp physicalName in both modes;
    stats and partitionValues are keyed by it regardless of mode).
    Nested struct fields map at the top level only — the delta_log scan
    paths resolve INNER physical names via ``_physical_field`` +
    positional struct casts; paths that cannot (the arrow-side
    DataSource, id-mode field-id schemas) refuse via
    ``_refuse_nested_mapping``."""
    renames: dict[str, str] = {}
    for f in schema_json["fields"]:
        meta = f.get("metadata") or {}
        phys = meta.get("delta.columnMapping.physicalName", f["name"])
        if phys != f["name"]:
            renames[phys] = f["name"]
    return renames


def _refuse_nested_mapping(schema_json: dict) -> None:
    """Loud refusal for the paths that resolve columns by FLAT rename
    maps (evolution_delta source's arrow reader, id-mode field-id
    schemas): a nested mapped struct would silently resolve inner fields
    wrong there."""
    for f in schema_json["fields"]:
        if "struct" in json.dumps(f["type"]):
            raise DeltaProtocolError(
                f"column mapping over nested struct field {f['name']!r} "
                "is not supported on this path (flat physical-name "
                "resolution) — read via read_delta_snapshot/table_changes"
            )


def _physical_field(f: dict) -> dict:
    """Recursively rename a schema field json to its PHYSICAL names at
    every nesting level (structs, array elements, map values) — what the
    parquet files of a name-mode mapped table store."""
    meta = f.get("metadata") or {}
    phys = meta.get("delta.columnMapping.physicalName", f["name"])

    def walk(t):
        if isinstance(t, dict):
            if t.get("type") == "struct":
                return {
                    "type": "struct",
                    "fields": [_physical_field(sf) for sf in t["fields"]],
                }
            if t.get("type") == "array":
                return dict(t, elementType=walk(t["elementType"]))
            if t.get("type") == "map":
                # map KEYS can be structs too (rare but spec-legal)
                return dict(t, keyType=walk(t["keyType"]),
                            valueType=walk(t["valueType"]))
        return t

    return dict(f, name=phys, type=walk(f["type"]))


def _nullable_everywhere(f: dict) -> dict:
    """Copy of a schema field json with ``nullable: true`` at every
    nesting level — cast TARGETS must not demand non-null struct members
    (Spark refuses nullable->non-null struct casts, and nullability is
    not part of the rename semantics anyway)."""
    def walk(t):
        if isinstance(t, dict):
            if t.get("type") == "struct":
                return {
                    "type": "struct",
                    "fields": [_nullable_everywhere(sf) for sf in t["fields"]],
                }
            if t.get("type") == "array":
                return dict(t, elementType=walk(t["elementType"]),
                            containsNull=True)
            if t.get("type") == "map":
                return dict(t, keyType=walk(t["keyType"]),
                            valueType=walk(t["valueType"]),
                            valueContainsNull=True)
        return t

    return dict(f, nullable=True, type=walk(f["type"]))


def _logical_select_cols(schema_json: dict, phys_of: dict[str, str]):
    """Alias-back projection for a name-mode mapped scan: flat fields get
    a plain alias; struct-bearing fields get a positional CAST to the
    logical type — struct casts rename fields at every depth and keep
    null structs null (unlike a rebuilt F.struct, which would turn a
    NULL struct into a struct of nulls)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    cols = []
    for f in schema_json["fields"]:
        phys = phys_of.get(f["name"], f["name"])
        c = F.col(phys)
        if "struct" in json.dumps(f["type"]):
            logical_type = StructType.fromJson(
                {"type": "struct", "fields": [_nullable_everywhere(f)]}
            ).fields[0].dataType
            c = c.cast(logical_type)
        cols.append(c.alias(f["name"]))
    return cols


def mapping_renames(schema_json: dict, config: dict) -> dict[str, str]:
    """physical -> logical rename map when ``delta.columnMapping.mode`` is
    ``name`` (empty when mapping is off). The shared refusal surface for
    the unsupported shapes — nested mapped structs, and id mode on WRITE
    paths (reads resolve id mode by parquet field id via
    ``field_id_scan_schema``; writes into id-mode tables would need field
    ids stamped into every footer, which this writer does not do yet) —
    used by read_delta_snapshot, table_changes, and the evolution_delta
    source so no path can resolve columns differently from the others."""
    mode = mapping_mode(config)
    if mode == "none":
        return {}
    if mode == "id":
        raise DeltaProtocolError(
            "delta.columnMapping.mode='id' is read-only in this engine "
            "(field-id resolution via read_delta_snapshot/table_changes/"
            "evolution_delta source); writing into an id-mode table is "
            "not implemented — refusing rather than committing files "
            "whose footers lack the field ids every id-mode reader needs"
        )
    return _physical_renames(schema_json)


# StructField metadata key Spark's parquet reader uses to resolve columns
# by field id when spark.sql.parquet.fieldId.read.enabled is on
# (SPARK-38094 — the mechanism Delta id-mode resolution is defined
# against: footers carry field ids equal to delta.columnMapping.id).
FIELD_ID_METADATA_KEY = "parquet.field.id"


def field_id_scan_schema(schema_json: dict, partition_columns: list[str]):
    """Scan schema for an id-mode table: data fields keep their LOGICAL
    names and carry ``parquet.field.id`` metadata equal to
    ``delta.columnMapping.id``, so Spark's field-id reader resolves them
    from the footers no matter what physical names each file stores (the
    whole point of id mode: names may differ per file). Partition fields
    are NOT in the footers — they resolve from directory names, which a
    mapped writer lays out under PHYSICAL names — so they keep the
    physical name in the scan schema and alias back afterwards.

    Returns ``(scan_schema, select_aliases)`` where ``select_aliases`` is
    the ordered list of ``(scan_name, logical_name)`` restoring the
    declared column order. Caller must enable
    ``spark.sql.parquet.fieldId.read.enabled`` on the session.
    """
    from pyspark.sql.types import StructType

    _refuse_nested_mapping(schema_json)  # field ids resolve flat only
    part_set = set(partition_columns or [])
    scan_fields: list[dict] = []
    aliases: list[tuple[str, str]] = []
    for f in schema_json["fields"]:
        meta = f.get("metadata") or {}
        phys = meta.get("delta.columnMapping.physicalName", f["name"])
        fid = meta.get("delta.columnMapping.id")
        # metaData.partitionColumns is keyed by PHYSICAL name on mapped
        # tables (same rule as add.partitionValues); match either name
        # defensively so a writer that stored logical names still works
        if phys in part_set or f["name"] in part_set:
            scan_fields.append(
                dict(f, name=phys, metadata={})
            )
            aliases.append((phys, f["name"]))
            continue
        if fid is None:
            raise DeltaProtocolError(
                f"id-mode table field {f['name']!r} has no "
                "delta.columnMapping.id — cannot resolve by field id"
            )
        scan_fields.append(
            dict(f, name=f["name"], metadata={FIELD_ID_METADATA_KEY: int(fid)})
        )
        aliases.append((f["name"], f["name"]))
    schema = StructType.fromJson({"type": "struct", "fields": scan_fields})
    return schema, aliases


def table_changes(
    spark, path: str, from_version: int, to_version: int | None = None
) -> DataFrame:
    """Change-data-feed-style reader: the row-level changes each commit in
    ``[from_version, to_version]`` made, as the table columns plus
    ``_change_type`` (``'insert'``/``'delete'``, plus
    ``'update_preimage'``/``'update_postimage'`` from sidecars) and
    ``_commit_version`` — what a downstream incremental consumer needs to
    stay in sync without re-reading the table. Commits that carry ``cdc``
    actions (written by this engine's DML under
    ``delta.enableChangeDataFeed``, or by any foreign CDF writer) are
    read from their ``_change_data`` SIDECAR files — exact row-level
    changes, including the pre/post-image pairing derivation cannot
    reconstruct; all other commits are derived from the log:

    - an add of a NEW file (dataChange=true) -> inserts of its rows minus
      its DV positions;
    - a remove+re-add of the SAME file with a different DV (the
      merge-on-read DELETE shape) -> deletes at the NEW-minus-OLD bitmap
      positions (and inserts for restored positions, if a writer ever
      shrinks a DV);
    - a remove without re-add (overwrite/materializing rewrite) -> deletes
      of the file's previously-live rows;
    - dataChange=false actions (OPTIMIZE) produce NOTHING — layout
      rewrites are invisible to the feed, exactly why commit_delta stamps
      them.

    Scale: the log parse and DV decodes are driver-side metadata; row
    recovery is a distributed scan of ONLY the files the change range
    touches, with position filters as broadcast (inner/anti) joins on the
    scan's file/row-index metadata. UPDATE appears as delete+insert (this
    writer never updates in place), matching the CDF fallback semantics
    for non-CDF tables."""
    from urllib.parse import unquote

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from evolution_spark.io.deletion_vectors import read_dv_positions
    from evolution_spark.io.scan_filters import decoded_file_path

    table_dir = Path(path)
    log_dir = table_dir / "_delta_log"
    versions = _log_versions(log_dir)
    if not versions:
        raise FileNotFoundError(f"no Delta log at {log_dir}")
    hi = versions[-1] if to_version is None else to_version
    if from_version not in versions or hi not in versions:
        raise ValueError(
            f"version range [{from_version}, {hi}] not within log {versions}"
        )

    live: dict[str, dict] = {}
    state: dict = {}
    root = table_dir.resolve()

    def positions_of(add: dict | None) -> set[int]:
        dv = (add or {}).get("deletionVector")
        if not dv:
            return set()
        return {int(x) for x in read_dv_positions(dv, table_dir)}

    # (abs_file, version, excluded_positions) -> whole-file inserts
    whole_inserts: list[tuple[str, int, set[int]]] = []
    whole_deletes: list[tuple[str, int, set[int]]] = []  # excluded = old DV
    # (abs_file, pos, version, change_type) -> positional rows
    positional: list[tuple[str, int, int, str]] = []
    # (abs cdc file, version): commits carrying cdc actions are read from
    # their SIDECARS (spec: "readers should use cdc actions when
    # available"), never ALSO derived — that would double-count
    cdc_files: list[tuple[str, int]] = []
    # absolute (clone-referenced) files resolve partition columns from
    # the add's partitionValues, not dirs — keep them per resolved path
    pv_abs: dict[str, dict] = {}

    for v in versions:
        if v > hi:
            break
        acts = [
            json.loads(line)
            for line in (log_dir / f"{v:020d}.json").read_text().splitlines()
        ]
        cdcs = [a["cdc"] for a in acts if "cdc" in a]
        if cdcs and v >= from_version:
            for c in cdcs:
                cdc_files.append(
                    (str(root / unquote(c["path"])), v)
                )
            for a in acts:
                _fold_action(a, live, state)
            continue
        if v >= from_version:
            adds = {a["add"]["path"]: a["add"] for a in acts
                    if "add" in a and a["add"].get("dataChange", True)}
            removes = {a["remove"]["path"]: a["remove"] for a in acts
                       if "remove" in a
                       and a["remove"].get("dataChange", True)}
            for p, add in adds.items():
                ap = _resolved_add_path(root, p)
                if _is_absolute_stored(p):
                    pv_abs[ap] = dict(add.get("partitionValues") or {})
                prev = live.get(p)
                if prev is not None and p in removes:
                    old_pos, new_pos = positions_of(prev), positions_of(add)
                    for pos in sorted(new_pos - old_pos):
                        positional.append((ap, pos, v, "delete"))
                    for pos in sorted(old_pos - new_pos):
                        positional.append((ap, pos, v, "insert"))
                else:
                    whole_inserts.append((ap, v, positions_of(add)))
            for p, rm in removes.items():
                if p in adds:
                    continue  # handled as a DV diff above
                prev = live.get(p)
                if prev is not None:
                    ap = _resolved_add_path(root, p)
                    if _is_absolute_stored(p):
                        pv_abs[ap] = dict(prev.get("partitionValues") or {})
                    whole_deletes.append((ap, v, positions_of(prev)))
        for a in acts:
            _fold_action(a, live, state)

    # the resolved protocol/configuration govern how the files are read —
    # same obligations as read_delta_snapshot (refuse unknown features;
    # resolve column-mapped tables under their PHYSICAL schema, aliasing
    # back to logical names at the end)
    _check_reader_protocol(state.get("protocol"), state.get("schema_string"))
    _validate_type_widening(state.get("schema_string"))
    config = dict((state.get("metadata") or {}).get("configuration") or {})
    schema_json = json.loads(state["schema_string"])
    mode = mapping_mode(config)
    if mode == "id":
        # same field-id resolution as read_delta_snapshot: data columns
        # by parquet.field.id (logical-named scan), partition columns by
        # physical directory name, aliased back in out_cols below
        scan_schema, id_aliases = field_id_scan_schema(
            schema_json, state.get("part_cols") or []
        )
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        # out_cols() resolves via phys_of: map logical -> scan name
        phys_of = {log: scan for scan, log in id_aliases}
    elif mode == "name":
        renames = mapping_renames(schema_json, config)  # physical -> logical
        phys_of = {log: phys for phys, log in renames.items()}
        scan_schema = StructType.fromJson({
            "type": "struct",
            "fields": [_physical_field(f) for f in schema_json["fields"]],
        })
    else:
        phys_of = {}
        scan_schema = StructType.fromJson(schema_json)
    logical_names = [f["name"] for f in schema_json["fields"]]

    parts: list[DataFrame] = []

    def scan(files: list[str]):
        # clone-referenced files live OUTSIDE the table root: they get
        # their own basePath-free scan with partition columns joined in
        # from partitionValues (same split as _scan_adds)
        prefix = str(root) + "/"
        under = [f for f in files if f.startswith(prefix)]
        outside = [f for f in files if not f.startswith(prefix)]
        cdf_cols = {
            "__cdf_fp": decoded_file_path(F.col("_metadata.file_path")),
            "__cdf_ri": F.col("_metadata.row_index"),
        }
        dfs = []
        if under:
            dfs.append(
                parquet_files(spark, under, scan_schema, base_path=str(root))
                .withColumns(cdf_cols)
            )
        if outside:
            part_keys = sorted(
                {k for f in outside for k in pv_abs.get(f, {})}
            )
            by_field = {f.name: f for f in scan_schema.fields}
            data_schema = StructType(
                [f for f in scan_schema.fields if f.name not in part_keys]
            )
            adf = parquet_files(spark, outside, data_schema).withColumns(cdf_cols)
            if part_keys:
                lookup = spark.createDataFrame(
                    [
                        (f, *[pv_abs.get(f, {}).get(k) for k in part_keys])
                        for f in outside
                    ],
                    schema=", ".join(
                        ["__pv_file string"]
                        + [f"`{k}` string" for k in part_keys]
                    ),
                )
                adf = adf.join(
                    F.broadcast(lookup),
                    adf["__cdf_fp"] == lookup["__pv_file"],
                    "inner",
                ).drop("__pv_file")
                adf = adf.withColumns({
                    k: F.col(k).cast(by_field[k].dataType) for k in part_keys
                })
            dfs.append(
                adf.select(
                    *[f.name for f in scan_schema.fields],
                    "__cdf_fp", "__cdf_ri",
                )
            )
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def out_cols():
        if mode == "name":
            # struct-bearing fields alias back via positional cast
            return _logical_select_cols(schema_json, phys_of)
        return [F.col(phys_of.get(n, n)).alias(n) for n in logical_names]

    def maybe_broadcast(df, n_rows: int):
        # metadata-sized in the common case; an overwrite of a huge table
        # can make the position set large — fall back to AQE's plan
        return F.broadcast(df) if n_rows <= 4_000_000 else df

    import pandas as pd

    for groups, ctype in ((whole_inserts, "insert"), (whole_deletes, "delete")):
        if not groups:
            continue
        df = scan(sorted({g[0] for g in groups}))
        vers = spark.createDataFrame(
            pd.DataFrame(
                [(g[0], g[1]) for g in groups],
                columns=["__cdf_file", "__cdf_ver"],
            ),
            schema="__cdf_file string, __cdf_ver long",
        )
        # exclusions are keyed by (file, pos, VERSION): a path removed and
        # later re-added within the range has one row-copy per version in
        # this frame, and each copy must only lose ITS version's DV
        # positions
        excluded_rows = [
            (g[0], int(pos), g[1]) for g in groups for pos in g[2]
        ]
        out = df.join(
            F.broadcast(vers), df["__cdf_fp"] == vers["__cdf_file"], "inner"
        )
        if excluded_rows:
            exc = spark.createDataFrame(
                pd.DataFrame(excluded_rows, columns=["file_path", "pos", "ver"]),
                schema="file_path string, pos long, ver long",
            )
            out = out.join(
                maybe_broadcast(exc, len(excluded_rows)),
                (out["__cdf_fp"] == exc["file_path"])
                & (out["__cdf_ri"] == exc["pos"])
                & (out["__cdf_ver"] == exc["ver"]),
                "left_anti",
            )
        parts.append(
            out.select(
                *out_cols(),
                F.lit(ctype).alias("_change_type"),
                F.col("__cdf_ver").alias("_commit_version"),
            )
        )

    if positional:
        pos_df = spark.createDataFrame(
            pd.DataFrame(
                positional,
                columns=["file_path", "pos", "__cdf_ver", "__cdf_type"],
            ),
            schema="file_path string, pos long, __cdf_ver long, __cdf_type string",
        )
        df = scan(sorted({p[0] for p in positional}))
        hit = df.join(
            maybe_broadcast(pos_df, len(positional)),
            (df["__cdf_fp"] == pos_df["file_path"])
            & (df["__cdf_ri"] == pos_df["pos"]),
            "inner",
        )
        parts.append(
            hit.select(
                *out_cols(),
                F.col("__cdf_type").alias("_change_type"),
                F.col("__cdf_ver").alias("_commit_version"),
            )
        )

    if cdc_files:
        # CDF SIDECAR leg: one scan of every cdc file in range (they carry
        # _change_type themselves — incl. update_preimage/postimage, which
        # derivation cannot reconstruct) + a broadcast file->version map
        import pandas as pd
        from pyspark.sql import types as T

        cdc_schema = StructType(
            list(scan_schema.fields)
            + [T.StructField("_change_type", T.StringType(), True)]
        )
        cdf = (
            parquet_files(spark, sorted({p for p, _ in cdc_files}), cdc_schema,
                          base_path=str(root / "_change_data"))
            .withColumn(
                "__cdf_fp", decoded_file_path(F.col("_metadata.file_path"))
            )
        )
        vmap = spark.createDataFrame(
            pd.DataFrame(cdc_files, columns=["__cdf_file", "__cdf_ver"]),
            schema="__cdf_file string, __cdf_ver long",
        )
        hit = cdf.join(
            F.broadcast(vmap), cdf["__cdf_fp"] == vmap["__cdf_file"], "inner"
        )
        parts.append(
            hit.select(
                *out_cols(),
                F.col("_change_type"),
                F.col("__cdf_ver").alias("_commit_version"),
            )
        )

    if not parts:
        empty = spark.createDataFrame([], StructType.fromJson(schema_json))
        return empty.withColumns({
            "_change_type": F.lit(None).cast("string"),
            "_commit_version": F.lit(None).cast("long"),
        }).where(F.lit(False))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _logical_scan(
    spark, table_dir: Path, live, kept, schema_json, config,
    with_lineage: bool = False,
):
    """``_scan_adds`` under column mapping: scan with the PHYSICAL schema
    (what the parquet files store) and rename back to logical — the
    projection keeps ``_metadata`` resolvable, so DML position scans work
    on mapped tables. Id mode resolves by parquet field id instead (same
    rule as read_delta_snapshot). No-op when mapping is off."""
    from pyspark.sql.types import StructType

    mode = mapping_mode(config)
    if mode == "id":
        # partition fields resolve by directory (physical) name: derive
        # the physical partition keys from the live adds' partitionValues
        part_keys = sorted(
            {k for p in kept for k in (live[p].get("partitionValues") or {})}
        )
        id_schema, aliases = field_id_scan_schema(schema_json, part_keys)
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        df = _scan_adds(
            spark, table_dir, live, kept, id_schema, with_lineage=with_lineage
        )
        from pyspark.sql import functions as F

        return df.select(
            *[F.col(scan).alias(log) for scan, log in aliases],
            *([F.col("__src_fp"), F.col("__src_ri"), F.col("__src_bn")]
              if with_lineage else []),
        )
    if mode != "name":
        return _scan_adds(
            spark, table_dir, live, kept, StructType.fromJson(schema_json),
            with_lineage=with_lineage,
        )
    renames = mapping_renames(schema_json, config)  # physical -> logical
    phys_of = {log: phys for phys, log in renames.items()}
    phys_fields = [_physical_field(f) for f in schema_json["fields"]]
    df = _scan_adds(
        spark, table_dir, live, kept,
        StructType.fromJson({"type": "struct", "fields": phys_fields}),
        with_lineage=with_lineage,
    )
    from pyspark.sql import functions as F

    # ONE atomic projection (not sequential renames: a physical name may
    # equal another field's logical name on upgraded-in-place tables);
    # _metadata stays resolvable through a plain alias select
    return df.select(
        *_logical_select_cols(schema_json, phys_of),
        *([F.col("__src_fp"), F.col("__src_ri"), F.col("__src_bn")]
          if with_lineage else []),
    )


def _physicalize_cols(schema_json: dict, config: dict):
    """Logical -> PHYSICAL projection columns for writing into a mapped
    table: flat alias for flat fields, a positional cast to the
    recursively-physical type for struct-bearing ones (one atomic
    projection, same collision reasoning as _logical_scan). Identity
    projection when mapping is off; shared by ``_physicalize`` and the
    CDF sidecar writer so data files and sidecars can never physicalize
    differently."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    if mapping_mode(config) != "name":
        mapping_renames(schema_json, config)  # id mode: shared refusal
        return [F.col(f["name"]) for f in schema_json["fields"]]
    cols = []
    for f in schema_json["fields"]:
        pf = _physical_field(f)
        c = F.col(f["name"])
        if "struct" in json.dumps(f["type"]):
            c = c.cast(
                StructType.fromJson(
                    {"type": "struct",
                     "fields": [_nullable_everywhere(pf)]}
                ).fields[0].dataType
            )
        cols.append(c.alias(pf["name"]))
    return cols


def _physicalize(df, schema_json: dict, config: dict):
    """Rename a logical-schema DataFrame to PHYSICAL column names for
    writing into a column-mapped table (files must store physical names
    or every mapped reader resolves the new files as all-null) — the
    inverse of ``_logical_select_cols``. No-op when mapping is off."""
    if mapping_mode(config) != "none":
        mapping_renames(schema_json, config)  # id mode: shared refusal
    if mapping_mode(config) != "name":
        return df
    return df.select(*_physicalize_cols(schema_json, config))


def _physicalize_with_extras(df, schema_json: dict, config: dict, extras):
    """``_physicalize`` for a frame that carries trailing NON-SCHEMA
    columns (materialized row-tracking ids): the extras are ALREADY
    physical names (PROTOCOL.md stores them in the table configuration,
    outside the schema) and ride along unrenamed."""
    if not extras:
        return _physicalize(df, schema_json, config)
    if mapping_mode(config) != "name":
        mapping_renames(schema_json, config)  # id mode: shared refusal
        return df
    from pyspark.sql import functions as F

    return df.select(
        *_physicalize_cols(schema_json, config),
        *[F.col(e) for e in extras],
    )


def _mor_match_positions(spark, table_dir: Path, live, schema_json, config, predicate):
    """Shared DELETE/UPDATE front half: the DV-filtered matched-position
    scan (mapping-aware: predicates are over LOGICAL names, files store
    physical ones). Returns {abs_file_path: [row_positions]} ({} when no
    match)."""
    from pyspark.sql import functions as F

    from evolution_spark.io.scan_filters import decoded_file_path

    scan = _logical_scan(
        spark, table_dir, live, sorted(live), schema_json, config,
        with_lineage=True,
    )
    matched = (
        scan.where(predicate)
        .select(
            F.col("__src_fp").alias("fp"),
            F.col("__src_ri").alias("ri"),
        )
        .collect()
    )
    by_abs: dict[str, list[int]] = {}
    for r in matched:
        by_abs.setdefault(r.fp, []).append(r.ri)
    return by_abs


def _mor_guards(repl_state, operation: str):
    """Protocol + appendOnly + id-mode guards shared by DELETE and
    UPDATE. The id-mode check runs UP FRONT so a refused DML can never
    leave partial artifacts (DV bitmap files) on disk before the shared
    refusal surface would have fired later in the commit."""
    proto = repl_state.get("protocol") or dict(PROTOCOL)
    _check_writer_protocol(proto, repl_state.get("schema_string"))
    config = dict((repl_state.get("metadata") or {}).get("configuration") or {})
    if mapping_mode(config) == "id":
        raise DeltaProtocolError(
            f"delta.columnMapping.mode='id' is read-only in this engine; "
            f"{operation} would commit actions an id-mode writer must "
            "stamp field ids for — refusing up front"
        )
    if str(config.get("delta.appendOnly", "")).lower() == "true":
        raise DeltaProtocolError(
            f"table sets delta.appendOnly=true; {operation} emits "
            "dataChange=true removes — refusing to violate the append-only "
            "contract"
        )
    return proto


def _cdf_protocol_upgrade(proto: dict) -> dict | None:
    """Same-commit protocol upgrade declaring the ``changeDataFeed``
    writer feature (spec feature-activation rule: a table with
    delta.enableChangeDataFeed set obliges writers to produce cdc
    sidecars, and the protocol must say so or a spec-conformant foreign
    writer will skip them). Writer-side feature only — minReaderVersion
    is untouched unless the table is already on reader v3."""
    v_w = int(proto.get("minWriterVersion", 2))
    feats_w = set(proto.get("writerFeatures") or [])
    if v_w >= 7 and "changeDataFeed" in feats_w:
        return None
    legacy_w = _legacy_writer_features(v_w)
    out = dict(proto)
    out["minWriterVersion"] = 7
    out["writerFeatures"] = sorted(feats_w | legacy_w | {"changeDataFeed"})
    return {"protocol": out}


def _dv_protocol_upgrade(proto: dict) -> dict | None:
    """The same-commit protocol-upgrade action activating deletionVectors
    on a table that predates it (None when already active)."""
    v_r = int(proto.get("minReaderVersion", 1))
    v_w = int(proto.get("minWriterVersion", 2))
    feats_r = set(proto.get("readerFeatures") or [])
    feats_w = set(proto.get("writerFeatures") or [])
    if v_r >= 3 and v_w >= 7 and "deletionVectors" in feats_r:
        return None
    # v3/v7 feature lists must name every active legacy feature too
    legacy_w = _legacy_writer_features(v_w)
    return {"protocol": {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(feats_r | {"deletionVectors"}),
        "writerFeatures": sorted(feats_w | legacy_w | {"deletionVectors"}),
    }}


def _legacy_writer_features(v_w: int) -> set[str]:
    """The spec's legacy writer-version -> feature mapping, applied when a
    pre-v7 protocol upgrades to v7 feature lists: every obligation the old
    version number implied must be carried as an explicit feature, or a
    spec-conformant v7 writer would stop honoring it (e.g. dropping
    checkConstraints lets foreign writers commit violating rows)."""
    out: set[str] = set()
    if 2 <= v_w < 7:
        out |= {"appendOnly", "invariants"}
    if 3 <= v_w < 7:
        out |= {"checkConstraints"}
    if 4 <= v_w < 7:
        out |= {"changeDataFeed", "generatedColumns"}
    if 5 <= v_w < 7:
        out |= {"columnMapping"}
    if 6 <= v_w < 7:
        out |= {"identityColumns"}
    return out


def _schema_has_ntz(schema_json: dict) -> bool:
    """True when a Delta schema (parsed JSON) carries ``timestamp_ntz`` in
    a TYPE position at any nesting depth — the trigger for the spec's
    timestampNtz feature-activation rule (PROTOCOL.md 'Clock/session
    independent timestamps': a schema containing the type obliges the
    protocol to declare the feature in BOTH readerFeatures and
    writerFeatures). Walks types only — a field NAMED 'timestamp_ntz' or
    the string appearing in metadata/comments must not force a protocol
    upgrade that locks out v1 readers."""
    def type_has(t) -> bool:
        if isinstance(t, str):
            return t == "timestamp_ntz"
        if isinstance(t, dict):
            kind = t.get("type")
            if kind == "struct":
                return any(type_has(f.get("type")) for f in t.get("fields", []))
            if kind == "array":
                return type_has(t.get("elementType"))
            if kind == "map":
                return type_has(t.get("keyType")) or type_has(t.get("valueType"))
        return False

    return any(type_has(f.get("type")) for f in schema_json.get("fields", []))


def _ntz_protocol_upgrade(proto: dict, schema_string: str) -> dict | None:
    """Same-commit protocol-upgrade action declaring ``timestampNtz`` when
    the schema carries the type (None when already declared or the schema
    has no NTZ column). Both a reader and a writer feature per the spec —
    a reader without it would decode the parquet INT64 as a UTC-adjusted
    timestamp and shift every value by the session zone offset."""
    if not _schema_has_ntz(json.loads(schema_string)):
        return None
    v_r = int(proto.get("minReaderVersion", 1))
    v_w = int(proto.get("minWriterVersion", 2))
    feats_r = set(proto.get("readerFeatures") or [])
    feats_w = set(proto.get("writerFeatures") or [])
    if (v_r >= 3 and v_w >= 7 and "timestampNtz" in feats_r
            and "timestampNtz" in feats_w):
        return None
    legacy_w = _legacy_writer_features(v_w)
    legacy_r = {"columnMapping"} if v_r == 2 else set()
    return {"protocol": {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(feats_r | legacy_r | {"timestampNtz"}),
        "writerFeatures": sorted(feats_w | legacy_w | {"timestampNtz"}),
    }}


def _schema_has_variant(schema_json: dict) -> bool:
    """True when the schema carries ``variant`` in a TYPE position at any
    depth — the activation trigger for the variantType feature (same walk
    discipline as ``_schema_has_ntz``: a field NAMED 'variant' must not
    force an upgrade)."""
    def type_has(t) -> bool:
        if isinstance(t, str):
            return t == "variant"
        if isinstance(t, dict):
            kind = t.get("type")
            if kind == "struct":
                return any(type_has(f.get("type")) for f in t.get("fields", []))
            if kind == "array":
                return type_has(t.get("elementType"))
            if kind == "map":
                return type_has(t.get("keyType")) or type_has(t.get("valueType"))
        return False

    return any(type_has(f.get("type")) for f in schema_json.get("fields", []))


def _variant_protocol_upgrade(proto: dict, schema_string: str) -> dict | None:
    """Same-commit protocol-upgrade action declaring ``variantType`` when
    the schema carries the type (PROTOCOL.md 'Variant Data Type': reader
    AND writer feature — a reader without it would surface the physical
    value/metadata binary pair instead of the semi-structured value).
    Spark 4's VariantType maps 1:1 (schema json type 'variant'; parquet
    physical = the spec's value/metadata binary group)."""
    if not _schema_has_variant(json.loads(schema_string)):
        return None
    v_r = int(proto.get("minReaderVersion", 1))
    v_w = int(proto.get("minWriterVersion", 2))
    feats_r = set(proto.get("readerFeatures") or [])
    feats_w = set(proto.get("writerFeatures") or [])
    if (v_r >= 3 and v_w >= 7 and "variantType" in feats_r
            and "variantType" in feats_w):
        return None
    legacy_w = _legacy_writer_features(v_w)
    legacy_r = {"columnMapping"} if v_r == 2 else set()
    return {"protocol": {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(feats_r | legacy_r | {"variantType"}),
        "writerFeatures": sorted(feats_w | legacy_w | {"variantType"}),
    }}


def upgrade_delta_features(
    path: str, reader: list[str] | None = None, writer: list[str] | None = None
) -> dict:
    """Commit a protocol upgrade adding ``reader``/``writer`` feature names
    to the table (the ``ALTER TABLE ... SET TBLPROPERTIES
    ('delta.feature.X'='supported')`` shape). Refuses feature names this
    engine does not implement — upgrading a table to a feature we cannot
    honor would strand our own writer. Idempotent: returns without a
    commit when every requested feature is already declared."""
    want_r = set(reader or [])
    want_w = set(writer or [])
    bad = (want_r - SUPPORTED_READER_FEATURES) | (want_w - SUPPORTED_WRITER_FEATURES)
    if bad:
        raise DeltaProtocolError(
            f"cannot declare unimplemented features {sorted(bad)}; reader "
            f"set: {sorted(SUPPORTED_READER_FEATURES)}, writer set: "
            f"{sorted(SUPPORTED_WRITER_FEATURES)}"
        )
    table_dir = Path(path)
    _, _, _, latest, repl_state = _replay_log(table_dir, return_state=True)
    proto = repl_state.get("protocol") or dict(PROTOCOL)
    _check_writer_protocol(proto, repl_state.get("schema_string"))
    v_r = int(proto.get("minReaderVersion", 1))
    v_w = int(proto.get("minWriterVersion", 2))
    feats_r = set(proto.get("readerFeatures") or [])
    feats_w = set(proto.get("writerFeatures") or [])
    # reader-side obligations implied by the request (dual features land
    # in both sets) — computed up front so the idempotence check below
    # also covers writer-only upgrades on (1,7)/(2,7) protocols
    needed_r = want_r | (want_w & SUPPORTED_READER_FEATURES)
    if v_w >= 7 and want_w <= feats_w and (
        needed_r <= feats_r if v_r >= 3 else not needed_r
    ):
        return {"version": None, "note": "features already declared"}
    # v3/v7 feature lists must carry every active legacy feature forward
    legacy_w = _legacy_writer_features(v_w)
    legacy_r = {"columnMapping"} if v_r == 2 else set()
    # Writer-ONLY features (appendOnly, changeDataFeed, checkConstraints,
    # ...) must NOT raise minReaderVersion — the spec allows
    # minReaderVersion 1 with minWriterVersion 7, and locking
    # feature-less readers out needlessly strands them (ADVICE r09 low).
    if needed_r or v_r >= 3:
        new_proto = {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": sorted(feats_r | legacy_r | needed_r),
            "writerFeatures": sorted(feats_w | legacy_w | want_w | needed_r),
        }
    else:
        new_proto = {
            "minReaderVersion": v_r,
            "minWriterVersion": 7,
            "writerFeatures": sorted(feats_w | legacy_w | want_w),
        }
    version = latest + 1
    config = (repl_state.get("metadata") or {}).get("configuration")
    _publish_commit(table_dir, version, [{"protocol": new_proto}],
                    "UPGRADE PROTOCOL", config=config)
    return {"version": version, "protocol": new_proto}


def _dv_mark_actions(
    table_dir: Path, live: dict, root: Path, by_abs: dict, now_ms: int
) -> tuple[list[dict], int]:
    """remove/add action pairs marking ``by_abs`` positions deleted via
    union DV bitmaps; returns (actions, newly_deleted_row_count)."""
    from urllib.parse import unquote

    from evolution_spark.io.deletion_vectors import read_dv_positions, write_dv_file

    abs_of = {_resolved_add_path(root, p): p for p in live}
    actions: list[dict] = []
    deleted_rows = 0
    for abs_path, new_pos in sorted(by_abs.items()):
        stored = abs_of.get(abs_path)
        if stored is None:
            raise RuntimeError(
                f"matched file {abs_path} is not live in the table — "
                "concurrent rewrite during the scan; retry"
            )
        add = dict(live[stored])
        old_desc = add.get("deletionVector")
        old_pos = (
            {int(x) for x in read_dv_positions(old_desc, table_dir)}
            if old_desc
            else set()
        )
        new_set = {int(x) for x in new_pos}
        deleted_rows += len(new_set - old_pos)
        desc = write_dv_file(table_dir, sorted(new_set | old_pos))
        rm = {
            "path": stored,
            "deletionTimestamp": now_ms,
            "dataChange": True,
        }
        if old_desc:
            rm["deletionVector"] = old_desc
        actions.append({"remove": rm})
        add["deletionVector"] = desc
        add["modificationTime"] = now_ms
        add["dataChange"] = True
        actions.append({"add": add})
    return actions, deleted_rows


def _ict_enabled(config: dict | None) -> bool:
    return str((config or {}).get("delta.enableInCommitTimestamps", "")
               ).lower() == "true"


def _next_ict(table_dir: Path, version: int, config: dict | None) -> int | None:
    """IN-COMMIT TIMESTAMPS (PROTOCOL.md, the v7 ``inCommitTimestamp``
    writer feature): when ``delta.enableInCommitTimestamps`` is set,
    every commit MUST carry ``commitInfo.inCommitTimestamp`` strictly
    greater than the previous commit's — the spec's fix for file-mtime
    clock skew in timestamp time travel. Monotonicity source: the
    previous commit's stamped value (one metadata-sized JSON read),
    falling back to the enablement-timestamp property when retention
    truncated it. None when the table does not enable the feature."""
    if not _ict_enabled(config):
        return None
    prev = None
    # spec-conformant chains stamp EVERY commit, so version-1 resolves in
    # one read; walking further back only happens on foreign chains with
    # unstamped (e.g. protocol-only) commits
    for v in range(version - 1, -1, -1):
        prev_file = table_dir / "_delta_log" / f"{v:020d}.json"
        if not prev_file.exists():
            break  # retention-truncated: fall back to enablement property
        saw_commit_info = False
        for ln in prev_file.read_text().splitlines():
            a = json.loads(ln)
            if "commitInfo" in a:
                saw_commit_info = True
                prev = a["commitInfo"].get("inCommitTimestamp")
                break
        if prev is not None or saw_commit_info:
            # an unstamped commitInfo marks the pre-enablement era — stop
            # (walking the whole history per commit would be O(log) reads
            # on late-enabled tables)
            break
    if prev is None:
        prev = int((config or {}).get(
            "delta.inCommitTimestampEnablementTimestamp", 0
        ))
    return max(int(time.time() * 1000), int(prev) + 1)


def _publish_commit(table_dir: Path, version: int, actions: list[dict],
                    operation: str, parameters: dict | None = None,
                    now_ms: int | None = None, config: dict | None = None):
    """Publish ``actions`` as ``_delta_log/<version>.json`` — the one
    writer of every log version. Prepends the commit's single
    ``commitInfo`` (``now_ms`` is the caller's clock, so its timestamp
    equals the adds' modificationTime; ``config``, the table's resolved
    configuration, decides the in-commit timestamp). The commit is
    encoded and written to a unique temp name first, then hard-linked to
    the version name: the version appears whole or not at all, and a
    same-version race is a hard error for the loser."""
    info = {
        "timestamp": int(time.time() * 1000) if now_ms is None else now_ms,
        "operation": operation,
        "operationParameters": parameters or {},
        "engineInfo": "evolution-spark-delta-writer/1.0",
    }
    ict = _next_ict(table_dir, version, config)
    if ict is not None:
        info["inCommitTimestamp"] = ict
    body = "".join(json.dumps(a) + "\n" for a in [{"commitInfo": info}, *actions])
    commit = table_dir / "_delta_log" / f"{version:020d}.json"
    tmp = commit.with_name(f".{commit.name}.{uuid.uuid4().hex}.tmp")
    try:
        tmp.write_text(body)
        os.link(tmp, commit)
    except FileExistsError:
        raise RuntimeError(
            f"concurrent commit detected: {commit} exists (retry the "
            f"{operation} against the new table state)"
        ) from None
    finally:
        tmp.unlink(missing_ok=True)


def delete_delta_rows(spark, path: str, predicate: str) -> dict:
    """Merge-on-read DELETE: mark every live row matching ``predicate`` as
    deleted via DELETION VECTORS — no data file is rewritten. For each
    touched file the commit pairs a remove of the current add with an add
    of the SAME file carrying a new DV whose bitmap is the union of the
    file's previous DV (if any) and the newly matched row positions —
    the (path, dvUniqueId) supersedence dance a Databricks DELETE performs.
    Tables still on protocol v1/v2 are upgraded in the same commit
    (reader 3 / writer 7 with the deletionVectors feature, per the spec's
    feature-activation rule). A later OPTIMIZE materializes the deletes
    away (its rewrite reads through DVs); VACUUM reclaims unreferenced DV
    files.

    Scale: the matched (file, position) set — the DELETE's changed-row
    set, which any engine materializes — is collected to the driver to
    build the per-file bitmaps; everything else (the predicate scan with
    file/row-index metadata) is a distributed DV-filtered read. Stats on
    the re-added file are carried unchanged (physical min/max stay valid
    bounds; the spec marks them non-tight implicitly — numRecords remains
    the PHYSICAL row count, matching what foreign DV writers record).

    Maintenance: every DELETE grows the scan-time masking anti-join with
    its DV cardinality — ``io.maintenance.table_health(path)`` tracks the
    accumulated ratio against the BASELINE v3.3 stress thresholds and
    says when to OPTIMIZE (well before the 4M-row broadcast cap, past
    which masking degrades to a shuffle join).

    The reference engine has no DELETE at all (its Delta target is a
    ``todo!()`` — examples/delta/src/main.rs:28-30)."""
    from pyspark.sql.types import StructType

    table_dir = Path(path)
    live, schema_string, part_cols, latest, repl_state = _replay_log(
        table_dir, return_state=True
    )
    proto = _mor_guards(repl_state, "DELETE")
    config = dict((repl_state.get("metadata") or {}).get("configuration") or {})
    schema_json = json.loads(schema_string)
    root = table_dir.resolve()
    by_abs = _mor_match_positions(
        spark, table_dir, live, schema_json, config, predicate
    )
    if not by_abs:
        return {"version": None, "deleted_rows": 0, "files_touched": 0}

    now_ms = int(time.time() * 1000)
    version = latest + 1
    actions: list[dict] = []
    upgrade = _dv_protocol_upgrade(proto)
    if _cdf_enabled(config):
        # compose the two upgrades into ONE protocol action (replay keeps
        # the last protocol per commit, so two separate actions would
        # drop whichever folded first)
        cdf_up = _cdf_protocol_upgrade(
            (upgrade or {}).get("protocol") or proto
        )
        if cdf_up:
            upgrade = cdf_up
    if upgrade:
        actions.append(upgrade)
    dv_actions, deleted_rows = _dv_mark_actions(
        table_dir, live, root, by_abs, now_ms
    )
    actions.extend(dv_actions)
    if _cdf_enabled(config):
        # CDF sidecar: the deleted rows themselves (DV-filtered scan of
        # only the touched files, same predicate) land as _change_data
        # files in the SAME commit, so foreign CDF readers see this
        # DELETE without deriving DV diffs
        from pyspark.sql import functions as F

        abs_of = {_resolved_add_path(root, p): p for p in live}
        touched = sorted(abs_of[a] for a in by_abs)
        snapshot = _logical_scan(
            spark, table_dir, live, touched, schema_json, config
        )
        cdc_df = snapshot.where(predicate).withColumn(
            "_change_type", F.lit("delete")
        )
        actions.extend(_stage_cdc_actions(
            cdc_df, table_dir, version, schema_json, config, part_cols, now_ms
        ))
    _publish_commit(table_dir, version, actions, "DELETE",
                    {"predicate": predicate}, now_ms=now_ms, config=config)
    return {
        "version": version,
        "deleted_rows": deleted_rows,
        "files_touched": len(by_abs),
    }


def update_delta_rows(
    spark, path: str, predicate: str, set_exprs: dict[str, str]
) -> dict:
    """Merge-on-read UPDATE: rows matching ``predicate`` get their
    ``set_exprs`` columns rewritten (``{col: SQL expression}``, evaluated
    against the matched row) WITHOUT rewriting the files that hold them —
    ONE atomic commit marks the old row versions deleted via deletion
    vectors (union bitmaps, exactly the DELETE machinery) AND appends a
    new file carrying the updated copies. Downstream, ``table_changes``
    shows the UPDATE as delete+insert at a single version — the CDF
    fallback semantics for engines without preimage tracking.

    Scale: the DV bookkeeping is the DELETE's metadata-sized path; the
    updated-copies write is a distributed write of ONLY the matched rows.
    Compare a copy-on-write UPDATE, which rewrites every touched FILE —
    at 100 TB with point updates that is the difference between writing
    kilobytes and rewriting gigabytes per touched file."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    table_dir = Path(path)
    replayed = _replay_log(table_dir, return_state=True)
    live, schema_string, part_cols, latest, repl_state = replayed
    # guards + input validation run BEFORE the row-tracking
    # materialization commit below: a refused UPDATE must leave no
    # commit behind (review r11 pass 3)
    proto = _mor_guards(repl_state, "UPDATE")
    stored_schema = StructType.fromJson(json.loads(schema_string))
    if not set_exprs:
        raise ValueError("set_exprs must be non-empty")
    unknown = sorted(set(set_exprs) - {f.name for f in stored_schema.fields})
    if unknown:
        raise ValueError(f"set_exprs reference unknown columns: {unknown}")
    ident_assigned = sorted(
        set(set_exprs) & set(_schema_identity_columns(schema_string))
    )
    if ident_assigned:
        raise DeltaProtocolError(
            f"UPDATE must not assign identity columns {ident_assigned} — "
            "their values are writer-managed (high-water-mark contract)"
        )
    rt = None
    if _row_tracking_active(repl_state):
        # ROW TRACKING (round 11): the updated copies CARRY each matched
        # row's materialized _row_id (PROTOCOL.md: updates preserve ids)
        # and materialize a NULL row-commit-version, which reads back as
        # the new add's defaultRowCommitVersion — "last updated by this
        # commit". Materialized names resolve from the replayed config
        # (steady state), else one metaData commit + re-replay.
        rt, replayed = _rt_materialized_names(path, replayed)
        live, schema_string, part_cols, latest, repl_state = replayed

    config = dict((repl_state.get("metadata") or {}).get("configuration") or {})
    schema_json = json.loads(schema_string)
    root = table_dir.resolve()
    by_abs = _mor_match_positions(
        spark, table_dir, live, schema_json, config, predicate
    )
    if not by_abs:
        return {"version": None, "updated_rows": 0, "files_touched": 0}

    # the updated copies come from ONLY the matched files (the positions
    # pinned them — every predicate row lives in a by_abs file), from the
    # SAME live set; no commit happens in between — one atomic commit. A
    # point UPDATE therefore re-reads the touched files, never the table.
    from urllib.parse import unquote

    abs_of = {_resolved_add_path(root, p): p for p in live}
    touched = sorted(abs_of[a] for a in by_abs)
    if rt:
        snapshot = _lineage_scan(
            spark, table_dir, live, touched, schema_json, config,
            rt[0], rt[1],
        )
    else:
        snapshot = _logical_scan(
            spark, table_dir, live, touched, schema_json, config
        )
    matched = snapshot.where(predicate)
    if _cdf_enabled(config):
        # the matched rows feed THREE consumers under CDF (pre-image
        # sidecar, post-image sidecar, staged rewrite) — cache them so
        # the touched files are read once, not three times
        matched = matched.cache()
    update_cols = [
        F.expr(set_exprs[f.name]).cast(f.dataType).alias(f.name)
        if f.name in set_exprs
        else F.col(f.name)
        for f in stored_schema.fields
    ]
    updated = matched.select(*update_cols)
    staged_df = updated
    if rt:
        staged_df = matched.select(
            *update_cols,
            F.col("_row_id").alias(rt[0]),
            F.lit(None).cast("long").alias(rt[1]),
        )

    now_ms = int(time.time() * 1000)
    version = latest + 1
    actions: list[dict] = []
    upgrade = _dv_protocol_upgrade(proto)
    if _cdf_enabled(config):
        cdf_up = _cdf_protocol_upgrade(
            (upgrade or {}).get("protocol") or proto
        )
        if cdf_up:
            upgrade = cdf_up  # one composed protocol action (replay keeps last)
    if upgrade:
        actions.append(upgrade)
    dv_actions, _ = _dv_mark_actions(table_dir, live, root, by_abs, now_ms)
    actions.extend(dv_actions)
    if _cdf_enabled(config):
        # CDF sidecar: pre-images (the matched rows as they were) +
        # post-images (their updated copies) in the SAME commit — the
        # pairing derivation-based readers can NEVER reconstruct (they
        # see delete+insert). Table columns only: the rowTracking
        # lineage projection must not leak into the sidecar schema.
        pre = matched.select(
            *[F.col(f.name) for f in stored_schema.fields]
        ).withColumn("_change_type", F.lit("update_preimage"))
        post = updated.withColumn("_change_type", F.lit("update_postimage"))
        actions.extend(_stage_cdc_actions(
            pre.unionByName(post), table_dir, version, schema_json, config,
            part_cols, now_ms,
        ))

    stage = table_dir / f"_staging_v{version}-{uuid.uuid4().hex}"
    # mapped tables: the updated copies must land under PHYSICAL names
    writer = _physicalize_with_extras(
        staged_df, schema_json, config, rt
    ).write.mode("error")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    try:
        writer.parquet(str(stage))
        _enforce_constraints(
            spark, stage, config, "UPDATE",
            renames=mapping_renames(schema_json, config),
            invariants=_schema_invariants(schema_string),
            generated=_schema_generated_columns(schema_string),
        )
        add_actions, n_files, updated_rows = _collect_staged_adds(
            stage, table_dir, version, now_ms, data_change=True, spark=spark,
        )
        actions.extend(add_actions)
        if rt:
            # the NEW adds still get fresh baseRowId spans (the carried
            # materialized ids shadow them); the mark advances same-commit
            rt_dm = _assign_row_tracking(
                add_actions, {**repl_state, "_live_adds": live}, version
            )
            if rt_dm is not None:
                actions.append(rt_dm)
    finally:
        if stage.exists():
            shutil.rmtree(stage)
        if _cdf_enabled(config):
            matched.unpersist()
    _publish_commit(table_dir, version, actions, "UPDATE",
                    {"predicate": predicate}, now_ms=now_ms, config=config)
    return {
        "version": version,
        "updated_rows": updated_rows,
        "files_touched": len(by_abs),
        "new_files": n_files,
    }


def evolve_delta_schema(path: str, add_columns: list[tuple[str, object]]) -> dict:
    """ADD COLUMN schema evolution (the first thing a long-lived table
    needs after day one): publish a new commit whose ``metaData`` action
    carries the widened ``schemaString``. Added columns must be nullable —
    existing files don't have them, and the Delta contract is that readers
    fill missing columns with null (which ``read_delta_snapshot``'s
    explicit-schema parquet scan does for free). No data files are touched
    or rewritten: this is a metadata-only commit, O(1) regardless of table
    size. Time travel to pre-evolution versions replays the old metaData
    and sees the old schema.

    ``add_columns``: ``[(name, pyspark DataType), ...]``. Appending at the
    end keeps every existing reader's column indices stable. Renames/drops/
    type changes stay out of scope — those need column mapping (reader
    v2+), which this module deliberately refuses."""
    from pyspark.sql.types import DataType, StructField, StructType

    table_dir = Path(path)
    live, schema_string, part_cols, latest, repl_state = _replay_log(
        table_dir, return_state=True
    )
    _check_writer_protocol(repl_state.get("protocol"), schema_string)
    if not add_columns:
        raise ValueError("add_columns must be non-empty")
    config = dict((repl_state.get("metadata") or {}).get("configuration") or {})
    schema_json = json.loads(schema_string)
    mapped = config.get("delta.columnMapping.mode") == "name"
    stored = StructType.fromJson(schema_json)
    existing = {f.name.lower() for f in stored}
    fields = list(stored.fields)
    next_id = max(
        [int(config.get("delta.columnMapping.maxColumnId", 0))]
        + [int((f.get("metadata") or {}).get("delta.columnMapping.id", 0))
           for f in schema_json["fields"]]
    )
    for name, dtype in add_columns:
        if not isinstance(dtype, DataType):
            raise TypeError(
                f"column {name!r}: pass a pyspark DataType instance, got "
                f"{type(dtype).__name__}"
            )
        if name.lower() in existing:
            raise ValueError(f"column {name!r} already exists in the schema")
        existing.add(name.lower())
        if mapped:
            # fresh physical name + id: a re-added name after DROP must
            # NOT resurrect the dropped column's stored data
            next_id += 1
            fields.append(StructField(name, dtype, nullable=True, metadata={
                "delta.columnMapping.id": next_id,
                "delta.columnMapping.physicalName": f"col-{uuid.uuid4().hex[:12]}",
            }))
        else:
            fields.append(StructField(name, dtype, nullable=True))
    new_schema = StructType(fields)

    metadata = dict(repl_state["metadata"])
    metadata["schemaString"] = new_schema.json()
    if mapped:
        metadata["configuration"] = {
            **config, "delta.columnMapping.maxColumnId": str(next_id),
        }
    actions = [{"metaData": metadata}]
    # adding the first timestamp_ntz column to a v1 table activates the
    # timestampNtz feature in the same commit (spec activation rule)
    proto_now = repl_state.get("protocol") or dict(PROTOCOL)
    ntz_up = _ntz_protocol_upgrade(proto_now, metadata["schemaString"])
    if ntz_up:
        actions.append(ntz_up)
        proto_now = ntz_up["protocol"]
    var_up = _variant_protocol_upgrade(proto_now, metadata["schemaString"])
    if var_up:
        actions.append(var_up)
    version = latest + 1
    _publish_commit(table_dir, version, actions, "ADD COLUMNS",
                    {"columns": json.dumps([n for n, _ in add_columns])},
                    config=config)
    return {"version": version, "schema": [f.name for f in new_schema.fields]}


def optimize_delta(
    spark,
    path: str,
    target_files: int = 1,
    zorder_by: list[str] | None = None,
) -> dict:
    """OPTIMIZE (small-file compaction): rewrite the live files of each
    partition into ``target_files`` larger files via a ``mode='replace'``
    commit. Pure layout change — row set identical, so the commit is
    published even when nothing shrinks (idempotent, like the real
    OPTIMIZE), and every pre-compaction version stays time-travel
    readable. The streaming sink's many small per-batch files are the
    canonical input.

    ``zorder_by`` (the real ``OPTIMIZE ... ZORDER BY`` shape): instead of
    a plain coalesce, rows are re-clustered on the Morton code of the
    given columns (io/clustered.zorder_dataframe) so each rewritten file
    covers a small hyper-rectangle of the key space — the add actions'
    recomputed min/max stats then make ``read_delta_snapshot(skip_where=
    ...)`` prune on EVERY z-ordered column, not just one.

    Scale: the rewrite is a distributed read->cluster->write of only the
    live files; the log update is metadata-sized. Statistics are
    recomputed from the new footers, so post-OPTIMIZE merges prune against
    tight ranges again."""
    table_dir = Path(path)
    replayed = _replay_log(table_dir, return_state=True)
    live, _, _, _, repl_state = replayed
    if not live:
        return {"version": None, "files": 0, "rows": 0, "note": "empty table"}
    rt = None
    if _row_tracking_active(repl_state):
        # ROW TRACKING (PROTOCOL.md 'Row Tracking', round 11): the rewrite
        # must preserve carried rows' stable ids — project each row's
        # (_row_id, _row_commit_version) and MATERIALIZE them into the
        # rewritten files under the configuration's materialized column
        # names (assigned idempotently here if absent). New adds still
        # get fresh baseRowId/defaultRowCommitVersion; the materialized
        # values take precedence on read, and rows from pre-feature files
        # (null ids) acquire fresh ids via the new add's baseRowId +
        # position — id assignment on first rewrite, like Iceberg v3.
        # The refreshed replay is discarded on purpose: name
        # materialization is a metadata-only commit, so `live`/`repl_state`
        # from the pre-materialization replay stay valid here.
        rt, _ = _rt_materialized_names(path, replayed)
        snapshot = read_delta_row_lineage(spark, path).withColumnsRenamed(
            {"_row_id": rt[0], "_row_commit_version": rt[1]}
        )
    else:
        snapshot = read_delta_snapshot(spark, path)
    if zorder_by:
        from evolution_spark.io.clustered import zorder_dataframe

        compacted = zorder_dataframe(snapshot, zorder_by, n_files=target_files)
    else:
        compacted = snapshot.coalesce(target_files)
    # dataChange=false: the row set is identical, so this commit is legal
    # even on delta.appendOnly tables (the spec forbids only data-changing
    # removes), and downstream streaming readers can skip the rewrite
    summary = commit_delta(
        compacted, path, mode="replace", remove_paths=sorted(live),
        data_change=False, operation="OPTIMIZE", _rt_materialized=rt,
    )
    summary["files_before"] = len(live)
    return summary


def vacuum_delta(
    path: str, keep_versions: int = 1, stale_staging_hours: float = 24.0
) -> dict:
    """VACUUM: physically delete data files that are not live in any of the
    last ``keep_versions`` table versions. Time travel to the kept versions
    keeps working; reads of older versions will fail on missing files
    (exactly the real VACUUM trade-off — retention is measured in versions
    here instead of hours, which is the honest equivalent for a
    test-driven engine with no wall-clock contract).

    The log itself is never rewritten (history/metadata stays auditable);
    only unreferenced data files are unlinked. Driver-side cost is one log
    replay per kept version — metadata-sized."""
    table_dir = Path(path)
    log_dir = table_dir / "_delta_log"
    versions = _log_versions(log_dir)
    if not versions:
        raise FileNotFoundError(f"no Delta log at {log_dir}")
    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    kept = versions[-keep_versions:]
    referenced: set[str] = set()
    referenced_dvs: set[str] = set()
    from evolution_spark.io.deletion_vectors import dv_absolute_path

    for v in kept:
        live, *_ = _replay_log(table_dir, v)
        referenced.update(live)
        for add in live.values():
            dv = add.get("deletionVector")
            if dv and dv.get("storageType") in ("u", "p"):
                referenced_dvs.add(str(Path(dv_absolute_path(dv, table_dir))))

    from urllib.parse import unquote

    referenced_decoded = {unquote(r) for r in referenced}
    deleted = []
    for p in sorted(table_dir.rglob("*.parquet")):
        # _staging_* dirs belong to a concurrent in-flight commit — its files
        # are not yet referenced by any log version, but unlinking them would
        # sabotage that writer; only files that have LEFT staging and lost
        # their log reference are garbage.
        if "_delta_log" in p.parts or "_change_data" in p.parts or any(
            part.startswith("_staging_") for part in p.parts
        ):
            # _change_data sidecars are referenced by cdc actions, never
            # by add actions — retention is tied to the log (which this
            # engine never truncates), not to live-set membership
            continue
        rel = p.relative_to(table_dir).as_posix()
        if quote(rel) not in referenced and rel not in referenced_decoded:
            p.unlink()
            deleted.append(rel)
    # deletion-vector files: reclaim the ones no kept version's live adds
    # reference (superseded by a later DELETE's union bitmap, or their data
    # file was rewritten away). Files younger than the staleness window are
    # SPARED: delete_delta_rows writes its DV before publishing the commit
    # that references it, so a fresh unreferenced DV may be an in-flight
    # DELETE — unlinking it would break the table the moment that commit
    # lands (the same race the _staging_ rule protects data files from).
    dv_cutoff = time.time() - stale_staging_hours * 3600
    for p in sorted(table_dir.rglob("deletion_vector_*.bin")):
        if any(part.startswith("_staging_") for part in p.parts):
            continue
        if str(p) not in referenced_dvs and p.stat().st_mtime < dv_cutoff:
            p.unlink()
            deleted.append(p.relative_to(table_dir).as_posix())
    # ORPHANED cdc sidecars: _stage_cdc_actions moves files into
    # _change_data BEFORE the optimistic publish, so a lost version race
    # / mid-commit failure leaves unreferenced files there. Referenced =
    # every cdc action in the WHOLE log (retention is log-tied, and this
    # engine never truncates the log); the staleness window spares
    # in-flight commits, same as the DV rule above.
    referenced_cdc: set[str] = set()
    for vf in sorted(log_dir.glob("*.json")):
        if not vf.stem.isdigit():
            continue
        for line in vf.read_text().splitlines():
            a = json.loads(line)
            if "cdc" in a:
                referenced_cdc.add(unquote(a["cdc"]["path"]))
    cdc_dir = table_dir / "_change_data"
    if cdc_dir.exists():
        for p in sorted(cdc_dir.rglob("*.parquet")):
            rel = p.relative_to(table_dir).as_posix()
            if rel not in referenced_cdc and p.stat().st_mtime < dv_cutoff:
                p.unlink()
                deleted.append(rel)
    from evolution_spark.io.maintenance import reclaim_stale_staging

    reclaimed = reclaim_stale_staging(table_dir, stale_staging_hours)
    return {
        "deleted": deleted,
        "kept_versions": kept,
        "live_files": len(referenced),
        "reclaimed_staging": reclaimed,
    }


def checkpoint_delta(
    path: str,
    tombstone_retention_ms: int = 7 * 24 * 3600 * 1000,
    v2: bool = False,
    sidecar_files: int = 2,
) -> dict:
    """Write a Delta log CHECKPOINT for the latest version: a parquet file
    ``_delta_log/<v>.checkpoint.parquet`` holding the fully-replayed state
    (protocol, metaData incl. configuration, every live add, unexpired
    remove tombstones, latest txn per appId — one action per row in the
    spec's sparse-columns layout) plus the ``_last_checkpoint`` pointer
    file. Readers then reconstruct a snapshot from the checkpoint + the
    JSON commits AFTER it — O(live files), not O(history) — which is what
    keeps a table with 10^5 commits openable. JSON commits are never
    deleted, so time travel to pre-checkpoint versions still replays the
    full chain.

    Remove tombstones newer than ``tombstone_retention_ms`` (spec default:
    ``delta.deletedFileRetentionDuration`` = 1 week) are carried so an
    external spec reader reconstructing state from this checkpoint sees
    the same tombstone/retention state as from the JSON log.

    ``v2=True`` writes the spec's V2 CHECKPOINT layout instead (PROTOCOL.md
    'V2 Spec Checkpoint'): a UUID-named manifest
    ``<v>.checkpoint.<uuid>.parquet`` carrying protocol/metaData/txn, one
    ``checkpointMetadata`` action naming the checkpoint version, and
    ``sidecar`` actions pointing at ``_delta_log/_sidecars/<uuid>.parquet``
    files that hold the add/remove file actions (split across
    ``sidecar_files`` parts — at 100 TB the file-action set dwarfs the
    manifest, and sidecars let a distributed reader load state in
    parallel). The spec restricts V2 checkpoints to tables whose protocol
    declares the ``v2Checkpoint`` reader feature, so this refuses
    otherwise (``upgrade_delta_features(path, reader=['v2Checkpoint'],
    writer=['v2Checkpoint'])`` first)."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    table_dir = Path(path)
    log_dir = table_dir / "_delta_log"
    versions = _log_versions(log_dir)
    if not versions:
        raise FileNotFoundError(f"no Delta log at {log_dir}")
    version = versions[-1]

    live: dict[str, dict] = {}
    state: dict = {}
    for v in versions:
        for line in (log_dir / f"{v:020d}.json").read_text().splitlines():
            _fold_action(json.loads(line), live, state)
    metadata_action = state.get("metadata")
    protocol_action = state.get("protocol")
    # refuse to checkpoint a table we cannot faithfully read: a checkpoint
    # of a protocol with unsupported reader features would re-serialize
    # state this implementation does not understand
    _check_reader_protocol(protocol_action, state.get("schema_string"))
    txns: dict[str, int] = state.get("txns", {})

    # deletionVector descriptors must survive checkpointing — a checkpoint
    # that dropped them would resurrect every DV-deleted row on the next
    # checkpoint-based replay
    dv_t = pa.struct(
        [
            ("storageType", pa.string()),
            ("pathOrInlineDv", pa.string()),
            ("offset", pa.int32()),
            ("sizeInBytes", pa.int32()),
            ("cardinality", pa.int64()),
        ]
    )
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
            ("deletionVector", dv_t),
            # row tracking (v7 rowTracking feature): dropping these on
            # re-checkpoint would corrupt every foreign reader's row ids
            ("baseRowId", pa.int64()),
            ("defaultRowCommitVersion", pa.int64()),
        ]
    )
    dm_t = pa.struct(
        [
            ("domain", pa.string()),
            ("configuration", pa.string()),
            ("removed", pa.bool_()),
        ]
    )
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            ("name", pa.string()),
            ("format", pa.struct([("provider", pa.string())])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
            ("createdTime", pa.int64()),
        ]
    )
    # feature lists MUST survive checkpointing: a v3 protocol row without
    # readerFeatures is spec-invalid, and dropping an unsupported feature
    # here would let the post-checkpoint replay bypass the refuse-loudly
    # reader guard (v3-with-no-features passes _check_reader_protocol)
    proto_t = pa.struct(
        [
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ]
    )
    txn_t = pa.struct([("appId", pa.string()), ("version", pa.int64())])
    remove_t = pa.struct(
        [
            ("path", pa.string()),
            ("deletionTimestamp", pa.int64()),
            ("dataChange", pa.bool_()),
            ("deletionVector", dv_t),
        ]
    )

    m = dict(metadata_action)
    m["format"] = {"provider": m.get("format", {}).get("provider", "parquet")}
    m["configuration"] = list((m.get("configuration") or {}).items())
    txn_rows = [{"appId": app_id, "version": v} for app_id, v in sorted(txns.items())]
    add_rows: list = []
    for stored_path in sorted(live):
        a = dict(live[stored_path])
        a["partitionValues"] = list(a.get("partitionValues", {}).items())
        add_rows.append(a)
    # unexpired remove tombstones (spec: carried until the deleted-file
    # retention window passes, so external VACUUMs don't unlink files a
    # slow reader of an old version may still be scanning)
    expiry = int(time.time() * 1000) - tombstone_retention_ms
    remove_rows: list = []
    for stored_path in sorted(state.get("tombstones", {})):
        r = state["tombstones"][stored_path]
        if r.get("deletionTimestamp", 0) >= expiry:
            remove_rows.append(
                {
                    "path": r["path"],
                    "deletionTimestamp": r.get("deletionTimestamp"),
                    "dataChange": bool(r.get("dataChange", True)),
                    "deletionVector": r.get("deletionVector"),
                }
            )

    def sparse_table(columns: dict[str, tuple[object, list]]) -> "pa.Table":
        """One action per row in the spec's sparse-columns layout: each
        action list occupies its own row range, all other columns null."""
        total = sum(len(rows) for _, rows in columns.values())
        arrays, offset = {}, 0
        for col, (typ, rows) in columns.items():
            arrays[col] = pa.array(
                [None] * offset + rows + [None] * (total - offset - len(rows)),
                type=typ,
            )
            offset += len(rows)
        return pa.table(arrays)

    dm_rows = [
        {"domain": d["domain"],
         "configuration": d.get("configuration"),
         "removed": False}
        for _, d in sorted((state.get("domain_metadata") or {}).items())
        # removed=true tombstones are NOT carried (delta-spark behavior):
        # a checkpoint that omits a domain reconstructs it as absent, and
        # re-serializing dead domains forever would grow checkpoints
        # without bound
        if not d.get("removed", False)
    ]
    if not v2:
        table = sparse_table({
            "protocol": (proto_t, [protocol_action]),
            "metaData": (meta_t, [m]),
            "txn": (txn_t, txn_rows),
            "domainMetadata": (dm_t, dm_rows),
            "add": (add_t, add_rows),
            "remove": (remove_t, remove_rows),
        })
        ckpt = log_dir / f"{version:020d}.checkpoint.parquet"
        tmp = log_dir / f".{version:020d}.checkpoint.parquet.tmp"
        papq.write_table(table, tmp)
        os.replace(tmp, ckpt)
        pointer = {"version": version, "size": table.num_rows}
        tmp_p = log_dir / "._last_checkpoint.tmp"
        tmp_p.write_text(json.dumps(pointer))
        os.replace(tmp_p, log_dir / "_last_checkpoint")
        return {"version": version, "actions": table.num_rows, "path": str(ckpt)}

    # --- V2 checkpoint: UUID-named manifest + file-action sidecars ---
    feats_r = set((protocol_action or {}).get("readerFeatures") or [])
    if "v2Checkpoint" not in feats_r:
        raise DeltaProtocolError(
            "v2 checkpoints may only be written to tables whose protocol "
            "declares the v2Checkpoint reader feature (spec rule — a "
            "feature-less reader must never encounter one); run "
            "upgrade_delta_features(path, reader=['v2Checkpoint'], "
            "writer=['v2Checkpoint']) first"
        )
    sidecar_dir = log_dir / "_sidecars"
    sidecar_dir.mkdir(exist_ok=True)
    parts = max(1, min(int(sidecar_files), max(1, len(add_rows) + len(remove_rows))))
    sidecar_rows: list = []
    now_ms = int(time.time() * 1000)
    for i in range(parts):
        part_adds = add_rows[i::parts]
        part_removes = remove_rows[i::parts]
        side = sparse_table({
            "add": (add_t, part_adds),
            "remove": (remove_t, part_removes),
        })
        name = f"{uuid.uuid4()}.parquet"
        tmp_s = sidecar_dir / f".{name}.tmp"
        papq.write_table(side, tmp_s)
        os.replace(tmp_s, sidecar_dir / name)
        sidecar_rows.append({
            "path": name,
            "sizeInBytes": (sidecar_dir / name).stat().st_size,
            "modificationTime": now_ms,
        })
    ckpt_meta_t = pa.struct([
        ("version", pa.int64()),
        ("tags", pa.map_(pa.string(), pa.string())),
    ])
    sidecar_t = pa.struct([
        ("path", pa.string()),
        ("sizeInBytes", pa.int64()),
        ("modificationTime", pa.int64()),
    ])
    manifest = sparse_table({
        "checkpointMetadata": (ckpt_meta_t, [{"version": version, "tags": []}]),
        "protocol": (proto_t, [protocol_action]),
        "metaData": (meta_t, [m]),
        "txn": (txn_t, txn_rows),
        "domainMetadata": (dm_t, dm_rows),
        "sidecar": (sidecar_t, sidecar_rows),
    })
    ckpt = log_dir / f"{version:020d}.checkpoint.{uuid.uuid4()}.parquet"
    tmp = log_dir / f".{ckpt.name}.tmp"
    papq.write_table(manifest, tmp)
    os.replace(tmp, ckpt)
    n_actions = manifest.num_rows + len(add_rows) + len(remove_rows)
    pointer = {"version": version, "size": n_actions,
               "sizeInBytes": ckpt.stat().st_size, "v2Checkpoint": True}
    tmp_p = log_dir / "._last_checkpoint.tmp"
    tmp_p.write_text(json.dumps(pointer))
    os.replace(tmp_p, log_dir / "_last_checkpoint")
    return {"version": version, "actions": n_actions, "path": str(ckpt),
            "sidecars": [r["path"] for r in sidecar_rows]}


def _resolve_checkpoint_files(
    log_dir: Path, ckpt_version: int, parts: int | None = None
) -> list[Path]:
    """The checkpoint file(s) for ``ckpt_version``: classic
    ``<v>.checkpoint.parquet`` (one file), classic MULTI-PART
    ``<v>.checkpoint.<part>.<parts>.parquet`` (ALL parts, in order — a
    partial read would silently reconstruct a partial live set), else the
    UUID-named V2 manifest in parquet or (spec-legal) JSON form —
    concurrent checkpointers never collide on UUID names, so listing is
    the resolution path. ``parts`` is the _last_checkpoint pointer's part
    count when present; it pins which multi-part set must be complete."""
    ckpt = log_dir / f"{ckpt_version:020d}.checkpoint.parquet"
    if ckpt.exists() and parts is None:
        return [ckpt]
    candidates = sorted(
        list(log_dir.glob(f"{ckpt_version:020d}.checkpoint.*.parquet"))
        + list(log_dir.glob(f"{ckpt_version:020d}.checkpoint.*.json"))
    )
    # split multi-part (middle segments '<part>.<parts>', both numeric)
    # from V2 UUID manifests (one non-numeric middle segment)
    multipart: dict[int, dict[int, Path]] = {}
    v2_manifests: list[Path] = []
    for c in candidates:
        mid = c.name[len(f"{ckpt_version:020d}.checkpoint."):-len(c.suffix)]
        segs = mid.split(".")
        if len(segs) == 2 and all(s.isdigit() for s in segs):
            multipart.setdefault(int(segs[1]), {})[int(segs[0])] = c
        else:
            v2_manifests.append(c)
    complete = None
    for n in sorted(multipart, reverse=True):
        if parts is not None and n != parts:
            continue
        have = multipart[n]
        if set(have) == set(range(1, n + 1)):
            complete = [have[i] for i in range(1, n + 1)]
            break
    if complete is not None:
        return complete
    if parts is not None:
        raise FileNotFoundError(
            f"_last_checkpoint declares a {parts}-part checkpoint for "
            f"version {ckpt_version} but no complete part set exists in "
            f"{log_dir} (found parts "
            f"{ {n: sorted(p) for n, p in multipart.items()} }) — refusing "
            "a partial state reconstruction"
        )
    if v2_manifests:
        return [v2_manifests[-1]]
    if multipart:
        raise FileNotFoundError(
            f"multi-part checkpoint for version {ckpt_version} is "
            f"incomplete in {log_dir} (found parts "
            f"{ {n: sorted(p) for n, p in multipart.items()} }) — refusing "
            "a partial state reconstruction"
        )
    raise FileNotFoundError(
        f"_last_checkpoint points at version {ckpt_version} but no "
        f"checkpoint file exists in {log_dir}"
    )


def _checkpoint_rows(ckpt: Path) -> list[dict]:
    """Checkpoint manifest rows as dicts — parquet (sparse action columns)
    or the JSON V2 manifest form (one action object per line; map-typed
    fields arrive as dicts, which the same ``dict(...)`` normalization
    accepts)."""
    if ckpt.suffix == ".json":
        return [json.loads(ln) for ln in ckpt.read_text().splitlines() if ln]
    import pyarrow.parquet as papq

    return papq.read_table(ckpt).to_pylist()


def read_checkpoint_state(
    path: str, return_state: bool = False, version: int | None = None
):
    """Reconstruct (live adds, schemaString, partitionColumns, version
    [, replay state]) from the newest checkpoint + the JSON commits after
    it. Returns None when no checkpoint exists (callers fall back to the
    full JSON replay). ``version`` caps the replay for TIME TRAVEL on
    log-truncated tables: commits in (ckpt, version] fold, later ones
    don't; a target OLDER than the checkpoint returns None (the caller
    must then either find the JSON chain or fail — the state is gone).
    The returned state carries txns and remove tombstones too, so
    ``checkpoint_delta`` can re-checkpoint a truncated table without
    silently dropping exactly-once markers or retention state."""
    import pyarrow.parquet as papq

    table_dir = Path(path)
    log_dir = table_dir / "_delta_log"
    pointer = log_dir / "_last_checkpoint"
    if not pointer.exists():
        return None
    ptr = json.loads(pointer.read_text())
    ckpt_version = ptr["version"]
    if version is not None and version < ckpt_version:
        return None
    ckpt_parts = _resolve_checkpoint_files(
        log_dir, ckpt_version, parts=ptr.get("parts")
    )
    ckpt = ckpt_parts[0]
    t = [row for p in ckpt_parts for row in _checkpoint_rows(p)]
    live: dict[str, dict] = {}
    schema_string = None
    part_cols: list[str] = []
    protocol = None
    metadata = None
    sidecars: list[str] = []
    txns: dict[str, int] = {}
    tombstones: dict[str, dict] = {}
    domain_metadata: dict[str, dict] = {}

    def fold_file_action(row: dict) -> bool:
        if row.get("add"):
            a = dict(row["add"])
            a["partitionValues"] = dict(a.get("partitionValues") or [])
            live[a["path"]] = a
            return True
        if row.get("remove"):
            # checkpoint tombstones: no replay effect on the live set, but
            # they must survive RE-checkpointing (retention contract)
            r = dict(row["remove"])
            tombstones[r["path"]] = r
            return True
        return False

    for row in t:
        if fold_file_action(row):
            continue
        if row.get("metaData"):
            metadata = dict(row["metaData"])
            # checkpoint's configuration is an arrow map -> list of pairs
            metadata["configuration"] = dict(metadata.get("configuration") or [])
            schema_string = metadata["schemaString"]
            part_cols = list(metadata.get("partitionColumns") or [])
        elif row.get("protocol"):
            protocol = dict(row["protocol"])
        elif row.get("txn"):
            tx = row["txn"]
            txns[tx["appId"]] = max(int(tx["version"]),
                                    txns.get(tx["appId"], -1))
        elif row.get("domainMetadata"):
            d = dict(row["domainMetadata"])
            domain_metadata[d["domain"]] = d
        elif row.get("checkpointMetadata"):
            cm_v = int(row["checkpointMetadata"]["version"])
            if cm_v != ckpt_version:
                raise RuntimeError(
                    f"v2 checkpoint manifest {ckpt.name} declares version "
                    f"{cm_v} but _last_checkpoint says {ckpt_version} — "
                    "refusing a torn/stale checkpoint"
                )
        elif row.get("sidecar"):
            sidecars.append(row["sidecar"]["path"])
    # V2 layout: the manifest carries only table-wide actions; file actions
    # live in _delta_log/_sidecars/ parquet parts (parallel-loadable)
    for name in sidecars:
        side = log_dir / "_sidecars" / name
        if not side.exists():
            raise FileNotFoundError(
                f"v2 checkpoint sidecar missing: {side} — state would be "
                "reconstructed with silently missing files"
            )
        for row in papq.read_table(side).to_pylist():
            fold_file_action(row)
    latest = ckpt_version
    state: dict = {
        "schema_string": schema_string,
        "part_cols": part_cols,
        "protocol": protocol,
        "metadata": metadata,
        "txns": txns,
        "tombstones": tombstones,
        "domain_metadata": domain_metadata,
    }
    post = [v for v in _log_versions(log_dir)
            if v > ckpt_version and (version is None or v <= version)]
    if version is not None:
        missing = sorted(set(range(ckpt_version + 1, version + 1)) - set(post))
        if missing:
            raise RuntimeError(
                f"version {version} is not reconstructible: commits "
                f"{missing} are missing after checkpoint {ckpt_version}"
            )
    for v in post:
        for line in (log_dir / f"{v:020d}.json").read_text().splitlines():
            _fold_action(json.loads(line), live, state)
        latest = v
    # The guard runs on the RESOLVED protocol (checkpoint row, overridden by
    # any post-checkpoint protocol-upgrade commit) — a foreign writer that
    # upgraded the table after our checkpoint still gets refused.
    _check_reader_protocol(state.get("protocol"), state.get("schema_string"))
    _validate_type_widening(state.get("schema_string"))
    out = (live, state["schema_string"], state["part_cols"], latest)
    return out + (state,) if return_state else out


def _require_name_mapping(config: dict, operation: str) -> None:
    mode = config.get("delta.columnMapping.mode", "none")
    if mode != "name":
        raise DeltaProtocolError(
            f"{operation} needs delta.columnMapping.mode='name' (current: "
            f"{mode or 'none'}); run upgrade_delta_to_column_mapping(path) "
            "first — without mapping, renaming/dropping is a physical "
            "rewrite of every data file"
        )


def _cm_protocol_upgrade(proto: dict) -> dict | None:
    """Same-commit protocol-upgrade action activating columnMapping on a
    table that predates it (None when already active) — the
    ``_dv_protocol_upgrade`` shape for the mapping feature."""
    v_r = int(proto.get("minReaderVersion", 1))
    v_w = int(proto.get("minWriterVersion", 2))
    feats_r = set(proto.get("readerFeatures") or [])
    feats_w = set(proto.get("writerFeatures") or [])
    if v_r >= 3 and v_w >= 7 and "columnMapping" in feats_r:
        return None
    legacy_w = _legacy_writer_features(v_w)
    return {"protocol": {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(feats_r | {"columnMapping"}),
        "writerFeatures": sorted(feats_w | legacy_w | {"columnMapping"}),
    }}


def upgrade_delta_to_column_mapping(path: str) -> dict:
    """Enable NAME-mode column mapping on an existing table — the
    ``ALTER TABLE ... SET TBLPROPERTIES('delta.columnMapping.mode'='name')``
    shape, and the prerequisite for metadata-only RENAME/DROP COLUMN:
    every existing field gets ``delta.columnMapping.physicalName`` equal
    to its CURRENT name (existing files keep resolving unchanged — the
    upgrade touches no data) plus a stable ``delta.columnMapping.id``;
    the same commit upgrades the protocol to v3/v7 with the
    ``columnMapping`` feature. Idempotent: an already-mapped table
    returns without a new commit.

    PARTITIONED tables upgrade too: the spec's upgrade rule (physical
    name = current name) means the existing directory layout, the
    ``partitionColumns`` list, and every add action's ``partitionValues``
    keys are already the physical names — nothing on disk moves. What
    stays refused is renaming/dropping the partition column itself
    (``rename_delta_column``/``drop_delta_column`` guard it): that WOULD
    require a directory-layout rewrite."""
    table_dir = Path(path)
    live, schema_string, part_cols, latest, repl_state = _replay_log(
        table_dir, return_state=True
    )
    _check_writer_protocol(repl_state.get("protocol"), schema_string)
    config = dict((repl_state.get("metadata") or {}).get("configuration") or {})
    if config.get("delta.columnMapping.mode") == "name":
        return {"version": None, "note": "column mapping already enabled"}
    if config.get("delta.columnMapping.mode") not in (None, "", "none"):
        raise DeltaProtocolError(
            f"table is in mapping mode "
            f"{config['delta.columnMapping.mode']!r}; only none->name "
            "upgrades are supported"
        )
    schema_json = json.loads(schema_string)
    # recursive stamping: EVERY field (nested struct members, array
    # elements' struct members, map values' struct members included)
    # gets a stable id and physicalName = current name — the spec's
    # upgrade semantics, so every existing file resolves without
    # rewriting anything
    counter = [0]

    def stamp(f: dict) -> dict:
        counter[0] += 1
        fid = counter[0]

        def walk(t):
            if isinstance(t, dict):
                if t.get("type") == "struct":
                    return {
                        "type": "struct",
                        "fields": [stamp(sf) for sf in t["fields"]],
                    }
                if t.get("type") == "array":
                    return dict(t, elementType=walk(t["elementType"]))
                if t.get("type") == "map":
                    return dict(t, keyType=walk(t["keyType"]),
                                valueType=walk(t["valueType"]))
            return t

        return dict(f, type=walk(f["type"]), metadata={
            **(f.get("metadata") or {}),
            "delta.columnMapping.id": fid,
            "delta.columnMapping.physicalName": f["name"],
        })

    new_fields = [stamp(f) for f in schema_json["fields"]]
    metadata = dict(repl_state["metadata"])
    metadata["schemaString"] = json.dumps(
        {"type": "struct", "fields": new_fields}
    )
    metadata["configuration"] = {
        **config,
        "delta.columnMapping.mode": "name",
        "delta.columnMapping.maxColumnId": str(counter[0]),
    }
    actions: list[dict] = []
    upgrade = _cm_protocol_upgrade(repl_state.get("protocol") or dict(PROTOCOL))
    if upgrade:
        actions.append(upgrade)
    actions.append({"metaData": metadata})
    version = latest + 1
    _publish_commit(
        table_dir, version, actions, "SET TBLPROPERTIES",
        {"properties": json.dumps({"delta.columnMapping.mode": "name"})},
        config=config,
    )
    return {"version": version, "mode": "name"}


def _edit_nested_field(fields: list[dict], path: list[str], op: str,
                       new: str | None = None) -> list[dict]:
    """Rename or drop a NESTED struct member addressed by a dotted path
    (``s.b`` / ``s.inner.c``): the leaf's logical name changes (or the
    leaf leaves the schema) while its ``physicalName`` and id stay — so
    the edit is metadata-only and every mapped read keeps resolving the
    stored data (rename) or stops selecting it (drop)."""
    head, rest = path[0], path[1:]
    out = []
    hit = False
    for f in fields:
        if f["name"] != head:
            out.append(f)
            continue
        hit = True
        if rest:
            t = f["type"]
            if not (isinstance(t, dict) and t.get("type") == "struct"):
                raise ValueError(
                    f"{head!r} is not a struct — cannot address "
                    f"{'.'.join(path)!r}"
                )
            inner = _edit_nested_field(t["fields"], rest, op, new)
            if op == "drop" and not inner:
                raise ValueError(
                    f"cannot drop the last member of struct {head!r} — "
                    "drop the struct column itself instead"
                )
            out.append(dict(f, type={"type": "struct", "fields": inner}))
            continue
        if op == "drop":
            continue  # leaf leaves the schema
        meta = dict(f.get("metadata") or {})
        meta.setdefault("delta.columnMapping.physicalName", f["name"])
        out.append(dict(f, name=new, metadata=meta))
    if not hit:
        raise ValueError(
            f"field {head!r} not found while resolving {'.'.join(path)!r}"
        )
    if op == "rename":
        names = [f["name"] for f in out]
        if len(set(n.lower() for n in names)) != len(names):
            raise ValueError(
                f"renaming to {new!r} collides with a sibling field"
            )
    return out


def _physical_field_name(schema_json: dict, logical: str) -> str:
    """The physicalName a field stores under (falls back to the logical
    name for unmapped / upgraded-in-place fields)."""
    for f in schema_json["fields"]:
        if f["name"] == logical:
            return (f.get("metadata") or {}).get(
                "delta.columnMapping.physicalName", logical
            )
    return logical


def rename_delta_column(path: str, old: str, new: str) -> dict:
    """RENAME COLUMN as a METADATA-ONLY commit (what column mapping
    exists for): the field's logical ``name`` changes, its
    ``physicalName`` and ``id`` stay — so no data file is touched, every
    reader resolves old files through the unchanged physical name, and
    time travel to pre-rename versions replays the old metaData and sees
    the old name. Requires name-mode mapping
    (``upgrade_delta_to_column_mapping``). The reference engine has no
    schema evolution at all (its targets are ``todo!()``)."""
    table_dir = Path(path)
    live, schema_string, part_cols, latest, repl_state = _replay_log(
        table_dir, return_state=True
    )
    _check_writer_protocol(repl_state.get("protocol"), schema_string)
    config = dict((repl_state.get("metadata") or {}).get("configuration") or {})
    _require_name_mapping(config, "RENAME COLUMN")
    _refuse_constrained_column(config, old, "rename")
    schema_json = json.loads(schema_string)
    # partitionColumns stores PHYSICAL names on mapped tables; guard by
    # the field's physical name so fresh-created mapped tables (physical
    # = col-<hex>) refuse partition-column renames too
    if _physical_field_name(schema_json, old) in part_cols or old in part_cols:
        raise ValueError(
            f"cannot rename partition column {old!r} (the directory "
            "layout is keyed by its physical name; a rename of any OTHER "
            "column on this partitioned table is metadata-only)"
        )
    if not new or new == old:
        raise ValueError(f"invalid new name {new!r}")
    if "." in new:
        raise ValueError(f"new name {new!r} must be a plain field name")
    if "." in old:
        # nested member rename (s.b -> s.<new>): same metadata-only
        # contract, addressed by dotted path
        new_fields = _edit_nested_field(
            schema_json["fields"], old.split("."), "rename", new
        )
    else:
        names = {f["name"] for f in schema_json["fields"]}
        if old not in names:
            raise ValueError(f"column {old!r} not in schema {sorted(names)}")
        if new.lower() in {n.lower() for n in names}:
            raise ValueError(f"column {new!r} already exists")
        new_fields = []
        for f in schema_json["fields"]:
            if f["name"] == old:
                meta = dict(f.get("metadata") or {})
                # a field upgraded in-place may carry physicalName == old
                # name; pin it explicitly so the rename cannot orphan it
                meta.setdefault("delta.columnMapping.physicalName", f["name"])
                new_fields.append(dict(f, name=new, metadata=meta))
            else:
                new_fields.append(f)
    metadata = dict(repl_state["metadata"])
    metadata["schemaString"] = json.dumps(
        {"type": "struct", "fields": new_fields}
    )
    version = latest + 1
    _publish_commit(table_dir, version, [{"metaData": metadata}],
                    "RENAME COLUMN", {"from": old, "to": new}, config=config)
    return {"version": version, "schema": [f["name"] for f in new_fields]}


def drop_delta_column(path: str, name: str) -> dict:
    """DROP COLUMN as a METADATA-ONLY commit: the field leaves the
    schema; its stored data stays in the files but no mapped reader
    resolves it (the physical name is no longer referenced), and a later
    ADD COLUMN with the same logical name gets a FRESH physical name +
    id, so the dropped data can never resurrect. Time travel to
    pre-drop versions still reads the column. Requires name-mode
    mapping."""
    table_dir = Path(path)
    live, schema_string, part_cols, latest, repl_state = _replay_log(
        table_dir, return_state=True
    )
    _check_writer_protocol(repl_state.get("protocol"), schema_string)
    config = dict((repl_state.get("metadata") or {}).get("configuration") or {})
    _require_name_mapping(config, "DROP COLUMN")
    _refuse_constrained_column(config, name, "drop")
    schema_json = json.loads(schema_string)
    if _physical_field_name(schema_json, name) in part_cols or name in part_cols:
        raise ValueError(
            f"cannot drop partition column {name!r} (the directory "
            "layout is keyed by its physical name)"
        )
    if "." in name:
        # nested member drop (s.b): metadata-only, stored data stays in
        # the files but no mapped reader selects it
        new_fields = _edit_nested_field(
            schema_json["fields"], name.split("."), "drop"
        )
    else:
        names = [f["name"] for f in schema_json["fields"]]
        if name not in names:
            raise ValueError(f"column {name!r} not in schema {sorted(names)}")
        if len(names) == 1:
            raise ValueError("cannot drop the last column of a table")
        new_fields = [f for f in schema_json["fields"] if f["name"] != name]
    metadata = dict(repl_state["metadata"])
    metadata["schemaString"] = json.dumps(
        {"type": "struct", "fields": new_fields}
    )
    version = latest + 1
    _publish_commit(table_dir, version, [{"metaData": metadata}],
                    "DROP COLUMNS", {"columns": json.dumps([name])},
                    config=config)
    return {"version": version, "schema": [f["name"] for f in new_fields]}


def clone_delta_table(
    src_path: str, dest_path: str, version: int | None = None
) -> dict:
    """SHALLOW CLONE: a new Delta table whose v0 commit references the
    SOURCE table's data files by ABSOLUTE path — zero data copied, any
    snapshot (``version``) cloneable, independent history from there on
    (appends/OPTIMIZE write normal relative files next to the absolute
    references; the reader scans both groups, resolving the absolute
    group's partition columns from each add's ``partitionValues`` — the
    spec-faithful source — since hive-dir discovery cannot cross roots).
    VACUUM on the clone can never touch source files by construction: it
    only walks under the clone root. At 100 TB a clone is a
    metadata-sized commit — the dev/test-against-prod primitive.

    Protocol, schema (incl. column-mapping metadata), partition columns
    and table configuration (CHECK constraints, appendOnly) carry over;
    the clone gets a fresh table id. Refuses a source whose live adds
    carry deletion vectors (their descriptors resolve relative to the
    SOURCE root; cloning them would silently resurrect deleted rows —
    compact the source first)."""
    src_dir = Path(src_path).resolve()
    dest_dir = Path(dest_path)
    if (dest_dir / "_delta_log").exists():
        raise ValueError(f"destination {dest_path} is already a Delta table")
    live, schema_string, part_cols, src_version, state = _replay_log(
        src_dir, version, return_state=True
    )
    dvs = [p for p, a in live.items() if a.get("deletionVector")]
    if dvs:
        raise ValueError(
            f"source snapshot carries deletion vectors on {len(dvs)} "
            "file(s) — their descriptors resolve relative to the SOURCE "
            "table; clone after OPTIMIZE materializes the deletes"
        )
    from urllib.parse import unquote

    meta = dict(state["metadata"])
    meta["id"] = str(uuid.uuid4())
    actions: list[dict] = [
        {"protocol": dict(state["protocol"])},
        {"metaData": meta},
    ]
    total_rows = 0
    for p in sorted(live):
        add = dict(live[p])
        src_file = (src_dir / unquote(p)).resolve()
        add["path"] = quote(str(src_file))
        add["dataChange"] = True
        stats = add.get("stats")
        if stats:
            try:
                total_rows += int(json.loads(stats).get("numRecords") or 0)
            except (ValueError, TypeError):
                pass
        actions.append({"add": add})
    log_dir = dest_dir / "_delta_log"
    log_dir.mkdir(parents=True, exist_ok=True)
    # the copied configuration carries the source's commit obligations
    # (in-commit timestamps) over to the clone's own history
    _publish_commit(
        dest_dir, 0, actions, "CLONE",
        {"source": str(src_dir), "sourceVersion": src_version},
        config=meta.get("configuration"),
    )
    return {
        "version": 0,
        "files": len(live),
        "rows": total_rows,
        "source_version": src_version,
        "path": str(log_dir / f"{0:020d}.json"),
    }


def restore_delta_table(path: str, version: int) -> dict:
    """RESTORE TABLE ... TO VERSION AS OF — make the CURRENT state equal
    an earlier version's state with ONE new commit (history is preserved;
    a restore is itself time-travel-able and re-restorable): files live
    now but not then are removed, files live then but not now are
    re-added with their original metadata (stats, partition values,
    deletion vectors — a DV-masked file restores with its DV), and if the
    schema or configuration changed in between, the old metaData is
    re-committed. Metadata-only: no data file is touched, which is what
    makes RESTORE O(changed files) at any table size — the standard
    oops-recovery primitive after a bad MERGE/DELETE/OPTIMIZE.

    Requires the target version's files to still exist (VACUUM may have
    reclaimed them — the restore refuses with the missing list rather
    than publishing a commit whose adds point at nothing)."""
    from urllib.parse import unquote

    table_dir = Path(path)
    cur_live, cur_schema, cur_parts, latest, repl_state = _replay_log(
        table_dir, return_state=True
    )
    _check_writer_protocol(repl_state.get("protocol"), cur_schema)
    if version == latest:
        return {"version": None, "note": "already at the requested version"}
    old_live, old_schema, old_parts, _, old_state = _replay_log(
        table_dir, version, return_state=True
    )
    if old_parts != cur_parts:
        raise ValueError(
            f"cannot restore across a partitioning change ({old_parts} vs "
            f"{cur_parts})"
        )
    config = dict((repl_state.get("metadata") or {}).get("configuration") or {})
    removes = sorted(set(cur_live) - set(old_live))
    readds = sorted(set(old_live) - set(cur_live))
    # files present in both but with DIFFERENT add metadata (e.g. a DV
    # added since the target version) must be re-added with the OLD state
    changed = sorted(
        p for p in set(old_live) & set(cur_live)
        if old_live[p] != cur_live[p]
    )
    if str(config.get("delta.appendOnly", "")).lower() == "true" and (
        removes or changed
    ):
        raise DeltaProtocolError(
            "table sets delta.appendOnly=true; RESTORE would emit "
            "dataChange=true removes — refusing"
        )
    missing = [
        p for p in readds + changed
        if not (table_dir / unquote(p)).exists()
    ]
    if missing:
        raise FileNotFoundError(
            f"cannot restore to version {version}: data files already "
            f"reclaimed by VACUUM: {missing[:5]}"
            + ("..." if len(missing) > 5 else "")
        )
    now_ms = int(time.time() * 1000)
    actions: list[dict] = []
    old_meta = (old_state.get("metadata") or {})
    cur_meta = (repl_state.get("metadata") or {})
    if old_meta != cur_meta:
        actions.append({"metaData": dict(old_meta)})
    for p in removes:
        rm = {"path": p, "deletionTimestamp": now_ms, "dataChange": True}
        if cur_live[p].get("deletionVector"):
            rm["deletionVector"] = cur_live[p]["deletionVector"]
        actions.append({"remove": rm})
    for p in changed:
        rm = {"path": p, "deletionTimestamp": now_ms, "dataChange": True}
        if cur_live[p].get("deletionVector"):
            rm["deletionVector"] = cur_live[p]["deletionVector"]
        actions.append({"remove": rm})
    for p in readds + changed:
        add = dict(old_live[p])
        add["modificationTime"] = now_ms
        add["dataChange"] = True
        actions.append({"add": add})
    new_version = latest + 1
    _publish_commit(table_dir, new_version, actions, "RESTORE",
                    {"version": str(version)}, now_ms=now_ms, config=config)
    return {
        "version": new_version,
        "restored_to": version,
        "files_removed": len(removes),
        "files_readded": len(readds),
        "files_reverted": len(changed),
    }


def _table_constraints(config: dict) -> dict[str, str]:
    """{name: SQL expression} from ``delta.constraints.*`` table config."""
    pre = "delta.constraints."
    return {k[len(pre):]: v for k, v in config.items() if k.startswith(pre)}


def _schema_invariants(schema_string: str | None) -> dict[str, str]:
    """{label: SQL expression} for every legacy COLUMN INVARIANT in the
    schema (Delta PROTOCOL.md 'Column Invariants': per-field metadata key
    ``delta.invariants`` whose value is a JSON document
    ``{"expression": {"expression": "<sql>"}}``). Writer version 2's
    oldest obligation — tables created by early Delta releases carry
    these instead of CHECK constraints, and a writer that ignores them
    corrupts the table's contract exactly like an ignored CHECK would.
    Nested fields are walked with dotted paths so their expressions
    (which reference the full path) enforce too."""
    if not schema_string or '"delta.invariants"' not in schema_string:
        return {}
    out: dict[str, str] = {}

    def walk(fields: list[dict], prefix: str, in_container: bool) -> None:
        for f in fields:
            path = f"{prefix}{f['name']}"
            raw = (f.get("metadata") or {}).get("delta.invariants")
            if raw:
                if in_container:
                    # an invariant on a field INSIDE an array/map element
                    # has no row-level SQL form here (it quantifies over
                    # elements) — the pre-round-9 blanket refusal must
                    # survive for this shape, or the obligation is
                    # silently skipped
                    raise DeltaProtocolError(
                        f"field {path!r} carries delta.invariants inside an "
                        "array/map element — this writer cannot enforce "
                        "element-quantified invariants; refusing to write"
                    )
                doc = json.loads(raw) if isinstance(raw, str) else raw
                expr = doc
                while isinstance(expr, dict):
                    expr = expr.get("expression")
                if not isinstance(expr, str) or not expr.strip():
                    raise DeltaProtocolError(
                        f"field {path!r} carries an unparseable "
                        f"delta.invariants document: {raw!r} — refusing to "
                        "write rather than skipping the obligation"
                    )
                out[f"invariant({path})"] = expr
            walk_type(f.get("type"), f"{path}.", in_container)

    def walk_type(t, prefix: str, in_container: bool) -> None:
        if not isinstance(t, dict):
            return
        kind = t.get("type")
        if kind == "struct":
            walk(t["fields"], prefix, in_container)
        elif kind == "array":
            walk_type(t.get("elementType"), prefix, True)
        elif kind == "map":
            walk_type(t.get("keyType"), prefix, True)
            walk_type(t.get("valueType"), prefix, True)

    walk(json.loads(schema_string)["fields"], "", False)
    return out


def _schema_generated_columns(schema_string: str | None) -> dict[str, str]:
    """{label: boolean SQL expression} for every GENERATED COLUMN in the
    schema (Delta PROTOCOL.md 'Generated Columns': per-field metadata key
    ``delta.generationExpression`` holding a SQL expression string). The
    writer obligation is that every committed row's value is null-safe
    EQUAL to the expression's result — enforced as ``(col <=> (expr))``
    through the same staged-scan validation CHECK constraints get.
    Nested struct fields are walked with dotted paths; a generation
    expression inside an array/map element has no row-level SQL form here
    and refuses (same rule as element-quantified invariants)."""
    if not schema_string or '"delta.generationExpression"' not in schema_string:
        return {}
    out: dict[str, str] = {}

    def walk(fields: list[dict], prefix: str, in_container: bool) -> None:
        for f in fields:
            path = f"{prefix}{f['name']}"
            raw = (f.get("metadata") or {}).get("delta.generationExpression")
            if raw is not None:
                if in_container:
                    raise DeltaProtocolError(
                        f"field {path!r} carries delta.generationExpression "
                        "inside an array/map element — this writer cannot "
                        "enforce element-quantified generated columns; "
                        "refusing to write"
                    )
                if not isinstance(raw, str) or not raw.strip():
                    raise DeltaProtocolError(
                        f"field {path!r} carries an unparseable "
                        f"delta.generationExpression: {raw!r} — refusing to "
                        "write rather than skipping the obligation"
                    )
                out[f"generated({path})"] = f"({path} <=> ({raw}))"
            walk_type(f.get("type"), f"{path}.", in_container)

    def walk_type(t, prefix: str, in_container: bool) -> None:
        if not isinstance(t, dict):
            return
        kind = t.get("type")
        if kind == "struct":
            walk(t["fields"], prefix, in_container)
        elif kind == "array":
            walk_type(t.get("elementType"), prefix, True)
        elif kind == "map":
            walk_type(t.get("keyType"), prefix, True)
            walk_type(t.get("valueType"), prefix, True)

    walk(json.loads(schema_string)["fields"], "", False)
    return out


def _schema_identity_columns(schema_string: str | None) -> dict[str, dict]:
    """{column: {start, step, high, allow}} for every IDENTITY column in
    the schema (Delta PROTOCOL.md 'Identity Columns': per-field metadata
    ``delta.identity.start`` / ``step`` / ``highWaterMark`` /
    ``allowExplicitInsert``). Top-level only — the DDL surface that
    creates them cannot nest; a nested occurrence refuses rather than
    silently skipping the obligation."""
    if not schema_string or '"delta.identity.' not in schema_string:
        return {}
    sj = json.loads(schema_string)
    out: dict[str, dict] = {}
    for f in sj["fields"]:
        meta = f.get("metadata") or {}
        if not any(k.startswith("delta.identity.") for k in meta):
            continue
        try:
            out[f["name"]] = {
                "start": int(meta.get("delta.identity.start", 1)),
                "step": int(meta["delta.identity.step"]),
                "high": (int(meta["delta.identity.highWaterMark"])
                         if "delta.identity.highWaterMark" in meta else None),
                "allow": str(meta.get("delta.identity.allowExplicitInsert",
                                       False)).lower() == "true",
            }
        except (KeyError, ValueError, TypeError) as ex:
            raise DeltaProtocolError(
                f"field {f['name']!r} carries an unparseable identity "
                f"document ({dict(meta)}): {ex} — refusing to write"
            ) from None
        if out[f["name"]]["step"] == 0:
            raise DeltaProtocolError(
                f"identity column {f['name']!r} declares step=0 — refusing"
            )
    # nested occurrences: refuse (the flat walk above only reads
    # top-level metadata, so probe the raw string beyond those fields)
    flat_hits = sum(
        1 for f in sj["fields"]
        if any(k.startswith("delta.identity.")
               for k in (f.get("metadata") or {}))
    )
    if schema_string.count('"delta.identity.step"') > flat_hits:
        raise DeltaProtocolError(
            "identity metadata on a NESTED field — this writer cannot "
            "honor nested identity columns; refusing to write"
        )
    return out


def _identity_hwm_metadata(
    add_actions: list[dict], identity: dict[str, dict],
    generated: set[str], repl_state: dict,
) -> dict | None:
    """Updated metaData action advancing ``delta.identity.highWaterMark``
    for the identity values this commit assigned or (explicit inserts)
    exceeded — the spec requires the mark to move in the SAME commit, or
    a crash between commits would let the next writer re-assign ids.
    Driver-side: reads the add actions' footer stats, touches no data."""
    # stats are keyed by PHYSICAL name on column-mapped tables
    rs_config = dict(
        (repl_state.get("metadata") or {}).get("configuration") or {}
    )
    rs_schema = json.loads(repl_state["metadata"]["schemaString"])
    phys_of = {
        log: phys
        for phys, log in mapping_renames(rs_schema, rs_config).items()
    }
    new_high: dict[str, int] = {}
    for name, spec_ in identity.items():
        step, cur = spec_["step"], spec_["high"]
        stat_key = phys_of.get(name, name)
        extreme: int | None = None
        for a in add_actions:
            st = json.loads(a["add"].get("stats") or "{}")
            v = (st.get("maxValues") if step > 0 else st.get("minValues")
                 ) or {}
            if stat_key in v:
                x = int(v[stat_key])
                extreme = x if extreme is None else (
                    max(extreme, x) if step > 0 else min(extreme, x)
                )
        if extreme is None:
            if any(
                json.loads(a["add"].get("stats") or "{}").get("numRecords")
                for a in add_actions
            ):
                # explicit inserts silently skipping the sync would leave
                # a stale mark for the next (possibly foreign) generator
                # to re-assign ids from (review r10 pass 2)
                raise DeltaProtocolError(
                    f"identity column {name!r}: the commit's files carry "
                    "no footer statistics for it (is it a partition "
                    "column?) — cannot advance the high-water mark "
                    "safely; aborting the commit"
                )
            continue
        beyond = (extreme > (cur if cur is not None else extreme - 1)
                  if step > 0 else
                  extreme < (cur if cur is not None else extreme + 1))
        if beyond:
            new_high[name] = extreme
    if not new_high:
        return None
    meta = dict(repl_state["metadata"])
    sj = json.loads(meta["schemaString"])
    for f in sj["fields"]:
        if f["name"] in new_high:
            fm = dict(f.get("metadata") or {})
            fm["delta.identity.highWaterMark"] = new_high[f["name"]]
            f["metadata"] = fm
    meta["schemaString"] = json.dumps(sj)
    return meta


def _row_tracking_active(repl_state: dict) -> bool:
    proto = repl_state.get("protocol") or {}
    return "rowTracking" in set(proto.get("writerFeatures") or [])


def _assign_row_tracking(
    add_actions: list[dict], repl_state: dict, version: int,
) -> dict | None:
    """ROW TRACKING writer obligation (PROTOCOL.md 'Row Tracking', the v7
    ``rowTracking`` feature): every new add action gets a ``baseRowId``
    (fresh row ids = baseRowId + position) past the table's
    ``rowIdHighWaterMark`` (kept in the ``delta.rowTracking``
    domain-metadata action) and a ``defaultRowCommitVersion``; the
    returned domainMetadata action advances the mark in the SAME commit.
    Driver-side integer bookkeeping over footer stats — no data I/O.
    Files RE-ADDED with their existing baseRowId (DV deletes) keep it —
    callers only pass the commit's NEW adds here."""
    dm = (repl_state.get("domain_metadata") or {}).get("delta.rowTracking")
    if dm and dm.get("removed"):
        # tombstoned mark with the feature still declared: never restart
        # at 0 (row ids must not be reused) — the LIVE files' spans below
        # reconstruct a safe mark instead
        dm = None
    hwm = -1
    # live files' assigned spans floor the mark: a dropped/tombstoned
    # domain (e.g. a checkpoint that expired the tombstone) can then
    # never cause id reuse — the mark is recomputable from the adds
    for add in (repl_state.get("_live_adds") or {}).values():
        base = add.get("baseRowId")
        if base is None:
            continue
        n = json.loads(add.get("stats") or "{}").get("numRecords") or 0
        hwm = max(hwm, int(base) + int(n) - 1)
    if dm and dm.get("configuration"):
        try:
            parsed = json.loads(dm["configuration"])
            if not isinstance(parsed, dict):
                raise ValueError("not a JSON object")
            hwm = max(hwm, int(parsed.get("rowIdHighWaterMark", -1)))
        except (ValueError, TypeError):
            raise DeltaProtocolError(
                "delta.rowTracking domain metadata carries an unparseable "
                f"configuration {dm.get('configuration')!r} — refusing to "
                "assign row ids from an unknown mark"
            ) from None
    assigned = False
    for a in add_actions:
        add = a["add"]
        n = json.loads(add.get("stats") or "{}").get("numRecords")
        if n is None:
            raise DeltaProtocolError(
                f"row tracking: add action {add.get('path')!r} carries no "
                "numRecords stat — cannot assign baseRowId safely; "
                "aborting the commit"
            )
        if int(n) == 0:
            # empty part files hold no rows to id — assigning a base
            # would duplicate the next file's (review r10 pass 5 probe)
            continue
        add["baseRowId"] = hwm + 1
        add["defaultRowCommitVersion"] = version
        hwm += int(n)
        assigned = True
    if not assigned:
        return None
    return {"domainMetadata": {
        "domain": "delta.rowTracking",
        "configuration": json.dumps({"rowIdHighWaterMark": hwm}),
        "removed": False,
    }}


# table-property keys naming the MATERIALIZED row-tracking columns
# (PROTOCOL.md 'Row Tracking': rewrites preserve carried rows' ids by
# writing them into these physical parquet columns; the names live in
# the table configuration so every writer materializes consistently)
_RT_ID_KEY = "delta.rowTracking.materializedRowIdColumnName"
_RT_VER_KEY = "delta.rowTracking.materializedRowCommitVersionColumnName"


def read_delta_row_lineage(spark, path: str, version: int | None = None):
    """Snapshot read of a rowTracking table PLUS each row's stable
    ``_row_id`` and ``_row_commit_version`` (PROTOCOL.md 'Row Tracking'
    reader rule): the MATERIALIZED column value when the data file
    carries one (column names from the table configuration's
    ``delta.rowTracking.materializedRow*ColumnName`` keys), else the
    FRESH value — the add action's ``baseRowId`` + the row's physical
    position / the add's ``defaultRowCommitVersion``. Rows from files
    added before the feature was enabled (no baseRowId) read null ids
    until a rewrite assigns them. Scale: a broadcast (file -> base,
    version) map join over footer-derived positions — no extra shuffle,
    no data pass beyond the scan itself."""
    table_dir = Path(path)
    live, schema_string, _, _, state = _replay_log(
        table_dir, version, return_state=True
    )
    if not _row_tracking_active(state):
        raise DeltaProtocolError(
            "row tracking is not enabled on this table (no rowTracking "
            "writer feature) — there are no row ids to project"
        )
    schema_json = json.loads(schema_string)
    config = dict((state.get("metadata") or {}).get("configuration") or {})
    names = [f["name"] for f in schema_json["fields"]]
    clash = {"_row_id", "_row_commit_version"} & set(names)
    if clash:
        raise DeltaProtocolError(
            f"table schema uses the projection names {sorted(clash)} — "
            "cannot project row lineage"
        )
    mat_id = config.get(_RT_ID_KEY)
    mat_ver = config.get(_RT_VER_KEY)
    if mapping_mode(config) == "id" and (mat_id or mat_ver):
        raise DeltaProtocolError(
            "row-lineage projection on an id-mode column-mapped table "
            "with materialized row-tracking columns is not implemented "
            "(materialized columns resolve by NAME, id-mode data columns "
            "by field id — mixed resolution)"
        )
    return _lineage_scan(
        spark, table_dir, live, sorted(live), schema_json, config,
        mat_id, mat_ver,
    )


def _lineage_scan(
    spark, table_dir: Path, live, kept, schema_json, config,
    mat_id: str | None, mat_ver: str | None,
):
    """Scan ``kept`` add paths with per-row (_row_id, _row_commit_version)
    attached (materialized column value, else baseRowId + position /
    defaultRowCommitVersion) — the shared back half of
    ``read_delta_row_lineage`` and the rowTracking DML paths, which scan
    only their touched files.

    Per-file constants (baseRowId, defaultRowCommitVersion) resolve via
    :func:`evolution_spark.io.scan_filters.per_file_constant_columns` —
    map-literal fast path / decoded-path broadcast-join fallback, shared
    with the Iceberg v3 lineage projection."""
    from pyspark.sql import functions as F

    names = [f["name"] for f in schema_json["fields"]]
    scan_json = dict(schema_json)
    scan_json["fields"] = list(schema_json["fields"]) + [
        {"name": m, "type": "long", "nullable": True, "metadata": {}}
        for m in (mat_id, mat_ver)
        if m
    ]
    sdf = _logical_scan(
        spark, table_dir, live, kept, scan_json, config,
        with_lineage=True,
    )
    root = table_dir.resolve()
    per_file = [
        (
            _resolved_add_path(root, p),
            (
                live[p].get("baseRowId"),
                live[p].get("defaultRowCommitVersion"),
            ),
        )
        for p in sorted(kept)
    ]
    if not per_file:
        # zero-file scan (insert-only MERGE with no range hits / empty
        # table): no rows, but the projection must still type-check —
        # an empty create_map() is VOID-keyed and fails analysis
        id_expr = F.lit(None).cast("long")
        ver_expr = F.lit(None).cast("long")
    else:
        from evolution_spark.io.scan_filters import per_file_constant_columns

        sdf, (base_c, ver_c) = per_file_constant_columns(
            sdf, per_file, "__src_bn", "__src_fp"
        )
        id_expr = base_c + F.col("__src_ri")
        ver_expr = ver_c
    if mat_id:
        id_expr = F.coalesce(F.col(mat_id), id_expr)
    if mat_ver:
        ver_expr = F.coalesce(F.col(mat_ver), ver_expr)
    return sdf.select(
        *names,
        id_expr.alias("_row_id"),
        ver_expr.alias("_row_commit_version"),
    )


def ensure_row_tracking_materialized(path: str) -> tuple[str, str]:
    """Idempotently assign the table's MATERIALIZED row-tracking column
    names (PROTOCOL.md 'Row Tracking': writers must record the physical
    column names in the table configuration BEFORE materializing ids into
    rewritten files). Returns (row-id column, row-commit-version column);
    publishes one metaData-only commit when the keys were absent.
    uuid-suffixed names cannot collide with schema columns, but the
    guard still checks logical AND physical names."""
    table_dir = Path(path)
    _, schema_string, _, latest, state = _replay_log(
        table_dir, return_state=True
    )
    # a commit must honor the writer protocol like every other commit
    # path (review r11 pass 1: publishing a metaData action to a table
    # whose writerFeatures we do not implement would violate its contract)
    _check_writer_protocol(state.get("protocol"), schema_string)
    if not _row_tracking_active(state):
        raise DeltaProtocolError(
            "row tracking is not enabled on this table — nothing to "
            "materialize"
        )
    config = dict((state.get("metadata") or {}).get("configuration") or {})
    if mapping_mode(config) == "id":
        # review r11 pass 3: every other write path refuses id-mode
        # tables up front; publishing a metaData commit into a table
        # this engine declares read-only would be a write
        raise DeltaProtocolError(
            "delta.columnMapping.mode='id' is read-only in this engine; "
            "materializing row-tracking column names would publish a "
            "commit into an id-mode table — refusing up front"
        )
    if config.get(_RT_ID_KEY) and config.get(_RT_VER_KEY):
        return config[_RT_ID_KEY], config[_RT_VER_KEY]
    schema_json = json.loads(schema_string)
    taken = {f["name"] for f in schema_json["fields"]} | {
        (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"]
        )
        for f in schema_json["fields"]
    }
    suffix = uuid.uuid4().hex[:12]
    id_name = config.get(_RT_ID_KEY) or f"_row-id-col-{suffix}"
    ver_name = config.get(_RT_VER_KEY) or f"_row-commit-col-{suffix}"
    if {id_name, ver_name} & taken:
        raise DeltaProtocolError(
            f"generated materialized column names collide with schema "
            f"columns {sorted({id_name, ver_name} & taken)}"
        )
    metadata = dict(state["metadata"])
    metadata["configuration"] = {
        **config, _RT_ID_KEY: id_name, _RT_VER_KEY: ver_name,
    }
    _publish_commit(
        table_dir, latest + 1, [{"metaData": metadata}], "SET TBLPROPERTIES",
        {"properties": json.dumps({_RT_ID_KEY: id_name, _RT_VER_KEY: ver_name})},
        config=metadata["configuration"],
    )
    return id_name, ver_name


def _rt_materialized_names(path: str, replayed):
    """Steady-state fast path for the rowTracking DML/OPTIMIZE callers:
    when the materialized column names are already in the caller's
    replayed configuration, return them with the caller's replay intact —
    no commit, no second log replay (review r11 pass 3: the unconditional
    ensure + re-replay doubled the driver-side metadata cost of every DML
    after the first). Otherwise ensure_row_tracking_materialized (one
    metaData commit) and re-replay. Returns ((id, ver), replayed)."""
    state = replayed[4]
    config = dict((state.get("metadata") or {}).get("configuration") or {})
    if config.get(_RT_ID_KEY) and config.get(_RT_VER_KEY):
        return (config[_RT_ID_KEY], config[_RT_VER_KEY]), replayed
    names = ensure_row_tracking_materialized(path)
    return names, _replay_log(Path(path), return_state=True)


def _refuse_constrained_column(config: dict, col: str, what: str) -> None:
    """RENAME/DROP guard: a CHECK constraint referencing ``col`` would
    leave the table UN-WRITABLE (every later commit fails expression
    analysis inside _enforce_constraints), so the DDL must refuse — the
    upstream-Delta behavior. Detection is a conservative identifier-token
    match (string literals stripped, backticks unwrapped, case-
    insensitive like Delta's resolution): over-refusing an exotic
    constraint is safe, silently breaking writes is not."""
    import re as _re

    for cname, expr in _table_constraints(config).items():
        scrubbed = _re.sub(r"'(?:[^'\\]|\\.)*'", "''", expr)
        tokens = {
            t.lower()
            for t in _re.findall(r"`([^`]+)`|([A-Za-z_][A-Za-z0-9_]*)", scrubbed)
            for t in t if t
        }
        if col.lower() in tokens:
            raise ValueError(
                f"cannot {what} column {col!r}: CHECK constraint "
                f"{cname!r} references it ({expr!r}) — DROP CONSTRAINT "
                "first (upstream Delta refuses this DDL for the same "
                "reason: later writes could never re-validate)"
            )


def _enforce_constraints(
    spark, staged_path, config: dict, what: str, renames: dict | None = None,
    invariants: dict[str, str] | None = None,
    generated: dict[str, str] | None = None,
) -> None:
    """Writer obligation for CHECK constraints (protocol writer v3 / the
    v7 ``checkConstraints`` feature), legacy COLUMN INVARIANTS (writer
    v2, per-field ``delta.invariants`` metadata — same row-level contract,
    older encoding), and GENERATED COLUMNS (writer v4 / the v7
    ``generatedColumns`` feature — provided values must null-safe-equal
    the generation expression): every row a commit ADDS must satisfy
    every expression, or the commit must not happen. Validates the STAGED
    parquet output (already materialized — one cheap combined scan, no
    recompute of the source plan); the detailed per-expression probe runs
    only on the failure path. ``renames`` (physical -> logical) realigns
    column-mapped staging output so the expressions see the LOGICAL names
    they were written in."""
    from pyspark.sql import functions as F

    constraints = {
        **_table_constraints(config),
        **(invariants or {}),
        **(generated or {}),
    }
    if not constraints:
        return
    if renames and (
        (invariants and any("." in k[len("invariant("):-1]
                            for k in invariants))
        or generated  # generation exprs may reference ANY column by its
                      # logical name at any depth — the flat staging
                      # realignment can't guarantee nested references
    ):
        # flat staging renames can't realign NESTED physical names for the
        # expressions' dotted paths — refuse, don't mis-check
        raise DeltaProtocolError(
            f"{what}: column invariants/generated columns on a "
            "column-mapped table are not enforceable on this path when "
            "nested or expression-referenced names may be remapped — "
            "refusing to commit"
        )
    staged = spark.read.parquet(str(staged_path))
    if not staged.columns:
        return
    if renames:
        # one atomic projection (physical names may collide with other
        # fields' logical names on upgraded-in-place tables)
        staged = staged.select(
            *[F.col(c).alias(renames.get(c, c)) for c in staged.columns]
        )
    viol = None
    for expr in constraints.values():
        c = ~F.coalesce(F.expr(expr).cast("boolean"), F.lit(False))
        viol = c if viol is None else (viol | c)
    if staged.where(viol).limit(1).count() == 0:
        return
    for name, expr in sorted(constraints.items()):
        bad = staged.where(
            ~F.coalesce(F.expr(expr).cast("boolean"), F.lit(False))
        ).limit(1).collect()
        if bad:
            kind = ("column invariant" if name.startswith("invariant(")
                    else "generated column" if name.startswith("generated(")
                    else "CHECK constraint")
            raise DeltaProtocolError(
                f"{what} violates {kind} {name!r} ({expr}); "
                f"first offending row: {bad[0].asDict()} — the commit was "
                "aborted, no version was published"
            )


def add_delta_constraint(spark, path: str, name: str, expr: str) -> dict:
    """ALTER TABLE ... ADD CONSTRAINT (CHECK): record the expression
    under ``delta.constraints.<name>`` and upgrade the protocol to claim
    the obligation (v7 + ``checkConstraints``). Every subsequent
    row-adding commit (append, overwrite, MERGE, UPDATE) validates the
    constraint on the staged output and refuses on the first violation —
    the writer-v3 contract that keeps a table's invariants true at 100 TB
    without a post-hoc audit scan. The constraint must hold on the
    EXISTING rows too (checked here, one scan) — adding an already-
    violated constraint would make the obligation a lie."""
    table_dir = Path(path)
    live, schema_string, part_cols, latest, repl_state = _replay_log(
        table_dir, return_state=True
    )
    proto = repl_state.get("protocol") or dict(PROTOCOL)
    _check_writer_protocol(proto, schema_string)
    if not name.isidentifier():
        raise ValueError(f"constraint name {name!r} must be an identifier")
    config = dict((repl_state.get("metadata") or {}).get("configuration") or {})
    key = f"delta.constraints.{name}"
    if key in config:
        raise ValueError(f"constraint {name!r} already exists: {config[key]}")
    from pyspark.sql import functions as F

    existing = read_delta_snapshot(spark, path)
    bad = existing.where(
        ~F.coalesce(F.expr(expr).cast("boolean"), F.lit(False))
    ).limit(1).collect()
    if bad:
        raise DeltaProtocolError(
            f"cannot add CHECK constraint {name!r} ({expr}): existing row "
            f"violates it: {bad[0].asDict()}"
        )
    metadata = dict(repl_state["metadata"])
    metadata["configuration"] = {**config, key: expr}
    actions: list[dict] = []
    v_w = int(proto.get("minWriterVersion", 2))
    feats_w = set(proto.get("writerFeatures") or [])
    if not (v_w >= 7 and "checkConstraints" in feats_w) and v_w != 3:
        legacy_w = _legacy_writer_features(v_w)
        actions.append({"protocol": {
            "minReaderVersion": int(proto.get("minReaderVersion", 1)),
            "minWriterVersion": 7,
            **({"readerFeatures": sorted(set(proto.get("readerFeatures") or []))}
               if int(proto.get("minReaderVersion", 1)) >= 3 else {}),
            "writerFeatures": sorted(
                feats_w | legacy_w | {"checkConstraints"}
            ),
        }})
    actions.append({"metaData": metadata})
    version = latest + 1
    _publish_commit(table_dir, version, actions, "ADD CONSTRAINT",
                    {"name": name, "expr": expr}, config=config)
    return {"version": version, "name": name, "expr": expr}


def drop_delta_constraint(path: str, name: str) -> dict:
    """ALTER TABLE ... DROP CONSTRAINT: metadata-only removal."""
    table_dir = Path(path)
    live, schema_string, part_cols, latest, repl_state = _replay_log(
        table_dir, return_state=True
    )
    _check_writer_protocol(repl_state.get("protocol"), schema_string)
    config = dict((repl_state.get("metadata") or {}).get("configuration") or {})
    key = f"delta.constraints.{name}"
    if key not in config:
        raise ValueError(
            f"no constraint {name!r} on this table "
            f"(have {sorted(_table_constraints(config))})"
        )
    metadata = dict(repl_state["metadata"])
    metadata["configuration"] = {
        k: v for k, v in config.items() if k != key
    }
    version = latest + 1
    _publish_commit(table_dir, version, [{"metaData": metadata}],
                    "DROP CONSTRAINT", {"name": name}, config=config)
    return {"version": version, "name": name}


def delta_table_history(spark, path: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per commit — version, operation, the
    operationParameters JSON, and the commit's add/remove/cdc action
    counts — the audit surface every Delta user queries before a RESTORE
    or an incident review. Driver-side metadata only (one pass over the
    log, one row per commit, never per file beyond counting)."""
    table_dir = Path(path)
    log_dir = table_dir / "_delta_log"
    versions = _log_versions(log_dir)
    if not versions:
        raise FileNotFoundError(f"no Delta log at {log_dir}")
    rows = []
    for v in versions:
        acts = [
            json.loads(line)
            for line in (log_dir / f"{v:020d}.json").read_text().splitlines()
        ]
        info = next((a["commitInfo"] for a in acts if "commitInfo" in a), {})
        rows.append((
            v,
            info.get("operation", "UNKNOWN"),
            json.dumps(info.get("operationParameters") or {},
                       sort_keys=True),
            int(info.get("timestamp") or 0),
            sum(1 for a in acts if "add" in a),
            sum(1 for a in acts if "remove" in a),
            sum(1 for a in acts if "cdc" in a),
        ))
    return spark.createDataFrame(
        rows,
        "version long, operation string, operation_parameters string, "
        "timestamp_ms long, n_add_actions int, n_remove_actions int, "
        "n_cdc_actions int",
    )
