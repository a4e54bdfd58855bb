"""`evolution_iceberg` — the Iceberg twin of `evolution_delta`: the
native snapshot/manifest reader exposed as a real Spark DataSource
(PySpark 4 Python DataSource API), batch + streaming, read AND write:

    spark.dataSource.register(EvolutionIcebergDataSource)
    spark.read.format("evolution_iceberg").load(path)
    spark.read.format("evolution_iceberg").option("snapshot", id).load(path)
    df.write.format("evolution_iceberg").mode("append").save(path)
    df.writeStream.format("evolution_iceberg")
      .option("txnAppId", "pipeline").start(path)   # exactly-once

One input partition per data file; each executor applies its own file's
POSITION DELETES directly to the Arrow batches (the delete files'
(file, pos) pairs are grouped per data file driver-side and shipped as a
compact roaring bitmap — the same `_FileSlice`/`_read_slice` machinery as
the Delta source, so a masking fix lands once). Identity-partition values
come TYPED from the manifest entries (never re-parsed from paths).
Equality deletes refuse loudly, as everywhere in this engine.

Options: ``snapshot`` (time travel by snapshot id), ``partition.<col>``
(metadata-level partition pruning, e.g. ``.option("partition.p", "1")`` —
the DataSource API has no pushdown hook for arbitrary predicates, so the
same equality pruning read_iceberg_table does via ``partition_where`` is
exposed as options)."""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
)

from evolution_spark.io.delta_source import (
    _FileSlice,
    _read_slice,
    _reclaim_stages,
    _write_shard,
)


def _plan_iceberg_slices(
    table_path: str, snapshot_id=None, partition_where=None,
    use_current_schema=False,
):
    """Driver-side: manifest walk -> (spark schema, slices). Position
    deletes are read with pyarrow (driver-side — delete files are the
    changed-row set, metadata-sized) and grouped per target data file."""
    import numpy as np
    import pyarrow.parquet as papq

    from evolution_spark.io.deletion_vectors import serialize_roaring64
    from evolution_spark.io.avro import _read_avro, _read_avro_with_meta
    from evolution_spark.io.iceberg_meta import (
        IcebergFormatError,
        _load_metadata,
        spark_schema_of,
    )

    table_dir = Path(table_path)
    metadata, _ = _load_metadata(table_dir)
    current = (
        snapshot_id if snapshot_id is not None else metadata["current-snapshot-id"]
    )
    try:
        snapshot = next(
            s for s in metadata["snapshots"] if s["snapshot-id"] == current
        )
    except StopIteration:
        known = [s["snapshot-id"] for s in metadata["snapshots"]]
        raise ValueError(f"snapshot {current} not in table history {known}")

    specs_by_id = {
        sp["spec-id"]: sp["fields"]
        for sp in metadata.get("partition-specs") or []
    }
    resolved_by_spec: dict[int, list | None] = {}
    if partition_where:
        # option values arrive stringly; the shared resolver coerces by
        # the SPEC's types (int-guessing would silently prune everything
        # on string/date partitions), applies transforms to SOURCE-column
        # literals, and rejects unknown keys loudly — a typo'd key would
        # otherwise prune ALL files into an empty result
        from evolution_spark.io.iceberg_transforms import (
            resolve_partition_where,
        )

        if not specs_by_id:
            raise IcebergFormatError(
                "metadata declares no partition-specs — cannot resolve "
                "partition options against a spec-less table"
            )
        cur_schema = next(
            s for s in metadata["schemas"]
            if s["schema-id"] == metadata["current-schema-id"]
        )
        # per-SPEC resolution: a key only SOME spec epochs can express
        # prunes exactly those epochs' manifests; a key NO spec resolves
        # is a typo and raises (same rule as read_iceberg_table)
        last_err = None
        for sid, sp_fields in specs_by_id.items():
            try:
                resolved_by_spec[sid] = resolve_partition_where(
                    partition_where, sp_fields, cur_schema["fields"],
                    stringly=True,
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

    data_entries: list[tuple[dict, int]] = []  # (data_file, schema-id)
    delete_files: list[str] = []
    dv_entries: list[dict] = []  # v3 Puffin deletion-vector placements
    for mf in _read_avro(Path(snapshot["manifest-list"])):
        is_delete_manifest = int(mf.get("content") or 0) == 1
        mf_spec = int(mf.get("partition_spec_id") or 0)
        mf_entries, mf_meta = _read_avro_with_meta(Path(mf["manifest_path"]))
        try:
            mf_sid = int((mf_meta.get("schema-id") or b"").decode())
        except ValueError:
            mf_sid = metadata["current-schema-id"]
        for entry in mf_entries:
            if entry["status"] == 2:
                continue
            dfile = entry["data_file"]
            content = int(dfile.get("content") or 0)
            if is_delete_manifest:
                if content == 1 and dfile.get("referenced_data_file"):
                    # v3 deletion vector: Puffin blob scoped to ONE data
                    # file (round 10 — was read as parquet and crashed)
                    dv_entries.append(dfile)
                    continue
                if content == 1:
                    delete_files.append(dfile["file_path"])
                    continue
                raise IcebergFormatError(
                    f"delete file {dfile['file_path']} carries content="
                    f"{content}; position deletes only"
                )
            rw = _resolved_for(mf_spec) if partition_where else []
            if rw and any(
                dfile.get("partition", {}).get(k) != v
                for k, v in rw
            ):
                continue
            data_entries.append((dfile, mf_sid))

    from evolution_spark.io.scan_filters import plain_path

    # key deleted positions by the NORMALIZED path: delete files may
    # record targets as plain paths or URIs (read_iceberg_table handles
    # the same ambiguity scan-side) — raw-string keying would silently
    # resurrect every deleted row of a URI-recorded target
    pos_by_file: dict[str, list[int]] = {}
    for dfp in delete_files:
        t = papq.read_table(dfp, columns=["file_path", "pos"])
        for fp, pos in zip(
            t.column("file_path").to_pylist(), t.column("pos").to_pylist()
        ):
            pos_by_file.setdefault(plain_path(fp), []).append(int(pos))
    if dv_entries:
        from evolution_spark.io.puffin import read_puffin_dv

        for d in dv_entries:
            pos_by_file.setdefault(
                plain_path(d["referenced_data_file"]), []
            ).extend(int(p) for p in read_puffin_dv(
                d["file_path"], int(d["content_offset"]),
                int(d["content_size_in_bytes"]),
            ))

    # current read: CURRENT schema (metadata-only evolution creates no
    # snapshot); time travel: the snapshot's recorded schema.
    # use_current_schema: the STREAM's initial snapshot pins the file
    # list by snapshot id but its read() projects with the pinned CURRENT
    # schema — resolving renames against the old schema would emit the
    # renamed column as all-null
    if snapshot_id is None or use_current_schema:
        sid = metadata["current-schema-id"]
    else:
        sid = snapshot.get("schema-id", metadata["current-schema-id"])
        if sid is None:
            sid = metadata["current-schema-id"]
    ice_schema = next(
        s for s in metadata["schemas"] if s["schema-id"] == sid
    )
    schema = spark_schema_of(ice_schema)
    # per-schema-group physical->logical renames (rename evolution): a
    # file written under an older schema stores the OLD column names;
    # field-id stability maps them to the wanted names. Widened types are
    # upcast executor-side in _read_slice.
    want_by_id = {f["id"]: f["name"] for f in ice_schema["fields"]}
    renames_of: dict[int, dict[str, str]] = {}
    defaults_of: dict[int, dict[str, object]] = {}
    for g in {g for _, g in data_entries}:
        if g == sid:
            renames_of[g] = {}
            defaults_of[g] = {}
            continue
        g_schema = next(
            (s for s in metadata["schemas"] if s["schema-id"] == g), None
        )
        if g_schema is None:
            from evolution_spark.io.iceberg_meta import IcebergFormatError

            raise IcebergFormatError(f"manifest references unknown schema-id {g}")
        renames_of[g] = {
            f["name"]: want_by_id[f["id"]]
            for f in g_schema["fields"]
            if f["id"] in want_by_id and f["name"] != want_by_id[f["id"]]
        }
        # v3 'Default values': columns added AFTER these files were
        # written read their initial-default — injected through the same
        # typed-constant mechanism as partition values (real partition
        # values take precedence in the merge below)
        from evolution_spark.io.iceberg_meta import decode_initial_default

        g_ids = {f["id"] for f in g_schema["fields"]}
        defaults_of[g] = {
            f["name"]: decode_initial_default(f)
            for f in ice_schema["fields"]
            if f["id"] not in g_ids and f.get("initial-default") is not None
        }
    slices = []
    for dfile, g in sorted(data_entries, key=lambda d: d[0]["file_path"]):
        fp = dfile["file_path"]
        pos = pos_by_file.get(plain_path(fp))
        blob = (
            serialize_roaring64(np.asarray(sorted(set(pos)), dtype=np.uint64))
            if pos
            else None
        )
        slices.append(
            _FileSlice(
                fp, blob,
                {**defaults_of[g], **dict(dfile.get("partition") or {})},
                renames_of[g],
            )
        )
    return schema, slices


class _IcebergBatchReader(DataSourceReader):
    def __init__(self, schema_json: str, slices):
        self.schema_json = schema_json
        self.slices = slices

    def partitions(self):
        return self.slices

    def read(self, partition):
        yield from _read_slice(partition, self.schema_json)


class EvolutionIcebergDataSource(DataSource):
    def _plan(self):
        if not hasattr(self, "_cached_plan"):
            path = self.options.get("path")
            if not path:
                raise ValueError(
                    "evolution_iceberg requires a path (.load(path))"
                )
            snap = self.options.get("snapshot")
            part = {
                k[len("partition."):]: v
                for k, v in self.options.items()
                if k.startswith("partition.")
            }
            self._cached_plan = _plan_iceberg_slices(
                path,
                int(snap) if snap is not None else None,
                part or None,
            )
        return self._cached_plan

    @classmethod
    def name(cls):
        return "evolution_iceberg"

    def schema(self):
        return self._plan()[0]

    def reader(self, schema):
        sch, slices = self._plan()
        return _IcebergBatchReader(sch.json(), slices)

    def streamReader(self, schema):
        return _IcebergStreamReader(self.options)

    def writer(self, schema, overwrite):
        if overwrite:
            raise ValueError(
                "evolution_iceberg sink is append-only (mode('append')); "
                "overwrites go through write_iceberg_table/"
                "compact_iceberg_table"
            )
        return _IcebergBatchWriter(self.options, schema.json())

    def streamWriter(self, schema, overwrite):
        if overwrite:
            raise ValueError(
                "evolution_iceberg sink is append-only (outputMode "
                "'append'); complete/update modes would re-append every "
                "trigger's cumulative result"
            )
        return _IcebergStreamWriter(self.options, schema.json())


def register_iceberg_source(spark) -> None:
    """Idempotently register the format for this session."""
    spark.dataSource.register(EvolutionIcebergDataSource)


class _IcebergStreamReader(DataSourceStreamReader):
    """Structured Streaming over native Iceberg metadata: offsets are the
    table's monotonic SEQUENCE NUMBERS. The first micro-batch is the
    CURRENT snapshot (position deletes applied per file), later batches
    read exactly the data files each append snapshot added. Non-append
    snapshots after the start (delete/replace) fail the stream — the
    consumer's view would silently diverge — unless ``ignoreChanges``
    opts into skipping them."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("evolution_iceberg requires a path (.load(path))")
        self.ignore_changes = str(
            options.get("ignoreChanges", "false")
        ).lower() == "true"
        # schema from the metadata alone — the full slice plan (manifest
        # walk + delete-file reads) is wasted work at stream start
        from evolution_spark.io.iceberg_meta import spark_schema_of

        md = self._metadata()
        if "last-sequence-number" not in md:
            raise ValueError(
                "streaming needs format-version 2 sequence numbers; this "
                "table's metadata has none (v1?) — batch reads still work"
            )
        cur = next(
            s for s in md["schemas"]
            if s["schema-id"] == md["current-schema-id"]
        )
        self._pinned_schema_id = md["current-schema-id"]
        self.schema_json = spark_schema_of(cur).json()

    def _metadata(self):
        from evolution_spark.io.iceberg_meta import _load_metadata

        return _load_metadata(Path(self.path))[0]

    def initialOffset(self):
        return {"seq": -1, "snapshot_done": False}

    def latestOffset(self):
        return {
            "seq": self._metadata()["last-sequence-number"],
            "snapshot_done": True,
        }

    def partitions(self, start, end):
        from evolution_spark.io.avro import _read_avro

        metadata = self._metadata()
        if metadata["current-schema-id"] != self._pinned_schema_id:
            # mirror the Delta source: the reader pinned the schema at
            # stream start; files written under a later schema would be
            # silently mis-projected (renamed columns read as null)
            raise RuntimeError(
                "table schema changed mid-stream (schema-id "
                f"{self._pinned_schema_id} -> {metadata['current-schema-id']})"
                " — restart the stream to pick up the new schema"
            )
        lo, hi = int(start["seq"]), int(end["seq"])
        if not start.get("snapshot_done", True):
            # initial snapshot: the newest snapshot at or below `hi`
            candidates = [
                s for s in metadata["snapshots"]
                if int(s.get("sequence-number") or 0) <= hi
            ]
            if not candidates:
                return []
            # newest by SEQUENCE (the snapshots array's order is not
            # guaranteed by the spec)
            snap = max(candidates, key=lambda s: int(s.get("sequence-number") or 0))
            _, slices = _plan_iceberg_slices(
                self.path, snapshot_id=snap["snapshot-id"],
                use_current_schema=True,
            )
            return slices
        out = []
        for snap in metadata["snapshots"]:
            seq = int(snap.get("sequence-number") or 0)
            if seq <= lo or seq > hi:
                continue
            op = snap["summary"].get("operation", "append")
            if op != "append":
                if self.ignore_changes:
                    continue
                raise RuntimeError(
                    f"snapshot {snap['snapshot-id']} (seq {seq}) has "
                    f"operation {op!r}; the stream cannot represent row "
                    "deletion/rewrites — set ignoreChanges=true to skip, "
                    "or consume iceberg_table_changes() instead"
                )
            sid = snap["snapshot-id"]
            for mf in _read_avro(Path(snap["manifest-list"])):
                if mf.get("added_snapshot_id") != sid:
                    continue
                if int(mf.get("content") or 0) != 0:
                    continue  # delete manifests can't appear in appends
                for entry in _read_avro(Path(mf["manifest_path"])):
                    if entry["status"] != 1:
                        continue
                    dfile = entry["data_file"]
                    out.append(
                        _FileSlice(
                            dfile["file_path"], None,
                            dict(dfile.get("partition") or {}), {},
                        )
                    )
        return out

    def read(self, partition):
        yield from _read_slice(partition, self.schema_json)

    def commit(self, end):
        pass


# --------------------------------------------------------------------------
# write side: batch append + EXACTLY-ONCE streaming sink (the Delta twin's
# stage-shards -> one-atomic-snapshot-per-commit design, delta_source.py)
# --------------------------------------------------------------------------


def _commit_iceberg_shards(
    path: str, messages, txn=None, written_schema_json=None
) -> None:
    """DRIVER-side commit: move the executor-staged shards under ``data/``
    and publish them as ONE append snapshot via the same
    ``_commit_files_as_snapshot`` core the DataFrame append uses. ``txn``
    carries the streaming (appId, batchId) pair, recorded as
    ``evolution.txn-*`` snapshot-summary properties for exactly-once
    replay skipping (``last_iceberg_txn``)."""
    import os as _os
    import uuid as _uuid

    from pyspark.sql.types import StructType

    from evolution_spark.io.iceberg_meta import (
        _commit_files_as_snapshot,
        _load_metadata,
        spark_schema_of,
    )

    shards = [m for m in messages if m is not None and m.rows > 0]
    table_dir = Path(path)
    if not (table_dir / "metadata" / "version-hint.text").exists():
        raise RuntimeError(
            "evolution_iceberg sink appends to an EXISTING table — create "
            "it first with write_iceberg_table (the sink cannot invent the "
            "table's schema/spec metadata from shards alone)"
        )
    metadata, prev_meta_file = _load_metadata(table_dir)
    if int(metadata.get("format-version", 1)) != 2:
        raise RuntimeError(
            f"sink requires a format-version 2 table, got "
            f"{metadata.get('format-version')}"
        )
    if metadata.get("current-snapshot-id") is None:
        raise RuntimeError(
            "table has no current snapshot; the sink appends to a table "
            "with at least one committed snapshot (write_iceberg_table "
            "creates one)"
        )
    spec_fields = next(
        sp for sp in metadata["partition-specs"]
        if sp["spec-id"] == metadata["default-spec-id"]
    )["fields"]
    if spec_fields:
        raise RuntimeError(
            "evolution_iceberg sink supports unpartitioned tables (shards "
            "carry no partition layout); write partitioned data with "
            "append_iceberg_snapshot"
        )
    ice_schema = next(
        s for s in metadata["schemas"]
        if s["schema-id"] == metadata["current-schema-id"]
    )
    if written_schema_json is not None:
        # refuse loudly on a schema mismatch — committing shards with the
        # wrong columns would read back as silent all-null rows
        expected = spark_schema_of(ice_schema)
        got = StructType.fromJson(json.loads(written_schema_json))
        want_sig = [(f.name, f.dataType) for f in expected.fields]
        got_sig = [(f.name, f.dataType) for f in got.fields]
        if want_sig != got_sig:
            raise RuntimeError(
                f"schema mismatch vs table: writing "
                f"{[(n, t.simpleString()) for n, t in got_sig]} into a "
                f"table declaring "
                f"{[(n, t.simpleString()) for n, t in want_sig]} — align "
                "the DataFrame columns"
            )
    if not shards:
        return
    seq = metadata["last-sequence-number"] + 1
    data_dir = table_dir / "data"
    data_dir.mkdir(parents=True, exist_ok=True)
    moved = []
    for m in shards:
        dest = data_dir / f"part-s{seq:05d}-{_uuid.uuid4().hex}.parquet"
        _os.replace(m.path, dest)
        moved.append(dest)
    extra = (
        {"evolution.txn-app-id": txn[0], "evolution.txn-batch-id": txn[1]}
        if txn is not None
        else None
    )
    _commit_files_as_snapshot(
        table_dir, metadata, prev_meta_file, moved, "append",
        extra_summary=extra,
    )


class _IcebergBatchWriter(DataSourceWriter):
    def __init__(self, options, schema_json):
        import uuid as _uuid

        self.path = options.get("path")
        if not self.path:
            raise ValueError(
                "evolution_iceberg sink requires a path (.save(path))"
            )
        self.schema_json = schema_json
        # per-writer staging dir: a concurrent job's abort can never
        # rmtree this write's in-flight shards
        self.stage = str(
            Path(self.path) / f"_staging_sink-{_uuid.uuid4().hex}"
        )

    def write(self, iterator):
        return _write_shard(iterator, self.schema_json, self.stage)

    def commit(self, messages):
        try:
            _commit_iceberg_shards(
                self.path, messages, written_schema_json=self.schema_json
            )
        finally:
            _reclaim_stages(messages, self.stage)

    def abort(self, messages):
        _reclaim_stages(messages, self.stage)


class _IcebergStreamWriter(DataSourceStreamWriter):
    """EXACTLY-ONCE streaming sink: each micro-batch commits as ONE
    Iceberg snapshot whose summary carries the sink's txn identity; a
    replayed batch (post-crash re-delivery) is detected via
    ``last_iceberg_txn`` and skipped — the contract of the Delta twin
    (delta_source._StreamWriter), on Iceberg metadata."""

    def __init__(self, options, schema_json):
        import uuid as _uuid

        self.path = options.get("path")
        if not self.path:
            raise ValueError("evolution_iceberg sink requires a path")
        # exactly-once NEEDS a stable per-pipeline identity: a shared
        # default would make one query's batchIds mask another's
        self.app_id = options.get("txnAppId")
        if not self.app_id:
            raise ValueError(
                "evolution_iceberg sink requires .option('txnAppId', "
                "<stable per-pipeline id>) — the txn identity that makes "
                "replayed micro-batches idempotent"
            )
        self.schema_json = schema_json
        self.stage = str(
            Path(self.path) / f"_staging_sink-{_uuid.uuid4().hex}"
        )

    def write(self, iterator):
        return _write_shard(iterator, self.schema_json, self.stage)

    def commit(self, messages, batchId):
        from evolution_spark.io.iceberg_meta import last_iceberg_txn

        seen = last_iceberg_txn(self.path, self.app_id)
        if seen is not None and batchId <= seen:
            # replayed batch: already committed — exactly-once
            _reclaim_stages(messages, self.stage)
            return
        try:
            _commit_iceberg_shards(
                self.path, messages, txn=(self.app_id, batchId),
                written_schema_json=self.schema_json,
            )
        finally:
            _reclaim_stages(messages, self.stage)

    def abort(self, messages, batchId):
        _reclaim_stages(messages, self.stage)
