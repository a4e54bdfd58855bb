"""`evolution_delta` — a real Spark DataSource (PySpark 4 Python
DataSource API) over the native Delta log reader, batch AND streaming:

    spark.dataSource.register(EvolutionDeltaDataSource)
    spark.read.format("evolution_delta").load(path)            # batch
    spark.readStream.format("evolution_delta").load(path)      # incremental

Why this exists: `read_delta_snapshot` returns a DataFrame built from a
file list + anti-joins; this source instead plugs the SAME log/DV/
column-mapping semantics into Spark's source contract, which buys
(a) partition-level parallelism planned by Spark (one input partition per
live file), (b) per-file DV application WITHOUT any join — each executor
drops its own file's deleted positions from the Arrow batches directly,
and (c) a genuine Structured Streaming source whose offsets are log
versions — the first micro-batch is the CURRENT SNAPSHOT (DV-masked, so
streams start cleanly on tables whose history contains deletes or
overwrites), and every later micro-batch reads exactly the files the new
commits added, the incremental-consumption contract of the real Delta
source (non-append changes after the start fail the stream unless
`ignoreChanges` / `skipChangeCommits` opt into a weaker contract).

Executors yield pyarrow RecordBatches (Arrow-native, no per-row Python);
the driver side only replays the metadata-sized log. Batch options:
``version`` (time travel). Streaming options: ``startingVersion``
(INCLUSIVE, like the real source: replay appends from that version
instead of snapshotting), ``ignoreChanges`` (re-emit a non-append
commit's files — upstream's at-least-once semantics: live rows of
rewritten files arrive AGAIN, deleted rows never do because each file's
DV is applied), ``skipChangeCommits`` (skip non-append commits
entirely — rows changed mid-stream are simply not re-delivered).

WHEN TO PREFER THE LIBRARY READERS: ``read_delta_snapshot`` plans the
scan as a native JVM parquet read (anti-joining metadata-sized DV/delete
tables), so a batch query pays no Python in the row path at all; this
DataSource pays the Python-worker Arrow bridge per batch (~0.8 s
constant at sf0.1, independent of data size). Use the DataSource when
you need the *source contract* — Structured Streaming, format-string
composability, per-file executor-side DV masking with no join — and
``read_delta_snapshot`` for latency-sensitive batch reads.

The reference engine has no source integration at all (its targets are
``todo!()`` — crates/evolution-target/src/target.rs:31-37); this is the
Spark-first shape such an integration should take."""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


class _FileSlice(InputPartition):
    """One live data file: everything an executor needs to produce its
    rows — absolute path, serialized DV bitmap (or None), the file's
    hive partition values (stringly, with their column names), and the
    physical->logical rename map (column mapping)."""

    def __init__(self, abs_path, dv_blob, partition_values, renames,
                 field_ids=None, cdf=None):
        self.abs_path = abs_path
        self.dv_blob = dv_blob
        self.partition_values = partition_values
        self.renames = renames
        # id-mode tables: {parquet field id -> logical name}; executors
        # resolve each file's columns from ITS OWN footer ids (physical
        # names may differ per file — the point of id mode)
        self.field_ids = field_ids
        # readChangeFeed slices: (change_type | None, commit_version).
        # A None change_type means the file IS a cdc sidecar and carries
        # its own _change_type column; a string stamps every row (insert
        # slices from appends / the initial snapshot).
        self.cdf = cdf


def _plan_meta(table_path: str, version=None):
    """Metadata-only plan: (live adds, logical schema_json, renames,
    field_ids) — one log replay, NO deletion-vector I/O (that happens per
    slice only when slices are actually built). Column-mapping resolution
    and its refusals come from delta_log's shared surface
    (mapping_mode/_physical_renames/mapping_renames), so the source can
    never resolve columns differently from read_delta_snapshot.
    ``field_ids`` is None except in id mode, where it maps
    ``delta.columnMapping.id`` -> logical name for per-file footer
    resolution."""
    from evolution_spark.io.delta_log import (
        _physical_renames,
        _refuse_nested_mapping,
        _replay_log,
        mapping_mode,
        mapping_renames,
    )

    table_dir = Path(table_path)
    live, schema_string, _, _, state = _replay_log(
        table_dir, version, return_state=True
    )
    config = dict((state.get("metadata") or {}).get("configuration") or {})
    schema_json = json.loads(schema_string)
    if mapping_mode(config) == "id":
        # id-mode field-id schemas resolve FLAT only (per-file footer ids
        # carry no nesting path); name-mode nested structs resolve fine —
        # _read_slice renames recursively via physicalName metadata
        _refuse_nested_mapping(schema_json)
        # physicalName renames still translate partitionValues keys (and
        # act as a fallback for partition-only columns never in footers)
        renames = _physical_renames(schema_json)
        field_ids = {}
        for f in schema_json["fields"]:
            fid = (f.get("metadata") or {}).get("delta.columnMapping.id")
            if fid is None:
                from evolution_spark.io.delta_log import DeltaProtocolError

                raise DeltaProtocolError(
                    f"id-mode table field {f['name']!r} has no "
                    "delta.columnMapping.id — cannot resolve by field id"
                )
            field_ids[int(fid)] = f["name"]
        return live, schema_json, renames, field_ids
    renames = mapping_renames(schema_json, config)
    return live, schema_json, renames, None


def _plan_slices(table_path: str, version=None):
    """Driver-side: replay the log and return (logical_schema,
    [_FileSlice...], renames). Pure metadata work — no SparkSession
    needed."""
    table_dir = Path(table_path)
    live, schema_json, renames, field_ids = _plan_meta(table_path, version)
    slices = [
        _slice_of(table_dir, p, add, renames, field_ids)
        for p, add in sorted(live.items())
    ]
    return StructType.fromJson(schema_json), slices, renames


def _slice_of(table_dir: Path, stored_path: str, add: dict, renames,
              field_ids=None, cdf=None) -> _FileSlice:
    from urllib.parse import unquote

    from evolution_spark.io.deletion_vectors import (
        read_dv_positions,
        serialize_roaring64,
    )

    dv = add.get("deletionVector")
    blob = None
    if dv:
        # re-serialize to the portable bitmap so the executor payload is
        # compact and self-contained (no file/offset chasing worker-side)
        blob = serialize_roaring64(read_dv_positions(dv, table_dir))
    # mapped tables key partitionValues by PHYSICAL name (both modes);
    # the executor looks them up by logical name
    pv = {renames.get(k, k): v
          for k, v in (add.get("partitionValues") or {}).items()}
    return _FileSlice(
        str((table_dir / unquote(stored_path)).resolve()),
        blob,
        pv,
        dict(renames),
        dict(field_ids) if field_ids else None,
        cdf,
    )


def _arrow_type_of(typ):
    """Arrow type for a Delta primitive type string — used only for
    columns ABSENT from the data file (partition / post-evolution
    columns). Unmapped types raise with the type named rather than
    silently materializing a mistyped column."""
    import pyarrow as pa

    table = {
        "long": pa.int64(), "integer": pa.int32(), "short": pa.int16(),
        "byte": pa.int8(), "double": pa.float64(), "float": pa.float32(),
        "string": pa.string(), "boolean": pa.bool_(), "binary": pa.binary(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
    }
    if isinstance(typ, str):
        if typ in table:
            return table[typ]
        if typ.startswith("decimal("):
            p, s = typ[8:-1].split(",")
            return pa.decimal128(int(p), int(s))
    raise ValueError(
        f"cannot materialize a constant column of Delta type {typ!r} "
        "(partition/evolved column absent from the data file)"
    )


def _arrow_type_full(t_json):
    """Arrow type for ANY Delta type json — complex types recurse, leaves
    delegate to ``_arrow_type_of``. This is the LOGICAL shape of a column
    (names at every depth are the logical names)."""
    import pyarrow as pa

    if isinstance(t_json, dict):
        kind = t_json.get("type")
        if kind == "struct":
            return pa.struct([
                pa.field(f["name"], _arrow_type_full(f["type"]))
                for f in t_json["fields"]
            ])
        if kind == "array":
            return pa.list_(_arrow_type_full(t_json["elementType"]))
        if kind == "map":
            return pa.map_(
                _arrow_type_full(t_json["keyType"]),
                _arrow_type_full(t_json["valueType"]),
            )
    return _arrow_type_of(t_json)


def _logical_view_type(at, t_json):
    """Arrow type equal in LAYOUT to ``at`` but with every nested name
    renamed physical -> logical per the schema json's
    ``delta.columnMapping.physicalName`` metadata — the zero-copy
    ``Array.view`` target. Returns None when the stored shape diverges
    from the logical schema (member count/order mismatch after a nested
    ADD/DROP), in which case ``_restructure_struct`` rebuilds instead."""
    import pyarrow as pa

    if not isinstance(t_json, dict):
        return at  # primitive leaf: layout unchanged (upcasts happen later)
    kind = t_json.get("type")
    if kind == "struct":
        if not pa.types.is_struct(at) or at.num_fields != len(t_json["fields"]):
            return None
        out = []
        for i, sf in enumerate(t_json["fields"]):
            phys = (sf.get("metadata") or {}).get(
                "delta.columnMapping.physicalName", sf["name"]
            )
            child = at.field(i)
            if child.name != phys:
                return None
            ct = _logical_view_type(child.type, sf["type"])
            if ct is None:
                return None
            out.append(pa.field(sf["name"], ct))
        return pa.struct(out)
    if kind == "array":
        if pa.types.is_large_list(at):
            vt = _logical_view_type(at.value_type, t_json["elementType"])
            return pa.large_list(vt) if vt is not None else None
        if pa.types.is_list(at):
            vt = _logical_view_type(at.value_type, t_json["elementType"])
            return pa.list_(vt) if vt is not None else None
        return None
    if kind == "map":
        if not pa.types.is_map(at):
            return None
        kt = _logical_view_type(at.key_type, t_json["keyType"])
        vt = _logical_view_type(at.item_type, t_json["valueType"])
        return pa.map_(kt, vt) if kt is not None and vt is not None else None
    return at


def _restructure_struct(arr, t_json):
    """Rebuild a stored complex column into the logical shape when a pure
    rename can't (nested ADD COLUMN fills nulls, nested DROP selects
    away, member order follows the logical schema). Recursion bottoms out
    in ``.view`` renames. Round 10: add/drop UNDER array/map elements
    rebuilds too — the stored offsets are REUSED verbatim (element counts
    never change under a member add/drop) and only the child values
    rebuild, so no offsets surgery and no per-element copying beyond the
    restructured members."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from evolution_spark.io.delta_log import DeltaProtocolError

    def _conform_child(child, child_json):
        ct = _logical_view_type(child.type, child_json)
        return child.view(ct) if ct is not None else _restructure_struct(
            child, child_json
        )

    if (isinstance(t_json, dict) and t_json.get("type") == "array"
            and (pa.types.is_list(arr.type)
                 or pa.types.is_large_list(arr.type))):
        new_vals = _conform_child(arr.values, t_json["elementType"])
        cls = (pa.LargeListArray if pa.types.is_large_list(arr.type)
               else pa.ListArray)
        return cls.from_arrays(arr.offsets, new_vals, mask=pc.is_null(arr))
    if (isinstance(t_json, dict) and t_json.get("type") == "map"
            and pa.types.is_map(arr.type)):
        import numpy as np

        new_keys = _conform_child(arr.keys, t_json["keyType"])
        new_items = _conform_child(arr.items, t_json["valueType"])
        # MapArray.from_arrays has no mask parameter: null entries are
        # restored by nulling their offsets instead
        offs = arr.offsets.to_numpy(zero_copy_only=False).astype("int32")
        nullmask = np.array(pc.is_null(arr).to_pylist() + [False])
        offsets = (pa.array(offs, pa.int32(), mask=nullmask)
                   if nullmask.any() else arr.offsets)
        return pa.MapArray.from_arrays(offsets, new_keys, new_items)
    if not (isinstance(t_json, dict) and t_json.get("type") == "struct"
            and pa.types.is_struct(arr.type)):
        raise DeltaProtocolError(
            f"stored arrow type {arr.type} cannot be restructured into the "
            f"logical shape {t_json!r} on the evolution_delta arrow path — "
            "read via read_delta_snapshot"
        )
    stored = {arr.type.field(i).name: i for i in range(arr.type.num_fields)}
    children, names = [], []
    for sf in t_json["fields"]:
        phys = (sf.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", sf["name"]
        )
        idx = stored.get(phys)
        if idx is None:
            child = pa.nulls(len(arr), type=_arrow_type_full(sf["type"]))
        else:
            child = arr.field(idx)
            ct = _logical_view_type(child.type, sf["type"])
            child = child.view(ct) if ct is not None else _restructure_struct(
                child, sf["type"]
            )
        children.append(child)
        names.append(sf["name"])
    return pa.StructArray.from_arrays(children, names=names, mask=pc.is_null(arr))


def _conform_column(arr, f_json):
    """Physical -> logical conversion of one stored COMPLEX column: rename
    every nested name (zero-copy ``.view`` when shapes match, struct
    rebuild otherwise), then cast to the full logical arrow type when a
    leaf was stored narrower (nested schema evolution)."""
    target = _arrow_type_full(f_json["type"])
    vt = _logical_view_type(arr.type, f_json["type"])
    out = arr.view(vt) if vt is not None else _restructure_struct(
        arr, f_json["type"]
    )
    return out.cast(target) if out.type != target else out


def _const_array(raw, at, n, col=None):
    """Constant arrow array of type ``at`` from a raw partition value that
    may be a string (Delta partitionValues) or already typed (Iceberg
    manifest partition records — e.g. date32 arrives as int days, which
    arrow cannot cast from int64 directly). A value that fits neither the
    declared type nor its string rendering raises HERE, naming the
    partition column — not as a cast failure far downstream."""
    import pyarrow as pa

    try:
        return pa.array([raw] * n, type=at)
    except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError, TypeError):
        pass
    if pa.types.is_date32(at) and isinstance(raw, int):
        return pa.array([raw] * n, type=pa.int32()).cast(at)
    try:
        return pa.array([str(raw)] * n).cast(at)
    except (pa.ArrowInvalid, pa.ArrowTypeError, ValueError) as e:
        raise ValueError(
            f"partition column {col!r}: stored value {raw!r} cannot be "
            f"materialized as {at} — malformed partition metadata ({e})"
        ) from None


def _read_slice(slice_, logical_schema_json: str):
    """EXECUTOR-side: one file -> Arrow batches in the declared column
    order, deleted positions masked out, partition columns injected as
    typed constants, physical names renamed to logical."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from evolution_spark.io.deletion_vectors import deserialize_roaring64

    schema_json = json.loads(logical_schema_json)
    fields = schema_json["fields"]
    logical_names = [f["name"] for f in fields]
    deleted = (
        deserialize_roaring64(slice_.dv_blob) if slice_.dv_blob is not None else None
    )
    pf = pq.ParquetFile(slice_.abs_path)
    renames = dict(slice_.renames)
    if getattr(slice_, "field_ids", None):
        # id mode: THIS file's footer field ids are authoritative — the
        # physical names may differ from every other file's
        for fld in pf.schema_arrow:
            fid = (fld.metadata or {}).get(b"PARQUET:field_id")
            if fid is not None and int(fid) in slice_.field_ids:
                renames[fld.name] = slice_.field_ids[int(fid)]
    row_base = 0
    for batch in pf.iter_batches():
        n = batch.num_rows
        if deleted is not None and len(deleted):
            idx = deleted[(deleted >= row_base) & (deleted < row_base + n)] - row_base
            if len(idx):
                mask = np.ones(n, dtype=bool)
                mask[idx.astype(np.int64)] = False
                batch = batch.filter(pa.array(mask))
        row_base += n
        if batch.num_rows == 0:
            continue
        cols = {}
        out_names = list(logical_names)
        present = {renames.get(c, c): batch.column(i)
                   for i, c in enumerate(batch.schema.names)}
        for f in fields:
            name, typ = f["name"], f["type"]
            if name in present:
                arr = present[name]
                if isinstance(typ, dict):
                    # complex column: recursive physical->logical rename
                    # (+ null-fill/select on nested add/drop, leaf upcasts)
                    cols[name] = _conform_column(arr, f)
                    continue
                try:
                    at = _arrow_type_of(typ)
                except ValueError:
                    at = None
                if at is not None and arr.type != at:
                    # schema-evolved file: stored narrower than declared
                    # (e.g. int32 under a widened long column) — upcast
                    arr = arr.cast(at)
                cols[name] = arr
            else:
                # partition column (or post-evolution column on a legacy
                # file): typed constant from the add's partitionValues
                raw = slice_.partition_values.get(name)
                at = _arrow_type_full(typ)
                if raw is None:
                    cols[name] = pa.nulls(batch.num_rows, type=at)
                else:
                    cols[name] = _const_array(raw, at, batch.num_rows, col=name)
        if getattr(slice_, "cdf", None) is not None:
            ct, ver = slice_.cdf
            if ct is None:
                # cdc sidecar: the file carries its own _change_type
                idx = batch.schema.names.index("_change_type")
                cols["_change_type"] = batch.column(idx)
            else:
                cols["_change_type"] = pa.array(
                    [ct] * batch.num_rows, pa.string()
                )
            cols["_commit_version"] = pa.array(
                [ver] * batch.num_rows, pa.int64()
            )
            out_names += ["_change_type", "_commit_version"]
        yield pa.RecordBatch.from_arrays(
            [cols[n_] for n_ in out_names], names=out_names
        )


class _BatchReader(DataSourceReader):
    def __init__(self, schema_json: str, slices):
        self.schema_json = schema_json
        self.slices = slices

    def partitions(self):
        return self.slices

    def read(self, partition):
        yield from _read_slice(partition, self.schema_json)


class _StreamReader(DataSourceStreamReader):
    """Offsets are LOG VERSIONS. The initial batch is the table's CURRENT
    snapshot (DV-masked per file) — representable regardless of delete/
    overwrite history, exactly like the real Delta source's initial
    snapshot. Later micro-batches (start, end] read the files new commits
    added; non-append commits after the start fail the stream — the
    consumer's view would silently diverge — unless ``ignoreChanges``
    (re-emit the commit's files, DV-applied: upstream's at-least-once
    duplicates, never loss) or ``skipChangeCommits`` (skip the commit
    entirely) opts out. ``startingVersion`` (INCLUSIVE) replays appends
    from that version instead of snapshotting. A schema-changing
    metaData commit mid-stream fails the stream (the pinned schema can
    no longer represent later files); missing log versions inside
    (start, end] fail it too rather than silently dropping commits.

    RESTART-AFTER-EVOLUTION: a restarted query (same checkpoint, fresh
    reader) pins the CURRENT schema, so the evolution commit passes the
    pinned-schema check, resumption starts at the checkpointed offset
    (no version re-delivered or skipped), and pre-evolution files read
    with added columns as null / renamed columns via the current
    mapping — the documented recovery path from the mid-stream failure
    (tests/test_delta_source.py::
    test_streaming_restart_after_schema_evolution)."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("evolution_delta requires a path (.load(path))")
        self.ignore_changes = str(
            options.get("ignoreChanges", "false")
        ).lower() == "true"
        self.skip_change_commits = str(
            options.get("skipChangeCommits", "false")
        ).lower() == "true"
        # readChangeFeed: emit CHANGE rows (table cols + _change_type +
        # _commit_version) instead of failing on non-append commits —
        # cdc-sidecar commits stream their exact changes, appends stream
        # as inserts; a non-append commit WITHOUT sidecars still fails
        # (enable delta.enableChangeDataFeed before DML)
        self.read_change_feed = str(
            options.get("readChangeFeed", "false")
        ).lower() == "true"
        start = options.get("startingVersion")
        # inclusive startingVersion: the offset is the last CONSUMED
        # version, so start-1 makes version `start` itself arrive
        self._start = (int(start) - 1) if start is not None else None
        # rate limiting: cap how many log versions one micro-batch may
        # consume (the real source's maxFilesPerTrigger analogue at this
        # source's natural granularity). The baseline is IN-MEMORY reader
        # state, so the FIRST batch of any (re)started query is uncapped —
        # returning a capped offset below the checkpoint's committed
        # offset would regress the stream and re-deliver versions; after
        # the first trigger the cap bounds every subsequent batch.
        mvpt = options.get("maxVersionsPerTrigger")
        self._max_versions = int(mvpt) if mvpt is not None else None
        if self._max_versions is not None and self._max_versions < 1:
            raise ValueError("maxVersionsPerTrigger must be >= 1")
        self._last_end = None
        _, schema_json, self.renames, self.field_ids = _plan_meta(self.path)
        self.schema_json = json.dumps(schema_json)

    def initialOffset(self):
        if self._start is not None:
            return {"version": self._start, "snapshot_done": True}
        # snapshot mode: nothing consumed yet; the first partitions() call
        # emits the current snapshot and advances to its version
        return {"version": -1, "snapshot_done": False}

    def latestOffset(self):
        from evolution_spark.io.delta_log import _log_versions

        versions = _log_versions(Path(self.path) / "_delta_log")
        latest = versions[-1] if versions else -1
        if self._start is not None:
            # a startingVersion ahead of the table must never be rewound:
            # offsets below it would later deliver excluded versions
            latest = max(latest, self._start)
        if self._max_versions is not None and self._last_end is not None:
            capped = [v for v in versions if v > self._last_end]
            if capped:
                latest = max(capped[: self._max_versions][-1], self._last_end)
            else:
                latest = max(latest, self._last_end)
        self._last_end = latest
        return {"version": latest, "snapshot_done": True}

    def partitions(self, start, end):
        from evolution_spark.io.delta_log import _log_versions, _replay_log

        table_dir = Path(self.path)
        log_dir = table_dir / "_delta_log"
        lo, hi = int(start["version"]), int(end["version"])
        # sync the cap baseline with the CHECKPOINTED start (a restarted
        # query's first partitions() call carries it)
        if self._last_end is None or lo > self._last_end:
            self._last_end = lo
        if not start.get("snapshot_done", True):
            # initial snapshot at `hi`: every live file, DV-masked —
            # correct on any history. Under readChangeFeed the snapshot
            # streams as inserts stamped with the snapshot version (the
            # real CDF source's initial-snapshot semantics).
            live, *_ = _replay_log(table_dir, hi)
            cdf = ("insert", hi) if self.read_change_feed else None
            return [
                _slice_of(table_dir, p, add, self.renames, self.field_ids,
                          cdf)
                for p, add in sorted(live.items())
            ]
        live_before, *_ = (
            _replay_log(table_dir, lo) if lo >= 0 else ({}, None, None, None)
        )
        present = [v for v in _log_versions(log_dir) if lo < v <= hi]
        missing = sorted(set(range(lo + 1, hi + 1)) - set(present))
        if missing:
            # interior gap (log files cleaned by a foreign writer's
            # retention while the stream was stopped): silently skipping
            # would DROP those commits' rows — fail like the real source
            raise RuntimeError(
                f"log versions {missing} are missing from {log_dir} "
                f"(expected contiguous versions in ({lo}, {hi}]); the "
                "stream cannot skip commits without losing rows — restart "
                "from a fresh checkpoint to re-snapshot the table"
            )
        pinned_fields = json.loads(self.schema_json).get("fields")
        # schema-evolution guard, restart-aware: a RESTARTED stream's
        # window may hold several evolution commits (mapping upgrade,
        # RENAME, ADD COLUMN) that happened while it was down. Those are
        # safe exactly when (a) each schema-changing commit is
        # METADATA-ONLY (no rows to emit under an interim schema) and
        # (b) the window's LAST metaData equals the pinned schema (the
        # reader pinned the post-evolution shape at construction) —
        # intervening data commits then resolve per file (mapping renames
        # by physicalName, added columns as nulls). A schema change the
        # window does NOT converge from means evolution happened while
        # the query was RUNNING: fail loudly like the real Delta source.
        parsed: dict[int, list] = {}
        last_fields = None
        def _sans_watermark(fields):
            # identity HIGH-WATER-MARK bumps are metadata-only bookkeeping
            # (names/types identical): every generated append commits one
            # alongside its adds, so treating them as schema evolution
            # would kill any stream over an identity table on every
            # single append (review r10 pass 2)
            out = []
            for f in fields or []:
                meta = {k: v for k, v in (f.get("metadata") or {}).items()
                        if k != "delta.identity.highWaterMark"}
                out.append({**f, "metadata": meta})
            return out

        offending = []
        for v in present:
            acts = [json.loads(l) for l in
                    (log_dir / f"{v:020d}.json").read_text().splitlines()]
            parsed[v] = acts
            for a in acts:
                md = a.get("metaData")
                if not md:
                    continue
                last_fields = json.loads(md["schemaString"]).get("fields")
                if _sans_watermark(last_fields) == _sans_watermark(
                        pinned_fields):
                    last_fields = pinned_fields
                if last_fields != pinned_fields:
                    row_bearing = any(
                        ("add" in x and x["add"].get("dataChange", True))
                        or "cdc" in x
                        for x in acts
                    )
                    offending.append((v, row_bearing))
        if offending and (
            any(rb for _, rb in offending) or last_fields != pinned_fields
        ):
            v = offending[0][0]
            raise RuntimeError(
                f"commit {v} changes the table schema mid-stream; "
                "the running query pinned the schema at start — "
                "restart the stream to pick up the new schema"
            )
        out = []
        for v in present:
            acts = parsed[v]
            adds = [a["add"] for a in acts
                    if "add" in a and a["add"].get("dataChange", True)]
            removes = [a for a in acts
                       if "remove" in a and a["remove"].get("dataChange", True)]
            cdcs = [a["cdc"] for a in acts if "cdc" in a]
            non_append = bool(removes) or any(
                a["path"] in live_before or a.get("deletionVector")
                for a in adds
            )
            if self.read_change_feed:
                if cdcs:
                    # sidecar commit: stream the EXACT changes (the files
                    # carry their own _change_type); never also derive
                    for c in cdcs:
                        out.append(_slice_of(
                            table_dir, c["path"], c, self.renames,
                            self.field_ids, (None, v),
                        ))
                elif non_append:
                    raise RuntimeError(
                        f"commit {v} changed rows without CDF sidecars; "
                        "the change-feed stream cannot reconstruct its "
                        "row-level changes — set "
                        "delta.enableChangeDataFeed=true before running "
                        "DML, or consume table_changes() in batch"
                    )
                else:
                    for add in adds:
                        out.append(_slice_of(
                            table_dir, add["path"], add, self.renames,
                            self.field_ids, ("insert", v),
                        ))
                for a in adds:
                    live_before[a["path"]] = a
                for r in removes:
                    live_before.pop(r["remove"]["path"], None)
                continue
            if non_append and not (self.ignore_changes or self.skip_change_commits):
                raise RuntimeError(
                    f"commit {v} is not an append (removes or DV re-adds "
                    "present); the stream cannot represent row deletion — "
                    "set skipChangeCommits=true to skip such commits, "
                    "ignoreChanges=true to re-emit their files "
                    "(at-least-once duplicates), readChangeFeed=true to "
                    "stream row-level changes from CDF sidecars, or "
                    "consume table_changes() instead"
                )
            if not non_append or (self.ignore_changes
                                  and not self.skip_change_commits):
                # append commits always emit; under ignoreChanges a change
                # commit's (re-)added files emit too — DV applied, so live
                # rows may arrive twice but deleted rows never arrive
                # (upstream's at-least-once contract, never loss)
                for add in adds:
                    out.append(
                        _slice_of(table_dir, add["path"], add, self.renames,
                                  self.field_ids)
                    )
            for a in adds:
                live_before[a["path"]] = a
            for r in removes:
                live_before.pop(r["remove"]["path"], None)
        return out

    def read(self, partition):
        yield from _read_slice(partition, self.schema_json)

    def commit(self, end):
        pass


class EvolutionDeltaDataSource(DataSource):
    def _plan(self):
        # one plan per read: schema() and reader() share it (planning
        # replays the log and decodes DVs — doing it twice per query
        # doubles the driver's metadata cost for nothing)
        if not hasattr(self, "_cached_plan"):
            path = self.options.get("path")
            if not path:
                raise ValueError("evolution_delta requires a path (.load(path))")
            v = self.options.get("version")
            self._cached_plan = _plan_slices(
                path, int(v) if v is not None else None
            )
        return self._cached_plan

    @classmethod
    def name(cls):
        return "evolution_delta"

    def schema(self):
        base = self._plan()[0]
        if str(self.options.get("readChangeFeed", "false")).lower() == "true":
            from pyspark.sql import types as T

            return StructType(
                list(base.fields)
                + [T.StructField("_change_type", T.StringType(), True),
                   T.StructField("_commit_version", T.LongType(), True)]
            )
        return base

    def reader(self, schema):
        if str(self.options.get("readChangeFeed", "false")).lower() == "true":
            raise ValueError(
                "readChangeFeed is a STREAMING option on evolution_delta "
                "(spark.readStream); batch change reads go through "
                "delta_log.table_changes(spark, path, from_version)"
            )
        logical, slices, _ = self._plan()
        return _BatchReader(logical.json(), slices)

    def streamReader(self, schema):
        return _StreamReader(self.options)

    def writer(self, schema, overwrite):
        if overwrite:
            raise ValueError(
                "evolution_delta sink is append-only (mode('append')); "
                "overwrites go through write_delta_snapshot/commit_delta"
            )
        return _BatchWriter(self.options, schema.json())

    def streamWriter(self, schema, overwrite):
        if overwrite:
            raise ValueError(
                "evolution_delta sink is append-only (outputMode "
                "'append'); complete/update modes would re-append every "
                "trigger's cumulative result"
            )
        return _StreamWriter(self.options, schema.json())


def register_delta_source(spark) -> None:
    """Idempotently register the format for this session."""
    spark.dataSource.register(EvolutionDeltaDataSource)


# --------------------------------------------------------------------------
# write side: batch append + EXACTLY-ONCE streaming sink
# --------------------------------------------------------------------------


class _ShardMessage(WriterCommitMessage):
    """One executor task's staged parquet shard (path + row count)."""

    def __init__(self, path, rows):
        self.path = path
        self.rows = rows


def _write_shard(iterator, schema_json: str, stage_dir: str, renames=None):
    """EXECUTOR-side: drain this task's rows into one parquet shard under
    the commit's staging dir. Rows arrive as tuples in the WRITTEN
    DataFrame's column order (schema_json IS that schema — value-inferred
    arrow types would break on all-null columns and chunk-boundary type
    flips, so the declared types are used). ``renames`` (logical ->
    physical) names the parquet columns for column-mapped target tables —
    files must store physical names or mapped readers resolve the
    appended rows as all-null."""
    import os
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as papq

    renames = renames or {}
    schema_fields = json.loads(schema_json)["fields"]
    names = [f["name"] for f in schema_fields]
    arrow_schema = pa.schema(
        [pa.field(renames.get(f["name"], f["name"]), _arrow_type_of(f["type"]))
         for f in schema_fields]
    )
    os.makedirs(stage_dir, exist_ok=True)
    out = os.path.join(stage_dir, f"shard-{_uuid.uuid4().hex}.parquet")
    writer = papq.ParquetWriter(out, arrow_schema)
    rows = 0
    buf: list = []

    def flush():
        nonlocal rows
        batch = pa.table(
            {renames.get(n, n): pa.array(
                [r[i] for r in buf],
                type=arrow_schema.field(renames.get(n, n)).type)
             for i, n in enumerate(names)},
            schema=arrow_schema,
        )
        writer.write_table(batch)
        rows += len(buf)

    try:
        for row in iterator:
            buf.append(tuple(row))
            if len(buf) >= 65536:
                flush()
                buf = []
        flush()
    finally:
        writer.close()
    return _ShardMessage(out, rows)


def _commit_shards(
    path: str, messages, txn=None, written_schema_json=None,
    writer_renames=None,
) -> None:
    """DRIVER-side commit: hand the staged shards to the native log commit
    as one atomic, exclusive version (``_publish_commit``). ``txn``
    carries the streaming (appId, batchId) pair for exactly-once replay
    skipping."""
    import shutil as _shutil

    from evolution_spark.io.delta_log import (
        _collect_staged_adds,
        _publish_commit,
        _replay_log,
    )

    shards = [m for m in messages if m is not None and m.rows > 0]
    table_dir = Path(path)
    if not (table_dir / "_delta_log").exists():
        raise RuntimeError(
            "evolution_delta sink appends to an EXISTING table — create it "
            "first with write_delta_snapshot (the sink cannot invent the "
            "table's schema/partitioning metadata from shards alone)"
        )
    live, schema_string, part_cols, latest, state = _replay_log(
        table_dir, return_state=True
    )
    from evolution_spark.io.delta_log import _check_writer_protocol

    _check_writer_protocol(state.get("protocol"))
    if written_schema_json is not None:
        # refuse loudly on a schema mismatch — committing shards with the
        # wrong columns would read back as silent all-null rows
        want = [(f["name"], f["type"]) for f in json.loads(schema_string)["fields"]]
        got = [(f["name"], f["type"]) for f in json.loads(written_schema_json)["fields"]]
        if want != got:
            raise RuntimeError(
                f"schema mismatch vs table: writing {got} into a table "
                f"declaring {want} — align the DataFrame columns"
            )
    if part_cols:
        raise RuntimeError(
            "evolution_delta sink supports unpartitioned tables (shards "
            "carry no hive partition layout); write partitioned data with "
            "commit_delta"
        )
    from evolution_spark.io.delta_log import (
        _schema_generated_columns,
        _schema_invariants,
        _table_constraints,
        mapping_renames,
    )

    config = dict((state.get("metadata") or {}).get("configuration") or {})
    constraints = _table_constraints(config)
    if constraints:
        # the DataSource commit runs in a Python worker with no
        # SparkSession — the CHECK-constraint obligation cannot be
        # validated here, and committing unvalidated rows would break it
        raise RuntimeError(
            f"table declares CHECK constraints {sorted(constraints)}; the "
            "evolution_delta sink cannot validate them — append with "
            "commit_delta instead"
        )
    invariants = _schema_invariants(schema_string)
    if invariants:
        # legacy per-field delta.invariants carry the same row-level
        # obligation as CHECK constraints (ADVICE r09 medium): the sink is
        # a row-adding path and has no SparkSession to validate with, so
        # committing here would silently break a writer-v2 table's
        # invariants
        raise RuntimeError(
            f"table declares column invariants {sorted(invariants)}; the "
            "evolution_delta sink cannot validate them — append with "
            "commit_delta instead"
        )
    from evolution_spark.io.delta_log import _schema_identity_columns

    ident = _schema_identity_columns(schema_string)
    if ident:
        # the sink cannot generate values past the high-water mark nor
        # advance it atomically — refuse toward commit_delta
        raise RuntimeError(
            f"table declares identity columns {sorted(ident)}; the "
            "evolution_delta sink cannot manage their high-water mark — "
            "append with commit_delta instead"
        )
    proto_feats = set((state.get("protocol") or {}).get("writerFeatures")
                      or [])
    if "rowTracking" in proto_feats:
        raise RuntimeError(
            "table declares the rowTracking writer feature; the "
            "evolution_delta sink cannot assign baseRowId past the "
            "high-water mark — append with commit_delta instead"
        )
    generated = _schema_generated_columns(schema_string)
    if generated:
        # same row-level obligation as invariants (writer v4 /
        # generatedColumns feature): no SparkSession here to validate with
        raise RuntimeError(
            f"table declares generated columns {sorted(generated)}; the "
            "evolution_delta sink cannot validate them — append with "
            "commit_delta instead"
        )
    current_renames = {
        log: phys
        for phys, log in mapping_renames(
            json.loads(schema_string), config
        ).items()
    }
    if current_renames != dict(writer_renames or {}):
        # the shards' parquet column names were fixed at write time; a
        # mapping upgrade/rename that landed mid-flight would make mapped
        # readers resolve them as all-null — refuse instead
        raise RuntimeError(
            "table column mapping changed between shard write and commit "
            f"(writer saw {dict(writer_renames or {})}, table now has "
            f"{current_renames}) — rerun the write"
        )
    import time as _time
    import uuid as _uuid

    version = latest + 1
    now_ms = int(_time.time() * 1000)
    actions: list[dict] = []
    if txn is not None:
        actions.append({"txn": {"appId": txn[0], "version": txn[1]}})
    # move shards under a commit-owned staging dir so _collect_staged_adds
    # (vacuum-race guard + stats + version-unique names) applies unchanged;
    # uuid-suffixed like commit_delta's, so a commit racing for the same
    # version can neither publish nor rmtree this one's shards
    stage = table_dir / f"_staging_v{version}-sink-{_uuid.uuid4().hex}"
    stage.mkdir()
    import os as _os

    try:
        for m in shards:
            _os.replace(m.path, stage / Path(m.path).name)
        add_actions, n_files, total_rows = _collect_staged_adds(
            stage, table_dir, version, now_ms, data_change=True
        )
        actions.extend(add_actions)
    finally:
        if stage.exists():
            _shutil.rmtree(stage)
    if not add_actions:
        return
    _publish_commit(table_dir, version, actions,
                    "STREAMING UPDATE" if txn else "WRITE",
                    now_ms=now_ms, config=config)


def _reclaim_stages(messages, fallback_stage: str) -> None:
    """Remove the per-writer staging dirs a commit/abort leaves behind.
    The committing writer instance is NOT the writing one (the DataSource
    is re-instantiated across the plan/write/commit boundaries, each with
    a fresh staging uuid), so the dirs are derived from the shard
    messages' parent paths; ``fallback_stage`` covers the zero-task case."""
    import shutil as _shutil

    stages = {str(Path(m.path).parent) for m in messages if m is not None}
    stages.add(fallback_stage)
    for s in stages:
        _shutil.rmtree(s, ignore_errors=True)


def _sink_renames(path: str) -> dict[str, str]:
    """logical -> physical name map of the TARGET table (driver-side, at
    writer construction): shards for a column-mapped table must store
    physical names. Empty for unmapped tables and for targets that do
    not exist yet (the commit refuses those with its own error)."""
    try:
        from evolution_spark.io.delta_log import (
            _refuse_nested_mapping,
            _replay_log,
            mapping_mode,
            mapping_renames,
        )

        _, schema_string, _, _, state = _replay_log(
            Path(path), return_state=True
        )
        config = dict(
            (state.get("metadata") or {}).get("configuration") or {}
        )
        schema_json = json.loads(schema_string)
        if mapping_mode(config) != "none":
            # shard writes rename by a FLAT map — nested mapped structs
            # must go through commit_delta's struct-cast physicalize
            _refuse_nested_mapping(schema_json)
        phys_to_log = mapping_renames(schema_json, config)
        return {log: phys for phys, log in phys_to_log.items()}
    except FileNotFoundError:
        return {}


class _BatchWriter(DataSourceWriter):
    def __init__(self, options, schema_json):
        import uuid as _uuid

        self.path = options.get("path")
        if not self.path:
            raise ValueError("evolution_delta sink requires a path (.save(path))")
        self.schema_json = schema_json
        self.renames = _sink_renames(self.path)
        # per-writer staging dir: a concurrent job's abort can never
        # rmtree this write's in-flight shards
        self.stage = str(Path(self.path) / f"_staging_sink-{_uuid.uuid4().hex}")

    def write(self, iterator):
        return _write_shard(
            iterator, self.schema_json, self.stage, renames=self.renames
        )

    def commit(self, messages):
        try:
            _commit_shards(
                self.path, messages, written_schema_json=self.schema_json,
                writer_renames=self.renames,
            )
        finally:
            # the commit moved the non-empty shards out; drop the staging
            # dirs (and any zero-row shard files) now instead of waiting
            # for a 24h reclaim_stale_staging pass
            _reclaim_stages(messages, self.stage)

    def abort(self, messages):
        _reclaim_stages(messages, self.stage)


class _StreamWriter(DataSourceStreamWriter):
    """EXACTLY-ONCE streaming sink: each micro-batch commits as ONE Delta
    version carrying a ``txn`` action keyed by the sink's checkpoint
    identity — a replayed batch (post-crash re-delivery) is detected via
    ``last_txn_version`` and skipped, the same idempotence contract the
    function-style sink in streaming/sinks.py implements, now behind
    ``df.writeStream.format("evolution_delta")``."""

    def __init__(self, options, schema_json):
        import uuid as _uuid

        self.path = options.get("path")
        if not self.path:
            raise ValueError("evolution_delta sink requires a path")
        # exactly-once NEEDS a stable per-pipeline identity: a shared
        # default would make one query's batchIds mask another's (or a
        # restarted checkpoint's), silently dropping micro-batches
        self.app_id = options.get("txnAppId")
        if not self.app_id:
            raise ValueError(
                "evolution_delta sink requires .option('txnAppId', <stable "
                "per-pipeline id>) — the txn identity that makes replayed "
                "micro-batches idempotent"
            )
        self.schema_json = schema_json  # the WRITTEN DataFrame's schema
        self.renames = _sink_renames(self.path)
        self.stage = str(Path(self.path) / f"_staging_sink-{_uuid.uuid4().hex}")

    def write(self, iterator):
        return _write_shard(
            iterator, self.schema_json, self.stage, renames=self.renames
        )

    def commit(self, messages, batchId):
        from evolution_spark.io.delta_log import last_txn_version

        seen = last_txn_version(self.path, self.app_id)
        if seen is not None and batchId <= seen:
            # replayed batch: already committed — exactly-once. Drop the
            # re-staged shards (whole staging dirs) or they leak on replay.
            _reclaim_stages(messages, self.stage)
            return
        try:
            _commit_shards(
                self.path, messages, txn=(self.app_id, batchId),
                written_schema_json=self.schema_json,
                writer_renames=self.renames,
            )
        finally:
            # non-empty shards were moved out by the commit; reclaim the
            # staging dirs and any zero-row shard files
            _reclaim_stages(messages, self.stage)

    def abort(self, messages, batchId):
        _reclaim_stages(messages, self.stage)
