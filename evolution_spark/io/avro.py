"""Avro container-file codec in pure Python, and the Avro target built
on it — implements the reference's declared ``avro`` feature without the
spark-avro datasource module (absent from this classpath; only avro-core
jars ship with Spark).

The Avro object-container format is an open spec (magic ``Obj\\x01``, a
metadata map carrying the JSON schema + codec, a 16-byte sync marker,
then length-prefixed record blocks): small enough to implement directly.
This module is the engine's one Avro codec: the Avro target's part files
and the Iceberg writer's manifests and manifest lists (``io/iceberg_meta``)
share its header writer, block framer, reader and value codec. The value
codec is compiled once per schema and handles records, arrays, unions and
the primitives on RAW values (zigzag-varint longs, length-prefixed UTF-8
strings, IEEE little-endian floats); logical types are left to callers.
The Avro target maps Spark types to Avro ones (``avro_schema_of``: nullable
fields become ``["null", T]`` unions, timestamps/dates the standard
timestamp-micros / local-timestamp-micros / date logical types) and adapts
pandas values to raw ones and back (``_to_raw`` / ``_from_raw``).

Distribution mirrors ``io/ipc.py``: every task encodes its own partition
into its own ``part-*.avro`` file via ``mapInPandas`` (no driver
materialization, no single-writer bottleneck); the source lists file
NAMES on the driver and decodes inside executors. This is the documented
Python slow path — a per-row codec can't ride whole-stage codegen — used
deliberately because the alternative is no Avro at all. Byte-level
correctness is cross-validated in tests against the JVM's own
``org.apache.avro.file.DataFileReader`` (avro-core IS on the classpath),
so the files are proven readable by the reference implementation.
"""

from __future__ import annotations

import json
import os
import shutil
import struct
import uuid
from pathlib import Path
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.types import LongType, StringType, StructField, StructType

MAGIC = b"Obj\x01"

_RESULT_SCHEMA = StructType(
    [StructField("path", StringType()), StructField("n_rows", LongType())]
)

_EPOCH_DAYS = __import__("datetime").date(1970, 1, 1).toordinal()


def avro_schema_of(schema: StructType, name: str = "spark_record") -> dict:
    """Map a Spark schema to an Avro record schema (nullable -> union)."""

    def _type(dt: T.DataType):
        if isinstance(dt, T.BooleanType):
            return "boolean"
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
            return "int"
        if isinstance(dt, T.LongType):
            return "long"
        if isinstance(dt, T.FloatType):
            return "float"
        if isinstance(dt, T.DoubleType):
            return "double"
        if isinstance(dt, T.StringType):
            return "string"
        if isinstance(dt, T.BinaryType):
            return "bytes"
        if isinstance(dt, T.DateType):
            return {"type": "int", "logicalType": "date"}
        if isinstance(dt, T.TimestampNTZType):
            return {"type": "long", "logicalType": "local-timestamp-micros"}
        if isinstance(dt, T.TimestampType):
            return {"type": "long", "logicalType": "timestamp-micros"}
        raise TypeError(f"unsupported Spark type for avro sink: {dt}")

    fields = []
    for f in schema.fields:
        ft = _type(f.dataType)
        fields.append(
            {"name": f.name, "type": ["null", ft] if f.nullable else ft}
        )
    return {"type": "record", "name": name, "fields": fields}


# --------------------------------------------------------------------------
# value codec: raw Avro values, compiled once per schema
# --------------------------------------------------------------------------


def _enc_long(n: int, out: bytearray) -> None:
    n = (n << 1) ^ (n >> 63)  # zigzag
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _dec_long(buf: memoryview, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def _enc_bytes(b: bytes, out: bytearray) -> None:
    _enc_long(len(b), out)
    out.extend(b)


def _dec_bytes(buf, pos):
    n, pos = _dec_long(buf, pos)
    return bytes(buf[pos : pos + n]), pos + n


def _dec_str(buf, pos):
    n, pos = _dec_long(buf, pos)
    return bytes(buf[pos : pos + n]).decode("utf-8"), pos + n


def _encoder(t):
    """Compile ``enc(v, out)`` for Avro schema ``t``: records (a mapping
    by field name), arrays, two-branch unions with ``null`` (None takes
    the ``null`` branch, any other value the other one) and the
    primitives. Logical types
    are not applied: a ``date`` is its int day count and a
    ``logicalType: map`` array is an array of key/value records."""
    if isinstance(t, list):
        null = t.index("null")
        branch = 1 - null
        inner = _encoder(t[branch])

        def enc_union(v, out):
            if v is None:
                _enc_long(null, out)
            else:
                _enc_long(branch, out)
                inner(v, out)
        return enc_union
    base = t["type"] if isinstance(t, dict) else t
    if base == "record":
        fields = [(f["name"], _encoder(f["type"])) for f in t["fields"]]

        def enc_record(v, out):
            for name, enc in fields:
                enc(v[name], out)
        return enc_record
    if base == "array":
        enc_item = _encoder(t["items"])

        def enc_array(v, out):
            # one block of n items, then the 0 terminator
            items = list(v)
            if items:
                _enc_long(len(items), out)
                for item in items:
                    enc_item(item, out)
            _enc_long(0, out)
        return enc_array
    if base in ("int", "long"):
        return lambda v, out: _enc_long(int(v), out)
    if base == "double":
        return lambda v, out: out.extend(struct.pack("<d", float(v)))
    if base == "float":
        return lambda v, out: out.extend(struct.pack("<f", float(v)))
    if base == "boolean":
        return lambda v, out: out.append(1 if v else 0)
    if base == "string":
        return lambda v, out: _enc_bytes(str(v).encode("utf-8"), out)
    if base == "bytes":
        return lambda v, out: _enc_bytes(bytes(v), out)
    raise TypeError(f"unsupported avro type {t}")


def _decoder(t):
    """Compile ``dec(buf, pos) -> (value, pos)`` for Avro schema ``t``;
    the inverse of ``_encoder`` (records decode to dicts, unions by
    branch index)."""
    if isinstance(t, list):
        branches = [_decoder(b) for b in t]

        def dec_union(buf, pos):
            i, pos = _dec_long(buf, pos)
            return branches[i](buf, pos)
        return dec_union
    base = t["type"] if isinstance(t, dict) else t
    if base == "record":
        fields = [(f["name"], _decoder(f["type"])) for f in t["fields"]]

        def dec_record(buf, pos):
            rec = {}
            for name, dec in fields:
                rec[name], pos = dec(buf, pos)
            return rec, pos
        return dec_record
    if base == "array":
        dec_item = _decoder(t["items"])

        def dec_array(buf, pos):
            items = []
            while True:
                n, pos = _dec_long(buf, pos)
                if n == 0:
                    return items, pos
                if n < 0:  # negative count form: |n| items preceded by a size
                    n = -n
                    _, pos = _dec_long(buf, pos)
                for _ in range(n):
                    item, pos = dec_item(buf, pos)
                    items.append(item)
        return dec_array
    if base == "null":
        return lambda buf, pos: (None, pos)
    if base in ("int", "long"):
        return _dec_long
    if base == "double":
        return lambda buf, pos: (struct.unpack_from("<d", buf, pos)[0], pos + 8)
    if base == "float":
        return lambda buf, pos: (struct.unpack_from("<f", buf, pos)[0], pos + 4)
    if base == "boolean":
        return lambda buf, pos: (bool(buf[pos]), pos + 1)
    if base == "string":
        return _dec_str
    if base == "bytes":
        return _dec_bytes
    raise TypeError(f"unsupported avro type {t}")


# --------------------------------------------------------------------------
# container file: one header writer, one block framer, one reader
# --------------------------------------------------------------------------


def _header(avro_sch: dict, sync: bytes, meta: dict | None = None) -> bytes:
    """Magic, the metadata map (schema, ``null`` codec, then ``meta``'s
    entries, str values UTF-8 encoded) and the sync marker."""
    entries = {"avro.schema": json.dumps(avro_sch).encode(), "avro.codec": b"null"}
    for k, v in (meta or {}).items():
        entries[k] = v.encode() if isinstance(v, str) else v
    out = bytearray(MAGIC)
    _enc_long(len(entries), out)
    for k, v in entries.items():
        _enc_bytes(k.encode(), out)
        _enc_bytes(v, out)
    _enc_long(0, out)  # map terminator
    out.extend(sync)
    return bytes(out)


def _block(n_records: int, body: bytes, sync: bytes) -> bytes:
    out = bytearray()
    _enc_long(n_records, out)
    _enc_long(len(body), out)
    out.extend(body)
    out.extend(sync)
    return bytes(out)


def _write_avro(path, avro_sch: dict, records: list, meta: dict | None = None) -> int:
    """Write ``records`` (raw values, see ``_encoder``) as a one-block
    container file with extra metadata entries ``meta``; returns its
    length. Driver-side: Iceberg manifests and manifest lists are
    metadata-sized."""
    sync = uuid.uuid4().bytes
    enc = _encoder(avro_sch)
    body = bytearray()
    for r in records:
        enc(r, body)
    data = _header(avro_sch, sync, meta) + _block(len(records), body, sync)
    Path(path).write_bytes(data)
    return len(data)


def _read_avro_with_meta(src, decoder=_decoder) -> tuple[list, dict]:
    """Container file (a path or a binary file object) -> (records, the
    file's metadata map of bytes values). ``decoder`` compiles the record
    decoder from the file's schema. Raises ValueError on a codec other
    than ``null`` and on any block whose sync marker does not match."""
    data = src.read() if hasattr(src, "read") else Path(src).read_bytes()
    buf = memoryview(data)
    if bytes(buf[:4]) != MAGIC:
        raise ValueError(f"not an Avro container file: {src}")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        count, pos = _dec_long(buf, pos)
        if count == 0:
            break
        if count < 0:  # spec: negative count -> block byte size follows
            count = -count
            _, pos = _dec_long(buf, pos)
        for _ in range(count):
            key, pos = _dec_str(buf, pos)
            meta[key], pos = _dec_bytes(buf, pos)
    if meta.get("avro.codec", b"null") != b"null":
        raise ValueError(f"{src}: unsupported codec {meta['avro.codec']!r}")
    dec = decoder(json.loads(meta["avro.schema"]))
    sync = bytes(buf[pos : pos + 16])
    pos += 16
    records: list = []
    while pos < len(buf):
        count, pos = _dec_long(buf, pos)
        _size, pos = _dec_long(buf, pos)
        for _ in range(count):
            rec, pos = dec(buf, pos)
            records.append(rec)
        if bytes(buf[pos : pos + 16]) != sync:
            raise ValueError(f"{src}: sync marker mismatch (corrupt block)")
        pos += 16
    return records, meta


def _read_avro(src) -> list:
    return _read_avro_with_meta(src)[0]


# --------------------------------------------------------------------------
# the Avro target's value adapters: pandas values <-> raw Avro values
# --------------------------------------------------------------------------


def _to_raw(ft, session_tz: str):
    """pandas value -> raw Avro value for one non-union field type, or
    None when the value needs no change.

    ``timestamp-micros`` is a UTC INSTANT per the spec, but pandas hands
    executor code session-local NAIVE timestamps — so the adapter
    localizes to ``session_tz`` before taking the epoch value; writing
    from a non-UTC session would otherwise shift every instant by the
    zone offset (only self-round-trips would cancel the error).
    ``local-timestamp-micros`` (NTZ) is zone-free and stays naive."""
    logical = ft.get("logicalType") if isinstance(ft, dict) else None
    if logical == "date":
        return lambda v: v.toordinal() - _EPOCH_DAYS
    if logical == "timestamp-micros":
        from zoneinfo import ZoneInfo

        tzinfo = ZoneInfo(session_tz)

        def instant(v):
            # DST policy mirrors the JVM: ambiguous wall times take the
            # EARLIER offset (summer time), spring-forward gaps shift
            # forward — tz_localize would otherwise raise mid-job on
            # data Spark itself accepts
            ts = (
                v
                if v.tzinfo is not None
                else v.tz_localize(tzinfo, ambiguous=True, nonexistent="shift_forward")
            )
            return ts.value // 1000  # aware .value = UTC ns
        return instant
    if logical == "local-timestamp-micros":
        return lambda v: v.value // 1000  # pd ns -> us
    return None


def _from_raw(ft, session_tz: str):
    """Raw Avro value -> Python value for one non-union field type, or
    None when the raw value is the Python value."""
    import datetime as dt

    logical = ft.get("logicalType") if isinstance(ft, dict) else None
    if logical == "date":
        return lambda n: dt.date.fromordinal(n + _EPOCH_DAYS)
    if logical == "timestamp-micros":
        from zoneinfo import ZoneInfo

        tzinfo = ZoneInfo(session_tz)
        epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
        return lambda n: (
            (epoch + dt.timedelta(microseconds=n)).astimezone(tzinfo).replace(tzinfo=None)
        )
    if logical == "local-timestamp-micros":
        return lambda n: dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=n)
    return None


def _field_encoders(avro_sch: dict, session_tz: str = "UTC"):
    """Per-field encoders of pandas values. Nullable fields map pandas'
    null sentinels (None / NaN / NaT, all of which fail ``v == v``) to
    the union's null branch — the standard pandas<->SQL convention (a
    float column cannot distinguish NULL from NaN once it has passed
    through pandas). Non-nullable float fields encode NaN as an IEEE NaN
    (a legal Avro double); substituting null there would corrupt a
    non-union stream."""
    encs = []
    for f in avro_sch["fields"]:
        ft = f["type"]
        nullable = isinstance(ft, list)  # ["null", T]
        enc = _encoder(ft)
        raw = _to_raw(ft[1] if nullable else ft, session_tz)
        if nullable:
            def enc_field(v, out, _enc=enc, _raw=raw):
                if v is None or v != v:
                    v = None
                elif _raw is not None:
                    v = _raw(v)
                _enc(v, out)
        elif raw is not None:
            def enc_field(v, out, _enc=enc, _raw=raw):
                _enc(_raw(v), out)
        else:
            enc_field = enc
        encs.append(enc_field)
    return encs


def _row_decoder(avro_sch: dict, session_tz: str = "UTC"):
    """Decoder of one record as a tuple of Python values."""
    decs = []
    for f in avro_sch["fields"]:
        ft = f["type"]
        dec = _decoder(ft)
        py = _from_raw(ft[1] if isinstance(ft, list) else ft, session_tz)
        if py is not None:
            def dec_field(buf, pos, _dec=dec, _py=py):
                v, pos = _dec(buf, pos)
                return (None if v is None else _py(v)), pos
            dec = dec_field
        decs.append(dec)

    def dec_row(buf, pos):
        vals = []
        for dec in decs:
            v, pos = dec(buf, pos)
            vals.append(v)
        return tuple(vals), pos
    return dec_row


# --------------------------------------------------------------------------
# sink / source
# --------------------------------------------------------------------------


_JVM_AVRO_CACHE: dict[str, bool] = {}


def jvm_avro_available(spark) -> bool:
    """True when the spark-avro datasource module is on the JVM classpath
    (probed once per application via ``Class.forName``). When present, the
    JVM columnar codec is strictly better than the pure-Python one — same
    bytes, whole-stage speed — so the writers below prefer it; this
    container ships only avro-core, so the probe returns False here and
    the pure-Python path remains the tested default."""
    app_id = spark.sparkContext.applicationId
    if app_id not in _JVM_AVRO_CACHE:
        try:
            # the exact resolution save()/load() perform — a bare
            # Class.forName is NOT sufficient (avro classes can be present
            # without the datasource being registered, as in this container)
            spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
                "avro", spark._jsparkSession.sessionState().conf()
            )
            _JVM_AVRO_CACHE[app_id] = True
        except Exception:
            _JVM_AVRO_CACHE[app_id] = False
    return _JVM_AVRO_CACHE[app_id]


def write_avro(
    df: DataFrame, path: str, use_jvm: bool | None = None
) -> list[tuple[str, int]]:
    """Write ``df`` as a directory of Avro container files, one per
    partition (tasks write independently; empty partitions write no
    file). Returns ``[(file_path, n_rows), ...]``.

    Routing: when the spark-avro module is on the classpath (``use_jvm``
    None = auto-probe), the write goes through ``.format("avro")`` — the
    JVM columnar path, no Python in the row path; per-file row counts are
    then reported as -1 (unknown without re-decoding — callers that need
    them pass ``use_jvm=False``). Otherwise the pure-Python codec below
    runs — the documented jar-less fallback, byte-validated against
    avro-core in tests."""
    import pandas as pd

    if use_jvm is None:
        use_jvm = jvm_avro_available(df.sparkSession)
    if use_jvm:
        # stage into a directory OWNED by this write, then move: the file
        # list is derived from our own staged output, so a concurrent
        # writer appending to `path` can never have its files misreported
        # as this write's (a before/after listdir diff would)
        os.makedirs(path, exist_ok=True)
        stage = os.path.join(path, f"_staging_avro-{uuid.uuid4().hex}")
        try:
            df.write.format("avro").mode("error").save(stage)
            written: list[tuple[str, int]] = []
            for f in sorted(os.listdir(stage)):
                if not f.endswith(".avro"):
                    continue
                dest = os.path.join(path, f)
                os.replace(os.path.join(stage, f), dest)
                # -1: unknown without re-decoding — callers that need row
                # counts pass use_jvm=False
                written.append((dest, -1))
            return written
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    os.makedirs(path, exist_ok=True)
    avro_sch = avro_schema_of(df.schema)
    cols = [f["name"] for f in avro_sch["fields"]]
    session_tz = df.sparkSession.conf.get("spark.sql.session.timeZone", "UTC")

    def _write_partition(pdfs: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        encs = _field_encoders(avro_sch, session_tz)
        sync = uuid.uuid4().bytes
        out_path = os.path.join(path, f"part-{uuid.uuid4().hex}.avro")
        fh = None
        n = 0
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            if fh is None:
                fh = open(out_path, "wb")
                fh.write(_header(avro_sch, sync))
            block = bytearray()
            rows = 0
            for tup in pdf[cols].itertuples(index=False):
                for enc, v in zip(encs, tup):
                    enc(v, block)  # null/NaN policy lives in the encoder
                rows += 1
            fh.write(_block(rows, block, sync))
            n += rows
        if fh is not None:
            fh.close()
            yield pd.DataFrame({"path": [out_path], "n_rows": [n]})

    result = df.mapInPandas(_write_partition, _RESULT_SCHEMA).collect()
    return [(r["path"], r["n_rows"]) for r in result]


def decode_avro_file(fp, session_tz: str = "UTC") -> tuple[dict, list[tuple]]:
    """Decode one Avro container file -> (schema, rows as tuples of
    Python values). Pure python; used executor-side by ``read_avro`` and
    directly by tests."""
    rows, meta = _read_avro_with_meta(fp, lambda sch: _row_decoder(sch, session_tz))
    return json.loads(meta["avro.schema"]), rows


def read_avro(
    spark, path: str, schema: StructType, use_jvm: bool | None = None
) -> DataFrame:
    """Distributed Avro source: file names list on the driver, decode in
    executors (one task per file — Avro blocks are splittable in principle,
    but one-file-per-write-partition keeps parts task-sized by
    construction, the same sizing contract as the IPC source).

    Routing mirrors ``write_avro``: with spark-avro on the classpath
    (``use_jvm`` None = auto-probe) the scan is ``.format("avro")`` —
    columnar, splittable, no Python in the row path; otherwise the
    pure-Python decoder runs under ``mapInPandas``.

    On the Python path, pass NULLABLE float fields in ``schema``: the
    pandas transport under ``mapInPandas`` folds IEEE NaN to null in
    transit, so a non-nullable double column containing NaN (legal in the
    file — see ``_field_encoders``) cannot surface through this reader."""
    import pandas as pd

    if use_jvm is None:
        use_jvm = jvm_avro_available(spark)
    if use_jvm:
        return spark.read.format("avro").schema(schema).load(path)

    files = sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".avro")
    )
    if not files:
        raise FileNotFoundError(f"no .avro files under {path}")
    file_df = spark.createDataFrame(
        [(f,) for f in files], StructType([StructField("path", StringType())])
    ).repartition(len(files))
    names = [f.name for f in schema.fields]
    session_tz = spark.conf.get("spark.sql.session.timeZone", "UTC")

    def _read(pdfs: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in pdfs:
            for p in pdf["path"]:
                _sch, rows = decode_avro_file(p, session_tz)
                yield pd.DataFrame.from_records(
                    rows, columns=names
                ) if rows else pd.DataFrame({n: [] for n in names})

    return file_df.mapInPandas(_read, schema)
