"""Avro container-file sink and source in pure Python — implements the
reference's declared ``avro`` feature without the spark-avro datasource
module (absent from this classpath; only avro-core jars ship with Spark).

The Avro object-container format is an open spec (magic ``Obj\\x01``, a
metadata map carrying the JSON schema + codec, a 16-byte sync marker,
then length-prefixed record blocks): small enough to implement directly.
Records encode with zigzag-varint longs, length-prefixed UTF-8 strings,
IEEE little-endian floats, and ``["null", T]`` unions for nullable
fields; timestamps/dates use the standard logical types
(timestamp-micros / local-timestamp-micros / date).

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
# primitive codec
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


def _base_type(ft) -> str:
    return ft["type"] if isinstance(ft, dict) else ft


def _encoder(ft, session_tz: str = "UTC"):
    """Encoder for one (non-union) avro type, honoring logical types.

    ``timestamp-micros`` is a UTC INSTANT per the spec, but pandas hands
    executor code session-local NAIVE timestamps — so the encoder
    localizes to ``session_tz`` before taking the epoch value; writing
    from a non-UTC session would otherwise shift every instant by the
    zone offset (only self-round-trips would cancel the error).
    ``local-timestamp-micros`` (NTZ) is zone-free and stays naive."""
    base = _base_type(ft)
    logical = ft.get("logicalType") if isinstance(ft, dict) else None

    if base in ("long", "int"):
        if logical == "date":
            return lambda v, out: _enc_long(v.toordinal() - _EPOCH_DAYS, out)
        if logical == "timestamp-micros":
            from zoneinfo import ZoneInfo

            tzinfo = ZoneInfo(session_tz)

            def enc_instant(v, out):
                # DST policy mirrors the JVM: ambiguous wall times take the
                # EARLIER offset (summer time), spring-forward gaps shift
                # forward — tz_localize would otherwise raise mid-job on
                # data Spark itself accepts
                ts = (
                    v
                    if v.tzinfo is not None
                    else v.tz_localize(
                        tzinfo, ambiguous=True, nonexistent="shift_forward"
                    )
                )
                _enc_long(ts.value // 1000, out)  # aware .value = UTC ns

            return enc_instant
        if logical == "local-timestamp-micros":
            return lambda v, out: _enc_long(v.value // 1000, out)  # pd ns->us
        return lambda v, out: _enc_long(int(v), out)
    if base == "double":
        return lambda v, out: out.extend(struct.pack("<d", float(v)))
    if base == "float":
        return lambda v, out: out.extend(struct.pack("<f", float(v)))
    if base == "boolean":
        return lambda v, out: out.append(1 if v else 0)
    if base == "string":
        def enc_str(v, out):
            b = str(v).encode("utf-8")
            _enc_long(len(b), out)
            out.extend(b)
        return enc_str
    if base == "bytes":
        def enc_bytes(v, out):
            b = bytes(v)
            _enc_long(len(b), out)
            out.extend(b)
        return enc_bytes
    raise TypeError(f"unsupported avro type {ft}")


def _decoder(ft, session_tz: str = "UTC"):
    base = _base_type(ft)
    logical = ft.get("logicalType") if isinstance(ft, dict) else None

    if base in ("long", "int"):
        if logical == "date":
            import datetime as dt

            def dec_date(buf, pos):
                n, pos = _dec_long(buf, pos)
                return dt.date.fromordinal(n + _EPOCH_DAYS), pos
            return dec_date
        if logical == "timestamp-micros":
            import datetime as dt
            from zoneinfo import ZoneInfo

            tzinfo = ZoneInfo(session_tz)
            epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)

            def dec_instant(buf, pos):
                n, pos = _dec_long(buf, pos)
                t = epoch + dt.timedelta(microseconds=n)
                return t.astimezone(tzinfo).replace(tzinfo=None), pos
            return dec_instant
        if logical == "local-timestamp-micros":
            import datetime as dt

            def dec_ts(buf, pos):
                n, pos = _dec_long(buf, pos)
                return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=n), pos
            return dec_ts
        return _dec_long
    if base == "double":
        return lambda buf, pos: (struct.unpack_from("<d", buf, pos)[0], pos + 8)
    if base == "float":
        return lambda buf, pos: (struct.unpack_from("<f", buf, pos)[0], pos + 4)
    if base == "boolean":
        return lambda buf, pos: (bool(buf[pos]), pos + 1)
    if base == "string":
        def dec_str(buf, pos):
            n, pos = _dec_long(buf, pos)
            return bytes(buf[pos : pos + n]).decode("utf-8"), pos + n
        return dec_str
    if base == "bytes":
        def dec_bytes(buf, pos):
            n, pos = _dec_long(buf, pos)
            return bytes(buf[pos : pos + n]), pos + n
        return dec_bytes
    raise TypeError(f"unsupported avro type {ft}")


def _field_encoders(avro_sch: dict, session_tz: str = "UTC"):
    """Per-field encoders. Nullable fields map pandas' null sentinels
    (None / NaN / NaT, all of which fail ``v == v``) to the union's null
    branch — the standard pandas<->SQL convention (a float column cannot
    distinguish NULL from NaN once it has passed through pandas).
    Non-nullable float fields encode NaN as an IEEE NaN (a legal Avro
    double); substituting null there would corrupt a non-union stream."""
    encs = []
    for f in avro_sch["fields"]:
        ft = f["type"]
        if isinstance(ft, list):  # ["null", T]
            inner = _encoder(ft[1], session_tz)

            def enc(v, out, _inner=inner):
                if v is None or v != v:  # None / NaN / NaT -> null branch
                    _enc_long(0, out)
                else:
                    _enc_long(1, out)
                    _inner(v, out)
            encs.append(enc)
        else:
            encs.append(_encoder(ft, session_tz))
    return encs


def _field_decoders(avro_sch: dict, session_tz: str = "UTC"):
    decs = []
    for f in avro_sch["fields"]:
        ft = f["type"]
        if isinstance(ft, list):
            inner = _decoder(ft[1], session_tz)

            def dec(buf, pos, _inner=inner):
                branch, pos = _dec_long(buf, pos)
                if branch == 0:
                    return None, pos
                return _inner(buf, pos)
            decs.append(dec)
        else:
            decs.append(_decoder(ft, session_tz))
    return decs


def _header(avro_sch: dict, sync: bytes) -> bytes:
    out = bytearray(MAGIC)
    meta = {
        "avro.schema": json.dumps(avro_sch).encode(),
        "avro.codec": b"null",
    }
    _enc_long(len(meta), out)
    for k, v in meta.items():
        kb = k.encode()
        _enc_long(len(kb), out)
        out.extend(kb)
        _enc_long(len(v), out)
        out.extend(v)
    _enc_long(0, out)  # map terminator
    out.extend(sync)
    return bytes(out)


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
            head = bytearray()
            _enc_long(rows, head)
            _enc_long(len(block), head)
            fh.write(head)
            fh.write(block)
            fh.write(sync)
            n += rows
        if fh is not None:
            fh.close()
            yield pd.DataFrame({"path": [out_path], "n_rows": [n]})

    result = df.mapInPandas(_write_partition, _RESULT_SCHEMA).collect()
    return [(r["path"], r["n_rows"]) for r in result]


def decode_avro_file(fp, session_tz: str = "UTC") -> tuple[dict, list[tuple]]:
    """Decode one Avro container file -> (schema, rows). Pure python; used
    executor-side by ``read_avro`` and directly by tests."""
    data = fp.read() if hasattr(fp, "read") else open(fp, "rb").read()
    buf = memoryview(data)
    if bytes(buf[:4]) != MAGIC:
        raise ValueError("not an Avro container file")
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
            klen, pos = _dec_long(buf, pos)
            key = bytes(buf[pos : pos + klen]).decode()
            pos += klen
            vlen, pos = _dec_long(buf, pos)
            meta[key] = bytes(buf[pos : pos + vlen])
            pos += vlen
    if meta.get("avro.codec", b"null") != b"null":
        raise ValueError(f"unsupported codec {meta['avro.codec']!r}")
    avro_sch = json.loads(meta["avro.schema"])
    sync = bytes(buf[pos : pos + 16])
    pos += 16
    decs = _field_decoders(avro_sch, session_tz)
    rows: list[tuple] = []
    while pos < len(buf):
        count, pos = _dec_long(buf, pos)
        _size, pos = _dec_long(buf, pos)
        for _ in range(count):
            vals = []
            for dec in decs:
                v, pos = dec(buf, pos)
                vals.append(v)
            rows.append(tuple(vals))
        if bytes(buf[pos : pos + 16]) != sync:
            raise ValueError("sync marker mismatch (corrupt block)")
        pos += 16
    return avro_sch, rows


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
