"""Iceberg partition transforms (spec §Partition Transforms + Appendix B).

The reference's Iceberg target declares partitioned writes but implements
none of the spec's transform family (crates/evolution-target/src/target.rs);
this module implements the v2 transform set the way a Spark engine should:

- the TRANSFORM COLUMN (``with_transform_column``) is computed with
  built-in JVM expressions wherever the spec's function is expressible:
  truncate, year/month/day/hour, AND ``bucket[N]`` over integral sources
  (int/long/date/timestamp[tz]) — the spec pins Murmur3-x86-32 over the
  type's single-value serialization, which Spark's built-in ``hash()``
  (seed 42, Spark-specific encoding) does NOT match, so the two 4-byte
  mixing rounds + finalization are spelled out as masked BIGINT
  arithmetic, staged through narrow projections so the write plan stays
  in whole-stage codegen (zero Python in any write hot path). Only
  ``bucket`` over STRINGS keeps an Arrow-batched pandas UDF
  (variable-length byte hashing has no built-in expression form); the
  pure-Python ``bucket_hash`` is the reference both are tested against;
- hive-style dir layout comes free from ``partitionBy`` on the computed
  column: source columns STAY in the data files (unlike identity
  partitioning, a transform is lossy, so the reader never reconstructs the
  source from dir values);
- PRUNING applies the same transform to a predicate literal driver-side
  and drops manifest entries whose partition record cannot match — at
  100 TB this is the difference between "scan the table" and "scan one
  bucket/day": file listing never touches the data.

Supported (matching the spec's applicability table for this engine's type
set): ``identity`` (all), ``bucket[N]`` (int, long, date, timestamp[tz],
string), ``truncate[W]`` (int, long, string), ``year``/``month``/``day``
(date, timestamp[tz]), ``hour`` (timestamp[tz]).

Spec-exactness of ``bucket`` is pinned by the Appendix B test vectors
(34 -> 2017239379, 'iceberg' -> 1210000089, date 2017-11-16 ->
-653330422) in tests/test_iceberg_transforms.py.
"""

# NOTE: no ``from __future__ import annotations`` — the pandas-UDF type
# hints must bind the locally-imported ``pd`` eagerly at def time
import re

from evolution_spark.io.sqltext import quote_ident

__all__ = [
    "murmur3_32",
    "bucket_hash",
    "parse_partition_by",
    "result_ice_type",
    "transform_literal",
    "with_transform_column",
    "partition_field_name",
]

_M3_C1 = 0xCC9E2D51
_M3_C2 = 0x1B873593
_MASK = 0xFFFFFFFF


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """Murmur3-x86-32 (the spec's ``hash`` for bucket), unsigned result."""
    h = seed
    n = len(data)
    full = n - n % 4
    for i in range(0, full, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * _M3_C1) & _MASK
        k = ((k << 15) | (k >> 17)) & _MASK
        k = (k * _M3_C2) & _MASK
        h ^= k
        h = ((h << 13) | (h >> 19)) & _MASK
        h = (h * 5 + 0xE6546B64) & _MASK
    tail = data[full:]
    if tail:
        k = int.from_bytes(tail, "little")
        k = (k * _M3_C1) & _MASK
        k = ((k << 15) | (k >> 17)) & _MASK
        k = (k * _M3_C2) & _MASK
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _MASK
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _MASK
    h ^= h >> 16
    return h


# integral iceberg types bucket-hash as the 8-byte little-endian long of
# their widened value (spec Appendix B: int/long/date/time/timestamp[tz])
_INTEGRAL = ("int", "long", "date", "timestamp", "timestamptz")


def bucket_hash(value, ice_type: str) -> int:
    """The spec's single-value hash (SIGNED 32-bit, pre-modulo)."""
    if ice_type in _INTEGRAL:
        data = int(value).to_bytes(8, "little", signed=True)
    elif ice_type == "string":
        data = str(value).encode("utf-8")
    elif ice_type == "binary":
        data = bytes(value)
    else:
        raise TypeError(f"bucket transform on iceberg type {ice_type} not supported")
    h = murmur3_32(data)
    return h - (1 << 32) if h >= (1 << 31) else h


def _bucket_index(value, ice_type: str, n: int) -> int:
    return (bucket_hash(value, ice_type) & 0x7FFFFFFF) % n


_SPEC_RE = re.compile(
    r"^\s*(bucket|truncate)\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)\s*$|"
    r"^\s*(years?|months?|days?|hours?)\s*\(\s*(\w+)\s*\)\s*$"
)

_TEMPORAL_CANON = {
    "year": "year", "years": "year",
    "month": "month", "months": "month",
    "day": "day", "days": "day",
    "hour": "hour", "hours": "hour",
}

_FIELD_SUFFIX = {
    "bucket": "bucket", "truncate": "trunc",
    "year": "year", "month": "month", "day": "day", "hour": "hour",
}


def partition_field_name(transform: str, source: str) -> str:
    """Java-writer naming convention: ``<col>_bucket``, ``<col>_trunc``,
    ``<col>_day`` … (identity keeps the column name)."""
    base = transform.split("[", 1)[0]
    if base == "identity":
        return source
    return f"{source}_{_FIELD_SUFFIX[base]}"


def parse_partition_by(entries, ice_schema: dict, first_field_id: int = 1000):
    """Parse user-facing ``partition_by`` strings into spec fields.

    Accepted forms per entry: ``"col"`` (identity), ``"bucket(N, col)"``,
    ``"truncate(W, col)"``, ``"years(col)"`` / ``"months(col)"`` /
    ``"days(col)"`` / ``"hours(col)"`` (singulars too). Returns the
    metadata ``partition-specs`` field list with canonical spec transform
    strings (``bucket[N]``, ``truncate[W]``, ``year``/``month``/``day``/
    ``hour``)."""
    by_name = {f["name"]: f for f in ice_schema["fields"]}
    spec_fields = []
    for i, raw in enumerate(entries or []):
        m = _SPEC_RE.match(raw)
        if m is None:
            col = raw.strip()
            transform = "identity"
        elif m.group(1):
            transform = f"{m.group(1)}[{int(m.group(2))}]"
            col = m.group(3)
        else:
            transform = _TEMPORAL_CANON[m.group(4)]
            col = m.group(5)
        src = by_name.get(col)
        if src is None:
            raise ValueError(
                f"partition_by references unknown column {col!r} "
                f"(table columns: {sorted(by_name)})"
            )
        result_ice_type(transform, src["type"])  # validates applicability
        spec_fields.append(
            {
                "name": partition_field_name(transform, col),
                "transform": transform,
                "source-id": src["id"],
                "field-id": first_field_id + i,
            }
        )
    names = [f["name"] for f in spec_fields]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate partition field names {names}")
    return spec_fields


def result_ice_type(transform: str, source_type: str) -> str:
    """The transform's result iceberg type (what dirs/partition records
    store), validating spec applicability for this engine's type set."""
    if transform == "identity":
        return source_type
    base, _, arg = transform.partition("[")
    if base == "bucket":
        if source_type not in _INTEGRAL + ("string", "binary"):
            raise TypeError(
                f"bucket transform on iceberg type {source_type} not supported"
            )
        return "int"
    if base == "truncate":
        if source_type not in ("int", "long", "string"):
            raise TypeError(
                f"truncate transform on iceberg type {source_type} not supported"
            )
        return source_type
    if base in ("year", "month", "day"):
        if source_type not in ("date", "timestamp", "timestamptz"):
            raise TypeError(
                f"{base} transform on iceberg type {source_type} not supported"
            )
        return "int"
    if base == "hour":
        if source_type not in ("timestamp", "timestamptz"):
            raise TypeError(
                f"hour transform needs a timestamp source, got {source_type}"
            )
        return "int"
    raise ValueError(f"unknown partition transform {transform!r}")


def _transform_arg(transform: str) -> int:
    return int(transform.partition("[")[2].rstrip("]"))


def _transform_column(transform: str, col_name: str, source_type: str):
    """Spark Column computing the transform of ``col_name`` for every
    transform but the integral ``bucket`` (``with_transform_column``
    stages that one) — built-in JVM expressions, except ``bucket`` over
    strings: the one Arrow-batched pandas UDF."""
    from pyspark.sql import functions as F

    c = F.col(col_name)
    if transform == "identity":
        return c
    base = transform.split("[", 1)[0]
    if base == "truncate":
        w = _transform_arg(transform)
        if source_type == "string":
            return F.substring(c, 1, w)
        # spec: v - (((v % W) + W) % W) — floor-mod, exactly pmod
        return (c - F.pmod(c, F.lit(w))).cast(
            "int" if source_type == "int" else "long"
        )
    if base == "year":
        return (F.year(c) - F.lit(1970)).cast("int")
    if base == "month":
        return ((F.year(c) - F.lit(1970)) * 12 + F.month(c) - 1).cast("int")
    if base == "day":
        if source_type == "date":
            return F.datediff(c, F.lit("1970-01-01")).cast("int")
        if source_type == "timestamp":  # NTZ: tz-free calendar arithmetic
            return F.datediff(F.to_date(c), F.lit("1970-01-01")).cast("int")
        return F.floor(F.unix_micros(c) / F.lit(86_400_000_000)).cast("int")
    if base == "hour":
        if source_type == "timestamp":
            # NTZ floor(micros/3600e6) without a session-tz round-trip:
            # epoch days * 24 + local hour IS the floor (exact also for
            # negative days — -1 day at 23:00 -> -1, the correct floor)
            return (
                F.datediff(F.to_date(c), F.lit("1970-01-01")) * 24 + F.hour(c)
            ).cast("int")
        return F.floor(F.unix_micros(c) / F.lit(3_600_000_000)).cast("int")
    if base == "bucket":
        return _bucket_udf(source_type, _transform_arg(transform))(c)
    raise ValueError(f"unknown partition transform {transform!r}")


def _int_value_sql(qc: str, source_type: str) -> str:
    """The integral source's 8-byte-value widening as BIGINT SQL over
    the quoted column ``qc``, for the staged bucket lane. NTZ avoids
    unix_micros (refuses TIMESTAMP_NTZ) and session-zone casts by
    building micros from tz-free calendar components (extract(SECOND)
    carries the fraction)."""
    if source_type == "date":
        return f"CAST(datediff({qc}, '1970-01-01') AS BIGINT)"
    if source_type == "timestamp":
        days = f"CAST(datediff(to_date({qc}), '1970-01-01') AS BIGINT)"
        secs = (
            f"({days} * 86400 + CAST(hour({qc}) AS BIGINT) * 3600 "
            f"+ CAST(minute({qc}) AS BIGINT) * 60)"
        )
        return (
            f"({secs} * 1000000 + "
            f"CAST(extract(SECOND FROM {qc}) * 1000000 AS BIGINT))"
        )
    if source_type == "timestamptz":
        return f"unix_micros({qc})"
    return f"CAST({qc} AS BIGINT)"


def with_transform_column(df, out_name: str, transform: str,
                          col_name: str, source_type: str):
    """``df.withColumn(out_name, transform)``, the one way a transform
    column is built. Integral ``bucket[N]`` (Murmur3-x86-32 of the value's
    8-byte little-endian serialization, Appendix B) is STAGED through
    ~20 narrow projections: each Murmur3 step lands in its own temp
    column, so every expression references prior ATTRIBUTES (leaves) and
    the trees stay LINEAR. A single-Column tree of the same hash is
    correct, but its rotl/xor-shift doublings build a tree large enough
    to fall out of whole-stage codegen inside WRITE plans — interpreted
    eval then re-walks the duplicated subtrees per row (measured 10x on
    the partitioned-write bench line). Catalyst's CollapseProject keeps
    the staging (it refuses to inline non-cheap expressions referenced
    twice), and what it does inline is single-use, i.e. still linear."""
    from pyspark.sql import functions as F

    base = transform.split("[", 1)[0]
    if base != "bucket" or source_type not in _INTEGRAL:
        return df.withColumn(
            out_name, _transform_column(transform, col_name, source_type)
        )
    n = _transform_arg(transform)
    # temp names stay bare identifiers whatever out_name holds, so the
    # stage references below need no quoting
    t = f"__bkt_{out_name.encode().hex()}"
    qc = quote_ident(col_name)

    # the staged chain is issued as ONE selectExpr whose items reference
    # earlier items by LATERAL COLUMN ALIAS (Spark 3.4+): the analyzer
    # expands that into exactly the nested Projects the old 20-withColumn
    # chain built, but the driver pays ONE py4j round trip instead of
    # ~150 (r16 cProfile: with_transform_column was 0.5 s of the
    # partitioned-write build, all socket wait)
    def mul32(x: str, const: int) -> str:
        # (x * const) mod 2^32 as a 16x32 split in pure BIGINT:
        # intermediates stay under 2^49 (ANSI-safe), ~80x cheaper per row
        # than DECIMAL pmod. It references x twice, which is cheap only
        # because x is a staged attribute, not a subtree
        return (
            f"((({x} & 65535) * {const} "
            f"+ shiftleft((shiftright({x}, 16) * {const}) & 65535, 16)) "
            f"& 4294967295)"
        )

    def rotl(x: str, r: int) -> str:
        return f"((shiftleft({x}, {r}) | shiftright({x}, {32 - r})) & 4294967295)"

    v = _int_value_sql(qc, source_type)
    stages: list[tuple[str, str]] = [
        (f"{t}_v", f"coalesce({v}, 0L)"),
        (f"{t}_k1", f"({t}_v & 4294967295)"),
        (f"{t}_k2", f"(shiftrightunsigned({t}_v, 32) & 4294967295)"),
    ]
    h = "CAST(0 AS BIGINT)"
    for i in (1, 2):
        stages += [
            (f"{t}_a{i}", mul32(f"{t}_k{i}", _M3_C1)),
            (f"{t}_b{i}", rotl(f"{t}_a{i}", 15)),
            (f"{t}_c{i}", mul32(f"{t}_b{i}", _M3_C2)),
            (f"{t}_h{i}", rotl(f"({h} ^ {t}_c{i})", 13)),
            (f"{t}_g{i}", f"(({mul32(f'{t}_h{i}', 5)} + {0xE6546B64}) & 4294967295)"),
        ]
        h = f"{t}_g{i}"
    stages += [
        (f"{t}_f0", f"({h} ^ 8)"),
        (f"{t}_f1", f"({t}_f0 ^ shiftright({t}_f0, 16))"),
        (f"{t}_f2", mul32(f"{t}_f1", 0x85EBCA6B)),
        (f"{t}_f3", f"({t}_f2 ^ shiftright({t}_f2, 13))"),
        (f"{t}_f4", mul32(f"{t}_f3", 0xC2B2AE35)),
        (f"{t}_f5", f"({t}_f4 ^ shiftright({t}_f4, 16))"),
        (
            f"{t}_out",
            f"CASE WHEN {qc} IS NULL THEN CAST(NULL AS INT) ELSE "
            f"CAST(pmod(({t}_f5 & {0x7FFFFFFF}), {n}) AS INT) END",
        ),
    ]
    df = df.selectExpr("*", *[f"{sql} AS {name}" for name, sql in stages])
    # withColumn, not a final alias: an existing out_name is replaced in
    # place, as in the unstaged lane, instead of duplicated
    return df.withColumn(out_name, F.col(f"{t}_out")).drop(*[name for name, _ in stages])


def _bucket_udf(source_type: str, n: int):
    """Arrow-batched ``bucket[N]`` UDF for string/binary sources: hashes
    per value (bytes vary in length) with the ``bucket_hash`` reference,
    but still moves values via Arrow batches, not per-row pickling."""
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("int")
    def _bucket_str(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: None if x is None else _bucket_index(x, source_type, n)
        ).astype("Int32")

    return _bucket_str


def resolve_partition_where(partition_where, spec_fields, schema_fields,
                            stringly=False):
    """Resolve a ``partition_where`` mapping into ``[(partition field
    name, stored value)]`` checks against manifest partition records —
    the ONE resolver both readers share (the DataFrame reader and the
    ``evolution_iceberg`` DataSource, whose option values arrive
    ``stringly``).

    A key may name the partition FIELD (value taken as the stored
    transform output) or the SOURCE column (the transform is applied to
    the literal driver-side — ``{'o_orderdate': '1995-03-15'}`` prunes a
    day/bucket spec without the caller knowing it). A source column under
    several transform fields contributes one check per field (more
    pruning, all sound for equality). Unknown keys raise — a typo'd key
    would otherwise silently prune everything into an empty result."""
    src_of = {f["id"]: f for f in schema_fields}
    resolved = []
    for k, v in (partition_where or {}).items():
        hits = []
        for pf in spec_fields:
            sf = src_of[pf["source-id"]]
            transform = pf.get("transform", "identity")
            if pf["name"] == k:
                out = result_ice_type(transform, sf["type"])
                if stringly:
                    val = _coerce_stored(out, str(v))
                elif transform == "identity":
                    val = transform_literal("identity", v, sf["type"])
                else:
                    val = v
                hits.append((pf["name"], val))
            elif sf["name"] == k:
                nat = v
                if stringly:
                    nat = int(v) if sf["type"] in ("int", "long") else str(v)
                hits.append(
                    (pf["name"], transform_literal(transform, nat, sf["type"]))
                )
        if not hits:
            known = sorted(
                {f["name"] for f in spec_fields}
                | {src_of[f["source-id"]]["name"] for f in spec_fields}
            )
            raise ValueError(
                f"partition_where key {k!r} is neither a partition field "
                f"nor a partition source column of this table (spec: "
                f"{known}) — refusing to prune on a non-existent key (it "
                "would silently return an empty result)"
            )
        resolved.extend(hits)
    return resolved


def _coerce_stored(result_type: str, s: str):
    """A stringly option value for a partition FIELD, coerced to the
    stored representation (dirs/records store the transform RESULT:
    int-family values, strings, or epoch days for identity-date)."""
    import datetime as dt

    if result_type in ("int", "long"):
        return int(s)
    if result_type == "date":
        return (dt.date.fromisoformat(s) - dt.date(1970, 1, 1)).days
    return s


def _utc_norm(v):
    """tz-AWARE datetimes convert to the UTC instant (timestamptz values
    partition by their UTC calendar); naive datetimes pass through (NTZ
    semantics are tz-free by definition)."""
    import datetime as dt

    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc)
    return v


def transform_literal(transform: str, value, source_type: str):
    """Apply a transform to a PREDICATE literal driver-side (for
    metadata pruning): the transformed value is what partition records
    store, so equality on the source column prunes to equality on the
    transform output. Accepts natural Python literals (int/str,
    datetime.date / datetime.datetime, ISO strings for temporal types)."""
    import datetime as dt

    if value is None:
        return None
    if transform == "identity":
        if source_type == "date":
            if isinstance(value, str):
                value = dt.date.fromisoformat(value)
            return (value - dt.date(1970, 1, 1)).days
        return value
    base = transform.split("[", 1)[0]
    if base == "bucket":
        v = value
        if source_type == "date":
            if isinstance(v, str):
                v = dt.date.fromisoformat(v)
            v = (v - dt.date(1970, 1, 1)).days
        elif source_type in ("timestamp", "timestamptz"):
            if isinstance(v, str):
                v = dt.datetime.fromisoformat(v)
            if isinstance(v, dt.datetime):
                v = _utc_norm(v)
                epoch = dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
                v = int((v - epoch).total_seconds() * 1_000_000)
        return _bucket_index(v, source_type, _transform_arg(transform))
    if base == "truncate":
        w = _transform_arg(transform)
        if source_type == "string":
            return str(value)[:w]
        return int(value) - (int(value) % w)  # Python % is already floor-mod
    # temporal: normalize to a datetime (tz-aware values are pinned to
    # UTC first — timestamptz partition values are UTC instants, so a
    # +05:00 literal must land in the UTC hour/day/month, not its local
    # calendar's)
    v = value
    if isinstance(v, str):
        v = (
            dt.date.fromisoformat(v)
            if source_type == "date"
            else dt.datetime.fromisoformat(v)
        )
    if isinstance(v, dt.date) and not isinstance(v, dt.datetime):
        v = dt.datetime(v.year, v.month, v.day)
    v = _utc_norm(v)
    if base == "year":
        return v.year - 1970
    if base == "month":
        return (v.year - 1970) * 12 + v.month - 1
    epoch = dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
    seconds = (v - epoch).total_seconds()
    if base == "day":
        return int(seconds // 86_400)
    if base == "hour":
        return int(seconds // 3_600)
    raise ValueError(f"unknown partition transform {transform!r}")
