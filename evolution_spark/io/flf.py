"""Fixed-length-file read/parse/encode/write as narrow Spark pipelines.

This module is the Spark-native realization of the reference's entire dataflow
(SURVEY.md §2.1):

* ``read_flf``  — O1/O2: ``spark.read.text`` replaces the chunked line-aligned
  slicer (crates/evolution-slicer/src/slicer.rs:62-343); Spark's
  HadoopFileLinesReader realigns rows across split boundaries natively, and the
  read-buffer-size knob maps to ``spark.sql.files.maxPartitionBytes``.
* ``parse_flf`` — O3-O10: fixed-width rune extraction (rune positions,
  matching crates/evolution-parser/src/trimmer.rs:55-85; sliced on bytes
  when a line is one byte per rune), pad-trim per alignment
  (trimmer.rs:88-94), strict casts
  (crates/evolution-parser/src/datatype.rs), and nullability enforcement
  (crates/evolution-builder/src/datatype.rs:72-82: nullable failure -> NULL,
  non-nullable failure -> abort).
* ``encode_flf``/``write_flf`` — O13: the inverse converter
  (crates/evolution-writer/src/writer.rs:35-182).

The parse is staged projections built as SQL text — gate, slice, trim,
cast, enforce — each reading the one before only through its output
columns, so every field is sliced, trimmed and cast once per row. Whole-stage
codegen fuses them into one narrow stage: shuffle-free and scale-linear, one
task per file split, no Python in the hot path. ``parse_flf`` says why the
stages must stay apart, why they are SQL rather than Column-API trees, and
why the byte slice is exact.

Compressed input: ``spark.read.text`` decompresses ``.gz``/``.bz2``/... FLF
transparently (tested in test_flf.py). A gzip file is NOT splittable — one
task per file — so large compressed drops should arrive as many files (or
use a splittable codec); ``max_partition_bytes`` only affects uncompressed
splits.

Semantics divergences from the reference (documented per SURVEY.md §7):
* Int parsing trims the *declared* pad symbol before the cast instead of
  scanning for the first sign+digit run (trimmer.rs:111-167), so digit pad
  symbols cannot silently merge into values.
* Float parsing accepts Spark's cast grammar (``Infinity``/``NaN`` spellings,
  scientific notation) instead of Rust's (``inf``/``NaN``).
* Multithreaded output order: the reference is arrival-order nondeterministic
  (converter.rs:295-298); Spark is per-split deterministic — strictly stronger.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from evolution_spark.io.sqltext import quote_ident, sql_string
from evolution_spark.schema import FixedColumn, FixedSchema

_INT_TYPES = ("Int16", "Int32", "Int64")
# Every Int parses as BIGINT; Int16/Int32 then narrow to (Spark type) after a
# bounds check on [lo, hi]. Int64 needs no check: BIGINT is its range.
_NARROW_INTS = {"Int16": ("SMALLINT", -(2**15), 2**15 - 1), "Int32": ("INT", -(2**31), 2**31 - 1)}
_FLOAT_TYPES = {"Float16": "FLOAT", "Float32": "FLOAT", "Float64": "DOUBLE"}
_TEXT_TYPES = ("Utf8", "LargeUtf8")
# alignment -> (SQL TRIM side, one-argument trim function)
_TRIM = {"Left": ("TRAILING", "rtrim"), "Right": ("LEADING", "ltrim"), "Center": ("BOTH", "trim")}

_INT_RE = r"^-?[0-9]+$"  # optional '-' + digit run (FIXTURES.md oracle rule 3)


def trim_padding(col: Column, column: FixedColumn) -> Column:
    """Pad-trim per alignment (reference trimmer.rs:88-94):
    Left-aligned -> strip trailing pad; Right-aligned -> strip leading pad;
    Center -> strip both. The Column form of ``parse_flf``'s trim stage.

    A Whitespace pad uses the one-argument ``ltrim``/``rtrim``/``trim``,
    which strips exactly U+0020 in a byte loop; the two-argument form
    (used for every other pad: a one-rune set, so exactly pad-run removal,
    no regex escaping) copies a one-rune string per stripped pad rune."""
    trim = getattr(F, _TRIM[column.alignment][1])
    return trim(col) if column.pad_char == " " else trim(col, F.lit(column.pad_char))


def _trim_sql(raw: str, column: FixedColumn) -> str:
    """SQL of :func:`trim_padding`. ``TRIM(side pad FROM x)`` and not
    ``ltrim(x, pad)``: the SQL two-argument ``ltrim``/``rtrim`` take
    ``(trimStr, str)``, the reverse of the Column API."""
    side, fn = _TRIM[column.alignment]
    if column.pad_char == " ":
        return f"{fn}({raw})"
    return f"TRIM({side} {sql_string(column.pad_char)} FROM {raw})"


def _cast_sql(i: int, column: FixedColumn) -> str:
    """One strict cast of trimmed field ``__t{i}`` (raw field ``__r{i}``);
    NULL on failure. Ints come out BIGINT, ungated: which spellings count
    is :func:`_int_ok_sql`'s, applied with the bounds in the next stage.

    Boolean is strict (exactly ``true``/``false``, reference
    datatype.rs:62-67 — Spark's native boolean cast is laxer, accepting
    t/f/1/0/yes/no, so it is NOT used). Int overflow -> NULL, matching
    ``atoi_simd`` ``None``. Utf8/LargeUtf8 never fail (datatype.rs:170-175)."""
    t, r, dt = f"__t{i}", f"__r{i}", column.dtype
    if dt == "Boolean":
        return f"CASE {t} WHEN 'true' THEN true WHEN 'false' THEN false END"
    if dt in _INT_TYPES:
        # Digit pad symbols: an all-pad field trims to "" but is a valid
        # number in the reference's digit-run scan (trimmer.rs:111-167 —
        # "000000" with Zero pad is the value 0, "555555" with Five pad
        # is 555555), so the raw field is cast when the trim leaves "".
        src = f"IF({t} = '', {r}, {t})" if column.pad_char.isdigit() else t
        return f"try_cast({src} AS BIGINT)"
    if dt in _FLOAT_TYPES:
        return f"try_cast({t} AS {_FLOAT_TYPES[dt]})"
    return t


def _int_ok_sql(i: int, column: FixedColumn) -> str:
    """Whether Int field ``i``'s text is a sign+digit run (``_INT_RE``),
    so that its cast ``__v{i}`` stands. A canonical BIGINT spelling
    (``CAST(__v AS STRING)`` gives the text back) always is one, so the
    regex runs only for the rest: leading zeros, ``-0``, and the spellings
    ``try_cast`` accepts but the reference does not (``+5``, or a space
    beside the digits)."""
    t, r = f"__t{i}", f"__r{i}"
    gate = sql_string(_INT_RE)
    ok = f"CAST(__v{i} AS STRING) = {t} OR {t} RLIKE {gate}"
    if column.pad_char.isdigit():
        ok += f" OR {t} = '' AND {r} RLIKE {gate}"
    return f"({ok})"


def _enforce_sql(i: int, column: FixedColumn, mode: str) -> str:
    """The typed value of field ``i``: the Int spelling gate and Int16/Int32
    bounds (failure -> NULL), then, for a non-nullable column in ``abort``
    mode, ``raise_error`` on NULL with the column and raw field in the
    message."""
    v, dt = f"__v{i}", column.dtype
    if dt in _TEXT_TYPES:
        return f"__t{i}"
    enforce = not column.is_nullable and mode == "abort"
    fail = ""
    if enforce:
        msg = sql_string(
            f"could not parse non-nullable column '{column.name}' "
            f"(dtype {dt}) from field value '"
        )
        quote = sql_string("'")
        fail = f" ELSE raise_error(concat({msg}, __r{i}, {quote}))"
    if dt in _NARROW_INTS:
        target, lo, hi = _NARROW_INTS[dt]
        return (f"CASE WHEN {_int_ok_sql(i, column)} AND {v} BETWEEN {lo} AND {hi} "
                f"THEN CAST({v} AS {target}){fail} END")
    if dt in _INT_TYPES:
        return f"CASE WHEN {_int_ok_sql(i, column)} AND {v} IS NOT NULL THEN {v}{fail} END"
    return f"CASE WHEN {v} IS NOT NULL THEN {v}{fail} END" if enforce else v


def _cast_stages(df: DataFrame, schema: FixedSchema, column: str,
                 keep_line: bool = False) -> DataFrame:
    """Stages 0-3 of the parse over the lines in ``column``: gate the line
    (``__b``: its bytes when it is one byte per rune, else NULL), slice
    field ``i`` to ``__r{i}`` (on ``__b`` when it is set, else with the
    codepoint ``substring``), trim it to ``__t{i}``, cast it to ``__v{i}``.
    ``keep_line`` keeps the line as ``line``.

    One ``selectExpr`` whose stages read the one before through lateral
    column aliases: the analyzer splits it into one projection per stage,
    the same plan as one ``selectExpr`` per stage, built in about 0.7x the
    time. An input column shadows a lateral alias of the same name, so an
    input with other columns, or a line column in the ``__`` namespace of
    the stages, is first narrowed to the line alone."""
    if df.columns != [column] or column.startswith("__"):
        df, column = df.selectExpr(f"{quote_ident(column)} AS value"), "value"
    cols = list(enumerate(schema.columns))
    line = quote_ident(column)
    return df.selectExpr(
        *([f"{line} AS line"] if keep_line else []),
        f"CASE WHEN octet_length({line}) = char_length({line}) "
        f"THEN CAST({line} AS BINARY) END AS __b",
        *[f"IF(__b IS NULL, substring({line}, {c.offset + 1}, {c.length}), "
          f"CAST(substring(__b, {c.offset + 1}, {c.length}) AS STRING)) AS __r{i}"
          for i, c in cols],
        *[f"{_trim_sql(f'__r{i}', c)} AS __t{i}" for i, c in cols],
        *[f"{_cast_sql(i, c)} AS __v{i}" for i, c in cols if c.dtype not in _TEXT_TYPES],
    )


def parse_flf(
    df: DataFrame,
    schema: FixedSchema,
    column: str = "value",
    mode: str = "abort",
) -> DataFrame:
    """Parse a DataFrame of raw FLF lines into a typed DataFrame — the
    whole of reference operators O3-O10 as five staged projections:

    0. gate: the line's bytes when it is one byte per rune, else NULL;
    1. slice: rune positions, on the line's bytes when the gate holds,
       else with the codepoint-counting ``substring``;
    2. pad trim per alignment;
    3. one strict cast per field (NULL on failure);
    4. the Int spelling gate, Int16/Int32 bounds and nullability
       enforcement.

    ``mode='abort'``: a cast failure on a non-nullable column raises at
    execution time via ``raise_error`` — a single-pass, distributed
    analogue of the reference's conversion abort (column.rs:123-131) with
    the failing column and raw value in the message. ``mode='permissive'``:
    failures become NULL everywhere.

    The analyzer makes one projection per stage, each reading the one
    before only through its output attributes (stages 0-3 are one
    ``selectExpr`` of lateral column aliases, see ``_cast_stages``), so
    every field is sliced, trimmed and cast exactly once per row, and
    whole-stage codegen fuses them into one narrow stage. Do not
    collapse them into one expression per field: the optimizer does not
    share work across ``CASE`` branches, so a nested tree repeats the trim
    and cast in each branch that names them (five times per row for an
    Int64 field). The stages are SQL text rather than Column-API trees
    because each Column call is a py4j round trip: SQL text builds the
    plan in about half the time.

    The slice is the per-row hot spot: ``substring`` on a string walks the
    codepoints from the start of the line for every field, O(fields x
    width) per row. The gate stage keeps the line's bytes as ``__b`` when
    ``octet_length = char_length``, and each field is then a byte
    ``substring`` of them. That is exact: ``char_length`` and ``substring``
    step through a line with the same lead-byte table (a stray
    continuation byte such as 0x80 counts as one rune of one byte), so
    when the two lengths agree every rune is one byte and byte positions
    are rune positions, for invalid UTF-8 too. The one place they differ
    is a multi-byte lead byte as the line's last byte: the codepoint
    ``substring`` then copies bytes from past the end of the line, the
    byte slice stops at it. Other lines take the codepoint ``substring``.

    Ints are cast once, and the cast stands when ``CAST(v AS STRING)``
    gives the trimmed text back (a canonical BIGINT spelling) or the text
    matches the sign+digit regex; the regex runs only for the rest
    (``007``, ``-0``, and ``+5`` or a space beside the digits, which
    ``try_cast`` takes but the reference does not).
    """
    if mode not in ("abort", "permissive"):
        raise ValueError(f"unknown mode {mode!r} (expected 'abort' or 'permissive')")
    return _cast_stages(df, schema, column).selectExpr(*[
        f"{_enforce_sql(i, c, mode)} AS {quote_ident(c.name)}"
        for i, c in enumerate(schema.columns)
    ])


def parse_failures(df: DataFrame, schema: FixedSchema, column: str = "value") -> DataFrame:
    """Every parse failure on a non-nullable column, one row
    ``(line, column, raw_field)`` each: what ``parse_flf(mode='abort')``
    would abort on, found by the same staged expressions."""
    checks = [
        f"CASE WHEN {_enforce_sql(i, c, 'permissive')} IS NULL THEN named_struct("
        f"'column', {sql_string(c.name)}, 'raw_field', __r{i}) END"
        for i, c in enumerate(schema.columns)
        if not c.is_nullable and c.dtype not in _TEXT_TYPES
    ]
    if not checks:
        return df.sparkSession.createDataFrame([], "line string, column string, raw_field string")
    staged = _cast_stages(df, schema, column, keep_line=True)
    return staged.selectExpr(
        "line", f"explode(filter(array({', '.join(checks)}), f -> f IS NOT NULL)) AS f"
    ).select("line", "f.column", "f.raw_field")


def read_flf(
    spark: SparkSession,
    path: str,
    schema: FixedSchema,
    mode: str = "abort",
    max_partition_bytes: int | None = None,
) -> DataFrame:
    """Read + parse an FLF file into a typed DataFrame (reference O1 + O3-O10).

    ``spark.read.text`` handles ``\\n``/``\\r\\n`` and chunk/line alignment
    across splits (replacing the slicer crate); ``max_partition_bytes`` is the
    moral equivalent of the reference's ``read_buffer_size`` knob
    (examples/full/src/cli.rs:73-82) — at cluster scale it controls the split
    (= task) granularity of the scan.

    Split sizing is a *session* conf (``spark.sql.files.maxPartitionBytes``)
    that Spark reads at ACTION time, not when the DataFrame is defined — a
    per-reader ``.option(...)`` is silently ignored by the text source, and a
    set-then-restore around this call would be a no-op (verified: restoring
    the conf before the action reverts the split count). So when
    ``max_partition_bytes`` is given, this sets the session conf and LEAVES
    it set; callers wanting it scoped to one job wrap the whole read→action
    span in :func:`scoped_max_partition_bytes` (``Converter.run`` does).
    """
    if max_partition_bytes is not None:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(max_partition_bytes))
    lines = spark.read.text(path)
    return parse_flf(lines, schema, column="value", mode=mode)


@contextmanager
def scoped_max_partition_bytes(spark: SparkSession, nbytes: int | None):
    """Scope ``spark.sql.files.maxPartitionBytes`` to a read→action span.

    Spark resolves file splits when the job RUNS, so the conf must still be
    set at action time — this manager wraps the whole span (build the plan
    AND run the action inside the ``with`` block) and restores the prior
    value afterwards. ``nbytes=None`` is a no-op passthrough.
    """
    if nbytes is None:
        yield
        return
    key = "spark.sql.files.maxPartitionBytes"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, str(nbytes))
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


# ---------------------------------------------------------------------------
# Encoding (O13 — the FLF sink / inverse converter)
# ---------------------------------------------------------------------------


_JVM_SHORTEST_CACHE: dict[int, bool] = {}


def _jvm_emits_shortest(spark) -> bool:
    """True when the JVM's ``Double.toString``/``Float.toString`` emits
    shortest-roundtrip digits — JDK >= 19 (JDK-4511638, fixed by the Ryu
    rewrite in 19). Pre-19 JVMs (this container runs 17) can emit
    non-shortest digits for rare values, so the plain-float renderer must
    fall back to the numpy pandas-UDF path to keep Rust-Display/NumPy
    parity and bounded field widths. Probed once per session via the public
    ``java_method`` SQL reflection function (no internal JVM handles)."""
    key = id(spark)
    if key not in _JVM_SHORTEST_CACHE:
        ver = str(
            spark.sql(
                "SELECT java_method('java.lang.System', 'getProperty', "
                "'java.specification.version')"
            ).first()[0]
        )
        major = ver.split(".")[1] if ver.startswith("1.") else ver.split(".")[0]
        try:
            _JVM_SHORTEST_CACHE[key] = int(major) >= 19
        except ValueError:
            _JVM_SHORTEST_CACHE[key] = False
    return _JVM_SHORTEST_CACHE[key]


def _plain_float_udf(single_precision: bool):
    """Shortest-roundtrip *plain* decimal rendering via numpy
    (``np.format_float_positional``, Ryu — guaranteed shortest digits on
    any JDK). Arrow-batched pandas UDF; used by ``float_format='plain'``
    encodes only when the JVM cast cannot guarantee shortest digits
    (JDK < 19 — see ``_jvm_emits_shortest``). NULLs are masked out by the
    caller (pandas float series conflate NULL with NaN), so every value
    seen here renders to text."""

    @F.pandas_udf("string")
    def fmt_series(s):  # type: ignore[misc]
        import numpy as np

        ftype = np.float32 if single_precision else np.float64

        def fmt(f):
            v = ftype(f)
            if np.isnan(v):
                return "NaN"
            if np.isinf(v):
                return "Infinity" if v > 0 else "-Infinity"
            return np.format_float_positional(v, unique=True, trim="-")

        return s.map(fmt)

    return fmt_series


def _plain_float_expr(col: Column) -> Column:
    """Shortest-roundtrip *plain* decimal rendering of a float column
    (Rust ``Display`` parity: ``-652053955.456``, never ``-6.52E8``).

    Pure JVM expression — no Python anywhere: on JDK >= 19 the JVM's
    cast-to-string emits the shortest-roundtrip digits (Ryu), just
    sometimes in scientific notation; this expression re-positions the
    decimal point with string ops, all inside whole-stage codegen. On
    older JDKs the caller routes to ``_plain_float_udf`` instead
    (JDK-4511638: pre-19 ``Double.toString`` is not always shortest).
    Precision (Float32 vs Float64 shortest repr) comes from the column's
    own type, exactly as the JVM cast renders it.

    Mechanics: split ``dEe`` into sign, integer digits ``d``, fraction
    digits ``f`` (trailing zeros trimmed — shortest repr only carries them
    in the ``x.0`` integral case), exponent ``e``; the decimal point then
    belongs after ``p = len(d) + e`` digits of ``d||f`` — pad with zeros on
    whichever side ``p`` falls outside.
    """
    s = col.cast("string")
    mant = F.split_part(s, F.lit("E"), F.lit(1))
    exp = F.coalesce(
        F.nullif(F.split_part(s, F.lit("E"), F.lit(2)), F.lit("")).cast("int"),
        F.lit(0),
    )
    neg = mant.startswith("-")
    m = F.when(neg, mant.substr(F.lit(2), F.length(mant))).otherwise(mant)
    d = F.split_part(m, F.lit("."), F.lit(1))
    f = F.regexp_replace(F.split_part(m, F.lit("."), F.lit(2)), "0+$", "")
    digits = F.concat(d, f)
    p = F.length(d) + exp  # digits left of the decimal point
    n = F.length(digits)
    body = (
        F.when(p >= n, F.concat(digits, F.repeat(F.lit("0"), p - n)))
        .when(p <= 0, F.concat(F.lit("0."), F.repeat(F.lit("0"), -p), digits))
        .otherwise(
            F.concat(digits.substr(F.lit(1), p), F.lit("."), digits.substr(p + 1, n))
        )
    )
    plain = F.when(neg, F.concat(F.lit("-"), body)).otherwise(body)
    return F.when(s.isin("NaN", "Infinity", "-Infinity"), s).otherwise(plain)


def _value_as_text(
    col: Column,
    column: FixedColumn,
    float_format: str = "native",
    jvm_shortest: bool = False,
) -> Column:
    """Render a typed value as field text. Booleans render ``true``/``false``
    (Rust Display parity); NULL renders as the empty string (an all-pad field,
    which parses back to NULL). Floats: ``float_format='native'`` uses Spark's
    shortest cast-to-string (scientific notation at >=1e7); ``'plain'``
    matches Rust's plain Display — via a codegen-resident string expression
    when the JVM guarantees shortest digits (``jvm_shortest``, JDK >= 19),
    else via the numpy pandas UDF."""
    if column.dtype == "Boolean":
        text = F.when(col, F.lit("true")).when(~col, F.lit("false"))
    elif float_format == "plain" and column.dtype in ("Float16", "Float32", "Float64"):
        if jvm_shortest:
            text = F.when(col.isNotNull(), _plain_float_expr(col))
        else:
            udf = _plain_float_udf(column.dtype != "Float64")
            text = F.when(col.isNotNull(), udf(col))
    else:
        text = col.cast("string")
    return F.coalesce(text, F.lit(""))


def pad_field(text: Column, column: FixedColumn, overflow: str = "error") -> Column:
    """Pad field text to the declared rune width per alignment+symbol
    (reference: padder crate via writer.rs / mocker.rs:213-221).

    Left -> pad on the right; Right -> pad on the left; Center -> split pad,
    extra pad rune on the right. ``overflow='error'`` raises when a value is
    wider than the field (silent truncation would corrupt data);
    ``overflow='truncate'`` keeps the leftmost ``length`` runes.
    """
    width = column.length
    pad = column.pad_char
    n = F.length(text)
    if column.alignment == "Left":
        padded = F.rpad(text, width, pad)
    elif column.alignment == "Right":
        padded = F.lpad(text, width, pad)
    else:  # Center: left gets floor((width-n)/2), remainder goes right
        left_target = n + F.floor((F.lit(width) - n) / F.lit(2)).cast("int")
        padded = F.rpad(F.lpad(text, left_target, pad), width, pad)
    if overflow == "truncate":
        return F.substring(padded, 1, width)
    return F.when(
        n > width,
        F.raise_error(
            F.concat(
                F.lit(
                    f"value too wide for column '{column.name}' "
                    f"(width {width} runes): '"
                ),
                text,
                F.lit("'"),
            )
        ),
    ).otherwise(padded)


def encode_flf(
    df: DataFrame,
    schema: FixedSchema,
    overflow: str = "error",
    out_column: str = "value",
    float_format: str = "native",
) -> DataFrame:
    """Encode a typed DataFrame into one fixed-width text line per row.

    Columns are laid out at their declared offsets; gaps between fields (and a
    ragged tail up to ``row_length``) are filled with spaces. Returns a
    single-string-column DataFrame ready for ``write.text``.
    """
    jvm_shortest = float_format == "plain" and _jvm_emits_shortest(df.sparkSession)
    pieces: list[Column] = []
    cursor = 0
    # FixedSchema refuses overlapping columns at construction
    for c in sorted(schema.columns, key=lambda c: c.offset):
        if c.offset > cursor:
            pieces.append(F.lit(" " * (c.offset - cursor)))
        pieces.append(
            pad_field(
                _value_as_text(
                    F.col(c.name), c, float_format=float_format, jvm_shortest=jvm_shortest
                ),
                c,
                overflow=overflow,
            )
        )
        cursor = c.offset + c.length
    if cursor < schema.row_length:
        pieces.append(F.lit(" " * (schema.row_length - cursor)))
    return df.select(F.concat(*pieces).alias(out_column))


def write_flf(
    df: DataFrame,
    schema: FixedSchema,
    path: str,
    overflow: str = "error",
    mode: str = "error",
    float_format: str = "native",
) -> None:
    """Encode + write an FLF dataset (reference O13).

    Each task writes its own part file — the reference's single-writer-thread
    bottleneck (converter.rs:295-298) does not exist here; coalesce ``df``
    to one partition for one-output-file parity.
    """
    encoded = encode_flf(df, schema, overflow=overflow, float_format=float_format)
    encoded.write.mode(mode).text(path)
