"""End-to-end FLF parse/encode tests covering reference operators O1, O3-O13
(SURVEY.md §2.1) and the FIXTURES.md edge cases (multibyte runes, negative
numbers, zero padding, strict booleans, center alignment, non-nullable abort).
"""

from __future__ import annotations

import math
import random
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.errors import PySparkException

from evolution_spark.converter import Converter
from evolution_spark.io.flf import encode_flf, parse_flf, read_flf, write_flf
from evolution_spark.schema import SPARK_DTYPES, FixedSchema

EDGE = FixedSchema.from_dict(
    {
        "name": "EdgeCases",
        "version": 1,
        "columns": [
            {"name": "uni_name", "offset": 0, "length": 12, "dtype": "Utf8",
             "alignment": "Left", "pad_symbol": "Dot", "is_nullable": True},
            {"name": "neg_int", "offset": 12, "length": 8, "dtype": "Int64",
             "alignment": "Right", "pad_symbol": "Whitespace", "is_nullable": False},
            {"name": "zero_pad", "offset": 20, "length": 9, "dtype": "Int32",
             "alignment": "Right", "pad_symbol": "Zero", "is_nullable": False},
            {"name": "strict", "offset": 29, "length": 6, "dtype": "Boolean",
             "alignment": "Center", "pad_symbol": "Whitespace", "is_nullable": True},
            {"name": "ctr_f64", "offset": 35, "length": 14, "dtype": "Float64",
             "alignment": "Center", "pad_symbol": "Underscore", "is_nullable": True},
        ],
    }
)


def _lines_df(spark, lines):
    return spark.createDataFrame([(l,) for l in lines], ["value"])


def test_edge_cases_parse(spark):
    # Åström実験 = 8 runes, left-aligned dot-padded to 12
    line = "Åström実験...." + "    -123" + "000000042" + " true " + "__-3.14e2____"
    row = parse_flf(_lines_df(spark, [line]), EDGE).collect()[0]
    assert row.uni_name == "Åström実験"
    assert row.neg_int == -123
    assert row.zero_pad == 42
    assert row.strict is True
    assert row.ctr_f64 == pytest.approx(-314.0)


def test_parse_reads_only_the_line_column(spark):
    """Input columns beside the line, even ones named like the parse's own
    stage columns, do not leak into the parse; nor does a line column
    named like one."""
    lines = ["Åström実験...." + "    -123" + "000000042" + " true " + "__-3.14e2____",
             "abc........." + "       7" + "000000000" + "false " + "_____1.5_____"]
    want = parse_flf(_lines_df(spark, lines), EDGE).collect()
    df = spark.createDataFrame([(l, "9", "x") for l in lines], "value string, __r1 string, __b string")
    assert parse_flf(df, EDGE).collect() == want
    line_named_like_a_stage = _lines_df(spark, lines).withColumnRenamed("value", "__t0")
    assert parse_flf(line_named_like_a_stage, EDGE, column="__t0").collect() == want


def test_strict_boolean_rejects_lax_forms(spark):
    base = "x..........." + "       1" + "000000001"
    for field in [" TRUE ", "  yes ", "   t  ", "  1   "]:
        line = base + field + "______1_______"
        row = parse_flf(_lines_df(spark, [line]), EDGE).collect()[0]
        assert row.strict is None, field
    line = base + " false" + "______1_______"
    assert parse_flf(_lines_df(spark, [line]), EDGE).collect()[0].strict is False


def test_nullable_failure_becomes_null(spark):
    # ctr_f64 nullable: garbage -> NULL with no error
    line = "x..........." + "       1" + "000000001" + " true " + "___garbage____"
    row = parse_flf(_lines_df(spark, [line]), EDGE).collect()[0]
    assert row.ctr_f64 is None


def test_non_nullable_failure_aborts(spark):
    # neg_int non-nullable: garbage aborts the job (reference column.rs:123-131)
    line = "x..........." + "   12a34" + "000000001" + " true " + "______1_______"
    with pytest.raises(PySparkException, match="neg_int"):
        parse_flf(_lines_df(spark, [line]), EDGE).collect()


def test_permissive_mode_nulls_everything(spark):
    line = "x..........." + "   12a34" + "0000000x1" + " blorp" + "___garbage____"
    row = parse_flf(_lines_df(spark, [line]), EDGE, mode="permissive").collect()[0]
    assert row.neg_int is None and row.zero_pad is None
    assert row.strict is None and row.ctr_f64 is None


def test_int_overflow_fails(spark):
    sch = FixedSchema.from_dict(
        {"name": "s", "version": 1, "columns": [
            {"name": "i16", "offset": 0, "length": 10, "dtype": "Int16", "is_nullable": True},
            {"name": "i32", "offset": 10, "length": 14, "dtype": "Int32", "is_nullable": True},
            {"name": "i64", "offset": 24, "length": 24, "dtype": "Int64", "is_nullable": True},
        ]}
    )
    ok = "     32767" + "    2147483647" + "     9223372036854775807"
    bad = "     32768" + "    2147483648" + "     9223372036854775808"
    rows = parse_flf(_lines_df(spark, [ok, bad]), sch).collect()
    assert (rows[0].i16, rows[0].i32, rows[0].i64) == (32767, 2147483647, 9223372036854775807)
    assert (rows[1].i16, rows[1].i32, rows[1].i64) == (None, None, None)


def test_utf8_empty_stays_empty_not_null(spark):
    # reference Utf8Parser never fails (datatype.rs:170-175): all-pad -> ""
    sch = FixedSchema.from_dict(
        {"name": "s", "version": 1, "columns": [
            {"name": "t", "offset": 0, "length": 5, "dtype": "Utf8", "is_nullable": True}]}
    )
    row = parse_flf(_lines_df(spark, ["     "]), sch).collect()[0]
    assert row.t == ""


def test_float16_widens_to_float(spark):
    sch = FixedSchema.from_dict(
        {"name": "s", "version": 1, "columns": [
            {"name": "h", "offset": 0, "length": 8, "dtype": "Float16", "is_nullable": True}]}
    )
    df = parse_flf(_lines_df(spark, ["    1.5 "]), sch)
    assert dict(df.dtypes)["h"] == "float"
    assert df.collect()[0].h == pytest.approx(1.5)


def test_regex_metachar_pad_symbols(spark):
    # Asterisk + Backslash pads must not be interpreted as regex
    sch = FixedSchema.from_dict(
        {"name": "s", "version": 1, "columns": [
            {"name": "a", "offset": 0, "length": 8, "dtype": "Utf8",
             "alignment": "Left", "pad_symbol": "Asterisk", "is_nullable": True},
            {"name": "b", "offset": 8, "length": 8, "dtype": "Int32",
             "alignment": "Right", "pad_symbol": "Backslash", "is_nullable": True},
        ]}
    )
    row = parse_flf(_lines_df(spark, ["hi******" + "\\\\\\\\\\\\42"]), sch).collect()[0]
    assert row.a == "hi" and row.b == 42


def test_encode_roundtrip(spark):
    line = "Åström実験...." + "    -123" + "000000042" + " true " + "____-314.0____"
    parsed = parse_flf(_lines_df(spark, [line]), EDGE)
    encoded = encode_flf(parsed, EDGE).collect()[0].value
    assert len(encoded) == EDGE.row_length
    reparsed = parse_flf(_lines_df(spark, [encoded]), EDGE).collect()[0]
    orig = parsed.collect()[0]
    assert reparsed == orig


def test_encode_null_roundtrips_to_null(spark):
    sch = FixedSchema.from_dict(
        {"name": "s", "version": 1, "columns": [
            {"name": "f", "offset": 0, "length": 10, "dtype": "Float64", "is_nullable": True}]}
    )
    df = spark.createDataFrame([(None,)], sch.to_spark_schema())
    encoded = encode_flf(df, sch).collect()[0].value
    assert encoded == " " * 10
    assert parse_flf(_lines_df(spark, [encoded]), sch).collect()[0].f is None


def test_encode_overflow_errors(spark):
    sch = FixedSchema.from_dict(
        {"name": "s", "version": 1, "columns": [
            {"name": "t", "offset": 0, "length": 3, "dtype": "Utf8", "is_nullable": True}]}
    )
    df = spark.createDataFrame([("toolong",)], ["t"])
    with pytest.raises(PySparkException, match="too wide"):
        encode_flf(df, sch).collect()
    assert encode_flf(df, sch, overflow="truncate").collect()[0].value == "too"


def test_encode_gap_filling(spark):
    sch = FixedSchema.from_dict(
        {"name": "s", "version": 1, "columns": [
            {"name": "a", "offset": 0, "length": 3, "dtype": "Utf8",
             "alignment": "Left", "is_nullable": True},
            {"name": "b", "offset": 5, "length": 3, "dtype": "Int32", "is_nullable": True},
        ]}
    )
    df = spark.createDataFrame([("x", 1)], sch.to_spark_schema())
    assert encode_flf(df, sch).collect()[0].value == "x  " + "  " + "  1"


def test_file_roundtrip(spark, tmp_path):
    """mock-shaped write -> read_flf -> write_flf -> read_flf: stable fixpoint."""
    sch = EDGE
    rows = [
        ("Åström実験", -123, 42, True, -314.0),
        ("bob", 9, 7, None, None),
        ("", -9999999, 123456789, False, 2.5),
    ]
    df = spark.createDataFrame(rows, sch.to_spark_schema())
    p1 = str(tmp_path / "first.flf")
    p2 = str(tmp_path / "second.flf")
    write_flf(df, sch, p1)
    back = read_flf(spark, p1, sch)
    write_flf(back, sch, p2)
    a = sorted(read_flf(spark, p1, sch).collect())
    b = sorted(read_flf(spark, p2, sch).collect())
    assert a == b
    assert len(a) == 3


def test_crlf_lines(spark, tmp_path):
    # reference supports \r\n rows (evolution-common/src/lib.rs:29-46)
    sch = FixedSchema.from_dict(
        {"name": "s", "version": 1, "columns": [
            {"name": "i", "offset": 0, "length": 4, "dtype": "Int32", "is_nullable": False}]}
    )
    p = tmp_path / "crlf.flf"
    p.write_bytes(b"   1\r\n   2\r\n")
    vals = sorted(r.i for r in read_flf(spark, str(p), sch).collect())
    assert vals == [1, 2]


def test_plain_float_format_roundtrip_idempotent(spark, tmp_path):
    """mock -> FLF -> parse -> re-encode(plain) is byte-identical: shortest
    plain decimal rendering (Rust Display parity) is a fixpoint."""
    from evolution_spark.mocker import Mocker

    sch = FixedSchema.from_dict(
        {"name": "s", "version": 1, "columns": [
            {"name": "id", "offset": 0, "length": 12, "dtype": "Int64", "is_nullable": False},
            {"name": "score", "offset": 12, "length": 15, "dtype": "Float64", "is_nullable": True},
            {"name": "ratio", "offset": 27, "length": 12, "dtype": "Float32", "is_nullable": True},
        ]}
    )
    src = str(tmp_path / "src.flf")
    Mocker(sch, 500, src, seed=11).run(spark)
    re1 = encode_flf(read_flf(spark, src, sch), sch, float_format="plain")
    a = sorted(r.value for r in re1.collect())
    b = sorted(l for p in (tmp_path / "src.flf").glob("part-*.txt")
               for l in p.read_text().splitlines())
    assert a == b


def test_max_partition_bytes_controls_splits(spark, tmp_path):
    """The split-size knob must change the ACTION-time task count: Spark
    reads spark.sql.files.maxPartitionBytes when the job runs, so the knob
    is a session conf (a per-reader .option is silently ignored)."""
    from evolution_spark.io.flf import scoped_max_partition_bytes

    p = str(tmp_path / "wide.flf")
    line = "x" * 49 + "\n"
    with open(p, "w") as f:
        f.write(line * 4000)  # ~200 KB
    sch = FixedSchema.from_dict(
        {"name": "W", "version": 1, "columns": [
            {"name": "s", "offset": 0, "length": 49, "dtype": "Utf8",
             "alignment": "Left", "pad_symbol": "Whitespace", "is_nullable": True}]}
    )
    prior = spark.conf.get("spark.sql.files.maxPartitionBytes")
    with scoped_max_partition_bytes(spark, 16 * 1024):
        n_small = read_flf(spark, p, sch).rdd.getNumPartitions()
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == prior
    n_default = read_flf(spark, p, sch).rdd.getNumPartitions()
    assert n_small > n_default  # ~13 splits at 16 KB vs 1 at 128 MB


def test_gzipped_flf_input(spark, tmp_path):
    """spark.read.text decompresses .gz FLF transparently, so compressed
    fixed-width drops convert without any code path change. (A .gz file is
    NOT splittable — one task per file — so compressed inputs should arrive
    as many files; noted in io/flf.py.)"""
    import glob
    import gzip

    from evolution_spark.converter import Converter
    from evolution_spark.mocker import Mocker
    from evolution_spark.schema import FixedSchema

    sch = FixedSchema.from_dict(
        {"name": "gz", "version": 1, "columns": [
            {"name": "id", "offset": 0, "length": 10, "dtype": "Int64", "is_nullable": False},
            {"name": "tag", "offset": 10, "length": 8, "dtype": "Utf8", "is_nullable": True}]}
    )
    plain = str(tmp_path / "plain.flf")
    Mocker(sch, 200, plain, seed=5).run(spark)
    gzdir = tmp_path / "gz"
    gzdir.mkdir()
    for i, part in enumerate(sorted(glob.glob(f"{plain}/part-*"))):
        with open(part, "rb") as fin, gzip.open(gzdir / f"part-{i}.flf.gz", "wb") as fout:
            fout.write(fin.read())
    ref = Converter(plain, sch, "unused").dataframe(spark)
    got = Converter(str(gzdir), sch, "unused").dataframe(spark)
    assert got.count() == 200
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0


# ---------------------------------------------------------------------------
# Parity against a pure-Python reference parser (hypothesis)
# ---------------------------------------------------------------------------

_INT_RANGE = {"Int16": 2**15, "Int32": 2**31, "Int64": 2**63}
# Java's Double/Float.parseDouble grammar (decimal forms only: the
# generator never emits hex floats), after Java's trim of chars <= U+0020.
_JAVA_FLOAT = re.compile(r"[+-]?(NaN|Infinity|([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?[fFdD]?)")
# Spark's case-insensitive special literals, tried when Java's parse fails.
_SPARK_FLOAT_SPECIAL = {
    "inf": math.inf, "+inf": math.inf, "infinity": math.inf, "+infinity": math.inf,
    "-inf": -math.inf, "-infinity": -math.inf, "nan": math.nan,
}


def _java_trim(s: str) -> str:
    i, j = 0, len(s)
    while i < j and s[i] <= " ":
        i += 1
    while j > i and s[j - 1] <= " ":
        j -= 1
    return s[i:j]


def _ref_float(text: str):
    if text == "":
        return None
    s = _java_trim(text)
    if _JAVA_FLOAT.fullmatch(s):
        return float(s.rstrip("fFdD"))  # Python reads NaN/Infinity too
    return _SPARK_FLOAT_SPECIAL.get(s.lower())


def _ref_int(text: str, raw: str, pad: str, dtype: str):
    if text == "" and pad.isdigit() and re.fullmatch(r"-?[0-9]+", raw):
        text = raw  # an all-digit-pad field is the number the pad spells
    if not re.fullmatch(r"-?[0-9]+", text):
        return None
    v = int(text)
    bound = _INT_RANGE[dtype]
    return v if -bound <= v < bound else None


def ref_parse_field(line: str, c):
    """One field of one line, the way the reference pipeline reads it:
    rune slice, pad trim per alignment, strict cast. Returns (value, raw);
    value None is a parse failure (or an all-pad non-text field)."""
    raw = line[c.offset:c.offset + c.length]
    pad = c.pad_char
    text = {"Left": raw.rstrip, "Right": raw.lstrip, "Center": raw.strip}[c.alignment](pad)
    if c.dtype in ("Utf8", "LargeUtf8"):
        return text, raw
    if c.dtype == "Boolean":
        return {"true": True, "false": False}.get(text), raw
    if c.dtype in _INT_RANGE:
        return _ref_int(text, raw, pad, c.dtype), raw
    return _ref_float(text), raw


def ref_abort_message(c, raw: str) -> str:
    return (f"could not parse non-nullable column '{c.name}' "
            f"(dtype {c.dtype}) from field value '{raw}'")


def ref_parse(lines, schema, mode):
    """Rows in permissive mode; in abort mode, the message of the first
    failing non-nullable field (rows in order, columns in schema order),
    or the rows when nothing fails."""
    rows = []
    for line in lines:
        row = []
        for c in schema.columns:
            v, raw = ref_parse_field(line, c)
            if v is None and mode == "abort" and not c.is_nullable \
                    and c.dtype not in ("Utf8", "LargeUtf8"):
                return ref_abort_message(c, raw)
            row.append(v)
        rows.append(tuple(row))
    return rows


def _same_value(got, want, dtype) -> bool:
    if want is None or got is None:
        return got is want
    if isinstance(want, float):
        if math.isnan(want):
            return math.isnan(got)
        if dtype in ("Float16", "Float32") and not math.isinf(want):
            return math.isclose(got, want, rel_tol=1e-6, abs_tol=1e-30)
    return got == want and type(got) is type(want)


def _assert_matches_reference(parse, lines, schema, mode):
    """``parse()`` (a DataFrame) agrees with ``ref_parse(lines)``: the same
    values, or an abort whose message holds the reference's."""
    want = ref_parse(lines, schema, mode)
    try:
        got = [tuple(r) for r in parse().collect()]
    except PySparkException as e:
        assert isinstance(want, str), f"unexpected abort: {e}"
        assert want in str(e)
        return
    assert not isinstance(want, str), f"expected abort: {want}"
    assert len(got) == len(want)
    for g_row, w_row in zip(got, want):
        for c, g, w in zip(schema.columns, g_row, w_row):
            assert _same_value(g, w, c.dtype), (c, g, w, lines)


_PADS = ["Whitespace", "Zero", "Five", "Backslash", "Underscore", "Asterisk"]
_NAMES = ["id", "a`b", "c-d", "e'f", "g h", "x\\y"]
_TOKENS = [
    "0", "7", "-42", "+5", " 5", "5 ", "1.0", "-0", "007", "", "true", "false",
    "TRUE", "t", "1", "1.5", "-3.14e2", ".5", "1.", "1e5", "inf", "-Infinity",
    "NaN", "nan", "1.5f", "é5", "実験", "😀1", "\t1.5", "2\xa0", "　3",
    "_5_", "\\7", "*", "55", "00", "--1", "9" * 20,
    str(2**15 - 1), str(2**15), str(-(2**15)), str(-(2**15) - 1),
    str(2**31 - 1), str(2**31), str(-(2**31)), str(-(2**31) - 1),
    str(2**63 - 1), str(2**63), str(-(2**63)), str(-(2**63) - 1),
]
_ALPHABET = "0123456789-+.e truefalsNI_*\\5é実😀\t\xa0　"


@st.composite
def _schemas(draw):
    n = draw(st.integers(min_value=1, max_value=4))
    names = draw(st.permutations(_NAMES))[:n]
    cols, offset = [], 0
    for name in names:
        offset += draw(st.integers(min_value=0, max_value=2))  # gap
        length = draw(st.integers(min_value=1, max_value=21))
        cols.append({
            "name": name, "offset": offset, "length": length,
            "dtype": draw(st.sampled_from(sorted(SPARK_DTYPES))),
            "alignment": draw(st.sampled_from(["Left", "Right", "Center"])),
            "pad_symbol": draw(st.sampled_from(_PADS)),
            "is_nullable": draw(st.booleans()),
        })
        offset += length
    return FixedSchema.from_dict({"name": "P", "version": 1, "columns": cols})


def _padded(token: str, c) -> str:
    gap = max(c.length - len(token), 0)
    pad = c.pad_char
    if c.alignment == "Left":
        return token + pad * gap
    if c.alignment == "Right":
        return pad * gap + token
    return pad * (gap // 2) + token + pad * (gap - gap // 2)


@st.composite
def _lines(draw, schema):
    line = ""
    for c in sorted(schema.columns, key=lambda c: c.offset):
        line += " " * (c.offset - len(line))
        kind = draw(st.sampled_from(["token", "token", "random", "pad"]))
        if kind == "token":
            field = _padded(draw(st.sampled_from(_TOKENS)), c)
        elif kind == "random":
            field = draw(st.text(_ALPHABET, min_size=c.length, max_size=c.length))
        else:
            field = c.pad_char * c.length
        line += field  # an overlong token shifts later fields, on purpose
    cut = draw(st.sampled_from(["keep", "keep", "short", "long"]))
    if cut == "short":
        line = line[:draw(st.integers(min_value=0, max_value=len(line)))]
    elif cut == "long":
        line += draw(st.text(_ALPHABET, min_size=1, max_size=5))
    return line


@st.composite
def _batches(draw):
    schema = draw(_schemas())
    lines = draw(st.lists(_lines(schema), min_size=1, max_size=12))
    mode = draw(st.sampled_from(["permissive", "abort"]))
    return schema, lines, mode


@given(batch=_batches())
@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_parse_matches_reference_parser(spark, batch):
    """``parse_flf`` agrees with the pure-Python reference on every dtype,
    alignment and pad, multibyte runes at field edges, sign/space/decimal
    forms in Int fields, Int16/32/64 overflow, lax booleans, all-pad fields
    and short or overlong lines. Permissive mode compares values; abort
    mode compares raise / no-raise and the message text. One Spark job per
    example. (Lines never hold CR/LF: a text source splits on them.)"""
    schema, lines, mode = batch
    df = spark.createDataFrame([(l,) for l in lines], "value string").coalesce(1)
    _assert_matches_reference(lambda: parse_flf(df, schema, mode=mode), lines, schema, mode)


def test_validate_matches_reference_parser(spark, tmp_path):
    """``Converter.validate`` on a seeded defect file lists exactly the
    non-nullable failures the reference parser flags."""
    sch = FixedSchema.from_dict({"name": "V", "version": 1, "columns": [
        {"name": "id", "offset": 0, "length": 8, "dtype": "Int32", "is_nullable": False},
        {"name": "z", "offset": 8, "length": 6, "dtype": "Int16",
         "pad_symbol": "Zero", "is_nullable": False},
        {"name": "f", "offset": 14, "length": 9, "dtype": "Float64", "alignment": "Left",
         "pad_symbol": "Backslash", "is_nullable": False},
        {"name": "b-`", "offset": 23, "length": 7, "dtype": "Boolean",
         "alignment": "Center", "pad_symbol": "Underscore", "is_nullable": False},
        {"name": "n", "offset": 30, "length": 5, "dtype": "Float32", "is_nullable": True},
        {"name": "s", "offset": 35, "length": 4, "dtype": "Utf8", "is_nullable": False},
    ]})
    rng = random.Random(20261017)
    lines = []
    for _ in range(400):
        fields = []
        for c in sch.columns:
            token = rng.choice(_TOKENS) if rng.random() < 0.3 else {
                "Int32": str(rng.randint(-999, 9999)), "Int16": str(rng.randint(0, 999)),
                "Float64": f"{rng.uniform(-9, 9):.2f}", "Boolean": rng.choice(["true", "false"]),
                "Float32": "1.25", "Utf8": "ab",
            }[c.dtype]
            fields.append(_padded(token, c)[:c.length])
        lines.append("".join(fields))
    path = tmp_path / "defects.flf"
    path.write_text("\n".join(lines) + "\n", encoding="utf-8")
    want = sorted(
        (line, c.name, raw)
        for line in lines
        for c in sch.columns
        if not c.is_nullable and c.dtype != "Utf8"
        for v, raw in [ref_parse_field(line, c)]
        if v is None
    )
    assert want  # the seed plants defects
    got = Converter(str(path), sch, "unused").validate(spark, sample_rows=10_000).collect()
    assert sorted(tuple(r) for r in got) == want


def _file_lines(seed: int, n: int):
    """``n`` EDGE rows: valid values, with ~30% of fields swapped for
    adversarial tokens (cut to the field width)."""
    rng = random.Random(seed)
    valid = {"Utf8": "Åström実", "Int64": "-123", "Int32": "42",
             "Boolean": "true", "Float64": "2.5"}
    return ["".join(
        _padded(rng.choice(_TOKENS) if rng.random() < 0.3 else valid[c.dtype], c)[:c.length]
        for c in EDGE.columns
    ) for _ in range(n)]


@pytest.mark.parametrize("mode", ["permissive", "abort"])
@pytest.mark.parametrize("form", ["mixed_crlf_lf", "no_final_newline", "empty", "gzip"])
def test_file_forms_match_reference_parser(spark, tmp_path, form, mode):
    """Whole files through ``read_flf`` agree with the reference parser on
    the file's lines: CRLF and LF terminators mixed in one file, a last
    line without a terminator, an empty file and ``.gz`` input."""
    import gzip

    rng = random.Random(7)
    lines = [] if form == "empty" else _file_lines(20261019, 60)
    text = "".join(l + rng.choice(["\r\n", "\n"]) for l in lines)
    if form == "no_final_newline":
        text = text.rstrip("\r\n")
    data = text.encode("utf-8")
    path = tmp_path / ("in.flf.gz" if form == "gzip" else "in.flf")
    path.write_bytes(gzip.compress(data) if form == "gzip" else data)
    _assert_matches_reference(lambda: read_flf(spark, str(path), EDGE, mode=mode),
                              lines, EDGE, mode)


# ---------------------------------------------------------------------------
# Byte-slice and codepoint-slice branches of the parse
# ---------------------------------------------------------------------------

BRANCH = FixedSchema.from_dict({"name": "B", "version": 1, "columns": [
    {"name": "head", "offset": 0, "length": 6, "dtype": "Utf8", "is_nullable": True},
    {"name": "n", "offset": 6, "length": 20, "dtype": "Int64", "alignment": "Right",
     "is_nullable": False},
    {"name": "z", "offset": 26, "length": 8, "dtype": "Int32", "alignment": "Right",
     "pad_symbol": "Zero", "is_nullable": False},
    {"name": "f", "offset": 34, "length": 8, "dtype": "Float64",
     "pad_symbol": "Underscore", "is_nullable": True},
    {"name": "tail", "offset": 42, "length": 6, "dtype": "Utf8", "is_nullable": True},
]})
_SPELLINGS = ["7", "-42", "007", "-0", "+5", " 5", "5 ", "1.0", "000000",
              str(2**63 - 1), str(2**63), str(-(2**63))]


def _branch_lines():
    """BRANCH lines for both slice branches; ``\\udc80`` stands for a stray
    0x80 byte (written with ``surrogateescape``). ASCII lines, a multibyte
    rune only in the first field and only in the last, the stray byte,
    short and overlong lines, and Int spellings in a Whitespace- and a
    Zero-padded field. Every line of full width comes twice, the second
    time with a rune past the last field: its fields are the same, but
    the line is no longer one byte per rune, so it takes the codepoint
    branch."""
    def line(head="abc", n="1", z="42", f="2.5", tail="xyz"):
        vals = {"head": head, "n": n, "z": z, "f": f, "tail": tail}
        return "".join(_padded(vals[c.name], c)[:c.length] for c in BRANCH.columns)

    lines = [line(n=s) for s in _SPELLINGS] + [line(z=s) for s in _SPELLINGS]
    lines += [line(head="éabc"), line(tail="x実y"), line(head="a\udc80b"),
              line(head="é\udc80", tail="\udc80z")]
    lines += [line()[:k] for k in (0, 3, 10, 30, 47)] + [line() + "xyz", line(tail="x実y") + "q"]
    width = BRANCH.row_length
    return lines + [l + "é" for l in lines if len(l) >= width]


@pytest.mark.parametrize("mode", ["permissive", "abort"])
def test_byte_and_codepoint_slices_match_reference(spark, tmp_path, mode):
    """Lines sliced on bytes (one byte per rune) and on codepoints parse
    alike, and as the reference parser does, in both modes; so does
    ``Converter.validate`` over the same file. Spark decodes a stray 0x80
    byte to U+FFFD when a value reaches Python, so the reference reads
    the line with U+FFFD in its place: one rune either way."""
    lines = _branch_lines()
    assert any(len(l.encode("utf-8", "surrogateescape")) == len(l) for l in lines)
    path = tmp_path / "branch.flf"
    path.write_bytes("".join(l + "\n" for l in lines).encode("utf-8", "surrogateescape"))
    ref_lines = [l.replace("\udc80", "\ufffd") for l in lines]
    _assert_matches_reference(lambda: read_flf(spark, str(path), BRANCH, mode=mode),
                              ref_lines, BRANCH, mode)
    want = sorted(
        (line, c.name, raw)
        for line in ref_lines
        for c in BRANCH.columns
        if not c.is_nullable
        for v, raw in [ref_parse_field(line, c)]
        if v is None
    )
    assert want
    got = Converter(str(path), BRANCH, "unused").validate(spark, sample_rows=10_000).collect()
    assert sorted(tuple(r) for r in got) == want
