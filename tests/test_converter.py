"""Converter + Mocker + IPC sink end-to-end (reference O11-O15, the full
mock -> convert -> verify loop that the reference only runs manually via
tools/verify_parquet.py)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from evolution_spark.converter import Converter, Target
from evolution_spark.io.flf import read_flf
from evolution_spark.io.ipc import write_ipc
from evolution_spark.mocker import Mocker
from evolution_spark.schema import FixedSchema

SCHEMA = FixedSchema.from_dict(
    {
        "name": "EvolutionExampleSchema",
        "version": 1337,
        "columns": [
            {"name": "cool", "offset": 0, "length": 9, "dtype": "Int32",
             "alignment": "Right", "pad_symbol": "Underscore", "is_nullable": False},
            {"name": "salary", "offset": 9, "length": 20, "dtype": "Float16",
             "alignment": "Left", "pad_symbol": "Asterisk", "is_nullable": False},
            {"name": "name", "offset": 29, "length": 30, "dtype": "Utf8",
             "alignment": "Center", "pad_symbol": "Semicolon", "is_nullable": True},
            {"name": "employed", "offset": 59, "length": 8, "dtype": "Boolean",
             "alignment": "Center", "pad_symbol": "Zero", "is_nullable": True},
        ],
    }
)


def test_mock_deterministic(spark, tmp_path):
    a = Mocker(SCHEMA, 100, str(tmp_path / "a.flf"), seed=7).dataframe(spark).collect()
    b = Mocker(SCHEMA, 100, str(tmp_path / "b.flf"), seed=7).dataframe(spark).collect()
    assert a == b
    c = Mocker(SCHEMA, 100, str(tmp_path / "c.flf"), seed=8).dataframe(spark).collect()
    assert a != c


def test_mock_value_ranges(spark):
    df = Mocker(SCHEMA, 500, "unused", seed=1).dataframe(spark)
    rows = df.collect()
    assert all(-1_000_000 <= r.cool <= 1_000_000 for r in rows)
    assert all(-256.0 <= r.salary <= 256.0 for r in rows)
    assert all(isinstance(r.employed, bool) for r in rows)
    names = {r.name for r in rows}
    assert len(names) > 10  # drawn from the name pool


def test_mock_convert_roundtrip(spark, tmp_path):
    """The reference's de-facto E2E loop, automated: mock -> FLF -> convert ->
    parquet -> values match the pre-encoding mock DataFrame."""
    flf = str(tmp_path / "mock.flf")
    out = str(tmp_path / "out.parquet")
    mocker = Mocker(SCHEMA, 1000, flf, seed=42)
    mocker.run(spark)
    Converter(flf, SCHEMA, out, target=Target.PARQUET).run(spark)

    expected = {
        (r.cool, round(r.salary, 1), r.name, r.employed)
        for r in mocker.dataframe(spark).collect()
    }
    got = {
        (r.cool, round(r.salary, 1), r.name, r.employed)
        for r in spark.read.parquet(out).collect()
    }
    assert got == expected
    # schema parity with the declared FixedSchema mapping (names + types;
    # Spark reads all parquet fields back as nullable, so flags aren't compared)
    got_schema = spark.read.parquet(out).schema
    assert [(f.name, f.dataType) for f in got_schema.fields] == \
        [(f.name, f.dataType) for f in SCHEMA.to_spark_schema().fields]


def test_convert_to_flf_identity(spark, tmp_path):
    flf = str(tmp_path / "m.flf")
    Mocker(SCHEMA, 200, flf, seed=3).run(spark)
    out = str(tmp_path / "re.flf")
    Converter(flf, SCHEMA, out, target=Target.FLF).run(spark)
    a = sorted(read_flf(spark, flf, SCHEMA).collect())
    b = sorted(read_flf(spark, out, SCHEMA).collect())
    assert a == b


def test_single_file_mode(spark, tmp_path):
    import glob
    flf = str(tmp_path / "m.flf")
    Mocker(SCHEMA, 50, flf, seed=3, single_file=True).run(spark)
    assert len(glob.glob(flf + "/part-*")) == 1
    out = str(tmp_path / "o.parquet")
    Converter(flf, SCHEMA, out, single_file=True).run(spark)
    assert len(glob.glob(out + "/part-*.parquet")) == 1


def test_ipc_sink(spark, tmp_path):
    df = spark.range(1000).selectExpr("id", "id * 2 as dbl")
    parts = write_ipc(df, str(tmp_path / "ipc"))
    assert sum(n for _, n in parts) == 1000
    tables = [pa.ipc.open_file(p).read_all() for p, _ in parts]
    total = pa.concat_tables(tables)
    assert total.num_rows == 1000
    assert sorted(total.column("id").to_pylist()) == list(range(1000))


def test_parquet_writer_options(spark, tmp_path):
    flf = str(tmp_path / "m.flf")
    Mocker(SCHEMA, 100, flf, seed=3).run(spark)
    out = str(tmp_path / "o.parquet")
    Converter(
        flf, SCHEMA, out,
        writer_options={"compression": "gzip"},
    ).run(spark)
    import glob
    f = glob.glob(out + "/part-*.parquet")[0]
    assert pq.ParquetFile(f).metadata.row_group(0).column(0).compression == "GZIP"


def test_abort_mode_propagates_to_converter(spark, tmp_path):
    from pyspark.errors import PySparkException
    bad = tmp_path / "bad.flf"
    # 'cool' (Int32, non-nullable) is garbage
    bad.write_text("___ab____" + "1.5*****************" + ";" * 30 + "000true0" + "\n")
    conv = Converter(str(bad), SCHEMA, str(tmp_path / "o.parquet"))
    with pytest.raises(PySparkException, match="cool"):
        conv.run(spark)
    # permissive mode: null instead
    conv2 = Converter(str(bad), SCHEMA, str(tmp_path / "o2.parquet"), mode="permissive")
    conv2.run(spark)
    assert spark.read.parquet(str(tmp_path / "o2.parquet")).collect()[0].cool is None


def test_partitioned_output_and_pruning(spark, tmp_path):
    """partition_by writes a hive layout; a filter on the partition column
    prunes at planning time (PartitionFilters, not a data filter)."""
    from evolution_spark.converter import Converter
    from evolution_spark.mocker import Mocker
    from evolution_spark.schema import FixedSchema

    sch = FixedSchema.from_dict(
        {"name": "P", "version": 1, "columns": [
            {"name": "id", "offset": 0, "length": 10, "dtype": "Int64", "is_nullable": False},
            {"name": "flag", "offset": 10, "length": 6, "dtype": "Boolean", "is_nullable": False}]}
    )
    flf = str(tmp_path / "p.flf")
    out = str(tmp_path / "p.parquet")
    Mocker(sch, 1000, flf, seed=3).run(spark)
    Converter(flf, sch, out, partition_by=["flag"]).run(spark)
    import os
    subdirs = sorted(d for d in os.listdir(out) if d.startswith("flag="))
    assert subdirs == ["flag=false", "flag=true"]
    from pyspark.sql import functions as F

    back = spark.read.parquet(out)
    assert back.count() == 1000
    pruned = back.where(F.col("flag") == True)  # noqa: E712
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(flag" in plan
    with pytest.raises(ValueError):
        Converter(flf, sch, out, partition_by=["flag"], single_file=True).run(spark)


def test_range_clustered_layout(spark, tmp_path):
    """write_range_clustered must yield disjoint per-file key ranges (proven
    from the parquet footers) and sorted rows within each file — the
    data-skipping contract."""
    import glob

    from evolution_spark.io import write_range_clustered

    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    out = str(tmp_path / "clustered")
    write_range_clustered(df, out, "l_shipdate", n_files=4)

    ranges = []
    for f in sorted(glob.glob(f"{out}/part-*.parquet")):
        meta = pq.ParquetFile(f).metadata
        idx = [meta.schema.column(i).name for i in range(meta.num_columns)].index(
            "l_shipdate"
        )
        mins, maxs = [], []
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
        # sorted within file => row-group ranges are themselves ordered
        assert maxs == sorted(maxs) and mins == sorted(mins)
    assert len(ranges) >= 2  # sampling produced a real multi-file clustering
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next  # disjoint: file N's max <= file N+1's min


def test_orc_target_roundtrip(spark, tmp_path):
    """ORC sink is a real executable target (jars ship with Spark)."""
    from evolution_spark.converter import Converter, Target
    from evolution_spark.mocker import Mocker

    sch = SCHEMA
    flf = str(tmp_path / "m.flf")
    Mocker(sch, 500, flf, seed=11).run(spark)
    out = str(tmp_path / "out.orc")
    Converter(flf, sch, out, target=Target.ORC).run(spark)
    back = spark.read.schema(sch.to_spark_schema()).orc(out)
    ref = Converter(flf, sch, str(tmp_path / "ref.parquet")).dataframe(spark)
    assert back.count() == 500
    assert back.exceptAll(ref).count() == 0 and ref.exceptAll(back).count() == 0


def test_csv_target_roundtrip(spark, tmp_path):
    """CSV sink writes header'd RFC-4180 text; explicit-schema read-back
    recovers the exact typed rows."""
    from evolution_spark.converter import Converter, Target
    from evolution_spark.mocker import Mocker

    sch = SCHEMA
    flf = str(tmp_path / "m.flf")
    Mocker(sch, 500, flf, seed=12).run(spark)
    out = str(tmp_path / "out.csv")
    Converter(flf, sch, out, target=Target.CSV).run(spark)
    back = spark.read.schema(sch.to_spark_schema()).option("header", "true").csv(out)
    ref = Converter(flf, sch, str(tmp_path / "ref.parquet")).dataframe(spark)
    assert back.count() == 500
    assert back.exceptAll(ref).count() == 0 and ref.exceptAll(back).count() == 0


def test_delta_snapshot_log_contract(spark, tmp_path):
    """The native Delta writer produces a spec-compliant version-0 commit:
    protocol/metaData/add actions, schemaString == Spark schema JSON, add
    paths cover exactly the data files with matching sizes and row stats,
    and the log-driven read sees ONLY committed files (an orphan parquet
    dropped into the dir is invisible — the Delta read contract)."""
    import json

    from evolution_spark.io.delta_log import read_delta_snapshot, write_delta_snapshot

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 3).cast("int").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
    )
    path = str(tmp_path / "dtab")
    summary = write_delta_snapshot(df, path, mode="error")
    assert summary["version"] == 0 and summary["rows"] == 100

    log = (tmp_path / "dtab" / "_delta_log" / f"{0:020d}.json").read_text()
    actions = [json.loads(l) for l in log.splitlines()]
    kinds = [next(iter(a)) for a in actions]
    assert kinds[1:3] == ["protocol", "metaData"] and "add" in kinds
    meta = actions[2]["metaData"]
    assert meta["schemaString"] == df.schema.json()
    assert meta["format"]["provider"] == "parquet"
    import os

    adds = [a["add"] for a in actions if "add" in a]
    on_disk = {
        p.relative_to(tmp_path / "dtab").as_posix()
        for p in (tmp_path / "dtab").rglob("*.parquet")
        if "_delta_log" not in p.parts
    }
    assert {a["path"] for a in adds} == on_disk
    for a in adds:
        assert a["size"] == os.path.getsize(tmp_path / "dtab" / a["path"])
    assert sum(json.loads(a["stats"])["numRecords"] for a in adds) == 100

    back = read_delta_snapshot(spark, path)
    assert sorted(r.id for r in back.collect()) == list(range(100))
    # orphan data file (uncommitted writer crash debris) is invisible
    df.limit(5).coalesce(1).write.parquet(str(tmp_path / "orphan"))
    orphan = next((tmp_path / "orphan").glob("*.parquet"))
    orphan.rename(tmp_path / "dtab" / "zz-orphan.parquet")
    assert read_delta_snapshot(spark, path).count() == 100

    # mode=error refuses to clobber; overwrite replaces the snapshot
    with pytest.raises(ValueError, match="exists"):
        write_delta_snapshot(df, path, mode="error")
    write_delta_snapshot(df.limit(10), path, mode="overwrite")
    assert read_delta_snapshot(spark, path).count() == 10


def test_delta_snapshot_partitioned(spark, tmp_path):
    """Partitioned Delta snapshot: partitionValues come from the hive dirs,
    and the log-driven read resolves the partition column."""
    import json

    from evolution_spark.io.delta_log import read_delta_snapshot, write_delta_snapshot

    df = spark.range(60).select(
        F.col("id"), (F.col("id") % 3).cast("int").alias("k")
    )
    path = str(tmp_path / "dpart")
    write_delta_snapshot(df, path, partition_by=["k"])
    log = (tmp_path / "dpart" / "_delta_log" / f"{0:020d}.json").read_text()
    adds = [json.loads(l)["add"] for l in log.splitlines() if '"add"' in l]
    assert {a["partitionValues"]["k"] for a in adds} == {"0", "1", "2"}
    back = read_delta_snapshot(spark, path)
    got = {(r.id, r.k) for r in back.collect()}
    assert got == {(i, i % 3) for i in range(60)}


def test_delta_target_via_converter(spark, tmp_path):
    """Converter dispatch: target=delta runs the native snapshot writer
    end-to-end from FLF input."""
    from evolution_spark.converter import Converter, Target
    from evolution_spark.io.delta_log import read_delta_snapshot
    from evolution_spark.mocker import Mocker

    sch = SCHEMA
    flf = str(tmp_path / "m.flf")
    Mocker(sch, 200, flf, seed=21).run(spark)
    out = str(tmp_path / "dtab")
    Converter(flf, sch, out, target=Target.DELTA).run(spark)
    ref = Converter(flf, sch, "unused").dataframe(spark)
    back = read_delta_snapshot(spark, out)
    assert back.count() == 200
    assert back.exceptAll(ref).count() == 0 and ref.exceptAll(back).count() == 0


def test_avro_target_roundtrip_and_jvm_crossread(spark, tmp_path):
    """The native Avro sink (pure-python codec, no spark-avro module)
    round-trips exactly, and the bytes are spec-compliant: the JVM's own
    avro-core DataFileReader (on the classpath as a Spark internal) reads
    the file and sees the same row count."""
    from evolution_spark.converter import Converter, Target
    from evolution_spark.io.avro import read_avro
    from evolution_spark.mocker import Mocker

    sch = SCHEMA
    flf = str(tmp_path / "m.flf")
    Mocker(sch, 300, flf, seed=13).run(spark)
    out = str(tmp_path / "o.avro.d")
    Converter(flf, sch, out, target=Target.AVRO).run(spark)

    ref = Converter(flf, sch, "unused").dataframe(spark)
    back = read_avro(spark, out, ref.schema)
    assert back.count() == 300
    assert back.exceptAll(ref).count() == 0 and ref.exceptAll(back).count() == 0

    # cross-validate against the reference Java implementation
    import glob

    jvm = spark.sparkContext._jvm
    total = 0
    for p in glob.glob(f"{out}/*.avro"):
        reader = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(p), jvm.org.apache.avro.generic.GenericDatumReader()
        )
        while reader.hasNext():
            reader.next()
            total += 1
        reader.close()
    assert total == 300


def test_iceberg_target_via_converter(spark, tmp_path):
    """Converter dispatch: target=iceberg runs the native v2 snapshot
    writer end-to-end from FLF input and the metadata-driven reader sees
    the exact rows back."""
    from evolution_spark.converter import Converter, Target
    from evolution_spark.io.iceberg_meta import read_iceberg_table
    from evolution_spark.mocker import Mocker

    sch = SCHEMA
    flf = str(tmp_path / "m.flf")
    Mocker(sch, 200, flf, seed=13).run(spark)
    out = str(tmp_path / "itab")
    Converter(flf, sch, out, target=Target.ICEBERG).run(spark)
    ref = Converter(flf, sch, "unused").dataframe(spark)
    back = read_iceberg_table(spark, out)
    assert back.count() == 200
    assert back.exceptAll(ref).count() == 0 and ref.exceptAll(back).count() == 0


def test_iceberg_metadata_chain_and_jvm_crossread(spark, tmp_path):
    """The native Iceberg writer's metadata is structurally spec-shaped
    (format-version 2, schema field-ids, partition spec, snapshot ->
    manifest-list -> manifest chain) and the manifest Avro bytes are
    readable by the JVM's own avro-core DataFileReader. Partitioned
    write: identity partition values round-trip through hive dirs, and
    the reader's file list comes from the manifests (an orphan parquet
    dropped into the data dir stays invisible — the Iceberg read
    contract)."""
    import glob
    import json as _json

    from evolution_spark.io.iceberg_meta import (
        read_iceberg_table,
        write_iceberg_table,
    )

    df = spark.range(0, 60).selectExpr("id", "CAST(id % 3 AS STRING) AS k")
    path = str(tmp_path / "itab")
    summary = write_iceberg_table(df, path, partition_by=["k"])
    assert summary["rows"] == 60 and summary["files"] >= 3

    meta_file = summary["metadata"]
    meta = _json.loads(open(meta_file).read())
    assert meta["format-version"] == 2
    ids = [f["id"] for f in meta["schemas"][0]["fields"]]
    assert ids == [1, 2]
    spec = meta["partition-specs"][0]["fields"]
    assert spec[0]["transform"] == "identity" and spec[0]["field-id"] == 1000
    assert "schema.name-mapping.default" in meta["properties"]

    # manifest avro files parse under the reference Java implementation
    jvm = spark.sparkContext._jvm
    seen = 0
    for p in glob.glob(f"{path}/metadata/*.avro"):
        reader = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(p), jvm.org.apache.avro.generic.GenericDatumReader()
        )
        while reader.hasNext():
            reader.next()
            seen += 1
        reader.close()
    assert seen == summary["files"] + 1  # entries + one manifest-list row

    # snapshot isolation: an uncommitted orphan file is invisible
    import shutil as _shutil

    some_part = glob.glob(f"{path}/data/k=0/*.parquet")[0]
    _shutil.copy(some_part, f"{path}/data/k=0/orphan-{0:05d}.parquet")
    back = read_iceberg_table(spark, path)
    assert back.count() == 60
    got = {(r.id, r.k) for r in back.collect()}
    assert got == {(i, str(i % 3)) for i in range(60)}


def test_zorder_clustered_2d_skipping(spark, tmp_path):
    """write_zorder_clustered must make per-file footers tight on BOTH
    clustered columns: a narrow single-dimension predicate overlaps only a
    minority of files, whereas single-column range clustering on the OTHER
    column cannot prune it at all. Proven from the written parquet footers."""
    import glob

    from evolution_spark.io import write_range_clustered, write_zorder_clustered

    df = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    zdir, rdir = str(tmp_path / "z"), str(tmp_path / "r")
    write_zorder_clustered(df, zdir, ["l_orderkey", "l_partkey"], n_files=16)
    write_range_clustered(df, rdir, "l_orderkey", n_files=16)

    def file_ranges(path, col):
        out = []
        for f in sorted(glob.glob(f"{path}/part-*.parquet")):
            meta = pq.ParquetFile(f).metadata
            idx = [meta.schema.column(i).name for i in range(meta.num_columns)].index(col)
            stats = [meta.row_group(rg).column(idx).statistics for rg in range(meta.num_row_groups)]
            out.append((min(s.min for s in stats), max(s.max for s in stats)))
        return out

    lo, hi = df.selectExpr("min(l_partkey)", "max(l_partkey)").first()
    box_lo, box_hi = lo, lo + (hi - lo) // 10  # 10% partkey stripe

    def overlapping(ranges):
        return sum(1 for mn, mx in ranges if not (mx < box_lo or mn > box_hi))

    z_ranges = file_ranges(zdir, "l_partkey")
    r_ranges = file_ranges(rdir, "l_partkey")
    assert len(z_ranges) >= 8 and len(r_ranges) >= 8
    z_hit, r_hit = overlapping(z_ranges), overlapping(r_ranges)
    # orderkey-range clustering leaves partkey footers wide open: no pruning
    assert r_hit == len(r_ranges)
    # z-order keeps partkey footers tight: most files pruned by the stripe
    assert z_hit <= len(z_ranges) * 0.6, f"z-order pruned too little: {z_hit}/{len(z_ranges)}"


def test_compact_parquet_small_files(spark, tmp_path):
    """compact_parquet merges a fragmented table into few files, preserves
    every row exactly, and swaps atomically (original path stays a valid
    table)."""
    from evolution_spark.io import compact_parquet

    src = str(tmp_path / "frag")
    df = spark.range(0, 10_000).selectExpr("id", "id % 7 AS k")
    df.repartition(64).write.parquet(src)  # 64 tiny files
    before_rows = sorted(
        (r.id, r.k) for r in spark.read.parquet(src).collect()
    )
    stats = compact_parquet(spark, src, target_file_mb=512)
    after = spark.read.parquet(src)
    assert stats["files_before"] == 64
    assert stats["files_after"] <= 2
    assert sorted((r.id, r.k) for r in after.collect()) == before_rows


def test_compact_parquet_sort_within_refreshes_footers(spark, tmp_path):
    import glob

    from evolution_spark.io import compact_parquet

    src = str(tmp_path / "frag2")
    spark.range(0, 5000).selectExpr("id", "(id * 37) % 5000 AS key").repartition(
        16
    ).write.parquet(src)
    compact_parquet(spark, src, target_file_mb=512, sort_within=["key"])
    for f in glob.glob(f"{src}/part-*.parquet"):
        meta = pq.ParquetFile(f).metadata
        idx = [meta.schema.column(i).name for i in range(meta.num_columns)].index("key")
        mins = [meta.row_group(rg).column(idx).statistics.min for rg in range(meta.num_row_groups)]
        assert mins == sorted(mins)  # sorted within file -> ordered row groups


def test_expire_partitions_directory_level(spark, tmp_path):
    """expire_partitions drops failing partition dirs without touching
    retained data; the table stays readable with partition pruning."""
    from evolution_spark.io import expire_partitions

    src = str(tmp_path / "part_table")
    spark.range(0, 1000).selectExpr(
        "id", "CAST(date_add('2024-01-01', CAST(id % 10 AS INT)) AS STRING) AS day"
    ).write.partitionBy("day").parquet(src)
    stats = expire_partitions(
        spark, src, "day", lambda v: v >= "2024-01-05"
    )
    assert stats["dropped"] == [f"2024-01-0{i}" for i in range(1, 5)]
    assert stats["kept"] == 6
    back = spark.read.parquet(src)
    assert back.count() == 600
    # partition inference types day as DATE; compare its rendered form
    assert str(back.selectExpr("min(day)").first()[0]) == "2024-01-05"


def test_ipc_roundtrip_distributed(spark, tmp_path):
    """write_ipc -> read_ipc round-trip: executor-side deserialization
    recovers exactly the written rows (the full O12 IPC loop the reference
    declared but never shipped)."""
    from evolution_spark.io.ipc import read_ipc, write_ipc

    df = spark.range(0, 5000).selectExpr("id", "CAST(id % 13 AS DOUBLE) AS v",
                                         "CAST(id AS STRING) AS s")
    out = str(tmp_path / "ipc_rt")
    parts = write_ipc(df.repartition(6), out)
    assert len(parts) == 6
    back = read_ipc(spark, out, df.schema)
    assert back.count() == 5000
    assert back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0


def test_compact_parquet_rejects_hive_partitioned(spark, tmp_path):
    """A hive-partitioned layout must be refused outright — a flat rewrite
    would silently demote partition columns to data columns."""
    import pytest as _pytest

    from evolution_spark.io import compact_parquet

    src = str(tmp_path / "part_table")
    spark.range(100).selectExpr("id", "id % 3 AS p").write.partitionBy(
        "p"
    ).parquet(src)
    with _pytest.raises(ValueError, match="hive-partitioned"):
        compact_parquet(spark, src, target_file_mb=512)


def test_dynamic_partition_overwrite(spark, tmp_path):
    """overwrite_partitions replaces exactly the partitions in the batch:
    untouched partition dirs keep their files byte-for-byte (same names,
    same mtimes), overwritten dirs get new files, and the table reads back
    as the merged result."""
    import os

    from evolution_spark.io.partitioned import overwrite_partitions, write_partitioned

    path = str(tmp_path / "t")
    init = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-02", 2), ("2024-01-03", 30)],
        "day string, n int",
    )
    write_partitioned(init, path, "day")

    def listing(day):
        d = f"{path}/day={day}"
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    before_d1, before_d2 = listing("2024-01-01"), listing("2024-01-02")
    before_d3 = listing("2024-01-03")

    patch = spark.createDataFrame([("2024-01-03", 3)], "day string, n int")
    overwrite_partitions(patch, path, "day")

    assert listing("2024-01-01") == before_d1  # untouched, same files
    assert listing("2024-01-02") == before_d2
    assert listing("2024-01-03") != before_d3  # replaced
    import datetime as dt

    # partition-type inference parses the day strings back as DATEs
    got = {r.day: r.n for r in spark.read.parquet(path).collect()}
    assert got == {
        dt.date(2024, 1, 1): 1,
        dt.date(2024, 1, 2): 2,
        dt.date(2024, 1, 3): 3,
    }


def test_delta_multi_version_time_travel(spark, tmp_path):
    """commit_delta append/overwrite + read_delta_snapshot(version=N):
    every historical version stays readable; removes hide old files from
    later versions; orphan files are invisible at every version."""
    import pytest

    from evolution_spark.io.delta_log import (
        commit_delta,
        read_delta_snapshot,
        write_delta_snapshot,
    )

    df = spark.range(100).withColumnRenamed("id", "k")
    path = str(tmp_path / "tt")
    write_delta_snapshot(df, path)
    assert commit_delta(df.where("k < 10"), path, mode="overwrite")["version"] == 1
    assert commit_delta(df.where("k >= 95"), path, mode="append")["version"] == 2

    # an orphan parquet dropped into the dir must never appear in any read
    import shutil as _sh

    orphan_src = next(
        p for p in (tmp_path / "tt").rglob("*.parquet") if "_delta_log" not in p.parts
    )
    _sh.copy(orphan_src, tmp_path / "tt" / "orphan-not-committed.parquet")

    assert read_delta_snapshot(spark, path, version=0).count() == 100
    v1 = read_delta_snapshot(spark, path, version=1)
    assert sorted(r.k for r in v1.collect()) == list(range(10))
    v2 = read_delta_snapshot(spark, path)  # latest
    assert sorted(r.k for r in v2.collect()) == list(range(10)) + [95, 96, 97, 98, 99]

    # schema drift is refused (evolution is an explicit metaData commit)
    with pytest.raises(ValueError, match="schema mismatch"):
        commit_delta(df.withColumn("extra", df.k * 2), path, mode="append")
    # unknown version is refused
    with pytest.raises(ValueError, match="not in log"):
        read_delta_snapshot(spark, path, version=9)


def test_delta_commit_partitioned_append(spark, tmp_path):
    from evolution_spark.io.delta_log import (
        commit_delta,
        read_delta_snapshot,
        write_delta_snapshot,
    )
    from pyspark.sql import functions as F

    df = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("p")
    )
    path = str(tmp_path / "ptab")
    write_delta_snapshot(df, path, partition_by=["p"])
    commit_delta(
        spark.range(40, 50).select(
            F.col("id").alias("k"), F.lit("0").alias("p")
        ),
        path,
        mode="append",
    )
    back = read_delta_snapshot(spark, path)
    assert back.count() == 50
    # appended files landed under the hive partition dir and carry its value
    assert back.where("p = '0'").count() == 30
    assert read_delta_snapshot(spark, path, version=0).count() == 40


def test_delta_merge_cdc_semantics(spark, tmp_path):
    """MERGE: update existing, delete existing, insert new, delete-missing
    is a no-op; pre-merge version stays readable."""
    from pyspark.sql import functions as F

    from evolution_spark.io.delta_log import (
        merge_delta_cdc,
        read_delta_snapshot,
        write_delta_snapshot,
    )

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, s string, v double"
    )
    path = str(tmp_path / "mrg")
    write_delta_snapshot(df, path)
    changes = spark.createDataFrame(
        [
            (2, "B", 99.0, "u"),   # update
            (3, None, None, "d"),  # delete
            (4, "d", 40.0, "u"),   # insert
            (9, None, None, "d"),  # delete of a missing key: no-op
        ],
        "k long, s string, v double, _op string",
    )
    summary = merge_delta_cdc(spark, path, changes, key="k")
    assert summary["version"] == 1
    rows = {r.k: (r.s, r.v) for r in read_delta_snapshot(spark, path).collect()}
    assert rows == {1: ("a", 10.0), 2: ("B", 99.0), 4: ("d", 40.0)}
    # time travel to the pre-merge version
    assert read_delta_snapshot(spark, path, version=0).count() == 3
    # bad key column is refused
    import pytest

    with pytest.raises(ValueError, match="not in table columns"):
        merge_delta_cdc(spark, path, changes.withColumnRenamed("k", "kk"), key="kk")


def test_delta_merge_prunes_untouched_files(spark, tmp_path):
    """File-pruned MERGE: with range-clustered v0 files, a change set
    touching one file's key range must rewrite ONLY that file — the other
    files' physical paths survive into the new version's live set."""
    import json as _json

    from pyspark.sql import functions as F

    from evolution_spark.io.delta_log import (
        _replay_log,
        merge_delta_cdc,
        read_delta_snapshot,
        write_delta_snapshot,
    )

    df = (
        spark.range(400)
        .select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        .repartitionByRange(4, "k")
        .sortWithinPartitions("k")
    )
    path = str(tmp_path / "pruned")
    write_delta_snapshot(df, path)
    live0, *_ = _replay_log(__import__("pathlib").Path(path))
    assert len(live0) == 4
    # every add action carries key min/max stats
    for add in live0.values():
        st = _json.loads(add["stats"])
        assert "k" in st["minValues"] and "k" in st["maxValues"]

    # touch only keys 0-5 (one range file): update 3, delete 5, insert 1000
    changes = spark.createDataFrame(
        [(3, 999, "u"), (5, None, "d"), (1000, 42, "u")],
        "k long, v long, _op string",
    )
    summary = merge_delta_cdc(spark, path, changes, key="k")
    assert summary["pruned"] and summary["files_rewritten"] == 1
    assert summary["files_kept"] == 3

    live1, *_ = _replay_log(__import__("pathlib").Path(path))
    kept = set(live0) & set(live1)
    assert len(kept) == 3  # three original files carried forward untouched

    back = {r.k: r.v for r in read_delta_snapshot(spark, path).collect()}
    assert back[3] == 999 and 5 not in back and back[1000] == 42
    assert len(back) == 400 - 1 + 1
    # result equals the unpruned merge semantics
    write_delta_snapshot(df, path + "_full")
    merge_delta_cdc(spark, path + "_full", changes, key="k", prune_files=False)
    full = {r.k: r.v for r in read_delta_snapshot(spark, path + "_full").collect()}
    assert back == full


def test_delta_merge_all_inserts_appends_without_rewrite(spark, tmp_path):
    from pyspark.sql import functions as F

    from evolution_spark.io.delta_log import (
        merge_delta_cdc,
        read_delta_snapshot,
        write_delta_snapshot,
    )

    df = spark.range(10).select(F.col("id").alias("k"), F.lit(1).cast("long").alias("v"))
    path = str(tmp_path / "ins")
    write_delta_snapshot(df, path)
    changes = spark.createDataFrame([(100, 7, "u"), (101, 8, "u")], "k long, v long, _op string")
    summary = merge_delta_cdc(spark, path, changes, key="k")
    assert summary["pruned"] and summary["files_rewritten"] == 0
    assert read_delta_snapshot(spark, path).count() == 12


def test_delta_optimize_compacts_and_preserves_rows(spark, tmp_path):
    from pyspark.sql import functions as F

    from evolution_spark.io.delta_log import (
        _replay_log,
        commit_delta,
        optimize_delta,
        read_delta_snapshot,
        write_delta_snapshot,
    )

    path = str(tmp_path / "opt")
    df = spark.range(100).select(F.col("id").alias("k"))
    write_delta_snapshot(df.repartition(4), path)
    # three appends -> many small files
    for lo in (100, 110, 120):
        commit_delta(
            spark.range(lo, lo + 10).select(F.col("id").alias("k")).repartition(2),
            path,
            mode="append",
        )
    import pathlib

    live_before, *_ = _replay_log(pathlib.Path(path))
    assert len(live_before) >= 8
    summary = optimize_delta(spark, path, target_files=1)
    assert summary["files"] == 1 and summary["rows"] == 130
    back = read_delta_snapshot(spark, path)
    assert back.count() == 130
    assert sorted(r.k for r in back.collect()) == list(range(130))
    # pre-OPTIMIZE version still readable (layout change only)
    prev = read_delta_snapshot(spark, path, version=summary["version"] - 1)
    assert prev.count() == 130


def test_delta_vacuum_unlinks_only_unreferenced(spark, tmp_path):
    import pathlib

    import pytest
    from pyspark.sql import functions as F

    from evolution_spark.io.delta_log import (
        commit_delta,
        read_delta_snapshot,
        vacuum_delta,
        write_delta_snapshot,
    )

    path = str(tmp_path / "vac")
    df = spark.range(50).select(F.col("id").alias("k"))
    write_delta_snapshot(df, path)                              # v0
    commit_delta(df.where("k < 10"), path, mode="overwrite")    # v1
    commit_delta(df.where("k >= 45"), path, mode="append")      # v2

    res = vacuum_delta(path, keep_versions=2)  # keep v1, v2
    assert res["kept_versions"] == [1, 2]
    assert len(res["deleted"]) >= 1  # v0's files are gone
    # kept versions still read fine
    assert read_delta_snapshot(spark, path, version=1).count() == 10
    assert read_delta_snapshot(spark, path).count() == 15
    # v0 now fails on missing files (the documented trade-off)
    with pytest.raises(Exception):
        read_delta_snapshot(spark, path, version=0).count()
    # a second vacuum is a no-op
    assert vacuum_delta(path, keep_versions=2)["deleted"] == []


def test_delta_checkpoint_roundtrip_and_post_commits(spark, tmp_path):
    """Checkpoint = fully-replayed state in parquet + _last_checkpoint
    pointer; latest reads use it (plus commits after it), historical
    versions still replay the JSON chain."""
    import json as _json

    from pyspark.sql import functions as F

    from evolution_spark.io.delta_log import (
        checkpoint_delta,
        commit_delta,
        last_txn_version,
        read_delta_snapshot,
        write_delta_snapshot,
    )

    path = str(tmp_path / "ckpt")
    df = spark.range(60).select(F.col("id").alias("k"))
    write_delta_snapshot(df, path)                                     # v0
    commit_delta(df.where("k < 20"), path, mode="overwrite")           # v1
    commit_delta(df.where("k >= 50"), path, mode="append",
                 txn=("app", 7))                                       # v2
    res = checkpoint_delta(path)
    assert res["version"] == 2
    import pathlib

    log = pathlib.Path(path) / "_delta_log"
    assert (log / f"{2:020d}.checkpoint.parquet").exists()
    assert _json.loads((log / "_last_checkpoint").read_text())["version"] == 2

    # latest read resolves through the checkpoint
    assert sorted(r.k for r in read_delta_snapshot(spark, path).collect()) == (
        list(range(20)) + list(range(50, 60))
    )
    # txn state survives the checkpoint (streaming idempotence intact)
    assert last_txn_version(path, "app") == 7
    # a commit AFTER the checkpoint is applied on top of it
    commit_delta(df.where("k = 30"), path, mode="append")              # v3
    assert read_delta_snapshot(spark, path).count() == 31
    # historical reads below the checkpoint still work (JSON replay)
    assert read_delta_snapshot(spark, path, version=0).count() == 60
    assert read_delta_snapshot(spark, path, version=1).count() == 20


def test_delta_merge_key_not_first_column(spark, tmp_path):
    """MERGE must work when the key is not column 0 (output columns follow
    the table's declared order, not key-first)."""
    from evolution_spark.io.delta_log import (
        merge_delta_cdc,
        read_delta_snapshot,
        write_delta_snapshot,
    )

    df = spark.createDataFrame([("a", 1, 1.0), ("b", 2, 2.0)], "s string, k long, v double")
    path = str(tmp_path / "keypos")
    write_delta_snapshot(df, path)
    changes = spark.createDataFrame([("B", 2, 9.0, "u")], "s string, k long, v double, _op string")
    merge_delta_cdc(spark, path, changes, key="k")
    back = read_delta_snapshot(spark, path)
    assert back.columns == ["s", "k", "v"]
    assert {(r.s, r.k, r.v) for r in back.collect()} == {("a", 1, 1.0), ("B", 2, 9.0)}


def test_delta_merge_rejects_duplicate_change_keys(spark, tmp_path):
    import pytest

    from evolution_spark.io.delta_log import merge_delta_cdc, write_delta_snapshot

    df = spark.createDataFrame([(1, 1.0)], "k long, v double")
    path = str(tmp_path / "dupkeys")
    write_delta_snapshot(df, path)
    changes = spark.createDataFrame(
        [(1, 2.0, "u"), (1, 3.0, "u")], "k long, v double, _op string"
    )
    with pytest.raises(ValueError, match="duplicate key"):
        merge_delta_cdc(spark, path, changes, key="k")


def test_delta_commit_race_is_hard_error_not_lost_update(spark, tmp_path, monkeypatch):
    """Simulate the optimistic-concurrency race: our writer replays a STALE
    view (latest=0) while a rival has already published version 1. The
    publish must fail hard, and the rival's commit must survive intact
    (os.replace would have silently clobbered it)."""
    import pathlib

    import pytest

    import evolution_spark.io.delta_log as dl

    df = spark.createDataFrame([(1,)], "k long")
    path = str(tmp_path / "race")
    dl.write_delta_snapshot(df, path)
    rival = pathlib.Path(path) / "_delta_log" / f"{1:020d}.json"
    rival.write_text('{"commitInfo": {"operation": "RIVAL"}}\n')

    orig = dl._replay_log

    def stale(table_dir, version=None, return_state=False):
        result = orig(
            table_dir, 0 if version is None else version, return_state=return_state
        )
        if return_state:
            live, schema, parts, _, state = result
            return live, schema, parts, 0, state
        live, schema, parts, _ = result
        return live, schema, parts, 0

    monkeypatch.setattr(dl, "_replay_log", stale)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        dl.commit_delta(df, path, mode="append")
    assert "RIVAL" in rival.read_text()


def test_delta_commit_error_mode_fails_fast_without_staging(spark, tmp_path):
    import pathlib

    import pytest

    from evolution_spark.io.delta_log import commit_delta, write_delta_snapshot

    df = spark.createDataFrame([(1,)], "k long")
    path = str(tmp_path / "errmode")
    write_delta_snapshot(df, path)
    with pytest.raises(ValueError, match="already exists"):
        commit_delta(df, path, mode="error")
    assert not list(pathlib.Path(path).glob("_staging_*"))


def test_iceberg_append_snapshot_and_time_travel(spark, tmp_path):
    """Iceberg appends: new manifest + manifest list reusing previous
    manifests by reference, new metadata.json version, hint-swap commit;
    every snapshot stays readable by id."""
    import pytest
    from pyspark.sql import functions as F

    from evolution_spark.io.iceberg_meta import (
        append_iceberg_snapshot,
        read_iceberg_table,
        write_iceberg_table,
    )

    path = str(tmp_path / "ice_app")
    df = spark.range(30).select(F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("p"))
    s0 = write_iceberg_table(df, path, partition_by=["p"])
    s1 = append_iceberg_snapshot(
        spark.range(30, 40).select(F.col("id").alias("k"), F.lit("0").alias("p")), path
    )
    assert s1["sequence-number"] == 2 and s1["rows"] == 10

    latest = read_iceberg_table(spark, path)
    assert latest.count() == 40
    assert latest.where("p = '0'").count() == 20
    # time travel to the initial snapshot
    v0 = read_iceberg_table(spark, path, snapshot_id=s0["snapshot-id"])
    assert v0.count() == 30
    # unknown snapshot is a clear error
    with pytest.raises(ValueError, match="not in table history"):
        read_iceberg_table(spark, path, snapshot_id=123)
    # schema drift refused
    with pytest.raises(ValueError, match="schema mismatch"):
        append_iceberg_snapshot(spark.range(5).select(F.col("id").alias("z")), path)
    # metadata log chain: two metadata versions, second points at first
    import pathlib

    metas = sorted((pathlib.Path(path) / "metadata").glob("*.metadata.json"))
    assert len(metas) == 2


def test_avro_nan_and_timezone_semantics(spark, tmp_path):
    """NaN in a NON-nullable double encodes as an IEEE NaN (not a crash,
    not a null); NaN/None in a NULLABLE double becomes SQL NULL (the
    pandas convention); timestamp-micros is a UTC instant — a non-UTC
    session round-trips instants unchanged."""
    import math

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from evolution_spark.io.avro import read_avro, write_avro

    # non-nullable double with NaN
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.DoubleType(), False),
            T.StructField("w", T.DoubleType(), True),
        ]
    )
    df = spark.createDataFrame(
        [(1, float("nan"), None), (2, 2.5, float("nan")), (3, 3.0, 4.0)], schema
    )
    out = str(tmp_path / "nan_avro")
    paths = write_avro(df, out)  # must not crash on the non-nullable NaN
    # the FILE carries a real IEEE NaN in the non-union column
    from evolution_spark.io.avro import decode_avro_file

    raw = {r[0]: r for p_, _n in paths for r in decode_avro_file(p_)[1]}
    assert math.isnan(raw[1][1]) and raw[1][2] is None
    assert raw[2][1] == 2.5 and raw[2][2] is None  # nullable NaN -> NULL
    # read back with a nullable schema (the pandas transport folds NaN to
    # null in transit — the read contract documents nullable-on-read)
    read_schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.DoubleType(), True),
            T.StructField("w", T.DoubleType(), True),
        ]
    )
    back = {r.k: (r.v, r.w) for r in read_avro(spark, out, read_schema).collect()}
    assert back[2] == (2.5, None) and back[3] == (3.0, 4.0)

    # timestamp instant under a non-UTC session
    orig_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ts_schema = T.StructType(
            [
                T.StructField("k", T.LongType(), False),
                T.StructField("ts", T.TimestampType(), True),
            ]
        )
        tdf = spark.createDataFrame([(1, "2024-06-01 12:00:00")], "k long, s string")
        tdf = tdf.select("k", F.to_timestamp("s").alias("ts"))
        out2 = str(tmp_path / "tz_avro")
        paths = write_avro(tdf, out2)
        # the written long must be the true UTC instant: 12:00 EDT = 16:00 UTC
        from evolution_spark.io.avro import decode_avro_file

        _, rows = decode_avro_file(paths[0][0], session_tz="UTC")
        assert rows[0][1].strftime("%H:%M") == "16:00"
        # and the session-aware read round-trips the instant: rendering in
        # the (New York) session zone recovers the original wall clock
        # (collect() itself returns system-local naive datetimes, so the
        # render must go through date_format, which uses the session zone)
        rendered = (
            read_avro(spark, out2, ts_schema)
            .select(F.date_format("ts", "yyyy-MM-dd HH:mm").alias("s"))
            .collect()[0]
            .s
        )
        assert rendered == "2024-06-01 12:00"
    finally:
        spark.conf.set("spark.sql.session.timeZone", orig_tz)


def test_delta_merge_rejects_unknown_op(spark, tmp_path):
    import pytest

    from evolution_spark.io.delta_log import merge_delta_cdc, write_delta_snapshot

    df = spark.createDataFrame([(1, 1.0)], "k long, v double")
    path = str(tmp_path / "badop")
    write_delta_snapshot(df, path)
    changes = spark.createDataFrame([(2, 2.0, "i")], "k long, v double, _op string")
    with pytest.raises(ValueError, match="unknown op 'i'"):
        merge_delta_cdc(spark, path, changes, key="k")


def test_converter_delta_overwrite_replaces_non_delta_dir(spark, tmp_path):
    """save_mode=overwrite onto an existing NON-Delta dir (e.g. a prior
    parquet run at the same path) must replace it, not raise."""
    import pathlib

    from evolution_spark.io.delta_log import read_delta_snapshot
    from evolution_spark.converter import Converter, Target
    from evolution_spark.mocker import Mocker
    from evolution_spark.schema import FixedSchema

    sch = FixedSchema.from_dict(
        {"name": "T", "version": 1, "columns": [
            {"name": "id", "offset": 0, "length": 12, "dtype": "Int64",
             "is_nullable": False}]}
    )
    flf = str(tmp_path / "in.flf")
    Mocker(sch, 500, flf, seed=3).run(spark)
    out = str(tmp_path / "mixed_out")
    # prior run left plain parquet here (no _delta_log)
    spark.range(5).write.parquet(out)
    Converter(flf, sch, out, target=Target.DELTA, save_mode="overwrite").run(spark)
    assert (pathlib.Path(out) / "_delta_log").exists()
    assert read_delta_snapshot(spark, out).count() == 500


def test_converter_delta_partition_mismatch_raises(spark, tmp_path):
    import pytest

    from evolution_spark.converter import Converter, Target
    from evolution_spark.mocker import Mocker
    from evolution_spark.schema import FixedSchema

    sch = FixedSchema.from_dict(
        {"name": "T", "version": 1, "columns": [
            {"name": "id", "offset": 0, "length": 12, "dtype": "Int64",
             "is_nullable": False},
            {"name": "tag", "offset": 12, "length": 8, "dtype": "Utf8",
             "is_nullable": False}]}
    )
    flf = str(tmp_path / "in2.flf")
    Mocker(sch, 200, flf, seed=4).run(spark)
    out = str(tmp_path / "part_tbl")
    Converter(flf, sch, out, target=Target.DELTA).run(spark)  # unpartitioned
    with pytest.raises(ValueError, match="partitionColumns"):
        Converter(
            flf, sch, out, target=Target.DELTA, save_mode="append",
            partition_by=["tag"],
        ).run(spark)


def test_iceberg_append_race_is_hard_error(spark, tmp_path, monkeypatch):
    """Two appends from the same base metadata: the second must fail on
    the exclusive version marker, not silently discard the first."""
    import pytest
    from pyspark.sql import functions as F

    import evolution_spark.io.iceberg_meta as im

    path = str(tmp_path / "ice_race")
    df = spark.range(10).select(F.col("id").alias("k"))
    im.write_iceberg_table(df, path)
    base = im._load_metadata(im.Path(path))

    # freeze the metadata view both writers see
    monkeypatch.setattr(im, "_load_metadata", lambda _d: base)
    im.append_iceberg_snapshot(df.limit(3), path)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        im.append_iceberg_snapshot(df.limit(2), path)


def test_cli_maintain_delta_pipeline(spark, tmp_path, capsys):
    """The maintain subcommand drives optimize -> checkpoint -> vacuum on a
    native Delta table and prints a JSON summary."""
    import json as _json

    from pyspark.sql import functions as F

    from evolution_spark.cli import main as cli_main
    from evolution_spark.io.delta_log import (
        commit_delta,
        read_delta_snapshot,
        write_delta_snapshot,
    )

    path = str(tmp_path / "cli_tbl")
    df = spark.range(100).select(F.col("id").alias("k"))
    write_delta_snapshot(df.repartition(4), path)
    commit_delta(df.where("k >= 90").repartition(2), path, mode="append")

    rc = cli_main(
        ["maintain", "-T", path, "-f", "delta",
         "--optimize", "1", "--checkpoint", "--vacuum", "1", "-N", "2"]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["optimize"]["files"] == 1 and out["optimize"]["rows"] == 110
    assert out["vacuum"]["deleted_files"] >= 6
    assert read_delta_snapshot(spark, path).count() == 110

    import pytest

    with pytest.raises(SystemExit, match="no action"):
        cli_main(["maintain", "-T", path, "-f", "delta"])
    with pytest.raises(SystemExit, match="iceberg tables"):
        cli_main(["maintain", "-T", path, "-f", "delta", "--expire-snapshots", "1"])


def test_delta_merge_rejects_null_keys(spark, tmp_path):
    import pytest

    from evolution_spark.io.delta_log import merge_delta_cdc, write_delta_snapshot

    df = spark.createDataFrame([(1, 1.0)], "k long, v double")
    path = str(tmp_path / "nullkey")
    write_delta_snapshot(df, path)
    changes = spark.createDataFrame([(None, 2.0, "u")], "k long, v double, _op string")
    with pytest.raises(ValueError, match="NULL merge key"):
        merge_delta_cdc(spark, path, changes, key="k")


def test_delta_reader_protocol_guard(spark, tmp_path):
    """Spec forward-compat obligation: refuse to read a table whose
    protocol demands reader capabilities we don't implement (v2 column
    mapping, v3 reader features like deletion vectors) instead of
    silently reconstructing a wrong snapshot (e.g. resurrecting DV'd
    rows)."""
    import json as _json
    import pathlib

    import pytest
    from pyspark.sql import functions as F

    from evolution_spark.io.delta_log import (
        DeltaProtocolError,
        checkpoint_delta,
        read_delta_snapshot,
        write_delta_snapshot,
    )

    path = str(tmp_path / "proto")
    df = spark.range(10).select(F.col("id").alias("k"))
    write_delta_snapshot(df, path)  # v0: minReaderVersion=1
    assert read_delta_snapshot(spark, path).count() == 10

    log = pathlib.Path(path) / "_delta_log"

    # a foreign writer upgrades the table to reader v3 + deletionVectors:
    # since round 6 this reads fine (DV support — test_deletion_vectors.py)
    (log / f"{1:020d}.json").write_text(
        _json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors"],
        }}) + "\n"
    )
    assert read_delta_snapshot(spark, path).count() == 10
    # ...but an unknown v3 feature alongside it still refuses (round 11
    # made collations a schema-gated tolerance, so the unknown example is
    # a genuinely future feature name)
    (log / f"{1:020d}.json").write_text(
        _json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors", "someFutureFeature"],
            "writerFeatures": ["deletionVectors", "someFutureFeature"],
        }}) + "\n"
    )
    with pytest.raises(DeltaProtocolError, match="someFutureFeature"):
        read_delta_snapshot(spark, path)
    # time travel to BEFORE the upgrade still works (protocol at v0 is 1)
    assert read_delta_snapshot(spark, path, version=0).count() == 10

    # reader v2 (column mapping) now READS (round 6 — name-mode support;
    # this table has no mapping configured, so mode 'none' scans plainly);
    # id mode stays refused at scan time (tests/test_deletion_vectors.py)
    (log / f"{1:020d}.json").write_text(
        _json.dumps({"protocol": {"minReaderVersion": 2,
                                  "minWriterVersion": 5}}) + "\n"
    )
    assert read_delta_snapshot(spark, path).count() == 10

    # the guard also runs on the checkpoint path: checkpoint BEFORE the
    # upgrade, upgrade after it -> the resolved protocol still refuses.
    # (v2Checkpoint became a SUPPORTED reader feature in round 9 and
    # collations a schema-gated tolerance in round 11, so the unsupported
    # example is an unknown future feature name, which remains refused.)
    (log / f"{1:020d}.json").unlink()
    checkpoint_delta(path)
    (log / f"{1:020d}.json").write_text(
        _json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["someFutureFeature"],
            "writerFeatures": ["someFutureFeature"],
        }}) + "\n"
    )
    with pytest.raises(DeltaProtocolError, match="someFutureFeature"):
        read_delta_snapshot(spark, path)


def test_delta_checkpoint_carries_tombstones_and_configuration(spark, tmp_path):
    """Delta checkpoint spec: unexpired remove tombstones and the
    metaData.configuration map must be carried into the checkpoint so an
    external spec reader reconstructs the same retention state as from
    the JSON log."""
    import pathlib

    import pyarrow.parquet as papq
    from pyspark.sql import functions as F

    from evolution_spark.io.delta_log import (
        checkpoint_delta,
        commit_delta,
        read_delta_snapshot,
        write_delta_snapshot,
    )

    path = str(tmp_path / "tomb")
    df = spark.range(40).select(F.col("id").alias("k"))
    write_delta_snapshot(df, path)                            # v0
    commit_delta(df.where("k < 5"), path, mode="overwrite")   # v1: removes v0 files
    checkpoint_delta(path)

    log = pathlib.Path(path) / "_delta_log"
    t = papq.read_table(log / f"{1:020d}.checkpoint.parquet").to_pylist()
    removes = [r["remove"] for r in t if r.get("remove")]
    adds = [r["add"] for r in t if r.get("add")]
    metas = [r["metaData"] for r in t if r.get("metaData")]
    assert removes, "fresh remove tombstones must be carried"
    assert all(r["deletionTimestamp"] is not None for r in removes)
    # tombstoned paths are disjoint from live adds
    assert {r["path"] for r in removes}.isdisjoint({a["path"] for a in adds})
    assert metas and metas[0]["configuration"] is not None
    # a reader going through this checkpoint still sees the right snapshot
    assert read_delta_snapshot(spark, path).count() == 5

    # an EXPIRED tombstone (retention 0) is dropped from the checkpoint
    checkpoint_delta(path, tombstone_retention_ms=-1)
    t2 = papq.read_table(log / f"{1:020d}.checkpoint.parquet").to_pylist()
    assert not [r for r in t2 if r.get("remove")]


def test_delta_vacuum_skips_staging_dirs(spark, tmp_path):
    """A concurrent writer's in-flight _staging_* files are not yet
    log-referenced but must survive VACUUM."""
    import pathlib

    from pyspark.sql import functions as F

    from evolution_spark.io.delta_log import vacuum_delta, write_delta_snapshot

    path = str(tmp_path / "vacstage")
    df = spark.range(10).select(F.col("id").alias("k"))
    write_delta_snapshot(df, path)
    stage = pathlib.Path(path) / "_staging_v1-deadbeef"
    stage.mkdir()
    staged = stage / "part-inflight.parquet"
    staged.write_bytes(b"PAR1fake")
    res = vacuum_delta(path, keep_versions=1)
    assert staged.exists()
    assert "_staging_v1-deadbeef/part-inflight.parquet" not in res["deleted"]


def test_iceberg_expire_commit_marker_blocks_race(spark, tmp_path):
    """expire uses the same create-exclusive per-version marker as append:
    a racing writer that already claimed the next metadata version makes
    the expire fail loudly instead of last-writer-wins hint swapping."""
    import pathlib

    import pytest
    from pyspark.sql import functions as F

    from evolution_spark.io.iceberg_meta import (
        append_iceberg_snapshot,
        expire_iceberg_snapshots,
        write_iceberg_table,
    )

    path = str(tmp_path / "iceexp")
    df = spark.range(20).select(F.col("id").alias("k"))
    write_iceberg_table(df, path)
    append_iceberg_snapshot(df.where("k < 5"), path)
    # simulate a concurrent writer having claimed the next version
    meta_dir = pathlib.Path(path) / "metadata"
    current = max(int(p.name.split("-", 1)[0])
                  for p in meta_dir.glob("*.metadata.json"))
    (meta_dir / f".commit-v{current + 1:05d}").touch()
    with pytest.raises(RuntimeError, match="concurrent commit"):
        expire_iceberg_snapshots(path, keep_last=1)


def test_avro_jvm_routing_gate(spark, tmp_path):
    """write_avro/read_avro prefer the JVM spark-avro datasource when it is
    on the classpath and fall back to the pure-Python codec otherwise. In
    either mode the round-trip must be lossless; when the JVM path is
    active there must be no Python in the row path (no mapInPandas scan)."""
    from pyspark.sql import functions as F

    from evolution_spark.io.avro import jvm_avro_available, read_avro, write_avro

    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2.5).alias("v")
    )
    out = str(tmp_path / "route.avro")
    available = jvm_avro_available(spark)
    files = write_avro(df, out)  # auto-routed
    assert files, "write must report the container files"
    back = read_avro(spark, out, df.schema)
    assert back.count() == 100
    assert sorted(r.k for r in back.collect()) == list(range(100))

    plan = back._jdf.queryExecution().executedPlan().toString()
    if available:
        # jar present: columnar scan, no Python row path
        assert "MapInPandas" not in plan
        assert all(n >= 0 or n == -1 for _, n in files)
    else:
        # this container: pure-Python codec with exact per-file row counts
        assert "MapInPandas" in plan
        assert sum(n for _, n in files) == 100
        # files must carry the Avro container magic (spec bytes, not pickle)
        with open(files[0][0], "rb") as fh:
            assert fh.read(4) == b"Obj\x01"

    # the explicit python override works regardless of classpath
    out2 = str(tmp_path / "route_py.avro")
    files2 = write_avro(df, out2, use_jvm=False)
    assert sum(n for _, n in files2) == 100
    assert read_avro(spark, out2, df.schema, use_jvm=False).count() == 100


def test_delta_writer_protocol_guard(spark, tmp_path):
    """Writer obligation: refuse to commit to a table whose protocol
    demands writer capabilities we don't implement — reading stays
    allowed when the reader version is satisfied. Round 10 made every
    legacy writer version (2-6) writable (invariants/CHECK/CDF/generated/
    mapping/identity all enforced), so the refusal surface is v7 with an
    unknown feature and future version numbers."""
    import json as _json
    import pathlib

    import pytest
    from pyspark.sql import functions as F

    from evolution_spark.io.delta_log import (
        DeltaProtocolError,
        commit_delta,
        read_delta_snapshot,
        write_delta_snapshot,
    )

    path = str(tmp_path / "wproto")
    df = spark.range(10).select(F.col("id").alias("k"))
    write_delta_snapshot(df, path)
    commit_delta(df.where("k < 3"), path, mode="append")  # baseline works

    log = pathlib.Path(path) / "_delta_log"
    (log / f"{2:020d}.json").write_text(
        _json.dumps({"protocol": {"minReaderVersion": 1,
                                  "minWriterVersion": 4}}) + "\n"
    )
    # v4 (CDF + generated columns era) is writable since round 10
    assert read_delta_snapshot(spark, path).count() == 13
    commit_delta(df.where("k >= 8"), path, mode="append")
    assert read_delta_snapshot(spark, path).count() == 15

    # v7 with an unknown writer feature refuses; so does a future version
    (log / f"{4:020d}.json").write_text(
        _json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["someFutureFeature"]}}) + "\n"
    )
    with pytest.raises(DeltaProtocolError, match="someFutureFeature"):
        commit_delta(df.where("k < 2"), path, mode="append")
    (log / f"{4:020d}.json").write_text(
        _json.dumps({"protocol": {"minReaderVersion": 1,
                                  "minWriterVersion": 8}}) + "\n"
    )
    with pytest.raises(DeltaProtocolError, match="minWriterVersion=8"):
        commit_delta(df.where("k < 2"), path, mode="append")


def test_iceberg_expire_aborts_before_deleting_on_race(spark, tmp_path):
    """A lost expire race must leave the table UNTOUCHED: the commit
    marker is claimed before any file is unlinked, so the concurrent
    winner's metadata never references deleted files."""
    import pathlib

    import pytest
    from pyspark.sql import functions as F

    from evolution_spark.io.iceberg_meta import (
        append_iceberg_snapshot,
        expire_iceberg_snapshots,
        read_iceberg_table,
        write_iceberg_table,
    )

    path = str(tmp_path / "iceabort")
    df = spark.range(30).select(F.col("id").alias("k"))
    write_iceberg_table(df, path)
    append_iceberg_snapshot(df.where("k < 5"), path)

    data_before = sorted(p.name for p in (pathlib.Path(path) / "data").rglob("*.parquet"))
    meta_dir = pathlib.Path(path) / "metadata"
    current = max(int(p.name.split("-", 1)[0])
                  for p in meta_dir.glob("*.metadata.json"))
    (meta_dir / f".commit-v{current + 1:05d}").touch()  # concurrent claim
    with pytest.raises(RuntimeError, match="concurrent commit"):
        expire_iceberg_snapshots(path, keep_last=1)
    data_after = sorted(p.name for p in (pathlib.Path(path) / "data").rglob("*.parquet"))
    assert data_after == data_before, "lost race must not delete any file"
    # the table still reads, including the historical snapshot
    assert read_iceberg_table(spark, path).count() == 35


def test_delta_read_data_skipping(spark, tmp_path):
    """skip_where prunes files via add-action min/max stats BEFORE the
    scan: a range-clustered table's needle lookup reads O(needle) files,
    results stay identical to the unpruned read + filter."""
    from pyspark.sql import functions as F

    from evolution_spark.io.delta_log import (
        commit_delta,
        read_delta_snapshot,
        write_delta_snapshot,
    )

    path = str(tmp_path / "skip")
    # three commits with DISJOINT key ranges -> per-file k-ranges disjoint
    write_delta_snapshot(
        spark.range(0, 100).select(F.col("id").alias("k")).coalesce(1), path
    )
    commit_delta(
        spark.range(100, 200).select(F.col("id").alias("k")).coalesce(1),
        path, mode="append",
    )
    commit_delta(
        spark.range(200, 300).select(F.col("id").alias("k")).coalesce(1),
        path, mode="append",
    )

    full = read_delta_snapshot(spark, path)
    assert len(full.inputFiles()) == 3

    pruned = read_delta_snapshot(spark, path, skip_where=[("k", "==", 150)])
    assert len(pruned.inputFiles()) == 1  # only the 100-199 file survives
    assert [r.k for r in pruned.where("k = 150").collect()] == [150]

    rng = read_delta_snapshot(
        spark, path, skip_where=[("k", ">=", 180), ("k", "<", 220)]
    )
    assert len(rng.inputFiles()) == 2
    assert rng.where("k >= 180 and k < 220").count() == 40

    # no matching file -> empty frame with the right schema
    none = read_delta_snapshot(spark, path, skip_where=[("k", ">", 999)])
    assert none.count() == 0 and none.columns == ["k"]

    # files without stats for the column are conservatively kept
    assert len(
        read_delta_snapshot(spark, path, skip_where=[("nope_col", "==", 1)])
        .inputFiles()
    ) == 3


def test_delta_writer_v2_obligations(spark, tmp_path):
    """Writer version 2 obligations on FOREIGN tables: appendOnly refuses
    remove-emitting modes (appends stay allowed); schemas with column
    invariants are refused outright (we cannot validate them)."""
    import json as _json
    import pathlib

    import pytest
    from pyspark.sql import functions as F

    from evolution_spark.io.delta_log import (
        DeltaProtocolError,
        commit_delta,
        write_delta_snapshot,
    )

    path = str(tmp_path / "appendonly")
    df = spark.range(10).select(F.col("id").alias("k"))
    write_delta_snapshot(df, path)

    # foreign writer marks the table append-only
    log = pathlib.Path(path) / "_delta_log"
    v0_lines = (log / f"{0:020d}.json").read_text().splitlines()
    meta = next(_json.loads(l) for l in v0_lines if "metaData" in l)
    meta["metaData"]["configuration"] = {"delta.appendOnly": "true"}
    (log / f"{1:020d}.json").write_text(_json.dumps(meta) + "\n")

    commit_delta(df.where("k < 2"), path, mode="append")  # appends still OK
    with pytest.raises(DeltaProtocolError, match="appendOnly"):
        commit_delta(df, path, mode="overwrite")

    # a schema carrying invariants is ENFORCED (round 9, d84d225): a
    # commit whose rows all satisfy the invariant succeeds; a violating
    # commit aborts naming the invariant and the offending row, and
    # publishes no version.
    path2 = str(tmp_path / "invariants")
    write_delta_snapshot(df, path2)
    log2 = pathlib.Path(path2) / "_delta_log"
    v0 = (log2 / f"{0:020d}.json").read_text().splitlines()
    meta2 = next(_json.loads(l) for l in v0 if "metaData" in l)
    sch = _json.loads(meta2["metaData"]["schemaString"])
    sch["fields"][0]["metadata"] = {
        "delta.invariants": '{"expression":{"expression":"k > 0"}}'
    }
    meta2["metaData"]["schemaString"] = _json.dumps(sch)
    (log2 / f"{1:020d}.json").write_text(_json.dumps(meta2) + "\n")
    from evolution_spark.io.delta_log import read_delta_snapshot
    commit_delta(df.where("k >= 1 and k < 3"), path2, mode="append")
    assert read_delta_snapshot(spark, path2).count() == 12
    with pytest.raises(DeltaProtocolError,
                       match=r"column invariant 'invariant\(k\)'"):
        commit_delta(df.where("k < 2"), path2, mode="append")  # k=0 violates
    assert read_delta_snapshot(spark, path2).count() == 12  # nothing published


def test_delta_optimize_zorder_enables_2d_skipping(spark, tmp_path):
    """OPTIMIZE ZORDER BY: after the rewrite, stats-based file skipping
    prunes on BOTH clustered columns; rows identical to before."""
    from pyspark.sql import functions as F

    from evolution_spark.io.delta_log import (
        optimize_delta,
        read_delta_snapshot,
        write_delta_snapshot,
    )

    path = str(tmp_path / "optz")
    # scattered layout: 8 files, each covering the FULL (a, b) range ->
    # stats-based pruning can skip nothing
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("a"),
        (F.floor(F.col("id") / 64) % 64).alias("b"),
    ).repartition(8)
    write_delta_snapshot(df, path)
    pre = read_delta_snapshot(
        spark, path, skip_where=[("a", "<", 8), ("b", "<", 8)]
    )
    assert len(pre.inputFiles()) == 8  # nothing skippable

    res = optimize_delta(spark, path, target_files=16, zorder_by=["a", "b"])
    assert res["files_before"] == 8

    post_all = read_delta_snapshot(spark, path)
    assert post_all.count() == 4096  # lossless rewrite
    post = read_delta_snapshot(
        spark, path, skip_where=[("a", "<", 8), ("b", "<", 8)]
    )
    # z-ordered files cover small (a, b) rectangles: the corner box must
    # skip a clear majority of the 16 files
    assert len(post.inputFiles()) <= 6, len(post.inputFiles())
    assert post.where("a < 8 and b < 8").count() == pre.where(
        "a < 8 and b < 8"
    ).count()
    # pre-optimize version stays time-travel readable
    assert read_delta_snapshot(spark, path, version=0).count() == 4096


def test_delta_optimize_allowed_on_append_only(spark, tmp_path):
    """delta.appendOnly forbids only dataChange=true removes; OPTIMIZE is a
    layout-only rewrite (dataChange=false) and must pass (ADVICE r5), while
    data-changing overwrites stay refused."""
    import json as _json
    import pathlib

    import pytest
    from pyspark.sql import functions as F

    from evolution_spark.io.delta_log import (
        DeltaProtocolError,
        commit_delta,
        optimize_delta,
        read_delta_snapshot,
        write_delta_snapshot,
    )

    path = str(tmp_path / "ao_opt")
    df = spark.range(100).select(F.col("id").alias("k")).repartition(4)
    write_delta_snapshot(df, path)
    log = pathlib.Path(path) / "_delta_log"
    v0_lines = (log / f"{0:020d}.json").read_text().splitlines()
    meta = next(_json.loads(l) for l in v0_lines if "metaData" in l)
    meta["metaData"]["configuration"] = {"delta.appendOnly": "true"}
    (log / f"{1:020d}.json").write_text(_json.dumps(meta) + "\n")

    res = optimize_delta(spark, path, target_files=1)
    assert res["files_before"] == 4 and res["files"] == 1
    assert read_delta_snapshot(spark, path).count() == 100
    # the compaction's log actions all carry dataChange=false
    body = (log / f"{res['version']:020d}.json").read_text()
    for line in body.splitlines():
        act = _json.loads(line)
        for kind in ("add", "remove"):
            if kind in act:
                assert act[kind]["dataChange"] is False
    # data-changing removes stay refused
    with pytest.raises(DeltaProtocolError, match="appendOnly"):
        commit_delta(df, path, mode="overwrite")
    with pytest.raises(ValueError, match="data_change"):
        commit_delta(df, path, mode="append", data_change=False)


def test_delta_commit_aborts_if_staging_reclaimed(spark, tmp_path, monkeypatch):
    """Vacuum-race guard (ADVICE r5): a commit whose staging dir was
    reclaimed mid-flight must abort loudly instead of publishing an
    overwrite with removes but no adds (silent row loss)."""
    import shutil as _shutil

    import pytest
    import pyspark.sql.readwriter as rw
    from pyspark.sql import functions as F

    from evolution_spark.io.delta_log import (
        commit_delta,
        read_delta_snapshot,
        write_delta_snapshot,
    )

    path = str(tmp_path / "stale_stage")
    df = spark.range(10).select(F.col("id").alias("k"))
    write_delta_snapshot(df, path)

    orig = rw.DataFrameWriter.parquet

    def write_then_reclaim(self, p, **kw):
        orig(self, p, **kw)
        _shutil.rmtree(p)  # concurrent reclaim_stale_staging fires here

    monkeypatch.setattr(rw.DataFrameWriter, "parquet", write_then_reclaim)
    with pytest.raises(RuntimeError, match="staged write output missing"):
        commit_delta(df, path, mode="overwrite")
    monkeypatch.undo()
    # nothing was published: version 0 is still the table
    assert read_delta_snapshot(spark, path).count() == 10


def test_table_health_advisor(spark, tmp_path):
    """Maintenance advisor: metadata-only signals + actionable recs on
    both formats; thresholds track the BASELINE v3.3 stress curves."""
    from pyspark.sql import functions as F

    from evolution_spark.io.delta_log import (
        delete_delta_rows,
        optimize_delta,
        write_delta_snapshot,
    )
    from evolution_spark.io.iceberg_meta import (
        append_equality_deletes,
        write_iceberg_table,
    )
    from evolution_spark.io.maintenance import table_health

    df = spark.range(300).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    dpath = str(tmp_path / "hd")
    write_delta_snapshot(df.repartition(4), dpath)
    h0 = table_health(dpath)
    assert h0["format"] == "delta"
    assert h0["signals"]["deleted_rows"] == 0
    assert not any("delete ratio" in r for r in h0["recommendations"])

    delete_delta_rows(spark, dpath, "k % 3 = 0")
    h1 = table_health(dpath)
    assert h1["signals"]["deleted_rows"] == 100
    assert abs(h1["signals"]["delete_ratio"] - 100 / 300) < 1e-3
    assert any("CRITICAL" in r for r in h1["recommendations"])

    # compaction clears the merge-on-read debt signal
    optimize_delta(spark, dpath)
    h2 = table_health(dpath)
    assert h2["signals"]["deleted_rows"] == 0
    assert not any("delete ratio" in r for r in h2["recommendations"])

    ipath = str(tmp_path / "hi")
    write_iceberg_table(df, ipath)
    append_equality_deletes(ipath, [{"k": i} for i in range(45)], ["k"])
    hi = table_health(ipath)
    assert hi["format"] == "iceberg"
    assert hi["signals"]["deleted_rows"] == 45
    assert any("delete ratio" in r for r in hi["recommendations"])

    import pytest

    with pytest.raises(FileNotFoundError):
        table_health(str(tmp_path / "nope"))


@pytest.fixture(scope="module")
def small_flf(spark, tmp_path_factory):
    """One 40-row mocked FLF input shared by the save-mode matrix."""
    flf = str(tmp_path_factory.mktemp("savemode") / "in.flf")
    Mocker(SCHEMA, 40, flf, seed=5).run(spark)
    return flf


# (existing output, save_mode) -> (latest version, rows) read back, or
# ValueError; "untouched" = the plain-Parquet dir is left as it was
_DELTA_SAVE_MODES = {
    ("absent", "error"): (0, 40),
    ("absent", "append"): (0, 40),
    ("absent", "overwrite"): (0, 40),
    ("absent", "ignore"): (0, 40),
    ("parquet", "error"): ValueError,
    ("parquet", "append"): ValueError,
    ("parquet", "overwrite"): (0, 40),
    ("parquet", "ignore"): "untouched",
    ("delta", "error"): ValueError,
    ("delta", "append"): (1, 80),
    ("delta", "overwrite"): (1, 40),
    ("delta", "ignore"): (0, 40),
}


@pytest.mark.parametrize("existing,save_mode", sorted(_DELTA_SAVE_MODES))
def test_converter_delta_save_modes(spark, tmp_path, small_flf, existing, save_mode):
    """Every save_mode against an absent path, a plain-Parquet dir and a
    Delta table: what the Converter's Delta target raises or commits."""
    from pathlib import Path

    from evolution_spark.io.delta_log import _log_versions, read_delta_snapshot

    out = str(tmp_path / "out")
    if existing == "parquet":
        spark.range(3).write.parquet(out)
    elif existing == "delta":
        Converter(small_flf, SCHEMA, out, target=Target.DELTA).run(spark)
    conv = Converter(small_flf, SCHEMA, out, target=Target.DELTA, save_mode=save_mode)
    want = _DELTA_SAVE_MODES[(existing, save_mode)]
    if want is ValueError:
        with pytest.raises(ValueError, match="exists"):
            conv.run(spark)
        return
    conv.run(spark)
    if want == "untouched":
        assert not (Path(out) / "_delta_log").exists()
        assert spark.read.parquet(out).count() == 3
        return
    version, rows = want
    assert _log_versions(Path(out) / "_delta_log")[-1] == version
    assert read_delta_snapshot(spark, out).count() == rows


# Every other target's table, and the Mocker's: (existing output,
# save_mode) -> rows read back ((snapshots, rows) for Iceberg), ValueError,
# or "untouched". "foreign" is a dir the write did not make (one 3-row
# Parquet file); "same" is a 40-row output of the same target. A file
# target appends part files beside whatever is there; a table target
# refuses a dir that holds no table.
_FILE_SAVE_MODES = {
    **{("absent", m): 40 for m in ("error", "append", "overwrite", "ignore")},
    ("foreign", "error"): ValueError,
    ("foreign", "append"): 40,
    ("foreign", "overwrite"): 40,
    ("foreign", "ignore"): "untouched",
    ("same", "error"): ValueError,
    ("same", "append"): 80,
    ("same", "overwrite"): 40,
    ("same", "ignore"): "untouched",
}
_SAVE_MODES = {
    **{t: _FILE_SAVE_MODES for t in ("parquet", "orc", "csv", "avro", "ipc", "flf", "mocker")},
    "iceberg": {
        **{k: (1, v) if isinstance(v, int) else v for k, v in _FILE_SAVE_MODES.items()},
        ("foreign", "append"): ValueError,
        ("same", "append"): (2, 80),
    },
}
_WRITERS = [t.value for t in Target] + ["mocker"]
_BAD_FLF = "___ab____" + "1.5*****************" + ";" * 30 + "000true0" + "\n"


def _writer(target, src, out, save_mode):
    """The Converter for ``target`` (or the Mocker) writing 40 rows."""
    if target == "mocker":
        return Mocker(SCHEMA, 40, str(out), seed=5, save_mode=save_mode)
    return Converter(src, SCHEMA, str(out), target=Target(target), save_mode=save_mode)


def _failing_writer(target, tmp_path, out, save_mode):
    """A write that raises once its Spark job runs, and the message's text."""
    if target == "mocker":
        # a field narrower than the generator's values fails the encode
        narrow = FixedSchema.from_dict({"name": "N", "version": 1, "columns": [
            {"name": "cool", "offset": 0, "length": 3, "dtype": "Int32",
             "is_nullable": False}]})
        return Mocker(narrow, 40, str(out), seed=5, save_mode=save_mode), "too wide"
    bad = tmp_path / "bad.flf"
    bad.write_text(_BAD_FLF)
    return _writer(target, str(bad), out, save_mode), "cool"


def _files(out):
    return sorted(str(p.relative_to(out)) for p in out.rglob("*") if p.is_file())


def _read_back(spark, target, out):
    """Rows the output holds, counted from its own data files (not the
    foreign file): (latest version, rows) for Delta, (snapshots, rows) for
    Iceberg."""
    import io

    import pyarrow.orc as orc
    from pathlib import Path

    from evolution_spark.io.avro import decode_avro_file
    from evolution_spark.io.delta_log import _log_versions, read_delta_snapshot
    from evolution_spark.io.iceberg_meta import _load_metadata, read_iceberg_table

    out = Path(out)
    if target == "delta":
        return (_log_versions(out / "_delta_log")[-1],
                read_delta_snapshot(spark, str(out)).count())
    if target == "iceberg":
        return (len(_load_metadata(out)[0]["snapshots"]),
                read_iceberg_table(spark, str(out)).count())
    ext, count = {
        "parquet": (".parquet", lambda f: pq.read_metadata(f).num_rows),
        "orc": (".orc", lambda f: orc.ORCFile(f).nrows),
        "csv": (".csv", lambda f: len(f.read_text().splitlines()) - 1),
        "avro": (".avro", lambda f: len(decode_avro_file(io.BytesIO(f.read_bytes()))[1])),
        "ipc": (".arrow", lambda f: pa.ipc.open_file(f).read_all().num_rows),
        "flf": (".txt", lambda f: len(f.read_text().splitlines())),
        "mocker": (".txt", lambda f: len(f.read_text().splitlines())),
    }[target]
    return sum(count(f) for f in out.rglob("*" + ext) if f.name != "foreign.parquet")


def _hidden(d):
    return [p.name for p in d.iterdir() if p.name.startswith(".")]


@pytest.mark.parametrize(
    "target,existing,save_mode",
    [(t, e, m) for t, table in _SAVE_MODES.items() for e, m in sorted(table)],
)
def test_save_modes(spark, tmp_path, small_flf, target, existing, save_mode):
    """Every save_mode against an absent path, a foreign dir and an output
    of the same target, for each Converter target but Delta (above) and
    for the Mocker: what the write raises, leaves or reads back."""
    out = tmp_path / "out"
    if existing == "foreign":
        out.mkdir()
        pq.write_table(pa.table({"id": [0, 1, 2]}), out / "foreign.parquet")
    elif existing == "same":
        _writer(target, small_flf, out, "error").run(spark)
    before = _files(out) if out.exists() else None
    want = _SAVE_MODES[target][(existing, save_mode)]
    if want is ValueError:
        with pytest.raises(ValueError, match="exists"):
            _writer(target, small_flf, out, save_mode).run(spark)
        assert _files(out) == before
        return
    _writer(target, small_flf, out, save_mode).run(spark)
    if want == "untouched":
        assert _files(out) == before
        return
    kept = (existing, save_mode) == ("foreign", "append")
    assert ("foreign.parquet" in _files(out)) == kept
    assert _read_back(spark, target, out) == want
    assert _hidden(tmp_path) == []


@pytest.mark.parametrize(
    "target,save_mode", [(t, m) for t in _WRITERS for m in ("error", "append")]
)
def test_failed_create_leaves_no_output(spark, tmp_path, small_flf, target, save_mode):
    """A write that raises at an absent path (an abort-mode parse error; a
    mock value too wide for its field) removes what it made, so the retry
    is not refused as existing."""
    out = tmp_path / "nested" / "out"
    failing, message = _failing_writer(target, tmp_path, out, save_mode)
    with pytest.raises(PySparkException, match=message):
        failing.run(spark)
    assert not out.exists()
    assert _hidden(out.parent) == []
    _writer(target, small_flf, out, save_mode).run(spark)
    rows = _read_back(spark, target, out)
    assert rows == ((0, 40) if target == "delta" else (1, 40) if target == "iceberg" else 40)
    assert not any(p.name.startswith("_staging") for p in out.iterdir())


@pytest.mark.parametrize("target,step", [("delta", "_create_delta_table"), ("ipc", "write_ipc")])
def test_create_keeps_an_output_made_during_its_write(spark, tmp_path, small_flf, monkeypatch, target, step):
    """The path was absent when the write began, and another writer put an
    output there while this one's job ran: the write raises and the rival's
    output stays as it was."""
    import evolution_spark.converter as converter

    out = tmp_path / "out"
    real, rival = getattr(converter, step), []

    def rival_first(*a):
        spark.range(3).write.parquet(str(out))
        rival.append(_files(out))
        return real(*a)

    monkeypatch.setattr(converter, step, rival_first)
    with pytest.raises(ValueError, match="output exists"):
        _writer(target, small_flf, out, "error").run(spark)
    assert _files(out) == rival[0]
    assert spark.read.parquet(str(out)).count() == 3
    assert _hidden(tmp_path) == []


def test_delta_snapshot_build_runs_no_listing_job(spark, tmp_path):
    """Building the snapshot DataFrame of a 40-file table starts no Spark
    job: the log names every file, so the parallel listing job Spark runs
    past 32 paths is not started."""
    from pathlib import Path

    from evolution_spark.io.delta_log import read_delta_snapshot, write_delta_snapshot

    out = tmp_path / "t"
    write_delta_snapshot(spark.range(400).repartition(40), str(out))
    assert len(list(Path(out).glob("*.parquet"))) == 40
    sc, group = spark.sparkContext, "delta-snapshot-build"
    sc.setJobGroup(group, group)
    try:
        df = read_delta_snapshot(spark, str(out))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert df.count() == 400


@pytest.mark.parametrize(
    "target,existing", [(t, e) for t in _WRITERS for e in ("foreign", "same")]
)
def test_failed_overwrite_keeps_old_output(spark, tmp_path, small_flf, target, existing):
    """A write that raises while overwriting an existing output (a foreign
    dir, or an output of the same target) leaves the old files in place
    and nothing half-written beside them; a good overwrite then replaces
    them (a Delta table by a commit)."""
    out = tmp_path / "out"
    if existing == "foreign":
        spark.range(3).write.parquet(str(out))
    else:
        _writer(target, small_flf, out, "error").run(spark)
    before = _files(out)
    failing, message = _failing_writer(target, tmp_path, out, "overwrite")
    with pytest.raises(PySparkException, match=message):
        failing.run(spark)
    assert _files(out) == before
    if existing == "foreign":
        assert spark.read.parquet(str(out)).count() == 3
    assert _hidden(tmp_path) == []
    _writer(target, small_flf, out, "overwrite").run(spark)
    want = {"delta": (int(existing == "same"), 40), "iceberg": (1, 40)}.get(target, 40)
    assert _read_back(spark, target, out) == want
    assert _hidden(tmp_path) == []
