"""Round-9 foreign-table reader features: timestampNtz + v2Checkpoint.

The two most frequent v3-protocol features a table written by a recent
foreign Delta engine carries beyond deletionVectors/columnMapping (VERDICT
r08 'What's missing' #1). timestampNtz: schema carries ``timestamp_ntz``,
the spec's activation rule obliges the protocol to declare the feature in
both reader and writer sets. v2Checkpoint: the log checkpoint is a
UUID-named manifest + sidecar parquet parts under ``_delta_log/_sidecars/``.
"""

import json

import pytest
from pyspark.sql import functions as F

from evolution_spark.io.delta_log import (
    DeltaProtocolError,
    checkpoint_delta,
    commit_delta,
    evolve_delta_schema,
    read_delta_snapshot,
    upgrade_delta_features,
    write_delta_snapshot,
)


def _ntz_df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"),
        F.expr(
            "timestamp_ntz'2001-06-01 00:00:00' "
            "+ make_interval(0, 0, 0, 0, id % 30, 0, 0)"
        ).alias("ts"),
        (F.col("id") % 3).alias("grp"),
    )


def _v0_protocol(table_dir):
    lines = (table_dir / "_delta_log" / f"{0:020d}.json").read_text().splitlines()
    return next(
        json.loads(ln)["protocol"] for ln in lines if "protocol" in json.loads(ln)
    )


def test_ntz_write_declares_feature_and_reads_exact(spark, tmp_path):
    t = tmp_path / "ntz"
    write_delta_snapshot(_ntz_df(spark, 0, 50), str(t))
    proto = _v0_protocol(t)
    assert proto["minReaderVersion"] == 3 and proto["minWriterVersion"] == 7
    assert "timestampNtz" in proto["readerFeatures"]
    assert "timestampNtz" in proto["writerFeatures"]
    back = read_delta_snapshot(spark, str(t))
    assert dict(back.dtypes)["ts"] == "timestamp_ntz"
    got = {
        (r.id, r.ts.isoformat())
        for r in back.select("id", "ts").collect()
    }
    want = {
        (r.id, r.ts.isoformat())
        for r in _ntz_df(spark, 0, 50).collect()
    }
    assert got == want  # bit-exact: no session-zone shift on any value


def test_ntz_free_schema_keeps_v1_protocol(spark, tmp_path):
    t = tmp_path / "plain"
    write_delta_snapshot(spark.range(5).select("id"), str(t))
    proto = _v0_protocol(t)
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}


def test_evolve_adding_ntz_column_upgrades_protocol(spark, tmp_path):
    from pyspark.sql.types import TimestampNTZType

    t = tmp_path / "evolve"
    write_delta_snapshot(spark.range(5).select("id"), str(t))
    evolve_delta_schema(str(t), [("seen_at", TimestampNTZType())])
    log = t / "_delta_log"
    actions = [
        json.loads(ln)
        for ln in (log / f"{1:020d}.json").read_text().splitlines()
    ]
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert "timestampNtz" in proto["readerFeatures"]
    back = read_delta_snapshot(spark, str(t))
    assert dict(back.dtypes)["seen_at"] == "timestamp_ntz"
    assert back.where(F.col("seen_at").isNull()).count() == 5


def test_upgrade_features_idempotent_and_guarded(spark, tmp_path):
    t = tmp_path / "up"
    write_delta_snapshot(spark.range(5).select("id"), str(t))
    r1 = upgrade_delta_features(
        str(t), reader=["v2Checkpoint"], writer=["v2Checkpoint"]
    )
    assert r1["version"] == 1
    # legacy writer-v2 features carried forward into the v7 feature list
    assert "appendOnly" in r1["protocol"]["writerFeatures"]
    assert "invariants" in r1["protocol"]["writerFeatures"]
    r2 = upgrade_delta_features(
        str(t), reader=["v2Checkpoint"], writer=["v2Checkpoint"]
    )
    assert r2["version"] is None  # already declared: no new commit
    with pytest.raises(DeltaProtocolError, match="collations"):
        upgrade_delta_features(str(t), reader=["collations"])


def test_v2_checkpoint_refused_without_feature(spark, tmp_path):
    t = tmp_path / "nofeat"
    write_delta_snapshot(spark.range(5).select("id"), str(t))
    with pytest.raises(DeltaProtocolError, match="v2Checkpoint"):
        checkpoint_delta(str(t), v2=True)


def _v2_table(spark, t, sidecar_files=2):
    write_delta_snapshot(_ntz_df(spark, 0, 40), str(t))
    commit_delta(_ntz_df(spark, 40, 80), str(t), mode="append")
    upgrade_delta_features(str(t), reader=["v2Checkpoint"], writer=["v2Checkpoint"])
    return checkpoint_delta(str(t), v2=True, sidecar_files=sidecar_files)


def test_v2_checkpoint_roundtrip_after_log_truncation(spark, tmp_path):
    t = tmp_path / "v2ck"
    ck = _v2_table(spark, t)
    assert len(ck["sidecars"]) == 2
    commit_delta(_ntz_df(spark, 80, 90), str(t), mode="append")
    log = t / "_delta_log"
    for v in range(ck["version"] + 1):
        (log / f"{v:020d}.json").unlink()
    back = read_delta_snapshot(spark, str(t))
    assert back.count() == 90
    assert {r.id for r in back.select("id").collect()} == set(range(90))


def test_v2_checkpoint_stale_manifest_version_refused(spark, tmp_path):
    import pyarrow.parquet as papq

    t = tmp_path / "stale"
    ck = _v2_table(spark, t)
    log = t / "_delta_log"
    # pointer lies: says a version for which only the OTHER manifest exists
    ptr = json.loads((log / "_last_checkpoint").read_text())
    manifest = next(log.glob(f"{ck['version']:020d}.checkpoint.*.parquet"))
    bogus = log / f"{7:020d}.checkpoint.{manifest.name.split('.')[2]}.parquet"
    manifest.rename(bogus)
    ptr["version"] = 7
    (log / "_last_checkpoint").write_text(json.dumps(ptr))
    with pytest.raises(RuntimeError, match="declares version"):
        read_delta_snapshot(spark, str(t))


def test_v2_checkpoint_missing_sidecar_refused(spark, tmp_path):
    t = tmp_path / "missside"
    ck = _v2_table(spark, t)
    side = t / "_delta_log" / "_sidecars" / ck["sidecars"][0]
    side.unlink()
    with pytest.raises(FileNotFoundError, match="sidecar missing"):
        read_delta_snapshot(spark, str(t))


def test_v2_checkpoint_carries_dv_and_single_sidecar(spark, tmp_path):
    """DV descriptors survive v2 checkpointing (same obligation as v1) and
    sidecar_files=1 degenerates to one part; deleted rows stay deleted
    after truncation."""
    from evolution_spark.io.delta_log import delete_delta_rows

    t = tmp_path / "v2dv"
    write_delta_snapshot(_ntz_df(spark, 0, 60), str(t))
    delete_delta_rows(spark, str(t), "id % 5 = 0")
    upgrade_delta_features(str(t), reader=["v2Checkpoint"], writer=["v2Checkpoint"])
    ck = checkpoint_delta(str(t), v2=True, sidecar_files=1)
    assert len(ck["sidecars"]) == 1
    log = t / "_delta_log"
    for v in range(ck["version"] + 1):
        (log / f"{v:020d}.json").unlink()
    back = read_delta_snapshot(spark, str(t))
    assert {r.id for r in back.select("id").collect()} == {
        i for i in range(60) if i % 5 != 0
    }


# --- legacy column invariants (writer v2) enforcement ---


def _invariants_table(spark, t, expr="qty > 0", field="qty", nested=False):
    df = spark.range(6).select(
        F.col("id"),
        (F.col("id") + 1).alias("qty"),
    ) if not nested else spark.range(6).select(
        F.col("id"),
        F.struct((F.col("id") + 1).alias("qty")).alias("s"),
    )
    write_delta_snapshot(df, str(t))
    log = t / "_delta_log"
    v0 = log / f"{0:020d}.json"
    lines = []
    for ln in v0.read_text().splitlines():
        a = json.loads(ln)
        if "metaData" in a:
            sj = json.loads(a["metaData"]["schemaString"])

            def stamp(fields):
                for f in fields:
                    if f["name"] == field:
                        f["metadata"]["delta.invariants"] = json.dumps(
                            {"expression": {"expression": expr}}
                        )
                    if isinstance(f.get("type"), dict) and \
                            f["type"].get("type") == "struct":
                        stamp(f["type"]["fields"])

            stamp(sj["fields"])
            a["metaData"]["schemaString"] = json.dumps(sj)
        lines.append(json.dumps(a))
    v0.write_text("\n".join(lines) + "\n")


def test_invariant_valid_append_commits(spark, tmp_path):
    t = tmp_path / "inv_ok"
    _invariants_table(spark, t)
    r = commit_delta(
        spark.range(6, 9).select(F.col("id"), (F.col("id") + 1).alias("qty")),
        str(t), mode="append",
    )
    assert r["version"] == 1
    assert read_delta_snapshot(spark, str(t)).count() == 9


def test_invariant_violation_refuses_and_publishes_nothing(spark, tmp_path):
    t = tmp_path / "inv_bad"
    _invariants_table(spark, t)
    with pytest.raises(DeltaProtocolError, match="column invariant"):
        commit_delta(
            spark.range(6, 9).select(F.col("id"), F.lit(-1).cast("long").alias("qty")),
            str(t), mode="append",
        )
    assert not (t / "_delta_log" / f"{1:020d}.json").exists()
    assert read_delta_snapshot(spark, str(t)).count() == 6


def test_invariant_nested_field_enforced(spark, tmp_path):
    t = tmp_path / "inv_nested"
    _invariants_table(spark, t, expr="s.qty > 0", nested=True)
    with pytest.raises(DeltaProtocolError, match=r"invariant\(s.qty\)"):
        commit_delta(
            spark.range(6, 7).select(
                F.col("id"), F.struct(F.lit(-2).cast("long").alias("qty")).alias("s")
            ),
            str(t), mode="append",
        )


def test_invariant_update_path_enforced(spark, tmp_path):
    from evolution_spark.io.delta_log import update_delta_rows

    t = tmp_path / "inv_upd"
    _invariants_table(spark, t)
    with pytest.raises(DeltaProtocolError, match="column invariant"):
        update_delta_rows(spark, str(t), "id = 2", {"qty": "-7"})
    update_delta_rows(spark, str(t), "id = 2", {"qty": "70"})
    got = {(r.id, r.qty) for r in
           read_delta_snapshot(spark, str(t)).collect()}
    assert (2, 70) in got and len(got) == 6


def test_invariant_unparseable_document_refuses(spark, tmp_path):
    t = tmp_path / "inv_junk"
    _invariants_table(spark, t)
    # corrupt the invariant document: {"expression": {}} has no sql
    log = t / "_delta_log"
    v0 = log / f"{0:020d}.json"
    lines = []
    for ln in v0.read_text().splitlines():
        a = json.loads(ln)
        if "metaData" in a:
            sj = json.loads(a["metaData"]["schemaString"])
            for f in sj["fields"]:
                if "delta.invariants" in (f.get("metadata") or {}):
                    f["metadata"]["delta.invariants"] = json.dumps(
                        {"expression": {}}
                    )
            a["metaData"]["schemaString"] = json.dumps(sj)
        lines.append(json.dumps(a))
    v0.write_text("\n".join(lines) + "\n")
    with pytest.raises(DeltaProtocolError, match="unparseable"):
        commit_delta(
            spark.range(6, 7).select(F.col("id"), F.lit(9).cast("long").alias("qty")),
            str(t), mode="append",
        )


def _split_into_multipart(table_dir, n_parts=2):
    """Rewrite the classic single-file checkpoint as a foreign writer's
    MULTI-PART checkpoint (<v>.checkpoint.<part>.<parts>.parquet, spec
    zero-padding) and point _last_checkpoint at it with 'parts'."""
    import pyarrow.parquet as papq

    log = table_dir / "_delta_log"
    ptr = json.loads((log / "_last_checkpoint").read_text())
    v = ptr["version"]
    single = log / f"{v:020d}.checkpoint.parquet"
    t = papq.read_table(single)
    rows_per = max(1, (t.num_rows + n_parts - 1) // n_parts)
    names = []
    for i in range(n_parts):
        part = t.slice(i * rows_per, rows_per)
        name = log / (f"{v:020d}.checkpoint.{i + 1:010d}.{n_parts:010d}"
                      ".parquet")
        papq.write_table(part, name)
        names.append(name)
    single.unlink()
    ptr["parts"] = n_parts
    (log / "_last_checkpoint").write_text(json.dumps(ptr))
    return v, names


def test_multipart_checkpoint_reads_all_parts(spark, tmp_path):
    """A foreign multi-part checkpoint (parts field in _last_checkpoint)
    must be read in FULL — reading one part silently reconstructs a
    partial live set (ADVICE r09 high)."""
    from evolution_spark.io.delta_log import last_txn_version

    t = tmp_path / "mp"
    write_delta_snapshot(
        spark.range(0, 8).select(F.col("id")), str(t)
    )
    for lo in (8, 16, 24):
        commit_delta(spark.range(lo, lo + 8).select(F.col("id")),
                     str(t), mode="append")
    # a txn marker so last_txn_version also resolves through the parts
    commit_delta(spark.range(32, 40).select(F.col("id")), str(t),
                 mode="append", txn=("app-mp", 7))
    checkpoint_delta(str(t))
    v, _names = _split_into_multipart(t, n_parts=3)
    # truncate pre-checkpoint commits: state must come from the parts alone
    log = t / "_delta_log"
    for j in range(v + 1):
        p = log / f"{j:020d}.json"
        if p.exists():
            p.unlink()
    got = {r.id for r in read_delta_snapshot(spark, str(t)).collect()}
    assert got == set(range(40))
    assert last_txn_version(str(t), "app-mp") == 7


def test_multipart_checkpoint_missing_part_refuses(spark, tmp_path):
    """An incomplete part set must refuse loudly, never fold a subset."""
    t = tmp_path / "mp_missing"
    write_delta_snapshot(spark.range(0, 8).select(F.col("id")), str(t))
    commit_delta(spark.range(8, 16).select(F.col("id")), str(t),
                 mode="append")
    checkpoint_delta(str(t))
    v, names = _split_into_multipart(t, n_parts=2)
    names[1].unlink()
    with pytest.raises(FileNotFoundError, match="partial"):
        read_delta_snapshot(spark, str(t))


def test_upgrade_writer_only_keeps_reader_version(spark, tmp_path):
    """ALTER-style upgrades with writer-only features must NOT raise
    minReaderVersion — the spec allows (1, 7), and locking feature-less
    readers out needlessly strands them (ADVICE r09 low). A dual
    reader+writer feature DOES raise it, into both feature sets."""
    t = tmp_path / "up_wonly"
    write_delta_snapshot(spark.range(5).select("id"), str(t))
    r = upgrade_delta_features(str(t), writer=["changeDataFeed"])
    p = r["protocol"]
    assert p["minReaderVersion"] == 1 and p["minWriterVersion"] == 7
    assert "readerFeatures" not in p
    assert "changeDataFeed" in p["writerFeatures"]
    # legacy v2 obligations carried forward
    assert {"appendOnly", "invariants"} <= set(p["writerFeatures"])

    # a dual feature raises the reader version and lands in BOTH sets
    r2 = upgrade_delta_features(str(t), writer=["deletionVectors"])
    p2 = r2["protocol"]
    assert p2["minReaderVersion"] == 3
    assert "deletionVectors" in p2["readerFeatures"]
    assert "deletionVectors" in p2["writerFeatures"]
    assert "changeDataFeed" in p2["writerFeatures"]  # earlier grant kept
    assert read_delta_snapshot(spark, str(t)).count() == 5


def test_upgrade_v3_table_carries_check_constraints(spark, tmp_path):
    """A v3-era protocol (legacy CHECK-constraints obligation) upgraded to
    v7 must carry checkConstraints in writerFeatures, else a
    spec-conformant foreign v7 writer could commit violating rows
    (VERDICT r09 item 4)."""
    t = tmp_path / "up_v3"
    write_delta_snapshot(spark.range(5).select("id"), str(t))
    log = t / "_delta_log"
    (log / f"{1:020d}.json").write_text(json.dumps(
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 3}}
    ) + "\n")
    r = upgrade_delta_features(str(t), writer=["changeDataFeed"])
    p = r["protocol"]
    assert "checkConstraints" in p["writerFeatures"]
    assert {"appendOnly", "invariants"} <= set(p["writerFeatures"])
    assert p["minReaderVersion"] == 1  # still no reader-side obligation


def test_truncated_log_without_covering_checkpoint_refuses(spark, tmp_path):
    """Log retention removed commits 0..k and no checkpoint at or before
    the requested version survives: a raw JSON replay of the surviving
    files would silently reconstruct a PARTIAL live set — must refuse
    (round-9 late fix, delta_log._replay_log truncation guard)."""
    t = tmp_path / "trunc_nockpt"
    write_delta_snapshot(spark.range(0, 4).select("id"), str(t))     # v0
    commit_delta(spark.range(4, 8).select("id"), str(t), "append")   # v1
    commit_delta(spark.range(8, 12).select("id"), str(t), "append")  # v2
    checkpoint_delta(str(t))                                          # @v2
    commit_delta(spark.range(12, 16).select("id"), str(t), "append")  # v3
    log = t / "_delta_log"
    (log / f"{0:020d}.json").unlink()  # retention drops v0
    # latest resolves through the checkpoint
    assert read_delta_snapshot(spark, str(t)).count() == 16
    # time travel to v1 — BEFORE the checkpoint, after truncation: the
    # state is gone; must refuse, not replay the surviving JSON alone
    with pytest.raises(RuntimeError, match="not reconstructible"):
        read_delta_snapshot(spark, str(t), version=1)


# ---------------------------------------------------------------- round 10
# Generated columns (PROTOCOL.md 'Generated Columns'): per-field
# delta.generationExpression — provided values must null-safe-equal the
# expression on every row-adding commit (writer v4 / generatedColumns).


def _generated_table(spark, t, expr="CAST(price * 100 AS BIGINT)"):
    df = spark.range(1, 6).select(
        F.col("id"),
        (F.col("id") * 2.5).alias("price"),
        (F.col("id") * 250).alias("price_cents"),
    )
    write_delta_snapshot(df, str(t))
    log = t / "_delta_log"
    v0 = log / f"{0:020d}.json"
    lines = []
    for ln in v0.read_text().splitlines():
        a = json.loads(ln)
        if "metaData" in a:
            sj = json.loads(a["metaData"]["schemaString"])
            for f in sj["fields"]:
                if f["name"] == "price_cents":
                    f["metadata"]["delta.generationExpression"] = expr
            a["metaData"]["schemaString"] = json.dumps(sj)
        lines.append(json.dumps(a))
    v0.write_text("\n".join(lines) + "\n")
    return df


def _gen_rows(spark, lo, hi, cents_of=lambda c: c):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") * 2.5).alias("price"),
        cents_of(F.col("id") * 250).cast("long").alias("price_cents"),
    )


def test_generated_column_valid_append_commits(spark, tmp_path):
    t = tmp_path / "gen_ok"
    _generated_table(spark, t)
    commit_delta(_gen_rows(spark, 6, 9), str(t), mode="append")
    back = read_delta_snapshot(spark, str(t))
    assert back.count() == 8
    assert back.where("price_cents <> CAST(price * 100 AS BIGINT)").count() == 0


def test_generated_column_violation_refuses(spark, tmp_path):
    t = tmp_path / "gen_bad"
    _generated_table(spark, t)
    with pytest.raises(DeltaProtocolError,
                       match=r"generated column 'generated\(price_cents\)'"):
        commit_delta(_gen_rows(spark, 6, 9, cents_of=lambda c: c + 1),
                     str(t), mode="append")
    assert read_delta_snapshot(spark, str(t)).count() == 5  # nothing landed


def test_generated_column_null_pairing(spark, tmp_path):
    """<=> is null-safe: a NULL value where the expression is non-null
    violates; NULL where the expression is NULL passes."""
    t = tmp_path / "gen_null"
    _generated_table(spark, t, expr="CAST(price * 100 AS BIGINT)")
    bad = spark.range(6, 7).select(
        F.col("id"), (F.col("id") * 2.5).alias("price"),
        F.lit(None).cast("long").alias("price_cents"),
    )
    with pytest.raises(DeltaProtocolError, match="generated column"):
        commit_delta(bad, str(t), mode="append")
    ok = spark.range(7, 8).select(
        F.col("id"), F.lit(None).cast("double").alias("price"),
        F.lit(None).cast("long").alias("price_cents"),
    )
    commit_delta(ok, str(t), mode="append")
    assert read_delta_snapshot(spark, str(t)).count() == 6


def test_generated_column_update_path_enforced(spark, tmp_path):
    from evolution_spark.io.delta_log import update_delta_rows

    t = tmp_path / "gen_upd"
    _generated_table(spark, t)
    with pytest.raises(DeltaProtocolError, match="generated column"):
        update_delta_rows(spark, str(t), "id = 2", {"price": "99.0"})
    # consistent update (both sides of the pairing) commits
    update_delta_rows(spark, str(t), "id = 2",
                      {"price": "100.0", "price_cents": "10000"})
    got = {(r.id, r.price_cents) for r in
           read_delta_snapshot(spark, str(t)).collect()}
    assert (2, 10000) in got and len(got) == 5


def test_generated_column_v4_protocol_now_writable(spark, tmp_path):
    """minWriterVersion 4 (changeDataFeed + generatedColumns era) is now
    within this writer's claim; v6 (identityColumns) stays refused."""
    t = tmp_path / "gen_v4"
    _generated_table(spark, t)
    log = t / "_delta_log"
    (log / f"{1:020d}.json").write_text(json.dumps(
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}}
    ) + "\n")
    commit_delta(_gen_rows(spark, 6, 8), str(t), mode="append")
    assert read_delta_snapshot(spark, str(t)).count() == 7
    with pytest.raises(DeltaProtocolError, match="generated column"):
        commit_delta(_gen_rows(spark, 8, 9, cents_of=lambda c: c + 1),
                     str(t), mode="append")
    # v6 became writable when identity columns landed (same round); the
    # remaining refusal surface is v7 with an unknown writer feature
    (log / f"{3:020d}.json").write_text(json.dumps(
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                      "writerFeatures": ["someFutureFeature"]}}
    ) + "\n")
    with pytest.raises(DeltaProtocolError, match="someFutureFeature"):
        commit_delta(_gen_rows(spark, 8, 9), str(t), mode="append")


def test_generated_column_feature_upgrade_and_element_refusal(spark, tmp_path):
    t = tmp_path / "gen_up"
    write_delta_snapshot(spark.range(3).select("id"), str(t))
    r = upgrade_delta_features(str(t), writer=["generatedColumns"])
    p = r["protocol"]
    assert "generatedColumns" in p["writerFeatures"]
    assert p["minReaderVersion"] == 1  # writer-only feature

    # a generation expression INSIDE an array element refuses
    t2 = tmp_path / "gen_elem"
    df = spark.range(3).select(
        F.col("id"), F.array(F.struct(F.col("id").alias("x"))).alias("a")
    )
    write_delta_snapshot(df, str(t2))
    log = t2 / "_delta_log"
    v0 = log / f"{0:020d}.json"
    lines = []
    for ln in v0.read_text().splitlines():
        a = json.loads(ln)
        if "metaData" in a:
            sj = json.loads(a["metaData"]["schemaString"])
            arr = next(f for f in sj["fields"] if f["name"] == "a")
            arr["type"]["elementType"]["fields"][0]["metadata"] = {
                "delta.generationExpression": "id + 1"
            }
            a["metaData"]["schemaString"] = json.dumps(sj)
        lines.append(json.dumps(a))
    v0.write_text("\n".join(lines) + "\n")
    with pytest.raises(DeltaProtocolError, match="array/map element"):
        commit_delta(df, str(t2), mode="append")


def test_reader_ignorable_features_tolerated(spark, tmp_path):
    """rowTracking / domainMetadata / vacuumProtocolCheck in a foreign
    table's readerFeatures carry no batch-read obligation — reads
    proceed; collations (NOT ignorable: comparisons would decode wrong)
    still refuses. WRITES to rowTracking tables became supported later
    in round 10 (baseRowId assignment) — the append now commits and
    assigns ids; an unknown writer feature still refuses."""
    t = tmp_path / "ignorable"
    write_delta_snapshot(spark.range(7).select("id"), str(t))
    log = t / "_delta_log"
    (log / f"{1:020d}.json").write_text(json.dumps({"protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["rowTracking", "domainMetadata",
                           "vacuumProtocolCheck"],
        "writerFeatures": ["rowTracking", "domainMetadata"],
    }}) + "\n" + json.dumps({"domainMetadata": {
        "domain": "delta.rowTracking", "configuration": "{}",
        "removed": False,
    }}) + "\n")
    assert read_delta_snapshot(spark, str(t)).count() == 7
    commit_delta(spark.range(7, 9).select("id"), str(t), mode="append")
    assert read_delta_snapshot(spark, str(t)).count() == 9
    (log / f"{3:020d}.json").write_text(json.dumps({"protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["rowTracking"],
        "writerFeatures": ["rowTracking", "someFutureFeature"],
    }}) + "\n")
    with pytest.raises(DeltaProtocolError, match="someFutureFeature"):
        commit_delta(spark.range(9, 10).select("id"), str(t), mode="append")
    # collations with NO declared collations in the schema = everything
    # is UTF8_BINARY (the spec default) — round 11 reads this tolerantly
    (log / f"{4:020d}.json").write_text(json.dumps({"protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["rowTracking", "collations"],
        "writerFeatures": ["rowTracking", "collations"],
    }}) + "\n")
    assert read_delta_snapshot(spark, str(t)).count() == 9
    # round 12: writes to an all-binary collations table are tolerated
    # (the obligation is only to preserve the collation metadata, which
    # appends do verbatim)
    commit_delta(spark.range(9, 10).select("id"), str(t), mode="append")
    assert read_delta_snapshot(spark, str(t)).count() == 10


def test_collations_utf8_binary_reads_non_binary_refuses(spark, tmp_path):
    """Round-11 collations tolerance (PROTOCOL.md 'Collations'): a table
    whose every declared collation is UTF8_BINARY compares like plain
    Spark strings and reads green; any non-binary identifier (ICU
    locale, case-insensitive) refuses with the field named."""
    from evolution_spark.io.delta_log import _replay_log

    def _with_collation(t, ident):
        write_delta_snapshot(
            spark.range(5).selectExpr("id", "cast(id as string) as s"),
            str(t),
        )
        log = t / "_delta_log"
        _, schema_string, _, _, st = _replay_log(t, return_state=True)
        schema = json.loads(schema_string)
        for f in schema["fields"]:
            if f["name"] == "s":
                f["metadata"] = {"__COLLATIONS": {"s": ident}}
        metadata = dict(st["metadata"])
        metadata["schemaString"] = json.dumps(schema)
        (log / f"{1:020d}.json").write_text(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["collations"],
            "writerFeatures": ["collations"],
        }}) + "\n" + json.dumps({"metaData": metadata}) + "\n")

    t1 = tmp_path / "colbin"
    _with_collation(t1, "SPARK.UTF8_BINARY")
    assert read_delta_snapshot(spark, str(t1)).count() == 5
    # round-12 write tolerance: appending to the all-binary foreign
    # table commits, PRESERVES the collations feature and the field's
    # collation metadata, and the table still reads
    commit_delta(
        spark.range(5, 8).selectExpr("id", "cast(id as string) as s"),
        str(t1), mode="append",
    )
    assert read_delta_snapshot(spark, str(t1)).count() == 8
    _, schema_after, _, _, st_after = _replay_log(t1, return_state=True)
    assert "collations" in (st_after["protocol"].get("writerFeatures") or [])
    s_field = [f for f in json.loads(schema_after)["fields"]
               if f["name"] == "s"][0]
    assert s_field["metadata"]["__COLLATIONS"] == {"s": "SPARK.UTF8_BINARY"}

    t2 = tmp_path / "colicu"
    _with_collation(t2, "ICU.de_DE.75.1")
    with pytest.raises(DeltaProtocolError, match="non-binary"):
        read_delta_snapshot(spark, str(t2))
    # ...and the write side refuses the same table
    with pytest.raises(DeltaProtocolError, match="non-binary"):
        commit_delta(
            spark.range(8, 9).selectExpr("id", "cast(id as string) as s"),
            str(t2), mode="append",
        )

    # unrecognized structure refuses too (refusing beats mis-collating)
    t3 = tmp_path / "colodd"
    _with_collation(t3, {"nested": ["SPARK.UTF8_LCASE"]})
    with pytest.raises(DeltaProtocolError, match="non-binary"):
        read_delta_snapshot(spark, str(t3))


def test_upgrade_writer_only_idempotent(spark, tmp_path):
    """Re-requesting an already-declared writer-only feature on a (1,7)
    protocol must NOT commit again (review r10 pass 1: the early return
    previously required minReaderVersion>=3)."""
    t = tmp_path / "up_idem"
    write_delta_snapshot(spark.range(3).select("id"), str(t))
    r1 = upgrade_delta_features(str(t), writer=["changeDataFeed"])
    assert r1["version"] == 1
    r2 = upgrade_delta_features(str(t), writer=["changeDataFeed"])
    assert r2["version"] is None
    # a dual feature on the same table still upgrades (reader v3 needed)
    r3 = upgrade_delta_features(str(t), writer=["deletionVectors"])
    assert r3["version"] == 2 and r3["protocol"]["minReaderVersion"] == 3
    r4 = upgrade_delta_features(str(t), writer=["deletionVectors"])
    assert r4["version"] is None


# ---------------------------------------------------------------- round 10
# Identity columns (PROTOCOL.md 'Identity Columns'): per-field
# delta.identity.start/step/highWaterMark/allowExplicitInsert — the writer
# generates values past the mark and advances it in the SAME commit.


def _identity_table(spark, t, start=100, step=10, allow=False, hwm=None):
    df = spark.range(1, 4).select(
        (F.lit(start) + (F.col("id") - 1) * F.lit(step)).alias("uid"),
        F.col("id").alias("k"),
    )
    write_delta_snapshot(df, str(t))
    log = t / "_delta_log"
    v0 = log / f"{0:020d}.json"
    lines = []
    meta = {
        "delta.identity.start": start,
        "delta.identity.step": step,
        "delta.identity.allowExplicitInsert": allow,
    }
    if hwm is not None:
        meta["delta.identity.highWaterMark"] = hwm
    for ln in v0.read_text().splitlines():
        a = json.loads(ln)
        if "metaData" in a:
            sj = json.loads(a["metaData"]["schemaString"])
            for f in sj["fields"]:
                if f["name"] == "uid":
                    f["metadata"] = meta
            a["metaData"]["schemaString"] = json.dumps(sj)
        lines.append(json.dumps(a))
    v0.write_text("\n".join(lines) + "\n")


def _hwm_of(t):
    from evolution_spark.io.delta_log import _replay_log

    _, ss, _, _, _ = _replay_log(t, return_state=True)
    f = next(f for f in json.loads(ss)["fields"] if f["name"] == "uid")
    return (f.get("metadata") or {}).get("delta.identity.highWaterMark")


def test_identity_generates_past_high_water_mark(spark, tmp_path):
    t = tmp_path / "ident_gen"
    _identity_table(spark, t, start=100, step=10, hwm=120)
    # caller omits the identity column: the writer assigns values
    commit_delta(spark.range(4, 9).select(F.col("id").alias("k")),
                 str(t), mode="append")
    back = read_delta_snapshot(spark, str(t))
    rows = {(r.k, r.uid) for r in back.collect()}
    assert len(rows) == 8
    uids = [u for _, u in rows]
    assert len(set(uids)) == 8  # unique
    new = sorted(u for k, u in rows if k >= 4)
    assert all(u > 120 for u in new)                 # beyond the mark
    assert all((u - 100) % 10 == 0 for u in new)     # start + k*step aligned
    # the mark advanced in the SAME commit to the max assigned
    assert _hwm_of(t) == max(new)
    # a second generated append starts past the new mark
    commit_delta(spark.range(9, 12).select(F.col("id").alias("k")),
                 str(t), mode="append")
    back2 = read_delta_snapshot(spark, str(t))
    assert back2.count() == 11
    assert back2.select("uid").distinct().count() == 11
    assert _hwm_of(t) > max(new)


def test_identity_generated_always_refuses_explicit(spark, tmp_path):
    t = tmp_path / "ident_always"
    _identity_table(spark, t, allow=False, hwm=120)
    with pytest.raises(DeltaProtocolError, match="GENERATED ALWAYS"):
        commit_delta(
            spark.range(4, 6).select(F.lit(999).alias("uid"),
                                     F.col("id").alias("k")),
            str(t), mode="append",
        )
    assert read_delta_snapshot(spark, str(t)).count() == 3


def test_identity_explicit_insert_syncs_mark(spark, tmp_path):
    t = tmp_path / "ident_explicit"
    _identity_table(spark, t, allow=True, hwm=120)
    commit_delta(
        spark.range(4, 6).select((F.lit(500) + F.col("id")).alias("uid"),
                                 F.col("id").alias("k")),
        str(t), mode="append",
    )
    assert _hwm_of(t) == 505  # explicit values beyond the mark sync it
    # explicit values BELOW the mark leave it untouched
    commit_delta(
        spark.range(6, 7).select(F.lit(130).cast("long").alias("uid"),
                                 F.col("id").alias("k")),
        str(t), mode="append",
    )
    assert _hwm_of(t) == 505
    # an UNALIGNED explicit value syncs the mark too
    commit_delta(
        spark.range(20, 21).select(F.lit(507).cast("long").alias("uid"),
                                   F.col("id").alias("k")),
        str(t), mode="append",
    )
    assert _hwm_of(t) == 507
    # generation still works afterwards: past the mark AND back on the
    # start + k*step lattice despite the unaligned sync (review r10 p2)
    commit_delta(spark.range(7, 9).select(F.col("id").alias("k")),
                 str(t), mode="append")
    back = read_delta_snapshot(spark, str(t))
    gen = [r.uid for r in back.where("k >= 7 and k < 20").collect()]
    assert all(u > 507 for u in gen)
    assert all((u - 100) % 10 == 0 for u in gen)


def test_identity_update_and_merge_refuse(spark, tmp_path):
    from evolution_spark.io.delta_log import (
        merge_delta_cdc,
        update_delta_rows,
    )

    t = tmp_path / "ident_dml"
    _identity_table(spark, t, allow=True, hwm=120)
    with pytest.raises(DeltaProtocolError, match="identity columns"):
        update_delta_rows(spark, str(t), "k = 1", {"uid": "1"})
    # non-identity UPDATE assignments pass (values carried, mark untouched)
    update_delta_rows(spark, str(t), "k = 1", {"k": "50"})
    assert _hwm_of(t) == 120
    # MERGE with allowExplicitInsert=true: all values explicit -> legal,
    # and the inserted value beyond the mark syncs it
    ch = spark.range(1).select(F.lit(700).cast("long").alias("uid"),
                               F.lit(60).cast("long").alias("k"),
                               F.lit("u").alias("_op"))
    merge_delta_cdc(spark, str(t), ch, key="uid")
    assert _hwm_of(t) == 700
    # MERGE on a GENERATED ALWAYS identity table refuses (carried rows
    # are indistinguishable from rows needing generation)
    t2 = tmp_path / "ident_dml_always"
    _identity_table(spark, t2, allow=False, hwm=120)
    with pytest.raises(DeltaProtocolError, match="GENERATED ALWAYS"):
        merge_delta_cdc(spark, str(t2), ch, key="uid")


def test_identity_on_column_mapped_table_generates(spark, tmp_path):
    """identity x columnMapping (round 11 — the combination refusal is
    lifted): generation happens on LOGICAL names before physicalize, and
    the high-water-mark sync reads footer stats under the PHYSICAL name
    (the rename makes them differ, so a lookup bug cannot hide)."""
    from evolution_spark.io.delta_log import (
        _replay_log,
        _schema_identity_columns,
        rename_delta_column,
        upgrade_delta_to_column_mapping,
    )

    t = tmp_path / "ident_mapped"
    write_delta_snapshot(
        spark.range(1, 4).select((F.col("id") * 10).alias("uid"),
                                 F.col("id").alias("k")),
        str(t),
    )
    upgrade_delta_to_column_mapping(str(t))
    rename_delta_column(str(t), "uid", "user_id")
    _, ss, _, latest, st = _replay_log(t, return_state=True)
    sj = json.loads(ss)
    for f in sj["fields"]:
        if f["name"] == "user_id":
            fm = dict(f.get("metadata") or {})
            fm.update({
                "delta.identity.start": 10, "delta.identity.step": 10,
                "delta.identity.highWaterMark": 30,
                "delta.identity.allowExplicitInsert": False,
            })
            f["metadata"] = fm
    meta = dict(st["metadata"])
    meta["schemaString"] = json.dumps(sj)
    proto = st["protocol"]
    (t / "_delta_log" / f"{latest + 1:020d}.json").write_text(
        json.dumps({"protocol": {
            "minReaderVersion": int(proto.get("minReaderVersion", 2)),
            "minWriterVersion": 7,
            **({"readerFeatures": proto["readerFeatures"]}
               if proto.get("readerFeatures") else {}),
            "writerFeatures": sorted(
                set(proto.get("writerFeatures") or [])
                | {"identityColumns", "columnMapping"}
            )}}) + "\n" + json.dumps({"metaData": meta}) + "\n"
    )
    commit_delta(spark.range(4, 8).select(F.col("id").alias("k")),
                 str(t), mode="append")
    back = read_delta_snapshot(spark, str(t))
    rows = {r.k: r.user_id for r in back.collect()}
    assert len(rows) == 7
    new = [rows[k] for k in range(4, 8)]
    assert all(u is not None and u > 30 and (u - 10) % 10 == 0 for u in new)
    assert len(set(rows.values())) == 7
    # the mark advanced in the SAME commit, keyed by the LOGICAL name
    ident = _schema_identity_columns(_replay_log(t, return_state=True)[1])
    assert ident["user_id"]["high"] == max(new)
    # a second generated append resumes strictly past the new mark
    commit_delta(spark.range(8, 10).select(F.col("id").alias("k")),
                 str(t), mode="append")
    back2 = read_delta_snapshot(spark, str(t))
    assert back2.select("user_id").distinct().count() == 9
    assert _schema_identity_columns(
        _replay_log(t, return_state=True)[1]
    )["user_id"]["high"] > max(new)


def test_identity_v6_protocol_now_writable(spark, tmp_path):
    t = tmp_path / "ident_v6"
    _identity_table(spark, t, hwm=120)
    log = t / "_delta_log"
    (log / f"{1:020d}.json").write_text(json.dumps(
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 6}}
    ) + "\n")
    commit_delta(spark.range(4, 6).select(F.col("id").alias("k")),
                 str(t), mode="append")
    assert read_delta_snapshot(spark, str(t)).count() == 5
    r = upgrade_delta_features(str(t), writer=["appendOnly"])
    feats = set(r["protocol"]["writerFeatures"])
    assert {"identityColumns", "changeDataFeed", "generatedColumns",
            "columnMapping", "checkConstraints"} <= feats  # v6 legacy carry


# ---------------------------------------------------------------- round 10
# typeWidening reads: files stored under NARROWER types than the current
# schema (PROTOCOL.md 'Type Widening' — delta.typeChanges metadata).


def _widened_table(spark, t, changes=None):
    """int-era files, then a foreign widening ALTER: k int->long,
    f float->double, d decimal(5,2)->decimal(10,2)."""
    df = spark.range(1, 7).selectExpr(
        "cast(id as int) k",
        "cast(id * 1.5 as float) f",
        "cast(cast(id as decimal(5,2)) as decimal(5,2)) d",
    )
    write_delta_snapshot(df, str(t))
    log = t / "_delta_log"
    v0 = (log / f"{0:020d}.json").read_text().splitlines()
    meta = next(json.loads(l) for l in v0 if "metaData" in l)
    sj = json.loads(meta["metaData"]["schemaString"])
    widen = changes or {
        "k": ("long", [{"fromType": "integer", "toType": "long",
                        "tableVersion": 1}]),
        "f": ("double", [{"fromType": "float", "toType": "double",
                          "tableVersion": 1}]),
        "d": ("decimal(10,2)", [{"fromType": "decimal(5,2)",
                                 "toType": "decimal(10,2)",
                                 "tableVersion": 1}]),
    }
    for f in sj["fields"]:
        if f["name"] in widen:
            to, ch = widen[f["name"]]
            f["type"] = to
            f["metadata"] = {"delta.typeChanges": ch}
    meta["metaData"]["schemaString"] = json.dumps(sj)
    (log / f"{1:020d}.json").write_text(
        json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["typeWidening"],
            "writerFeatures": ["typeWidening"]}}) + "\n"
        + json.dumps(meta) + "\n"
    )


def test_type_widening_read_and_append(spark, tmp_path):
    """Narrow-stored files decode under the widened schema (Spark 4's
    parquet reader performs the spec conversions natively); appends to
    the widened table write the CURRENT types and read back mixed."""
    t = tmp_path / "widen"
    _widened_table(spark, t)
    back = read_delta_snapshot(spark, str(t))
    assert dict(back.dtypes) == {"k": "bigint", "f": "double",
                                 "d": "decimal(10,2)"}
    assert {r.k for r in back.collect()} == set(range(1, 7))
    # append under the current (wide) schema: mixed-width files coexist
    commit_delta(
        spark.range(7, 9).selectExpr(
            "cast(id as long) k", "cast(id * 1.5 as double) f",
            "cast(id as decimal(10,2)) d"),
        str(t), mode="append",
    )
    back2 = read_delta_snapshot(spark, str(t))
    assert back2.count() == 8
    assert float(back2.where("k = 7").collect()[0].f) == 10.5


def test_type_widening_unsupported_conversion_refuses(spark, tmp_path):
    """int->double is NOT performed by the parquet reader
    (PARQUET_COLUMN_DATA_TYPE_MISMATCH mid-scan) — the metadata-level
    guard must refuse up front, naming the pair."""
    t = tmp_path / "widen_bad"
    _widened_table(spark, t, changes={
        "k": ("double", [{"fromType": "integer", "toType": "double",
                          "tableVersion": 1}]),
    })
    with pytest.raises(DeltaProtocolError, match="integer -> double"):
        read_delta_snapshot(spark, str(t))
    # decimal that shrinks integral digits refuses too
    t2 = tmp_path / "widen_bad2"
    _widened_table(spark, t2, changes={
        "d": ("decimal(6,4)", [{"fromType": "decimal(5,2)",
                                "toType": "decimal(6,4)",
                                "tableVersion": 1}]),
    })
    with pytest.raises(DeltaProtocolError, match="decimal"):
        read_delta_snapshot(spark, str(t2))


# ---------------------------------------------------------------- round 10
# In-commit timestamps (PROTOCOL.md 'In-Commit Timestamps', writer v7
# inCommitTimestamp feature): every commit to an enabled table must carry
# commitInfo.inCommitTimestamp STRICTLY greater than the previous one.


def test_in_commit_timestamps_stamped_monotone(spark, tmp_path):
    from evolution_spark.io.delta_log import (
        delete_delta_rows,
        update_delta_rows,
    )

    t = tmp_path / "ict"
    write_delta_snapshot(
        spark.range(1, 6).select(F.col("id").alias("k")), str(t),
        configuration={"delta.enableInCommitTimestamps": "true"},
    )
    log = t / "_delta_log"
    # foreign table shape: feature declared in the protocol
    (log / f"{1:020d}.json").write_text(json.dumps({"protocol": {
        "minReaderVersion": 1, "minWriterVersion": 7,
        "writerFeatures": ["inCommitTimestamp"]}}) + "\n")
    commit_delta(spark.range(6, 8).select(F.col("id").alias("k")),
                 str(t), mode="append")                      # v2
    update_delta_rows(spark, str(t), "k = 1", {"k": "100"})  # v3 (+upgrade)
    delete_delta_rows(spark, str(t), "k = 2")
    versions = sorted(int(p.stem) for p in log.glob("*.json"))
    icts = {}
    for v in versions:
        for ln in (log / f"{v:020d}.json").read_text().splitlines():
            a = json.loads(ln)
            if "commitInfo" in a and "inCommitTimestamp" in a["commitInfo"]:
                icts[v] = a["commitInfo"]["inCommitTimestamp"]
    # every commit we published carries one (v0: creation-time
    # enablement; v1 is the hand-written foreign protocol), strictly
    # increasing
    assert 0 in icts
    stamped = [icts[v] for v in versions if v != 1 and v in icts]
    assert len(stamped) == len(versions) - 1, icts
    assert all(b > a for a, b in zip(stamped, stamped[1:])), stamped
    assert read_delta_snapshot(spark, str(t)).count() == 6


def test_ict_not_stamped_when_disabled(spark, tmp_path):
    t = tmp_path / "noict"
    write_delta_snapshot(spark.range(3).select("id"), str(t))
    commit_delta(spark.range(3, 5).select("id"), str(t), mode="append")
    for ln in (t / "_delta_log" / f"{1:020d}.json").read_text().splitlines():
        a = json.loads(ln)
        if "commitInfo" in a:
            assert "inCommitTimestamp" not in a["commitInfo"]


# ---------------------------------------------------------------- round 10
# Row tracking + domain metadata (PROTOCOL.md): appends assign baseRowId
# past the delta.rowTracking domain's rowIdHighWaterMark and advance it in
# the same commit; domain metadata survives checkpointing.


def _row_tracking_table(spark, t, hwm=None):
    write_delta_snapshot(spark.range(1, 6).select(F.col("id").alias("k")),
                         str(t))
    log = t / "_delta_log"
    acts = [json.dumps({"protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["rowTracking", "domainMetadata"],
        "writerFeatures": ["rowTracking", "domainMetadata"]}})]
    if hwm is not None:
        acts.append(json.dumps({"domainMetadata": {
            "domain": "delta.rowTracking",
            "configuration": json.dumps({"rowIdHighWaterMark": hwm}),
            "removed": False}}))
    acts.append(json.dumps({"domainMetadata": {
        "domain": "custom.coordination",
        "configuration": '{"owner": "foreign-engine"}',
        "removed": False}}))
    (log / f"{1:020d}.json").write_text("\n".join(acts) + "\n")


def _rt_adds(t):
    out = []
    log = t / "_delta_log"
    for p in sorted(log.glob("*.json")):
        for ln in p.read_text().splitlines():
            a = json.loads(ln)
            if "add" in a:
                out.append((int(p.stem), a["add"]))
    return out


def test_row_tracking_append_assigns_base_row_ids(spark, tmp_path):
    from evolution_spark.io.delta_log import _replay_log

    t = tmp_path / "rt"
    _row_tracking_table(spark, t, hwm=99)
    commit_delta(
        spark.range(6, 16).select(F.col("id").alias("k")).repartition(2),
        str(t), mode="append",
    )                                                              # v2
    adds = [a for v, a in _rt_adds(t) if v == 2]
    assert len(adds) == 2
    assert sorted(a["baseRowId"] for a in adds)[0] == 100
    spans = sorted(
        (a["baseRowId"],
         a["baseRowId"] + json.loads(a["stats"])["numRecords"] - 1)
        for a in adds
    )
    assert spans[0][1] + 1 == spans[1][0]  # contiguous, no overlap
    assert all(a["defaultRowCommitVersion"] == 2 for a in adds)
    _, _, _, _, st = _replay_log(t, return_state=True)
    mark = json.loads(
        st["domain_metadata"]["delta.rowTracking"]["configuration"]
    )["rowIdHighWaterMark"]
    assert mark == spans[1][1] == 109
    # second append resumes past the new mark
    commit_delta(spark.range(16, 18).select(F.col("id").alias("k")),
                 str(t), mode="append")
    adds3 = [a for v, a in _rt_adds(t) if v == 3 and "baseRowId" in a]
    assert min(a["baseRowId"] for a in adds3) == 110  # empty parts skip ids
    assert read_delta_snapshot(spark, str(t)).count() == 17


def test_row_tracking_dv_delete_keeps_base_row_id(spark, tmp_path):
    """DV DELETE re-adds the same file: baseRowId carried verbatim.
    (Rewrites no longer refuse — round 11 made OPTIMIZE/UPDATE/MERGE
    lineage-preserving; see test_delta_row_tracking_rewrites.py. A bare
    replace that declares no materialized columns still refuses.)"""
    from evolution_spark.io.delta_log import commit_delta as _cd
    from evolution_spark.io.delta_log import delete_delta_rows

    t = tmp_path / "rt_dml"
    _row_tracking_table(spark, t)
    commit_delta(spark.range(6, 10).select(F.col("id").alias("k")),
                 str(t), mode="append")
    with pytest.raises(DeltaProtocolError, match="row tracking"):
        _cd(read_delta_snapshot(spark, str(t)), str(t), mode="replace",
            remove_paths=[], data_change=False, operation="OPTIMIZE")
    pre = {a["path"]: a.get("baseRowId") for v, a in _rt_adds(t) if v == 2}
    delete_delta_rows(spark, str(t), "k = 7")
    post = {a["path"]: a.get("baseRowId") for v, a in _rt_adds(t)
            if v == 3 and "deletionVector" in a}
    for p, b in post.items():
        assert b == pre.get(p)
    assert read_delta_snapshot(spark, str(t)).count() == 8


def test_domain_metadata_survives_checkpoint(spark, tmp_path):
    """Checkpoints must carry the latest domainMetadata per domain — a
    checkpoint that dropped them would erase foreign coordination state
    (and the row-id mark) on the next checkpoint-based replay."""
    from evolution_spark.io.delta_log import _replay_log

    t = tmp_path / "dm_ckpt"
    _row_tracking_table(spark, t, hwm=99)
    commit_delta(spark.range(6, 9).select(F.col("id").alias("k")),
                 str(t), mode="append")
    checkpoint_delta(str(t))
    # truncate the pre-checkpoint log: state must come from the checkpoint
    log = t / "_delta_log"
    for v in range(3):
        p = log / f"{v:020d}.json"
        if p.exists():
            p.unlink()
    _, _, _, _, st = _replay_log(t, return_state=True)
    dm = st["domain_metadata"]
    assert "custom.coordination" in dm
    assert json.loads(dm["delta.rowTracking"]["configuration"])[
        "rowIdHighWaterMark"] == 102
    # row ids survive the checkpoint too: the next append resumes
    commit_delta(spark.range(9, 11).select(F.col("id").alias("k")),
                 str(t), mode="append")
    _, _, _, _, st2 = _replay_log(t, return_state=True)
    assert json.loads(st2["domain_metadata"]["delta.rowTracking"][
        "configuration"])["rowIdHighWaterMark"] == 104
    assert read_delta_snapshot(spark, str(t)).count() == 10


# ---------------------------------------------------------------- round 10
# variantType: Spark 4's VariantType maps 1:1 onto the Delta feature.


def test_variant_lifecycle_and_feature_activation(spark, tmp_path):
    """A schema carrying ``variant`` auto-declares variantType in BOTH
    feature sets at creation (activation rule, like timestampNtz);
    appends and DV deletes work; values decode via variant_get. Footer
    stats for variant-bearing files come from the Spark count fallback
    (pyarrow cannot parse the VARIANT logical type), so every add still
    carries numRecords."""
    t = str(tmp_path / "variant")
    df = spark.range(5).select(
        "id",
        F.parse_json(F.concat(F.lit('{"a": '), F.col("id").cast("string"),
                              F.lit(', "tags": ["x"]}'))).alias("v"),
    )
    write_delta_snapshot(df, t)
    from evolution_spark.io.delta_log import _replay_log, delete_delta_rows
    from pathlib import Path

    _, _, _, _, st = _replay_log(Path(t), return_state=True)
    proto = st["protocol"]
    assert "variantType" in proto["readerFeatures"]
    assert "variantType" in proto["writerFeatures"]
    total = 0
    for ln in (Path(t) / "_delta_log" / f"{0:020d}.json"
               ).read_text().splitlines():
        a = json.loads(ln)
        if "add" in a:
            total += json.loads(a["add"]["stats"])["numRecords"]
    assert total == 5  # the fallback counts must sum to the written rows
    commit_delta(
        spark.range(5, 9).select(
            "id", F.parse_json(F.lit('{"a": 99, "tags": []}')).alias("v")),
        t, mode="append",
    )
    delete_delta_rows(spark, t, "id % 4 = 2")
    back = read_delta_snapshot(spark, t)
    got = sorted((r.id, r.a) for r in back.selectExpr(
        "id", "variant_get(v, '$.a', 'long') a").collect())
    assert got == [(i, i if i < 5 else 99) for i in range(9) if i % 4 != 2]


def test_variant_foreign_table_reads(spark, tmp_path):
    """A foreign v3/v7 table declaring variantType reads; one declaring
    collations (undecodable) still refuses."""
    t = tmp_path / "var_foreign"
    df = spark.range(4).select(
        "id", F.parse_json(F.lit('{"k": 1}')).alias("v"))
    write_delta_snapshot(df, str(t))
    # the auto-declared protocol IS the foreign shape; strengthen it with
    # an extra ignorable feature and re-read
    log = t / "_delta_log"
    (log / f"{1:020d}.json").write_text(json.dumps({"protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["variantType", "rowTracking"],
        "writerFeatures": ["variantType", "rowTracking"]}}) + "\n")
    assert read_delta_snapshot(spark, str(t)).count() == 4


def test_row_tracking_mark_survives_tombstone_and_checkpoint(spark, tmp_path):
    """A tombstoned (or checkpoint-expired) delta.rowTracking domain must
    never restart ids at 0: the live files' assigned spans floor the mark
    (review r10 pass 5 — the checkpoint drops removed tombstones, which
    previously bypassed the tombstone refusal)."""
    t = tmp_path / "rt_tomb"
    _row_tracking_table(spark, t)
    commit_delta(spark.range(6, 10).select(F.col("id").alias("k")),
                 str(t), mode="append")          # ids 0..3 assigned
    log = t / "_delta_log"
    versions = sorted(int(p.stem) for p in log.glob("*.json"))
    (log / f"{versions[-1] + 1:020d}.json").write_text(json.dumps(
        {"domainMetadata": {"domain": "delta.rowTracking",
                            "configuration": "{}", "removed": True}}
    ) + "\n")
    checkpoint_delta(str(t))  # drops the tombstone (live domains only)
    commit_delta(spark.range(10, 12).select(F.col("id").alias("k")),
                 str(t), mode="append")
    bases = sorted(a["baseRowId"] for v, a in _rt_adds(t)
                   if "baseRowId" in a)
    assert bases == sorted(set(bases))  # unique
    assert max(bases) >= 4  # the post-tombstone append resumed past 0..3
    spans = sorted((a["baseRowId"],
                    a["baseRowId"]
                    + json.loads(a["stats"])["numRecords"] - 1)
                   for v, a in _rt_adds(t) if "baseRowId" in a)
    for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
        assert s2 > e1  # no overlapping id ranges anywhere


def test_clone_of_ict_table_stamps_v0_and_appends(spark, tmp_path):
    """A clone copies the source's enableInCommitTimestamps configuration,
    so its own v0 and every later commit must carry a strictly
    increasing commitInfo.inCommitTimestamp."""
    from evolution_spark.io.delta_log import clone_delta_table

    src, dst = tmp_path / "src", tmp_path / "dst"
    write_delta_snapshot(
        spark.range(3).select("id"), str(src),
        configuration={"delta.enableInCommitTimestamps": "true"},
    )
    clone_delta_table(str(src), str(dst))
    commit_delta(spark.range(3, 5).select("id"), str(dst), mode="append")

    def ict(v):
        for ln in (dst / "_delta_log" / f"{v:020d}.json").read_text().splitlines():
            a = json.loads(ln)
            if "commitInfo" in a:
                return a["commitInfo"].get("inCommitTimestamp")

    assert ict(0) is not None
    assert ict(1) is not None and ict(1) > ict(0)
    assert read_delta_snapshot(spark, str(dst)).count() == 5
