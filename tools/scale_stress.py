"""One-tier-up scale stress: the FLF convert and the dedup/ANN headliners
at ~10x the bench scale (sf0.1 x 10 ~= sf1-equivalent).

The per-round bench (bench.py at sf0.1) verifies per-query steady state;
this script anchors the 100 TB plan-shape arguments with one real
order-of-magnitude data point: if a headliner's wall time grows ~10x or
less when the data grows 10x, its plan is scan/shuffle-linear as claimed;
superlinear growth exposes a hidden quadratic (e.g. an uncapped candidate
join).

Method: the sf0.1 documents/embeddings tables are replicated 10x into a
temp dir under the SAME file names, each replica's ids offset by 10^7 and
its text/vector deterministically perturbed (texts gain a replica token so
replicas are near- but not exact-duplicates — the adversarial case for
LSH banding; vectors gain a tiny per-replica bias). The registered QUERIES
callables then run unchanged against that dir, timed with the same noop
sink + min-of-N protocol as bench.py. FLF runs the bench schema at 10M
rows (10x bench's 1M).

Usage: python tools/scale_stress.py  [--reps 2] [--mode cluster-growth|
fixed-cluster|format-scan] [--cluster-size 5]
Prints one JSON line: {"sf_equiv": 1.0, "queries": {...}, "flf": {...}}
Results are recorded in BASELINE.md (v2.0 section; v3.0 for fixed-cluster).

``format-scan`` (the v3.x protocol) stresses the table-format SCAN paths
instead of the dedup operators: customer is replicated 10x into a native
Delta and a native Iceberg table, rows are marked deleted at increasing
ratios (0 / 1% / 10% / 30%) via deletion vectors / position deletes, and
each ratio's full-scan time is measured through BOTH read paths — the
library readers (metadata-sized anti-join build sides, broadcast under
the 4M-row cap) and the Python DataSources (per-file executor-side
masking, no join). The claim under test: DV masking cost is proportional
to the DELETED row count, never the table size — scan time should stay
near-flat as the delete ratio grows, and the broadcast cap must hold.

MODES. ``cluster-growth`` (default, the v2.0 protocol): every replica of a
document is a near-duplicate of every other, so the planted candidate-pair
count grows C(REPLICAS, 2) — at 30x the pair-driven dedup operators are
DOMINATED by that synthetic quadratic, which measures worst-case-cluster
behavior but hides corpus-linear scaling. ``fixed-cluster``: replicas are
near-duplicates only within buckets of ``--cluster-size`` (cross-bucket
copies get ~1/3 of their words bucket-salted, pushing shingle Jaccard far
below the dedup thresholds; embeddings get a bucket-dependent perturbation
that breaks cosine near-duplicates the same way), so dup clusters stay
r-sized as the corpus grows — the realistic web-corpus regime, isolating
corpus-linear behavior from planted-pair quadratics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPLICAS = int(os.environ.get("SPARK_GRAFT_STRESS_REPLICAS", "10"))
ID_STRIDE = 10_000_000
BASE_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINERS = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "semdedup_prune_summary",
    "winnow_fingerprints",
    "knn_bruteforce_cosine",
    "ivf_pq_topk",
    "ivf_pq_topk_partitioned",
]


def replicate_tables(
    spark, out_dir: str, mode: str = "cluster-growth", cluster_size: int = 5
) -> None:
    from pyspark.sql import functions as F

    reps = F.explode(F.sequence(F.lit(0), F.lit(REPLICAS - 1))).alias("__rep")

    docs = spark.read.parquet(f"{BASE_SF_DIR}/documents.parquet")
    # replica token -> near-duplicates across replicas, not exact:
    # stresses the LSH/banded joins instead of the trivial hash path
    base_text = F.col("text")
    if mode == "fixed-cluster":
        # bucket-salt ~1/3 of the words: cross-bucket replicas share too
        # few shingles to band together, so dup clusters stay r-sized no
        # matter how many replicas the corpus gets
        bucket = (F.col("__rep") / F.lit(cluster_size)).cast("int")
        base_text = F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda w, i: F.when(
                    i % 3 == 0, F.concat(w, F.lit("q"), bucket.cast("string"))
                ).otherwise(w),
            ),
            " ",
        )
    new_text = F.concat(base_text, F.lit(" r"), F.col("__rep").cast("string"))
    (
        docs.select("*", reps)
        .select(
            (F.col("doc_id") + F.col("__rep") * ID_STRIDE).alias("doc_id"),
            new_text.alias("text"),
            "lang",
            "source",
            # keep the metadata invariant n_chars == length(text) — a
            # hardcoded +3 breaks for replica indices >= 10 (' r10' is 4)
            (F.col("n_chars") - F.length("text") + F.length(new_text)).alias(
                "n_chars"
            ),
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{out_dir}/documents.parquet")
    )

    emb = spark.read.parquet(f"{BASE_SF_DIR}/embeddings.parquet")
    if mode == "fixed-cluster":
        # bucket-dependent deterministic perturbation large enough to break
        # cosine near-duplicate thresholds across buckets; within a bucket
        # the tiny per-replica bias keeps replicas near-duplicates
        bucket = (F.col("__rep") / F.lit(cluster_size)).cast("int")
        emb_col = F.transform(
            "embedding",
            lambda x, i: (
                x
                + F.col("__rep").cast("float") * F.lit(1e-4)
                + F.sin((bucket.cast("double") + 1.0) * (i.cast("double") + 1.0))
                * F.lit(0.2)
            ).cast("float"),
        )
    else:
        emb_col = F.transform(
            "embedding",
            lambda x: (x + F.col("__rep").cast("float") * F.lit(1e-4)).cast(
                "float"
            ),
        )
    (
        emb.select("*", reps)
        .select(
            (F.col("vec_id") + F.col("__rep") * ID_STRIDE).alias("vec_id"),
            emb_col.alias("embedding"),
            "label",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{out_dir}/embeddings.parquet")
    )


def format_scan_stress(spark, tmp: str, reps: int) -> dict:
    """Scan time vs delete ratio for both formats and both read paths.

    Per ratio the tables are built FRESH (delete predicates are modular
    classes of the replicated key, so each ratio's deleted set is
    independent, not cumulative), then a full-scan aggregate is timed
    min-of-``reps``. The aggregate (count + sum) forces every surviving
    row through the scan without collecting rows to the driver."""
    from pyspark.sql import functions as F

    from evolution_spark.io.delta_log import (
        delete_delta_rows,
        read_delta_snapshot,
        write_delta_snapshot,
    )
    from evolution_spark.io.delta_source import register_delta_source
    from evolution_spark.io.iceberg_meta import (
        delete_iceberg_rows,
        read_iceberg_table,
        write_iceberg_table,
    )
    from evolution_spark.io.iceberg_source import register_iceberg_source

    register_delta_source(spark)
    register_iceberg_source(spark)
    base = (
        spark.read.parquet(f"{BASE_SF_DIR}/customer.parquet")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
    )
    reps_dfs = [
        base.select(
            (F.col("c_custkey") + F.lit(i * ID_STRIDE)).alias("k"),
            F.col("c_mktsegment").alias("seg"),
            F.col("c_acctbal").alias("bal"),
        )
        for i in range(REPLICAS)
    ]
    big = reps_dfs[0]
    for r in reps_dfs[1:]:
        big = big.unionByName(r)
    big = big.repartition(32).cache()
    n_rows = big.count()

    def timed_scan(df) -> float:
        samples = []
        for _ in range(reps + 1):  # first pass is warmup
            t0 = time.perf_counter()
            df.agg(
                F.count(F.lit(1)).alias("n"), F.sum("bal").alias("s")
            ).collect()
            samples.append(time.perf_counter() - t0)
        return round(min(samples[1:]), 3)

    results = {"n_rows": n_rows, "ratios": {}}
    for ratio, modulus in [(0.0, 0), (0.01, 100), (0.1, 10), (0.3, 0)]:
        dpath = f"{tmp}/delta_r{modulus}_{ratio}"
        ipath = f"{tmp}/ice_r{modulus}_{ratio}"
        write_delta_snapshot(big, dpath)
        write_iceberg_table(big, ipath)
        row: dict = {"deleted_rows": 0}
        if ratio > 0:
            pred = (
                f"k % {modulus} = 0" if modulus
                else "k % 10 IN (1, 3, 7)"  # 30%
            )
            d = delete_delta_rows(spark, dpath, pred)
            delete_iceberg_rows(spark, ipath, pred)
            row["deleted_rows"] = d["deleted_rows"]
        row["delta_reader_s"] = timed_scan(read_delta_snapshot(spark, dpath))
        row["delta_source_s"] = timed_scan(
            spark.read.format("evolution_delta").load(dpath)
        )
        row["iceberg_reader_s"] = timed_scan(read_iceberg_table(spark, ipath))
        row["iceberg_source_s"] = timed_scan(
            spark.read.format("evolution_iceberg").load(ipath)
        )
        results["ratios"][str(ratio)] = row
    big.unpersist()
    return results


def ref_ops_stress(spark, tmp: str, reps: int) -> dict:
    """Round-8 protocol: the round-7/8 format surface under growth.

    Per replica level the ORDERS table is replicated Rx (key-shifted),
    then timed: the transforms-partitioned Iceberg write (month x
    bucket(4), hash-distributed), the FULL read vs the month-pruned and
    month+bucket-pruned reads (with scanned-file counts — the prune must
    keep the file list O(selected partition), not O(table)), branch
    create + fast-forward, and on Delta: partitioned write + shallow
    CLONE commit + the clone read. The claims under test: ref/clone ops
    are O(metadata) — flat as R grows — and pruned-read cost tracks the
    SELECTED slice, not the table."""
    from pyspark.sql import functions as F

    from evolution_spark.io.delta_log import (
        clone_delta_table,
        read_delta_snapshot,
        write_delta_snapshot,
    )
    from evolution_spark.io.iceberg_meta import (
        append_iceberg_snapshot,
        create_iceberg_branch,
        fast_forward_iceberg_branch,
        read_iceberg_table,
        write_iceberg_table,
    )

    base = spark.read.parquet(f"{BASE_SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )

    def timed(fn) -> tuple[float, object]:
        samples = []
        out = None
        for _ in range(reps):
            t0 = time.perf_counter()
            out = fn()
            samples.append(time.perf_counter() - t0)
        return round(min(samples), 3), out

    results: dict = {"levels": {}}
    for level in (1, 10, 30):
        dfs = [
            base.select(
                (F.col("o_orderkey") + F.lit(i * ID_STRIDE)).alias("o_orderkey"),
                (F.col("o_custkey") + F.lit(i * ID_STRIDE)).alias("o_custkey"),
                "o_orderdate", "o_totalprice",
            )
            for i in range(level)
        ]
        big = dfs[0]
        for d in dfs[1:]:
            big = big.unionByName(d)
        big = big.repartition(32).cache()
        n = big.count()
        row: dict = {"n_rows": n}

        ipath = f"{tmp}/refops_ice_{level}"
        t0 = time.perf_counter()
        write_iceberg_table(
            big, ipath,
            partition_by=["months(o_orderdate)", "bucket(4, o_custkey)"],
            distribute=True,
        )
        row["transform_write_s"] = round(time.perf_counter() - t0, 3)

        full = read_iceberg_table(spark, ipath)
        row["files_full"] = len(full.inputFiles())
        row["full_read_s"], _ = timed(
            lambda: full.agg(F.count(F.lit(1))).collect()
        )
        month = read_iceberg_table(
            spark, ipath, partition_where={"o_orderdate": "1995-03-15"}
        )
        row["files_month"] = len(month.inputFiles())
        row["month_read_s"], _ = timed(
            lambda: month.agg(F.count(F.lit(1))).collect()
        )
        both = read_iceberg_table(
            spark, ipath,
            partition_where={"o_orderdate": "1995-03-15", "o_custkey": 7},
        )
        row["files_month_bucket"] = len(both.inputFiles())

        # ref ops must stay O(metadata): flat across levels
        row["branch_create_s"], _ = timed(
            lambda: create_iceberg_branch(ipath, f"b{time.perf_counter_ns()}")
        )
        create_iceberg_branch(ipath, "publish")
        append_iceberg_snapshot(
            spark.createDataFrame(
                [(ID_STRIDE * 99, 1, None, 0.0)],
                "o_orderkey long, o_custkey long, "
                "o_orderdate timestamp_ntz, o_totalprice double",
            ),
            ipath, branch="publish",
        )
        t0 = time.perf_counter()
        fast_forward_iceberg_branch(ipath, "publish")
        row["fast_forward_s"] = round(time.perf_counter() - t0, 3)

        dpath = f"{tmp}/refops_delta_{level}"
        big.withColumn(
            "bucket", (F.col("o_custkey") % 8).cast("int")
        ).write.mode("overwrite").parquet(f"{tmp}/noop_{level}")  # warm fs
        write_delta_snapshot(
            big.withColumn("seg", (F.col("o_custkey") % 8).cast("int")),
            dpath, partition_by=["seg"],
        )
        cpath = f"{tmp}/refops_clone_{level}"
        t0 = time.perf_counter()
        clone_delta_table(dpath, cpath)
        row["clone_commit_s"] = round(time.perf_counter() - t0, 3)
        row["clone_read_s"], _ = timed(
            lambda: read_delta_snapshot(spark, cpath)
            .agg(F.count(F.lit(1))).collect()
        )
        big.unpersist()
        results["levels"][str(level)] = row
    return results


def cdf_ops_stress(spark, tmp: str, reps: int) -> dict:
    """Round-9 protocol: the round-8 CDF-sidecar + table_health surface
    under growth. Per replica level the ORDERS table is replicated Rx
    into a CDF-enabled Delta table, then timed: a FIXED-SIZE UPDATE (the
    same 500-key range at every level, so sidecar volume is constant), a
    level-PROPORTIONAL UPDATE (0.5% of rows), ``table_changes`` over the
    fixed commit (sidecar read — the claim: cost tracks CHANGED rows, so
    the line should stay flat while the table grows 30x), and the
    ``table_health`` advisor (metadata-only, flat). The predicate scans
    inside UPDATE are table-proportional by nature and reported
    separately from the change-sized reads."""
    from pyspark.sql import functions as F

    from evolution_spark.io.delta_log import (
        table_changes,
        update_delta_rows,
        write_delta_snapshot,
    )
    from evolution_spark.io.maintenance import table_health

    base = spark.read.parquet(f"{BASE_SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )

    def timed(fn) -> tuple[float, object]:
        samples, out = [], None
        for _ in range(reps):
            t0 = time.perf_counter()
            out = fn()
            samples.append(time.perf_counter() - t0)
        return round(min(samples), 3), out

    results: dict = {"levels": {}}
    for level in (1, 10, 30):
        dfs = [
            base.select(
                (F.col("o_orderkey") + F.lit(i * ID_STRIDE)).alias("o_orderkey"),
                (F.col("o_custkey") + F.lit(i * ID_STRIDE)).alias("o_custkey"),
                "o_totalprice",
            )
            for i in range(level)
        ]
        big = dfs[0]
        for d in dfs[1:]:
            big = big.unionByName(d)
        big = big.repartition(32).cache()
        n = big.count()
        row: dict = {"n_rows": n}

        dpath = f"{tmp}/cdf_{level}"
        t0 = time.perf_counter()
        write_delta_snapshot(
            big, dpath,
            configuration={"delta.enableChangeDataFeed": "true"},
        )
        row["write_s"] = round(time.perf_counter() - t0, 3)

        # fixed-size change set: same 500 keys regardless of level
        t0 = time.perf_counter()
        res_fixed = update_delta_rows(
            spark, dpath, "o_orderkey BETWEEN 1 AND 2000",
            {"o_totalprice": "o_totalprice + 1"},
        )
        row["update_fixed_s"] = round(time.perf_counter() - t0, 3)
        v_fixed = res_fixed["version"]

        # proportional change set: ~0.5% of rows at every level
        t0 = time.perf_counter()
        update_delta_rows(
            spark, dpath, "o_custkey % 200 = 7",
            {"o_totalprice": "o_totalprice + 1"},
        )
        row["update_prop_s"] = round(time.perf_counter() - t0, 3)

        # sidecar read of the FIXED commit only: the flat-line claim
        row["changes_fixed_s"], ch = timed(
            lambda: table_changes(spark, dpath, v_fixed, v_fixed)
            .agg(F.count(F.lit(1))).collect()
        )
        row["changes_fixed_rows"] = ch[0][0]
        row["health_s"], health = timed(lambda: table_health(dpath))
        row["health_files"] = ((health or {}).get("signals") or {}).get(
            "live_files"
        )
        big.unpersist()
        results["levels"][str(level)] = row
    return results


def writer_features_stress(spark, tmp: str, reps: int) -> dict:
    """Round-10 protocol: the writer-feature surfaces under table GROWTH.
    Per replica level the ORDERS table is replicated Rx, then timed:
    a FIXED-size (10k-row) append to (a) an identity-column table
    (generation + high-water-mark commit), (b) a generated-columns table
    (staged-scan validation), (c) an Iceberg v3 table (row-lineage
    assignment), and (d) a full-scan aggregate over a HALF-NARROW
    (typeWidening) Delta table vs an all-wide control. Claims under
    test: the three append costs track the APPENDED rows (staged-scan
    validation scans only the commit's output; lineage/mark updates are
    driver-side metadata), so the lines stay flat while the table grows
    30x; and the widening read costs the same as the control (the
    parquet reader converts in-scan, no extra stage)."""
    import json as _json
    from pathlib import Path as _Path

    from pyspark.sql import functions as F

    from evolution_spark.io.delta_log import (
        commit_delta,
        read_delta_snapshot,
        write_delta_snapshot,
    )
    from evolution_spark.io.iceberg_meta import (
        append_iceberg_snapshot,
        read_iceberg_table,
        upgrade_iceberg_format_version,
        write_iceberg_table,
    )

    base = spark.read.parquet(f"{BASE_SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    slice_10k = base.limit(10_000).select(
        (F.col("o_orderkey") + F.lit(900_000_000)).alias("o_orderkey"),
        "o_custkey", "o_totalprice",
    ).cache()
    slice_10k.count()

    def stamp_field_meta(dpath, field, meta):
        log = _Path(dpath) / "_delta_log"
        v0 = log / f"{0:020d}.json"
        lines = []
        for ln in v0.read_text().splitlines():
            a = _json.loads(ln)
            if "metaData" in a:
                sj = _json.loads(a["metaData"]["schemaString"])
                for f in sj["fields"]:
                    if f["name"] == field:
                        f["metadata"] = meta
                a["metaData"]["schemaString"] = _json.dumps(sj)
            lines.append(_json.dumps(a))
        v0.write_text("\n".join(lines) + "\n")

    results: dict = {"levels": {}}
    for level in (1, 10, 30):
        dfs = [
            base.select(
                (F.col("o_orderkey") + F.lit(i * ID_STRIDE)).alias("o_orderkey"),
                "o_custkey", "o_totalprice",
            )
            for i in range(level)
        ]
        big = dfs[0]
        for d in dfs[1:]:
            big = big.unionByName(d)
        big = big.repartition(32).cache()
        n = big.count()
        row: dict = {"n_rows": n}

        # (a) identity: uid = o_orderkey * 10 era, then generated appends
        ident = f"{tmp}/ident_{level}"
        write_delta_snapshot(
            big.select((F.col("o_orderkey") * 10).alias("uid"),
                       F.col("o_orderkey").alias("k"), "o_totalprice"),
            ident,
        )
        hwm = big.agg(F.max(F.col("o_orderkey") * 10)).collect()[0][0]
        stamp_field_meta(ident, "uid", {
            "delta.identity.start": 10, "delta.identity.step": 10,
            "delta.identity.highWaterMark": int(hwm),
            "delta.identity.allowExplicitInsert": False,
        })
        t0 = time.perf_counter()
        commit_delta(
            slice_10k.select(F.col("o_orderkey").alias("k"), "o_totalprice"),
            ident, mode="append",
        )
        row["identity_append_s"] = round(time.perf_counter() - t0, 3)

        # (b) generated columns: cents = CAST(ROUND(price*100) AS BIGINT)
        gen = f"{tmp}/gen_{level}"
        gexpr = "CAST(ROUND(o_totalprice * 100) AS BIGINT)"
        gdf = big.select("o_orderkey", "o_totalprice",
                         F.expr(gexpr).alias("cents"))
        write_delta_snapshot(gdf, gen)
        stamp_field_meta(gen, "cents", {"delta.generationExpression": gexpr})
        t0 = time.perf_counter()
        commit_delta(
            slice_10k.select("o_orderkey", "o_totalprice",
                             F.expr(gexpr.replace("o_totalprice",
                                                  "o_totalprice"))
                             .alias("cents")),
            gen, mode="append",
        )
        row["generated_append_s"] = round(time.perf_counter() - t0, 3)

        # (c) Iceberg v3 lineage append
        ice = f"{tmp}/ice_{level}"
        write_iceberg_table(big, ice)
        upgrade_iceberg_format_version(ice)
        t0 = time.perf_counter()
        append_iceberg_snapshot(slice_10k, ice)
        row["v3_lineage_append_s"] = round(time.perf_counter() - t0, 3)
        row["v3_read_rows"] = read_iceberg_table(spark, ice).count()

        # (d) typeWidening read vs all-wide control (same rows)
        wid = f"{tmp}/wid_{level}"
        ctl = f"{tmp}/ctl_{level}"
        half = big.where(F.col("o_orderkey") % 2 == 0)
        other = big.where(F.col("o_orderkey") % 2 == 1)
        write_delta_snapshot(
            half.select(F.col("o_custkey").cast("int").alias("ck"),
                        "o_totalprice"), wid,
        )
        log = _Path(wid) / "_delta_log"
        v0 = (log / f"{0:020d}.json").read_text().splitlines()
        meta = next(_json.loads(l) for l in v0 if "metaData" in l)
        sj = _json.loads(meta["metaData"]["schemaString"])
        for f in sj["fields"]:
            if f["name"] == "ck":
                f["type"] = "long"
                f["metadata"] = {"delta.typeChanges": [
                    {"fromType": "integer", "toType": "long",
                     "tableVersion": 1}]}
        meta["metaData"]["schemaString"] = _json.dumps(sj)
        (log / f"{1:020d}.json").write_text(
            _json.dumps({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["typeWidening"],
                "writerFeatures": ["typeWidening"]}}) + "\n"
            + _json.dumps(meta) + "\n"
        )
        commit_delta(other.select(F.col("o_custkey").alias("ck"),
                                  "o_totalprice"),
                     wid, mode="append")
        # control: SAME two-commit / file-count structure, all-wide
        write_delta_snapshot(
            half.select(F.col("o_custkey").alias("ck"), "o_totalprice"), ctl,
        )
        commit_delta(other.select(F.col("o_custkey").alias("ck"),
                                  "o_totalprice"),
                     ctl, mode="append")

        def timed(fn):
            samples = []
            for _ in range(reps):
                t0 = time.perf_counter()
                fn()
                samples.append(time.perf_counter() - t0)
            return round(min(samples), 3)

        row["widening_scan_s"] = timed(
            lambda: read_delta_snapshot(spark, wid)
            .agg(F.sum("ck"), F.sum("o_totalprice")).collect()
        )
        row["control_scan_s"] = timed(
            lambda: read_delta_snapshot(spark, ctl)
            .agg(F.sum("ck"), F.sum("o_totalprice")).collect()
        )
        big.unpersist()
        results["levels"][str(level)] = row
    slice_10k.unpersist()
    return results


def rewrite_ops_stress(spark, tmp: str, reps: int) -> dict:
    """Round-11 protocol: the LINEAGE-PRESERVING REWRITE paths under
    table growth. Per replica level the ORDERS table is replicated Rx,
    then timed:

    - ``v2_compact_s`` vs ``v3_compact_s``: the same data compacted as a
      plain v2 table vs a v3 table with row lineage MATERIALIZED through
      the rewrite. Both are full rewrites (cost ∝ table, unavoidable);
      the claim under test is that the lineage obligation adds only a
      small constant factor (the extra two long columns + the broadcast
      file-map join), not a new scaling term.
    - ``v3_update_s`` / ``delta_rt_update_s``: a FIXED 500-key
      merge-on-read UPDATE on the v3 / rowTracking table — the claim is
      that an UPDATE's write cost tracks the TOUCHED rows (stats-pruned
      matched files + DV/metadata bookkeeping), not table size.
    - ``delta_plain_optimize_s`` vs ``delta_rt_optimize_s``: the Delta
      OPTIMIZE twin of the compaction pair (materialized row ids +
      commit-version columns through the rewrite)."""
    from pyspark.sql import functions as F

    from evolution_spark.io.delta_log import (
        commit_delta,
        optimize_delta,
        read_delta_row_lineage,
        read_delta_snapshot,
        update_delta_rows,
        write_delta_snapshot,
    )
    from evolution_spark.io.iceberg_meta import (
        compact_iceberg_table,
        read_iceberg_table,
        update_iceberg_rows,
        upgrade_iceberg_format_version,
        write_iceberg_table,
    )

    base = spark.read.parquet(f"{BASE_SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )

    results: dict = {"levels": {}}
    for level in (1, 10, 30):
        dfs = [
            base.select(
                (F.col("o_orderkey") + F.lit(i * ID_STRIDE)).alias("o_orderkey"),
                "o_custkey", "o_totalprice",
            )
            for i in range(level)
        ]
        big = dfs[0]
        for d in dfs[1:]:
            big = big.unionByName(d)
        big = big.repartition(32).cache()
        n = big.count()
        row: dict = {"n_rows": n}
        target = max(4, level)  # rewritten file count grows with data

        # Iceberg: v2 compaction baseline vs v3 lineage-carrying
        ice2 = f"{tmp}/rw_ice2_{level}"
        write_iceberg_table(big, ice2)
        t0 = time.perf_counter()
        compact_iceberg_table(spark, ice2, target_files=target)
        row["v2_compact_s"] = round(time.perf_counter() - t0, 3)

        ice3 = f"{tmp}/rw_ice3_{level}"
        write_iceberg_table(big, ice3)
        upgrade_iceberg_format_version(ice3)
        t0 = time.perf_counter()
        compact_iceberg_table(spark, ice3, target_files=target)
        row["v3_compact_s"] = round(time.perf_counter() - t0, 3)
        # fixed-size UPDATE on the compacted v3 table (ids now assigned)
        t0 = time.perf_counter()
        update_iceberg_rows(
            spark, ice3, "o_orderkey % 300001 = 7",
            {"o_totalprice": "o_totalprice + 1"},
        )
        row["v3_update_s"] = round(time.perf_counter() - t0, 3)
        row["v3_rows"] = read_iceberg_table(spark, ice3).count()

        # Delta: plain OPTIMIZE vs rowTracking OPTIMIZE
        dp = f"{tmp}/rw_dp_{level}"
        write_delta_snapshot(big, dp)
        t0 = time.perf_counter()
        optimize_delta(spark, dp, target_files=target)
        row["delta_plain_optimize_s"] = round(time.perf_counter() - t0, 3)

        import json as _json
        from pathlib import Path as _Path

        drt = f"{tmp}/rw_drt_{level}"
        write_delta_snapshot(big, drt)
        (_Path(drt) / "_delta_log" / f"{1:020d}.json").write_text(
            _json.dumps({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["rowTracking", "domainMetadata"],
                "writerFeatures": ["rowTracking", "domainMetadata"]}})
            + "\n"
        )
        t0 = time.perf_counter()
        optimize_delta(spark, drt, target_files=target)
        row["delta_rt_optimize_s"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        update_delta_rows(
            spark, drt, "o_orderkey % 300001 = 7",
            {"o_totalprice": "o_totalprice + 1"},
        )
        row["delta_rt_update_s"] = round(time.perf_counter() - t0, 3)
        row["delta_rt_rows"] = read_delta_snapshot(spark, drt).count()
        # sanity: lineage still unique + non-null after OPTIMIZE+UPDATE
        lin = read_delta_row_lineage(spark, drt).agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("_row_id").alias("nd"),
        ).collect()[0]
        row["delta_rt_lineage_ok"] = bool(lin["n"] == lin["nd"])

        big.unpersist()
        results["levels"][str(level)] = row
    return results




def codec_stress(spark, reps: int) -> dict:
    """Codec-throughput linearity: push N and 4N deterministic payloads
    per codec through the production ``decode_media``/``decode_gif``
    mapInPandas path and check wall time scales with payload count (the
    100 TB claim for media is per-payload linear work, no cross-payload
    state). Per codec: {n, s, n4, s4, ratio} — ratio ~ 4 means linear."""
    import numpy as np
    import pandas as pd

    from evolution_spark.operators.flac import encode_flac
    from evolution_spark.operators.gif import encode_gif
    from evolution_spark.operators.jpeg_arith import encode_jpeg_arithmetic
    from evolution_spark.operators.jpeg_lossless import encode_jpeg_lossless
    from evolution_spark.operators.multimodal import (
        decode_media,
        encode_jpeg,
        encode_png,
    )
    from evolution_spark.operators.tiff import encode_tiff

    rng = np.random.default_rng(9)
    img = (rng.integers(0, 5, (48, 64, 3)) * 60).astype(np.uint8)
    gray = img[..., 0]
    sig = (8000 * np.sin(np.arange(12000) / 15)).astype(np.int64)
    payloads = {
        "png": encode_png(img),
        "jpeg_baseline": encode_jpeg(img, 50),
        "jpeg_arith": encode_jpeg_arithmetic(img, 50),
        "jpeg_lossless": encode_jpeg_lossless(gray),
        "gif": encode_gif(img),
        "tiff_lzw": encode_tiff(img, compression="lzw"),
        "flac": encode_flac(sig),
    }

    def run(name: str, payload: bytes, n: int) -> float:
        df = spark.range(n).selectExpr("id as media_id")
        kind = "audio" if name == "flac" else "image"

        def gen(batches):
            for pdf in batches:
                sums = [
                    float(decode_media(payload, kind).sum())
                    for _ in pdf["media_id"]
                ]
                yield pd.DataFrame({
                    "media_id": pdf["media_id"], "s": sums,
                })

        out_df = df.repartition(32).mapInPandas(gen, "media_id long, s double")
        best = None
        for _ in range(reps):
            t0 = time.perf_counter()
            out_df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        return best

    res = {}
    n = 256
    for name, payload in payloads.items():
        s1 = run(name, payload, n)
        s4 = run(name, payload, 4 * n)
        res[name] = {
            "bytes": len(payload), "n": n, "s": round(s1, 3),
            "n4": 4 * n, "s4": round(s4, 3),
            "ratio": round(s4 / s1, 2) if s1 else None,
        }
    return res


def codec_stress_large(spark, reps: int) -> dict:
    """Round-12 verdict item 8: the v4.8 codec table used 48x64 images /
    12k-sample FLAC; real corpora carry 100 KB-5 MB payloads where the
    bit-serial completeness paths (QM-coder, rice) could be seconds per
    payload. This tier measures the SAME production decode path at
    512x512 RGB / ~1 MB FLAC (1s stereo at 262144 samples total), with
    smaller fan-out counts (payload work dominates job overhead), and
    reports marginal ms/payload and ms per MB of DECODED output — the
    number that sets ``mapInPandas`` batch-size guidance."""
    import numpy as np
    import pandas as pd

    from evolution_spark.operators.flac import encode_flac
    from evolution_spark.operators.gif import encode_gif
    from evolution_spark.operators.jpeg_arith import encode_jpeg_arithmetic
    from evolution_spark.operators.jpeg_lossless import encode_jpeg_lossless
    from evolution_spark.operators.multimodal import (
        decode_media,
        encode_jpeg,
        encode_png,
    )
    from evolution_spark.operators.tiff import encode_tiff

    rng = np.random.default_rng(12)
    # structured-plus-noise content: flat regions favor RLE/LZW paths,
    # the noise floor keeps entropy coders honest
    base = (rng.integers(0, 5, (32, 32, 3)) * 60).astype(np.uint8)
    img_flat = np.kron(base, np.ones((16, 16, 1), dtype=np.uint8))
    img = np.clip(img_flat.astype(np.int16)
                  + rng.integers(-8, 9, img_flat.shape), 0, 255
                  ).astype(np.uint8)
    gray = img[..., 0]
    t = np.arange(131072)
    sig = np.stack([
        (8000 * np.sin(t / 15) + rng.integers(-64, 65, t.size)),
        (6000 * np.sin(t / 23) + rng.integers(-64, 65, t.size)),
    ], axis=1).astype(np.int64)
    payloads = {
        "png": (encode_png(img), img.size),
        "jpeg_baseline": (encode_jpeg(img, 50), img.size),
        "jpeg_arith": (encode_jpeg_arithmetic(img, 50), img.size),
        "jpeg_lossless": (encode_jpeg_lossless(gray), gray.size),
        # GIF is palette-bound (<=256 colors): it gets the pre-noise
        # tiles — the realistic input for the format anyway
        "gif": (encode_gif(img_flat), img_flat.size),
        "tiff_lzw": (encode_tiff(img, compression="lzw"), img.size),
        "flac": (encode_flac(sig, rate=44100), sig.size * 2),
    }
    from evolution_spark.operators.webp import encode_webp

    payloads["webp_vp8l"] = (encode_webp(img, use_backrefs=True),
                             img.size)

    def run(name: str, payload: bytes, n: int) -> float:
        df = spark.range(n).selectExpr("id as media_id")
        kind = "audio" if name == "flac" else "image"

        def gen(batches):
            for pdf in batches:
                sums = [
                    float(decode_media(payload, kind).sum())
                    for _ in pdf["media_id"]
                ]
                yield pd.DataFrame({
                    "media_id": pdf["media_id"], "s": sums,
                })

        out_df = df.repartition(32).mapInPandas(gen, "media_id long, s double")
        best = None
        for _ in range(reps):
            t0 = time.perf_counter()
            out_df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        return best

    res = {}
    for name, (payload, raw_units) in payloads.items():
        n = 32
        s1 = run(name, payload, n)
        s4 = run(name, payload, 4 * n)
        marginal_ms = (s4 - s1) * 1000 / (3 * n)
        raw_mb = raw_units / (1024 * 1024)
        res[name] = {
            "bytes": len(payload), "raw_mb": round(raw_mb, 2),
            "n": n, "s": round(s1, 3), "n4": 4 * n, "s4": round(s4, 3),
            "marginal_ms_per_payload": round(marginal_ms, 1),
            "ms_per_raw_mb": round(marginal_ms / raw_mb, 1)
            if raw_mb else None,
        }
    return res



def warc_stress(spark, reps: int) -> dict:
    """Round-13 WARC source scale claims, measured: (a) single-task
    member-index throughput in compressed MB/s (the per-file cost of
    the index pass — bounded-memory streaming, so this number times
    file count is the whole first stage); (b) end-to-end read+count
    linearity at N vs 4N records with file count HELD at 4 (record-
    parallel parse: time must track records, not files); (c) the parse
    stage's partition count tracking ceil(records / rpp)."""
    import shutil
    import tempfile
    import time

    from evolution_spark.io.warc import (
        build_warc_record,
        index_gzip_members,
        read_warc,
        write_warc_gz,
    )

    tmp = tempfile.mkdtemp(prefix="evowarc-")
    try:
        def mk_files(n_records: int, n_files: int, tag: str):
            paths = []
            per = n_records // n_files
            for k in range(n_files):
                recs = []
                for j in range(per):
                    i = k * per + j
                    body = (f"rec {i} ".encode()
                            + bytes((i + t) % 251 for t in range(1024)))
                    payload = (b"HTTP/1.1 200 OK\r\nContent-Type: "
                               b"text/plain\r\n\r\n" + body)
                    recs.append(build_warc_record(
                        "response", f"http://s.com/{i}",
                        "2026-01-01T00:00:00Z", payload,
                        f"<urn:uuid:{tag}-{i}>",
                        content_type="application/http"))
                pth = os.path.join(tmp, f"{tag}-{k}.warc.gz")
                write_warc_gz(pth, recs)
                paths.append(pth)
            return paths

        small = mk_files(5000, 4, "s")
        big = mk_files(20000, 4, "b")
        comp_bytes = sum(os.path.getsize(p) for p in big)
        t0 = time.perf_counter()
        n_members = sum(len(index_gzip_members(p)) for p in big)
        idx_s = time.perf_counter() - t0
        res = {
            "index_compressed_mb": round(comp_bytes / 1e6, 1),
            "index_s_single_thread": round(idx_s, 3),
            "index_mb_per_s": round(comp_bytes / 1e6 / idx_s, 1),
            "n_members": n_members,
        }

        def timed_read(paths, rpp):
            df = read_warc(spark, paths, records_per_partition=rpp)
            t0 = time.perf_counter()
            n = df.count()
            return n, time.perf_counter() - t0, \
                df.rdd.getNumPartitions()

        for _ in range(1):  # warm
            timed_read(small, 1000)
        n1 = s1 = None
        for _ in range(reps):
            n, sec, parts = timed_read(small, 1000)
            s1 = sec if s1 is None else min(s1, sec)
            n1 = n
        res["read_5k_s"] = round(s1, 3)
        res["parse_partitions_5k"] = parts
        s4 = None
        for _ in range(reps):
            n, sec, parts4 = timed_read(big, 1000)
            s4 = sec if s4 is None else min(s4, sec)
        res["read_20k_s"] = round(s4, 3)
        res["parse_partitions_20k"] = parts4
        res["linearity_4x"] = round(s4 / s1, 2)
        return res
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def text_paths_stress(spark, reps: int) -> dict:
    """Round-14 (VERDICT item 7): corpus-tier scale curves for the two
    r13 paths that landed with bounded fixtures but no 10x/30x rows —
    language-ID and the EXIF walker.

    (a) langid: ``classify_language`` over the REAL sf0.1 documents
    text replicated 1x/10x/30x (explode, ids offset). Measures wall
    linearity AND the docstring's '<=20 (doc,lang) rows per doc
    shuffle' claim as a number: total shuffle-write records across the
    job's stages divided by doc count (the trigram stream itself must
    never appear in an exchange — a doc has hundreds of trigrams, so a
    leak is an order-of-magnitude signature, not a rounding error).

    (b) exif: ``parse_exif`` over N and 4N embedded-EXIF JPEG payloads
    through the same mapInPandas shape the oracle query uses — wall
    ratio ~4 means per-payload-linear, no cross-payload state."""
    import urllib.request

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from evolution_spark.functions.langid import classify_language

    sc = spark.sparkContext
    if sc.uiWebUrl is None:
        # the shared stress session disables the UI; shuffle metrics
        # need the REST API, so rebuild with it on (same local[N])
        master = sc.master
        spark.stop()
        from evolution_spark.session import get_spark

        spark = get_spark(
            app_name="evolution-text-paths", master=master,
            shuffle_partitions=32,
            extra_conf={"spark.ui.enabled": "true",
                        "spark.ui.port": "4048"},
        )
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
    base = sc.uiWebUrl + "/api/v1"
    app_id = sc.applicationId

    def group_shuffle(group: str):
        def get(path):
            with urllib.request.urlopen(base + path, timeout=10) as r:
                return json.load(r)

        jobs = get(f"/applications/{app_id}/jobs")
        stage_ids = sorted({
            sid for j in jobs if j.get("jobGroup") == group
            for sid in j.get("stageIds", [])
        })
        wb = wr = 0
        for sid in stage_ids:
            try:
                for att in get(f"/applications/{app_id}/stages/{sid}"):
                    wb += att.get("shuffleWriteBytes", 0)
                    wr += att.get("shuffleWriteRecords", 0)
            except Exception:
                pass
        return wb, wr

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    res: dict = {"langid": {}, "exif": {}}
    docs = spark.read.parquet(f"{BASE_SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    for level in (1, 10, 30):
        big = docs
        if level > 1:
            big = docs.select(
                F.explode(F.sequence(F.lit(0), F.lit(level - 1)))
                .alias("__rep"), "*"
            ).select(
                (F.col("doc_id") + F.col("__rep") * 10_000_000)
                .alias("doc_id"), "text",
            )
        big = big.repartition(32).cache()
        n = big.count()
        noop(classify_language(big))  # warm
        best = None
        for r in range(reps):
            group = f"langid_{level}_{r}"
            sc.setJobGroup(group, "langid stress")
            t0 = time.perf_counter()
            noop(classify_language(big))
            dt = time.perf_counter() - t0
            sc.setJobGroup(None, None)
            best = dt if best is None or dt < best else best
        wb, wr = group_shuffle(group)
        res["langid"][f"x{level}"] = {
            "docs": n, "s": round(best, 3),
            "shuffle_write_mb": round(wb / 1e6, 2),
            "shuffle_rows_per_doc": round(wr / n, 2),
        }
        big.unpersist()
    r1 = res["langid"]["x1"]["s"]
    res["langid"]["linearity_30x"] = round(
        res["langid"]["x30"]["s"] / r1, 2) if r1 else None

    # ---- EXIF walker linearity ------------------------------------
    from evolution_spark.operators.exif import (
        build_exif,
        embed_exif_jpeg,
        parse_exif,
    )
    from evolution_spark.operators.multimodal import encode_jpeg

    img = ((np.arange(192)) % 256).astype(np.uint8).reshape(8, 8, 3)
    payload = embed_exif_jpeg(
        encode_jpeg(img, 70),
        build_exif(orientation=6, make="CamX", model="M1",
                   datetime_original="2026:01:01 12:00:00",
                   pixel_xy=(640, 480)),
    )

    def run_exif(n: int) -> float:
        df = spark.range(n).selectExpr("id as media_id")

        def gen(batches):
            for pdf in batches:
                rows = []
                for i in pdf["media_id"]:
                    m = parse_exif(payload)
                    rows.append((int(i), m["orientation"],
                                 m["exif_width"]))
                yield pd.DataFrame(rows, columns=[
                    "media_id", "orientation", "exif_width"])

        out = df.repartition(32).mapInPandas(
            gen, "media_id long, orientation int, exif_width long")
        best = None
        for _ in range(reps):
            t0 = time.perf_counter()
            noop(out)
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        return best

    n = 100_000
    s1 = run_exif(n)
    s4 = run_exif(4 * n)
    res["exif"] = {
        "payload_bytes": len(payload), "n": n, "s": round(s1, 3),
        "n4": 4 * n, "s4": round(s4, 3),
        "ratio": round(s4 / s1, 2) if s1 else None,
        "payloads_per_s_per_core": int(4 * n / s4 / 32) if s4 else None,
    }
    return res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=2, help="timed passes (min taken)")
    ap.add_argument(
        "--mode",
        choices=["cluster-growth", "fixed-cluster", "format-scan", "ref-ops",
                 "cdf-ops", "writer-features", "rewrite-ops", "codecs",
                 "codecs-large", "warc", "text-paths"],
        default="cluster-growth",
        help="cluster-growth: every replica near-dups every other (planted "
        "pairs grow C(R,2)); fixed-cluster: near-dups only within buckets "
        "of --cluster-size (corpus-linear regime)",
    )
    ap.add_argument("--cluster-size", type=int, default=5)
    args = ap.parse_args()

    from evolution_spark.session import get_spark

    spark = get_spark(app_name="evolution-scale-stress")
    spark.sparkContext.setLogLevel("ERROR")

    from evolution_spark.queries import QUERIES

    def run_noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    base = BASE_SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        base_sf = float(base)
    except ValueError:
        base_sf = 0.1
    out = {
        "sf_equiv": round(base_sf * REPLICAS, 3),
        "base_sf": base_sf,
        "replicas": REPLICAS,
        "mode": args.mode,
        "cluster_size": args.cluster_size if args.mode == "fixed-cluster" else REPLICAS,
        "queries": {},
        "flf": {},
    }
    tmp = tempfile.mkdtemp(prefix="evoscale-")
    try:
        # one dispatch table + one shared print/stop/return (review r11
        # pass 9: the per-mode copy-paste let cdf-ops fall through into
        # the full cluster-growth run)
        standalone = {
            "codecs": ("codecs", lambda: codec_stress(spark, args.reps)),
            "codecs-large": ("codecs-large",
                             lambda: codec_stress_large(spark, args.reps)),
            "warc": ("warc", lambda: warc_stress(spark, args.reps)),
            "text-paths": ("text_paths",
                           lambda: text_paths_stress(spark, args.reps)),
            "format-scan": (
                "format_scan",
                lambda: format_scan_stress(spark, tmp, args.reps),
            ),
            "ref-ops": (
                "ref_ops", lambda: ref_ops_stress(spark, tmp, args.reps)
            ),
            "cdf-ops": (
                "cdf_ops", lambda: cdf_ops_stress(spark, tmp, args.reps)
            ),
            "writer-features": (
                "writer_features",
                lambda: writer_features_stress(spark, tmp, args.reps),
            ),
            "rewrite-ops": (
                "rewrite_ops",
                lambda: rewrite_ops_stress(spark, tmp, args.reps),
            ),
        }
        if args.mode in standalone:
            key, fn = standalone[args.mode]
            out[key] = fn()
            sys.stdout.write("\n" + json.dumps(out) + "\n")
            sys.stdout.flush()
            spark.stop()
            return 0
        t0 = time.perf_counter()
        replicate_tables(spark, tmp, mode=args.mode, cluster_size=args.cluster_size)
        out["replicate_s"] = round(time.perf_counter() - t0, 2)

        for name in HEADLINERS:
            run_noop(QUERIES[name](spark, tmp))  # warmup (codegen/JIT)
            samples = []
            for _ in range(args.reps):
                t0 = time.perf_counter()
                run_noop(QUERIES[name](spark, tmp))
                samples.append(time.perf_counter() - t0)
            out["queries"][name] = round(min(samples), 3)

        # FLF at 10M rows (bench schema, 10x bench volume)
        from evolution_spark.converter import Converter
        from evolution_spark.mocker import Mocker
        from evolution_spark.schema import BENCH_FLF_SCHEMA_DICT, FixedSchema

        sch = FixedSchema.from_dict(BENCH_FLF_SCHEMA_DICT)
        Mocker(sch, 1_000_000, f"{tmp}/warm.flf", seed=7).run(spark)
        Converter(f"{tmp}/warm.flf", sch, f"{tmp}/warm.parquet").run(spark)
        t0 = time.perf_counter()
        Mocker(sch, 10_000_000, f"{tmp}/mock10m.flf", seed=42).run(spark)
        out["flf"]["mock_10m_s"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        Converter(f"{tmp}/mock10m.flf", sch, f"{tmp}/out10m.parquet").run(spark)
        out["flf"]["convert_10m_s"] = round(time.perf_counter() - t0, 2)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    sys.stdout.write("\n" + json.dumps(out) + "\n")
    sys.stdout.flush()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
