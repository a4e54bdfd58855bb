"""Shared scan-side row filtering for position-based deletes — the one
implementation of (file, row-position) anti-join used by BOTH the Delta
deletion-vector reader (``delta_log._scan_adds``) and the Iceberg
position-delete reader (``iceberg_meta.read_iceberg_table``), so a fix to
path normalization or join strategy lands once. ``parquet_files`` is the one
scan of a file list a table log or manifest already names.

Path normalization: Spark's ``_metadata.file_path`` is a Hadoop URI —
scheme-prefixed (``file:/x`` or ``file:///x``) AND percent-encoded
(``seg=A B`` appears as ``seg=A%20B``). Catalog/descriptor paths are plain
filesystem paths. Comparing them verbatim silently resurrects deleted rows
for any path with a URI-encodable character, so both sides are normalized
to the decoded, scheme-less form: strip the scheme, protect literal ``+``
(``url_decode`` follows ``URLDecoder`` in turning ``+`` into a space),
then percent-decode.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from evolution_spark.io.sqltext import quote_ident

# matches any URI scheme prefix (file:/, file:///, hdfs://host/ is NOT
# fully handled — local-fs engines only, like the rest of the native
# table readers)
URI_SCHEME_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*:/+"


_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def parquet_files(
    spark: SparkSession,
    files: Sequence[str],
    schema: StructType | str | None = None,
    base_path: str | None = None,
) -> DataFrame:
    """``spark.read.parquet(*files)`` over files a log already names,
    without Spark's parallel file-listing job: past the listing threshold
    (32 paths by default) Spark lists the paths with a job of its own,
    which costs more than the serial listing it replaces (measured
    0.04-0.06 s at 32 files against 0.33-0.42 s at 36-64). Spark lists
    when the DataFrame is made and the scan reuses that listing, so the
    threshold is raised to the file count for this call only."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    prev = spark.conf.get(_LISTING_THRESHOLD)
    spark.conf.set(_LISTING_THRESHOLD, str(max(int(prev), len(files))))
    try:
        return reader.parquet(*files)
    finally:
        spark.conf.set(_LISTING_THRESHOLD, prev)


def plain_path(p: str) -> str:
    """Driver-side twin of :func:`decoded_file_path`: catalog/manifest
    paths may be plain or URI-form (``file:///x``, percent-encoded);
    normalize to the decoded plain form so python-side keying matches the
    scan-side column."""
    import re
    from urllib.parse import unquote

    return unquote(re.sub(URI_SCHEME_RE, "/", p))


def decoded_file_path(col: Column | str) -> Column:
    """``_metadata.file_path`` -> plain decoded filesystem path."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, URI_SCHEME_RE, "/")
    # literal '+' must survive URLDecoder semantics: escape it first so
    # url_decode only collapses genuine %XX escapes
    return F.url_decode(F.regexp_replace(stripped, r"\+", "%2B"))


def anti_join_deleted_positions(
    df: DataFrame,
    deleted: DataFrame,
    deleted_rows: int,
    broadcast_limit: int = 4_000_000,
    fp_col: str | None = None,
    ri_col: str | None = None,
) -> DataFrame:
    """Drop rows of ``df`` whose (file, row-index) appears in ``deleted``
    (columns ``file_path`` string — plain decoded path — and ``pos``
    long). JVM-side left-anti join on the parquet scan's metadata columns;
    the build side is proportional to the DELETED row count in scanned
    files, never table size — broadcast while small (``deleted_rows`` is
    the caller's cardinality estimate from descriptors/manifests), else
    left to AQE."""
    if fp_col is None:
        # default: derive (file, row) from the hidden parquet metadata
        # column; callers whose plan already lost ``_metadata`` (joins,
        # unions) pass their own materialized fp_col/ri_col instead
        phys = df.withColumns({
            "__del_fp": decoded_file_path(F.col("_metadata.file_path")),
            "__del_ri": F.col("_metadata.row_index"),
        })
        fp_col, ri_col, drop_helpers = "__del_fp", "__del_ri", True
    else:
        phys, drop_helpers = df, False
    build = F.broadcast(deleted) if deleted_rows <= broadcast_limit else deleted
    out = phys.join(
        build,
        (phys[fp_col] == build["file_path"])
        & (phys[ri_col] == build["pos"]),
        "left_anti",
    )
    return out.drop("__del_fp", "__del_ri") if drop_helpers else out


def per_file_constant_columns(
    df: DataFrame,
    per_file: list[tuple[str, tuple]],
    basename_col: str,
    path_col: str,
    max_map_files: int = 1024,
) -> tuple[DataFrame, list[Column]]:
    """Per-file CONSTANT lookup for scans needing metadata derived from
    each row's source file (row-lineage id bases, commit versions,
    sequence numbers) — the one implementation behind BOTH the Delta
    row-tracking scan (``delta_log._lineage_scan``) and the Iceberg v3
    lineage projection (``iceberg_meta._attach_row_lineage``).

    Fast path: MAP LITERALS keyed on the raw ``_metadata`` file-path
    basename — zero join, zero per-row URI decoding, no broadcast-build
    job (measured 5-10x cheaper than the decoded-path broadcast join on a
    4.5M-row compaction read); eligible when basenames are unique and
    URL-safe (so the raw URI form equals the stored form) and the file
    count keeps the plan literals small. Fallback: a broadcast inner join
    on the decoded path — still a metadata-sized build, no data shuffle.

    ``per_file``: [(stored_path, (const, ...))], all tuples of equal
    arity, values long-valued or None. Returns (df, [Column, ...]) where
    the k-th Column yields the k-th constant of the row's file.
    ``basename_col``/``path_col``: materialized basename and decoded-path
    columns on ``df`` (the ``_metadata`` pseudo-column does not survive
    joins/unions, so callers materialize these at scan time). Callers
    handle the zero-file case — an empty ``create_map()`` is VOID-keyed
    and fails analysis."""
    import re

    if not per_file:
        raise ValueError("per_file must be non-empty")
    arity = len(per_file[0][1])
    basenames = {p.rsplit("/", 1)[-1] for p, _ in per_file}
    if (
        len(basenames) == len(per_file)
        and len(per_file) <= max_map_files
        and all(re.fullmatch(r"[A-Za-z0-9._=-]+", b) for b in basenames)
    ):
        # each map is built as ONE parsed SQL expression: the Column-API
        # form (2 F.lit calls per file per constant + create_map) costs
        # ~4*N py4j round trips per map, which at ~0.5 ms each dominated
        # the plan-construction time of every lineage scan (r16 cProfile:
        # socket.recv_into under create_map). The parsed tree is the same
        # map literal — basenames are regex-validated identifier-safe, so
        # single-quoting cannot inject
        def _sql_long(v):
            return "CAST(NULL AS BIGINT)" if v is None else f"{int(v)}L"

        cols = []
        for k in range(arity):
            entries = ",".join(
                f"'{p.rsplit('/', 1)[-1]}',{_sql_long(consts[k])}"
                for p, consts in per_file
            )
            cols.append(F.expr(f"map({entries})[{quote_ident(basename_col)}]"))
        return df, cols
    schema = ", ".join(
        ["__pfc_file string"] + [f"__pfc_{k} long" for k in range(arity)]
    )
    ldf = df.sparkSession.createDataFrame(
        [(p, *consts) for p, consts in per_file], schema
    )
    joined = df.join(
        F.broadcast(ldf), F.col(path_col) == F.col("__pfc_file"), "inner"
    )
    return joined, [F.col(f"__pfc_{k}") for k in range(arity)]
