"""Shared table-maintenance helpers for the native Delta/Iceberg writers."""

from __future__ import annotations

import shutil
import time
from pathlib import Path


def reclaim_stale_staging(table_dir: Path, stale_hours: float = 24.0) -> list[str]:
    """Remove ABANDONED ``_staging_*`` dirs (a writer crashed before its
    finally-cleanup): uuid-suffixed staging names are never reused, so
    without reclamation they leak forever. A dir is abandoned only when
    its NEWEST entry is older than ``stale_hours`` — an in-flight writer
    is actively creating files, so its staging dir stays young. Returns
    the reclaimed dir names."""
    cutoff = time.time() - stale_hours * 3600
    reclaimed: list[str] = []
    for d in sorted(Path(table_dir).glob("_staging_*")):
        if not d.is_dir():
            continue
        newest = max(
            (f.stat().st_mtime for f in d.rglob("*") if f.is_file()),
            default=d.stat().st_mtime,
        )
        if newest < cutoff:
            shutil.rmtree(d, ignore_errors=True)
            reclaimed.append(d.name)
    return reclaimed


# Broadcast cap shared with the delete anti-join paths (delta_log /
# iceberg_meta / scan_filters pin the same 4M-row build-side limit):
# past it the masking join degrades to a shuffle — correct but a step
# change in scan cost, so the advisor flags it before users live there.
BROADCAST_DELETE_CAP = 4_000_000

# From the BASELINE v3.3 format-scan stress curves: library-reader scan
# cost grows with the deleted-row count (flat for the DataSource paths),
# reaching ~2x the clean-scan cost around a 30% delete ratio — compact
# before that.
DELETE_RATIO_WARN = 0.10
DELETE_RATIO_CRITICAL = 0.30
SMALL_FILE_BYTES = 8 * 1024 * 1024  # genuinely tiny at any realistic scale
SMALL_FILE_COUNT_WARN = 16
STALE_SNAPSHOT_WARN = 10


def table_health(path: str) -> dict:
    """Maintenance advisor: one metadata-only pass over a native Delta or
    Iceberg table emitting the signals that degrade scans at scale, each
    with the maintenance call that clears it:

    - ``delete_ratio`` / ``deleted_rows``: merge-on-read debt (Delta DV
      cardinalities; Iceberg position+equality delete record counts).
      The scan's masking anti-join build side is proportional to
      ``deleted_rows`` — BASELINE v3.3 measured the library readers
      ~2x slower at a 30% ratio, and past the 4M-row broadcast cap the
      join degrades to a shuffle. Fix: OPTIMIZE / compact (rewrites
      materialize the deletes away).
    - ``small_files``: files under 8 MiB in the live set — footer/task
      overhead dominates tiny files at 100 TB. Fix: OPTIMIZE / compact.
    - ``stale_snapshots``: historical versions/snapshots past the last
      ten — unreclaimed storage and ever-longer log replays. Fix:
      VACUUM (Delta) / expire_iceberg_snapshots.

    Driver-side metadata only (log/manifest replay — no data scan), so
    it is safe to run as a fleet-wide sweep. Returns ``{format, signals,
    recommendations}`` where each recommendation is actionable text."""
    import json

    table_dir = Path(path)
    signals: dict = {}
    recs: list[str] = []
    if (table_dir / "_delta_log").exists():
        from evolution_spark.io.delta_log import _log_versions, _replay_log

        fmt = "delta"
        live, _, _, latest, state = _replay_log(table_dir, return_state=True)
        total_rows = 0
        deleted = 0
        sizes = []
        for add in live.values():
            st = json.loads(add.get("stats") or "{}")
            total_rows += int(st.get("numRecords") or 0)
            dv = add.get("deletionVector")
            if dv:
                deleted += int(dv.get("cardinality") or 0)
            sizes.append(int(add.get("size") or 0))
        n_versions = len(_log_versions(table_dir / "_delta_log"))
        stale = max(0, n_versions - 1)
        fix = "optimize_delta(spark, path) then vacuum_delta(path)"
        expire_fix = "vacuum_delta(path, keep_versions=N)"
    elif (table_dir / "metadata").exists():
        from evolution_spark.io.avro import _read_avro, _read_avro_with_meta
        from evolution_spark.io.iceberg_meta import _load_metadata

        fmt = "iceberg"
        metadata, _ = _load_metadata(table_dir)
        current = metadata.get("current-snapshot-id")
        total_rows = 0
        deleted = 0
        sizes = []
        if current is not None:
            snap = next(
                s for s in metadata["snapshots"]
                if s["snapshot-id"] == current
            )
            for mf in _read_avro(Path(snap["manifest-list"])):
                is_delete = int(mf.get("content") or 0) == 1
                entries, _ = _read_avro_with_meta(Path(mf["manifest_path"]))
                for e in entries:
                    if e["status"] == 2:
                        continue
                    dfile = e["data_file"]
                    n = int(dfile.get("record_count") or 0)
                    if is_delete:
                        deleted += n
                    else:
                        total_rows += n
                        sizes.append(
                            int(dfile.get("file_size_in_bytes") or 0)
                        )
        stale = max(0, len(metadata.get("snapshots") or []) - 1)
        fix = "compact_iceberg_table(spark, path)"
        expire_fix = "expire_iceberg_snapshots(path, keep=N)"
    else:
        raise FileNotFoundError(
            f"no Delta log or Iceberg metadata under {path}"
        )

    ratio = (deleted / total_rows) if total_rows else 0.0
    small = sum(1 for s in sizes if s < SMALL_FILE_BYTES)
    signals.update({
        "total_rows": total_rows,
        "deleted_rows": deleted,
        "delete_ratio": round(ratio, 4),
        "live_files": len(sizes),
        "small_files": small,
        "stale_snapshots": stale,
    })
    if deleted > BROADCAST_DELETE_CAP:
        recs.append(
            f"CRITICAL: {deleted} deleted rows exceed the {BROADCAST_DELETE_CAP}"
            f"-row broadcast cap — delete masking now shuffles; run {fix} now"
        )
    elif ratio >= DELETE_RATIO_CRITICAL:
        recs.append(
            f"CRITICAL: delete ratio {ratio:.0%} (>= {DELETE_RATIO_CRITICAL:.0%}"
            f", ~2x scan cost in the v3.3 stress curves); run {fix}"
        )
    elif ratio >= DELETE_RATIO_WARN:
        recs.append(
            f"WARN: delete ratio {ratio:.0%} accumulating merge-on-read "
            f"debt; schedule {fix}"
        )
    if small >= SMALL_FILE_COUNT_WARN and sizes:
        recs.append(
            f"WARN: {small}/{len(sizes)} live files under "
            f"{SMALL_FILE_BYTES >> 20} MiB — task/footer overhead; run {fix}"
        )
    if stale >= STALE_SNAPSHOT_WARN:
        recs.append(
            f"WARN: {stale} historical versions retained; run {expire_fix}"
        )
    return {"format": fmt, "signals": signals, "recommendations": recs}
