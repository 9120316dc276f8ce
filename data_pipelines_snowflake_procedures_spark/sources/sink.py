"""Table sinks: the atomic stage-and-swap commit of the streaming
state folds, its crash recovery, and a footer-only storage report.

The reference's only sinks were whole-table overwrites and per-row
INSERTs (SURVEY.md §2.1 S9/S11). At scale, file sizing decides the
scan cost: aim for 128 MB - 1 GB files; ``repartition`` on the
partition columns before a ``partitionBy`` write prevents the
small-files problem (one file per task per partition), which
:func:`table_storage_report` flags.
"""

from __future__ import annotations

import os


def commit_swap(staging: str, target: str) -> None:
    """Atomically promote a fully-written staging directory to
    ``target`` (the parquet stand-in for a transactional MERGE/REPLACE,
    used by the streaming state folds).

    Refuses to promote unless the staging write finished (Spark's
    ``_SUCCESS`` marker). The swap is two atomic directory renames —
    target → target.old, staging → target — so the target is NEVER
    half-written: a crash at any point leaves either the full old
    version or the full new version on disk, recoverable by
    :func:`recover_swap`. This replaces the earlier re-write-into-place
    form, which both doubled the write cost and could die mid-delete.
    """
    import shutil

    if not os.path.exists(os.path.join(staging, "_SUCCESS")):
        raise ValueError(
            f"staging dir {staging} has no _SUCCESS marker; refusing to swap"
        )
    old = target + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(target):
        os.rename(target, old)
    os.rename(staging, target)
    shutil.rmtree(old, ignore_errors=True)


def recover_swap(target: str, staging: str | None = None) -> str:
    """Crash recovery for :func:`commit_swap`: restore ``target`` to a
    consistent version after an interrupted swap. Returns which version
    won: 'target' (already consistent), 'new' (staging promoted), or
    'old' (prior version restored). Idempotent."""
    staging = staging or target + ".staging"
    old = target + ".old"
    if os.path.exists(target):
        return "target"
    if os.path.exists(os.path.join(staging, "_SUCCESS")):
        os.rename(staging, target)
        import shutil

        shutil.rmtree(old, ignore_errors=True)
        return "new"
    if os.path.exists(old):
        os.rename(old, target)
        return "old"
    raise FileNotFoundError(
        f"no consistent version of {target} found (no target, no complete "
        f"staging at {staging}, no {old})"
    )


def table_storage_report(path: str) -> dict:
    """Storage-layout report from parquet footers (no data read):
    file count, bytes, rows, row groups, and the small-files flag that
    drives compaction decisions. Footer-only, so it is cheap even on a
    100 TB table — this is the report that tells you whether a
    repartition-first write did its job."""
    import os

    import pyarrow.parquet as pq

    files: list[str] = []
    for root, _dirs, names in os.walk(path):
        files += [os.path.join(root, n) for n in names if n.endswith(".parquet")]
    if os.path.isfile(path):
        files = [path]
    total_bytes = sum(os.path.getsize(f) for f in files)
    rows = 0
    row_groups = 0
    for f in files:
        meta = pq.ParquetFile(f).metadata
        rows += meta.num_rows
        row_groups += meta.num_row_groups
    avg = total_bytes / len(files) if files else 0
    return {
        "n_files": len(files),
        "total_bytes": total_bytes,
        "n_rows": rows,
        "n_row_groups": row_groups,
        "avg_file_bytes": int(avg),
        # < 8 MB average is the classic small-files smell
        "small_files": bool(files) and avg < 8 * 1024 * 1024,
    }
