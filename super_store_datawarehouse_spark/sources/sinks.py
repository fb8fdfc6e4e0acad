"""Warehouse sinks (SURVEY §2.1 S6-S8).

- rejects sink: the designed error-file path ("File: Errors.txt" in the
  BPMN diagrams; skip-and-count at etl.py:489-496) as a real table.
- write-audit-publish: a parquet write that returns metrics observed by
  the same job.
- compaction: rewrite a parquet table into fewer files through a
  rename swap that ``recover_compact`` repairs after a crash.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def write_rejects(rejects: DataFrame, out_dir: str) -> None:
    """Persist unresolved-key rows (left_anti output) as a rejects table."""
    rejects.write.mode("overwrite").parquet(os.path.join(out_dir, "_rejects"))


def compact_parquet(
    spark, path: str, target_file_mb: int = 128, sort_by: list[str] | None = None
) -> int:
    """Small-file compaction: rewrite a parquet directory into files of
    roughly ``target_file_mb`` each, returning the new file count.

    Streaming/CDC sinks accrete many tiny files (one+ per microbatch);
    at scale that destroys scan throughput (footer reads + scheduler
    overhead dominate). Rewrite strategy: size the output file count
    from the actual on-disk bytes, then ``coalesce`` (no shuffle) —
    unless ``sort_by`` is given, in which case a ``repartitionByRange``
    + ``sortWithinPartitions`` lays rows out for min/max data skipping
    on the sort key (poor-man's clustering, same idea as OPTIMIZE ...
    ZORDER with one key). Writes to a temp dir then swaps.

    Crash-safety contract: POSIX has no atomic directory swap, so the
    two renames are not one step — but every crash point is now
    mechanically recoverable, and recovery is AUTOMATIC: this function
    (and :func:`recover_compact`, exported for ops/readers) first
    repairs any half-finished swap it finds. The protocol:

    1. write compacted copy to ``<path>__compacting`` (Spark emits
       ``_SUCCESS`` last, so a complete tmp is detectable)
    2. ``rename(path, <path>__old)``
    3. ``rename(tmp, path)``
    4. ``rmtree(old)``

    Crash during 1: live table untouched; stale tmp removed on next run.
    Crash between 2 and 3: live path briefly missing, but tmp is known-
    complete (it carries ``_SUCCESS``; step 2 only runs after the write
    finished) → recovery adopts tmp as the new live. Crash between 3
    and 4: table already live → recovery clears the leftover old copy.
    Concurrent readers can still hit the 2→3 gap (single-writer,
    maintenance-window semantics); for true reader isolation use
    ``sources.translog.txn_compact`` on a manifest-gated table or a full
    table format (Delta/Iceberg).
    """
    import shutil

    recover_compact(path)
    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, round(total / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    if sort_by:
        out = df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(*sort_by)
    else:
        out = df.coalesce(n_files)
    tmp = path.rstrip("/") + "__compacting"
    out.write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + "__old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return sum(
        1 for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def recover_compact(path: str) -> str | None:
    """Repair a ``compact_parquet`` swap interrupted at any crash point,
    leaving ``path`` a complete, readable table. Idempotent; safe to call
    when no compaction ever ran. Returns a short action string for
    logging, or None if nothing needed repair.

    Decision table (tmp = ``<path>__compacting``, old = ``<path>__old``):

    * live exists → any tmp/old leftovers are strictly redundant copies
      (pre-swap write, or post-swap cleanup crash): delete them.
    * live missing, tmp complete (``_SUCCESS`` present) → the crash hit
      between the two renames; the compacted copy is whole: adopt it.
    * live missing, tmp absent/incomplete, old exists → the crash hit
      mid-write or the tmp shape is untrustworthy: restore old.
    """
    import shutil

    tmp = path.rstrip("/") + "__compacting"
    old = path.rstrip("/") + "__old"
    if os.path.exists(path):
        action = None
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
            action = "removed stale tmp"
        if os.path.exists(old):
            shutil.rmtree(old)
            action = (action + " and old" ) if action else "removed leftover old"
        return action
    if os.path.exists(os.path.join(tmp, "_SUCCESS")):
        os.rename(tmp, path)
        if os.path.exists(old):
            shutil.rmtree(old)
        return "adopted completed compaction"
    if os.path.exists(old):
        os.rename(old, path)
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        return "restored pre-compaction table"
    return None


def write_with_metrics(df: DataFrame, path: str, metrics: dict | None = None) -> dict:
    """Parquet write that returns pipeline metrics from the SAME job
    that wrote the data (``df.observe`` / ``Observation``).

    ``metrics`` maps output names to aggregate Columns (count/sum/min/
    max/null-count style). The accumulator-backed observation rides the
    write job, so at 100 TB you get row counts and checksums WITHOUT
    the second full scan a follow-up ``.count()`` would cost — the
    standard write-audit-publish pattern. Defaults to ``n_rows``.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    if metrics is None:
        metrics = {"n_rows": F.count(F.lit(1))}
    obs = Observation()
    observed = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    observed.write.mode("overwrite").parquet(path)
    return dict(obs.get)
