"""Minimal transactional table format: manifest-gated parquet.

Fixes the one real durability gap the round-1 review found: rename-based
swaps (``sinks.compact_parquet``, ``streaming.jobs.stream_upserts_to_parquet``)
have a window where a crash strands the live directory or concurrent
readers see a half-swapped table. The cure is the same one Delta Lake /
Iceberg use (public designs; see the Delta Lake VLDB'20 paper): data
files are immutable and *invisible until a manifest commits them*, and a
commit is a single atomic filesystem primitive.

Layout of a transactional table at ``path``::

    path/
      _log/v00000001.json   <- manifest: list of data files + op metadata
      _log/v00000002.json
      data/<batch-uuid>/part-*.parquet

Protocol:

- **Write**: stage the DataFrame as parquet under ``data/<uuid>/`` (a
  crash here leaves orphan files no reader ever sees), then commit a
  manifest whose ``files`` list is [new files] (mode="overwrite") or
  [previous snapshot's files + new files] (mode="append").
- **Commit**: the manifest is written to a temp name, then linked to
  ``v{N}.json`` via ``os.link`` — which *fails* (EEXIST) instead of
  silently replacing when another writer took version N first. On
  collision the committer re-resolves the head version and retries, so
  concurrent blind appends both land (optimistic concurrency, same
  loop Delta's commit protocol runs against the log store).
- **Read**: resolve the newest ``v*.json`` (or an explicit ``version``
  — time travel), then ``spark.read.parquet(*files)``. Readers never
  lock: any manifest they resolve points only at immutable files that
  stay on disk until ``txn_vacuum`` drops versions.
- **Compaction** (`txn_compact`): read snapshot, rewrite clustered,
  commit as overwrite. Readers mid-flight keep the old manifest's
  files; there is no gap, crash leaves at worst orphan staged files.

At 100 TB the same protocol holds — the manifest lists O(files) paths
(Delta checkpoints solve the long-log problem; out of scope here), data
writes are fully parallel Spark jobs, and the only serial step is one
O(1) link syscall per commit.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

_LOG = "_log"
_DATA = "data"


def _log_dir(path: str) -> str:
    return os.path.join(path, _LOG)


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"v{version:08d}.json")


def txn_versions(path: str) -> list[int]:
    """All committed versions, ascending. Empty list = no table yet."""
    d = _log_dir(path)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.startswith("v") and f.endswith(".json"):
            try:
                out.append(int(f[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_path(path, version)) as fh:
        return json.load(fh)


def _snapshot_files(path: str, version: int | None) -> tuple[int | None, list[str]]:
    """(resolved version, absolute data-file paths) for a snapshot."""
    versions = txn_versions(path)
    if not versions:
        return None, []
    v = version if version is not None else versions[-1]
    if v not in versions:
        raise ValueError(f"version {v} not in {path}: have {versions}")
    m = _read_manifest(path, v)
    return v, [os.path.join(path, rel) for rel in m["files"]]


def _stage(df: DataFrame, path: str) -> list[str]:
    """Write df as an immutable staged batch; return repo-relative file paths."""
    batch = uuid.uuid4().hex
    batch_dir = os.path.join(path, _DATA, batch)
    df.write.mode("error").parquet(batch_dir)
    rels = []
    for f in sorted(os.listdir(batch_dir)):
        if f.endswith(".parquet"):
            rels.append(os.path.join(_DATA, batch, f))
    return rels


def _collect_stats(path: str, rels: list[str]) -> dict[str, dict[str, list]]:
    """Per-file column min/max from the parquet footers (no data read).

    Only JSON-safe scalar types (int/float/str) are recorded; columns
    with missing or exotic stats are simply absent — readers treat
    absence conservatively (file cannot be skipped on that column).
    This is the manifest-level stats layer an Iceberg/Delta manifest
    carries: at 100 TB it is what turns a selective scan into an
    O(matching-files) read instead of an O(table) read.
    """
    import pyarrow.parquet as pq

    out: dict[str, dict[str, list]] = {}
    for rel in rels:
        meta = pq.ParquetFile(os.path.join(path, rel)).metadata
        cols: dict[str, list] = {}
        for rg in range(meta.num_row_groups):
            group = meta.row_group(rg)
            for ci in range(group.num_columns):
                col = group.column(ci)
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    try:
                        mn, mx = mn.decode(), mx.decode()
                    except UnicodeDecodeError:
                        continue
                if not isinstance(mn, (int, float, str)):
                    continue
                name = col.path_in_schema
                if name in cols:
                    cols[name] = [min(cols[name][0], mn), max(cols[name][1], mx)]
                else:
                    cols[name] = [mn, mx]
        if cols:
            out[rel] = cols
    return out


def _commit(
    path: str,
    files: list[str],
    op: str,
    expect_head: int | None,
    stats: dict[str, dict[str, list]] | None = None,
) -> int:
    """Atomically publish a manifest; returns the committed version.

    ``os.link(tmp, final)`` is the commit point: it either creates the
    version file or raises FileExistsError — never replaces. Appends
    retry on collision after merging the new head's file list; an
    overwrite that collides retries as a plain last-writer-wins
    overwrite of the newer head (same semantics as Spark's
    ``mode("overwrite")``).
    """
    log_dir = _log_dir(path)
    os.makedirs(log_dir, exist_ok=True)
    head = expect_head
    new_files = list(files)
    new_stats = dict(stats or {})
    while True:
        version = (head or 0) + 1
        manifest = {
            "version": version,
            "op": op,
            "files": new_files,
            "stats": {f: new_stats[f] for f in new_files if f in new_stats},
        }
        tmp = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, _manifest_path(path, version))
            os.unlink(tmp)
            return version
        except FileExistsError:
            os.unlink(tmp)
            current = txn_versions(path)[-1]
            if op == "append" and expect_head is not None:
                # merge: keep our new data files, re-base on the new head
                staged_only = [f for f in files if f not in _read_manifest(path, expect_head).get("files", [])] if expect_head else files
                head_m = _read_manifest(path, current)
                head_files = head_m["files"]
                new_files = head_files + [f for f in staged_only if f not in head_files]
                new_stats = {**head_m.get("stats", {}), **new_stats}
            head = current


def txn_write(df: DataFrame, path: str, mode: str = "append") -> int:
    """Transactionally write ``df`` to the table at ``path``.

    mode="append" adds the batch to the current snapshot; "overwrite"
    replaces the snapshot (old files stay for time travel until
    ``txn_vacuum``). Returns the committed version number.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    head, head_files = _snapshot_files(path, None)
    staged = _stage(df, path)
    stats = _collect_stats(path, staged)
    if mode == "append":
        rel_head = [os.path.relpath(f, path) for f in head_files]
        if head is not None:
            stats = {**_read_manifest(path, head).get("stats", {}), **stats}
        return _commit(path, rel_head + staged, "append", head, stats)
    return _commit(path, staged, "overwrite", head, stats)


def txn_read(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Snapshot read (newest version, or time travel to ``version``)."""
    v, files = _snapshot_files(path, version)
    if v is None:
        raise FileNotFoundError(f"no committed versions at {path}")
    if not files:  # an overwrite of an empty frame is legal
        raise ValueError(f"version {v} of {path} lists no files")
    return spark.read.parquet(*files)


def txn_prune_files(path: str, col: str, lo=None, hi=None) -> tuple[list[str], int]:
    """Manifest-level file skipping: absolute paths of the head snapshot's
    files whose [min, max] for ``col`` overlaps [lo, hi] (either bound
    may be None = unbounded), plus the snapshot's total file count.
    Files without recorded stats for ``col`` are conservatively kept —
    skipping is an optimization, never a correctness lever.
    """
    v, files = _snapshot_files(path, None)
    if v is None:
        raise FileNotFoundError(f"no committed versions at {path}")
    stats = _read_manifest(path, v).get("stats", {})
    kept = []
    for abs_f in files:
        rel = os.path.relpath(abs_f, path)
        mm = stats.get(rel, {}).get(col)
        if mm is None:
            kept.append(abs_f)
            continue
        mn, mx = mm
        if (lo is not None and mx < lo) or (hi is not None and mn > hi):
            continue
        kept.append(abs_f)
    return kept, len(files)


def txn_scan(spark: SparkSession, path: str, col: str, lo=None, hi=None) -> DataFrame:
    """Head-snapshot read with manifest min/max file skipping on one column,
    plus the residual row filter (skipping prunes whole files; rows
    inside surviving files still need the predicate). Equivalent to
    ``txn_read(...).filter(lo <= col <= hi)`` — only faster, because
    non-overlapping files never reach the Spark scan at all.
    """
    from pyspark.sql import functions as F

    kept, _ = txn_prune_files(path, col, lo, hi)
    if not kept:
        v, files = _snapshot_files(path, None)
        # preserve schema via an empty read of any snapshot file
        return spark.read.parquet(*files).limit(0).filter(F.lit(False))
    df = spark.read.parquet(*kept)
    if lo is not None:
        df = df.filter(F.col(col) >= lo)
    if hi is not None:
        df = df.filter(F.col(col) <= hi)
    return df


def txn_upsert(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key_cols: list[str],
    version_col: str,
) -> int:
    """MERGE: latest-wins upsert committed as one atomic overwrite —
    the transactional twin of ``operators.cdc.apply_upserts``."""
    from super_store_datawarehouse_spark.operators.cdc import apply_upserts

    if txn_versions(path):
        state = txn_read(spark, path)
    else:
        state = updates.limit(0)
    merged = apply_upserts(state, updates, key_cols, version_col)
    return txn_write(merged, path, mode="overwrite")


def txn_compact(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    sort_by: list[str] | None = None,
) -> int:
    """Atomic small-file compaction: rewrite the current snapshot into
    ~``target_file_mb`` files (optionally range-clustered on
    ``sort_by`` for min/max skipping) and commit it as an overwrite.
    Concurrent readers are never disturbed — they hold a manifest whose
    files remain on disk; a crash mid-rewrite leaves only orphan staged
    files. This supersedes ``sinks.compact_parquet``'s rename swap for
    tables that can adopt the ``_log/`` layout."""
    _, files = _snapshot_files(path, None)
    total = sum(os.path.getsize(f) for f in files)
    n_files = max(1, round(total / (target_file_mb * 1024 * 1024)))
    df = txn_read(spark, path)
    if sort_by:
        out = df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(*sort_by)
    else:
        out = df.coalesce(n_files)
    return txn_write(out, path, mode="overwrite")


def txn_diff_versions(path: str, v_old: int, v_new: int) -> dict:
    """Describe what changed between two committed snapshots: file-level
    churn, exact row-count delta, and schema drift (columns added /
    removed / retyped) — the audit a pipeline runs before promoting a
    new table version. Everything comes from manifests + parquet
    footers; no Spark session and no data read.
    """
    import pyarrow.parquet as pq

    _, files_old = _snapshot_files(path, v_old)
    _, files_new = _snapshot_files(path, v_new)
    so, sn = set(files_old), set(files_new)

    def rows(files: list[str]) -> int:
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)

    def schema(files: list[str]) -> dict[str, str]:
        if not files:
            return {}
        s = pq.read_schema(files[0])
        return {f.name: str(f.type) for f in s}

    sch_o, sch_n = schema(files_old), schema(files_new)
    return {
        "files_added": len(sn - so),
        "files_removed": len(so - sn),
        "rows_old": rows(files_old),
        "rows_new": rows(files_new),
        "columns_added": sorted(set(sch_n) - set(sch_o)),
        "columns_removed": sorted(set(sch_o) - set(sch_n)),
        "columns_retyped": sorted(
            c for c in set(sch_o) & set(sch_n) if sch_o[c] != sch_n[c]
        ),
    }


def txn_vacuum(path: str) -> int:
    """Garbage-collect: retain the newest manifest, delete older
    manifests plus any data file the head does not reference (including
    orphans from crashed writes). Returns the number of data files
    deleted. Time travel is no longer possible afterwards."""
    versions = txn_versions(path)
    if not versions:
        return 0
    keep = versions[-1:]
    live: set[str] = set()
    for v in keep:
        live.update(_read_manifest(path, v)["files"])
    for v in versions:
        if v not in keep:
            os.unlink(_manifest_path(path, v))
    removed = 0
    data_root = os.path.join(path, _DATA)
    if os.path.isdir(data_root):
        for batch in os.listdir(data_root):
            bdir = os.path.join(data_root, batch)
            for f in list(os.listdir(bdir)):
                rel = os.path.join(_DATA, batch, f)
                if rel not in live:
                    os.unlink(os.path.join(bdir, f))
                    if f.endswith(".parquet"):
                        removed += 1
            if not os.listdir(bdir):
                os.rmdir(bdir)
    return removed
