"""Warehouse sinks (SURVEY §2.1 S6-S8).

- rejects sink: the designed error-file path ("File: Errors.txt" in the
  BPMN diagrams; skip-and-count at etl.py:489-496) as a real table.
- write-audit-publish: a parquet write that returns metrics observed by
  the same job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def write_rejects(rejects: DataFrame, out_dir: str) -> None:
    """Persist unresolved-key rows (left_anti output) as a rejects table."""
    rejects.write.mode("overwrite").parquet(os.path.join(out_dir, "_rejects"))


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
