"""Incremental maintenance without a recompute: the delta rule for an
equi-join, and a row-level diff of two snapshots of a keyed table.

The reference recomputes its warehouse from scratch every run
(`etl.py` drops and reloads all tables); these operators touch only the
delta, or classify each key once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def join_delta(
    a_old: DataFrame,
    a_delta: DataFrame,
    b_old: DataFrame,
    b_delta: DataFrame,
    on: list[str] | str,
) -> DataFrame:
    """Incremental equi-join maintenance (the classic delta rule): when
    A gains ``a_delta`` and B gains ``b_delta``,

        Δ(A ⋈ B) = ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB

    — never a recompute of A ⋈ B. Insert-only deltas (append streams /
    new partitions); pair with :mod:`cdc` upsert folding first if the
    feed carries updates.

    Scale: the big-side scans (A_old, B_old) each join against a DELTA,
    so AQE broadcasts the delta side and neither old table shuffles;
    the ΔA ⋈ ΔB term is delta-sized on both sides. Cost is proportional
    to |Δ| · join fan-out, not |A| + |B|.
    """
    on = [on] if isinstance(on, str) else list(on)
    return (
        a_delta.join(b_old, on)
        .unionByName(a_old.join(b_delta, on))
        .unionByName(a_delta.join(b_delta, on))
    )


def snapshot_diff(
    cur: DataFrame,
    prev: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Row-level reconciliation between two snapshots of a keyed table.

    The dataset-versioning primitive (what a lakehouse "table diff" or a
    CDC backfill audit computes): full-outer join on the key, then each
    key is classified ``added`` (only in ``cur``), ``removed`` (only in
    ``prev``), ``changed`` (present in both, any compare column differs
    under NULL-SAFE equality) or ``unchanged``. Returns the per-key
    frame (key columns + ``diff_status``); callers aggregate or filter.

    One shuffle on the key (or zero with co-bucketed snapshots); the
    comparison is a per-row expression — the plan scales exactly like
    the q31 bucket reconciliation but at row grain.
    """
    c = cur.select(
        *[F.col(k).alias(f"__ck_{k}") for k in key_cols],
        *[F.col(v).alias(f"__cv_{v}") for v in compare_cols],
        F.lit(1).alias("__in_cur"),
    )
    p = prev.select(
        *[F.col(k).alias(f"__pk_{k}") for k in key_cols],
        *[F.col(v).alias(f"__pv_{v}") for v in compare_cols],
        F.lit(1).alias("__in_prev"),
    )
    cond = None
    for k in key_cols:
        e = F.col(f"__ck_{k}") == F.col(f"__pk_{k}")
        cond = e if cond is None else cond & e
    joined = c.join(p, cond, "full_outer")
    differs = F.lit(False)
    for v in compare_cols:
        differs = differs | ~F.col(f"__cv_{v}").eqNullSafe(F.col(f"__pv_{v}"))
    status = (
        F.when(F.col("__in_prev").isNull(), F.lit("added"))
        .when(F.col("__in_cur").isNull(), F.lit("removed"))
        .when(differs, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        *[
            F.coalesce(F.col(f"__ck_{k}"), F.col(f"__pk_{k}")).alias(k)
            for k in key_cols
        ],
        status.alias("diff_status"),
    )
