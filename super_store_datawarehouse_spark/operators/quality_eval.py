"""Inter-annotator / rater-model agreement metrics for label QA.

Training-data pipelines routinely compare two labelers — a rule gate
vs a model score, two model versions, or human vs heuristic — and gate
dataset releases on agreement. Cohen's kappa (Cohen 1960) corrects raw
agreement for chance; computed here from an INTEGER confusion matrix
with the final statistic as ONE IEEE division of two int64s, so the
metric value-oracles bit-exactly cross-engine:

    kappa = (N·Σ_c n_cc − Σ_c r_c·c_c) / (N² − Σ_c r_c·c_c)

(multiply the usual (p_o − p_e)/(1 − p_e) through by N²; n_cc are the
diagonal counts, r_c/c_c the marginals). Works for any number of label
classes. One shuffle (the confusion-matrix groupBy); the matrix and
marginals are |classes|²-sized — driver/broadcast-trivial.

No counterpart in the reference (reference core is the Superstore ETL
+ 13 MySQL queries); part of the LLM-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cohen_kappa(
    df: DataFrame,
    label_a: str,
    label_b: str,
    group_keys: list[str] | None = None,
) -> DataFrame:
    """Cohen's kappa between two label columns, optionally per group.

    Returns one row per group: n, n_agree, agree_ppm (raw agreement in
    parts-per-million, integer), and kappa (double; NULL for the
    degenerate single-class case where chance agreement is 1).

    Non-null-label contract: rows where either label is NULL are
    excluded up front. Without the filter, ``__a == __b`` is NULL for
    NULL labels, so a (NULL, NULL) pair — two annotators both
    abstaining — would silently count as *disagreement*, biasing kappa
    downward. "Missing label" is not a label class; callers that want
    abstention scored must encode it as a real value first.
    """
    keys = list(group_keys or [])
    df = df.filter(F.col(label_a).isNotNull() & F.col(label_b).isNotNull())
    conf = df.groupBy(
        *keys, F.col(label_a).alias("__a"), F.col(label_b).alias("__b")
    ).agg(F.count(F.lit(1)).alias("__n"))
    # marginals via windowless re-aggregation: the confusion frame is
    # |classes|^2 rows per group — re-grouping it is free
    ra = conf.groupBy(
        *keys, F.col("__a").alias("__c")
    ).agg(F.sum("__n").alias("__ra"))
    cb = conf.groupBy(
        *keys, F.col("__b").alias("__c")
    ).agg(F.sum("__n").alias("__cb"))
    # chance term pairs the marginals of the SAME class: Σ_c r_c·c_c.
    # Inner join: a class absent from one side has marginal 0 there.
    margins = ra.join(cb, keys + ["__c"]).select(
        *keys, "__c", (F.col("__ra") * F.col("__cb")).alias("__rc")
    )
    per_group = conf.groupBy(*keys).agg(
        F.sum("__n").alias("n"),
        F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__n")).otherwise(0)).alias(
            "n_agree"
        ),
    )
    chance = margins.groupBy(*keys).agg(F.sum("__rc").alias("__rc_sum"))
    # LEFT join + coalesce-to-0: when the annotators share no label
    # value (disjoint vocabularies / total disagreement) the marginal
    # inner join is empty, chance has no row, and an inner join here
    # would silently DROP the group — the correct chance term is 0 and
    # kappa = n·n_agree/n² (0 for total disagreement).
    joined = (
        per_group.join(F.broadcast(chance), keys, "left")
        if keys
        else per_group.join(F.broadcast(chance), F.lit(True), "left")
    )
    sum_rc = F.coalesce(F.col("__rc_sum"), F.lit(0))
    kappa = F.try_divide(
        (F.col("n") * F.col("n_agree") - sum_rc).cast("double"),
        F.nullif(F.col("n") * F.col("n") - sum_rc, F.lit(0)).cast("double"),
    )
    return joined.select(
        *keys,
        "n",
        "n_agree",
        F.expr("n_agree * 1000000 div n").alias("agree_ppm"),
        kappa.alias("kappa"),
    )


def ranking_auc(
    df: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """ROC AUC of an integer score against a boolean label, as the
    tie-corrected Mann-Whitney rank statistic — entirely in int64 until
    one final ppm trunc-div, so the metric value-oracles bit-exactly.

    With average midranks R_i over the combined sample,
    U = Σ_{i∈pos} R_i − n_pos(n_pos+1)/2 and AUC = U/(n_pos·n_neg).
    Everything is doubled to stay integral under .5 midranks:
    2·R_avg(s) = 2·min_rank(s) + cnt(s) − 1, summed per distinct score
    weighted by its positive count; ``u2`` = 2U; ``auc_ppm`` =
    10⁶·u2 div (2·n_pos·n_neg).

    Plan: one (score) hash agg, then a window over the DISTINCT-SCORE
    frame only (the value-domain frame, same pattern as token_rarity's
    vocab window — range-partition by score bands at true scale), one
    single-row reduce. The int64 envelope holds to n ≈ 2·10⁶ rows at
    ppm scaling (10⁶·2n² < 2⁶³); beyond that, drop to per-thousand or
    128-bit decimals.

    ``score_col`` must be integral (exact ranks need exact equality);
    NULL scores/labels are excluded (can't be ranked / have no class).
    """
    from pyspark.sql import Window

    per = df.select(
        F.col(score_col).alias("score"), F.col(label_col).alias("pos")
    ).filter(F.col("score").isNotNull() & F.col("pos").isNotNull())
    byscore = per.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("npos"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    ranked = byscore.withColumn(
        "min_rank", F.lit(1) + F.coalesce(F.sum("n").over(w), F.lit(0))
    )
    return ranked.agg(
        F.sum("npos").cast("long").alias("n_pos"),
        (F.sum("n") - F.sum("npos")).cast("long").alias("n_neg"),
        F.expr(
            "CAST(sum(npos * (2 * min_rank + n - 1))"
            " - sum(npos) * (sum(npos) + 1) AS BIGINT)"
        ).alias("u2"),
    ).select(
        "n_pos",
        "n_neg",
        "u2",
        F.expr(
            "CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL"
            " ELSE (1000000 * u2) div (2 * n_pos * n_neg) END AS BIGINT)"
        ).alias("auc_ppm"),
    )


def classification_report(
    df: DataFrame, truth_col: str, pred_col: str
) -> DataFrame:
    """Per-class precision / recall / F1 from (truth, pred) pairs, all
    integer ppm trunc-divs of int64 counts — the classifier release
    gate next to :func:`cohen_kappa`'s agreement check.

    Classes are the union of truth and prediction values (a class never
    predicted still reports recall; a hallucinated class still reports
    precision). Denominator-zero metrics are NULL, not 0 — "no
    prediction made" is not "0% precision". One confusion-matrix
    groupBy (|classes|² rows) then class-level arithmetic.

    Non-null-label contract (same as :func:`cohen_kappa`): rows where
    either label is NULL are excluded up front. NULL can't be a class
    here — the full_outer marginal join matches on equality, so a NULL
    truth class and a NULL pred class would land in two separate rows,
    and ``pred == truth`` is NULL for NULL labels, so (NULL, NULL)
    pairs would silently score as non-TP. Encode abstention as a real
    label value to have it scored.
    """
    pairs = df.select(
        F.col(truth_col).alias("truth"), F.col(pred_col).alias("pred")
    ).filter(F.col("truth").isNotNull() & F.col("pred").isNotNull())
    conf = pairs.groupBy("truth", "pred").agg(F.count(F.lit(1)).alias("n"))
    by_truth = conf.groupBy(F.col("truth").alias("label")).agg(
        F.sum("n").alias("n_truth"),
        F.sum(F.when(F.col("pred") == F.col("truth"), F.col("n")).otherwise(0)).alias("tp_t"),
    )
    by_pred = conf.groupBy(F.col("pred").alias("label")).agg(
        F.sum("n").alias("n_pred")
    )
    rep = (
        by_truth.join(by_pred, "label", "full_outer")
        .select(
            "label",
            F.coalesce("n_truth", F.lit(0)).cast("long").alias("n_truth"),
            F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
            F.coalesce("tp_t", F.lit(0)).cast("long").alias("tp"),
        )
    )
    return rep.select(
        "label",
        "n_truth",
        "n_pred",
        "tp",
        F.expr(
            "CAST(CASE WHEN n_pred = 0 THEN NULL"
            " ELSE (tp * 1000000) div n_pred END AS BIGINT)"
        ).alias("precision_ppm"),
        F.expr(
            "CAST(CASE WHEN n_truth = 0 THEN NULL"
            " ELSE (tp * 1000000) div n_truth END AS BIGINT)"
        ).alias("recall_ppm"),
        F.expr(
            "CAST(CASE WHEN n_truth + n_pred = 0 THEN NULL"
            " ELSE (2 * tp * 1000000) div (n_truth + n_pred) END AS BIGINT)"
        ).alias("f1_ppm"),
    ).orderBy("label")
