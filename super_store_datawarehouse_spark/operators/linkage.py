"""Record linkage: blocked fuzzy matching on string keys.

The naive formulation — every left row against every right row with an
edit-distance filter — is a cross join: O(|L|·|R|) comparisons, dead at
any scale. The standard fix (Fellegi-Sunter era onward) is *blocking*:
an equi-joinable surrogate key cheap enough that true matches almost
always share it, so the quadratic comparison runs only within blocks.
Here the block key is the first character, with a length-band residual
predicate; both sides shuffle once on the block key and Catalyst plans
a plain hash/sort-merge equi-join. Skewed blocks (one hot first letter)
can be composed with ``operators.skew`` salting like any other skewed
equi-join.

Everything is built-in expressions (``levenshtein``, ``substring``,
``length``) — JVM codegen, no Python in the hot path — and DuckDB has
the same functions with identical semantics, so linkage results are
fully value-oracled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def blocked_fuzzy_link(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_text: str,
    right_id: str,
    right_text: str,
) -> DataFrame:
    """Link each left row to its closest right row within edit distance 2,
    comparing only candidates that share a block (same first character,
    length within 2).

    Returns (l_id, l_text, r_id, r_text, dist): a deterministic top-1 per
    left row (min distance, ties by right text then right id).

    Recall contract: a true match is missed only if the edit touched the
    first character or changed the length beyond the band — the classic
    blocking trade-off; run a second pass with a different block key
    (e.g. last character) and union for higher recall.
    """
    max_dist, len_band = 2, 2
    l = left.select(
        F.col(left_id).alias("l_id"),
        F.col(left_text).alias("l_text"),
        F.substring(left_text, 1, 1).alias("blk"),
        F.length(left_text).alias("l_len"),
    )
    r = right.select(
        F.col(right_id).alias("r_id"),
        F.col(right_text).alias("r_text"),
        F.substring(right_text, 1, 1).alias("blk"),
        F.length(right_text).alias("r_len"),
    )
    cand = (
        l.join(r, "blk")
        .filter(F.abs(F.col("l_len") - F.col("r_len")) <= len_band)
        .withColumn("dist", F.levenshtein("l_text", "r_text"))
        .filter(F.col("dist") <= max_dist)
    )
    w = Window.partitionBy("l_id").orderBy("dist", "r_text", "r_id")
    return (
        cand.withColumn("match_rank", F.row_number().over(w))
        .filter(F.col("match_rank") == 1)
        .select("l_id", "l_text", "r_id", "r_text", "dist")
    )


def edit1_pairs(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """All pairs within Levenshtein distance 1, EXACTLY, without the
    all-pairs join: FastSS deletion neighborhoods (Bocek et al. 2007).

    For k=1 the neighborhood U(s) = {s} ∪ {s minus one character} is a
    complete candidate filter: lev(s,t) ≤ 1 ⟺ U(s) ∩ U(t) ≠ ∅
    (equality shares s itself; a substitution at position i shares the
    i-deleted string; an insertion shares the shorter string). So
    candidates come from ONE equi-join on the exploded variants —
    O(n·L) rows, L = string length — and the exact ``levenshtein``
    verify runs on candidates only. The round-10 sf10 sweep timed the
    naive inequality join out at >600 s on 100k names; this form is
    equi-join + verify, linear in n·L, same rows bit-for-bit, and every
    step (substring surgery, join, verify) is plain SQL both engines
    share. Variant-bucket skew is bounded by construction: a bucket is
    one specific string value, shared only by names one edit apart.

    Returns (id_a, id_b, text_a, text_b, dist) with id_a < id_b, one
    row per pair.
    """
    variants = df.select(
        F.col(id_col).alias("k"),
        F.col(text_col).alias("t"),
        F.explode(
            F.concat(
                F.array(F.col(text_col)),
                F.expr(
                    f"transform(sequence(1, length({text_col})),"
                    f" i -> concat(substring({text_col}, 1, i-1),"
                    f"             substring({text_col}, i+1, length({text_col}))))"
                ),
            )
        ).alias("v"),
    )
    cand = (
        variants.alias("a")
        .join(variants.alias("b"), ["v"])
        .filter(F.col("a.k") < F.col("b.k"))
        .select(
            F.col("a.k").alias("id_a"),
            F.col("b.k").alias("id_b"),
            F.col("a.t").alias("text_a"),
            F.col("b.t").alias("text_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    dist = F.levenshtein(F.col("text_a"), F.col("text_b"))
    return cand.filter(dist <= 1).withColumn("dist", dist.cast("int"))
