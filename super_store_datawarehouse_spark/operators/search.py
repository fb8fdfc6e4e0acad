"""Inverted-index construction and positional phrase search.

The retrieval side of a training-data pipeline: build term posting
lists over the corpus (the index a RAG / contamination-lookup service
serves), answer phrase queries by positional equi-joins on those
postings, and score documents by corpus-frequency rarity (the cheap
perplexity proxy used for quality bucketing).

Everything is native Column expressions over one positional explode of
the tokenization — no Python in the loop, and every output value is
integer or a single int/int double division, so the DuckDB oracles
compare bit-exact.

No counterpart in the reference (reference core is etl.py + 13 MySQL
queries over retail facts); this extends the engine toward the
LLM-data-pipeline surface the build brief asks for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from super_store_datawarehouse_spark.operators.dedup import (
    _cache_if_corpus_scale,
    _widen_narrow_scan,
)
from super_store_datawarehouse_spark.operators.text import words


def token_postings(df: DataFrame) -> DataFrame:
    """(doc_id, pos, term) rows — the map-side expansion an indexer
    shuffles. Pure explode: ~n_tokens rows out per document, no shuffle
    of its own (the narrow-scan widen guard from the shingle path
    applies, since the explode multiplies row count ~50-500×)."""
    base = _widen_narrow_scan(df).select(
        F.col("doc_id"), words("text").alias("__ws")
    )
    # outer explode + null-filter (see dedup.word_shingles): an inner
    # explode's inferred `size>0` filter would re-inline the tokenization
    return (
        base.select("doc_id", F.posexplode_outer("__ws").alias("pos", "term"))
        .filter(F.col("term").isNotNull())
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "term")
    )


def inverted_index(df: DataFrame, postings_head: int = 5) -> DataFrame:
    """Per-term posting-list summary: document frequency, collection
    frequency, first document, and the head of the (doc_id, pos)-sorted
    posting list rendered ``doc:pos`` (an ordered-collect exercised
    end-to-end — the full sorted list is materialized per term, which IS
    the index payload; only the head is projected out here).

    One shuffle on the term key with partial aggregation. Skew note: at
    web scale, stopword terms concentrate posting mass on few keys —
    production indexers cap or block-split hot lists (the df-cap /
    stop-list guard, same shape as the stop-shingle guard in
    ``dedup.longest_shared_spans``); the summary stats here aggregate
    scalably either way.
    """
    p = token_postings(df)
    postings = F.slice(
        F.sort_array(F.collect_list(F.struct("doc_id", "pos"))), 1, postings_head
    )
    return p.groupBy("term").agg(
        F.count_distinct("doc_id").alias("df"),
        F.count(F.lit(1)).alias("cf"),
        F.min("doc_id").alias("first_doc"),
        F.array_join(
            F.transform(
                postings, lambda s: F.concat_ws(":", s["doc_id"], s["pos"])
            ),
            ",",
        ).alias("postings_head"),
    )


def phrase_matches(df: DataFrame, phrase: DataFrame) -> DataFrame:
    """Occurrences per document of an n-term phrase, by positional join.

    ``phrase`` is a 1-row frame with a space-separated ``phrase``
    column (so the phrase may itself be computed — e.g. the corpus's
    top trigram). The classic index-side plan, no document rescan:

    1. explode the phrase into (offset, term) rows (k rows, broadcast);
    2. hash-join postings ⋈ phrase-terms on ``term`` — only postings of
       the k phrase terms survive the join (at scale this is the
       posting-list fetch; a term occurring at several phrase offsets
       fans out once per offset, handling repeated-word phrases);
    3. anchor = pos − offset; an anchor where ALL k offsets are present
       is a verbatim phrase occurrence — one groupBy(doc, anchor).

    Output: (doc_id, phrase, n_occurrences), docs with ≥1 occurrence.
    """
    # the phrase goes through the SAME normalization as the postings
    # (words(): lowercase, \s+ split, empties dropped) — a raw
    # single-space split would leave "New York" or doubled spaces
    # silently matching nothing against the lowercased index
    terms = phrase.select(
        "phrase",
        F.posexplode_outer(words("phrase")).alias("off", "term"),
    ).filter(F.col("term").isNotNull()).select(
        "phrase", F.col("off").cast("long").alias("off"), "term"
    )
    k = F.count_distinct("off")
    p = token_postings(df)
    hits = p.join(F.broadcast(terms), "term").select(
        "doc_id", "phrase", (F.col("pos") - F.col("off")).alias("anchor"), "off"
    )
    n_terms = F.size(words(F.col("phrase")))
    occurrences = (
        hits.groupBy("doc_id", "phrase", "anchor")
        .agg(k.alias("n_off"))
        .filter(F.col("n_off") == n_terms)
    )
    return occurrences.groupBy("doc_id", "phrase").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )


def bm25_scores_multi(df: DataFrame, queries: DataFrame) -> DataFrame:
    """Integer BM25 scores for a batch of queries in one pass.

    ``queries`` is a (query_id, term) frame — one row per query term,
    already normalized the way :func:`~.text.words` normalizes (single
    lowercase tokens). The scoring is the fixed-point BM25 formulation
    (RSJ odds ratio ×1000 in place of the transcendental log, trunc-div
    saturation/length terms) generalized to many queries: tf/df/dl are
    computed ONCE over the union of all query terms and each query sums
    only its own terms' contributions, so adding queries adds broadcast
    rows, not corpus scans. Output: (query_id, doc_id, score_micro) for
    every document containing ≥1 term of the query.

    Plan: posting tf agg (one term-key shuffle) → tiny df/const
    broadcasts → broadcast fan-out to query ids → one (query, doc) hash
    agg. Same 100 TB shape as TF-IDF (q44).
    """
    k1_milli, b_milli = 1200, 750
    qterms = queries.select("query_id", "term")
    # the postings explode feeds BOTH dl and tf — NO cache (same
    # convention as dedup.weighted_jaccard_pairs): each branch fuses
    # the tokenize+explode into its own map stage, which is an order
    # of magnitude cheaper than building and re-reading the in-memory
    # columnar cache (~45 us/row to build; reads contend under wide
    # task concurrency)
    p = token_postings(df)
    dl = p.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tf = (
        p.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfw = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    consts = (
        df.agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(dl.agg(F.sum("dl").alias("sumdl")))
        .withColumn("avgdl_s", F.expr("(sumdl * 1000) div n"))
    )
    k1p = k1_milli + 1000
    bc = 1000 - b_milli
    bs = b_milli * 1000
    return (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dfw), "term")
        .join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(consts))
        .withColumn(
            "score_term",
            F.expr(
                f"(((((n - df) * 1000 + 500) * 1000) div (df * 1000 + 500))"
                f" * tf * {k1p})"
                f" div (tf * 1000"
                f"      + ({k1_milli} * ({bc} + ({bs} * dl) div avgdl_s))"
                f"        div 1000)"
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("score_term").cast("long").alias("score_micro"))
    )


def top_ngram(df: DataFrame) -> DataFrame:
    """The corpus's most frequent word n-gram as a 1-row frame
    (count desc, gram asc tie-break — deterministic on any engine).
    Feeds :func:`phrase_matches` as a data-derived query phrase."""
    n = 3
    base = _widen_narrow_scan(df).select(
        F.col("doc_id"), words("text").alias("__ws")
    )
    w = F.col("__ws")
    grams = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda s: F.concat_ws(" ", F.slice(w, s, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        base.select(F.explode_outer(grams).alias("phrase"))
        .filter(F.col("phrase").isNotNull())
        .groupBy("phrase")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("phrase"))
        .limit(1)
        .select("phrase")
    )


def bigram_surprise(df: DataFrame) -> DataFrame:
    """Per-document mean bigram surprise — the integer stand-in for
    bigram-LM perplexity (CCNet-style quality filtering scores each doc
    under a corpus LM and keeps the low-perplexity tail; here the LM is
    the corpus itself and the "surprise" of an occurrence of bigram
    (w1,w2) is the inverse conditional frequency c(w1)/c(w1,w2), scaled
    ×1000 and trunc-divided so every value is exact int64).

    c(w1) counts w1 as a HISTORY (i.e. occurrences of bigrams starting
    with w1), so surprise_milli ≥ 1000 always and equals 1000/p(w2|w1)
    exactly. Documents with fewer than 2 tokens have no bigrams and are
    absent from the output.

    Plan: one bound-column bigram explode (no re-tokenization per
    element — the lambda-recompute rule), one bigram-key count shuffle,
    one broadcast of the unigram-history counts (|vocab| rows, small by
    Heaps' law), one doc-key groupBy. The bigram-count join shuffles on
    the bigram key — the standard LM-training shape.
    """
    base = _widen_narrow_scan(df).select(
        F.col("doc_id"), words("text").alias("__ws")
    )
    w = F.col("__ws")
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda s: F.struct(
                F.element_at(w, s).alias("w1"),
                F.concat_ws(" ", F.slice(w, s, 2)).alias("bigram"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,bigram:string>>"))
    occ = (
        base.select("doc_id", F.explode_outer(bigrams).alias("bg"))
        .filter(F.col("bg").isNotNull())
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.bigram").alias("bigram"))
    )
    # feeds c2, c1 AND the scored join — size-conditionally cached
    # (dedup._cache_if_corpus_scale): per-branch fused explodes win at
    # toy scale, the cache wins at corpus scale (sf10: 38 s uncached vs
    # 29.5 s for the round-7 cached form)
    occ = _cache_if_corpus_scale(occ, df)
    c2 = occ.groupBy("bigram").agg(F.count(F.lit(1)).alias("c2"))
    c1 = occ.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    scored = (
        occ.join(c2, "bigram")
        .join(F.broadcast(c1), "w1")
        .withColumn("surprise_milli", F.expr("(1000 * c1) div c2"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("surprise_milli").alias("sum_surprise_milli"),
        F.expr("sum(surprise_milli) div count(1)").alias("mean_surprise_milli"),
    )


def token_rarity(df: DataFrame) -> DataFrame:
    """Corpus-frequency-rank rarity score per document — the integer
    stand-in for unigram-LM perplexity (quality pipelines bucket docs by
    "how unusual are its words" before spending model-based scoring).

    Every vocabulary term gets a unique rank by (corpus count desc,
    term asc) — rank 1 is the most common word, so a HIGH mean rank
    means a rare-word-heavy document. Because the ordering is total,
    ranks identify terms uniquely and the per-doc argmax (rarest term)
    is deterministic without tie-break gymnastics.

    Plan: token counts (one term-key shuffle), a rank window over the
    VOCABULARY frame (single partition — safe because |vocab| ≪ corpus
    by Heaps' law; at true web scale, range-partition the rank by count
    bands), broadcast join back to tokens, one doc-key groupBy.
    ``mean_rank`` is a single int/int double division — bit-exact.
    """
    p = token_postings(df)
    vocab = p.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = vocab.select(
        "term",
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), F.col("term")))
        .cast("long")
        .alias("rank"),
    )
    per_doc = p.join(F.broadcast(ranked), "term").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum("rank").alias("rank_sum"),
        F.max(F.struct("rank", "term")).alias("__rarest"),
    )
    return per_doc.select(
        "doc_id",
        "n_tok",
        "rank_sum",
        F.try_divide(
            F.col("rank_sum").cast("double"), F.col("n_tok").cast("double")
        ).alias("mean_rank"),
        F.col("__rarest.term").alias("rarest_term"),
        F.col("__rarest.rank").alias("rarest_rank"),
    )
