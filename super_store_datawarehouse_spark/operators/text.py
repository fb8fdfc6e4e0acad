"""Text-analysis operators for large-scale corpus pipelines.

Everything here is a native Column expression — at 100 TB these run
inside whole-stage codegen with zero Python in the loop. Determinism
notes matter because these feed the oracle-verified harness: ratios are
integer/integer divisions and fingerprints are pure integer folds, so
Spark and any ANSI engine agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny embedded English stopword list — enough for a ratio heuristic;
# a production pipeline would broadcast a fuller per-language list.
EN_STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")

# BPE-ish token pattern: letter runs, single digits, single punctuation.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

POLY_MOD = 1_000_000_007
POLY_BASE = 31


def words(text: Column | str) -> Column:
    """Whitespace tokenization of lowercased text. Empty/whitespace-only
    text yields an empty array (split alone would yield [''], giving
    empty docs a phantom token in every downstream count/signature)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda x: x != "")


def token_count_ws(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(words(text))


def token_count_bpe(text: Column | str) -> Column:
    """BPE-ish token count: letter runs + digits + punctuation marks."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(BPE_TOKEN_PATTERN))


def stopword_ratio(text: Column | str) -> Column:
    """Fraction of whitespace tokens that are known stopwords.

    Integer/integer division — bit-exact across engines.
    """
    w = words(text)
    hits = F.size(F.filter(w, lambda x: x.isin(*EN_STOPWORDS)))
    # NULL for empty docs rather than an ANSI divide-by-zero abort
    return F.try_divide(hits.cast("double"), F.size(w).cast("double"))


def lang_id(text: Column | str) -> Column:
    """N-gram-free language-ID heuristic: English-stopword density.

    A production version extends this to per-language marker lists and
    character-class votes (CJK ranges → zh/ja, diacritics → eu langs);
    the decision structure stays a CASE expression either way.
    """
    en_threshold = 0.05
    c = F.col(text) if isinstance(text, str) else text
    return (
        F.when(c.rlike("[一-鿿]"), F.lit("zh"))
        .when(stopword_ratio(c) > en_threshold, F.lit("en"))
        .otherwise(F.lit("other"))
    )


def punct_count(text: Column | str) -> Column:
    """Number of punctuation characters."""
    c = F.col(text) if isinstance(text, str) else text
    return F.length(c) - F.length(F.regexp_replace(c, r"[.!?,;:]", ""))


def quality_components(text: Column | str) -> dict[str, Column]:
    """Deterministic quality-signal components for a document column.

    Returned as named expressions so callers pick their own weighting;
    each is an integer or an integer/integer quotient.
    """
    c = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(c)
    n_tokens = token_count_ws(c)
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        # NULL components for empty docs (try_divide) — quality_keep's
        # comparisons treat NULL as not-keep, which is the right call
        "avg_token_len": F.try_divide(n_chars.cast("double"), n_tokens.cast("double")),
        "stopword_ratio": stopword_ratio(c),
        "punct_ratio": F.try_divide(punct_count(c).cast("double"), n_chars.cast("double")),
    }


def quality_keep(text: Column | str) -> Column:
    """Keep/drop classification from integer-threshold rules (no float
    edges): at least 10 tokens, of at most 12 characters on average."""
    min_tokens, max_avg_token_len = 10, 12.0
    comps = quality_components(text)
    return (
        (comps["n_tokens"] >= min_tokens) & (comps["avg_token_len"] <= max_avg_token_len)
    )


def poly_fingerprint(text: Column | str) -> Column:
    """Rolling polynomial hash of the first 64 characters.

    ``h = fold(h*31 + ascii(ch)) mod 1e9+7`` — pure bigint arithmetic, so
    any engine computes the identical fingerprint (unlike xxhash/murmur,
    which differ per engine). Used for cheap document-prefix bucketing.
    """
    prefix_len = 64
    c = F.col(text) if isinstance(text, str) else text
    chars = F.split(F.substring(c, 1, prefix_len), "")
    codes = F.transform(chars, lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        codes,
        F.lit(7).cast("long"),
        lambda h, code: (h * POLY_BASE + code) % POLY_MOD,
    )


def chunk_words(text: Column | str, presplit: bool = False) -> Column:
    """Overlapping fixed-word-count chunks for LLM context windows.

    Returns array<struct<chunk_no, chunk_text, n_words>> — explode it for
    one row per chunk. Chunk i holds the 50 words from word i·40, so
    neighbours overlap by 10 words; the tail chunk may be short. Pure array
    expressions (sequence → slice → array_join): codegen'd, no Python,
    and reproducible in any engine with list slicing.

    ``presplit=True`` treats ``text`` as an already-tokenized
    array<string> column. Prefer projecting ``words(text)`` to a bound
    column first and passing that: the transform lambda below references
    the word array per chunk, and a lambda body re-evaluates captured
    EXPRESSIONS per element — an inline regex split would re-run once
    per chunk (the word_shingles lesson, ~2 slices x len/stride chunks).
    """
    chunk_size, stride = 50, 40
    w = (F.col(text) if isinstance(text, str) else text) if presplit else words(text)
    starts = F.sequence(F.lit(1), F.greatest(F.size(w), F.lit(1)), F.lit(stride))
    return F.transform(
        starts,
        lambda s, i: F.struct(
            i.cast("long").alias("chunk_no"),
            F.array_join(F.slice(w, s, chunk_size), " ").alias("chunk_text"),
            F.size(F.slice(w, s, chunk_size)).cast("long").alias("n_words"),
        ),
    )


# Scrub patterns use only char classes, +, and literal chars — the subset
# where Java regex (Spark) and RE2 (DuckDB/Go tooling) agree exactly.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+"
URL_PATTERN = r"https?://[A-Za-z0-9./_%@-]+"


def scrub_pii(text: Column | str) -> Column:
    """Replace emails and URLs with placeholder tokens — the standard
    pre-training scrub pass. Native regexp_replace chain: codegen'd,
    no Python, ~scan speed.

    URLs are replaced FIRST: a userinfo-form URL (https://user@host/p)
    contains an email-shaped substring, and scrubbing that first would
    break the URL match and leak the scheme/host/path remnants.
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(
        F.regexp_replace(c, URL_PATTERN, "<URL>"), EMAIL_PATTERN, "<EMAIL>"
    )


def pii_counts(text: Column | str) -> dict[str, Column]:
    """How many emails/URLs a scrub pass would replace (audit metric)."""
    c = F.col(text) if isinstance(text, str) else text
    return {
        "n_emails": F.size(F.regexp_extract_all(c, F.lit(EMAIL_PATTERN), F.lit(0))),
        "n_urls": F.size(F.regexp_extract_all(c, F.lit(URL_PATTERN), F.lit(0))),
    }


# Per-language stopword lists (tiny, deterministic). A production list is
# longer; what the engine demonstrates is the *mechanism*: auxiliary
# per-group vocabulary distributed as a broadcast lookup table, so the
# hit-count runs JVM-side with zero shuffle added to the scan.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": EN_STOPWORDS,
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"),
    "fr": ("le", "la", "les", "de", "des", "et", "est", "un", "une", "dans"),
    "es": ("el", "la", "los", "las", "de", "y", "es", "un", "una", "en"),
}


def stopword_hits_by_lang(docs: DataFrame) -> DataFrame:
    """Per-document stopword hits using the language's own stopword list.

    The lists live in a 4-row (lang, stops) DataFrame broadcast to every
    executor — the idiomatic way to ship per-group vocabulary without a
    shuffle (at 100 TB the documents scan is untouched; the join adds a
    BroadcastHashJoin). Languages without a list (e.g. zh, where
    whitespace tokens are not words) count 0 hits.
    """
    spark = docs.sparkSession
    rows = [(lang, list(ws)) for lang, ws in sorted(LANG_STOPWORDS.items())]
    lookup = spark.createDataFrame(rows, "lang string, stops array<string>")
    w = words(F.col("text"))
    empty = F.array().cast("array<string>")
    return (
        docs.join(F.broadcast(lookup), docs["lang"] == lookup["lang"], "left")
        .drop(lookup["lang"])
        .withColumn("stops", F.coalesce("stops", empty))
        .withColumn("n_tokens", F.size(w).cast("long"))
        .withColumn(
            "n_stop_hits",
            F.size(
                F.filter(w, lambda x: F.array_position(F.col("stops"), x) > 0)
            ).cast("long"),
        )
        .drop("stops")
    )


def bpe_learn(words: DataFrame):
    """Learn the first 3 byte-pair-encoding merges from a
    (word, frequency) table — Sennrich et al. 2016's tokenizer-training
    loop, distributed.

    Each word becomes a symbol sequence encoded as a single string with
    double-space separators and single-space padding (`` q  u  e  r  y ``).
    Per merge round: one shuffle counts adjacent symbol pairs weighted
    by word frequency, the driver takes the single winning pair (a
    1-row collect — inherent to the algorithm, like k-means centroid
    updates), and a literal ``replace`` applies the merge everywhere.
    The delimiter scheme makes scanning left-to-right non-overlapping
    replace IDENTICAL to reference BPE's greedy merge ("a a a" with
    pair (a,a) → "(aa) a"), and replays bit-for-bit in any SQL engine.

    Scale: state per round is the (shrinking) word table — never the
    corpus — and each round is one hash-agg + one map. ``localCheckpoint``
    caps the lineage across rounds. Returns (merges_df, final_seqs)
    where merges_df has (merge_rank, left_sym, right_sym, pair_freq).
    """
    spark = words.sparkSession
    seq = words.select(
        F.col("w"),
        F.concat(
            F.lit(" "),
            F.array_join(F.split(F.col("w"), ""), "  "),
            F.lit(" "),
        ).alias("s"),
        F.col("freq").cast("long").alias("freq"),
    ).localCheckpoint()
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, 4):
        top = (
            seq.selectExpr("freq", "split(trim(s), '  ') AS sy")
            .selectExpr(
                "freq",
                "explode(zip_with(sy, slice(sy, 2, size(sy)),"
                " (l, r) -> struct(l, r))) AS p",
            )
            .filter("p.r IS NOT NULL")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, cnt = top[0]["l"], top[0]["r"], top[0]["cnt"]
        merges.append((rank, l, r, cnt))
        seq = seq.withColumn(
            "s",
            F.replace("s", F.lit(f" {l}  {r} "), F.lit(f" {l}{r} ")),
        ).localCheckpoint()
    merges_df = spark.createDataFrame(
        merges, "merge_rank long, left_sym string, right_sym string, pair_freq long"
    )
    return merges_df, seq


CDC_MOD = 1_000_000_007


def cdc_chunks(df: DataFrame) -> DataFrame:
    """Content-defined chunking at word granularity (Rabin-style): a
    rolling polynomial hash over the trailing ``window`` words places a
    chunk boundary wherever the hash is divisible by ``divisor`` —
    boundaries therefore depend only on LOCAL content, so an insertion
    early in a document shifts at most one chunk instead of re-aligning
    every fixed-width block (the property fixed-size chunking lacks and
    the reason CDC is the practical granularity for sub-document
    dedup). Mean chunk length ≈ ``divisor`` words.

    Everything is native array expressions over portable integer
    arithmetic (char fold mod 1e9+7 — the q13/x178 contract), so the
    full segmentation is value-reproducible in the SQL oracle. Output:
    (doc_id, chunk_idx, chunk_text); chunk texts concatenate back to
    the exact word sequence (pinned by test — chunking is lossless).

    Scale: per-doc work is O(words · window) inside one codegen'd
    projection — no shuffle until the caller aggregates chunks.
    """
    window, divisor = 4, 16
    w = words("text")
    code = lambda ch: F.ascii(ch).cast("long")
    fold = lambda h, c: (h * 31 + c) % F.lit(CDC_MOD)
    hw = F.transform(
        w,
        lambda t: F.aggregate(
            F.transform(F.split(t, ""), code), F.lit(7).cast("long"), fold
        ),
    )
    base = df.select(
        F.col("doc_id"), w.alias("ws"), hw.alias("hw")
    ).filter(F.size("ws") > 0)
    n = F.size("ws")
    idx = F.sequence(F.lit(0), n - 1)
    win_hash = lambda j: F.aggregate(
        F.slice("hw", j - window + 2, window), F.lit(0).cast("long"), fold
    )
    bpos = F.filter(
        idx,
        lambda j: (j >= window - 1)
        & (j < n - 1)
        & (win_hash(j) % divisor == 0),
    )
    seg = base.select(
        "doc_id",
        "ws",
        F.concat(F.array(F.lit(-1)), bpos).alias("starts"),
        F.concat(bpos, F.array(n - 1)).alias("ends"),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), F.size("starts") - 1),
        lambda i: F.array_join(
            F.slice(
                "ws",
                F.element_at("starts", i + 1) + 2,
                F.element_at("ends", i + 1) - F.element_at("starts", i + 1),
            ),
            " ",
        ),
    )
    # outer explode + null-filter (see dedup.word_shingles): an inner
    # explode's inferred size>0 filter would re-inline the chunk transform
    return seg.select(
        "doc_id", F.posexplode_outer(chunks).alias("chunk_idx", "chunk_text")
    ).filter(F.col("chunk_text").isNotNull())


# Query parameters that never affect content identity — the standard
# tracking families stripped by every web-corpus canonicalizer.
TRACKING_PARAM_PATTERN = r"^(utm_|fbclid=|gclid=|msclkid=|ref=)"


def canonical_url(url: Column | str) -> Column:
    """Canonical form of a URL for dedup-by-URL (web-corpus pipelines
    key crawl dedup and domain-level policy on this form).

    Normalizations, all pure Column expressions (codegen'd, no UDF):

    * scheme and host lowercased; leading ``www.`` stripped
    * explicit default ports dropped (``:80`` for http, ``:443`` https)
    * fragment removed
    * trailing slashes on the path removed (``/docs/`` == ``/docs``)
    * tracking query params removed (``utm_*``, ``fbclid``, ``gclid``,
      ``msclkid``, ``ref``) and the survivors sorted byte-wise, so
      param order never splits a URL's identity

    The exact same steps are expressible in ANSI SQL (regexp_extract +
    list ops), which is what lets URL dedup carry a value oracle.
    """
    c = F.col(url) if isinstance(url, str) else url
    nofrag = F.regexp_replace(c, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(nofrag, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(nofrag, r"^[^:]+://([^/?]+)", 1))
    host = F.regexp_replace(hostport, r"^www\.", "")
    host = F.when(scheme == "http", F.regexp_replace(host, r":80$", "")).otherwise(
        F.when(scheme == "https", F.regexp_replace(host, r":443$", "")).otherwise(host)
    )
    path = F.regexp_replace(
        F.regexp_extract(nofrag, r"^[^:]+://[^/?]+(/[^?]*)?", 1), r"/+$", ""
    )
    query = F.regexp_extract(nofrag, r"\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_PATTERN),
        )
    )
    qs = F.array_join(params, "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )


UNIGRAM_PIECE_PENALTY = 1_000_000
UNIGRAM_COUNT_CAP = 100_000
UNIGRAM_MAX_PIECE = 4


def unigram_segment(df: DataFrame) -> DataFrame:
    """Unigram-LM-style subword segmentation by exact Viterbi DP — the
    SentencePiece decoding step (Kudo 2018), distributed, integer-exact.

    The piece inventory is every substring of length 1..``UNIGRAM_MAX_PIECE``
    observed in the corpus, scored by total occurrence count weighted by
    word frequency. Real unigram LM minimizes Σ −log p(piece); floats
    don't replay bit-for-bit across engines, so the cost is the integer
    surrogate ``PENALTY − min(count, CAP)`` per piece: fewer pieces
    dominate (the penalty), then more frequent pieces, ties broken by
    the lexicographically smallest segmentation — fully deterministic
    in any engine.

    Plan shape (no driver loop, no UDF):

    1. piece counts: explode each word's substrings, weight by word
       frequency, one hash agg — O(len·max_piece) rows per word;
    2. per-word piece map: re-explode distinct, join counts, collapse
       to a bound ``map<piece,cost>`` column — each word carries
       exactly the costs its DP can touch;
    3. Viterbi: ONE ``aggregate`` fold over char positions per word.
       The accumulator is the growing array of per-prefix best states
       ``struct(cost, np, seg)``; position i extends the best of
       j ∈ [i−max_piece, i−1]. Every reference inside the fold is to
       BOUND columns (``__w``, ``__pm``) — the word_shingles lesson.

    Returns (word, freq, seg, n_pieces, cost); ``seg`` joins pieces
    with single spaces and concatenates back to the word exactly.
    """
    max_piece = UNIGRAM_MAX_PIECE
    # Collapse duplicate words up front (freqs sum). Without this, the
    # piece-map dropDuplicates([__w, piece]) below would arbitrarily
    # assign each piece to ONE of the duplicate (__w, __f) groups; the
    # other group's map would be incomplete, element_at returns NULL,
    # and the DP output turns nondeterministic.
    base = (
        df.select(
            F.col("w").alias("__w"),
            F.col("freq").cast("long").alias("__f"),
        )
        .groupBy("__w")
        .agg(F.sum("__f").alias("__f"))
    )

    def piece_rows(src: DataFrame) -> DataFrame:
        ln = F.length("__w")
        return src.select(
            "__w",
            "__f",
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), ln),
                        lambda j: F.transform(
                            F.sequence(
                                F.lit(1), F.least(F.lit(max_piece), ln - j + 1)
                            ),
                            lambda l: F.substring(F.col("__w"), j, l),
                        ),
                    )
                )
            ).alias("piece"),
        )

    counts = (
        piece_rows(base)
        .groupBy("piece")
        .agg(F.sum("__f").alias("cnt"))
        .select(
            "piece",
            (
                F.lit(UNIGRAM_PIECE_PENALTY)
                - F.least(F.col("cnt"), F.lit(UNIGRAM_COUNT_CAP))
            ).cast("long").alias("pcost"),
        )
    )
    with_map = (
        piece_rows(base)
        .dropDuplicates(["__w", "piece"])
        .join(counts, "piece")
        .groupBy("__w", "__f")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("piece", "pcost"))).alias(
                "__pm"
            )
        )
    )

    def state(cost, np, seg):
        return F.struct(
            cost.cast("long").alias("cost"),
            np.cast("long").alias("np"),
            seg.alias("seg"),
        )

    zero_acc = F.array(state(F.lit(0), F.lit(0), F.lit("")))
    sentinel = state(F.lit(1 << 62), F.lit(1 << 62), F.lit(""))

    def better(a, b):
        return F.when(
            (a["cost"] < b["cost"])
            | ((a["cost"] == b["cost"]) & (a["np"] < b["np"]))
            | (
                (a["cost"] == b["cost"])
                & (a["np"] == b["np"])
                & (a["seg"] < b["seg"])
            ),
            a,
        ).otherwise(b)

    w = F.col("__w")
    pm = F.col("__pm")

    def step(acc, i):
        def cand(l):
            start = (i - l + 1).cast("int")
            prev = F.element_at(acc, start)
            piece = F.substring(w, start, l.cast("int"))
            return state(
                prev["cost"] + F.element_at(pm, piece),
                prev["np"] + 1,
                F.concat(
                    prev["seg"],
                    F.when(prev["np"] > 0, F.lit(" ")).otherwise(F.lit("")),
                    piece,
                ),
            )

        cands = F.transform(
            F.sequence(F.lit(1), F.least(F.lit(max_piece), i)), cand
        )
        best = F.aggregate(cands, sentinel, lambda b, c: better(c, b))
        return F.concat(acc, F.array(best))

    final = F.element_at(
        F.aggregate(F.sequence(F.lit(1), F.length(w)), zero_acc, step),
        F.length(w).cast("int") + 1,
    )
    return with_map.select(
        F.col("__w").alias("word"),
        F.col("__f").alias("freq"),
        final["seg"].alias("seg"),
        final["np"].alias("n_pieces"),
        final["cost"].alias("cost"),
    )


# Gopher-style repetition thresholds (Rae et al. 2021, table A1): a doc
# whose top 2-gram covers >20% of its characters, or >60% of whose
# 3-gram occurrences are duplicated grams, is flagged repetitive.
REPETITION_TOP_CHAR_FRAC = 0.20
REPETITION_DUP_FRAC = 0.60


def repetition_signals(df: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals per document.

    Rae et al. 2021 (Gopher, appendix A1.1) and Penedo et al. 2023
    (RefinedWeb) drop documents whose character mass concentrates in a
    few repeated n-grams — boilerplate, keyword stuffing, decoding
    loops. Two signals per document:

    * ``top_ngram_char_frac`` — characters covered by occurrences of
      the single most frequent ``top_n``-gram (count × gram length,
      space-joined) over the normalized character count. Ties on count
      break lexicographically on the gram, so any engine picks the
      same winner.
    * ``dup_ngram_frac`` — fraction of ``dup_n``-gram occurrences whose
      gram occurs more than once in the document (NULL when the doc is
      shorter than ``dup_n`` words).
    * ``repetitive`` — the Gopher gate over the two signals.

    Documents shorter than ``top_n`` words produce no output row (they
    have no n-grams to measure; length gates catch them earlier).

    Plan shape: one tagged positional explode (map-side), a partial-agg
    shuffle on (doc, n, gram), and one partial-agg shuffle on doc — all
    whole-stage-codegen hash aggregates, no window sort, no join, no
    Python. Two traps this formulation dodges, both measured at sf1:

    * explode_OUTER + null-filter, not inner explode — an inner explode
      makes InferFiltersFromGenerate add ``size(arr) > 0 AND
      isnotnull(arr)`` and filter-pushdown inlines the whole
      tokenize+transform expression into the pushed filter, tripling
      the map work (78 s -> 11 s for this operator);
    * the per-doc top gram is a plain MIN over ``lpad(BIG - cnt)·\\t·
      gram`` strings — min/max over a STRUCT falls out of codegen into
      interpreted ordering (+60 s over the same data).

    Both fractions are single int/int double divisions, so any
    IEEE-754 engine reproduces them bit-exactly; overlapping grams
    share characters (the standard Gopher approximation).
    """
    top_n, dup_n = 2, 3
    # narrow-scan widen guard, same as every sibling explode operator
    # (function-local import: dedup imports text at module level)
    from super_store_datawarehouse_spark.operators.dedup import _widen_narrow_scan

    base = _widen_narrow_scan(df).select(
        F.col("doc_id"), words("text").alias("__ws")
    )
    w = F.col("__ws")

    def grams(n: int) -> Column:
        # bound-column lesson: `w` is an attribute reference, evaluated
        # once per row, not once per gram
        return F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - (n - 1)),
                lambda s: F.struct(
                    F.lit(n).alias("n"),
                    F.concat_ws(" ", F.slice(w, s, n)).alias("g"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<n:int,g:string>>"))

    bound = base.select(
        "doc_id",
        # bound BEFORE the generate: an expression here would be
        # re-evaluated once per exploded gram row, not once per doc
        F.length(F.concat_ws(" ", w)).alias("__nc"),
        F.concat(grams(top_n), grams(dup_n)).alias("__tg"),
    )
    tagged = bound.select(
        "doc_id", "__nc", F.explode_outer("__tg").alias("t")
    ).filter(F.col("t").isNotNull())
    counts = tagged.groupBy(
        "doc_id", "__nc", F.col("t.n").alias("n"), F.col("t.g").alias("g")
    ).agg(F.count(F.lit(1)).alias("cnt"))

    big = 1_000_000_000
    # (count desc, gram asc) as ONE orderable string: min picks the
    # largest count, then the lexicographically smallest gram. \t is
    # safe — words() tokens are \S+ so grams never contain tabs.
    enc = F.concat(
        F.lpad((F.lit(big) - F.col("cnt")).cast("string"), 10, "0"),
        F.lit("\t"),
        F.col("g"),
    )
    is_top = F.col("n") == top_n
    is_dup = F.col("n") == dup_n
    out = counts.groupBy("doc_id", "__nc").agg(
        F.min(F.when(is_top, enc)).alias("__top_enc"),
        F.sum(
            F.when(is_dup & (F.col("cnt") >= 2), F.col("cnt")).otherwise(F.lit(0))
        ).alias("__dup_occ"),
        F.sum(F.when(is_dup, F.col("cnt")).otherwise(F.lit(0))).alias("__occ"),
    )
    top_g = F.substring(F.col("__top_enc"), 12, 1 << 20)
    top_cnt = (F.lit(big) - F.substring("__top_enc", 1, 10).cast("long")).cast("long")
    top_frac = F.try_divide(
        (top_cnt * F.length(top_g)).cast("double"), F.col("__nc").cast("double")
    )
    dup_frac = F.try_divide(
        F.col("__dup_occ").cast("double"),
        F.nullif(F.col("__occ"), F.lit(0)).cast("double"),
    )
    return out.select(
        "doc_id",
        top_g.alias("top_ngram"),
        top_cnt.alias("top_ngram_count"),
        top_frac.alias("top_ngram_char_frac"),
        dup_frac.alias("dup_ngram_frac"),
        (
            (top_frac > F.lit(REPETITION_TOP_CHAR_FRAC))
            | F.coalesce(dup_frac > F.lit(REPETITION_DUP_FRAC), F.lit(False))
        ).alias("repetitive"),
    )
