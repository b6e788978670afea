"""Text-analysis operators over a `documents(doc_id, text, ...)` table.

North-star extension operators (SURVEY.md §7 step 4): the reference's only
string work is templating/concat (SANEF_Uploader.py:288-292), but a
large-scale training-data pipeline needs language ID, quality scoring,
token counting, and fingerprinting. Everything here is built from native
`pyspark.sql.functions` — JVM-side, whole-stage-codegen'd, no Python in the
hot path — so it scales linearly with input splits (no shuffle except the
explicitly-grouped steps).

Determinism: all outputs are ints, strings, or single divisions of ints
(bit-identical across engines), so every operator is DuckDB-oracle-checkable.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cache import scoped_persist
from ..functions.numeric import davg, ratio

# Small per-language stopword lists for the n-gram/stopword language
# heuristic. Real deployments plug in fastText/CLD3 via a pandas UDF; the
# heuristic keeps the hot path JVM-side and oracle-checkable.
STOPWORDS = {
    "en": ("the", "a", "and", "of", "is", "to", "in", "that", "it", "for"),
    "es": ("el", "la", "los", "las", "de", "que", "y", "en", "un", "por"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "den"),
    "fr": ("le", "les", "des", "une", "et", "est", "que", "pour", "dans", "sur"),
}

# BPE-ish pre-tokenizer: letter runs, digit runs, single non-alnum marks.
# Kept regex-simple so Java (Spark) and RE2 (DuckDB oracle) agree.
BPE_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization as an array column."""
    return F.split(F.trim(text), "\\s+")


def exploded_tokens(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    spread_key: str | None = None) -> DataFrame:
    """(id, token) rows — the shared first stage for the grouped operators.
    A narrow explode: no shuffle until the downstream groupBy (r11: except
    when the input scan is under-parallel — catalog.spread_cpu_scan then
    spreads the PRE-explode doc rows so the tokenize+explode map work
    uses the whole session instead of one row-group task; a no-op at
    production file counts by construction).

    `spread_key` (r12): callers whose downstream aggregate is keyed on
    a superset of {id_col} (tfidf's (doc, token) tf build) pass
    spread_key=id_col so the spread, where it fires, also satisfies
    that aggregate's distribution (catalog.spread_cpu_scan key_col
    docs). Token-keyed consumers keep the round-robin default."""
    from ..catalog import spread_cpu_scan
    return spread_cpu_scan(df.select(id_col, text_col),
                           key_col=spread_key).select(
        id_col, F.explode(tokens(F.col(text_col))).alias("token"))


def token_stats(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Per-document token counting: whitespace tokens, BPE-ish subword
    count, letters, and mean token length. Pure per-row expressions —
    embarrassingly parallel at any scale."""
    t = F.col(text_col)
    # long, not int: DuckDB len()/length() return BIGINT and the oracle
    # schema comparison is strict on integer width
    n_tokens = F.size(tokens(t)).cast("long")
    n_letters = F.length(F.regexp_replace(t, "[^a-z]", "")).cast("long")
    return df.select(
        id_col,
        n_tokens.alias("n_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(BPE_TOKEN_RE), 0)).cast("long")
         .alias("n_bpe_tokens"),
        F.length(t).cast("long").alias("n_chars_measured"),
        n_letters.alias("n_letters"),
        ratio(n_letters, n_tokens).alias("avg_token_len"),
    )


def quality_score(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per-document quality heuristics: stopword ratio, unique-token ratio,
    length band -> a coarse good/short/repetitive/no-stopwords label
    (the C4/Gopher-style rule family).

    ZERO shuffles (r11, guide §2.4): every statistic is per-document, so
    the old explode -> groupBy(doc) -> count/sum/countDistinct — which
    exchanged every corpus token on doc_id and paid countDistinct's
    two-phase expand — collapses into per-row array expressions over ONE
    tokenize (size / size∘filter / size∘array_distinct). Identical
    integers: split() always yields >=1 element so the explode never
    dropped a doc, and a NULL text dropped out of explode(NULL) exactly
    as it drops out of the isNotNull guard here. Corpus tokens never
    leave their partitions — at 100 TB the operator is now a pure map.

    Caller contract (ADVICE r11): `id_col` must be unique per row. The
    pre-r11 groupBy(doc_id) would have merged duplicate ids into one
    combined row; the per-row plan emits one row per INPUT row. All
    fixtures and the DuckDB oracle (GROUP BY doc_id) assume unique ids,
    so the two shapes agree exactly there — feed deduped ids or the
    oracle and the engine diverge by construction. Purity trade-off
    (ADVICE r11): this pure map deliberately does NOT route through
    catalog.spread_cpu_scan — a single-row-group input runs the array
    work on one task, but adding the round-robin exchange would cost a
    full shuffle of the text bytes and break the zero-Exchange plan
    contract (explain_audit MUST_NOT) that matters at scale; callers
    with pathological one-file inputs should repartition upstream."""
    en = STOPWORDS["en"]
    arr = df.filter(F.col(text_col).isNotNull()).select(
        id_col, tokens(F.col(text_col)).alias("__arr"))
    a = F.col("__arr")
    per_doc = arr.select(
        id_col,
        F.size(a).cast("long").alias("n_tokens"),
        F.size(F.filter(a, lambda x: x.isin(*en))).cast("long")
         .alias("n_stop"),
        F.size(F.array_distinct(a)).cast("long").alias("n_unique"),
    )
    stop_ratio = ratio("n_stop", "n_tokens")
    uniq_ratio = ratio("n_unique", "n_tokens")
    label = (
        F.when(F.col("n_tokens") < 10, "too_short")
        .when(stop_ratio < 0.01, "no_stopwords")
        .when(uniq_ratio < 0.2, "repetitive")
        .otherwise("good")
    )
    return per_doc.select(
        id_col, "n_tokens", "n_stop", "n_unique",
        stop_ratio.alias("stop_ratio"),
        uniq_ratio.alias("uniq_ratio"),
        label.alias("quality"),
    )


def lang_id(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID with a deterministic argmax (fixed
    precedence en > es > de > fr on ties). Integer votes only.

    ZERO shuffles (r11, same rewrite as quality_score): the per-language
    vote is size(filter(tokens, isin(words))) per row — no explode, no
    token exchange, one tokenize shared by all four vote columns.
    Caller contract + purity trade-off (ADVICE r11): identical to
    quality_score — `id_col` unique per row (the per-row plan emits one
    row per input row where the old groupBy merged duplicates), and no
    spread_cpu_scan (the zero-Exchange contract outranks under-parallel
    single-file inputs; repartition upstream if needed)."""
    arr = df.filter(F.col(text_col).isNotNull()).select(
        id_col, tokens(F.col(text_col)).alias("__arr"))
    votes = arr.select(id_col, *[
        F.size(F.filter(F.col("__arr"), lambda x: x.isin(*words)))
         .cast("long").alias(f"{lang}_hits")
        for lang, words in STOPWORDS.items()
    ])
    en, es, de, fr = [F.col(f"{c}_hits") for c in ("en", "es", "de", "fr")]
    pred = (
        F.when((en >= es) & (en >= de) & (en >= fr), "en")
        .when((es >= de) & (es >= fr), "es")
        .when(de >= fr, "de")
        .otherwise("fr")
    )
    return votes.select(id_col, "en_hits", "es_hits", "de_hits", "fr_hits",
                        pred.alias("lang_pred"))


def fingerprint(text: Column) -> Column:
    """Normalized-content fingerprint: md5 over whitespace-collapsed,
    lowercased text. The exact-dedup key (dedup.exact_dedup builds on it)."""
    normalized = F.lower(F.trim(F.regexp_replace(text, "\\s+", " ")))
    return F.md5(normalized.cast("binary"))


def fingerprint_loose(text: Column) -> Column:
    """Punctuation-insensitive fingerprint — the RefinedWeb/Falcon-style
    "fuzzy exact" dedup key: lowercase, replace every non-alphanumeric
    run with one space, trim, md5. Catches re-crawls that differ only in
    punctuation/markup residue ("Hello, world!" == "hello world") that
    the strict `fingerprint` treats as distinct. ASCII character class
    by design: [^a-z0-9] means the same bytes in every engine (Unicode
    letter classes do not), so the digest is oracle-portable; non-Latin
    text degrades to whitespace-shape matching, which is why `lang_id`
    gates which corpora this key is applied to."""
    stripped = F.regexp_replace(F.lower(text), "[^a-z0-9]+", " ")
    return F.md5(F.trim(stripped).cast("binary"))


def winnow_fingerprints(df: "DataFrame", k: int = 4, w: int = 5,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> "DataFrame":
    """Winnowing document fingerprints (the MOSS scheme): hash every
    k-token gram, then keep each window-of-w's minimum hash — a bounded,
    position-robust fingerprint set per document whose overlap estimates
    containment (plagiarism/near-dup detection).

    All DataFrame ops: posexplode for positions, lead() to build k-grams,
    a rolling-window min to winnow, distinct to form the set. One shuffle
    on (doc, position ordering); fingerprint count ~ tokens/w per doc, so
    the output is ~w x smaller than the shingle table — that compression
    is what makes fingerprint joins feasible at 100 TB."""
    from pyspark.sql import DataFrame, Window  # noqa: F811

    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "token"))
    order = Window.partitionBy(id_col).orderBy("pos")
    gram = F.concat_ws(" ", F.col("token"),
                       *[F.lead("token", i).over(order) for i in range(1, k)])
    grams = (toks
             .withColumn("last_tok", F.lead("token", k - 1).over(order))
             .withColumn("gram", gram)
             .filter(F.col("last_tok").isNotNull())   # only full k-grams
             .withColumn("h", F.pmod(F.xxhash64("gram"), F.lit(2**61 - 1))))
    roll = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    winnowed = (grams
                .withColumn("win_min", F.min("h").over(roll))
                .filter(F.col("h") == F.col("win_min"))
                .select(id_col, F.col("h").alias("fingerprint"))
                .distinct())
    return winnowed


def fingerprint_overlap_pairs(df: "DataFrame", k: int = 4, w: int = 5,
                              min_overlap: int = 2,
                              id_col: str = "doc_id",
                              text_col: str = "text") -> "DataFrame":
    """Candidate containment pairs by shared winnowing fingerprints:
    inverted-index self-join on the (small) fingerprint table."""
    fp = winnow_fingerprints(df, k, w, id_col, text_col)
    a = fp.select(F.col(id_col).alias("id_a"), "fingerprint")
    b = fp.select(F.col(id_col).alias("id_b"), "fingerprint")
    return (a.join(b, "fingerprint")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("shared_fingerprints"))
            .filter(F.col("shared_fingerprints") >= min_overlap))


def repetition_ratio(df: DataFrame, n: int = 3, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Gopher-style repetition metric: fraction of n-gram OCCURRENCES that
    are duplicates of an earlier occurrence (1 - distinct/total). High
    values flag boilerplate/spam. Pure per-row array expressions.

    Docs with fewer than n tokens have no n-grams: n_grams=0 and
    repetition_ratio=0.0 by definition (nothing can repeat). The gram
    index range is guarded so element_at never reads past the token
    array (ANSI mode raises on out-of-bounds; found via the curate()
    short-doc fix, ADVICE r3)."""
    toks = tokens(F.col(text_col))
    with_toks = df.select(F.col(id_col), toks.alias("__toks"))
    t = F.col("__toks")
    idx = F.when(F.size(t) >= n, F.sequence(F.lit(0), F.size(t) - n)) \
           .otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.concat_ws(
        " ", *[F.element_at(t, i + j + 1) for j in range(n)]))
    total = F.size(grams).cast("long")
    distinct = F.size(F.array_distinct(grams)).cast("long")
    # r8: 1 - d/n is an integer-exact rational — ROUND over its double
    # quotient is the engine-splitting tie class (CLAUDE.md RATIO RULE);
    # compute (n - d)/n in exact integer half-away arithmetic instead.
    rep = F.when(total > 0, ratio(total - distinct, total, 4)) \
           .otherwise(F.lit(0.0))
    return with_toks.select(
        id_col,
        total.alias("n_grams"),
        distinct.alias("n_distinct_grams"),
        rep.alias("repetition_ratio"))


def remove_boilerplate_lines(df: DataFrame, min_docs: int = 3,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """C4-style line-level dedup: a line appearing (normalized) in >=
    `min_docs` distinct documents is boilerplate (nav bars, footers,
    cookie banners) and is dropped from every document.

    Two shuffles: line -> distinct-doc count (the boilerplate set, usually
    tiny -> broadcast anti join), then per-doc ordered reassembly. Line
    order inside each document is preserved via posexplode + sort_array."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"))
    lines = lines.withColumn("norm", F.lower(F.trim("line")))
    boiler = (lines.filter(F.length("norm") > 0)
              .groupBy("norm")
              .agg(F.countDistinct(id_col).alias("nd"))
              .filter(F.col("nd") >= min_docs)
              .select("norm"))
    kept = lines.join(F.broadcast(boiler), "norm", "left_anti")
    reassembled = (kept.groupBy(id_col)
                   .agg(F.array_join(
                       F.transform(
                           F.sort_array(F.collect_list(
                               F.struct(F.col("pos"), F.col("line")))),
                           lambda s: s["line"]),
                       "\n").alias("clean_text")))
    return df.select(id_col).join(reassembled, id_col, "left") \
             .na.fill({"clean_text": ""})


def tfidf_top_terms(df: DataFrame, k: int = 5, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Top-k distinctive terms per document by TF-IDF.

    tf = term count within the doc, df = number of docs containing the
    term, score = tf * ln(N / df). Three aggregations, all shuffling only
    (id, token) / (token) keys — never documents: tf groupBy, df groupBy
    over the (already distinct) tf pairs, and a broadcast of the single
    N row. Rank is deterministic: (round(score, 4) DESC, term ASC) — the
    rounding absorbs last-ulp ln() differences between engines, the term
    tiebreak pins equal scores. Output: (id, rank, term, tf, df_docs,
    tfidf) with tfidf rounded to 4.
    """
    from pyspark.sql import Window

    # r12: spread keyed on the doc id — the tf groupBy's keys (id, token)
    # are a superset, so the spread exchange (where the under-parallel
    # gate fires) satisfies the aggregate and tf plans no Exchange; the
    # aggregate's output then stays hash(id)-partitioned, which the
    # per-doc rank window reuses too. Production (spread off): unchanged.
    tok = exploded_tokens(df, id_col, text_col,
                          spread_key=id_col).filter(F.col("token") != "")
    tf = tok.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_docs"))
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (tf.join(dfreq, "token")
              .crossJoin(F.broadcast(n_docs))
              .withColumn("tfidf", F.round(
                  F.col("tf") * F.log(F.col("n_docs") / F.col("df_docs")),
                  4) + F.lit(0.0)))
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(),
                                           F.col("token").asc())
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select(id_col, "rank", F.col("token").alias("term"),
                    "tf", "df_docs", "tfidf"))


def length_histogram(df: DataFrame, length_col: str = "n_chars",
                     width: int = 100) -> DataFrame:
    """Document-length histogram: fixed-width buckets with doc count and
    char mass per bucket — the distribution a packing budget
    (operators/packing.py) or a length-filter threshold is read off of.
    One map-side-combinable groupBy on a derived key; integer bucket
    arithmetic so any engine reproduces the bucket edges exactly."""
    lo = (F.floor(F.col(length_col) / width) * width).cast("long")
    return (df.groupBy(lo.alias("bucket_lo"))
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum(length_col).cast("long").alias("total_chars")))


def ngram_pairs(df: DataFrame, n: int = 2, text_col: str = "text",
                keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """(context, next_token) rows per n-gram occurrence (multiplicity
    kept), optionally carrying `keep_cols` (e.g. the doc id). One narrow
    explode; the shared first stage of the LM operators.

    The token array is materialized as a named column BEFORE the
    higher-order lambdas: referencing the raw split() expression inside
    transform() re-tokenizes the full text per element — O(tokens^2)
    per doc, measured 6x slower at sf0.1 (same pitfall as
    dedup.shingles / repetition_ratio)."""
    d = df.select(*[F.col(c) for c in keep_cols],
                  tokens(F.col(text_col)).alias("__toks"))
    toks = F.col("__toks")
    # guard: F.sequence(1, 0) counts DOWN ([1, 0]) — docs shorter than n
    # must produce an empty start list, not a descending one
    starts = F.when(F.size(toks) >= n,
                    F.sequence(F.lit(1), F.size(toks) - (n - 1))) \
              .otherwise(F.array().cast("array<int>"))
    kept = [F.col(c) for c in keep_cols]
    return d.select(*kept, F.explode(F.filter(
        F.transform(
            starts,
            lambda i: F.struct(
                F.concat_ws(" ", F.slice(toks, i, n - 1)).alias("context"),
                F.get(toks, i + n - 2).alias("next_token"))),
        lambda s: (s["next_token"] != "") & (s["context"] != ""))).alias("g")) \
        .select(*keep_cols, "g.context", "g.next_token")


def ngram_lm_counts(df: DataFrame, n: int = 2,
                    text_col: str = "text") -> DataFrame:
    """KenLM-style n-gram count table with conditional probabilities:
    (context, next_token, cnt, context_cnt, p) where context is the
    n-1 preceding tokens and p = cnt / context_cnt — the count statistics
    a corpus-level language model (perplexity filters, contamination
    checks, decontamination n-gram indexes) is built from.

    Shape: one narrow explode of per-doc (context, next) pairs, one
    count shuffle keyed by the full n-gram, and a window sum over
    context for the denominator — the window partitions by context, so
    no second shuffle beyond the context key. p is derived from two
    integer counts divided in double (engine-exact); at 100 TB the count
    table is the artifact you persist, p is derived on read."""
    from pyspark.sql import Window

    pairs = ngram_pairs(df, n, text_col)
    counts = (pairs.groupBy("context", "next_token")
                   .agg(F.count(F.lit(1)).alias("cnt")))
    w = Window.partitionBy("context")
    return (counts
            .withColumn("context_cnt", F.sum("cnt").over(w).cast("long"))
            .withColumn("p", ratio(F.col("cnt"), F.col("context_cnt"), 4)))


def curate(df: DataFrame, min_tokens: int = 20,
           max_repetition: float = 0.01, max_cross_entropy: float = 3.45,
           id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """End-to-end corpus curation decision: compose the quality stack —
    token counts (quality_score), duplicate-3-gram fraction
    (repetition_ratio), self-LM cross-entropy (lm_cross_entropy) — into
    one keep/drop verdict with the FIRST failing rule as the reason
    ('short' | 'repetitive' | 'lm_outlier' | 'keep'). The drop list plus
    its evidence, the per-doc analog of decontaminate()'s output
    contract.

    Thresholds are parameters (the defaults are calibrated to the
    fixture corpus so the result exercises every branch); real corpora
    set them from measured distributions — see SCALE.md. Three doc-keyed
    aggregates join on the id (uniform key, one shuffle each); every
    rule input is a rounded/integer column, so the verdict is
    engine-deterministic. Output (doc_id, n_tokens, repetition_ratio,
    cross_entropy, reason, keep).

    lm_cross_entropy only emits docs with >=1 n-gram, so it is joined
    LEFT and a null cross_entropy passes the lm rule (ADVICE r3): a
    0/1-token doc still gets a verdict row — 'short' via the n_tokens
    rule, never silently dropped from the table."""
    q = quality_score(df, id_col, text_col).select(id_col, "n_tokens")
    r = repetition_ratio(df, n=3, id_col=id_col, text_col=text_col) \
        .select(id_col, "repetition_ratio")
    c = lm_cross_entropy(df, id_col=id_col, text_col=text_col) \
        .select(id_col, "cross_entropy")
    j = q.join(r, id_col).join(c, id_col, "left")
    reason = (
        F.when(F.col("n_tokens") < min_tokens, "short")
        .when(F.col("repetition_ratio") > max_repetition, "repetitive")
        .when(F.col("cross_entropy") > max_cross_entropy, "lm_outlier")
        .otherwise("keep"))
    return j.select(
        id_col, "n_tokens", "repetition_ratio", "cross_entropy",
        reason.alias("reason"),
        (reason == "keep").cast("long").alias("keep"))


def lm_cross_entropy(df: DataFrame, lm: DataFrame | None = None, n: int = 2,
                     alpha: float = 0.5, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """CCNet-style language-model perplexity filter: per-doc
    cross-entropy under an n-gram LM with add-alpha smoothing —
    cross_entropy = mean over the doc's n-grams of
    -ln((cnt + alpha) / (context_cnt + alpha * V)).

    `lm=None` fits the LM on `df` itself (self-perplexity): templated /
    boilerplate documents score LOW (their n-grams dominate the corpus),
    statistical outliers (lorem ipsum, garbled decodes, wrong-language
    contamination) score HIGH — filter both tails, the standard
    web-corpus curation move. Pass a reference corpus as `lm` to score
    against clean text instead (the original CCNet setup).

    Scale shape: the count table shuffles on (context, next_token) keys
    (uniform), the vocabulary size is a 1-row broadcast, and the doc
    n-gram stream joins the counts on the same uniform keys — no
    all-pairs, no skew beyond natural n-gram hotness (cap with a max-df
    guard upstream if the corpus is templated). Cross-engine
    determinism: smoothed p divides identically-computed doubles, each
    -ln rounds at 1e-6 (a last-ulp libm difference cannot flip it off
    boundaries), and the per-doc mean goes through davg's exact decimal
    sum. Output (doc_id, n_ngrams, cross_entropy)."""
    corpus = lm if lm is not None else df
    counts = ngram_lm_counts(corpus, n, text_col) \
        .select("context", "next_token", "cnt", "context_cnt")
    ctx = counts.select("context", "context_cnt").distinct()
    vocab = (corpus.select(F.explode(tokens(F.col(text_col))).alias("t"))
             .filter(F.col("t") != "")
             .agg(F.count_distinct("t").alias("V")))
    pairs = ngram_pairs(df, n, text_col, keep_cols=(id_col,))
    scored = (pairs
              .join(counts.select("context", "next_token", "cnt"),
                    ["context", "next_token"], "left")
              .join(ctx, "context", "left")
              .crossJoin(F.broadcast(vocab))
              .withColumn("p", (F.coalesce(F.col("cnt"), F.lit(0))
                                .cast("double") + F.lit(alpha)) /
                               (F.coalesce(F.col("context_cnt"), F.lit(0))
                                .cast("double") + F.lit(alpha) * F.col("V")))
              .withColumn("nll", F.round(-F.log(F.col("p")), 6)))
    return (scored.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_ngrams"),
                 davg("nll", scale=6, out_scale=4).alias("cross_entropy")))


def compression_ratio(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", level: int = 6) -> DataFrame:
    """Per-doc zlib compression ratio — the Gopher/RefinedWeb-family
    redundancy signal the n-gram metrics cannot fake: templated or
    machine-generated text compresses far below prose (ratio <~0.3),
    random/encrypted junk barely compresses (>~0.9), clean natural text
    sits ~0.35-0.6. Used as a curation band filter alongside
    repetition_ratio (its oracle-checked sibling in the redundancy
    family — compression catches long-range structure repetition_ratio's
    fixed n-grams miss).

    This is a genuine UDF-tier op (SURVEY §2.11): no SQL engine exposes
    deflate, so the registry entry is rows-only by nature. Arrow-batched
    scalar pandas_udf — narrow, no shuffle, pipelines with the codegen
    quality metrics; zlib is bytewise-deterministic at a fixed level
    across platforms (RFC 1950 + fixed zlib strategy), and the ratio is
    rounded to 4 so downstream threshold decisions are stable.

    Output (id, n_bytes, compression_ratio); null/empty text -> (0, 0.0).
    At 100 TB: ~100 MB/s/core deflate sets the budget — run it AFTER the
    cheap expression filters have dropped the obvious junk, never first."""
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def _ratio(text: pd.Series) -> pd.Series:
        import zlib

        def one(s):
            if not s:
                return 0.0
            b = s.encode("utf-8")
            return round(len(zlib.compress(b, level)) / len(b), 4)
        return text.map(one, na_action="ignore").fillna(0.0) \
            .astype("float64")

    n_bytes = F.coalesce(F.length(F.col(text_col).cast("binary")),
                         F.lit(0)).cast("long")
    return df.select(F.col(id_col), n_bytes.alias("n_bytes"),
                     _ratio(F.col(text_col)).alias("compression_ratio"))


# Java-regex / RE2 common-subset patterns shared by the PII detector
# (queries.text_pii_flags) and the redactor below: no lookarounds, no
# backrefs, no \d-class shorthand differences.
PII_EMAIL_PATTERN = "[a-z0-9.]+@[a-z0-9.]+[a-z]"
PII_LONG_DIGITS_PATTERN = "[0-9]{7,}"


def redact_pii(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text",
               email_token: str = "<EMAIL>",
               number_token: str = "<NUMBER>") -> DataFrame:
    """The action half of PII hygiene (text_pii_flags is the detector):
    rewrite email-shaped spans and 7+-digit runs to placeholder tokens,
    keeping the doc. Emails are replaced FIRST — a long digit run inside
    an email local-part must become part of <EMAIL>, not a nested
    <NUMBER> (ordering is semantics, not style).

    Pure codegen (two regexp_replace passes + the matching counts), no
    Python, narrow — the 100 TB cost is one streaming scan. The
    patterns live in the Java/RE2 common subset so the oracle replays
    the identical rewrite (DuckDB regexp_replace with the 'g' flag —
    Spark replaces all matches by default). Real deployments swap in
    model-based scrubbers as Arrow UDFs over the same column; this is
    the deterministic, oracle-checkable tier.

    Output (id, clean_text, n_redactions); null text -> ('', 0)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_emails = F.size(F.regexp_extract_all(
        t, F.lit(PII_EMAIL_PATTERN), 0)).cast("long")
    n_digits = F.size(F.regexp_extract_all(
        t, F.lit(PII_LONG_DIGITS_PATTERN), 0)).cast("long")
    clean = F.regexp_replace(
        F.regexp_replace(t, PII_EMAIL_PATTERN, email_token),
        PII_LONG_DIGITS_PATTERN, number_token)
    return df.select(
        F.col(id_col), clean.alias("clean_text"),
        (F.greatest(n_emails, F.lit(0)) + F.greatest(n_digits, F.lit(0)))
        .alias("n_redactions"))


def quality_classifier(df: DataFrame, dim: int = 256,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """fastText-style hashed linear quality scorer, as pure JVM
    expressions — the shape of the model-based quality filters
    (pallets of web docs scored by a linear classifier over hashed
    bag-of-words, keep/drop by sign) used by LLM corpus pipelines.
    The reference has no model tier at all (SANEF_Uploader.py computes
    only fixed-rule columns); this is the engine extension that makes
    classifier-filtering a first-class relational op.

    Features: token -> portable 60-bit md5 hash -> bucket j in
    [0, dim); weight w(j) = (j * 2654435761) % 101 - 50, an integer in
    [-50, 50] derived from the Knuth multiplicative constant so the
    whole model is reproducible from `dim` alone (swap in a trained
    weight table via a broadcast join without changing the plan shape).
    Score = sum(w) / (100 * n_tokens): integer accumulation, ONE final
    double division — bit-identical across engines (no exp/ln; see
    numeric.py determinism rules), so the DuckDB oracle replays it
    exactly.

    Scale: ZERO shuffles (r11, guide §2.4) — the score is per-document,
    so the old explode + groupBy(doc) token exchange collapses into a
    per-row array fold: score_int = aggregate(transform(tokens, w), +)
    on primitive longs, one tokenize per row. The weight lookup stays an
    expression (no join, no Python); corpus tokens never leave their
    partitions. Same integers: split() always yields >=1 element, and a
    NULL text dropped out of explode exactly as the isNotNull guard
    drops it here.
    Caller contract + purity trade-off (ADVICE r11): as quality_score —
    `id_col` unique per row (one output row per input row; the old
    groupBy merged duplicate ids), and no spread_cpu_scan (zero-Exchange
    contract preserved; repartition pathological one-file inputs
    upstream)."""
    from .dedup import portable_hash

    def w(tok_col):
        j = F.pmod(portable_hash(tok_col), F.lit(dim))
        return (F.pmod(j * F.lit(2654435761), F.lit(101)) - F.lit(50))

    arr = df.filter(F.col(text_col).isNotNull()).select(
        id_col, tokens(F.col(text_col)).alias("__arr"))
    per_doc = arr.select(
        id_col,
        F.size(F.col("__arr")).cast("long").alias("n_tokens"),
        F.aggregate(F.col("__arr"), F.lit(0).cast("long"),
                    lambda a, x: a + w(x)).alias("score_int"),
    )
    return per_doc.select(
        id_col, "n_tokens", "score_int",
        (F.col("score_int").cast("double")
         / (F.col("n_tokens") * F.lit(100)).cast("double")).alias("score"),
        F.when(F.col("score_int") >= 0, "keep").otherwise("drop")
         .alias("verdict"),
    )


def ccnet_buckets(df: DataFrame, n_buckets: int = 3,
                  id_col: str = "doc_id", text_col: str = "text",
                  lang_col: str = "lang",
                  exact_window: bool = False) -> DataFrame:
    """CCNet-style head/middle/tail corpus partitioning: score every
    doc with the self-fit bigram LM (lm_cross_entropy), then cut each
    language into `n_buckets` equal-population perplexity tertiles —
    head (lowest cross-entropy, cleanest) to tail. The canonical
    recipe keeps head+middle for pretraining and routes tail to
    aggressive filtering.

    Determinism: ntile over (cross_entropy, doc_id) — cross_entropy is
    decimal-exact cross-engine (see text_lm_perplexity) and doc_id
    breaks ties totally, so bucket assignment is reproducible in the
    DuckDB oracle.

    Domain contract: docs with <2 tokens have no bigrams, hence no
    cross-entropy, hence NO bucket — they are absent from the output by
    definition (the oracle mirrors this), not silently dropped mid-rule
    like the curate() defect ADVICE r3 flagged. Route short docs through
    a length gate (quality_score / curate) BEFORE perplexity bucketing;
    that is also CCNet's own order of operations.

    Scale (r6 — the single-partition caveat retired): the LM fit is
    two token-level aggregations; the DEFAULT bucketing is the
    DISTRIBUTED exact ntile — one range-repartition on
    (lang, cross_entropy, id) through layout.global_row_number (the
    scalable zipWithIndex), a languages-sized
    (count, first-rank) aggregate broadcast back, and the closed-form
    ntile `((rank-1) * n) DIV total + 1` in pure integer arithmetic —
    provably identical to SQL NTILE for a total order (the first
    total%n buckets get the extra row), test-asserted against the
    window form. No language ever sorts in one partition.
    `exact_window=True` keeps the classic per-language ntile window as
    the small-scale validation tier; `ccnet_buckets_sampled` remains
    the approx-cutpoint tier, as CCNet itself computes cutoffs on a
    sample."""
    from pyspark.sql import Window
    ce = lm_cross_entropy(df, n=2, alpha=0.5, id_col=id_col,
                          text_col=text_col)
    langs = df.select(id_col, lang_col)
    scored = ce.join(langs, id_col)
    if exact_window:
        w = Window.partitionBy(lang_col).orderBy("cross_entropy", id_col)
        b = F.ntile(n_buckets).over(w).cast("long")
    else:
        from .layout import global_row_number
        gn = global_row_number(scored,
                               [lang_col, "cross_entropy", id_col])
        per_lang = gn.groupBy(lang_col).agg(
            F.count(F.lit(1)).alias("__n"),
            F.min("global_id").alias("__s"))
        scored = gn.join(F.broadcast(per_lang), lang_col)
        # rank_in_lang - 1 = global_id - __s (range partition order
        # restricted to one language IS the language's (ce, id) order).
        # NTILE front-loads the remainder: with q = total DIV n and
        # m = total MOD n, buckets 1..m hold q+1 rows, the rest q —
        # piecewise integer closed form (a plain floor((r-1)*n/total)
        # spreads the extras evenly and diverges from NTILE; caught by
        # test_ccnet_distributed_ntile_equals_window_form at n=7)
        nb = int(n_buckets)
        b = F.expr(f"""
            CASE WHEN (global_id - __s)
                      < (__n % {nb}) * (__n DIV {nb} + 1)
                 THEN (global_id - __s) DIV (__n DIV {nb} + 1) + 1
                 ELSE (__n % {nb})
                      + ((global_id - __s)
                         - (__n % {nb}) * (__n DIV {nb} + 1))
                        DIV (__n DIV {nb}) + 1
            END""")
    name = (F.when(b == 1, "head")
            .when(b == n_buckets, "tail").otherwise("middle"))
    return scored.select(
        id_col, lang_col, "cross_entropy",
        b.cast("long").alias("bucket_id"),
        name.alias("bucket"))


def ccnet_buckets_sampled(df: DataFrame, n_buckets: int = 3,
                          sample_rate: float = 0.3,
                          id_col: str = "doc_id", text_col: str = "text",
                          lang_col: str = "lang") -> DataFrame:
    """The 100 TB tier of `ccnet_buckets` — the swap its docstring
    promises, built: instead of ntile over each whole language (one
    sorted partition per language — the scale wall), cut-points come
    from a deterministic hash SAMPLE of the scored docs and the full
    corpus is assigned by comparing against the broadcast cut-point
    list. This is CCNet's own construction: its head/middle/tail
    cutoffs are computed on a sample of Common Crawl, not the corpus.

    Mechanics: score everything with the same self-fit bigram LM
    (lm_cross_entropy), hash-sample `sample_rate` of the scored docs
    (portable md5 threshold — reproducible across runs, engines, and
    partitionings), rank the sample per language, and take cut-point k
    (k = 1..n_buckets-1) as the sample row at rank
    ceil(k * cnt / n_buckets) (integer ceil-division — no float rank
    arithmetic to diverge cross-engine). A doc's bucket is
    1 + #cut-points strictly below it in the (cross_entropy, doc_id)
    total order — ties against a cut-point are resolved by the same
    doc_id tie-break the exact tier uses, so assignment is total and
    the DuckDB oracle replays it bit-for-bit.

    Scale shape: the per-language SORT now touches only the sample;
    the cut-point table is (n_langs x (n_buckets-1)) rows — broadcast
    as a sorted struct array, so full-corpus assignment is one narrow
    higher-order filter per row. Nothing but the LM scoring shuffles
    the corpus. Buckets are approximately-equal-population (sampling
    error ~1/sqrt(sample per lang)) where the exact tier is exactly
    equal — the standard trade, validated against `ccnet_buckets` by
    the gate fixtures.

    Same domain contract as the exact tier: docs with <2 tokens have
    no cross-entropy and are absent from the output. A language with
    zero sampled docs gets no cut-points -> every doc lands in bucket
    1 (head); size the rate so the smallest language keeps
    >= ~10 x n_buckets sampled docs."""
    from .sampling import _M, hash_bucket

    ce = lm_cross_entropy(df, n=2, alpha=0.5, id_col=id_col,
                          text_col=text_col)
    scored = (ce.join(df.select(id_col, lang_col), id_col)
              .select(id_col, lang_col, "cross_entropy"))
    samp = scored.filter(hash_bucket(F.col(id_col).cast("string"))
                         < F.lit(int(sample_rate * _M)))
    from pyspark.sql import Window
    w = Window.partitionBy(lang_col).orderBy("cross_entropy", id_col)
    wl = Window.partitionBy(lang_col)
    ranked = samp.select(
        lang_col, "cross_entropy", F.col(id_col).alias("cid"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wl).alias("cnt"))
    cuts = (ranked
            .withColumn("k", F.explode(F.sequence(
                F.lit(1), F.lit(n_buckets - 1))))
            .filter(F.col("rn") == F.expr(
                "(k * cnt + %d) div %d" % (n_buckets - 1, n_buckets)))
            .groupBy(lang_col)
            .agg(F.sort_array(F.collect_list(F.struct(
                F.col("cross_entropy").alias("ce"),
                F.col("cid").alias("cid")))).alias("cuts")))
    # The empty-cut-array fallback must carry the SAME element type as
    # the collected cuts struct, and `cid` inherits id_col's dtype — a
    # hardcoded bigint fails analysis for string/int ids (ADVICE r4, re-flagged by the r5 driver — fixed mid-r5, commit 42e5ef3).
    id_dt = df.schema[id_col].dataType.simpleString()
    empty = F.array().cast(f"array<struct<ce:double,cid:{id_dt}>>")
    below = F.size(F.filter(
        F.coalesce(F.col("cuts"), empty),
        lambda c: (F.col("cross_entropy") > c["ce"]) |
                  ((F.col("cross_entropy") == c["ce"]) &
                   (F.col(id_col) > c["cid"]))))
    b = (F.lit(1) + below).cast("long")
    name = (F.when(b == 1, "head")
            .when(b >= n_buckets, "tail").otherwise("middle"))
    return (scored.join(F.broadcast(cuts), lang_col, "left")
            .select(id_col, lang_col, "cross_entropy",
                    b.alias("bucket_id"), name.alias("bucket")))


def quality_classifier_weighted(df: DataFrame, weights: DataFrame,
                                dim: int = 256, id_col: str = "doc_id",
                                text_col: str = "text") -> DataFrame:
    """quality_classifier with a TRAINED weight table instead of the
    derived expression: `weights` is (feature long, weight int) with
    one row per bucket in [0, dim). The feature lookup becomes a
    broadcast hash join on the hashed bucket id — the plan the
    docstring of quality_classifier promises, demonstrated: nothing
    else changes (same explode, same single groupBy(doc) shuffle,
    same scoring arithmetic). Missing features weigh 0 (left join +
    coalesce), so a sparse model table works unchanged.

    Scale: a real fastText-style model is <=1e6 buckets x 4 bytes —
    broadcast-trivial at any corpus size."""
    tok = exploded_tokens(df, id_col, text_col)
    from .dedup import portable_hash
    j = F.pmod(portable_hash(F.col("token")), F.lit(dim))
    scored = (tok.withColumn("feature", j)
              .join(F.broadcast(weights), "feature", "left")
              .withColumn("w", F.coalesce(F.col("weight"), F.lit(0))))
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("w").alias("score_int"),
    )
    return per_doc.select(
        id_col, "n_tokens", "score_int",
        (F.col("score_int").cast("double")
         / (F.col("n_tokens") * F.lit(100)).cast("double")).alias("score"),
        F.when(F.col("score_int") >= 0, "keep").otherwise("drop")
         .alias("verdict"),
    )


def dsir_log_ratio(df: DataFrame, target: DataFrame, tau: float = 0.0,
                   n: int = 2, alpha: float = 0.5,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """DSIR-style importance scoring for training-data selection (Xie
    et al. 2023, "Data Selection for Language Models via Importance
    Resampling"): per-doc log importance weight
    log p_target(doc) - log p_raw(doc) under two n-gram LMs — one fit
    on a (small, curated) `target` corpus, one on the raw corpus
    itself. Positive = the doc looks more like the target domain than
    like average raw data; select with `keep = log_ratio >= tau`.

    Composition, not new machinery: both sides are lm_cross_entropy
    (add-alpha smoothed), and log p = -n_ngrams * cross_entropy, so
    log_ratio = n_ngrams * (ce_raw - ce_target). Both ce values are
    the gate-proven decimal-exact means, the difference and the
    n_ngrams scalar multiply are single IEEE ops — cross-engine
    bit-stable, rounded at 4 for the threshold compare.

    Scale: the target LM fit is over the SMALL curated corpus; the raw
    corpus pays one self-fit (shared with any perplexity filter already
    in the pipeline — reuse the persisted count table at 100 TB) and
    one count-table join per LM. Docs with <2 tokens have no n-grams
    and are absent, per the LM-family domain contract.

    Output (id, n_ngrams, log_ratio, keep)."""
    ce_raw = lm_cross_entropy(df, lm=None, n=n, alpha=alpha,
                              id_col=id_col, text_col=text_col) \
        .withColumnRenamed("cross_entropy", "ce_raw")
    ce_tgt = lm_cross_entropy(df, lm=target, n=n, alpha=alpha,
                              id_col=id_col, text_col=text_col) \
        .select(id_col, F.col("cross_entropy").alias("ce_target"))
    j = ce_raw.join(ce_tgt, id_col)
    ratio = F.round(F.col("n_ngrams")
                    * (F.col("ce_raw") - F.col("ce_target")), 4)
    return j.select(
        id_col, "n_ngrams", ratio.alias("log_ratio"),
        (ratio >= tau).cast("long").alias("keep"))

def bm25_topk(df: DataFrame, queries: DataFrame, k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              id_col: str = "doc_id", text_col: str = "text",
              mode: str = "index") -> DataFrame:
    """BM25 top-k retrieval over the corpus (Robertson-Sparck Jones
    Okapi weighting) — the keyword-retrieval step data-curation loops
    use to pull topical documents out of a crawl (and the lexical half
    of any hybrid lexical+embedding retrieval stack; the embedding half
    is similarity.cosine_topk). No reference analog — LLM-pipeline
    extension family.

    score(q, d) = sum over matched terms of
        idf(t) * (tf * (k1+1)) / (tf + k1 * (1 - b + b * dl/avgdl)),
    idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))   (Lucene form: always
    positive, so adding a matched term never lowers a score).

    Plan shape (the standard distributed inverted-index build, all
    narrow-key shuffles):
      - tf:   explode -> groupBy (doc, term)          [shuffle on pairs]
      - dl:   sum(tf) per doc                         [shuffle on doc id]
      - df:   AFTER the broadcast semi-join with the query term list, so
              document frequency is counted only for the handful of query
              terms, never the full vocabulary; the result is
              query-terms-sized and broadcast back.
      - N, total_tokens: one 2-value scalar agg, 1-row broadcast.
      - per-(query, doc) sum + per-query top-k window
        (WindowGroupLimit; queries are few by contract, documents are
        not — the window partitions on query_id).
    The corpus TEXT never shuffles: every exchange after the explode
    carries (id, term, tf) integers. At 100 TB the tf/df tables are the
    classic inverted-index build; the query side stays broadcast.

    Cross-engine determinism (numeric.py rules): per-term contributions
    are rounded at 6 and summed in DECIMAL(38,6) — term-order-independent
    exact — then the total is cast to double and rounded at 4; ranking
    ties break on doc_id. avgdl is one bigint/bigint double division.
    Output (query_id, rank, doc_id, score) with rank <= k per query.

    Query contract: `queries` is (query_id, term) rows, terms
    lowercase whitespace tokens. A term repeated within a query counts
    its contribution once per occurrence — the standard BM25 query-
    term-frequency weighting (dedupe upstream if you want set
    semantics).

    Caller contract: `id_col` must be unique per row. The tf index is
    keyed (id, dl, token) and dfreq counts its rows per term, so two
    rows sharing an id with texts of different lengths count that id
    twice in df and score as two documents. The DuckDB oracle (GROUP BY
    doc_id) assumes unique ids; feed deduped ids or the two diverge.

    mode="scan" (r9, VERDICT r8 item 5): the broadcast TERM-SCAN plan
    for FEW ad-hoc queries — tf computed row-locally per matched
    (doc, term) via size(filter(tokens, = term)) under a broadcast
    nested-loop join on array_contains, dl/avgdl from one scalar agg;
    the corpus never shuffles AND never builds the full inverted index
    (whose (doc, token) exchange is pure waste when only |query terms|
    tokens can ever score). Values identical by construction — same
    tf/dl/df integers, same decimal contribution — so oracles hold
    unchanged (sf1 A/B: 1.06s scan vs 1.42s index; at sf0.1 both
    are stage-latency-bound and within noise). The index path
    stays the architecture for MANY/reused queries (build once,
    persist, amortize); pick scan when |terms| is o(mean doc length),
    i.e. the per-doc array_contains sweep costs less than hashing
    every token into the tf aggregate.

    Cache lifecycle (r10, VERDICT r9 item 5): both paths' persists
    route through cache.scoped_persist — `with cache_scope():` around
    the call and its consuming actions releases the index at scope
    exit; outside a scope it lives until clearCache (the
    index-is-a-table production posture).
    """
    if mode not in ("index", "scan"):
        # a silent fall-through on a typo ('Scan', 'term-scan') would
        # run the inverted-index plan the caller didn't ask for
        raise ValueError(
            f"bm25_topk: unknown mode {mode!r} (expected 'index' or 'scan')")
    if mode == "scan":
        return _bm25_topk_scan(df, queries, k, k1, b, id_col, text_col)

    # r11 (guide §2.4): dl (per-doc token count) is a PER-ROW expression
    # on documents, not a post-index aggregate — computing it on the way
    # in and carrying it through the tf groupBy as a functionally-
    # dependent extra key removes the old dl branch outright: one
    # groupBy(id) exchange + one matched⋈dl join gone from every
    # consumer, and the stats future flattens to ONE sum over the
    # persisted index. Same integers: dl = count of non-empty tokens =
    # the old sum of the doc's tf values, and a doc with no tokens has
    # no tf rows on either shape.
    # r12 (guide §2.4): the spread hash-partitions on the document id —
    # the tf groupBy's keys (id, dl, token) are a superset, so wherever
    # the spread fires the tf aggregate SATISFIES its distribution from
    # the spread exchange and plans with no Exchange of its own: the
    # index fill drops from two sequential shuffles (round-robin text +
    # (id, dl, token) pairs) to one. Where the gate keeps the spread
    # off (production file counts) the plan is unchanged — tf pays its
    # pair-keyed exchange exactly as before.
    from ..catalog import spread_cpu_scan
    base = spread_cpu_scan(df.select(id_col, text_col), key_col=id_col)
    # r12 (ADVICE r11, guide §1.2): materialize the FILTERED token array
    # once per document before the explode. The r11 shape computed
    # size(filter(split(text))) in the Project ABOVE the Generate — a
    # full re-split of the text PER EXPLODED TOKEN ROW (O(tokens²) per
    # doc; OPTIMIZATION_r12.md §2 describes the before-plan).
    # With __toks a real column the split runs once per doc, dl is an
    # O(1) size() over it, the Generate explodes the materialized array,
    # and the post-explode '' filter is unnecessary (pre-filtered).
    # Same integers: dl counts the same non-empty tokens; explode of the
    # filtered array yields exactly the rows the old post-filter kept.
    pre = base.select(
        F.col(id_col),
        F.filter(tokens(F.col(text_col)), lambda x: x != "")
         .alias("__toks"))
    tok = pre.select(
        F.col(id_col),
        F.size("__toks").cast("long").alias("dl"),
        F.explode("__toks").alias("token"))
    tf = tok.groupBy(id_col, "dl", "token").agg(F.count(F.lit(1)).alias("tf"))
    # The tf table is the INVERTED INDEX — two plan branches consume it
    # (stats, matched-then-dfreq; dl rides inside it since r11) and
    # AQE's stage reuse does not collapse them (measured r8: the
    # duplicated explode+aggregate subtrees were the dominant cost and
    # the rep-to-rep spread of sim_hybrid_rrf).
    # Persisting materializes it once per action — the production
    # retrieval architecture anyway: at 100 TB the index is BUILT once
    # and persisted (a table, not a per-query subplan); queries join
    # against it. Lazy persist: the first action populates it inside its
    # own wall-clock (bench clearCache-per-rep re-measures the build each
    # rep; no eager job is hidden off the clock).
    from pyspark import StorageLevel
    tf = scoped_persist(tf, StorageLevel.MEMORY_AND_DISK)
    # total_tokens = SUM(tf) over the index — same value as the old
    # SUM over the per-doc dl rollup (r8, VERDICT r7 item 4: derived
    # from the tf aggregate instead of a second full corpus explode),
    # now without the intermediate groupBy(id) exchange (r11).
    stats = tf.agg(
        F.sum("tf").cast("long").alias("total_tokens")).crossJoin(
        F.broadcast(df.agg(F.count(F.lit(1)).alias("n_docs"))))
    qterms = queries.select("query_id", F.col("term").alias("token"))
    matched = tf.join(F.broadcast(qterms), "token")
    # r12 (VERDICT r11 items 2+7, guide §2.4): df comes from the index
    # joined to the DISTINCT term set, not from matched. tf is unique on
    # (doc, token) by construction (it IS the groupBy output; dl is
    # functionally dependent on doc), so count-per-token over tf ⋈
    # distinct-terms = number of docs containing the term — the exact
    # integers matched.select(token, id).distinct() produced, including
    # when two queries share a term (the distinct collapses the
    # query_id fan-out; here the fan-out never happens). Plan: the
    # chained distinct-then-count pair of o(|matches|) exchanges
    # becomes ONE partial+final aggregate — one sequential stage fewer
    # on the retrieval critical path. The term-set distinct is
    # |query terms| rows inside the broadcast build.
    term_set = qterms.select("token").distinct()
    dfreq = (tf.join(F.broadcast(term_set), "token")
               .groupBy("token").agg(F.count(F.lit(1)).alias("df_docs")))
    return _bm25_score_topk(matched, dfreq, stats, k, k1, b, id_col)


def _bm25_score_topk(matched: DataFrame, dfreq: DataFrame,
                     stats: DataFrame, k: int, k1: float, b: float,
                     id_col: str) -> DataFrame:
    """The scoring tail both bm25_topk modes share: `matched` (query_id,
    token, id, tf, dl) joins the per-term document frequencies `dfreq`
    (token, df_docs) and the one-row corpus `stats` (total_tokens,
    n_docs); each (query, doc) pair sums its per-term contributions, and
    the top `k` per query survive."""
    from pyspark.sql import Window

    scored = (matched
              .join(F.broadcast(dfreq), "token")
              .crossJoin(F.broadcast(stats)))
    avgdl = (F.col("total_tokens").cast("double")
             / F.col("n_docs").cast("double"))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df_docs")
                              + F.lit(0.5))
                / (F.col("df_docs") + F.lit(0.5)))
    denom = (F.col("tf") + F.lit(k1)
             * (F.lit(1.0) - F.lit(b)
                + F.lit(b) * F.col("dl") / avgdl))
    contrib = F.round(idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom, 6) \
        .cast("decimal(38,6)")
    per_pair = (scored
                .groupBy("query_id", id_col)
                .agg((F.round(F.sum(contrib).cast("double"), 4)
                      + F.lit(0.0)).alias("score")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc())
    return (per_pair
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", id_col, "score"))


def _bm25_topk_scan(df: DataFrame, queries: DataFrame, k: int,
                    k1: float, b: float,
                    id_col: str, text_col: str) -> DataFrame:
    """bm25_topk mode="scan" body — see the dispatcher docstring.

    Plan: documents scan -> BroadcastNestedLoopJoin(array_contains)
    against the broadcast term list -> row-local tf/dl -> one tiny
    (query, doc) pair aggregate -> per-query top-k. The only exchanges
    carry (query_id, token, id, two longs): the 9-key dfreq agg, the
    matched-pair score agg, and the top-k window — all o(|matches|);
    the corpus text/tokens never leave their input partitions. At
    100 TB this is the ad-hoc-retrieval plan (no index to build or
    store); tf/dl/df integers match the index path exactly, so the
    same DuckDB oracle covers both."""
    toks = F.filter(tokens(F.col(text_col)), lambda x: x != "")
    base = df.select(F.col(id_col), toks.alias("__toks"))
    # dl sums exactly the index path's per-doc tf total (count of
    # non-empty whitespace tokens). NULL text -> NULL toks must
    # contribute 0: under non-ANSI configs size(NULL) is -1 (it would
    # silently SUBTRACT from total_tokens and skew avgdl vs the index
    # path — r9 review catch); greatest(size, 0) maps both the ANSI
    # NULL and the legacy -1 to 0, matching the explode path where a
    # NULL doc simply has no token rows.
    stats = base.agg(
        F.sum(F.greatest(F.size("__toks"), F.lit(0))).cast("long")
        .alias("total_tokens"),
        F.count(F.lit(1)).alias("n_docs"))
    qterms = queries.select("query_id", F.col("term").alias("token"))
    # matched is consumed by BOTH dfreq and the score join; without
    # the (lazy) persist each consumer re-expands the corpus
    # BroadcastNestedLoopJoin sweep — two full array_contains passes
    # over the corpus per action (r9 review catch; DataFrame
    # self-references duplicate subtrees, the same pitfall the index
    # path persists tf for). The cached relation is o(|matches|) rows
    # of integers. Cache lifecycle caveat: lives until
    # clearCache/unpersist, like bm25's persisted tf index.
    from pyspark import StorageLevel

    matched = (base.join(
        F.broadcast(qterms),
        F.array_contains(F.col("__toks"), F.col("token")))
        .select(
            "query_id", "token", id_col,
            F.size(F.filter(
                "__toks", lambda x: x == F.col("token"))).cast("long")
            .alias("tf"),
            F.size("__toks").cast("long").alias("dl")))
    matched = scoped_persist(matched, StorageLevel.MEMORY_AND_DISK)
    dfreq = (matched.select("token", id_col).distinct()
             .groupBy("token").agg(F.count(F.lit(1)).alias("df_docs")))
    return _bm25_score_topk(matched, dfreq, stats, k, k1, b, id_col)


# --------------------------------------------------------------------------
# BPE tokenization (train on a sample, apply distributed)
# --------------------------------------------------------------------------

import re as _re

# ASCII-whitespace splitter for the Python (Arrow-UDF) side of the BPE
# family — the EXACT character class of Java regex \s, i.e. what
# tokens() / F.split(text, "\\s+") splits on engine-side. Python's
# str.split() is Unicode-aware (NBSP, \x1c-\x1f, thin spaces...) while
# Java \s is ASCII-only, so a str.split() here would tokenize real web
# text differently from every Spark-side consumer (tokens(),
# bpe_encode_distinct's explode) — r9 review catch. One definition,
# both UDF tiers use it.
_ASCII_WS = _re.compile(r"[ \t\n\r\f\x0b]+")


def _ws_words(t: str) -> list:
    """ASCII-whitespace words of t, empties dropped (Java-\\s parity)."""
    return [w for w in _ASCII_WS.split(t) if w]


def _bpe_word_counts(texts) -> dict:
    """Whitespace-word frequency table with the </w> end marker."""
    counts: dict = {}
    for t in texts:
        if not t:
            continue
        for w in _ws_words(t):
            counts[w] = counts.get(w, 0) + 1
    return counts


def bpe_train(df: DataFrame, n_merges: int = 200, train_n: int = 4096,
              id_col: str = "doc_id", text_col: str = "text") -> list:
    """Train a byte-pair-encoding merge table (Sennrich et al. 2016) on
    a bounded, hash-ordered sample of the corpus — the standard recipe:
    production tokenizers train on a corpus SAMPLE (GPT-2's BPE saw a
    fraction of WebText), then the learned merges are applied to
    everything. The sample is the `train_n` smallest portable-hash doc
    ids (one TakeOrdered job; deterministic across runs, partitionings,
    and corpus-tail growth — same discipline as pq_train_codebooks).

    Driver-side Lloyd-free loop: count symbol pairs over the word
    frequency table, merge the most frequent pair (ties broken
    lexicographically, so the merge sequence is fully deterministic),
    repeat n_merges times or until no pair repeats. Words carry a </w>
    end marker so merges never cross word boundaries.

    Returns the ordered merge list [[left, right], ...] — order IS the
    model (apply must replay merges in training order)."""
    from .dedup import portable_hash

    rows = (df.select(F.col(text_col).alias("t"),
                      portable_hash(F.col(id_col).cast("string"))
                      .alias("h"))
            .orderBy("h", id_col).limit(train_n).collect())
    words = _bpe_word_counts(r["t"] for r in rows)
    # each word as a tuple of symbols, char-split + end marker
    vocab = {tuple(w) + ("</w>",): c for w, c in words.items()}
    merges: list = []
    for _ in range(n_merges):
        pairs: dict = {}
        for sym, c in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        best = max(pairs.items(), key=lambda kv: (kv[1], kv[0][0],
                                                  kv[0][1]))
        # stop when no pair repeats — further merges memorize the sample
        if best[1] < 2:
            break
        (a, b), _n = best
        merges.append([a, b])
        merged = a + b
        nv = {}
        for sym, c in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + c
        vocab = nv
    return merges


def _bpe_segment(word: str, ranks: dict) -> list:
    """Greedy lowest-rank-first merge replay for one word."""
    sym = list(word) + ["</w>"]
    while len(sym) > 1:
        best_i, best_r = -1, None
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_r is None or r < best_r):
                best_i, best_r = i, r
        if best_r is None:
            break
        sym[best_i:best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return sym


def bpe_encode(df: DataFrame, merges: list, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Apply a trained BPE merge table to the whole corpus — the
    scale-relevant half: tokenizing 100 TB is one narrow Arrow pass
    (mapInPandas, no shuffle, no join; the merge table rides into the
    closure, vocabulary-sized). Per-doc segmentations are cached by
    word within a batch, so cost tracks DISTINCT words per batch, not
    tokens. Output (id, n_bpe_tokens, bpe_tokens array<string>) —
    token COUNT for packing/budget math plus the pieces themselves.

    Deterministic: the merge replay is rank-greedy (lowest training
    rank first), the standard BPE apply — same input, same merges,
    same pieces on any partitioning or engine."""
    import pandas as pd

    ranks = {tuple(m): i for i, m in enumerate(merges)}

    def enc(batches):
        cache: dict = {}
        for pdf in batches:
            toks, counts = [], []
            for t in pdf[text_col]:
                if not t:
                    toks.append([])
                    counts.append(0)
                    continue
                pieces: list = []
                for w in _ws_words(t):
                    got = cache.get(w)
                    if got is None:
                        got = _bpe_segment(w, ranks)
                        cache[w] = got
                    pieces.extend(got)
                toks.append(pieces)
                counts.append(len(pieces))
            yield pd.DataFrame({"__id": pdf[id_col],
                                "n_bpe_tokens": counts,
                                "bpe_tokens": toks})

    out = df.select(id_col, text_col).mapInPandas(
        enc, schema="__id long, n_bpe_tokens long, bpe_tokens array<string>")
    return out.select(F.col("__id").alias(id_col), "n_bpe_tokens",
                      "bpe_tokens")


def bpe_encode_distinct(df: DataFrame, merges: list, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """bpe_encode via DISTINCT-WORD pre-aggregation (r9, VERDICT r8
    item 8) — the standard production shape at 100 TB: segment each
    distinct word ONCE (the only Python stage, sized by corpus
    vocabulary, not corpus tokens), join the piece table back to the
    (doc, pos, word) rows, and reassemble per doc with an ordered
    array fold. bpe_encode's per-batch cache re-segments a word once
    per Arrow batch (partition) that contains it — total Python cost
    ~ |vocab| x partitions; this variant's is exactly |vocab| once,
    however many partitions the corpus spans.

    Measured regime (fixtures, 32 partitions): the synthetic corpus
    vocabulary is tiny, so batch-cache is already near-optimal and the
    three extra exchanges LOSE — 0.28s vs 1.00s at sf0.1, 0.41s vs
    1.19s at sf1. The crossover needs vocab x merge-replay cost to
    dominate shuffle cost: real web corpora (vocab 10^7-10^8, merge
    tables 30k+, thousands of partitions) sit far on the other side,
    which is why production tokenizers materialize the word->pieces
    table. Ship both; pick by vocab-to-shuffle ratio.

    Exchanges: distinct(word) + the word join + the per-doc regroup —
    all carrying tokens/pieces, never full texts. Output and token
    order are IDENTICAL to bpe_encode (test-asserted): word split is
    the same whitespace tokenization, segmentation is the same
    rank-greedy replay, reassembly sorts by token position."""
    import pandas as pd

    ranks = {tuple(m): i for i, m in enumerate(merges)}
    words = F.filter(tokens(F.col(text_col)), lambda x: x != "")
    toks = df.select(
        F.col(id_col),
        F.posexplode(words).alias("__pos", "__w"))
    uw = toks.select("__w").distinct()

    def enc_words(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "__w": pdf["__w"],
                "__pieces": [_bpe_segment(w, ranks) for w in pdf["__w"]]})

    enc = uw.mapInPandas(
        enc_words, schema="__w string, __pieces array<string>")
    # The piece table is vocab-sized; BROADCAST it into the token join
    # (r10 plan-audit catch: without the hint the join planned
    # sort-merge, shuffling the corpus tokens on the word key on top of
    # the regroup exchange they already pay — Spark has no stats for a
    # mapInPandas output).
    per_doc = (toks.join(F.broadcast(enc), "__w")
               .groupBy(id_col)
               .agg(F.flatten(F.transform(
                   F.array_sort(F.collect_list(
                       F.struct("__pos", "__pieces"))),
                   lambda s: s["__pieces"])).alias("bpe_tokens")))
    # docs with no tokens (empty/NULL text) drop out of the explode —
    # restore them with the same ([], 0) row bpe_encode emits. UNION of
    # a narrow second scan, not a left join (r10 plan-audit catch: the
    # old corpus-grain LEFT JOIN sort-merged two corpus-sized tables
    # and re-exchanged the id side; the empties scan is pruned to the
    # id column plus a size predicate and needs no exchange at all).
    # coalesce(size, 0) covers both ANSI NULL and legacy -1 for NULL
    # text, matching the explode path where such docs have no rows.
    empties = (df.where(F.coalesce(F.size(words), F.lit(0)) <= 0)
               .select(F.col(id_col),
                       F.lit(0).cast("long").alias("n_bpe_tokens"),
                       F.array().cast("array<string>")
                       .alias("bpe_tokens")))
    return (per_doc.select(
                F.col(id_col),
                F.size("bpe_tokens").cast("long").alias("n_bpe_tokens"),
                "bpe_tokens")
            .unionByName(empties))


def pick_bpe_tier(vocab_est: int, n_tokens: int, n_partitions: int,
                  row_cost: float = 0.03, fixed: int = 100_000) -> str:
    """Pure decision function for the BPE encode tier (r10, VERDICT r9
    item 6; the boundary is unit-testable without a corpus). Returns
    "batch" or "distinct".

    Cost model, in units of one merge-replay segmentation (~5 us):
    - "batch" (bpe_encode): per-Arrow-batch word cache, so a word
      re-segments once per partition that contains it — redundant work
      bounded by vocab x (P-1) segmentations and, for natural language
      where common words appear in every partition, close to it.
    - "distinct" (bpe_encode_distinct): exactly vocab segmentations,
      plus three token-row exchanges (posexplode -> distinct -> join ->
      regroup) whose cost tracks n_tokens (`row_cost` segmentations per
      shuffled row, ~0.15 us/row / 5 us) plus fixed stage latency
      (`fixed`, covers the extra stages at micro scale).

    distinct wins iff  vocab_est * (P - 1) > row_cost * n_tokens + fixed.

    Measured regime anchors (text.py bpe_encode_distinct docstring):
    | corpus | vocab | P | tokens | rule picks | measured |
    |---|---|---|---|---|---|
    | fixture sf0.1 | 31 | 32 | 271k | batch | batch 0.28s vs 1.00s |
    | fixture sf1 | 31 | 32 | ~2.7M | batch | batch 0.41s vs 1.19s |
    | web corpus | 10^7+ | 10^3 | 10^10 | distinct | production shape |
    The fixture's 31-word vocabulary is the degenerate batch-cache
    best case; any real text corpus crosses over once redundant
    re-segmentation (vocab x partitions) outgrows the token shuffle."""
    return ("distinct"
            if vocab_est * max(0, n_partitions - 1)
            > row_cost * n_tokens + fixed
            else "batch")


def bpe_encode_auto(df: DataFrame, merges: list, id_col: str = "doc_id",
                    text_col: str = "text",
                    vocab_est: int | None = None,
                    n_tokens: int | None = None,
                    n_partitions: int | None = None) -> DataFrame:
    """Auto-dispatching bpe_encode: measures the corpus'
    vocab-to-shuffle ratio with ONE cheap aggregate (approximate
    distinct-word count + exact token count + non-empty partition
    count, all in the same exploded scan) and picks the tier via
    `pick_bpe_tier`. Output is byte-identical whichever tier runs
    (the r9 identity test covers the two bodies;
    test_bpe_auto_dispatch_identity covers this boundary).

    At 100 TB skip the measuring scan by passing `vocab_est` /
    `n_tokens` from pipeline stats already on hand (a data card,
    text_token_count totals, or the tokenizer-training profile) plus
    `n_partitions` (the planned scan width). When stats are supplied
    but `n_partitions` is not, the session's defaultParallelism
    stands in — never an RDD partition-count probe, which forces a
    full plan-to-RDD conversion just to read a count (VERDICT r10
    item 6; lint-enforced in full_check.sh)."""
    if vocab_est is None or n_tokens is None:
        w = exploded_tokens(df, id_col, text_col) \
            .filter(F.col("token") != "") \
            .withColumn("__pid", F.spark_partition_id())
        row = w.agg(
            F.approx_count_distinct("token").alias("v"),
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct("__pid").alias("p")).collect()[0]
        vocab_est = int(row["v"]) if vocab_est is None else vocab_est
        n_tokens = int(row["n"]) if n_tokens is None else n_tokens
        if n_partitions is None:
            # non-empty input partitions of the SAME scan the batch
            # tier would run — empty partitions re-segment nothing,
            # so this is the count the cost model actually wants
            n_partitions = int(row["p"])
    if n_partitions is None:
        sc = df.sparkSession.sparkContext
        n_partitions = sc.defaultParallelism
    tier = pick_bpe_tier(vocab_est, n_tokens, n_partitions)
    fn = bpe_encode_distinct if tier == "distinct" else bpe_encode
    return fn(df, merges, id_col=id_col, text_col=text_col)


def hash_embedding_cells(df: DataFrame, dim: int = 64,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Feature-hashing text vectors, sparse stage (the hashing trick,
    Weinberger et al. ICML 2009): every token lands in dimension
    portable_hash(token) mod dim with sign portable_hash(token||'#s')
    mod 2 — a model-free document embedding that bridges text corpora
    into the vector operators (knn_graph, cosine/hamming ANN, semantic
    dedup) when no learned embeddings exist. Signed counts keep the
    expectation of dot products unbiased under collisions.

    Integer-exact and engine-replayable end to end (the md5-derived
    portable hash, exact signed-count sums). One exchange: tokens
    group to (doc, dim) cells; only NON-ZERO cells emerge —
    vocabulary-independent O(docs x dim) output bound.
    Output (id, dim_idx, value), value long.
    """
    tok = exploded_tokens(df, id_col, text_col)
    from .dedup import portable_hash
    idx = F.pmod(portable_hash(F.col("token")), F.lit(dim)).cast("long")
    sign = F.when(
        F.pmod(portable_hash(F.concat(F.col("token"), F.lit("#s"))),
               F.lit(2)) == 0, F.lit(1)).otherwise(F.lit(-1))
    return (tok.select(F.col(id_col), idx.alias("dim_idx"),
                       sign.alias("__s"))
            .groupBy(id_col, "dim_idx")
            .agg(F.sum("__s").cast("long").alias("value"))
            .filter(F.col("value") != 0))
