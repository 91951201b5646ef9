"""Corpus quality signals and benchmark decontamination — the
filter-stage operators of an LLM training-data pipeline (the published
Gopher/RefinedWeb-style heuristics re-expressed as JVM column math).

Everything here is pure ``pyspark.sql.functions`` expressions — no
Python workers, whole-stage codegen, exactly reproducible in SQL (the
driver oracles recompute every signal in DuckDB).

Scale notes: quality signals are a projection over the scan (no
shuffle).  Contamination is an equi-join on n-gram hashes — the
benchmark side is tiny by construction (an eval set), so Catalyst
broadcasts it and the corpus side never shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import bind_once as _bind

__all__ = ["with_quality_signals", "with_repetition_signals",
           "with_token_repetition_signals", "gopher_filter",
           "with_gopher_quality_signals", "gopher_quality_filter",
           "GOPHER_REQUIRED_STOPWORDS", "GOPHER_BULLET_PREFIXES",
           "GOPHER_ELLIPSIS_SUFFIXES",
           "GOPHER_MAX_TOP_NGRAM", "GOPHER_MAX_DUP_NGRAM",
           "with_c4_signals", "c4_clean_lines", "c4_filter",
           "C4_TERMINAL_PUNCT",
           "with_charset_signals", "charset_filter",
           "ngram_contamination",
           "token_ngram_contamination", "lm_perplexity",
           "token_lm_perplexity", "kn_perplexity", "domain_weights",
           "PII_PATTERNS", "with_pii_scrub", "dsir_weights",
           "temperature_weights", "ccnet_buckets", "temperature_mix",
           "unimax_weights", "unimax_mix", "normalize_scores",
           "platt_scale", "scoring_metrics", "isotonic_calibrate",
           "conformal_gate", "group_auc", "population_stability",
           "psi_bins", "psi_from_bins", "ks_statistic",
           "percentile_gate"]

# Redaction rules: name -> (regex, replacement token).  Patterns are
# restricted to the syntax subset where Java regex (Spark) and RE2
# (DuckDB oracles) agree: no backreferences, no lookaround, ASCII \b.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    "ssn": (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
}


def _words(text_col: str) -> Column:
    return F.split(F.col(text_col), " ")


def with_quality_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition / shape signals (cf. Gopher rules, Rae et al. 2021):

    * ``top_bigram_frac`` — fraction of the doc's bigrams taken by its
      most frequent bigram (high = templated/repetitive text);
    * ``dup_word_frac`` — 1 - distinct_words / words;
    * ``mean_word_len`` — average word length (outliers = code/garbage);
    * ``ellipsis_line_frac`` — fraction of words ending in "..."
      (listing/navigation debris);
    * ``numeric_frac`` — fraction of purely numeric words.

    All JVM expressions; each intermediate array is bound once.
    """

    def signals(ws: Column):
        n = F.size(ws)
        bigrams = F.transform(
            F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(ws, i, 2)),
        )
        # max bigram multiplicity in O(n log n): sort, then one
        # aggregate pass tracking the longest run of equal neighbours.
        # (The obvious distinct×filter form is O(n²) per doc — a long-doc
        # scale trap at corpus sizes.)
        def _max_run(bg: Column) -> Column:
            return F.aggregate(
                F.array_sort(bg),
                F.struct(
                    F.lit("\x00init\x00").alias("prev"),
                    F.lit(0).alias("run"),
                    F.lit(0).alias("best"),
                ),
                lambda acc, x: F.struct(
                    x.alias("prev"),
                    F.when(x == acc["prev"], acc["run"] + 1)
                    .otherwise(F.lit(1))
                    .alias("run"),
                    F.greatest(
                        acc["best"],
                        F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
                    ).alias("best"),
                ),
                lambda acc: acc["best"],
            )

        top_bigram = _bind(
            bigrams,
            lambda bg: _max_run(bg) / F.greatest(F.size(bg), F.lit(1)),
        )
        dup_words = (n - F.size(F.array_distinct(ws))) / F.greatest(n, F.lit(1))
        mean_len = F.aggregate(
            ws, F.lit(0), lambda acc, w: acc + F.length(w)
        ) / F.greatest(n, F.lit(1))
        ellipsis = F.size(F.filter(ws, lambda w: w.endswith("..."))) / F.greatest(
            n, F.lit(1)
        )
        numeric = F.size(F.filter(ws, lambda w: w.rlike("^[0-9]+$"))) / F.greatest(
            n, F.lit(1)
        )
        return F.struct(
            F.round(top_bigram, 6).alias("top_bigram_frac"),
            F.round(dup_words, 6).alias("dup_word_frac"),
            F.round(mean_len, 6).alias("mean_word_len"),
            F.round(ellipsis, 6).alias("ellipsis_line_frac"),
            F.round(numeric, 6).alias("numeric_frac"),
        )

    out = _bind(_words(text_col), signals)
    return df.withColumn("quality", out).select(
        *df.columns, "quality.*"
    ).drop("quality")


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag every corpus doc sharing at least
    one word ``n``-gram with the benchmark set (the standard eval-leak
    scan).  Returns (key, n_hits, first discovery order irrelevant —
    deterministic aggregation).

    Shape: both sides explode to distinct n-gram rows; the benchmark
    side is an eval set (tiny), so the equi-join broadcasts it and the
    corpus side streams through map-side — no corpus shuffle.  At 100 TB
    the corpus explode is the dominant cost and is embarrassingly
    parallel.

    ``broadcast_benchmark=False`` drops the broadcast hint for scans
    where the "benchmark" side is itself corpus-scale (train-vs-val
    split-leakage checks): the join becomes a plain shuffled equi-join
    on the gram hash, whose per-key fanout is the gram's document
    frequency — the scale-safe shape when NEITHER side fits an executor.
    """

    def grams(df: DataFrame) -> DataFrame:
        ws = _words(text_col)
        arr = _bind(
            ws,
            lambda w: F.when(
                F.size(w) >= n,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size(w) - (n - 1)),
                        lambda i: F.concat_ws(" ", F.slice(w, i, n)),
                    )
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
        return df.select(F.col(key), F.explode(arr).alias("gram"))

    bench_grams = grams(benchmark).select("gram").distinct()
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    return (
        grams(corpus)
        .join(bench_grams, "gram")
        .groupBy(key)
        .agg(F.count("*").alias("n_hits"))
    )


def token_ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    key: str = "doc_id",
    tokens_col: str = "tokens",
    n: int = 8,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination over PRE-TOKENIZED sequences: flag
    every corpus sequence sharing at least one token ``n``-gram with the
    eval set.  The token-side twin of ``ngram_contamination`` — after
    tokenization the text is gone, and eval leakage must be detected on
    token-id windows (the form the model actually trains on).

    Same scale shape: both sides explode to distinct n-gram rows; the
    eval side is tiny so the equi-join broadcasts it and the corpus
    streams map-side — no corpus shuffle.  As in
    :func:`ngram_contamination`, pass ``broadcast_benchmark=False``
    when the right side is corpus-scale (split-leakage scans) so the
    join shuffles on the gram hash instead of broadcasting.
    """

    def grams(df: DataFrame) -> DataFrame:
        arr = _bind(
            F.transform(F.col(tokens_col), lambda x: x.cast("string")),
            lambda s: F.when(
                F.size(s) >= n,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size(s) - (n - 1)),
                        lambda i: F.concat_ws(" ", F.slice(s, i, n)),
                    )
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
        return df.select(F.col(key), F.explode(arr).alias("gram"))

    bench_grams = grams(benchmark).select("gram").distinct()
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    return (
        grams(corpus)
        .join(bench_grams, "gram")
        .groupBy(key)
        .agg(F.count("*").alias("n_hits"))
    )


def lm_perplexity(
    df: DataFrame,
    text_col: str = "text",
    key: str = "doc_id",
    min_count: int = 1,
    broadcast_model: bool = True,
) -> DataFrame:
    """CCNet-style language-model quality scoring: train an add-one
    (Laplace) smoothed bigram LM on the corpus itself, then score every
    document by its cross-entropy under that model (Wenzek et al. 2020
    filter web text by LM perplexity; here the corpus is its own model,
    so boilerplate-ish docs score low and outlier docs score high).

    P(w2 | w1) = (c(w1 w2) + 1) / (c(w1) + V),  V = |vocab|
    cross_entropy(doc) = mean over the doc's bigrams of -ln P(w2|w1)
    perplexity(doc)    = exp(cross_entropy)

    Returns (key, n_bigrams, cross_entropy, perplexity); docs with
    fewer than two words keep a row with nulls (left join back).

    Shape at scale: the model is ONE shuffle of distinct bigrams with
    map-side partial aggregation (distinct grams ≪ total grams on
    natural text); ``min_count`` prunes the model's long tail — pruned
    bigrams fall back to the unseen-bigram probability 1/(c(w1)+V),
    exactly what add-one smoothing assigns a zero-count pair, so
    pruning changes only model size, never the smoothing family.
    Scoring joins the doc-bigram stream against the model on (w1, w2)
    then (w1).  With ``broadcast_model=True`` (default) AND a pruned
    model (``min_count > 1``) both model tables are broadcast-hinted,
    so the token-stream-sized bigram explode NEVER shuffles — it flows
    scan → explode → broadcast lookups → map-side partial agg on the
    doc key; this also sidesteps the Zipf skew of natural-language
    gram keys (a shuffle join on "the …" hot keys needs AQE skew
    splitting; a broadcast join does not care).  ``min_count`` pruning
    is what makes the bigram table model-sized, so the hint is applied
    ONLY when ``min_count > 1``: an unpruned (default ``min_count=1``)
    bigram table is corpus-vocabulary-scale and broadcast-hinting it
    is exactly the executor/driver OOM this paragraph warns about —
    unpruned calls fall back to a shuffle join regardless of the flag
    (at corpus scale: bucket both sides on the gram key).  The unigram model is persisted
    (single-slot: each call retires the previous call's cached model,
    so long sessions never accumulate storage) and the vocab size V is
    a row-count of it (1-row broadcast cross
    join), so the whole pipeline makes exactly three
    embarrassingly-parallel corpus passes: bigram model build, unigram
    model build, and the scoring pass (the token-stream-sized bigram
    explode is deliberately NOT materialized).  All JVM expressions —
    no Python workers.
    """
    return _bigram_perplexity(
        df, _words(text_col), key, min_count, broadcast_model,
        slot="lm_perplexity",
        pair_type="array<struct<w1:string,w2:string>>",
    )


def token_lm_perplexity(
    df: DataFrame,
    tokens_col: str = "tokens",
    key: str = "doc_id",
    min_count: int = 1,
    broadcast_model: bool = True,
) -> DataFrame:
    """:func:`lm_perplexity` over PRE-TOKENIZED sequences: the same
    self-trained add-one bigram LM and per-document cross-entropy, but
    the units are token ids (``array<int>``) instead of whitespace
    words — perplexity in the space the model actually trains on.
    Text-level LM scores diverge from token-level ones exactly where
    tokenization does something interesting (rare words exploding into
    long byte-pair tails, terminator/control ids), and token-level
    perplexity is the form used for loss-based data selection
    (e.g. RHO-style selection scores model loss on the tokenized
    stream, not on text).

    Same output columns (``key, n_bigrams, cross_entropy,
    perplexity``), same smoothing family, and the same scale contract
    as :func:`lm_perplexity`: ``min_count`` pruning is what makes the
    bigram table model-sized, so the broadcast hint applies ONLY when
    ``min_count > 1`` — token-id bigram tables are vocab² in the worst
    case (a 100k-token vocabulary admits 10^10 pairs), so an unpruned
    model shuffle-joins regardless of the flag.  Sequences shorter
    than two tokens keep a row with nulls.  All JVM expressions — no
    Python workers.
    """
    return _bigram_perplexity(
        df, F.col(tokens_col), key, min_count, broadcast_model,
        slot="token_lm_perplexity",
        pair_type="array<struct<w1:int,w2:int>>",
    )


def _bigram_perplexity(
    df: DataFrame,
    ws,
    key: str,
    min_count: int,
    broadcast_model: bool,
    slot: str,
    pair_type: str,
) -> DataFrame:
    """Shared core of :func:`lm_perplexity` / :func:`token_lm_perplexity`:
    add-one bigram LM over the unit array ``ws`` (words or token ids —
    ``pair_type`` names the typed empty-array literal for sub-2-unit
    rows), model build + scoring exactly as documented on the public
    wrappers."""
    pairs = df.select(
        F.col(key),
        F.explode(
            F.when(
                F.size(ws) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(ws) - 1),
                    lambda i: F.struct(
                        F.element_at(ws, i).alias("w1"),
                        F.element_at(ws, i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast(pair_type))
        ).alias("bg"),
    ).select(key, "bg.w1", "bg.w2")

    bigram_counts = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    if min_count > 1:
        bigram_counts = bigram_counts.filter(F.col("c12") >= min_count)
    # persisted at the branch point: the scoring join AND the vocab
    # size both read this model-sized table (join-pushed filters defeat
    # ReuseExchange, so without the persist each consumer would
    # re-explode the corpus)
    from ..functions import persist_slot

    unigram_counts = persist_slot(
        df.select(F.explode(ws).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c1")),
        slot=slot,
    )
    vocab = unigram_counts.agg(F.count("*").alias("v"))

    hint = broadcast_model and min_count > 1
    bg = F.broadcast(bigram_counts) if hint else bigram_counts
    ug = F.broadcast(unigram_counts) if hint else unigram_counts
    scored = (
        pairs
        .join(bg, ["w1", "w2"], "left")
        .join(ug, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(key),
            (-F.log(
                (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1))
                / (F.col("c1") + F.col("v"))
            )).alias("nll"),
        )
        .groupBy(key)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.avg("nll").alias("h"),
        )
    )
    return (
        df.select(key)
        .join(scored, key, "left")
        .select(
            key,
            "n_bigrams",
            F.round("h", 6).alias("cross_entropy"),
            F.round(F.exp("h"), 6).alias("perplexity"),
        )
    )


def kn_perplexity(
    df: DataFrame,
    text_col: str = "text",
    key: str = "doc_id",
    discount: float = 0.75,
    min_count: int = 1,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity (Kneser & Ney,
    ICASSP'95; Chen & Goodman 1999 eq. 4.27) — the smoothing family
    that actually wins LM evaluations, next to :func:`lm_perplexity`'s
    add-one baseline.  KN replaces the unseen-mass heuristic with
    CONTINUATION counts: how many distinct contexts a word follows,
    not how often it occurs ("Francisco" is frequent but only ever
    follows "San", so it gets almost no novel-context mass).

        P(w2|w1) = max(c(w1 w2) - D, 0) / c(w1·)
                   + lam(w1) * Pcont(w2)
        lam(w1)  = D * N1+(w1 ·) / c(w1·)      (reserved mass)
        Pcont(w2)= N1+(· w2) / N1+(· ·)        (continuation prob.)

    where c(w1·) is w1's HISTORY count (sum of its bigram counts — not
    the raw unigram count, which differs at document ends) and N1+ are
    bigram TYPE counts.  Scoring mirrors lm_perplexity: per-doc mean
    of -ln P over the doc's bigrams, perplexity = exp; docs with fewer
    than two words keep a null row.

    ``min_count`` prunes the bigram table BEFORE the type counts are
    derived (the model is then trained on frequent bigrams only), with
    graceful backoff for what pruning removed: a pruned bigram falls
    back to lam(w1)*Pcont(w2), a fully pruned history to Pcont(w2)
    alone, and a fully pruned continuation to 1/N1+(··).  With the
    default ``min_count=1`` the corpus is its own model and no
    fallback ever triggers.

    Shape at scale: ONE shuffle builds the distinct-bigram count table
    (map-side combined; distinct grams ≪ total grams on natural text);
    it is persisted at the branch point and every derived model table
    — history counts, forward/backward type counts, the 1-row type
    total — is an aggregate OF THAT table, not another corpus pass.
    Scoring is the token-stream explode joined against model-sized
    tables (AQE picks broadcast when they fit; at corpus scale bucket
    both sides on the gram key).  All JVM expressions — no Python
    workers anywhere.
    """
    from ..functions import persist_slot

    ws = _words(text_col)
    pairs = df.select(
        F.col(key),
        F.explode(
            F.when(
                F.size(ws) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(ws) - 1),
                    lambda i: F.struct(
                        F.element_at(ws, i).alias("w1"),
                        F.element_at(ws, i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("bg"),
    ).select(key, "bg.w1", "bg.w2")

    bigrams = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    if min_count > 1:
        bigrams = bigrams.filter(F.col("c12") >= min_count)
    bigrams = persist_slot(bigrams, slot="kn_perplexity")

    hist = bigrams.groupBy("w1").agg(
        F.sum("c12").alias("c1h"),
        F.count("*").alias("n1p_fw"),
    )
    cont = bigrams.groupBy("w2").agg(F.count("*").alias("n1p_bw"))
    types = bigrams.agg(F.count("*").alias("t_types"))

    d = F.lit(float(discount))
    pc2 = F.coalesce(
        F.col("n1p_bw") / F.col("t_types"),
        F.lit(1.0) / F.col("t_types"),
    )
    lam1 = d * F.col("n1p_fw") / F.col("c1h")
    p_hit = (
        F.greatest(F.col("c12") - d, F.lit(0.0)) / F.col("c1h")
        + lam1 * pc2
    )
    p = F.when(F.col("c12").isNotNull(), p_hit).otherwise(
        F.when(F.col("c1h").isNotNull(), lam1 * pc2).otherwise(pc2)
    )
    scored = (
        pairs.join(bigrams, ["w1", "w2"], "left")
        .join(hist, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(types))
        .select(F.col(key), (-F.log(p)).alias("nll"))
        .groupBy(key)
        .agg(F.count("*").alias("n_bigrams"), F.avg("nll").alias("h"))
    )
    return (
        df.select(key)
        .join(scored, key, "left")
        .select(
            key,
            "n_bigrams",
            F.round("h", 6).alias("cross_entropy"),
            F.round(F.exp("h"), 6).alias("perplexity"),
        )
    )


def with_pii_scrub(df: DataFrame, text_col: str = "text",
                   out: str = "text_scrubbed",
                   patterns: dict[str, tuple[str, str]] | None = None) -> DataFrame:
    """PII redaction — the privacy-filter stage every published
    training-data pipeline runs before tokenization (cf. RefinedWeb
    §3.6, the C4 blocklist step): replace emails / IPv4 addresses /
    SSN-shaped ids with typed placeholder tokens and count the
    redactions per document (the counts feed quality gates and audit
    metrics; documents over a PII budget get dropped, not scrubbed).

    Adds ``out`` (scrubbed text) and one ``n_pii_<name>`` count per
    pattern, counted on the ORIGINAL text; replacements are then
    applied in dict order.  Pure JVM ``regexp_replace``/
    ``regexp_count`` — a projection over the scan, no shuffle, no
    Python workers, so it runs at scan speed at any corpus size.
    """
    pats = PII_PATTERNS if patterns is None else patterns
    for name, (pat, _) in pats.items():
        df = df.withColumn(
            f"n_pii_{name}",
            F.regexp_count(F.col(text_col), F.lit(pat)).cast("long"),
        )
    scrubbed = F.col(text_col)
    for _, (pat, rep) in pats.items():
        scrubbed = F.regexp_replace(scrubbed, pat, rep)
    return df.withColumn(out, scrubbed)


def _md5_bucket(col: Column, n_buckets: int) -> Column:
    """Stable word -> [0, n_buckets) hash shared with the DuckDB
    oracles: value of the first 8 hex digits of md5, mod n_buckets.
    (``F.hash`` is murmur3, which DuckDB cannot reproduce.)"""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % n_buckets


def dsir_weights(corpus: DataFrame, target: DataFrame,
                 text_col: str = "text", key: str = "doc_id",
                 n_buckets: int = 1024) -> DataFrame:
    """DSIR-style data-selection scores (Xie et al., NeurIPS'23):
    rank raw-corpus documents by how target-like they are, using the
    log-likelihood ratio of hashed unigram features under add-one
    bucket distributions estimated from the target vs the raw corpus.
    Per doc: ``dsir_score`` = mean over its words of
    ``ln p_target(bucket) - ln p_corpus(bucket)`` (positive = looks
    like the target; resampling keeps the top slice or samples
    proportionally to exp(score)).

    Returns (key, n_words, dsir_score), one row per corpus doc.

    Scale shape: both count tables have at most ``n_buckets`` rows, so
    the log-ratio table is broadcast; the corpus explodes to words,
    map-side-combines per (partition, doc) and shuffles only the final
    per-doc partials on ``key``.  Nothing all-pairs, nothing driver
    side, no Python workers.
    """
    def words(df: DataFrame):
        return df.select(
            F.col(key),
            F.explode(F.split(F.col(text_col), " ")).alias("w"),
        )

    tw = words(target).select(_md5_bucket(F.col("w"), n_buckets).alias("b"))
    cw = words(corpus).select(
        F.col(key), _md5_bucket(F.col("w"), n_buckets).alias("b")
    )
    tgt = tw.groupBy("b").agg(F.count("*").alias("tc"))
    raw = cw.groupBy("b").agg(F.count("*").alias("rc"))
    tots = (
        tgt.agg(F.sum("tc").alias("t_tot"))
        .crossJoin(raw.agg(F.sum("rc").alias("r_tot")))
    )
    lr = (
        tgt.join(raw, "b", "full_outer")
        .na.fill({"tc": 0, "rc": 0})
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            (
                F.log((F.col("tc") + 1)
                      / (F.col("t_tot") + F.lit(float(n_buckets))))
                - F.log((F.col("rc") + 1)
                        / (F.col("r_tot") + F.lit(float(n_buckets))))
            ).alias("lr"),
        )
    )
    return (
        cw.join(F.broadcast(lr), "b")
        .groupBy(key)
        .agg(
            F.count("*").alias("n_words"),
            F.round(F.avg("lr"), 6).alias("dsir_score"),
        )
    )


def temperature_weights(df: DataFrame, source_col: str = "source",
                        temperature: float = 2.0) -> DataFrame:
    """Temperature-scaled source sampling weights (the multilingual /
    multi-source mixing rule of mT5, Xue et al. 2021): a source holding
    raw share p gets sampling probability proportional to p^(1/T) —
    T=1 keeps natural proportions, T→∞ approaches uniform, so
    low-resource sources are up-sampled without ever dominating.

    Returns (source, n_docs, p_raw, p_sampled, boost) where ``boost``
    = p_sampled / p_raw is the per-doc duplication factor a sampler
    would apply.

    Scale shape: one map-side-combined count per source (the only
    shuffle, cardinality = #sources), then two single-row broadcast
    totals — the corpus itself is never reshuffled.
    """
    counts = df.groupBy(source_col).agg(F.count("*").alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").alias("n_total"))
    p = counts.crossJoin(F.broadcast(tot)).select(
        source_col, "n_docs",
        (F.col("n_docs") / F.col("n_total")).alias("p_raw"),
    )
    z = p.agg(
        F.sum(F.pow(F.col("p_raw"), 1.0 / temperature)).alias("z")
    )
    return (
        p.crossJoin(F.broadcast(z))
        .select(
            source_col,
            "n_docs",
            F.round("p_raw", 6).alias("p_raw"),
            F.round(
                F.pow(F.col("p_raw"), 1.0 / temperature) / F.col("z"), 6
            ).alias("p_sampled"),
            F.round(
                F.pow(F.col("p_raw"), 1.0 / temperature)
                / F.col("z") / F.col("p_raw"), 6
            ).alias("boost"),
        )
    )

def with_repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    line_sep: str = "\n",
    ns_top: tuple = (2, 3, 4),
    ns_dup: tuple = (5, 10),
) -> DataFrame:
    """Gopher's line/n-gram repetition filters (Rae et al. 2021,
    Table A1 — the family ``with_quality_signals`` does not cover):

    * ``top_{n}gram_char_frac`` (n in ``ns_top``) — characters of the
      most frequent word n-gram times its count, over the doc's total
      characters (Gopher rejects above 0.20 / 0.18 / 0.16 for n=2,3,4);
    * ``dup_{n}gram_char_frac`` (n in ``ns_dup``) — characters taken by
      ALL occurrences of n-grams appearing more than once, over total
      characters (Gopher thresholds 0.15 .. 0.10 for n=5..10; overlaps
      are deliberately NOT deduplicated — fractions can exceed 1 on
      degenerate text, same as counting each occurrence independently);
    * ``dup_line_frac`` / ``dup_line_char_frac`` — fraction of lines
      (resp. their characters) that are repeats of an earlier line.

    Determinism: the "most frequent" tie breaks toward the
    lexicographically smallest n-gram (here via a fold over the sorted
    gram array that only advances on a strictly longer run; in the
    DuckDB oracle via ``ORDER BY cnt DESC, gram ASC``).  An n-gram's
    character count is ``length(gram)`` including its joining spaces.

    All pure JVM expressions: the word array is bound once per row
    (``bind_once``), then one per-doc O(G log G) sort + fold per
    signal — a shuffle-free projection over the scan.
    """
    total = F.greatest(F.length(text_col), F.lit(1))

    def _grams(ws: Column, n: int) -> Column:
        # guard: F.sequence(1, k) with k < 1 walks BACKWARDS (step -1)
        return F.when(
            F.size(ws) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - n + 1),
                lambda i: F.concat_ws(" ", F.slice(ws, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    def _top_chars(sorted_grams: Column) -> Column:
        # longest equal-neighbour run over the sorted array; ties keep
        # the FIRST (lex-smallest) gram because best only moves on >
        # chars/best accumulators are LONG: dup-gram char sums reach
        # ~n x doc_chars, and an int32 wrap would go negative — which
        # passes every <= threshold, silently admitting exactly the
        # degenerate docs gopher_filter exists to reject
        return F.aggregate(
            sorted_grams,
            F.struct(
                F.lit("\x00init\x00").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).cast("long").alias("best"),
                F.lit(0).cast("long").alias("best_len"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
                ).alias("best"),
                F.when(
                    F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
                    > acc["best"],
                    F.length(x),
                )
                .otherwise(acc["best_len"])
                .alias("best_len"),
            ),
            lambda acc: acc["best"] * acc["best_len"],
        )

    def _dup_chars(sorted_grams: Column) -> Column:
        # chars over ALL occurrences of grams seen >= 2 times: the 2nd
        # occurrence retroactively charges the 1st (2x), later ones 1x
        return F.aggregate(
            sorted_grams,
            F.struct(
                F.lit("\x00init\x00").alias("prev"),
                F.lit(1).alias("run"),
                F.lit(0).cast("long").alias("chars"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                (
                    acc["chars"]
                    + F.when(
                        x == acc["prev"],
                        F.when(acc["run"] == 1, F.length(x) * 2).otherwise(
                            F.length(x)
                        ),
                    ).otherwise(F.lit(0))
                ).alias("chars"),
            ),
            lambda acc: acc["chars"],
        )

    def gram_signals(ws: Column) -> Column:
        fields = []
        for n in ns_top:
            fields.append(
                F.round(
                    _bind(F.array_sort(_grams(ws, n)), _top_chars) / total, 6
                ).alias(f"top_{n}gram_char_frac")
            )
        for n in ns_dup:
            fields.append(
                F.round(
                    _bind(F.array_sort(_grams(ws, n)), _dup_chars) / total, 6
                ).alias(f"dup_{n}gram_char_frac")
            )
        return F.struct(*fields)

    def line_signals(lines: Column) -> Column:
        n_lines = F.greatest(F.size(lines), F.lit(1))
        line_chars = F.greatest(
            F.aggregate(
                lines, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
            ),
            F.lit(1).cast("long"),
        )
        dup_frac = (F.size(lines) - F.size(F.array_distinct(lines))) / n_lines
        # chars of occurrences BEYOND the first (a line repeated k
        # times charges (k-1) * len) — matches the oracle's (cnt-1)*len
        rep = F.aggregate(
            F.array_sort(lines),
            F.struct(F.lit("\x00init\x00").alias("prev"),
                     F.lit(0).cast("long").alias("chars")),
            lambda acc, x: F.struct(
                x.alias("prev"),
                (
                    acc["chars"]
                    + F.when(x == acc["prev"], F.length(x)).otherwise(F.lit(0))
                ).alias("chars"),
            ),
            lambda acc: acc["chars"],
        )
        return F.struct(
            F.round(dup_frac, 6).alias("dup_line_frac"),
            F.round(rep / line_chars, 6).alias("dup_line_char_frac"),
        )

    import re as _re

    out = (
        df.withColumn("_gsig", _bind(_words(text_col), gram_signals))
        .withColumn(
            "_lsig",
            _bind(F.split(F.col(text_col), _re.escape(line_sep)), line_signals),
        )
    )
    return out.select(*df.columns, "_gsig.*", "_lsig.*")


def with_token_repetition_signals(
    df: DataFrame,
    tokens_col: str = "tokens",
    ns_top: tuple = (2,),
    ns_dup: tuple = (5, 10),
) -> DataFrame:
    """Gopher repetition fractions over PRE-TOKENIZED sequences — the
    form the model actually trains on, where text-level filters miss
    tokenizer-induced repeats (cf. ``token_ngram_contamination``):

    * ``top_{n}tokgram_frac`` — tokens covered by the most frequent
      token n-gram (count x n) over the sequence length;
    * ``dup_{n}tokgram_frac`` — tokens covered by ALL occurrences of
      n-grams appearing more than once (count x n over length; overlaps
      not deduplicated, so degenerate sequences can exceed 1).

    Tie-break and engine parity as ``with_repetition_signals``: grams
    are comma-joined token ids, the fold over the sorted gram array
    advances only on a strictly longer run (= lex-smallest winner), and
    the DuckDB oracle uses ``ORDER BY cnt DESC, gram ASC`` on the same
    string form.  Pure JVM folds, shuffle-free projection.
    """

    def _grams(ts: Column, n: int) -> Column:
        return F.when(
            F.size(ts) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(ts) - n + 1),
                lambda i: F.concat_ws(
                    ",", F.transform(F.slice(ts, i, n), lambda x: x.cast("string"))
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    def _max_run(sorted_grams: Column) -> Column:
        return F.aggregate(
            sorted_grams,
            F.struct(
                F.lit("\x00init\x00").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
                ).alias("best"),
            ),
            lambda acc: acc["best"],
        )

    def _dup_count(sorted_grams: Column) -> Column:
        # occurrences inside runs of length >= 2 (2nd occurrence
        # retroactively counts the 1st)
        return F.aggregate(
            sorted_grams,
            F.struct(
                F.lit("\x00init\x00").alias("prev"),
                F.lit(1).alias("run"),
                F.lit(0).cast("long").alias("cnt"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                (
                    acc["cnt"]
                    + F.when(
                        x == acc["prev"],
                        F.when(acc["run"] == 1, F.lit(2)).otherwise(F.lit(1)),
                    ).otherwise(F.lit(0))
                ).alias("cnt"),
            ),
            lambda acc: acc["cnt"],
        )

    def signals(ts: Column) -> Column:
        total = F.greatest(F.size(ts), F.lit(1))
        fields = []
        for n in ns_top:
            fields.append(
                F.round(
                    _bind(F.array_sort(_grams(ts, n)), _max_run) * n / total, 6
                ).alias(f"top_{n}tokgram_frac")
            )
        for n in ns_dup:
            fields.append(
                F.round(
                    _bind(F.array_sort(_grams(ts, n)), _dup_count) * n / total, 6
                ).alias(f"dup_{n}tokgram_frac")
            )
        return F.struct(*fields)

    out = df.withColumn("_tsig", _bind(F.col(tokens_col), signals))
    return out.select(*df.columns, "_tsig.*").drop("_tsig")


# Gopher's published rejection thresholds (Rae et al. 2021, Table A1)
GOPHER_MAX_TOP_NGRAM = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_MAX_DUP_NGRAM = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11,
                        10: 0.10}
# Table A1's quality half: a document must contain at least two of
# these words to survive the "stop word" rule
GOPHER_REQUIRED_STOPWORDS = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)
GOPHER_BULLET_PREFIXES = ("•", "-", "*")
GOPHER_ELLIPSIS_SUFFIXES = ("...", "…")


def with_gopher_quality_signals(
    df: DataFrame,
    text_col: str = "text",
    line_sep: str = "\n",
    stopwords: tuple = GOPHER_REQUIRED_STOPWORDS,
    bullet_prefixes: tuple = GOPHER_BULLET_PREFIXES,
    ellipsis_suffixes: tuple = GOPHER_ELLIPSIS_SUFFIXES,
) -> DataFrame:
    """The QUALITY half of Gopher's Table A1 (Rae et al. 2021) — the
    shape rules ``with_repetition_signals`` deliberately leaves out:

    * ``n_words`` — whitespace word count (Gopher keeps 50..100,000);
    * ``mean_word_len`` — average word length in characters (keep 3..10);
    * ``symbol_word_ratio`` — occurrences of ``#`` plus occurrences of
      ``...`` over the word count (reject above 0.10);
    * ``alpha_word_frac`` — fraction of words containing at least one
      ASCII alphabetic character (reject below 0.80; ASCII ``[A-Za-z]``
      so the Java-regex Spark form and the RE2 DuckDB oracle agree);
    * ``n_stopwords_present`` — how many of the eight required stop
      words (``GOPHER_REQUIRED_STOPWORDS``) appear in the doc, matched
      case-insensitively as whole words (reject below 2);
    * ``bullet_line_frac`` — fraction of lines starting with a bullet
      prefix (reject above 0.90);
    * ``ellipsis_line_frac`` — fraction of lines ending with an
      ellipsis suffix (reject above 0.30).

    Empty-text edge: splitting "" yields one zero-length word and one
    empty line — ``n_words`` is 1 and every fraction is well-defined
    (denominators are clamped to >= 1), so degenerate docs flow through
    and fail the word-count bound rather than erroring.

    All pure JVM expressions over arrays bound once per row — a
    shuffle-free projection, same contract as the repetition half.
    Fractions and means are rounded to 6 decimals so an engine
    recomputing them (the DuckDB oracle) derives identical values, and
    :func:`gopher_quality_filter` thresholds the ROUNDED columns.
    """
    import re as _re

    def word_signals(ws: Column) -> Column:
        n = F.greatest(F.size(ws), F.lit(1))
        char_sum = F.aggregate(
            ws, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
        )
        alpha = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]")))
        wsl = F.transform(ws, F.lower)
        stops = _bind(
            wsl,
            lambda low: F.size(
                F.filter(
                    F.array(*[F.lit(s) for s in stopwords]),
                    lambda s: F.array_contains(low, s),
                )
            ),
        )
        return F.struct(
            F.size(ws).cast("long").alias("n_words"),
            F.round(char_sum / n, 6).alias("mean_word_len"),
            F.round(alpha / n, 6).alias("alpha_word_frac"),
            stops.cast("long").alias("n_stopwords_present"),
        )

    def line_signals(lines: Column) -> Column:
        nl = F.greatest(F.size(lines), F.lit(1))
        bullet = F.size(
            F.filter(
                lines,
                lambda l: reduce_or(
                    [l.startswith(F.lit(p)) for p in bullet_prefixes]
                ),
            )
        )
        ell = F.size(
            F.filter(
                lines,
                lambda l: reduce_or(
                    [l.endswith(F.lit(s)) for s in ellipsis_suffixes]
                ),
            )
        )
        return F.struct(
            F.round(bullet / nl, 6).alias("bullet_line_frac"),
            F.round(ell / nl, 6).alias("ellipsis_line_frac"),
        )

    def reduce_or(conds: list) -> Column:
        out = conds[0]
        for c in conds[1:]:
            out = out | c
        return out

    # symbol occurrences scan the raw text, not the word array: Gopher
    # counts every '#' and every non-overlapping '...' (replace() is
    # left-to-right non-overlapping in both Spark and DuckDB, so the
    # length delta is the same occurrence count in both engines)
    t = F.col(text_col)
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ell = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    out = (
        df.withColumn("_wsig", _bind(_words(text_col), word_signals))
        .withColumn(
            "_lsig",
            _bind(F.split(t, _re.escape(line_sep)), line_signals),
        )
        .withColumn(
            "_symr",
            F.round(
                (n_hash + n_ell)
                / F.greatest(F.size(_words(text_col)), F.lit(1)),
                6,
            ),
        )
    )
    return out.select(
        *df.columns,
        "_wsig.n_words",
        "_wsig.mean_word_len",
        F.col("_symr").alias("symbol_word_ratio"),
        "_wsig.alpha_word_frac",
        "_wsig.n_stopwords_present",
        "_lsig.bullet_line_frac",
        "_lsig.ellipsis_line_frac",
    )


def gopher_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.10,
    min_alpha_word_frac: float = 0.80,
    min_stopwords: int = 2,
    max_bullet_line_frac: float = 0.90,
    max_ellipsis_line_frac: float = 0.30,
) -> DataFrame:
    """Gopher's Table A1 QUALITY rejection rules as a boolean flag
    (Rae et al. 2021 defaults): computes
    :func:`with_gopher_quality_signals` and adds
    ``gopher_quality_pass`` = true iff every bound holds.  Together
    with :func:`gopher_filter` (the repetition half) this completes the
    published Table A1 rule set —
    ``gopher_filter(gopher_quality_filter(df))`` then
    ``gopher_quality_pass AND gopher_pass`` is the full Gopher gate.

    Like the repetition half: the flag is derived from the ROUNDED
    signal columns so any engine recomputing the signals to 6 decimals
    derives the identical boolean, and rows are flagged, not dropped —
    a shuffle-free projection usable for audit counts.
    """
    out = with_gopher_quality_signals(df, text_col=text_col)
    conds = [
        F.col("n_words") >= min_words,
        F.col("n_words") <= max_words,
        F.col("mean_word_len") >= min_mean_word_len,
        F.col("mean_word_len") <= max_mean_word_len,
        F.col("symbol_word_ratio") <= max_symbol_word_ratio,
        F.col("alpha_word_frac") >= min_alpha_word_frac,
        F.col("n_stopwords_present") >= min_stopwords,
        F.col("bullet_line_frac") <= max_bullet_line_frac,
        F.col("ellipsis_line_frac") <= max_ellipsis_line_frac,
    ]
    flag = conds[0]
    for c in conds[1:]:
        flag = flag & c
    return out.withColumn("gopher_quality_pass", flag)


def gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    max_top: dict | None = None,
    max_dup: dict | None = None,
    max_dup_line: float = 0.30,
    max_dup_line_char: float = 0.20,
) -> DataFrame:
    """Apply Gopher's repetition rejection rules as a boolean flag:
    computes ``with_repetition_signals`` for exactly the thresholded
    n values and adds ``gopher_pass`` = true iff every fraction is at
    or below its threshold (Rae et al. 2021 defaults).

    The flag is computed from the ROUNDED signal columns so any engine
    recomputing the signals to 6 decimals (the DuckDB oracle) derives
    the identical flag.  Rows are flagged, not dropped — filtering is
    the caller's ``.where("gopher_pass")``, keeping the operator a
    shuffle-free projection usable for audit counts too.
    """
    max_top = GOPHER_MAX_TOP_NGRAM if max_top is None else max_top
    max_dup = GOPHER_MAX_DUP_NGRAM if max_dup is None else max_dup
    out = with_repetition_signals(
        df, text_col=text_col,
        ns_top=tuple(max_top), ns_dup=tuple(max_dup),
    )
    conds = [
        F.col(f"top_{n}gram_char_frac") <= t for n, t in max_top.items()
    ] + [
        F.col(f"dup_{n}gram_char_frac") <= t for n, t in max_dup.items()
    ] + [
        F.col("dup_line_frac") <= max_dup_line,
        F.col("dup_line_char_frac") <= max_dup_line_char,
    ]
    flag = conds[0]
    for c in conds[1:]:
        flag = flag & c
    return out.withColumn("gopher_pass", flag)


# C4 heuristics (Raffel et al. 2020, "Exploring the Limits of Transfer
# Learning...", §2.2): terminal punctuation a retained line must end
# with.  The paper names period, exclamation mark, question mark, and
# end quotation mark.
C4_TERMINAL_PUNCT = (".", "!", "?", '"')
# characters counted as sentence terminators by the >=5-sentences rule
C4_SENTENCE_CHARS = (".", "!", "?")


def _reduce_or(conds: list) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


def c4_clean_lines(
    df: DataFrame,
    text_col: str = "text",
    line_sep: str = "\n",
    min_words_per_line: int = 3,
    terminal_punct: tuple = C4_TERMINAL_PUNCT,
    drop_word: str = "javascript",
    out_col: str = "c4_text",
) -> DataFrame:
    """C4's LINE-level cleaning (Raffel et al. 2020 §2.2): split
    ``text_col`` on ``line_sep`` and retain only lines that

    * end in a terminal punctuation mark (``terminal_punct``),
    * contain at least ``min_words_per_line`` whitespace words, and
    * do not contain ``drop_word`` (case-insensitive substring — the
      paper drops any line with the word "Javascript").

    Adds ``out_col`` (the retained lines re-joined with ``line_sep``),
    ``n_lines`` and ``n_lines_kept``.  Pure JVM array expressions bound
    once per row — a shuffle-free projection, same contract as the
    Gopher family above.  Word counting splits on ``\\s+`` after trim,
    so an all-whitespace line counts zero words.
    """
    import re as _re

    def keep(l: Column) -> Column:
        ends = _reduce_or([l.endswith(F.lit(p)) for p in terminal_punct])
        n_words = F.size(
            F.filter(
                F.split(F.trim(l), r"\s+"), lambda w: F.length(w) > 0
            )
        )
        no_drop = ~F.contains(F.lower(l), F.lit(drop_word.lower()))
        return ends & (n_words >= min_words_per_line) & no_drop

    lines = F.split(F.col(text_col), _re.escape(line_sep))
    out = df.withColumn(
        "_c4l",
        _bind(
            lines,
            lambda ls: _bind(
                F.filter(ls, keep),
                lambda kept: F.struct(
                    F.array_join(kept, line_sep).alias("text"),
                    F.size(ls).cast("long").alias("n_lines"),
                    F.size(kept).cast("long").alias("n_kept"),
                ),
            ),
        ),
    )
    return out.select(
        *df.columns,
        F.col("_c4l.text").alias(out_col),
        F.col("_c4l.n_lines").alias("n_lines"),
        F.col("_c4l.n_kept").alias("n_lines_kept"),
    )


def _count_char(col: Column, ch: str) -> Column:
    # left-to-right non-overlapping replace() has identical semantics
    # in Spark and DuckDB, so the length delta is the same occurrence
    # count in both engines (same trick as the Gopher symbol ratio)
    return F.length(col) - F.length(F.replace(col, F.lit(ch), F.lit("")))


def with_c4_signals(
    df: DataFrame,
    text_col: str = "text",
    line_sep: str = "\n",
    min_words_per_line: int = 3,
    blocklist: tuple = (),
) -> DataFrame:
    """All of C4's PAGE-level signals (Raffel et al. 2020 §2.2), built
    on :func:`c4_clean_lines`:

    * ``c4_text`` / ``n_lines`` / ``n_lines_kept`` — the line filter;
    * ``n_sentences`` — sentence terminators (``. ! ?``) remaining in
      the CLEANED text (the paper discards pages with fewer than 5
      sentences, counted after line filtering);
    * ``has_curly_brace`` — ``{`` anywhere in the ORIGINAL page (the
      paper removes pages containing code markers);
    * ``has_lorem_ipsum`` — case-insensitive "lorem ipsum" anywhere in
      the original page;
    * ``n_blocklist_hits`` — how many ``blocklist`` entries appear as
      whole whitespace-delimited tokens (case-insensitive, punctuation
      NOT stripped — "bad." does not match "bad") in the original
      page.  The paper uses an external word list ("List of Dirty,
      Naughty, Obscene..."); it is a parameter here — the default
      ``()`` yields a constant 0 column so the schema is stable either
      way.

    Everything is a JVM projection; booleans and counts are exact, so
    no rounding contract is needed (unlike the fraction-valued Gopher
    signals).
    """
    t = F.col(text_col)
    out = c4_clean_lines(
        df, text_col=text_col, line_sep=line_sep,
        min_words_per_line=min_words_per_line,
    )
    n_sent = _bind(
        F.col("c4_text"),
        lambda k: sum(
            (_count_char(k, c) for c in C4_SENTENCE_CHARS),
            F.lit(0).cast("long"),
        ),
    )
    if blocklist:
        hits = _bind(
            F.transform(F.split(t, r"\s+"), F.lower),
            lambda lw: F.size(
                F.filter(
                    F.array(*[F.lit(b.lower()) for b in blocklist]),
                    lambda b: F.array_contains(lw, b),
                )
            ).cast("long"),
        )
    else:
        hits = F.lit(0).cast("long")
    return (
        out.withColumn("n_sentences", n_sent)
        .withColumn("has_curly_brace", F.contains(t, F.lit("{")))
        .withColumn(
            "has_lorem_ipsum",
            F.contains(F.lower(t), F.lit("lorem ipsum")),
        )
        .withColumn("n_blocklist_hits", hits)
    )


def c4_filter(
    df: DataFrame,
    text_col: str = "text",
    line_sep: str = "\n",
    min_words_per_line: int = 3,
    min_sentences: int = 5,
    blocklist: tuple = (),
) -> DataFrame:
    """C4's page rejection rule as a boolean flag: computes
    :func:`with_c4_signals` and adds ``c4_pass`` = true iff the cleaned
    page has at least ``min_sentences`` sentences, no curly brace, no
    "lorem ipsum", and no blocklisted word.  Rows are flagged, not
    dropped, and the flag derives from the exact integer/boolean signal
    columns — same audit-friendly contract as :func:`gopher_filter`
    (an engine recomputing the signals derives the identical flag).

    The remaining published C4 step — three-sentence-span dedup across
    the corpus — is corpus-level, not per-page; compose with
    ``operators.dedup.substring_dedup`` / ``line_dedup`` for that.
    """
    out = with_c4_signals(
        df, text_col=text_col, line_sep=line_sep,
        min_words_per_line=min_words_per_line, blocklist=blocklist,
    )
    flag = (
        (F.col("n_sentences") >= min_sentences)
        & ~F.col("has_curly_brace")
        & ~F.col("has_lorem_ipsum")
        & (F.col("n_blocklist_hits") == 0)
    )
    return out.withColumn("c4_pass", flag)


# Explicit whitespace class instead of \s: Java \s includes \x0B while
# RE2's does not, so the shorthand silently diverges between the Spark
# expression and the DuckDB oracle on vertical-tab input.
_WS_CLASS = r"[ \t\n\r\x0B\f]"
_CONTROL_CLASS = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"


def with_charset_signals(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Per-document charset-hygiene signals — the encoding-damage
    complement to the linguistic shape rules (Gopher) and page rules
    (C4): web-scale crawls carry mojibake (mis-decoded bytes surfacing
    as U+FFFD), binary spill (C0 control characters), and
    whitespace-padding artifacts that none of the word/line signals
    see.  The RefinedWeb/FineWeb pipelines (Penedo et al. 2023/2024)
    gate on exactly this class of damage; thresholds there are
    unpublished engineering choices, so they are parameters of
    :func:`charset_filter`, not constants here.

    Adds, with every fraction over ``max(char_count, 1)`` and rounded
    to 6 decimals (the cross-engine parity contract):

    * ``replacement_char_frac`` — U+FFFD occurrences per character
      (the decoder's substitution marker: any nonzero value means the
      upstream bytes were not valid in the charset they were decoded
      as);
    * ``control_char_frac`` — C0 control characters EXCLUDING
      ``\\t \\n \\r`` (plus DEL), per character — text should have
      none; binary spill has many;
    * ``non_ascii_frac`` — code points above U+007F per character
      (a signal, not a defect: high values are normal for non-Latin
      languages — :func:`charset_filter` leaves it ungated by
      default);
    * ``whitespace_frac`` — whitespace per character;
    * ``digit_frac`` — ASCII digits per character;
    * ``max_ws_run`` — length of the longest whitespace run (layout
      tables and ASCII-art padding produce runs real prose never
      does).

    Pure JVM regexp/replace projection over the scan — no shuffle, no
    Python workers; patterns stay inside the syntax subset where Java
    regex (Spark) and RE2 (the DuckDB oracle) agree: explicit character
    classes with ``\\x`` escapes, no shorthand ``\\s`` (Java's includes
    ``\\x0B``, RE2's does not), no lookaround.
    """
    t = F.col(text_col)
    n = F.greatest(F.length(t), F.lit(1))
    # replace() is left-to-right non-overlapping in both engines, so
    # the length delta is the same occurrence count in both
    n_repl = F.length(t) - F.length(F.replace(t, F.lit("�"), F.lit("")))
    ws_runs = F.regexp_extract_all(t, F.lit(_WS_CLASS + "+"), 0)
    return (
        df.withColumn("replacement_char_frac", F.round(n_repl / n, 6))
        .withColumn(
            "control_char_frac",
            F.round(F.regexp_count(t, F.lit(_CONTROL_CLASS)) / n, 6),
        )
        .withColumn(
            "non_ascii_frac",
            F.round(F.regexp_count(t, F.lit(r"[^\x00-\x7F]")) / n, 6),
        )
        .withColumn(
            "whitespace_frac",
            F.round(F.regexp_count(t, F.lit(_WS_CLASS)) / n, 6),
        )
        .withColumn(
            "digit_frac",
            F.round(F.regexp_count(t, F.lit("[0-9]")) / n, 6),
        )
        .withColumn(
            "max_ws_run",
            F.coalesce(
                F.array_max(F.transform(ws_runs, F.length)),
                F.lit(0),
            ).cast("long"),
        )
    )


def charset_filter(
    df: DataFrame,
    text_col: str = "text",
    max_replacement_frac: float = 0.0,
    max_control_frac: float = 0.001,
    max_ws_frac: float = 0.5,
    max_ws_run: int = 200,
) -> DataFrame:
    """Charset-damage rejection rule as a boolean flag: computes
    :func:`with_charset_signals` and adds ``charset_pass`` = true iff
    the doc has no decoder replacement characters (``<=
    max_replacement_frac``), at most ``max_control_frac`` control
    characters, at most ``max_ws_frac`` whitespace, and no whitespace
    run longer than ``max_ws_run``.  ``non_ascii_frac`` is surfaced
    but NOT gated — it measures script, not damage.  Rows are flagged,
    not dropped, and the flag thresholds the ROUNDED signal columns —
    the same audit-friendly contract as :func:`gopher_filter` and
    :func:`c4_filter` (an engine recomputing the signals derives the
    identical flag).  Defaults are engineering choices in the spirit
    of RefinedWeb/FineWeb (which publish the rule class, not the
    constants); pass explicit thresholds for reproducible corpus
    builds.
    """
    out = with_charset_signals(df, text_col=text_col)
    flag = (
        (F.col("replacement_char_frac") <= max_replacement_frac)
        & (F.col("control_char_frac") <= max_control_frac)
        & (F.col("whitespace_frac") <= max_ws_frac)
        & (F.col("max_ws_run") <= max_ws_run)
    )
    return out.withColumn("charset_pass", flag)


def ccnet_buckets(
    df: DataFrame,
    score_col: str = "perplexity",
    group_col: str = "lang",
    key: str = "doc_id",
    bucketed: bool | None = None,
    bucket_threshold: int = 2_000_000,
    quant: float = 16.0,
    max_group_rows: int | None = None,
    out: str = "ppl_bucket",
) -> DataFrame:
    """CCNet-style head/middle/tail partitioning (Wenzek et al. 2020
    §4.4): within each group (CCNet buckets per language), rank rows
    by ascending LM score and split them into equal thirds — ``head``
    is the best-scoring (lowest-perplexity) third, the slice CCNet
    keeps for high-quality pretraining data.  Compose downstream of
    :func:`lm_perplexity` (or any scorer).

    Bucket assignment is pure integer arithmetic on the within-group
    rank — head iff ``3*rn <= n``, middle iff ``3*rn <= 2*n`` — so two
    engines that agree on the total order (``score_col`` asc, ``key``
    asc) agree bucket-for-bucket with no float-percentile
    interpolation anywhere.  Rows with a NULL score (docs too short to
    score) keep a NULL bucket and are excluded from ``n``: NULL
    ordering is where engines disagree (Spark sorts NULLs first,
    DuckDB last), so NULLs never enter the rank at all.

    Ranking has two physical paths with the SAME total order
    (identical output, tested):

    * ``bucketed=False`` — one rank window per group.  Parallel across
      groups, but per-language corpora are exactly the few-giant-
      groups shape: one language can be most of the corpus, and its
      window partition serializes.
    * ``bucketed=True`` — the :func:`~gbdc_spark.operators.packing.
      label_balance` two-phase rank, adapted to a FLOAT rank key: rows
      pre-bucket by the monotone quantization ``floor(score*quant)``
      (monotone ⇒ bucket order == score order, the same invariant the
      hex-prefix trick provides for md5 ranks), a per-(group, bucket)
      count aggregate broadcasts cumulative offsets, and each bucket
      ranks independently.  Within-group parallelism ~ #distinct
      quantized score cells; ``quant`` trades bucket count against
      offset-table size (cross-entropy-scale scores at the default 16
      give a few hundred cells per group).
    * ``bucketed=None`` (default) auto-picks via a group-count probe;
      derived-input callers pass ``max_group_rows`` (an upper bound is
      fine) to skip the probe, or pin ``bucketed`` outright.

    Returns ``df``'s columns plus ``out`` ∈ {'head','middle','tail',
    NULL}.  One tiny count aggregate + one rank pass either way; the
    group-size join-backs are null-safe broadcasts (NULL group is a
    legal group, same hazard as label_balance's null-label fix).
    """
    ranked = _group_rank_sizes(
        df, score_col, group_col, key, True, bucketed, bucket_threshold,
        quant, max_group_rows,
    )
    bucketed_rows = ranked.filter(F.col("_rn").isNotNull()).withColumn(
        out,
        F.when(3 * F.col("_rn") <= F.col("_n"), F.lit("head"))
        .when(3 * F.col("_rn") <= 2 * F.col("_n"), F.lit("middle"))
        .otherwise(F.lit("tail")),
    )
    nulls = ranked.filter(F.col("_rn").isNull()).withColumn(
        out, F.lit(None).cast("string")
    )
    return bucketed_rows.unionByName(nulls).select(*df.columns, out)


def _group_rank_sizes(
    df: DataFrame,
    score_col: str,
    group_col: str,
    key: str,
    ascending: bool,
    bucketed: bool | None,
    bucket_threshold: int,
    quant: float,
    max_group_rows: int | None,
) -> DataFrame:
    """Within-group dense ordering shared by :func:`ccnet_buckets` and
    :func:`percentile_gate`: ``df``'s columns plus ``_rn`` (1-based
    within-group rank by ``score_col`` asc/desc, ``key`` asc — NULL for
    NULL-score rows) and ``_n`` (group size over non-NULL scores; NULL
    on NULL-score rows).  Two physical paths with the same total order
    — one rank window per group, or the label_balance two-phase rank
    pre-bucketed by the monotone quantization ``floor(±score*quant)``
    (negated for descending so bucket order == rank order) — picked by
    ``bucketed`` / the group-count probe.  All join-backs null-safe
    broadcasts (NULL group is a legal group)."""
    from pyspark.sql import Window

    scored = df.filter(F.col(score_col).isNotNull())
    nulls = (
        df.filter(F.col(score_col).isNull())
        .withColumn("_rn", F.lit(None).cast("int"))
        .withColumn("_n", F.lit(None).cast("long"))
    )

    if bucketed is None:
        if max_group_rows is not None:
            mx = max_group_rows
        else:
            mx = (
                scored.groupBy(group_col).agg(F.count("*").alias("_c"))
                .agg(F.max("_c").alias("_m")).first()["_m"]
            )
        bucketed = mx is not None and int(mx) > bucket_threshold

    order = (
        F.col(score_col).asc() if ascending else F.col(score_col).desc(),
        F.col(key).asc(),
    )
    if not bucketed:
        w = Window.partitionBy(group_col).orderBy(*order)
        ranked = scored.withColumn("_rn", F.row_number().over(w))
    else:
        sgn = 1.0 if ascending else -1.0
        qb = F.floor(F.col(score_col) * F.lit(sgn * float(quant))).cast("long")
        pre = scored.withColumn("_b", qb)
        counts = pre.groupBy(group_col, "_b").agg(F.count("*").alias("_c"))
        wc = Window.partitionBy(group_col).orderBy("_b").rowsBetween(
            Window.unboundedPreceding, -1
        )
        offsets = counts.withColumn(
            "_off", F.coalesce(F.sum("_c").over(wc), F.lit(0))
        ).select(
            F.col(group_col).alias("_og"), F.col("_b").alias("_ob"), "_off"
        )
        wr = Window.partitionBy(group_col, "_b").orderBy(*order)
        ranked = (
            pre.join(
                F.broadcast(offsets),
                F.col(group_col).eqNullSafe(F.col("_og"))
                & (F.col("_b") == F.col("_ob")),
            )
            .withColumn("_rn", F.col("_off") + F.row_number().over(wr))
            .select(*df.columns, "_rn")  # join reordered keys first
        )

    sizes = scored.groupBy(group_col).agg(F.count("*").alias("_n")).select(
        F.col(group_col).alias("_sg"), "_n"
    )
    with_sizes = ranked.join(
        F.broadcast(sizes), F.col(group_col).eqNullSafe(F.col("_sg"))
    ).select(*df.columns, "_rn", "_n")
    return with_sizes.unionByName(nulls)


def percentile_gate(
    df: DataFrame,
    score_col: str = "score",
    group_col: str = "source",
    key: str = "doc_id",
    keep_pct: int = 20,
    descending: bool = True,
    bucketed: bool | None = None,
    bucket_threshold: int = 2_000_000,
    quant: float = 16.0,
    max_group_rows: int | None = None,
    out: str = "keep",
) -> DataFrame:
    """Per-group percentile gate: within each ``group_col`` value keep
    the top ``keep_pct`` percent of rows by ``score_col`` — the
    FineWeb-Edu-style "keep the classifier's top X%" curation rule,
    applied per source/language so one high-scoring source can't crowd
    every other group out of the corpus.

    The cut is pure integer arithmetic on the within-group rank
    (``descending`` rank by score, ties to the smallest ``key``): keep
    iff ``100*rn <= keep_pct*n``.  No float-percentile interpolation
    anywhere — engines that agree on the total order agree row-for-row
    (the same contract as :func:`ccnet_buckets`, whose rank machinery
    this shares).  The floor rounding means a group with fewer than
    ``100/keep_pct`` rows keeps nothing — strict "top X%", documented
    rather than padded.

    Rows with a NULL score get a NULL ``out`` (auditable, excluded from
    ``n``); everything else gets a boolean.  Flag, don't drop.

    Scale shape: one rank pass (windowed per group, or the two-phase
    quantized-bucket rank for few-giant-group corpora — ``bucketed``/
    probe/``max_group_rows`` exactly as :func:`ccnet_buckets`) plus a
    broadcast group-size join-back.
    """
    if not 0 < keep_pct <= 100:
        raise ValueError(f"keep_pct must be in (0, 100], got {keep_pct}")
    ranked = _group_rank_sizes(
        df, score_col, group_col, key, not descending, bucketed,
        bucket_threshold, quant, max_group_rows,
    )
    return ranked.withColumn(
        out,
        F.when(
            F.col("_rn").isNotNull(),
            100 * F.col("_rn") <= F.lit(int(keep_pct)) * F.col("_n"),
        ),
    ).select(*df.columns, out)


def temperature_mix(
    df: DataFrame,
    source_col: str = "source",
    key: str = "doc_id",
    temperature: float = 2.0,
    salt: str = "tmix",
) -> DataFrame:
    """APPLY the mT5 temperature-mixing rule to the corpus (the sampler
    :func:`temperature_weights` only computes weights for): each doc
    gets ``n_copies`` = how many times a temperature-T epoch visits it.
    A source with boost b (= p_sampled/p_raw) emits ``floor(b)`` copies
    of every doc plus one more for the deterministic md5-uniform
    fraction ``frac(b)`` of its docs — so per-source totals hit the
    temperature share in expectation with zero RNG state, and re-runs /
    engines agree row-for-row.  Rows with ``n_copies = 0`` are KEPT
    (flagged, not dropped): the rejection is auditable and downstream
    repeats-expansion is one ``explode(sequence(1, n_copies))``.

    Determinism across engines: ``boost`` is rounded to 6 decimals
    BEFORE the floor/frac split and the fractional keep compares the
    32-bit md5 uniform against the INTEGER threshold
    ``floor(frac * 2^32)`` — no float-boundary coin flips between
    Spark's and an oracle's pow() at the keep/drop edge.

    Scale shape: one count-per-source shuffle (map-side combined,
    cardinality = #sources), two 1-row broadcast totals, and the boost
    table joins back as a broadcast — the corpus itself never
    reshuffles and never crosses into Python.
    """
    from .packing import _md5_uniform

    counts = df.groupBy(source_col).agg(F.count("*").alias("_n"))
    tot = counts.agg(F.sum("_n").alias("_tot"))
    p = counts.crossJoin(F.broadcast(tot)).select(
        source_col, (F.col("_n") / F.col("_tot")).alias("_p_raw")
    )
    z = p.agg(F.sum(F.pow(F.col("_p_raw"), 1.0 / temperature)).alias("_z"))
    boosts = (
        p.crossJoin(F.broadcast(z))
        .select(
            F.col(source_col).alias("_bsrc"),
            F.round(
                F.pow(F.col("_p_raw"), 1.0 / temperature)
                / F.col("_z")
                / F.col("_p_raw"),
                6,
            ).alias("_boost"),
        )
        .withColumn("_base", F.floor("_boost").cast("int"))
        .withColumn(
            "_thr",
            F.floor((F.col("_boost") - F.floor("_boost")) * F.lit(float(1 << 32)))
            .cast("long"),
        )
    )
    u = _md5_uniform(
        F.concat_ws(":", F.lit(salt), F.col(key).cast("string"))
    )
    return (
        df.join(
            F.broadcast(boosts),
            F.col(source_col).eqNullSafe(F.col("_bsrc")),
        )
        .withColumn(
            "n_copies",
            (F.col("_base") + F.when(u < F.col("_thr"), 1).otherwise(0)).cast(
                "int"
            ),
        )
        .withColumn("boost", F.col("_boost"))
        .select(*df.columns, "boost", "n_copies")
    )


def normalize_scores(
    df: DataFrame,
    score_col: str,
    by: str | None = None,
    method: str = "zscore",
    out: str = "score_norm",
) -> DataFrame:
    """Normalize a quality score per group (``by``, e.g. source or
    language) or globally (``by=None``) so heterogeneous scorers
    become comparable before thresholding/mixing — the step a
    percentile gate skips but a weighted-mixture design needs when
    scores from different scorers (perplexity, classifier logits,
    heuristics) share one pipeline.

    ``method``:

    * ``zscore`` — ``(x - mean) / stddev_pop``; degenerate groups
      (zero variance) normalize to 0.0;
    * ``minmax`` — ``(x - min) / (max - min)`` into [0, 1]; degenerate
      groups normalize to 0.0.

    Output is rounded to 6 decimals.  On INTEGER score columns every
    moment (sum, sum of squares, min/max) is exactly representable, so
    any engine derives bit-identical results; on float scores the
    rounding absorbs engine summation-order noise (the repo-wide
    oracle contract).

    Scale shape: one map-side-combined moment aggregate per group
    (output cardinality = #groups), broadcast-joined back — the corpus
    never reshuffles and never crosses into Python.
    """
    if method not in ("zscore", "minmax"):
        raise ValueError(f"unknown method {method!r}")
    x = F.col(score_col).cast("double")
    gb = df.groupBy(*([by] if by else []))
    if method == "zscore":
        stats = gb.agg(
            F.avg(x).alias("_mu"),
            F.stddev_pop(x).alias("_sd"),
        )
        norm = F.when(
            F.col("_sd") > 0.0, (x - F.col("_mu")) / F.col("_sd")
        ).otherwise(F.lit(0.0))
        drop = ["_mu", "_sd"]
    else:
        stats = gb.agg(F.min(x).alias("_lo"), F.max(x).alias("_hi"))
        norm = F.when(
            F.col("_hi") > F.col("_lo"),
            (x - F.col("_lo")) / (F.col("_hi") - F.col("_lo")),
        ).otherwise(F.lit(0.0))
        drop = ["_lo", "_hi"]
    if by:
        stats = stats.withColumnRenamed(by, "_nsg")
        joined = df.join(
            F.broadcast(stats), F.col(by).eqNullSafe(F.col("_nsg"))
        )
        drop.append("_nsg")
    else:
        joined = df.crossJoin(F.broadcast(stats))
    return joined.withColumn(out, F.round(norm, 6)).drop(*drop)


def unimax_weights(
    df: DataFrame,
    budget: int,
    max_epochs: int = 4,
    source_col: str = "source",
    size_col: str | None = None,
) -> DataFrame:
    """UniMax source budget allocation (Chung et al., ICLR 2023): split
    a total training budget across sources as UNIFORMLY as possible
    subject to a per-source repeat cap — no source is visited more than
    ``max_epochs`` times.  This is the published alternative to
    temperature sampling (:func:`temperature_weights`): temperature
    still lets a huge source dominate and still over-repeats the tiny
    ones; UniMax gives every source the same share until its cap binds.

    Water-filling closed form (no driver loop): sort sources ascending
    by capacity ``c_i = max_epochs * size_i``.  Source ``i`` (rank i of
    K) is CAPPED iff ``c_i * (K - i + 1) <= budget - C_{i-1}`` where
    ``C_{i-1}`` is the prefix sum of capacities — the condition is
    provably monotone along the ascending order (if it fails at i it
    fails at i+1, substitute and cancel), so the capped set is exactly
    the rows where this integer inequality holds; capped sources get
    ``c_i`` and the rest split the remainder evenly.  All quantities up
    to the final division are exact integers, so Spark and a SQL oracle
    derive the identical capped set; ``epochs`` is rounded to 6
    decimals (same cross-engine contract as :func:`temperature_mix`).

    ``size_col=None`` measures sources in documents; name an integer
    column (``n_tok``, ``n_chars``) to budget in tokens/characters —
    the paper budgets in characters.

    Returns one row per source: (source, size, capacity, is_capped,
    allocated, epochs).  ``sum(allocated)`` never exceeds
    ``min(budget, sum(capacity))`` and is within #uncapped units of it
    (the even split floors to integer units so every engine agrees).

    Scale shape: one map-side-combined count/sum per source (the only
    corpus shuffle, output cardinality = #sources), then windows over
    the K-row source table (bounded by source cardinality, the
    :func:`temperature_weights` contract) and a 1-row broadcast total.
    """
    from pyspark.sql import Window

    if budget <= 0:
        raise ValueError("budget must be positive")
    if max_epochs <= 0:
        raise ValueError("max_epochs must be positive")
    size = (
        F.count("*") if size_col is None
        else F.sum(F.col(size_col).cast("long"))
    )
    counts = df.groupBy(source_col).agg(size.cast("long").alias("size"))
    cap = counts.withColumn(
        "capacity", (F.lit(int(max_epochs)) * F.col("size")).cast("long")
    )
    w = Window.orderBy("capacity", source_col)
    ranked = (
        cap.withColumn("_i", F.row_number().over(w))
        .withColumn(
            "_cum_before",
            F.coalesce(
                F.sum("capacity").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
        .withColumn("_k", F.count("*").over(Window.partitionBy()))
        .withColumn(
            "is_capped",
            F.col("capacity") * (F.col("_k") - F.col("_i") + 1)
            <= F.lit(int(budget)) - F.col("_cum_before"),
        )
    )
    rem = ranked.agg(
        F.sum(F.when(F.col("is_capped"), F.col("capacity"))
              .otherwise(0)).alias("_capped_sum"),
        F.sum(F.when(F.col("is_capped"), 0).otherwise(1)).alias("_n_unc"),
    )
    share = F.floor(
        (F.lit(int(budget)) - F.col("_capped_sum"))
        / F.greatest(F.col("_n_unc"), F.lit(1))
    ).cast("long")
    return (
        ranked.crossJoin(F.broadcast(rem))
        .withColumn(
            "allocated",
            F.when(F.col("is_capped"), F.col("capacity")).otherwise(share),
        )
        .withColumn(
            "epochs",
            F.round(F.col("allocated") / F.col("size"), 6),
        )
        .select(source_col, "size", "capacity", "is_capped",
                "allocated", "epochs")
    )


def unimax_mix(
    df: DataFrame,
    budget: int,
    max_epochs: int = 4,
    source_col: str = "source",
    key: str = "doc_id",
    size_col: str | None = None,
    salt: str = "unimax",
) -> DataFrame:
    """APPLY the UniMax allocation to the corpus: each doc gets
    ``n_copies`` = how many times the budgeted mixture visits it —
    ``floor(epochs)`` copies for everyone in the source plus one more
    for the deterministic md5-uniform fraction ``frac(epochs)`` of its
    docs, exactly :func:`temperature_mix`'s determinism contract
    (epochs rounded to 6 decimals BEFORE the floor/frac split, the
    fractional keep compared against the integer threshold
    ``floor(frac * 2^32)``).  Rows with ``n_copies = 0`` are KEPT and
    flagged; repeats-expansion downstream is one
    ``explode(sequence(1, n_copies))``.

    Scale shape: :func:`unimax_weights`'s source-table windows plus one
    broadcast join of the K-row epochs table back onto the corpus — the
    corpus never reshuffles and never crosses into Python.
    """
    from .packing import _md5_uniform

    wts = (
        unimax_weights(df, budget, max_epochs, source_col, size_col)
        .select(
            F.col(source_col).alias("_usrc"),
            F.col("epochs").alias("_epochs"),
        )
        .withColumn("_base", F.floor("_epochs").cast("int"))
        .withColumn(
            "_thr",
            F.floor(
                (F.col("_epochs") - F.floor("_epochs"))
                * F.lit(float(1 << 32))
            ).cast("long"),
        )
    )
    u = _md5_uniform(
        F.concat_ws(":", F.lit(salt), F.col(key).cast("string"))
    )
    return (
        df.join(
            F.broadcast(wts),
            F.col(source_col).eqNullSafe(F.col("_usrc")),
        )
        .withColumn(
            "n_copies",
            (F.col("_base") + F.when(u < F.col("_thr"), 1).otherwise(0))
            .cast("int"),
        )
        .withColumn("epochs", F.col("_epochs"))
        .select(*df.columns, "epochs", "n_copies")
    )


def logreg_langid(
    df: DataFrame,
    label_lang: str = "en",
    epochs: int = 3,
    lr: float = 1.0,
    text_col: str = "text",
    label_col: str = "lang",
    key: str = "doc_id",
) -> DataFrame:
    """In-engine trained quality/langid classifier — the pattern behind
    CCNet's fastText gate and FineWeb-Edu's scorer, reduced to its
    distributed core: full-batch logistic regression on four surface
    features (word count, avg word length, stopword ratio, char count;
    corpus-standardized) + bias, trained ``epochs`` rounds of gradient
    descent from w = 0, then scored back over every row.

    Returns (key, score, pred) — score = σ(w·x) rounded to 6, pred =
    rounded score >= 0.5, so the decision is engine-independent.

    Scale shape per epoch: ONE map-side-combined avg aggregate over the
    standardized feature frame (the gradient is avg((σ(w·x) − y)·x) —
    five doubles travel, never rows); weights are driver scalars folded
    into the next epoch's expression as literals, the kmeans_fit
    iterative shape.  The feature frame is persisted across the
    epochs + final scoring pass.  Deterministic: full-batch (no
    sampling), fixed init, exact integer feature moments.
    """
    import math

    from .text import STOPWORDS

    ws = F.split(F.col(text_col), " ")
    n_words = F.size(ws).cast("double")
    total_len = F.aggregate(ws, F.lit(0), lambda a, x: a + F.length(x))
    stop_hits = F.aggregate(
        ws, F.lit(0),
        lambda a, x: a + F.when(x.isin(*STOPWORDS), 1).otherwise(0),
    )
    raw = df.select(
        F.col(key),
        n_words.alias("r1"),
        (total_len / n_words).alias("r2"),
        (stop_hits / n_words).alias("r3"),
        F.length(F.col(text_col)).cast("double").alias("r4"),
        F.when(F.col(label_col) == label_lang, 1.0).otherwise(0.0).alias("y"),
    )
    st = raw.agg(
        *[F.avg(f"r{j}").alias(f"m{j}") for j in (1, 2, 3, 4)],
        *[F.stddev_pop(f"r{j}").alias(f"s{j}") for j in (1, 2, 3, 4)],
    ).first()
    std = raw.select(
        F.col(key),
        *[
            ((F.col(f"r{j}") - F.lit(float(st[f"m{j}"])))
             / F.lit(float(st[f"s{j}"]))).alias(f"x{j}")
            for j in (1, 2, 3, 4)
        ],
        "y",
    ).persist()
    try:
        w = [0.0] * 5
        for _ in range(int(epochs)):
            z = sum(
                (F.lit(w[j - 1]) * F.col(f"x{j}") for j in (1, 2, 3, 4)),
                F.lit(w[4]),
            )
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            g = std.agg(
                *[F.avg((p - F.col("y")) * F.col(f"x{j}")).alias(f"g{j}")
                  for j in (1, 2, 3, 4)],
                F.avg(p - F.col("y")).alias("g5"),
            ).first()
            w = [
                w[0] - lr * g["g1"], w[1] - lr * g["g2"],
                w[2] - lr * g["g3"], w[3] - lr * g["g4"],
                w[4] - lr * g["g5"],
            ]
        z = sum(
            (F.lit(w[j - 1]) * F.col(f"x{j}") for j in (1, 2, 3, 4)),
            F.lit(w[4]),
        )
        score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
        return std.select(
            F.col(key),
            score.alias("score"),
            (score >= 0.5).alias("pred"),
        )
    finally:
        # drops the cache only — the returned plan recomputes the
        # (single-scan) feature lineage if evaluated later; the
        # epochs' training work lives in the literal weights
        std.unpersist()


def platt_scale(
    df: DataFrame,
    score_col: str,
    label_col: str,
    positive=None,
    key: str = "doc_id",
    epochs: int = 3,
    lr: float = 1.0,
) -> DataFrame:
    """Platt scaling (Platt 1999) — the sigmoid calibration step that
    turns an UNCALIBRATED ranking score into a probability: fit
    ``sigma(A*s + B)`` to binary labels by full-batch gradient descent
    (A = B = 0 init, so the first prediction is 0.5 everywhere), then
    emit the calibrated probability per row.  The companion of
    :func:`calibration_bins` (which measures miscalibration) and
    :func:`binary_auc` (which calibration cannot change — the sigmoid
    is monotone in s).

    ``positive`` names the positive class in ``label_col``; when None
    the column is cast to 0/1 directly.

    Returns (key, score_col, calibrated, pred) with ``calibrated``
    rounded to 6 decimals and ``pred = calibrated >= 0.5``.

    Scale shape per epoch: ONE map-side-combined avg aggregate (two
    doubles travel — the :func:`logreg_langid` device); A/B are driver
    scalars folded into the next epoch's expression as literals.  The
    (s, y) frame is persisted across epochs + the scoring pass.
    """
    y = (
        F.when(F.col(label_col) == positive, 1.0).otherwise(0.0)
        if positive is not None
        else F.col(label_col).cast("double")
    )
    base = df.select(
        F.col(key),
        F.col(score_col).cast("double").alias("_s"),
        y.alias("_y"),
    ).persist()
    try:
        a, b = 0.0, 0.0
        for _ in range(int(epochs)):
            z = F.lit(a) * F.col("_s") + F.lit(b)
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            g = base.agg(
                F.avg((p - F.col("_y")) * F.col("_s")).alias("ga"),
                F.avg(p - F.col("_y")).alias("gb"),
            ).first()
            a, b = a - lr * g["ga"], b - lr * g["gb"]
        z = F.lit(a) * F.col("_s") + F.lit(b)
        cal = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
        return base.select(
            F.col(key),
            F.col("_s").alias(score_col),
            cal.alias("calibrated"),
            (cal >= 0.5).alias("pred"),
        )
    finally:
        base.unpersist()


def isotonic_calibrate(
    df: DataFrame,
    score_col: str,
    label_col: str,
    positive=None,
    key: str = "doc_id",
    decimals: int = 6,
) -> DataFrame:
    """Isotonic (PAV) calibration — the non-parametric sibling of
    :func:`platt_scale`: fit the least-squares MONOTONE map from score
    to empirical probability (Zadrozny & Elkan 2002 for calibration;
    Barlow et al. 1972 for the regression).  Where Platt imposes a
    sigmoid shape, isotonic only imposes monotonicity, so it fixes
    any-shaped miscalibration given enough data.

    Computed via the minimax identity over DISTINCT quantized scores:
    ``g(s_i) = max_{j<=i} min_{k>=i} avg(y over scores j..k)`` (equal
    to the pool-adjacent-violators solution; property-tested against
    an explicit PAV loop).  With 0/1 labels every block average is an
    exact integer ratio, so the min/max comparisons are
    engine-identical and only the FINAL fitted value rounds (to
    ``decimals``).

    Scale shape: scores quantize to ``decimals`` and aggregate to m
    distinct rows (bounded by the quantization — the
    :func:`binary_auc` model-size contract); the minimax materializes
    the O(m^2) (j, k) block table with two windows over it (suffix
    min per j, then max per i) — distributed, but QUADRATIC in
    distinct scores: coarsen ``decimals`` on corpora where m exceeds
    a few thousand.

    Returns (key, score_col, calibrated) per input row.
    """
    from pyspark.sql import Window

    y = (
        F.when(F.col(label_col) == positive, 1.0).otherwise(0.0)
        if positive is not None
        else F.col(label_col).cast("double")
    )
    rows = df.select(
        F.col(key),
        F.round(F.col(score_col).cast("double"), decimals).alias("_s"),
        y.alias("_y"),
    )
    sd = (
        rows.groupBy("_s")
        .agg(F.count("*").alias("_n"), F.sum("_y").alias("_sy"))
    )
    w = Window.orderBy("_s")
    pref = sd.select(
        "_s",
        F.row_number().over(w).alias("_i"),
        F.sum("_n").over(w).alias("_cn"),
        F.sum("_sy").over(w).alias("_cs"),
    )
    # block average A(j,k) over scores j..k from inclusive prefixes:
    # (S_k - S_{j-1}) / (N_k - N_{j-1}); the j side carries its
    # EXCLUSIVE prefix via lag
    prev = pref.select(
        F.col("_i").alias("_j"),
        F.lag("_cn", 1, 0).over(w.orderBy("_i")).alias("_np"),
        F.lag("_cs", 1, 0.0).over(w.orderBy("_i")).alias("_sp"),
    )
    pk = pref.select(
        F.col("_i").alias("_k"),
        F.col("_cn").alias("_cnk"),
        F.col("_cs").alias("_csk"),
    )
    pairs = (
        prev.join(pk, F.col("_k") >= F.col("_j"))
        .select(
            "_j", "_k",
            (
                (F.col("_csk") - F.col("_sp"))
                / (F.col("_cnk") - F.col("_np"))
            ).alias("_a"),
        )
    )
    wsuf = (
        Window.partitionBy("_j")
        .orderBy(F.col("_k").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m_ji = pairs.select(
        "_j", F.col("_k").alias("_ii"), F.min("_a").over(wsuf).alias("_m")
    )
    fitted = (
        m_ji.filter(F.col("_j") <= F.col("_ii"))
        .groupBy("_ii")
        .agg(F.round(F.max("_m"), decimals).alias("_g"))
    )
    gmap = pref.select("_s", "_i").join(
        fitted, F.col("_i") == F.col("_ii")
    ).select("_s", "_g")
    return rows.join(F.broadcast(gmap), "_s").select(
        F.col(key),
        F.col("_s").alias(score_col),
        F.col("_g").alias("calibrated"),
    )


def conformal_gate(
    df: DataFrame,
    score_col: str,
    alpha: float = 0.1,
    by: str | None = None,
    key: str = "doc_id",
    bucketed: bool | None = None,
    quant: float = 1e6,
) -> DataFrame:
    """Split-conformal threshold gate (Vovk et al.; Papadopoulos et al.
    2002): treat ``score_col`` as a NONCONFORMITY score (higher = more
    anomalous) and keep rows at or below the ``ceil((n+1)(1-alpha))``-th
    smallest calibration score — the distribution-free way to set a
    quality cutoff with a coverage guarantee (at most an alpha
    fraction of exchangeable in-distribution rows are rejected),
    instead of an eyeballed percentile.  ``by`` gives Mondrian
    (per-group) conformal: each source/language carries its own
    threshold and its own guarantee.

    Rank selection runs on the shared two-phase score-bucketed device
    (:func:`ccnet_buckets`'s scalable path — no corpus-sized rank
    window); the rank index k is an exact integer per group, and the
    threshold is a VALUE from the data, so both engines agree
    bit-for-bit.  The k = ceil((n+1)*(1-alpha)) float convention is
    evaluated in IEEE doubles identically everywhere (document-stable
    even where the real-number ceil would differ).  When k > n the
    conformal threshold is +infinity: ``conformal_threshold`` is NULL
    and every row is kept.  NULL scores keep a NULL flag.

    Adds (conformal_threshold, conformal_keep) to ``df``'s columns.
    """
    if not (0.0 < alpha < 1.0):
        raise ValueError("alpha must be in (0, 1)")
    grp = by
    work = df
    if by is None:
        grp = "_cg"
        work = df.withColumn("_cg", F.lit(0))
    ranked = _group_rank_sizes(
        work, score_col, grp, key,
        ascending=True, bucketed=bucketed,
        bucket_threshold=2_000_000, quant=quant,
        max_group_rows=None,
    )
    k = F.ceil((F.col("_n") + 1) * F.lit(1.0 - float(alpha))).cast("long")
    thr = (
        ranked.filter(F.col("_rn") == k)
        .select(
            F.col(grp).alias("_tg"),
            F.col(score_col).cast("double").alias("_thr"),
        )
    )
    out = (
        ranked.join(
            F.broadcast(thr), F.col(grp).eqNullSafe(F.col("_tg")), "left"
        )
        .withColumn(
            "conformal_keep",
            F.when(F.col(score_col).isNull(), F.lit(None).cast("boolean"))
            .when(F.col("_thr").isNull(), F.lit(True))
            .otherwise(F.col(score_col).cast("double") <= F.col("_thr")),
        )
        .withColumn("conformal_threshold", F.col("_thr"))
        # df.columns (not work's) — the synthetic global group column
        # never reaches the output
        .select(*df.columns, "conformal_threshold", "conformal_keep")
    )
    return out


def scoring_metrics(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    positive=None,
    eps: float = 1e-9,
) -> DataFrame:
    """Proper-scoring-rule summary for a probabilistic scorer: Brier
    score ``avg((p - y)^2)``, log loss ``-avg(y ln p + (1-y) ln(1-p))``
    (probabilities clamped to [eps, 1-eps] so a confident wrong 0/1
    doesn't yield infinity), and accuracy at the 0.5 cut — the
    aggregate companions of :func:`binary_auc` (ranking),
    :func:`calibration_bins` (reliability) and :func:`platt_scale`
    (the fix when these numbers are bad).  Returns ONE row: (n, brier,
    log_loss, accuracy), rounded to 6 decimals.

    Scale shape: one map-side-combined avg aggregate — nothing else.
    """
    y = (
        F.when(F.col(label_col) == positive, 1.0).otherwise(0.0)
        if positive is not None
        else F.col(label_col).cast("double")
    )
    p = F.col(prob_col).cast("double")
    pc = F.least(F.greatest(p, F.lit(float(eps))), F.lit(1.0 - float(eps)))
    return df.agg(
        F.count("*").alias("n"),
        F.round(F.avg((p - y) * (p - y)), 6).alias("brier"),
        F.round(
            -F.avg(y * F.log(pc) + (F.lit(1.0) - y) * F.log(F.lit(1.0) - pc)),
            6,
        ).alias("log_loss"),
        F.round(
            F.avg(F.when((p >= 0.5) == (y == 1.0), 1.0).otherwise(0.0)), 6
        ).alias("accuracy"),
    )


def binary_auc(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "y",
) -> DataFrame:
    """Exact ROC-AUC of a binary scorer — the evaluation half of the
    :func:`logreg_langid` training loop (and of any quality/langid
    gate): the Mann–Whitney U statistic with proper tie handling,
    AUC = (Σ avg-ranks of positives − n⁺(n⁺+1)/2) / (n⁺·n⁻), where
    tied scores all receive their group's average rank.

    Returns one row: (n_pos, n_neg, auc) with auc rounded to 6 (NULL
    if either class is empty — AUC is undefined there).

    Scale shape: corpus rows collapse to one partial-agg count per
    DISTINCT score (bounded by the score quantization — at most 10⁶+1
    groups for round-6 sigmoids, regardless of corpus size); the rank
    window runs over that MODEL-sized table only; the final fold is a
    1-row agg.  No corpus-wide window, no Python workers.
    """
    from pyspark.sql import Window

    g = (
        df.groupBy(F.col(score_col).alias("_s"))
        .agg(
            F.count("*").alias("_n"),
            F.sum(F.col(label_col).cast("double")).alias("_np"),
        )
    )
    w = Window.orderBy("_s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = g.withColumn(
        "_below", F.coalesce(F.sum("_n").over(w), F.lit(0.0))
    ).withColumn(
        "_avg_rank", F.col("_below") + (F.col("_n") + 1) / 2.0
    )
    return ranked.agg(
        F.sum("_np").cast("long").alias("n_pos"),
        (F.sum("_n") - F.sum("_np")).cast("long").alias("n_neg"),
        F.round(
            F.try_divide(
                F.sum(F.col("_np") * F.col("_avg_rank"))
                - F.sum("_np") * (F.sum("_np") + 1) / 2.0,
                F.sum("_np") * (F.sum("_n") - F.sum("_np")),
            ),
            6,
        ).alias("auc"),
    )


def group_auc(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "y",
    by: str = "source",
) -> DataFrame:
    """Per-group exact ROC-AUC — :func:`binary_auc` stratified by
    ``by`` (source, language, snapshot): the fairness/drift check that
    a scorer which looks fine globally isn't rank-inverting on one
    slice.  Same tie-averaged Mann–Whitney construction; groups where
    either class is empty report NULL (AUC undefined).

    Returns one row per group: (by, n_pos, n_neg, auc).

    Scale shape: rows collapse to one partial-agg count per (group,
    DISTINCT score); the rank window partitions by group over that
    model-sized table; the final fold is one row per group.
    """
    from pyspark.sql import Window

    g = (
        df.groupBy(
            F.col(by).alias("_g"), F.col(score_col).alias("_s")
        )
        .agg(
            F.count("*").alias("_n"),
            F.sum(F.col(label_col).cast("double")).alias("_np"),
        )
    )
    w = (
        Window.partitionBy("_g").orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = g.withColumn(
        "_below", F.coalesce(F.sum("_n").over(w), F.lit(0.0))
    ).withColumn(
        "_avg_rank", F.col("_below") + (F.col("_n") + 1) / 2.0
    )
    return (
        ranked.groupBy("_g")
        .agg(
            F.sum("_np").cast("long").alias("n_pos"),
            (F.sum("_n") - F.sum("_np")).cast("long").alias("n_neg"),
            F.round(
                F.try_divide(
                    F.sum(F.col("_np") * F.col("_avg_rank"))
                    - F.sum("_np") * (F.sum("_np") + 1) / 2.0,
                    F.sum("_np") * (F.sum("_n") - F.sum("_np")),
                ),
                6,
            ).alias("auc"),
        )
        .select(F.col("_g").alias(by), "n_pos", "n_neg", "auc")
    )


def population_stability(
    ref: DataFrame,
    new: DataFrame,
    score_col: str,
    bins: int = 10,
    lo: float | None = None,
    hi: float | None = None,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between a reference and a new score
    distribution — the standard drift number for a deployed scorer
    (credit-scoring lineage; <0.1 stable, 0.1-0.25 moderate shift,
    >0.25 investigate): equal-width bins over [lo, hi] (probed from
    the REFERENCE min/max when not given — a bounded 2-value action;
    pass explicit bounds on derived inputs), out-of-range values clamp
    into the edge bins, and

        PSI = sum_i (q_i - p_i) * ln(q_i / p_i)

    with the bin fractions eps-clamped so an empty bin contributes a
    large-but-finite term instead of infinity.  Complements
    :func:`~gbdc_spark.operators.text.source_divergence` (vocabulary
    KL) with the binned-score view, and :func:`split_contamination`
    (membership) with a distribution-level drift check.

    Returns ONE row: (n_ref, n_new, psi) with psi rounded to 6.

    Scale shape: one map-side-combined bin count per side (≤ ``bins``
    rows each), a full-outer bin join, and a 1-row fold — the corpora
    are scanned once and never reshuffled.
    """
    if bins <= 0:
        raise ValueError("bins must be positive")
    if lo is None or hi is None:
        b = ref.agg(
            F.min(F.col(score_col).cast("double")).alias("lo"),
            F.max(F.col(score_col).cast("double")).alias("hi"),
        ).first()
        lo = float(b["lo"]) if lo is None else float(lo)
        hi = float(b["hi"]) if hi is None else float(hi)
    if not hi > lo:
        raise ValueError("hi must be greater than lo")
    return psi_from_bins(
        psi_bins(ref, score_col, lo, hi, bins),
        psi_bins(new, score_col, lo, hi, bins),
        eps=eps,
    )


def psi_bins(df: DataFrame, score_col: str, lo: float, hi: float,
             bins: int = 10) -> DataFrame:
    """Equal-width bin counts (bin, n) over [lo, hi] with edge
    clamping — the additive half of :func:`population_stability`.
    Counts are additive across ANY row split, so this runs UNCHANGED
    as a Structured Streaming aggregate (the CMS/HLL merge-property
    pattern): stream the new population's scores, sink the bin table,
    and assemble PSI batch-side with :func:`psi_from_bins`.  NULL scores
    fall in no bin (as in :func:`ks_statistic`)."""
    b = F.least(
        F.greatest(
            F.floor(
                (F.col(score_col).cast("double") - F.lit(float(lo)))
                * F.lit(float(bins)) / F.lit(float(hi) - float(lo))
            ),
            F.lit(0).cast("long"),
        ),
        F.lit(int(bins) - 1).cast("long"),
    )
    return (
        df.filter(F.col(score_col).isNotNull())
        .select(b.alias("bin")).groupBy("bin")
        .agg(F.count("*").alias("n"))
    )


def psi_from_bins(ref_bins: DataFrame, new_bins: DataFrame,
                  eps: float = 1e-6) -> DataFrame:
    """Assemble the PSI from two (bin, n) tables (see
    :func:`psi_bins`) — full-outer join on the bin id, eps-clamped
    fraction fold, one row (n_ref, n_new, psi)."""
    p = ref_bins.select(F.col("bin").alias("_b"), F.col("n").alias("_cr"))
    q = new_bins.select(F.col("bin").alias("_bn"), F.col("n").alias("_cn"))
    j = p.join(q, F.col("_b") == F.col("_bn"), "full_outer").select(
        F.coalesce("_cr", F.lit(0)).alias("_cr"),
        F.coalesce("_cn", F.lit(0)).alias("_cn"),
    )
    tots = j.agg(
        F.sum("_cr").alias("n_ref"), F.sum("_cn").alias("n_new")
    )
    scored = j.crossJoin(F.broadcast(tots)).select(
        "n_ref", "n_new",
        (
            (
                F.greatest(F.col("_cn") / F.col("n_new"), F.lit(float(eps)))
                - F.greatest(F.col("_cr") / F.col("n_ref"),
                             F.lit(float(eps)))
            )
            * F.log(
                F.greatest(F.col("_cn") / F.col("n_new"), F.lit(float(eps)))
                / F.greatest(F.col("_cr") / F.col("n_ref"),
                             F.lit(float(eps)))
            )
        ).alias("_t"),
    )
    return scored.groupBy("n_ref", "n_new").agg(
        F.round(F.sum("_t"), 6).alias("psi")
    )


def ks_statistic(
    ref: DataFrame,
    new: DataFrame,
    score_col: str,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic
    ``D = sup_x |F_ref(x) - F_new(x)|`` — the bin-free companion of
    :func:`population_stability`: PSI depends on a binning choice; D
    is the exact worst-case CDF gap, evaluated at every distinct
    observed score (where the sup is attained).

    Every CDF value is an exact integer ratio (cumulative counts over
    totals), so both engines derive the identical D; only the final
    value rounds (6 decimals).  NULL scores are ignored on both sides.

    Returns ONE row: (n_ref, n_new, ks_d).

    Scale shape: each side collapses to one map-side-combined count
    per DISTINCT score; the union of distinct scores carries both
    cumulative sums in one ordered window over that model-sized
    table (the :func:`binary_auc` contract); the final fold is 1 row.
    """
    from pyspark.sql import Window

    def counts(d: DataFrame, name: str) -> DataFrame:
        return (
            d.filter(F.col(score_col).isNotNull())
            .groupBy(F.col(score_col).cast("double").alias("_s"))
            .agg(F.count("*").alias(name))
        )
    a = counts(ref, "_ca")
    b = counts(new, "_cb")
    j = a.join(b.withColumnRenamed("_s", "_sb"),
               F.col("_s").eqNullSafe(F.col("_sb")), "full_outer").select(
        F.coalesce("_s", "_sb").alias("_s"),
        F.coalesce("_ca", F.lit(0)).alias("_ca"),
        F.coalesce("_cb", F.lit(0)).alias("_cb"),
    )
    w = Window.orderBy("_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = j.select(
        F.sum("_ca").over(w).alias("_fa"),
        F.sum("_cb").over(w).alias("_fb"),
    )
    tot = j.agg(F.sum("_ca").alias("n_ref"), F.sum("_cb").alias("n_new"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "n_ref", "n_new",
            F.abs(
                F.col("_fa") / F.col("n_ref")
                - F.col("_fb") / F.col("n_new")
            ).alias("_d"),
        )
        .groupBy("n_ref", "n_new")
        .agg(F.round(F.max("_d"), 6).alias("ks_d"))
    )


def calibration_bins(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "y",
    bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins for a probabilistic scorer: scores
    bucket into ``bins`` equal-width [0,1] bins (right-closed at 1),
    each reporting count, mean predicted score, and empirical positive
    rate — calibrated models sit on the diagonal.  One partial-agg
    shuffle on the bin id; rates rounded to 6.

    Returns (bin, n, mean_score, pos_rate) for non-empty bins,
    bin = 0..bins-1.
    """
    b = F.least(
        F.floor(F.col(score_col) * bins).cast("int"), F.lit(int(bins) - 1)
    )
    return (
        df.groupBy(b.alias("bin"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(score_col), 6).alias("mean_score"),
            F.round(F.avg(F.col(label_col).cast("double")), 6)
            .alias("pos_rate"),
        )
    )


def binary_ap(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "y",
) -> DataFrame:
    """Exact average precision (area under the precision-recall curve,
    step-wise — the sklearn ``average_precision_score`` definition)
    with ties grouped: walking DISTINCT scores descending,
    AP = Σ_s ΔR(s)·P(s) where ΔR(s) = tp_s/n⁺ and P(s) is precision at
    the cumulative cut including s.  The PR complement of
    :func:`binary_auc` — the metric that matters when positives are
    rare (contamination flags, PII hits), where ROC-AUC saturates.

    Returns one row: (n_pos, n_neg, ap) rounded to 6 (NULL if no
    positives).

    Scale shape: same as binary_auc — corpus rows collapse to one
    partial-agg count per DISTINCT score; the cumulative window runs
    over that model-sized table only; 1-row fold.
    """
    from pyspark.sql import Window

    g = (
        df.groupBy(F.col(score_col).alias("_s"))
        .agg(
            F.count("*").alias("_n"),
            F.sum(F.col(label_col).cast("double")).alias("_np"),
        )
    )
    w = Window.orderBy(F.desc("_s")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = g.withColumn("_ctp", F.sum("_np").over(w)).withColumn(
        "_cn", F.sum("_n").over(w)
    )
    return c.agg(
        F.sum("_np").cast("long").alias("n_pos"),
        (F.sum("_n") - F.sum("_np")).cast("long").alias("n_neg"),
        F.round(
            F.try_divide(
                F.sum(F.col("_np") * F.col("_ctp") / F.col("_cn")),
                F.sum("_np"),
            ),
            6,
        ).alias("ap"),
    )


def domain_weights(
    df: DataFrame,
    text_col: str = "text",
    key: str = "doc_id",
    by: str = "source",
    eta: float = 1.0,
    smoothing: float = 0.3,
    min_count: int = 2,
) -> DataFrame:
    """Loss-driven domain mixture weights — the one-shot form of
    DoReMi's reweighting rule (Xie et al., NeurIPS'23): domains whose
    documents the corpus-level LM finds HARD (high cross-entropy under
    the self-trained bigram model — underfit, novel) are upweighted by
    an exponentiated excess loss, then smoothed toward uniform:

        w(d) = (1 - s) * softmax_d(eta * (L_d - mean_d L)) + s / K

    with L_d the domain's mean per-doc cross-entropy from
    :func:`lm_perplexity` and K the domain count.  ``smoothing`` is
    DoReMi's uniform mixing (their eq. 3 regularizer); ``eta`` the
    exponentiated-gradient step.  Returns one row per domain:
    (by, n_docs, ce, weight); weights sum to 1.

    Shape at scale: the LM scoring pass dominates (see lm_perplexity);
    everything after is a domain-count-sized aggregate chain with
    1-row broadcasts — no corpus data ever re-shuffles.
    """
    scored = lm_perplexity(
        df.select(key, text_col), text_col=text_col, key=key,
        min_count=min_count,
    )
    j = (
        df.select(key, by)
        .join(scored, key)
        .filter(F.col("cross_entropy").isNotNull())
    )
    dom = j.groupBy(by).agg(
        F.count("*").alias("n_docs"),
        F.avg("cross_entropy").alias("_ce"),
    )
    m = F.broadcast(dom.agg(F.avg("_ce").alias("_ce_bar")))
    ex = dom.crossJoin(m).withColumn(
        "_e", F.exp(F.lit(float(eta)) * (F.col("_ce") - F.col("_ce_bar")))
    )
    tot = F.broadcast(
        ex.agg(F.sum("_e").alias("_z"), F.count("*").alias("_k"))
    )
    s = float(smoothing)
    return ex.crossJoin(tot).select(
        by,
        "n_docs",
        F.round("_ce", 6).alias("ce"),
        F.round(
            F.lit(1.0 - s) * F.col("_e") / F.col("_z")
            + F.lit(s) / F.col("_k"),
            6,
        ).alias("weight"),
    )
