"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship feature pipeline on sf0.001.
``queries()`` exposes every implemented operator from SURVEY.md §2 (plus
the training-data-pipeline operators) as (spark, sf_dir) -> DataFrame;
``oracle_sql()`` provides the DuckDB-equivalent ANSI SQL where the
operator is SQL-expressible — 55 of 60 queries as of round 2.  The five
rows-only queries are value-checked against the pure-Python oracles in
tests/ instead: three run on Python-generated synth frames DuckDB
cannot see (wcnf/opb/pqbf quirk fixtures), gate analysis is a stateful
sequential algorithm with no SQL form, and the flagship E2E runs on
distributed-generated input (its stages are all individually oracled).

Column names and rounding are aligned 1:1 between each query and its
oracle (the driver hashes values after sorting columns by name).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

SF_SMOKE = "/root/testdata/sf0.001"

# the documents->tokens rule (gbdc_spark.sources.tables.documents_as_sequences)
# replicated in DuckDB SQL.  DuckDB lambda indexes are 1-BASED.
_DUCK_TOKENS = """
    list_transform(str_split(text, ' '), (w, i) ->
        CASE WHEN i % 4 = 0
             THEN [CASE WHEN length(w) % 2 = 0 THEN -(length(w) % 9 + 1)
                        ELSE length(w) % 9 + 1 END, 0]
             ELSE [CASE WHEN length(w) % 2 = 0 THEN -(length(w) % 9 + 1)
                        ELSE length(w) % 9 + 1 END] END)
"""
_DUCK_TOKENS_FLAT = f"""
    CASE WHEN list_last(flatten({_DUCK_TOKENS})) != 0
         THEN list_append(flatten({_DUCK_TOKENS}), 0)
         ELSE flatten({_DUCK_TOKENS}) END
"""

_DOC_KEY = "concat('doc', lpad(CAST(doc_id AS VARCHAR), 8, '0'))"

_STOPWORDS_SQL = "('the','and','of','to','a','in','is','it','for','on')"


def _duck_clause_cte(doc_src: str = "documents") -> str:
    """Shared CTE chain: token rows with clause ids, first-occurrence
    dedup (``kept``) and tautology-free clauses (``good``) — the SQL
    mirror of kernels/transforms.sanitize_tokens / cnfformula_sanitize
    (dedup within clause; a clause containing any literal in both
    polarities is dropped; this derivation rule produces no empty
    clauses, so clause survival == having kept literals)."""
    return f"""
    t AS (SELECT {_DOC_KEY} AS doc_id, {_DUCK_TOKENS_FLAT} AS toks FROM {doc_src}),
    u AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t),
    cl AS (
        SELECT doc_id, tok, pos,
               sum(CASE WHEN tok = 0 THEN 1 ELSE 0 END) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - CASE WHEN tok = 0 THEN 1 ELSE 0 END AS cid
        FROM u),
    lits AS (
        SELECT doc_id, cid, pos, tok,
               row_number() OVER (PARTITION BY doc_id, cid, tok ORDER BY pos) AS rn
        FROM cl WHERE tok != 0),
    kept AS (SELECT doc_id, cid, pos, tok FROM lits WHERE rn = 1),
    taut AS (
        SELECT DISTINCT k.doc_id, k.cid
        FROM kept k JOIN kept k2
          ON k.doc_id = k2.doc_id AND k.cid = k2.cid AND k2.tok = -k.tok),
    good AS (SELECT * FROM kept ANTI JOIN taut USING (doc_id, cid))
    """


# 64-bit SimHash in SQL: per word, md5 hex digits -> bits (MSB-first per
# nibble, matching np.unpackbits over the first 8 digest bytes); per bit,
# majority vote over words; signed int64 assembled with bit 0 of the
# kernel's loop at position 63 (the -2^63 term keeps everything in range)
_DUCK_SIMHASH = """
    w AS (SELECT doc_id, str_split(text, ' ') AS words FROM documents),
    votes AS (
        SELECT doc_id, len(words) AS n,
               list_transform(range(0, 64), j ->
                   list_sum(list_transform(words, wd ->
                       ((strpos('0123456789abcdef', substr(md5(wd), CAST(j // 4 AS INTEGER) + 1, 1)) - 1)
                        >> CAST(3 - (j % 4) AS INTEGER)) & 1))) AS ones
        FROM w),
    sims AS (
        SELECT doc_id,
               CAST(list_sum(list_transform(range(0, 64), j ->
                   CASE WHEN ones[CAST(j AS INTEGER) + 1] * 2 > n THEN
                       CASE WHEN j = 0 THEN CAST(-9223372036854775808 AS HUGEINT)
                            ELSE CAST(CAST(1 AS BIGINT) << CAST(63 - j AS INTEGER) AS HUGEINT) END
                   ELSE CAST(0 AS HUGEINT) END)) AS BIGINT) AS sim
        FROM votes)
    """


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --------------------------------------------------------------------- entry
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: tokenize docs → fused hash+58-feature extraction →
    as-of join vs prior snapshots → ffill/lag → sessionize → per-source
    aggregate (SURVEY.md §4.3)."""
    from gbdc_spark.plans.flagship import run_flagship

    return run_flagship(spark, SF_SMOKE)


# ------------------------------------------------------------------- queries
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from gbdc_spark.operators import dedup, extract, similarity, temporal, text
    from gbdc_spark.sources import tables

    # ---------------- temporal / window layer (events) ----------------
    def q_asof_join(spark, sf_dir):
        ev = _events(spark, sf_dir)
        left = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value"
        )
        right = ev.filter(F.col("event_type") == "click").select(
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
            F.col("value").alias("click_value"),
        )
        out = temporal.asof_join(
            left, right, by="user_id", left_ts="ts", right_ts="click_ts",
            allow_exact_matches=False, right_tiebreak=["click_id"],
        )
        # timestamps as epoch micros: pandas renders Spark ts as ns and
        # DuckDB ts as us — BIGINT compares identically everywhere
        return out.select(
            "event_id", "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "value",
            F.unix_micros(F.col("click_ts").cast("timestamp")).alias("click_ts_us"),
            "click_id", "click_value",
        )

    def q_asof_forward(spark, sf_dir):
        # forward as-of (label attachment: the NEXT click after each
        # purchase); among duplicate right timestamps the MIN tiebreak
        # wins (pandas merge_asof forward semantics, pinned by tests)
        ev = _events(spark, sf_dir)
        left = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value"
        )
        right = ev.filter(F.col("event_type") == "click").select(
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        out = temporal.asof_join(
            left, right, by="user_id", left_ts="ts", right_ts="click_ts",
            allow_exact_matches=False, right_tiebreak=["click_id"],
            direction="forward",
        )
        return out.select(
            "event_id", "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "value",
            F.unix_micros(F.col("click_ts").cast("timestamp")).alias("click_ts_us"),
            "click_id",
        )

    def q_asof_nearest(spark, sf_dir):
        # nearest as-of: closest click by |Δt|; equidistant resolves to
        # the PRIOR row, duplicate-ts ties to max-tiebreak prior /
        # min-tiebreak later — the exact pandas rule, replicated in the
        # oracle's CASE'd tiebreak
        ev = _events(spark, sf_dir)
        left = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value"
        )
        right = ev.filter(F.col("event_type") == "click").select(
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        out = temporal.asof_join(
            left, right, by="user_id", left_ts="ts", right_ts="click_ts",
            allow_exact_matches=False, right_tiebreak=["click_id"],
            direction="nearest",
        )
        return out.select(
            "event_id", "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "value",
            F.unix_micros(F.col("click_ts").cast("timestamp")).alias("click_ts_us"),
            "click_id",
        )

    def q_asof_tolerance(spark, sf_dir):
        # as-of with a max-staleness tolerance: matches older than 10
        # minutes are rejected (stale-feature guard in PIT joins)
        import pandas as pd

        ev = _events(spark, sf_dir)
        left = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value"
        )
        right = ev.filter(F.col("event_type") == "click").select(
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        out = temporal.asof_join(
            left, right, by="user_id", left_ts="ts", right_ts="click_ts",
            allow_exact_matches=False, right_tiebreak=["click_id"],
            tolerance=pd.Timedelta(minutes=10),
        )
        return out.select(
            "event_id", "user_id",
            F.unix_micros(F.col("click_ts").cast("timestamp")).alias("click_ts_us"),
            "click_id",
        )

    def q_lag_lead(spark, sf_dir):
        ev = _events(spark, sf_dir)
        return temporal.with_lag_lead(
            ev.select("event_id", "user_id", "ts", "value"),
            ["value"], partition_by="user_id", order_by=["ts", "event_id"],
        ).select("event_id", "user_id", "value_lag1", "value_lead1")

    def q_ffill(spark, sf_dir):
        ev = _events(spark, sf_dir).withColumn(
            "v", F.when(F.col("event_type") == "click", F.col("value"))
        )
        return temporal.with_ffill(
            ev.select("event_id", "user_id", "ts", "v"),
            ["v"], partition_by="user_id", order_by=["ts", "event_id"],
        ).select("event_id", "user_id", "v", "v_ffill")

    def q_sessionize(spark, sf_dir):
        ev = _events(spark, sf_dir).select("event_id", "user_id", "ts")
        return temporal.with_session_id(
            ev, ts="ts", partition_by="user_id", gap_seconds=1800,
            order_tiebreak=["event_id"],
        ).select("event_id", "user_id", "session_seq")

    def q_session_agg(spark, sf_dir):
        ev = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
        s = temporal.with_session_id(
            ev, ts="ts", partition_by="user_id", gap_seconds=1800,
            order_tiebreak=["event_id"],
        )
        return s.groupBy("user_id", "session_seq").agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.unix_micros(F.min("ts").cast("timestamp")).alias("t_start_us"),
            F.unix_micros(F.max("ts").cast("timestamp")).alias("t_end_us"),
        )

    def q_trailing_agg(spark, sf_dir):
        ev = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
        out = temporal.with_trailing_agg(
            ev, "value", ts="ts", partition_by="user_id",
            window_seconds=3600, funcs={"avg": "avg", "count": "count"},
        )
        return out.select(
            "event_id", "user_id",
            F.round("value_trailing_avg", 6).alias("trail_avg"),
            F.col("value_trailing_count").alias("trail_cnt"),
        )

    # scalable (two-phase chunked, skew-proof) window bundle, one
    # feature at a time — same semantics as the plain versions, so they
    # share the DuckDB oracles
    def q_sessionize_scalable(spark, sf_dir):
        ev = _events(spark, sf_dir).select("event_id", "user_id", "ts")
        return temporal.with_temporal_bundle_scalable(
            ev, ts="ts", partition_by="user_id", gap_seconds=1800,
            order_tiebreak=["event_id"], chunk_seconds=3600.0,
        ).select("event_id", "user_id", "session_seq")

    def q_ffill_scalable(spark, sf_dir):
        ev = _events(spark, sf_dir).withColumn(
            "v", F.when(F.col("event_type") == "click", F.col("value"))
        )
        return temporal.with_temporal_bundle_scalable(
            ev.select("event_id", "user_id", "ts", "v"),
            ts="ts", partition_by="user_id", ffill_cols=["v"],
            order_tiebreak=["event_id"], chunk_seconds=3600.0,
        ).select("event_id", "user_id", "v", "v_ffill")

    def q_lag_lead_scalable(spark, sf_dir):
        ev = _events(spark, sf_dir)
        return temporal.with_temporal_bundle_scalable(
            ev.select("event_id", "user_id", "ts", "value"),
            ts="ts", partition_by="user_id", lag_cols=["value"],
            order_tiebreak=["event_id"], chunk_seconds=3600.0,
        ).select("event_id", "user_id", "value_lag1", "value_lead1")

    def q_stream_session_agg(spark, sf_dir):
        # REAL Structured Streaming execution verified against a batch
        # SQL oracle: the events parquet replayed as a bounded file
        # stream -> session_window aggregation (complete mode, no
        # watermark drops) -> memory sink -> materialized result
        import uuid

        from gbdc_spark.streaming.pipeline import stream_sessionize

        # single-file table: the file source wants a directory, so point
        # it at sf_dir with a glob filter selecting just events.parquet
        schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
        src = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        sess = stream_sessionize(
            src.select("user_id", "ts"), ts="ts", key="user_id",
            gap_seconds=1800, watermark_seconds=None,
        )
        name = f"stream_sess_{uuid.uuid4().hex[:8]}"
        q = (
            sess.writeStream.format("memory").queryName(name)
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        out = spark.table(name)
        return out.select(
            "user_id",
            F.unix_micros(F.col("w_start").cast("timestamp")).alias("w_start_us"),
            F.unix_micros(F.col("w_end").cast("timestamp")).alias("w_end_us"),
            "n_docs",
            F.unix_micros(F.col("t_start").cast("timestamp")).alias("t_start_us"),
            F.unix_micros(F.col("t_end").cast("timestamp")).alias("t_end_us"),
        )

    def q_quality_signals(spark, sf_dir):
        # Gopher-style repetition/shape heuristics — pure JVM column
        # math, every signal recomputed in the DuckDB oracle
        from gbdc_spark.operators.quality import with_quality_signals

        return with_quality_signals(_docs(spark, sf_dir)).select(
            "doc_id", "top_bigram_frac", "dup_word_frac", "mean_word_len",
            "ellipsis_line_frac", "numeric_frac",
        )

    def q_repetition_signals(spark, sf_dir):
        # Gopher's repetition-filter family (top/dup n-gram char
        # fractions + duplicate-line fractions) — pure JVM folds over
        # the per-doc sorted gram arrays, recomputed in DuckDB
        from gbdc_spark.operators.quality import with_repetition_signals

        return with_repetition_signals(
            _docs(spark, sf_dir).select("doc_id", "text")
        ).drop("text")

    def q_token_repetition_signals(spark, sf_dir):
        # the same family over PRE-TOKENIZED sequences: repetition the
        # model actually sees, invisible to text-level filters
        from gbdc_spark.operators.quality import with_token_repetition_signals

        seqs = tables.documents_as_sequences(spark, sf_dir).select(
            "doc_id", "tokens"
        )
        return with_token_repetition_signals(seqs).drop("tokens")

    def q_gopher_filter(spark, sf_dir):
        # the thresholded rejection flag over the repetition family
        # (Rae et al. 2021 Table A1 defaults) — flag, don't drop, so
        # the oracle checks both the signals and the decision
        from gbdc_spark.operators.quality import gopher_filter

        return gopher_filter(
            _docs(spark, sf_dir).select("doc_id", "text")
        ).drop("text")

    def q_gopher_quality_filter(spark, sf_dir):
        # the QUALITY half of Table A1 (word-count/mean-word-length
        # bounds, symbol ratio, alpha-word fraction, stopword presence,
        # bullet/ellipsis line fractions) — flag, don't drop, so the
        # oracle checks every signal and the decision
        from gbdc_spark.operators.quality import gopher_quality_filter

        return gopher_quality_filter(
            _docs(spark, sf_dir).select("doc_id", "text")
        ).drop("text")

    def q_c4_filter(spark, sf_dir):
        # C4's line+page heuristics (Raffel et al. 2020 §2.2).  The
        # synth docs have no line/sentence structure, so the fixture
        # derives one deterministically with engine-portable string
        # ops (non-overlapping replace + doc_id-keyed tails) that the
        # oracle repeats verbatim — every signal, the kept text, and
        # the decision are value-checked.
        from gbdc_spark.operators.quality import c4_filter

        t = F.col("text")
        fx = _docs(spark, sf_dir).select(
            "doc_id",
            F.concat(
                F.replace(t, F.lit(" a "), F.lit(".\n")),
                F.when(F.col("doc_id") % 13 == 0, F.lit(" {"))
                .otherwise(F.lit("")),
                F.when(
                    F.col("doc_id") % 17 == 0,
                    F.lit("\nthe lorem ipsum line."),
                ).otherwise(F.lit("")),
                F.when(
                    F.col("doc_id") % 7 == 0,
                    F.lit("\nthis page needs javascript enabled."),
                ).otherwise(F.lit("")),
                F.lit("\nthe value table scan ends here."),
            ).alias("text"),
        )
        return c4_filter(fx, min_sentences=5).drop("text")

    def q_charset_filter(spark, sf_dir):
        # charset-hygiene gate (mojibake / binary spill / padding —
        # the RefinedWeb-class encoding rules).  Synth docs are clean
        # ASCII, so the fixture injects deterministic doc_id-keyed
        # damage with engine-portable ops (concat/repeat/chr) that
        # the oracle repeats verbatim: U+FFFD runs on doc_id%5,
        # C0 controls on doc_id%7, whitespace pads on doc_id%3 whose
        # length crosses the max_ws_run=200 gate at doc_id%11 >= 7.
        from gbdc_spark.operators.quality import charset_filter

        fx = _docs(spark, sf_dir).select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.when(
                    F.col("doc_id") % 5 == 0,
                    F.repeat(
                        F.lit("�"),
                        (F.col("doc_id") % 3 + 1).cast("int"),
                    ),
                ).otherwise(F.lit("")),
                F.when(F.col("doc_id") % 7 == 0, F.lit("\x01ctl\x02"))
                .otherwise(F.lit("")),
                F.when(
                    F.col("doc_id") % 3 == 0,
                    F.repeat(
                        F.lit(" "),
                        ((F.col("doc_id") % 11) * 30).cast("int"),
                    ),
                ).otherwise(F.lit("")),
            ).alias("text"),
        )
        return charset_filter(fx).drop("text")

    def q_ngram_contamination(spark, sf_dir):
        # benchmark decontamination: a deterministic 5% md5-slice of the
        # docs is the "eval set"; flag corpus docs sharing any 8-gram
        from gbdc_spark.operators.packing import stratified_sample
        from gbdc_spark.operators.quality import ngram_contamination

        docs = _docs(spark, sf_dir).select("doc_id", "text", "source")
        bench = stratified_sample(
            docs, {}, strata_col="source", key="doc_id", default_fraction=0.05
        )
        corpus = docs.join(bench.select("doc_id"), "doc_id", "left_anti")
        return ngram_contamination(corpus, bench, n=8)

    def q_token_ngram_contamination(spark, sf_dir):
        # decontamination on the pre-tokenized sequences: a 5% md5-slice
        # of the sequences is the "eval set"; flag sequences sharing any
        # 8-token window with it
        from gbdc_spark.operators.packing import stratified_sample
        from gbdc_spark.operators.quality import token_ngram_contamination

        seqs = tables.documents_as_sequences(spark, sf_dir).select(
            "doc_id", "tokens", "source"
        )
        bench = stratified_sample(
            seqs, {}, strata_col="source", key="doc_id", default_fraction=0.05
        )
        corpus = seqs.join(bench.select("doc_id"), "doc_id", "left_anti")
        return token_ngram_contamination(corpus, bench, n=8)

    def q_split_contamination(spark, sf_dir):
        # train-vs-val split leakage on the pre-tokenized sequences:
        # after the deterministic 80/10/10 split, flag every TRAIN
        # sequence sharing an 8-token window with the val split — the
        # QA gate for leakage ACROSS a split boundary.  Both sides are
        # corpus-scale, so the gram join runs WITHOUT the benchmark
        # broadcast (broadcast_benchmark=False: shuffled equi-join on
        # the gram hash)
        from gbdc_spark.operators.packing import dataset_split
        from gbdc_spark.operators.quality import token_ngram_contamination

        seqs = tables.documents_as_sequences(spark, sf_dir).select(
            "doc_id", "tokens"
        )
        split = dataset_split(
            seqs.select("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1}
        )
        train = seqs.join(
            split.filter(F.col("split") == "train").select("doc_id"), "doc_id"
        )
        val = seqs.join(
            split.filter(F.col("split") == "val").select("doc_id"), "doc_id"
        )
        return token_ngram_contamination(
            train, val, n=8, broadcast_benchmark=False
        )

    def q_lm_perplexity(spark, sf_dir):
        # CCNet-style LM quality scoring: self-trained add-one bigram
        # LM, per-doc cross-entropy/perplexity — all JVM expressions,
        # model + scoring recomputed exactly in the DuckDB oracle.
        # min_count=2 prunes the model tail, which is what makes the
        # broadcast scoring path legal (unpruned models shuffle-join;
        # pruned bigrams fall back to the unseen-pair probability —
        # the oracle applies the identical HAVING)
        from gbdc_spark.operators.quality import lm_perplexity

        return lm_perplexity(
            _docs(spark, sf_dir).select("doc_id", "text"), min_count=2
        )

    def q_token_lm_perplexity(spark, sf_dir):
        # the same CCNet-style LM score in TOKEN space — perplexity of
        # the pre-tokenized stream, the form loss-based data selection
        # actually uses; min_count=2 prunes the id-pair tail, which is
        # what legalizes the broadcast scoring path (unpruned token
        # bigram tables are vocab² and must shuffle-join)
        from gbdc_spark.operators.quality import token_lm_perplexity

        seqs = tables.documents_as_sequences(spark, sf_dir).select(
            "doc_id", "tokens"
        )
        return token_lm_perplexity(seqs, min_count=2)

    def q_kn_perplexity(spark, sf_dir):
        # interpolated Kneser-Ney bigram perplexity — continuation-count
        # smoothing next to lm_perplexity's add-one baseline; all model
        # tables are aggregates of ONE persisted distinct-bigram table,
        # every count and both correction branches recomputed in the
        # oracle (min_count=1: the corpus is its own model, no backoff
        # path triggers — those are pytest-covered)
        from gbdc_spark.operators.quality import kn_perplexity

        return kn_perplexity(
            _docs(spark, sf_dir).select("doc_id", "text"), min_count=1
        )

    def q_line_dedup(spark, sf_dir):
        # C4-style corpus-wide exact line dedup.  The synthetic docs are
        # single-line, so pseudo-lines are derived deterministically
        # first (5-word chunks joined by \n) — the oracle rebuilds the
        # same chunking, then replays keep-first-occurrence in SQL.
        from gbdc_spark.functions import bind_once
        from gbdc_spark.operators.dedup import line_dedup

        docs = _docs(spark, sf_dir).select("doc_id", "text")
        lined = docs.withColumn(
            "text",
            bind_once(
                F.split(F.col("text"), " "),
                lambda ws: F.concat_ws(
                    "\n",
                    F.transform(
                        F.sequence(
                            F.lit(0),
                            F.ceil(F.size(ws) / F.lit(5)).cast("int") - 1,
                        ),
                        lambda i: F.concat_ws(" ", F.slice(ws, i * 5 + 1, 5)),
                    ),
                ),
            ),
        )
        return line_dedup(lined).select(
            "doc_id", "text_dedup", "n_lines", "n_removed"
        )

    def q_pii_scrub(spark, sf_dir):
        # PII redaction over docs salted with deterministic synthetic
        # emails / IPv4s / SSNs (the raw corpus has none); counts are on
        # the pre-scrub text, replacements applied in pattern order —
        # all pure-JVM regexp, recomputed exactly in the DuckDB oracle.
        from gbdc_spark.operators.quality import with_pii_scrub

        docs = _docs(spark, sf_dir).select("doc_id", "text")
        salted = docs.withColumn(
            "text",
            F.concat(
                F.col("text"),
                F.when(
                    F.col("doc_id") % 3 == 0,
                    F.concat(
                        F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com now"),
                    ),
                ).otherwise(F.lit("")),
                F.when(
                    F.col("doc_id") % 5 == 0,
                    F.concat(
                        F.lit(" from 10.1."),
                        (F.col("doc_id") % 256).cast("string"),
                        F.lit(".7"),
                    ),
                ).otherwise(F.lit("")),
                F.when(F.col("doc_id") % 7 == 0, F.lit(" id 123-45-6789"))
                .otherwise(F.lit("")),
            ),
        )
        return with_pii_scrub(salted).select(
            "doc_id", "text_scrubbed", "n_pii_email", "n_pii_ipv4", "n_pii_ssn"
        )

    def q_chunk_sequences(spark, sf_dir):
        # sliding-window context chunking at 32 tokens, 8 overlap;
        # token arrays projected to md5 (array cells crash the driver
        # canonicalizer)
        from gbdc_spark.operators.packing import chunk_sequences

        seqs = tables.documents_as_sequences(spark, sf_dir).select(
            "doc_id", "tokens"
        )
        return chunk_sequences(seqs, max_len=32, overlap=8).select(
            "doc_id", "chunk_idx", "start", "chunk_len",
            F.md5(F.concat_ws(
                ",", F.transform(F.col("chunk_tokens"),
                                 lambda x: x.cast("string")),
            )).alias("chunk_md5"),
        )

    def q_mask_tokens(spark, sf_dir):
        # deterministic MLM masking over the pre-tokenized sequences:
        # per-position md5 Bernoulli under an integer threshold, 0
        # separators preserved; arrays projected to md5 (array cells
        # crash the driver canonicalizer)
        from gbdc_spark.operators.packing import mask_tokens

        seqs = tables.documents_as_sequences(spark, sf_dir).select(
            "doc_id", "tokens"
        )
        out = mask_tokens(seqs, rate=0.15, mask_id=-999, salt="mlm")
        return out.select(
            "doc_id",
            F.size("tokens").alias("n_tok"),
            "n_masked",
            F.md5(F.concat_ws(
                ",", F.transform(F.col("tokens_masked"),
                                 lambda x: x.cast("string")),
            )).alias("masked_md5"),
            F.md5(F.concat_ws(
                ",", F.transform(F.col("mask_positions"),
                                 lambda x: x.cast("string")),
            )).alias("pos_md5"),
        )

    def q_sft_mask(spark, sf_dir):
        # SFT completion-only masking: each doc's token stream plays a
        # 4-turn user/assistant conversation (contiguous chunks of
        # q = max(n//4, 1) tokens, remainder in the last turn); labels
        # mask everything except assistant content + its end-of-turn.
        # Arrays projected to md5 (driver canonicalizer contract).
        from gbdc_spark.operators.packing import sft_mask

        seqs = tables.documents_as_sequences(spark, sf_dir).select(
            "doc_id", "tokens"
        )
        n = F.size("tokens")
        q = F.greatest(F.floor(n / 4).cast("int"), F.lit(1))
        turns = F.transform(
            F.sequence(F.lit(0), F.lit(3)),
            lambda i: F.struct(
                F.when(i % 2 == 0, F.lit("user"))
                .otherwise(F.lit("assistant"))
                .alias("role"),
                F.when(i < 3, F.slice(F.col("tokens"), i * q + 1, q))
                .otherwise(
                    F.slice(F.col("tokens"), 3 * q + 1, F.greatest(n - 3 * q, F.lit(1)))
                )
                .alias("tokens"),
            ),
        )
        conv = seqs.select("doc_id", turns.alias("turns"))
        out = sft_mask(conv)
        return out.select(
            "doc_id",
            F.size("input_ids").alias("n_tok"),
            "n_train_tokens",
            F.md5(F.concat_ws(
                ",", F.transform(F.col("input_ids"),
                                 lambda x: x.cast("string")),
            )).alias("ids_md5"),
            F.md5(F.concat_ws(
                ",", F.transform(F.col("labels"),
                                 lambda x: x.cast("string")),
            )).alias("labels_md5"),
        )

    def q_fim_transform(spark, sf_dir):
        # fill-in-the-middle: deterministic apply coin + two uniform
        # cuts, PSM layout; arrays projected to md5
        from gbdc_spark.operators.packing import fim_transform

        seqs = tables.documents_as_sequences(spark, sf_dir).select(
            "doc_id", "tokens"
        )
        out = fim_transform(seqs, rate=0.5, mode="psm")
        return out.select(
            "doc_id", "fim_applied", "fim_a", "fim_b",
            F.md5(F.concat_ws(
                ",", F.transform(F.col("fim_ids"),
                                 lambda x: x.cast("string")),
            )).alias("fim_md5"),
        )

    def q_span_corrupt(spark, sf_dir):
        # T5 span corruption over the pre-tokenized sequences: same
        # deterministic mask as mask_tokens (same salt), maximal masked
        # runs -> sentinel spans; arrays projected to md5
        from gbdc_spark.operators.packing import span_corrupt

        seqs = tables.documents_as_sequences(spark, sf_dir).select(
            "doc_id", "tokens"
        )
        out = span_corrupt(seqs, rate=0.15, salt="mlm")
        return out.select(
            "doc_id",
            "n_spans",
            F.md5(F.concat_ws(
                ",", F.transform(F.col("input_ids"),
                                 lambda x: x.cast("string")),
            )).alias("input_md5"),
            F.md5(F.concat_ws(
                ",", F.transform(F.col("target_ids"),
                                 lambda x: x.cast("string")),
            )).alias("target_md5"),
        )

    def q_temperature_mix(spark, sf_dir):
        # applied temperature mixing: per-doc copy counts under the
        # mT5 T=2 rule — rounded boost, integer-threshold md5 keep, so
        # the oracle derives identical copy counts
        from gbdc_spark.operators.quality import temperature_mix

        return temperature_mix(
            _docs(spark, sf_dir).select("doc_id", "source"), temperature=2.0
        )

    def q_unimax_mix(spark, sf_dir):
        # UniMax epoch-capped budget mixing (Chung et al. ICLR 2023)
        # over the skewed lang axis, budgeted in characters: at
        # budget = 1.5x corpus chars and a 2-epoch cap the four
        # low-resource langs bind their cap (full 2 epochs) and 'en'
        # is truncated — the published alternative to temperature
        # sampling.  The budget probe is one map-side-combined sum
        # (the documented auto-probe pattern).
        from gbdc_spark.operators.quality import unimax_mix

        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        tot = docs.agg(F.sum("n_chars")).first()[0]
        return unimax_mix(
            docs, budget=(3 * int(tot)) // 2, max_epochs=2,
            source_col="lang", size_col="n_chars",
        )

    def q_ngram_containment(spark, sf_dir):
        # asymmetric doc-in-doc verify metric (Broder containment) on
        # the same adjacent-id candidate pairs the jaccard query uses
        docs = _docs(spark, sf_dir)
        pairs = docs.select(F.col("doc_id").alias("a")).join(
            docs.select(F.col("doc_id").alias("b")), F.col("a") + 1 == F.col("b")
        )
        return dedup.ngram_containment_pairs(
            docs, pairs, key="doc_id", shingle_n=2
        )

    def q_score_norm_minmax(spark, sf_dir):
        # per-source min-max score normalization over the integer
        # n_chars score — min/max are exact value picks, so the
        # normalized doubles are bit-identical across engines
        from gbdc_spark.operators.quality import normalize_scores

        return normalize_scores(
            _docs(spark, sf_dir).select("doc_id", "source", "n_chars"),
            "n_chars", by="source", method="minmax",
        )

    def q_score_norm_zscore(spark, sf_dir):
        # per-source z-score normalization; integer scores make the
        # mean exact, stddev_pop agrees to ~1e-12 across engines and
        # the 6-decimal rounding absorbs it
        from gbdc_spark.operators.quality import normalize_scores

        return normalize_scores(
            _docs(spark, sf_dir).select("doc_id", "source", "n_chars"),
            "n_chars", by="source", method="zscore",
        )

    def q_platt_scale(spark, sf_dir):
        # trained calibrator: min-max-normalize n_chars globally (an
        # exact, deterministic base score), fit sigma(A*s+B) to the
        # lang=='en' label for 3 full-batch GD epochs, emit calibrated
        # probabilities — the oracle replays the whole trajectory
        from gbdc_spark.operators.quality import (
            normalize_scores,
            platt_scale,
        )

        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        scored = normalize_scores(docs, "n_chars", method="minmax")
        return platt_scale(
            scored, "score_norm", "lang", positive="en",
            epochs=3, lr=1.0,
        )

    def q_platt_metrics(spark, sf_dir):
        # proper-scoring summary of the trained calibrator: Brier,
        # eps-clamped log loss, accuracy@0.5 over platt_scale's output
        from gbdc_spark.operators.quality import (
            normalize_scores,
            platt_scale,
            scoring_metrics,
        )

        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        scored = platt_scale(
            normalize_scores(docs, "n_chars", method="minmax"),
            "score_norm", "lang", positive="en", epochs=3, lr=1.0,
        )
        joined = scored.join(docs.select("doc_id", "lang"), "doc_id")
        return scoring_metrics(joined, "calibrated", "lang", positive="en")

    def q_isotonic_calibrate(spark, sf_dir):
        # non-parametric (PAV) calibration of the raw n_chars score
        # against the lang=='en' label, via the minimax identity over
        # distinct scores — every block average is an exact integer
        # ratio, so the SQL twin derives identical fitted values
        from gbdc_spark.operators.quality import isotonic_calibrate

        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        return isotonic_calibrate(
            docs, "n_chars", "lang", positive="en"
        )

    def q_conformal_gate(spark, sf_dir):
        # Mondrian split-conformal gate per lang: nonconformity =
        # n_chars (long docs anomalous), alpha=0.1 — the exact-rank
        # threshold with a per-group coverage guarantee
        from gbdc_spark.operators.quality import conformal_gate

        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        return conformal_gate(docs, "n_chars", alpha=0.1, by="lang")

    def q_perplexity_conformal(spark, sf_dir):
        # composed CCNet-with-a-guarantee: self-trained bigram LM
        # perplexity -> Mondrian conformal keep per lang at alpha=0.2
        # (instead of ccnet_buckets' fixed head/middle/tail thirds)
        from gbdc_spark.operators.quality import (
            conformal_gate,
            lm_perplexity,
        )

        docs = _docs(spark, sf_dir).select("doc_id", "text", "lang")
        ppl = lm_perplexity(
            docs.select("doc_id", "text"), min_count=2
        ).select("doc_id", "perplexity")
        joined = ppl.join(docs.select("doc_id", "lang"), "doc_id")
        # bucketed=False: skip the rank device's group-size probe —
        # on this DERIVED input the probe would re-execute the whole
        # LM lineage (the documented size-hint pattern)
        return conformal_gate(
            joined, "perplexity", alpha=0.2, by="lang", bucketed=False
        )

    def q_weighted_dedup(spark, sf_dir):
        # E2E TF-weighted near-dup dedup: weighted band candidates ->
        # exact weighted-Jaccard verify at 0.5 -> large-star/small-star
        # components -> (doc_id, keeper); composes three verified
        # pieces, oracled by the closure recursion over the verified
        # edge set
        docs = _docs(spark, sf_dir).select("doc_id", "text")
        cand = dedup.weighted_minhash_pairs(docs)
        verified = (
            dedup.weighted_jaccard_pairs(docs, cand)
            .filter(F.col("weighted_jaccard") >= 0.5)
            .select("a", "b")
        )
        return dedup.dup_clusters_star(verified)

    def q_group_auc(spark, sf_dir):
        # per-source AUC of the n_chars score for predicting
        # lang=='en' — the slice-level fairness/drift check of a
        # scorer that global binary_auc averages away
        from gbdc_spark.operators.quality import group_auc

        docs = _docs(spark, sf_dir).select(
            "doc_id", "source",
            F.col("n_chars").cast("double").alias("score"),
            F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        )
        return group_auc(docs, "score", "y", by="source")

    def q_time_resample(spark, sf_dir):
        # hourly fixed-grid resample of event values per user with
        # explicit gap rows — the regular-step feature matrix the
        # trailing windows can't produce
        from gbdc_spark.operators.temporal import time_resample

        ev = tables.load(spark, sf_dir, "events").select(
            "user_id", "ts", "value"
        )
        return time_resample(ev, "value", interval_seconds=3600)

    def q_psi_drift(spark, sf_dir):
        # score-drift check: PSI of the n_chars distribution, en docs
        # as the reference population vs all other langs as the new
        # one — real distributional shift in the synth tables
        from gbdc_spark.operators.quality import population_stability

        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        ref = docs.filter(F.col("lang") == "en")
        new = docs.filter(F.col("lang") != "en")
        return population_stability(ref, new, "n_chars", bins=10)

    def q_stream_psi(spark, sf_dir):
        # REAL streaming drift monitor: psi_bins runs UNCHANGED as a
        # streaming aggregate (bin counts are additive across
        # micro-batches — the CMS/HLL merge-property pattern); the
        # non-en docs stream in as two mtime-ordered files, the sunk
        # bin table joins the static en reference batch-side, and the
        # result equals the batch psi_drift exactly (same oracle)
        import os
        import shutil
        import tempfile
        import uuid

        from gbdc_spark.operators.quality import psi_bins, psi_from_bins

        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        ref = docs.filter(F.col("lang") == "en")
        b = ref.agg(
            F.min(F.col("n_chars").cast("double")).alias("lo"),
            F.max(F.col("n_chars").cast("double")).alias("hi"),
        ).first()
        lo, hi = float(b["lo"]), float(b["hi"])
        new = docs.filter(F.col("lang") != "en").select("doc_id", "n_chars")
        base = tempfile.mkdtemp(prefix="gbdc_spsi_")
        os.makedirs(f"{base}/in")
        for tag, mt, par in (("a", 1000, 0), ("b", 2000, 1)):
            tmp = f"{base}/_{tag}"
            new.filter(F.col("doc_id") % 2 == par).select(
                "n_chars"
            ).coalesce(1).write.parquet(tmp)
            fn = next(
                f for f in sorted(os.listdir(tmp))
                if f.endswith(".parquet")
            )
            dst = f"{base}/in/{tag}.parquet"
            shutil.copy(f"{tmp}/{fn}", dst)
            os.utime(dst, (mt, mt))
            shutil.rmtree(tmp)
        src = (
            spark.readStream.schema("n_chars long")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{base}/in")
        )
        name = f"spsi_{uuid.uuid4().hex[:8]}"
        q = (
            psi_bins(src, "n_chars", lo, hi, bins=10)
            .writeStream.format("memory").queryName(name)
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return psi_from_bins(
            psi_bins(ref, "n_chars", lo, hi, bins=10),
            spark.table(name),
        )

    def q_ks_drift(spark, sf_dir):
        # bin-free drift companion of psi_drift: exact two-sample KS
        # statistic of the n_chars distribution, en vs other langs
        from gbdc_spark.operators.quality import ks_statistic

        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        return ks_statistic(
            docs.filter(F.col("lang") == "en"),
            docs.filter(F.col("lang") != "en"),
            "n_chars",
        )

    def q_cluster_agreement(spark, sf_dir):
        # ARI between the lang and source partitionings of documents —
        # exercises the exact pair-count machinery on a known-domain
        # comparison (near-zero agreement expected: lang and source
        # are independent axes in the synth tables)
        docs = _docs(spark, sf_dir)
        return dedup.clustering_agreement(
            docs.select("doc_id", F.col("lang").alias("cluster")),
            docs.select("doc_id", F.col("source").alias("cluster")),
        )

    def q_weighted_minhash_pairs(spark, sf_dir):
        # TF-weighted MinHash bands via the exact integer-weight
        # virtual-element reduction — collision follows sum-min/
        # sum-max similarity, not set Jaccard
        return dedup.weighted_minhash_pairs(
            _docs(spark, sf_dir).select("doc_id", "text")
        )

    def q_weighted_jaccard(spark, sf_dir):
        # exact weighted Jaccard verify on the adjacent-id candidates
        docs = _docs(spark, sf_dir)
        pairs = docs.select(F.col("doc_id").alias("a")).join(
            docs.select(F.col("doc_id").alias("b")), F.col("a") + 1 == F.col("b")
        )
        return dedup.weighted_jaccard_pairs(docs, pairs)

    def q_minhash_lsh_eval(spark, sf_dir):
        # LSH operating point: precision/recall of the 8-perm/4-band
        # word-set MinHash candidates vs exact PPJoin Jaccard truth at
        # 0.95 — the dedup family's recall-evaluation loop
        return dedup.minhash_lsh_eval(
            _docs(spark, sf_dir).select("doc_id", "text"), threshold=0.95
        )

    def q_unimax_expand(spark, sf_dir):
        # composed mixture prep over the session's pieces: per-lang
        # min-max score gate (keep score_norm >= 0.2) -> UniMax
        # epoch-capped allocation over the SURVIVORS (budget = 1.5x
        # surviving chars, 2-epoch cap) -> repeats expansion via
        # explode(sequence(1, n_copies)) — the downstream shape the
        # unimax_mix docstring promises is one explode away
        from gbdc_spark.operators.quality import (
            normalize_scores,
            unimax_mix,
        )

        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        kept = normalize_scores(
            docs, "n_chars", by="lang", method="minmax"
        ).filter(F.col("score_norm") >= 0.2)
        tot = kept.agg(F.sum("n_chars")).first()[0]
        mixed = unimax_mix(
            kept.select("doc_id", "lang", "n_chars"),
            budget=(3 * int(tot)) // 2, max_epochs=2,
            source_col="lang", size_col="n_chars",
        )
        return mixed.filter(F.col("n_copies") > 0).select(
            "doc_id", "lang", "n_copies",
            F.explode(
                F.sequence(F.lit(1), F.col("n_copies"))
            ).alias("copy_idx"),
        )

    def q_rank_fuse(spark, sf_dir):
        # RRF fusion of two cheap corpus-wide rankers (char length and
        # word count) — rank-only combination in integer micro-units,
        # so both engines derive the identical fused order
        from gbdc_spark.operators.text import rank_fuse

        docs = _docs(spark, sf_dir)
        a = docs.select(
            "doc_id", F.lit("chars").alias("ranker"),
            F.col("n_chars").cast("double").alias("score"),
        )
        b = docs.select(
            "doc_id", F.lit("words").alias("ranker"),
            F.size(F.split(F.col("text"), " ")).cast("double").alias("score"),
        )
        return rank_fuse(a.unionByName(b), k=60)

    def q_dsir_weights(spark, sf_dir):
        # DSIR data selection: source 'src0' docs are the target set,
        # the rest are the raw corpus; hashed-unigram log-likelihood
        # ratio per doc — md5 bucket hash shared with the oracle
        from gbdc_spark.operators.quality import dsir_weights

        docs = _docs(spark, sf_dir).select("doc_id", "text", "source")
        target = docs.filter(F.col("source") == "src0")
        corpus = docs.filter(F.col("source") != "src0")
        return dsir_weights(corpus, target)

    def q_source_temperature(spark, sf_dir):
        # mT5-style temperature mixing weights per source at T=2
        from gbdc_spark.operators.quality import temperature_weights

        return temperature_weights(_docs(spark, sf_dir), temperature=2.0)

    def q_pack_next_fit(spark, sf_dir):
        # context-window packing: per-source next-fit at 1024 tokens,
        # deterministic doc_id order — oracled by a recursive CTE that
        # carries (pack, fill) row by row
        from gbdc_spark.operators.packing import pack_next_fit

        seqs = tables.documents_as_sequences(spark, sf_dir).select(
            "doc_id", "source", "n_tok"
        )
        return pack_next_fit(seqs, max_tokens=1024).select(
            "doc_id", "source", "n_tok", "pack_id", "pack_fill"
        )

    def q_pack_next_fit_scalable(spark, sf_dir):
        # the two-phase chunked packer (gbdc_spark/operators/packing.py
        # pack_next_fit_scalable): bit-identical semantics, so the SAME
        # recursive-CTE oracle gates it; ids are docNNNNNNNN (11 chars),
        # so chunk_prefix=10 makes ~10-doc chunks — every pack of the
        # 1024-token budget straddles chunk boundaries, exercising the
        # carry-resolution path under the oracle, not just the fast path
        from gbdc_spark.operators.packing import pack_next_fit_scalable

        seqs = tables.documents_as_sequences(spark, sf_dir).select(
            "doc_id", "source", "n_tok"
        )
        return pack_next_fit_scalable(
            seqs, max_tokens=1024, chunk_prefix=10
        ).select("doc_id", "source", "n_tok", "pack_id", "pack_fill")

    def q_pack_next_fit_auto(spark, sf_dir):
        # the size-probing router itself, pinned to BOTH outcomes by
        # row_threshold (the probe runs live each time): one leg routes
        # to the plain packer, one to the chunked scalable packer — the
        # union must match the same recursive-CTE packing duplicated
        # per path label, keeping the router honest on either branch
        from gbdc_spark.operators.packing import pack_next_fit_auto

        seqs = tables.documents_as_sequences(spark, sf_dir).select(
            "doc_id", "source", "n_tok"
        )
        legs = []
        for label, kw in (
            ("plain", {"row_threshold": 10_000_000}),
            ("scalable", {"row_threshold": 0, "chunk_prefix": 10}),
        ):
            legs.append(
                pack_next_fit_auto(seqs, max_tokens=1024, **kw)
                .select("doc_id", "source", "n_tok", "pack_id",
                        "pack_fill")
                .withColumn("path", F.lit(label))
            )
        return legs[0].unionByName(legs[1])

    def q_length_batches(spark, sf_dir):
        # length-bucketed batch assignment (gbdc_spark/operators/
        # packing.py length_batches): width-32 length buckets, md5-
        # uniform order inside each bucket, consecutive 16-row batches,
        # padded length = batch max — the padding-waste-minimizing
        # batching for non-packed training.  Both physical rank paths
        # (plain window vs two-phase sub-bucketed) share one total
        # order; the union tags them so the oracle gates both.
        from gbdc_spark.operators.packing import length_batches

        seqs = tables.documents_as_sequences(spark, sf_dir).select(
            "doc_id", "n_tok"
        )
        legs = []
        for label, kw in (("plain", {}), ("bucketed", {"bucketed": True})):
            legs.append(
                length_batches(seqs, batch_size=16, bucket_width=32, **kw)
                .select("doc_id", "n_tok", "len_bucket", "batch_id",
                        "batch_len", "pad_tok")
                .withColumn("path", F.lit(label))
            )
        return legs[0].unionByName(legs[1])

    def q_padding_stats(spark, sf_dir):
        # the waste accounting that justifies the bucketing: per-bucket
        # + ROLLUP-total real vs padded token volume for the width-32
        # config AGAINST the single-global-bucket baseline (same batch
        # size, same order law) — the saving is the delta between the
        # two modes' total waste_frac rows
        from gbdc_spark.operators.packing import length_batches, padding_stats

        seqs = tables.documents_as_sequences(spark, sf_dir).select(
            "doc_id", "n_tok"
        )
        legs = []
        for mode, width in (("bucketed", 32), ("global", None)):
            legs.append(
                padding_stats(
                    length_batches(seqs, batch_size=16, bucket_width=width)
                ).withColumn("mode", F.lit(mode))
            )
        return legs[0].unionByName(legs[1])

    def q_balanced_shards(spark, sf_dir):
        # token-balanced shard assignment (gbdc_spark/operators/
        # packing.py balanced_shards): global (n_tok desc, doc_id)
        # rank snakes across 8 shards — the two-phase size-value-
        # bucketed rank must equal the oracle's single global window
        from gbdc_spark.operators.packing import balanced_shards

        seqs = tables.documents_as_sequences(spark, sf_dir).select(
            "doc_id", "n_tok"
        )
        return balanced_shards(seqs, n_shards=8)

    def q_padding_sweep(spark, sf_dir):
        # bucket-width auto-tune: widths {16,32,64,128} evaluated in
        # one pass, is_best marks the min-waste config — each width's
        # totals must equal the padding_stats ROLLUP-total row for
        # that width
        from gbdc_spark.operators.packing import padding_sweep

        seqs = tables.documents_as_sequences(spark, sf_dir).select(
            "doc_id", "n_tok"
        )
        return padding_sweep(seqs, widths=(16, 32, 64, 128), batch_size=16)

    def q_budget_select(spark, sf_dir):
        # greedy quality-ranked selection under a 20k-token budget
        # (gbdc_spark/operators/packing.py budget_select): score =
        # type-token ratio, keep in (score desc, doc_id) order while
        # the running token total fits — the two-phase quantized-
        # bucket cumulative sum must equal the oracle's single global
        # running-sum window exactly, boundary doc included
        from gbdc_spark.operators.packing import budget_select

        seqs = tables.documents_as_sequences(spark, sf_dir).select(
            "doc_id", "tokens", "n_tok"
        )
        scored = (
            seqs.filter(F.col("n_tok") > 0)
            .withColumn(
                "score",
                F.size(F.array_distinct("tokens")) / F.size("tokens"),
            )
            .drop("tokens")
        )
        return budget_select(scored, budget=20000).select(
            "doc_id", "n_tok", F.round("score", 6).alias("score"), "cum_tok"
        )

    def q_interleave_sources(spark, sf_dir):
        # stride-scheduled deterministic source mixing: weight-4 src0 /
        # weight-2 src1 / weight-1 rest, position = (rank - 0.5) /
        # weight over a per-source md5-uniform order — both physical
        # rank paths (plain window vs two-phase sub-bucketed) tagged
        # and gated by one oracle
        from gbdc_spark.operators.packing import interleave_sources

        docs = _docs(spark, sf_dir).select("doc_id", "source")
        legs = []
        for label, kw in (("plain", {}), ("bucketed", {"bucketed": True})):
            legs.append(
                interleave_sources(
                    docs, weights={"src0": 4.0, "src1": 2.0}, **kw
                )
                .select("doc_id", "source", "src_rank",
                        F.round("position", 6).alias("position"))
                .withColumn("path", F.lit(label))
            )
        return legs[0].unionByName(legs[1])

    def q_loader_prep(spark, sf_dir):
        # composed loader-prep pipeline: type-token-ratio scoring →
        # greedy 20k-token budget selection → 4-way token-balanced
        # snake sharding — the session operators chained end-to-end,
        # with the oracle composed from the same verified pieces
        from gbdc_spark.operators.packing import (
            balanced_shards, budget_select,
        )

        seqs = tables.documents_as_sequences(spark, sf_dir).select(
            "doc_id", "tokens", "n_tok"
        )
        scored = (
            seqs.filter(F.col("n_tok") > 0)
            .withColumn(
                "score",
                F.size(F.array_distinct("tokens")) / F.size("tokens"),
            )
            .drop("tokens")
        )
        sel = budget_select(scored, budget=20000).select(
            "doc_id", "n_tok", "cum_tok"
        )
        return balanced_shards(sel, n_shards=4)

    def q_interleave_temperature(spark, sf_dir):
        # data-derived mixture → loader order: mT5 T=2 temperature
        # weights (p_sampled, pre-rounded to 6) broadcast-joined as the
        # stride weights — the full "decide the mixture, then lay out
        # the epoch" composition with no driver round-trip
        from gbdc_spark.operators.packing import interleave_sources
        from gbdc_spark.operators.quality import temperature_weights

        docs = _docs(spark, sf_dir).select("doc_id", "source")
        w = temperature_weights(docs, temperature=2.0).select(
            "source", F.col("p_sampled").alias("weight")
        )
        return interleave_sources(docs, weights_df=w).select(
            "doc_id", "source", "src_rank",
            F.round("position", 6).alias("position"),
        )

    def q_pack_concat_chunks(spark, sf_dir):
        # GPT-style concat-and-chunk: the corpus token stream (EOS 0
        # after every doc, doc_id order) cut into 256-token blocks;
        # bucket_prefix=10 → ~10-doc offset buckets so blocks straddle
        # bucket boundaries under the oracle; drop_last=False so the
        # trailing partial block is value-checked too; token arrays
        # projected to md5 (array cells crash the driver canonicalizer)
        from gbdc_spark.operators.packing import pack_concat_chunks

        seqs = tables.documents_as_sequences(spark, sf_dir).select(
            "doc_id", "tokens"
        )
        return pack_concat_chunks(
            seqs, block_size=256, bucket_prefix=10, drop_last=False
        ).select(
            "block_id", "n_tok",
            F.md5(F.concat_ws(
                ",", F.transform(F.col("tokens"),
                                 lambda x: x.cast("string")),
            )).alias("tokens_md5"),
        )

    def q_stratified_sample(spark, sf_dir):
        # deterministic md5-uniform per-stratum sampling — stable under
        # parallelism/retries, reproducible in any md5-capable engine
        from gbdc_spark.operators.packing import stratified_sample

        seqs = tables.documents_as_sequences(spark, sf_dir).select(
            "doc_id", "source"
        )
        return stratified_sample(
            seqs, {"src0": 0.5, "src1": 0.25}, strata_col="source",
            key="doc_id", default_fraction=0.1,
        )

    def q_dataset_split(spark, sf_dir):
        # deterministic 80/10/10 train/val/test assignment — a pure
        # projection, stable under growth (new docs never move old ones)
        from gbdc_spark.operators.packing import dataset_split

        return dataset_split(
            _docs(spark, sf_dir).select("doc_id"),
            {"train": 0.8, "val": 0.1, "test": 0.1},
        )

    def q_epoch_shards(spark, sf_dir):
        # deterministic shard layout for epoch 2: positions -> 32-doc
        # shards, each summarized by doc count, token budget, and the
        # md5 of its ordered doc list (the write-layout contract a
        # shard writer must reproduce)
        from gbdc_spark.operators.packing import epoch_shuffle

        seqs = tables.documents_as_sequences(spark, sf_dir).select(
            "doc_id", "n_tok"
        )
        ordered = epoch_shuffle(seqs, seed=2, key="doc_id")
        return (
            ordered.withColumn(
                "shard", F.floor(F.col("position") / 32).cast("long")
            )
            .groupBy("shard")
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum("n_tok").cast("long").alias("n_tokens"),
                F.md5(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.array_sort(
                                F.collect_list(F.struct("position", "doc_id"))
                            ),
                            lambda x: x["doc_id"],
                        ),
                    )
                ).alias("shard_hash"),
            )
        )

    def q_training_build(spark, sf_dir):
        # E2E token-side training-set build: holdout -> ExactSubstr
        # dedup -> length gate -> decontamination -> A-ES weighted
        # sample -> next-fit packing -> epoch order; one composed
        # DuckDB oracle mirrors every stage
        from gbdc_spark.plans.training_build import build_training_set

        return build_training_set(
            tables.documents_as_sequences(spark, sf_dir)
        )

    def q_label_balance(spark, sf_dir):
        # deterministic class rebalancing on the embeddings label:
        # every label downsampled to the minority-class size by
        # md5-uniform rank
        from gbdc_spark.operators.packing import label_balance

        e = _emb(spark, sf_dir).select("vec_id", "label")
        return label_balance(e, label_col="label", key="vec_id")

    def q_label_balance_bucketed(spark, sf_dir):
        # same operator, two-phase bucketed-rank physical path pinned
        # on (the 10⁹-row-label shape): same md5-uniform total order,
        # so the same oracle gates it — 16 buckets forces real
        # cross-bucket offset arithmetic even at sf0.01 label sizes
        from gbdc_spark.operators.packing import label_balance

        e = _emb(spark, sf_dir).select("vec_id", "label")
        return label_balance(
            e, label_col="label", key="vec_id", bucketed=True, buckets=16
        )

    def q_weighted_sample(spark, sf_dir):
        # Efraimidis–Spirakis weighted sample without replacement:
        # 25 docs drawn proportional to word count (token-budget
        # mixture sampling), md5-uniform so the draw has no RNG state
        from gbdc_spark.operators.packing import weighted_sample

        docs = _docs(spark, sf_dir).select(
            "doc_id",
            F.size(F.split(F.col("text"), " ")).cast("int").alias("w"),
        )
        return weighted_sample(docs, k=25, weight_col="w", key="doc_id")

    def q_epoch_order(spark, sf_dir):
        # deterministic epoch-1 training order: two-phase global
        # position (bucketed offsets + parallel in-bucket ranks), no
        # single-partition window
        from gbdc_spark.operators.packing import epoch_shuffle

        docs = _docs(spark, sf_dir).select("doc_id")
        return epoch_shuffle(docs, seed=1, key="doc_id").select(
            "doc_id", "position"
        )

    def q_stream_session_append(spark, sf_dir):
        # REAL append-mode streaming with a live watermark: events are
        # replayed as THREE ordered files — recent (even users), recent
        # (odd users), then the pre-cutoff rows as late arrivals.  After
        # two micro-batches the late-event watermark has advanced past
        # the cutoff (Spark propagates it one batch behind the eviction
        # watermark), so every late row is dropped, and only sessions
        # finalized before the final watermark (end <= max_recent - 48h)
        # are emitted.  Oracle: batch sessionization over the recent
        # subset with the same emission cutoff in SQL.
        import os
        import shutil
        import tempfile
        import uuid

        from gbdc_spark.streaming.pipeline import stream_sessionize

        cut = "2024-01-21 00:00:00"
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "user_id", F.col("ts").cast("timestamp").alias("ts")
        )
        d = tempfile.mkdtemp(prefix="gbdc_stream_append_")
        parts = [
            ("r1", ev.filter((F.col("ts") >= cut) & (F.col("user_id") % 2 == 0))),
            ("r2", ev.filter((F.col("ts") >= cut) & (F.col("user_id") % 2 == 1))),
            ("late", ev.filter(F.col("ts") < cut)),
        ]
        for i, (tag, part) in enumerate(parts):
            tmp = f"{d}/_{tag}"
            part.coalesce(1).write.parquet(tmp)
            src_file = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            dst = f"{d}/{tag}.parquet"
            shutil.copy(f"{tmp}/{src_file}", dst)
            os.utime(dst, (1000 + i, 1000 + i))  # file-source order = mtime
            shutil.rmtree(tmp)
        src = (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(d)
        )
        sess = stream_sessionize(
            src, ts="ts", key="user_id", gap_seconds=1800,
            watermark_seconds=172800,
        )
        name = f"stream_app_{uuid.uuid4().hex[:8]}"
        q = (
            sess.writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        out = spark.table(name)
        return out.select(
            "user_id",
            F.unix_micros(F.col("w_start").cast("timestamp")).alias("w_start_us"),
            F.unix_micros(F.col("w_end").cast("timestamp")).alias("w_end_us"),
            "n_docs",
            F.unix_micros(F.col("t_start").cast("timestamp")).alias("t_start_us"),
            F.unix_micros(F.col("t_end").cast("timestamp")).alias("t_end_us"),
        )

    def q_stream_extract(spark, sf_dir):
        # E2E streaming job in the driver contract: tokenized docs ->
        # file-source stream -> fused extraction -> checkpointed parquet
        # sink (availableNow); the materialized sink is value-checked
        # against the batch SQL oracles for hash + counts
        import tempfile

        from gbdc_spark.streaming.pipeline import run_file_stream

        base = tempfile.mkdtemp(prefix="gbdc_stream_")
        seqs = tables.documents_as_sequences(spark, sf_dir)
        seqs.write.mode("overwrite").parquet(f"{base}/in")
        q = run_file_stream(spark, f"{base}/in", f"{base}/out", f"{base}/ckpt")
        q.awaitTermination()
        out = spark.read.parquet(f"{base}/out")
        return out.select(
            "doc_id", "gbdhash", "isohash",
            F.round("clauses", 6).alias("clauses"),
            F.round("variables", 6).alias("variables"),
            "status",
        )

    def q_stream_asof(spark, sf_dir):
        # REAL streaming point-in-time enrichment: purchases replayed
        # as ordered files -> foreachBatch as-of join against the
        # static click-snapshot table, idempotent batch=<id> sink.
        # Batch-invariance makes the ORACLE the one-shot batch as-of
        # SQL — identical to asof_join's QUALIFY form.
        import tempfile

        from gbdc_spark.streaming.pipeline import stream_asof

        base = tempfile.mkdtemp(prefix="gbdc_sasof_")
        ev = _events(spark, sf_dir)
        left = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id",
            F.col("ts").cast("timestamp").alias("ts"), "value",
        )
        right = ev.filter(F.col("event_type") == "click").select(
            F.col("user_id"),
            F.col("ts").cast("timestamp").alias("click_ts"),
            F.col("event_id").alias("click_id"),
            F.col("value").alias("click_value"),
        ).persist()
        # 4 ordered files = 4 availableNow micro-batches
        left.repartition(4).write.mode("overwrite").parquet(f"{base}/in")
        src = (
            spark.readStream.schema(left.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{base}/in")
        )
        q = stream_asof(
            src, right, f"{base}/out", f"{base}/ckpt",
            by="user_id", left_ts="ts", right_ts="click_ts",
            allow_exact_matches=False, right_tiebreak=["click_id"],
        )
        q.awaitTermination(300)
        right.unpersist()
        out = spark.read.parquet(f"{base}/out/batch=*")
        return out.select(
            "event_id", "user_id",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            "value",
            F.unix_micros(F.col("click_ts")).alias("click_ts_us"),
            "click_id", "click_value",
        )

    def q_stream_dedup(spark, sf_dir):
        # REAL stateful streaming dedup (applyInPandasWithState) across
        # micro-batches: the documents replayed as four ordered files,
        # so exact duplicates arrive in DIFFERENT batches and only the
        # bucket state can drop them.  Exactly-once contract: each
        # content hash must emerge exactly once — the oracle is the
        # distinct content-hash set of the corpus with n_kept = 1.
        import os
        import shutil
        import tempfile
        import uuid

        from gbdc_spark.streaming.pipeline import stream_dedup

        base = tempfile.mkdtemp(prefix="gbdc_sdedup_")
        docs = _docs(spark, sf_dir).select("doc_id", "text")
        # the corpus REPLAYED TWICE as ordered files: every content hash
        # arrives again in a later micro-batch, so only cross-batch
        # bucket state can enforce exactly-once
        os.makedirs(f"{base}/in")
        for copy, mt in (("a", 1000), ("b", 2000)):
            tmp = f"{base}/_{copy}"
            docs.repartition(2).write.parquet(tmp)
            for i, fn in enumerate(sorted(f for f in os.listdir(tmp) if f.endswith('.parquet'))):
                dst = f"{base}/in/{copy}{i}.parquet"
                shutil.copy(f"{tmp}/{fn}", dst)
                os.utime(dst, (mt + i, mt + i))
            shutil.rmtree(tmp)
        src = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{base}/in")
            .withColumn("_ch", F.md5("text"))
        )
        name = f"sdedup_{uuid.uuid4().hex[:8]}"
        q = (
            stream_dedup(src, key_col="_ch", buckets=16)
            .writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return (
            spark.table(name)
            .groupBy(F.col("_ch").alias("content_hash"))
            .agg(F.count("*").alias("n_kept"))
        )

    def q_stream_near_dedup(spark, sf_dir):
        # REAL stateful streaming NEAR-dup (applyInPandasWithState over
        # MinHash-LSH band signatures): the corpus arrives as four
        # doc_id-range files (mtime-ordered, one per micro-batch), so a
        # doc sharing a band with a doc from an EARLIER batch can only
        # be flagged by the cross-batch bucket state.  Arrival order ==
        # doc_id order, so the verdicts equal the batch
        # first-occurrence-wins rule the DuckDB oracle replays.
        import os
        import shutil
        import tempfile
        import uuid

        from gbdc_spark.streaming.pipeline import stream_near_dedup

        base = tempfile.mkdtemp(prefix="gbdc_sndedup_")
        docs = _docs(spark, sf_dir).select("doc_id", "text")
        hi = docs.agg(F.max("doc_id")).first()[0]
        step = (int(hi) + 4) // 4
        os.makedirs(f"{base}/in")
        for i in range(4):
            tmp = f"{base}/_{i}"
            docs.filter(
                (F.col("doc_id") >= i * step)
                & (F.col("doc_id") < (i + 1) * step)
            ).coalesce(1).write.parquet(tmp)
            fn = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            dst = f"{base}/in/part{i}.parquet"
            shutil.copy(f"{tmp}/{fn}", dst)
            os.utime(dst, (1000 + i, 1000 + i))
            shutil.rmtree(tmp)
        src = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{base}/in")
        )
        name = f"sndedup_{uuid.uuid4().hex[:8]}"
        q = (
            stream_near_dedup(src, key="doc_id", buckets=16)
            .writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return (
            spark.table(name)
            .groupBy("doc_id")
            .agg(
                F.sum(F.col("dup").cast("int")).cast("long")
                .alias("n_dup_bands"),
                F.max("dup").alias("dup_near"),
            )
        )

    def q_ewma(spark, sf_dir):
        # per-entity exponential decay (pandas ewm adjust=False
        # recursion) — not expressible as a Spark window, so it runs as
        # one applyInPandas per entity; the oracle replays the same
        # recursion with WITH RECURSIVE over per-user row_number.
        # alpha=0.5 keeps every intermediate an exact binary fraction,
        # so both engines agree bit-for-bit before the round
        from gbdc_spark.operators.temporal import with_ewma

        ev = _events(spark, sf_dir)
        return with_ewma(
            ev, value_col="value", partition_by="user_id",
            order_by=["ts", "event_id"], alpha=0.5,
        ).select(
            "user_id", "event_id", "value",
            F.round("ewma", 6).alias("ewma"),
        )

    def q_stream_ewma(spark, sf_dir):
        # REAL stateful streaming EWMA: the event stream replayed as
        # four ts-range files (mtime-ordered, one per micro-batch), so
        # most entities' decay chains SPAN batches and only the
        # per-bucket GroupState can continue them.  Batch-equivalent by
        # construction -> the oracle is the batch recursion.
        import os
        import shutil
        import tempfile
        import uuid

        from gbdc_spark.streaming.pipeline import stream_ewma

        base = tempfile.mkdtemp(prefix="gbdc_sewma_")
        ev = _events(spark, sf_dir).select(
            "event_id", "ts", "user_id", "value"
        )
        # TIMESTAMP_NTZ has no direct long cast in Spark 4 — go via
        # timestamp (session tz UTC) for the epoch-second range cuts
        sec = F.col("ts").cast("timestamp").cast("long")
        lo, hi = ev.agg(F.min(sec), F.max(sec)).first()
        span = (int(hi) - int(lo)) // 4 + 1
        os.makedirs(f"{base}/in")
        for i in range(4):
            tmp = f"{base}/_{i}"
            lo_i, hi_i = lo + i * span, lo + (i + 1) * span
            ev.filter(
                (sec >= lo_i) & (sec < hi_i)
            ).coalesce(1).write.parquet(tmp)
            fn = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            dst = f"{base}/in/part{i}.parquet"
            shutil.copy(f"{tmp}/{fn}", dst)
            os.utime(dst, (1000 + i, 1000 + i))
            shutil.rmtree(tmp)
        src = (
            spark.readStream.schema(
                "event_id long, ts timestamp_ntz, user_id long, value double"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{base}/in")
        )
        name = f"sewma_{uuid.uuid4().hex[:8]}"
        q = (
            stream_ewma(src, value_col="value", key="user_id",
                        order_by=("ts", "event_id"), alpha=0.5, buckets=16)
            .writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return spark.table(name).select(
            "user_id", "event_id", "value",
            F.round("ewma", 6).alias("ewma"),
        )

    def q_json_props_agg(spark, sf_dir):
        # semi-structured path: typed from_json over the props column,
        # aggregated per event type (the JSON-functions family of §2.9)
        ev = _events(spark, sf_dir)
        k = F.from_json(F.col("props"), "k long")["k"]
        return (
            ev.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum("k").alias("sum_k"),
                F.round(F.avg("k"), 6).alias("avg_k"),
                F.max("k").alias("max_k"),
            )
        )

    def q_topk_per_group(spark, sf_dir):
        ev = _events(spark, sf_dir)
        w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.col("event_id"))
        return (
            ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("event_type", "rn", "event_id", "value")
        )

    # ------------------------- relational core ------------------------
    def q1_pricing(spark, sf_dir):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return (
            li.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
                F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                F.count("*").alias("count_order"),
            )
        )

    def q3_segment_revenue(spark, sf_dir):
        c = spark.read.parquet(f"{sf_dir}/customer.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
                F.countDistinct("o_orderkey").alias("n_orders"),
            )
        )

    def q_region_revenue(spark, sf_dir):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
        n = spark.read.parquet(f"{sf_dir}/nation.parquet")
        r = spark.read.parquet(f"{sf_dir}/region.parquet")
        return (
            li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
            .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
                F.count("*").alias("n_items"),
            )
        )

    def q_rollup_orders(spark, sf_dir):
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        return o.rollup("o_orderstatus", "o_orderpriority").agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )

    def q4_order_priority(spark, sf_dir):
        # TPC-H Q4 shape: EXISTS correlated subquery as a left-semi join
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_shipdate"
        )
        # correlated EXISTS: an item shipped after the order date
        return (
            o.join(
                li,
                (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
                "left_semi",
            )
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("order_count"))
        )

    def q13_custdist(spark, sf_dir):
        # TPC-H Q13 shape: outer join, per-customer count, distribution
        c = spark.read.parquet(f"{sf_dir}/customer.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        per_cust = (
            c.join(o, c.c_custkey == o.o_custkey, "left_outer")
            .groupBy("c_custkey")
            .agg(F.count("o_orderkey").alias("c_count"))
        )
        return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))

    def q_value_deciles(spark, sf_dir):
        ev = _events(spark, sf_dir)
        w = Window.partitionBy("event_type").orderBy(F.col("value"), F.col("event_id"))
        return ev.select(
            "event_id", "event_type", F.ntile(10).over(w).alias("decile")
        )

    def q_anti_join(spark, sf_dir):
        c = spark.read.parquet(f"{sf_dir}/customer.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")

    def q_semi_join(spark, sf_dir):
        p = spark.read.parquet(f"{sf_dir}/part.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(F.col("l_quantity") > 49)
        return p.join(li, p.p_partkey == li.l_partkey, "left_semi").select("p_partkey", "p_brand")

    # ------------------- documents: dedup / text ----------------------
    def q_dedup_exact(spark, sf_dir):
        return dedup.exact_dedup_groups(_docs(spark, sf_dir), key="doc_id", text_col="text")

    def q_text_stats(spark, sf_dir):
        out = text.with_text_stats(_docs(spark, sf_dir))
        return out.select(
            "doc_id", "n_words",
            F.round("avg_word_len", 6).alias("avg_word_len"),
            F.round("stopword_ratio", 6).alias("stopword_ratio"),
            "is_short",
        )

    def q_lang_guess(spark, sf_dir):
        return text.with_lang_guess(_docs(spark, sf_dir)).select("doc_id", "lang_guess")

    def q_token_counts(spark, sf_dir):
        return text.with_token_counts(_docs(spark, sf_dir)).select(
            "doc_id", "n_ws_tokens", "n_bpe_est"
        )

    def q_fingerprint(spark, sf_dir):
        return text.with_fingerprint(_docs(spark, sf_dir)).select("doc_id", "fingerprint")

    def q_bigram_topk(spark, sf_dir):
        return text.ngram_topk(_docs(spark, sf_dir), n=2, k=20)

    def q_pmi_topk(spark, sf_dir):
        # collocation mining: corpus top-20 adjacent pairs by PMI
        from gbdc_spark.operators.text import pmi_topk

        return pmi_topk(_docs(spark, sf_dir), k=20, min_count=5)

    def q_vocab_oov(spark, sf_dir):
        # tokenizer-coverage: induce the top-16 word vocab (the synth
        # corpus has ~31 distinct words, so the cut is real) and score
        # per-doc OOV; the count-desc/word-asc cut is deterministic in
        # both engines
        from gbdc_spark.operators.text import vocab_oov

        return vocab_oov(_docs(spark, sf_dir), vocab_size=16)

    def q_lexical_diversity(spark, sf_dir):
        # vocabulary-richness signals: TTR, hapax fraction, unigram
        # Shannon entropy per doc — all derived from one (doc, word)
        # count table; ln(N) - sum(c ln c)/N keeps the fold one-pass
        from gbdc_spark.operators.text import with_lexical_diversity

        return with_lexical_diversity(_docs(spark, sf_dir))

    def q_zipf_fit(spark, sf_dir):
        # per-source Zipf OLS over the top-200 word ranks (count desc,
        # word asc cut); slope/intercept/r2 from covar_pop/var_pop/corr
        # moments == DuckDB regr_* at round-6
        from gbdc_spark.operators.text import zipf_fit

        return zipf_fit(_docs(spark, sf_dir), group="source", topk=200)

    def q_span_dedup(spark, sf_dir):
        # C4 duplicated-span removal (sliding window + interval union,
        # unlike line_dedup's disjoint chunks) at word granularity on
        # the punctuation-free synth corpus: any 5-word span seen
        # earlier corpus-wide is removed from the later occurrence
        from gbdc_spark.operators.dedup import span_dedup

        return span_dedup(
            _docs(spark, sf_dir).select("doc_id", "text"),
            sep=" ", n_span=5,
        )

    def q_ngram_novelty(spark, sf_dir):
        # recycled-content scoring: fraction of each doc's 5-gram
        # occurrences whose corpus-wide first occurrence is elsewhere
        # (the read-only counterpart of span_dedup)
        from gbdc_spark.operators.text import ngram_novelty

        return ngram_novelty(_docs(spark, sf_dir), n=5)

    def q_logreg_langid(spark, sf_dir):
        # in-engine trained classifier (CCNet/FineWeb gate pattern):
        # 3 epochs of full-batch GD as map-side-combined avg aggs; the
        # oracle unrolls the identical trajectory in chained CTEs, so
        # the TRAINING LOOP is value-gated, not just the scorer
        from gbdc_spark.operators.quality import logreg_langid

        return logreg_langid(_docs(spark, sf_dir), epochs=3, lr=1.0)

    def q_bpe_merges(spark, sf_dir):
        # distributed BPE tokenizer induction (Sennrich ACL'16): one
        # corpus shuffle builds the word-freq table, then 12 merge
        # rounds of pair-count aggregate + 1-row argmax; the oracle
        # unrolls the identical trajectory in chained CTEs (the
        # logreg/trained-IVF device) over the double-separator symbol
        # strings, so the whole TRAINING LOOP is value-gated
        from gbdc_spark.operators.tokenizer import bpe_train

        merges, _ = bpe_train(_docs(spark, sf_dir), n_merges=12)
        return merges

    def q_bpe_encode_docs(spark, sf_dir):
        # encode every doc with the learned rules: replaces run once
        # per DISTINCT word, broadcast-joined back to occurrences,
        # order-preserving re-assembly; token arrays projected to md5
        # (array cells crash the driver canonicalizer)
        from gbdc_spark.operators.tokenizer import bpe_encode, bpe_train

        docs = _docs(spark, sf_dir)
        merges, _ = bpe_train(docs, n_merges=12)
        enc = bpe_encode(docs, merges)
        return enc.select(
            "doc_id",
            "n_bpe",
            F.md5(F.array_join("bpe_tokens", " ")).alias("toks_md5"),
        )

    def q_pagerank_dups(spark, sf_dir):
        # PageRank centrality over the (symmetric) MinHash-band
        # near-dup graph — picks the CANONICAL doc inside each dup
        # cluster; 5 synchronous sweeps, dangling mass folded back as
        # a 1-row broadcast; the oracle unrolls the identical
        # trajectory in chained MATERIALIZED CTEs
        from gbdc_spark.operators.graph import pagerank

        pairs = dedup.minhash_candidate_pairs(
            _docs(spark, sf_dir), key="doc_id", num_perm=8, bands=4,
            shingle_n=3,
        )
        return pagerank(
            pairs, src="a", dst="b", iters=5, undirected=True
        ).withColumnRenamed("node", "doc_id")

    def q_funnel(spark, sf_dir):
        # ordered signup→view→purchase funnel: step k matches each
        # user's earliest step-k event at/after their matched step-(k-1)
        # time; K-1 user-key equi-joins, each intermediate one row per
        # surviving user
        from gbdc_spark.operators.temporal import funnel_analysis

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return funnel_analysis(ev, ["signup", "view", "purchase"])

    def q_hits_words(spark, sf_dir):
        # HITS hubs/authorities over the DIRECTED weighted word-bigram
        # graph (hubs start phrases, authorities end them) — the
        # mutually recursive pair PageRank is not; 8 L1-normalized
        # iterations unrolled in the oracle
        from gbdc_spark.operators.graph import hits

        ws = F.split(F.col("text"), " ")
        bg = (
            _docs(spark, sf_dir)
            .select(
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
                    ).otherwise(
                        F.array().cast(
                            "array<struct<w1:string,w2:string>>"
                        )
                    )
                ).alias("bg")
            )
            .select("bg.w1", "bg.w2")
            .filter(F.col("w1") != F.col("w2"))
            .groupBy("w1", "w2")
            .agg(F.count("*").cast("double").alias("w"))
        )
        return hits(
            bg, src="w1", dst="w2", weight="w", iters=8
        ).withColumnRenamed("node", "word")

    def q_markov_transitions(spark, sf_dir):
        # first-order event-sequence model: one lead window per user
        # (ts, event_id tiebreak), pair counts row-normalized
        from gbdc_spark.operators.temporal import markov_transitions

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return markov_transitions(ev, tiebreak="event_id")

    def q_markov_stationary(spark, sf_dir):
        # stationary distribution of the transition chain: 16 unrolled
        # power-iteration steps from uniform, probabilities exact
        # integer ratios throughout — the oracle replays the identical
        # trajectory in chained CTEs (the trainer-unroll device)
        from gbdc_spark.operators.temporal import markov_stationary

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return markov_stationary(ev, iters=16, tiebreak="event_id")

    def q_cohort_retention(spark, sf_dir):
        # weekly cohort retention triangle over events: cohort = week
        # of first activity, k = whole-week offset, retention vs the
        # cohort's own size — one min agg + one user-key join + one
        # distinct count per cell
        from gbdc_spark.operators.temporal import cohort_retention

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return cohort_retention(ev, period="week")

    def q_domain_weights(spark, sf_dir):
        # DoReMi-style domain mixture: per-source mean LM cross-entropy
        # → exponentiated excess loss → uniform-smoothed weights that
        # sum to 1; composes over the lm_perplexity oracle
        from gbdc_spark.operators.quality import domain_weights

        return domain_weights(
            _docs(spark, sf_dir), eta=1.0, smoothing=0.3, min_count=2
        )

    def q_stream_cms(spark, sf_dir):
        # REAL streaming frequency sketch: cms_build runs UNCHANGED as
        # a streaming aggregate — cell counts are ADDITIVE across
        # micro-batches, the CMS merge property online (the sibling of
        # stream_hll's max-fold); events replayed as two mtime-ordered
        # files, the sunk sketch point-queried batch-side vs exact
        import os
        import shutil
        import tempfile
        import uuid

        from gbdc_spark.operators.sketches import cms_build, cms_query

        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            F.col("event_type").alias("item"), "event_id"
        )
        base = tempfile.mkdtemp(prefix="gbdc_scms_")
        os.makedirs(f"{base}/in")
        for tag, mt, par in (("a", 1000, 0), ("b", 2000, 1)):
            tmp = f"{base}/_{tag}"
            ev.filter(F.col("event_id") % 2 == par).select(
                "item"
            ).coalesce(1).write.parquet(tmp)
            fn = next(
                f for f in sorted(os.listdir(tmp))
                if f.endswith(".parquet")
            )
            dst = f"{base}/in/{tag}.parquet"
            shutil.copy(f"{tmp}/{fn}", dst)
            os.utime(dst, (mt, mt))
            shutil.rmtree(tmp)
        src = (
            spark.readStream.schema("item string")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{base}/in")
        )
        name = f"scms_{uuid.uuid4().hex[:8]}"
        q = (
            cms_build(src, "item", depth=4, width=64)
            .writeStream.format("memory").queryName(name)
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        truth = ev.groupBy("item").agg(F.count("*").alias("n_true"))
        return cms_query(
            truth, spark.table(name), "item", depth=4, width=64
        )

    def q_tokenize_pack(spark, sf_dir):
        # the FULL tokenizer front end composed end-to-end: raw text →
        # learned BPE rules → subword ids (dense freq-ranked, 0
        # reserved for EOS) → GPT-style concat-and-chunk into 256-id
        # training blocks; one oracle replays trainer + id assignment +
        # global offsets + block re-assembly
        from gbdc_spark.operators.packing import pack_concat_chunks
        from gbdc_spark.operators.tokenizer import (
            bpe_encode_ids,
            bpe_train,
        )

        docs = _docs(spark, sf_dir)
        merges, _ = bpe_train(docs, n_merges=12)
        ids = bpe_encode_ids(docs, merges)
        hi = int(ids.agg(F.max("doc_id")).first()[0])
        blocks = pack_concat_chunks(
            ids,
            block_size=256,
            tokens_col="tokens",
            eos_id=0,
            bucket_width=max(1, hi // 16),
            drop_last=False,
        )
        return blocks.select(
            "block_id",
            "n_tok",
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.col("tokens"), lambda x: x.cast("string")
                    ),
                )
            ).alias("tokens_md5"),
        )

    def q_incremental_read(spark, sf_dir):
        # Iceberg-style incremental append scan over the snapshot
        # manifest: documents committed as three doc_id bands, then the
        # consumer reads only what landed AFTER the first snapshot —
        # the changes-feed a downstream poller uses instead of a full
        # re-read; oracle = the same band predicate on the raw table
        import tempfile

        from gbdc_spark.operators import checkpoint as cp

        docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
        hi = int(docs.agg(F.max("doc_id")).first()[0])
        c1, c2 = int(hi * 0.4), int(hi * 0.7)
        base = tempfile.mkdtemp(prefix="gbdc_incr_") + "/tbl"
        e1 = cp.commit(
            docs.filter(F.col("doc_id") < c1), base, keys=["doc_id"]
        )
        cp.commit(
            docs.filter(
                (F.col("doc_id") >= c1) & (F.col("doc_id") < c2)
            ),
            base,
            keys=["doc_id"],
        )
        cp.commit(
            docs.filter(F.col("doc_id") >= c2), base, keys=["doc_id"]
        )
        return cp.read_incremental(
            spark, base, after=e1["snapshot_id"]
        ).select("doc_id", "source", "n_chars")

    def q_jaccard_join(spark, sf_dir):
        # EXACT-threshold word-set Jaccard self-join via PPJoin prefix
        # filtering — rarest-first global order, |x|-ceil(t|x|)+1
        # prefixes, exact verification; recall 1.0 by the prefix
        # guarantee (no MinHash probability).  NB the 31-word synth
        # vocabulary is this operator's WORST case (prefix pruning
        # thrives on Zipf tails); t=0.95 keeps the output driver-sized
        from gbdc_spark.operators.dedup import jaccard_join

        return jaccard_join(
            _docs(spark, sf_dir), key="doc_id", threshold=0.95
        )

    def q_stream_hll(spark, sf_dir):
        # REAL streaming HLL: the BATCH hll_registers operator runs
        # UNCHANGED as a streaming aggregate (bucket-wise max is
        # order/batch-invariant — the sketch's merge property is what
        # makes it maintainable online), events replayed as two
        # mtime-ordered files; registers from the complete-mode sink
        # feed the batch estimator, next to the exact count
        import os
        import shutil
        import tempfile
        import uuid

        from gbdc_spark.operators.sketches import (
            hll_estimate,
            hll_registers,
        )

        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            F.col("user_id").cast("string").alias("item"), "event_id"
        )
        base = tempfile.mkdtemp(prefix="gbdc_shll_")
        os.makedirs(f"{base}/in")
        for tag, mt, par in (("a", 1000, 0), ("b", 2000, 1)):
            tmp = f"{base}/_{tag}"
            ev.filter(F.col("event_id") % 2 == par).select(
                "item"
            ).coalesce(1).write.parquet(tmp)
            fn = next(
                f for f in sorted(os.listdir(tmp))
                if f.endswith(".parquet")
            )
            dst = f"{base}/in/{tag}.parquet"
            shutil.copy(f"{tmp}/{fn}", dst)
            os.utime(dst, (mt, mt))
            shutil.rmtree(tmp)
        src = (
            spark.readStream.schema("item string")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{base}/in")
        )
        name = f"shll_{uuid.uuid4().hex[:8]}"
        q = (
            hll_registers(src, "item", p=12)
            .writeStream.format("memory").queryName(name)
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        est = hll_estimate(spark.table(name), p=12)
        exact = ev.agg(F.count_distinct("item").alias("exact_distinct"))
        return est.crossJoin(exact)

    def q_stream_quantiles(spark, sf_dir):
        # REAL streaming quantile sketch: ddq_registers runs UNCHANGED
        # as a streaming aggregate (count-sum is order/batch-invariant
        # — the same merge property that makes the sketch maintainable
        # online as stream_hll's max-fold); documents replayed as two
        # mtime-ordered files, per-source p50/p90/p99 read from the
        # complete-mode register sink.  The oracle is the batch SQL:
        # replay-invariance IS the contract under test
        import os
        import shutil
        import tempfile
        import uuid

        from gbdc_spark.operators.sketches import ddq_quantiles, ddq_registers

        docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
        base = tempfile.mkdtemp(prefix="gbdc_sddq_")
        os.makedirs(f"{base}/in")
        for tag, mt, par in (("a", 1000, 0), ("b", 2000, 1)):
            tmp = f"{base}/_{tag}"
            docs.filter(F.col("doc_id") % 2 == par).select(
                "source", "n_chars"
            ).coalesce(1).write.parquet(tmp)
            fn = next(
                f for f in sorted(os.listdir(tmp))
                if f.endswith(".parquet")
            )
            dst = f"{base}/in/{tag}.parquet"
            shutil.copy(f"{tmp}/{fn}", dst)
            os.utime(dst, (mt, mt))
            shutil.rmtree(tmp)
        src = (
            spark.readStream.schema("source string, n_chars long")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{base}/in")
        )
        name = f"sddq_{uuid.uuid4().hex[:8]}"
        q = (
            ddq_registers(src, "n_chars", by=["source"])
            .writeStream.format("memory").queryName(name)
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return ddq_quantiles(
            spark.table(name), qs=(0.5, 0.9, 0.99), by=["source"]
        )

    def q_textrank_words(spark, sf_dir):
        # TextRank keyword extraction (Mihalcea & Tarau EMNLP'04):
        # weighted PageRank over the corpus word co-occurrence graph
        # (adjacent pairs, symmetric, weight = co-occurrence count),
        # top-10 by rank — the oracle unrolls all 10 weighted sweeps
        from gbdc_spark.operators.graph import pagerank

        ws = F.split(F.col("text"), " ")
        bg = (
            _docs(spark, sf_dir)
            .select(
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
                    ).otherwise(
                        F.array().cast(
                            "array<struct<w1:string,w2:string>>"
                        )
                    )
                ).alias("bg")
            )
            .select("bg.w1", "bg.w2")
            .filter(F.col("w1") != F.col("w2"))
        )
        und = (
            bg.select(
                F.least("w1", "w2").alias("x"),
                F.greatest("w1", "w2").alias("y"),
            )
            .groupBy("x", "y")
            .agg(F.count("*").cast("double").alias("w"))
        )
        ranks = pagerank(
            und, src="x", dst="y", iters=10, undirected=True, weight="w",
            out="textrank",
        ).withColumnRenamed("node", "word")
        return ranks.orderBy(
            F.desc("textrank"), F.asc("word")
        ).limit(10)

    def q_triangle_stats(spark, sf_dir):
        # exact triangle counts + local clustering over the near-dup
        # graph via degree-ordered orientation (out-degree bounded
        # O(sqrt(m)) — the Zipf-hub-proof formulation); density
        # separates true dup cliques from band-collision stars
        from gbdc_spark.operators.graph import triangle_count

        pairs = dedup.minhash_candidate_pairs(
            _docs(spark, sf_dir), key="doc_id", num_perm=8, bands=4,
            shingle_n=3,
        )
        return triangle_count(pairs, src="a", dst="b").withColumnRenamed(
            "node", "doc_id"
        )

    def q_bpe_fertility(spark, sf_dir):
        # tokenizer evaluation over the trained rules: per-source
        # fertility (subword tokens per word) and chars per token —
        # replace chain per DISTINCT word, broadcast back, one
        # map-side-combined agg per source
        from gbdc_spark.operators.tokenizer import bpe_fertility, bpe_train

        docs = _docs(spark, sf_dir)
        merges, _ = bpe_train(docs, n_merges=12)
        return bpe_fertility(docs, merges, by="source")

    def q_sketch_quantiles(spark, sf_dir):
        # mergeable quantile sketch (DDSketch idea, decimal-mantissa
        # bins so the SQL oracle reproduces every register and
        # estimate exactly): per-source p50/p90/p99 of document length
        # from a ~90-bins-per-decade register table — the streaming/
        # mergeable complement to the exact source_len_quantiles
        from gbdc_spark.operators.sketches import ddq_quantiles, ddq_registers

        reg = ddq_registers(_docs(spark, sf_dir), "n_chars", by=["source"])
        return ddq_quantiles(reg, qs=(0.5, 0.9, 0.99), by=["source"])

    def q_hll_distinct(spark, sf_dir):
        # HyperLogLog cardinality: per-event-type distinct-user
        # registers (one map-side-combined max agg), the bucket-wise
        # max MERGE across types (the shuffle-free HLL union), and a
        # high-cardinality event_id sketch — each estimate next to its
        # exact count.  rho uses binary-string length, not log2 (libm
        # log2 at powers of two is not engine-portable), so the oracle
        # reproduces every register and estimate bit-for-bit
        from gbdc_spark.operators.sketches import (
            hll_estimate,
            hll_merge,
            hll_registers,
        )

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        users = ev.select(
            "event_type", F.col("user_id").cast("string").alias("item")
        )
        regs = hll_registers(users, "item", p=12, by=["event_type"])
        per = hll_estimate(regs, p=12, by=["event_type"]).withColumnRenamed(
            "event_type", "grp"
        )
        allu = hll_estimate(
            hll_merge(regs, drop=["event_type"]), p=12
        ).withColumn("grp", F.lit("ALL_users"))
        ids = ev.select(F.col("event_id").cast("string").alias("item"))
        alle = hll_estimate(hll_registers(ids, "item", p=12), p=12).withColumn(
            "grp", F.lit("ALL_events")
        )
        ests = per.unionByName(allu.select(*per.columns)).unionByName(
            alle.select(*per.columns)
        )
        exacts = (
            users.groupBy(F.col("event_type").alias("grp"))
            .agg(F.count_distinct("item").alias("exact_distinct"))
            .unionByName(
                users.agg(
                    F.count_distinct("item").alias("exact_distinct")
                ).select(
                    F.lit("ALL_users").alias("grp"), "exact_distinct"
                )
            )
            .unionByName(
                ids.agg(
                    F.count_distinct("item").alias("exact_distinct")
                ).select(
                    F.lit("ALL_events").alias("grp"), "exact_distinct"
                )
            )
        )
        return ests.join(exacts, "grp").select(
            "grp", "v_zero", "est_distinct", "exact_distinct"
        )

    def q_bloom_dedup_against(spark, sf_dir):
        # Dolma-style Bloom membership: build the filter over the first
        # 80% of docs (by doc_id), probe the rest for exact-content
        # membership — the structure that answers cross-snapshot dedup
        # when the snapshot no longer fits a join.  m=2^16, k=4; bit
        # math replicated exactly in the oracle (no false negatives;
        # FPs identical in both engines because positions are md5)
        from gbdc_spark.operators.dedup import bloom_build, bloom_probe

        docs = _docs(spark, sf_dir).select("doc_id", "text")
        hi = docs.agg(F.max("doc_id")).first()[0]
        cut = int(int(hi) * 0.8)
        snap = docs.filter(F.col("doc_id") < cut).select(
            F.md5("text").alias("item")
        )
        probe = docs.filter(F.col("doc_id") >= cut).select(
            "doc_id", F.md5("text").alias("item")
        )
        bloom = bloom_build(snap, item_col="item", m=1 << 16, k=4)
        return bloom_probe(
            probe, bloom, item_col="item", key="doc_id", m=1 << 16, k=4
        )

    def q_logreg_auc(spark, sf_dir):
        # the evaluation half of the training loop: exact tie-averaged
        # Mann-Whitney AUC of the trained scorer vs the true labels;
        # rank window runs over DISTINCT rounded scores only
        from gbdc_spark.operators.quality import binary_auc, logreg_langid

        docs = _docs(spark, sf_dir)
        scored = logreg_langid(docs, epochs=3, lr=1.0)
        j = scored.join(
            docs.select(
                "doc_id",
                F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
            ),
            "doc_id",
        )
        return binary_auc(j, score_col="score", label_col="y")

    def q_logreg_ap(spark, sf_dir):
        # PR complement of logreg_auc: exact step-wise average
        # precision with ties grouped by distinct score
        from gbdc_spark.operators.quality import binary_ap, logreg_langid

        docs = _docs(spark, sf_dir)
        scored = logreg_langid(docs, epochs=3, lr=1.0)
        j = scored.join(
            docs.select(
                "doc_id",
                F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
            ),
            "doc_id",
        )
        return binary_ap(j, score_col="score", label_col="y")

    def q_cms_words(spark, sf_dir):
        # count-min sketch (4x128, deliberately collision-heavy) built
        # over all corpus word occurrences, point-queried for the top
        # 20 words next to their true counts: est >= true always, over
        # by the collision mass — bit-identical in the oracle
        from gbdc_spark.operators.sketches import cms_build, cms_query

        words = _docs(spark, sf_dir).select(
            F.explode(F.split("text", " ")).alias("word")
        )
        cms = cms_build(words, "word", depth=4, width=128)
        top = (
            words.groupBy("word")
            .agg(F.count("*").alias("n_true"))
            .orderBy(F.desc("n_true"), F.asc("word"))
            .limit(20)
        )
        return cms_query(top, cms, "word", depth=4, width=128)

    def q_logreg_calibration(spark, sf_dir):
        # reliability diagram of the trained scorer: 10 equal-width
        # bins, mean predicted score vs empirical positive rate
        from gbdc_spark.operators.quality import (
            calibration_bins,
            logreg_langid,
        )

        docs = _docs(spark, sf_dir)
        scored = logreg_langid(docs, epochs=3, lr=1.0)
        j = scored.join(
            docs.select(
                "doc_id",
                F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
            ),
            "doc_id",
        )
        return calibration_bins(j, score_col="score", label_col="y", bins=10)

    def q_heaps_fit(spark, sf_dir):
        # Heaps'-law vocabulary growth in doc_id order, 10 checkpoints
        # + the OLS beta/lnc; two-phase global token offsets (no
        # single-partition window)
        from gbdc_spark.operators.text import heaps_fit

        return heaps_fit(_docs(spark, sf_dir), checkpoints=10)

    def q_word_burstiness(spark, sf_dir):
        # Church–Gale burstiness (VMR with zeros) for the corpus top
        # words — zero rows never materialized, only Σc and Σc² travel
        from gbdc_spark.operators.text import word_burstiness

        return word_burstiness(_docs(spark, sf_dir), topk=50)

    def q_tfidf_topk(spark, sf_dir):
        # characteristic vocabulary per source: smoothed-IDF TF-IDF
        # top-10 — model-sized joins, broadcast N, per-group window
        return text.tfidf_topk(_docs(spark, sf_dir), group="source", k=10)

    def q_bm25_topk(spark, sf_dir):
        # BM25 retrieval (Lucene idf variant): filtered explode ->
        # query-matches-sized partial agg, broadcast df_t and (N,
        # avgdl), TakeOrdered top-k; score rounded before ranking and
        # ties break on doc_id so the cut at k is engine-independent
        return text.bm25_topk(
            _docs(spark, sf_dir),
            ["hash", "join", "merge", "vector"],
            k=50,
        )

    def q_percentile_gate(spark, sf_dir):
        # FineWeb-Edu-style per-source top-X% gate: keep the longest
        # 25% of docs per source. Integer rank cut (100*rn <= 25*n),
        # so the oracle derives the identical boolean; bucketed=True
        # exercises the two-phase giant-group rank (window path is
        # pytest-proven identical).
        from gbdc_spark.operators.quality import percentile_gate

        docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
        return percentile_gate(
            docs, "n_chars", "source", keep_pct=25, bucketed=True, quant=0.25
        )

    def q_ccnet_buckets(spark, sf_dir):
        # CCNet head/middle/tail per language: LM perplexity (pruned
        # self-trained bigram model, same as lm_perplexity) ranked
        # per-lang via the two-phase monotone-quantization rank
        # (bucketed=True exercises the giant-language scale path; the
        # window path is pytest-proven output-identical). Bucket edges
        # are integer rank arithmetic (3*rn <= n), so the oracle
        # derives the identical label; null-perplexity docs keep a
        # NULL bucket in both engines (NULL ordering differs between
        # them, so NULLs never enter the rank).
        from gbdc_spark.operators.quality import ccnet_buckets, lm_perplexity

        docs = _docs(spark, sf_dir)
        ppl = lm_perplexity(docs.select("doc_id", "text"), min_count=2)
        scored = ppl.join(docs.select("doc_id", "lang"), "doc_id").select(
            "doc_id", "lang", "perplexity"
        )
        return ccnet_buckets(scored, bucketed=True)

    def q_source_divergence(spark, sf_dir):
        # mixture drift: per-source unigram KL vs the corpus
        # distribution — one corpus scan, ReuseExchange fans it out
        return text.source_divergence(_docs(spark, sf_dir), group="source")

    def q_source_len_quantiles(spark, sf_dir):
        # exact per-source length quantiles (truncation-policy input for
        # corpus curation); Spark percentile() and DuckDB quantile_cont
        # share the linear-interpolation definition
        return (
            _docs(spark, sf_dir)
            .groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.round(F.percentile(F.length("text"), F.lit(0.5)), 6).alias("p50_len"),
                F.round(F.percentile(F.length("text"), F.lit(0.95)), 6).alias("p95_len"),
                F.max(F.length("text")).cast("long").alias("max_len"),
            )
        )

    def q_winnow_fingerprint(spark, sf_dir):
        # hashable projection of the winnowing fingerprint set
        out = text.with_winnow_fingerprints(_docs(spark, sf_dir), k=8, window=4)
        return out.select(
            "doc_id",
            F.size("winnow_fp").alias("n_fps"),
            F.md5(F.concat_ws("", F.col("winnow_fp"))).alias("fp_hash"),
        )

    def q_winnow_pairs(spark, sf_dir):
        # MOSS-style substring near-dup pairs: shared winnowing
        # fingerprints, doc-frequency cap before the self-join
        return dedup.winnow_overlap_pairs(
            _docs(spark, sf_dir), k=16, window=8, min_shared=3, max_df=64
        )

    def q_minhash_sig(spark, sf_dir):
        out = dedup.with_minhash_signature(_docs(spark, sf_dir), num_perm=4, shingle_n=3)
        return out.select(
            "doc_id",
            *[F.col("minhash")[j].alias(f"mh{j}") for j in range(4)],
        )

    def q_minhash_pairs(spark, sf_dir):
        return dedup.minhash_candidate_pairs(
            _docs(spark, sf_dir), key="doc_id", num_perm=8, bands=4, shingle_n=3
        )

    def q_token_minhash_sig(spark, sf_dir):
        # MinHash over token-id shingles — dedup primitive for the
        # pre-tokenized sequences shape (north-rule input), where the
        # text is gone and near-dup detection runs on token n-grams
        seqs = tables.documents_as_sequences(spark, sf_dir)
        out = dedup.with_token_minhash_signature(seqs, num_perm=4, shingle_n=3)
        return out.select(
            "doc_id",
            *[F.col("minhash")[j].alias(f"mh{j}") for j in range(4)],
        )

    def q_token_minhash_pairs(spark, sf_dir):
        seqs = tables.documents_as_sequences(spark, sf_dir)
        return dedup.token_minhash_pairs(
            seqs, key="doc_id", num_perm=8, bands=4, shingle_n=3
        )

    def q_substring_dedup(spark, sf_dir):
        # token-level ExactSubstr dedup (Lee et al. 2022): every
        # 12-token span occurring >1 time corpus-wide is removed from
        # all but its globally-first (doc_id, pos) occurrence; the
        # md5 projection stands in for the kept array (array cells
        # crash the driver canonicalizer)
        seqs = tables.documents_as_sequences(spark, sf_dir)
        out = dedup.substring_dedup(seqs, l=12)
        kept = F.col("tokens_dedup")
        return out.select(
            "doc_id",
            F.size("tokens").cast("int").alias("n_tok"),
            F.size(kept).cast("int").alias("n_kept"),
            F.md5(
                F.concat_ws(
                    " ", F.transform(kept, lambda x: x.cast("string"))
                )
            ).alias("kept_hash"),
        )

    def q_dedup_clusters(spark, sf_dir):
        # candidate pairs -> connected components -> (doc_id, keeper)
        pairs = dedup.minhash_candidate_pairs(
            _docs(spark, sf_dir), key="doc_id", num_perm=8, bands=4, shingle_n=3
        )
        return dedup.dup_clusters(pairs)

    def q_dedup_clusters_star(spark, sf_dir):
        # the O(log n)-round large-star/small-star path over the same
        # pair graph — identical (doc_id, keeper) contract, same oracle
        pairs = dedup.minhash_candidate_pairs(
            _docs(spark, sf_dir), key="doc_id", num_perm=8, bands=4, shingle_n=3
        )
        return dedup.dup_clusters_star(pairs)

    def q_cluster_split(spark, sf_dir):
        # leakage-safe dataset split: connected near-dup components
        # (the same minhash pair graph as dedup_clusters) are hashed as
        # WHOLE clusters into the 80/10/10 bands, so near-duplicates
        # can never straddle train/val — the split-integrity
        # counterpart of dedup-before-split (Lee et al. 2022)
        from gbdc_spark.operators.packing import cluster_split

        docs = _docs(spark, sf_dir)
        pairs = dedup.minhash_candidate_pairs(
            docs, key="doc_id", num_perm=8, bands=4, shingle_n=3
        )
        return cluster_split(
            docs, dedup.dup_clusters(pairs),
            {"train": 0.8, "val": 0.1, "test": 0.1},
        )

    def q_dedup_keep_best(spark, sf_dir):
        # quality-aware survivorship over the same minhash pair graph:
        # per cluster keep the LONGEST doc (n_chars), ties to the
        # smallest doc_id; singletons keep themselves
        docs = _docs(spark, sf_dir)
        pairs = dedup.minhash_candidate_pairs(
            docs, key="doc_id", num_perm=8, bands=4, shingle_n=3
        )
        return dedup.dedup_keep_best(
            docs.select("doc_id", "n_chars"), pairs, "n_chars"
        )

    def q_dedup_against(spark, sf_dir):
        # incremental-crawl shape: dedup the doc_id%3==0 batch against
        # the rest of the corpus as the prior snapshot
        docs = _docs(spark, sf_dir).select("doc_id", "text")
        new = docs.filter(F.col("doc_id") % 3 == 0)
        snap = docs.filter(F.col("doc_id") % 3 != 0)
        return dedup.dedup_against(new, snap).select(
            "doc_id", "dup_exact", "dup_near"
        )

    def q_ngram_jaccard(spark, sf_dir):
        docs = _docs(spark, sf_dir)
        pairs = docs.select(F.col("doc_id").alias("a")).join(
            docs.select(F.col("doc_id").alias("b")), F.col("a") + 1 == F.col("b")
        )
        return dedup.ngram_jaccard_pairs(docs, pairs, key="doc_id", shingle_n=2)

    def q_simhash(spark, sf_dir):  # rows-only (bit kernel tested in pytest)
        return dedup.with_simhash(_docs(spark, sf_dir)).select("doc_id", "simhash")

    def q_simhash_near_dups(spark, sf_dir):  # rows-only
        return dedup.simhash_near_dups(_docs(spark, sf_dir), max_hamming=3)

    # ----------------------- embeddings / ANN -------------------------
    def _query_vec(spark, sf_dir):
        row = _emb(spark, sf_dir).filter(F.col("vec_id") == 0).select("embedding").first()
        return [float(x) for x in row["embedding"]]

    def _l2_recall_at_5(e, ann, qv):
        # exact squared-L2 top-5 vs an ANN candidate list -> recall@5
        # (shared by the pq/ivfpq recall queries; one definition so the
        # recall contract — k, rounding, tie-break — cannot drift)
        q = F.array(*[F.lit(float(x)) for x in qv])
        v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
        exact = (
            e.select("vec_id", F.round(similarity._l2sq(v, q), 6).alias("d"))
            .orderBy("d", "vec_id")
            .limit(5)
            .select("vec_id")
        )
        return exact.join(ann, "vec_id", "left_semi").agg(
            (F.count("*") / F.lit(5.0)).alias("recall_at_5")
        )

    def q_mmr_topk(spark, sf_dir):
        # MMR diversified top-5 (Carbonell & Goldstein '98): cosine
        # top-20 pool (distributed TakeOrdered) + driver-side greedy
        # rerank over the bounded pool; the oracle unrolls all 5
        # argmax steps in chained CTEs
        return similarity.mmr_topk(
            _emb(spark, sf_dir), _query_vec(spark, sf_dir),
            k=5, lam=0.7, pool=20,
        )

    def q_sq8_topk(spark, sf_dir):
        # 8-bit scalar-quantized ANN: min/max calibration (bounded
        # d-row probe), per-row SQ8 encode, bin-center dequantized L2
        # top-5 — the 1-byte/dim member of the compression family
        from gbdc_spark.operators import similarity as S

        e = _emb(spark, sf_dir)
        lo, hi = S.sq8_bounds_lists(e)
        return S.sq8_topk(
            S.sq8_encode(e, lo, hi), lo, hi, _query_vec(spark, sf_dir), k=5
        )

    def q_sq8_recall(spark, sf_dir):
        # recall@5 of the SQ8 path vs exact L2 — same contract as
        # pq_recall/ivfpq_recall
        from gbdc_spark.operators import similarity as S

        e = _emb(spark, sf_dir)
        lo, hi = S.sq8_bounds_lists(e)
        qv = _query_vec(spark, sf_dir)
        ann = S.sq8_topk(
            S.sq8_encode(e, lo, hi), lo, hi, qv, k=5
        ).select("vec_id")
        return _l2_recall_at_5(e, ann, qv)

    def q_embedding_decontam(spark, sf_dir):
        # semantic eval-set decontamination: vec_id%29==0 plays the
        # benchmark set, the rest is the corpus; flag cosine >= 0.4
        # (the sf tables' cluster design tops out near 0.48 against this
        # eval split, so 0.4 exercises both outcomes)
        e = _emb(spark, sf_dir)
        evals = e.filter(F.col("vec_id") % 29 == 0)
        corpus = e.filter(F.col("vec_id") % 29 != 0).select("vec_id", "embedding")
        return similarity.embedding_decontam(corpus, evals, threshold=0.4).select(
            "vec_id", "max_eval_cosine", "nearest_eval_id", "contaminated"
        )

    def q_cosine_topk(spark, sf_dir):
        return similarity.cosine_topk(
            _emb(spark, sf_dir), _query_vec(spark, sf_dir), k=5
        )

    def q_embedding_covariance(spark, sf_dir):
        # one-pass augmented-Gram covariance of the embedding table:
        # the d x d second-moment statistics behind PCA/whitening
        # (dim probed from the first row — a LIMIT-1 scan)
        return similarity.embedding_covariance(_emb(spark, sf_dir))

    def q_embedding_pca(spark, sf_dir):
        # fit (distributed Gram -> driver eigh on the d x d matrix) and
        # project onto the top-4 basis; the oracle recomputes the same
        # fit from the parquet with numpy and bakes the basis as SQL
        # literals, so the projection pass is value-checked end-to-end
        e = _emb(spark, sf_dir)
        fit = similarity.pca_fit(e, k=4)
        return similarity.pca_project(e, fit["mean"], fit["components"])

    def q_source_ngram_overlap(spark, sf_dir):
        # corpus-level cross-source 5-gram contamination matrix
        return text.source_ngram_overlap(_docs(spark, sf_dir), n=5)

    def q_ivf_assign(spark, sf_dir):
        e = _emb(spark, sf_dir)
        cents = similarity.centroids_from_rows(e, list(range(8)))
        return similarity.ivf_assign(e, cents).select(
            "vec_id", "cell", F.round("cell_cosine", 6).alias("cell_cosine")
        )

    def q_cell_prototypes(spark, sf_dir):
        # cluster-stratified selection (gbdc_spark/operators/
        # similarity.py cell_prototypes): per-IVF-cell quotas — 10 most
        # central prototypes + 10 most peripheral edge vectors per
        # cell, ranked on the ROUNDED cosine (the IVF oracles'
        # quantized-ordering contract) with vec_id ties
        e = _emb(spark, sf_dir)
        cents = similarity.centroids_from_rows(e, list(range(8)))
        legs = [
            similarity.cell_prototypes(e, cents, k=10, mode=m)
            .withColumn("mode", F.lit(m))
            for m in ("central", "edge")
        ]
        return legs[0].unionByName(legs[1])

    def q_hard_negatives(spark, sf_dir):
        # semi-hard negative mining (gbdc_spark/operators/
        # similarity.py hard_negatives): per anchor the 5 most similar
        # other vectors with cosine in [0.3, 0.9) — candidates from
        # shared 2-probe IVF cells, ranked on the rounded cosine
        e = _emb(spark, sf_dir)
        cents = similarity.centroids_from_rows(e, list(range(8)))
        return similarity.hard_negatives(
            e, cents, k=5, lo=0.3, hi=0.9, n_probe=2
        )

    def q_semantic_dedup(spark, sf_dir):
        # SemDeDup keep-first semantic dedup: first-8-rows centroids
        # (same deterministic cells as ivf_assign), tau=0.4 drops the
        # in-cell near-duplicate tail at this SF
        e = _emb(spark, sf_dir)
        cents = similarity.centroids_from_rows(e, list(range(8)))
        return dedup.semantic_dedup(e, cents, threshold=0.4).select(
            "vec_id", "cell",
            F.round("max_sim_earlier", 6).alias("max_sim_earlier"),
            "keep",
        )

    def q_embedding_near_dups(spark, sf_dir):
        # auto-bits path: bit width derived from the corpus size, buckets
        # from seeded Gaussian hyperplanes — the oracle regenerates the
        # identical planes/bit-width from the same (n, d, seed).  The
        # 0.5-cosine verify regime needs many tables for recall (per-bit
        # collision p = 1 - acos(0.5)/pi = 2/3, so one 3-bit table only
        # catches ~30% of qualifying pairs); 8 tables ≈ 94%.
        return dedup.embedding_near_dups(_emb(spark, sf_dir), threshold=0.5, tables=8)

    def q_embedding_near_dups_auto(spark, sf_dir):
        # fully auto path: bits from corpus size AND tables from
        # (bits, threshold) via the SRP recall formula — the oracle
        # derives the identical (bits, tables, planes) from the same
        # probe, so the auto sizing itself is correctness-gated (0.3
        # cosine: wide-angle regime -> 10 auto tables at 3 bits, and
        # the verify returns a non-trivial pair set at sf0.01)
        return dedup.embedding_near_dups(_emb(spark, sf_dir), threshold=0.3)

    def q_embedding_near_dups_ivf(spark, sf_dir):
        # the wide-angle scale path the sign-LSH warning points to:
        # IVF-bucketed candidates (2-probe, first-8-rows centroids) +
        # exact cosine verify at the 0.3 threshold that is OUTSIDE
        # sign-LSH's working regime (auto tables cap at recall 0.46
        # there) — candidate volume here is angle-independent
        e = _emb(spark, sf_dir)
        cents = similarity.centroids_from_rows(e, list(range(8)))
        return dedup.embedding_near_dups_ivf(e, cents, threshold=0.3, n_probe=2)

    def q_ivf_topk(spark, sf_dir):
        # the at-scale shape: materialize the assignment ONCE partitioned
        # by cell, then probe = partition-pruned scan of n_probe cells
        import tempfile

        e = _emb(spark, sf_dir)
        cents = similarity.centroids_from_rows(e, list(range(8)))
        path = tempfile.mkdtemp(prefix="gbdc_ivf_idx_")
        similarity.ivf_index_write(e, cents, path)
        return similarity.ivf_probe(
            spark, path, cents, _query_vec(spark, sf_dir), k=5, n_probe=2
        )

    def q_ivf_recall(spark, sf_dir):
        # ANN quality metric: recall@5 of the 2-probe IVF search vs the
        # exact brute-force top-5 — the evaluation loop any production
        # ANN deployment runs after (re)building an index
        e = _emb(spark, sf_dir)
        cents = similarity.centroids_from_rows(e, list(range(8)))
        qv = _query_vec(spark, sf_dir)
        ivf = similarity.ivf_topk(e, cents, qv, k=5, n_probe=2).select("vec_id")
        bf = similarity.cosine_topk(e, qv, k=5).select("vec_id")
        return bf.join(ivf, "vec_id", "left_semi").agg(
            (F.count("*") / F.lit(5.0)).alias("recall_at_5")
        )

    def q_ivf_trained_topk(spark, sf_dir):  # k-means IVF (2 Lloyd rounds)
        e = _emb(spark, sf_dir)
        cents = similarity.kmeans_fit(e, k=4, iters=2)
        return similarity.ivf_topk(e, cents, _query_vec(spark, sf_dir), k=5, n_probe=2)

    def _pq_codebook(spark, sf_dir):
        # deterministic m=4 × k=8 codebook: subvectors of the first 8
        # rows (oracle-reproducible; a per-subspace k-means would slot
        # in on a real corpus with everything downstream unchanged)
        return similarity.pq_codebook_from_rows(
            _emb(spark, sf_dir), list(range(8)), m=4
        )

    def q_pq_codes(spark, sf_dir):
        # product-quantization encoding: 64 dims -> 4 bytes/vector
        codes = similarity.pq_encode(
            _emb(spark, sf_dir), _pq_codebook(spark, sf_dir), m=4
        )
        return codes.groupBy("vec_id").agg(
            *[
                F.max(F.when(F.col("j") == j, F.col("code")))
                .cast("int")
                .alias(f"code{j}")
                for j in range(4)
            ]
        )

    def q_pq_adc_topk(spark, sf_dir):
        # asymmetric-distance top-5 over the PQ codes — the memory-scale
        # ANN path (1 byte per subspace instead of 4·d bytes)
        e = _emb(spark, sf_dir)
        cb = _pq_codebook(spark, sf_dir)
        codes = similarity.pq_encode(e, cb, m=4)
        return similarity.pq_adc_topk(
            codes, cb, _query_vec(spark, sf_dir), k=5, m=4
        )

    def q_pq_trained_recall(spark, sf_dir):
        # PQ with one per-subspace Lloyd round — recall@5 doubles over
        # the fixed-rows codebook (0.4 -> 0.8 at sf0.01): the training
        # loop the 100 TB deployment would run, kept SQL-reproducible
        # by 6-decimal mean rounding
        e = _emb(spark, sf_dir)
        cb = similarity.pq_codebook_refine(
            e, _pq_codebook(spark, sf_dir), m=4, rounds=1
        )
        codes = similarity.pq_encode(e, cb, m=4)
        qv = _query_vec(spark, sf_dir)
        ann = similarity.pq_adc_topk(codes, cb, qv, k=5, m=4).select("vec_id")
        return _l2_recall_at_5(e, ann, qv)

    def q_ivfpq_topk(spark, sf_dir):
        # IVF-PQ: coarse cells + PQ-coded residuals + per-probed-cell
        # ADC — the canonical billion-vector index composition
        e = _emb(spark, sf_dir)
        cents = similarity.centroids_from_rows(e, list(range(8)))
        return similarity.ivfpq_topk(
            e, cents, list(range(8)), _query_vec(spark, sf_dir),
            k=5, n_probe=2, m=4,
        )

    def q_ivfpq_recall(spark, sf_dir):
        # recall@5 of the IVF-PQ search vs the exact squared-L2 top-5
        e = _emb(spark, sf_dir)
        cents = similarity.centroids_from_rows(e, list(range(8)))
        qv = _query_vec(spark, sf_dir)
        ann = similarity.ivfpq_topk(
            e, cents, list(range(8)), qv, k=5, n_probe=2, m=4
        ).select("vec_id")
        return _l2_recall_at_5(e, ann, qv)

    def q_pq_recall(spark, sf_dir):
        # ADC quality metric: recall@5 vs the exact squared-L2 top-5
        e = _emb(spark, sf_dir)
        cb = _pq_codebook(spark, sf_dir)
        codes = similarity.pq_encode(e, cb, m=4)
        qv = _query_vec(spark, sf_dir)
        adc = similarity.pq_adc_topk(codes, cb, qv, k=5, m=4).select("vec_id")
        return _l2_recall_at_5(e, adc, qv)

    # --------------- sequences (tokens) — reference ops ----------------
    def q_gbdhash_docs(spark, sf_dir):
        seqs = tables.documents_as_sequences(spark, sf_dir)
        return extract.with_gbdhash(seqs).select("doc_id", "gbdhash")

    def q_normalize_docs(spark, sf_dir):
        seqs = tables.documents_as_sequences(spark, sf_dir)
        return extract.normalize(seqs).select("doc_id", "n_vars", "n_clauses")

    def q_base_counts_docs(spark, sf_dir):
        seqs = tables.documents_as_sequences(spark, sf_dir)
        out = extract.with_base_features(seqs)
        return out.select(
            "doc_id",
            F.col("features.clauses").alias("clauses"),
            F.col("features.variables").alias("variables"),
            F.col("features.cls2").alias("cls2"),
            F.col("features.cls4").alias("cls4"),
        )

    def q_base_features_docs(spark, sf_dir):
        # full 58-feature row, rounded to 6 decimals on both sides (the
        # float tolerance contract: numpy pairwise sums vs DuckDB
        # aggregate order differ below that)
        from gbdc_spark.schemas import BASE_FEATURES_NAMES

        seqs = tables.documents_as_sequences(spark, sf_dir)
        out = extract.with_base_features(seqs)
        return out.select(
            "doc_id",
            *[
                F.round(F.col(f"features.{n}"), 6).alias(n)
                for n in BASE_FEATURES_NAMES
            ],
        )

    def q_isohash_docs(spark, sf_dir):  # rows-only (pytest-oracled)
        seqs = tables.documents_as_sequences(spark, sf_dir)
        return extract.with_isohash(seqs).select("doc_id", "isohash")

    def q_sanitize_docs(spark, sf_dir):
        # hashable projection of the sanitized token stream: the driver's
        # canonicalizer sorts columns and cannot hash raw array cells
        # (exact token-array equality stays in pytest)
        seqs = tables.documents_as_sequences(spark, sf_dir)
        out = extract.check_sanitized(extract.sanitize(seqs, out="tokens_sane"))
        return out.select(
            "doc_id",
            F.md5(F.concat_ws(" ", F.col("tokens_sane"))).alias("sane_hash"),
            F.size("tokens_sane").alias("n_sane_tok"),
            F.col("is_sanitized").cast("int").alias("is_sanitized"),
        )

    def q_cnf2kis_docs(spark, sf_dir):  # rows-only (pytest-oracled)
        seqs = tables.documents_as_sequences(spark, sf_dir)
        return extract.with_cnf2kis_counts(seqs).select("doc_id", "kis.*")

    def q_cnf2kis_edges_docs(spark, sf_dir):
        # deterministic 50-doc slice (limit() order is not contractual)
        seqs = tables.documents_as_sequences(spark, sf_dir)
        return extract.cnf2kis_edges(seqs.filter(F.col("doc_id") < "doc00000050"))

    def q_wcnf_hashes_docs(spark, sf_dir):
        # doc-derived WCNF: deterministic per-clause weights so the
        # WCNF::gbdhash notfirst quirk and the isohash weight+1 quirk are
        # value-checked by the driver (GBDHash.h:147-206, ISOHash.h:79-163)
        seqs = tables.documents_as_sequences(spark, sf_dir)
        dnum = F.substring("doc_id", 4, 8).cast("long")
        n_clauses = F.aggregate(
            F.col("tokens"), F.lit(0),
            lambda a, x: a + F.when(x == 0, 1).otherwise(0),
        )
        is_old = (dnum % 2) == 0
        # guard: sequence(0, -1) on a clause-less doc would default to
        # step -1 and yield [0, -1] instead of an empty weights array
        weights = F.when(n_clauses > 0, F.transform(
            F.sequence(F.lit(0), n_clauses - 1),
            lambda i: F.when(
                is_old, (dnum + i) % 8
            ).otherwise(
                F.when((dnum + i) % 3 == 0, F.lit(-1)).otherwise((dnum + i) % 5)
            ).cast("long"),
        )).otherwise(F.array().cast("array<long>"))
        df = seqs.select(
            "doc_id", "tokens",
            weights.alias("weights"),
            F.when(is_old, F.lit(5)).otherwise(F.lit(0)).cast("long").alias("top"),
        )
        return extract.with_wcnf_hashes(df).select("doc_id", "wcnfhash", "wcnfisohash")

    def q_wcnf_features_docs(spark, sf_dir):
        # same doc-derived weights as q_wcnf_hashes_docs, full 73-feature
        # WCNF row (WCNFBaseFeatures.h incl. the weight-0-is-hard Base1
        # quirk and both Base2 pass quirks), rounded to 6 on both sides
        from gbdc_spark.schemas import WCNF_BASE_FEATURES_NAMES

        seqs = tables.documents_as_sequences(spark, sf_dir)
        dnum = F.substring("doc_id", 4, 8).cast("long")
        n_clauses = F.aggregate(
            F.col("tokens"), F.lit(0),
            lambda a, x: a + F.when(x == 0, 1).otherwise(0),
        )
        is_old = (dnum % 2) == 0
        # guard: sequence(0, -1) on a clause-less doc would default to
        # step -1 and yield [0, -1] instead of an empty weights array
        weights = F.when(n_clauses > 0, F.transform(
            F.sequence(F.lit(0), n_clauses - 1),
            lambda i: F.when(
                is_old, (dnum + i) % 8
            ).otherwise(
                F.when((dnum + i) % 3 == 0, F.lit(-1)).otherwise((dnum + i) % 5)
            ).cast("long"),
        )).otherwise(F.array().cast("array<long>"))
        df = seqs.select(
            "doc_id", "tokens",
            weights.alias("weights"),
            F.when(is_old, F.lit(5)).otherwise(F.lit(0)).cast("long").alias("top"),
        )
        out = extract.with_wcnf_base_features(df)
        return out.select(
            "doc_id",
            *[
                F.round(F.col(f"features.{n}"), 6).alias(n)
                for n in WCNF_BASE_FEATURES_NAMES
            ],
        )

    def q_opbhash_docs(spark, sf_dir):
        # doc-derived OPB payload (coeff ±1 per literal, >= 1 bound) built
        # JVM-side, hashed through the raw-text canonicalization scanner
        # (GBDHash.h:83-143) — oracle rebuilds the canonical form in SQL
        seqs = tables.documents_as_sequences(spark, sf_dir)
        payload = F.aggregate(
            F.col("tokens"),
            F.lit("* derived from documents\n"),
            lambda acc, x: F.when(
                x == 0, F.concat(acc, F.lit(">= 1;\n"))
            ).otherwise(
                F.concat(
                    acc,
                    # negative literals via the ~x negation spelling so
                    # the scanner's '~' branch is driver-exercised
                    F.when(x < 0, F.lit("1 ~x")).otherwise(F.lit("1 x")),
                    F.abs(x).cast("string"),
                    F.lit(" "),
                )
            ),
        )
        return extract.with_opb_hash(
            seqs.select("doc_id", payload.alias("payload"))
        ).select("doc_id", "opbhash")

    def q_opb_features_docs(spark, sf_dir):
        # doc-derived OPB instance exercising every classifier branch of
        # the 17-feature kernel (OPBBaseFeatures.h): coefficient pattern
        # (1 + litpos % 3) * sign, per-clause bound (cid % 4) - 1, '='
        # relation every 5th clause, first clause doubles as objective
        seqs = tables.documents_as_sequences(spark, sf_dir)

        def step(acc, x):
            coeff = (
                F.when(x < 0, -(F.lit(1) + F.pmod(acc.pos, F.lit(3))))
                .otherwise(F.lit(1) + F.pmod(acc.pos, F.lit(3)))
            )
            bound = F.pmod(acc.cid, F.lit(4)) - 1
            tail = F.when(
                F.pmod(acc.cid, F.lit(5)) == 0,
                F.concat(F.lit("= "), bound.cast("string"), F.lit(";\n")),
            ).otherwise(
                F.concat(F.lit(">= "), bound.cast("string"), F.lit(";\n"))
            )
            return F.struct(
                F.when(x == 0, F.concat(acc.s, tail))
                .otherwise(
                    F.concat(
                        acc.s, coeff.cast("string"), F.lit(" x"),
                        F.abs(x).cast("string"), F.lit(" "),
                    )
                )
                .alias("s"),
                F.when(x == 0, acc.cid + 1).otherwise(acc.cid).alias("cid"),
                F.when(x == 0, acc.pos).otherwise(acc.pos + 1).alias("pos"),
            )

        body = F.aggregate(
            F.col("tokens"),
            F.struct(
                F.lit("* derived\n").alias("s"),
                F.lit(0).alias("cid"), F.lit(0).alias("pos"),
            ),
            step,
            lambda acc: acc.s,
        )
        first_clause = F.slice(
            F.col("tokens"), 1, F.array_position(F.col("tokens"), 0) - 1
        )
        obj = F.concat(
            F.lit("min: "),
            F.concat_ws(
                " ",
                F.transform(
                    first_clause,
                    lambda x, i: F.concat(
                        F.when(
                            x < 0, -(F.lit(1) + F.pmod(i, F.lit(3)))
                        ).otherwise(F.lit(1) + F.pmod(i, F.lit(3))).cast("string"),
                        F.lit(" x"), F.abs(x).cast("string"),
                    ),
                ),
            ),
            F.lit(" ;\n"),
        )
        payload = F.concat(obj, body)
        out = extract.with_opb_base_features(
            seqs.select("doc_id", payload.alias("payload"))
        )
        from gbdc_spark.schemas import OPB_BASE_FEATURES_NAMES

        return out.select(
            "doc_id",
            *[
                F.round(F.col(f"features.{n}"), 6).alias(n)
                for n in OPB_BASE_FEATURES_NAMES
            ],
        )

    def q_pqbfhash_docs(spark, sf_dir):
        # doc-derived QDIMACS payload: header + one 'e' quantifier line
        # over all variables + the clause stream; hashed through the
        # scanner (GBDHash.h:54-79)
        seqs = tables.documents_as_sequences(spark, sf_dir)
        n_vars = F.array_max(F.transform(F.col("tokens"), F.abs))
        n_clauses = F.aggregate(
            F.col("tokens"), F.lit(0),
            lambda a, x: a + F.when(x == 0, 1).otherwise(0),
        )
        quant = F.when(
            F.substring("doc_id", 4, 8).cast("long") % 2 == 0, F.lit("\ne ")
        ).otherwise(F.lit("\na "))
        payload = F.concat(
            F.lit("c derived\np cnf "), n_vars.cast("string"),
            F.lit(" "), n_clauses.cast("string"), quant,
            F.concat_ws(" ", F.transform(F.sequence(F.lit(1), n_vars),
                                         lambda v: v.cast("string"))),
            F.lit(" 0\n"),
            F.concat_ws(" ", F.transform(F.col("tokens"),
                                         lambda x: x.cast("string"))),
        )
        return extract.with_pqbf_hash(
            seqs.select("doc_id", payload.alias("payload"))
        ).select("doc_id", "pqbfhash")

    def q_wcnf_features_synth(spark, sf_dir):  # rows-only (pytest-oracled)
        from gbdc_spark.sources.synth import WCNF_SCHEMA, gen_wcnf_pdf

        df = spark.createDataFrame(gen_wcnf_pdf(200), schema=WCNF_SCHEMA)
        out = extract.with_wcnf_hashes(extract.with_wcnf_base_features(df))
        return out.select("doc_id", "wcnfhash", "wcnfisohash", "features.*")

    def q_opb_features_synth(spark, sf_dir):  # rows-only (pytest-oracled)
        from gbdc_spark.sources.synth import gen_opb_pdf

        df = spark.createDataFrame(gen_opb_pdf(200))
        out = extract.with_opb_hash(extract.with_opb_base_features(df))
        return out.select("doc_id", "opbhash", "features.*")

    def q_pqbfhash_synth(spark, sf_dir):  # rows-only (pytest-oracled)
        from gbdc_spark.sources.synth import gen_pqbf_pdf

        df = spark.createDataFrame(gen_pqbf_pdf(200))
        return extract.with_pqbf_hash(df).select("doc_id", "pqbfhash")

    def q_gate_features_docs(spark, sf_dir):  # rows-only (pytest-oracled)
        seqs = tables.documents_as_sequences(spark, sf_dir)
        return extract.with_gate_features(seqs).select("doc_id", "gate_features.*")

    # ------------------- multimodal (fake-codec stages) ----------------
    # payloads are packed from the documents' text bytes (docs_as_media),
    # so the full pack -> binary wire format -> decode -> feature path is
    # DuckDB-oracle-checkable; synth_media_df (RNG payloads) stays the
    # pytest fixture
    def q_media_image_features(spark, sf_dir):
        from gbdc_spark.operators import multimodal as mm

        out = mm.image_features(mm.docs_as_media(spark, sf_dir))
        return out.select(
            "media_id", "width", "height",
            F.round("mean_pixel", 6).alias("mean_pixel"),
            F.round("std_pixel", 6).alias("std_pixel"),
        )

    def q_media_audio_features(spark, sf_dir):
        from gbdc_spark.operators import multimodal as mm

        out = mm.audio_features(mm.docs_as_media(spark, sf_dir))
        return out.select(
            "media_id", "sample_rate",
            F.round("duration_s", 6).alias("duration_s"),
            F.round("rms", 6).alias("rms"),
            "zero_crossings",
        )

    def q_media_frame_sample(spark, sf_dir):
        from gbdc_spark.operators import multimodal as mm

        out = mm.video_frame_sample(mm.docs_as_media(spark, sf_dir), every_n=4)
        return out.select(
            "media_id", "frame_idx", F.round("frame_mean", 6).alias("frame_mean")
        )

    def q_flagship_docs(spark, sf_dir):
        # the FULL flagship composition — fused extraction -> strictly-
        # prior as-of join -> skew-proof window bundle -> per-source
        # aggregate — with snapshots derived from doc ids by a
        # SQL-expressible rule (tables.derived_snapshots_df), assembled
        # stage by stage here; q_flagship_pipeline runs the packaged
        # run_flagship wiring of the same composition.  Both share one
        # DuckDB oracle, value-checking the E2E pipeline end to end.
        seqs = tables.documents_as_sequences(spark, sf_dir)
        snaps = tables.derived_snapshots_df(seqs)
        feats = extract.extract_all(seqs)
        joined = temporal.asof_join(
            feats, snaps, by="doc_id", left_ts="ingest_ts",
            right_ts="snapshot_ts", allow_exact_matches=False,
        )
        bundle = temporal.with_temporal_bundle_scalable(
            joined, ts="ingest_ts", partition_by="source",
            ffill_cols=["prev_score"], lag_cols=["clauses"],
            gap_seconds=120.0, session_out="session_seq",
            order_tiebreak=["doc_id"], chunk_seconds=3600.0,
        )
        from gbdc_spark.plans.flagship import flagship_aggregate

        out = flagship_aggregate(bundle)
        return out.select(
            "source", "n_docs", "n_distinct", "n_matched",
            F.round("avg_clauses", 6).alias("avg_clauses"),
            F.round("avg_horn", 6).alias("avg_horn"),
            "n_sessions", "n_errors",
        )

    def q_data_card(spark, sf_dir):
        # per-source corpus data card: one dup hash pass + one rollup
        from gbdc_spark.plans.report import data_card

        return data_card(_docs(spark, sf_dir))

    def q_curation_pipeline(spark, sf_dir):  # DuckDB-oracled E2E funnel
        from gbdc_spark.plans.curation import run_curation

        return run_curation(spark, sf_dir)

    def q_flagship_pipeline(spark, sf_dir):
        # run_flagship now uses the derived (SQL-expressible) snapshots,
        # so the packaged E2E pipeline itself is DuckDB-oracled — only
        # float avgs need rounding for the hash compare
        from gbdc_spark.plans.flagship import run_flagship

        return run_flagship(spark, sf_dir).select(
            "source", "n_docs", "n_distinct", "n_matched",
            F.round("avg_clauses", 6).alias("avg_clauses"),
            F.round("avg_horn", 6).alias("avg_horn"),
            "n_sessions", "n_errors",
        )

    return {
        "asof_join": q_asof_join,
        "asof_forward": q_asof_forward,
        "asof_nearest": q_asof_nearest,
        "asof_tolerance": q_asof_tolerance,
        "lag_lead": q_lag_lead,
        "ffill": q_ffill,
        "sessionize": q_sessionize,
        "sessionize_scalable": q_sessionize_scalable,
        "ffill_scalable": q_ffill_scalable,
        "lag_lead_scalable": q_lag_lead_scalable,
        "session_agg": q_session_agg,
        "stream_session_agg": q_stream_session_agg,
        "stream_session_append": q_stream_session_append,
        "pack_next_fit": q_pack_next_fit,
        "pack_next_fit_scalable": q_pack_next_fit_scalable,
        "pack_next_fit_auto": q_pack_next_fit_auto,
        "length_batches": q_length_batches,
        "padding_stats": q_padding_stats,
        "budget_select": q_budget_select,
        "interleave_sources": q_interleave_sources,
        "balanced_shards": q_balanced_shards,
        "cell_prototypes": q_cell_prototypes,
        "loader_prep": q_loader_prep,
        "padding_sweep": q_padding_sweep,
        "hard_negatives": q_hard_negatives,
        "interleave_temperature": q_interleave_temperature,
        "pack_concat_chunks": q_pack_concat_chunks,
        "stratified_sample": q_stratified_sample,
        "weighted_sample": q_weighted_sample,
        "epoch_order": q_epoch_order,
        "training_build": q_training_build,
        "label_balance": q_label_balance,
        "label_balance_bucketed": q_label_balance_bucketed,
        "dataset_split": q_dataset_split,
        "epoch_shards": q_epoch_shards,
        "quality_signals": q_quality_signals,
        "repetition_signals": q_repetition_signals,
        "token_repetition_signals": q_token_repetition_signals,
        "gopher_filter": q_gopher_filter,
        "gopher_quality_filter": q_gopher_quality_filter,
        "c4_filter": q_c4_filter,
        "charset_filter": q_charset_filter,
        "ngram_contamination": q_ngram_contamination,
        "token_ngram_contamination": q_token_ngram_contamination,
        "split_contamination": q_split_contamination,
        "lm_perplexity": q_lm_perplexity,
        "token_lm_perplexity": q_token_lm_perplexity,
        "kn_perplexity": q_kn_perplexity,
        "line_dedup": q_line_dedup,
        "pii_scrub": q_pii_scrub,
        "dsir_weights": q_dsir_weights,
        "mask_tokens": q_mask_tokens,
        "sft_mask": q_sft_mask,
        "fim_transform": q_fim_transform,
        "span_corrupt": q_span_corrupt,
        "temperature_mix": q_temperature_mix,
        "unimax_mix": q_unimax_mix,
        "ngram_containment": q_ngram_containment,
        "score_norm_minmax": q_score_norm_minmax,
        "score_norm_zscore": q_score_norm_zscore,
        "minhash_lsh_eval": q_minhash_lsh_eval,
        "weighted_minhash_pairs": q_weighted_minhash_pairs,
        "weighted_jaccard": q_weighted_jaccard,
        "cluster_agreement": q_cluster_agreement,
        "weighted_dedup": q_weighted_dedup,
        "platt_scale": q_platt_scale,
        "platt_metrics": q_platt_metrics,
        "isotonic_calibrate": q_isotonic_calibrate,
        "conformal_gate": q_conformal_gate,
        "perplexity_conformal": q_perplexity_conformal,
        "group_auc": q_group_auc,
        "time_resample": q_time_resample,
        "psi_drift": q_psi_drift,
        "ks_drift": q_ks_drift,
        "stream_psi": q_stream_psi,
        "unimax_expand": q_unimax_expand,
        "rank_fuse": q_rank_fuse,
        "source_temperature": q_source_temperature,
        "chunk_sequences": q_chunk_sequences,
        "stream_asof": q_stream_asof,
        "stream_dedup": q_stream_dedup,
        "stream_near_dedup": q_stream_near_dedup,
        "ewma": q_ewma,
        "stream_ewma": q_stream_ewma,
        "stream_extract": q_stream_extract,
        "trailing_agg": q_trailing_agg,
        "json_props_agg": q_json_props_agg,
        "topk_per_group": q_topk_per_group,
        "q1_pricing": q1_pricing,
        "q3_segment_revenue": q3_segment_revenue,
        "region_revenue": q_region_revenue,
        "rollup_orders": q_rollup_orders,
        "q4_order_priority": q4_order_priority,
        "q13_custdist": q13_custdist,
        "value_deciles": q_value_deciles,
        "anti_join": q_anti_join,
        "semi_join": q_semi_join,
        "dedup_exact": q_dedup_exact,
        "text_stats": q_text_stats,
        "lang_guess": q_lang_guess,
        "token_counts": q_token_counts,
        "fingerprint": q_fingerprint,
        "winnow_fingerprint": q_winnow_fingerprint,
        "winnow_pairs": q_winnow_pairs,
        "bigram_topk": q_bigram_topk,
        "bm25_topk": q_bm25_topk,
        "ccnet_buckets": q_ccnet_buckets,
        "percentile_gate": q_percentile_gate,
        "tfidf_topk": q_tfidf_topk,
        "vocab_oov": q_vocab_oov,
        "pmi_topk": q_pmi_topk,
        "lexical_diversity": q_lexical_diversity,
        "ngram_novelty": q_ngram_novelty,
        "heaps_fit": q_heaps_fit,
        "logreg_langid": q_logreg_langid,
        "bpe_merges": q_bpe_merges,
        "bpe_encode_docs": q_bpe_encode_docs,
        "hll_distinct": q_hll_distinct,
        "sketch_quantiles": q_sketch_quantiles,
        "bpe_fertility": q_bpe_fertility,
        "pagerank_dups": q_pagerank_dups,
        "triangle_stats": q_triangle_stats,
        "textrank_words": q_textrank_words,
        "stream_hll": q_stream_hll,
        "stream_quantiles": q_stream_quantiles,
        "jaccard_join": q_jaccard_join,
        "incremental_read": q_incremental_read,
        "tokenize_pack": q_tokenize_pack,
        "stream_cms": q_stream_cms,
        "domain_weights": q_domain_weights,
        "funnel": q_funnel,
        "cohort_retention": q_cohort_retention,
        "markov_transitions": q_markov_transitions,
        "hits_words": q_hits_words,
        "markov_stationary": q_markov_stationary,
        "logreg_auc": q_logreg_auc,
        "logreg_ap": q_logreg_ap,
        "cms_words": q_cms_words,
        "bloom_dedup_against": q_bloom_dedup_against,
        "logreg_calibration": q_logreg_calibration,
        "word_burstiness": q_word_burstiness,
        "zipf_fit": q_zipf_fit,
        "span_dedup": q_span_dedup,
        "source_divergence": q_source_divergence,
        "source_len_quantiles": q_source_len_quantiles,
        "minhash_sig": q_minhash_sig,
        "minhash_pairs": q_minhash_pairs,
        "token_minhash_sig": q_token_minhash_sig,
        "token_minhash_pairs": q_token_minhash_pairs,
        "substring_dedup": q_substring_dedup,
        "dedup_clusters": q_dedup_clusters,
        "cluster_split": q_cluster_split,
        "dedup_keep_best": q_dedup_keep_best,
        "dedup_against": q_dedup_against,
        "dedup_clusters_star": q_dedup_clusters_star,
        "ngram_jaccard": q_ngram_jaccard,
        "simhash": q_simhash,
        "simhash_near_dups": q_simhash_near_dups,
        "cosine_topk": q_cosine_topk,
        "embedding_covariance": q_embedding_covariance,
        "embedding_pca": q_embedding_pca,
        "source_ngram_overlap": q_source_ngram_overlap,
        "embedding_decontam": q_embedding_decontam,
        "ivf_assign": q_ivf_assign,
        "semantic_dedup": q_semantic_dedup,
        "embedding_near_dups": q_embedding_near_dups,
        "embedding_near_dups_auto": q_embedding_near_dups_auto,
        "embedding_near_dups_ivf": q_embedding_near_dups_ivf,
        "ivf_topk": q_ivf_topk,
        "ivf_recall": q_ivf_recall,
        "ivf_trained_topk": q_ivf_trained_topk,
        "pq_codes": q_pq_codes,
        "pq_adc_topk": q_pq_adc_topk,
        "pq_recall": q_pq_recall,
        "sq8_topk": q_sq8_topk,
        "sq8_recall": q_sq8_recall,
        "mmr_topk": q_mmr_topk,
        "pq_trained_recall": q_pq_trained_recall,
        "ivfpq_topk": q_ivfpq_topk,
        "ivfpq_recall": q_ivfpq_recall,
        "gbdhash_docs": q_gbdhash_docs,
        "normalize_docs": q_normalize_docs,
        "base_counts_docs": q_base_counts_docs,
        "base_features_docs": q_base_features_docs,
        "isohash_docs": q_isohash_docs,
        "sanitize_docs": q_sanitize_docs,
        "cnf2kis_docs": q_cnf2kis_docs,
        "cnf2kis_edges_docs": q_cnf2kis_edges_docs,
        "wcnf_hashes_docs": q_wcnf_hashes_docs,
        "wcnf_features_docs": q_wcnf_features_docs,
        "opbhash_docs": q_opbhash_docs,
        "opb_features_docs": q_opb_features_docs,
        "pqbfhash_docs": q_pqbfhash_docs,
        "wcnf_features_synth": q_wcnf_features_synth,
        "opb_features_synth": q_opb_features_synth,
        "pqbfhash_synth": q_pqbfhash_synth,
        "gate_features_docs": q_gate_features_docs,
        "media_image_features": q_media_image_features,
        "media_audio_features": q_media_audio_features,
        "media_frame_sample": q_media_frame_sample,
        "flagship_docs": q_flagship_docs,
        "curation_pipeline": q_curation_pipeline,
        "data_card": q_data_card,
        "flagship_pipeline": q_flagship_pipeline,
    }


# ---------------------------------------------------------------- oracles
_EMB_PROBE_CACHE: dict = {}

# decimal-mantissa quantile sketch (sketches.ddq_*): shared by the batch
# query and the streaming one — the streamed register table is
# count-sum merged, hence replay-invariant, so both reduce to this SQL
_DUCK_DDQ_SQL = """
    WITH b AS (
        SELECT source,
               CASE WHEN n_chars > 0
                    THEN length(CAST(n_chars AS VARCHAR))
                    ELSE 0 END AS d,
               CASE WHEN n_chars > 0
                    THEN CAST(substr(CAST(n_chars AS VARCHAR) || '0',
                                     1, 2) AS INT)
                    ELSE 0 END AS m
        FROM documents),
    reg AS (SELECT source, d, m, count(*) AS cnt
            FROM b GROUP BY 1, 2, 3),
    c AS (SELECT source, d, m, cnt,
                 sum(cnt) OVER (PARTITION BY source
                                ORDER BY d, m) AS cum,
                 sum(cnt) OVER (PARTITION BY source) AS n
          FROM reg),
    qq AS (SELECT unnest([0.5, 0.9, 0.99]) AS q)
    SELECT c.source, qq.q, CAST(c.n AS BIGINT) AS n,
           round(CASE WHEN c.d = 0 THEN 0.0
                 ELSE (c.m * pow(10, c.d - 2)
                       + (c.m + 1) * pow(10, c.d - 2)) / 2
                 END, 6) AS est
    FROM c, qq
    WHERE c.cum >= greatest(ceil(qq.q * c.n), 1)
      AND c.cum - c.cnt < greatest(ceil(qq.q * c.n), 1)
"""


def _probe_emb_shape(caller: str) -> tuple:
    """(n_rows, dim) of the embeddings table the oracle will run
    against: probe GBDC_ORACLE_SF_DIR (default: the driver-gate sf0.01
    dir, with a one-time informational warning), memoized per sf_dir.
    Shared by every oracle whose SQL must bake shape-derived constants
    (sign-LSH bits/planes, the PCA basis, the covariance index range)."""
    sf_dir = os.environ.get("GBDC_ORACLE_SF_DIR")
    if sf_dir is None:
        import warnings

        sf_dir = "/root/testdata/sf0.01"
        if sf_dir not in _EMB_PROBE_CACHE:
            # informational, not alarming: unset IS the normal
            # driver-gate configuration (the gate runs at sf0.01); the
            # variable only matters for a different target corpus
            warnings.warn(
                f"{caller} oracle: GBDC_ORACLE_SF_DIR unset, "
                f"probing the driver-gate default {sf_dir} — set it if "
                "the oracle will run against a different corpus (the "
                "baked-in constants follow the probed table)",
                RuntimeWarning,
                stacklevel=3,
            )
    if sf_dir not in _EMB_PROBE_CACHE:
        try:
            import duckdb

            n, d = duckdb.sql(
                "SELECT count(*), max(len(embedding)) "
                f"FROM '{sf_dir}/embeddings.parquet'"
            ).fetchone()
        except Exception:
            import warnings

            warnings.warn(
                f"{caller} oracle: could not probe {sf_dir}; "
                "assuming the driver's sf0.01 shape (500, 64) — the oracle "
                "will MISMATCH any other corpus size",
                RuntimeWarning,
                stacklevel=3,
            )
            n, d = 500, 64
        _EMB_PROBE_CACHE[sf_dir] = (int(n), int(d))
    return _EMB_PROBE_CACHE[sf_dir] + (sf_dir,)


def _duck_embedding_near_dups_sql(threshold: float = 0.5,
                                  tables: int | None = 2) -> str:
    """Oracle for the auto-scaled sign-LSH near-dup query: regenerates
    the SAME seeded hyperplanes and bit width the Spark side derives for
    the correctness-gate table (driver runs oracles at sf0.01), so the
    candidate buckets — not just the verified pairs — are reproduced in
    SQL.  ``tables=None`` mirrors the fully-auto Spark path: the table
    count is derived from (bits, threshold) with the same formula."""
    from gbdc_spark.operators.dedup import (
        auto_sign_bits,
        auto_sign_tables,
        sign_hyperplanes,
    )

    # the SQL string must bake in the same (n, d)-derived bits/planes
    # the Spark side derives from its input — probe the SAME sf_dir the
    # oracle will run against (override via GBDC_ORACLE_SF_DIR for
    # non-default scale factors; the driver gate runs at sf0.01).
    # Probe memoized per sf_dir: oracle_sql() builds several
    # shape-derived oracles, which would otherwise duplicate the I/O
    # and the warning.
    n, d, _ = _probe_emb_shape("embedding_near_dups")
    bits = auto_sign_bits(int(n))
    if tables is None:
        tables = auto_sign_tables(bits, threshold)
    planes = sign_hyperplanes(tables, bits, int(d))

    def bucket(t: int) -> str:
        cases = ", ".join(
            "CASE WHEN list_dot_product(v, ["
            + ", ".join(repr(float(c)) for c in planes[t, i])
            + "]) > 0 THEN '1' ELSE '0' END"
            for i in range(bits)
        )
        return f"concat({cases}) AS b{t}"

    per_table = "\n                UNION ALL\n".join(
        f"""                SELECT l.vec_id AS a, r.vec_id AS b
                FROM b l JOIN b r ON l.b{t} = r.b{t} AND l.vec_id < r.vec_id"""
        for t in range(tables)
    )
    return f"""
        WITH b AS (
            SELECT vec_id, v, {", ".join(bucket(t) for t in range(tables))}
            FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)),
        pairs AS (
            SELECT DISTINCT a, b FROM (
{per_table}))
        SELECT a, b, cosine FROM (
            SELECT p.a, p.b,
                   round(list_dot_product(x.v, y.v)
                         / (sqrt(list_dot_product(x.v, x.v))
                            * sqrt(list_dot_product(y.v, y.v))), 6) AS cosine
            FROM pairs p JOIN b x ON x.vec_id = p.a JOIN b y ON y.vec_id = p.b)
        WHERE cosine >= {threshold}
    """


def _duck_embedding_covariance_sql() -> str:
    """Oracle for the one-pass augmented-Gram covariance: DuckDB lacks
    WITH ORDINALITY, so the per-dimension lateral is a constant
    range(0, d) with 1-based list indexing — d baked from the probed
    table shape (the Spark side probes its own first row)."""
    _, d, _ = _probe_emb_shape("embedding_covariance")
    return f"""
        WITH g AS (
            SELECT i::INT AS i, j::INT AS j,
                   sum(e.embedding[i + 1]::DOUBLE
                       * e.embedding[j + 1]::DOUBLE) AS s
            FROM embeddings e, range(0, {d}) r1(i), range(0, {d}) r2(j)
            WHERE i <= j GROUP BY 1, 2),
        n AS (SELECT count(*)::DOUBLE AS n FROM embeddings),
        m AS (SELECT i::INT AS i, sum(e.embedding[i + 1]::DOUBLE) AS s
              FROM embeddings e, range(0, {d}) r(i) GROUP BY 1)
        SELECT g.i, g.j,
               round(g.s / n.n - (ma.s / n.n) * (mb.s / n.n), 6) AS cov
        FROM g, n, m ma, m mb WHERE ma.i = g.i AND mb.i = g.j
    """


def _duck_embedding_pca_sql(k: int = 4, decimals: int = 4) -> str:
    """Oracle for the PCA projection: recompute the fit INDEPENDENTLY
    (duckdb scan -> numpy population covariance -> eigh, the identical
    math to similarity.pca_fit including the _fix_sign convention) and
    bake mean/basis as SQL literals, so the distributed projection pass
    is value-checked against an external implementation of the whole
    fit.  pc_k = (v - mu) . w_k is expanded to v . w_k - (mu . w_k):
    the constant term folds into one literal per component."""
    import numpy as np

    from gbdc_spark.operators.similarity import _fix_sign

    n, d, sf_dir = _probe_emb_shape("embedding_pca")
    try:
        import duckdb

        X = np.array(
            [
                np.asarray(r[0], dtype=np.float64)
                for r in duckdb.sql(
                    "SELECT embedding FROM "
                    f"'{sf_dir}/embeddings.parquet' ORDER BY vec_id"
                ).fetchall()
            ]
        )
    except Exception:
        import warnings

        warnings.warn(
            f"embedding_pca oracle: could not read {sf_dir} — emitting "
            "an oracle with a zero basis that WILL mismatch",
            RuntimeWarning,
            stacklevel=2,
        )
        X = np.zeros((2, d))
    mu = X.mean(axis=0)
    cov = X.T @ X / len(X) - np.outer(mu, mu)
    w, V = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:k]
    V = _fix_sign(V[:, order])
    comps = ",\n               ".join(
        f"round(list_dot_product(v, ["
        + ", ".join(repr(float(x)) for x in V[:, c])
        + f"]) - {float(mu @ V[:, c])!r}, {decimals}) AS pc{c + 1}"
        for c in range(V.shape[1])
    )
    return f"""
        SELECT vec_id,
               {comps}
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings)
    """


def _duck_cos(a: str, b: str) -> str:
    """Rounded cosine — mirrors similarity.cosine_similarity (round 6)."""
    return (
        f"round(list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )


def _duck_ivfpq() -> str:
    """IVF-PQ CTE chain shared by the ivfpq_* oracles: cosine cell
    assignment, residuals, m=4×16 residual codebook from vec_id < 8,
    residual codes, 2-probe per-cell ADC tables for the vec_id=0 query
    — mirrors similarity.with_residuals/ivfpq_topk."""
    cos_ec = _duck_cos("CAST(e.embedding AS DOUBLE[])", "c.centroid")
    cos_cq = _duck_cos("c.centroid", "qv.q")
    return f"""
    c AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS centroid
          FROM embeddings WHERE vec_id < 8),
    fassign AS (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {cos_ec} DESC, c.cell) AS rn
            FROM embeddings e, c) WHERE rn = 1),
    res AS (
        SELECT e.vec_id, a.cell,
               list_transform(range(1, 65),
                   i -> CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]) AS r
        FROM embeddings e JOIN fassign a USING (vec_id)
        JOIN c ON c.cell = a.cell),
    rcb AS (
        SELECT j, CAST(vec_id AS INT) AS code,
               list_transform(range(1, 17), i -> r[j*16 + i]) AS sc
        FROM (SELECT vec_id, r, unnest(range(0, 4)) AS j
              FROM res WHERE vec_id < 8)),
    rsv AS (
        SELECT vec_id, cell, j,
               list_transform(range(1, 17), i -> r[j*16 + i]) AS sub
        FROM (SELECT vec_id, cell, r, unnest(range(0, 4)) AS j FROM res)),
    rdist AS (
        SELECT rsv.vec_id, rsv.cell, rsv.j, rcb.code,
               round(list_sum(list_transform(range(1, 17),
                     i -> (sub[i] - sc[i]) * (sub[i] - sc[i]))), 6) AS dist
        FROM rsv JOIN rcb ON rsv.j = rcb.j),
    rcodes AS (
        SELECT vec_id, cell, j, code FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, j
                                         ORDER BY dist, code) AS rn
            FROM rdist) WHERE rn = 1),
    qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q
           FROM embeddings WHERE vec_id = 0),
    probe AS (SELECT cell, centroid FROM c, qv
              ORDER BY {cos_cq} DESC, cell LIMIT 2),
    dtab AS (
        SELECT probe.cell, rcb.j, rcb.code,
               round(list_sum(list_transform(range(1, 17), i ->
                     (q[rcb.j*16 + i] - probe.centroid[rcb.j*16 + i] - sc[i])
                   * (q[rcb.j*16 + i] - probe.centroid[rcb.j*16 + i] - sc[i]))),
                     6) AS dj
        FROM probe, rcb, qv),
    adcq AS (
        SELECT rc.vec_id, round(sum(dj), 6) AS adist
        FROM rcodes rc JOIN dtab
          ON rc.cell = dtab.cell AND rc.j = dtab.j AND rc.code = dtab.code
        GROUP BY rc.vec_id)
"""


# product-quantization CTE chain shared by the pq_* oracles: m=4
# subspaces of 16 dims, codebook = subvectors of vec_id < 8, argmin by
# (round(L2², 6), code) — mirrors pq_codebook_from_rows/pq_encode
_DUCK_PQ_CODES = """
    cb AS (
        SELECT j, CAST(vec_id AS INT) AS code,
               list_transform(embedding[j*16+1 : j*16+16],
                              x -> CAST(x AS DOUBLE)) AS sc
        FROM (SELECT vec_id, embedding, unnest(range(0, 4)) AS j
              FROM embeddings WHERE vec_id < 8)),
    sv AS (
        SELECT vec_id, j,
               list_transform(embedding[j*16+1 : j*16+16],
                              x -> CAST(x AS DOUBLE)) AS sub
        FROM (SELECT vec_id, embedding, unnest(range(0, 4)) AS j
              FROM embeddings)),
    pqdist AS (
        SELECT sv.vec_id, sv.j, cb.code,
               round(list_sum(list_transform(range(1, 17),
                     i -> (sub[i] - sc[i]) * (sub[i] - sc[i]))), 6) AS dist
        FROM sv JOIN cb ON sv.j = cb.j),
    pqcodes AS (
        SELECT vec_id, j, code FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, j
                                         ORDER BY dist, code) AS rn
            FROM pqdist)
        WHERE rn = 1),
    dt AS (
        SELECT cb.j, cb.code,
               round(list_sum(list_transform(range(1, 17),
                     i -> (qs.sub[i] - sc[i]) * (qs.sub[i] - sc[i]))), 6) AS dj
        FROM cb JOIN (SELECT j, sub FROM sv WHERE vec_id = 0) qs
          ON qs.j = cb.j),
    adc AS (
        SELECT c.vec_id, round(sum(dj), 6) AS adist
        FROM pqcodes c JOIN dt ON c.j = dt.j AND c.code = dt.code
        GROUP BY c.vec_id)
"""


def _duck_ivf_round(cin: str, aout: str, mout: str, cout: str) -> str:
    """One Lloyd round (mirror of similarity.kmeans_fit's loop body):
    max-cosine assignment under ``cin``, per-(cell, dim) mean, L2
    re-normalization into ``cout``."""
    cos = _duck_cos("CAST(e.embedding AS DOUBLE[])", "c.centroid")
    return f"""
    {aout} AS (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {cos} DESC, c.cell) AS rn
            FROM embeddings e, {cin} c) WHERE rn = 1),
    {mout} AS (
        SELECT a.cell, d.dim, sum(d.val) / count(*) AS mean
        FROM {aout} a JOIN (
            SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS val,
                   generate_subscripts(embedding, 1) AS dim
            FROM embeddings) d USING (vec_id)
        GROUP BY a.cell, d.dim),
    {cout} AS (
        SELECT cell,
               list_transform(cm, x -> x / sqrt(list_sum(list_transform(cm, y -> y * y)))) AS centroid
        FROM (SELECT cell, list(mean ORDER BY dim) AS cm FROM {mout} GROUP BY cell))
    """


def _duck_ivf_topk_tail(cents: str, n_probe: int = 2, k: int = 5) -> str:
    """Probe-cells + in-cell brute force under centroid CTE ``cents``."""
    ccos = _duck_cos("c.centroid", "q.qv")
    ecos = _duck_cos("CAST(e.embedding AS DOUBLE[])", "q.qv")
    return f"""
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    probe AS (
        SELECT cell FROM {cents} c, q
        ORDER BY {ccos} DESC, cell LIMIT {n_probe}),
    fassign AS (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_duck_cos("CAST(e.embedding AS DOUBLE[])", "c.centroid")} DESC,
                                c.cell) AS rn
            FROM embeddings e, {cents} c) WHERE rn = 1)
    SELECT e.vec_id, {ecos} AS cosine
    FROM embeddings e JOIN fassign a USING (vec_id), q
    WHERE a.cell IN (SELECT cell FROM probe)
    ORDER BY cosine DESC, e.vec_id LIMIT {k}
    """


_BF_FAMS = [
    "hornvars", "invhornvars", "balancecls", "balancevars",
    "vcg_vdegree", "vcg_cdegree", "vg_degree", "cg_degree",
]
_BF_STATS = ["mean", "variance", "min", "max", "entropy"]


_DUCK_MINHASH_CAND = """
    sh AS (
        SELECT doc_id,
               list_transform(
                   range(1, greatest(len(words) - 2, 1) + 1),
                   i -> array_to_string(list_slice(words, i, i + 2), ' ')) AS shingles
        FROM (SELECT doc_id, str_split(text, ' ') AS words FROM documents)),
    sig AS (
        SELECT doc_id,
               list_transform(range(0, 8), j ->
                   list_min(list_transform(shingles,
                       s -> md5(concat(CAST(j AS VARCHAR), ':', s))))) AS mh
        FROM sh),
    banded AS (
        SELECT doc_id, b.band,
               concat(mh[b.band * 2 + 1], '|', mh[b.band * 2 + 2]) AS bkey
        FROM sig, (SELECT unnest(range(0, 4)) AS band) b),
    cand AS (
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id)
    """


def _duck_base_features_sql() -> str:
    """All 58 CNF base features in DuckDB SQL (mirror of
    kernels/cnf.cnf_base_features + kernels/dist.push_distribution):
    raw clause view (no sanitize), per-variable vectors over slots
    0..n_vars including gaps, max-var exclusion in balancevars, the
    32-bit bytes wraparound, union-find ccs via a recursive closure,
    and scaled entropy keyed on trunc(value).  Values rounded to 6."""
    dist_cols = ",\n".join(
        f"""            coalesce(max(CASE WHEN fam = '{f}' THEN {s} END), 0) AS {f}_{s}"""
        for f in _BF_FAMS
        for s in ("mean", "variance", "mn", "mx", "entropy")
    )
    # rename mn/mx on the way out
    out_cols = ",\n".join(
        f"""                   round(d.{f}_{s if s not in ('min', 'max') else {'min': 'mn', 'max': 'mx'}[s]}, 6) AS {f}_{s}"""
        for f in _BF_FAMS
        for s in _BF_STATS
    )
    cls_cols = ",\n".join(
        f"""                   CAST(coalesce(h.cls{i}, 0) AS DOUBLE) AS cls{i}"""
        for i in list(range(1, 10))
    )
    cls_hist = ",\n".join(
        f"""                sum(CASE WHEN least(s, 10) = {i} THEN 1 ELSE 0 END) AS cls{i}"""
        for i in range(1, 10)
    )
    return f"""
    WITH RECURSIVE
    {_duck_clause_cte().strip().rstrip()},
    L AS (SELECT doc_id, cid, pos, tok, abs(tok) AS v,
                 CASE WHEN tok < 0 THEN 1 ELSE 0 END AS neg
          FROM cl WHERE tok != 0),
    meta AS (
        SELECT t.doc_id, coalesce(mx.n_vars, 0) AS n_vars,
               coalesce(z.n_clauses, 0) AS n_clauses
        FROM t
        LEFT JOIN (SELECT doc_id, max(v) AS n_vars FROM L GROUP BY doc_id) mx USING (doc_id)
        LEFT JOIN (SELECT doc_id, count(*) AS n_clauses FROM cl WHERE tok = 0
                   GROUP BY doc_id) z USING (doc_id)),
    csz AS (
        SELECT doc_id, cid, count(*) AS s, sum(neg) AS n_neg,
               count(*) - sum(neg) AS n_pos
        FROM L GROUP BY doc_id, cid),
    lb AS (
        SELECT doc_id,
               sum(neg) + sum(ceil(log10(CAST(v AS DOUBLE)))) + count(*) AS lit_bytes
        FROM L GROUP BY doc_id),
    hist AS (
        SELECT doc_id,
{cls_hist},
                sum(CASE WHEN s >= 10 THEN 1 ELSE 0 END) AS cls10p,
                sum(CASE WHEN n_neg <= 1 THEN 1 ELSE 0 END) AS horn,
                sum(CASE WHEN n_pos <= 1 THEN 1 ELSE 0 END) AS invhorn,
                sum(CASE WHEN n_neg = 0 THEN 1 ELSE 0 END) AS positive,
                sum(CASE WHEN n_pos = 0 THEN 1 ELSE 0 END) AS negative
        FROM csz GROUP BY doc_id),
    -- connected components among used variables (clause co-occurrence
    -- closure); gap variables 1..n_vars re-enter as singletons below
    vcp AS (SELECT DISTINCT doc_id, cid, v FROM L),
    -- MATERIALIZED: the reach recursion joins nbr per closure round;
    -- unmaterialized, DuckDB re-derives it (back to tokenization) each
    -- round
    nbr AS MATERIALIZED (SELECT DISTINCT a.doc_id, a.v, b.v AS w
            FROM vcp a JOIN vcp b USING (doc_id, cid)),
    reach AS (
        SELECT doc_id, v, w FROM nbr
        UNION
        SELECT r.doc_id, r.v, n.w
        FROM reach r JOIN nbr n ON r.doc_id = n.doc_id AND r.w = n.v),
    comp AS (SELECT doc_id, v, min(w) AS lbl FROM reach GROUP BY doc_id, v),
    ccsq AS (
        SELECT c.doc_id,
               count(DISTINCT c.lbl) + any_value(m.n_vars) - count(DISTINCT c.v) AS ccs
        FROM comp c JOIN meta m USING (doc_id) GROUP BY c.doc_id),
    -- per-variable occurrence tables
    occ AS (
        SELECT doc_id, v, count(*) AS deg,
               count(*) - sum(neg) AS p_occ, sum(neg) AS n_occ
        FROM L GROUP BY doc_id, v),
    hornocc AS (
        SELECT l.doc_id, l.v,
               sum(CASE WHEN c.n_neg <= 1 THEN 1 ELSE 0 END) AS h,
               sum(CASE WHEN c.n_pos <= 1 THEN 1 ELSE 0 END) AS ih
        FROM L l JOIN csz c USING (doc_id, cid) GROUP BY l.doc_id, l.v),
    vg AS (
        SELECT l.doc_id, l.v, sum(c.s) AS w
        FROM L l JOIN csz c USING (doc_id, cid) GROUP BY l.doc_id, l.v),
    cg AS (
        SELECT l.doc_id, l.cid, sum(o.deg) AS w
        FROM L l JOIN occ o USING (doc_id, v) GROUP BY l.doc_id, l.cid),
    slots AS (SELECT doc_id, unnest(range(0, n_vars + 1)) AS v FROM meta),
    dvals AS (
        SELECT s.doc_id, 'hornvars' AS fam, CAST(coalesce(h.h, 0) AS DOUBLE) AS val
        FROM slots s LEFT JOIN hornocc h USING (doc_id, v)
        UNION ALL
        SELECT s.doc_id, 'invhornvars', CAST(coalesce(h.ih, 0) AS DOUBLE)
        FROM slots s LEFT JOIN hornocc h USING (doc_id, v)
        UNION ALL
        SELECT s.doc_id, 'vcg_vdegree', CAST(coalesce(o.deg, 0) AS DOUBLE)
        FROM slots s LEFT JOIN occ o USING (doc_id, v)
        UNION ALL
        SELECT s.doc_id, 'vg_degree', CAST(coalesce(g.w, 0) AS DOUBLE)
        FROM slots s LEFT JOIN vg g USING (doc_id, v)
        UNION ALL
        SELECT doc_id, 'vcg_cdegree', CAST(s AS DOUBLE) FROM csz
        UNION ALL
        SELECT doc_id, 'cg_degree', CAST(w AS DOUBLE) FROM cg
        UNION ALL
        SELECT doc_id, 'balancecls',
               CAST(least(n_pos, n_neg) AS DOUBLE) / greatest(n_pos, n_neg)
        FROM csz WHERE s > 0
        UNION ALL
        -- v in [0, n_vars): the max variable is EXCLUDED (ref quirk)
        SELECT s.doc_id, 'balancevars',
               CAST(least(o.p_occ, o.n_occ) AS DOUBLE) / greatest(o.p_occ, o.n_occ)
        FROM slots s JOIN meta m USING (doc_id)
        LEFT JOIN occ o USING (doc_id, v)
        WHERE s.v < m.n_vars AND greatest(o.p_occ, o.n_occ) > 0),
    dstat AS (
        SELECT doc_id, fam, avg(val) AS mean,
               coalesce(var_pop(val), 0) AS variance,
               min(val) AS mn, max(val) AS mx
        FROM dvals GROUP BY doc_id, fam),
    dkey AS (
        SELECT doc_id, fam, CAST(trunc(val) AS BIGINT) AS key, count(*) AS c
        FROM dvals GROUP BY doc_id, fam, CAST(trunc(val) AS BIGINT)),
    dent AS (
        SELECT doc_id, fam,
               CASE WHEN count(*) <= 1 THEN 0.0
                    ELSE -sum((CAST(c AS DOUBLE) / total) * log2(CAST(c AS DOUBLE) / total))
                         / log2(count(*)) END AS entropy
        FROM (SELECT doc_id, fam, key, c,
                     sum(c) OVER (PARTITION BY doc_id, fam) AS total
              FROM dkey)
        GROUP BY doc_id, fam),
    dpiv AS (
        SELECT s.doc_id,
{dist_cols.replace("THEN mean", "THEN s.mean").replace("THEN variance", "THEN s.variance").replace("THEN mn", "THEN s.mn").replace("THEN mx", "THEN s.mx").replace("THEN entropy", "THEN e.entropy").replace("fam =", "s.fam =")}
        FROM dstat s JOIN dent e USING (doc_id, fam)
        GROUP BY s.doc_id)
    SELECT m.doc_id,
           CAST(m.n_clauses AS DOUBLE) AS clauses,
           CAST(m.n_vars AS DOUBLE) AS variables,
           CAST((coalesce(b.lit_bytes, 0) + 2 * m.n_clauses - 1 + 4294967296)
                % 4294967296 AS DOUBLE) AS bytes,
           CAST(coalesce(c.ccs, m.n_vars) AS DOUBLE) AS ccs,
{cls_cols},
           CAST(coalesce(h.cls10p, 0) AS DOUBLE) AS cls10p,
           CAST(coalesce(h.horn, 0) AS DOUBLE) AS horn,
           CAST(coalesce(h.invhorn, 0) AS DOUBLE) AS invhorn,
           CAST(coalesce(h.positive, 0) AS DOUBLE) AS positive,
           CAST(coalesce(h.negative, 0) AS DOUBLE) AS negative,
{out_cols}
    FROM meta m
    LEFT JOIN lb b USING (doc_id)
    LEFT JOIN ccsq c USING (doc_id)
    LEFT JOIN hist h USING (doc_id)
    LEFT JOIN dpiv d USING (doc_id)
    """


_WCNF_FAMS = [
    "h_hornvars", "h_invhornvars", "h_balancecls", "h_balancevars",
    "s_weight", "h_vcg_vdegree", "h_vcg_cdegree", "h_vg_degree", "h_cg_degree",
]


def _duck_wcnf_features_sql() -> str:
    """All 73 WCNF base features in DuckDB SQL over the doc-derived
    weights of wcnf_hashes_docs (mirror of kernels/wcnf.wcnf_base_features
    incl. the weight-0-is-hard Base1 quirk and both Base2 pass quirks)."""
    dist_cols = ",\n".join(
        f"            coalesce(max(CASE WHEN s.fam = '{f}' THEN s.{c} END), 0) AS {f}_{c}"
        for f in _WCNF_FAMS
        for c in ("mean", "variance", "mn", "mx")
    ) + ",\n" + ",\n".join(
        f"            coalesce(max(CASE WHEN s.fam = '{f}' THEN e.entropy END), 0) AS {f}_entropy"
        for f in _WCNF_FAMS
    )
    out_cols = ",\n".join(
        "                   round(coalesce(d.{f}_{a}, 0), 6) AS {f}_{s}".format(
            f=f, s=s, a={"min": "mn", "max": "mx"}.get(s, s)
        )
        for f in _WCNF_FAMS
        for s in ("mean", "variance", "min", "max", "entropy")
    )
    h_hist = ",\n".join(
        f"                sum(CASE WHEN hard = 1 AND least(s, 10) = {i} THEN 1 ELSE 0 END) AS h_cls{i}"
        for i in range(1, 10)
    )
    s_hist = ",\n".join(
        f"                sum(CASE WHEN hard = 0 AND least(s, 10) = {i} THEN 1 ELSE 0 END) AS s_cls{i}"
        for i in range(1, 10)
    )
    h_out = ",\n".join(
        f"                   CAST(coalesce(h.h_cls{i}, 0) AS DOUBLE) AS h_cls{i}"
        for i in range(1, 10)
    )
    s_out = ",\n".join(
        f"                   CAST(coalesce(h.s_cls{i}, 0) AS DOUBLE) AS s_cls{i}"
        for i in range(1, 10)
    )
    return f"""
    WITH {_duck_clause_cte()},
    L AS (SELECT doc_id, cid, pos, tok, abs(tok) AS v,
                 CASE WHEN tok < 0 THEN 1 ELSE 0 END AS neg
          FROM cl WHERE tok != 0),
    meta AS (
        SELECT t.doc_id, coalesce(mx.n_vars, 0) AS n_vars
        FROM t LEFT JOIN (SELECT doc_id, max(v) AS n_vars FROM L GROUP BY doc_id) mx
        USING (doc_id)),
    wts AS (
        SELECT c.doc_id, c.cid,
               CASE WHEN d.doc_id % 2 = 0 THEN (d.doc_id + c.cid) % 8
                    WHEN (d.doc_id + c.cid) % 3 = 0 THEN -1
                    ELSE (d.doc_id + c.cid) % 5 END AS w,
               CASE WHEN d.doc_id % 2 = 0 THEN 5 ELSE 0 END AS top
        FROM (SELECT DISTINCT doc_id, cid FROM cl) c
        JOIN (SELECT doc_id, {_DOC_KEY} AS k FROM documents) d ON c.doc_id = d.k),
    wf AS (
        SELECT doc_id, cid, w, top,
               CASE WHEN w = -1 OR (top > 0 AND w >= top) THEN 0 ELSE w END AS w1,
               CASE WHEN w = -1 THEN 0 ELSE w END AS wraw
        FROM wts),
    hf AS (
        SELECT doc_id, cid, w, top, w1,
               CASE WHEN w1 = 0 THEN 1 ELSE 0 END AS hard,
               CASE WHEN (top = 0 AND wraw = 0) OR wraw >= top THEN 1 ELSE 0 END AS counted,
               CASE WHEN w = -1 OR (top > 0 AND w >= top) THEN 1 ELSE 0 END AS pass2
        FROM wf),
    csz AS (
        SELECT l.doc_id, l.cid, count(*) AS s, sum(l.neg) AS n_neg,
               count(*) - sum(l.neg) AS n_pos,
               any_value(h.hard) AS hard, any_value(h.counted) AS counted,
               any_value(h.pass2) AS pass2, any_value(h.w1) AS w1
        FROM L l JOIN hf h USING (doc_id, cid) GROUP BY l.doc_id, l.cid),
    hist AS (
        SELECT doc_id,
{h_hist},
                sum(CASE WHEN hard = 1 AND s >= 10 THEN 1 ELSE 0 END) AS h_cls10p,
{s_hist},
                sum(CASE WHEN hard = 0 AND s >= 10 THEN 1 ELSE 0 END) AS s_cls10p,
                sum(hard) AS h_clauses,
                sum(1 - hard) AS s_clauses,
                sum(CASE WHEN hard = 0 THEN w1 ELSE 0 END) AS s_weight_sum,
                sum(CASE WHEN hard = 1 AND n_neg <= 1 THEN 1 ELSE 0 END) AS h_horn,
                sum(CASE WHEN hard = 1 AND n_pos <= 1 THEN 1 ELSE 0 END) AS h_invhorn,
                sum(CASE WHEN hard = 1 AND n_neg = 0 THEN 1 ELSE 0 END) AS h_positive,
                sum(CASE WHEN hard = 1 AND n_pos = 0 THEN 1 ELSE 0 END) AS h_negative
        FROM csz GROUP BY doc_id),
    occ AS (
        SELECT l.doc_id, l.v,
               sum(CASE WHEN c.hard = 1 THEN 1 - l.neg ELSE 0 END) AS hp,
               sum(CASE WHEN c.hard = 1 THEN l.neg ELSE 0 END) AS hn,
               sum(CASE WHEN c.hard = 1 AND c.n_neg <= 1 THEN 1 ELSE 0 END) AS horn_occ,
               sum(CASE WHEN c.hard = 1 AND c.n_pos <= 1 THEN 1 ELSE 0 END) AS invhorn_occ,
               sum(c.counted) AS vdeg,
               sum(CASE WHEN c.counted = 1 THEN c.s ELSE 0 END) AS vg
        FROM L l JOIN csz c USING (doc_id, cid) GROUP BY l.doc_id, l.v),
    cg AS (
        SELECT l.doc_id, l.cid, sum(o.vdeg) AS val
        FROM L l JOIN csz c USING (doc_id, cid)
        JOIN occ o USING (doc_id, v)
        WHERE c.pass2 = 1 GROUP BY l.doc_id, l.cid),
    slots AS (SELECT doc_id, unnest(range(0, n_vars + 1)) AS v FROM meta),
    dvals AS (
        SELECT s.doc_id, 'h_hornvars' AS fam,
               CAST(coalesce(o.horn_occ, 0) AS DOUBLE) AS val
        FROM slots s LEFT JOIN occ o USING (doc_id, v)
        UNION ALL
        SELECT s.doc_id, 'h_invhornvars', CAST(coalesce(o.invhorn_occ, 0) AS DOUBLE)
        FROM slots s LEFT JOIN occ o USING (doc_id, v)
        UNION ALL
        SELECT s.doc_id, 'h_vcg_vdegree', CAST(coalesce(o.vdeg, 0) AS DOUBLE)
        FROM slots s LEFT JOIN occ o USING (doc_id, v)
        UNION ALL
        SELECT s.doc_id, 'h_vg_degree', CAST(coalesce(o.vg, 0) AS DOUBLE)
        FROM slots s LEFT JOIN occ o USING (doc_id, v)
        UNION ALL
        SELECT doc_id, 'h_vcg_cdegree', CAST(s AS DOUBLE) FROM csz
        UNION ALL
        SELECT doc_id, 'h_cg_degree', CAST(val AS DOUBLE) FROM cg
        UNION ALL
        SELECT doc_id, 'h_balancecls',
               CAST(least(n_pos, n_neg) AS DOUBLE) / greatest(n_pos, n_neg)
        FROM csz WHERE hard = 1 AND s > 0
        UNION ALL
        SELECT doc_id, 's_weight', CAST(w1 AS DOUBLE) FROM csz WHERE hard = 0
        UNION ALL
        SELECT s.doc_id, 'h_balancevars',
               CAST(least(o.hp, o.hn) AS DOUBLE) / greatest(o.hp, o.hn)
        FROM slots s JOIN meta m USING (doc_id)
        LEFT JOIN occ o USING (doc_id, v)
        WHERE s.v < m.n_vars AND greatest(o.hp, o.hn) > 0),
    dstat AS (
        SELECT doc_id, fam, avg(val) AS mean,
               coalesce(var_pop(val), 0) AS variance,
               min(val) AS mn, max(val) AS mx
        FROM dvals GROUP BY doc_id, fam),
    dkey AS (
        SELECT doc_id, fam, CAST(trunc(val) AS BIGINT) AS key, count(*) AS c
        FROM dvals GROUP BY doc_id, fam, CAST(trunc(val) AS BIGINT)),
    dent AS (
        SELECT doc_id, fam,
               CASE WHEN count(*) <= 1 THEN 0.0
                    ELSE -sum((CAST(c AS DOUBLE) / total) * log2(CAST(c AS DOUBLE) / total))
                         / log2(count(*)) END AS entropy
        FROM (SELECT doc_id, fam, key, c,
                     sum(c) OVER (PARTITION BY doc_id, fam) AS total
              FROM dkey)
        GROUP BY doc_id, fam),
    dpiv AS (
        SELECT s.doc_id,
{dist_cols}
        FROM dstat s JOIN dent e USING (doc_id, fam)
        GROUP BY s.doc_id)
    SELECT m.doc_id,
           CAST(coalesce(h.h_clauses, 0) AS DOUBLE) AS h_clauses,
           CAST(m.n_vars AS DOUBLE) AS variables,
           CAST(coalesce(h.s_clauses, 0) AS DOUBLE) AS s_clauses,
           CAST(coalesce(h.s_weight_sum, 0) AS DOUBLE) AS s_weight_sum,
{h_out},
           CAST(coalesce(h.h_cls10p, 0) AS DOUBLE) AS h_cls10p,
{s_out},
           CAST(coalesce(h.s_cls10p, 0) AS DOUBLE) AS s_cls10p,
           CAST(coalesce(h.h_horn, 0) AS DOUBLE) AS h_horn,
           CAST(coalesce(h.h_invhorn, 0) AS DOUBLE) AS h_invhorn,
           CAST(coalesce(h.h_positive, 0) AS DOUBLE) AS h_positive,
           CAST(coalesce(h.h_negative, 0) AS DOUBLE) AS h_negative,
{out_cols}
    FROM meta m
    LEFT JOIN hist h USING (doc_id)
    LEFT JOIN dpiv d USING (doc_id)
    """


def _duck_md5_bucket(expr: str, n_buckets: int) -> str:
    """DuckDB twin of quality._md5_bucket: value of the first 8 hex
    digits of md5(expr), mod n_buckets (hexdigit positional sum — the
    same construction the ngram_contamination oracle uses)."""
    return (
        f"(CAST(list_sum(list_transform(range(0, 8), i -> "
        f"CAST(strpos('0123456789abcdef', substr(md5({expr}), "
        f"CAST(i AS INTEGER) + 1, 1)) - 1 AS BIGINT) "
        f"* CAST(pow(16, 7 - i) AS BIGINT))) AS BIGINT) % {n_buckets})"
    )


def _duck_md5_u32(expr: str) -> str:
    """Value of the first 8 hex digits of md5(expr) as a BIGINT in
    [0, 2^32) — the DuckDB twin of packing._md5_uniform."""
    return (
        f"list_sum(list_transform(range(0, 8), i -> "
        f"CAST(strpos('0123456789abcdef', substr(md5({expr}), "
        f"CAST(i AS INTEGER) + 1, 1)) - 1 AS BIGINT) "
        f"* CAST(pow(16, 7 - i) AS BIGINT)))"
    )


def _duck_logreg_sql(epochs: int = 3, lr: float = 1.0,
                     label: str = "en") -> str:
    """Unrolled full-batch logistic-regression training in DuckDB SQL —
    the same epochs-as-chained-CTEs device as the trained-IVF oracle:
    each epoch's gradient CTE cross-joins the 1-row weight table from
    the previous epoch, so the whole GD trajectory (w0 = 0) is replayed
    exactly and the final per-doc sigmoid scores value-gate the engine's
    training loop, not just its scorer."""
    from gbdc_spark.operators.text import STOPWORDS

    stops = ", ".join(f"'{s}'" for s in STOPWORDS)
    dims = (1, 2, 3, 4)
    pieces = [
        f"""f AS (
            SELECT doc_id,
                   CAST(len(ws) AS DOUBLE) AS r1,
                   list_sum(list_transform(ws, w -> len(w)))
                       / CAST(len(ws) AS DOUBLE) AS r2,
                   list_sum(list_transform(ws, w ->
                       CASE WHEN w IN ({stops}) THEN 1 ELSE 0 END))
                       / CAST(len(ws) AS DOUBLE) AS r3,
                   CAST(len(text) AS DOUBLE) AS r4,
                   CASE WHEN lang = '{label}' THEN 1.0 ELSE 0.0 END AS y
            FROM (SELECT doc_id, text, lang, str_split(text, ' ') AS ws
                  FROM documents))""",
        "st AS (SELECT "
        + ", ".join(
            f"avg(r{j}) AS m{j}, stddev_pop(r{j}) AS s{j}" for j in dims
        )
        + " FROM f)",
        "s AS (SELECT doc_id, "
        + ", ".join(f"(r{j} - m{j}) / s{j} AS x{j}" for j in dims)
        + ", y FROM f, st)",
        "w0 AS (SELECT "
        + ", ".join(f"0.0 AS w{j}" for j in (1, 2, 3, 4, 5))
        + ")",
    ]
    z = " + ".join(f"w.w{j} * s.x{j}" for j in dims) + " + w.w5"
    p = f"(1.0 / (1.0 + exp(-({z}))))"
    for e in range(1, int(epochs) + 1):
        gsel = ", ".join(
            f"avg(({p} - s.y) * s.x{j}) AS g{j}" for j in dims
        ) + f", avg({p} - s.y) AS g5"
        pieces.append(f"g{e} AS (SELECT {gsel} FROM s, w{e - 1} w)")
        wsel = ", ".join(
            f"w.w{j} - {lr} * g.g{j} AS w{j}" for j in (1, 2, 3, 4, 5)
        )
        pieces.append(f"w{e} AS (SELECT {wsel} FROM w{e - 1} w, g{e} g)")
    return (
        "WITH " + ",\n".join(pieces)
        + f"""
        SELECT s.doc_id,
               round(1.0 / (1.0 + exp(-({z}))), 6) AS score,
               round(1.0 / (1.0 + exp(-({z}))), 6) >= 0.5 AS pred
        FROM s, w{int(epochs)} w
        """
    )


def _duck_bpe_sql(mode: str = "merges", n_merges: int = 12) -> str:
    """Unrolled BPE trainer in DuckDB SQL — the rounds-as-chained-CTEs
    device applied to tokenizer induction.  v0 is the word-frequency
    table with double-separator symbol strings (one space guard each
    end, two between symbols); each round k computes pair counts from
    v{k-1}, takes the deterministic argmax (count DESC, then
    lexicographic), and applies the merge with a literal ``replace``
    whose pattern borrows one separator from each side — the exact
    greedy left-to-right semantics the Spark side uses, because both
    engines share non-overlapping forward replace-all.  ``mode``:
    'merges' returns the K-row rule table; 'encode' re-tokenizes every
    doc from the final vocab (identical to applying the rule chain per
    distinct word) and projects (n_bpe, md5-of-token-stream)."""
    pieces = [
        """v0 AS MATERIALIZED (
            SELECT word, CAST(count(*) AS BIGINT) AS freq,
                   ' ' || array_to_string(
                       list_append(string_split(word, ''), chr(30)),
                       '  ') || ' ' AS syms
            FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS word
                  FROM documents)
            WHERE word <> '' AND strpos(word, chr(30)) = 0
            GROUP BY word)"""
    ]
    for k in range(1, int(n_merges) + 1):
        pieces.append(f"""pc{k} AS MATERIALIZED (
            SELECT p[1] AS merge_left, p[2] AS merge_right,
                   CAST(sum(freq) AS BIGINT) AS cnt
            FROM (
                SELECT freq,
                       unnest(list_transform(range(1, len(ts)),
                              i -> [ts[i], ts[i + 1]])) AS p
                FROM (SELECT freq, string_split(trim(syms), '  ') AS ts
                      FROM v{k - 1})
            )
            GROUP BY 1, 2)""")
        pieces.append(
            f"m{k} AS MATERIALIZED (SELECT merge_left, merge_right, cnt FROM pc{k} "
            f"ORDER BY cnt DESC, merge_left, merge_right LIMIT 1)"
        )
        pieces.append(f"""v{k} AS MATERIALIZED (
            SELECT word, freq,
                   replace(syms,
                           ' ' || merge_left || '  ' || merge_right || ' ',
                           ' ' || merge_left || merge_right || ' ') AS syms
            FROM v{k - 1}, m{k})""")
    if mode == "merges":
        legs = "\n            UNION ALL ".join(
            f"SELECT {k} AS \"round\", merge_left, merge_right, cnt,"
            f" merge_left || merge_right AS new_token FROM m{k}"
            for k in range(1, int(n_merges) + 1)
        )
        return "WITH " + ",\n".join(pieces) + f"\nSELECT * FROM ({legs})"
    last = f"v{int(n_merges)}"
    if mode == "fertility":
        return (
            "WITH " + ",\n".join(pieces) + f""",
            wt AS (SELECT word,
                          CAST(len(string_split(trim(syms), '  '))
                               AS BIGINT) AS n_tok,
                          CAST(length(word) + 1 AS BIGINT) AS n_chars
                   FROM {last}),
            occ AS (
                SELECT source, word
                FROM (SELECT source,
                             unnest(string_split_regex(text, '\\s+'))
                                 AS word
                      FROM documents)
                WHERE word <> '' AND strpos(word, chr(30)) = 0
            )
            SELECT source, n_words, n_bpe,
                   round(n_bpe / n_words, 6) AS fertility,
                   round(n_chars / n_bpe, 6) AS chars_per_token
            FROM (SELECT source,
                         CAST(count(*) AS BIGINT) AS n_words,
                         CAST(sum(n_tok) AS BIGINT) AS n_bpe,
                         CAST(sum(n_chars) AS BIGINT) AS n_chars
                  FROM occ JOIN wt USING (word)
                  GROUP BY source)
            """
        )
    if mode == "pack":
        # trainer → subword-id assignment (dense rank by freq DESC,
        # token ASC; 0 reserved for EOS) → per-doc id streams →
        # concat-and-chunk global offsets → 256-id block re-assembly
        return (
            "WITH " + ",\n".join(pieces) + f""",
            wt AS (SELECT word, string_split(trim(syms), '  ') AS ts
                   FROM {last}),
            occ AS (
                SELECT doc_id, pos, word
                FROM (
                    SELECT doc_id, generate_subscripts(ws, 1) AS pos,
                           unnest(ws) AS word
                    FROM (SELECT doc_id,
                                 string_split_regex(text, '\\s+') AS ws
                          FROM documents)
                )
                WHERE word <> '' AND strpos(word, chr(30)) = 0
                      AND word IN (SELECT word FROM wt)
            ),
            tf AS (SELECT t, CAST(count(*) AS BIGINT) AS freq
                   FROM (SELECT unnest(wt.ts) AS t
                         FROM occ JOIN wt USING (word))
                   GROUP BY t),
            idt AS (SELECT t, CAST(row_number() OVER (
                        ORDER BY freq DESC, t) AS INTEGER) AS id
                    FROM tf),
            wid AS (SELECT word, list(id ORDER BY tpos) AS ids
                    FROM (SELECT word,
                                 generate_subscripts(ts, 1) AS tpos,
                                 unnest(ts) AS t
                          FROM wt) w
                    JOIN idt USING (t)
                    GROUP BY word),
            docids AS (
                SELECT d.doc_id,
                       list_append(coalesce(f.ids, []), 0) AS toks
                FROM documents d
                LEFT JOIN (SELECT doc_id,
                                  flatten(list(ids ORDER BY pos)) AS ids
                           FROM occ JOIN wid USING (word)
                           GROUP BY doc_id) f
                USING (doc_id)
            ),
            o AS (SELECT doc_id, toks,
                         coalesce(sum(len(toks)) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS off
                  FROM docids),
            u AS (SELECT off, unnest(toks) AS tok,
                         generate_subscripts(toks, 1) AS pos
                  FROM o),
            b AS (SELECT CAST((off + pos - 1) // 256 AS BIGINT)
                             AS block_id,
                         (off + pos - 1) % 256 AS bp, tok
                  FROM u)
            SELECT block_id, CAST(count(*) AS INT) AS n_tok,
                   md5(string_agg(CAST(tok AS VARCHAR), ','
                       ORDER BY bp)) AS tokens_md5
            FROM b GROUP BY block_id
            """
        )
    assert mode == "encode"
    return (
        "WITH " + ",\n".join(pieces) + f""",
        wt AS (SELECT word, string_split(trim(syms), '  ') AS ts
               FROM {last}),
        occ AS (
            SELECT doc_id, pos, ts
            FROM (
                SELECT doc_id, generate_subscripts(ws, 1) AS pos,
                       unnest(ws) AS word
                FROM (SELECT doc_id,
                             string_split_regex(text, '\\s+') AS ws
                      FROM documents)
            )
            JOIN wt USING (word)
            WHERE word <> '' AND strpos(word, chr(30)) = 0
        )
        SELECT d.doc_id,
               CAST(coalesce(len(f.fl), 0) AS INT) AS n_bpe,
               md5(coalesce(array_to_string(f.fl, ' '), '')) AS toks_md5
        FROM documents d
        LEFT JOIN (SELECT doc_id, flatten(list(ts ORDER BY pos)) AS fl
                   FROM occ GROUP BY doc_id) f
        USING (doc_id)
        """
    )


def _duck_platt_sql(epochs: int = 3, lr: float = 1.0) -> str:
    """Unrolled Platt-scaling GD (quality.platt_scale over the global
    min-max-normalized n_chars score, y = lang=='en'): each epoch's
    2-double gradient CTE cross-joins the previous 1-row weight table
    — the logreg-oracle device with a 2-parameter model, so the
    calibrator's TRAINING loop is value-gated, not just its sigmoid."""
    lrr = repr(float(lr))
    parts = ["""
            mm AS (SELECT min(CAST(n_chars AS DOUBLE)) AS lo,
                          max(CAST(n_chars AS DOUBLE)) AS hi
                   FROM documents),
            s AS (
                SELECT doc_id,
                       CASE WHEN mm.hi > mm.lo
                            THEN round((CAST(n_chars AS DOUBLE) - mm.lo)
                                       / (mm.hi - mm.lo), 6)
                            ELSE 0.0 END AS s,
                       CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
                FROM documents CROSS JOIN mm),
            w0 AS (SELECT 0.0 AS a, 0.0 AS b)"""]
    for t in range(1, epochs + 1):
        parts.append(f"""
            g{t} AS (
                SELECT avg((1.0 / (1.0 + exp(-(w.a * s.s + w.b))) - s.y)
                           * s.s) AS ga,
                       avg(1.0 / (1.0 + exp(-(w.a * s.s + w.b))) - s.y)
                           AS gb
                FROM s CROSS JOIN w{t - 1} w),
            w{t} AS (SELECT w.a - {lrr} * g.ga AS a,
                            w.b - {lrr} * g.gb AS b
                     FROM w{t - 1} w CROSS JOIN g{t} g)""")
    return (
        "WITH " + ",".join(parts)
        + f"""
            SELECT s.doc_id, s.s AS score_norm,
                   round(1.0 / (1.0 + exp(-(w.a * s.s + w.b))), 6)
                       AS calibrated,
                   round(1.0 / (1.0 + exp(-(w.a * s.s + w.b))), 6) >= 0.5
                       AS pred
            FROM s CROSS JOIN w{epochs} w
        """
    )


def _duck_mmr_sql(k: int = 5, pool: int = 20, lam: float = 0.7) -> str:
    """Unrolled MMR greedy selection (similarity.mmr_topk): cosine
    top-`pool` candidates, then k chained argmax steps — each step's
    penalty is max(rounded cosine to the already-selected set), the
    score `lam*rel - (1-lam)*pen` compared DESC with key ties.  The
    lam literals use repr() so SQL parses the IDENTICAL doubles the
    Python rerank multiplies with."""
    la, lb = repr(float(lam)), repr(1.0 - float(lam))

    def cos(a: str, b: str) -> str:
        return (
            f"round(list_sum(list_transform(range(1, 65), "
            f"i -> {a}.vec[i] * {b}.vec[i])) / "
            f"(sqrt(list_sum(list_transform(range(1, 65), "
            f"i -> {a}.vec[i] * {a}.vec[i]))) * "
            f"sqrt(list_sum(list_transform(range(1, 65), "
            f"i -> {b}.vec[i] * {b}.vec[i])))), 6)"
        )

    parts = [f"""
            vv AS (SELECT vec_id,
                          list_transform(embedding,
                                         x -> CAST(x AS DOUBLE)) AS vec
                   FROM embeddings),
            qq AS (SELECT vec AS q FROM vv WHERE vec_id = 0),
            cand AS (
                SELECT vec_id, vec,
                       round(list_sum(list_transform(range(1, 65),
                             i -> vec[i] * q[i]))
                             / (sqrt(list_sum(list_transform(range(1, 65),
                                    i -> vec[i] * vec[i])))
                                * sqrt(list_sum(list_transform(range(1, 65),
                                    i -> q[i] * q[i])))), 6) AS rel
                FROM vv, qq ORDER BY rel DESC, vec_id LIMIT {pool}),
            sel1 AS (
                SELECT vec_id, 1 AS mmr_rank, rel AS relevance,
                       {la} * rel - {lb} * 0.0 AS mmr_score, vec
                FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
            acc1 AS (SELECT * FROM sel1)"""]
    for t in range(2, k + 1):
        parts.append(f"""
            pen{t} AS (
                SELECT c.vec_id, c.rel, c.vec,
                       max({cos('c', 's')}) AS pen
                FROM cand c CROSS JOIN acc{t - 1} s
                WHERE c.vec_id NOT IN (SELECT vec_id FROM acc{t - 1})
                GROUP BY c.vec_id, c.rel, c.vec),
            sel{t} AS (
                SELECT vec_id, {t} AS mmr_rank, rel AS relevance,
                       {la} * rel - {lb} * pen AS mmr_score, vec
                FROM pen{t}
                ORDER BY {la} * rel - {lb} * pen DESC, vec_id LIMIT 1),
            acc{t} AS (SELECT * FROM acc{t - 1}
                       UNION ALL SELECT * FROM sel{t})""")
    return (
        "WITH " + ",".join(parts)
        + f"""
            SELECT vec_id, mmr_rank, relevance, mmr_score FROM acc{k}
        """
    )


def _duck_pagerank_sql(iters: int = 5, damping: float = 0.85) -> str:
    """Oracle for ``pagerank_dups``: the symmetric MinHash-band pair
    graph, then ``iters`` unrolled synchronous PageRank sweeps as
    chained MATERIALIZED CTEs (the trainer-unroll device) — contrib
    sums, uniform dangling redistribution (identically zero on an
    undirected graph, computed anyway for expression parity), and the
    damping literals injected with full repr so every double matches
    the Spark trajectory."""
    d = float(damping)
    pieces = [
        "e AS MATERIALIZED (SELECT a AS s, b AS d FROM cand"
        " UNION SELECT b, a FROM cand)",
        "nodes AS MATERIALIZED (SELECT DISTINCT s AS node FROM e)",
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes)",
        "deg AS MATERIALIZED (SELECT s, CAST(count(*) AS BIGINT) AS deg"
        " FROM e GROUP BY s)",
        "r0 AS MATERIALIZED (SELECT node, 1.0 / n AS r FROM nodes, nn)",
    ]
    for k in range(1, int(iters) + 1):
        pieces.append(f"""c{k} AS MATERIALIZED (
            SELECT e.d AS node, sum(r.r / deg.deg) AS c
            FROM e JOIN r{k - 1} r ON e.s = r.node
                   JOIN deg ON deg.s = e.s
            GROUP BY e.d)""")
        pieces.append(
            f"dm{k} AS (SELECT coalesce(sum(r.r), 0.0) AS dm"
            f" FROM r{k - 1} r ANTI JOIN deg ON r.node = deg.s)"
        )
        pieces.append(f"""r{k} AS MATERIALIZED (
            SELECT nodes.node,
                   {1.0 - d!r} / nn.n
                   + {d!r} * (coalesce(c.c, 0.0) + dm.dm / nn.n) AS r
            FROM nodes CROSS JOIN nn CROSS JOIN dm{k} dm
            LEFT JOIN c{k} c ON c.node = nodes.node)""")
    return (
        f"WITH {_DUCK_MINHASH_CAND},\n"
        + ",\n".join(pieces)
        + f"""
        SELECT node AS doc_id, round(r, 6) AS pagerank FROM r{int(iters)}
        """
    )


def _duck_textrank_sql(iters: int = 10, damping: float = 0.85,
                       topk: int = 10) -> str:
    """Oracle for ``textrank_words``: the symmetric weighted word
    co-occurrence graph (adjacent pairs, weight = corpus count), then
    ``iters`` unrolled WEIGHTED PageRank sweeps — contributions are
    r(u)*w(u,v)/wdeg(u), weighted out-degree sums are exact (integer
    weights in doubles), dangling computed for expression parity."""
    d = float(damping)
    pieces = [
        """bg AS (
            SELECT unnest(list_transform(range(1, len(ws)),
                          i -> ws[i])) AS w1,
                   unnest(list_transform(range(1, len(ws)),
                          i -> ws[i + 1])) AS w2
            FROM (SELECT str_split(text, ' ') AS ws FROM documents)
            WHERE len(ws) >= 2)""",
        """ew AS (
            SELECT least(w1, w2) AS x, greatest(w1, w2) AS y,
                   CAST(count(*) AS DOUBLE) AS w
            FROM bg WHERE w1 <> w2 GROUP BY 1, 2)""",
        "em AS (SELECT x AS s, y AS d, w FROM ew"
        " UNION ALL SELECT y, x, w FROM ew)",
        "e AS MATERIALIZED (SELECT s, d, sum(w) AS w FROM em"
        " GROUP BY s, d)",
        "nodes AS MATERIALIZED (SELECT DISTINCT s AS node FROM e)",
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes)",
        "deg AS MATERIALIZED (SELECT s, sum(w) AS deg FROM e"
        " GROUP BY s)",
        "r0 AS MATERIALIZED (SELECT node, 1.0 / n AS r FROM nodes, nn)",
    ]
    for k in range(1, int(iters) + 1):
        pieces.append(f"""c{k} AS MATERIALIZED (
            SELECT e.d AS node, sum(r.r * e.w / deg.deg) AS c
            FROM e JOIN r{k - 1} r ON e.s = r.node
                   JOIN deg ON deg.s = e.s
            GROUP BY e.d)""")
        pieces.append(
            f"dm{k} AS (SELECT coalesce(sum(r.r), 0.0) AS dm"
            f" FROM r{k - 1} r ANTI JOIN deg ON r.node = deg.s)"
        )
        pieces.append(f"""r{k} AS MATERIALIZED (
            SELECT nodes.node,
                   {1.0 - d!r} / nn.n
                   + {d!r} * (coalesce(c.c, 0.0) + dm.dm / nn.n) AS r
            FROM nodes CROSS JOIN nn CROSS JOIN dm{k} dm
            LEFT JOIN c{k} c ON c.node = nodes.node)""")
    return (
        "WITH "
        + ",\n".join(pieces)
        + f"""
        SELECT node AS word, round(r, 6) AS textrank FROM r{int(iters)}
        ORDER BY textrank DESC, word LIMIT {int(topk)}
        """
    )


def _duck_hits_sql(iters: int = 8) -> str:
    """Oracle for ``hits_words``: the directed weighted bigram graph,
    then ``iters`` unrolled HITS iterations — a' = W^T h then L1
    normalize, h' = W a then L1 normalize — as chained MATERIALIZED
    CTEs with 1-row normalizer CTEs, mirroring the Spark half-steps
    exactly (weights are exact integer counts in doubles)."""
    pieces = [
        """bg AS (
            SELECT unnest(list_transform(range(1, len(ws)),
                          i -> ws[i])) AS w1,
                   unnest(list_transform(range(1, len(ws)),
                          i -> ws[i + 1])) AS w2
            FROM (SELECT str_split(text, ' ') AS ws FROM documents)
            WHERE len(ws) >= 2)""",
        """ew AS (
            SELECT w1 AS s, w2 AS d, CAST(count(*) AS DOUBLE) AS w
            FROM bg WHERE w1 <> w2 GROUP BY 1, 2)""",
        "e AS MATERIALIZED (SELECT s, d, sum(w) AS w FROM ew"
        " GROUP BY s, d)",
        "st AS MATERIALIZED (SELECT DISTINCT s AS node FROM e"
        " UNION SELECT DISTINCT d FROM e)",
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM st)",
        "h0 AS MATERIALIZED (SELECT node, 1.0 / n AS v FROM st, nn)",
    ]
    for k in range(1, int(iters) + 1):
        pieces.append(f"""ar{k} AS MATERIALIZED (
            SELECT e.d AS node, sum(e.w * h.v) AS raw
            FROM e JOIN h{k - 1} h ON e.s = h.node GROUP BY e.d)""")
        pieces.append(f"az{k} AS (SELECT sum(raw) AS z FROM ar{k})")
        pieces.append(
            f"a{k} AS MATERIALIZED (SELECT node, raw / z AS v"
            f" FROM ar{k}, az{k})"
        )
        pieces.append(f"""hr{k} AS MATERIALIZED (
            SELECT e.s AS node, sum(e.w * a.v) AS raw
            FROM e JOIN a{k} a ON e.d = a.node GROUP BY e.s)""")
        pieces.append(f"hz{k} AS (SELECT sum(raw) AS z FROM hr{k})")
        pieces.append(
            f"h{k} AS MATERIALIZED (SELECT node, raw / z AS v"
            f" FROM hr{k}, hz{k})"
        )
    last = int(iters)
    return (
        "WITH "
        + ",\n".join(pieces)
        + f"""
        SELECT st.node AS word,
               round(coalesce(h.v, 0.0), 6) AS hub,
               round(coalesce(a.v, 0.0), 6) AS authority
        FROM st
        LEFT JOIN h{last} h USING (node)
        LEFT JOIN a{last} a USING (node)
        """
    )


def _duck_markov_sql(mode: str = "transitions", iters: int = 16) -> str:
    """Oracle for the Markov pair: the per-user lead window and
    row-normalized pair counts; for 'stationary', ``iters`` unrolled
    pi' = pi·P steps as chained MATERIALIZED CTEs, probabilities kept
    as exact integer ratios throughout (rounding only at the end)."""
    base = """s AS (
            SELECT event_type AS cur,
                   lead(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY ts, event_id) AS nxt
            FROM events),
        c AS (SELECT cur, nxt, CAST(count(*) AS BIGINT) AS cnt
              FROM s WHERE nxt IS NOT NULL GROUP BY cur, nxt),
        r AS (SELECT cur, CAST(sum(cnt) AS BIGINT) AS tot
              FROM c GROUP BY cur)"""
    if mode == "transitions":
        return f"""
            WITH {base}
            SELECT c.cur, c.nxt, c.cnt,
                   round(c.cnt / r.tot, 6) AS p
            FROM c JOIN r USING (cur)
            """
    assert mode == "stationary"
    pieces = [
        base,
        "pm AS MATERIALIZED (SELECT c.cur, c.nxt, c.cnt / r.tot AS p"
        " FROM c JOIN r USING (cur))",
        "st AS MATERIALIZED (SELECT DISTINCT cur AS state FROM pm"
        " UNION SELECT DISTINCT nxt FROM pm)",
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM st)",
        "pi0 AS MATERIALIZED (SELECT state, 1.0 / n AS pi FROM st, nn)",
    ]
    for k in range(1, int(iters) + 1):
        pieces.append(f"""pi{k} AS MATERIALIZED (
            SELECT pm.nxt AS state, sum(pi.pi * pm.p) AS pi
            FROM pm JOIN pi{k - 1} pi ON pm.cur = pi.state
            GROUP BY pm.nxt)""")
    return (
        "WITH "
        + ",\n".join(pieces)
        + f"""
        SELECT st.state, round(coalesce(p.pi, 0.0), 6) AS pi
        FROM st LEFT JOIN pi{int(iters)} p USING (state)
        """
    )


def _duck_hll_sql(p: int = 12, mode: str = "events") -> str:
    """Oracle for ``hll_distinct``: rebuilds every HLL register from the
    same md5-u32 hash (bucket = top p bits, rho = q - (len(bin(w)) - 1)
    over the low q bits — binary-string length, never log2) and replays
    the harmonic-mean estimator with the identical alpha*m^2 literal
    and small/large-range correction branches, so registers AND
    estimates agree bit-for-bit; the merged ALL_users row exploits HLL
    merge losslessness (max over per-type maxes == max over all)."""
    m = 1 << p
    q = 32 - p
    mask = (1 << q) - 1
    alpha_m2 = (0.7213 / (1.0 + 1.079 / m)) * m * m
    two32 = float(1 << 32)
    h = _duck_md5_u32("item")

    def reg(src: str, gcol: str | None) -> str:
        gsel = f"{gcol}, " if gcol else ""
        gby = f"GROUP BY {gcol}, bucket" if gcol else "GROUP BY bucket"
        return f"""SELECT {gsel}bucket, max(rho) AS rho FROM (
                SELECT {gsel}CAST(h >> {q} AS INTEGER) AS bucket,
                       CASE WHEN (h & {mask}) > 0
                            THEN {q} - (length(bin(CAST(h & {mask}
                                 AS BIGINT))) - 1)
                            ELSE {q + 1} END AS rho
                FROM (SELECT {gsel}{h} AS h FROM ({src}))
            ) {gby}"""

    def est(regs: str, gcol: str | None, gout: str) -> str:
        gsel = f"{gcol}, " if gcol else ""
        gby = f"GROUP BY {gcol}" if gcol else ""
        e_raw = f"({alpha_m2!r} / (s_hit + ({m} - n_hit)))"
        return f"""SELECT {gout} AS grp,
                   CAST({m} - n_hit AS BIGINT) AS v_zero,
                   round(CASE WHEN est0 > {two32 / 30.0!r}
                              THEN -{two32!r} * ln(1.0 - est0 / {two32!r})
                              ELSE est0 END, 6) AS est_distinct
            FROM (
                SELECT {gsel}n_hit,
                       CASE WHEN {e_raw} <= {2.5 * m!r}
                                 AND ({m} - n_hit) > 0
                            THEN {float(m)!r}
                                 * ln({float(m)!r} / ({m} - n_hit))
                            ELSE {e_raw} END AS est0
                FROM (SELECT {gsel}sum(power(2.0, -rho)) AS s_hit,
                             count(*) AS n_hit
                      FROM ({regs}) {gby})
            )"""

    if mode == "stream":
        # stream_hll: replay-invariant registers == batch registers, so
        # the oracle is the batch build + estimate next to the exact
        # count (single row, no group key)
        return f"""
            WITH u AS (SELECT CAST(user_id AS VARCHAR) AS item
                       FROM events),
            ra AS ({reg('SELECT item FROM u', None)}),
            es AS ({est('SELECT * FROM ra', None, "'all'")})
            SELECT es.v_zero, es.est_distinct, ex.exact_distinct
            FROM es, (SELECT CAST(count(DISTINCT item) AS BIGINT)
                          AS exact_distinct FROM u) ex
            """
    return f"""
        WITH u AS (SELECT event_type, CAST(user_id AS VARCHAR) AS item
                   FROM events),
        ids AS (SELECT CAST(event_id AS VARCHAR) AS item FROM events),
        ru AS ({reg('SELECT * FROM u', 'event_type')}),
        ra AS ({reg('SELECT item FROM u', None)}),
        re AS ({reg('SELECT item FROM ids', None)}),
        ests AS (
            {est('SELECT * FROM ru', 'event_type', 'event_type')}
            UNION ALL {est('SELECT * FROM ra', None, "'ALL_users'")}
            UNION ALL {est('SELECT * FROM re', None, "'ALL_events'")}
        ),
        ex AS (
            SELECT event_type AS grp,
                   CAST(count(DISTINCT item) AS BIGINT) AS exact_distinct
            FROM u GROUP BY event_type
            UNION ALL
            SELECT 'ALL_users',
                   CAST(count(DISTINCT item) AS BIGINT) FROM u
            UNION ALL
            SELECT 'ALL_events',
                   CAST(count(DISTINCT item) AS BIGINT) FROM ids
        )
        SELECT grp, v_zero, est_distinct, exact_distinct
        FROM ests JOIN ex USING (grp)
        """


def _duck_pii_sql() -> str:
    """Oracle for ``pii_scrub``: regenerates the SAME deterministic PII
    salt the Spark query appends, then replays count-then-replace with
    the patterns imported from the operator module (one source of
    truth; the pattern subset is Java-regex/RE2 compatible by
    construction — quality.py PII_PATTERNS)."""
    from gbdc_spark.operators.quality import PII_PATTERNS

    salt = (
        "text"
        " || CASE WHEN doc_id % 3 = 0 THEN ' contact user' ||"
        " CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END"
        " || CASE WHEN doc_id % 5 = 0 THEN ' from 10.1.' ||"
        " CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE '' END"
        " || CASE WHEN doc_id % 7 = 0 THEN ' id 123-45-6789' ELSE '' END"
    )
    counts = ",\n                   ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT)"
        f" AS n_pii_{name}"
        for name, (pat, _) in PII_PATTERNS.items()
    )
    scrub = "text"
    for _, (pat, rep) in PII_PATTERNS.items():
        scrub = f"regexp_replace({scrub}, '{pat}', '{rep}', 'g')"
    return f"""
            WITH s AS (SELECT doc_id, {salt} AS text FROM documents)
            SELECT doc_id,
                   {scrub} AS text_scrubbed,
                   {counts}
            FROM s
        """


def _duck_repetition_sql(ns_top=(2, 3, 4), ns_dup=(5, 10),
                         source="documents") -> str:
    """Oracle for ``repetition_signals``: recomputes every Gopher
    repetition fraction from first principles (gram group-bys + the
    same lex-smallest tie-break via ORDER BY cnt DESC, gram ASC).
    ``source`` is any relation with (doc_id, text) — a table or an
    outer CTE, so composed funnels can gate on these signals."""
    ctes = [f"""w AS (
        SELECT doc_id, greatest(length(text), 1) AS total,
               str_split(text, ' ') AS ws,
               str_split(text, chr(10)) AS ls
        FROM {source})"""]
    joins, cols = [], []
    for n in sorted(set(ns_top) | set(ns_dup)):
        ctes.append(f"""g{n} AS (
        SELECT doc_id, gram, count(*) AS cnt, length(gram) AS glen
        FROM (SELECT doc_id, unnest(list_transform(
                  range(1, greatest(len(ws) - {n} + 1, 0) + 1),
                  i -> array_to_string(list_slice(ws, i, i + {n} - 1), ' '))) AS gram
              FROM w)
        GROUP BY doc_id, gram)""")
    for n in ns_top:
        ctes.append(f"""top{n} AS (
        SELECT doc_id, cnt * glen AS chars
        FROM (SELECT doc_id, cnt, glen,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY cnt DESC, gram ASC) AS rn
              FROM g{n})
        WHERE rn = 1)""")
        joins.append(f"LEFT JOIN top{n} USING (doc_id)")
        cols.append(f"round(CAST(coalesce(top{n}.chars, 0) AS DOUBLE)"
                    f" / w.total, 6) AS top_{n}gram_char_frac")
    for n in ns_dup:
        ctes.append(f"""dup{n} AS (
        SELECT doc_id,
               coalesce(sum(cnt * glen) FILTER (WHERE cnt >= 2), 0) AS chars
        FROM g{n} GROUP BY doc_id)""")
        joins.append(f"LEFT JOIN dup{n} USING (doc_id)")
        cols.append(f"round(CAST(coalesce(dup{n}.chars, 0) AS DOUBLE)"
                    f" / w.total, 6) AS dup_{n}gram_char_frac")
    ctes.append("""ldup AS (
        SELECT doc_id, coalesce(sum((cnt - 1) * llen), 0) AS rep_chars
        FROM (SELECT doc_id, line, count(*) AS cnt, length(line) AS llen
              FROM (SELECT doc_id, unnest(ls) AS line FROM w)
              GROUP BY doc_id, line)
        GROUP BY doc_id)""")
    joins.append("LEFT JOIN ldup USING (doc_id)")
    cols.append("round(CAST(len(w.ls) - len(list_distinct(w.ls)) AS DOUBLE)"
                " / greatest(len(w.ls), 1), 6) AS dup_line_frac")
    cols.append("round(CAST(coalesce(ldup.rep_chars, 0) AS DOUBLE)"
                " / greatest(list_sum(list_transform(w.ls, x -> length(x))), 1),"
                " 6) AS dup_line_char_frac")
    return ("WITH " + ",\n    ".join(ctes)
            + "\n    SELECT w.doc_id, " + ", ".join(cols)
            + "\n    FROM w " + " ".join(joins))


def _duck_c4_filter_sql(source="documents", min_sentences=5) -> str:
    """Oracle for ``c4_filter``: rebuilds the deterministic fixture
    (same replace + doc_id-keyed tails), re-runs the line filter with
    DuckDB list lambdas, and recomputes every page signal and the
    decision.  The terminal-punctuation set is pulled from the same
    module constant the operator defaults to."""
    from gbdc_spark.operators.quality import C4_TERMINAL_PUNCT

    ends = " OR ".join(
        f"ends_with(l, '{p}')" for p in C4_TERMINAL_PUNCT
    )
    return f"""
        WITH fx AS (
            SELECT doc_id,
                   replace(text, ' a ', '.' || chr(10))
                   || CASE WHEN doc_id % 13 = 0 THEN ' {{' ELSE '' END
                   || CASE WHEN doc_id % 17 = 0
                           THEN chr(10) || 'the lorem ipsum line.'
                           ELSE '' END
                   || CASE WHEN doc_id % 7 = 0
                           THEN chr(10)
                                || 'this page needs javascript enabled.'
                           ELSE '' END
                   || chr(10) || 'the value table scan ends here.'
                       AS text
            FROM {source}),
        ln AS (
            SELECT doc_id, text, str_split(text, chr(10)) AS ls
            FROM fx),
        kp AS (
            SELECT doc_id, text, ls,
                   list_filter(ls, l ->
                       ({ends})
                       AND len(list_filter(
                               str_split_regex(trim(l), '\\s+'),
                               w -> w <> '')) >= 3
                       AND NOT contains(lower(l), 'javascript')) AS ks
            FROM ln),
        sig AS (
            SELECT doc_id, text,
                   array_to_string(ks, chr(10)) AS c4_text,
                   CAST(len(ls) AS BIGINT) AS n_lines,
                   CAST(len(ks) AS BIGINT) AS n_lines_kept
            FROM kp),
        sent AS (
            SELECT *,
                   CAST((length(c4_text)
                         - length(replace(c4_text, '.', '')))
                      + (length(c4_text)
                         - length(replace(c4_text, '!', '')))
                      + (length(c4_text)
                         - length(replace(c4_text, '?', '')))
                        AS BIGINT) AS n_sentences,
                   contains(text, '{{') AS has_curly_brace,
                   contains(lower(text), 'lorem ipsum')
                       AS has_lorem_ipsum,
                   CAST(0 AS BIGINT) AS n_blocklist_hits
            FROM sig)
        SELECT doc_id, c4_text, n_lines, n_lines_kept, n_sentences,
               has_curly_brace, has_lorem_ipsum, n_blocklist_hits,
               (n_sentences >= {min_sentences}
                AND NOT has_curly_brace
                AND NOT has_lorem_ipsum
                AND n_blocklist_hits = 0) AS c4_pass
        FROM sent
    """


def _duck_charset_filter_sql(
    source="documents",
    max_replacement_frac=0.0,
    max_control_frac=0.001,
    max_ws_frac=0.5,
    max_ws_run=200,
) -> str:
    """Oracle for ``charset_filter``: rebuilds the deterministic
    damage fixture (U+FFFD runs / C0 controls / whitespace pads keyed
    on doc_id), recomputes every signal with RE2 character classes
    written with explicit ``\\x`` escapes (the Java/RE2-agreeing
    subset — no shorthand ``\\s``), and re-derives the pass flag from
    the ROUNDED columns exactly as the operator does."""
    return f"""
        WITH fx AS (
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 5 = 0
                           THEN repeat('�', CAST(doc_id % 3 + 1 AS INT))
                           ELSE '' END
                   || CASE WHEN doc_id % 7 = 0
                           THEN chr(1) || 'ctl' || chr(2)
                           ELSE '' END
                   || CASE WHEN doc_id % 3 = 0
                           THEN repeat(' ',
                                       CAST((doc_id % 11) * 30 AS INT))
                           ELSE '' END AS text
            FROM {source}),
        sig AS (
            SELECT doc_id,
                   GREATEST(length(text), 1) AS n,
                   length(text) - length(replace(text, '�', ''))
                       AS n_repl,
                   len(regexp_extract_all(text,
                       '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]'))
                       AS n_ctl,
                   len(regexp_extract_all(text, '[^\\x00-\\x7F]'))
                       AS n_na,
                   len(regexp_extract_all(text,
                       '[ \\t\\n\\r\\x0B\\f]')) AS n_ws,
                   len(regexp_extract_all(text, '[0-9]')) AS n_dig,
                   CAST(COALESCE(list_max(list_transform(
                       regexp_extract_all(text, '[ \\t\\n\\r\\x0B\\f]+'),
                       x -> length(x))), 0) AS BIGINT) AS max_ws_run
            FROM fx),
        r AS (
            SELECT doc_id,
                   ROUND(n_repl / n, 6) AS replacement_char_frac,
                   ROUND(n_ctl / n, 6) AS control_char_frac,
                   ROUND(n_na / n, 6) AS non_ascii_frac,
                   ROUND(n_ws / n, 6) AS whitespace_frac,
                   ROUND(n_dig / n, 6) AS digit_frac,
                   max_ws_run
            FROM sig)
        SELECT *,
               (replacement_char_frac <= {max_replacement_frac}
                AND control_char_frac <= {max_control_frac}
                AND whitespace_frac <= {max_ws_frac}
                AND max_ws_run <= {max_ws_run}) AS charset_pass
        FROM r
    """


def _duck_gopher_filter_sql(source="documents") -> str:
    """Oracle for ``gopher_filter``: the repetition signals for exactly
    the thresholded n values, plus the conjunction flag GENERATED from
    the same published dicts the operator defaults to (Rae et al. 2021
    Table A1, all of n=5..10) — the SQL cannot drift from the Spark
    rule set."""
    from gbdc_spark.operators.quality import (
        GOPHER_MAX_DUP_NGRAM,
        GOPHER_MAX_TOP_NGRAM,
    )

    conds = [
        f"top_{n}gram_char_frac <= {t}"
        for n, t in GOPHER_MAX_TOP_NGRAM.items()
    ] + [
        f"dup_{n}gram_char_frac <= {t}"
        for n, t in GOPHER_MAX_DUP_NGRAM.items()
    ] + ["dup_line_frac <= 0.30", "dup_line_char_frac <= 0.20"]
    inner = _duck_repetition_sql(
        ns_top=tuple(GOPHER_MAX_TOP_NGRAM),
        ns_dup=tuple(GOPHER_MAX_DUP_NGRAM),
        source=source,
    )
    return f"""
            SELECT *,
                   ({" AND ".join(conds)}) AS gopher_pass
            FROM ({inner})
        """


def _duck_gopher_quality_sql(source="documents", min_words=50,
                             min_stopwords=2) -> str:
    """Oracle for ``gopher_quality_filter``: recomputes every Table-A1
    quality signal from first principles, stopword list and bullet /
    ellipsis prefixes pulled from the same module constants the
    operator defaults to, and derives the flag from the ROUNDED
    signals exactly as the Spark side does.  ``min_words`` /
    ``min_stopwords`` mirror the operator kwargs composed plans
    calibrate for the synthetic corpus."""
    from gbdc_spark.operators.quality import (
        GOPHER_BULLET_PREFIXES,
        GOPHER_ELLIPSIS_SUFFIXES,
        GOPHER_REQUIRED_STOPWORDS,
    )

    stops = ", ".join(f"'{s}'" for s in GOPHER_REQUIRED_STOPWORDS)
    bullets = " OR ".join(
        f"l LIKE '{p}%'" for p in GOPHER_BULLET_PREFIXES
    )
    ells = " OR ".join(
        f"l LIKE '%{s}'" for s in GOPHER_ELLIPSIS_SUFFIXES
    )
    return f"""
        WITH w AS (
            SELECT doc_id, text,
                   str_split(text, ' ') AS ws,
                   str_split(text, chr(10)) AS ls
            FROM {source}),
        sig AS (
            SELECT doc_id,
                   CAST(len(ws) AS BIGINT) AS n_words,
                   round(CAST(list_sum(list_transform(ws, x -> length(x)))
                              AS DOUBLE) / greatest(len(ws), 1), 6)
                       AS mean_word_len,
                   round(((length(text) - length(replace(text, '#', '')))
                          + (length(text)
                             - length(replace(text, '...', ''))) / 3.0)
                         / greatest(len(ws), 1), 6) AS symbol_word_ratio,
                   round(CAST(len(list_filter(ws,
                              x -> regexp_matches(x, '[A-Za-z]')))
                              AS DOUBLE) / greatest(len(ws), 1), 6)
                       AS alpha_word_frac,
                   CAST(len(list_filter([{stops}],
                        s -> list_contains(
                            list_transform(ws, x -> lower(x)), s)))
                        AS BIGINT) AS n_stopwords_present,
                   round(CAST(len(list_filter(ls, l -> {bullets}))
                              AS DOUBLE) / greatest(len(ls), 1), 6)
                       AS bullet_line_frac,
                   round(CAST(len(list_filter(ls, l -> {ells}))
                              AS DOUBLE) / greatest(len(ls), 1), 6)
                       AS ellipsis_line_frac
            FROM w)
        SELECT *,
               (n_words BETWEEN {min_words} AND 100000
                AND mean_word_len BETWEEN 3.0 AND 10.0
                AND symbol_word_ratio <= 0.10
                AND alpha_word_frac >= 0.80
                AND n_stopwords_present >= {min_stopwords}
                AND bullet_line_frac <= 0.90
                AND ellipsis_line_frac <= 0.30) AS gopher_quality_pass
        FROM sig
    """


def _duck_token_repetition_sql(ns_top=(2,), ns_dup=(5, 10)) -> str:
    """Oracle for ``token_repetition_signals``: token-gram group-bys
    over the replicated tokenizer, same lex-smallest tie-break."""
    ctes = [f"""w AS (
        SELECT {_DOC_KEY} AS doc_id,
               greatest(len({_DUCK_TOKENS_FLAT}), 1) AS total,
               {_DUCK_TOKENS_FLAT} AS toks
        FROM documents)"""]
    joins, cols = [], []
    for n in sorted(set(ns_top) | set(ns_dup)):
        ctes.append(f"""g{n} AS (
        SELECT doc_id, gram, count(*) AS cnt
        FROM (SELECT doc_id, unnest(list_transform(
                  range(1, greatest(len(toks) - {n} + 1, 0) + 1),
                  i -> array_to_string(list_slice(toks, i, i + {n} - 1), ','))) AS gram
              FROM w)
        GROUP BY doc_id, gram)""")
    for n in ns_top:
        ctes.append(f"""top{n} AS (
        SELECT doc_id, cnt FROM (
            SELECT doc_id, cnt,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, gram ASC) AS rn
            FROM g{n})
        WHERE rn = 1)""")
        joins.append(f"LEFT JOIN top{n} USING (doc_id)")
        cols.append(f"round(CAST(coalesce(top{n}.cnt, 0) * {n} AS DOUBLE)"
                    f" / w.total, 6) AS top_{n}tokgram_frac")
    for n in ns_dup:
        ctes.append(f"""dup{n} AS (
        SELECT doc_id,
               coalesce(sum(cnt) FILTER (WHERE cnt >= 2), 0) AS cnt
        FROM g{n} GROUP BY doc_id)""")
        joins.append(f"LEFT JOIN dup{n} USING (doc_id)")
        cols.append(f"round(CAST(coalesce(dup{n}.cnt, 0) * {n} AS DOUBLE)"
                    f" / w.total, 6) AS dup_{n}tokgram_frac")
    return ("WITH " + ",\n    ".join(ctes)
            + "\n    SELECT w.doc_id, " + ", ".join(cols)
            + "\n    FROM w " + " ".join(joins))


def oracle_sql() -> dict[str, str]:
    oracles = {
        "asof_join": """
            SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, p.value,
                   epoch_us(c.ts) AS click_ts_us, c.event_id AS click_id,
                   c.value AS click_value
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON p.user_id = c.user_id AND c.ts < p.ts
            QUALIFY row_number() OVER (
                PARTITION BY p.event_id
                ORDER BY c.ts DESC NULLS LAST, c.event_id DESC) = 1
        """,
        "asof_forward": """
            SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, p.value,
                   epoch_us(c.ts) AS click_ts_us, c.event_id AS click_id
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON p.user_id = c.user_id AND c.ts > p.ts
            QUALIFY row_number() OVER (
                PARTITION BY p.event_id
                ORDER BY c.ts ASC NULLS LAST, c.event_id ASC) = 1
        """,
        "asof_nearest": """
            SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, p.value,
                   epoch_us(c.ts) AS click_ts_us, c.event_id AS click_id
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON p.user_id = c.user_id AND c.ts <> p.ts
            QUALIFY row_number() OVER (
                PARTITION BY p.event_id
                ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)) ASC NULLS LAST,
                         (c.ts < p.ts) DESC,
                         CASE WHEN c.ts < p.ts THEN -c.event_id
                              ELSE c.event_id END ASC) = 1
        """,
        "stream_asof": """
            SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, p.value,
                   epoch_us(c.ts) AS click_ts_us, c.event_id AS click_id,
                   c.value AS click_value
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON p.user_id = c.user_id AND c.ts < p.ts
            QUALIFY row_number() OVER (
                PARTITION BY p.event_id
                ORDER BY c.ts DESC NULLS LAST, c.event_id DESC) = 1
        """,
        "asof_tolerance": """
            SELECT event_id, user_id, click_ts_us, click_id FROM (
                SELECT p.event_id, p.user_id,
                       epoch_us(c.ts) AS click_ts_us, c.event_id AS click_id,
                       row_number() OVER (
                           PARTITION BY p.event_id
                           ORDER BY c.ts DESC NULLS LAST, c.event_id DESC) AS rn
                FROM (SELECT * FROM events WHERE event_type = 'purchase') p
                LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
                  ON p.user_id = c.user_id AND c.ts < p.ts
                 AND c.ts >= p.ts - INTERVAL 10 MINUTE)
            WHERE rn = 1
        """,
        "lag_lead": """
            SELECT event_id, user_id,
                   lag(value)  OVER w AS value_lag1,
                   lead(value) OVER w AS value_lead1
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "ffill": """
            SELECT event_id, user_id, v,
                   last_value(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
            FROM (SELECT event_id, user_id, ts,
                         CASE WHEN event_type = 'click' THEN value END AS v
                  FROM events)
        """,
        "sessionize": """
            SELECT event_id, user_id,
                   CAST(sum(new_flag) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
            FROM (
                SELECT event_id, user_id, ts,
                       CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                                 OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                                     PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
                            THEN 1 ELSE 0 END AS new_flag
                FROM events)
        """,
        "sessionize_scalable": """
            SELECT event_id, user_id,
                   CAST(sum(new_flag) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
            FROM (
                SELECT event_id, user_id, ts,
                       CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                                 OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                                     PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
                            THEN 1 ELSE 0 END AS new_flag
                FROM events)
        """,
        "ffill_scalable": """
            SELECT event_id, user_id, v,
                   last_value(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
            FROM (SELECT event_id, user_id, ts,
                         CASE WHEN event_type = 'click' THEN value END AS v
                  FROM events)
        """,
        "lag_lead_scalable": """
            SELECT event_id, user_id,
                   lag(value)  OVER w AS value_lag1,
                   lead(value) OVER w AS value_lead1
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "session_agg": """
            WITH s AS (
                SELECT user_id, ts, value,
                       CAST(sum(new_flag) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
                FROM (
                    SELECT event_id, user_id, ts, value,
                           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                                     OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                                         PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
                                THEN 1 ELSE 0 END AS new_flag
                    FROM events))
            SELECT user_id, session_seq,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value,
                   epoch_us(min(ts)) AS t_start_us, epoch_us(max(ts)) AS t_end_us
            FROM s GROUP BY user_id, session_seq
        """,
        "stream_session_agg": """
            WITH s AS (
                SELECT user_id, ts,
                       CAST(sum(new_flag) OVER (
                           PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess
                FROM (
                    -- session_window semantics: merge iff diff < gap
                    -- (an exactly-gap-apart event starts a NEW session,
                    -- unlike the batch sessionizer's diff > gap)
                    SELECT user_id, ts,
                           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                                     OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                                         PARTITION BY user_id ORDER BY ts)) >= 1800000000
                                THEN 1 ELSE 0 END AS new_flag
                    FROM events))
            SELECT user_id,
                   epoch_us(min(ts)) AS w_start_us,
                   epoch_us(max(ts)) + 1800000000 AS w_end_us,
                   count(*) AS n_docs,
                   epoch_us(min(ts)) AS t_start_us,
                   epoch_us(max(ts)) AS t_end_us
            FROM s GROUP BY user_id, sess
        """,
        "stream_dedup": """
            SELECT md5(text) AS content_hash, CAST(1 AS BIGINT) AS n_kept
            FROM documents GROUP BY md5(text)
        """,
        "ewma": """
            WITH RECURSIVE e AS (
                SELECT user_id, event_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events),
            r AS (
                SELECT user_id, event_id, value, rn,
                       CAST(value AS DOUBLE) AS ewma
                FROM e WHERE rn = 1
              UNION ALL
                SELECT e.user_id, e.event_id, e.value, e.rn,
                       0.5 * e.value + (1 - 0.5) * r.ewma
                FROM r JOIN e ON e.user_id = r.user_id
                             AND e.rn = r.rn + 1)
            SELECT user_id, event_id, value, round(ewma, 6) AS ewma
            FROM r
        """,
        # the streaming EWMA is batch-equivalent by construction
        # (ts-range micro-batches + per-bucket state carrying the
        # predecessor value), so the batch recursion oracles it
        "stream_ewma": """
            WITH RECURSIVE e AS (
                SELECT user_id, event_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events),
            r AS (
                SELECT user_id, event_id, value, rn,
                       CAST(value AS DOUBLE) AS ewma
                FROM e WHERE rn = 1
              UNION ALL
                SELECT e.user_id, e.event_id, e.value, e.rn,
                       0.5 * e.value + (1 - 0.5) * r.ewma
                FROM r JOIN e ON e.user_id = r.user_id
                             AND e.rn = r.rn + 1)
            SELECT user_id, event_id, value, round(ewma, 6) AS ewma
            FROM r
        """,
        "stream_near_dedup": f"""
            WITH {_DUCK_MINHASH_CAND},
            r AS (SELECT doc_id, band, bkey,
                         row_number() OVER (PARTITION BY band, bkey
                                            ORDER BY doc_id) AS rn
                  FROM banded)
            SELECT doc_id,
                   CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT)
                       AS n_dup_bands,
                   count(*) FILTER (WHERE rn > 1) > 0 AS dup_near
            FROM r GROUP BY doc_id
        """,
        "quality_signals": """
            WITH w AS (
                SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
            bg AS (
                SELECT doc_id,
                       list_transform(
                           range(1, greatest(len(ws) - 1, 1) + 1),
                           i -> array_to_string(list_slice(ws, i, i + 1), ' ')) AS bigrams,
                       ws
                FROM w),
            bstat AS (
                SELECT doc_id, max(cnt) AS top_cnt, sum(cnt) AS tot_cnt
                FROM (SELECT doc_id, gram, count(*) AS cnt
                      FROM (SELECT doc_id, unnest(bigrams) AS gram FROM bg)
                      GROUP BY doc_id, gram)
                GROUP BY doc_id)
            SELECT b.doc_id,
                   round(CAST(s.top_cnt AS DOUBLE) / s.tot_cnt, 6) AS top_bigram_frac,
                   round(CAST(len(b.ws) - len(list_distinct(b.ws)) AS DOUBLE)
                         / greatest(len(b.ws), 1), 6) AS dup_word_frac,
                   round(CAST(list_sum(list_transform(b.ws, x -> length(x))) AS DOUBLE)
                         / greatest(len(b.ws), 1), 6) AS mean_word_len,
                   round(CAST(len(list_filter(b.ws, x -> x LIKE '%...')) AS DOUBLE)
                         / greatest(len(b.ws), 1), 6) AS ellipsis_line_frac,
                   round(CAST(len(list_filter(b.ws, x -> regexp_matches(x, '^[0-9]+$'))) AS DOUBLE)
                         / greatest(len(b.ws), 1), 6) AS numeric_frac
            FROM bg b JOIN bstat s USING (doc_id)
        """,
        "repetition_signals": _duck_repetition_sql(),
        "token_repetition_signals": _duck_token_repetition_sql(),
        "gopher_filter": _duck_gopher_filter_sql(),
        "gopher_quality_filter": _duck_gopher_quality_sql(),
        "c4_filter": _duck_c4_filter_sql(),
        "charset_filter": _duck_charset_filter_sql(),
        "ngram_contamination": """
            WITH u AS (
                SELECT doc_id, text,
                       list_sum(list_transform(range(0, 8), i ->
                           CAST(strpos('0123456789abcdef',
                                substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INTEGER) + 1, 1)) - 1
                                AS BIGINT)
                           * CAST(pow(16, 7 - i) AS BIGINT))) AS h
                FROM documents),
            bench AS (SELECT doc_id, text FROM u WHERE h < 0.05 * 4294967296.0),
            corpus AS (SELECT doc_id, text FROM u WHERE h >= 0.05 * 4294967296.0),
            grams AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                           range(1, len(str_split(text, ' ')) - 7 + 1),
                           i -> array_to_string(
                               list_slice(str_split(text, ' '), i, i + 7), ' ')))) AS gram
                FROM corpus WHERE len(str_split(text, ' ')) >= 8),
            bgrams AS (
                SELECT DISTINCT unnest(list_distinct(list_transform(
                           range(1, len(str_split(text, ' ')) - 7 + 1),
                           i -> array_to_string(
                               list_slice(str_split(text, ' '), i, i + 7), ' ')))) AS gram
                FROM bench WHERE len(str_split(text, ' ')) >= 8)
            SELECT g.doc_id, count(*) AS n_hits
            FROM grams g JOIN bgrams b USING (gram)
            GROUP BY g.doc_id
        """,
        "token_ngram_contamination": f"""
            WITH t AS (SELECT {_DOC_KEY} AS doc_id, {_DUCK_TOKENS_FLAT} AS toks
                       FROM documents),
            u AS (
                SELECT doc_id, toks,
                       list_sum(list_transform(range(0, 8), i ->
                           CAST(strpos('0123456789abcdef',
                                substr(md5(doc_id), CAST(i AS INTEGER) + 1, 1)) - 1
                                AS BIGINT)
                           * CAST(pow(16, 7 - i) AS BIGINT))) AS h
                FROM t),
            bench AS (SELECT doc_id, toks FROM u WHERE h < 0.05 * 4294967296.0),
            corpus AS (SELECT doc_id, toks FROM u WHERE h >= 0.05 * 4294967296.0),
            grams AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                           range(1, len(toks) - 7 + 1),
                           i -> array_to_string(
                               list_transform(list_slice(toks, i, i + 7),
                                              x -> CAST(x AS VARCHAR)),
                               ' ')))) AS gram
                FROM corpus WHERE len(toks) >= 8),
            bgrams AS (
                SELECT DISTINCT unnest(list_distinct(list_transform(
                           range(1, len(toks) - 7 + 1),
                           i -> array_to_string(
                               list_transform(list_slice(toks, i, i + 7),
                                              x -> CAST(x AS VARCHAR)),
                               ' ')))) AS gram
                FROM bench WHERE len(toks) >= 8)
            SELECT g.doc_id, count(*) AS n_hits
            FROM grams g JOIN bgrams b USING (gram)
            GROUP BY g.doc_id
        """,
        "split_contamination": f"""
            WITH t AS (SELECT {_DOC_KEY} AS doc_id, {_DUCK_TOKENS_FLAT} AS toks
                       FROM documents),
            s AS (
                SELECT doc_id, toks,
                       {_duck_md5_u32("concat('split:', doc_id)")}
                           / 4294967296.0 AS uu
                FROM t),
            corpus AS (SELECT doc_id, toks FROM s WHERE uu < 0.8),
            bench AS (SELECT doc_id, toks FROM s
                      WHERE uu >= 0.8 AND uu < 0.9),
            grams AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                           range(1, len(toks) - 7 + 1),
                           i -> array_to_string(
                               list_transform(list_slice(toks, i, i + 7),
                                              x -> CAST(x AS VARCHAR)),
                               ' ')))) AS gram
                FROM corpus WHERE len(toks) >= 8),
            bgrams AS (
                SELECT DISTINCT unnest(list_distinct(list_transform(
                           range(1, len(toks) - 7 + 1),
                           i -> array_to_string(
                               list_transform(list_slice(toks, i, i + 7),
                                              x -> CAST(x AS VARCHAR)),
                               ' ')))) AS gram
                FROM bench WHERE len(toks) >= 8)
            SELECT g.doc_id, count(*) AS n_hits
            FROM grams g JOIN bgrams b USING (gram)
            GROUP BY g.doc_id
        """,
        "lm_perplexity": """
            WITH w AS (
                SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
            p AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
                       unnest(list_transform(range(1, len(ws)), i -> ws[i + 1])) AS w2
                FROM w WHERE len(ws) >= 2),
            bc AS (SELECT w1, w2, count(*) AS c12 FROM p
                   GROUP BY w1, w2 HAVING count(*) >= 2),
            uc AS (SELECT w AS w1, count(*) AS c1
                   FROM (SELECT unnest(ws) AS w FROM w) GROUP BY w),
            v AS (SELECT count(DISTINCT w) AS v
                  FROM (SELECT unnest(ws) AS w FROM w)),
            scored AS (
                SELECT p.doc_id, count(*) AS n_bigrams,
                       avg(-ln((coalesce(bc.c12, 0) + 1)
                               / CAST(uc.c1 + v.v AS DOUBLE))) AS h
                FROM p
                LEFT JOIN bc USING (w1, w2)
                JOIN uc USING (w1)
                CROSS JOIN v
                GROUP BY p.doc_id)
            SELECT d.doc_id, s.n_bigrams,
                   round(s.h, 6) AS cross_entropy,
                   round(exp(s.h), 6) AS perplexity
            FROM documents d LEFT JOIN scored s USING (doc_id)
        """,
        "token_lm_perplexity": f"""
            WITH w AS (
                SELECT {_DOC_KEY} AS doc_id,
                       {_DUCK_TOKENS_FLAT} AS ws
                FROM documents),
            p AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(ws)),
                                             i -> ws[i])) AS w1,
                       unnest(list_transform(range(1, len(ws)),
                                             i -> ws[i + 1])) AS w2
                FROM w WHERE len(ws) >= 2),
            bc AS (SELECT w1, w2, count(*) AS c12 FROM p
                   GROUP BY w1, w2 HAVING count(*) >= 2),
            uc AS (SELECT w AS w1, count(*) AS c1
                   FROM (SELECT unnest(ws) AS w FROM w) GROUP BY w),
            v AS (SELECT count(DISTINCT w) AS v
                  FROM (SELECT unnest(ws) AS w FROM w)),
            scored AS (
                SELECT p.doc_id, count(*) AS n_bigrams,
                       avg(-ln((coalesce(bc.c12, 0) + 1)
                               / CAST(uc.c1 + v.v AS DOUBLE))) AS h
                FROM p
                LEFT JOIN bc USING (w1, w2)
                JOIN uc USING (w1)
                CROSS JOIN v
                GROUP BY p.doc_id)
            SELECT w.doc_id, s.n_bigrams,
                   round(s.h, 6) AS cross_entropy,
                   round(exp(s.h), 6) AS perplexity
            FROM w LEFT JOIN scored s USING (doc_id)
        """,
        "kn_perplexity": """
            WITH w AS (
                SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
            p AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
                       unnest(list_transform(range(1, len(ws)), i -> ws[i + 1])) AS w2
                FROM w WHERE len(ws) >= 2),
            bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
                   FROM p GROUP BY w1, w2),
            hist AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1h,
                            CAST(count(*) AS BIGINT) AS n1p_fw
                     FROM bc GROUP BY w1),
            cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p_bw
                     FROM bc GROUP BY w2),
            ty AS (SELECT CAST(count(*) AS BIGINT) AS t_types FROM bc),
            scored AS (
                SELECT p.doc_id, count(*) AS n_bigrams,
                       avg(-ln(
                           CASE WHEN bc.c12 IS NOT NULL THEN
                               greatest(bc.c12 - 0.75, 0.0) / hist.c1h
                               + ((0.75 * hist.n1p_fw) / hist.c1h)
                                 * coalesce(cont.n1p_bw / ty.t_types,
                                            1.0 / ty.t_types)
                           WHEN hist.c1h IS NOT NULL THEN
                               ((0.75 * hist.n1p_fw) / hist.c1h)
                               * coalesce(cont.n1p_bw / ty.t_types,
                                          1.0 / ty.t_types)
                           ELSE coalesce(cont.n1p_bw / ty.t_types,
                                         1.0 / ty.t_types) END)) AS h
                FROM p
                LEFT JOIN bc USING (w1, w2)
                LEFT JOIN hist USING (w1)
                LEFT JOIN cont USING (w2)
                CROSS JOIN ty
                GROUP BY p.doc_id)
            SELECT d.doc_id, s.n_bigrams,
                   round(s.h, 6) AS cross_entropy,
                   round(exp(s.h), 6) AS perplexity
            FROM documents d LEFT JOIN scored s USING (doc_id)
        """,
        "line_dedup": """
            WITH c AS (
                SELECT doc_id,
                       list_transform(
                           range(0, CAST(ceil(len(ws) / 5.0) AS INTEGER)),
                           i -> array_to_string(
                               list_slice(ws, CAST(i AS INTEGER) * 5 + 1,
                                          CAST(i AS INTEGER) * 5 + 5), ' ')) AS chunks
                FROM (SELECT doc_id, str_split(text, ' ') AS ws FROM documents)),
            l AS (
                SELECT doc_id, unnest(chunks) AS line,
                       generate_subscripts(chunks, 1) - 1 AS pos
                FROM c),
            fst AS (
                SELECT doc_id, pos, line FROM (
                    SELECT doc_id, pos, line,
                           row_number() OVER (
                               PARTITION BY line ORDER BY doc_id, pos) AS rn
                    FROM l) WHERE rn = 1),
            kept AS (
                SELECT doc_id,
                       string_agg(line, chr(10) ORDER BY pos) AS text_dedup,
                       count(*) AS n_kept
                FROM fst GROUP BY doc_id)
            SELECT c.doc_id,
                   coalesce(k.text_dedup, '') AS text_dedup,
                   CAST(len(c.chunks) AS BIGINT) AS n_lines,
                   CAST(len(c.chunks) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed
            FROM c LEFT JOIN kept k USING (doc_id)
        """,
        "pii_scrub": _duck_pii_sql(),
        "mask_tokens": f"""
            WITH s AS (
                SELECT {_DOC_KEY} AS doc_id, {_DUCK_TOKENS_FLAT} AS toks
                FROM documents),
            m AS (
                -- NB the mask-position lambda variable must NOT be
                -- named i: _duck_md5_u32 expands to a list_transform
                -- whose own i would shadow it (silent wrong hashes)
                SELECT doc_id, toks,
                       list_transform(range(1, len(toks) + 1), mp ->
                           CASE WHEN toks[mp] != 0
                                 AND {_duck_md5_u32("concat('mlm:', doc_id, ':', CAST(mp - 1 AS VARCHAR))")} < 644245094
                                THEN -999 ELSE toks[mp] END) AS masked,
                       list_filter(
                           list_transform(range(1, len(toks) + 1), mp ->
                               CASE WHEN toks[mp] != 0
                                     AND {_duck_md5_u32("concat('mlm:', doc_id, ':', CAST(mp - 1 AS VARCHAR))")} < 644245094
                                    THEN mp - 1 ELSE NULL END),
                           x -> x IS NOT NULL) AS pos
                FROM s)
            SELECT doc_id,
                   CAST(len(toks) AS INTEGER) AS n_tok,
                   CAST(len(pos) AS INTEGER) AS n_masked,
                   -- array_to_string([]) is NULL in DuckDB (concat_ws
                   -- in Spark gives '') — coalesce to match empty docs
                   md5(coalesce(array_to_string(masked, ','), '')) AS masked_md5,
                   md5(coalesce(array_to_string(pos, ','), '')) AS pos_md5
            FROM m
        """,
        "sft_mask": f"""
            WITH t AS (
                SELECT {_DOC_KEY} AS doc_id, {_DUCK_TOKENS_FLAT} AS toks
                FROM documents),
            p AS (SELECT doc_id, toks, len(toks) AS n,
                         greatest(len(toks) // 4, 1) AS q
                  FROM t),
            tu AS (
                SELECT doc_id, g.i,
                       CASE WHEN g.i % 2 = 0 THEN 'user'
                            ELSE 'assistant' END AS role,
                       CASE WHEN g.i < 3 THEN toks[g.i*q + 1 : g.i*q + q]
                            ELSE toks[3*q + 1 : n] END AS tt
                FROM p, (SELECT unnest(range(0, 4)) AS i) g),
            r AS (
                SELECT doc_id, i,
                       (CASE WHEN role = 'user' THEN [-101]
                             ELSE [-102] END) || tt || [-103] AS ids,
                       [-100]
                       || (CASE WHEN role = 'assistant' THEN tt
                                ELSE list_transform(tt, x -> -100) END)
                       || (CASE WHEN role = 'assistant' THEN [-103]
                                ELSE [-100] END) AS labels
                FROM tu),
            f AS (
                SELECT doc_id,
                       flatten(list(ids ORDER BY i)) AS input_ids,
                       flatten(list(labels ORDER BY i)) AS labels
                FROM r GROUP BY doc_id)
            SELECT doc_id,
                   CAST(len(input_ids) AS INTEGER) AS n_tok,
                   CAST(len(list_filter(labels, x -> x != -100))
                        AS INTEGER) AS n_train_tokens,
                   md5(coalesce(array_to_string(input_ids, ','), ''))
                       AS ids_md5,
                   md5(coalesce(array_to_string(labels, ','), ''))
                       AS labels_md5
            FROM f
        """,
        "fim_transform": f"""
            WITH s AS (
                SELECT {_DOC_KEY} AS doc_id, {_DUCK_TOKENS_FLAT} AS toks
                FROM documents),
            c AS (
                SELECT doc_id, toks, len(toks) AS n,
                       list_sum(list_transform(range(0, 8), i -> CAST(strpos('0123456789abcdef', substr(md5(concat('fim:', doc_id, ':apply')), CAST(i AS INTEGER) + 1, 1)) - 1 AS BIGINT) * CAST(pow(16, 7 - i) AS BIGINT))) < 2147483648 AS applied,
                       CAST(list_sum(list_transform(range(0, 8), i -> CAST(strpos('0123456789abcdef', substr(md5(concat('fim:', doc_id, ':cut1')), CAST(i AS INTEGER) + 1, 1)) - 1 AS BIGINT) * CAST(pow(16, 7 - i) AS BIGINT))) % (len(toks) + 1) AS INTEGER) AS c1,
                       CAST(list_sum(list_transform(range(0, 8), i -> CAST(strpos('0123456789abcdef', substr(md5(concat('fim:', doc_id, ':cut2')), CAST(i AS INTEGER) + 1, 1)) - 1 AS BIGINT) * CAST(pow(16, 7 - i) AS BIGINT))) % (len(toks) + 1) AS INTEGER) AS c2
                FROM s),
            cuts AS (
                SELECT doc_id, toks, n, applied,
                       least(c1, c2) AS a, greatest(c1, c2) AS b
                FROM c),
            built AS (
                SELECT doc_id, applied,
                       CASE WHEN applied THEN a END AS fim_a,
                       CASE WHEN applied THEN b END AS fim_b,
                       CASE WHEN applied THEN
                            [-2000001] || toks[1:a] || [-2000003]
                            || toks[b + 1:n] || [-2000002] || toks[a + 1:b]
                       ELSE toks END AS fim_ids
                FROM cuts)
            SELECT doc_id, applied AS fim_applied, fim_a, fim_b,
                   md5(coalesce(array_to_string(fim_ids, ','), '')) AS fim_md5
            FROM built
        """,
        "span_corrupt": f"""
            WITH s AS (
                SELECT {_DOC_KEY} AS doc_id, {_DUCK_TOKENS_FLAT} AS toks
                FROM documents),
            m AS (
                -- mp (not i): _duck_md5_u32 expands to a list_transform
                -- whose own i would shadow the position variable
                SELECT doc_id, toks,
                       list_transform(range(1, len(toks) + 1), mp ->
                           toks[mp] != 0
                           AND list_sum(list_transform(range(0, 8), i -> CAST(strpos('0123456789abcdef', substr(md5(concat('mlm:', doc_id, ':', CAST(mp - 1 AS VARCHAR))), CAST(i AS INTEGER) + 1, 1)) - 1 AS BIGINT) * CAST(pow(16, 7 - i) AS BIGINT))) < 644245094) AS msk
                FROM s),
            sp AS (
                -- out-of-range probes msk[0]/msk[len+1] are NULL; the
                -- OR's TRUE branch wins under three-valued logic
                SELECT doc_id, toks, msk,
                       list_filter(range(1, len(toks) + 1), mp ->
                           msk[mp] AND (mp = 1 OR NOT msk[mp - 1])) AS starts,
                       list_filter(range(1, len(toks) + 1), mp ->
                           msk[mp] AND (mp = len(toks) OR NOT msk[mp + 1])) AS ends
                FROM m),
            built AS (
                SELECT doc_id,
                       CAST(len(starts) AS INTEGER) AS n_spans,
                       flatten(list_transform(range(1, len(toks) + 1), mp ->
                           CASE WHEN coalesce(list_position(starts, mp), 0) > 0
                                THEN [-1000000 - (list_position(starts, mp) - 1)]
                                WHEN msk[mp] THEN []
                                ELSE [toks[mp]] END)) AS input_ids,
                       flatten(list_transform(range(1, len(starts) + 1), k ->
                           list_concat([-1000000 - (CAST(k AS INTEGER) - 1)],
                                       toks[starts[k]:ends[k]]))) AS target_ids
                FROM sp)
            SELECT doc_id, n_spans,
                   md5(coalesce(array_to_string(input_ids, ','), '')) AS input_md5,
                   md5(coalesce(array_to_string(target_ids, ','), '')) AS target_md5
            FROM built
        """,
        "temperature_mix": f"""
            WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
            t AS (SELECT sum(n) AS tot FROM c),
            p AS (SELECT source, n / CAST(t.tot AS DOUBLE) AS p_raw
                  FROM c CROSS JOIN t),
            z AS (SELECT sum(pow(p_raw, 0.5)) AS z FROM p),
            b AS (SELECT source,
                         round(pow(p_raw, 0.5) / z.z / p_raw, 6) AS boost
                  FROM p CROSS JOIN z),
            e AS (SELECT source, boost,
                         CAST(floor(boost) AS INTEGER) AS base,
                         CAST(floor((boost - floor(boost)) * 4294967296.0)
                              AS BIGINT) AS thr
                  FROM b)
            SELECT d.doc_id, d.source, e.boost,
                   CAST(e.base + CASE WHEN
                       {_duck_md5_u32("concat('tmix:', CAST(d.doc_id AS VARCHAR))")}
                       < e.thr THEN 1 ELSE 0 END AS INTEGER) AS n_copies
            FROM documents d JOIN e USING (source)
        """,
        "rank_fuse": """
            WITH s AS (
                SELECT doc_id, 'chars' AS ranker,
                       CAST(n_chars AS DOUBLE) AS score
                FROM documents
                UNION ALL
                SELECT doc_id, 'words',
                       CAST(len(str_split(text, ' ')) AS DOUBLE)
                FROM documents),
            r AS (
                SELECT doc_id, ranker,
                       row_number() OVER (PARTITION BY ranker
                                          ORDER BY score DESC, doc_id) AS rn
                FROM s WHERE score IS NOT NULL)
            SELECT doc_id,
                   CAST(sum(1000000000 // (60 + rn)) AS BIGINT) AS rrf_micro,
                   CAST(count(*) AS BIGINT) AS n_rankers,
                   sum(1000000000 // (60 + rn)) / 1000000000.0
                       AS rrf_score
            FROM r GROUP BY doc_id
        """,
        "unimax_expand": f"""
            WITH n AS (
                SELECT lang,
                       min(CAST(n_chars AS DOUBLE)) AS lo,
                       max(CAST(n_chars AS DOUBLE)) AS hi
                FROM documents GROUP BY lang),
            kept AS (
                SELECT d.doc_id, d.lang, d.n_chars
                FROM documents d JOIN n USING (lang)
                WHERE round(CASE WHEN n.hi > n.lo
                                 THEN (CAST(d.n_chars AS DOUBLE) - n.lo)
                                      / (n.hi - n.lo)
                                 ELSE 0.0 END, 6) >= 0.2),
            c AS (
                SELECT lang, sum(n_chars)::BIGINT AS sz
                FROM kept GROUP BY lang),
            b AS (
                SELECT (3 * sum(sz)) // 2 AS budget FROM c),
            r AS (
                SELECT lang, sz, 2 * sz AS capacity,
                       row_number() OVER (ORDER BY 2 * sz, lang) AS i,
                       coalesce(sum(2 * sz) OVER (
                           ORDER BY 2 * sz, lang
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cumb,
                       count(*) OVER () AS k
                FROM c),
            f AS (
                SELECT r.*, b.budget,
                       (capacity * (k - i + 1) <= budget - cumb)
                           AS is_capped
                FROM r CROSS JOIN b),
            agg AS (
                SELECT sum(CASE WHEN is_capped THEN capacity
                                ELSE 0 END) AS csum,
                       sum(CASE WHEN is_capped THEN 0 ELSE 1 END) AS nunc,
                       any_value(budget) AS budget
                FROM f),
            alloc AS (
                SELECT f.lang, f.sz,
                       CASE WHEN f.is_capped THEN f.capacity
                            ELSE CAST(floor((agg.budget - agg.csum)
                                 / greatest(agg.nunc, 1)) AS BIGINT)
                       END AS allocated
                FROM f CROSS JOIN agg),
            e AS (
                SELECT lang,
                       round(allocated / CAST(sz AS DOUBLE), 6) AS epochs
                FROM alloc),
            t AS (
                SELECT lang,
                       CAST(floor(epochs) AS INTEGER) AS base,
                       CAST(floor((epochs - floor(epochs)) * 4294967296.0)
                            AS BIGINT) AS thr
                FROM e),
            m AS (
                SELECT kept.doc_id, kept.lang,
                       CAST(t.base + CASE WHEN
                           {_duck_md5_u32("concat('unimax:', CAST(kept.doc_id AS VARCHAR))")}
                           < t.thr THEN 1 ELSE 0 END AS INTEGER) AS n_copies
                FROM kept JOIN t USING (lang))
            SELECT doc_id, lang, n_copies,
                   CAST(unnest(range(1, n_copies + 1)) AS INTEGER)
                       AS copy_idx
            FROM m WHERE n_copies > 0
        """,
        "unimax_mix": f"""
            WITH c AS (
                SELECT lang, sum(n_chars)::BIGINT AS sz
                FROM documents GROUP BY lang),
            b AS (
                SELECT (3 * sum(sz)) // 2 AS budget FROM c),
            r AS (
                SELECT lang, sz, 2 * sz AS capacity,
                       row_number() OVER (ORDER BY 2 * sz, lang) AS i,
                       coalesce(sum(2 * sz) OVER (
                           ORDER BY 2 * sz, lang
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cumb,
                       count(*) OVER () AS k
                FROM c),
            f AS (
                SELECT r.*, b.budget,
                       (capacity * (k - i + 1) <= budget - cumb)
                           AS is_capped
                FROM r CROSS JOIN b),
            agg AS (
                SELECT sum(CASE WHEN is_capped THEN capacity
                                ELSE 0 END) AS csum,
                       sum(CASE WHEN is_capped THEN 0 ELSE 1 END) AS nunc,
                       any_value(budget) AS budget
                FROM f),
            alloc AS (
                SELECT f.lang, f.sz,
                       CASE WHEN f.is_capped THEN f.capacity
                            ELSE CAST(floor((agg.budget - agg.csum)
                                 / greatest(agg.nunc, 1)) AS BIGINT)
                       END AS allocated
                FROM f CROSS JOIN agg),
            e AS (
                SELECT lang,
                       round(allocated / CAST(sz AS DOUBLE), 6) AS epochs
                FROM alloc),
            t AS (
                SELECT lang, epochs,
                       CAST(floor(epochs) AS INTEGER) AS base,
                       CAST(floor((epochs - floor(epochs)) * 4294967296.0)
                            AS BIGINT) AS thr
                FROM e)
            SELECT d.doc_id, d.lang, d.n_chars, t.epochs,
                   CAST(t.base + CASE WHEN
                       {_duck_md5_u32("concat('unimax:', CAST(d.doc_id AS VARCHAR))")}
                       < t.thr THEN 1 ELSE 0 END AS INTEGER) AS n_copies
            FROM documents d JOIN t USING (lang)
        """,
        "score_norm_minmax": """
            WITH s AS (
                SELECT source,
                       min(CAST(n_chars AS DOUBLE)) AS lo,
                       max(CAST(n_chars AS DOUBLE)) AS hi
                FROM documents GROUP BY source)
            SELECT d.doc_id, d.source, d.n_chars,
                   round(CASE WHEN s.hi > s.lo
                              THEN (CAST(d.n_chars AS DOUBLE) - s.lo)
                                   / (s.hi - s.lo)
                              ELSE 0.0 END, 6) AS score_norm
            FROM documents d JOIN s USING (source)
        """,
        "score_norm_zscore": """
            WITH s AS (
                SELECT source,
                       avg(CAST(n_chars AS DOUBLE)) AS mu,
                       stddev_pop(CAST(n_chars AS DOUBLE)) AS sd
                FROM documents GROUP BY source)
            SELECT d.doc_id, d.source, d.n_chars,
                   round(CASE WHEN s.sd > 0
                              THEN (CAST(d.n_chars AS DOUBLE) - s.mu) / s.sd
                              ELSE 0.0 END, 6) AS score_norm
            FROM documents d JOIN s USING (source)
        """,
        "platt_scale": _duck_platt_sql(epochs=3, lr=1.0),
        "platt_metrics": f"""
            SELECT CAST(count(*) AS BIGINT) AS n,
                   round(avg((b.calibrated - y.y) * (b.calibrated - y.y)),
                         6) AS brier,
                   round(-avg(y.y * ln(least(greatest(b.calibrated,
                                                      0.000000001),
                                             0.999999999))
                              + (1.0 - y.y)
                                * ln(1.0 - least(greatest(b.calibrated,
                                                          0.000000001),
                                                 0.999999999))), 6)
                       AS log_loss,
                   round(avg(CASE WHEN (b.calibrated >= 0.5)
                                       = (y.y = 1.0)
                                  THEN 1.0 ELSE 0.0 END), 6) AS accuracy
            FROM ({_duck_platt_sql(epochs=3, lr=1.0)}) b
            JOIN (SELECT doc_id,
                         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
                  FROM documents) y USING (doc_id)
        """,
        "ks_drift": """
            WITH a AS (
                SELECT CAST(n_chars AS DOUBLE) AS s,
                       CAST(count(*) AS BIGINT) AS ca
                FROM documents WHERE lang = 'en' GROUP BY 1),
            b AS (
                SELECT CAST(n_chars AS DOUBLE) AS s,
                       CAST(count(*) AS BIGINT) AS cb
                FROM documents WHERE lang <> 'en' GROUP BY 1),
            j AS (
                SELECT coalesce(a.s, b.s) AS s,
                       coalesce(a.ca, 0) AS ca,
                       coalesce(b.cb, 0) AS cb
                FROM a FULL JOIN b ON a.s = b.s),
            c AS (
                SELECT sum(ca) OVER (ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS fa,
                       sum(cb) OVER (ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS fb
                FROM j),
            t AS (SELECT sum(ca) AS n_ref, sum(cb) AS n_new FROM j)
            SELECT t.n_ref, t.n_new,
                   round(max(abs(c.fa / CAST(t.n_ref AS DOUBLE)
                                 - c.fb / CAST(t.n_new AS DOUBLE))), 6)
                       AS ks_d
            FROM c CROSS JOIN t GROUP BY t.n_ref, t.n_new
        """,
        "psi_drift": """
            WITH ref AS (SELECT CAST(n_chars AS DOUBLE) AS s
                         FROM documents
                         WHERE lang = 'en' AND n_chars IS NOT NULL),
            nw AS (SELECT CAST(n_chars AS DOUBLE) AS s
                   FROM documents
                   WHERE lang <> 'en' AND n_chars IS NOT NULL),
            b AS (SELECT min(s) AS lo, max(s) AS hi FROM ref),
            pb AS (
                SELECT CAST(least(greatest(floor((s - b.lo) * 10.0
                           / (b.hi - b.lo)), 0), 9) AS BIGINT) AS bb,
                       CAST(count(*) AS BIGINT) AS c
                FROM ref CROSS JOIN b GROUP BY 1),
            qb AS (
                SELECT CAST(least(greatest(floor((s - b.lo) * 10.0
                           / (b.hi - b.lo)), 0), 9) AS BIGINT) AS bb,
                       CAST(count(*) AS BIGINT) AS c
                FROM nw CROSS JOIN b GROUP BY 1),
            j AS (
                SELECT coalesce(pb.c, 0) AS cr, coalesce(qb.c, 0) AS cn
                FROM pb FULL JOIN qb USING (bb)),
            t AS (SELECT sum(cr) AS n_ref, sum(cn) AS n_new FROM j)
            SELECT t.n_ref, t.n_new,
                   round(sum(
                       (greatest(j.cn / CAST(t.n_new AS DOUBLE), 0.000001)
                        - greatest(j.cr / CAST(t.n_ref AS DOUBLE),
                                   0.000001))
                       * ln(greatest(j.cn / CAST(t.n_new AS DOUBLE),
                                     0.000001)
                            / greatest(j.cr / CAST(t.n_ref AS DOUBLE),
                                       0.000001))), 6) AS psi
            FROM j CROSS JOIN t GROUP BY t.n_ref, t.n_new
        """,
        "time_resample": """
            WITH a AS (
                SELECT user_id,
                       CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT)
                           AS bucket,
                       CAST(count(*) AS BIGINT) AS n_events,
                       sum(value) AS vsum,
                       avg(value) AS vmean
                FROM events GROUP BY user_id, bucket),
            s AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
                  FROM a GROUP BY user_id),
            g AS (SELECT user_id,
                         unnest(generate_series(b0, b1)) AS bucket
                  FROM s)
            SELECT g.user_id, g.bucket,
                   make_timestamp(g.bucket * 3600000000) AS bucket_start,
                   coalesce(a.n_events, 0) AS n_events,
                   coalesce(a.vsum, 0.0) AS value_sum,
                   round(a.vmean, 6) AS value_mean
            FROM g LEFT JOIN a USING (user_id, bucket)
        """,
        "group_auc": """
            WITH d AS (
                SELECT doc_id, source,
                       CAST(n_chars AS DOUBLE) AS s,
                       CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
                FROM documents),
            g AS (SELECT source, s, count(*) AS n, sum(y) AS np
                  FROM d GROUP BY source, s),
            r AS (
                SELECT source, s, n, np,
                       coalesce(sum(n) OVER (PARTITION BY source
                           ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0.0) AS below
                FROM g)
            SELECT source,
                   CAST(sum(np) AS BIGINT) AS n_pos,
                   CAST(sum(n) - sum(np) AS BIGINT) AS n_neg,
                   round(CASE WHEN sum(np) > 0
                                   AND sum(n) - sum(np) > 0
                              THEN (sum(np * (below + (n + 1) / 2.0))
                                    - sum(np) * (sum(np) + 1) / 2.0)
                                   / (sum(np) * (sum(n) - sum(np)))
                         END, 6) AS auc
            FROM r GROUP BY source
        """,
        "conformal_gate": """
            WITH rk AS (
                SELECT doc_id, lang, n_chars,
                       CAST(n_chars AS DOUBLE) AS s,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY CAST(n_chars AS DOUBLE),
                                                   doc_id) AS rn,
                       count(*) OVER (PARTITION BY lang) AS n
                FROM documents),
            thr AS (
                SELECT lang, s AS t FROM rk
                WHERE rn = CAST(ceil((n + 1) * 0.9) AS BIGINT))
            SELECT rk.doc_id, rk.lang, rk.n_chars,
                   thr.t AS conformal_threshold,
                   CASE WHEN rk.s IS NULL THEN NULL
                        WHEN thr.t IS NULL THEN TRUE
                        ELSE rk.s <= thr.t END AS conformal_keep
            FROM rk LEFT JOIN thr USING (lang)
        """,
        "isotonic_calibrate": """
            WITH r AS (
                SELECT doc_id,
                       round(CAST(n_chars AS DOUBLE), 6) AS s,
                       CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
                FROM documents),
            sd AS (SELECT s, count(*) AS n, sum(y) AS sy
                   FROM r GROUP BY s),
            pref AS (
                SELECT s, row_number() OVER (ORDER BY s) AS i,
                       sum(n) OVER (ORDER BY s) AS cn,
                       sum(sy) OVER (ORDER BY s) AS cs
                FROM sd),
            prev AS (
                SELECT i AS j,
                       coalesce(lag(cn) OVER (ORDER BY i), 0) AS np,
                       coalesce(lag(cs) OVER (ORDER BY i), 0.0) AS sp
                FROM pref),
            pairs AS (
                SELECT prev.j, pk.i AS k,
                       (pk.cs - prev.sp) / (pk.cn - prev.np) AS a
                FROM prev JOIN pref pk ON pk.i >= prev.j),
            mji AS (
                SELECT j, k AS ii,
                       min(a) OVER (PARTITION BY j ORDER BY k DESC
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS m
                FROM pairs),
            fitted AS (
                SELECT ii, round(max(m), 6) AS g
                FROM mji WHERE j <= ii GROUP BY ii),
            gm AS (SELECT pref.s, fitted.g
                   FROM pref JOIN fitted ON fitted.ii = pref.i)
            SELECT r.doc_id, r.s AS n_chars, gm.g AS calibrated
            FROM r JOIN gm USING (s)
        """,
        "cluster_agreement": """
            WITH j AS (SELECT doc_id, lang AS ca, source AS cb
                       FROM documents),
            cells AS (SELECT ca, cb, count(*) AS c FROM j GROUP BY ca, cb),
            s1 AS (SELECT CAST(sum((c * (c - 1)) // 2) AS BIGINT)
                       AS sum_comb_ij,
                       CAST(sum(c) AS BIGINT) AS n
                   FROM cells),
            am AS (SELECT ca, count(*) AS c FROM j GROUP BY ca),
            s2 AS (SELECT CAST(sum((c * (c - 1)) // 2) AS BIGINT)
                       AS sum_comb_a FROM am),
            bm AS (SELECT cb, count(*) AS c FROM j GROUP BY cb),
            s3 AS (SELECT CAST(sum((c * (c - 1)) // 2) AS BIGINT)
                       AS sum_comb_b FROM bm)
            SELECT n, sum_comb_ij, sum_comb_a, sum_comb_b,
                   round((CAST((n * (n - 1)) // 2 AS DOUBLE)
                          + 2.0 * CAST(sum_comb_ij AS DOUBLE)
                          - CAST(sum_comb_a AS DOUBLE)
                          - CAST(sum_comb_b AS DOUBLE))
                         / ((n * (n - 1)) // 2), 6) AS rand_index,
                   round(CASE WHEN
                             (CAST(sum_comb_a AS DOUBLE)
                              + CAST(sum_comb_b AS DOUBLE)) / 2.0
                             - CAST(sum_comb_a AS DOUBLE)
                               * CAST(sum_comb_b AS DOUBLE)
                               / ((n * (n - 1)) // 2) = 0.0
                         THEN 1.0
                         ELSE (CAST(sum_comb_ij AS DOUBLE)
                               - CAST(sum_comb_a AS DOUBLE)
                                 * CAST(sum_comb_b AS DOUBLE)
                                 / ((n * (n - 1)) // 2))
                              / ((CAST(sum_comb_a AS DOUBLE)
                                  + CAST(sum_comb_b AS DOUBLE)) / 2.0
                                 - CAST(sum_comb_a AS DOUBLE)
                                   * CAST(sum_comb_b AS DOUBLE)
                                   / ((n * (n - 1)) // 2))
                         END, 6) AS ari
            FROM s1, s2, s3
        """,
        "weighted_minhash_pairs": """
            WITH w AS (SELECT doc_id, str_split(text, ' ') AS words
                       FROM documents),
            ve AS (
                SELECT doc_id,
                       flatten(list_transform(
                           list_transform(list_distinct(words),
                               t -> struct_pack(w := t,
                                    c := len(list_filter(words,
                                             x -> x = t)))),
                           s -> list_transform(range(1, s.c + 1),
                               i -> concat(s.w, '#',
                                           CAST(i AS VARCHAR))))) AS virt
                FROM w),
            sig AS (
                SELECT doc_id,
                       list_transform(range(0, 8), j ->
                           list_min(list_transform(virt,
                               s -> md5(concat(CAST(j AS VARCHAR), ':',
                                               s))))) AS mh
                FROM ve),
            banded AS (
                SELECT doc_id, b.band,
                       concat(mh[b.band * 2 + 1], '|',
                              mh[b.band * 2 + 2]) AS bkey
                FROM sig, (SELECT unnest(range(0, 4)) AS band) b)
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.bkey = r.bkey
             AND l.doc_id < r.doc_id
        """,
        "weighted_jaccard": """
            WITH w AS (SELECT doc_id, str_split(text, ' ') AS words
                       FROM documents),
            p AS (
                SELECT a.doc_id AS a, b.doc_id AS b,
                       a.words AS wa, b.words AS wb
                FROM w a JOIN w b ON a.doc_id + 1 = b.doc_id),
            u AS (
                SELECT a, b, wa, wb,
                       list_distinct(list_concat(list_distinct(wa),
                                                 list_distinct(wb))) AS ut
                FROM p)
            SELECT a, b,
                   round(CAST(list_sum(list_transform(ut,
                             t -> least(len(list_filter(wa, x -> x = t)),
                                        len(list_filter(wb, x -> x = t)))))
                         AS DOUBLE)
                         / list_sum(list_transform(ut,
                             t -> greatest(len(list_filter(wa, x -> x = t)),
                                           len(list_filter(wb, x -> x = t))))),
                         6) AS weighted_jaccard
            FROM u
        """,
        "minhash_lsh_eval": """
            WITH w AS (SELECT doc_id, str_split(text, ' ') AS words
                       FROM documents),
            sh AS (
                SELECT doc_id,
                       list_transform(
                           range(1, greatest(len(words), 1) + 1),
                           i -> array_to_string(list_slice(words, i, i),
                                                ' ')) AS shingles
                FROM w),
            sig AS (
                SELECT doc_id,
                       list_transform(range(0, 8), j ->
                           list_min(list_transform(shingles,
                               s -> md5(concat(CAST(j AS VARCHAR), ':',
                                               s))))) AS mh
                FROM sh),
            banded AS (
                SELECT doc_id, b.band,
                       concat(mh[b.band * 2 + 1], '|',
                              mh[b.band * 2 + 2]) AS bkey
                FROM sig, (SELECT unnest(range(0, 4)) AS band) b),
            cand AS (
                SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                FROM banded l JOIN banded r
                  ON l.band = r.band AND l.bkey = r.bkey
                 AND l.doc_id < r.doc_id),
            tw AS (
                SELECT doc_id,
                       list_distinct(list_filter(
                           str_split_regex(text, '\\s+'),
                           x -> x <> '')) AS ts
                FROM documents),
            p AS (
                SELECT a.doc_id AS a, b.doc_id AS b,
                       len(list_intersect(a.ts, b.ts)) AS i,
                       len(a.ts) + len(b.ts)
                           - len(list_intersect(a.ts, b.ts)) AS u
                FROM tw a JOIN tw b ON a.doc_id < b.doc_id),
            truth AS (SELECT a, b FROM p WHERE i / u >= 0.95),
            nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates
                   FROM cand),
            nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
            nh AS (SELECT CAST(count(*) AS BIGINT) AS n_hits
                   FROM cand SEMI JOIN truth
                     ON cand.a = truth.a AND cand.b = truth.b)
            SELECT n_candidates, n_truth, n_hits,
                   round(CASE WHEN n_candidates > 0
                              THEN n_hits / CAST(n_candidates AS DOUBLE)
                         END, 6) AS precision,
                   round(CASE WHEN n_truth > 0
                              THEN n_hits / CAST(n_truth AS DOUBLE)
                         END, 6) AS recall
            FROM nc, nt, nh
        """,
        "ngram_containment": """
            WITH sh AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, greatest(len(words) - 1, 1) + 1),
                           i -> array_to_string(list_slice(words, i, i + 1), ' '))) AS s
                FROM (SELECT doc_id, str_split(text, ' ') AS words FROM documents))
            SELECT a.doc_id AS a, b.doc_id AS b,
                   round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                         / len(a.s), 6) AS containment_a,
                   round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                         / len(b.s), 6) AS containment_b
            FROM sh a JOIN sh b ON a.doc_id + 1 = b.doc_id
        """,
        "dsir_weights": f"""
            WITH w AS (
                SELECT doc_id, source, unnest(str_split(text, ' ')) AS w
                FROM documents),
            b AS (
                SELECT doc_id, source, {_duck_md5_bucket("w", 1024)} AS b
                FROM w),
            tgt AS (SELECT b, count(*) AS tc FROM b
                    WHERE source = 'src0' GROUP BY b),
            rawc AS (SELECT b, count(*) AS rc FROM b
                     WHERE source <> 'src0' GROUP BY b),
            tots AS (SELECT (SELECT sum(tc) FROM tgt) AS t_tot,
                            (SELECT sum(rc) FROM rawc) AS r_tot),
            lr AS (
                SELECT coalesce(t.b, r.b) AS b,
                       ln((coalesce(t.tc, 0) + 1)
                          / CAST(tots.t_tot + 1024 AS DOUBLE))
                     - ln((coalesce(r.rc, 0) + 1)
                          / CAST(tots.r_tot + 1024 AS DOUBLE)) AS lr
                FROM tgt t FULL JOIN rawc r ON t.b = r.b CROSS JOIN tots)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                   round(avg(l.lr), 6) AS dsir_score
            FROM b JOIN lr l USING (b)
            WHERE source <> 'src0'
            GROUP BY doc_id
        """,
        "chunk_sequences": f"""
            WITH s AS (
                SELECT {_DOC_KEY} AS doc_id, {_DUCK_TOKENS_FLAT} AS toks
                FROM documents),
            n AS (SELECT doc_id, toks, len(toks) AS n_tok FROM s),
            c AS (
                SELECT doc_id, toks,
                       CASE WHEN n_tok <= 32 THEN 1
                            ELSE CAST(ceil((n_tok - 32) / 24.0) AS INTEGER) + 1
                       END AS n_chunks
                FROM n),
            e AS (SELECT doc_id, toks, unnest(range(0, n_chunks)) AS i FROM c)
            SELECT doc_id,
                   CAST(i AS INTEGER) AS chunk_idx,
                   CAST(i * 24 AS INTEGER) AS start,
                   CAST(len(list_slice(toks, CAST(i * 24 + 1 AS INTEGER),
                                       CAST(i * 24 + 32 AS INTEGER)))
                        AS INTEGER) AS chunk_len,
                   md5(array_to_string(
                       list_slice(toks, CAST(i * 24 + 1 AS INTEGER),
                                  CAST(i * 24 + 32 AS INTEGER)), ',')) AS chunk_md5
            FROM e
        """,
        "source_temperature": """
            WITH c AS (
                SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
            t AS (SELECT sum(n_docs) AS n_total FROM c),
            p AS (SELECT source, n_docs,
                         n_docs / CAST(n_total AS DOUBLE) AS p_raw
                  FROM c CROSS JOIN t),
            z AS (SELECT sum(pow(p_raw, 0.5)) AS z FROM p)
            SELECT source, n_docs,
                   round(p_raw, 6) AS p_raw,
                   round(pow(p_raw, 0.5) / z, 6) AS p_sampled,
                   round(pow(p_raw, 0.5) / z / p_raw, 6) AS boost
            FROM p CROSS JOIN z
        """,
        "pack_next_fit": f"""
            -- d is MATERIALIZED: DuckDB otherwise re-inlines (and
            -- re-tokenizes) the CTE on every recursion step, turning a
            -- depth-N pack scan into N full tokenization passes (>13
            -- min at sf1 vs 12 s materialized; identical results)
            WITH RECURSIVE d AS MATERIALIZED (
                SELECT doc_id, source, n_tok,
                       row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
                FROM (SELECT {_DOC_KEY} AS doc_id, source,
                             CAST(len({_DUCK_TOKENS_FLAT}) AS INTEGER) AS n_tok
                      FROM documents)),
            p AS (
                SELECT doc_id, source, n_tok, rn,
                       CAST(0 AS BIGINT) AS pack_id,
                       CAST(n_tok AS BIGINT) AS pack_fill
                FROM d WHERE rn = 1
                UNION ALL
                SELECT d.doc_id, d.source, d.n_tok, d.rn,
                       CASE WHEN p.pack_fill > 0 AND p.pack_fill + d.n_tok > 1024
                            THEN p.pack_id + 1 ELSE p.pack_id END,
                       CASE WHEN p.pack_fill > 0 AND p.pack_fill + d.n_tok > 1024
                            THEN CAST(d.n_tok AS BIGINT)
                            ELSE p.pack_fill + d.n_tok END
                FROM p JOIN d ON d.source = p.source AND d.rn = p.rn + 1)
            SELECT doc_id, source, n_tok, pack_id, pack_fill FROM p
        """,
        "stratified_sample": f"""
            WITH u AS (
                SELECT doc_id, source,
                       list_sum(list_transform(range(0, 8), i ->
                           CAST(strpos('0123456789abcdef',
                                substr(md5(doc_id), CAST(i AS INTEGER) + 1, 1)) - 1
                                AS BIGINT)
                           * CAST(pow(16, 7 - i) AS BIGINT))) AS h
                FROM (SELECT {_DOC_KEY} AS doc_id, source FROM documents))
            SELECT doc_id, source FROM u
            WHERE h < CASE source WHEN 'src0' THEN 0.5
                                  WHEN 'src1' THEN 0.25
                                  ELSE 0.1 END * 4294967296.0
        """,
        "weighted_sample": f"""
            WITH u AS (
                SELECT doc_id, CAST(len(str_split(text, ' ')) AS INT) AS w,
                       {_duck_md5_u32("CAST(doc_id AS VARCHAR)")} AS hv
                FROM documents)
            SELECT doc_id, w,
                   round(ln((hv + 1) / 4294967296.0) / w, 6) AS score
            FROM u WHERE w > 0 ORDER BY score DESC, doc_id LIMIT 25
        """,
        "dataset_split": f"""
            WITH u AS (
                SELECT doc_id,
                       {_duck_md5_u32("concat('split:', CAST(doc_id AS VARCHAR))")}
                           / 4294967296.0 AS uu
                FROM documents)
            SELECT doc_id,
                   CASE WHEN uu < 0.8 THEN 'train'
                        WHEN uu < 0.9 THEN 'val'
                        ELSE 'test' END AS split
            FROM u
        """,
        "epoch_shards": f"""
            WITH pos AS (
                SELECT doc_id, n_tok,
                       CAST(row_number() OVER (
                            ORDER BY md5(concat('2:', doc_id)), doc_id) - 1
                            AS BIGINT) AS position
                FROM (SELECT {_DOC_KEY} AS doc_id,
                             CAST(len({_DUCK_TOKENS_FLAT}) AS INT) AS n_tok
                      FROM documents))
            SELECT CAST(floor(position / 32) AS BIGINT) AS shard,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                   md5(string_agg(doc_id, ',' ORDER BY position)) AS shard_hash
            FROM pos GROUP BY 1
        """,
        "label_balance": f"""
            WITH r AS (
                SELECT vec_id, label,
                       row_number() OVER (
                           PARTITION BY label
                           ORDER BY {_duck_md5_u32("concat('lb:', CAST(vec_id AS VARCHAR))")},
                                    vec_id) AS rn
                FROM embeddings)
            SELECT vec_id, label FROM r
            WHERE rn <= (SELECT min(c) FROM (
                SELECT count(*) AS c FROM embeddings GROUP BY label))
        """,
        "epoch_order": """
            SELECT doc_id,
                   CAST(row_number() OVER (
                        ORDER BY md5(concat('1:', CAST(doc_id AS VARCHAR))),
                                 doc_id) - 1 AS BIGINT) AS position
            FROM documents
        """,
        "training_build": f"""
            WITH RECURSIVE t AS (
                SELECT {_DOC_KEY} AS doc_id, source, {_DUCK_TOKENS_FLAT} AS toks
                FROM documents),
            u AS (SELECT doc_id, source, toks,
                         {_duck_md5_u32('doc_id')} AS h FROM t),
            bench AS (SELECT doc_id, toks FROM u
                      WHERE h < 0.05 * 4294967296.0),
            corpus AS (SELECT doc_id, source, toks FROM u
                       WHERE h >= 0.05 * 4294967296.0),
            g AS (
                SELECT doc_id, i - 1 AS pos,
                       md5(array_to_string(list_transform(
                           list_slice(toks, i, i + 11),
                           x -> CAST(x AS VARCHAR)), ' ')) AS g
                FROM (SELECT doc_id, toks,
                             unnest(range(1, greatest(len(toks) - 11, 0) + 1)) AS i
                      FROM corpus)),
            r AS (SELECT doc_id, pos,
                         row_number() OVER (PARTITION BY g
                                            ORDER BY doc_id, pos) AS rn
                  FROM g),
            cov AS (SELECT DISTINCT doc_id, pos + j AS p
                    FROM (SELECT doc_id, pos, unnest(range(0, 12)) AS j
                          FROM r WHERE rn > 1)),
            tp AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS p,
                          unnest(toks) AS tok
                   FROM corpus),
            kept AS (
                SELECT tp.doc_id,
                       coalesce(list(tok ORDER BY tp.p)
                                FILTER (WHERE cov.p IS NULL), []) AS ktoks
                FROM tp LEFT JOIN cov
                  ON cov.doc_id = tp.doc_id AND cov.p = tp.p
                GROUP BY tp.doc_id),
            gated AS (
                SELECT k.doc_id, c.source,
                       CAST(len(c.toks) AS INT) AS n_tok,
                       CAST(len(ktoks) AS INT) AS n_kept, ktoks
                FROM kept k JOIN corpus c USING (doc_id)
                WHERE len(ktoks) >= 24),
            cg AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                           range(1, len(ktoks) - 7 + 1),
                           i -> array_to_string(
                               list_transform(list_slice(ktoks, i, i + 7),
                                              x -> CAST(x AS VARCHAR)),
                               ' ')))) AS gram
                FROM gated WHERE len(ktoks) >= 8),
            bg AS (
                SELECT DISTINCT unnest(list_distinct(list_transform(
                           range(1, len(toks) - 7 + 1),
                           i -> array_to_string(
                               list_transform(list_slice(toks, i, i + 7),
                                              x -> CAST(x AS VARCHAR)),
                               ' ')))) AS gram
                FROM bench WHERE len(toks) >= 8),
            flagged AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg USING (gram)),
            clean AS (
                SELECT doc_id, source, n_tok, n_kept FROM gated
                ANTI JOIN flagged USING (doc_id)),
            samp AS (
                SELECT doc_id, source, n_tok, n_kept,
                       round(ln(({_duck_md5_u32("concat('ws1:', doc_id)")} + 1)
                                / 4294967296.0) / n_kept, 6) AS score
                FROM clean WHERE n_kept > 0
                ORDER BY score DESC, doc_id LIMIT 150),
            -- MATERIALIZED: the packing recursion below joins d per
            -- step; unmaterialized, DuckDB re-inlines the entire
            -- upstream pipeline (tokenize/dedup/decontaminate/sample)
            -- once per recursion step
            d AS MATERIALIZED (
                  SELECT *, row_number() OVER (PARTITION BY source
                                               ORDER BY doc_id) AS rn
                  FROM samp),
            p AS (
                SELECT doc_id, source, n_tok, n_kept, score, rn,
                       CAST(0 AS BIGINT) AS pack_id,
                       CAST(n_kept AS BIGINT) AS pack_fill
                FROM d WHERE rn = 1
                UNION ALL
                SELECT d.doc_id, d.source, d.n_tok, d.n_kept, d.score, d.rn,
                       CASE WHEN p.pack_fill > 0 AND p.pack_fill + d.n_kept > 256
                            THEN p.pack_id + 1 ELSE p.pack_id END,
                       CASE WHEN p.pack_fill > 0 AND p.pack_fill + d.n_kept > 256
                            THEN CAST(d.n_kept AS BIGINT)
                            ELSE p.pack_fill + d.n_kept END
                FROM p JOIN d ON d.source = p.source AND d.rn = p.rn + 1),
            pos AS (
                SELECT doc_id,
                       CAST(row_number() OVER (
                            ORDER BY md5(concat('1:', doc_id)), doc_id) - 1
                            AS BIGINT) AS position
                FROM samp)
            SELECT p.doc_id, p.source, p.n_tok, p.n_kept, p.score,
                   p.pack_id, p.pack_fill, pos.position
            FROM p JOIN pos USING (doc_id)
        """,
        "stream_session_append": """
            WITH r AS (
                SELECT user_id, ts FROM events
                WHERE ts >= TIMESTAMP '2024-01-21 00:00:00'),
            wm AS (
                -- Spark tracks the watermark in milliseconds: floor the
                -- max event time to ms before subtracting the delay
                SELECT epoch_us(date_trunc('milliseconds', max(ts)))
                       - 172800000000 AS w_us
                FROM r),
            s AS (
                SELECT user_id, ts,
                       CAST(sum(new_flag) OVER (
                           PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess
                FROM (
                    SELECT user_id, ts,
                           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                                     OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                                         PARTITION BY user_id ORDER BY ts)) >= 1800000000
                                THEN 1 ELSE 0 END AS new_flag
                    FROM r))
            SELECT user_id,
                   epoch_us(min(ts)) AS w_start_us,
                   epoch_us(max(ts)) + 1800000000 AS w_end_us,
                   count(*) AS n_docs,
                   epoch_us(min(ts)) AS t_start_us,
                   epoch_us(max(ts)) AS t_end_us
            FROM s, wm GROUP BY user_id, sess, wm.w_us
            HAVING epoch_us(max(ts)) + 1800000000 <= wm.w_us
        """,
        "trailing_agg": """
            SELECT event_id, user_id,
                   round(avg(value) OVER w, 6) AS trail_avg,
                   count(value) OVER w AS trail_cnt
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        """,
        "json_props_agg": """
            SELECT event_type, count(*) AS n,
                   CAST(sum(k) AS BIGINT) AS sum_k, round(avg(k), 6) AS avg_k, max(k) AS max_k
            FROM (SELECT event_type,
                         CAST(json_extract(props, '$.k') AS BIGINT) AS k
                  FROM events)
            GROUP BY event_type
        """,
        "topk_per_group": """
            SELECT event_type, CAST(rn AS INTEGER) AS rn, event_id, value FROM (
                SELECT event_type, event_id, value,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY value DESC, event_id) AS rn
                FROM events)
            WHERE rn <= 3
        """,
        "q1_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "q3_segment_revenue": """
            SELECT c_mktsegment,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(DISTINCT o_orderkey) AS n_orders
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                          JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "region_revenue": """
            SELECT r_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                          JOIN nation ON s_nationkey = n_nationkey
                          JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "rollup_orders": """
            SELECT o_orderstatus, o_orderpriority,
                   count(*) AS n, round(sum(o_totalprice), 2) AS total
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "q4_order_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-07-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_shipdate > o_orderdate)
            GROUP BY o_orderpriority
        """,
        "q13_custdist": """
            SELECT c_count, count(*) AS custdist FROM (
                SELECT c_custkey, count(o_orderkey) AS c_count
                FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
                GROUP BY c_custkey)
            GROUP BY c_count
        """,
        "value_deciles": """
            SELECT event_id, event_type,
                   CAST(ntile(10) OVER (PARTITION BY event_type
                                        ORDER BY value, event_id) AS INTEGER) AS decile
            FROM events
        """,
        "anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        "semi_join": """
            SELECT p_partkey, p_brand FROM part
            WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 49)
        """,
        "dedup_exact": """
            SELECT md5(text) AS content_hash, count(*) AS n_dups,
                   min(doc_id) AS keeper
            FROM documents GROUP BY md5(text)
        """,
        "text_stats": f"""
            SELECT doc_id,
                   len(words) AS n_words,
                   round(list_sum(list_transform(words, w -> length(w)))
                         / len(words), 6) AS avg_word_len,
                   round(list_sum(list_transform(words, w ->
                         CASE WHEN w IN {_STOPWORDS_SQL} THEN 1 ELSE 0 END))
                         / len(words), 6) AS stopword_ratio,
                   CASE WHEN len(words) < 10 THEN 1 ELSE 0 END AS is_short
            FROM (SELECT doc_id, str_split(text, ' ') AS words FROM documents)
        """,
        "lang_guess": f"""
            SELECT doc_id,
                   CASE WHEN list_sum(list_transform(words, w ->
                             CASE WHEN w IN {_STOPWORDS_SQL} THEN 1 ELSE 0 END))
                             / len(words) > 0.08
                        THEN 'en' ELSE 'unk' END AS lang_guess
            FROM (SELECT doc_id, str_split(text, ' ') AS words FROM documents)
        """,
        "token_counts": """
            SELECT doc_id,
                   len(str_split(text, ' ')) AS n_ws_tokens,
                   CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_bpe_est
            FROM documents
        """,
        "fingerprint": r"""
            SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint
            FROM documents
        """,
        "source_len_quantiles": """
            SELECT source, count(*) AS n_docs,
                   round(quantile_cont(length(text), 0.5), 6) AS p50_len,
                   round(quantile_cont(length(text), 0.95), 6) AS p95_len,
                   max(length(text)) AS max_len
            FROM documents GROUP BY source
        """,
        "bigram_topk": """
            SELECT gram, count(*) AS n_occurrences FROM (
                SELECT unnest(list_transform(
                    range(1, greatest(len(words) - 1, 1) + 1),
                    i -> array_to_string(list_slice(words, i, i + 1), ' '))) AS gram
                FROM (SELECT str_split(text, ' ') AS words FROM documents))
            GROUP BY gram
            ORDER BY n_occurrences DESC, gram LIMIT 20
        """,
        "bm25_topk": """
            WITH w AS (
                SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
            l AS (SELECT doc_id, len(ws) AS dl FROM w),
            stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM l),
            tf AS (
                SELECT doc_id, term, count(*) AS tf
                FROM (SELECT doc_id, unnest(ws) AS term FROM w)
                WHERE term IN ('hash', 'join', 'merge', 'vector')
                GROUP BY doc_id, term),
            dfq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY term),
            sc AS (
                SELECT tf.doc_id, count(*) AS n_matched,
                       round(sum(
                           ln(1 + (stats.n_docs - dfq.dfc + 0.5)
                                  / (dfq.dfc + 0.5))
                           * tf.tf * (1.2 + 1)
                           / (tf.tf + 1.2 * (1 - 0.75
                              + 0.75 * l.dl / stats.avgdl))), 6) AS score
                FROM tf JOIN dfq USING (term) JOIN l USING (doc_id)
                CROSS JOIN stats
                GROUP BY tf.doc_id),
            ranked AS (
                SELECT doc_id, n_matched, score, row_number() OVER (
                    ORDER BY score DESC, doc_id ASC) AS rnk
                FROM sc)
            SELECT doc_id, n_matched, score, CAST(rnk AS INTEGER) AS rank
            FROM ranked WHERE rnk <= 50
        """,
        "percentile_gate": """
            WITH s AS (
                SELECT doc_id, source, n_chars,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY n_chars DESC, doc_id ASC) AS rn,
                       count(*) OVER (PARTITION BY source) AS n
                FROM documents)
            SELECT doc_id, source, n_chars, (100 * rn <= 25 * n) AS keep
            FROM s
        """,
        "ccnet_buckets": """
            WITH w AS (
                SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
            p AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
                       unnest(list_transform(range(1, len(ws)), i -> ws[i + 1])) AS w2
                FROM w WHERE len(ws) >= 2),
            bc AS (SELECT w1, w2, count(*) AS c12 FROM p
                   GROUP BY w1, w2 HAVING count(*) >= 2),
            uc AS (SELECT word AS w1, count(*) AS c1
                   FROM (SELECT unnest(ws) AS word FROM w) GROUP BY word),
            v AS (SELECT count(DISTINCT word) AS v
                  FROM (SELECT unnest(ws) AS word FROM w)),
            h AS (
                SELECT p.doc_id,
                       avg(-ln((coalesce(bc.c12, 0) + 1)
                               / CAST(uc.c1 + v.v AS DOUBLE))) AS h
                FROM p
                LEFT JOIN bc USING (w1, w2)
                JOIN uc USING (w1)
                CROSS JOIN v
                GROUP BY p.doc_id),
            ppl AS (
                SELECT d.doc_id, d.lang, round(exp(h.h), 6) AS perplexity
                FROM documents d LEFT JOIN h USING (doc_id)),
            nn AS (
                SELECT doc_id, lang, perplexity,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY perplexity ASC, doc_id ASC) AS rn,
                       count(*) OVER (PARTITION BY lang) AS n
                FROM ppl WHERE perplexity IS NOT NULL)
            SELECT doc_id, lang, perplexity,
                   CASE WHEN 3 * rn <= n THEN 'head'
                        WHEN 3 * rn <= 2 * n THEN 'middle'
                        ELSE 'tail' END AS ppl_bucket
            FROM nn
            UNION ALL
            SELECT doc_id, lang, perplexity, NULL AS ppl_bucket
            FROM ppl WHERE perplexity IS NULL
        """,
        "logreg_langid": _duck_logreg_sql(epochs=3, lr=1.0, label="en"),
        "bpe_merges": _duck_bpe_sql(mode="merges", n_merges=12),
        "bpe_encode_docs": _duck_bpe_sql(mode="encode", n_merges=12),
        "hll_distinct": _duck_hll_sql(p=12),
        # stream_quantiles shares the batch oracle: the streamed
        # register table is count-sum merged, hence replay-invariant —
        # equality with the batch SQL IS the streaming contract
        "stream_quantiles": _DUCK_DDQ_SQL,
        "sketch_quantiles": _DUCK_DDQ_SQL,
        "stream_hll": _duck_hll_sql(p=12, mode="stream"),
        "incremental_read": """
            WITH cut AS (SELECT CAST(floor(max(doc_id) * 0.4)
                                      AS BIGINT) AS c1 FROM documents)
            SELECT doc_id, source, n_chars
            FROM documents, cut WHERE doc_id >= cut.c1
        """,
        "jaccard_join": """
            -- deliberately the BRUTE-FORCE ground truth, not a replay
            -- of the prefix filter: a recall bug in the filter (a pair
            -- at >= t sharing no prefix token) would fail this compare
            WITH w AS (
                SELECT doc_id,
                       list_distinct(list_filter(
                           str_split_regex(text, '\\s+'),
                           x -> x <> '')) AS ts
                FROM documents),
            p AS (
                SELECT a.doc_id AS a, b.doc_id AS b,
                       len(list_intersect(a.ts, b.ts)) AS i,
                       len(a.ts) + len(b.ts)
                           - len(list_intersect(a.ts, b.ts)) AS u
                FROM w a JOIN w b ON a.doc_id < b.doc_id)
            SELECT a, b, round(i / u, 6) AS jaccard
            FROM p WHERE i / u >= 0.95
        """,
        "bpe_fertility": _duck_bpe_sql(mode="fertility", n_merges=12),
        "tokenize_pack": _duck_bpe_sql(mode="pack", n_merges=12),
        "pagerank_dups": _duck_pagerank_sql(iters=5, damping=0.85),
        "textrank_words": _duck_textrank_sql(iters=10, damping=0.85),
        "triangle_stats": f"""
            WITH {_DUCK_MINHASH_CAND},
            canon AS (SELECT least(a, b) AS a, greatest(a, b) AS b
                      FROM cand WHERE a <> b GROUP BY 1, 2),
            deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree
                    FROM (SELECT a AS node FROM canon
                          UNION ALL SELECT b FROM canon)
                    GROUP BY node),
            o AS (SELECT CASE WHEN da.degree < db.degree
                                   OR (da.degree = db.degree
                                       AND c.a < c.b)
                              THEN c.a ELSE c.b END AS u,
                         CASE WHEN da.degree < db.degree
                                   OR (da.degree = db.degree
                                       AND c.a < c.b)
                              THEN c.b ELSE c.a END AS v
                  FROM canon c
                  JOIN deg da ON da.node = c.a
                  JOIN deg db ON db.node = c.b),
            tri AS (SELECT o1.u, o1.v, o2.v AS w
                    FROM o o1 JOIN o o2
                         ON o1.u = o2.u AND o1.v < o2.v
                    JOIN canon ON canon.a = o1.v AND canon.b = o2.v),
            per AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
                    FROM (SELECT unnest([u, v, w]) AS node FROM tri)
                    GROUP BY node)
            SELECT deg.node AS doc_id, deg.degree,
                   coalesce(per.n_triangles, 0) AS n_triangles,
                   CASE WHEN deg.degree >= 2
                        THEN round(2.0 * coalesce(per.n_triangles, 0)
                                   / (deg.degree * (deg.degree - 1)), 6)
                        ELSE 0.0 END AS clustering
            FROM deg LEFT JOIN per USING (node)
        """,
        "bloom_dedup_against": f"""
            WITH cut AS (SELECT CAST(floor(max(doc_id) * 0.8) AS BIGINT)
                             AS c FROM documents),
            snap AS (SELECT md5(text) AS item
                     FROM documents, cut WHERE doc_id < cut.c),
            probe AS (SELECT doc_id, md5(text) AS item
                      FROM documents, cut WHERE doc_id >= cut.c),
            ks AS (SELECT unnest(range(0, 4)) AS j),
            sb AS (SELECT
                       {_duck_md5_u32("concat(CAST(ks.j AS VARCHAR), ':', item)")}
                           % 65536 AS pos
                   FROM snap, ks),
            blocks AS (SELECT CAST(pos // 32 AS INTEGER) AS block,
                              bit_or(CAST(1 AS BIGINT)
                                     << CAST(pos % 32 AS INTEGER)) AS bits
                       FROM sb GROUP BY CAST(pos // 32 AS INTEGER)),
            pb AS (SELECT doc_id,
                          CAST(pos // 32 AS INTEGER) AS block,
                          (CAST(1 AS BIGINT)
                           << CAST(pos % 32 AS INTEGER)) AS mask
                   FROM (SELECT doc_id,
                                {_duck_md5_u32("concat(CAST(ks.j AS VARCHAR), ':', item)")}
                                    % 65536 AS pos
                         FROM probe, ks))
            SELECT pb.doc_id,
                   bool_and(coalesce((b.bits & pb.mask) != 0, false))
                       AS member
            FROM pb LEFT JOIN blocks b USING (block)
            GROUP BY pb.doc_id
        """,
        "logreg_auc": f"""
            WITH scored AS ({_duck_logreg_sql(epochs=3, lr=1.0, label="en")}),
            lbl AS (SELECT s.score,
                           CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS y
                    FROM scored s JOIN documents d USING (doc_id)),
            g AS (SELECT score AS s, count(*) AS n, sum(y) AS np
                  FROM lbl GROUP BY score),
            r AS (SELECT s, n, np,
                         coalesce(sum(n) OVER (
                             ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING), 0) AS below
                  FROM g)
            SELECT CAST(sum(np) AS BIGINT) AS n_pos,
                   CAST(sum(n) - sum(np) AS BIGINT) AS n_neg,
                   round((sum(np * (below + (n + 1) / 2.0))
                          - sum(np) * (sum(np) + 1) / 2.0)
                         / (sum(np) * (CAST(sum(n) AS DOUBLE) - sum(np))),
                         6) AS auc
            FROM r
        """,
        "logreg_ap": f"""
            WITH scored AS ({_duck_logreg_sql(epochs=3, lr=1.0, label="en")}),
            lbl AS (SELECT s.score,
                           CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS y
                    FROM scored s JOIN documents d USING (doc_id)),
            g AS (SELECT score AS s, count(*) AS n, sum(y) AS np
                  FROM lbl GROUP BY score),
            c AS (SELECT s, n, np,
                         sum(np) OVER (ORDER BY s DESC
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                                AND CURRENT ROW) AS ctp,
                         sum(n) OVER (ORDER BY s DESC
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW) AS cn
                  FROM g)
            SELECT CAST(sum(np) AS BIGINT) AS n_pos,
                   CAST(sum(n) - sum(np) AS BIGINT) AS n_neg,
                   round(sum(np * ctp / cn) / sum(np), 6) AS ap
            FROM c
        """,
        "cms_words": f"""
            WITH w AS (SELECT unnest(str_split(text, ' ')) AS word
                       FROM documents),
            rr AS (SELECT unnest(range(0, 4)) AS r),
            cells AS (SELECT word, CAST(rr.r AS INTEGER) AS row,
                             CAST({_duck_md5_u32("concat(CAST(rr.r AS VARCHAR), ':', word)")}
                                  % 128 AS INTEGER) AS col
                      FROM w, rr),
            cms AS (SELECT row, col, count(*) AS cnt
                    FROM cells GROUP BY row, col),
            t AS (SELECT word, count(*) AS n_true FROM w GROUP BY word
                  ORDER BY n_true DESC, word ASC LIMIT 20),
            q AS (SELECT t.word, t.n_true, CAST(rr.r AS INTEGER) AS row,
                         CAST({_duck_md5_u32("concat(CAST(rr.r AS VARCHAR), ':', t.word)")}
                              % 128 AS INTEGER) AS col
                  FROM t, rr)
            SELECT q.word, CAST(q.n_true AS BIGINT) AS n_true,
                   CAST(min(coalesce(cms.cnt, 0)) AS BIGINT) AS cms_est
            FROM q LEFT JOIN cms USING (row, col)
            GROUP BY q.word, q.n_true
        """,
        "hits_words": _duck_hits_sql(iters=8),
        "markov_transitions": _duck_markov_sql(mode="transitions"),
        "markov_stationary": _duck_markov_sql(mode="stationary",
                                              iters=16),
        "cohort_retention": """
            WITH f AS (SELECT user_id AS u,
                              date_trunc('week', min(ts)) AS c
                       FROM events GROUP BY user_id),
            a AS (SELECT DISTINCT user_id AS u,
                         date_trunc('week', ts) AS p
                  FROM events),
            j AS (SELECT a.u, f.c,
                         CAST((epoch(a.p) - epoch(f.c)) / 604800
                              AS BIGINT) AS k
                  FROM a JOIN f ON a.u = f.u),
            cell AS (SELECT c, k, CAST(count(DISTINCT u) AS BIGINT) AS n
                     FROM j GROUP BY c, k),
            sz AS (SELECT c, n AS s FROM cell WHERE k = 0)
            SELECT cell.c AS cohort, CAST(cell.k AS INTEGER) AS k,
                   cell.n AS n_users,
                   round(cell.n / sz.s, 6) AS retention
            FROM cell JOIN sz USING (c)
        """,
        "funnel": """
            WITH s1 AS (SELECT user_id AS u, min(ts) AS t
                        FROM events WHERE event_type = 'signup'
                        GROUP BY user_id),
            s2 AS (SELECT e.user_id AS u, min(e.ts) AS t
                   FROM events e JOIN s1 ON e.user_id = s1.u
                   WHERE e.event_type = 'view' AND e.ts >= s1.t
                   GROUP BY e.user_id),
            s3 AS (SELECT e.user_id AS u, min(e.ts) AS t
                   FROM events e JOIN s2 ON e.user_id = s2.u
                   WHERE e.event_type = 'purchase' AND e.ts >= s2.t
                   GROUP BY e.user_id),
            c AS (SELECT
                (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n1,
                (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n2,
                (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n3)
            SELECT * FROM (
                SELECT 1 AS step_idx, 'signup' AS step, n1 AS n_users,
                       CASE WHEN n1 > 0 THEN round(n1 / n1, 6) END
                           AS cum_rate,
                       CASE WHEN n1 > 0 THEN round(n1 / n1, 6) END
                           AS step_rate
                FROM c
                UNION ALL
                SELECT 2, 'view', n2,
                       CASE WHEN n1 > 0 THEN round(n2 / n1, 6) END,
                       CASE WHEN n1 > 0 THEN round(n2 / n1, 6) END
                FROM c
                UNION ALL
                SELECT 3, 'purchase', n3,
                       CASE WHEN n1 > 0 THEN round(n3 / n1, 6) END,
                       CASE WHEN n2 > 0 THEN round(n3 / n2, 6) END
                FROM c)
        """,
        "stream_cms": f"""
            WITH w AS (SELECT event_type AS item FROM events),
            rr AS (SELECT unnest(range(0, 4)) AS r),
            cells AS (SELECT item, CAST(rr.r AS INTEGER) AS row,
                             CAST({_duck_md5_u32("concat(CAST(rr.r AS VARCHAR), ':', item)")}
                                  % 64 AS INTEGER) AS col
                      FROM w, rr),
            cms AS (SELECT row, col, count(*) AS cnt
                    FROM cells GROUP BY row, col),
            t AS (SELECT item, count(*) AS n_true FROM w GROUP BY item),
            q AS (SELECT t.item, t.n_true, CAST(rr.r AS INTEGER) AS row,
                         CAST({_duck_md5_u32("concat(CAST(rr.r AS VARCHAR), ':', t.item)")}
                              % 64 AS INTEGER) AS col
                  FROM t, rr)
            SELECT q.item, CAST(q.n_true AS BIGINT) AS n_true,
                   CAST(min(coalesce(cms.cnt, 0)) AS BIGINT) AS cms_est
            FROM q LEFT JOIN cms USING (row, col)
            GROUP BY q.item, q.n_true
        """,
        "logreg_calibration": f"""
            WITH scored AS ({_duck_logreg_sql(epochs=3, lr=1.0, label="en")}),
            lbl AS (SELECT s.score,
                           CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS y
                    FROM scored s JOIN documents d USING (doc_id))
            SELECT CAST(least(floor(score * 10), 9) AS INTEGER) AS bin,
                   CAST(count(*) AS BIGINT) AS n,
                   round(avg(score), 6) AS mean_score,
                   round(avg(y), 6) AS pos_rate
            FROM lbl
            GROUP BY CAST(least(floor(score * 10), 9) AS INTEGER)
        """,
        "heaps_fit": """
            WITH d AS (SELECT doc_id, str_split(text, ' ') AS ws
                       FROM documents),
            o AS (SELECT doc_id, ws,
                         coalesce(sum(len(ws)) OVER (
                             ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS off
                  FROM d),
            w AS (SELECT off + generate_subscripts(ws, 1) - 1 AS gpos,
                         unnest(ws) AS word
                  FROM o),
            fp AS (SELECT word, min(gpos) AS first_pos
                   FROM w GROUP BY word),
            n AS (SELECT sum(len(ws)) AS total FROM d),
            ck AS (SELECT k.k,
                          CAST(floor(k.k * total / 10.0) AS BIGINT)
                              AS n_tokens
                   FROM n, (SELECT unnest(range(1, 11)) AS k) k),
            v AS (SELECT ck.k, ck.n_tokens,
                         CAST(count(*) FILTER (
                             WHERE fp.first_pos < ck.n_tokens)
                           AS BIGINT) AS vocab
                  FROM ck CROSS JOIN fp GROUP BY ck.k, ck.n_tokens),
            fit AS (SELECT round(regr_slope(ly, lx), 6) AS beta,
                           round(regr_intercept(ly, lx), 6) AS lnc
                    FROM (SELECT ln(CAST(n_tokens AS DOUBLE)) AS lx,
                                 ln(CAST(vocab AS DOUBLE)) AS ly
                          FROM v
                          WHERE vocab > 0 AND n_tokens > 0))
            SELECT v.k, v.n_tokens, v.vocab, fit.beta, fit.lnc
            FROM v, fit
        """,
        "ngram_novelty": """
            WITH t AS (SELECT doc_id, str_split(text, ' ') AS us
                       FROM documents),
            g AS (
                SELECT doc_id, i - 1 AS pos,
                       md5(array_to_string(us[i:i + 4], chr(31))) AS g
                FROM (SELECT doc_id, us,
                             unnest(range(1, greatest(len(us) - 4, 0) + 1)) AS i
                      FROM t)),
            r AS (SELECT doc_id,
                         row_number() OVER (PARTITION BY g
                                            ORDER BY doc_id, pos) AS rn
                  FROM g),
            per AS (SELECT doc_id,
                           count(*) AS n_grams,
                           count(*) FILTER (WHERE rn > 1) AS n_rec
                    FROM r GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
                   CAST(coalesce(per.n_rec, 0) AS BIGINT) AS n_recycled,
                   round(per.n_rec / CAST(per.n_grams AS DOUBLE),
                         6) AS recycled_frac
            FROM documents d LEFT JOIN per USING (doc_id)
        """,
        "word_burstiness": """
            WITH w AS (
                SELECT doc_id, unnest(str_split(text, ' ')) AS word
                FROM documents),
            c AS (SELECT doc_id, word, count(*) AS c
                  FROM w GROUP BY doc_id, word),
            n AS (SELECT count(*) AS n FROM documents),
            m AS (SELECT word,
                         count(*) AS n_docs_with,
                         sum(c) AS total,
                         sum(c * c) AS c2
                  FROM c GROUP BY word)
            SELECT word,
                   CAST(n_docs_with AS BIGINT) AS n_docs_with,
                   CAST(total AS BIGINT) AS total,
                   round(total / CAST(n AS DOUBLE), 6) AS mean,
                   round((c2 / CAST(n AS DOUBLE)
                          - (total / CAST(n AS DOUBLE))
                            * (total / CAST(n AS DOUBLE)))
                         / (total / CAST(n AS DOUBLE)), 6) AS vmr
            FROM m, n
            ORDER BY total DESC, word ASC
            LIMIT 50
        """,
        "lexical_diversity": """
            WITH w AS (
                SELECT doc_id, unnest(str_split(text, ' ')) AS word
                FROM documents),
            c AS (SELECT doc_id, word, count(*) AS c
                  FROM w GROUP BY doc_id, word)
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_words,
                   CAST(count(*) AS BIGINT) AS n_types,
                   round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS ttr,
                   round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                         / CAST(count(*) AS DOUBLE), 6) AS hapax_frac,
                   round(ln(CAST(sum(c) AS DOUBLE))
                         - sum(c * ln(c)) / CAST(sum(c) AS DOUBLE),
                         6) AS entropy
            FROM c GROUP BY doc_id
        """,
        "zipf_fit": """
            WITH w AS (
                SELECT source, unnest(str_split(text, ' ')) AS word
                FROM documents),
            c AS (SELECT source, word, count(*) AS c
                  FROM w GROUP BY source, word),
            r AS (SELECT source, word, c,
                         row_number() OVER (
                             PARTITION BY source
                             ORDER BY c DESC, word ASC) AS r
                  FROM c),
            f AS (SELECT source,
                         ln(CAST(r AS DOUBLE)) AS lx,
                         ln(CAST(c AS DOUBLE)) AS ly
                  FROM r WHERE r <= 200)
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_ranked,
                   round(regr_slope(ly, lx), 6) AS slope,
                   round(regr_intercept(ly, lx), 6) AS intercept,
                   round(regr_r2(ly, lx), 6) AS r2
            FROM f GROUP BY source
        """,
        "span_dedup": """
            WITH t AS (SELECT doc_id, str_split(text, ' ') AS us
                       FROM documents),
            g AS (
                SELECT doc_id, i - 1 AS pos,
                       md5(array_to_string(us[i:i + 4], chr(31))) AS g
                FROM (SELECT doc_id, us,
                             unnest(range(1, greatest(len(us) - 4, 0) + 1)) AS i
                      FROM t)),
            r AS (SELECT doc_id, pos,
                         row_number() OVER (PARTITION BY g
                                            ORDER BY doc_id, pos) AS rn
                  FROM g),
            cov AS (
                SELECT DISTINCT doc_id, pos + j AS p
                FROM (SELECT doc_id, pos, unnest(range(0, 5)) AS j
                      FROM r WHERE rn > 1)),
            up AS (SELECT doc_id, generate_subscripts(us, 1) - 1 AS p,
                          unnest(us) AS u
                   FROM t)
            SELECT up.doc_id,
                   coalesce(string_agg(u, ' ' ORDER BY up.p)
                                FILTER (WHERE cov.p IS NULL),
                            '') AS text_dedup,
                   CAST(count(*) AS BIGINT) AS n_units,
                   CAST(count(*) FILTER (WHERE cov.p IS NOT NULL)
                        AS BIGINT) AS n_removed
            FROM up LEFT JOIN cov
              ON cov.doc_id = up.doc_id AND cov.p = up.p
            GROUP BY up.doc_id
        """,
        "pmi_topk": """
            WITH w AS (SELECT str_split(text, ' ') AS ws FROM documents),
            b AS (
                SELECT ws[g.i] AS w1, ws[g.i + 1] AS w2
                FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) g),
            bc AS (SELECT w1, w2, count(*) AS n_pair FROM b GROUP BY w1, w2
                   HAVING count(*) >= 5),
            u AS (SELECT unnest(ws) AS word FROM w),
            uc AS (SELECT word, count(*) AS n_word FROM u GROUP BY word),
            n1 AS (SELECT CAST(count(*) AS BIGINT) AS t1 FROM u),
            n2 AS (SELECT CAST(count(*) AS BIGINT) AS t2 FROM b)
            SELECT bc.w1, bc.w2, bc.n_pair,
                   u1.n_word AS n_w1, u2.n_word AS n_w2,
                   round(ln((bc.n_pair / t2)
                            / ((u1.n_word / t1) * (u2.n_word / t1))), 6)
                       AS pmi
            FROM bc
            JOIN uc u1 ON bc.w1 = u1.word
            JOIN uc u2 ON bc.w2 = u2.word, n1, n2
            ORDER BY pmi DESC, bc.w1, bc.w2 LIMIT 20
        """,
        "vocab_oov": """
            WITH w AS (
                SELECT doc_id, unnest(str_split(text, ' ')) AS word
                FROM documents),
            v AS (SELECT word FROM (
                      SELECT word, count(*) AS c FROM w GROUP BY word
                      ORDER BY c DESC, word ASC LIMIT 16)),
            j AS (SELECT w.doc_id, w.word, v.word AS hit
                  FROM w LEFT JOIN v ON w.word = v.word)
            SELECT doc_id,
                   count(*) AS n_words,
                   CAST(sum(CASE WHEN hit IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_oov,
                   round(sum(CASE WHEN hit IS NULL THEN 1 ELSE 0 END)
                         / count(*), 6) AS oov_rate
            FROM j GROUP BY doc_id
        """,
        "tfidf_topk": """
            WITH w AS (
                SELECT doc_id, source, str_split(text, ' ') AS ws FROM documents),
            tf AS (
                SELECT source, term, count(*) AS tf
                FROM (SELECT source, unnest(ws) AS term FROM w)
                GROUP BY source, term),
            dfq AS (
                SELECT term, count(*) AS df_docs
                FROM (SELECT doc_id, unnest(list_distinct(ws)) AS term FROM w)
                GROUP BY term),
            n AS (SELECT count(*) AS n_docs FROM documents),
            scored AS (
                SELECT tf.source, tf.term, tf.tf, dfq.df_docs,
                       round(tf.tf * (ln((n.n_docs + 1)
                           / CAST(dfq.df_docs + 1 AS DOUBLE)) + 1), 6) AS tfidf
                FROM tf JOIN dfq USING (term) CROSS JOIN n),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY source ORDER BY tfidf DESC, term ASC) AS rnk
                FROM scored)
            SELECT source, term, tf, df_docs, tfidf, CAST(rnk AS INTEGER) AS rank
            FROM ranked WHERE rnk <= 10
        """,
        "source_divergence": """
            WITH c AS (
                SELECT source, term, count(*) AS c_gt
                FROM (SELECT source, unnest(str_split(text, ' ')) AS term
                      FROM documents)
                GROUP BY source, term),
            tt AS (SELECT term, CAST(sum(c_gt) AS BIGINT) AS c_t
                   FROM c GROUP BY term),
            gt AS (SELECT source, CAST(sum(c_gt) AS BIGINT) AS n_tokens,
                          count(*) AS n_terms
                   FROM c GROUP BY source),
            g AS (SELECT CAST(sum(c_gt) AS BIGINT) AS n_total FROM c)
            SELECT c.source, gt.n_tokens, gt.n_terms,
                   round(sum((c.c_gt / CAST(gt.n_tokens AS DOUBLE))
                       * ln((c.c_gt / CAST(gt.n_tokens AS DOUBLE))
                            / (tt.c_t / CAST(g.n_total AS DOUBLE)))), 6)
                       AS kl_to_corpus
            FROM c
            JOIN tt USING (term)
            JOIN gt USING (source)
            CROSS JOIN g
            GROUP BY c.source, gt.n_tokens, gt.n_terms
        """,
        "winnow_fingerprint": """
            WITH h AS (
                SELECT doc_id,
                       list_transform(range(1, greatest(length(text) - 7, 1) + 1),
                                      i -> md5(substr(text, CAST(i AS INTEGER), 8))) AS hs
                FROM documents),
            w AS (
                SELECT doc_id,
                       list_sort(list_distinct(
                           list_transform(range(1, greatest(len(hs) - 3, 1) + 1),
                                          j -> list_min(list_slice(hs, CAST(j AS INTEGER),
                                                                   CAST(j AS INTEGER) + 3))))) AS fps
                FROM h)
            SELECT doc_id, CAST(len(fps) AS INTEGER) AS n_fps,
                   md5(array_to_string(fps, '')) AS fp_hash
            FROM w
        """,
        "winnow_pairs": """
            WITH h AS (
                SELECT doc_id,
                       list_transform(range(1, greatest(length(text) - 15, 1) + 1),
                                      i -> md5(substr(text, CAST(i AS INTEGER), 16))) AS hs
                FROM documents),
            w AS (
                SELECT doc_id,
                       list_distinct(
                           list_transform(range(1, greatest(len(hs) - 7, 1) + 1),
                                          j -> list_min(list_slice(hs, CAST(j AS INTEGER),
                                                                   CAST(j AS INTEGER) + 7)))) AS fps
                FROM h),
            f AS (SELECT doc_id, unnest(fps) AS fp FROM w),
            cnt AS (SELECT fp, count(*) AS n_docs_fp FROM f GROUP BY fp),
            keep AS (
                SELECT f.doc_id, f.fp
                FROM f JOIN cnt USING (fp)
                WHERE cnt.n_docs_fp <= 64)
            SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_shared
            FROM keep l JOIN keep r
              ON l.fp = r.fp AND l.doc_id < r.doc_id
            GROUP BY a, b
            HAVING count(*) >= 3
        """,
        "minhash_sig": """
            WITH sh AS (
                SELECT doc_id,
                       list_transform(
                           range(1, greatest(len(words) - 2, 1) + 1),
                           i -> array_to_string(list_slice(words, i, i + 2), ' ')) AS shingles
                FROM (SELECT doc_id, str_split(text, ' ') AS words FROM documents))
            SELECT doc_id,
                   list_min(list_transform(shingles, s -> md5(concat('0:', s)))) AS mh0,
                   list_min(list_transform(shingles, s -> md5(concat('1:', s)))) AS mh1,
                   list_min(list_transform(shingles, s -> md5(concat('2:', s)))) AS mh2,
                   list_min(list_transform(shingles, s -> md5(concat('3:', s)))) AS mh3
            FROM sh
        """,
        "minhash_pairs": f"""
            WITH {_DUCK_MINHASH_CAND}
            SELECT a, b FROM cand
        """,
        "token_minhash_sig": f"""
            WITH t AS (SELECT {_DOC_KEY} AS doc_id, {_DUCK_TOKENS_FLAT} AS toks
                       FROM documents),
            sh AS (
                SELECT doc_id,
                       list_transform(
                           range(1, greatest(len(toks) - 2, 1) + 1),
                           i -> array_to_string(
                               list_transform(list_slice(toks, i, i + 2),
                                              x -> CAST(x AS VARCHAR)),
                               ' ')) AS shingles
                FROM t)
            SELECT doc_id,
                   list_min(list_transform(shingles, s -> md5(concat('0:', s)))) AS mh0,
                   list_min(list_transform(shingles, s -> md5(concat('1:', s)))) AS mh1,
                   list_min(list_transform(shingles, s -> md5(concat('2:', s)))) AS mh2,
                   list_min(list_transform(shingles, s -> md5(concat('3:', s)))) AS mh3
            FROM sh
        """,
        "token_minhash_pairs": f"""
            WITH t AS (SELECT {_DOC_KEY} AS doc_id, {_DUCK_TOKENS_FLAT} AS toks
                       FROM documents),
            sh AS (
                SELECT doc_id,
                       list_transform(
                           range(1, greatest(len(toks) - 2, 1) + 1),
                           i -> array_to_string(
                               list_transform(list_slice(toks, i, i + 2),
                                              x -> CAST(x AS VARCHAR)),
                               ' ')) AS shingles
                FROM t),
            sig AS (
                SELECT doc_id,
                       list_transform(range(0, 8), j ->
                           list_min(list_transform(shingles,
                               s -> md5(concat(CAST(j AS VARCHAR), ':', s))))) AS mh
                FROM sh),
            banded AS (
                SELECT doc_id, b.band,
                       concat(mh[b.band * 2 + 1], '|', mh[b.band * 2 + 2]) AS bkey
                FROM sig, (SELECT unnest(range(0, 4)) AS band) b)
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id
        """,
        "substring_dedup": f"""
            WITH t AS (SELECT {_DOC_KEY} AS doc_id, {_DUCK_TOKENS_FLAT} AS toks
                       FROM documents),
            g AS (
                SELECT doc_id, i - 1 AS pos,
                       md5(array_to_string(
                           list_transform(list_slice(toks, i, i + 11),
                                          x -> CAST(x AS VARCHAR)),
                           ' ')) AS g
                FROM (SELECT doc_id, toks,
                             unnest(range(1, greatest(len(toks) - 11, 0) + 1)) AS i
                      FROM t)),
            r AS (SELECT doc_id, pos,
                         row_number() OVER (PARTITION BY g
                                            ORDER BY doc_id, pos) AS rn
                  FROM g),
            cov AS (
                SELECT DISTINCT doc_id, pos + j AS p
                FROM (SELECT doc_id, pos, unnest(range(0, 12)) AS j
                      FROM r WHERE rn > 1)),
            tp AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS p,
                          unnest(toks) AS tok
                   FROM t)
            SELECT tp.doc_id,
                   CAST(count(*) AS INT) AS n_tok,
                   CAST(count(*) FILTER (WHERE cov.p IS NULL) AS INT) AS n_kept,
                   md5(coalesce(
                       string_agg(CAST(tok AS VARCHAR), ' ' ORDER BY tp.p)
                           FILTER (WHERE cov.p IS NULL),
                       '')) AS kept_hash
            FROM tp LEFT JOIN cov
              ON cov.doc_id = tp.doc_id AND cov.p = tp.p
            GROUP BY tp.doc_id
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE {_DUCK_MINHASH_CAND},
            -- MATERIALIZED: the reach recursion joins edges per step;
            -- unmaterialized, the minhash candidate chain recomputes
            -- once per closure round
            edges AS MATERIALIZED (
                      SELECT a AS src, b AS dst FROM cand
                      UNION SELECT b, a FROM cand),
            reach AS (
                SELECT src AS v, dst AS w FROM edges
                UNION
                SELECT r.v, e.dst FROM reach r JOIN edges e ON r.w = e.src),
            comp AS (SELECT v, least(v, min(w)) AS keeper FROM reach GROUP BY v)
            SELECT v AS doc_id, keeper FROM comp
        """,
        "cluster_split": f"""
            WITH RECURSIVE {_DUCK_MINHASH_CAND},
            edges AS MATERIALIZED (
                      SELECT a AS src, b AS dst FROM cand
                      UNION SELECT b, a FROM cand),
            reach AS (
                SELECT src AS v, dst AS w FROM edges
                UNION
                SELECT r.v, e.dst FROM reach r JOIN edges e ON r.w = e.src),
            comp AS (SELECT v, least(v, min(w)) AS keeper FROM reach GROUP BY v),
            lbl AS (
                SELECT d.doc_id, coalesce(c.keeper, d.doc_id) AS cluster
                FROM documents d LEFT JOIN comp c ON d.doc_id = c.v),
            u AS (
                SELECT doc_id, cluster,
                       {_duck_md5_u32("concat('split:', CAST(cluster AS VARCHAR))")}
                           / 4294967296.0 AS uu
                FROM lbl)
            SELECT doc_id, cluster,
                   CASE WHEN uu < 0.8 THEN 'train'
                        WHEN uu < 0.9 THEN 'val'
                        ELSE 'test' END AS split
            FROM u
        """,
        "dedup_keep_best": f"""
            WITH RECURSIVE {_DUCK_MINHASH_CAND},
            edges AS MATERIALIZED (
                      SELECT a AS src, b AS dst FROM cand
                      UNION SELECT b, a FROM cand),
            reach AS (
                SELECT src AS v, dst AS w FROM edges
                UNION
                SELECT r.v, e.dst FROM reach r JOIN edges e ON r.w = e.src),
            comp AS (SELECT v, least(v, min(w)) AS keeper FROM reach GROUP BY v),
            lbl AS (
                SELECT d.doc_id, coalesce(c.keeper, d.doc_id) AS cluster,
                       d.n_chars
                FROM documents d LEFT JOIN comp c ON d.doc_id = c.v),
            r AS (
                SELECT doc_id, cluster, n_chars,
                       row_number() OVER (
                           PARTITION BY cluster
                           ORDER BY n_chars DESC, doc_id ASC) AS rn
                FROM lbl)
            SELECT doc_id, n_chars, cluster, rn = 1 AS keep FROM r
        """,
        "dedup_against": """
            WITH sh AS (
                SELECT doc_id, text,
                       list_transform(
                           range(1, greatest(len(words) - 2, 1) + 1),
                           i -> array_to_string(list_slice(words, i, i + 2), ' ')) AS shingles
                FROM (SELECT doc_id, text, str_split(text, ' ') AS words
                      FROM documents)),
            sig AS (
                SELECT doc_id,
                       list_transform(range(0, 8), j ->
                           list_min(list_transform(shingles,
                               s -> md5(concat(CAST(j AS VARCHAR), ':', s))))) AS mh
                FROM sh),
            banded AS (
                SELECT doc_id, b.band,
                       concat(mh[b.band * 2 + 1], '|', mh[b.band * 2 + 2]) AS bkey
                FROM sig, (SELECT unnest(range(0, 4)) AS band) b),
            oldb AS (SELECT DISTINCT band, bkey FROM banded
                     WHERE doc_id % 3 <> 0),
            near AS (SELECT DISTINCT n.doc_id FROM banded n JOIN oldb o
                       ON n.band = o.band AND n.bkey = o.bkey
                     WHERE n.doc_id % 3 = 0),
            oldh AS (SELECT DISTINCT md5(text) AS h FROM documents
                     WHERE doc_id % 3 <> 0)
            SELECT d.doc_id,
                   (h.h IS NOT NULL) AS dup_exact,
                   (nr.doc_id IS NOT NULL) AS dup_near
            FROM documents d
            LEFT JOIN oldh h ON md5(d.text) = h.h
            LEFT JOIN near nr ON d.doc_id = nr.doc_id
            WHERE d.doc_id % 3 = 0
        """,
        "ngram_jaccard": """
            WITH sh AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, greatest(len(words) - 1, 1) + 1),
                           i -> array_to_string(list_slice(words, i, i + 1), ' '))) AS s
                FROM (SELECT doc_id, str_split(text, ' ') AS words FROM documents))
            SELECT a.doc_id AS a, b.doc_id AS b,
                   round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                         / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id + 1 = b.doc_id
        """,
        "embedding_decontam": """
            WITH ev AS (
                SELECT vec_id AS eid, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id % 29 = 0),
            c AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id % 29 <> 0),
            s AS (
                SELECT c.vec_id, ev.eid,
                       round(list_dot_product(c.v, ev.v)
                             / (sqrt(list_dot_product(c.v, c.v))
                                * sqrt(list_dot_product(ev.v, ev.v))), 6) AS cos
                FROM c, ev),
            m AS (SELECT vec_id, max(cos) AS max_eval_cosine
                  FROM s GROUP BY vec_id)
            SELECT s.vec_id, m.max_eval_cosine,
                   min(s.eid) AS nearest_eval_id,
                   (m.max_eval_cosine >= 0.4) AS contaminated
            FROM s JOIN m
              ON s.vec_id = m.vec_id AND s.cos = m.max_eval_cosine
            GROUP BY s.vec_id, m.max_eval_cosine
        """,
        "cosine_topk": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_dot_product(CAST(embedding AS DOUBLE[]), qv)
                         / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                  CAST(embedding AS DOUBLE[])))
                            * sqrt(list_dot_product(qv, qv))), 6) AS cosine
            FROM embeddings, q
            ORDER BY cosine DESC, vec_id LIMIT 5
        """,
        "ivf_assign": """
            WITH c AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS centroid
                       FROM embeddings WHERE vec_id < 8)
            SELECT vec_id, cell, round(cosine, 6) AS cell_cosine FROM (
                SELECT e.vec_id, c.cell,
                       list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid)
                       / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                CAST(e.embedding AS DOUBLE[])))
                          * sqrt(list_dot_product(c.centroid, c.centroid))) AS cosine,
                       row_number() OVER (PARTITION BY e.vec_id
                                          ORDER BY round(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid)
                                                   / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                                            CAST(e.embedding AS DOUBLE[])))
                                                      * sqrt(list_dot_product(c.centroid, c.centroid))), 6) DESC,
                                                   c.cell) AS rn
                FROM embeddings e, c) WHERE rn = 1
        """,
        "embedding_covariance": _duck_embedding_covariance_sql(),
        "embedding_pca": _duck_embedding_pca_sql(k=4),
        "source_ngram_overlap": """
            WITH t AS (SELECT source, str_split(text, ' ') AS us
                       FROM documents),
            g AS (
                SELECT DISTINCT source,
                       md5(array_to_string(us[i:i + 4], chr(31))) AS g
                FROM (SELECT source, us,
                             unnest(range(1, greatest(len(us) - 4, 0) + 1)) AS i
                      FROM t)),
            per AS (
                SELECT d.source, coalesce(c.cnt, 0) AS n_grams
                FROM (SELECT DISTINCT source FROM documents) d
                LEFT JOIN (SELECT source, count(*) AS cnt
                           FROM g GROUP BY source) c USING (source)),
            sh AS (
                SELECT a.source AS sa, b.source AS sb, count(*) AS cnt
                FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
                GROUP BY 1, 2)
            SELECT pa.source AS source_a, pb.source AS source_b,
                   CAST(pa.n_grams AS BIGINT) AS grams_a,
                   CAST(pb.n_grams AS BIGINT) AS grams_b,
                   CAST(coalesce(sh.cnt, 0) AS BIGINT) AS shared_grams,
                   round(coalesce(sh.cnt, 0)
                         / CAST(nullif(pa.n_grams + pb.n_grams
                                       - coalesce(sh.cnt, 0), 0) AS DOUBLE),
                         6) AS jaccard,
                   round(coalesce(sh.cnt, 0)
                         / CAST(nullif(least(pa.n_grams, pb.n_grams), 0)
                                AS DOUBLE), 6) AS containment
            FROM per pa
            JOIN per pb ON pa.source < pb.source
            LEFT JOIN sh ON sh.sa = pa.source AND sh.sb = pb.source
        """,
        "embedding_near_dups": _duck_embedding_near_dups_sql(threshold=0.5, tables=8),
        "embedding_near_dups_auto": _duck_embedding_near_dups_sql(
            threshold=0.3, tables=None),
        "media_image_features": """
            WITH c AS (
                SELECT doc_id, length(text) AS n,
                       list_transform(range(1, length(text) + 1),
                                      i -> ord(substr(text, CAST(i AS INTEGER), 1))) AS codes
                FROM documents),
            m AS (
                SELECT doc_id, n, codes,
                       16 * CAST(ceil(n / 16.0) AS BIGINT) AS total,
                       CAST(list_sum(codes) AS DOUBLE) AS s
                FROM c),
            m2 AS (SELECT *, s / total AS mu FROM m)
            SELECT concat('img', lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS media_id,
                   CAST(16 AS INTEGER) AS width,
                   CAST(total // 16 AS INTEGER) AS height,
                   round(mu, 6) AS mean_pixel,
                   round(sqrt((list_sum(list_transform(codes, x -> (x - mu) * (x - mu)))
                               + (total - n) * mu * mu) / total), 6) AS std_pixel
            FROM m2
        """,
        "media_audio_features": """
            WITH c AS (
                SELECT doc_id, length(text) AS n,
                       list_transform(range(1, length(text) + 1),
                                      i -> ord(substr(text, CAST(i AS INTEGER), 1))) AS codes
                FROM documents)
            SELECT concat('aud', lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS media_id,
                   CAST(8000 AS INTEGER) AS sample_rate,
                   round(n / 8000.0, 6) AS duration_s,
                   round(sqrt(list_sum(list_transform(codes,
                         x -> CAST((x - 100) * (x - 100) AS DOUBLE))) / n), 6) AS rms,
                   CAST(list_sum(list_transform(range(2, n + 1), i ->
                        CASE WHEN (codes[CAST(i AS INTEGER) - 1] < 100)
                                  != (codes[CAST(i AS INTEGER)] < 100)
                             THEN 1 ELSE 0 END)) AS INTEGER) AS zero_crossings
            FROM c
        """,
        "media_frame_sample": """
            WITH c AS (
                SELECT doc_id, length(text) AS n,
                       list_transform(range(1, length(text) + 1),
                                      i -> ord(substr(text, CAST(i AS INTEGER), 1))) AS codes
                FROM documents),
            v AS (SELECT doc_id, codes, n // 16 AS nf FROM c WHERE n // 16 >= 1),
            fr AS (SELECT doc_id, codes, unnest(range(0, nf, 4)) AS i FROM v)
            SELECT concat('vid', lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS media_id,
                   CAST(i AS INTEGER) AS frame_idx,
                   round(CAST(list_sum(list_slice(codes, CAST(i * 16 + 1 AS INTEGER),
                                                  CAST(i * 16 + 16 AS INTEGER))) AS DOUBLE)
                         / 16, 6) AS frame_mean
            FROM fr
        """,
        "semantic_dedup": f"""
            WITH c AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS centroid
                       FROM embeddings WHERE vec_id < 8),
            a AS (
                SELECT vec_id, cell FROM (
                    SELECT e.vec_id, c.cell,
                           row_number() OVER (PARTITION BY e.vec_id ORDER BY
                               {_duck_cos("CAST(e.embedding AS DOUBLE[])", "c.centroid")}
                               DESC, c.cell) AS rn
                    FROM embeddings e CROSS JOIN c) WHERE rn = 1),
            ms AS (
                SELECT l.vec_id,
                       max({_duck_cos("CAST(le.embedding AS DOUBLE[])",
                                      "CAST(re.embedding AS DOUBLE[])")}) AS m
                FROM a l JOIN a r ON l.cell = r.cell AND r.vec_id < l.vec_id
                JOIN embeddings le ON le.vec_id = l.vec_id
                JOIN embeddings re ON re.vec_id = r.vec_id
                GROUP BY l.vec_id)
            SELECT a.vec_id, a.cell,
                   round(ms.m, 6) AS max_sim_earlier,
                   CAST(CASE WHEN ms.m >= 0.4 THEN 0 ELSE 1 END AS INTEGER) AS keep
            FROM a LEFT JOIN ms USING (vec_id)
        """,
        "embedding_near_dups_ivf": f"""
            WITH c AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS centroid
                       FROM embeddings WHERE vec_id < 8),
            a AS (
                SELECT vec_id, cell FROM (
                    SELECT e.vec_id, c.cell,
                           row_number() OVER (PARTITION BY e.vec_id ORDER BY
                               {_duck_cos("CAST(e.embedding AS DOUBLE[])", "c.centroid")}
                               DESC, c.cell) AS rn
                    FROM embeddings e CROSS JOIN c) WHERE rn <= 2)
            SELECT DISTINCT l.vec_id AS a, r.vec_id AS b,
                   {_duck_cos("CAST(le.embedding AS DOUBLE[])",
                              "CAST(re.embedding AS DOUBLE[])")} AS cosine
            FROM a l JOIN a r ON l.cell = r.cell AND l.vec_id < r.vec_id
            JOIN embeddings le ON le.vec_id = l.vec_id
            JOIN embeddings re ON re.vec_id = r.vec_id
            WHERE {_duck_cos("CAST(le.embedding AS DOUBLE[])",
                             "CAST(re.embedding AS DOUBLE[])")} >= 0.3
        """,
        "ivf_topk": f"""
            WITH c AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS centroid
                       FROM embeddings WHERE vec_id < 8),
            {_duck_ivf_topk_tail("c")}
        """,
        "ivf_recall": f"""
            WITH c AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS centroid
                       FROM embeddings WHERE vec_id < 8),
            q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
            probe AS (
                SELECT cell FROM c, q
                ORDER BY {_duck_cos("c.centroid", "q.qv")} DESC, cell LIMIT 2),
            fassign AS (
                SELECT vec_id, cell FROM (
                    SELECT e.vec_id, c.cell,
                           row_number() OVER (PARTITION BY e.vec_id
                               ORDER BY {_duck_cos("CAST(e.embedding AS DOUBLE[])", "c.centroid")} DESC,
                                        c.cell) AS rn
                    FROM embeddings e, c) WHERE rn = 1),
            ivf AS (
                SELECT e.vec_id
                FROM embeddings e JOIN fassign a USING (vec_id), q
                WHERE a.cell IN (SELECT cell FROM probe)
                ORDER BY {_duck_cos("CAST(e.embedding AS DOUBLE[])", "q.qv")} DESC, e.vec_id
                LIMIT 5),
            bf AS (
                SELECT e.vec_id FROM embeddings e, q
                ORDER BY {_duck_cos("CAST(e.embedding AS DOUBLE[])", "q.qv")} DESC, e.vec_id
                LIMIT 5)
            SELECT CAST(count(*) AS DOUBLE) / 5 AS recall_at_5
            FROM bf SEMI JOIN ivf USING (vec_id)
        """,
        "ivf_trained_topk": f"""
            WITH c0 AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS centroid
                        FROM embeddings WHERE vec_id < 4),
            {_duck_ivf_round("c0", "a1", "m1", "c1")},
            {_duck_ivf_round("c1", "a2", "m2", "c2")},
            {_duck_ivf_topk_tail("c2")}
        """,
        "pq_codes": f"""
            WITH {_DUCK_PQ_CODES}
            SELECT vec_id,
                   CAST(max(CASE WHEN j = 0 THEN code END) AS INT) AS code0,
                   CAST(max(CASE WHEN j = 1 THEN code END) AS INT) AS code1,
                   CAST(max(CASE WHEN j = 2 THEN code END) AS INT) AS code2,
                   CAST(max(CASE WHEN j = 3 THEN code END) AS INT) AS code3
            FROM pqcodes GROUP BY vec_id
        """,
        "pq_adc_topk": f"""
            WITH {_DUCK_PQ_CODES}
            SELECT vec_id, adist FROM adc ORDER BY adist, vec_id LIMIT 5
        """,
        "mmr_topk": _duck_mmr_sql(k=5, pool=20, lam=0.7),
        "sq8_topk": """
            WITH v AS (
                SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
            e AS (SELECT vec_id, generate_subscripts(v, 1) AS i,
                         unnest(v) AS x FROM v),
            b AS (SELECT i, min(x) AS lo, max(x) AS hi FROM e GROUP BY i),
            enc AS (
                SELECT e.vec_id, e.i,
                       CASE WHEN b.hi = b.lo THEN 0
                            ELSE CAST(least(greatest(floor(((e.x - b.lo)
                                 * 256.0) / (b.hi - b.lo)), 0), 255)
                                 AS BIGINT)
                       END AS code,
                       b.lo AS lo, b.hi AS hi
                FROM e JOIN b USING (i)),
            deq AS (
                SELECT vec_id, i,
                       lo + (code + 0.5) * ((hi - lo) / 256.0) AS xhat
                FROM enc),
            dl AS (SELECT vec_id, list(xhat ORDER BY i) AS xh
                   FROM deq GROUP BY vec_id),
            qv AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE))
                       AS q
                   FROM embeddings WHERE vec_id = 0),
            d AS (
                SELECT vec_id,
                       round(list_sum(list_transform(range(1, 65),
                             i -> (xh[i] - q[i]) * (xh[i] - q[i]))), 6)
                           AS adist
                FROM dl, qv)
            SELECT vec_id, adist FROM d ORDER BY adist, vec_id LIMIT 5
        """,
        "sq8_recall": """
            WITH v AS (
                SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
            e AS (SELECT vec_id, generate_subscripts(v, 1) AS i,
                         unnest(v) AS x FROM v),
            b AS (SELECT i, min(x) AS lo, max(x) AS hi FROM e GROUP BY i),
            enc AS (
                SELECT e.vec_id, e.i,
                       CASE WHEN b.hi = b.lo THEN 0
                            ELSE CAST(least(greatest(floor(((e.x - b.lo)
                                 * 256.0) / (b.hi - b.lo)), 0), 255)
                                 AS BIGINT)
                       END AS code,
                       b.lo AS lo, b.hi AS hi
                FROM e JOIN b USING (i)),
            deq AS (
                SELECT vec_id, i,
                       lo + (code + 0.5) * ((hi - lo) / 256.0) AS xhat
                FROM enc),
            dl AS (SELECT vec_id, list(xhat ORDER BY i) AS xh
                   FROM deq GROUP BY vec_id),
            qv AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE))
                       AS q
                   FROM embeddings WHERE vec_id = 0),
            anntop AS (
                SELECT vec_id FROM (
                    SELECT vec_id,
                           round(list_sum(list_transform(range(1, 65),
                                 i -> (xh[i] - q[i]) * (xh[i] - q[i]))), 6)
                               AS adist
                    FROM dl, qv)
                ORDER BY adist, vec_id LIMIT 5),
            exact AS (
                SELECT vec_id FROM (
                    SELECT vec_id,
                           round(list_sum(list_transform(range(1, 65),
                                 i -> (v[i] - q[i]) * (v[i] - q[i]))), 6)
                               AS d
                    FROM v, qv)
                ORDER BY d, vec_id LIMIT 5)
            SELECT count(*) / 5.0 AS recall_at_5
            FROM exact SEMI JOIN anntop ON exact.vec_id = anntop.vec_id
        """,
        "pq_trained_recall": f"""
            WITH {_DUCK_PQ_CODES},
            pj AS (
                SELECT c.j, c.code, generate_subscripts(sub, 1) AS dim,
                       unnest(sub) AS val
                FROM pqcodes c JOIN sv
                  ON sv.vec_id = c.vec_id AND sv.j = c.j),
            pm AS (
                SELECT j, code, list(round(m, 6) ORDER BY dim) AS msc FROM (
                    SELECT j, code, dim, sum(val) / count(*) AS m
                    FROM pj GROUP BY j, code, dim)
                GROUP BY j, code),
            cb2 AS (SELECT cb.j, cb.code, coalesce(pm.msc, cb.sc) AS sc
                    FROM cb LEFT JOIN pm USING (j, code)),
            d2 AS (
                SELECT sv.vec_id, sv.j, cb2.code,
                       round(list_sum(list_transform(range(1, 17),
                             i -> (sub[i] - sc[i]) * (sub[i] - sc[i]))), 6) AS dist
                FROM sv JOIN cb2 ON sv.j = cb2.j),
            codes2 AS (
                SELECT vec_id, j, code FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id, j
                                                 ORDER BY dist, code) AS rn
                    FROM d2) WHERE rn = 1),
            dt2 AS (
                SELECT cb2.j, cb2.code,
                       round(list_sum(list_transform(range(1, 17),
                             i -> (qs.sub[i] - sc[i]) * (qs.sub[i] - sc[i]))),
                             6) AS dj
                FROM cb2 JOIN (SELECT j, sub FROM sv WHERE vec_id = 0) qs
                  ON qs.j = cb2.j),
            adc2 AS (
                SELECT c.vec_id, round(sum(dj), 6) AS adist
                FROM codes2 c JOIN dt2 ON c.j = dt2.j AND c.code = dt2.code
                GROUP BY c.vec_id),
            qv2 AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q
                    FROM embeddings WHERE vec_id = 0),
            exact AS (
                SELECT vec_id FROM (
                    SELECT vec_id,
                           round(list_sum(list_transform(range(1, 65),
                                 i -> (CAST(embedding[i] AS DOUBLE) - q[i])
                                    * (CAST(embedding[i] AS DOUBLE) - q[i]))),
                                 6) AS d
                    FROM embeddings, qv2)
                ORDER BY d, vec_id LIMIT 5),
            anntop AS (SELECT vec_id FROM adc2 ORDER BY adist, vec_id LIMIT 5)
            SELECT count(*) / 5.0 AS recall_at_5
            FROM exact SEMI JOIN anntop ON exact.vec_id = anntop.vec_id
        """,
        "ivfpq_topk": f"""
            WITH {_duck_ivfpq()}
            SELECT vec_id, adist FROM adcq ORDER BY adist, vec_id LIMIT 5
        """,
        "ivfpq_recall": f"""
            WITH {_duck_ivfpq()},
            exact AS (
                SELECT vec_id FROM (
                    SELECT e.vec_id,
                           round(list_sum(list_transform(range(1, 65),
                                 i -> (CAST(e.embedding[i] AS DOUBLE) - q[i])
                                    * (CAST(e.embedding[i] AS DOUBLE) - q[i]))),
                                 6) AS d
                    FROM embeddings e, qv)
                ORDER BY d, vec_id LIMIT 5),
            anntop AS (SELECT vec_id FROM adcq ORDER BY adist, vec_id LIMIT 5)
            SELECT count(*) / 5.0 AS recall_at_5
            FROM exact SEMI JOIN anntop ON exact.vec_id = anntop.vec_id
        """,
        "pq_recall": f"""
            WITH {_DUCK_PQ_CODES},
            qv AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q
                   FROM embeddings WHERE vec_id = 0),
            exact AS (
                SELECT vec_id FROM (
                    SELECT vec_id,
                           round(list_sum(list_transform(range(1, 65),
                                 i -> (CAST(embedding[i] AS DOUBLE) - q[i])
                                    * (CAST(embedding[i] AS DOUBLE) - q[i]))),
                                 6) AS d
                    FROM embeddings, qv)
                ORDER BY d, vec_id LIMIT 5),
            adctop AS (SELECT vec_id FROM adc ORDER BY adist, vec_id LIMIT 5)
            SELECT count(*) / 5.0 AS recall_at_5
            FROM exact SEMI JOIN adctop ON exact.vec_id = adctop.vec_id
        """,
        "flagship_docs": f"""
            WITH base AS (
                SELECT {_DOC_KEY} AS doc_id, doc_id AS dnum, source,
                       {_DUCK_TOKENS_FLAT} AS toks,
                       1704067200000000 + doc_id * 60000000 AS ingest_us
                FROM documents),
            base2 AS (
                SELECT *, md5(array_to_string(toks, ' ')) AS gbdhash FROM base),
            lits AS (
                SELECT doc_id, tok, pos,
                       sum(CASE WHEN tok = 0 THEN 1 ELSE 0 END) OVER (
                           PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - CASE WHEN tok = 0 THEN 1 ELSE 0 END AS cid
                FROM (SELECT doc_id, unnest(toks) AS tok,
                             generate_subscripts(toks, 1) AS pos FROM base)),
            csz AS (
                SELECT doc_id, cid, count(*) AS sz,
                       sum(CASE WHEN tok < 0 THEN 1 ELSE 0 END) AS n_neg
                FROM lits WHERE tok != 0 GROUP BY doc_id, cid),
            dstat AS (
                SELECT doc_id, count(*) AS n_clauses,
                       sum(CASE WHEN n_neg <= 1 THEN 1 ELSE 0 END) AS horn
                FROM csz GROUP BY doc_id),
            -- snapshots at offsets (j-1)*90s, j in 0..dnum%3, skipped when
            -- dnum%7=3; strictly-prior as-of match = the j=0 snapshot
            snapmatch AS (
                SELECT doc_id FROM base WHERE dnum % 7 != 3),
            sess AS (
                SELECT source, sum(flag) AS n_sessions FROM (
                    SELECT source,
                           CASE WHEN lag(ingest_us) OVER w IS NULL
                                     OR ingest_us - lag(ingest_us) OVER w > 120000000
                                THEN 1 ELSE 0 END AS flag
                    FROM base
                    WINDOW w AS (PARTITION BY source ORDER BY ingest_us, doc_id))
                GROUP BY source)
            SELECT b.source,
                   count(*) AS n_docs,
                   count(DISTINCT b.gbdhash) AS n_distinct,
                   CAST(sum(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_matched,
                   round(avg(CAST(d.n_clauses AS DOUBLE)), 6) AS avg_clauses,
                   round(avg(CAST(d.horn AS DOUBLE)), 6) AS avg_horn,
                   CAST(any_value(s.n_sessions) AS BIGINT) AS n_sessions,
                   CAST(0 AS BIGINT) AS n_errors
            FROM base2 b
            JOIN dstat d USING (doc_id)
            LEFT JOIN snapmatch m USING (doc_id)
            JOIN sess s USING (source)
            GROUP BY b.source
        """,
        "data_card": """
            WITH h AS (
                SELECT doc_id, source, lang,
                       length(text) AS chars,
                       len(str_split(text, ' ')) AS words,
                       md5(text) AS hh
                FROM documents),
            c AS (SELECT hh, count(*) AS n_same FROM h GROUP BY hh)
            SELECT source,
                   count(*) AS n_docs,
                   CAST(sum(chars) AS BIGINT) AS total_chars,
                   CAST(sum(words) AS BIGINT) AS total_words,
                   count(DISTINCT lang) AS n_langs,
                   CAST(sum(CASE WHEN c.n_same > 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_dup_docs,
                   CAST(min(chars) AS INTEGER) AS min_chars,
                   CAST(max(chars) AS INTEGER) AS max_chars,
                   round(avg(chars), 6) AS avg_chars,
                   round(sum(CASE WHEN c.n_same > 1 THEN 1 ELSE 0 END)
                         / count(*), 6) AS dup_rate
            FROM h JOIN c ON h.hh = c.hh
            GROUP BY source
        """,
        "curation_pipeline": f"""
            WITH keepers AS (
                SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
            quality AS (
                SELECT d.doc_id, d.text, len(words) AS n_words,
                       round(list_sum(list_transform(words, w ->
                             CASE WHEN w IN {_STOPWORDS_SQL} THEN 1 ELSE 0 END))
                             / len(words), 6) AS stopword_ratio
                FROM (SELECT doc_id, text, str_split(text, ' ') AS words
                      FROM documents) d JOIN keepers USING (doc_id)
                WHERE len(words) >= 10
                  AND list_sum(list_transform(words, w ->
                        CASE WHEN w IN {_STOPWORDS_SQL} THEN 1 ELSE 0 END))
                      / len(words) <= 0.65),
            grep_pass AS (
                SELECT doc_id
                FROM ({_duck_gopher_filter_sql(source="quality")})
                WHERE gopher_pass),
            gq_pass AS (
                SELECT doc_id
                FROM ({_duck_gopher_quality_sql(source="quality",
                                                min_words=25,
                                                min_stopwords=0)})
                WHERE gopher_quality_pass),
            gated AS (
                SELECT q.* FROM quality q
                JOIN grep_pass USING (doc_id)
                JOIN gq_pass USING (doc_id)),
            sh AS (
                SELECT doc_id,
                       list_transform(
                           range(1, greatest(len(str_split(text, ' ')) - 2, 1) + 1),
                           i -> array_to_string(list_slice(str_split(text, ' '), i, i + 2), ' ')) AS shingles
                FROM gated),
            sig AS (
                SELECT doc_id,
                       list_transform(range(0, 8), j ->
                           list_min(list_transform(shingles,
                               s -> md5(concat(CAST(j AS VARCHAR), ':', s))))) AS mh
                FROM sh),
            banded AS (
                SELECT doc_id, b.band,
                       concat(mh[b.band * 2 + 1], '|', mh[b.band * 2 + 2]) AS bkey
                FROM sig, (SELECT unnest(range(0, 4)) AS band) b),
            cand AS (
                SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                FROM banded l JOIN banded r
                  ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
            sh3 AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, greatest(len(str_split(text, ' ')) - 2, 1) + 1),
                           i -> array_to_string(list_slice(str_split(text, ' '), i, i + 2), ' '))) AS s
                FROM gated),
            losers AS (
                SELECT DISTINCT c.b AS doc_id
                FROM cand c JOIN sh3 x ON x.doc_id = c.a JOIN sh3 y ON y.doc_id = c.b
                WHERE round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
                      / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))), 6) >= 0.7)
            SELECT q.doc_id, q.n_words, q.stopword_ratio,
                   len(str_split(d.text, ' ')) AS n_ws_tokens,
                   CAST(ceil(length(d.text) / 4.0) AS BIGINT) AS n_bpe_est,
                   md5(regexp_replace(lower(d.text), '\\s+', ' ', 'g')) AS fingerprint
            FROM gated q JOIN documents d USING (doc_id)
            WHERE q.doc_id NOT IN (SELECT doc_id FROM losers)
        """,
        "stream_extract": f"""
            WITH t AS (SELECT {_DOC_KEY} AS doc_id, {_DUCK_TOKENS_FLAT} AS toks
                       FROM documents),
            u AS (SELECT doc_id, unnest(toks) AS tok FROM t),
            deg AS (
                SELECT doc_id, abs(tok) AS v,
                       sum(CASE WHEN tok > 0 THEN 1 ELSE 0 END) AS p,
                       sum(CASE WHEN tok < 0 THEN 1 ELSE 0 END) AS n
                FROM u WHERE tok != 0 GROUP BY doc_id, abs(tok)),
            pairs AS (
                SELECT doc_id, least(p, n) AS lo, greatest(p, n) AS hi
                FROM deg WHERE greatest(p, n) > 0),
            buf AS (
                SELECT doc_id,
                       string_agg(concat(lo, ' ', hi, ' '), '' ORDER BY lo, hi) AS b
                FROM pairs GROUP BY doc_id)
            SELECT t.doc_id,
                   md5(array_to_string(t.toks, ' ')) AS gbdhash,
                   md5(coalesce(b.b, '')) AS isohash,
                   CAST(len(list_filter(t.toks, x -> x = 0)) AS DOUBLE) AS clauses,
                   CAST(list_max(list_transform(t.toks, x -> abs(x))) AS DOUBLE) AS variables,
                   'ok' AS status
            FROM t LEFT JOIN buf b USING (doc_id)
        """,
        "gbdhash_docs": f"""
            SELECT {_DOC_KEY} AS doc_id,
                   md5(array_to_string({_DUCK_TOKENS_FLAT}, ' ')) AS gbdhash
            FROM documents
        """,
        "normalize_docs": f"""
            SELECT {_DOC_KEY} AS doc_id,
                   CAST(list_max(list_transform({_DUCK_TOKENS_FLAT}, t -> abs(t))) AS INTEGER) AS n_vars,
                   CAST(len(list_filter({_DUCK_TOKENS_FLAT}, t -> t = 0)) AS INTEGER) AS n_clauses
            FROM documents
        """,
        "base_features_docs": _duck_base_features_sql(),
        "wcnf_hashes_docs": f"""
            WITH {_duck_clause_cte()},
            cb AS (
                SELECT doc_id, cid, string_agg(tok, ' ' ORDER BY pos) AS body
                FROM cl GROUP BY doc_id, cid),
            wpart AS (
                SELECT d.doc_id AS dn, c.doc_id, c.cid, c.body,
                       CASE WHEN d.doc_id % 2 = 0 THEN (d.doc_id + c.cid) % 8
                            WHEN (d.doc_id + c.cid) % 3 = 0 THEN -1
                            ELSE (d.doc_id + c.cid) % 5 END AS w
                FROM cb c JOIN (SELECT doc_id, {_DOC_KEY} AS k FROM documents) d
                  ON c.doc_id = d.k),
            parts AS (
                SELECT doc_id, cid, w, dn,
                       CASE WHEN w = -1 OR (dn % 2 = 0 AND w >= 5)
                            THEN 'h ' || body
                            ELSE CAST(w AS VARCHAR) || ' ' || body END AS part,
                       CASE WHEN w = -1 THEN 0 ELSE 1 END AS sets,
                       CASE WHEN w = -1 OR (dn % 2 = 0 AND w >= 5) THEN 1 ELSE 0 END AS hard
                FROM wpart),
            withsep AS (
                SELECT doc_id, cid,
                       CASE WHEN coalesce(sum(sets) OVER (
                                PARTITION BY doc_id ORDER BY cid
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) > 0
                            THEN ' ' || part ELSE part END AS piece
                FROM parts),
            gh AS (
                SELECT doc_id, md5(string_agg(piece, '' ORDER BY cid)) AS wcnfhash
                FROM withsep GROUP BY doc_id),
            iso1 AS (
                SELECT l.doc_id, abs(l.tok) AS v,
                       CASE WHEN l.tok < 0 THEN 1 ELSE 0 END AS neg,
                       p.w, p.hard
                FROM cl l JOIN parts p USING (doc_id, cid) WHERE l.tok != 0),
            isod AS (
                SELECT doc_id, v,
                       sum(CASE WHEN hard = 1 AND neg = 0 THEN 1 ELSE 0 END) AS hp,
                       sum(CASE WHEN hard = 1 AND neg = 1 THEN 1 ELSE 0 END) AS hn,
                       sum(CASE WHEN hard = 0 AND neg = 0 THEN w + 1 ELSE 0 END) AS sp0,
                       sum(CASE WHEN hard = 0 AND neg = 1 THEN w + 1 ELSE 0 END) AS sn0
                FROM iso1 GROUP BY doc_id, v),
            hbuf AS (
                SELECT doc_id, string_agg(concat(least(hp, hn), ' ', greatest(hp, hn), ' '),
                                          '' ORDER BY least(hp, hn), greatest(hp, hn)) AS b
                FROM isod WHERE greatest(hp, hn) > 0 GROUP BY doc_id),
            sbuf AS (
                SELECT doc_id,
                       string_agg(concat(least(sp0 + hp, sn0 + hn), ' ',
                                         greatest(sp0 + hp, sn0 + hn), ' '),
                                  '' ORDER BY least(sp0 + hp, sn0 + hn),
                                           greatest(sp0 + hp, sn0 + hn)) AS b
                FROM isod WHERE greatest(sp0 + hp, sn0 + hn) > 0 GROUP BY doc_id)
            SELECT t.doc_id, g.wcnfhash,
                   md5(coalesce(h.b, '') || 'softs ' || coalesce(s.b, '')) AS wcnfisohash
            FROM t JOIN gh g USING (doc_id)
            LEFT JOIN hbuf h USING (doc_id) LEFT JOIN sbuf s USING (doc_id)
        """,
        "opbhash_docs": f"""
            WITH {_duck_clause_cte()},
            lines AS (
                SELECT doc_id, cid,
                       string_agg(CASE WHEN tok < 0 THEN '1 ~x' ELSE '1 x' END
                                  || abs(tok), ' ' ORDER BY pos)
                       || ' >= 1;' AS line
                FROM cl WHERE tok != 0 GROUP BY doc_id, cid)
            SELECT doc_id, md5(string_agg(line, '' ORDER BY cid)) AS opbhash
            FROM lines GROUP BY doc_id
        """,
        "wcnf_features_docs": _duck_wcnf_features_sql(),
        "opb_features_docs": f"""
            WITH {_duck_clause_cte()},
            pl AS (
                SELECT doc_id, cid, tok,
                       row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS p
                FROM cl WHERE tok != 0),
            terms AS (
                SELECT doc_id, cid,
                       CASE WHEN tok < 0 THEN -(1 + p % 3) ELSE 1 + p % 3 END AS coeff,
                       abs(tok) AS v
                FROM pl),
            cstats AS (
                SELECT doc_id, cid,
                       sum(CASE WHEN coeff < 0 THEN coeff ELSE 0 END) AS mn,
                       sum(CASE WHEN coeff > 0 THEN coeff ELSE 0 END) AS mx,
                       min(abs(coeff)) AS absmin,
                       count(DISTINCT abs(coeff)) AS nd
                FROM terms GROUP BY doc_id, cid),
            cls AS (
                SELECT doc_id, cid, (nd = 1) AS card, (cid % 5 = 0) AS is_eq,
                       CASE WHEN cid % 5 = 0
                            THEN (mn > (cid % 4) - 1 OR mx < (cid % 4) - 1)
                            ELSE mx < (cid % 4) - 1 END AS unsat,
                       CASE WHEN cid % 5 = 0
                            THEN ((cid % 4) - 1 = mx OR (cid % 4) - 1 = mn)
                            ELSE (mx - absmin < (cid % 4) - 1
                                  AND mx > (cid % 4) - 1) END AS assignment,
                       CASE WHEN cid % 5 = 0 THEN FALSE
                            ELSE ((cid % 4) - 1 > mn
                                  AND (cid % 4) - 1 <= mn + absmin) END AS is_clause
                FROM cstats),
            agg AS (
                SELECT doc_id, count(*) AS n_constraints,
                       sum(CASE WHEN NOT is_clause AND NOT card AND NOT is_eq
                                THEN 1 ELSE 0 END) AS pbs_ge,
                       sum(CASE WHEN NOT is_clause AND NOT card AND is_eq
                                THEN 1 ELSE 0 END) AS pbs_eq,
                       sum(CASE WHEN NOT is_clause AND card AND NOT is_eq
                                THEN 1 ELSE 0 END) AS cards_ge,
                       sum(CASE WHEN NOT is_clause AND card AND is_eq
                                THEN 1 ELSE 0 END) AS cards_eq,
                       sum(CASE WHEN is_clause THEN 1 ELSE 0 END) AS n_clauses,
                       sum(CASE WHEN assignment THEN 1 ELSE 0 END) AS assignments,
                       max(CASE WHEN unsat THEN 1 ELSE 0 END) AS trivially_unsat
                FROM cls GROUP BY doc_id),
            vmax AS (SELECT doc_id, max(v) + 1 AS n_variables FROM terms GROUP BY doc_id),
            -- objective = clause 0; Spark transform's lambda index is
            -- 0-based, so the coefficient position is p1 - 1
            objc AS (
                SELECT doc_id,
                       CASE WHEN tok < 0 THEN -(1 + (p1 - 1) % 3)
                            ELSE 1 + (p1 - 1) % 3 END AS coeff
                FROM (SELECT doc_id, tok,
                             row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p1
                      FROM cl WHERE cid = 0 AND tok != 0)),
            ostat AS (
                SELECT doc_id, count(*) AS obj_terms,
                       sum(CASE WHEN coeff > 0 THEN coeff ELSE 0 END) AS obj_max_val,
                       sum(CASE WHEN coeff < 0 THEN coeff ELSE 0 END) AS obj_min_val,
                       avg(CAST(coeff AS DOUBLE)) AS cmean,
                       coalesce(var_pop(CAST(coeff AS DOUBLE)), 0) AS cvar,
                       min(coeff) AS cmin, max(coeff) AS cmax
                FROM objc GROUP BY doc_id),
            okey AS (SELECT doc_id, coeff, count(*) AS c FROM objc GROUP BY doc_id, coeff),
            oent AS (
                SELECT doc_id,
                       CASE WHEN count(*) <= 1 THEN 0.0
                            ELSE -sum((CAST(c AS DOUBLE) / total)
                                      * log2(CAST(c AS DOUBLE) / total))
                                 / log2(count(*)) END AS entropy
                FROM (SELECT doc_id, coeff, c,
                             sum(c) OVER (PARTITION BY doc_id) AS total FROM okey)
                GROUP BY doc_id)
            SELECT a.doc_id,
                   CAST(a.n_constraints AS DOUBLE) AS constraints,
                   CAST(v.n_variables AS DOUBLE) AS variables,
                   CAST(a.pbs_ge AS DOUBLE) AS pbs_ge,
                   CAST(a.pbs_eq AS DOUBLE) AS pbs_eq,
                   CAST(a.cards_ge AS DOUBLE) AS cards_ge,
                   CAST(a.cards_eq AS DOUBLE) AS cards_eq,
                   CAST(a.n_clauses AS DOUBLE) AS clauses,
                   CAST(a.assignments AS DOUBLE) AS assignments,
                   CAST(a.trivially_unsat AS DOUBLE) AS trivially_unsat,
                   CAST(o.obj_terms AS DOUBLE) AS obj_terms,
                   CAST(o.obj_max_val AS DOUBLE) AS obj_max_val,
                   CAST(o.obj_min_val AS DOUBLE) AS obj_min_val,
                   round(o.cmean, 6) AS obj_coeffs_mean,
                   round(o.cvar, 6) AS obj_coeffs_variance,
                   CAST(o.cmin AS DOUBLE) AS obj_coeffs_min,
                   CAST(o.cmax AS DOUBLE) AS obj_coeffs_max,
                   round(e.entropy, 6) AS obj_coeffs_entropy
            FROM agg a JOIN vmax v USING (doc_id)
            JOIN ostat o USING (doc_id) JOIN oent e USING (doc_id)
        """,
        "pqbfhash_docs": f"""
            WITH t AS (SELECT {_DOC_KEY} AS doc_id, {_DUCK_TOKENS_FLAT} AS toks
                       FROM documents),
            m AS (SELECT t.doc_id, t.toks, d.doc_id AS dnum,
                         list_max(list_transform(t.toks, x -> abs(x))) AS nv
                  FROM t JOIN (SELECT doc_id, {_DOC_KEY} AS k FROM documents) d
                    ON t.doc_id = d.k)
            SELECT doc_id,
                   md5(concat(CASE WHEN dnum % 2 = 0 THEN 'e ' ELSE 'a ' END,
                              array_to_string(range(1, nv + 1), ' '),
                              ' 0 ',
                              array_to_string(toks, ' '))) AS pqbfhash
            FROM m
        """,
        "sanitize_docs": f"""
            WITH {_duck_clause_cte()},
            cstr AS (
                SELECT doc_id, cid,
                       string_agg(tok, ' ' ORDER BY pos) || ' 0' AS s,
                       min(pos) AS p0, count(*) AS n_lits
                FROM good GROUP BY doc_id, cid),
            dstr AS (
                SELECT doc_id, string_agg(s, ' ' ORDER BY p0) AS body,
                       CAST(sum(n_lits) + count(*) AS INTEGER) AS n_sane_tok
                FROM cstr GROUP BY doc_id),
            bad AS (
                SELECT DISTINCT doc_id FROM lits WHERE rn > 1
                UNION SELECT doc_id FROM taut)
            SELECT t.doc_id,
                   md5(coalesce(d.body, '')) AS sane_hash,
                   coalesce(d.n_sane_tok, 0) AS n_sane_tok,
                   CASE WHEN b.doc_id IS NULL THEN 1 ELSE 0 END AS is_sanitized
            FROM t LEFT JOIN dstr d USING (doc_id) LEFT JOIN bad b USING (doc_id)
        """,
        "isohash_docs": f"""
            WITH t AS (SELECT {_DOC_KEY} AS doc_id, {_DUCK_TOKENS_FLAT} AS toks
                       FROM documents),
            u AS (SELECT doc_id, unnest(toks) AS tok FROM t),
            deg AS (
                SELECT doc_id, abs(tok) AS v,
                       sum(CASE WHEN tok > 0 THEN 1 ELSE 0 END) AS p,
                       sum(CASE WHEN tok < 0 THEN 1 ELSE 0 END) AS n
                FROM u WHERE tok != 0 GROUP BY doc_id, abs(tok)),
            pairs AS (
                SELECT doc_id, least(p, n) AS lo, greatest(p, n) AS hi
                FROM deg WHERE greatest(p, n) > 0),
            buf AS (
                SELECT doc_id,
                       string_agg(concat(lo, ' ', hi, ' '), '' ORDER BY lo, hi) AS b
                FROM pairs GROUP BY doc_id)
            SELECT t.doc_id, md5(coalesce(b.b, '')) AS isohash
            FROM t LEFT JOIN buf b USING (doc_id)
        """,
        "cnf2kis_docs": f"""
            WITH {_duck_clause_cte()},
            sizes AS (SELECT doc_id, cid, count(*) AS s FROM good GROUP BY doc_id, cid),
            clique AS (
                SELECT doc_id, sum(s) AS nodes, sum(s * (s - 1) // 2) AS e1,
                       count(*) AS k
                FROM sizes GROUP BY doc_id),
            occ AS (
                SELECT doc_id, abs(tok) AS v,
                       sum(CASE WHEN tok > 0 THEN 1 ELSE 0 END) AS p,
                       sum(CASE WHEN tok < 0 THEN 1 ELSE 0 END) AS n
                FROM good GROUP BY doc_id, abs(tok)),
            crosse AS (SELECT doc_id, sum(p * n) AS e2 FROM occ GROUP BY doc_id)
            SELECT t.doc_id,
                   CAST(coalesce(c.nodes, 0) AS BIGINT) AS nodes,
                   CAST(2 * (coalesce(c.e1, 0) + coalesce(x.e2, 0)) AS BIGINT) AS edges,
                   CAST(coalesce(c.k, 0) AS BIGINT) AS k
            FROM t LEFT JOIN clique c USING (doc_id) LEFT JOIN crosse x USING (doc_id)
        """,
        "cnf2kis_edges_docs": f"""
            WITH {_duck_clause_cte("(SELECT * FROM documents WHERE doc_id < 50)")},
            nodes AS (
                SELECT doc_id, cid, tok,
                       row_number() OVER (
                           PARTITION BY doc_id
                           ORDER BY cid, abs(tok),
                                    CASE WHEN tok < 0 THEN 1 ELSE 0 END) AS nid
                FROM good)
            SELECT a.doc_id, CAST(a.nid AS BIGINT) AS a, CAST(b.nid AS BIGINT) AS b
            FROM nodes a JOIN nodes b
              ON a.doc_id = b.doc_id AND a.cid = b.cid AND a.nid != b.nid
            UNION ALL
            SELECT p.doc_id, CAST(p.nid AS BIGINT) AS a, CAST(n.nid AS BIGINT) AS b
            FROM nodes p JOIN nodes n
              ON p.doc_id = n.doc_id AND n.tok = -p.tok
        """,
        "simhash": f"""
            WITH {_DUCK_SIMHASH}
            SELECT doc_id, sim AS simhash FROM sims
        """,
        "simhash_near_dups": f"""
            WITH {_DUCK_SIMHASH}
            SELECT l.doc_id AS a, r.doc_id AS b,
                   CAST(bit_count(xor(l.sim, r.sim)) AS INTEGER) AS hamming
            FROM sims l JOIN sims r ON l.doc_id < r.doc_id
            WHERE bit_count(xor(l.sim, r.sim)) <= 3
        """,
        "base_counts_docs": f"""
            WITH t AS (SELECT {_DOC_KEY} AS doc_id, {_DUCK_TOKENS_FLAT} AS toks,
                              str_split(text, ' ') AS words
                       FROM documents)
            SELECT doc_id,
                   CAST(len(list_filter(toks, x -> x = 0)) AS DOUBLE) AS clauses,
                   CAST(list_max(list_transform(toks, x -> abs(x))) AS DOUBLE) AS variables,
                   CAST(CASE WHEN len(words) % 4 = 2 THEN 1 ELSE 0 END AS DOUBLE) AS cls2,
                   CAST(len(words) // 4 AS DOUBLE) AS cls4
            FROM t
        """,
    }
    # run_flagship now builds the same derived-snapshot composition that
    # q_flagship_docs assembles stage by stage -> one shared oracle
    oracles["flagship_pipeline"] = oracles["flagship_docs"]
    # large-star/small-star CC has the same (doc_id, keeper) contract
    # over the same candidate pair graph as label propagation
    oracles["dedup_clusters_star"] = oracles["dedup_clusters"]
    # the chunked two-phase packer is output-identical to the plain
    # scan by construction — same recursive-CTE oracle gates both
    oracles["pack_next_fit_scalable"] = oracles["pack_next_fit"]
    # the router query runs both branches (row_threshold pinned under
    # then over the probed size) tagged by a path label — the oracle is
    # the same packing duplicated per label
    oracles["pack_next_fit_auto"] = f"""
        SELECT p.*, path FROM ({oracles["pack_next_fit"]}) p
        CROSS JOIN (VALUES ('plain'), ('scalable')) AS t(path)
    """
    # bucketed label_balance preserves the (md5-uniform, key) total
    # order exactly — same oracle gates both physical rank paths
    oracles["label_balance_bucketed"] = oracles["label_balance"]
    # length-bucketed batching: width-32 buckets, in-bucket md5-uniform
    # rank → consecutive 16-row batches → padded length = batch max;
    # both physical rank paths (plain window / two-phase sub-bucketed)
    # share one total order, so one windowed oracle gates the tagged
    # union — and the padding accounting re-derives the batches per
    # mode (width-32 vs the single-global-bucket baseline)

    def _duck_length_batches(bucket_expr: str) -> str:
        return f"""
            WITH d AS (SELECT {_DOC_KEY} AS doc_id,
                              CAST(len({_DUCK_TOKENS_FLAT}) AS INTEGER)
                                  AS n_tok
                       FROM documents),
            u AS (SELECT doc_id, n_tok,
                         CAST({bucket_expr} AS BIGINT) AS len_bucket,
                         {_duck_md5_u32("concat('lbch:', doc_id)")} AS hv
                  FROM d),
            r AS (SELECT doc_id, n_tok, len_bucket,
                         CAST((row_number() OVER (PARTITION BY len_bucket
                              ORDER BY hv, doc_id) - 1) // 16 AS BIGINT)
                             AS batch_id
                  FROM u)
            SELECT doc_id, n_tok, len_bucket, batch_id,
                   CAST(max(n_tok) OVER (PARTITION BY len_bucket, batch_id)
                        AS BIGINT) AS batch_len,
                   CAST(max(n_tok) OVER (PARTITION BY len_bucket, batch_id)
                        - n_tok AS BIGINT) AS pad_tok
            FROM r
        """

    def _duck_padding_stats(bucket_expr: str) -> str:
        return f"""
            WITH b AS ({_duck_length_batches(bucket_expr)}),
            per AS (SELECT len_bucket, batch_id,
                           CAST(count(*) AS BIGINT) AS c,
                           CAST(sum(n_tok) AS BIGINT) AS realtok,
                           CAST(max(n_tok) AS BIGINT) AS mx
                    FROM b GROUP BY len_bucket, batch_id)
            SELECT len_bucket,
                   CAST(count(*) AS BIGINT) AS n_batches,
                   CAST(sum(c) AS BIGINT) AS n_rows,
                   CAST(sum(realtok) AS BIGINT) AS real_tok,
                   CAST(sum(c * mx) AS BIGINT) AS padded_tok,
                   round((sum(c * mx) - sum(realtok))
                         / CAST(sum(c * mx) AS DOUBLE), 6) AS waste_frac,
                   GROUPING(len_bucket) = 1 AS is_total
            FROM per GROUP BY ROLLUP(len_bucket)
        """

    oracles["length_batches"] = f"""
        SELECT b.*, path FROM ({_duck_length_batches("n_tok // 32")}) b
        CROSS JOIN (VALUES ('plain'), ('bucketed')) AS t(path)
    """
    oracles["padding_stats"] = f"""
        SELECT s.*, 'bucketed' AS mode
        FROM ({_duck_padding_stats("n_tok // 32")}) s
        UNION ALL
        SELECT s.*, 'global' AS mode FROM ({_duck_padding_stats("0")}) s
    """
    # budget selection: the two-phase quantized-bucket running sum
    # equals one global (score desc, doc_id) running-sum window —
    # greedy prefix under the 20k-token budget, boundary doc included
    oracles["budget_select"] = f"""
        WITH d AS (SELECT {_DOC_KEY} AS doc_id,
                          CAST(len({_DUCK_TOKENS_FLAT}) AS INTEGER)
                              AS n_tok,
                          len(list_distinct({_DUCK_TOKENS_FLAT}))
                              / len({_DUCK_TOKENS_FLAT}) AS score
                   FROM documents),
        r AS (SELECT doc_id, n_tok, score,
                     CAST(sum(n_tok) OVER (ORDER BY score DESC, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS BIGINT) AS cum_tok
              FROM d WHERE n_tok > 0)
        SELECT doc_id, n_tok, round(score, 6) AS score, cum_tok
        FROM r WHERE cum_tok <= 20000
    """
    # token-balanced sharding: global (n_tok desc, doc_id) rank snakes
    # across 8 shards (0..7 then 7..0) — one window reproduces the
    # two-phase size-value-bucketed rank exactly
    oracles["balanced_shards"] = f"""
        WITH d AS (SELECT {_DOC_KEY} AS doc_id,
                          CAST(len({_DUCK_TOKENS_FLAT}) AS INTEGER)
                              AS n_tok
                   FROM documents),
        r AS (SELECT doc_id, n_tok,
                     row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1
                         AS rn
              FROM d)
        SELECT doc_id, n_tok,
               CAST(CASE WHEN rn % 16 < 8 THEN rn % 16
                         ELSE 15 - (rn % 16) END AS INT) AS shard
        FROM r
    """
    # per-cell quotas rank on the SAME rounded cosines the ivf_assign
    # oracle emits — compose it as the assignment subquery
    oracles["cell_prototypes"] = f"""
        WITH a AS ({oracles["ivf_assign"]}),
        p AS (SELECT vec_id, cell, cell_cosine,
                     CAST(row_number() OVER (PARTITION BY cell
                          ORDER BY cell_cosine DESC, vec_id) AS BIGINT)
                         AS proto_rank,
                     CAST(row_number() OVER (PARTITION BY cell
                          ORDER BY cell_cosine ASC, vec_id) AS BIGINT)
                         AS edge_rank
              FROM a)
        SELECT vec_id, cell, cell_cosine, proto_rank, 'central' AS mode
        FROM p WHERE proto_rank <= 10
        UNION ALL
        SELECT vec_id, cell, cell_cosine, edge_rank AS proto_rank,
               'edge' AS mode
        FROM p WHERE edge_rank <= 10
    """
    # semi-hard negatives: 2-probe cell assignment unrolled in SQL
    # (the ivfpq-oracle device), shared-cell candidate pairs, rounded
    # cosine band + per-anchor quantized-order top-k
    oracles["hard_negatives"] = """
        WITH c AS (SELECT vec_id AS cell,
                          CAST(embedding AS DOUBLE[]) AS centroid
                   FROM embeddings WHERE vec_id < 8),
        s AS (SELECT e.vec_id, c.cell,
                     row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY round(
                             list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid)
                             / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                      CAST(e.embedding AS DOUBLE[])))
                                * sqrt(list_dot_product(c.centroid, c.centroid))), 6)
                             DESC, c.cell) AS rn
              FROM embeddings e, c),
        p AS (SELECT vec_id, cell FROM s WHERE rn <= 2),
        cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
                 FROM p a JOIN p b USING (cell)
                 WHERE a.vec_id <> b.vec_id),
        sc AS (SELECT qid, nid,
                      round(
                          list_dot_product(CAST(eq.embedding AS DOUBLE[]),
                                           CAST(en.embedding AS DOUBLE[]))
                          / (sqrt(list_dot_product(CAST(eq.embedding AS DOUBLE[]),
                                                   CAST(eq.embedding AS DOUBLE[])))
                             * sqrt(list_dot_product(CAST(en.embedding AS DOUBLE[]),
                                                     CAST(en.embedding AS DOUBLE[])))),
                          6) AS cosine
               FROM cand
               JOIN embeddings eq ON eq.vec_id = cand.qid
               JOIN embeddings en ON en.vec_id = cand.nid),
        r AS (SELECT qid, nid, cosine,
                     CAST(row_number() OVER (PARTITION BY qid
                          ORDER BY cosine DESC, nid) AS BIGINT) AS neg_rank
              FROM sc WHERE cosine >= 0.3 AND cosine < 0.9)
        SELECT qid AS vec_id, nid AS neg_id, cosine, neg_rank
        FROM r WHERE neg_rank <= 5
    """
    # width sweep: per-width totals = the padding_stats ROLLUP-total
    # row computed per candidate width; is_best = argmin over the W
    # rows (rounded waste_frac both sides, ties all flagged)
    _sweep_legs = "\nUNION ALL\n".join(
        f"""SELECT {w} AS width, n_batches, n_rows, real_tok,
                   padded_tok, waste_frac
            FROM ({_duck_padding_stats(f"n_tok // {w}")})
            WHERE is_total"""
        for w in (16, 32, 64, 128)
    )
    oracles["padding_sweep"] = f"""
        SELECT *, waste_frac = min(waste_frac) OVER () AS is_best
        FROM ({_sweep_legs})
    """
    # temperature-weighted interleave: the source_temperature oracle's
    # ROUNDED p_sampled is the stride weight, so both engines derive
    # bit-identical positions
    oracles["interleave_temperature"] = f"""
        WITH w AS ({oracles["source_temperature"]}),
        u AS (SELECT doc_id, source,
                     {_duck_md5_u32("concat('mix:', doc_id)")} AS hv
              FROM documents),
        r AS (SELECT doc_id, source,
                     CAST(row_number() OVER (PARTITION BY source
                          ORDER BY hv, doc_id) AS BIGINT) AS src_rank
              FROM u)
        SELECT r.doc_id, r.source, r.src_rank,
               round((r.src_rank - 0.5) / w.p_sampled, 6) AS position
        FROM r JOIN w ON r.source = w.source
    """
    # composed loader prep: the snake sharding applied to the budget
    # selection's output — oracle composed from the same two verified
    # pieces (4 shards → zigzag period 8)
    oracles["loader_prep"] = f"""
        WITH sel AS ({oracles["budget_select"]}),
        r AS (SELECT doc_id, n_tok, cum_tok,
                     row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1
                         AS rn
              FROM sel)
        SELECT doc_id, n_tok, cum_tok,
               CAST(CASE WHEN rn % 8 < 4 THEN rn % 8
                         ELSE 7 - (rn % 8) END AS INT) AS shard
        FROM r
    """
    # stride-scheduled source interleaving: per-source md5-uniform
    # rank, position = (rank - 0.5) / weight; both physical rank paths
    # share the total order, so one windowed oracle gates the union
    oracles["interleave_sources"] = f"""
        WITH u AS (SELECT doc_id, source,
                          {_duck_md5_u32("concat('mix:', doc_id)")} AS hv
                   FROM documents),
        r AS (SELECT doc_id, source,
                     CAST(row_number() OVER (PARTITION BY source
                          ORDER BY hv, doc_id) AS BIGINT) AS src_rank
              FROM u)
        SELECT doc_id, source, src_rank,
               round((src_rank - 0.5) /
                     CASE source WHEN 'src0' THEN 4.0
                                 WHEN 'src1' THEN 2.0
                                 ELSE 1.0 END, 6) AS position,
               path
        FROM r CROSS JOIN (VALUES ('plain'), ('bucketed')) AS t(path)
    """
    # concat-and-chunk: global offsets = running token sum in doc_id
    # order; every token lands at (off + pos - 1), block = gpos // B
    oracles["pack_concat_chunks"] = f"""
        WITH t AS (SELECT {_DOC_KEY} AS doc_id, {_DUCK_TOKENS_FLAT} AS toks
                   FROM documents),
        p AS (SELECT doc_id, list_append(toks, 0) AS toks FROM t),
        o AS (SELECT doc_id, toks,
                     coalesce(sum(len(toks)) OVER (ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS off
              FROM p),
        u AS (SELECT off, unnest(toks) AS tok,
                     generate_subscripts(toks, 1) AS pos
              FROM o),
        b AS (SELECT CAST((off + pos - 1) // 256 AS BIGINT) AS block_id,
                     (off + pos - 1) % 256 AS bp, tok
              FROM u)
        SELECT block_id, CAST(count(*) AS INT) AS n_tok,
               md5(string_agg(CAST(tok AS VARCHAR), ',' ORDER BY bp))
                   AS tokens_md5
        FROM b GROUP BY block_id
    """
    # DoReMi-style mixture weights compose over the lm_perplexity
    # oracle (the scored-CTE wrap device): domain means of the ROUNDED
    # per-doc cross-entropies, exponentiated excess, uniform smoothing
    oracles["domain_weights"] = f"""
        WITH ppl AS ({oracles["lm_perplexity"]}),
        j AS (SELECT d.source, p.cross_entropy
              FROM documents d JOIN ppl p USING (doc_id)
              WHERE p.cross_entropy IS NOT NULL),
        dom AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                       avg(cross_entropy) AS ce
                FROM j GROUP BY source),
        m AS (SELECT avg(ce) AS ce_bar FROM dom),
        ex AS (SELECT source, n_docs, ce,
                      exp(1.0 * (ce - ce_bar)) AS e
               FROM dom, m),
        tot AS (SELECT sum(e) AS z, CAST(count(*) AS BIGINT) AS k
                FROM ex)
        SELECT source, n_docs, round(ce, 6) AS ce,
               round((1.0 - 0.3) * e / z + 0.3 / k, 6) AS weight
        FROM ex, tot
    """
    # E2E weighted dedup: weighted band candidates -> exact weighted
    # Jaccard verify at 0.5 -> closure recursion over the verified
    # edges (the dedup_clusters oracle shape on a composed edge set)
    oracles["weighted_dedup"] = f"""
        WITH RECURSIVE cand AS MATERIALIZED (
            {oracles["weighted_minhash_pairs"]}
        ),
        tw AS (SELECT doc_id, str_split(text, ' ') AS words
               FROM documents),
        ver AS MATERIALIZED (
            SELECT a, b FROM (
                SELECT c.a, c.b, ta.words AS wa, tb.words AS wb,
                       list_distinct(list_concat(
                           list_distinct(ta.words),
                           list_distinct(tb.words))) AS ut
                FROM cand c
                JOIN tw ta ON ta.doc_id = c.a
                JOIN tw tb ON tb.doc_id = c.b)
            WHERE round(CAST(list_sum(list_transform(ut,
                       t -> least(len(list_filter(wa, x -> x = t)),
                                  len(list_filter(wb, x -> x = t)))))
                   AS DOUBLE)
                   / list_sum(list_transform(ut,
                       t -> greatest(len(list_filter(wa, x -> x = t)),
                                     len(list_filter(wb, x -> x = t))))),
                   6) >= 0.5),
        edges AS MATERIALIZED (
            SELECT a AS src, b AS dst FROM ver
            UNION SELECT b, a FROM ver),
        reach AS (
            SELECT src AS v, dst AS w FROM edges
            UNION
            SELECT r.v, e.dst FROM reach r JOIN edges e ON r.w = e.src),
        comp AS (SELECT v, least(v, min(w)) AS keeper
                 FROM reach GROUP BY v)
        SELECT v AS doc_id, keeper FROM comp
    """
    # streamed bin counts are additive, so after full replay the sunk
    # bin table equals the batch build and the SAME psi SQL gates it
    oracles["stream_psi"] = oracles["psi_drift"]
    # CCNet-with-a-guarantee: the verified lm_perplexity oracle feeds
    # the Mondrian conformal window per lang (alpha=0.2 -> 0.8)
    oracles["perplexity_conformal"] = f"""
        WITH base AS ({oracles["lm_perplexity"]}),
        j AS (SELECT b.doc_id, b.perplexity, d.lang
              FROM base b JOIN documents d USING (doc_id)),
        rk AS (
            SELECT doc_id, perplexity, lang,
                   CAST(perplexity AS DOUBLE) AS s,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY CAST(perplexity AS DOUBLE),
                                               doc_id) AS rn,
                   count(*) OVER (PARTITION BY lang) AS n
            FROM j),
        thr AS (
            SELECT lang, s AS t FROM rk
            WHERE rn = CAST(ceil((n + 1) * 0.8) AS BIGINT))
        SELECT rk.doc_id, rk.perplexity, rk.lang,
               thr.t AS conformal_threshold,
               CASE WHEN rk.s IS NULL THEN NULL
                    WHEN thr.t IS NULL THEN TRUE
                    ELSE rk.s <= thr.t END AS conformal_keep
        FROM rk LEFT JOIN thr USING (lang)
    """
    return oracles
