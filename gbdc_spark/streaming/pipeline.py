"""Structured Streaming epilogue (SURVEY.md §2.9): the same extraction +
sessionization semantics re-expressed over ``readStream``.

The reference is batch-only; this layer exists because a 10^12-sequence
ingest is, in practice, a continuous arrival stream.  Three surfaces:

* ``stream_extract`` — the fused hash+features stage is stateless, so it
  lifts onto a stream unchanged (same UDF object as the batch path: one
  code path, zero batch/stream drift);
* ``stream_sessionize`` — native ``session_window`` aggregation with a
  watermark bounding state for late data;
* ``run_file_stream`` — end-to-end file-source job with exactly-once
  checkpointing (``availableNow`` trigger = incremental batch catch-up,
  the streaming analogue of operators/checkpoint.py resume).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import extract
from ..schemas import SEQUENCES_SCHEMA

__all__ = ["stream_asof", "stream_extract", "stream_sessionize", "run_file_stream"]


def stream_extract(stream_df: DataFrame) -> DataFrame:
    """Stateless fused extraction on a stream — identical columns to the
    batch ``extract.extract_all``."""
    return extract.extract_all(stream_df)


def stream_sessionize(
    stream_df: DataFrame,
    ts: str = "ingest_ts",
    key: str = "source",
    gap_seconds: float = 120.0,
    watermark_seconds: float | None = 600.0,
) -> DataFrame:
    """Gap-based session aggregation over an event-time stream.

    Watermark bounds state: rows later than ``watermark_seconds`` are
    dropped (late-data policy) and closed sessions are emitted finally —
    the streaming counterpart of ``temporal.with_session_id``.  Pass
    ``watermark_seconds=None`` for complete-mode replay of a bounded
    stream (state is unbounded then — bounded inputs only).

    Boundary semantics: ``session_window`` merges an event iff it lands
    strictly INSIDE the open window (diff < gap); the batch
    ``with_session_id`` keeps diff == gap in the same session.
    """
    src = stream_df
    if watermark_seconds is not None:
        src = src.withWatermark(ts, f"{int(watermark_seconds)} seconds")
    return (
        src
        .groupBy(F.col(key), F.session_window(F.col(ts), f"{int(gap_seconds)} seconds"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min(ts).alias("t_start"),
            F.max(ts).alias("t_end"),
        )
        .select(
            key,
            F.col("session_window.start").alias("w_start"),
            F.col("session_window.end").alias("w_end"),
            "n_docs", "t_start", "t_end",
        )
    )


def run_file_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """File-source → extract → parquet sink with exactly-once checkpoint.

    Restarting with the same ``checkpoint_dir`` resumes from the last
    committed offset — already-processed input files are never re-emitted
    (asserted in tests/test_streaming.py).
    """
    src = (
        spark.readStream.schema(SEQUENCES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(in_dir)
    )
    q = (
        stream_extract(src)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=available_now)
        .start()
    )
    return q


def stream_dedup(
    stream_df: DataFrame,
    key_col: str = "gbdhash",
    bucket_col: str = "_bucket",
    buckets: int = 64,
    timeout_minutes: int = 0,
):
    """Custom stateful streaming operator (applyInPandasWithState):
    exact-dedup across micro-batches — the first row per content key ever
    seen passes through, later duplicates are dropped.

    State design for scale: grouping is on ``pmod(xxhash64(key), buckets)``
    — NOT the raw key — so state rows stay O(buckets) GroupState entries
    each holding its bucket's seen-key set; a heavy key cannot create a
    hot group because identical keys always land in one bucket where the
    dedup is a set lookup.  ``timeout_minutes`` > 0 expires idle buckets
    (bounded state for unbounded streams).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = stream_df.schema
    cols = [f.name for f in out_schema.fields]
    state_schema = "seen array<string>"

    def dedup(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        seen = set(state.get[0]) if state.exists else set()
        for pdf in pdfs:
            mask = []
            for k in pdf[key_col]:
                if k in seen:
                    mask.append(False)
                else:
                    seen.add(k)
                    mask.append(True)
            out = pdf[pd.Series(mask, index=pdf.index)]
            if len(out):
                yield out[cols]
        state.update((list(seen),))
        if timeout_minutes:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)

    bucketed = stream_df.withColumn(
        bucket_col, F.pmod(F.xxhash64(F.col(key_col)), F.lit(buckets))
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_minutes
        else GroupStateTimeout.NoTimeout
    )
    return (
        bucketed.groupBy(bucket_col)
        .applyInPandasWithState(
            dedup,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=timeout,
        )
    )


def stream_asof(
    stream_df: DataFrame,
    right: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    by: str = "doc_id",
    left_ts: str = "ingest_ts",
    right_ts: str = "snapshot_ts",
    available_now: bool = True,
    **asof_kwargs,
):
    """Streaming point-in-time enrichment: every micro-batch of the
    event stream is as-of joined (strictly-prior by default — the
    zero-leakage contract of ``temporal.asof_join``) against a STATIC
    snapshot table, the feature-store lookup pattern for online
    training-data assembly.

    Structured Streaming has no native inequality stream-static join,
    so this runs the batch as-of inside ``foreachBatch`` — semantics
    are batch-invariant by construction: the join is per-left-row
    against an immutable right side, so ANY partitioning of the stream
    into micro-batches yields exactly the rows of the one-shot batch
    join (asserted in tests).

    Exactly-once: ``foreachBatch`` replays a batch after a failure, so
    the sink must be idempotent — each batch writes (overwrite) its own
    ``batch=<id>`` partition directory keyed by the checkpoint's batch
    id; a retried batch rewrites the same directory instead of
    appending duplicates.  Readers glob ``out_dir/batch=*``.

    Scale shape: per batch this is the batch operator unchanged (hash-
    bucketed cogroup, one shuffle of the batch + one of the snapshot
    slice); the snapshot table should be pre-persisted by the caller —
    foreachBatch re-executes its plan every trigger otherwise.
    """
    from ..operators.temporal import asof_join

    def _enrich(batch_df: DataFrame, batch_id: int) -> None:
        out = asof_join(
            batch_df, right, by=by, left_ts=left_ts, right_ts=right_ts,
            **asof_kwargs,
        )
        out.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    writer = (
        stream_df.writeStream.foreachBatch(_enrich)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_near_dedup(
    stream_df: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 8,
    shingle_n: int = 3,
    bands: int = 4,
    buckets: int = 64,
    timeout_minutes: int = 0,
):
    """Custom stateful streaming NEAR-duplicate detection — the
    MinHash-LSH complement of :func:`stream_dedup` (which is exact):
    each arriving doc's LSH band signatures are checked against a
    state set of every band signature seen in ANY earlier micro-batch
    (or on a smaller ``key`` within the same batch); a hit means the
    doc shares a band with an earlier doc, i.e. is a near-dup
    candidate by exactly the batch ``minhash_candidate_pairs`` rule.

    Emits one row per (key, band): ``(key, band, bkey, dup)``; roll up
    per doc downstream (``dup_near = max(dup)``).  Verdicts are
    deterministic given arrival order: the scan processes each state
    bucket's batch slice sorted by (key, band), so replaying the same
    ordered stream reproduces the same flags bit-for-bit — and equals
    the batch first-occurrence-wins rule when files arrive in key
    order (the DuckDB oracle replays that rule).

    State design for scale: grouping is on ``pmod(xxhash64(band|bkey),
    buckets)`` — never the raw signature — so state stays O(buckets)
    GroupState entries each holding its bucket's seen-signature set,
    and a viral signature repeated 10⁹ times cannot create a hot group
    (identical signatures land in ONE bucket where the check is a set
    lookup).  ``timeout_minutes`` > 0 expires idle buckets to bound
    state on unbounded streams.  The signature itself is computed
    JVM-side on the stream (bound minhash + band explode — stateless
    projections); only the set membership runs in Python, on
    Arrow-batched band rows.
    """
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.dedup import _banded, with_minhash_signature

    sig = with_minhash_signature(
        stream_df.select(key, text_col),
        text_col=text_col, num_perm=num_perm, shingle_n=shingle_n,
    )
    banded = _banded(sig, key, num_perm, bands)
    out_schema = T.StructType(
        list(banded.schema.fields) + [T.StructField("dup", T.BooleanType())]
    )
    cols = [f.name for f in out_schema.fields]
    state_schema = "seen array<string>"

    def scan(bucket, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        seen = set(state.get[0]) if state.exists else set()
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            # deterministic within-batch order: smallest (key, band)
            # registers first, later rows see it
            pdf = pdf.sort_values([key, "band"], kind="mergesort",
                                  ignore_index=True)
            flags = []
            for band, bkey in zip(pdf["band"], pdf["bkey"]):
                k = f"{band}|{bkey}"
                if k in seen:
                    flags.append(True)
                else:
                    seen.add(k)
                    flags.append(False)
            pdf["dup"] = flags
            yield pdf[cols]
        state.update((list(seen),))
        if timeout_minutes:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)

    bucketed = banded.withColumn(
        "_bucket",
        F.pmod(
            F.xxhash64(
                F.concat_ws("|", F.col("band").cast("string"), F.col("bkey"))
            ),
            F.lit(buckets),
        ),
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_minutes
        else GroupStateTimeout.NoTimeout
    )
    return bucketed.groupBy("_bucket").applyInPandasWithState(
        scan,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )


def stream_ewma(
    stream_df: DataFrame,
    value_col: str = "value",
    key: str = "user_id",
    order_by: tuple = ("ts", "event_id"),
    alpha: float = 0.5,
    buckets: int = 64,
    timeout_minutes: int = 0,
):
    """Stateful streaming EWMA — the online form of
    :func:`~gbdc_spark.operators.temporal.with_ewma`: each entity's
    last decay value persists in GroupState across micro-batches, so
    an unbounded event stream gets the same leakage-free y_t = α·x_t +
    (1−α)·y_{t−1} features the batch operator computes, incrementally.
    Batch-equivalent by construction when micro-batches partition the
    stream into ``order_by`` ranges (each batch slice scans sorted by
    (key, order_by); the carried state is exactly the predecessor
    value), so the DuckDB recursion that oracles the batch operator
    oracles this too.

    State design for scale: grouping is on ``pmod(xxhash64(key),
    buckets)`` — state stays O(buckets) GroupState entries, each a
    (keys, ewmas) pair of arrays for its bucket's entities, and a
    hot entity cannot create a hot group beyond its own bucket.
    ``timeout_minutes`` > 0 expires idle buckets (entities that went
    quiet re-seed from their next value).
    """
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        list(stream_df.schema.fields) + [T.StructField("ewma", T.DoubleType())]
    )
    cols = [f.name for f in out_schema.fields]
    state_schema = "ks array<long>, vs array<double>"
    ob = list(order_by)

    def scan(bucket, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        st = dict(zip(*state.get)) if state.exists else {}
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            pdf = pdf.sort_values([key] + ob, kind="mergesort",
                                  ignore_index=True)
            out = []
            for k, x in zip(pdf[key], pdf[value_col]):
                prev = st.get(k)
                y = float(x) if prev is None else (
                    alpha * float(x) + (1.0 - alpha) * prev
                )
                st[k] = y
                out.append(y)
            pdf["ewma"] = out
            yield pdf[cols]
        state.update((list(st.keys()), list(st.values())))
        if timeout_minutes:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)

    bucketed = stream_df.withColumn(
        "_bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(buckets))
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_minutes
        else GroupStateTimeout.NoTimeout
    )
    return bucketed.groupBy("_bucket").applyInPandasWithState(
        scan,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )
