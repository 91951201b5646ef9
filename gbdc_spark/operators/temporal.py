"""Point-in-time / as-of join + windowed feature operators (engine layer).

These have no counterpart in the reference (it is batch, per-file); they
are mandated by BASELINE.json north_rule: as-of join with zero temporal
leakage, lag/lead, last-value forward-fill, gap sessionization — all
DataFrame + applyInPandas over Arrow batches, never per-row Python.

Scale design (SURVEY.md §4.2):
* the as-of join cogroups both sides on ``pmod(xxhash64(by), buckets)``,
  NOT on the raw key — millions of tiny per-key groups would drown in
  per-group overhead, while hash buckets give ~uniform partition sizes
  regardless of key skew (heavy doc_ids spread by the hash, heavy
  *sources* are irrelevant here because the join key is doc_id).
* within a bucket, one vectorized ``pandas.merge_asof(by=key)`` handles
  all keys at once after a single sort — O(n log n) per bucket.
* everything else (lag/lead/ffill/sessionize/trailing windows) stays
  JVM-side in whole-stage codegen via native window functions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import persist_slot

__all__ = [
    "asof_join",
    "with_lag_lead",
    "with_ffill",
    "with_session_id",
    "with_temporal_bundle_scalable",
    "with_trailing_agg",
    "time_resample",
    "funnel_analysis",
    "cohort_retention",
    "markov_transitions",
    "markov_stationary",
]


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate (0 if unavailable)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — stats are best-effort
        return 0


def _auto_buckets(left: DataFrame, right: DataFrame, default: int,
                  target_bucket_bytes: int) -> int:
    """Bucket count scaled to the input size estimate: each cogroup
    bucket materializes its full left+right slice in ONE pandas frame,
    so the count must grow with the data (~target_bucket_bytes per
    bucket) or the merge OOMs at 100x — never below the session's
    shuffle parallelism, capped so tiny estimates can't explode the
    task count.  Falls back to ``default`` when Catalyst has no usable
    estimate (0, or the sentinel huge default for unknown sources)."""
    est = _plan_size_bytes(left) + _plan_size_bytes(right)
    if 0 < est < (1 << 50):
        return max(default, min(1 << 15, -(-est // target_bucket_bytes)))
    return default


# per-bucket input size _auto_buckets aims at when asof_join is not given
# an explicit bucket count
_TARGET_BUCKET_BYTES = 64 << 20


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: str = "doc_id",
    left_ts: str = "ingest_ts",
    right_ts: str = "snapshot_ts",
    allow_exact_matches: bool = False,
    buckets: int | None = None,
    tolerance: pd.Timedelta | None = None,
    right_tiebreak: list[str] | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Left as-of join: each left row gets the latest right row with
    ``right_ts < left_ts`` (strictly prior by default ⇒ zero temporal
    leakage); unmatched rows keep nulls.

    ``direction`` selects which temporal neighbour matches (pandas
    ``merge_asof`` semantics, pinned by tests so an engine port cannot
    drift):

    * ``"backward"`` (default) — latest prior row; among duplicate
      right timestamps the MAX ``right_tiebreak`` wins.
    * ``"forward"`` — earliest later row (label-side joins: attach the
      NEXT outcome event to a feature row); among duplicates the MIN
      tiebreak wins.
    * ``"nearest"`` — closest by absolute time distance; equidistant
      prior/later resolves to the PRIOR row, duplicate-timestamp ties
      to max-tiebreak on the prior side / min-tiebreak on the later
      side.  Only ``"backward"`` is leakage-free — the other two read
      the future by construction and exist for label attachment and
      offline analysis, not for point-in-time features.

    Right-side columns other than (by, right_ts) are carried over and must
    not collide with left column names.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            "direction must be 'backward', 'forward' or 'nearest'"
        )
    if buckets is None:
        default = int(left.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
        buckets = _auto_buckets(left, right, default, _TARGET_BUCKET_BYTES)
    lb = left.withColumn("_b", F.pmod(F.xxhash64(F.col(by)), F.lit(buckets)))
    # When left and right derive from the same scan (self-as-of-join), the
    # by-column is the SAME Catalyst attribute on both sides and the
    # cogroup plan dedups it away from the right batch — rename it to a
    # private name so the right side always carries its own copy.
    rb = right.withColumnRenamed(by, "_r_by").withColumn(
        "_b", F.pmod(F.xxhash64(F.col("_r_by")), F.lit(buckets))
    )

    right_cols = [f.name for f in right.schema.fields if f.name not in (by,)]
    out_fields = list(left.schema.fields) + [
        f for f in right.schema.fields if f.name not in (by,)
    ]
    out_schema = T.StructType(out_fields)
    left_names = [f.name for f in left.schema.fields]

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        lpdf = lpdf.drop(columns=["_b"])
        rpdf = rpdf.drop(columns=["_b"]).rename(columns={"_r_by": by})
        if lpdf.empty:
            return pd.DataFrame(columns=left_names + right_cols)
        lpdf = lpdf.sort_values([left_ts, by], kind="mergesort").reset_index(drop=True)
        if rpdf.empty:
            out = lpdf.copy()
            for c in right_cols:
                out[c] = None
            return out
        # among equal right timestamps merge_asof picks the LAST row
        # backward and the FIRST row forward, so sorting by
        # (ts, tiebreak) pins max-tiebreak backward / min-tiebreak
        # forward — deterministic regardless of shuffle order
        rpdf = rpdf.sort_values(
            [right_ts] + (right_tiebreak or [by]), kind="mergesort"
        ).reset_index(drop=True)
        merged = pd.merge_asof(
            lpdf,
            rpdf,
            left_on=left_ts,
            right_on=right_ts,
            by=by,
            direction=direction,
            allow_exact_matches=allow_exact_matches,
            tolerance=tolerance,
        )
        return merged[left_names + right_cols]

    return lb.groupBy("_b").cogroup(rb.groupBy("_b")).applyInPandas(merge, schema=out_schema)


def _epoch_us(c: Column) -> Column:
    # cast handles TIMESTAMP_NTZ parquet columns (session TZ is UTC)
    return F.unix_micros(c.cast("timestamp"))


def with_lag_lead(
    df: DataFrame,
    cols: list[str],
    partition_by: str | list[str] = "doc_id",
    order_by: str | list[str] = "ingest_ts",
    n: int = 1,
) -> DataFrame:
    """lag/lead with a deterministic tie-break: the order key should
    include a unique column (e.g. snapshot_id) — pass a list."""
    pb = [partition_by] if isinstance(partition_by, str) else partition_by
    ob = [order_by] if isinstance(order_by, str) else order_by
    w = Window.partitionBy(*pb).orderBy(*ob)
    for c in cols:
        df = df.withColumn(f"{c}_lag{n}", F.lag(c, n).over(w))
        df = df.withColumn(f"{c}_lead{n}", F.lead(c, n).over(w))
    return df


def with_ffill(
    df: DataFrame,
    cols: list[str],
    partition_by: str | list[str] = "doc_id",
    order_by: str | list[str] = "ingest_ts",
) -> DataFrame:
    """Last-value forward-fill; leakage-free by construction because the
    frame ends at the current row."""
    pb = [partition_by] if isinstance(partition_by, str) else partition_by
    ob = [order_by] if isinstance(order_by, str) else order_by
    w = (
        Window.partitionBy(*pb)
        .orderBy(*ob)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in cols:
        df = df.withColumn(f"{c}_ffill", F.last(c, ignorenulls=True).over(w))
    return df


def with_session_id(
    df: DataFrame,
    ts: str = "ingest_ts",
    partition_by: str | list[str] = "source",
    gap_seconds: float = 1800.0,
    order_tiebreak: list[str] | None = None,
    out: str = "session_seq",
) -> DataFrame:
    """Gap-based sessionization — the classic two-window trick:
    new-session flag = (ts - lag(ts) > gap), session id = running sum."""
    pb = [partition_by] if isinstance(partition_by, str) else partition_by
    ob: list[Column | str] = [ts] + (order_tiebreak or [])
    w = Window.partitionBy(*pb).orderBy(*ob)
    prev = F.lag(F.col(ts)).over(w)
    gap_us = int(gap_seconds * 1_000_000)
    new_flag = F.when(
        prev.isNull() | ((_epoch_us(F.col(ts)) - _epoch_us(prev)) > F.lit(gap_us)),
        1,
    ).otherwise(0)
    running = Window.partitionBy(*pb).orderBy(*ob).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn(out, F.sum(new_flag).over(running))


def with_temporal_bundle_scalable(
    df: DataFrame,
    ts: str = "ingest_ts",
    partition_by: str | list[str] = "source",
    ffill_cols: list[str] | None = None,
    lag_cols: list[str] | None = None,
    gap_seconds: float | None = None,
    session_out: str = "session_seq",
    order_tiebreak: list[str] | None = None,
    chunk_seconds: float = 86400.0,
) -> DataFrame:
    """Skew-proof forward-fill, lag/lead(1) and gap sessionization in one
    chunked pass; pass any subset of ``ffill_cols`` / ``lag_cols`` /
    ``gap_seconds``.

    A plain ``Window.partitionBy(key)`` serializes each key into one
    task, so one Zipf-heavy key bounds the whole stage's wall-clock.
    Here:

    1. rows are split into fixed time chunks (``floor(ts / chunk)``), so
       a heavy key's stream spreads over many (key, chunk) tasks;
    2. ffill, lag/lead and the session flag + running sum run locally
       per (key, chunk) — all specs share one partition/order, so
       Catalyst fuses them into a single Window node;
    3. one per-(key, chunk) summary (first/last ts, #sessions, last
       non-null ffill value, first/last lag value) is reconciled by one
       lightweight window over chunk order:

       * sessions: ``offset(c) = Σ_{c'<c} n_sessions(c') − Σ_{c'≤c}
         merge(c')`` where ``merge(c)=1`` iff chunk c's first event
         continues the previous chunk's last session (gap ≤ threshold);
       * ffill: the last non-null value of earlier chunks fills the
         chunk's null prefix (carry stops strictly before the current
         chunk, so it stays leakage-free);
       * lag/lead: a chunk's first row takes the previous chunk's last
         value, its last row the next chunk's first;
    4. the tiny boundary table broadcast-joins back.

    Output is identical to ``with_ffill`` / ``with_lag_lead(n=1)`` /
    ``with_session_id`` for any chunk width (tested property);
    wall-clock is bounded by the heaviest (key, chunk), not the heaviest
    key.  The summary and the join both read the local-window output,
    so it is persisted (MEMORY_AND_DISK) in the single
    ``temporal_bundle`` slot (``functions.persist_slot``): the upstream
    runs once, and the next call releases the previous call's cache.
    """
    pb = [partition_by] if isinstance(partition_by, str) else partition_by
    ob: list[Column | str] = [ts] + (order_tiebreak or [])
    ffill_cols = ffill_cols or []
    lag_cols = lag_cols or []
    chunk_us = int(chunk_seconds * 1_000_000)
    order_struct = F.struct(*[F.col(ts)] + [F.col(c) for c in (order_tiebreak or [])])

    d = df.withColumn("_chunk", F.floor(_epoch_us(F.col(ts)) / F.lit(chunk_us)))
    wl = Window.partitionBy(*pb, "_chunk").orderBy(*ob)
    run = wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    for c in ffill_cols:
        d = d.withColumn(f"{c}_ffill", F.last(c, ignorenulls=True).over(run))
    if lag_cols:
        d = d.withColumn("_rn", F.row_number().over(wl)).withColumn(
            "_cnt", F.count("*").over(Window.partitionBy(*pb, "_chunk"))
        )
        for c in lag_cols:
            d = d.withColumn(f"_lag_{c}", F.lag(c).over(wl)).withColumn(
                f"_lead_{c}", F.lead(c).over(wl)
            )
    if gap_seconds is not None:
        gap_us = int(gap_seconds * 1_000_000)
        prev = F.lag(F.col(ts)).over(wl)
        new_flag = F.when(
            prev.isNull() | ((_epoch_us(F.col(ts)) - _epoch_us(prev)) > F.lit(gap_us)), 1
        ).otherwise(0)
        d = d.withColumn("_local", F.sum(new_flag).over(run))

    d = persist_slot(d, slot="temporal_bundle")

    aggs = []
    if gap_seconds is not None:
        aggs += [
            F.min(ts).alias("_first_ts"),
            F.max(ts).alias("_last_ts"),
            F.max("_local").alias("_n_sessions"),
        ]
    aggs += [F.max_by(f"{c}_ffill", order_struct).alias(f"_chunk_last_{c}") for c in ffill_cols]
    aggs += [F.min_by(c, order_struct).alias(f"_first_{c}") for c in lag_cols]
    aggs += [F.max_by(c, order_struct).alias(f"_last_{c}") for c in lag_cols]
    summary = d.groupBy(*pb, "_chunk").agg(*aggs)

    ws = Window.partitionBy(*pb).orderBy("_chunk")
    before = ws.rowsBetween(Window.unboundedPreceding, -1)
    upto = ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    proj: list[Column | str] = [*pb, "_chunk"]
    if gap_seconds is not None:
        gap_us = int(gap_seconds * 1_000_000)
        prev_last = F.lag("_last_ts").over(ws)
        merge = F.when(
            prev_last.isNotNull()
            & ((_epoch_us(F.col("_first_ts")) - _epoch_us(prev_last)) <= F.lit(gap_us)),
            1,
        ).otherwise(0)
        cum_prev = F.coalesce(F.sum("_n_sessions").over(before), F.lit(0))
        proj.append((cum_prev - F.sum(merge).over(upto)).alias("_offset"))
    proj += [
        F.last(f"_chunk_last_{c}", ignorenulls=True).over(before).alias(f"_carry_{c}")
        for c in ffill_cols
    ]
    proj += [F.lag(f"_last_{c}").over(ws).alias(f"_prev_{c}") for c in lag_cols]
    proj += [F.lead(f"_first_{c}").over(ws).alias(f"_next_{c}") for c in lag_cols]
    boundary = summary.select(*proj)

    out = d.join(F.broadcast(boundary), on=[*pb, "_chunk"], how="left")
    for c in ffill_cols:
        out = out.withColumn(
            f"{c}_ffill", F.coalesce(F.col(f"{c}_ffill"), F.col(f"_carry_{c}"))
        ).drop(f"_carry_{c}")
    for c in lag_cols:
        out = (
            out.withColumn(
                f"{c}_lag1",
                F.when(F.col("_rn") == 1, F.col(f"_prev_{c}")).otherwise(F.col(f"_lag_{c}")),
            )
            .withColumn(
                f"{c}_lead1",
                F.when(F.col("_rn") == F.col("_cnt"), F.col(f"_next_{c}")).otherwise(
                    F.col(f"_lead_{c}")
                ),
            )
            .drop(f"_lag_{c}", f"_lead_{c}", f"_prev_{c}", f"_next_{c}")
        )
    if gap_seconds is not None:
        out = out.withColumn(session_out, F.col("_local") + F.col("_offset")).drop(
            "_local", "_offset"
        )
    drop = ["_chunk"] + (["_rn", "_cnt"] if lag_cols else [])
    return out.drop(*drop)


def with_trailing_agg(
    df: DataFrame,
    value: str,
    ts: str = "ingest_ts",
    partition_by: str | list[str] = "doc_id",
    window_seconds: float = 3600.0,
    funcs: dict[str, str] | None = None,
) -> DataFrame:
    """Trailing time-range aggregates (range frame on epoch micros),
    current row included — no future rows, so leakage-free."""
    pb = [partition_by] if isinstance(partition_by, str) else partition_by
    funcs = funcs or {"avg": "avg", "count": "count"}
    span = int(window_seconds * 1_000_000)
    w = Window.partitionBy(*pb).orderBy(_epoch_us(F.col(ts))).rangeBetween(-span, 0)
    for name, fn in funcs.items():
        df = df.withColumn(f"{value}_trailing_{name}", getattr(F, fn)(F.col(value)).over(w))
    return df


def time_resample(
    df: DataFrame,
    value: str,
    ts: str = "ts",
    entity: str = "user_id",
    interval_seconds: int = 3600,
    fill: str = "zero",
) -> DataFrame:
    """Fixed-interval downsampling with GAP FILLING — the feature-store
    resample the windowed family lacks: events bucket to
    ``floor(epoch / interval)``, aggregate per (entity, bucket), and
    every entity gets a DENSE bucket axis from its first to its last
    bucket — the empty intervals a trailing window silently skips
    become explicit rows, which is what a fixed-step training matrix
    (or any model assuming regular time steps) needs.

    Per kept bucket: ``n_events`` (0 on gap rows), ``value_sum``
    (0.0 on gaps under ``fill='zero'``), ``value_mean`` (NULL on gaps
    — a mean of nothing is not 0), and ``bucket_start`` (timestamp).
    ``fill='ffill'`` instead carries the last seen ``value_mean``
    forward into gap rows (sum stays 0): the
    :func:`with_ffill` last-value semantics on the regular grid.

    Scale shape: one map-side-combined agg to (entity, bucket)
    cardinality, a per-entity min/max agg (same shuffle key), the gap
    EXPLODE generates only each entity's own span, and the fill path
    is one last-value window over the RESAMPLED (not raw) rows.  The
    span explode means one entity spanning the whole corpus history
    emits history/interval rows — bounded by the grid, not by the raw
    event count.
    """
    if fill not in ("zero", "ffill"):
        raise ValueError(f"unknown fill {fill!r}")
    step = int(interval_seconds)
    if step <= 0:
        raise ValueError("interval_seconds must be positive")
    bucket = F.floor(_epoch_us(F.col(ts)) / F.lit(step * 1_000_000)).cast("long")
    agg = (
        df.select(F.col(entity), bucket.alias("bucket"),
                  F.col(value).cast("double").alias("_v"))
        .groupBy(entity, "bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("_v").alias("value_sum"),
            F.avg("_v").alias("value_mean"),
        )
    )
    span = agg.groupBy(entity).agg(
        F.min("bucket").alias("_b0"), F.max("bucket").alias("_b1")
    )
    grid = span.select(
        entity,
        F.explode(F.sequence(F.col("_b0"), F.col("_b1"))).alias("bucket"),
    )
    out = (
        grid.join(agg, [entity, "bucket"], "left")
        .withColumn("n_events", F.coalesce("n_events", F.lit(0)))
        .withColumn("value_sum", F.coalesce("value_sum", F.lit(0.0)))
    )
    if fill == "ffill":
        w = (
            Window.partitionBy(entity).orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = out.withColumn(
            "value_mean", F.last("value_mean", ignorenulls=True).over(w)
        )
    return out.select(
        entity, "bucket",
        F.timestamp_micros(
            F.col("bucket") * F.lit(step * 1_000_000)
        ).alias("bucket_start"),
        "n_events", "value_sum",
        F.round("value_mean", 6).alias("value_mean"),
    )


def with_ewma(
    df: DataFrame,
    value_col: str = "value",
    partition_by: str | list[str] = "user_id",
    order_by: str | list[str] = ("ts", "event_id"),
    alpha: float = 0.5,
    out: str = "ewma",
) -> DataFrame:
    """Exponentially weighted moving average per entity — the decay
    feature the flat window family (lag/ffill/trailing_agg) cannot
    express: y_0 = x_0, y_t = α·x_t + (1−α)·y_{t−1} in ``order_by``
    order (the pandas ``ewm(adjust=False)`` recursion).  Leakage-free
    by construction: y_t sees only rows at or before t.

    A true recursion, so it is NOT a Spark window function: each
    entity's ordered series runs through one Arrow-batched
    ``applyInPandas`` group (per-entity series are bounded; the
    per-group sort is the same contract as the batch sessionizer).
    Include a unique column in ``order_by`` for a deterministic order.
    NULL inputs follow pandas ewm semantics (skipped, prior value
    decays on).

    Scale shape: ONE hash shuffle on the entity key; inside each group
    pandas computes the recursion vectorized in C.  Skewed entities
    bound the group size, not the corpus.
    """
    pb = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    ob = [order_by] if isinstance(order_by, str) else list(order_by)
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out, T.DoubleType())]
    )
    cols = [f.name for f in schema.fields]

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ob, kind="mergesort", ignore_index=True)
        pdf[out] = (
            pdf[value_col].ewm(alpha=alpha, adjust=False).mean()
        )
        return pdf[cols]

    return df.groupBy(*pb).applyInPandas(fn, schema)


def funnel_analysis(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within: Column | None = None,
) -> DataFrame:
    """Ordered multi-step funnel over an event stream: for each user,
    step k matches the EARLIEST step-k event at or after the user's
    matched step-(k-1) time (the standard product-analytics funnel —
    order matters, revisits don't).  Returns one row per step:
    (step_idx, step, n_users, cum_rate, step_rate) with cum_rate =
    n_k / n_1 and step_rate = n_k / n_{k-1}.

    ``within`` bounds the whole journey: an INTERVAL/Column upper
    bound on (t_k - t_1), e.g. ``F.expr("INTERVAL 7 DAYS")`` — applied
    at every step, so a user who converts too late drops out exactly
    where the budget runs out.

    Shape at scale: K-1 equi-joins on the user key, each preceded by a
    map-side-combined min — the fact table is scanned once per step
    but each intermediate is one row per surviving user (monotonically
    shrinking).  At warehouse scale pre-bucket events by user_col so
    the per-step joins co-locate.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    cur = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(F.col(user_col).alias("_u"))
        .agg(F.min(ts_col).alias("_t1"))
        .withColumn("_t", F.col("_t1"))
    )
    counts = [cur.count()]
    for s in steps[1:]:
        nxt = (
            events.filter(F.col(type_col) == s)
            .select(
                F.col(user_col).alias("_u"), F.col(ts_col).alias("_ts")
            )
            .join(cur.select("_u", "_t1", "_t"), "_u")
            .filter(F.col("_ts") >= F.col("_t"))
        )
        if within is not None:
            nxt = nxt.filter(F.col("_ts") <= F.col("_t1") + within)
        cur = (
            nxt.groupBy("_u", "_t1")
            .agg(F.min("_ts").alias("_t"))
            .select("_u", "_t1", "_t")
        )
        counts.append(cur.count())
    spark = events.sparkSession
    rows = []
    for k, (s, n) in enumerate(zip(steps, counts), start=1):
        prev = counts[k - 2] if k > 1 else counts[0]
        rows.append((k, s, int(n), int(counts[0]), int(prev)))
    tall = spark.createDataFrame(
        rows,
        schema=(
            "step_idx int, step string, n_users long,"
            " n_first long, n_prev long"
        ),
    )
    # rates computed as Spark column math (HALF_UP round, same as the
    # SQL oracle's) — Python round() is banker's and would diverge on
    # exact .5 boundaries
    return tall.select(
        "step_idx",
        "step",
        "n_users",
        F.when(
            F.col("n_first") > 0,
            F.round(F.col("n_users") / F.col("n_first"), 6),
        ).alias("cum_rate"),
        F.when(
            F.col("n_prev") > 0,
            F.round(F.col("n_users") / F.col("n_prev"), 6),
        ).alias("step_rate"),
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
    max_k: int | None = None,
) -> DataFrame:
    """Cohort retention triangle: users are cohorted by the period of
    their FIRST event, and each later active period counts them as
    retained at offset k — the product-analytics companion of
    :func:`funnel_analysis`.

    Returns (cohort, k, n_users, retention) where cohort is the
    period-truncated first-activity timestamp, k the whole-period
    offset (0 = the cohort period itself, so retention at k=0 is 1.0
    by construction), n_users the distinct users from that cohort
    active at offset k, and retention = n_users / cohort size.

    Shape at scale: one min-aggregate for first activity (map-side
    combined), one equi-join back on the user key, one distinct-count
    per (cohort, k) — no window over the event stream, no skew hazard
    beyond the user-key join (bucket by user at warehouse scale).
    """
    first = events.groupBy(F.col(user_col).alias("_u")).agg(
        F.date_trunc(period, F.min(ts_col)).alias("_cohort")
    )
    periods = {"week": 7 * 86400, "day": 86400}
    if period not in periods:
        raise ValueError("period must be 'week' or 'day'")
    plen = periods[period]
    act = events.select(
        F.col(user_col).alias("_u"),
        F.date_trunc(period, F.col(ts_col)).alias("_p"),
    ).distinct()
    j = act.join(first, "_u").withColumn(
        "_k",
        (
            (
                F.col("_p").cast("long")
                - F.col("_cohort").cast("long")
            )
            / F.lit(plen)
        ).cast("long"),
    )
    if max_k is not None:
        j = j.filter(F.col("_k") <= int(max_k))
    cell = j.groupBy("_cohort", "_k").agg(
        F.count_distinct("_u").alias("n_users")
    )
    size = cell.filter(F.col("_k") == 0).select(
        F.col("_cohort"), F.col("n_users").alias("_size")
    )
    return (
        cell.join(size, "_cohort")
        .select(
            F.col("_cohort").alias("cohort"),
            F.col("_k").cast("int").alias("k"),
            "n_users",
            F.round(F.col("n_users") / F.col("_size"), 6).alias(
                "retention"
            ),
        )
    )


def markov_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak: str | None = None,
) -> DataFrame:
    """First-order Markov model of per-user event sequences: each
    user's events ordered by (ts, tiebreak), consecutive pairs counted,
    rows normalized — (cur, nxt, cnt, p) with sum_nxt p = 1 per cur.

    Shape at scale: ONE window (lead) partitioned by the user key —
    the natural partitioning of behavioral data — then a
    map-side-combined pair count into at most |states|^2 rows; the
    normalization joins two state-sized tables.
    """
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(user_col).orderBy(*order)
    pairs = (
        events.select(
            F.col(type_col).alias("cur"),
            F.lead(type_col).over(w).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count("*").alias("cnt"))
    )
    tot = pairs.groupBy("cur").agg(F.sum("cnt").alias("_tot"))
    return pairs.join(tot, "cur").select(
        "cur",
        "nxt",
        "cnt",
        F.round(F.col("cnt") / F.col("_tot"), 6).alias("p"),
    )


def markov_stationary(
    events: DataFrame,
    iters: int = 16,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak: str | None = None,
) -> DataFrame:
    """Stationary distribution of the per-user event-transition chain
    via ``iters`` unrolled power-iteration steps from the uniform
    vector (pi' = pi P).  States with no outgoing transitions shed
    their mass (sub-stochastic chain over observed transitions) — the
    model is descriptive of the observed sequences, documented rather
    than patched.  Probabilities stay UNROUNDED (exact integer ratios)
    through the iteration; only the output rounds — so a SQL twin
    replays the trajectory exactly.

    The state space is model-sized (|event types|), so each step is a
    state-sized join+agg; the corpus is touched once for the pair
    counts.
    """
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(user_col).orderBy(*order)
    pairs = (
        events.select(
            F.col(type_col).alias("cur"),
            F.lead(type_col).over(w).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count("*").alias("cnt"))
    )
    tot = pairs.groupBy("cur").agg(F.sum("cnt").alias("_tot"))
    pm = pairs.join(tot, "cur").select(
        "cur", "nxt", (F.col("cnt") / F.col("_tot")).alias("_p")
    ).persist()
    states = (
        pm.select(F.col("cur").alias("state"))
        .unionByName(pm.select(F.col("nxt").alias("state")))
        .distinct()
        .persist()
    )
    nn = F.broadcast(states.agg(F.count("*").alias("_n")))
    pi = states.crossJoin(nn).select(
        "state", (F.lit(1.0) / F.col("_n")).alias("_pi")
    ).localCheckpoint()
    for _ in range(int(iters)):
        pi = (
            pm.join(pi, pm["cur"] == pi["state"])
            .select(
                F.col("nxt").alias("state"),
                (F.col("_pi") * F.col("_p")).alias("_m"),
            )
            .groupBy("state")
            .agg(F.sum("_m").alias("_pi"))
            .localCheckpoint()
        )
    return states.join(pi, "state", "left").select(
        "state",
        F.round(F.coalesce("_pi", F.lit(0.0)), 6).alias("pi"),
    )
