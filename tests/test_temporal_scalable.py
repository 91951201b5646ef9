"""The scalable (two-phase chunked) window bundle must produce output
identical to the single-window reference versions at ANY chunk width —
including widths smaller than the session gap (sessions chaining across
several chunks) and chunks that are entirely null for ffill.  Each sweep
runs the bundle with one feature set; the fused run is checked against
all three references at once."""

import pytest
from pyspark.sql import functions as F

from gbdc_spark.operators import temporal

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


def _collect_sorted(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


@pytest.mark.parametrize("chunk_seconds", [600.0, 3600.0, 86400.0, 10_000_000.0])
def test_sessionize_scalable_equals_window(spark, events, chunk_seconds):
    ev = events.select("event_id", "user_id", "ts")
    ref = temporal.with_session_id(
        ev, ts="ts", partition_by="user_id", gap_seconds=1800,
        order_tiebreak=["event_id"],
    )
    got = temporal.with_temporal_bundle_scalable(
        ev, ts="ts", partition_by="user_id", gap_seconds=1800,
        order_tiebreak=["event_id"], chunk_seconds=chunk_seconds,
    )
    cols = ["user_id", "event_id", "session_seq"]
    assert _collect_sorted(got, cols) == _collect_sorted(ref, cols)


@pytest.mark.parametrize("chunk_seconds", [600.0, 86400.0])
def test_ffill_scalable_equals_window(spark, events, chunk_seconds):
    # sparse column: only clicks carry a value -> long null runs that
    # must be carried across chunk borders
    ev = events.withColumn(
        "v", F.when(F.col("event_type") == "click", F.col("value"))
    ).select("event_id", "user_id", "ts", "v")
    ref = temporal.with_ffill(
        ev, ["v"], partition_by="user_id", order_by=["ts", "event_id"]
    )
    got = temporal.with_temporal_bundle_scalable(
        ev, ts="ts", partition_by="user_id", ffill_cols=["v"],
        order_tiebreak=["event_id"], chunk_seconds=chunk_seconds,
    )
    cols = ["user_id", "event_id", "v_ffill"]
    assert _collect_sorted(got, cols) == _collect_sorted(ref, cols)


@pytest.mark.parametrize("chunk_seconds", [600.0, 86400.0])
def test_lag_lead_scalable_equals_window(spark, events, chunk_seconds):
    ev = events.select("event_id", "user_id", "ts", "value")
    ref = temporal.with_lag_lead(
        ev, ["value"], partition_by="user_id", order_by=["ts", "event_id"]
    )
    got = temporal.with_temporal_bundle_scalable(
        ev, ts="ts", partition_by="user_id", lag_cols=["value"],
        order_tiebreak=["event_id"], chunk_seconds=chunk_seconds,
    )
    cols = ["user_id", "event_id", "value_lag1", "value_lead1"]
    assert _collect_sorted(got, cols) == _collect_sorted(ref, cols)


def test_bundle_equals_individual_ops(spark, events):
    ev = events.withColumn(
        "v", F.when(F.col("event_type") == "click", F.col("value"))
    ).select("event_id", "user_id", "ts", "v", "value")
    got = temporal.with_temporal_bundle_scalable(
        ev, ts="ts", partition_by="user_id",
        ffill_cols=["v"], lag_cols=["value"], gap_seconds=1800,
        order_tiebreak=["event_id"], chunk_seconds=3600.0,
    )
    ref = temporal.with_ffill(
        ev, ["v"], partition_by="user_id", order_by=["ts", "event_id"]
    )
    ref = temporal.with_lag_lead(
        ref, ["value"], partition_by="user_id", order_by=["ts", "event_id"]
    )
    ref = temporal.with_session_id(
        ref, ts="ts", partition_by="user_id", gap_seconds=1800,
        order_tiebreak=["event_id"],
    )
    cols = ["user_id", "event_id", "v_ffill", "value_lag1", "value_lead1", "session_seq"]
    assert _collect_sorted(got, cols) == _collect_sorted(ref, cols)


def test_sessionize_scalable_synthetic_chain(spark):
    # one user, events every 10 min; gap 25 min; chunk width 15 min:
    # every chunk merges with the previous -> single global session
    rows = [(i, 1, f"2024-01-01 00:{i*10:02d}:00") for i in range(6)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = temporal.with_temporal_bundle_scalable(
        df, ts="ts", partition_by="user_id", gap_seconds=1500,
        order_tiebreak=["event_id"], chunk_seconds=900.0,
    )
    assert {r["session_seq"] for r in out.collect()} == {1}

    # gap 5 min -> every event its own session, ids 1..6 in ts order
    out2 = temporal.with_temporal_bundle_scalable(
        df, ts="ts", partition_by="user_id", gap_seconds=300,
        order_tiebreak=["event_id"], chunk_seconds=900.0,
    )
    got = {r["event_id"]: r["session_seq"] for r in out2.collect()}
    assert got == {i: i + 1 for i in range(6)}


def test_bundle_cache_is_bounded(spark, events):
    # each call persists its local-window output; the next call must
    # release the previous one instead of piling up cached tables
    ev = events.select("event_id", "user_id", "ts", "value")
    jsc = spark.sparkContext._jsc
    spark.catalog.clearCache()
    before = jsc.getPersistentRDDs().size()
    added = []
    for gap in (1800, 600):
        temporal.with_temporal_bundle_scalable(
            ev, ts="ts", partition_by="user_id", lag_cols=["value"],
            gap_seconds=gap, order_tiebreak=["event_id"], chunk_seconds=3600.0,
        ).count()
        added.append(jsc.getPersistentRDDs().size() - before)
    assert added == [1, 1]
