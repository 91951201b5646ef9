"""Temporal-layer correctness: as-of join (zero leakage), lag/lead,
forward-fill, sessionization — verified against pandas oracles on the
deterministic synthetic sequences/snapshots tables (FIXTURES.md §1-2)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gbdc_spark.operators import temporal
from gbdc_spark.sources import synth, tables

N_DOCS = 150


@pytest.fixture(scope="module")
def seqs_pdf():
    return synth.gen_sequences_pdf(N_DOCS)[["doc_id", "source", "ingest_ts"]]


@pytest.fixture(scope="module")
def snaps_pdf():
    return synth.gen_snapshots_pdf(N_DOCS)


@pytest.fixture(scope="module")
def joined(spark, seqs_pdf, snaps_pdf):
    left = spark.createDataFrame(seqs_pdf)
    right = spark.createDataFrame(snaps_pdf)
    return temporal.asof_join(left, right, buckets=8).toPandas()


def test_asof_matches_pandas_oracle(joined, seqs_pdf, snaps_pdf):
    want = pd.merge_asof(
        seqs_pdf.sort_values(["ingest_ts", "doc_id"], kind="mergesort"),
        snaps_pdf.sort_values(["snapshot_ts", "doc_id"], kind="mergesort"),
        left_on="ingest_ts",
        right_on="snapshot_ts",
        by="doc_id",
        direction="backward",
        allow_exact_matches=False,
    )
    got = joined.sort_values("doc_id").reset_index(drop=True)
    want = want.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)


def test_asof_zero_leakage(joined):
    matched = joined[joined["snapshot_ts"].notna()]
    assert len(matched) > 0
    # strictly prior: snapshot_ts < ingest_ts for EVERY matched row,
    # including the deliberately-planted equal-timestamp collisions
    assert (matched["snapshot_ts"] < matched["ingest_ts"]).all()


def test_asof_latest_prior_wins(joined, snaps_pdf):
    matched = joined[joined["snapshot_ts"].notna()]
    snaps = snaps_pdf.groupby("doc_id")
    for _, row in matched.head(50).iterrows():
        cand = snaps.get_group(row["doc_id"])
        prior = cand[cand["snapshot_ts"] < row["ingest_ts"]]
        assert row["snapshot_ts"] == prior["snapshot_ts"].max()


def test_asof_no_prior_is_null(joined, snaps_pdf):
    no_snap_docs = set(joined["doc_id"]) - set(snaps_pdf["doc_id"])
    if no_snap_docs:
        sub = joined[joined["doc_id"].isin(no_snap_docs)]
        assert sub["snapshot_ts"].isna().all()


def test_asof_row_preserving(joined, seqs_pdf):
    assert len(joined) == len(seqs_pdf)
    assert set(joined["doc_id"]) == set(seqs_pdf["doc_id"])


def test_asof_deterministic_across_bucket_counts(spark, seqs_pdf, snaps_pdf):
    left = spark.createDataFrame(seqs_pdf)
    right = spark.createDataFrame(snaps_pdf)
    a = temporal.asof_join(left, right, buckets=2).toPandas().sort_values("doc_id").reset_index(drop=True)
    b = temporal.asof_join(left, right, buckets=32).toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_ffill_matches_pandas(spark):
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 5 + ["b"] * 4,
            "t": pd.date_range("2024-01-01", periods=9, freq="1min"),
            "v": [1.0, None, None, 4.0, None, None, 7.0, None, 9.0],
        }
    )
    got = (
        temporal.with_ffill(spark.createDataFrame(pdf), ["v"], partition_by="k", order_by="t")
        .toPandas()
        .sort_values(["k", "t"])
        .reset_index(drop=True)
    )
    want = pdf.assign(v_ffill=pdf.groupby("k")["v"].ffill()).sort_values(["k", "t"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_lag_lead_matches_pandas(spark):
    rng = np.random.default_rng(0)
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", "b", "c"], 60),
            "t": pd.date_range("2024-01-01", periods=60, freq="37s"),
            "v": rng.normal(size=60),
        }
    )
    got = (
        temporal.with_lag_lead(spark.createDataFrame(pdf), ["v"], partition_by="k", order_by=["t"])
        .toPandas()
        .sort_values(["k", "t"])
        .reset_index(drop=True)
    )
    g = pdf.sort_values(["k", "t"]).reset_index(drop=True).groupby("k")["v"]
    want = pdf.sort_values(["k", "t"]).reset_index(drop=True)
    want["v_lag1"] = g.shift(1)
    want["v_lead1"] = g.shift(-1)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_sessionize_matches_pandas(spark):
    rng = np.random.default_rng(1)
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(np.cumsum(rng.integers(1, 4000, 80)), unit="s")
    pdf = pd.DataFrame({"k": rng.choice(["a", "b"], 80), "t": ts, "i": range(80)})
    got = (
        temporal.with_session_id(
            spark.createDataFrame(pdf), ts="t", partition_by="k", gap_seconds=1800, order_tiebreak=["i"]
        )
        .toPandas()
        .sort_values(["k", "t"])
        .reset_index(drop=True)
    )
    want = pdf.sort_values(["k", "t"]).reset_index(drop=True)
    gap = want.groupby("k")["t"].diff() > pd.Timedelta(seconds=1800)
    new = gap | want.groupby("k")["t"].diff().isna()
    want["session_seq"] = new.groupby(want["k"]).cumsum()
    pd.testing.assert_frame_equal(
        got[["k", "t", "session_seq"]],
        want[["k", "t", "session_seq"]],
        check_dtype=False,
    )


def test_trailing_agg(spark):
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 4,
            "t": pd.to_datetime(
                ["2024-01-01 00:00:00", "2024-01-01 00:30:00", "2024-01-01 01:15:00", "2024-01-01 03:00:00"]
            ),
            "v": [1.0, 2.0, 3.0, 4.0],
        }
    )
    got = (
        temporal.with_trailing_agg(spark.createDataFrame(pdf), "v", ts="t", partition_by="k",
                                   window_seconds=3600, funcs={"avg": "avg"})
        .toPandas()
        .sort_values("t")["v_trailing_avg"]
        .tolist()
    )
    # windows: [1], [1,2], [2,3] (00:15 out of range... 00:00 is 75min prior), [4]
    assert got == [1.0, 1.5, 2.5, 4.0]


def test_asof_buckets_autoscale_with_input_size(spark):
    """Bucket count must grow with the input size estimate (each bucket's
    left+right is one pandas frame at merge time) and never drop below
    the session's shuffle parallelism."""
    from gbdc_spark.operators.temporal import _auto_buckets

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # big target -> floor at the default parallelism
    assert _auto_buckets(ev, ev, default, 64 << 20) == default
    # tiny per-bucket target -> scales up with the estimate
    scaled = _auto_buckets(ev, ev, default, 1024)
    assert scaled > default
    # and is capped
    assert _auto_buckets(ev, ev, default, 1) <= 1 << 15


def test_asof_join_same_result_any_bucket_count(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value")
    right = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_id"))
    kw = dict(by="user_id", left_ts="ts", right_ts="r_ts",
              right_tiebreak=["r_id"])
    a = temporal.asof_join(left, right, buckets=2, **kw)
    b = temporal.asof_join(left, right, buckets=97, **kw)
    ka = sorted(map(tuple, a.collect()))
    kb = sorted(map(tuple, b.collect()))
    assert ka == kb


def _dir_fixture(spark):
    # left: one purchase per user at ts 10, 20, 30 (seconds)
    def ts(s):
        return pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=s)

    left = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": ["u1", "u2", "u3"], "ingest_ts": [ts(10), ts(20), ts(30)]}
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["u1", "u1", "u1", "u2", "u2", "u3", "u3", "u3"],
                "snapshot_ts": [
                    ts(8), ts(14), ts(14),          # u1: prior + dup later
                    ts(15), ts(25),                 # u2: equidistant pair
                    ts(30), ts(33), ts(33),         # u3: exact + dup later
                ],
                "snap_id": [1, 2, 3, 4, 5, 6, 7, 8],
            }
        )
    )
    return left, right, ts


def test_asof_direction_forward(spark):
    left, right, ts = _dir_fixture(spark)
    out = {
        r["doc_id"]: r["snap_id"]
        for r in temporal.asof_join(
            left, right, direction="forward", right_tiebreak=["snap_id"],
            buckets=4,
        ).collect()
    }
    # u1: later dups at 14 -> FIRST (min tiebreak) wins; u3: exact at 30
    # excluded (allow_exact_matches=False) -> dup at 33 -> min tiebreak
    assert out == {"u1": 2, "u2": 5, "u3": 7}


def test_asof_direction_nearest(spark):
    left, right, ts = _dir_fixture(spark)
    out = {
        r["doc_id"]: r["snap_id"]
        for r in temporal.asof_join(
            left, right, direction="nearest", right_tiebreak=["snap_id"],
            allow_exact_matches=True, buckets=4,
        ).collect()
    }
    # u1: |10-8|=2 < |14-10|=4 -> prior; u2: equidistant (15 vs 25) ->
    # PRIOR wins; u3: exact match at 30 allowed -> itself
    assert out == {"u1": 1, "u2": 4, "u3": 6}


def test_asof_direction_nearest_excludes_exact_and_dup_ties(spark):
    left, right, ts = _dir_fixture(spark)
    out = {
        r["doc_id"]: r["snap_id"]
        for r in temporal.asof_join(
            left, right, direction="nearest", right_tiebreak=["snap_id"],
            allow_exact_matches=False, buckets=4,
        ).collect()
    }
    # u3: exact 30 excluded -> forward dup pair at 33 -> MIN tiebreak
    assert out["u3"] == 7


def test_asof_direction_matches_pandas_oracle(spark, seqs_pdf, snaps_pdf):
    # full-fixture differential vs a single-process merge_asof for both
    # non-default directions
    left = spark.createDataFrame(seqs_pdf)
    right = spark.createDataFrame(snaps_pdf)
    for direction in ("forward", "nearest"):
        got = (
            temporal.asof_join(
                left, right, direction=direction, buckets=8,
                right_tiebreak=["snapshot_ts"],
            )
            .toPandas()
            .sort_values(["doc_id", "ingest_ts"])
            .reset_index(drop=True)
        )
        exp = pd.merge_asof(
            seqs_pdf.sort_values(["ingest_ts", "doc_id"]),
            snaps_pdf.sort_values(["snapshot_ts"]),
            left_on="ingest_ts",
            right_on="snapshot_ts",
            by="doc_id",
            direction=direction,
            allow_exact_matches=False,
        ).sort_values(["doc_id", "ingest_ts"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(got[exp.columns], exp, check_dtype=False)


def test_asof_direction_validates(spark, seqs_pdf, snaps_pdf):
    with pytest.raises(ValueError):
        temporal.asof_join(
            spark.createDataFrame(seqs_pdf),
            spark.createDataFrame(snaps_pdf),
            direction="sideways",
        )


def test_with_ewma_hand_computed(spark):
    from gbdc_spark.operators.temporal import with_ewma

    df = spark.createDataFrame(
        [
            (1, 10, 1.0), (1, 11, 2.0), (1, 12, 3.0),
            (2, 20, 4.0),
        ],
        "user_id long, event_id long, value double",
    )
    out = {r["event_id"]: r["ewma"] for r in with_ewma(
        df, value_col="value", partition_by="user_id",
        order_by=["event_id"], alpha=0.5,
    ).collect()}
    # alpha=0.5: 1, 1.5, 2.25; new group restarts at its first value
    assert out == {10: 1.0, 11: 1.5, 12: 2.25, 20: 4.0}


def test_with_ewma_row_preserving_and_order_key(spark):
    from gbdc_spark.operators.temporal import with_ewma

    # same first column value: the unique tiebreak column decides
    df = spark.createDataFrame(
        [(1, 1, 2, 8.0), (1, 1, 1, 0.0)],
        "user_id long, ts long, event_id long, value double",
    )
    out = with_ewma(df, partition_by="user_id",
                    order_by=["ts", "event_id"]).collect()
    got = {r["event_id"]: r["ewma"] for r in out}
    # order is (ts, event_id): event 1 first -> 0.0, then 0.5*8 = 4.0
    assert got == {1: 0.0, 2: 4.0}
    assert len(out) == 2


def test_funnel_analysis_hand_computed(spark):
    from datetime import datetime

    from gbdc_spark.operators.temporal import funnel_analysis

    def t(m):
        return datetime(2024, 1, 1, 0, m)

    rows = [
        # u1 completes all three in order
        (1, "signup", t(0)), (1, "view", t(5)), (1, "purchase", t(9)),
        # u2 views BEFORE signing up -> stops at signup
        (2, "view", t(1)), (2, "signup", t(2)),
        # u3 signup+view, no purchase
        (3, "signup", t(0)), (3, "view", t(3)),
        # u4 purchase before view -> stops after view
        (4, "signup", t(0)), (4, "purchase", t(1)), (4, "view", t(2)),
        # u5 never signs up
        (5, "view", t(0)), (5, "purchase", t(1)),
        # u6: same-minute signup+view (>= matches), then purchase
        (6, "signup", t(4)), (6, "view", t(4)), (6, "purchase", t(8)),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )
    out = {r["step_idx"]: r for r in funnel_analysis(
        ev, ["signup", "view", "purchase"]).collect()}
    assert (out[1]["n_users"], out[2]["n_users"], out[3]["n_users"]) \
        == (5, 4, 2)
    assert out[3]["cum_rate"] == 0.4          # 2/5
    assert out[3]["step_rate"] == 0.5         # 2/4
    assert out[1]["cum_rate"] == 1.0 and out[1]["step_rate"] == 1.0


def test_funnel_analysis_within_budget(spark):
    from datetime import datetime

    from gbdc_spark.operators.temporal import funnel_analysis

    def t(m):
        return datetime(2024, 1, 1, 0, m)

    rows = [
        (1, "signup", t(0)), (1, "purchase", t(3)),   # inside budget
        (2, "signup", t(0)), (2, "purchase", t(30)),  # too late
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )
    out = {r["step"]: r["n_users"] for r in funnel_analysis(
        ev, ["signup", "purchase"],
        within=F.expr("INTERVAL 10 MINUTES")).collect()}
    assert out == {"signup": 2, "purchase": 1}


def test_cohort_retention_hand_computed(spark):
    from datetime import datetime

    from gbdc_spark.operators.temporal import cohort_retention

    # weeks starting Mon 2024-01-01, 2024-01-08, 2024-01-15
    rows = [
        (1, datetime(2024, 1, 2)), (1, datetime(2024, 1, 9)),
        (1, datetime(2024, 1, 16)),                      # w0,w1,w2
        (2, datetime(2024, 1, 3)), (2, datetime(2024, 1, 17)),  # w0,w2
        (3, datetime(2024, 1, 4)),                       # w0 only
        (4, datetime(2024, 1, 10)), (4, datetime(2024, 1, 15)),  # cohort w1
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {(str(r["cohort"])[:10], r["k"]): (r["n_users"], r["retention"])
           for r in cohort_retention(ev).collect()}
    assert out[("2024-01-01", 0)] == (3, 1.0)
    assert out[("2024-01-01", 1)] == (1, round(1 / 3, 6))
    assert out[("2024-01-01", 2)] == (2, round(2 / 3, 6))
    assert out[("2024-01-08", 0)] == (1, 1.0)
    assert out[("2024-01-08", 1)] == (1, 1.0)
    assert len(out) == 5


def test_cohort_retention_max_k_and_day_period(spark):
    from datetime import datetime

    from gbdc_spark.operators.temporal import cohort_retention

    ev = spark.createDataFrame(
        [(1, datetime(2024, 1, 1)), (1, datetime(2024, 1, 2)),
         (1, datetime(2024, 1, 9))],
        "user_id long, ts timestamp",
    )
    out = {r["k"] for r in
           cohort_retention(ev, period="day", max_k=3).collect()}
    assert out == {0, 1}  # day 8 cut by max_k


def test_markov_transitions_hand_computed(spark):
    from datetime import datetime

    from gbdc_spark.operators.temporal import markov_transitions

    def t(m):
        return datetime(2024, 1, 1, 0, m)

    rows = [
        (1, "a", t(0)), (1, "b", t(1)), (1, "a", t(2)), (1, "b", t(3)),
        (2, "a", t(0)), (2, "a", t(1)), (2, "c", t(2)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = {(r["cur"], r["nxt"]): (r["cnt"], r["p"])
           for r in markov_transitions(ev).collect()}
    # from 'a': ->b x2, ->a x1, ->c x1 (4 total); from 'b': ->a x1
    assert got[("a", "b")] == (2, 0.5)
    assert got[("a", "a")] == (1, 0.25)
    assert got[("a", "c")] == (1, 0.25)
    assert got[("b", "a")] == (1, 1.0)
    assert ("c", "a") not in got  # c has no outgoing


def test_markov_stationary_matches_numpy_power_iteration(spark):
    from datetime import datetime

    import numpy as np

    from gbdc_spark.operators.temporal import markov_stationary

    def t(m):
        return datetime(2024, 1, 1, 0, m)

    # one long cyclic user sequence -> irreducible 3-state chain
    seq = "abcabacbcabcab"
    rows = [(1, ch, t(i)) for i, ch in enumerate(seq)]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = {r["state"]: r["pi"]
           for r in markov_stationary(ev, iters=16).collect()}

    from collections import Counter
    pc = Counter(zip(seq, seq[1:]))
    states = sorted({*seq})
    idx = {s: i for i, s in enumerate(states)}
    P = np.zeros((3, 3))
    for (a, b), c in pc.items():
        P[idx[a], idx[b]] = c
    P = P / P.sum(axis=1, keepdims=True)
    pi = np.full(3, 1 / 3)
    for _ in range(16):
        pi = pi @ P
    for s in states:
        assert got[s] == pytest.approx(pi[idx[s]], abs=1e-6), s
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-5)


def test_time_resample_gap_filling_zero(spark):
    from datetime import datetime

    from gbdc_spark.operators.temporal import time_resample

    rows = [
        (1, datetime(2024, 1, 1, 0, 10), 2.0),
        (1, datetime(2024, 1, 1, 0, 40), 4.0),
        (1, datetime(2024, 1, 1, 3, 5), 10.0),   # gap hours 1, 2
        (2, datetime(2024, 1, 1, 5, 0), 7.0),    # single-bucket entity
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = {(r["user_id"], r["bucket"]): r for r in
           time_resample(df, "value", interval_seconds=3600).collect()}
    b0 = [b for (u, b) in out if u == 1]
    assert len(b0) == 4  # dense hours 0..3 for entity 1
    lo = min(b0)
    assert out[(1, lo)]["n_events"] == 2
    assert out[(1, lo)]["value_sum"] == 6.0
    assert out[(1, lo)]["value_mean"] == 3.0
    for gap in (lo + 1, lo + 2):
        assert out[(1, gap)]["n_events"] == 0
        assert out[(1, gap)]["value_sum"] == 0.0
        assert out[(1, gap)]["value_mean"] is None
    assert out[(1, lo + 3)]["value_mean"] == 10.0
    assert len([b for (u, b) in out if u == 2]) == 1
    # bucket_start is the exact interval boundary
    assert out[(1, lo)]["bucket_start"] == datetime(2024, 1, 1, 0, 0)


def test_time_resample_ffill_carries_mean(spark):
    from datetime import datetime

    from gbdc_spark.operators.temporal import time_resample

    rows = [
        (1, datetime(2024, 1, 1, 0, 0), 5.0),
        (1, datetime(2024, 1, 1, 2, 0), 9.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = sorted(
        time_resample(df, "value", interval_seconds=3600,
                      fill="ffill").collect(),
        key=lambda r: r["bucket"],
    )
    assert [r["value_mean"] for r in out] == [5.0, 5.0, 9.0]
    assert [r["n_events"] for r in out] == [1, 0, 1]
    assert [r["value_sum"] for r in out] == [5.0, 0.0, 9.0]

    import pytest as _pt
    with _pt.raises(ValueError):
        time_resample(df, "value", fill="interp")
    with _pt.raises(ValueError):
        time_resample(df, "value", interval_seconds=0)
