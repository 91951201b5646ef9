"""Chunk-carry property tests for the scalable window bundle
(temporal.with_temporal_bundle_scalable) at ADVERSARIAL chunk boundaries:

* sessions / ffill runs / lag-lead neighbours spanning many chunks,
* duplicate timestamps exactly AT a chunk edge (ties broken by id),
* events 1 s either side of an edge (merge across the boundary),
* empty chunks (time jumps that skip whole chunk indices),
* all-null ffill chunks and null prefixes.

Each hypothesis example builds several keys' worth of adversarial
streams, runs the bundle ONCE with sessionize, ffill and lag/lead fused
(the flagship's configuration), and compares all three outputs against
a pure-Python oracle (not the plain window variants — an independent
reimplementation, so a shared bug can't self-certify).  The sf0.001
width-sweep equivalence tests live in test_temporal_scalable.py; these
lock the carry edge cases so a refactor of the summary/offset algebra
cannot drift silently.
"""

import datetime as dt

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from gbdc_spark.operators import temporal

CHUNK = 600.0
GAP = 450.0
BASE = dt.datetime(2024, 1, 1)


# offsets cluster on chunk edges: k*600 + {-1, 0, 0, +1} with k up to 40
# (runs span dozens of chunks; large k jumps leave empty chunks between)
_edge = st.tuples(
    st.integers(min_value=0, max_value=40),
    st.sampled_from([-1, 0, 0, 1, 2, 449, 450, 451]),
).map(lambda p: max(0, p[0] * 600 + p[1]))

_stream = st.lists(
    st.tuples(_edge, st.one_of(st.none(), st.integers(0, 9))),
    min_size=0, max_size=25,
)


def _mkrows(streams):
    rows = []
    for k, stream in enumerate(streams):
        for i, (sec, val) in enumerate(sorted(stream, key=lambda t: t[0])):
            rows.append(
                (f"k{k}", f"e{k}_{i:03d}", BASE + dt.timedelta(seconds=sec),
                 sec, val)
            )
    return rows


def _oracle(rows):
    """(key -> ordered [(event_id, sec, val, session, ffill, lag, lead)])."""
    by_key = {}
    for key, eid, _, sec, val in rows:
        by_key.setdefault(key, []).append((sec, eid, val))
    out = {}
    for key, items in by_key.items():
        items.sort()
        res, sess, prev_sec, last_val = [], 0, None, None
        for i, (sec, eid, val) in enumerate(items):
            if prev_sec is None or sec - prev_sec > GAP:
                sess += 1
            prev_sec = sec
            if val is not None:
                last_val = val
            lag = items[i - 1][2] if i > 0 else None
            lead = items[i + 1][2] if i + 1 < len(items) else None
            res.append((eid, sess, last_val, lag, lead))
        out[key] = res
    return out


@given(streams=st.lists(_stream, min_size=1, max_size=5))
@settings(max_examples=12, deadline=None)
def test_scalable_family_matches_python_oracle_at_chunk_edges(spark, streams):
    rows = _mkrows(streams)
    if not rows:
        return
    df = spark.createDataFrame(
        rows, "key string, event_id string, ts timestamp, sec long, val int"
    )
    expected = _oracle(rows)

    got = {
        (r["key"], r["event_id"]): r
        for r in temporal.with_temporal_bundle_scalable(
            df, ts="ts", partition_by="key", ffill_cols=["val"],
            lag_cols=["val"], gap_seconds=GAP,
            order_tiebreak=["event_id"], chunk_seconds=CHUNK,
        ).collect()
    }
    for key, recs in expected.items():
        for eid, s, f_, lag, lead in recs:
            r = got[(key, eid)]
            assert r["session_seq"] == s, (key, eid, "session")
            assert r["val_ffill"] == f_, (key, eid, "ffill")
            assert (r["val_lag1"], r["val_lead1"]) == (lag, lead), (key, eid, "lag/lead")


def test_session_spans_thirty_chunks_and_duplicate_edge_ts(spark):
    # one unbroken session of 61 events, every 300 s (= gap-150) across
    # 30 chunk boundaries, with an exact-duplicate timestamp pair ON a
    # boundary (ties resolved by event_id) and a second key whose lone
    # events sit in far-apart chunks (every chunk between is empty)
    rows = [("a", f"e{i:03d}", BASE + dt.timedelta(seconds=300 * i), None)
            for i in range(61)]
    rows.append(("a", "e000b", BASE, 5))  # duplicate ts at sec 0
    rows += [("b", f"f{i}", BASE + dt.timedelta(seconds=86_400 * i), i)
             for i in range(3)]
    df = spark.createDataFrame(rows, "key string, event_id string, ts timestamp, val int")
    sess = temporal.with_temporal_bundle_scalable(
        df, ts="ts", partition_by="key", gap_seconds=GAP,
        order_tiebreak=["event_id"], chunk_seconds=CHUNK,
    )
    out = {r["event_id"]: r["session_seq"] for r in sess.collect()}
    assert all(out[f"e{i:03d}"] == 1 for i in range(61))
    assert out["e000b"] == 1
    assert [out[f"f{i}"] for i in range(3)] == [1, 2, 3]
    # ffill carries a value set before 30 empty-for-val chunks
    ff = temporal.with_temporal_bundle_scalable(
        df, ts="ts", partition_by="key", ffill_cols=["val"],
        order_tiebreak=["event_id"], chunk_seconds=CHUNK,
    )
    vals = {r["event_id"]: r["val_ffill"] for r in ff.filter(F.col("key") == "a").collect()}
    assert vals["e000"] is None  # e000 sorts before e000b (null prefix)
    assert all(vals[f"e{i:03d}"] == 5 for i in range(1, 61))
