"""Tests of the benchmark's own parts: spans, event-log parsing, /proc
sampling, table reset, the as-of reference and seeded input generation.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pandas as pd
import pytest

from checks import check_asof
from eventlog import stage_metrics
from spans import Span, Tracer, python_worker_cpu_s, self_time
from workloads import Inputs, Workload, prepare, reset_table, sample_ids

DATA = os.path.join(os.path.dirname(__file__), "data")


def _span(name, start, end, parent=None):
    return Span(name, start, end, parent, "r1")


def test_self_time_subtracts_direct_children_once():
    spans = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 3.0, "root"),
        _span("b", 2.0, 5.0, "root"),  # overlaps a: [1, 5] counted once
        _span("c", 8.0, 12.0, "root"),  # clipped to the parent: [8, 10]
        _span("a.x", 1.5, 2.5, "a"),  # grandchild: not root's business
    ]
    assert self_time(spans[0], spans) == pytest.approx(10.0 - 4.0 - 2.0)
    assert self_time(spans[1], spans) == pytest.approx(2.0 - 1.0)
    assert self_time(spans[4], spans) == pytest.approx(1.0)


def test_tracer_records_parents():
    tr = Tracer("run7")
    with tr.span("job"):
        with tr.span("extract"):
            time.sleep(0.01)
        with tr.span("commit"):
            pass
    assert [(s.name, s.parent) for s in tr.spans] == [
        ("job", None), ("extract", "job"), ("commit", "job")]
    assert {s.run_id for s in tr.spans} == {"run7"}
    job = tr.get("job")
    assert job.wall_s >= tr.get("extract").wall_s + tr.get("commit").wall_s
    assert self_time(job, tr.spans) == pytest.approx(
        job.wall_s - tr.get("extract").wall_s - tr.get("commit").wall_s)


def test_event_log_grouped_by_span_tag():
    """A log recorded from a local[2] session, trimmed to the fields the
    parser reads (one task's spill set to 4096 so the spill sum is
    exercised).  Span ``agg`` ran a reduceByKey: 4 map tasks writing
    shuffle (stage 0) and 1 reduce task (stage 1).  Span ``scan``
    counted the same RDD: its map stage 2 was skipped, only stage 3 ran.
    The untagged job (stage 4) is ignored and the torn last line is
    skipped."""
    with open(os.path.join(DATA, "tiny_eventlog.jsonl")) as f:
        got = stage_metrics(f)
    assert sorted(got) == ["agg", "scan"]
    agg, scan = got["agg"], got["scan"]
    assert sum(map(len, agg.durations.values())) == 5
    assert sum(map(len, scan.durations.values())) == 1
    assert agg.shuffle_bytes == 4 * 82 and scan.shuffle_bytes == 0
    assert agg.jvm_cpu_s == pytest.approx(374_036_076 / 1e9)
    assert scan.jvm_cpu_s == pytest.approx(11_199_034 / 1e9)
    assert agg.spill_bytes == 4096 and scan.spill_bytes == 0
    assert sorted(agg.durations) == [0, 1] and sorted(scan.durations) == [3]
    # agg's heaviest stage is stage 0, tasks of 1.460, 1.452, 0.204 and
    # 0.257 s: median 0.8545 s
    assert agg.task_max_over_median == pytest.approx(1.460 / 0.8545)
    assert scan.task_max_over_median == 1.0


def test_python_worker_cpu_counts_live_and_exited_descendants():
    burn = "import time\nt=time.process_time()\nwhile time.process_time()-t<0.3: pass\n"
    # a python parent that forks a burning child, reaps it, then idles:
    # the child's CPU must still count, through the parent's cutime
    parent = subprocess.Popen([sys.executable, "-c",
                               "import subprocess,sys,time\n"
                               f"subprocess.run([sys.executable,'-c',{burn!r}])\n"
                               "print('done', flush=True)\ntime.sleep(30)\n"],
                              stdout=subprocess.PIPE, text=True)
    try:
        assert parent.stdout.readline().strip() == "done"
        assert python_worker_cpu_s(os.getpid()) >= 0.25
    finally:
        parent.kill()
        parent.wait(timeout=10)


def _inputs(table: str, base_files: list[str]) -> Inputs:
    return Inputs("", "", table, 0, 0.0, base_files, None)


def test_reset_table_restores_base_files(tmp_path):
    table = tmp_path / "t"
    (table / "data" / "snapshot=1").mkdir(parents=True)
    (table / "data" / "snapshot=1" / "part-0.parquet").write_text("x")
    (table / "_manifest").mkdir()
    (table / "_manifest" / "000000000001.json").write_text("{}")
    base = sorted(["data/snapshot=1/part-0.parquet", "_manifest/000000000001.json"])
    (table / "data" / "snapshot=2").mkdir()
    (table / "data" / "snapshot=2" / "part-0.parquet").write_text("y")
    (table / "_manifest" / "000000000002.json").write_text("{}")
    reset_table(_inputs(str(table), base))
    left = sorted(os.path.relpath(os.path.join(r, f), table)
                  for r, _, fs in os.walk(table) for f in fs)
    assert left == base
    assert not (table / "data" / "snapshot=2").exists()
    reset_table(_inputs(str(table), []))  # no base: the table goes away
    assert not table.exists()


def test_asof_reference_latest_strictly_prior_max_id_on_ties(tmp_path):
    ts = pd.Timestamp("2024-01-01")
    s = pd.Timedelta(seconds=1)
    snaps = pd.DataFrame({
        "doc_id": ["a", "a", "a", "a", "b"],
        "snapshot_ts": [ts, ts + s, ts + s, ts + 2 * s, ts + 5 * s],
        "snapshot_id": [1, 2, 3, 4, 9],
        "prev_score": [0.1, 0.2, 0.3, 0.4, 0.9],
    })
    snaps.to_parquet(tmp_path / "snaps.parquet")
    inp = Inputs("", str(tmp_path / "snaps.parquet"), "", 0, 0.0, [], None)
    committed = pd.DataFrame({
        "doc_id": ["a", "b", "c"],
        # a: ts+2s itself is excluded (strictly prior); tie at ts+1s -> id 3
        # b: its only snapshot is later -> nulls; c: no snapshots
        "ingest_ts": [ts + 2 * s, ts + 4 * s, ts],
        "snapshot_ts": [ts + s, pd.NaT, pd.NaT],
        "snapshot_id": [3, None, None],
        "prev_score": [0.3, None, None],
    })
    assert check_asof(committed, inp)
    committed.loc[0, "snapshot_id"] = 2
    assert not check_asof(committed, inp)


def test_sample_ids_spread_over_committed_docs(tmp_path):
    ts = pd.Timestamp("2024-01-01")
    seqs = pd.DataFrame({
        "doc_id": [f"doc{i:08d}" for i in range(1000)],
        "ingest_ts": [ts + pd.Timedelta(seconds=i) for i in range(1000)],
    })
    seqs.to_parquet(tmp_path / "seqs.parquet")
    inp = Inputs(str(tmp_path / "seqs.parquet"), "", "", 1000, 0.0, [], None)
    ids = sample_ids(inp, k=100)
    assert len(ids) == 100 and ids == sorted(set(ids))
    assert ids[0] == "doc00000000" and ids[-1] >= "doc00000990"
    # resume: only docs newer than the base cutoff (ingest_ts of doc 899)
    inp.cutoff_us = int((ts + pd.Timedelta(seconds=899)).value // 1000)
    ids = sample_ids(inp, k=50)
    assert len(ids) == 50 and ids[0] == "doc00000900"


@pytest.fixture(scope="module")
def spark():
    from gbdc_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", cores=2, shuffle_partitions=2,
                  extra={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_same_seed_same_input(spark, tmp_path):
    def gen(wl, seed):
        inp = prepare(spark, wl, seed, str(tmp_path), cores=2)
        seqs = pd.read_parquet(inp.seq_dir).sort_values("doc_id", ignore_index=True)
        snaps = pd.read_parquet(inp.snap_dir).sort_values("snapshot_id", ignore_index=True)
        seqs["tokens"] = seqs["tokens"].map(list)
        return inp, seqs, snaps

    wl = Workload("tiny", 30, 40, 0.05)
    _, a_seqs, a_snaps = gen(wl, 5)
    _, b_seqs, b_snaps = gen(wl, 5)
    pd.testing.assert_frame_equal(a_seqs, b_seqs)
    pd.testing.assert_frame_equal(a_snaps, b_snaps)
    assert len(a_seqs) == 30 and set(a_snaps["doc_id"]) <= set(a_seqs["doc_id"])
    _, c_seqs, _ = gen(wl, 6)
    assert set(a_seqs["doc_id"]) != set(c_seqs["doc_id"])

    # resume: the committed base (the pool's oldest 20 docs) is in every
    # input, plus 10 of the newer 20 picked by the seed
    wl = Workload("tiny_resume", 10, 40, 0.05, base_docs=20)
    inp, r_seqs, _ = gen(wl, 5)
    base = [f"doc{i:08d}" for i in range(20)]
    assert list(r_seqs["doc_id"][:20]) == base and len(r_seqs) == 30
    assert inp.expected_rows == 10 and inp.base_files
    assert sample_ids(inp) == list(r_seqs["doc_id"][20:])
    _, r_seqs2, _ = gen(wl, 5)  # the pool and its base table are reused
    pd.testing.assert_frame_equal(r_seqs, r_seqs2)
