#!/usr/bin/env python3
"""Benchmark of the flagship job, ``gbdc_spark.job``, on ``local[4]``.

Run from the repository root::

    python3 perfbench/run.py --workload cnf_full --seed 1 --seconds 10 --trace 0

Each run is one closed-loop client that runs the job, waits for it and
runs it again.  With ``--trace 0`` the run reports the end-to-end
metrics: the median of two SparkSession starts, each on a new JVM
(``setup_s``), the first job in a fresh session (``cold_job_s``), the
median of the warm jobs that follow (``job_s``) and committed rows per
warm second (``docs_per_s``).  With ``--trace 1`` it reports per-layer
metrics from one staged, traced pass of fixed length (see
``staged.py``).  Both check what the job committed (``checks.py``).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines before
it print every metric with its unit, the failure rate and the host
calibration.  Generated pools and inputs, tables and run records live
under ``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
MIN_WARM = 2  # warm jobs per e2e run, even when --seconds runs out first
DRIVER_MEM = "2g"


# ------------------------------------------------------------ session
def configure_env(work: str) -> None:
    """Python workers import the working tree, and scratch files stay in
    the work directory."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [ROOT, os.environ.get("PYTHONPATH")] if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def fresh_session(work: str, event_dir: str | None = None):
    """A SparkSession on a new JVM, with the package re-imported as a
    spark-submit driver would; returns (session, seconds get_spark took)."""
    for name in [m for m in sys.modules if m == "gbdc_spark" or m.startswith("gbdc_spark.")]:
        del sys.modules[name]
    from gbdc_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_dir:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=CORES, extra=extra)
    dt = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, dt


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_spark(spark) -> None:
    """Stop the session, then end its JVM and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    SparkContext._gateway = SparkContext._jvm = None
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — never leave the JVM behind
        proc.kill()
        proc.wait()


def check_worker_path(spark) -> None:
    """Python workers must run the working tree, not a packaged copy."""
    path = spark.sparkContext.parallelize([0], 1).map(
        lambda _: __import__("gbdc_spark").__file__).first()
    if not os.path.abspath(path).startswith(ROOT + os.sep):
        raise RuntimeError(f"workers import gbdc_spark from {path}, not {ROOT}")


# ------------------------------------------------------------- host
def calibrate() -> float:
    """Seconds of a fixed single-thread CPU loop: compare start and end
    of a run, and runs on one host, to tell throttling from regressions."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return time.perf_counter() - t0


def host_info(spark) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cores": CORES,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


# ------------------------------------------------------------ runs
class Client:
    """Closed loop: one job at a time, each from the same table state."""

    def __init__(self, spark, wl, inp):
        self.spark, self.wl, self.inp = spark, wl, inp
        self.attempted = self.failed = 0
        self.hashes: list[int] = []
        self.cached_rdds_left = 0
        self.entry: dict | None = None

    def check(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    def job(self, wrap=None) -> float | None:
        """One job run; its wall seconds, or None when it failed."""
        from workloads import reset_table, run_job

        reset_table(self.inp)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if wrap is None:
                entry = run_job(self.inp, CORES, self.wl.resume)
            else:
                with wrap:
                    entry = run_job(self.inp, CORES, self.wl.resume)
        except Exception:  # noqa: BLE001 — a failed job is counted, not fatal
            traceback.print_exc()
            self.failed += 1
            return None
        dt = time.perf_counter() - t0
        self.entry = entry
        self.verify_entry(entry)
        self.cached_rdds_left = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        self.spark.catalog.clearCache()  # reps stay independent
        return dt

    def verify_entry(self, entry: dict) -> None:
        from checks import report

        self.check(report("n_rows", entry["n_rows"] == self.inp.expected_rows,
                          f"{entry['n_rows']} != {self.inp.expected_rows}"))
        self.hashes.append(entry["content_hash"])
        self.check(report("content_hash", entry["content_hash"] == self.hashes[0],
                          "differs between reps"))

    def verify_table(self) -> dict[str, float]:
        """Kernel, as-of and resume checks on the snapshot the last job
        committed; returns the driver-side kernel timings (µs per doc)."""
        import pandas as pd
        from checks import check_asof, check_kernels, check_resume, kernel_reference
        from workloads import sample_ids

        data = self.entry["data_dir"]
        ids = sample_ids(self.inp)
        ref, us = kernel_reference(self.inp, ids)
        self.check(check_kernels(pd.read_parquet(data, filters=[("doc_id", "in", ids)]), ref))
        rows = pd.read_parquet(data, columns=["doc_id", "ingest_ts", "snapshot_ts",
                                              "snapshot_id", "prev_score"])
        self.check(check_asof(rows, self.inp))
        if self.wl.resume:
            self.check(check_resume(self.inp, rows))
        return us


def prepare_all(spark, wl, seed: int, work: str):
    """The run's input.  Every pool is built by the first run in a
    checkout, whichever workload it runs, so later first runs of other
    workloads stay short."""
    from workloads import WORKLOADS, ensure_pool, prepare

    for other in WORKLOADS.values():
        ensure_pool(spark, other, work, CORES)
    return prepare(spark, wl, seed, work, CORES)


def e2e_run(wl, seed: int, seconds: float, work: str) -> tuple[dict, dict, Client]:
    # two session starts, each on a new JVM: the first writes the input
    # (and the pool, once per checkout), the second runs the jobs
    spark, first_s = fresh_session(work)
    t0 = time.perf_counter()
    try:
        inp = prepare_all(spark, wl, seed, work)
        host = host_info(spark)
    finally:
        stop_spark(spark)
    phase = {"prepare_s": time.perf_counter() - t0}
    spark, second_s = fresh_session(work)
    setups = [first_s, second_s]
    try:
        client = Client(spark, wl, inp)
        cold = client.job()
        warm = []
        t0 = time.perf_counter()
        while len(warm) < MIN_WARM or time.perf_counter() < t0 + seconds:
            warm.append(client.job())
        phase["warm_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        client.verify_table()
        check_worker_path(spark)
        phase["checks_s"] = time.perf_counter() - t0
    finally:
        stop_spark(spark)
    warm_ok = [w for w in warm if w is not None]
    if cold is None or not warm_ok:
        raise RuntimeError("no successful cold or warm job: nothing to report")
    job_s = statistics.median(warm_ok)
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "cold_job_s": (cold, "s"),
        "job_s": (job_s, "s"),
        "docs_per_s": (inp.expected_rows / job_s, "docs/s"),
    }
    info = {"host": host, "gen_s": inp.gen_s, "setups_s": setups, "warm_reps_s": warm,
            "phase_s": phase, "rows_per_job": inp.expected_rows}
    return metrics, info, client


def traced_run(wl, seed: int, work: str, run_id: str) -> tuple[dict, dict, Client]:
    from eventlog import LayerStages, read_stage_metrics
    from spans import Tracer
    from staged import LAYERS, run_staged
    from workloads import reset_table

    event_dir = os.path.join(work, "eventlog", run_id)
    os.makedirs(event_dir, exist_ok=True)
    spark, start_s = fresh_session(work, event_dir)
    try:
        inp = prepare_all(spark, wl, seed, work)
        host = host_info(spark)
        tracer = Tracer(run_id, spark.sparkContext, jvm_pid())
        client = Client(spark, wl, inp)
        client.job()  # warm-up
        # untraced, traced, untraced: the jobs still speed up as the JVM
        # warms, and the two neighbours cancel that trend to first order
        untraced = [client.job()]
        traced = client.job(tracer.span("job.traced"))
        untraced.append(client.job())
        reset_table(inp)
        staged = run_staged(spark, inp, tracer, os.path.join(work, "stages"))
        client.attempted += 1  # the staged pass is one more job run
        client.entry = staged["entry"]
        client.verify_entry(staged["entry"])
        client.cached_rdds_left = 0
        us = client.verify_table()
        check_worker_path(spark)
    finally:
        stop_spark(spark)
    stages = read_stage_metrics(event_dir)  # complete once the session stopped
    shutil.rmtree(event_dir, ignore_errors=True)
    untraced_ok = [u for u in untraced if u is not None]
    if traced is None or not untraced_ok:
        raise RuntimeError("traced or untraced job failed: nothing to report")

    c = staged["counts"]
    span = {n: tracer.get(n) for n in LAYERS}
    st = {n: stages.get(n, LayerStages()) for n in LAYERS}
    m = {"session.start_s": (start_s, "s")}
    m["kernels.gbdhash_us_per_doc"] = (us["gbdhash"], "us")
    m["kernels.isohash_us_per_doc"] = (us["isohash"], "us")
    m["kernels.features_us_per_doc"] = (us["features"], "us")
    m["kernels.udf_cpu_s"] = (c["kernels.udf_cpu_s"], "s")
    m["partitioning.probe_s"] = (span["partitioning"].wall_s, "s")
    m["partitioning.rebalanced"] = (c["partitioning.rebalanced"], "count")
    for layer in ("extract", "temporal.asof", "temporal.window"):
        m[f"{layer}.wall_s"] = (span[layer].wall_s, "s")
        m[f"{layer}.jvm_cpu_s"] = (st[layer].jvm_cpu_s, "s")
        if layer != "temporal.window":
            m[f"{layer}.py_cpu_s"] = (span[layer].py_cpu_s, "s")
        if layer != "extract":
            m[f"{layer}.shuffle_bytes"] = (st[layer].shuffle_bytes, "bytes")
            m[f"{layer}.spill_bytes"] = (st[layer].spill_bytes, "bytes")
        m[f"{layer}.task_max_over_median_s"] = (st[layer].task_max_over_median, "ratio")
    py = span["extract"].py_cpu_s
    m["extract.kernel_share"] = (c["kernels.udf_cpu_s"] / py if py else 0.0, "ratio")
    m["extract.rows_out"] = (c["extract.rows_out"], "count")
    m["extract.status_not_ok"] = (c["extract.status_not_ok"], "count")
    m["temporal.asof.match_rate"] = (c["temporal.asof.match_rate"], "ratio")
    m["temporal.window.cached_rdds_left"] = (c["temporal.window.cached_rdds_left"], "count")
    m["checkpoint.commit.wall_s"] = (span["checkpoint.commit"].wall_s, "s")
    m["checkpoint.commit.bytes_written"] = (c["checkpoint.commit.bytes_written"], "bytes")
    m["checkpoint.commit.files_written"] = (c["checkpoint.commit.files_written"], "count")
    m["checkpoint.resume_filter.wall_s"] = (span["checkpoint.resume_filter"].wall_s, "s")
    m["checkpoint.resume_filter.committed_keys"] = (c["checkpoint.resume_filter.committed_keys"], "count")
    m["checkpoint.resume_filter.delta_rows"] = (c["checkpoint.resume_filter.delta_rows"], "count")
    staged_sum = sum(s.wall_s for s in span.values())
    m["job.staged_sum_s"] = (staged_sum, "s")
    m["job.traced_s"] = (traced, "s")
    m["job.trace_overhead_s"] = (traced - statistics.mean(untraced_ok), "s")
    info = {"host": host, "gen_s": inp.gen_s, "untraced_s": untraced,
            "layer_share": {n: span[n].wall_s / staged_sum for n in LAYERS},
            "spans": [vars(s) for s in tracer.spans]}
    return m, info, client


# ------------------------------------------------------------- main
def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seed < 0:
        print("--seed must be >= 0", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "gbdc_spark", "job.py")):
        print(f"no gbdc_spark package under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work")
    configure_env(work)
    run_id = uuid.uuid4().hex[:12]
    wl = WORKLOADS[args.workload]
    calib0 = calibrate()
    if args.trace:
        metrics, info, client = traced_run(wl, args.seed, work, run_id)
    else:
        metrics, info, client = e2e_run(wl, args.seed, args.seconds, work)
    calib1 = calibrate()

    fail_rate = client.failed / client.attempted
    info.update(workload=wl.name, seed=args.seed, trace=args.trace, run_id=run_id,
                calib_start_s=calib0, calib_end_s=calib1, attempted=client.attempted,
                failed=client.failed, fail_rate=fail_rate,
                cached_rdds_left=client.cached_rdds_left)
    record = dict(info, metrics={k: v for k, (v, _) in metrics.items()})
    os.makedirs(os.path.join(work, "runs"), exist_ok=True)
    with open(os.path.join(work, "runs", f"{wl.name}-s{args.seed}-{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    h = info["host"]
    print(f"host nproc={h['nproc']} spark_cores={h['spark_cores']} java={h['java']} "
          f"pyspark={h['pyspark']} calib_start_s={calib0:.4f} calib_end_s={calib1:.4f}")
    print(f"workload {wl.name} seed={args.seed} trace={args.trace} pool_gen_s={info['gen_s']:.2f} (information)")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(f"fail_rate {fail_rate:.6g} ratio ({client.failed} failed of {client.attempted} attempted)")
    print(json.dumps({
        "correct": client.failed == 0,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
