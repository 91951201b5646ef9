"""The traced run's staged pipeline: ``gbdc_spark.job`` taken apart at
its layer boundaries, each layer's public function called on the
materialized output of the previous one inside its own span.

The calls and their arguments mirror ``gbdc_spark.job.main`` and
``gbdc_spark.plans.flagship.feature_pipeline``; keep them in step.
"""

from __future__ import annotations

import os
import shutil

from spans import Tracer
from workloads import KEYS, Inputs

LAYERS = [
    "checkpoint.resume_filter",
    "partitioning",
    "extract",
    "temporal.asof",
    "temporal.window",
    "checkpoint.commit",
]


def run_staged(spark, inp: Inputs, tracer: Tracer, stage_dir: str) -> dict:
    """Run the layers one by one; returns counts measured at the
    boundaries (outside the spans, so they cost the spans nothing)."""
    from gbdc_spark.operators import checkpoint, extract, partitioning, temporal

    shutil.rmtree(stage_dir, ignore_errors=True)

    def materialize(df, name):
        path = os.path.join(stage_dir, name)
        df.write.parquet(path)
        return spark.read.parquet(path)

    seqs = spark.read.parquet(inp.seq_dir)
    snaps = spark.read.parquet(inp.snap_dir)
    counts: dict[str, float] = {}
    done = checkpoint.committed_keys(spark, inp.table_dir, KEYS)
    counts["checkpoint.resume_filter.committed_keys"] = 0 if done is None else done.count()
    with tracer.span("job.staged", tagged=False):
        with tracer.span("checkpoint.resume_filter"):
            # without --resume the job never calls it; the span then times
            # the call against the absent target table: a no-op
            delta = checkpoint.resume_filter(seqs, inp.table_dir, KEYS)
            if delta is not seqs:
                delta = materialize(delta, "delta")
        # the warm-up jobs memoized the probe for this plan: time a real probe
        partitioning._PROBE_CACHE.clear()
        with tracer.span("partitioning"):
            balanced = partitioning.maybe_size_rebalance(delta)
        with tracer.span("extract"):
            feats = materialize(extract.extract_all(balanced, rebalance=False), "extract")
        with tracer.span("temporal.asof"):
            joined = materialize(temporal.asof_join(
                feats.drop("tokens"), snaps, by="doc_id", left_ts="ingest_ts",
                right_ts="snapshot_ts", allow_exact_matches=False,
            ), "asof")
        with tracer.span("temporal.window"):
            win = materialize(temporal.with_temporal_bundle_scalable(
                joined, ts="ingest_ts", partition_by="source", ffill_cols=["prev_score"],
                lag_cols=["clauses"], gap_seconds=120.0, order_tiebreak=["doc_id"],
                chunk_seconds=3600.0,
            ), "window")
        counts["temporal.window.cached_rdds_left"] = spark.sparkContext._jsc.getPersistentRDDs().size()
        spark.catalog.clearCache()
        with tracer.span("checkpoint.commit"):
            entry = checkpoint.commit(win, inp.table_dir, keys=KEYS,
                                      hash_cols=[c for c in win.columns if c != "runtime_s"])

    from pyspark.sql import functions as F

    counts["checkpoint.resume_filter.delta_rows"] = delta.count()
    counts["partitioning.rebalanced"] = int(balanced is not delta)
    ex = feats.agg(F.count("*"), F.sum((F.col("status") != "ok").cast("int")),
                   F.sum("runtime_s")).first()
    counts["extract.rows_out"], counts["extract.status_not_ok"] = ex[0], ex[1]
    counts["kernels.udf_cpu_s"] = float(ex[2])
    counts["temporal.asof.match_rate"] = joined.agg(
        F.avg(F.col("snapshot_ts").isNotNull().cast("double"))).first()[0]
    files = [os.path.join(r, f) for r, _, fs in os.walk(entry["data_dir"])
             for f in fs if f.endswith(".parquet")]
    counts["checkpoint.commit.files_written"] = len(files)
    counts["checkpoint.commit.bytes_written"] = sum(os.path.getsize(f) for f in files)
    shutil.rmtree(stage_dir, ignore_errors=True)
    return {"entry": entry, "counts": counts}
