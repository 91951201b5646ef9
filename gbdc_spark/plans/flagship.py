"""The flagship pipeline (SURVEY.md §4.3):

    scan → fused hash+feature extraction (mapInArrow)     [python, vectorized]
         → as-of join vs latest strictly-prior snapshot   [cogrouped merge_asof]
         → lag/ffill windows                              [JVM]
         → gap sessionization per source                  [JVM]
         → per-source aggregate / feature table

Every stage is a composable DataFrame transform; this module just wires
them for entry()/bench.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import extract, temporal
from ..sources import tables

__all__ = ["feature_pipeline", "flagship_aggregate", "run_flagship"]


def feature_pipeline(sequences: DataFrame, snapshots: DataFrame) -> DataFrame:
    """sequences (doc_id, tokens, n_tok, source, ingest_ts) × snapshots
    (doc_id, snapshot_ts, snapshot_id, prev_score) → feature rows."""
    feats = extract.extract_all(sequences)
    joined = temporal.asof_join(
        feats,
        snapshots,
        by="doc_id",
        left_ts="ingest_ts",
        right_ts="snapshot_ts",
        allow_exact_matches=False,
    )
    # fused skew-proof window bundle: a Zipf-heavy source would serialize
    # plain per-source windows into one task each (north_rule: explicit
    # skew handling); the bundle shares one chunked pass + one summary so
    # the extraction/as-of upstream executes exactly once
    return temporal.with_temporal_bundle_scalable(
        joined,
        ts="ingest_ts",
        partition_by="source",
        ffill_cols=["prev_score"],
        lag_cols=["clauses"],
        gap_seconds=120.0,
        order_tiebreak=["doc_id"],
        chunk_seconds=3600.0,
    )


def flagship_aggregate(features: DataFrame) -> DataFrame:
    return (
        features.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("gbdhash").alias("n_distinct"),
            F.sum(F.when(F.col("snapshot_ts").isNotNull(), 1).otherwise(0)).alias("n_matched"),
            F.avg("clauses").alias("avg_clauses"),
            F.avg("horn").alias("avg_horn"),
            F.max("session_seq").alias("n_sessions"),
            F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("n_errors"),
        )
        .orderBy("source")
    )


def run_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship over the driver's documents table (tokenized JVM-side)
    with snapshots DERIVED from the doc ids by a SQL-expressible rule
    (tables.derived_snapshots_df) — the whole E2E composition is
    value-checkable against a DuckDB oracle, and the snapshot side is a
    JVM projection of the same scan instead of a driver-built table
    (which also drops the extra count action the synthetic side needed)."""
    seqs = tables.documents_as_sequences(spark, sf_dir)
    snaps = tables.derived_snapshots_df(seqs)
    return flagship_aggregate(feature_pipeline(seqs, snaps))
