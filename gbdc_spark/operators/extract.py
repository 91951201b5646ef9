"""DataFrame → DataFrame extraction stages.

Each stage mirrors one function of the reference's Python surface
(gbdlib.cc:317-336: gbdhash, isohash, extract_base_features, ...) as a
column-adding transformation backed by an Arrow-batched UDF running
the shared numpy kernels — never per-row Python on the JVM side
(BASELINE.json input_hint).  The CNF hash and base-feature stages read
each batch's ``tokens`` as one flat Arrow values buffer plus offsets and
run the segmented batch kernels (kernels/hashes.py ``*_batch``,
kernels/cnf_batch.py); the per-doc kernels are the test oracle and the
error fallback.

The fused ``extract_all`` stage is one ``mapInArrow`` pass: it returns
the input's columns minus ``tokens``, plus gbdhash, isohash, the 58
features, ``runtime_s`` (the batch's kernel CPU time split by token
count) and ``status`` — the hot path of the flagship pipeline.  Per-doc
failures become status='error:...' rows instead of task failures, the
Spark analogue of the reference's timeout/memout sentinel dicts
(gbdlib.cc:106-111).
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf, pandas_udf

from ..kernels import cnf, gates, hashes, opb, transforms, wcnf
from ..kernels.cnf_batch import cnf_base_features_batch
from ..schemas import (
    BASE_FEATURES_NAMES,
    OPB_BASE_FEATURES_NAMES,
    WCNF_BASE_FEATURES_NAMES,
    feature_struct,
)

__all__ = [
    "with_gbdhash",
    "with_isohash",
    "with_base_features",
    "with_wcnf_hashes",
    "with_wcnf_base_features",
    "with_opb_hash",
    "with_opb_base_features",
    "with_pqbf_hash",
    "with_gate_features",
    "sanitize",
    "normalize",
    "relabel_variables",
    "check_sanitized",
    "with_cnf2kis_counts",
    "cnf2kis_edges",
    "extract_all",
    "EXTRACT_ALL_FIELDS",
]


# --------------------------------------------------------------- hashes
def _flat_tokens(tokens: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """An Arrow ``list<int>`` column -> (int64 values, offsets), the
    batch kernels' input; a NULL doc reads as an empty one.  Values come
    from ``flatten()`` and offsets from the list lengths, so a slice with
    a nonzero first offset (or a NULL entry backed by values) is safe."""
    flat = tokens.flatten()
    if flat.null_count:
        raise TypeError("NULL token inside a doc")
    lens = pc.fill_null(pc.list_value_length(tokens), 0).to_numpy()
    offsets = np.concatenate(([0], np.cumsum(lens, dtype=np.int64)))
    return flat.to_numpy(zero_copy_only=False).astype(np.int64, copy=False), offsets


def _kernel_column(tokens: pa.Array, batch_fn, doc_fn) -> np.ndarray:
    """One batch kernel over a whole Arrow batch; the per-doc kernel
    only if the batch kernel raises."""
    values, offsets = _flat_tokens(tokens)
    try:
        return batch_fn(values, offsets)
    except Exception:
        return np.array([doc_fn(values[a:b]) for a, b in zip(offsets[:-1], offsets[1:])],
                        dtype=object)


def _null_mask(tokens: pa.Array) -> np.ndarray:
    return tokens.is_null().to_numpy(zero_copy_only=False)


@arrow_udf(T.StringType())
def _gbdhash_udf(tokens: pa.Array) -> pa.Array:
    out = _kernel_column(tokens, hashes.gbdhash_cnf_batch, hashes.gbdhash_cnf)
    return pa.array(out, pa.string(), mask=_null_mask(tokens))


@arrow_udf(T.StringType())
def _isohash_udf(tokens: pa.Array) -> pa.Array:
    out = _kernel_column(tokens, hashes.isohash_cnf_batch, hashes.isohash_cnf)
    return pa.array(out, pa.string(), mask=_null_mask(tokens))


def with_gbdhash(df: DataFrame, tokens_col: str = "tokens", out: str = "gbdhash") -> DataFrame:
    """CNF::gbdhash (GBDHash.h:30-50) as a column stage; NULL tokens give
    a NULL hash."""
    return df.withColumn(out, _gbdhash_udf(F.col(tokens_col)))


def with_isohash(df: DataFrame, tokens_col: str = "tokens", out: str = "isohash") -> DataFrame:
    """CNF::isohash (ISOHash.h:41-75) as a column stage; NULL tokens give
    a NULL hash."""
    return df.withColumn(out, _isohash_udf(F.col(tokens_col)))


@pandas_udf(T.StringType())
def _pqbf_hash_udf(payload: pd.Series) -> pd.Series:
    return payload.map(hashes.gbdhash_pqbf_text)


def with_pqbf_hash(df: DataFrame, payload_col: str = "payload", out: str = "pqbfhash") -> DataFrame:
    return df.withColumn(out, _pqbf_hash_udf(F.col(payload_col)))


# --------------------------------------------------------- base features
def _feature_arrays(feats: np.ndarray) -> list[pa.Array]:
    """One double column per base feature; NaN becomes NULL, as the
    pandas-to-Arrow conversion always did."""
    return [pa.array(feats[:, j], pa.float64(), from_pandas=True)
            for j in range(len(BASE_FEATURES_NAMES))]


@arrow_udf(feature_struct(BASE_FEATURES_NAMES))
def _base_features_udf(tokens: pa.Array) -> pa.Array:
    feats = _kernel_column(tokens, cnf_base_features_batch, cnf.cnf_base_features)
    feats = np.asarray(feats, dtype=np.float64).reshape(-1, len(BASE_FEATURES_NAMES))
    return pa.StructArray.from_arrays(
        _feature_arrays(feats),
        names=list(BASE_FEATURES_NAMES), mask=pa.array(_null_mask(tokens)))


def with_base_features(df: DataFrame, tokens_col: str = "tokens", out: str = "features") -> DataFrame:
    """CNF::BaseFeatures — 58-field double struct (CNFBaseFeatures.h);
    NULL tokens give a NULL struct."""
    return df.withColumn(out, _base_features_udf(F.col(tokens_col)))


_GATE_STRUCT = T.StructType(
    [T.StructField(n, T.DoubleType(), True) for n in gates.GATE_FEATURE_NAMES]
    + [T.StructField("gate_status", T.StringType(), True)]
)


@pandas_udf(_GATE_STRUCT)
def _gate_features_udf(tokens: pd.Series) -> pd.DataFrame:
    rows = []
    stats = []
    for t in tokens:
        try:
            feats, status = gates.gate_features_ex(np.asarray(t, dtype=np.int64))
            rows.append(feats)
            stats.append(status)
        except Exception as e:  # one pathological doc -> NaN row, not task death
            rows.append(np.full(len(gates.GATE_FEATURE_NAMES), np.nan))
            stats.append(f"error:{type(e).__name__}")
    out = pd.DataFrame(np.vstack(rows) if rows else np.zeros((0, 56)),
                       columns=list(gates.GATE_FEATURE_NAMES))
    out["gate_status"] = pd.Series(stats, dtype=object)
    return out


def with_gate_features(df: DataFrame, tokens_col: str = "tokens",
                       out: str = "gate_features",
                       rebalance: bool | str = "auto") -> DataFrame:
    """CNFGateFeatures — 56-field double struct (CNFGateFeatures.h:41-160)
    plus a ``gate_status`` field: ``ok:<sat-backend>``,
    ``budget_exhausted:dpll`` (GENERIC may undercount — flagged, never
    silent) or ``error:<type>`` (per-doc failure became a NaN row; a
    systematic kernel regression shows up as a column of errors instead
    of silently all-NaN features).

    Gate analysis is stateful and sequential per doc (GateAnalyzer.h BFS +
    occurrence-list mutation); it distributes ACROSS docs.  Giant docs
    straggle, so by default (``rebalance="auto"``) a one-pass quantile
    probe stripes skewed corpora with ``partitioning.size_bucketed``
    and leaves uniform ones untouched; pass False to pin the incoming
    partitioning or True to force the stripe.
    """
    df = _apply_rebalance(df, rebalance)
    return df.withColumn(out, _gate_features_udf(F.col(tokens_col)))


# ------------------------------------------------------------------ WCNF
@pandas_udf(T.StringType())
def _wcnf_hash_udf(weights: pd.Series, top: pd.Series, tokens: pd.Series) -> pd.Series:
    return pd.Series(
        [hashes.gbdhash_wcnf(w, int(t), np.asarray(tk, dtype=np.int64))
         for w, t, tk in zip(weights, top, tokens)]
    )


@pandas_udf(T.StringType())
def _wcnf_isohash_udf(weights: pd.Series, top: pd.Series, tokens: pd.Series) -> pd.Series:
    return pd.Series(
        [hashes.isohash_wcnf(w, int(t), np.asarray(tk, dtype=np.int64))
         for w, t, tk in zip(weights, top, tokens)]
    )


def with_wcnf_hashes(df: DataFrame) -> DataFrame:
    """WCNF::gbdhash + WCNF::isohash over (weights, top, tokens)."""
    return df.withColumn(
        "wcnfhash", _wcnf_hash_udf(F.col("weights"), F.col("top"), F.col("tokens"))
    ).withColumn(
        "wcnfisohash", _wcnf_isohash_udf(F.col("weights"), F.col("top"), F.col("tokens"))
    )


@pandas_udf(feature_struct(WCNF_BASE_FEATURES_NAMES))
def _wcnf_features_udf(weights: pd.Series, top: pd.Series, tokens: pd.Series) -> pd.DataFrame:
    rows = [
        wcnf.wcnf_base_features(w, int(t), np.asarray(tk, dtype=np.int64))
        for w, t, tk in zip(weights, top, tokens)
    ]
    return pd.DataFrame(np.vstack(rows) if rows else np.zeros((0, 73)),
                        columns=list(WCNF_BASE_FEATURES_NAMES))


def with_wcnf_base_features(df: DataFrame, out: str = "features") -> DataFrame:
    return df.withColumn(out, _wcnf_features_udf(F.col("weights"), F.col("top"), F.col("tokens")))


# ------------------------------------------------------------------- OPB
@pandas_udf(T.StringType())
def _opb_hash_udf(payload: pd.Series) -> pd.Series:
    return payload.map(hashes.gbdhash_opb_text)


@pandas_udf(feature_struct(OPB_BASE_FEATURES_NAMES))
def _opb_features_udf(payload: pd.Series) -> pd.DataFrame:
    rows = [opb.opb_base_features(p) for p in payload]
    return pd.DataFrame(np.vstack(rows) if rows else np.zeros((0, 17)),
                        columns=list(OPB_BASE_FEATURES_NAMES))


def with_opb_hash(df: DataFrame, payload_col: str = "payload", out: str = "opbhash") -> DataFrame:
    return df.withColumn(out, _opb_hash_udf(F.col(payload_col)))


def with_opb_base_features(df: DataFrame, payload_col: str = "payload", out: str = "features") -> DataFrame:
    return df.withColumn(out, _opb_features_udf(F.col(payload_col)))


# ------------------------------------------------------------ transformers
_INT_ARRAY = T.ArrayType(T.IntegerType())


@pandas_udf(_INT_ARRAY)
def _sanitize_udf(tokens: pd.Series) -> pd.Series:
    return tokens.map(lambda t: transforms.sanitize_tokens(np.asarray(t, dtype=np.int64)))


@pandas_udf(_INT_ARRAY)
def _relabel_udf(tokens: pd.Series) -> pd.Series:
    return tokens.map(lambda t: transforms.normalize_variable_names(np.asarray(t, dtype=np.int64)))


@pandas_udf(T.BooleanType())
def _check_sanitized_udf(tokens: pd.Series) -> pd.Series:
    return tokens.map(lambda t: transforms.check_sanitized(np.asarray(t, dtype=np.int64)))


def sanitize(df: DataFrame, tokens_col: str = "tokens", out: str | None = None) -> DataFrame:
    """Order-preserving sanitize (Normalize.h:80-120); in-place by default,
    so downstream stages and the content hash see the transformed doc —
    like the reference's stdout pipeline."""
    return df.withColumn(out or tokens_col, _sanitize_udf(F.col(tokens_col)))


def relabel_variables(df: DataFrame, tokens_col: str = "tokens", out: str | None = None) -> DataFrame:
    return df.withColumn(out or tokens_col, _relabel_udf(F.col(tokens_col)))


def check_sanitized(df: DataFrame, tokens_col: str = "tokens", out: str = "is_sanitized") -> DataFrame:
    return df.withColumn(out, _check_sanitized_udf(F.col(tokens_col)))


def normalize(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """normalize (Normalize.h:54-71): tokens are already comment-free, so
    this stage just recomputes the header metadata — pure JVM-side
    expressions, no Python (stays inside whole-stage codegen)."""
    t = F.col(tokens_col)
    return (
        df.withColumn("n_vars", F.coalesce(F.array_max(F.transform(t, F.abs)), F.lit(0)))
        .withColumn(
            "n_clauses",
            F.aggregate(t, F.lit(0), lambda acc, x: acc + F.when(x == 0, 1).otherwise(0))
            + F.when((F.size(t) > 0) & (F.element_at(t, -1) != 0), 1).otherwise(0),
        )
    )


@pandas_udf(T.StructType([
    T.StructField("nodes", T.LongType()),
    T.StructField("edges", T.LongType()),
    T.StructField("k", T.LongType()),
]))
def _cnf2kis_udf(tokens: pd.Series) -> pd.DataFrame:
    rows = [transforms.cnf2kis_counts(np.asarray(t, dtype=np.int64)) for t in tokens]
    return pd.DataFrame(rows, columns=["nodes", "edges", "k"])


def with_cnf2kis_counts(df: DataFrame, tokens_col: str = "tokens", out: str = "kis") -> DataFrame:
    """cnf2kis size metadata (IndependentSet.h:41-58).  Edge *generation*
    multiplies data size, so it is exposed separately (explode on demand);
    the counts are what gbdlib returns (gbdlib.cc:249-298)."""
    return df.withColumn(out, _cnf2kis_udf(F.col(tokens_col)))


def cnf2kis_edges(df: DataFrame, key: str = "doc_id", tokens_col: str = "tokens") -> DataFrame:
    """Exploded k-ISP edge list (key, a, b) — the explode-on-demand side
    of cnf2kis (IndependentSet.h:72-113): edges multiply data size, so
    generation happens inside the worker and only when asked for."""
    from collections.abc import Iterator as _It

    def run(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for k, t in zip(pdf[key], pdf[tokens_col]):
                e = transforms.cnf2kis_edges(np.asarray(t, dtype=np.int64))
                frames.append(pd.DataFrame({key: k, "a": e[:, 0], "b": e[:, 1]}))
            yield pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(
                columns=[key, "a", "b"]
            )

    return df.select(key, tokens_col).mapInPandas(run, schema=f"{key} string, a long, b long")


# ----------------------------------------------------- fused hot path
EXTRACT_ALL_FIELDS = (
    ["gbdhash", "isohash"] + list(BASE_FEATURES_NAMES) + ["runtime_s", "status"]
)


def _extract_all_schema(input_schema: T.StructType, tokens_col: str) -> T.StructType:
    fields = [f for f in input_schema.fields if f.name != tokens_col]
    fields += [T.StructField("gbdhash", T.StringType()), T.StructField("isohash", T.StringType())]
    fields += [T.StructField(n, T.DoubleType()) for n in BASE_FEATURES_NAMES]
    fields += [T.StructField("runtime_s", T.DoubleType()), T.StructField("status", T.StringType())]
    return T.StructType(fields)


def _extract_per_doc(tokens: pa.Array):
    """Per-doc kernels over one batch — the error fallback: a doc that
    raises becomes a ``status='error:<type>'`` row, never a task failure."""
    n = len(tokens)
    ghash = np.full(n, None, dtype=object)
    ihash = np.full(n, None, dtype=object)
    feats = np.full((n, len(BASE_FEATURES_NAMES)), np.nan)
    runtime = np.zeros(n)
    status = np.full(n, "ok", dtype=object)
    for i in range(n):
        t0 = time.process_time()
        try:
            arr = np.asarray(tokens[i].as_py(), dtype=np.int64)  # NULL -> TypeError
            ghash[i] = hashes.gbdhash_cnf(arr)
            ihash[i] = hashes.isohash_cnf(arr)
            feats[i] = cnf.cnf_base_features(arr)
        except Exception as e:
            status[i] = f"error:{type(e).__name__}"
        runtime[i] = time.process_time() - t0
    return ghash, ihash, feats, runtime, status


def _extract_batch(batch: pa.RecordBatch, tokens_col: str = "tokens") -> pa.RecordBatch:
    """The ``extract_all`` body for one Arrow batch: the batch's other
    columns unchanged, then gbdhash, isohash, the 58 base features,
    runtime_s and status.  The three batch kernels read the tokens as one
    flat buffer; if any raises, the per-doc kernels redo the batch."""
    tokens = batch.column(tokens_col)
    t0 = time.process_time()
    try:
        values, offsets = _flat_tokens(tokens)
        ghash = hashes.gbdhash_cnf_batch(values, offsets)
        ihash = hashes.isohash_cnf_batch(values, offsets)
        feats = cnf_base_features_batch(values, offsets)
        status = np.where(_null_mask(tokens), "error:TypeError", "ok").astype(object)
        # the batch's kernel CPU time, apportioned by doc size
        n_tok = np.diff(offsets).astype(np.float64)
        if not n_tok.any():
            n_tok[:] = 1.0  # all docs empty: equal shares
        runtime = (time.process_time() - t0) * n_tok / max(n_tok.sum(), 1.0)
    except Exception:
        ghash, ihash, feats, runtime, status = _extract_per_doc(tokens)
    bad = status != "ok"
    ghash[bad] = ihash[bad] = None
    feats[bad] = np.nan
    keep = [name for name in batch.schema.names if name != tokens_col]
    return pa.RecordBatch.from_arrays(
        [batch.column(name) for name in keep]
        + [pa.array(ghash, pa.string()), pa.array(ihash, pa.string())]
        + _feature_arrays(feats)
        + [pa.array(runtime, pa.float64()), pa.array(status, pa.string())],
        names=keep + list(EXTRACT_ALL_FIELDS),
    )


def _apply_rebalance(df: DataFrame, rebalance: bool | str) -> DataFrame:
    """Shared straggler gate for the per-doc extraction stages."""
    from .partitioning import maybe_size_rebalance, size_bucketed

    if rebalance == "auto":
        return maybe_size_rebalance(df)
    if rebalance is True:
        return size_bucketed(df) if "n_tok" in df.columns else df
    return df


def extract_all(df: DataFrame, tokens_col: str = "tokens",
                rebalance: bool | str = "auto") -> DataFrame:
    """Fused per-doc extraction in one ``mapInArrow`` stage (one Arrow
    crossing per batch, see :func:`_extract_batch`).

    Output: every input column except ``tokens_col`` (the token payload
    never crosses back to the JVM), then gbdhash, isohash, the 58 base
    features, ``runtime_s`` and ``status``.  ``runtime_s`` is the batch's
    kernel CPU time split across its docs by token count (per-doc time
    when the batch fell back to the per-doc kernels); it is a skew
    diagnostic, not a value, and stays out of the content hash.  A NULL
    ``tokens`` row gets ``status='error:TypeError'`` and NULL hashes and
    features.

    ``rebalance="auto"`` (default): a Zipf-heavy ``n_tok`` distribution
    triggers ``partitioning.size_bucketed`` striping so one partition
    doesn't draw several giant docs (north_rule: explicit skew handling
    for heavy sources); near-uniform corpora skip the shuffle entirely
    after a single cheap quantile scan.  Streaming inputs skip the
    probe (no batch quantiles mid-stream)."""
    df = _apply_rebalance(df, rebalance)
    out_schema = _extract_all_schema(df.schema, tokens_col)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield _extract_batch(batch, tokens_col)

    return df.mapInArrow(run, schema=out_schema)
