"""Similarity search over an embedding column (array<float>).

* ``cosine_topk`` — brute-force cosine top-k against a query vector,
  expressed with JVM-side zip_with/aggregate (whole-stage codegen,
  no Python).  This is the exactness baseline: one scan, one
  global top-k (TakeOrderedAndProject — no full sort, no shuffle of the
  data, only of k candidates per partition).
* ``ivf_assign`` / ``ivf_topk`` — the scale path: IVF coarse quantizer.
  Centroids are a tiny broadcast table; assignment is a broadcast
  nested-loop argmin, i.e. a map-only stage.  At 100 TB the probe stage
  scans only the rows in the query's nearest cells (partition pruning on
  the cell column once the table is written partitioned by cell).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "cosine_topk",
    "mmr_topk",
    "ivf_assign",
    "cell_prototypes",
    "hard_negatives",
    "ivf_multiprobe_assign",
    "ivf_topk",
    "ivf_index_write",
    "ivf_probe",
    "centroids_from_rows",
    "kmeans_fit",
    "sq8_bounds",
    "sq8_bounds_lists",
    "sq8_encode",
    "sq8_topk",
    "pq_codebook_from_rows",
    "pq_encode",
    "pq_adc_topk",
    "pq_codebook_refine",
    "with_residuals",
    "ivfpq_topk",
    "embedding_decontam",
    "embedding_covariance",
    "pca_fit",
    "pca_project",
]


def _to_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine_similarity(a: Column, b: Column, decimals: int = 6) -> Column:
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), decimals)


def cosine_topk(df: DataFrame, query: list[float], k: int = 5,
                key: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k by cosine to a constant query vector; deterministic
    tie-break on the key."""
    q = F.array(*[F.lit(float(x)) for x in query])
    v = _to_double(F.col(vec_col))
    scored = df.select(F.col(key), cosine_similarity(v, q).alias("cosine"))
    return scored.orderBy(F.desc("cosine"), F.col(key)).limit(k)


def _seq_dot(a: list, b: list) -> float:
    """Sequential left-fold dot product in index order — the SAME
    summation order as :func:`_dot`'s F.aggregate fold and the DuckDB
    oracles' list_sum, so a driver-side rerank reproduces the engine
    cosines bit-for-bit."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _round_away(x: float, decimals: int = 6) -> float:
    """Mirror of the engines' scale-then-round-half-away-from-zero on
    the BINARY double (DuckDB round(); C std::round semantics) — NOT
    Python's banker's round and NOT Spark's decimal-string HALF_UP,
    both of which can flip a half-tie the other way."""
    import math

    y = x * (10.0 ** decimals)
    t = math.floor(abs(y))
    m = t + 1 if abs(y) - t >= 0.5 else t
    return (m if y >= 0 else -m) / (10.0 ** decimals)


def mmr_topk(df: DataFrame, query: list[float], k: int = 5,
             lam: float = 0.7, pool: int = 20,
             key: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein, SIGIR'98): greedily pick the candidate maximizing
    ``lam * rel(c) - (1 - lam) * max_{s in selected} sim(c, s)`` — the
    standard rerank that stops a near-dup cluster from filling every
    retrieval slot.

    Two-stage shape: the DISTRIBUTED stage is an exact cosine top-
    ``pool`` (TakeOrdered — no global sort); the greedy rerank then
    runs driver-side over that bounded pool (<= ``pool`` rows — the
    centroid-probe pattern: rerankers operate on candidate sets by
    construction, so shipping the k x pool quadratic loop to
    executors would buy nothing and cost a join per step).  All
    similarities are sequential-fold cosines rounded 6 decimals with
    the engines' binary half-away rule (:func:`_round_away`), and ties
    break to the smallest key, so a SQL oracle unrolling the k greedy
    steps derives the identical selection.

    Returns (key, mmr_rank 1..k, relevance, mmr_score) in selection
    order; ``mmr_score`` is the unrounded double of the scoring
    expression over rounded inputs (identical in any IEEE engine).  The
    key keeps its input type.  A zero-norm vector has no cosine: its
    relevance is NULL and its penalty NaN, so it is never selected (the
    result can then hold fewer than ``min(k, pool)`` rows).
    """
    import math

    q = [float(x) for x in query]
    qa = F.array(*[F.lit(x) for x in q])
    v = _to_double(F.col(vec_col))
    rows = (
        df.select(
            F.col(key),
            F.when(_norm(v) > 0, cosine_similarity(v, qa)).alias("rel"),
            v.alias("_v"),
        )
        .orderBy(F.desc("rel"), F.col(key))
        .limit(pool)
        .collect()
    )
    cands = [
        (r[key], math.nan if r["rel"] is None else float(r["rel"]),
         [float(x) for x in r["_v"]])
        for r in rows
    ]
    norms = {c[0]: _seq_dot(c[2], c[2]) ** 0.5 for c in cands}
    selected: list[tuple] = []
    chosen: set = set()
    while len(selected) < k:
        best = None
        for ckey, rel, vec in cands:
            if ckey in chosen:
                continue
            # strict MMR: pen = max sim over selected (CAN be
            # negative — no clamp, mirroring the oracle's max())
            pen = max(
                (
                    _round_away(
                        _seq_dot(vec, svec)
                        / (norms[ckey] * norms[skey])
                    )
                    for skey, _, _, _, svec in selected
                ),
                default=0.0,
            ) if norms[ckey] else math.nan
            score = lam * rel - (1.0 - lam) * pen
            if math.isnan(score):
                continue
            if best is None or score > best[0] or (
                score == best[0] and ckey < best[1]
            ):
                best = (score, ckey, rel, vec)
        if best is None:
            break
        score, ckey, rel, vec = best
        chosen.add(ckey)
        selected.append((ckey, len(selected) + 1, rel, score, vec))
    spark = df.sparkSession
    schema = T.StructType([
        T.StructField(key, df.schema[key].dataType),
        T.StructField("mmr_rank", T.IntegerType()),
        T.StructField("relevance", T.DoubleType()),
        T.StructField("mmr_score", T.DoubleType()),
    ])
    return spark.createDataFrame([s[:4] for s in selected], schema)


def centroids_from_rows(df: DataFrame, ids: list[int], key: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Deterministic coarse 'centroids': the embeddings of fixed row ids
    (a seeded k-means would go here on a real corpus; the IVF plumbing is
    identical and this keeps the oracle reproducible in SQL)."""
    return (
        df.filter(F.col(key).isin(ids))
        .select(F.col(key).alias("cell"), _to_double(F.col(vec_col)).alias("centroid"))
    )


def ivf_assign(df: DataFrame, centroids: DataFrame, key: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Assign each vector to its max-cosine centroid cell.  The centroid
    table is broadcast; ties break to the smallest cell id."""
    v = _to_double(F.col(vec_col))
    joined = df.select(F.col(key), v.alias("v")).crossJoin(F.broadcast(centroids))
    scored = joined.withColumn("cosine", cosine_similarity(F.col("v"), F.col("centroid")))
    w = Window.partitionBy(key).orderBy(F.desc("cosine"), F.col("cell"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col(key), F.col("cell"), F.col("cosine").alias("cell_cosine"))
    )


def ivf_multiprobe_assign(df: DataFrame, centroids: DataFrame, n_probe: int = 2,
                          key: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Assign each vector to its ``n_probe`` max-cosine centroid cells
    (rank 1 = the :func:`ivf_assign` cell).  Multi-probe is the standard
    IVF recall lever for SYMMETRIC candidate generation: a pair sitting
    on a cell boundary splits under single-assignment, but with p >= 2
    probes each side also lands in its runner-up cell, so boundary pairs
    meet wherever their probe sets overlap.  Same broadcast
    nested-loop + per-key rank shape as ``ivf_assign`` — cost is the
    identical one map-side pass, output is ``n_probe`` rows per vector.

    Returns (key, cell, probe_rank), probe_rank in [1, n_probe]; ties
    break to the smallest cell id, so the output is deterministic."""
    v = _to_double(F.col(vec_col))
    joined = df.select(F.col(key), v.alias("v")).crossJoin(F.broadcast(centroids))
    scored = joined.withColumn("cosine", cosine_similarity(F.col("v"), F.col("centroid")))
    w = Window.partitionBy(key).orderBy(F.desc("cosine"), F.col("cell"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_probe)
        .select(F.col(key), F.col("cell"), F.col("rn").alias("probe_rank"))
    )


def _probe_cells(centroids: DataFrame, query: list[float], n_probe: int) -> list:
    """The n_probe nearest centroid cells to the query (tiny collect —
    the centroid table is k rows)."""
    q = F.array(*[F.lit(float(x)) for x in query])
    return [
        r["cell"]
        for r in centroids.withColumn("c", cosine_similarity(F.col("centroid"), q))
        .orderBy(F.desc("c"), F.col("cell"))
        .limit(n_probe)
        .collect()
    ]


def ivf_topk(df: DataFrame, centroids: DataFrame, query: list[float], k: int = 5,
             n_probe: int = 2, key: str = "vec_id", vec_col: str = "embedding",
             assigned: DataFrame | None = None) -> DataFrame:
    """ANN search: score the query against centroids, scan only the
    n_probe nearest cells, brute-force within them.

    Pass ``assigned`` (the output of :func:`ivf_assign`, ideally persisted
    or read back from storage) when running MANY queries — recomputing the
    assignment is a full-table job and must happen once, not per query.
    For the true at-scale path use :func:`ivf_index_write` +
    :func:`ivf_probe`: the probe is then a partition-pruned scan of
    ``n_probe`` cell directories, never a full scan.
    """
    probe_cells = _probe_cells(centroids, query, n_probe)
    if assigned is None:
        assigned = ivf_assign(df, centroids, key, vec_col)
    cand = df.join(assigned.filter(F.col("cell").isin(probe_cells)).select(key), key)
    return cosine_topk(cand, query, k, key, vec_col)


def ivf_index_write(df: DataFrame, centroids: DataFrame, path: str,
                    key: str = "vec_id", vec_col: str = "embedding") -> None:
    """Materialize the IVF index ONCE: vectors + their cell assignment,
    written partitioned by ``cell``.  Amortizes the one full scan over
    every subsequent probe; at 100 TB this is the only full-table job in
    the ANN path, and each ``cell=<id>`` directory is independently
    scannable (partition pruning)."""
    assigned = ivf_assign(df, centroids, key, vec_col)
    (
        df.join(assigned.select(key, "cell"), key)
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(path)
    )


def ivf_probe(spark: SparkSession, path: str, centroids: DataFrame,
              query: list[float], k: int = 5, n_probe: int = 2,
              key: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Partition-pruned ANN probe against a written IVF index: reads ONLY
    the ``n_probe`` nearest cell partitions (the cell filter hits the
    partitioning column, so PartitionFilters prunes every other directory
    at planning time — verify with .explain())."""
    cells = _probe_cells(centroids, query, n_probe)
    cand = spark.read.parquet(path).filter(F.col("cell").isin(cells))
    return cosine_topk(cand, query, k, key, vec_col)


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 as the same sequential left-fold sum the DuckDB
    oracles use (list_sum over list_transform) — byte-for-byte float
    parity at the 6-decimal rounding the comparisons apply."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _subvectors(v: Column, m: int, sub: int) -> Column:
    """array of m structs (j, sub): the PQ subspace split of one vector."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.slice(v, j * sub + 1, sub).alias("sub"),
            )
            for j in range(m)
        ]
    )


def sq8_bounds(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension (i, lo, hi) training bounds for 8-bit scalar
    quantization — the min/max calibration pass of the SQ8 codec (the
    classical scalar-quantizer member of the vector-compression family
    next to PQ: 1 byte/dim instead of 1 byte/subspace, no codebook).

    Scale shape: one posexplode + groupBy(dim) with map-side-combined
    partial min/max — the shuffle carries d rows per map partition, so
    the pass is one corpus scan regardless of corpus size.  min/max of
    doubles are exact picks of existing values, so any engine derives
    bit-identical bounds from the same table.
    """
    return (
        df.select(
            F.posexplode(_to_double(F.col(vec_col))).alias("i", "x")
        )
        .groupBy("i")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    )


def sq8_bounds_lists(df: DataFrame,
                     vec_col: str = "embedding") -> tuple[list, list]:
    """Collect :func:`sq8_bounds` as (lo, hi) Python lists in dimension
    order — a bounded d-row driver action (the centroid-probe pattern),
    the literal form :func:`sq8_encode` / :func:`sq8_topk` bake into
    their per-row expressions."""
    rows = sq8_bounds(df, vec_col=vec_col).orderBy("i").collect()
    return ([r["lo"] for r in rows], [r["hi"] for r in rows])


def sq8_encode(df: DataFrame, lo: list[float], hi: list[float],
               key: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """SQ8-encode every vector against literal training bounds:
    ``code_i = clamp(floor((x_i - lo_i) * 256 / (hi_i - lo_i)), 0,
    255)`` (degenerate dims with ``hi == lo`` encode as 0) — 1 byte per
    dimension, 4× smaller than float32 with no codebook to train.  The
    expression is written with the exact operation order the DuckDB
    oracles replicate ``((x - lo) * 256.0) / (hi - lo)``, so both
    engines land every boundary case on the same code.

    Returns (key, codes array<int>).  Scale shape: a pure per-row JVM
    projection over the scan — no shuffle, no Python.
    """
    lo_a = F.array(*[F.lit(float(x)) for x in lo])
    # span baked per-dim; hi==lo dims get span 0 -> code 0 below
    span_a = F.array(*[F.lit(float(h) - float(l)) for h, l in zip(hi, lo)])
    v = _to_double(F.col(vec_col))
    diff = F.zip_with(v, lo_a, lambda x, l: x - l)
    codes = F.zip_with(
        diff, span_a,
        lambda d, s: F.when(s == 0.0, F.lit(0)).otherwise(
            F.least(
                F.greatest(
                    F.floor((d * F.lit(256.0)) / s), F.lit(0).cast("long")
                ),
                F.lit(255).cast("long"),
            )
        ).cast("int"),
    )
    return df.select(F.col(key), codes.alias("codes"))


def sq8_topk(codes: DataFrame, lo: list[float], hi: list[float],
             query: list[float], k: int = 5,
             key: str = "vec_id") -> DataFrame:
    """Asymmetric top-k over SQ8 codes: each code dequantizes to its
    bin center ``lo_i + (code_i + 0.5) * (hi_i - lo_i) / 256`` (the
    /256 is a power-of-two division, exact in binary, so every engine
    reconstructs identical doubles) and is scored by squared L2 to the
    full-precision query — approximate distances ascending, ties to
    the smallest key, the :func:`pq_adc_topk` contract at 1 byte/dim.

    Scale shape: per-row dequantize + fold (JVM, no shuffle) into a
    TakeOrdered top-k — no global sort materializes.
    """
    lo_a = F.array(*[F.lit(float(x)) for x in lo])
    scale_a = F.array(
        *[F.lit((float(h) - float(l)) / 256.0) for h, l in zip(hi, lo)]
    )
    q = F.array(*[F.lit(float(x)) for x in query])
    centered = F.zip_with(
        F.transform(F.col("codes"), lambda c: c.cast("double")),
        scale_a,
        lambda c, s: (c + F.lit(0.5)) * s,
    )
    xhat = F.zip_with(centered, lo_a, lambda c, l: l + c)
    return (
        codes.select(
            F.col(key), F.round(_l2sq(xhat, q), 6).alias("adist")
        )
        .orderBy(F.col("adist"), F.col(key))
        .limit(k)
    )


def pq_codebook_from_rows(df: DataFrame, ids: list[int], m: int = 4,
                          key: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Deterministic product-quantization codebook (Jégou et al.
    TPAMI'11): split the d-dim space into ``m`` subspaces and take the
    subvectors of fixed row ids as the per-subspace code centroids —
    the same oracle-reproducible stand-in for a trained codebook that
    :func:`centroids_from_rows` uses for IVF (a per-subspace k-means
    would slot in here on a real corpus; every downstream op is
    unchanged).  Returns (j, code, subcentroid) — m × len(ids) rows,
    always broadcast-sized.

    d must be divisible by ``m``: the slices cover j·(d/m)+1 .. m·(d/m),
    so trailing d % m dimensions would be silently excluded from the
    codebook and every downstream distance."""
    d_over_m = F.floor(F.size(F.col(vec_col)) / m).cast("int")
    v = _to_double(F.col(vec_col))
    rows = df.filter(F.col(key).isin(ids)).select(
        F.col(key).cast("int").alias("code"), v.alias("v"),
        d_over_m.alias("sub"),
    )
    return rows.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.struct(
                    j.cast("int").alias("j"),
                    F.slice(
                        F.col("v"), j * F.col("sub") + 1, F.col("sub")
                    ).alias("subcentroid"),
                ),
            )
        ).alias("e"),
        F.col("code"),
    ).select(F.col("e.j").alias("j"), "code", F.col("e.subcentroid").alias("subcentroid"))


def pq_encode(df: DataFrame, codebook: DataFrame, m: int = 4,
              key: str = "vec_id", vec_col: str = "embedding",
              sub: int | None = None) -> DataFrame:
    """PQ-encode every vector: nearest codebook entry per subspace by
    squared L2 (rounded to 6 decimals; ties to the smallest code — the
    determinism contract every oracle-checked argmin here uses).

    Returns the LONG form (key, j, code) — m rows per vector, the shape
    ADC consumes directly.  Scale: one explode (×m), a broadcast join
    against the m×k codebook, and one min-struct argmin groupBy — all
    map-side combinable, no window over the corpus, no Python.

    d must be divisible by ``m`` (trailing d % m dimensions would be
    silently excluded from every distance).  Pass ``sub`` (= d/m) when
    known to skip the codebook .first() probe — that probe is a Spark
    job, and when the codebook itself derives from a corpus-sized
    frame (IVF-PQ residuals) it would re-run that lineage."""
    if sub is None:
        sub = codebook.select(F.size("subcentroid").alias("s")).first()["s"]
    vecs = df.select(
        F.col(key),
        F.explode(_subvectors(_to_double(F.col(vec_col)), m, sub)).alias("e"),
    ).select(key, F.col("e.j").alias("j"), F.col("e.sub").alias("sub"))
    scored = vecs.join(F.broadcast(codebook), "j").withColumn(
        "dist", F.round(_l2sq(F.col("sub"), F.col("subcentroid")), 6)
    )
    return (
        scored.groupBy(key, "j")
        .agg(F.min(F.struct("dist", "code")).alias("best"))
        .select(key, "j", F.col("best.code").alias("code"),
                F.col("best.dist").alias("dist"))
    )


def pq_adc_topk(codes: DataFrame, codebook: DataFrame, query: list[float],
                k: int = 5, m: int = 4, key: str = "vec_id",
                sub: int | None = None) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query is split into
    subvectors, its distance to every codebook entry forms the m×k ADC
    lookup table (a tiny Spark job, broadcast), and each encoded vector
    is scored as the sum of its m table entries — the memory-scale ANN
    path where the corpus is 1 byte/subspace instead of 4·d bytes.
    Approximate distances ascending, ties to the smallest key."""
    q = F.array(*[F.lit(float(x)) for x in query])
    if sub is None:
        sub = len(query) // m
    dtable = codebook.select(
        "j", "code",
        F.round(
            _l2sq(
                F.slice(q, F.col("j") * sub + 1, sub),
                F.col("subcentroid"),
            ),
            6,
        ).alias("dj"),
    )
    scored = (
        codes.join(F.broadcast(dtable), ["j", "code"])
        .groupBy(key)
        .agg(F.round(F.sum("dj"), 6).alias("adist"))
    )
    return scored.orderBy(F.col("adist"), F.col(key)).limit(k)


def pq_codebook_refine(df: DataFrame, codebook: DataFrame, m: int = 4,
                       key: str = "vec_id", vec_col: str = "embedding",
                       rounds: int = 1) -> DataFrame:
    """Lloyd refinement of a PQ codebook, one round = per-subspace
    k-means step: every code's subcentroid moves to the mean of its
    assigned subvectors (codes with no members keep their entry).
    Means are rounded to 6 decimals so the refined codebook is
    reproducible by an order-independent SQL oracle (distributed
    double sums differ from a serial engine in the last ulp).

    Scale shape per round (same as :func:`kmeans_fit`): one encode
    pass, one explode to (j, code, dim, value) with map-side partial
    aggregation — the shuffle carries ≤ m×k×(d/m) rows per upstream
    partition, never the data; the refined m×k table is
    localCheckpoint'ed so multi-round plans stay shallow, and the input
    is persisted for the loop (same convention as :func:`kmeans_fit` —
    each round scans it twice)."""
    sub = codebook.select(F.size("subcentroid").alias("s")).first()["s"]
    df = df.persist()
    try:
        for _ in range(rounds):
            codebook = _pq_refine_round(
                df, codebook, m, key, vec_col, sub
            )
        return codebook
    finally:
        df.unpersist()


def _pq_refine_round(df: DataFrame, codebook: DataFrame, m: int, key: str,
                     vec_col: str, sub: int) -> DataFrame:
    codes = pq_encode(df, codebook, m, key, vec_col, sub=sub).select(
        key, "j", "code"
    )
    sv = df.select(
        F.col(key),
        F.explode(
            _subvectors(_to_double(F.col(vec_col)), m, sub)
        ).alias("e"),
    ).select(key, F.col("e.j").alias("j"), F.col("e.sub").alias("sub"))
    means = (
        codes.join(sv, [key, "j"])
        .select("j", "code", F.posexplode("sub").alias("dim", "val"))
        .groupBy("j", "code", "dim")
        .agg((F.sum("val") / F.count("*")).alias("mean"))
        .groupBy("j", "code")
        .agg(
            F.array_sort(F.collect_list(F.struct("dim", "mean"))).alias("dm")
        )
        .select(
            "j", "code",
            F.transform(
                F.col("dm"), lambda x: F.round(x["mean"], 6)
            ).alias("subcentroid"),
        )
    )
    return (
        codebook.alias("old")
        .join(means.alias("new"), ["j", "code"], "left")
        .select(
            "j", "code",
            F.coalesce(
                F.col("new.subcentroid"), F.col("old.subcentroid")
            ).alias("subcentroid"),
        )
        .localCheckpoint()
    )


def with_residuals(df: DataFrame, centroids: DataFrame,
                   key: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """(key, cell, resid): each vector's max-cosine cell and its
    residual v − centroid[cell] — the encoding target of IVF-PQ (the
    residual distribution is far tighter than the raw vectors, so the
    same codebook budget quantizes it with much less error, Jégou et
    al. TPAMI'11 §III).  Centroids broadcast twice (assign + subtract);
    the vectors never shuffle."""
    assigned = ivf_assign(df, centroids, key, vec_col)
    v = _to_double(F.col(vec_col))
    return (
        df.select(F.col(key), v.alias("v"))
        .join(assigned.select(key, "cell"), key)
        .join(F.broadcast(centroids), "cell")
        .select(
            key, "cell",
            F.zip_with("v", "centroid", lambda x, y: x - y).alias("resid"),
        )
    )


def ivfpq_topk(df: DataFrame, centroids: DataFrame, codebook_ids: list[int],
               query: list[float], k: int = 5, n_probe: int = 2, m: int = 4,
               key: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF-PQ search — the canonical billion-vector ANN composition
    (FAISS IndexIVFPQ): coarse quantizer = the IVF cells, fine
    quantizer = PQ over the RESIDUALS, query scoring = per-probed-cell
    asymmetric-distance tables over (query − centroid[cell]).

    Memory story at scale: each vector stores (cell, m codes) ≈ m+1
    bytes instead of 4·d — the index for 10⁹ 64-dim vectors fits in
    ~5 GB.  Execution story: the dtable is n_probe × m × k rows
    (tiny, broadcast), candidates = only the probed cells' codes, the
    per-vector sum is map-side combined, and the top-k is
    TakeOrderedAndProject.  Recall story: ``ivfpq_recall`` closes the
    evaluation loop against the exact scan, same as ``ivf_recall``.

    The residual codebook comes from fixed row ids
    (:func:`pq_codebook_from_rows` on the residual frame) so the whole
    index is reproducible by an external SQL oracle; a per-subspace
    k-means drops in unchanged on a real corpus.

    The residual frame is localCheckpoint'ed ONCE: it feeds the
    codebook, the encode, and the cell lookup — without the checkpoint
    each branch would re-run the full assignment scan (crossJoin +
    window over every vector), turning one pass into ~five.  On a real
    deployment this materialization IS the index build
    (:func:`ivf_index_write` is the durable variant).
    """
    sub = len(query) // m
    res = with_residuals(df, centroids, key, vec_col).localCheckpoint()
    codebook = pq_codebook_from_rows(
        res, codebook_ids, m=m, key=key, vec_col="resid"
    )
    codes = pq_encode(
        res, codebook, m=m, key=key, vec_col="resid", sub=sub
    ).join(res.select(key, "cell"), key)

    probed = _probe_cells(centroids, query, n_probe)
    q = F.array(*[F.lit(float(x)) for x in query])
    # per-cell ADC tables: distances from (q - centroid[cell]) subvectors
    # to every residual-codebook entry — n_probe x m x k rows, broadcast
    dtable = (
        centroids.filter(F.col("cell").isin(probed))
        .crossJoin(codebook)
        .select(
            "cell", "j", "code",
            F.round(
                _l2sq(
                    F.slice(
                        F.zip_with(q, F.col("centroid"), lambda x, y: x - y),
                        F.col("j") * sub + 1, sub,
                    ),
                    F.col("subcentroid"),
                ),
                6,
            ).alias("dj"),
        )
    )
    scored = (
        codes.join(F.broadcast(dtable), ["cell", "j", "code"])
        .groupBy(key)
        .agg(F.round(F.sum("dj"), 6).alias("adist"))
    )
    return scored.orderBy(F.col("adist"), F.col(key)).limit(k)


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 5,
    key: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Trained IVF centroids: distributed Lloyd's k-means on the unit
    sphere (spherical k-means — assignments by cosine, centroids
    re-normalized each round).

    Scale shape per iteration: one broadcast of the k×d centroid table,
    one max-cosine assignment (window over k candidates per row), one
    explode to (cell, dim, value) with MAP-SIDE partial aggregation — the
    shuffle carries at most k×d rows per upstream partition, never the
    data.  Deterministic: seeded from the first k rows by key, ties break
    to the smallest cell id, per-dimension sums are Spark partial-agg
    (integer counts + double sums whose grouping is exact).
    """
    # the data is scanned once per round (assignment) plus once for the
    # per-dimension sums; cache it for the loop, and localCheckpoint the
    # (tiny, k x d) centroid table each round so the returned plan is a
    # materialized table instead of an iters-deep join DAG that would
    # re-derive every round lazily
    df = df.persist()
    try:
        cents = centroids_from_rows(df, list(range(k)), key=key, vec_col=vec_col)
        cents = cents.localCheckpoint()
        for _ in range(iters):
            assigned = ivf_assign(df, cents, key=key, vec_col=vec_col)
            joined = df.join(assigned.select(key, "cell"), on=key)
            exploded = joined.select(
                "cell", F.posexplode(_to_double(F.col(vec_col))).alias("dim", "val")
            )
            sums = exploded.groupBy("cell", "dim").agg(
                F.sum("val").alias("s"), F.count("*").alias("n")
            )
            new_cents = (
                sums.withColumn("mean", F.col("s") / F.col("n"))
                .groupBy("cell")
                .agg(F.array_sort(F.collect_list(F.struct("dim", "mean"))).alias("dm"))
                .select(
                    "cell",
                    F.transform(F.col("dm"), lambda x: x["mean"]).alias("centroid"),
                )
            )
            # L2-normalize (spherical k-means keeps cosine semantics exact)
            norm = F.sqrt(
                F.aggregate(F.col("centroid"), F.lit(0.0), lambda a, x: a + x * x)
            )
            cents = new_cents.select(
                "cell",
                F.transform(F.col("centroid"), lambda x: x / norm).alias("centroid"),
            ).localCheckpoint()
        return cents
    finally:
        df.unpersist()


def embedding_decontam(
    df: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.9,
    key: str = "vec_id",
    vec_col: str = "embedding",
    eval_key: str | None = None,
    eval_vec_col: str | None = None,
    out: str = "contaminated",
) -> DataFrame:
    """Embedding-space eval-set decontamination: flag corpus rows whose
    max cosine similarity to ANY eval-set embedding reaches
    ``threshold`` — the semantic complement of the n-gram
    decontamination in :mod:`~gbdc_spark.operators.quality`, catching
    paraphrased benchmark leakage that exact-gram overlap misses.

    Returns ``df``'s columns plus ``max_eval_cosine`` (round-6),
    ``nearest_eval_id`` (the closest eval row's key, ties to the
    smallest id — the audit trail: which benchmark item leaked), and
    boolean ``out``.  Flag, don't drop.  An EMPTY eval set yields NULL
    cosine/id and ``out`` = false.

    Scale shape: the eval set is collapsed to ONE row of (id, vector)
    structs and broadcast-cross-joined to the corpus — eval sets are
    benchmark-sized (10²-10⁴ rows) by definition, the same bound the
    gram-based decontamination relies on.  The per-row max is a JVM
    array fold over that broadcast list (the corpus never shuffles,
    never crosses into Python); the corpus vector is bound once so the
    fold doesn't re-cast it per eval element.
    """
    from ..functions import bind_once as _bind

    ek = eval_key or key
    ev = eval_df.agg(
        F.collect_list(
            F.struct(
                F.col(ek).alias("id"),
                _to_double(F.col(eval_vec_col or vec_col)).alias("v"),
            )
        ).alias("_eval")
    )
    best = _bind(
        _to_double(F.col(vec_col)),
        lambda vv: F.array_max(
            F.transform(
                F.col("_eval"),
                lambda e: F.struct(
                    cosine_similarity(vv, e["v"]).alias("c"),
                    (-e["id"]).alias("ni"),
                ),
            )
        ),
    )
    return (
        df.crossJoin(F.broadcast(ev))
        .withColumn("_m", best)
        .select(
            *df.columns,
            F.col("_m.c").alias("max_eval_cosine"),
            (-F.col("_m.ni")).alias("nearest_eval_id"),
            F.coalesce(
                F.col("_m.c") >= F.lit(float(threshold)), F.lit(False)
            ).alias(out),
        )
    )


# --------------------------------------------------------------------------
# Distributed second-moment statistics + PCA over the embedding column.
#
# The corpus-scale work is ONE augmented-Gram pass: append a constant
# 1.0 slot to each vector and accumulate the upper triangle of
# sum(x'_i * x'_j).  The (i, aug) entries are then the per-dimension
# sums and the (aug, aug) entry is the row count, so mean AND
# covariance fall out of a single map-side-combined aggregate into
# (d+1)(d+2)/2 groups — no second scan for the means, no driver-side
# data.  Everything after that Gram table is O(d²) arithmetic
# (eigendecomposition is on the d×d matrix, never on rows), which is
# why PCA over 10^12 embeddings is exactly one shuffle of d² cells.
# Whitening / PCA features over document embeddings are what
# SemDeDup-style pipelines (Abbas et al., 2023) project with before
# cosine clustering.


def _aug_gram(df: DataFrame, dim: int, vec_col: str = "embedding") -> DataFrame:
    """Upper-triangle Gram table (i, j, s) of the 1.0-augmented vectors,
    0-based, i <= j <= dim; index ``dim`` is the constant slot."""
    from ..functions import bind_once as _bind

    pairs = _bind(
        F.concat(_to_double(F.col(vec_col)), F.array(F.lit(1.0))),
        lambda vv: F.flatten(
            F.transform(
                F.sequence(F.lit(0), F.lit(dim)),
                lambda i: F.transform(
                    F.sequence(i, F.lit(dim)),
                    lambda j: F.struct(
                        i.cast("int").alias("i"),
                        j.cast("int").alias("j"),
                        (
                            F.element_at(vv, i + 1) * F.element_at(vv, j + 1)
                        ).alias("p"),
                    ),
                ),
            )
        ),
    )
    return (
        df.select(F.explode(pairs).alias("c"))
        .select("c.i", "c.j", "c.p")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("s"))
    )


def _probe_dim(df: DataFrame, vec_col: str) -> int:
    first = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is None:
        raise ValueError("embedding_covariance: empty input")
    return int(first["d"])


def embedding_covariance(df: DataFrame, dim: int | None = None,
                         vec_col: str = "embedding",
                         decimals: int = 6) -> DataFrame:
    """Population covariance matrix of the embedding column as (i, j,
    cov) rows, 0-based upper triangle (i <= j < d), round-``decimals``.

    cov_ij = s_ij/n − (s_i/n)(s_j/n) with every s taken from the SAME
    single-pass augmented-Gram aggregate (module comment above):
    s_i = gram[i, d], n = gram[d, d].

    ``dim`` probes the first row when omitted — pass it explicitly on
    derived inputs (the same bounded-probe contract as
    ``embedding_near_dups``'s auto sizing).

    Scale shape: one explode to (d+1)(d+2)/2 cells per row, one
    map-side-combined sum into that many GROUPS total (d=1024 → ~526k
    groups — a few MB regardless of corpus size), then broadcast
    self-joins among those tiny tables.  Nothing else touches the
    corpus; no Python workers.
    """
    d = dim if dim is not None else _probe_dim(df, vec_col)
    gram = _aug_gram(df, d, vec_col)
    n = gram.filter((F.col("i") == d) & (F.col("j") == d)).select(
        F.col("s").alias("n")
    )
    means = gram.filter((F.col("j") == d) & (F.col("i") < d)).select(
        F.col("i").alias("mi"), F.col("s").alias("ms")
    )
    return (
        gram.filter(F.col("j") < d)
        .crossJoin(F.broadcast(n))
        .join(F.broadcast(means), F.col("i") == F.col("mi"))
        .drop("mi")
        .withColumnRenamed("ms", "ms_i")
        .join(F.broadcast(means), F.col("j") == F.col("mi"))
        .select(
            "i",
            "j",
            F.round(
                F.col("s") / F.col("n")
                - (F.col("ms_i") / F.col("n")) * (F.col("ms") / F.col("n")),
                decimals,
            ).alias("cov"),
        )
        .orderBy("i", "j")
    )


def _fix_sign(V):
    """Deterministic eigenvector sign convention shared by the Spark fit
    and any external oracle: the largest-|coordinate| entry of each
    vector (smallest index on ties) is made positive."""
    import numpy as np

    for k in range(V.shape[1]):
        idx = int(np.argmax(np.abs(V[:, k])))
        if V[idx, k] < 0:
            V[:, k] = -V[:, k]
    return V


def pca_fit(df: DataFrame, dim: int | None = None, k: int = 4,
            vec_col: str = "embedding") -> dict:
    """Fit a PCA basis over the embedding column.  Returns
    ``{"mean": [d floats], "eigvals": [k floats, descending],
    "components": [k lists of d floats]}``.

    The distributed work is the one augmented-Gram pass of
    :func:`embedding_covariance`; what crosses to the driver is the
    (d+1)(d+2)/2 Gram CELLS (bounded by the dimension, never by the
    corpus), and ``numpy.linalg.eigh`` runs on the d×d covariance —
    driver-side linear algebra on a matrix whose size is a model
    property, the standard big-data PCA split.  Component signs follow
    :func:`_fix_sign` so independently-computed bases agree exactly.
    """
    import numpy as np

    d = dim if dim is not None else _probe_dim(df, vec_col)
    rows = _aug_gram(df, d, vec_col).collect()
    G = np.zeros((d + 1, d + 1))
    for r in rows:
        G[r["i"], r["j"]] = r["s"]
        G[r["j"], r["i"]] = r["s"]
    n = G[d, d]
    mean = G[:d, d] / n
    cov = G[:d, :d] / n - np.outer(mean, mean)
    w, V = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:k]
    V = _fix_sign(V[:, order])
    return {
        "mean": [float(x) for x in mean],
        "eigvals": [float(w[i]) for i in order],
        "components": [[float(x) for x in V[:, c]] for c in range(V.shape[1])],
    }


def pca_project(df: DataFrame, mean: list, components: list,
                key: str = "vec_id", vec_col: str = "embedding",
                decimals: int = 4,
                eigvals: list | None = None) -> DataFrame:
    """Project each vector onto a fitted PCA basis: pc_k = (v − μ)·w_k.
    Returns (key, pc1..pcK), round-``decimals``.

    Passing the fit's ``eigvals`` WHITENS the projection (divide each
    score by sqrt(λ_k), giving unit variance per component) — the
    preprocessing that makes cosine/L2 over the projected space treat
    every retained direction equally (SemDeDup-style semantic dedup
    over anisotropic embedding spaces).  The scaling folds into the
    basis literals at plan-build time, so the runtime plan is identical.

    Scale shape: the basis is k·d literals compiled into the plan; the
    projection is a JVM zip_with/aggregate fold per row — map-only, no
    shuffle, no Python, whole-stage codegen.
    """
    import math

    from ..functions import bind_once as _bind

    if eigvals is not None:
        if len(eigvals) != len(components):
            raise ValueError("eigvals must match components 1:1")
        components = [
            [x / math.sqrt(ev) for x in comp]
            for comp, ev in zip(components, eigvals)
        ]
    mu = F.array(*[F.lit(float(m)) for m in mean])
    cen = _bind(
        F.zip_with(_to_double(F.col(vec_col)), mu, lambda x, m: x - m),
        lambda c: F.struct(
            *[
                F.round(
                    _dot(c, F.array(*[F.lit(float(x)) for x in comp])),
                    decimals,
                ).alias(f"pc{i + 1}")
                for i, comp in enumerate(components)
            ]
        ),
    )
    proj = df.select(F.col(key), cen.alias("_p"))
    return proj.select(key, *[f"_p.pc{i + 1}" for i in range(len(components))])


def cell_prototypes(
    df: DataFrame,
    centroids: DataFrame,
    k: int,
    mode: str = "central",
    key: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Cluster-stratified selection: keep the ``k`` most central
    (``mode='central'``) or most peripheral (``mode='edge'``) vectors
    of every IVF cell — the per-cluster quota step of a
    diversity-preserving curation pass (SemDeDup-style pipelines keep
    prototypes per semantic cluster instead of a global top-k, so no
    region of embedding space is wiped out by a dominant cluster;
    ``edge`` keeps boundary/outlier examples for hard-negative
    mining).

    Ranks on the ROUNDED cell cosine (``decimals``, ties by ``key``) so
    the order is stable across engines and summation orders — the same
    quantized-ordering contract as the IVF oracles.  Returns
    (key, cell, cell_cosine rounded, proto_rank).

    Scale: one :func:`ivf_assign` pass (centroid broadcast, map-side)
    plus a rank window per cell — cells are the parallelism unit, and
    the output is ≤ ``k`` rows per cell.
    """
    if mode not in ("central", "edge"):
        raise ValueError("mode must be 'central' or 'edge'")
    assigned = ivf_assign(df, centroids, key=key, vec_col=vec_col)
    r = F.round(F.col("cell_cosine"), decimals)
    order = [r.desc() if mode == "central" else r.asc(), F.col(key)]
    w = Window.partitionBy("cell").orderBy(*order)
    return (
        assigned.withColumn("proto_rank", F.row_number().over(w))
        .filter(F.col("proto_rank") <= k)
        .select(
            key, "cell", r.alias("cell_cosine"),
            F.col("proto_rank").cast("long").alias("proto_rank"),
        )
    )


def hard_negatives(
    df: DataFrame,
    centroids: DataFrame,
    k: int,
    lo: float = 0.5,
    hi: float = 0.95,
    n_probe: int = 2,
    key: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Semi-hard negative mining for contrastive training: for every
    anchor, the ``k`` most similar OTHER vectors whose cosine lies in
    [``lo``, ``hi``) — similar enough to be informative negatives,
    below the near-duplicate band where a "negative" is really a
    positive (the standard semi-hard criterion).  Candidates come from
    shared :func:`ivf_multiprobe_assign` cells (``n_probe`` probes per
    side, so boundary pairs meet in their overlap), ranked on the
    ROUNDED cosine with ``key`` ties — the IVF oracles'
    quantized-ordering contract, so any engine reproduces the exact
    row set.

    Returns (key, neg_id, cosine rounded, neg_rank), ≤ ``k`` rows per
    anchor.  Like every IVF candidate generator here, recall is
    bounded by the probe overlap — raise ``n_probe`` for recall, at
    linear candidate cost.

    Scale: centroid broadcast for both assign passes, one equi-join on
    cell (candidates only within cells, never all-pairs), a distinct
    over (anchor, candidate) bounded by probe overlap, and a per-anchor
    rank window over ≤ cell-sized candidate lists.  Like
    :func:`~gbdc_spark.operators.dedup.semantic_dedup`, the candidate
    cost is Σ_cells (n_probe × cell_size)² and a cell is one join
    partition — grow the centroid count ∝ corpus size (cells of
    roughly constant size) or the per-cell quadratic dominates; a
    fixed-8-cell config is for small-corpus oracle checks only.
    """
    a = ivf_multiprobe_assign(
        df, centroids, n_probe=n_probe, key=key, vec_col=vec_col
    ).select(F.col(key).alias("_qid"), "cell")
    b = ivf_multiprobe_assign(
        df, centroids, n_probe=n_probe, key=key, vec_col=vec_col
    ).select(F.col(key).alias("_nid"), "cell")
    pairs = (
        a.join(b, "cell")
        .filter(F.col("_qid") != F.col("_nid"))
        .select("_qid", "_nid")
        .distinct()
    )
    vecs = df.select(F.col(key), _to_double(F.col(vec_col)).alias("_v"))
    scored = (
        pairs.join(vecs.select(F.col(key).alias("_qid"),
                               F.col("_v").alias("_vq")), "_qid")
        .join(vecs.select(F.col(key).alias("_nid"),
                          F.col("_v").alias("_vn")), "_nid")
        .withColumn(
            "cosine", F.round(cosine_similarity(F.col("_vq"), F.col("_vn")),
                              decimals)
        )
        .filter((F.col("cosine") >= lo) & (F.col("cosine") < hi))
    )
    w = Window.partitionBy("_qid").orderBy(F.desc("cosine"), F.col("_nid"))
    return (
        scored.withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("neg_rank") <= k)
        .select(
            F.col("_qid").alias(key), F.col("_nid").alias("neg_id"),
            "cosine", "neg_rank",
        )
    )
