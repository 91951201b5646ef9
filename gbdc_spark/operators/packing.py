"""Sequence packing + deterministic sampling — training-batch layout
operators for an LLM data pipeline.

``pack_next_fit`` assigns docs to fixed-token-budget packs (context
windows): within each group, docs are scanned in a deterministic order
and a pack closes when the next doc would overflow ``max_tokens`` —
the classic next-fit bin packing used to lay out pre-tokenized corpora
into training rows.  Packing is inherently sequential WITHIN a group
(each decision depends on the running fill), so the unit of
distribution is the group: pass ``by`` columns that bound group size
(source, date partition, shard) and groups pack in parallel via
``applyInPandas`` — the standard shape for order-dependent per-key
scans at warehouse scale.

``stratified_sample`` keeps a deterministic per-stratum fraction of
rows using an md5-derived uniform on the key — reproducible in any
engine with md5 (which is how the DuckDB oracle verifies it), stable
under re-runs and across parallelism, no RNG state.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "pack_next_fit",
    "pack_next_fit_scalable",
    "pack_next_fit_auto",
    "stratified_sample",
    "weighted_sample",
    "dataset_split",
    "cluster_split",
    "label_balance",
    "epoch_shuffle",
    "length_batches",
    "padding_stats",
    "budget_select",
    "interleave_sources",
    "balanced_shards",
    "padding_sweep",
    "chunk_sequences",
    "pack_concat_chunks",
    "sft_mask",
]


def pack_next_fit(
    df: DataFrame,
    max_tokens: int,
    size_col: str = "n_tok",
    by: str | Iterable[str] = "source",
    order: str | Iterable[str] = "doc_id",
    pack_out: str = "pack_id",
    fill_out: str = "pack_fill",
) -> DataFrame:
    """Next-fit packing: per ``by`` group, docs in ``order`` accumulate
    into the current pack until adding one would exceed ``max_tokens``,
    which starts the next pack.  A doc larger than ``max_tokens`` gets a
    pack of its own (callers split oversized docs upstream if that
    matters).  Adds ``pack_id`` (0-based per group) and ``pack_fill``
    (running fill AFTER the doc).
    """
    from pyspark.sql import types as T

    by_cols = [by] if isinstance(by, str) else list(by)
    order_cols = [order] if isinstance(order, str) else list(order)
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(pack_out, T.LongType()), T.StructField(fill_out, T.LongType())]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort").reset_index(drop=True)
        sizes = pdf[size_col].to_numpy(dtype=np.int64)
        packs, fills, _, _ = _next_fit_state(sizes, max_tokens)
        pdf[pack_out] = packs
        pdf[fill_out] = fills
        return pdf

    return df.groupBy(*by_cols).applyInPandas(pack, schema=out_schema)


def _next_fit_state(sizes: np.ndarray, max_tokens: int,
                    pack_id: int = 0, fill: int = 0):
    """The next-fit scan loop, resumable: packs ``sizes`` in order
    starting from an OPEN pack ``pack_id`` holding ``fill`` tokens.
    Returns (per-row pack ids, per-row running fills, final open pack
    id, final fill) — with (0, 0) this is exactly ``pack_next_fit``'s
    inner loop."""
    packs = np.zeros(len(sizes), dtype=np.int64)
    fills = np.zeros(len(sizes), dtype=np.int64)
    for i, s in enumerate(sizes):
        if fill > 0 and fill + s > max_tokens:
            pack_id += 1
            fill = 0
        fill += int(s)
        packs[i] = pack_id
        fills[i] = fill
    return packs, fills, pack_id, fill


def pack_next_fit_scalable(
    df: DataFrame,
    max_tokens: int,
    size_col: str = "n_tok",
    by: str | Iterable[str] = "source",
    order: str | Iterable[str] = "doc_id",
    pack_out: str = "pack_id",
    fill_out: str = "pack_fill",
    chunk_col: str | None = None,
    chunk_prefix: int = 4,
    chunk_width: int | None = None,
    persist: bool = True,
) -> DataFrame:
    """``pack_next_fit`` without the whole-group pandas frame — the
    two-phase chunked shape of ``temporal.with_temporal_bundle_scalable``,
    bit-identical output (tested property).

    ``pack_next_fit`` materializes each ``by`` group in ONE task; with
    ``by="source"`` and a handful of sources, a 100-TB corpus is an OOM
    first and a straggler second.  Next-fit's cross-row state is only
    the open pack's ``(pack_id, fill)``, so the scan decomposes:

    1. rows split into order-respecting chunks (prefix of the first
       ``order`` column for strings, ``floor(col/chunk_width)`` for
       numerics, or an explicit ``chunk_col``) — a heavy group spreads
       over many bounded (group, chunk) tasks;
    2. one ``applyInPandas`` per (group, chunk) emits a SUMMARY row:
       leading cumulative sizes up to the token budget (only rows a
       carry-in could absorb — bounded by ``max_tokens``, not chunk
       rows) plus, for each restart position in that prefix, the pack
       count and final fill of a fresh next-fit run from there to the
       chunk end (all restart runs in one O(rows) backward sweep over
       next-break pointers: break(b) ⇔ the open pack is non-empty AND
       cum(b) overflows — the non-empty guard matters for zero-size
       docs);
    3. a per-group sequential scan over the TINY summary table (one
       row per chunk) threads ``(pack_id, fill)`` through the chunks:
       absorb leading rows into the carried pack while they fit, then
       look up the restart-run result — never touching row data;
    4. the per-chunk entry states join back (plain equi-join) and each
       (group, chunk) re-runs the plain loop seeded with its state.

    Wall-clock and memory are bounded by the heaviest (group, chunk) +
    a per-group summary scan of n_chunks × O(max_tokens/min_doc) ints,
    vs the heaviest GROUP before.  Keep ``pack_next_fit`` for groups
    known to be small — one stage, no join.
    """
    from pyspark.sql import types as T

    by_cols = [by] if isinstance(by, str) else list(by)
    order_cols = [order] if isinstance(order, str) else list(order)

    # ---- order-respecting chunk key: every row of chunk c precedes
    # every row of chunk c+1 under the group's sort order
    if chunk_col is not None:
        d = df.withColumn("_pchunk", F.col(chunk_col))
    else:
        first = order_cols[0]
        dtype = dict(df.dtypes)[first]
        if dtype == "string":
            d = df.withColumn("_pchunk", F.substring(F.col(first), 1, chunk_prefix))
        elif chunk_width is not None:
            if chunk_width <= 0:
                # a negative width would ORDER-INVERT the chunk ids (the
                # carry scan would thread state through chunks backward,
                # silently wrong); zero divides to null
                raise ValueError("chunk_width must be > 0")
            # stays LONG: stringifying would sort "10" before "2" in the
            # carry scan while Spark ordered the rows numerically
            d = df.withColumn(
                "_pchunk",
                F.floor(F.col(first).cast("double") / F.lit(float(chunk_width)))
                .cast("long"),
            )
        else:
            raise ValueError(
                f"order column {first!r} is {dtype}; pass chunk_width or chunk_col"
            )
    if persist:
        # summary + re-pack both read d (pitfall #4); slot-bounded so a
        # bench loop / long session never accumulates corpus-sized
        # caches.  keep=2 tolerates the common composition of TWO
        # lazy pack results (union, join) before materializing; deeper
        # interleavings pass persist=False and cache the input
        # themselves (retiring an unconsumed cache is merely slow for
        # deterministic lineage, but a branch-divergence hazard on
        # nondeterministic upstreams)
        from ..functions import persist_slot

        d = persist_slot(d, slot="pack_next_fit_scalable_input", keep=2)

    by_fields = [d.schema[c] for c in by_cols]
    chunk_field = d.schema["_pchunk"]
    summary_schema = T.StructType(
        by_fields
        + [
            chunk_field,
            T.StructField("_cums", T.ArrayType(T.LongType())),
            T.StructField("_npacks", T.ArrayType(T.LongType())),
            T.StructField("_fills", T.ArrayType(T.LongType())),
            T.StructField("_m", T.LongType()),
            T.StructField("_total", T.LongType()),
        ]
    )

    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        sizes = pdf[size_col].to_numpy(dtype=np.int64)
        m = len(sizes)
        S = np.cumsum(sizes)  # S[i-1] = sum of first i sizes
        # restart-run results from every position (1-based j), O(m):
        # nxt(j) = first break of a fresh run at j = first b >= j+1 with
        # cum(j..b) > max_tokens AND cum(j..b-1) > 0 (zero-size guard)
        S0 = np.concatenate(([0], S))
        # first b with cum(j..b) > max_tokens (searchsorted over S0
        # already yields the 1-based row index b)
        over = np.searchsorted(S0, S0[:m] + max_tokens, side="right")
        # first b whose pack is non-empty when b arrives: S_{b-1} > S_{j-1}
        nonempty = np.searchsorted(S0, S0[:m], side="right") + 1
        nxt = np.maximum(over, nonempty)  # nxt[j-1], 1-based positions
        npacks = np.ones(m + 2, dtype=np.int64)
        fills = np.zeros(m + 2, dtype=np.int64)
        for j in range(m, 0, -1):
            b = nxt[j - 1]
            if b > m:
                npacks[j] = 1
                fills[j] = S0[m] - S0[j - 1]
            else:
                npacks[j] = 1 + npacks[b]
                fills[j] = fills[b]
        # a carry-in (fill > 0) can absorb at most the rows whose
        # cumulative size stays <= max_tokens; +1 for the restart row
        J = int(np.searchsorted(S, max_tokens, side="right"))
        L = min(J + 1, m)
        out = {c: [pdf[c].iloc[0]] for c in by_cols}
        out["_pchunk"] = [pdf["_pchunk"].iloc[0]]
        out["_cums"] = [S[:L].tolist()]
        out["_npacks"] = [npacks[1 : L + 1].tolist()]
        out["_fills"] = [fills[1 : L + 1].tolist()]
        out["_m"] = [m]
        out["_total"] = [int(S0[m])]
        return pd.DataFrame(out)

    summary = d.groupBy(*by_cols, "_pchunk").applyInPandas(
        summarize, schema=summary_schema
    )

    state_schema = T.StructType(
        by_fields
        + [
            chunk_field,
            T.StructField("_in_pack", T.LongType()),
            T.StructField("_in_fill", T.LongType()),
        ]
    )

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_pchunk", kind="mergesort").reset_index(drop=True)
        pack, fill = 0, 0
        in_packs = np.zeros(len(pdf), dtype=np.int64)
        in_fills = np.zeros(len(pdf), dtype=np.int64)
        for i in range(len(pdf)):
            in_packs[i], in_fills[i] = pack, fill
            cums = pdf["_cums"].iloc[i]
            np_from = pdf["_npacks"].iloc[i]
            f_from = pdf["_fills"].iloc[i]
            m, total = int(pdf["_m"].iloc[i]), int(pdf["_total"].iloc[i])
            if fill > 0:
                # absorb while the carried pack still fits
                k = int(np.searchsorted(np.asarray(cums), max_tokens - fill,
                                        side="right"))
                if k >= m:
                    fill += total  # whole chunk joins the carried pack
                    continue
                pack += int(np_from[k])  # restart at j = k+1 (0-based k)
                fill = int(f_from[k])
            else:
                # open pack is empty (group start, or a zero-size tail):
                # the fresh run IS the continuation of pack `pack`
                pack += int(np_from[0]) - 1
                fill = int(f_from[0])
        return pd.DataFrame(
            {
                **{c: pdf[c] for c in by_cols},
                "_pchunk": pdf["_pchunk"],
                "_in_pack": in_packs,
                "_in_fill": in_fills,
            }
        )

    states = summary.groupBy(*by_cols).applyInPandas(scan, schema=state_schema)

    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(pack_out, T.LongType()), T.StructField(fill_out, T.LongType())]
    )
    drop_cols = ["_pchunk", "_in_pack", "_in_fill"]

    def repack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort").reset_index(drop=True)
        sizes = pdf[size_col].to_numpy(dtype=np.int64)
        packs, fills, _, _ = _next_fit_state(
            sizes, max_tokens,
            pack_id=int(pdf["_in_pack"].iloc[0]), fill=int(pdf["_in_fill"].iloc[0]),
        )
        pdf = pdf.drop(columns=drop_cols)
        pdf[pack_out] = packs
        pdf[fill_out] = fills
        return pdf

    # null-safe state join: a null order/by column yields a null chunk
    # key (and Spark's groupBy DOES form null groups), so a plain
    # `on=[cols]` inner join would silently DROP those rows — the one
    # divergence from pack_next_fit a correctness gate can't see on
    # clean test data.  eqNullSafe keeps the equi-join shape.
    import functools
    import operator as _op

    dl, sr = d.alias("dl"), states.alias("sr")
    cond = functools.reduce(
        _op.and_,
        [
            F.col(f"dl.{c}").eqNullSafe(F.col(f"sr.{c}"))
            for c in [*by_cols, "_pchunk"]
        ],
    )
    return (
        dl.join(sr, cond)
        .select("dl.*", F.col("sr._in_pack"), F.col("sr._in_fill"))
        .groupBy(*by_cols, "_pchunk")
        .applyInPandas(repack, schema=out_schema)
    )


def pack_next_fit_auto(
    df: DataFrame,
    max_tokens: int,
    size_col: str = "n_tok",
    by: str | Iterable[str] = "source",
    order: str | Iterable[str] = "doc_id",
    row_threshold: int = 2_000_000,
    pack_out: str = "pack_id",
    fill_out: str = "pack_fill",
    max_group_rows: int | None = None,
    **scalable_kw,
) -> DataFrame:
    """Route between the two identical-output packers by group size:
    the plain single-stage scan below ``row_threshold`` rows in the
    largest ``by`` group (lower constant — measured ~5x faster at 1M
    rows split 4 ways, tools/pack_scale_bench.py), the two-phase
    chunked scan above it (O(chunk) memory, cores-wide parallelism —
    2.6x faster at 6M rows in one group, and the only survivable shape
    at 10^9).  The probe is one map-side-combined count over ``df``'s
    lineage; callers with derived inputs pass ``max_group_rows`` (the
    largest ``by``-group's row count, an upper bound is fine) so the
    router decides without executing the lineage."""
    by_cols = [by] if isinstance(by, str) else list(by)
    if max_group_rows is not None:
        mx = max_group_rows
    else:
        mx = (
            df.groupBy(*by_cols).agg(F.count("*").alias("_c"))
            .agg(F.max("_c").alias("_m")).first()["_m"]
        )
    if mx is None or int(mx) <= row_threshold:
        return pack_next_fit(df, max_tokens, size_col, by, order,
                             pack_out, fill_out)
    return pack_next_fit_scalable(
        df, max_tokens, size_col, by, order, pack_out, fill_out,
        **scalable_kw
    )


def _md5_uniform(key: Column) -> Column:
    """Deterministic uniform in [0, 2^32) from md5(key) — identical in
    any engine with md5 + hex parsing (the oracle contract)."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long")


def _two_phase_ranked(
    df: DataFrame,
    part_col: str,
    key: str,
    salt: str,
    buckets: int,
    rank_col: str,
) -> DataFrame:
    """The shared two-phase sub-bucketed rank device (one
    implementation for :func:`label_balance`, :func:`length_batches`
    and :func:`interleave_sources` — the NULL-join-back lesson lives
    in exactly one place): per ``part_col`` group, the 1-based rank of
    each row in (md5-uniform(``salt``:``key``), ``key``) order,
    WITHOUT a per-group global window.  Rows sub-bucket by the leading
    hex of the SAME md5 the rank orders on (power-of-16 bucket count,
    so sub-bucket order IS the coarse hash order), a tiny per-(group,
    sub-bucket) count aggregate broadcasts cumulative offsets, and
    each sub-bucket ranks independently; ties inside a sub-bucket
    resolve by (uniform, key) — exactly the one-window total order.
    The offset join-back is eqNullSafe on ``part_col`` so NULL-group
    rows survive identically to a NULL window partition.

    Returns ``df``'s columns plus ``rank_col``.
    """
    from pyspark.sql import Window

    prefix = {16: 1, 256: 2, 4096: 3, 65536: 4}.get(buckets)
    if prefix is None:
        raise ValueError("buckets must be one of 16, 256, 4096, 65536")
    h = F.md5(F.concat_ws(":", F.lit(salt), F.col(key).cast("string")))
    u = _md5_uniform(
        F.concat_ws(":", F.lit(salt), F.col(key).cast("string"))
    )
    sub = df.withColumn(
        "_b", F.conv(F.substring(h, 1, prefix), 16, 10).cast("int")
    )
    counts = sub.groupBy(part_col, "_b").agg(F.count("*").alias("_c"))
    wc = Window.partitionBy(part_col).orderBy("_b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_c").over(wc), F.lit(0))
    ).select(
        F.col(part_col).alias("_opart"), F.col("_b").alias("_ob"), "_off"
    )
    wr = Window.partitionBy(part_col, "_b").orderBy(u, F.col(key))
    return (
        sub.join(
            F.broadcast(offsets),
            F.col(part_col).eqNullSafe(F.col("_opart"))
            & (F.col("_b") == F.col("_ob")),
        )
        .withColumn(rank_col, F.col("_off") + F.row_number().over(wr))
        .select(*df.columns, rank_col)
    )


def stratified_sample(
    df: DataFrame,
    fractions: dict,
    strata_col: str = "source",
    key: str = "doc_id",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Keep a deterministic ``fractions[stratum]`` share of each
    stratum: row kept iff md5-uniform(key) < fraction * 2^32.  Pure
    JVM expressions — a filter over the scan, no shuffle, no RNG
    state; exactly reproducible by any md5-capable oracle and stable
    under retries/parallelism (unlike ``df.sample``'s
    partition-dependent Bernoulli stream).
    """
    u = _md5_uniform(F.col(key))
    frac: Column = F.lit(float(default_fraction))
    for stratum, f in sorted(fractions.items()):
        frac = F.when(F.col(strata_col) == F.lit(stratum), F.lit(float(f))).otherwise(frac)
    return df.filter(u < frac * F.lit(float(1 << 32)))


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    key: str = "doc_id",
    by: str | None = None,
    score_out: str = "score",
    salt: str | None = None,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis–Spirakis
    A-ES key (IPL 2006): each row draws a deterministic md5-uniform
    u ∈ (0, 1] from its key and is ranked by ln(u)/w (the log form of
    u^(1/w)); the top-``k`` ranks are an exact weighted sample without
    replacement.  The building block of mixture construction — e.g.
    sampling docs proportional to token count under a corpus budget —
    that stays reproducible across engines, retries, and parallelism
    because there is no RNG stream, only md5.

    Rows with non-positive weight are excluded (the scheme requires
    w > 0).  Scores are rounded to 6 decimals BEFORE ranking and ties
    break on the key, so an external oracle ranks identically.

    Scale: the global form plans as TakeOrderedAndProject — every
    partition keeps its local top-k and only k rows per partition reach
    the driver-side merge, no full sort, no shuffle of the corpus.  The
    per-stratum form (``by``) is a bounded window per stratum.
    """
    kexpr = F.col(key).cast("string")
    if salt is not None:
        # decorrelate this draw from any other md5(key)-derived uniform
        # in the pipeline (e.g. an eval-slice holdout split)
        kexpr = F.concat_ws(":", F.lit(salt), kexpr)
    u = (
        (_md5_uniform(kexpr) + F.lit(1)).cast("double")
        / F.lit(float(1 << 32))
    )
    score = F.round(F.log(u) / F.col(weight_col).cast("double"), 6)
    scored = df.filter(F.col(weight_col) > 0).withColumn(score_out, score)
    if by is None:
        return scored.orderBy(F.desc(score_out), F.col(key)).limit(k)
    from pyspark.sql import Window

    w = Window.partitionBy(by).orderBy(F.desc(score_out), F.col(key))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def dataset_split(
    df: DataFrame,
    fractions: dict[str, float],
    key: str = "doc_id",
    out: str = "split",
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: the salted md5-uniform
    of the key lands in cumulative ``fractions`` bands (insertion
    order; fractions must sum to ≤ 1, any remainder falls in the LAST
    band).  A pure projection — no shuffle, no RNG state, the same doc
    lands in the same split on every engine, rerun, and cluster size;
    adding docs never moves existing ones between splits (the property
    a random split by row position destroys)."""
    if not fractions or any(f <= 0 for f in fractions.values()):
        raise ValueError("every fraction must be > 0")
    total = sum(fractions.values())
    if not total <= 1.0 + 1e-9:
        raise ValueError("fractions must sum to (0, 1]")
    u = _md5_uniform(
        F.concat_ws(":", F.lit(salt), F.col(key).cast("string"))
    ).cast("double") / F.lit(float(1 << 32))
    names = list(fractions)
    edges = []
    acc = 0.0
    for name in names[:-1]:
        acc += fractions[name]
        edges.append((name, acc))
    expr: Column = F.lit(names[-1])
    for name, edge in reversed(edges):
        expr = F.when(u < F.lit(edge), F.lit(name)).otherwise(expr)
    return df.withColumn(out, expr)


def cluster_split(
    df: DataFrame,
    clusters: DataFrame,
    fractions: dict[str, float],
    key: str = "doc_id",
    out: str = "split",
    salt: str = "split",
) -> DataFrame:
    """LEAKAGE-SAFE dataset split: assign train/val/test by near-dup
    CLUSTER, not by document, so near-duplicates can never straddle a
    split boundary — a val doc whose near-dup sits in train is leaked
    eval signal even after within-split dedup (the cross-split hazard
    behind Lee et al. 2022's dedup-before-split advice; splitting BY
    cluster removes it by construction, whatever the dedup policy).

    ``clusters`` is a (key, keeper) component table from
    ``dedup.dup_clusters`` / ``dup_clusters_star`` over any candidate
    pair graph; docs absent from it are singletons (their own cluster).
    The split hashes the CLUSTER id with :func:`dataset_split`'s
    md5-uniform band rule, so every member of a component — present or
    future — lands in the same band deterministically.

    Returns (key, cluster, ``out``) — row-preserving over ``df``.

    Scale shape: one left equi-join of the corpus keys against the
    component table (itself bounded by the dup-pair mass), then the
    pure-projection split; no new shuffle beyond the join.
    """
    comp = clusters.select(F.col(key), F.col("keeper"))
    lbl = (
        df.select(key)
        .join(comp, key, "left")
        .select(
            key,
            F.coalesce(F.col("keeper"), F.col(key)).alias("cluster"),
        )
    )
    return dataset_split(lbl, fractions, key="cluster", out=out, salt=salt)


def label_balance(
    df: DataFrame,
    label_col: str = "label",
    key: str = "vec_id",
    per_class: int | None = None,
    salt: str = "lb",
    bucketed: bool | None = None,
    bucket_threshold: int = 2_000_000,
    buckets: int = 256,
    max_label_rows: int | None = None,
) -> DataFrame:
    """Deterministic class rebalancing: keep the same number of rows
    per label — each label's md5-uniform rank up to the minority-class
    size (or an explicit ``per_class`` cap).  The standard
    downsampling step before training on a skewed label column,
    RNG-free so re-runs and engines agree row-for-row.

    Scale: one count aggregate (≤ #labels rows, broadcast back) plus
    the per-label rank.  Ranking has two physical paths with the SAME
    total order (md5-uniform, then key — identical output, tested):

    * ``bucketed=False`` — one rank window per label.  Parallel across
      labels, but a 10⁹-row majority class serializes inside its own
      window partition.
    * ``bucketed=True`` — the :func:`epoch_shuffle` two-phase rank per
      label: rows bucket by the leading hex of the SAME md5 the rank
      orders on (power-of-16 bucket count keeps bucket order == hash
      order), a per-(label, bucket) count aggregate broadcasts
      cumulative offsets (≤ labels × ``buckets`` rows), and each
      bucket ranks independently — per-label parallelism at the cost
      of one extra tiny shuffle.

    ``bucketed=None`` (default) auto-picks: a map-side-combined label
    count probe (one extra pass over ``df``'s lineage) switches to the
    bucketed rank when any label exceeds ``bucket_threshold`` rows.
    Callers with derived inputs pass ``max_label_rows`` (the largest
    label's row count; an upper bound is fine) so the gate decides
    without executing the lineage — or pin ``bucketed`` outright.
    """
    from pyspark.sql import Window

    u = _md5_uniform(
        F.concat_ws(":", F.lit(salt), F.col(key).cast("string"))
    )
    if bucketed is None:
        if max_label_rows is not None:
            mx = max_label_rows
        else:
            mx = (
                df.groupBy(label_col).agg(F.count("*").alias("_c"))
                .agg(F.max("_c").alias("_m")).first()["_m"]
            )
        bucketed = mx is not None and int(mx) > bucket_threshold
    if not bucketed:
        w = Window.partitionBy(label_col).orderBy(u, F.col(key))
        ranked = df.withColumn("_rn", F.row_number().over(w))
    else:
        # shared device (NULL-label join-back lesson lives there):
        # sub-bucket by the leading hex of the SAME hash u is parsed
        # from, offsets broadcast, in-bucket ties by (u, key) — the
        # plain path's total order
        ranked = _two_phase_ranked(df, label_col, key, salt, buckets, "_rn")
    if per_class is not None:
        return ranked.filter(F.col("_rn") <= per_class).drop("_rn")
    target = (
        df.groupBy(label_col)
        .agg(F.count("*").alias("_c"))
        .agg(F.min("_c").alias("_t"))
    )
    return (
        ranked.join(F.broadcast(target))
        .filter(F.col("_rn") <= F.col("_t"))
        .drop("_rn", "_t")
    )


def epoch_shuffle(df: DataFrame, seed: int = 0, key: str = "doc_id",
                  out: str = "position", buckets: int = 256) -> DataFrame:
    """Deterministic global training-order shuffle for epoch ``seed``:
    every row's sort key is md5(seed:key), so each epoch is a fresh,
    engine-independent permutation and re-runs are bit-identical.

    Global row numbering WITHOUT a single-partition window (the naive
    ``row_number() OVER (ORDER BY h)`` serializes the corpus through
    one task): rows hash into ``buckets`` ordered ranges by their md5
    hex prefix (``buckets`` must be a power of 16 so the integer
    bucket order IS the lexicographic hash order), a tiny per-bucket
    count aggregate yields cumulative offsets (≤ ``buckets`` rows,
    broadcast back), and each bucket ranks independently — position =
    bucket offset + in-bucket rank.  Two bounded shuffles, rank
    windows parallel across buckets.
    """
    from pyspark.sql import Window

    prefix = {16: 1, 256: 2, 4096: 3, 65536: 4}.get(buckets)
    if prefix is None:
        raise ValueError("buckets must be one of 16, 256, 4096, 65536")
    h = F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(key).cast("string")))
    scored = df.withColumn("_h", h).withColumn(
        "_b", F.conv(F.substring(F.col("_h"), 1, prefix), 16, 10).cast("int")
    )
    counts = scored.groupBy("_b").agg(F.count("*").alias("_c"))
    wc = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_c").over(wc), F.lit(0))
    ).select("_b", "_off")
    wr = Window.partitionBy("_b").orderBy("_h", F.col(key))
    return (
        scored.join(F.broadcast(offsets), "_b")
        .withColumn(out, (F.col("_off") + F.row_number().over(wr) - 1).cast("long"))
        .drop("_h", "_b", "_off")
    )


def length_batches(
    df: DataFrame,
    batch_size: int,
    size_col: str = "n_tok",
    bucket_width: int | None = 64,
    key: str = "doc_id",
    salt: str = "lbch",
    bucketed: bool = False,
    buckets: int = 256,
    bucket_out: str = "len_bucket",
    batch_out: str = "batch_id",
    len_out: str = "batch_len",
    pad_out: str = "pad_tok",
) -> DataFrame:
    """Length-bucketed batch assignment — the padding-waste-minimizing
    batching used when sequences are NOT concat-packed (encoder
    training, reward models, eval harnesses): sequences of similar
    length batch together so each batch pads only to its own max, not
    the corpus max.

    Rows bucket by ``floor(size / bucket_width)`` (``bucket_width=None``
    → one global bucket: the unbucketed baseline whose waste
    :func:`padding_stats` quantifies the saving against).  Within a
    bucket, rows take a deterministic md5-uniform order (epoch-style —
    batches stay i.i.d. draws from the bucket, no length-sorted
    curriculum bias, and re-runs/engines agree row-for-row) and chunk
    into consecutive groups of ``batch_size``; the last batch per
    bucket may be short.  Adds ``len_bucket``, ``batch_id`` (0-based
    per bucket), ``batch_len`` (the batch's padded length = its max
    ``size_col``) and ``pad_tok`` (``batch_len - size``).

    Scale: the in-bucket rank has the same two physical paths as
    :func:`label_balance`, same total order (md5-uniform, then key):
    ``bucketed=False`` ranks each length bucket in one window
    partition (parallel across buckets; a 10⁹-row bucket serializes),
    ``bucketed=True`` uses the :func:`epoch_shuffle` two-phase rank
    inside each length bucket (hash-prefix sub-buckets, tiny offset
    aggregate broadcast back, eqNullSafe join-back so NULL-size rows
    survive both paths identically).  The ``batch_len`` window
    partitions on (bucket, batch) — at most ``batch_size`` rows per
    partition, never a skew risk.
    """
    from pyspark.sql import Window

    u = _md5_uniform(
        F.concat_ws(":", F.lit(salt), F.col(key).cast("string"))
    )
    if bucket_width is None:
        bexpr = F.lit(0).cast("long")
    else:
        bexpr = F.floor(F.col(size_col) / F.lit(int(bucket_width))).cast("long")
    scored = df.withColumn(bucket_out, bexpr)
    if not bucketed:
        w = Window.partitionBy(bucket_out).orderBy(u, F.col(key))
        ranked = scored.withColumn("_rn", F.row_number().over(w))
    else:
        # shared two-phase device — in-bucket ties by (u, key), the
        # plain path's total order; NULL buckets survive the join-back
        ranked = _two_phase_ranked(scored, bucket_out, key, salt, buckets, "_rn")
    wb = Window.partitionBy(bucket_out, batch_out)
    return (
        ranked.withColumn(
            batch_out, F.floor((F.col("_rn") - 1) / F.lit(int(batch_size))).cast("long")
        )
        .withColumn(len_out, F.max(size_col).over(wb).cast("long"))
        .withColumn(pad_out, (F.col(len_out) - F.col(size_col)).cast("long"))
        .drop("_rn")
    )


def padding_stats(
    batched: DataFrame,
    bucket_col: str = "len_bucket",
    size_col: str = "n_tok",
    len_col: str = "batch_len",
    batch_col: str = "batch_id",
) -> DataFrame:
    """Padding-waste accounting over :func:`length_batches` output:
    per length bucket (plus a ROLLUP total row with NULL bucket) the
    batch count, row count, real vs padded token volume and the waste
    fraction — the number that justifies (or kills) a bucketing
    config.  One map-side-combined aggregate; ``padded_tok`` sums the
    per-row ``batch_len`` so no second batch-level pass is needed.
    ``is_total`` marks the ROLLUP grand-total row — with NULL sizes in
    the input the NULL-size bucket's own row ALSO has a NULL
    ``bucket_col``, so ``bucket IS NULL`` cannot identify the total;
    the grouping flag can.
    """
    return (
        batched.rollup(bucket_col)
        .agg(
            # struct arg: countDistinct over bare (bucket, batch) cols
            # EXCLUDES rows where either is NULL, silently dropping the
            # NULL-size bucket's batches from the count; a struct with
            # a null field is itself non-null, so every batch counts
            F.countDistinct(F.struct(bucket_col, batch_col)).alias("n_batches"),
            F.count("*").alias("n_rows"),
            F.sum(size_col).cast("long").alias("real_tok"),
            F.sum(len_col).cast("long").alias("padded_tok"),
            F.round(
                (F.sum(len_col) - F.sum(size_col))
                / F.sum(len_col).cast("double"), 6
            ).alias("waste_frac"),
            (F.grouping(bucket_col) == 1).alias("is_total"),
        )
    )


def budget_select(
    df: DataFrame,
    budget: int,
    score_col: str = "score",
    size_col: str = "n_tok",
    key: str = "doc_id",
    levels: int = 4096,
    out: str = "cum_tok",
) -> DataFrame:
    """Greedy quality-ranked corpus selection under a token budget:
    keep docs in (``score_col`` desc, ``key``) order while the running
    ``size_col`` total stays within ``budget`` — the deterministic
    "take the best N tokens" selection that follows a quality-scoring
    pass (the budgeted counterpart of a percentile gate: the cut
    adapts to the budget, not to a fixed quantile).  Adds ``cum_tok``,
    the running total INCLUDING the row, so the boundary doc is the
    last one that still fits.  NULL scores never select (a NULL
    quality is not a high quality); ties break by ``key``.

    Scale: no global sort.  Scores quantize into ``levels`` buckets
    (``floor(score * levels)`` — monotone, so bucket order IS coarse
    score order); a per-bucket token-sum aggregate (≤ ``levels`` rows)
    computes cumulative offsets driver-free, offsets broadcast back,
    and each bucket runs its own exact (score desc, key) cumulative
    window in parallel — the :func:`epoch_shuffle` two-phase device
    applied to running SUMS instead of ranks.  The budget filter then
    prunes whole buckets below the frontier.  Parallelism follows the
    score spread: near-constant scores collapse into few quantization
    buckets (few rank partitions) — scale ``levels`` to the score
    granularity, or pre-normalize scores to [0, 1], so buckets stay
    small.
    """
    from pyspark.sql import Window

    scored = df.filter(F.col(score_col).isNotNull()).withColumn(
        "_qb", F.floor(F.col(score_col) * F.lit(int(levels))).cast("long")
    )
    sums = scored.groupBy("_qb").agg(F.sum(size_col).alias("_s"))
    wc = Window.orderBy(F.col("_qb").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = sums.withColumn(
        "_off", F.coalesce(F.sum("_s").over(wc), F.lit(0)).cast("long")
    ).select(F.col("_qb").alias("_ob"), "_off")
    wr = (
        Window.partitionBy("_qb")
        .orderBy(F.col(score_col).desc(), F.col(key))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        scored.join(F.broadcast(offsets), F.col("_qb") == F.col("_ob"))
        .withColumn(out, (F.col("_off") + F.sum(size_col).over(wr)).cast("long"))
        .filter(F.col(out) <= F.lit(int(budget)))
        .drop("_qb", "_ob", "_off")
    )


def interleave_sources(
    df: DataFrame,
    weights: dict | None = None,
    source_col: str = "source",
    key: str = "doc_id",
    salt: str = "mix",
    default_weight: float = 1.0,
    bucketed: bool = False,
    buckets: int = 256,
    rank_out: str = "src_rank",
    out: str = "position",
    weights_df: DataFrame | None = None,
) -> DataFrame:
    """Deterministic stride-scheduled source interleaving — the data-
    loader ORDER counterpart of :func:`temperature_weights` /
    ``temperature_mix`` (which decide per-source volume): each source's
    docs take a fresh md5-uniform order, and doc ``r`` (1-based) of a
    weight-``w`` source lands at ``position = (r - 0.5) / w``.  Sorting
    by (``position``, ``source_col``, ``key``) yields the classic
    stride schedule: a weight-2 source appears twice as often as a
    weight-1 source, evenly spread — no long single-source runs, no
    RNG state, bit-stable across engines and re-runs.

    Weights come from the ``weights`` dict (compiled into the plan) or
    from ``weights_df`` — a (``source_col``, ``weight``) table such as
    :func:`~gbdc_spark.operators.quality.temperature_weights`'s
    ``p_sampled`` column, broadcast-joined so data-derived mixtures
    drive the order with no driver round-trip; sources absent from the
    table fall back to ``default_weight``.  Pass PRE-ROUNDED weights
    (temperature_weights already rounds to 6) so any engine derives
    bit-identical positions.

    Scale: one rank per source partition (``bucketed=False``) or the
    two-phase sub-bucketed rank (``bucketed=True``, the
    :func:`epoch_shuffle` device) when a single source holds 10⁹+
    rows; position is a pure projection on top (plus one broadcast
    join when ``weights_df`` is used).
    """
    if weights is not None and weights_df is not None:
        raise ValueError("pass weights or weights_df, not both")
    from pyspark.sql import Window

    u = _md5_uniform(
        F.concat_ws(":", F.lit(salt), F.col(key).cast("string"))
    )
    wexpr: Column = F.lit(float(default_weight))
    for src, wgt in sorted((weights or {}).items()):
        wexpr = F.when(
            F.col(source_col) == F.lit(src), F.lit(float(wgt))
        ).otherwise(wexpr)
    if not bucketed:
        w = Window.partitionBy(source_col).orderBy(u, F.col(key))
        ranked = df.withColumn(rank_out, F.row_number().over(w).cast("long"))
    else:
        # shared two-phase device — same (u, key) total order
        ranked = _two_phase_ranked(
            df, source_col, key, salt, buckets, rank_out
        ).withColumn(rank_out, F.col(rank_out).cast("long"))
    if weights_df is not None:
        wtab = weights_df.select(
            F.col(source_col).alias("_wsrc"),
            F.col("weight").cast("double").alias("_w"),
        )
        return (
            ranked.join(
                F.broadcast(wtab),
                F.col(source_col).eqNullSafe(F.col("_wsrc")),
                "left",
            )
            .withColumn(
                out,
                (F.col(rank_out).cast("double") - F.lit(0.5))
                / F.coalesce(F.col("_w"), F.lit(float(default_weight))),
            )
            .drop("_wsrc", "_w")
        )
    return ranked.withColumn(
        out, (F.col(rank_out).cast("double") - F.lit(0.5)) / wexpr
    )


def padding_sweep(
    df: DataFrame,
    widths: Iterable[int],
    batch_size: int,
    size_col: str = "n_tok",
    key: str = "doc_id",
    salt: str = "lbch",
) -> DataFrame:
    """Bucket-width auto-tuner: evaluate every candidate
    ``bucket_width`` of :func:`length_batches` in ONE pass and report
    each width's total padding waste, with ``is_best`` marking the
    argmin — measure the config choice instead of guessing it.  Rows
    fan out once per width (a W-way explode of a literal array), each
    copy batches under its own width with the SAME order law as
    ``length_batches``, and a per-width aggregate reduces to W rows.

    Scale: cost is W× the single-config rank work (windows partition
    on (width, bucket) so all copies rank in parallel); the output is
    W rows.  Run it on a :func:`stratified_sample` of the corpus —
    waste fractions are ratio estimates, so a deterministic sample
    tunes the width at a fraction of the cost (noted here rather than
    auto-sampled: the caller owns the estimate/exact trade-off).
    """
    from pyspark.sql import Window

    ws = sorted({int(w) for w in widths})
    if not ws:
        raise ValueError("widths must be non-empty")
    u = _md5_uniform(
        F.concat_ws(":", F.lit(salt), F.col(key).cast("string"))
    )
    fanned = df.withColumn(
        "width", F.explode(F.array(*[F.lit(w) for w in ws]))
    ).withColumn("_lb", F.floor(F.col(size_col) / F.col("width")).cast("long"))
    wr = Window.partitionBy("width", "_lb").orderBy(u, F.col(key))
    wb = Window.partitionBy("width", "_lb", "_bid")
    batched = (
        fanned.withColumn(
            "_bid",
            F.floor((F.row_number().over(wr) - 1) / F.lit(int(batch_size))).cast("long"),
        )
        .withColumn("_blen", F.max(size_col).over(wb).cast("long"))
    )
    stats = batched.groupBy("width").agg(
        # struct arg for the same NULL-bucket reason as padding_stats
        F.countDistinct(F.struct("_lb", "_bid")).alias("n_batches"),
        F.count("*").alias("n_rows"),
        F.sum(size_col).cast("long").alias("real_tok"),
        F.sum("_blen").cast("long").alias("padded_tok"),
        F.round(
            (F.sum("_blen") - F.sum(size_col))
            / F.sum("_blen").cast("double"), 6
        ).alias("waste_frac"),
    )
    wmin = Window.partitionBy()
    return stats.withColumn(
        "is_best", F.col("waste_frac") == F.min("waste_frac").over(wmin)
    )


def balanced_shards(
    df: DataFrame,
    n_shards: int,
    size_col: str = "n_tok",
    key: str = "doc_id",
    out: str = "shard",
) -> DataFrame:
    """Token-balanced shard assignment — equal-WORK training shards,
    not equal-count: docs take a global (``size_col`` desc, ``key``)
    rank and snake across the ``n_shards`` shards (shard order
    0..K-1 then K-1..0, repeating), the classic zigzag heuristic that
    keeps every shard's token sum within one max-doc of the others
    without any sequential bin-packing state.  Deterministic, so
    re-runs and engines agree row-for-row.

    Scale: no global sort window.  The size VALUE is the bucket —
    distinct ``size_col`` values are bounded by the context length,
    so a per-value count aggregate (tiny) yields exact cumulative
    offsets, offsets broadcast back, and each size-value bucket ranks
    independently by ``key`` — the :func:`epoch_shuffle` device with
    the quantization error at exactly zero.  NULL sizes are kept and
    rank after every real size (shard still assigned).
    """
    from pyspark.sql import Window

    counts = df.groupBy(size_col).agg(F.count("*").alias("_c"))
    wc = Window.orderBy(
        F.col(size_col).desc_nulls_last()
    ).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_c").over(wc), F.lit(0)).cast("long")
    ).select(F.col(size_col).alias("_osz"), "_off")
    wr = Window.partitionBy(size_col).orderBy(F.col(key))
    k = int(n_shards)
    ranked = (
        df.join(
            F.broadcast(offsets),
            F.col(size_col).eqNullSafe(F.col("_osz")),
        )
        .withColumn("_rn", F.col("_off") + F.row_number().over(wr) - 1)
    )
    zig = F.col("_rn") % F.lit(2 * k)
    return (
        ranked.withColumn(
            out,
            F.when(zig < k, zig).otherwise(F.lit(2 * k - 1) - zig).cast("int"),
        )
        .drop("_osz", "_off", "_rn")
    )


def chunk_sequences(df: DataFrame, max_len: int, overlap: int = 0,
                    key: str = "doc_id",
                    tokens_col: str = "tokens") -> DataFrame:
    """Context-window chunking — the splitting counterpart of
    ``pack_next_fit``: cut every token sequence into windows of at most
    ``max_len`` tokens whose starts advance by ``max_len - overlap``
    (standard sliding-window tokenizer layout; ``overlap`` carries
    context across chunk boundaries).  A doc that fits in one window
    yields exactly one chunk; the final chunk may be short.

    Returns (key, chunk_idx, start, chunk_len, chunk_tokens), one row
    per chunk, chunk_idx and start 0-based.

    Scale shape: a pure per-row array transform + explode — no
    shuffle, no Python; output row count is ~n_tok/stride per doc and
    each token is duplicated at most ``ceil(max_len/stride)`` times.
    """
    if not 0 <= overlap < max_len:
        raise ValueError("need 0 <= overlap < max_len")
    stride = max_len - overlap
    toks = F.col(tokens_col)
    n_tok = F.size(toks)
    n_chunks = (
        F.when(n_tok <= max_len, F.lit(1))
        .otherwise(F.ceil((n_tok - max_len) / F.lit(float(stride))) + 1)
        .cast("int")
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            (i * stride).cast("int").alias("start"),
            F.slice(toks, i * stride + 1, max_len).alias("chunk_tokens"),
        ),
    )
    return df.select(
        F.col(key), F.explode(chunks).alias("c")
    ).select(
        F.col(key),
        F.col("c.chunk_idx"),
        F.col("c.start"),
        F.size("c.chunk_tokens").alias("chunk_len"),
        F.col("c.chunk_tokens"),
    )


def mask_tokens(
    df: DataFrame,
    rate: float = 0.15,
    mask_id: int = -2_000_000_000,
    key: str = "doc_id",
    tokens_col: str = "tokens",
    preserve_ids: tuple = (0,),
    salt: str = "mlm",
) -> DataFrame:
    """Deterministic MLM-style token masking (the corruption step of a
    BERT/T5 pretraining batch pipeline): position ``p`` of each doc is
    masked iff the 32-bit md5 uniform of ``salt:key:p`` falls under the
    INTEGER threshold ``floor(rate * 2^32)`` — per-position Bernoulli
    with zero RNG state, so re-runs, resumes and engines agree
    mask-for-mask.  Structural ids in ``preserve_ids`` (default: the
    0 clause/sequence separator) are never masked, preserving framing.

    Adds ``tokens_masked`` (``mask_id`` substituted), ``mask_positions``
    (0-based, ascending — the label-gather index a trainer needs) and
    ``n_masked``.  The 80/10/10 replace/keep/random refinement composes
    on top of ``mask_positions``; the corruption itself is the part
    that must be deterministic for resumable data loading.

    Scale shape: pure per-row array transforms over the scan — no
    shuffle, no Python workers; cost is one md5 per token (the same
    per-element hashing budget as minhash shingling).
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError("rate must be in [0, 1]")
    thr = int(rate * (1 << 32))
    toks = F.col(tokens_col)

    def _u32(p: Column) -> Column:
        return F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.lit(salt),
                        F.col(key).cast("string"),
                        p.cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")

    def _is_masked(p: Column) -> Column:
        hit = _u32(p) < F.lit(thr)
        keep = F.lit(False)
        for pid in preserve_ids:
            keep = keep | (F.element_at(toks, p + 1) == F.lit(pid))
        return hit & ~keep

    # F.sequence(0, n-1) yields [0, -1] on n = 0 (default step -1) —
    # guard empty docs explicitly
    positions = F.when(
        F.size(toks) > 0, F.sequence(F.lit(0), F.size(toks) - 1)
    ).otherwise(F.array().cast("array<int>"))
    masked = F.transform(
        positions,
        lambda p: F.when(_is_masked(p), F.lit(mask_id))
        .otherwise(F.element_at(toks, p + 1))
        .cast("int"),
    )
    mask_pos = F.filter(positions, lambda p: _is_masked(p)).cast("array<int>")
    return (
        df.withColumn("tokens_masked", masked)
        .withColumn("mask_positions", mask_pos)
        .withColumn("n_masked", F.size("mask_positions"))
    )


def span_corrupt(
    df: DataFrame,
    rate: float = 0.15,
    sentinel_base: int = -1_000_000,
    key: str = "doc_id",
    tokens_col: str = "tokens",
    preserve_ids: tuple = (0,),
    salt: str = "mlm",
) -> DataFrame:
    """T5-style span corruption (Raffel et al. 2020 §3.1.4) with the
    same deterministic per-position md5 Bernoulli as :func:`mask_tokens`
    (same salt ⇒ the same positions corrupt): each MAXIMAL RUN of
    masked positions becomes one span; ``input_ids`` replaces span k
    with the sentinel ``sentinel_base - k`` and ``target_ids`` is the
    concatenation of ``[sentinel_k, span tokens...]`` over spans — the
    encoder/decoder pair a T5 pretraining batch feeds.  Preserved ids
    (sequence separators) never corrupt, so framing survives in the
    inputs.

    Span reconstruction is exact: splicing each target span back over
    its sentinel reproduces the original sequence bit-for-bit (the
    inverse property the tests assert) — a corrupted corpus remains
    auditable against its source.

    Shape: spans are recovered WITHOUT a per-position scan-carry — a
    position starts a span iff it is masked and its predecessor is not,
    ends one iff masked and its successor is not; the two filtered
    position lists align 1:1 by rank, so targets are a flat transform
    over (start, end) pairs and inputs one over positions.  All
    per-row JVM array expressions: no shuffle, no Python workers; the
    only superlinear term is ``array_position`` over the ~rate·n/2
    span starts (O(spans²) per doc, negligible at context lengths).
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError("rate must be in [0, 1]")
    thr = int(rate * (1 << 32))
    toks = F.col(tokens_col)

    def _u32(p: Column) -> Column:
        return F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.lit(salt),
                        F.col(key).cast("string"),
                        p.cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")

    def _is_masked(p: Column) -> Column:
        # guarded for out-of-range probes (p = -1 / p = n): the >= 0 /
        # < n conjuncts force False while greatest/least keep the
        # element_at index legal (Spark does not short-circuit)
        n = F.size(toks)
        safe = F.greatest(F.least(p, n - 1), F.lit(0))
        hit = (p >= 0) & (p < n) & (_u32(p) < F.lit(thr))
        keep = F.lit(False)
        for pid in preserve_ids:
            keep = keep | (F.element_at(toks, safe + 1) == F.lit(pid))
        return hit & ~keep

    positions = F.when(
        F.size(toks) > 0, F.sequence(F.lit(0), F.size(toks) - 1)
    ).otherwise(F.array().cast("array<int>"))
    starts = F.filter(
        positions, lambda p: _is_masked(p) & ~_is_masked(p - 1)
    )
    ends = F.filter(
        positions, lambda p: _is_masked(p) & ~_is_masked(p + 1)
    )
    out = df.withColumn("_starts", starts).withColumn("_ends", ends)
    s_col, e_col = F.col("_starts"), F.col("_ends")
    inputs = F.flatten(
        F.transform(
            positions,
            lambda p: F.when(
                F.array_position(s_col, p) > 0,
                F.array(
                    (F.lit(sentinel_base)
                     - (F.array_position(s_col, p) - 1)).cast("int")
                ),
            )
            .when(_is_masked(p), F.array().cast("array<int>"))
            .otherwise(F.array(F.element_at(toks, p + 1).cast("int"))),
        )
    )
    targets = F.flatten(
        F.transform(
            s_col,
            lambda s, k: F.concat(
                F.array((F.lit(sentinel_base) - k).cast("int")),
                F.transform(
                    F.sequence(s, F.element_at(e_col, k + 1)),
                    lambda q: F.element_at(toks, q + 1).cast("int"),
                ),
            ),
        )
    )
    return (
        out.withColumn("input_ids", inputs)
        .withColumn("target_ids", targets)
        .withColumn("n_spans", F.size("_starts"))
        .drop("_starts", "_ends")
    )


def fim_transform(
    df: DataFrame,
    rate: float = 0.5,
    mode: str = "psm",
    pre_id: int = -2_000_001,
    mid_id: int = -2_000_002,
    suf_id: int = -2_000_003,
    key: str = "doc_id",
    tokens_col: str = "tokens",
    salt: str = "fim",
) -> DataFrame:
    """Fill-in-the-middle transform (Bavarian et al. 2022): a
    deterministic md5-selected ``rate`` of docs is split at two
    uniform cut points a <= b into (prefix, middle, suffix) and
    re-serialized for infilling training —

    * ``mode="psm"``: ``[PRE] prefix [SUF] suffix [MID] middle``
    * ``mode="spm"``: ``[PRE] [SUF] suffix [MID] middle`` is the
      paper's joined variant; here SPM emits
      ``[SUF] suffix [PRE] prefix [MID] middle`` (suffix-first,
      the key property: the model sees the suffix before the span
      it must fill).

    Untransformed docs pass through unchanged (``fim_ids`` = tokens,
    ``fim_applied`` = false) — the paper's 50/50 mixture keeps plain
    autoregressive ability.  All decisions hash ``salt:key[:field]``
    (the apply coin, then two independent cut draws mod n+1), so
    re-runs, resumes and engines agree split-for-split with zero RNG
    state.

    Scale shape: per-row slice/concat JVM expressions over the scan —
    no shuffle, no Python workers.
    """
    if mode not in ("psm", "spm"):
        raise ValueError("mode must be 'psm' or 'spm'")
    if not 0.0 <= rate <= 1.0:
        raise ValueError("rate must be in [0, 1]")
    thr = int(rate * (1 << 32))
    toks = F.col(tokens_col)
    n = F.size(toks)

    def _u32(field: str) -> Column:
        return F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit(salt), F.col(key).cast("string"),
                        F.lit(field),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")

    applied = _u32("apply") < F.lit(thr)
    c1 = (_u32("cut1") % (n + 1)).cast("int")
    c2 = (_u32("cut2") % (n + 1)).cast("int")
    a = F.least(c1, c2)
    b = F.greatest(c1, c2)
    prefix = F.slice(toks, 1, a)
    middle = F.slice(toks, a + 1, b - a)
    suffix = F.slice(toks, b + 1, n - b)
    sent = lambda i: F.array(F.lit(i).cast("int"))  # noqa: E731
    if mode == "psm":
        fim = F.concat(
            sent(pre_id), prefix, sent(suf_id), suffix, sent(mid_id), middle
        )
    else:
        fim = F.concat(
            sent(suf_id), suffix, sent(pre_id), prefix, sent(mid_id), middle
        )
    return (
        df.withColumn("fim_applied", applied)
        .withColumn("fim_a", F.when(applied, a))
        .withColumn("fim_b", F.when(applied, b))
        .withColumn(
            "fim_ids",
            F.when(applied, fim).otherwise(
                F.transform(toks, lambda x: x.cast("int"))
            ),
        )
    )


def sft_mask(
    df: DataFrame,
    turns_col: str = "turns",
    assistant_role: str = "assistant",
    role_prefix_ids: dict[str, tuple[int, ...]] | None = None,
    turn_suffix_ids: tuple[int, ...] = (-103,),
    mask_value: int = -100,
    train_on_suffix: bool = True,
    ids_out: str = "input_ids",
    labels_out: str = "labels",
) -> DataFrame:
    """Chat-template flattening with completion-only loss masks — the
    SFT counterpart of :func:`mask_tokens`: render a conversation
    (``turns_col``: ``array<struct<role string, tokens array<int>>>``)
    into one training sequence plus a label array where every token the
    model should NOT be trained on (role headers, user/system content,
    and optionally the end-of-turn marker of non-assistant turns) is
    ``mask_value`` and assistant-content tokens carry their own id —
    the HF-style "completion-only" collation, precomputed at corpus
    scale instead of per-batch in the trainer.

    Template: each turn renders as ``role_prefix_ids[role] ++ tokens ++
    turn_suffix_ids`` (unknown roles get an empty prefix); labels are
    ``mask_value`` everywhere except assistant content, plus the
    assistant turn's suffix when ``train_on_suffix`` (so the model
    learns to emit end-of-turn).  Defaults use negative marker ids that
    can't collide with real vocab; pass your tokenizer's special ids in
    production.

    Adds ``ids_out``, ``labels_out`` (equal length) and
    ``n_train_tokens`` (labels != ``mask_value`` — the per-row loss
    denominator batch samplers want).

    Scale shape: pure per-row array transforms over the scan — the
    turn structs are flattened by ONE bound transform (ids and labels
    both read the materialized per-turn structs, not re-derived), no
    shuffle, no Python workers.
    """
    from ..functions import bind_once as _bind

    prefixes = role_prefix_ids or {"user": (-101,), "assistant": (-102,),
                                   "system": (-104,)}
    suffix = F.array(*[F.lit(int(x)).cast("int") for x in turn_suffix_ids])
    mask = F.lit(int(mask_value)).cast("int")

    def _masked(arr: Column) -> Column:
        return F.transform(arr, lambda _: mask)

    def per_turn(t: Column) -> Column:
        prefix = F.array().cast("array<int>")
        for role, ids in prefixes.items():
            parr = F.array(*[F.lit(int(x)).cast("int") for x in ids])
            prefix = F.when(t["role"] == F.lit(role), parr).otherwise(prefix)
        is_asst = t["role"] == F.lit(assistant_role)
        toks = t["tokens"]
        ids_t = F.concat(prefix, toks, suffix)
        # the suffix is trained only on assistant turns (and only when
        # train_on_suffix)
        labels_t = F.concat(
            _masked(prefix),
            F.when(is_asst, toks).otherwise(_masked(toks)),
            F.when(is_asst & F.lit(bool(train_on_suffix)), suffix)
            .otherwise(_masked(suffix)),
        )
        return F.struct(ids_t.alias("ids"), labels_t.alias("labels"))

    rendered = _bind(
        F.transform(F.col(turns_col), per_turn),
        lambda per: F.struct(
            F.flatten(F.transform(per, lambda x: x["ids"])).alias("ids"),
            F.flatten(F.transform(per, lambda x: x["labels"])).alias("labels"),
        ),
    )
    return (
        df.withColumn("_r", rendered)
        .withColumn(ids_out, F.col("_r.ids"))
        .withColumn(labels_out, F.col("_r.labels"))
        .withColumn(
            "n_train_tokens",
            F.size(F.filter(F.col(labels_out), lambda x: x != mask)),
        )
        .drop("_r")
    )


def pack_concat_chunks(
    df: DataFrame,
    block_size: int,
    tokens_col: str = "tokens",
    key: str = "doc_id",
    eos_id: int | None = 0,
    bucket_prefix: int | None = None,
    bucket_width: int | None = None,
    drop_last: bool = True,
    block_out: str = "block_id",
) -> DataFrame:
    """GPT-style concat-and-chunk packing: reading docs in ``key``
    order, append ``eos_id`` after each doc's ``tokens_col``,
    concatenate the whole corpus into one logical token stream, and
    cut it into fixed ``block_size`` training blocks (the final
    partial block is dropped unless ``drop_last=False``) — the
    standard causal-LM batch layout (Brown et al. 2020 §2.3; every doc
    boundary is an EOS so attention masking/resets stay possible
    downstream).  Complements :func:`pack_next_fit`, which never
    splits a document; concat-and-chunk always fills every block
    exactly and splits docs at block boundaries.

    Returns ``(block_id, tokens, n_tok)`` where ``tokens`` is exactly
    ``block_size`` long (except a kept trailing block).

    Scale shape — the stream is a fiction; no task ever holds it:

    1. global per-doc token offsets via the two-phase bucket trick
       (``epoch_shuffle`` / ``heaps_fit``): docs bucket by an
       order-preserving key prefix (``bucket_prefix`` chars of a
       fixed-width string key, or ``floor(key/bucket_width)`` for
       numerics), a ≤buckets-row cumulative agg broadcasts bucket
       offsets back, per-doc offsets window inside each bucket;
    2. each doc emits one row per block it overlaps — an explode of
       ``sequence(first_block, last_block)`` carrying the JVM
       ``slice`` of its padded array that lands in that block (rows ≈
       n_docs + n_blocks, NOT n_tokens);
    3. one shuffle on ``block_id`` reassembles: ``array_sort`` on
       (offset, slice) structs, ``flatten`` — every group is bounded
       by ``block_size`` tokens.

    No Python workers anywhere.  With the default
    ``bucket_prefix=None`` all offsets flow through ONE window
    partition — fine for tests, wrong at scale: always pass a prefix/
    width that yields data-proportional buckets (a doc-count probe
    per bucket stays ≤ tens of millions).
    """
    padded = F.col(tokens_col)
    if eos_id is not None:
        padded = F.concat(padded, F.array(F.lit(int(eos_id))))
    lens = df.select(
        F.col(key).alias("_k"), padded.alias("_toks")
    ).withColumn("_n", F.size("_toks").cast("long")).filter(F.col("_n") > 0)
    if bucket_prefix is not None:
        bcol = F.substring(F.col("_k").cast("string"), 1, int(bucket_prefix))
    elif bucket_width is not None:
        # stays NUMERIC: a string cast would sort bucket "10" before
        # "2" and mis-order the bucket-offset window past 10 buckets
        # (caught by the tokenize_pack composed oracle)
        bcol = F.floor(F.col("_k") / F.lit(int(bucket_width)))
    else:
        bcol = F.lit("")
    from pyspark.sql import Window

    scored = lens.withColumn("_b", bcol)
    bsum = scored.groupBy("_b").agg(F.sum("_n").alias("_bn"))
    wb = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    boff = bsum.withColumn(
        "_boff", F.coalesce(F.sum("_bn").over(wb), F.lit(0).cast("long"))
    ).select("_b", "_boff")
    wd = Window.partitionBy("_b").orderBy("_k").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = scored.join(F.broadcast(boff), "_b").withColumn(
        "_off",
        F.col("_boff") + F.coalesce(F.sum("_n").over(wd), F.lit(0).cast("long")),
    )
    bs = F.lit(int(block_size)).cast("long")
    first_b = F.floor(F.col("_off") / bs)
    last_b = F.floor((F.col("_off") + F.col("_n") - 1) / bs)
    contrib = (
        offs.select(
            "_off", "_n", "_toks",
            F.explode(F.sequence(first_b, last_b)).alias(block_out),
        )
        .withColumn("_s", F.greatest(F.col(block_out) * bs - F.col("_off"), F.lit(0).cast("long")))
        .withColumn("_e", F.least(F.col("_n"), (F.col(block_out) + 1) * bs - F.col("_off")))
        .select(
            block_out,
            F.struct(
                F.col("_off").alias("o"),
                F.slice(
                    "_toks", (F.col("_s") + 1).cast("int"), (F.col("_e") - F.col("_s")).cast("int")
                ).alias("sl"),
            ).alias("_c"),
        )
    )
    out = (
        contrib.groupBy(block_out)
        .agg(F.array_sort(F.collect_list("_c")).alias("_cs"))
        .select(
            block_out,
            F.flatten(F.transform("_cs", lambda c: c["sl"])).alias("tokens"),
        )
        .withColumn("n_tok", F.size("tokens"))
    )
    if drop_last:
        out = out.filter(F.col("n_tok") == int(block_size))
    return out
