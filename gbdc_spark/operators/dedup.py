"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup — first-class components of a 100 TB
training-data pipeline.

Scale notes:
* exact dedup = one hash-shuffle on the content hash (map-side partial
  aggregation free via groupBy);
* MinHash signatures are computed in ONE pass with JVM-side expressions
  (md5-as-permutation, string-min over shingles) — no Python, no explode;
  candidate pairs come from a self-equi-join on LSH band keys, which
  Catalyst executes as a shuffled hash join on the band key — the only
  quadratic work happens inside buckets;
* SimHash packs 64 md5-derived bits per word into an int64 via a
  vectorized pandas UDF; near-dups = hamming distance on bucket-joined
  prefixes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

__all__ = [
    "exact_dedup_groups",
    "with_minhash_signature",
    "minhash_candidate_pairs",
    "with_token_minhash_signature",
    "token_minhash_pairs",
    "with_simhash",
    "simhash_near_dups",
    "ngram_jaccard_pairs",
    "ngram_containment_pairs",
    "jaccard_join",
    "minhash_lsh_eval",
    "weighted_minhash_pairs",
    "weighted_jaccard_pairs",
    "clustering_agreement",
    "winnow_overlap_pairs",
    "line_dedup",
    "substring_dedup",
    "semantic_dedup",
    "embedding_near_dups",
    "embedding_near_dups_ivf",
    "auto_sign_bits",
    "auto_sign_tables",
    "sign_recall",
    "sign_hyperplanes",
    "dup_clusters",
    "dup_clusters_star",
    "dedup_keep_best",
    "dedup_against",
    "span_dedup",
    "bloom_build",
    "bloom_probe",
]


def exact_dedup_groups(df: DataFrame, key: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group identical content: (content_hash, n_dups, keeper) with the
    smallest key kept — the survivorship rule most pipelines use."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(key))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_dups"), F.min(key).alias("keeper"))
    )


from ..functions import bind_once as _bind
from ..functions import ensure_parallelism


def _shingles(text_col: str, n: int) -> Column:
    """n-word shingles via transform+slice (no explode)."""

    def body(words: Column) -> Column:
        k = F.greatest(F.size(words) - F.lit(n - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        )

    return _bind(F.split(F.col(text_col), " "), body)


def with_minhash_signature(
    df: DataFrame, text_col: str = "text", num_perm: int = 8, shingle_n: int = 3,
    out: str = "minhash",
) -> DataFrame:
    """MinHash signature: permutation j = min over shingles of
    md5(j:shingle) (string order) — deterministic and reproducible in any
    engine with md5, which is what the DuckDB oracles exploit."""
    def perm(j: int):
        # NOTE: the lambda must be unary — a 2-arg lambda would make
        # F.transform bind the element INDEX to the second parameter
        return lambda s: F.md5(F.concat(F.lit(f"{j}:"), s))

    # bind the shingle array once; the num_perm passes then scan a
    # materialized value instead of recomputing split+slice each time
    sig = _bind(
        _shingles(text_col, shingle_n),
        lambda sh: F.array(*[F.array_min(F.transform(sh, perm(j))) for j in range(num_perm)]),
    )
    return df.withColumn(out, sig)


def _banded(sig: DataFrame, key: str, num_perm: int, bands: int) -> DataFrame:
    """Explode a (key, minhash) frame into one row per LSH band:
    (key, band, bkey).  The band structs are built inside a bound
    lambda: referencing the `minhash` column directly 2×bands times
    would make project-collapse inline (and re-evaluate) the whole
    signature expression per reference."""
    rows_per_band = num_perm // bands
    band_arr = _bind(
        F.col("minhash"),
        lambda mh: F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        "|",
                        *[mh[b * rows_per_band + r] for r in range(rows_per_band)],
                    ).alias("bkey"),
                )
                for b in range(bands)
            ]
        ),
    )
    return sig.select(F.col(key), F.explode(band_arr).alias("bk")).select(
        key, "bk.band", "bk.bkey"
    )


def _band_pairs(sig: DataFrame, key: str, num_perm: int, bands: int) -> DataFrame:
    """LSH banding over a (key, minhash) frame: keys sharing any band of
    the signature become a candidate pair (a < b).  Equi-join on the band
    key — shuffle is on band hashes, never a cross join."""
    banded = _banded(sig, key, num_perm, bands)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col(f"l.{key}") < F.col(f"r.{key}")),
        )
        .select(F.col(f"l.{key}").alias("a"), F.col(f"r.{key}").alias("b"))
        .distinct()
    )


def minhash_candidate_pairs(
    df: DataFrame, key: str = "doc_id", text_col: str = "text",
    num_perm: int = 8, bands: int = 4, shingle_n: int = 3,
) -> DataFrame:
    """MinHash-LSH candidate pairs over a text column (see _band_pairs)."""
    sig = with_minhash_signature(
        ensure_parallelism(df), text_col, num_perm, shingle_n
    ).select(key, "minhash")
    return _band_pairs(sig, key, num_perm, bands)


def _virtual_elements(text_col: str) -> Column:
    """Integer-weight multiset expansion: word w with term frequency c
    becomes the c virtual elements ``w#1 .. w#c``.  Plain MinHash /
    plain Jaccard over these expanded sets EQUALS weighted MinHash /
    weighted Jaccard over the TF-weighted sets (the exact
    integer-weight reduction: min(a,b) of two multiplicities is the
    size of the virtual-element intersection, max is the union) — no
    real-valued CWS sampling needed, so the md5-order determinism
    trick keeps working and a SQL oracle reproduces every signature."""

    def body(words: Column) -> Column:
        wc = F.transform(
            F.array_distinct(words),
            lambda w: F.struct(
                w.alias("w"),
                F.size(F.filter(words, lambda x: x == w)).alias("c"),
            ),
        )
        return F.flatten(
            F.transform(
                wc,
                lambda s: F.transform(
                    F.sequence(F.lit(1), s["c"]),
                    lambda i: F.concat_ws("#", s["w"], i.cast("string")),
                ),
            )
        )

    return _bind(F.split(F.col(text_col), " "), body)


def weighted_minhash_pairs(
    df: DataFrame, key: str = "doc_id", text_col: str = "text",
    num_perm: int = 8, bands: int = 4,
) -> DataFrame:
    """MinHash-LSH candidate pairs under WEIGHTED (term-frequency)
    Jaccard: collision probability follows sum-min/sum-max similarity
    instead of set Jaccard, so a doc that repeats a phrase 50 times is
    near a doc repeating it 45 times — unweighted set MinHash sees
    both as one shingle and calls them equal to a doc using the phrase
    once.  Uses the exact integer-weight virtual-element reduction
    (:func:`_virtual_elements`) over the shared band join.

    Scale shape: identical to :func:`minhash_candidate_pairs` — the
    expansion is per-row (total virtual elements = doc token count),
    signatures are JVM folds, candidates come from the band equi-join.
    """
    def perm(j: int):
        return lambda s: F.md5(F.concat(F.lit(f"{j}:"), s))

    sig = _bind(
        _virtual_elements(text_col),
        lambda ve: F.array(
            *[F.array_min(F.transform(ve, perm(j))) for j in range(num_perm)]
        ),
    )
    frame = ensure_parallelism(df).withColumn("minhash", sig).select(
        key, "minhash"
    )
    return _band_pairs(frame, key, num_perm, bands)


def weighted_jaccard_pairs(
    df: DataFrame, pairs: DataFrame, key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact weighted (term-frequency) Jaccard for given candidate
    pairs (a, b): ``sum_t min(tf_a(t), tf_b(t)) / sum_t max(tf_a(t),
    tf_b(t))`` — the verify stage after :func:`weighted_minhash_pairs`
    (Jaccard over multisets; equals plain Jaccard of the
    virtual-element expansion).  Cost follows the candidate count."""
    words = df.select(
        F.col(key), F.split(F.col(text_col), " ").alias("ws")
    )
    out = (
        pairs.join(
            words.withColumnRenamed(key, "a").withColumnRenamed("ws", "wa"),
            "a",
        )
        .join(
            words.withColumnRenamed(key, "b").withColumnRenamed("ws", "wb"),
            "b",
        )
    )
    union_tokens = F.array_union(
        F.array_distinct(F.col("wa")), F.array_distinct(F.col("wb"))
    )
    counts = F.transform(
        union_tokens,
        lambda t: F.struct(
            F.size(F.filter(F.col("wa"), lambda x: x == t)).alias("ca"),
            F.size(F.filter(F.col("wb"), lambda x: x == t)).alias("cb"),
        ),
    )
    inter = F.aggregate(
        counts, F.lit(0).cast("long"),
        lambda acc, s: acc + F.least(s["ca"], s["cb"]).cast("long"),
    )
    union = F.aggregate(
        counts, F.lit(0).cast("long"),
        lambda acc, s: acc + F.greatest(s["ca"], s["cb"]).cast("long"),
    )
    return out.select(
        "a", "b",
        F.round(inter / union, 6).cast("double").alias("weighted_jaccard"),
    )


def _comb2(c: str) -> Column:
    """C(c, 2) of a long column in exact integer math: c*(c-1) is even,
    so ``div`` loses nothing, where a double ``/`` rounds once c*(c-1)
    passes 2^53."""
    return F.expr(f"{c} * ({c} - 1) div 2")


def clustering_agreement(
    a: DataFrame, b: DataFrame, key: str = "doc_id",
    col_a: str = "cluster", col_b: str = "cluster",
) -> DataFrame:
    """Adjusted Rand Index between two clusterings of the same keys
    (Hubert & Arabie 1985) — the agreement metric for comparing dedup
    clusterers (label-prop vs large-star/small-star, MinHash vs
    SimHash components, exact-hash groups vs near-dup clusters): 1.0 =
    identical partitions, ~0 = chance-level agreement.

    Every pair-count term (contingency ``sum C(n_ij,2)``, marginals
    ``sum C(a_i,2)``, ``sum C(b_j,2)``, ``C(n,2)``) is an exact
    integer from map-side-combined aggregates, so any engine derives
    identical sums; only the final ARI expression divides (in the one
    shared operation order), and ``rand_index``'s numerator stays
    integer.  The expected-index product ``sa*sb`` is computed in
    doubles (it would overflow int64 near 10^10 keys — far beyond any
    driver gate; exactness of the INPUTS is what the oracle checks).

    Keys present in only one clustering are dropped (inner join —
    agreement is defined over the common domain); map unclustered
    rows to singleton labels upstream if they should count.

    Returns ONE row: (n, sum_comb_ij, sum_comb_a, sum_comb_b,
    rand_index, ari), both indices rounded to 6 decimals.

    Scale shape: one equi-join on the key, three map-side-combined
    count aggregates (contingency cells + two marginals), 1-row
    broadcasts at the end — no all-pairs anywhere despite the metric
    being defined over pairs.
    """
    j = (
        a.select(F.col(key), F.col(col_a).alias("_ca"))
        .join(
            b.select(F.col(key), F.col(col_b).alias("_cb")), key, "inner"
        )
    )
    cells = (
        j.groupBy("_ca", "_cb").agg(F.count("*").alias("_c"))
        .agg(F.sum(_comb2("_c")).alias("sum_comb_ij"),
             F.sum("_c").alias("n"))
    )
    ma = (
        j.groupBy("_ca").agg(F.count("*").alias("_c"))
        .agg(F.sum(_comb2("_c")).alias("sum_comb_a"))
    )
    mb = (
        j.groupBy("_cb").agg(F.count("*").alias("_c"))
        .agg(F.sum(_comb2("_c")).alias("sum_comb_b"))
    )
    out = cells.crossJoin(F.broadcast(ma)).crossJoin(F.broadcast(mb))
    c2n = _comb2("n")
    idx = F.col("sum_comb_ij").cast("double")
    sa = F.col("sum_comb_a").cast("double")
    sb = F.col("sum_comb_b").cast("double")
    expected = sa * sb / c2n
    maxidx = (sa + sb) / F.lit(2.0)
    ari = F.when(
        maxidx - expected == 0.0, F.lit(1.0)  # both trivial partitions
    ).otherwise((idx - expected) / (maxidx - expected))
    ri = (
        (c2n.cast("double") + 2.0 * idx - sa - sb) / c2n
    )
    return out.select(
        "n", "sum_comb_ij", "sum_comb_a", "sum_comb_b",
        F.round(ri, 6).alias("rand_index"),
        F.round(ari, 6).alias("ari"),
    )


def minhash_lsh_eval(
    df: DataFrame, threshold: float = 0.95, num_perm: int = 8,
    bands: int = 4, key: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Operating-point evaluation of the MinHash-LSH candidate
    generator against EXACT word-set Jaccard ground truth — the dedup
    family's counterpart of the ANN ``*_recall`` queries: candidates
    from :func:`minhash_candidate_pairs` at ``shingle_n=1`` (word
    sets), truth from :func:`jaccard_join` (prefix-filtered, exact by
    the PPJoin guarantee) at ``threshold``, both in the same
    similarity space.  Returns ONE row: (n_candidates, n_truth,
    n_hits, precision, recall) — recall is what the banding scheme
    promises (1-(1-J^r)^b), precision is what band collisions cost;
    measuring both in-engine is how a deployment picks num_perm/bands
    before a corpus-scale run.  Zero denominators yield NULL.

    Scale shape: the candidate side is the band equi-join, the truth
    side the rare-first prefix join — no all-pairs anywhere; the three
    1-row counts cross-join at the end (broadcast, trivial).
    """
    cand = minhash_candidate_pairs(
        df, key, text_col, num_perm=num_perm, bands=bands, shingle_n=1
    )
    truth = jaccard_join(df, key, text_col, threshold).select("a", "b")
    hits = cand.join(truth, ["a", "b"], "left_semi")
    nc = cand.agg(F.count("*").alias("n_candidates"))
    nt = truth.agg(F.count("*").alias("n_truth"))
    nh = hits.agg(F.count("*").alias("n_hits"))
    return (
        nc.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_candidates", "n_truth", "n_hits",
            F.round(
                F.when(
                    F.col("n_candidates") > 0,
                    F.col("n_hits") / F.col("n_candidates"),
                ),
                6,
            ).alias("precision"),
            F.round(
                F.when(
                    F.col("n_truth") > 0,
                    F.col("n_hits") / F.col("n_truth"),
                ),
                6,
            ).alias("recall"),
        )
    )


def _token_shingles(tokens_col: str, n: int) -> Column:
    """n-token shingles over an array<int> column — the pre-tokenized
    sequences shape.  Same construction as the word shingles: stringify
    once (bound — the cast array is materialized, not re-derived per
    shingle), then slice+join."""

    def body(toks: Column) -> Column:
        k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )

    return _bind(
        F.transform(F.col(tokens_col), lambda x: x.cast("string")), body
    )


def with_token_minhash_signature(
    df: DataFrame, tokens_col: str = "tokens", num_perm: int = 8,
    shingle_n: int = 3, out: str = "minhash",
) -> DataFrame:
    """MinHash signature over token-id shingles (array<int> input): the
    dedup primitive for pre-tokenized training sequences, where the text
    is gone and near-duplicate detection must run on token n-grams.
    Same md5-as-permutation scheme as the text variant, so the DuckDB
    oracles replicate it verbatim."""

    def perm(j: int):
        # unary lambda — a 2-arg lambda would bind the element INDEX
        return lambda s: F.md5(F.concat(F.lit(f"{j}:"), s))

    sig = _bind(
        _token_shingles(tokens_col, shingle_n),
        lambda sh: F.array(
            *[F.array_min(F.transform(sh, perm(j))) for j in range(num_perm)]
        ),
    )
    return df.withColumn(out, sig)


def token_minhash_pairs(
    df: DataFrame, key: str = "doc_id", tokens_col: str = "tokens",
    num_perm: int = 8, bands: int = 4, shingle_n: int = 3,
) -> DataFrame:
    """MinHash-LSH candidate pairs over pre-tokenized sequences."""
    sig = with_token_minhash_signature(
        ensure_parallelism(df), tokens_col, num_perm, shingle_n
    ).select(key, "minhash")
    return _band_pairs(sig, key, num_perm, bands)


# bit j of the final hash sits at position 63-j (j=0 is the sign bit);
# adding -2^63 for j=0 keeps the left-fold sum inside signed-int64 range
# at every partial (worst case -2^63 + (2^63 - 1)), so this stays exact
# under ANSI overflow checking
_SIMHASH_POW = [-(2**63)] + [2 ** (63 - j) for j in range(1, 64)]


def _simhash_col(text: Column) -> Column:
    """64-bit SimHash as pure JVM expressions (no Python workers):

    words -> md5 -> first 16 hex chars -> 64 bits (MSB-first per nibble,
    matching ``np.unpackbits`` over the first 8 digest bytes) -> per-bit
    majority vote over words -> signed int64 reinterpretation.  Every
    intermediate array is bound once (``bind_once``) so Catalyst's
    per-reference/per-element lambda re-evaluation can't multiply the
    md5 cost; the whole pipeline stays inside codegen'd JVM expressions
    — at corpus scale this removes the last Python hot path in the
    dedup family."""
    words = F.filter(F.split(text, r"\s+"), lambda w: w != "")

    def nibble_bits(v: Column) -> Column:
        return F.array(
            F.shiftright(v, 3).bitwiseAND(F.lit(1)),
            F.shiftright(v, 2).bitwiseAND(F.lit(1)),
            F.shiftright(v, 1).bitwiseAND(F.lit(1)),
            v.bitwiseAND(F.lit(1)),
        )

    def word_bits(w: Column) -> Column:
        # 16 hex chars = the digest's first 8 bytes; each nibble expands
        # MSB-first into 4 bits -> a 64-element 0/1 array per word
        # slice guards against the trailing "" element Java's limit=-1
        # regex split appends when splitting on the empty pattern
        return F.flatten(
            F.transform(
                F.slice(F.split(F.substring(F.md5(w), 1, 16), ""), 1, 16),
                lambda c: nibble_bits(F.conv(c, 16, 10).cast("int")),
            )
        )

    def assemble(bits_per_word: Column) -> Column:
        votes = F.aggregate(
            bits_per_word,
            F.array_repeat(F.lit(0).cast("long"), 64),
            lambda acc, b: F.zip_with(acc, b, lambda a, x: a + x),
        )
        n = F.size(bits_per_word)
        pow_arr = F.array(*[F.lit(p) for p in _SIMHASH_POW])
        return _bind(
            votes,
            lambda v: F.aggregate(
                F.zip_with(
                    v,
                    pow_arr,
                    lambda ones, p: F.when(ones * 2 > n, p).otherwise(F.lit(0).cast("long")),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )

    return _bind(F.transform(words, word_bits), assemble)


def with_simhash(df: DataFrame, text_col: str = "text", out: str = "simhash") -> DataFrame:
    return df.withColumn(out, _simhash_col(F.col(text_col)))


def simhash_near_dups(df: DataFrame, key: str = "doc_id", text_col: str = "text",
                      max_hamming: int = 3, bands: int = 4) -> DataFrame:
    """Near-dup pairs by SimHash with FULL recall for ``max_hamming <
    bands``: the 64-bit hash splits into ``bands`` equal bit-bands and
    pairs join on ANY equal band — by pigeonhole, <= max_hamming differing
    bits cannot touch every one of bands > max_hamming bands, so every
    qualifying pair shares at least one band key.  Verify =
    bit_count(xor) inside buckets; duplicates from multi-band matches
    collapse with one distinct.  (A single prefix bucket — the round-1
    version — missed any pair whose differing bits hit the prefix.)"""
    assert max_hamming < bands, "full recall needs bands > max_hamming"
    width = 64 // bands
    mask = (1 << width) - 1
    h = with_simhash(df, text_col).select(key, "simhash")
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), b * width)
                .bitwiseAND(F.lit(mask))
                .alias("bkey"),
            )
            for b in range(bands)
        ]
    )
    banded = h.select(key, "simhash", F.explode(band_arr).alias("bk")).select(
        key, "simhash", "bk.band", "bk.bkey"
    )
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col(f"l.{key}") < F.col(f"r.{key}")),
        )
        .withColumn("hamming", F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))))
        .filter(F.col("hamming") <= max_hamming)
        .select(F.col(f"l.{key}").alias("a"), F.col(f"r.{key}").alias("b"), "hamming")
        .distinct()
    )


def dup_clusters_star(pairs: DataFrame, a: str = "a", b: str = "b",
                      max_iter: int = 50) -> DataFrame:
    """Connected components by alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the extreme-scale counterpart of the label
    propagation in ``dup_clusters``: rounds are O(log n) on ANY graph
    (label propagation is O(diameter), fine for cliquish near-dup
    clusters but unbounded on path-shaped ones), and each round is one
    groupBy + join on the shrinking edge list.

    * large-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u
    * small-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v ≤ u

    Converged when a round leaves the edge set unchanged: edges then
    form stars around component minima, and keeper(v) = min(N(v) ∪ {v}).
    Same (doc_id, keeper) contract as ``dup_clusters``.
    """
    edges = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )

    def _canon(e: DataFrame) -> DataFrame:
        return (
            e.filter(F.col("u") != F.col("v"))
            .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
            .distinct()
        )

    def large_star(e: DataFrame) -> DataFrame:
        # reduce over the FULL neighborhood: m = min(N(u) ∪ {u});
        # emit (v, m) for strictly larger neighbors
        sym = e.select("u", "v").union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least("mn", "u").alias("m")
        )
        return _canon(
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        # each edge goes to its LARGER endpoint; m = min of the smaller
        # neighbors (= min(N(u) ∪ {u}) since they're all < u); emit
        # (v, m) for every smaller neighbor AND (u, m) itself — dropping
        # the self edge was the subtle way to lose the component
        smaller = e.select(F.col("v").alias("u"), F.col("u").alias("v"))  # v < u rows
        mins = smaller.groupBy("u").agg(F.min("v").alias("m"))
        relinked = smaller.join(mins, "u").select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        return _canon(relinked.union(mins.select("u", F.col("m").alias("v"))))

    for _ in range(max_iter):
        # localCheckpoint per round: iterative joins otherwise stack the
        # plan O(rounds) deep and recompute lazily round over round
        nxt = small_star(large_star(edges)).localCheckpoint()
        # one symmetric-difference probe (single job), not two exceptAll
        # jobs; limit(1) stops at the first differing row
        changed = (
            nxt.exceptAll(edges)
            .union(edges.exceptAll(nxt))
            .limit(1)
            .count()
        )
        edges = nxt
        if changed == 0:
            break
    else:
        import warnings

        warnings.warn(
            f"dup_clusters_star: no fixpoint in {max_iter} rounds",
            RuntimeWarning,
            stacklevel=2,
        )
    sym = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    return (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select(F.col("u").alias("doc_id"), F.least("mn", "u").alias("keeper"))
    )


def dup_clusters(pairs: DataFrame, a: str = "a", b: str = "b",
                 max_iter: int = 20) -> DataFrame:
    """Resolve near-dup candidate pairs into duplicate CLUSTERS:
    connected components over the pair graph, labeled by the smallest
    member — the keeper under the min-key survivorship rule.  Returns
    (doc_id, keeper) for every node that appears in a pair.

    Distributed iterative min-label propagation: each round joins the
    symmetric edge list against current labels and takes the per-node
    minimum, converging in O(graph diameter) rounds — near-dup clusters
    are cliquish (diameter ~1-2), so 2-3 rounds typically suffice; the
    loop stops at the first fixpoint (one count() action per round) and
    persists each generation so lineage doesn't stack.  At extreme
    scale — or on graphs that may contain long paths — use
    ``dup_clusters_star`` (large-star/small-star, O(log n) rounds);
    the (node, keeper) contract is identical.
    """
    edges = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .union(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .distinct()
        .persist()
    )
    try:
        # localCheckpoint (eager) per generation: iterative joins stack
        # the logical plan O(iterations) deep otherwise — at ~15 rounds
        # the JVM overflows just RENDERING the tree; truncating lineage
        # each round is the standard practice for iterative algorithms
        labels = (
            edges.select(F.col("src").alias("node"), F.col("src").alias("lbl"))
            .distinct()
            .localCheckpoint()
        )
        for _ in range(max_iter):
            # candidate label via each neighbor, then per-node minimum
            prop = (
                edges.join(labels, edges.dst == labels.node)
                .select(F.col("src").alias("node"), F.col("lbl"))
                .union(labels)
                .groupBy("node")
                .agg(F.min("lbl").alias("lbl"))
                .localCheckpoint()
            )
            changed = (
                prop.join(labels.withColumnRenamed("lbl", "old"), "node")
                .filter(F.col("lbl") != F.col("old"))
                .limit(1)
                .count()
            )
            labels = prop
            if changed == 0:
                break
        else:
            # a component with diameter > max_iter would silently split
            # into several keepers — make non-convergence loud
            import warnings

            warnings.warn(
                f"dup_clusters: label propagation did not reach a fixpoint "
                f"in {max_iter} rounds; labels may be non-minimal "
                f"(one cluster split across keepers)",
                RuntimeWarning,
                stacklevel=2,
            )
        return labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("keeper"))
    finally:
        edges.unpersist()


def ngram_jaccard_pairs(df: DataFrame, pairs: DataFrame, key: str = "doc_id",
                        text_col: str = "text", shingle_n: int = 2) -> DataFrame:
    """Jaccard similarity on word-shingle sets for given candidate pairs
    (a, b) — the verify stage after LSH candidate generation."""
    sh = df.select(
        F.col(key), F.array_distinct(_shingles(text_col, shingle_n)).alias("sh")
    )
    out = (
        pairs.join(sh.withColumnRenamed(key, "a").withColumnRenamed("sh", "sh_a"), "a")
        .join(sh.withColumnRenamed(key, "b").withColumnRenamed("sh", "sh_b"), "b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return out.select(
        "a", "b", F.round(inter / union, 6).cast("double").alias("jaccard")
    )


def ngram_containment_pairs(df: DataFrame, pairs: DataFrame,
                            key: str = "doc_id", text_col: str = "text",
                            shingle_n: int = 2) -> DataFrame:
    """ASYMMETRIC containment on word-shingle sets for given candidate
    pairs (a, b): ``containment_a = |A∩B| / |A|`` and the mirror
    ``containment_b = |A∩B| / |B|`` (Broder 1997's resemblance vs
    containment distinction).  The doc-in-doc verify stage Jaccard
    structurally misses: a page quoted whole inside a 100×-longer page
    has Jaccard ≈ 0.01 but containment_a = 1.0, so subset/quotation
    relations survive only under this metric (the LSH-Ensemble problem
    setting, Zhu et al. VLDB 2016).

    Candidate generation is the caller's: MinHash bands
    (:func:`minhash_candidate_pairs`) catch high-Jaccard subsets;
    shared winnowing fingerprints (:func:`winnow_overlap_pairs`) catch
    small-in-large quotations whose Jaccard is too low to band — for
    asymmetric recall feed this verifier from the fingerprint pairs.

    Scale shape: identical to :func:`ngram_jaccard_pairs` — two
    equi-joins of the candidate list against the per-doc shingle-set
    table; cost follows the candidate count, never the corpus square.
    """
    sh = df.select(
        F.col(key), F.array_distinct(_shingles(text_col, shingle_n)).alias("sh")
    )
    out = (
        pairs.join(sh.withColumnRenamed(key, "a").withColumnRenamed("sh", "sh_a"), "a")
        .join(sh.withColumnRenamed(key, "b").withColumnRenamed("sh", "sh_b"), "b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return out.select(
        "a", "b",
        F.round(inter / F.size("sh_a"), 6).cast("double")
        .alias("containment_a"),
        F.round(inter / F.size("sh_b"), 6).cast("double")
        .alias("containment_b"),
    )


def winnow_overlap_pairs(df: DataFrame, key: str = "doc_id",
                         text_col: str = "text", k: int = 8, window: int = 4,
                         min_shared: int = 2,
                         max_df: int | None = 256) -> DataFrame:
    """Substring-match near-dup detection via shared winnowing
    fingerprints (the MOSS detection scheme, Schleimer/Wilkerson/Aiken
    SIGMOD'03) — a third detection family next to MinHash (set overlap)
    and SimHash (vector distance): any pair sharing ``min_shared``
    fingerprints shares that many guaranteed exact substring matches of
    length >= k + window - 1, which catches copied PASSAGES inside
    otherwise-different documents that whole-doc sketches dilute away.

    Returns (a, b, n_shared) with a < b.

    Scale shape: fingerprint rows self-equi-join on the fingerprint
    hash — in-bucket work is O(df²) per fingerprint, so ``max_df``
    drops fingerprints appearing in more than that many docs BEFORE
    the join (boilerplate/template prints — the ones that would go
    quadratic; genuinely copied passages also carry rarer prints, which
    still surface the pair).  Bounded per-print work = no skew cliff at
    corpus scale; the drop list is recomputed with one streaming corpus
    hash pass and anti-joined back as a plain shuffled join — on a
    boilerplate-heavy corpus the set of over-frequent prints is
    unbounded, so it must never be a driver-side broadcast.
    """
    from .text import with_winnow_fingerprints

    fps = (
        with_winnow_fingerprints(
            ensure_parallelism(df), text_col, k=k, window=window
        )
        .select(F.col(key), F.explode("winnow_fp").alias("fp"))
    )
    if max_df is not None:
        # fp sets are distinct per doc, so count(*) per fp = doc freq.
        # The drop-list branch deliberately RECOMPUTES the fingerprint
        # pass instead of persisting it: the exploded (doc, fp) table is
        # near token-count cardinality, and pinning it in executor
        # storage at corpus scale costs more than a second streaming
        # JVM hash pass (and a persisted frame rebound here would only
        # be released by GC, not deterministically).
        common = (
            fps.groupBy("fp")
            .agg(F.count("*").alias("n_docs_fp"))
            .filter(F.col("n_docs_fp") > max_df)
            .select("fp")
        )
        # deliberately NOT F.broadcast(common): the over-frequent-print
        # list is unbounded on boilerplate-heavy corpora (every shared
        # template line mints one), so a hinted broadcast OOMs the
        # driver at exactly the scale max_df exists to protect.  A
        # shuffled anti join on the fp hash is skew-free (one row per
        # fp on the build side); AQE still auto-broadcasts genuinely
        # small lists under the size threshold.
        fps = fps.join(common, "fp", "left_anti")
    left, right = fps.alias("l"), fps.alias("r")
    return (
        left.join(
            right,
            (F.col("l.fp") == F.col("r.fp"))
            & (F.col(f"l.{key}") < F.col(f"r.{key}")),
        )
        .select(F.col(f"l.{key}").alias("a"), F.col(f"r.{key}").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def line_dedup(df: DataFrame, key: str = "doc_id",
               text_col: str = "text", sep: str = "\n") -> DataFrame:
    """Corpus-wide exact line deduplication (the C4 cleaning rule,
    Raffel et al. JMLR'20): every distinct line survives only in its
    FIRST occurrence corpus-wide — smallest ``(key, position)`` — and
    every later occurrence (in the same doc or any other) is dropped;
    surviving lines are re-joined in original order.  Sub-document
    granularity complements the whole-doc (exact/MinHash/SimHash) and
    passage (winnowing) families: it strips repeated boilerplate lines
    without discarding the documents that carry them.

    Returns (key, text_dedup, n_lines, n_removed) — row-preserving
    (a doc whose every line is a repeat comes back with empty text).

    Scale shape: posexplode -> one hash shuffle on the line value to
    pick the global keeper (min-struct partial agg map-side) -> one
    equi-join back on the line -> one regroup by doc.  Three shuffles,
    all on bounded rows (lines), no window over the whole corpus, no
    skew cliff: a line repeated a billion times is one group whose agg
    is a map-side-combined min.
    """
    # F.split takes a Java REGEX while concat_ws below joins with the
    # LITERAL separator — quote the pattern (\Q…\E) so metacharacter
    # separators ('|', '.') split literally instead of per-character
    sep_pat = "\\Q" + sep + "\\E"
    lines = df.select(
        F.col(key),
        F.posexplode(F.split(F.col(text_col), sep_pat)).alias("pos", "line"),
    )
    # first corpus-wide occurrence of each line value
    first = lines.groupBy("line").agg(
        F.min(F.struct(F.col(key), F.col("pos"))).alias("first")
    )
    kept = (
        lines.join(first, "line")
        .filter((F.col("first." + key) == F.col(key))
                & (F.col("first.pos") == F.col("pos")))
        .groupBy(key)
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
            ).alias("text_dedup"),
            F.count("*").alias("n_kept"),
        )
    )
    n_lines = F.size(F.split(F.col(text_col), sep_pat)).cast("long")
    return (
        df.select(F.col(key), n_lines.alias("n_lines"))
        .join(kept, key, "left")
        .select(
            F.col(key),
            F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
            F.col("n_lines"),
            (F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long").alias("n_removed"),
        )
    )


def substring_dedup(df: DataFrame, key: str = "doc_id",
                    tokens_col: str = "tokens", l: int = 12) -> DataFrame:
    """Token-level exact substring deduplication (cf. Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — the
    ExactSubstr rule): any ``l``-token span that occurs more than once
    corpus-wide survives only at its globally FIRST occurrence
    (smallest ``(key, position)``); every later occurrence — in the
    same doc or any other — has its covered positions removed.  A
    repeated region longer than ``l`` yields overlapping duplicated
    grams whose interval union removes the whole region, which is
    exactly the suffix-array behaviour the paper implements on one
    machine; here the same contract is a distributed explode+agg.

    Returns the input rows with ``tokens_dedup`` (array<int>, original
    order preserved) and ``n_removed`` added — row-preserving: a doc
    that is a verbatim repeat comes back with an empty token array,
    not dropped.

    Scale shape (never a suffix array, never all-pairs): ONE explode
    to (key, pos, md5-of-l-gram) — the md5 is computed JVM-side from a
    once-bound stringified token array; one hash shuffle on the gram
    to pick the global keeper (min-struct, map-side combined — a gram
    repeated 10⁹ times is ONE group); one equi-join back on the gram
    (each occurrence matches exactly one keeper row, no blowup); one
    regroup by doc whose ``collect_list`` is bounded by n_tok.  The
    coverage mask and filtered array are pure JVM array ops
    (``array_except`` is hash-based, ~O(n + covered)).
    """
    df = ensure_parallelism(df)
    toks = F.col(tokens_col)
    n = F.size(toks)

    def gram_hashes(ts: Column) -> Column:
        # guard: sequence(1, k) with k < 1 would run DOWNWARD (default
        # step -1); docs shorter than l simply have no grams
        return F.when(
            F.size(ts) >= l,
            F.transform(
                F.sequence(F.lit(1), F.size(ts) - F.lit(l - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice(ts, i, l))),
            ),
        ).otherwise(F.array().cast("array<string>"))

    grams = _bind(
        F.transform(toks, lambda x: x.cast("string")), gram_hashes
    )
    occ = df.select(
        F.col(key), F.posexplode(grams).alias("pos", "g")
    )
    first = occ.groupBy("g").agg(
        F.min(F.struct(F.col(key), F.col("pos"))).alias("first")
    )
    dup_starts = (
        occ.join(first, "g")
        .filter(
            (F.col("first." + key) != F.col(key))
            | (F.col("first.pos") != F.col("pos"))
        )
        .groupBy(key)
        .agg(F.collect_list("pos").alias("_starts"))
    )
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.coalesce(F.col("_starts"), F.array().cast("array<int>")),
                lambda s: F.sequence(s, s + F.lit(l - 1)),
            )
        )
    )
    # array_except preserves left-operand order, so kept positions come
    # out ascending and the transform rebuilds the sequence in order
    kept = _bind(
        covered,
        lambda cov: F.transform(
            F.array_except(
                F.when(n > 0, F.sequence(F.lit(0), n - 1))
                .otherwise(F.array().cast("array<int>")),
                cov,
            ),
            lambda p: F.element_at(toks, p + F.lit(1)),
        ),
    )
    return (
        df.join(dup_starts, key, "left")
        .withColumn("tokens_dedup", kept)
        .withColumn(
            "n_removed", (n - F.size(F.col("tokens_dedup"))).cast("int")
        )
        .drop("_starts")
    )


def auto_sign_bits(n_rows: int, target_bucket_rows: int = 64,
                   lo: int = 1, hi: int = 30) -> int:
    """Bits per sign-LSH table so the EXPECTED bucket occupancy
    (n / 2^bits under random hyperplanes) stays ~``target_bucket_rows``:
    in-bucket verification work is sum-over-buckets of occupancy², so a
    fixed bit width goes quadratic as the corpus grows — 4 bits is fine
    at 2k vectors and a scale-killer at 10⁹.  More bits lower per-table
    recall; compensate with more tables (standard SRP trade, Charikar
    STOC'02)."""
    import math

    if n_rows <= 0:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(max(n_rows / target_bucket_rows, 2.0)))))


def auto_sign_tables(bits: int, threshold: float,
                     target_recall: float = 0.9,
                     lo: int = 1, hi: int = 64) -> int:
    """Tables needed so a pair AT the cosine ``threshold`` boundary is
    expected to collide in >= 1 table with prob >= ``target_recall``.

    SRP collision math (Charikar STOC'02): a pair at angle θ agrees on
    one hyperplane sign with p = 1 − θ/π, on a whole ``bits``-wide
    signature with p^bits, and in at least one of T independent tables
    with 1 − (1 − p^bits)^T — so T = ceil(ln(1−target) / ln(1−p^bits)).
    Pairs safely above the threshold do strictly better; ``bits`` and
    ``tables`` now BOTH follow the corpus instead of ``tables`` staying
    a fixed 2 while ``auto_sign_bits`` grows (recall at a given
    threshold depends on both — more bits per table means fewer
    boundary pairs survive a single table)."""
    import math

    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    per_table = p ** bits
    if per_table >= 1.0:
        return lo
    if per_table <= 0.0:
        return hi
    need = math.log(1.0 - target_recall) / math.log(1.0 - per_table)
    return max(lo, min(hi, math.ceil(need)))


def sign_recall(bits: int, tables: int, threshold: float) -> float:
    """Expected probability that a pair AT the cosine ``threshold``
    boundary collides in at least one of ``tables`` sign-LSH tables of
    ``bits`` hyperplanes each: 1 − (1 − p^bits)^tables with
    p = 1 − θ/π (Charikar STOC'02).  The inverse of
    :func:`auto_sign_tables` — use it to audit what recall a capped or
    explicit table count actually buys."""
    import math

    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    return 1.0 - (1.0 - p ** bits) ** tables


def sign_hyperplanes(tables: int, bits: int, dim: int, seed: int = 42) -> np.ndarray:
    """Seeded Gaussian random hyperplanes, shape (tables, bits, dim) —
    the classic signed-random-projection family.  Deterministic for a
    given seed, so an external oracle can reproduce the exact buckets;
    axis-aligned sign-of-leading-dims (the old scheme) biased recall
    toward whatever those dimensions happened to encode."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((tables, bits, dim))


def embedding_near_dups(df: DataFrame, key: str = "vec_id", vec_col: str = "embedding",
                        threshold: float = 0.95, tables: int | None = None,
                        bits: int | None = None, seed: int = 42,
                        target_bucket_rows: int = 64,
                        target_recall: float = 0.9,
                        n_rows: int | None = None,
                        dim: int | None = None) -> DataFrame:
    """Embedding-cosine near-dup: multi-table signed-random-projection
    LSH + in-bucket cosine verify.  Table t buckets on the sign pattern
    of ``bits`` seeded Gaussian hyperplane projections; a pair is a
    candidate if it collides in ANY table, so near-dups that land on
    opposite sides of one table's hyperplanes still surface through
    another (recall grows ~(1 - (1-p^bits)^tables)).  Work stays
    confined to buckets; multi-table duplicates collapse with one
    distinct on the verified pairs.

    ``bits=None`` (default) auto-scales to the corpus: a ``count()``
    and a first-row dim peek feed ``auto_sign_bits`` so expected bucket
    occupancy stays ~``target_bucket_rows`` — the fixed default that
    was quadratic at corpus scale is gone.  NOTE both probes execute
    ``df``'s full lineage — O(1) *results*, but on a deeply derived
    input they are two extra upstream passes; for such inputs pass
    ``n_rows`` (approximate corpus size; feeds ``auto_sign_bits``) and
    ``dim`` (embedding width) so the plan builds without executing the
    lineage.  Explicit ``bits`` also skips the count and pins the
    layout for cross-engine oracle comparison.

    ``tables=None`` (default) derives the table count from the final
    bit width via :func:`auto_sign_tables`, so expected recall for a
    pair AT the ``threshold`` boundary stays >= ``target_recall`` as
    ``bits`` grows with the corpus (the round-3 auto-``bits`` alone
    silently traded recall for bucket occupancy).  Pass explicit
    ``tables`` to pin cost/recall manually."""
    if dim is None:
        dim_row = df.select(F.size(F.col(vec_col)).alias("d")).filter(F.col("d") > 0).first()
        dim = int(dim_row["d"]) if dim_row else 0
    if bits is None:
        bits = auto_sign_bits(n_rows if n_rows is not None else df.count(),
                              target_bucket_rows)
    if tables is None:
        tables = auto_sign_tables(bits, threshold, target_recall)
        achieved = sign_recall(bits, tables, threshold)
        if achieved < target_recall - 1e-9:
            # the SRP formula wanted more tables than the cap allows:
            # wide-angle thresholds collapse p^bits, so boundary recall
            # is unreachable AND every extra table multiplies candidate
            # volume (~tables * n * expected_bucket / 2 pairs to
            # verify) — at 20k rows / threshold 0.3 this is already a
            # many-minute query.  Out of sign-LSH's working regime.
            import warnings

            warnings.warn(
                f"embedding_near_dups: auto tables hit the cap "
                f"({tables}) — boundary-pair recall {achieved:.2f} < "
                f"target {target_recall} at bits={bits}, "
                f"threshold={threshold}.  Wide-angle thresholds are "
                "outside sign-LSH's working regime (p^bits collapses; "
                "candidate volume scales with the table count).  Use "
                "a tighter threshold, explicit (bits, tables), or "
                "IVF-bucketed candidates (embedding_near_dups_ivf) "
                "for wide-angle similarity at scale.",
                RuntimeWarning,
                stacklevel=2,
            )
    planes = sign_hyperplanes(tables, bits, dim, seed)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    def sig(t: int) -> Column:
        def proj(i: int) -> Column:
            plane = F.array(*[F.lit(float(c)) for c in planes[t, i]])
            dot = F.aggregate(
                F.zip_with(F.col("v"), plane, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            return F.when(dot > 0, "1").otherwise("0")

        return F.concat_ws("", *[proj(i) for i in range(bits)])

    base = df.select(F.col(key), v.alias("v"))
    band_arr = F.array(
        *[
            F.struct(F.lit(t).alias("tbl"), sig(t).alias("bucket"))
            for t in range(tables)
        ]
    )
    banded = base.select(key, "v", F.explode(band_arr).alias("bk")).select(
        key, "v", "bk.tbl", "bk.bucket"
    )
    l, r = banded.alias("l"), banded.alias("r")
    dot = F.aggregate(
        F.zip_with(F.col("l.v"), F.col("r.v"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x))  # noqa: E731
    cos = dot / (norm(F.col("l.v")) * norm(F.col("r.v")))
    return (
        l.join(
            r,
            (F.col("l.tbl") == F.col("r.tbl"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{key}") < F.col(f"r.{key}")),
        )
        .withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select(F.col(f"l.{key}").alias("a"), F.col(f"r.{key}").alias("b"), "cosine")
        .distinct()
    )


def semantic_dedup(df: DataFrame, centroids: DataFrame, key: str = "vec_id",
                   vec_col: str = "embedding",
                   threshold: float = 0.95) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication over an embedding column — cluster vectors to their
    max-cosine centroid cell, then WITHIN each cell drop every vector
    that has an earlier (smaller ``key``) cell-mate with cosine
    similarity >= ``threshold``.  Keep-first-occurrence semantics, the
    embedding-space analogue of ``line_dedup``: no transitive closure,
    one deterministic pass.

    Returns (key, cell, max_sim_earlier, keep) — row-preserving;
    ``max_sim_earlier`` is null for the first vector of a cell /
    vectors with no earlier cell-mate, ``keep`` is 1/0.

    Scale shape: assignment broadcasts the k-row centroid table; the
    in-cell self-join is an equi-join on cell whose cost is
    sum(cell_size^2) — the SemDeDup regime, where k is chosen
    proportional to n so cells stay O(n/k) bounded (the paper runs
    k=11k on 100M embeddings).  Skewed cells would re-cluster with a
    larger k; nothing here is corpus-quadratic.
    """
    from .similarity import cosine_similarity, ivf_assign, _to_double

    assigned = ivf_assign(df, centroids, key=key, vec_col=vec_col).select(
        F.col(key), F.col("cell")
    )
    vecs = df.select(F.col(key), _to_double(F.col(vec_col)).alias("v"))
    left = assigned.join(vecs, key)
    right = left.select(
        F.col(key).alias("rkey"), F.col("cell").alias("rcell"),
        F.col("v").alias("rv"),
    )
    earlier_sims = (
        left.join(right, (F.col("cell") == F.col("rcell"))
                  & (F.col("rkey") < F.col(key)))
        .groupBy(key)
        .agg(F.max(cosine_similarity(F.col("v"), F.col("rv")))
             .alias("max_sim_earlier"))
    )
    return (
        assigned.join(earlier_sims, key, "left")
        .select(
            F.col(key), F.col("cell"),
            F.col("max_sim_earlier"),
            F.when(F.col("max_sim_earlier") >= threshold, F.lit(0))
            .otherwise(F.lit(1)).alias("keep"),
        )
    )


def embedding_near_dups_ivf(df: DataFrame, centroids: DataFrame,
                            key: str = "vec_id", vec_col: str = "embedding",
                            threshold: float = 0.95,
                            n_probe: int = 2) -> DataFrame:
    """Embedding-cosine near-dup pairs via IVF-bucketed candidates —
    the wide-angle scale path :func:`embedding_near_dups` points to
    when sign-LSH leaves its working regime.  Sign-LSH recall at a
    LOW cosine threshold needs a table count that grows faster than
    the verify budget (p^bits collapses), but an IVF coarse quantizer
    does not care about the angle: candidates are pairs that share any
    of their ``n_probe`` max-cosine centroid cells
    (:func:`~gbdc_spark.operators.similarity.ivf_multiprobe_assign`),
    then exact cosine verifies each candidate, so precision is always
    1.0 and recall is governed by cell geometry, not threshold.

    Returns (a, b, cosine) with a < b, one row per verified pair
    (multi-probe duplicates collapse with one distinct).

    Scale shape: assignment is one broadcast nested-loop pass over the
    k-row centroid table (map-only); the candidate join is an
    equi-join on cell whose cost is sum over probed cells of
    C(cell_size, 2) — the SemDeDup regime, bounded by choosing k
    proportional to n so cells stay O(n/k) (Abbas et al. 2023 run
    k=11k on 100M embeddings; a fixed k makes this corpus-quadratic,
    so scale k with the corpus).  Nothing here depends on the
    threshold: the same candidate set serves any verify angle.
    """
    from .similarity import ivf_multiprobe_assign

    probes = ivf_multiprobe_assign(df, centroids, n_probe=n_probe,
                                   key=key, vec_col=vec_col)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    vecs = df.select(F.col(key), v.alias("v"))
    banded = probes.select(key, "cell").join(vecs, key)
    l, r = banded.alias("l"), banded.alias("r")
    dot = F.aggregate(
        F.zip_with(F.col("l.v"), F.col("r.v"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x))  # noqa: E731
    cos = dot / (norm(F.col("l.v")) * norm(F.col("r.v")))
    return (
        l.join(
            r,
            (F.col("l.cell") == F.col("r.cell"))
            & (F.col(f"l.{key}") < F.col(f"r.{key}")),
        )
        .withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select(F.col(f"l.{key}").alias("a"), F.col(f"r.{key}").alias("b"), "cosine")
        .distinct()
    )


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    key: str = "doc_id",
    cluster_out: str = "cluster",
    keep_out: str = "keep",
    clusterer=None,
) -> DataFrame:
    """Quality-aware survivorship: resolve near-dup candidate ``pairs``
    into clusters and keep, per cluster, the row MAXIMIZING
    ``quality_col`` (ties break to the smallest ``key``) — what
    production dedup actually ships, vs the min-key rule of
    :func:`dup_clusters` which can keep the worst copy of a page.
    Docs in no pair form singleton clusters and keep themselves.

    ``quality_col`` must be numeric (length, an LM score, a composed
    quality signal...).  Returns ``df``'s columns plus ``cluster_out``
    (the cluster's min-key label) and boolean ``keep_out`` — rows are
    flagged, not dropped, same audit contract as the filter family.

    ``clusterer`` defaults to :func:`dup_clusters` (min-label
    propagation); pass :func:`dup_clusters_star` for graphs that may
    contain long paths.

    Scale shape: the cluster labeling is the chosen clusterer's cost;
    on top of it, ONE left join of the corpus against the pair-node
    labels (pair nodes ≪ corpus), one per-cluster argmax aggregate
    (map-side combined min of a (-quality, key) struct), and one
    equi-join of that (≤ #clusters rows) back — no windows over the
    corpus, no Python.
    """
    labeler = clusterer or dup_clusters
    labels = labeler(pairs)
    if key != "doc_id":
        labels = labels.withColumnRenamed("doc_id", key)
    lbl = (
        df.join(labels, key, "left")
        .withColumn(cluster_out, F.coalesce(F.col("keeper"), F.col(key)))
        .drop("keeper")
    )
    best = lbl.groupBy(cluster_out).agg(
        F.min(
            F.struct(
                (-F.col(quality_col)).alias("nq"), F.col(key).alias("k")
            )
        ).alias("_b")
    )
    return (
        lbl.join(best, cluster_out)
        .withColumn(keep_out, F.col(key) == F.col("_b.k"))
        .drop("_b")
        .select(*df.columns, cluster_out, keep_out)
    )


def dedup_against(
    new_df: DataFrame,
    snapshot_df: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    exact_out: str = "dup_exact",
    near_out: str = "dup_near",
) -> DataFrame:
    """Incremental dedup: flag rows of a NEW batch that duplicate an
    EXISTING corpus snapshot — the recurring-crawl shape (each dump is
    deduped against everything already ingested) that the within-batch
    operators (:func:`exact_dedup_groups`, :func:`minhash_candidate_pairs`)
    don't cover.

    Two independent boolean flags per new row (flag, don't drop):

    * ``exact_out`` — md5(``text_col``) appears in the snapshot.
    * ``near_out`` — any MinHash-LSH band of the new row's signature
      collides with a snapshot band (same signature scheme as
      :func:`minhash_candidate_pairs`, so thresholds tune identically).

    Scale shape: both probes are equi-joins against DISTINCT snapshot
    keys — a left join on the 1-column hash set and a left-semi join on
    the (band, bkey) set — shuffled, NOT broadcast: the snapshot is
    corpus-scale and may be orders of magnitude larger than the batch.
    Signatures are the pure-JVM md5 folds; nothing crosses into Python
    and nothing is driver-side.  At 100 TB the snapshot side would be
    the persisted signature/hash tables of the prior ingest, read
    directly rather than recomputed (compute them with
    :func:`with_minhash_signature` at ingest time and store alongside).
    """
    old_hashes = snapshot_df.select(
        F.md5(F.col(text_col)).alias("_h")
    ).distinct()
    new_hashed = new_df.withColumn("_h", F.md5(F.col(text_col)))
    exact = new_hashed.join(
        old_hashes.withColumn("_hit", F.lit(True)), "_h", "left"
    ).select(*new_df.columns, F.coalesce("_hit", F.lit(False)).alias(exact_out))

    new_sig = with_minhash_signature(
        ensure_parallelism(new_df), text_col, num_perm, shingle_n
    ).select(key, "minhash")
    old_sig = with_minhash_signature(
        ensure_parallelism(snapshot_df), text_col, num_perm, shingle_n
    ).select(key, "minhash")
    old_bands = _banded(old_sig, key, num_perm, bands).select(
        "band", "bkey"
    ).distinct()
    near_keys = (
        _banded(new_sig, key, num_perm, bands)
        .join(old_bands, ["band", "bkey"], "left_semi")
        .select(key)
        .distinct()
        .withColumn("_near", F.lit(True))
    )
    return exact.join(near_keys, key, "left").select(
        *new_df.columns,
        exact_out,
        F.coalesce("_near", F.lit(False)).alias(near_out),
    )


def span_dedup(df: DataFrame, key: str = "doc_id",
               text_col: str = "text", sep: str = ". ",
               n_span: int = 3) -> DataFrame:
    """Corpus-wide duplicated-SPAN removal — the C4 cleaning rule at its
    published granularity (Raffel et al. JMLR'20 §2.2: "we removed any
    three-sentence span that occurred more than once in the data set").
    The text is split into units on the LITERAL ``sep`` (sentences with
    the default ``". "``; pass ``sep=" "`` for word granularity on
    punctuation-free corpora), every window of ``n_span`` consecutive
    units is hashed, and a span seen earlier corpus-wide — smallest
    ``(key, position)`` wins — has its covered unit positions removed
    from the later occurrence (overlapping duplicated windows union,
    so a repeated region longer than ``n_span`` is removed whole, the
    same interval-union contract as :func:`substring_dedup`).
    Surviving units re-join with ``sep`` in original order.

    Returns (key, text_dedup, n_units, n_removed) — row-preserving.

    Scale shape: identical to :func:`substring_dedup` — one posexplode
    to (key, pos, md5-of-span), one min-struct hash shuffle on the
    span hash (map-side combined; a span repeated 10⁹ times is one
    group), one equi-join back, one bounded per-doc regroup; coverage
    mask and rebuild are pure JVM array ops.  No corpus-wide window,
    no Python workers.
    """
    df = ensure_parallelism(df)
    sep_pat = "\\Q" + sep + "\\E"
    units = F.split(F.col(text_col), sep_pat)
    n = F.size(units)

    def span_hashes(us: Column) -> Column:
        # sequence(1, k) with k < 1 runs DOWNWARD (step -1): docs with
        # fewer than n_span units have no spans to hash
        return F.when(
            F.size(us) >= n_span,
            F.transform(
                F.sequence(F.lit(1), F.size(us) - F.lit(n_span - 1)),
                lambda i: F.md5(
                    F.concat_ws("\x1f", F.slice(us, i, n_span))
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    spans = _bind(units, span_hashes)
    occ = df.select(F.col(key), F.posexplode(spans).alias("pos", "g"))
    first = occ.groupBy("g").agg(
        F.min(F.struct(F.col(key), F.col("pos"))).alias("first")
    )
    dup_starts = (
        occ.join(first, "g")
        .filter(
            (F.col("first." + key) != F.col(key))
            | (F.col("first.pos") != F.col("pos"))
        )
        .groupBy(key)
        .agg(F.collect_list("pos").alias("_starts"))
    )
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.coalesce(F.col("_starts"), F.array().cast("array<int>")),
                lambda s: F.sequence(s, s + F.lit(n_span - 1)),
            )
        )
    )
    # array_except preserves left order -> kept positions ascending
    kept_pos = _bind(
        covered,
        lambda cov: F.array_except(
            F.when(n > 0, F.sequence(F.lit(0), n - 1))
            .otherwise(F.array().cast("array<int>")),
            cov,
        ),
    )
    return (
        df.join(dup_starts, key, "left")
        .withColumn("_keptpos", kept_pos)
        .withColumn(
            "text_dedup",
            F.concat_ws(
                sep,
                F.transform(
                    F.col("_keptpos"),
                    lambda p: F.element_at(units, p + F.lit(1)),
                ),
            ),
        )
        .withColumn("n_units", n.cast("long"))
        .withColumn(
            "n_removed",
            (n - F.size(F.col("_keptpos"))).cast("long"),
        )
        .select(key, "text_dedup", "n_units", "n_removed")
    )


def _bloom_bits(item: Column, k: int, m: int) -> Column:
    """Array of k (block, mask) structs for an item: bit position j =
    u32(md5(j:item)) mod m, stored in 32-bit blocks (mask stays a
    small positive long — no sign games at bit 63 in either engine)."""

    def pos(j: int) -> Column:
        u = F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{j}:"), item)), 1, 8), 16, 10
        ).cast("long")
        return u % F.lit(m)

    return F.array(
        *[
            F.struct(
                (pos(j) / F.lit(32)).cast("int").alias("block"),
                # shiftleft needs a LITERAL shift amount, so the mask
                # is pow(2, bit) — exact in a double up to 2^52, cast
                # back to long
                F.pow(F.lit(2.0), (pos(j) % 32).cast("double"))
                .cast("long").alias("mask"),
            )
            for j in range(k)
        ]
    )


def bloom_build(df: DataFrame, item_col: str = "text",
                m: int = 1 << 16, k: int = 4) -> DataFrame:
    """Distributed Bloom-filter build — the membership structure
    Dolma-scale pipelines use for cross-snapshot dedup and eval-set
    decontamination when the snapshot no longer fits a join: each
    item sets k md5-derived bits in an m-bit filter; the filter
    materializes as a (block, bits) table of 32-bit blocks (only
    non-zero blocks stored), so it IS a DataFrame — writable as a tiny
    parquet artifact, broadcastable onto any probe.

    Returns (block int, bits long) with bits in [0, 2^32).

    Scale shape: one explode to k bit coordinates per item, ONE
    map-side-combined bit_or aggregate on the block id (at most m/32
    groups regardless of corpus size — a billion items collapse into
    the fixed-size filter).  Deterministic: md5 positions, exact
    integer bit math.
    """
    return (
        df.select(F.explode(_bloom_bits(F.col(item_col), k, m)).alias("b"))
        .groupBy(F.col("b.block").alias("block"))
        .agg(F.bit_or("b.mask").alias("bits"))
    )


def bloom_probe(df: DataFrame, bloom: DataFrame, item_col: str = "text",
                key: str = "doc_id", m: int = 1 << 16,
                k: int = 4) -> DataFrame:
    """Probe a Bloom filter built by :func:`bloom_build` (same m, k):
    an item is a ``member`` iff ALL k of its bits are set — no false
    negatives, false positives at the standard (1 − e^{−kn/m})^k rate,
    which is the trade that lets a trillion-doc snapshot answer
    membership from a filter measured in gigabytes.

    Returns the input keys with ``member`` added — row-preserving.

    Scale shape: explode to k coordinates, ONE equi-join on block
    against the (≤ m/32 row) filter table — broadcast by size — then a
    per-key partial-agg AND.  A missing block row is an unset block
    (left join, null-safe false).
    """
    coords = df.select(
        F.col(key), F.explode(_bloom_bits(F.col(item_col), k, m)).alias("b")
    ).select(key, F.col("b.block").alias("block"), F.col("b.mask").alias("mask"))
    hit = (
        coords.join(F.broadcast(bloom), "block", "left")
        .withColumn(
            "_hit",
            F.coalesce(
                (F.col("bits").bitwiseAND(F.col("mask")) != 0), F.lit(False)
            ),
        )
        .groupBy(key)
        .agg(F.min("_hit").alias("member"))
    )
    return df.select(key).join(hit, key)


def jaccard_join(
    df: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT-threshold word-set Jaccard similarity self-join via prefix
    filtering (PPJoin family, Xiao et al. WWW'08) — the exact
    counterpart of the MinHash band join: every pair at Jaccard >=
    ``threshold`` is returned with its exact similarity, no
    probabilistic recall.

    The prefix-filter guarantee: order each doc's token SET by a global
    total order (document frequency ascending, token ascending — rarest
    first) and keep only the first ``|x| - ceil(t*|x|) + 1`` tokens;
    two sets with Jaccard >= t MUST share a prefix token, so the
    candidate join runs on rare-prefix postings instead of a full
    inverted index — the frequency-ascending order is precisely what
    keeps posting lists short (a stopword never lands in a prefix
    unless a doc is nearly all stopwords).  Candidates are verified
    with the exact intersection (union via |A|+|B|-inter, so both
    engines compare identical integers against the threshold).

    Returns (a, b, jaccard) with a < b by key.  Shape at scale: one
    doc-frequency aggregate, one ordered re-assembly per doc, one
    equi-join on prefix tokens (the shuffle — Zipf-safe by the
    rare-first prefix), one verification join per candidate pair.
    """
    t = float(threshold)
    toks = df.select(
        F.col(key), F.array_distinct(F.split(F.col(text_col), r"\s+")).alias("ts")
    ).select(
        key, F.array_remove(F.col("ts"), "").alias("ts")
    )
    occ = toks.select(F.col(key), F.explode("ts").alias("tok"))
    freq = occ.groupBy("tok").agg(F.count("*").alias("c"))
    ordered = (
        occ.join(freq, "tok")
        .groupBy(key)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("c"), F.col("tok")))
                ),
                lambda s: s["tok"],
            ).alias("ots")
        )
    )
    n = F.size("ots")
    plen = (n - F.ceil(F.lit(t) * n) + 1).cast("int")
    prefix = ordered.select(
        F.col(key), F.explode(F.slice("ots", 1, plen)).alias("tok")
    )
    pa = prefix.select(F.col(key).alias("a"), "tok")
    pb = prefix.select(F.col(key).alias("b"), "tok")
    cand = (
        pa.join(pb, "tok")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    ta = ordered.select(F.col(key).alias("a"), F.col("ots").alias("ta"))
    tb = ordered.select(F.col(key).alias("b"), F.col("ots").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size("ta") + F.size("tb") - inter
    return (
        cand.join(ta, "a")
        .join(tb, "b")
        .select(
            "a",
            "b",
            F.round(inter / union, 6).alias("jaccard"),
            (inter / union).alias("_j"),
        )
        .filter(F.col("_j") >= F.lit(t))
        .drop("_j")
    )
