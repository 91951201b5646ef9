"""Distributed spherical k-means: deterministic, cosine-inertia
monotone-improving vs the untrained seed, IVF-compatible output."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gbdc_spark.operators import similarity as sim

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def _mean_cell_cosine(df, cents):
    out = sim.ivf_assign(df, cents)
    return out.agg(F.avg("cell_cosine")).first()[0]


def test_kmeans_improves_over_seed_and_is_deterministic(spark, emb):
    seed = sim.centroids_from_rows(emb, list(range(8)))
    trained = sim.kmeans_fit(emb, k=8, iters=4)
    base = _mean_cell_cosine(emb, seed)
    better = _mean_cell_cosine(emb, trained)
    assert better > base  # Lloyd's improves the assignment objective

    again = sim.kmeans_fit(emb, k=8, iters=4)
    a = {r["cell"]: list(r["centroid"]) for r in trained.collect()}
    b = {r["cell"]: list(r["centroid"]) for r in again.collect()}
    assert set(a) == set(b)
    for c in a:
        np.testing.assert_allclose(a[c], b[c], rtol=1e-12)


def test_kmeans_centroids_unit_norm_and_ivf_compatible(spark, emb):
    cents = sim.kmeans_fit(emb, k=4, iters=2)
    rows = cents.collect()
    assert len(rows) <= 4
    for r in rows:
        assert np.linalg.norm(r["centroid"]) == pytest.approx(1.0, rel=1e-9)
    # plugs straight into the existing ANN path
    q = [float(x) for x in emb.first()["embedding"]]
    top = sim.ivf_topk(emb, cents, q, k=3, n_probe=2).collect()
    assert len(top) == 3


def test_ivf_index_probe_matches_direct_and_prunes(spark, emb, tmp_path):
    """ivf_index_write + ivf_probe must (a) return the same top-k as the
    direct two-stage search and (b) plan a partition-PRUNED scan — the
    cell filter has to hit the partitioning column, not the data."""
    cents = sim.centroids_from_rows(emb, list(range(8)))
    q = [float(x) for x in emb.first()["embedding"]]
    path = str(tmp_path / "ivf_idx")
    sim.ivf_index_write(emb, cents, path)

    direct = sim.ivf_topk(emb, cents, q, k=5, n_probe=2).collect()
    probed = sim.ivf_probe(spark, path, cents, q, k=5, n_probe=2).collect()
    assert [(r["vec_id"], r["cosine"]) for r in direct] == [
        (r["vec_id"], r["cosine"]) for r in probed
    ]

    cells = sim._probe_cells(cents, q, n_probe=2)
    scan = spark.read.parquet(path).filter(F.col("cell").isin(cells))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan.replace("#", " #").replace(
        "cell #", "cell#"
    ) or "PartitionFilters" in plan
    # the pruned scan must read strictly fewer partition dirs than exist
    import os

    n_dirs = len([d for d in os.listdir(path) if d.startswith("cell=")])
    assert n_dirs > 2  # index actually spread over cells
    assert scan.select("cell").distinct().count() == 2


def test_ivf_topk_reuses_precomputed_assignment(spark, emb):
    cents = sim.centroids_from_rows(emb, list(range(8)))
    q = [float(x) for x in emb.first()["embedding"]]
    assigned = sim.ivf_assign(emb, cents).cache()
    a = sim.ivf_topk(emb, cents, q, k=5, n_probe=2).collect()
    b = sim.ivf_topk(emb, cents, q, k=5, n_probe=2, assigned=assigned).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_pq_encode_matches_numpy_and_self_distance_zero(spark, emb):
    cb = sim.pq_codebook_from_rows(emb, list(range(8)), m=4)
    assert cb.count() == 32  # m=4 subspaces x 8 codes
    codes = sim.pq_encode(emb, cb, m=4).collect()
    got = {(r.vec_id, r.j): (r.code, r.dist) for r in codes}
    rows = sorted(
        (r.vec_id, [float(x) for x in r.embedding]) for r in emb.collect()
    )
    V = np.array([v for _, v in rows], dtype=np.float64).reshape(-1, 4, 16)
    CB = V[:8]  # codebook rows are vec_id 0..7
    for i, (vid, _) in enumerate(rows):
        for j in range(4):
            d = np.round(((V[i, j] - CB[:, j]) ** 2).sum(-1), 6)
            code = int(d.argmin())  # first min = smallest code, the tie rule
            assert got[(vid, j)][0] == code, (vid, j)
    # a codebook member quantizes to itself with distance 0 everywhere
    for j in range(4):
        assert got[(3, j)] == (3, 0.0)


def test_pq_adc_ranks_query_vector_first(spark, emb):
    cb = sim.pq_codebook_from_rows(emb, list(range(8)), m=4)
    codes = sim.pq_encode(emb, cb, m=4)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    top = sim.pq_adc_topk(codes, cb, q, k=5, m=4).collect()
    assert top[0]["vec_id"] == 0 and top[0]["adist"] == 0.0
    adists = [r["adist"] for r in top]
    assert adists == sorted(adists)


def test_ivfpq_residual_codebook_member_reconstructs_exactly(spark, emb):
    cents = sim.centroids_from_rows(emb, list(range(8)))
    res = sim.with_residuals(emb, cents)
    # every vector's residual cell matches ivf_assign
    cells = {r.vec_id: r.cell for r in sim.ivf_assign(emb, cents).collect()}
    got = {r.vec_id: r.cell for r in res.select("vec_id", "cell").collect()}
    assert got == cells
    # codebook rows quantize to themselves -> their own query scores 0
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    top = sim.ivfpq_topk(emb, cents, list(range(8)), q, k=5, n_probe=2, m=4).collect()
    assert top[0]["vec_id"] == 0 and top[0]["adist"] == 0.0
    adists = [r["adist"] for r in top]
    assert adists == sorted(adists)


def test_ivfpq_candidates_restricted_to_probed_cells(spark, emb):
    cents = sim.centroids_from_rows(emb, list(range(8)))
    q = [float(x) for x in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    probed = set(sim._probe_cells(cents, q, 2))
    cells = {r.vec_id: r.cell for r in sim.ivf_assign(emb, cents).collect()}
    top = sim.ivfpq_topk(emb, cents, list(range(8)), q, k=5, n_probe=2, m=4).collect()
    assert all(cells[r.vec_id] in probed for r in top)


def test_pq_refinement_improves_recall_and_keeps_empty_codes(spark, emb):
    cb0 = sim.pq_codebook_from_rows(emb, list(range(8)), m=4)
    cb1 = sim.pq_codebook_refine(emb, cb0, m=4, rounds=1)
    assert cb1.count() == 32  # no code lost, empty codes keep old entry
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    qcol = F.array(*[F.lit(float(x)) for x in q])
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    exact = {
        r.vec_id
        for r in emb.select("vec_id", F.round(sim._l2sq(v, qcol), 6).alias("d"))
        .orderBy("d", "vec_id").limit(5).collect()
    }

    def recall(cb):
        codes = sim.pq_encode(emb, cb, m=4)
        top = {r.vec_id for r in sim.pq_adc_topk(codes, cb, q, k=5, m=4).collect()}
        return len(exact & top) / 5.0

    r0, r1 = recall(cb0), recall(cb1)
    assert r1 >= r0  # Lloyd step non-degrading (0.4 -> 0.8 at sf0.01)
    # training genuinely moved the occupied codes
    moved = (
        cb0.alias("a")
        .join(cb1.alias("b"), ["j", "code"])
        .filter(F.col("a.subcentroid") != F.col("b.subcentroid"))
        .count()
    )
    assert moved > 0


def test_embedding_decontam_flags_near_eval(spark):
    from gbdc_spark.operators.similarity import embedding_decontam

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),     # identical to eval 10
            (2, [0.9, 0.1, 0.0]),     # close to eval 10
            (3, [0.0, 0.0, 1.0]),     # orthogonal to both evals
            (4, [0.5, 0.5, 0.0]),     # equidistant tie between 10 and 11
        ],
        "vec_id long, embedding array<double>",
    )
    evals = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0]), (11, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: r
        for r in embedding_decontam(corpus, evals, threshold=0.95).collect()
    }
    assert out[1]["contaminated"] and out[1]["max_eval_cosine"] == 1.0
    assert out[1]["nearest_eval_id"] == 10
    assert out[2]["contaminated"]          # cos ~0.9939
    assert not out[3]["contaminated"] and out[3]["max_eval_cosine"] == 0.0
    # tie on cosine -> smallest eval id
    assert out[4]["nearest_eval_id"] == 10 and not out[4]["contaminated"]
    # row-preserving
    assert sorted(out) == [1, 2, 3, 4]


def test_embedding_decontam_empty_eval(spark):
    from gbdc_spark.operators.similarity import embedding_decontam

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    evals = spark.createDataFrame([], "vec_id long, embedding array<double>")
    row = embedding_decontam(corpus, evals).collect()[0]
    assert row["contaminated"] is False
    assert row["max_eval_cosine"] is None and row["nearest_eval_id"] is None


def test_hard_negatives_band_and_rank(spark):
    # anchors get their most-similar OTHER vectors inside [lo, hi):
    # near-duplicates (cos >= hi) and dissimilar vectors (< lo) never
    # appear, ranks are contiguous from 1, capped at k
    from gbdc_spark.operators.similarity import (
        centroids_from_rows, hard_negatives,
    )

    # one tight cluster (near-dups of each other), one spread fan
    rows = [(0, [10.0, 0.0]), (1, [10.0, 0.01]),      # near-dup pair
            (2, [10.0, 3.0]), (3, [10.0, 6.0]),       # semi-hard band
            (4, [0.0, 10.0])]                          # dissimilar
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = centroids_from_rows(df, [0, 4])
    out = hard_negatives(df, cents, k=3, lo=0.5, hi=0.999, n_probe=2)
    got = {}
    for r in out.collect():
        got.setdefault(r["vec_id"], []).append(r)
        assert 0.5 <= r["cosine"] < 0.999
        assert r["neg_id"] != r["vec_id"]
    # the near-dup pair excludes each other (cos ~ 1 >= hi) but keeps
    # the semi-hard fan members
    ids0 = {r["neg_id"] for r in got[0]}
    assert 1 not in ids0 and 2 in ids0
    for anchor, lst in got.items():
        ranks = sorted(r["neg_rank"] for r in lst)
        assert ranks == list(range(1, len(lst) + 1))
        assert len(lst) <= 3
        # rank order follows descending cosine
        by_rank = sorted(lst, key=lambda r: r["neg_rank"])
        cosines = [r["cosine"] for r in by_rank]
        assert cosines == sorted(cosines, reverse=True)


def test_sq8_encode_matches_numpy_reference(spark):
    import numpy as np

    from gbdc_spark.operators.similarity import (
        sq8_bounds_lists,
        sq8_encode,
    )

    rng = np.random.default_rng(7)
    vecs = rng.uniform(-2.0, 3.0, size=(20, 6)).astype(np.float32)
    vecs[:, 4] = 1.25  # degenerate dim: hi == lo
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    lo, hi = sq8_bounds_lists(df)
    v64 = vecs.astype(np.float64)
    assert lo == pytest.approx(v64.min(axis=0), abs=0)
    assert hi == pytest.approx(v64.max(axis=0), abs=0)

    out = {r["vec_id"]: r["codes"] for r in sq8_encode(df, lo, hi).collect()}
    for i in range(len(vecs)):
        for d in range(6):
            span = hi[d] - lo[d]
            if span == 0.0:
                exp = 0
            else:
                exp = int(
                    min(max(np.floor((v64[i, d] - lo[d]) * 256.0 / span), 0), 255)
                )
            assert out[i][d] == exp, (i, d)
    # max value must clamp to 255, min to 0
    flat = [c for cs in out.values() for c in cs]
    assert max(flat) == 255 and 0 in flat


def test_sq8_dequantization_error_within_half_bin(spark):
    import numpy as np

    from gbdc_spark.operators.similarity import (
        sq8_bounds_lists,
        sq8_encode,
        sq8_topk,
    )

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(50, 8)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    lo, hi = sq8_bounds_lists(df)
    codes = {r["vec_id"]: r["codes"] for r in sq8_encode(df, lo, hi).collect()}
    v64 = vecs.astype(np.float64)
    for i in range(len(vecs)):
        for d in range(8):
            span = hi[d] - lo[d]
            xhat = lo[d] + (codes[i][d] + 0.5) * (span / 256.0)
            assert abs(xhat - v64[i, d]) <= span / 512.0 + 1e-12


def test_sq8_topk_recovers_exact_neighbors_on_separated_data(spark):
    import numpy as np

    from gbdc_spark.operators.similarity import (
        _l2sq,
        _to_double,
        sq8_bounds_lists,
        sq8_encode,
        sq8_topk,
    )
    from pyspark.sql import functions as F

    # three well-separated clusters: quantization error << cluster gap,
    # so the SQ8 top-5 equals the exact top-5
    rng = np.random.default_rng(3)
    centers = np.array([[0.0] * 8, [10.0] * 8, [-10.0] * 8])
    vecs = np.concatenate(
        [c + rng.normal(scale=0.05, size=(10, 8)) for c in centers]
    ).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    lo, hi = sq8_bounds_lists(df)
    query = [float(x) for x in vecs[0]]
    ann = sq8_topk(sq8_encode(df, lo, hi), lo, hi, query, k=5).collect()
    q = F.array(*[F.lit(x) for x in query])
    exact = (
        df.select(
            "vec_id",
            F.round(_l2sq(_to_double(F.col("embedding")), q), 6).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(5)
        .collect()
    )
    # the 0.04/dim quantization error is on par with the 0.05-sigma
    # intra-cluster spread, so exact intra-cluster ORDER is not
    # preserved — cluster membership and the self-match are
    assert ann[0]["vec_id"] == 0
    assert {r["vec_id"] for r in ann} <= set(range(10))
    assert {r["vec_id"] for r in exact} <= set(range(10))
    # approximate distances are monotone non-decreasing
    dists = [r["adist"] for r in ann]
    assert dists == sorted(dists)


def test_mmr_topk_diversifies_cluster_dominated_pool(spark):
    import numpy as np

    from gbdc_spark.operators.similarity import cosine_topk, mmr_topk

    # 6 near-clones of the query direction + 3 docs in other directions
    rng = np.random.default_rng(5)
    base = np.ones(8)
    clones = [base + rng.normal(scale=0.01, size=8) for _ in range(6)]
    others = [
        np.array([1, 1, 1, 1, -1, -1, -1, -1.0]),
        np.array([1, -1, 1, -1, 1, -1, 1, -1.0]),
        np.array([-1, 1, 1, 1, 1, 1, 1, 1.0]),
    ]
    vecs = clones + others
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    query = [1.0] * 8

    plain = [r["vec_id"] for r in cosine_topk(df, query, k=5).collect()]
    assert set(plain) <= set(range(6)) | {8}  # clones (+ the near doc) dominate

    mmr = mmr_topk(df, query, k=5, lam=0.5, pool=9).collect()
    picked = [r["vec_id"] for r in mmr]
    # rank 1 is pure relevance; diversification pulls in the
    # orthogonal-ish docs that plain top-5 locks out
    assert mmr[0]["mmr_rank"] == 1
    assert len(set(picked) & {6, 7, 8}) >= 2
    # scores are monotone non-increasing (penalties only grow)
    scores = [r["mmr_score"] for r in mmr]
    assert all(a >= b for a, b in zip(scores, scores[1:]))
    assert [r["mmr_rank"] for r in mmr] == [1, 2, 3, 4, 5]


def test_mmr_topk_k_exceeding_pool_returns_pool(spark):
    from gbdc_spark.operators.similarity import mmr_topk

    rows = [(i, [float(i + 1), 1.0]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = mmr_topk(df, [1.0, 0.5], k=10, pool=5).collect()
    assert len(out) == 3
    assert sorted(r["vec_id"] for r in out) == [0, 1, 2]


def test_mmr_topk_string_keys_and_zero_vector(spark):
    from gbdc_spark.operators.similarity import mmr_topk

    rows = [("a", [1.0, 0.0]), ("b", [0.9, 0.1]), ("zero", [0.0, 0.0]),
            ("c", [0.0, 1.0])]
    df = spark.createDataFrame(rows, "doc string, embedding array<float>")
    out = mmr_topk(df, [1.0, 0.2], k=4, pool=4, key="doc")
    assert out.schema["doc"].dataType.simpleString() == "string"
    got = out.collect()
    # the zero-norm vector has no cosine: never selected, never raises
    assert [r["doc"] for r in got] == ["b", "a", "c"]
    assert [r["mmr_rank"] for r in got] == [1, 2, 3]


def test_mmr_topk_lam_one_equals_relevance_order(spark):
    from gbdc_spark.operators.similarity import cosine_topk, mmr_topk

    rows = [(i, [float((i * 7) % 5 + 1), float(i % 3 + 1), 1.0])
            for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [0.3, 0.9, 0.2]
    mmr = [r["vec_id"] for r in mmr_topk(df, q, k=5, lam=1.0, pool=10).collect()]
    plain = [r["vec_id"] for r in cosine_topk(df, q, k=5).collect()]
    assert mmr == plain  # lam=1 disables the diversity penalty
