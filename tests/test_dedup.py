"""Dedup operators: SimHash LSH recall (the round-1 bug), banding
properties, and winnowing fingerprints."""

import itertools

import pytest
from pyspark.sql import functions as F

from gbdc_spark.operators import dedup


@pytest.fixture(scope="module")
def near_dup_corpus(spark):
    # clusters of texts at small edit distances -> simhash hamming spread;
    # enough docs that differing bits land in every 16-bit band somewhere
    words = [
        "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
        "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    ]
    rows = []
    doc_id = 0
    for base_i in range(12):
        base = [words[(base_i * 3 + j) % len(words)] for j in range(30)]
        for variant in range(4):
            t = list(base)
            # flip `variant` words at spread positions
            for v in range(variant):
                t[(7 * v + base_i) % len(t)] = words[(base_i + v + 5) % len(words)] + "x"
            rows.append((doc_id, " ".join(t), "s"))
            doc_id += 1
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def _exact_pairs(spark, df, max_hamming):
    sims = {
        r["doc_id"]: r["simhash"]
        for r in dedup.with_simhash(df).select("doc_id", "simhash").collect()
    }
    out = set()
    for a, b in itertools.combinations(sorted(sims), 2):
        h = bin((sims[a] ^ sims[b]) & ((1 << 64) - 1)).count("1")
        if h <= max_hamming:
            out.add((a, b, h))
    return out

def test_simhash_near_dups_full_recall(spark, near_dup_corpus):
    """Band-joined candidates must find EVERY pair at hamming <= 3 —
    including pairs whose differing bits fall in the top 16 bits (the
    round-1 single-prefix bucket missed those)."""
    want = _exact_pairs(spark, near_dup_corpus, max_hamming=3)
    got = {
        (r["a"], r["b"], r["hamming"])
        for r in dedup.simhash_near_dups(near_dup_corpus, max_hamming=3).collect()
    }
    assert got == want  # recall 1.0 AND precision 1.0 (verify step)
    assert len(want) > 0  # the fixture must actually exercise the path


def test_simhash_near_dups_no_duplicate_pairs(spark, near_dup_corpus):
    out = dedup.simhash_near_dups(near_dup_corpus, max_hamming=3).collect()
    pairs = [(r["a"], r["b"]) for r in out]
    assert len(pairs) == len(set(pairs))  # multi-band matches collapsed


def test_simhash_bands_cover_all_64_bits(spark):
    """A pair differing ONLY inside one specific band must still match on
    the other bands — construct hashes per band position synthetically."""
    # identical docs => hamming 0, must be found regardless of bucketing
    rows = [(1, "same words here exactly", "s"), (2, "same words here exactly", "s")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = dedup.simhash_near_dups(df, max_hamming=0).collect()
    assert [(r["a"], r["b"], r["hamming"]) for r in got] == [(1, 2, 0)]


def test_dup_clusters_resolves_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "a long, b long"
    )
    out = {r["doc_id"]: r["keeper"] for r in dedup.dup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_dup_clusters_chain_needs_multiple_rounds(spark):
    # path graph of diameter 5: min label must propagate hop by hop
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], "a long, b long"
    )
    out = {r["doc_id"]: r["keeper"] for r in dedup.dup_clusters(pairs).collect()}
    assert out == {i: 1 for i in range(1, 8)}


def test_dup_clusters_matches_pure_python_cc(spark):
    """Random pair graphs: Spark label propagation == pure-python
    union-find components (min-label convention)."""
    import random

    rng = random.Random(13)
    for trial in range(3):
        n = 40
        edges = sorted({
            tuple(sorted(rng.sample(range(n), 2))) for _ in range(35)
        })
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {}
        nodes_in_pairs = {x for e in edges for x in e}
        for x in nodes_in_pairs:
            want[x] = find(x)

        pairs = spark.createDataFrame(edges, "a long, b long")
        got = {r["doc_id"]: r["keeper"] for r in dedup.dup_clusters(pairs).collect()}
        assert got == want, f"trial {trial}"


def test_winnow_guarantee(spark):
    """Winnowing guarantee: two docs sharing an exact substring of
    length >= k + window - 1 share at least one fingerprint."""
    from gbdc_spark.operators import text as tx

    shared = "thequickbrownfoxjumps"  # len 21 >= 8 + 4 - 1
    rows = [
        (1, "aaaa" + shared + "bbbb", "s"),
        (2, "cccccc" + shared + "dd", "s"),
        (3, "totally unrelated content here", "s"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: set(r["winnow_fp"])
           for r in tx.with_winnow_fingerprints(df, k=8, window=4).collect()}
    assert out[1] & out[2]          # shared substring -> shared fingerprint
    assert not (out[1] & out[3])    # unrelated docs don't collide here


def test_embedding_near_dups_identical_always_collide(spark):
    """cosine-1 pairs (positive scalings) sit on the same side of EVERY
    hyperplane, so sign-LSH finds them with any table count or seed."""
    import random

    rng = random.Random(5)
    base = [rng.gauss(0, 1) for _ in range(16)]
    rows = [(0, base), (1, [2.0 * x for x in base]),
            (2, [rng.gauss(0, 1) for _ in range(16)]),
            (3, [rng.gauss(0, 1) for _ in range(16)])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for seed in (1, 42, 99):
        got = dedup.embedding_near_dups(df, threshold=0.999, tables=1, seed=seed).collect()
        assert [(r["a"], r["b"]) for r in got] == [(0, 1)], f"seed={seed}"


def test_embedding_near_dups_more_tables_superset(spark):
    """Tables are a prefix of the same seeded hyperplane family, so the
    verified pair set with more tables is a superset — recall only grows
    (the single-table round-1 version lost pairs that differ inside one
    table's projections)."""
    import random

    rng = random.Random(11)
    rows = []
    for i in range(40):
        base = [rng.gauss(0, 1) for _ in range(16)]
        rows.append((2 * i, base))
        # moderate perturbation -> cosine high but below 1
        rows.append((2 * i + 1, [x + rng.gauss(0, 0.35) for x in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    p1 = {(r["a"], r["b"]) for r in dedup.embedding_near_dups(df, threshold=0.8, tables=1).collect()}
    p4 = {(r["a"], r["b"]) for r in dedup.embedding_near_dups(df, threshold=0.8, tables=4).collect()}
    assert p1 <= p4
    assert len(p4) > len(p1)  # extra tables must actually add recall here


def test_auto_sign_bits_bounds_bucket_occupancy():
    """Expected bucket occupancy n / 2^bits stays within (target/2,
    target] across scales — the fixed bit width that went quadratic at
    corpus size cannot come back."""
    for n in (10**3, 10**4, 10**6, 10**9, 10**12):
        bits = dedup.auto_sign_bits(n, target_bucket_rows=64)
        occ = n / 2**bits
        if bits < 30:  # below the bucket-cardinality cap: tight band
            assert 32 < occ <= 64, (n, bits, occ)
        else:  # at the cap occupancy grows linearly again — by design
            assert bits == 30, (n, bits, occ)
    # monotone in n, defaults sane at tiny inputs
    assert dedup.auto_sign_bits(0) == 1
    assert dedup.auto_sign_bits(10) >= 1
    bs = [dedup.auto_sign_bits(n) for n in (10**3, 10**5, 10**7, 10**9)]
    assert bs == sorted(bs)


def test_sign_hyperplanes_deterministic_prefix():
    planes2 = dedup.sign_hyperplanes(2, 3, 16, seed=7)
    planes4 = dedup.sign_hyperplanes(4, 3, 16, seed=7)
    import numpy as np

    assert np.array_equal(planes4[:2], planes2)
    assert not np.array_equal(dedup.sign_hyperplanes(2, 3, 16, seed=8), planes2)


def test_dup_clusters_star_matches_label_prop_on_random_graphs(spark):
    """Identical (doc_id, keeper) from both CC algorithms on random
    pair graphs — the extreme-scale swap must be a drop-in."""
    import random

    rng = random.Random(29)
    for trial in range(3):
        n = 40
        edges = sorted({
            tuple(sorted(rng.sample(range(n), 2))) for _ in range(30 + trial * 10)
        })
        pairs = spark.createDataFrame(edges, "a long, b long")
        lp = {r["doc_id"]: r["keeper"] for r in dedup.dup_clusters(pairs).collect()}
        st = {r["doc_id"]: r["keeper"] for r in dedup.dup_clusters_star(pairs).collect()}
        assert st == lp, f"trial {trial}"


def test_dup_clusters_star_logn_rounds_on_long_path(spark):
    """A 120-node path (diameter 119) converges within ~log2(n) star
    rounds — label propagation would need 119 rounds here.  max_iter=12
    must suffice with no non-convergence warning."""
    import warnings

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "a long, b long"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        out = {r["doc_id"]: r["keeper"]
               for r in dedup.dup_clusters_star(pairs, max_iter=12).collect()}
    assert out == {i: 0 for i in range(121)}


def test_dup_clusters_star_string_keys(spark):
    pairs = spark.createDataFrame(
        [("docB", "docA"), ("docB", "docC"), ("docX", "docY")], "a string, b string"
    )
    out = {r["doc_id"]: r["keeper"] for r in dedup.dup_clusters_star(pairs).collect()}
    assert out == {"docA": "docA", "docB": "docA", "docC": "docA",
                   "docX": "docX", "docY": "docX"}


def test_winnow_overlap_pairs_finds_copied_passage(spark):
    from gbdc_spark.operators.dedup import winnow_overlap_pairs

    passage = "zzaa zzbb zzcc zzdd zzee zzff zzgg zzhh"
    rows = [
        (1, "intro words here " + passage + " tail one"),
        (2, "different opening text " + passage + " other tail"),
        (3, "totally unrelated content with nothing shared qq ww ee rr tt"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = winnow_overlap_pairs(df, min_shared=2, max_df=None).collect()
    pairs = {(r["a"], r["b"]): r["n_shared"] for r in out}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert all(3 not in p for p in pairs)


def test_winnow_overlap_pairs_max_df_drops_boilerplate(spark):
    from gbdc_spark.operators.dedup import winnow_overlap_pairs

    boiler = "same boilerplate footer appears everywhere always"
    rows = [(i, f"unique{i} words{i} " + boiler) for i in range(1, 6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # uncapped: every pair shares the boilerplate prints
    assert len(winnow_overlap_pairs(df, min_shared=1, max_df=None).collect()) == 10
    # cap at df<=2: prints shared by all 5 docs are dropped pre-join
    assert winnow_overlap_pairs(df, min_shared=1, max_df=2).collect() == []


def test_line_dedup_keeps_first_occurrence_corpus_wide(spark):
    from gbdc_spark.operators.dedup import line_dedup

    rows = [
        (1, "alpha\nshared\nbeta"),
        (2, "shared\ngamma"),        # 'shared' already seen in doc 1
        (3, "delta\ndelta\ndelta"),  # intra-doc repeats collapse too
        (4, "shared"),               # doc losing every line stays, empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(df).collect()}
    assert out[1]["text_dedup"] == "alpha\nshared\nbeta"
    assert out[2]["text_dedup"] == "gamma" and out[2]["n_removed"] == 1
    assert out[3]["text_dedup"] == "delta" and out[3]["n_removed"] == 2
    assert out[4]["text_dedup"] == "" and out[4]["n_removed"] == 1
    assert all(out[i]["n_lines"] == len(rows[i - 1][1].split("\n")) for i in out)


def test_line_dedup_order_preserved(spark):
    from gbdc_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(
        [(1, "z\na\nm"), (2, "q\na\nz\nr")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["text_dedup"] for r in line_dedup(df).collect()}
    assert out[1] == "z\na\nm"
    assert out[2] == "q\nr"


def test_semantic_dedup_drops_later_near_duplicates(spark):
    from gbdc_spark.operators.dedup import semantic_dedup
    from gbdc_spark.operators.similarity import centroids_from_rows

    rows = [
        (0, [1.0, 0.0]),     # centroid 0, first in its cell -> keep
        (1, [0.0, 1.0]),     # centroid 1, first in its cell -> keep
        (2, [0.96, 0.28]),   # cell 0, cos(v0,v2)=0.96 >= 0.95 -> drop
        (3, [0.1, 0.995]),   # cell 1, cos(v1,v3)~0.995 -> drop
        (4, [0.7, 0.714]),   # cell 1 (barely), dissimilar enough -> keep
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = centroids_from_rows(df, [0, 1])
    out = {r["vec_id"]: r for r in
           semantic_dedup(df, cents, threshold=0.95).collect()}
    assert [out[i]["keep"] for i in range(5)] == [1, 1, 0, 0, 1]
    assert out[0]["max_sim_earlier"] is None
    assert out[1]["max_sim_earlier"] is None
    assert out[2]["max_sim_earlier"] >= 0.95
    assert out[2]["cell"] == 0 and out[3]["cell"] == 1


def test_semantic_dedup_keep_first_not_transitive(spark):
    # chain a-b-c where cos(a,b)>=t, cos(b,c)>=t but cos(a,c)<t:
    # b drops via a; c also drops via b, because keep-first compares
    # against ALL earlier cell-mates, dropped or not (a "compare only
    # against kept" variant would keep c — that is not SemDeDup)
    from gbdc_spark.operators.dedup import semantic_dedup
    from gbdc_spark.operators.similarity import centroids_from_rows
    import math

    def unit(deg):
        return [math.cos(math.radians(deg)), math.sin(math.radians(deg))]

    rows = [(0, unit(0)), (1, unit(20)), (2, unit(40))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = centroids_from_rows(df, [0])
    t = math.cos(math.radians(25))  # 20-degree gaps pass, 40 fails
    out = {r["vec_id"]: r["keep"] for r in
           semantic_dedup(df, cents, threshold=t).collect()}
    assert out == {0: 1, 1: 0, 2: 0}  # c dropped via b even though b dropped


def test_token_minhash_matches_python_reference(spark):
    # signature over token-id shingles == an independent Python md5
    # reference; identical token arrays must become a candidate pair
    import hashlib

    rows = [
        ("d1", [1, -2, 3, 0, 4]),
        ("d2", [1, -2, 3, 0, 4]),   # identical to d1
        ("d3", [5]),                # shorter than the shingle width
        ("d4", [-7, 8, -9, 1, 0, 2, 3]),
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = {
        r["doc_id"]: list(r["minhash"])
        for r in dedup.with_token_minhash_signature(
            df, num_perm=4, shingle_n=3
        ).collect()
    }

    def ref_sig(toks, num_perm=4, n=3):
        s = [str(t) for t in toks]
        k = max(len(s) - n + 1, 1)
        shingles = [" ".join(s[i : i + n]) for i in range(k)]
        return [
            min(hashlib.md5(f"{j}:{sh}".encode()).hexdigest() for sh in shingles)
            for j in range(num_perm)
        ]

    for doc_id, toks in rows:
        assert out[doc_id] == ref_sig(toks), doc_id

    pairs = {
        (r["a"], r["b"])
        for r in dedup.token_minhash_pairs(
            df, num_perm=8, bands=4, shingle_n=3
        ).collect()
    }
    assert pairs == {("d1", "d2")}


def test_substring_dedup_exactsubstr_contract(spark):
    # Lee et al. 2022 ExactSubstr: an l-gram occurring >1 time
    # corpus-wide survives only at the smallest (doc_id, pos); overlap
    # unions cover repeated regions longer than l.
    A = [101, 102, 103, 104, 105, 106, 107, 108]
    B = [201, 202, 203, 204, 205, 206, 207, 208]
    rows = [
        ("d1", list(range(1, 13))),   # unique content, untouched
        ("d2", A + [9, 9, 9]),        # globally-first copy of A
        ("d3", [55, 56] + A + [77]),  # later copy -> span removed
        ("d4", list(range(1, 13))),   # verbatim repeat of d1 -> emptied
        ("d5", [1, 2, 3]),            # shorter than l: no grams, kept
        ("d6", B + [42] + B),         # in-doc repeat: 2nd B removed
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = {
        r["doc_id"]: (r["tokens_dedup"], r["n_removed"])
        for r in dedup.substring_dedup(df, l=8).collect()
    }
    assert out["d1"] == (list(range(1, 13)), 0)
    assert out["d2"] == (A + [9, 9, 9], 0)
    assert out["d3"] == ([55, 56, 77], 8)
    assert out["d4"] == ([], 12)          # row-preserving, not dropped
    assert out["d5"] == ([1, 2, 3], 0)
    assert out["d6"] == (B + [42], 8)     # first B is the global keeper


def test_substring_dedup_long_repeat_interval_union(spark):
    # a repeated region of length m > l is covered by its m-l+1
    # overlapping duplicated grams: the WHOLE region goes, not just l
    R = list(range(300, 312))  # 12-token repeated region
    rows = [("a", R + [1, 2]), ("b", [7, 8, 9] + R + [4])]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = {
        r["doc_id"]: r["tokens_dedup"]
        for r in dedup.substring_dedup(df, l=8).collect()
    }
    assert out["a"] == R + [1, 2]
    assert out["b"] == [7, 8, 9, 4]


def test_substring_dedup_differential_random_corpus(spark):
    # independent naive twin: brute-force dict of every l-gram occurrence
    # over a random corpus with planted repeats — no shared code with the
    # operator (same pattern as the gate-analyzer differential test)
    import random

    rng = random.Random(11)
    l = 6
    docs = []
    pool = [rng.randrange(2, 40) for _ in range(30)]  # small vocab -> collisions
    for i in range(40):
        n = rng.randint(0, 30)
        toks = [rng.choice(pool) for _ in range(n)]
        if i % 4 == 1 and docs:  # plant a copied span from an earlier doc
            src = docs[rng.randrange(len(docs))][1]
            if len(src) >= l:
                s = rng.randrange(len(src) - l + 1)
                m = rng.randint(l, min(len(src) - s, l + 6))
                pos = rng.randrange(len(toks) + 1)
                toks = toks[:pos] + src[s : s + m] + toks[pos:]
        docs.append((f"d{i:03d}", toks))

    # twin: first occurrence of each l-gram keyed by (doc, pos) order
    first = {}
    for did, toks in docs:
        for p in range(max(len(toks) - l + 1, 0)):
            first.setdefault(tuple(toks[p : p + l]), (did, p))
    expected = {}
    for did, toks in docs:
        covered = set()
        for p in range(max(len(toks) - l + 1, 0)):
            if first[tuple(toks[p : p + l])] != (did, p):
                covered.update(range(p, p + l))
        expected[did] = [t for i, t in enumerate(toks) if i not in covered]

    df = spark.createDataFrame(docs, "doc_id string, tokens array<int>")
    got = {
        r["doc_id"]: r["tokens_dedup"]
        for r in dedup.substring_dedup(df, l=l).collect()
    }
    assert got == expected


def test_line_dedup_metacharacter_separator(spark):
    # '|' is a regex metachar: an unquoted F.split pattern would explode
    # the text into single characters and dedup everything away
    rows = [("d1", "alpha|beta|alpha"), ("d2", "beta|gamma")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r.doc_id: (r.text_dedup, r.n_lines, r.n_removed)
           for r in dedup.line_dedup(df, sep="|").collect()}
    assert out["d1"] == ("alpha|beta", 3, 1)   # in-doc repeat dropped
    assert out["d2"] == ("gamma", 2, 1)        # cross-doc repeat dropped


def test_embedding_near_dups_auto_params_hold_recall_at_two_sizes(spark):
    # the auto path must keep recall as the corpus grows: bits scale up
    # with n (bucket occupancy) and tables scale with bits (boundary
    # recall) — measured against a numpy brute-force ground truth
    import numpy as np

    from gbdc_spark.operators.dedup import (
        auto_sign_bits, auto_sign_tables, embedding_near_dups,
    )

    dim, thr = 24, 0.95
    for n in (300, 1500):
        rng = np.random.default_rng(n)
        base = rng.standard_normal((n, dim))
        base /= np.linalg.norm(base, axis=1, keepdims=True)
        # plant a near-dup (cos ~0.992: perturbation of total norm
        # ~0.12) for every 7th first-half vector into the second half
        for i in range(0, n // 2, 7):
            j = i + n // 2
            noise = rng.standard_normal(dim) * (0.12 / np.sqrt(dim))
            v = base[i] + noise
            base[j] = v / np.linalg.norm(v)
        sims = base @ base.T
        truth = {(i, j) for i in range(n) for j in range(i + 1, n)
                 if round(sims[i, j], 6) >= thr}
        assert len(truth) >= n // 14  # the construction really planted pairs

        df = spark.createDataFrame(
            [(int(i), [float(x) for x in base[i]]) for i in range(n)],
            "vec_id int, embedding array<float>",
        )
        found = {(r["a"], r["b"]) for r in
                 embedding_near_dups(df, threshold=thr).collect()}
        recall = len(found & truth) / len(truth)
        bits = auto_sign_bits(n)
        assert recall >= 0.9, (n, bits, auto_sign_tables(bits, thr), recall)
        # precision is exact by construction (candidates are verified)
        assert found <= truth


def test_auto_sign_tables_math():
    from gbdc_spark.operators.dedup import auto_sign_tables

    # more bits per table -> more tables needed at the same threshold
    assert auto_sign_tables(4, 0.95) <= auto_sign_tables(12, 0.95)
    # looser threshold (wider angle) -> lower per-bit collision -> more
    # tables at the same bit width
    assert auto_sign_tables(8, 0.95) <= auto_sign_tables(8, 0.5)
    # clamps
    assert auto_sign_tables(30, -1.0) == 64
    assert auto_sign_tables(1, 1.0) == 1


def test_sign_recall_inverts_auto_tables():
    import math

    from gbdc_spark.operators.dedup import auto_sign_tables, sign_recall

    # where the formula is NOT capped, the derived table count achieves
    # the target recall (and one table fewer would not)
    for bits, thr in [(4, 0.95), (9, 0.9), (12, 0.95)]:
        t = auto_sign_tables(bits, thr, target_recall=0.9)
        assert sign_recall(bits, t, thr) >= 0.9 - 1e-12
        if t > 1:
            assert sign_recall(bits, t - 1, thr) < 0.9
    # wide angle at scale-sized bits: capped, recall short of target
    t = auto_sign_tables(9, 0.3, target_recall=0.9)
    assert t == 64 and sign_recall(9, 64, 0.3) < 0.9
    # perfect-similarity edge
    assert sign_recall(8, 1, 1.0) == pytest.approx(1.0)


def test_embedding_near_dups_warns_outside_lsh_regime(spark):
    import warnings

    from gbdc_spark.operators.dedup import embedding_near_dups

    df = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, 0.5, -1.0]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    # wide-angle threshold with scale-sized bits -> capped tables, warn
    with pytest.warns(RuntimeWarning, match="outside sign-LSH"):
        embedding_near_dups(df, threshold=0.3, bits=9, n_rows=50, dim=4)
    # tight threshold: formula satisfiable, no warning (plan build only)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        embedding_near_dups(df, threshold=0.95, bits=9, n_rows=50, dim=4)


def test_embedding_near_dups_ivf_multiprobe_recovers_boundary_pair(spark):
    # a near-dup pair straddling the 45-degree cell boundary between
    # centroids at 0 and 90 degrees: single-probe assigns the two
    # vectors to DIFFERENT cells (pair invisible), 2-probe lands both
    # in both cells -> the pair surfaces.  This is the exact recall
    # failure mode multi-probe exists for.
    import math

    from gbdc_spark.operators.dedup import embedding_near_dups_ivf
    from gbdc_spark.operators.similarity import centroids_from_rows

    def unit(deg):
        return [math.cos(math.radians(deg)), math.sin(math.radians(deg))]

    rows = [(0, unit(0.0)), (1, unit(90.0)),   # the two centroids
            (2, unit(43.0)), (3, unit(47.0))]  # the boundary pair
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = centroids_from_rows(df, [0, 1])

    one = {(r["a"], r["b"]) for r in
           embedding_near_dups_ivf(df, cents, threshold=0.99,
                                   n_probe=1).collect()}
    assert (2, 3) not in one  # split across cells under single-probe

    two = embedding_near_dups_ivf(df, cents, threshold=0.99, n_probe=2)
    got = {(r["a"], r["b"]): r["cosine"] for r in two.collect()}
    assert (2, 3) in got
    assert got[(2, 3)] == pytest.approx(math.cos(math.radians(4.0)), abs=1e-6)


def test_embedding_near_dups_ivf_exact_verify_and_no_duplicates(spark):
    # precision is 1.0 by construction: every returned pair re-checks
    # against numpy's exact cosine; multi-probe bucket duplicates must
    # collapse to one row per (a, b)
    import random

    import numpy as np

    from gbdc_spark.operators.dedup import embedding_near_dups_ivf
    from gbdc_spark.operators.similarity import centroids_from_rows

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = centroids_from_rows(df, [0, 1, 2, 3])

    out = embedding_near_dups_ivf(df, cents, threshold=0.3, n_probe=2).collect()
    assert len(out) > 0  # the fixture must exercise the verify path
    pairs = [(r["a"], r["b"]) for r in out]
    assert len(pairs) == len(set(pairs))  # distinct collapsed the probes
    vec = {i: np.array(v) for i, v in rows}
    for r in out:
        a, b = vec[r["a"]], vec[r["b"]]
        exact = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert r["a"] < r["b"]
        assert round(exact, 6) >= 0.3
        assert r["cosine"] == pytest.approx(exact, abs=1e-6)


def test_embedding_near_dups_ivf_probe_monotone_recall(spark):
    # raising n_probe can only ADD candidate pairs (cells are a superset
    # per vector), never remove one — verified pairs are monotone in p
    import random

    from gbdc_spark.operators.dedup import embedding_near_dups_ivf
    from gbdc_spark.operators.similarity import centroids_from_rows

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(6)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = centroids_from_rows(df, [0, 1, 2, 3, 4])

    sets = []
    for p in (1, 2, 3):
        got = {(r["a"], r["b"]) for r in
               embedding_near_dups_ivf(df, cents, threshold=0.2,
                                       n_probe=p).collect()}
        sets.append(got)
    assert sets[0] <= sets[1] <= sets[2]
    assert sets[0] < sets[2]  # the fixture must show recall actually grow


def test_dedup_keep_best_keeps_argmax_quality(spark):
    from gbdc_spark.operators.dedup import dedup_keep_best, dup_clusters_star

    # clusters: {1,2,3} (chain), {5,6}; 4 and 7 singletons
    docs = spark.createDataFrame(
        [(1, 10.0), (2, 30.0), (3, 20.0), (4, 5.0), (5, 7.0), (6, 7.0), (7, 1.0)],
        "doc_id long, q double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "a long, b long"
    )
    out = {r["doc_id"]: r for r in dedup_keep_best(docs, pairs, "q").collect()}
    # cluster {1,2,3}: best q=30 -> doc 2; cluster label = min member
    assert [out[i]["cluster"] for i in (1, 2, 3)] == [1, 1, 1]
    assert [out[i]["keep"] for i in (1, 2, 3)] == [False, True, False]
    # tie on q in {5,6} -> smallest key wins
    assert out[5]["keep"] and not out[6]["keep"]
    # singletons keep themselves
    assert out[4]["keep"] and out[7]["keep"]
    assert out[4]["cluster"] == 4
    # exactly one keeper per cluster
    kept = [r for r in out.values() if r["keep"]]
    assert len(kept) == 4

    # the star clusterer yields the identical decision set
    out2 = {
        r["doc_id"]: r["keep"]
        for r in dedup_keep_best(
            docs, pairs, "q", clusterer=dup_clusters_star
        ).collect()
    }
    assert out2 == {k: v["keep"] for k, v in out.items()}


def test_dedup_against_flags_exact_and_near(spark):
    from gbdc_spark.operators.dedup import dedup_against

    base = "the quick brown fox jumps over the lazy dog again and again"
    snapshot = spark.createDataFrame(
        [(100, base), (101, "completely different snapshot content here ok")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, base),                                     # exact dup
            (2, base.replace("dog", "cat")),               # near dup (1 word)
            (3, "nothing like anything in the old corpus at all zz"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_against(new, snapshot).collect()}
    assert out[1]["dup_exact"] and out[1]["dup_near"]
    assert not out[2]["dup_exact"] and out[2]["dup_near"]
    assert not out[3]["dup_exact"] and not out[3]["dup_near"]
    # row-preserving, original columns intact
    assert sorted(out) == [1, 2, 3]
    assert out[2]["text"] == base.replace("dog", "cat")


def test_dedup_against_empty_snapshot(spark):
    from gbdc_spark.operators.dedup import dedup_against

    new = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    snap = spark.createDataFrame([], "doc_id long, text string")
    row = dedup_against(new, snap).collect()[0]
    assert not row["dup_exact"] and not row["dup_near"]


def test_span_dedup_first_occurrence_wins(spark):
    from gbdc_spark.operators.dedup import span_dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),          # original span source
            (2, "x a b c y"),          # contains the 3-span "a b c"
            (3, "p q r"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           span_dedup(docs, sep=" ", n_span=3).collect()}
    # doc 1 keeps everything (it is the first occurrence of its spans)
    assert out[1]["text_dedup"] == "a b c d e" and out[1]["n_removed"] == 0
    # doc 2 loses positions 1..3 ("a b c"), keeps x and y
    assert out[2]["text_dedup"] == "x y" and out[2]["n_removed"] == 3
    assert out[2]["n_units"] == 5
    # doc 3: unique spans untouched
    assert out[3]["text_dedup"] == "p q r" and out[3]["n_removed"] == 0


def test_span_dedup_interval_union_and_edges(spark):
    from gbdc_spark.operators.dedup import span_dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c d e f"),        # verbatim repeat: overlapping
                                        # dup windows union -> all gone
            (3, "a b"),                # shorter than n_span: no spans
            (4, ""),                   # empty text: one empty unit
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           span_dedup(docs, sep=" ", n_span=3).collect()}
    assert out[1]["n_removed"] == 0
    assert out[2]["text_dedup"] == "" and out[2]["n_removed"] == 6
    assert out[3]["text_dedup"] == "a b" and out[3]["n_removed"] == 0
    assert out[4]["n_units"] == 1 and out[4]["n_removed"] == 0
    # same-doc repetition: the SECOND occurrence inside one doc is
    # removed too (first occurrence is (key, pos)-smallest)
    solo = spark.createDataFrame(
        [(9, "m n o z m n o")], "doc_id long, text string"
    )
    row = span_dedup(solo, sep=" ", n_span=3).collect()[0]
    assert row["text_dedup"] == "m n o z" and row["n_removed"] == 3


def test_span_dedup_sentence_granularity(spark):
    from gbdc_spark.operators.dedup import span_dedup

    # the published C4 rule: ". "-separated sentences, 3-sentence spans
    docs = spark.createDataFrame(
        [
            (1, "s1. s2. s3. s4"),
            (2, "t0. s1. s2. s3. t1"),  # repeats doc 1's leading span
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in span_dedup(docs).collect()}
    assert out[1]["text_dedup"] == "s1. s2. s3. s4"
    assert out[2]["text_dedup"] == "t0. t1" and out[2]["n_removed"] == 3


def test_bloom_no_false_negatives_and_fp_bounded(spark):
    from gbdc_spark.operators.dedup import bloom_build, bloom_probe

    snap = spark.createDataFrame(
        [(f"item{i}",) for i in range(200)], "item string"
    )
    bloom = bloom_build(snap, item_col="item", m=1 << 14, k=4)
    # every block is 32-bit and non-zero
    rows = bloom.collect()
    assert all(0 < r["bits"] < (1 << 32) for r in rows)
    # members: no false negatives — all 200 must hit
    probe_in = spark.createDataFrame(
        [(i, f"item{i}") for i in range(200)], "doc_id long, item string"
    )
    got = bloom_probe(probe_in, bloom, item_col="item", m=1 << 14, k=4)
    assert all(r["member"] for r in got.collect())
    # non-members: FP rate near (1 - e^{-kn/m})^k ~ 0.000044 at these
    # parameters; allow slack but catch broken bit math (all-true)
    probe_out = spark.createDataFrame(
        [(i, f"other{i}") for i in range(500)], "doc_id long, item string"
    )
    fps = sum(
        r["member"]
        for r in bloom_probe(
            probe_out, bloom, item_col="item", m=1 << 14, k=4
        ).collect()
    )
    assert fps <= 5
    # row-preserving on the probe side
    assert bloom_probe(probe_out, bloom, item_col="item",
                       m=1 << 14, k=4).count() == 500


def test_bloom_probe_empty_filter_all_false(spark):
    from gbdc_spark.operators.dedup import bloom_build, bloom_probe

    empty = bloom_build(
        spark.createDataFrame([], "item string"), item_col="item"
    )
    probe = spark.createDataFrame([(1, "x")], "doc_id long, item string")
    assert bloom_probe(probe, empty, item_col="item").collect()[0]["member"] is False


def _ref_pagerank(edges, iters=5, d=0.85, undirected=False):
    from collections import defaultdict

    es = set(edges)
    if undirected:
        es |= {(b, a) for a, b in es}
    nodes = sorted({x for e in es for x in e})
    n = len(nodes)
    out = defaultdict(set)
    for s, t in es:
        out[s].add(t)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dm = sum(r[v] for v in nodes if not out[v])
        c = defaultdict(float)
        for s in out:
            if out[s]:
                share = r[s] / len(out[s])
                for t in out[s]:
                    c[t] += share
        r = {v: (1 - d) / n + d * (c[v] + dm / n) for v in nodes}
    return r


def test_pagerank_matches_reference_with_dangling(spark):
    from gbdc_spark.operators.graph import pagerank

    # 4 is dangling; duplicate edge (1,2) must not double-vote
    edges = [(1, 2), (1, 2), (2, 3), (3, 1), (1, 4), (2, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["pagerank"]
           for r in pagerank(df, iters=5).collect()}
    want = _ref_pagerank(edges, iters=5)
    assert set(got) == set(want)
    for v, w in want.items():
        assert got[v] == pytest.approx(w, abs=1e-6)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-5)


def test_pagerank_undirected_symmetric_star(spark):
    from gbdc_spark.operators.graph import pagerank

    # undirected star: center strictly outranks equal-ranked leaves
    edges = [(0, i) for i in range(1, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["pagerank"]
           for r in pagerank(df, iters=8, undirected=True).collect()}
    want = _ref_pagerank(edges, iters=8, undirected=True)
    for v, w in want.items():
        assert got[v] == pytest.approx(w, abs=1e-6)
    leaves = {got[i] for i in range(1, 6)}
    assert len(leaves) == 1 and got[0] > leaves.pop()


def test_pagerank_plan_is_jvm_only(spark):
    from gbdc_spark.operators.graph import pagerank

    df = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    plan = (pagerank(df, iters=2)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_pagerank_sweep_plan_properties(spark):
    # checkpoint=False exposes the full unrolled lineage: contrib sums
    # are map-side combined, the rank vector meets edges in a real
    # equi-join, node count / dangling mass are 1-row broadcasts
    from gbdc_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [(i, (i + 1) % 20) for i in range(20)], "src long, dst long"
    )
    plan = (pagerank(df, iters=2, checkpoint=False)
            ._jdf.queryExecution().executedPlan().toString())
    assert "partial_sum" in plan
    assert any(j in plan for j in
               ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "ArrowEvalPython" not in plan


def test_pagerank_checkpoint_paths_identical(spark):
    from gbdc_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 4)], "src long, dst long"
    )
    a = sorted(map(tuple, pagerank(df, iters=3).collect()))
    b = sorted(map(tuple,
                   pagerank(df, iters=3, checkpoint=False).collect()))
    assert a == b


def _ref_triangles(edges):
    """Brute force: canonical simple graph, per-node triangle counts."""
    from collections import defaultdict
    from itertools import combinations

    es = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    adj = defaultdict(set)
    for a, b in es:
        adj[a].add(b)
        adj[b].add(a)
    tri = defaultdict(int)
    for a, b, c in combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for v in (a, b, c):
                tri[v] += 1
    return {v: (len(adj[v]), tri[v]) for v in adj}


def test_triangle_count_hand_and_random(spark):
    import random

    from gbdc_spark.operators.graph import triangle_count

    # K4 plus a pendant: every K4 node in 3 triangles, pendant in 0
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges = k4 + [(3, 9), (9, 3), (2, 2)]  # dup direction + self-loop
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r for r in triangle_count(df).collect()}
    want = _ref_triangles(edges)
    assert {v: (r["degree"], r["n_triangles"]) for v, r in got.items()} \
        == want
    assert got[0]["clustering"] == 1.0  # deg 3, 3 triangles
    assert got[9]["n_triangles"] == 0 and got[9]["clustering"] == 0.0

    rnd = random.Random(7)
    edges = [(rnd.randrange(30), rnd.randrange(30)) for _ in range(120)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: (r["degree"], r["n_triangles"])
        for r in triangle_count(df).collect()
    }
    assert got == _ref_triangles(edges)


def test_triangle_count_plan_is_jvm_equijoins(spark):
    from gbdc_spark.operators.graph import triangle_count

    df = spark.createDataFrame(
        [(i, (i * 7 + 1) % 40) for i in range(200)], "src long, dst long"
    )
    plan = (triangle_count(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_pagerank_weighted_matches_reference(spark):
    from collections import defaultdict

    from gbdc_spark.operators.graph import pagerank

    # parallel edge (1,2) must COMBINE weights in the weighted form
    edges = [(1, 2, 2.0), (1, 2, 1.0), (2, 3, 4.0), (3, 1, 1.0),
             (1, 3, 1.0), (4, 1, 5.0)]
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    got = {r["node"]: r["pagerank"]
           for r in pagerank(df, iters=6, weight="w").collect()}

    comb = defaultdict(float)
    for s, t, w in edges:
        comb[(s, t)] += w
    nodes = sorted({x for s, t in comb for x in (s, t)})
    n = len(nodes)
    wdeg = defaultdict(float)
    for (s, t), w in comb.items():
        wdeg[s] += w
    r = {v: 1.0 / n for v in nodes}
    d = 0.85
    for _ in range(6):
        dm = sum(r[v] for v in nodes if wdeg[v] == 0.0)
        c = defaultdict(float)
        for (s, t), w in comb.items():
            c[t] += r[s] * w / wdeg[s]
        r = {v: (1 - d) / n + d * (c[v] + dm / n) for v in nodes}
    for v in nodes:
        assert got[v] == pytest.approx(r[v], abs=1e-6), v
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-5)


def test_pagerank_unit_weights_equal_unweighted(spark):
    from gbdc_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 3), (3, 1), (1, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    dfw = df.withColumn("w", F.lit(1.0))
    a = sorted(map(tuple, pagerank(df, iters=4).collect()))
    b = sorted(map(tuple, pagerank(dfw, iters=4, weight="w").collect()))
    assert a == b


def test_jaccard_join_exact_recall_and_precision(spark):
    """Prefix filtering must return EXACTLY the brute-force pair set at
    every threshold — recall 1.0 is the PPJoin guarantee, precision 1.0
    is the verification step."""
    import random

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(50):
        base = rng.sample(vocab, rng.randint(5, 20))
        rows.append((2 * i, " ".join(base)))
        # a perturbed twin at controlled overlap
        twin = list(base)
        for _ in range(rng.randint(0, 3)):
            twin[rng.randrange(len(twin))] = rng.choice(vocab)
        rows.append((2 * i + 1, " ".join(twin)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sets = {i: set(t.split()) for i, t in rows}
    for t in (0.5, 0.8, 0.9):
        want = {}
        ids = sorted(sets)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                i_ = len(sets[a] & sets[b])
                u_ = len(sets[a] | sets[b])
                if u_ and i_ / u_ >= t:
                    want[(a, b)] = round(i_ / u_, 6)
        from gbdc_spark.operators.dedup import jaccard_join

        got = {
            (r["a"], r["b"]): r["jaccard"]
            for r in jaccard_join(df, threshold=t).collect()
        }
        assert got == want, f"threshold {t}"
        assert len(want) > 0  # fixture must exercise the path


def test_jaccard_join_plan_has_no_cartesian(spark):
    from gbdc_spark.operators.dedup import jaccard_join

    df = spark.createDataFrame(
        [(i, f"w{i % 9} w{(i + 1) % 9} w{(i + 2) % 9}") for i in range(40)],
        "doc_id long, text string",
    )
    plan = (jaccard_join(df, threshold=0.8)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_hits_matches_numpy_reference(spark):
    import numpy as np

    from gbdc_spark.operators.graph import hits

    edges = [(0, 1, 3.0), (0, 2, 1.0), (1, 2, 2.0), (3, 1, 1.0),
             (0, 1, 1.0)]  # parallel edge combines to 4.0
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    got = {r["node"]: (r["hub"], r["authority"])
           for r in hits(df, weight="w", iters=8).collect()}

    from collections import defaultdict
    comb = defaultdict(float)
    for s, d, w in edges:
        comb[(s, d)] += w
    nodes = sorted({x for s, d in comb for x in (s, d)})
    idx = {v: i for i, v in enumerate(nodes)}
    W = np.zeros((len(nodes), len(nodes)))
    for (s, d), w in comb.items():
        W[idx[s], idx[d]] = w
    h = np.full(len(nodes), 1.0 / len(nodes))
    for _ in range(8):
        a = W.T @ h
        a = a / a.sum()
        h = W @ a
        h = h / h.sum()
    for v in nodes:
        assert got[v][0] == pytest.approx(h[idx[v]], abs=1e-6), v
        assert got[v][1] == pytest.approx(a[idx[v]], abs=1e-6), v
    # node 2 is a pure sink: authority > 0, hub == 0
    assert got[2][1] > 0 and got[2][0] == 0.0


def test_hits_unit_weight_default(spark):
    from gbdc_spark.operators.graph import hits

    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    dfw = df.withColumn("w", F.lit(1.0))
    a = sorted(map(tuple, hits(df, iters=4).collect()))
    b = sorted(map(tuple, hits(dfw, weight="w", iters=4).collect()))
    assert a == b


def test_ngram_containment_detects_subset_jaccard_misses(spark):
    from pyspark.sql import functions as F

    from gbdc_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog"
    host = quote + " " + " ".join(f"w{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, quote), (2, host)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    cont = ngram_containment_pairs(df, pairs).collect()[0]
    jac = ngram_jaccard_pairs(df, pairs).collect()[0]
    # every shingle of the quote appears in the host
    assert cont["containment_a"] == 1.0
    assert cont["containment_b"] < 0.1
    assert jac["jaccard"] < 0.1  # Jaccard structurally dilutes the subset


def test_ngram_containment_matches_python_sets(spark):
    from gbdc_spark.operators.dedup import ngram_containment_pairs

    docs = {
        1: "a b c d e",
        2: "c d e f g h",
        3: "x y z",
        4: "a b c d e",
    }

    def sh(t, n=2):
        w = t.split(" ")
        return {" ".join(w[i:i + n]) for i in range(max(len(w) - n + 1, 1))}

    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3)], "a long, b long"
    )
    out = {(r["a"], r["b"]): r for r in
           ngram_containment_pairs(df, pairs).collect()}
    for (a, b), r in out.items():
        inter = len(sh(docs[a]) & sh(docs[b]))
        assert r["containment_a"] == pytest.approx(
            round(inter / len(sh(docs[a])), 6)
        )
        assert r["containment_b"] == pytest.approx(
            round(inter / len(sh(docs[b])), 6)
        )
    assert out[(1, 4)]["containment_a"] == 1.0
    assert out[(1, 4)]["containment_b"] == 1.0
    assert out[(1, 3)]["containment_a"] == 0.0


def test_minhash_lsh_eval_counts_and_perfect_recall_on_clones(spark):
    import itertools

    from gbdc_spark.operators.dedup import (
        jaccard_join,
        minhash_candidate_pairs,
        minhash_lsh_eval,
    )

    # 3 exact clones (J=1), one unrelated doc — truth = 3 clone pairs
    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),
        (3, "alpha beta gamma delta epsilon"),
        (4, "zeta eta theta iota kappa"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_lsh_eval(df, threshold=0.95).collect()[0]
    assert out["n_truth"] == 3
    # identical word sets share every band -> all 3 clone pairs found
    assert out["n_hits"] == 3
    assert out["recall"] == 1.0
    # cross-check counts against the constituent operators
    nc = minhash_candidate_pairs(df, shingle_n=1).count()
    assert out["n_candidates"] == nc
    assert out["precision"] == pytest.approx(round(3 / nc, 6))


def test_minhash_lsh_eval_null_on_zero_truth(spark):
    from gbdc_spark.operators.dedup import minhash_lsh_eval

    rows = [(1, "a b c"), (2, "x y z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_lsh_eval(df, threshold=0.95).collect()[0]
    assert out["n_truth"] == 0
    assert out["recall"] is None


def _py_weighted_jaccard(a: str, b: str) -> float:
    from collections import Counter

    ca, cb = Counter(a.split(" ")), Counter(b.split(" "))
    toks = set(ca) | set(cb)
    inter = sum(min(ca[t], cb[t]) for t in toks)
    union = sum(max(ca[t], cb[t]) for t in toks)
    return round(inter / union, 6)


def test_weighted_jaccard_matches_python_counter(spark):
    from gbdc_spark.operators.dedup import weighted_jaccard_pairs

    docs = {
        1: "spam spam spam spam eggs",
        2: "spam spam spam eggs eggs",
        3: "ham ham eggs",
        4: "spam eggs",
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3)], "a long, b long"
    )
    out = {(r["a"], r["b"]): r["weighted_jaccard"]
           for r in weighted_jaccard_pairs(df, pairs).collect()}
    for ab in out:
        assert out[ab] == pytest.approx(
            _py_weighted_jaccard(docs[ab[0]], docs[ab[1]])
        ), ab


def test_weighted_minhash_separates_repetition_levels(spark):
    from gbdc_spark.operators.dedup import (
        minhash_candidate_pairs,
        weighted_jaccard_pairs,
    )

    # same word SET, very different multiplicities: set Jaccard = 1.0
    # but weighted Jaccard is low — the case TF weighting exists for
    docs = {
        1: " ".join(["boiler"] * 50 + ["plate"]),
        2: "boiler plate",
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    wj = weighted_jaccard_pairs(df, pairs).collect()[0]["weighted_jaccard"]
    assert wj == pytest.approx(round(2 / 51, 6))
    # unweighted word-set candidates see identical sets (every band
    # collides); the weighted verify is what tells them apart
    cand = minhash_candidate_pairs(df, shingle_n=1).collect()
    assert {(r["a"], r["b"]) for r in cand} == {(1, 2)}


def test_weighted_minhash_collision_tracks_weighted_jaccard(spark):
    import hashlib

    from gbdc_spark.operators.dedup import weighted_minhash_pairs

    # identical multisets (shuffled order) MUST collide in every band;
    # disjoint docs must not collide at all
    docs = {
        1: "x x y z z z",
        2: "z z x y z x",   # same Counter as 1
        3: "p q r s t u",
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    out = {(r["a"], r["b"]) for r in weighted_minhash_pairs(df).collect()}
    assert (1, 2) in out
    assert not any(3 in p for p in out)


def _py_ari(pairs):
    """Reference ARI from (label_a, label_b) tuples."""
    from collections import Counter

    n = len(pairs)
    cij = Counter(pairs)
    ca = Counter(a for a, _ in pairs)
    cb = Counter(b for _, b in pairs)
    comb = lambda c: c * (c - 1) // 2
    idx = sum(comb(c) for c in cij.values())
    sa = sum(comb(c) for c in ca.values())
    sb = sum(comb(c) for c in cb.values())
    c2n = comb(n)
    exp = sa * sb / c2n
    mx = (sa + sb) / 2
    return (idx - exp) / (mx - exp)


def test_clustering_agreement_matches_reference(spark):
    from gbdc_spark.operators.dedup import clustering_agreement

    # the classic 2-vs-3 cluster example
    la = ["x", "x", "x", "y", "y", "y"]
    lb = ["p", "p", "q", "q", "r", "r"]
    a = spark.createDataFrame(
        [(i, v) for i, v in enumerate(la)], "doc_id long, cluster string"
    )
    b = spark.createDataFrame(
        [(i, v) for i, v in enumerate(lb)], "doc_id long, cluster string"
    )
    out = clustering_agreement(a, b).collect()[0]
    assert out["n"] == 6
    ref = _py_ari(list(zip(la, lb)))
    assert out["ari"] == pytest.approx(round(ref, 6), abs=1e-9)


def test_clustering_agreement_identical_is_one(spark):
    from gbdc_spark.operators.dedup import clustering_agreement

    rows = [(i, f"c{i % 4}") for i in range(40)]
    a = spark.createDataFrame(rows, "doc_id long, cluster string")
    # same partition under permuted label NAMES — ARI is label-invariant
    b = spark.createDataFrame(
        [(i, f"z{(int(c[1]) + 2) % 4}") for i, c in rows],
        "doc_id long, cluster string",
    )
    out = clustering_agreement(a, b).collect()[0]
    assert out["ari"] == 1.0 and out["rand_index"] == 1.0


def test_clustering_agreement_comb2_exact_above_2_pow_53(spark):
    from gbdc_spark.operators.dedup import _comb2

    # c*(c-1) = 2^54 + 3*2^27 + 2 > 2^53: a double division rounds it,
    # the pair counts must stay exact integers
    c = 2**27 + 2
    got = spark.createDataFrame([(c,)], "_c long").select(_comb2("_c").alias("p")).first()["p"]
    assert got == c * (c - 1) // 2
    assert got != int(float(c * (c - 1)) / 2)


def test_clustering_agreement_inner_join_domain(spark):
    from gbdc_spark.operators.dedup import clustering_agreement

    a = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y")], "doc_id long, cluster string"
    )
    b = spark.createDataFrame(
        [(1, "p"), (2, "p")], "doc_id long, cluster string"
    )
    out = clustering_agreement(a, b).collect()[0]
    assert out["n"] == 2  # key 3 dropped: agreement over the common domain
    assert out["ari"] == 1.0
