"""Spark extraction stages vs the kernels they wrap, plus parallelism
determinism (local shuffle/partition count must not change results)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gbdc_spark.kernels import cnf, hashes, transforms
from gbdc_spark.operators import extract
from gbdc_spark.sources import synth, tables

N = 60


@pytest.fixture(scope="module")
def seqs(spark):
    return spark.createDataFrame(synth.gen_sequences_pdf(N)).repartition(7)


def test_gbdhash_stage(spark, seqs):
    got = {r["doc_id"]: r["gbdhash"] for r in extract.with_gbdhash(seqs).collect()}
    for idx in range(N):
        t = synth.gen_cnf_tokens(42, idx)
        assert got[f"doc{idx:08d}"] == hashes.gbdhash_cnf(t)


def test_isohash_stage(spark, seqs):
    got = {r["doc_id"]: r["isohash"] for r in extract.with_isohash(seqs).collect()}
    for idx in range(0, N, 7):
        assert got[f"doc{idx:08d}"] == hashes.isohash_cnf(synth.gen_cnf_tokens(42, idx))


def test_base_features_stage(spark, seqs):
    rows = extract.with_base_features(seqs).select("doc_id", "features.*").collect()
    got = {r["doc_id"]: [r[n] for n in cnf.BASE_FEATURES_NAMES] for r in rows}
    for idx in range(0, N, 5):
        want = cnf.cnf_base_features(synth.gen_cnf_tokens(42, idx))
        np.testing.assert_allclose(got[f"doc{idx:08d}"], want, rtol=1e-7)


def test_extract_all_fused(spark, seqs):
    out = extract.extract_all(seqs)
    rows = out.collect()
    assert len(rows) == N
    byid = {r["doc_id"]: r for r in rows}
    for idx in range(0, N, 9):
        t = synth.gen_cnf_tokens(42, idx)
        r = byid[f"doc{idx:08d}"]
        assert r["status"] == "ok"
        assert r["gbdhash"] == hashes.gbdhash_cnf(t)
        assert r["clauses"] == cnf.cnf_base_features(t)[0]
        assert r["runtime_s"] >= 0.0


def test_extract_all_plan_is_one_map_in_arrow(spark, seqs):
    out = extract.extract_all(seqs, rebalance=False)
    assert "tokens" not in out.columns
    assert out.columns[: len(seqs.columns) - 1] == [c for c in seqs.columns if c != "tokens"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1
    assert "MapInPandas" not in plan


def test_single_stages_null_tokens(spark):
    df = spark.createDataFrame(
        [("a", [1, -2, 0]), ("b", None), ("c", [])], "doc_id string, tokens array<int>"
    )
    out = extract.with_base_features(extract.with_isohash(extract.with_gbdhash(df)))
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows["b"]["gbdhash"] is None and rows["b"]["isohash"] is None
    assert rows["b"]["features"] is None
    for k, t in (("a", [1, -2, 0]), ("c", [])):
        assert rows[k]["gbdhash"] == hashes.gbdhash_cnf(t)
        assert rows[k]["isohash"] == hashes.isohash_cnf(t)
        assert rows[k]["features"]["clauses"] == cnf.cnf_base_features(np.asarray(t, dtype=np.int64))[0]


def test_sanitize_stage_token_equality(spark, seqs):
    got = {r["doc_id"]: r["tokens"] for r in extract.sanitize(seqs).collect()}
    for idx in range(N):
        want = transforms.sanitize_tokens(synth.gen_cnf_tokens(42, idx)).tolist()
        assert got[f"doc{idx:08d}"] == want  # exact token-array equality


def test_cnf2kis_stage(spark, seqs):
    rows = extract.with_cnf2kis_counts(seqs).select("doc_id", "kis.*").collect()
    for r in rows[:20]:
        idx = int(r["doc_id"][3:])
        want = transforms.cnf2kis_counts(synth.gen_cnf_tokens(42, idx))
        assert (r["nodes"], r["edges"], r["k"]) == (want["nodes"], want["edges"], want["k"])


def test_normalize_stage_jvm_only(spark, seqs):
    out = extract.normalize(seqs)
    # no BatchEvalPython / ArrowEvalPython in the plan: stays JVM-side
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    rows = out.collect()
    for r in rows[:20]:
        idx = int(r["doc_id"][3:])
        nv, nc = transforms.determine_counts(synth.gen_cnf_tokens(42, idx))
        assert (r["n_vars"], r["n_clauses"]) == (nv, nc)


def test_wcnf_stages(spark):
    pdf = synth.gen_wcnf_pdf(30)
    df = spark.createDataFrame(pdf)
    rows = extract.with_wcnf_hashes(extract.with_wcnf_base_features(df)).collect()
    from gbdc_spark.kernels import wcnf as wk

    for r in rows[:10]:
        idx = int(r["doc_id"][4:])
        row = pdf.iloc[idx]
        assert r["wcnfhash"] == hashes.gbdhash_wcnf(row["weights"], int(row["top"]), row["tokens"])
        assert r["wcnfisohash"] == hashes.isohash_wcnf(row["weights"], int(row["top"]), row["tokens"])
        want = wk.wcnf_base_features(row["weights"], int(row["top"]), row["tokens"])
        np.testing.assert_allclose([r["features"][n] for n in wk.WCNF_BASE_FEATURES_NAMES], want, rtol=1e-7)


def test_opb_stages(spark):
    pdf = synth.gen_opb_pdf(30)
    df = spark.createDataFrame(pdf)
    rows = extract.with_opb_hash(extract.with_opb_base_features(df)).collect()
    from gbdc_spark.kernels import opb as ok

    for r in rows[:10]:
        idx = int(r["doc_id"][3:])
        payload = pdf.iloc[idx]["payload"]
        assert r["opbhash"] == hashes.gbdhash_opb_text(payload)
        want = ok.opb_base_features(payload)
        np.testing.assert_allclose([r["features"][n] for n in ok.OPB_BASE_FEATURES_NAMES], want, rtol=1e-7)


def test_documents_tokenizer_deterministic(spark):
    a = tables.documents_as_sequences(spark, "/root/testdata/sf0.001")
    rows = a.orderBy("doc_id").limit(3).collect()
    assert all(r["tokens"][-1] == 0 for r in rows)
    assert all(r["n_tok"] == len(r["tokens"]) for r in rows)
    # deterministic across partitioning
    b = tables.documents_as_sequences(spark, "/root/testdata/sf0.001").repartition(13)
    assert a.orderBy("doc_id").collect() == b.orderBy("doc_id").collect()


def test_distributed_synth_matches_driver_side(spark):
    dist = tables.synth_sequences_df(spark, 25).orderBy("doc_id").toPandas()
    drv = synth.gen_sequences_pdf(25)
    assert dist["doc_id"].tolist() == drv["doc_id"].tolist()
    for a, b in zip(dist["tokens"], drv["tokens"]):
        assert list(a) == list(b)
    assert dist["source"].tolist() == drv["source"].tolist()


def test_gate_features_stage_matches_kernel(spark):
    from gbdc_spark.kernels import gates as gk

    df = tables.synth_sequences_df(spark, 20)
    rows = extract.with_gate_features(df).orderBy("doc_id").collect()
    assert len(rows) == 20
    for r in rows[:8]:
        idx = int(r["doc_id"][3:])
        toks = synth.gen_cnf_tokens(seed=42, idx=idx)
        want = gk.gate_features(toks)
        got = [r["gate_features"][n] for n in gk.GATE_FEATURE_NAMES]
        np.testing.assert_allclose(got, want, rtol=1e-7)


def test_pqbf_hash_stage_matches_kernel(spark):
    from gbdc_spark.sources.synth import gen_pqbf_pdf

    pdf = gen_pqbf_pdf(30)
    rows = extract.with_pqbf_hash(spark.createDataFrame(pdf)).orderBy("doc_id").collect()
    assert len(rows) == 30
    for r in rows[:10]:
        idx = int(r["doc_id"][3:])
        assert r["pqbfhash"] == hashes.gbdhash_pqbf_text(pdf.iloc[idx]["payload"])


def test_cnf2kis_edges_stage(spark):
    df = tables.synth_sequences_df(spark, 12)
    edges = extract.cnf2kis_edges(df).toPandas()
    counts = extract.with_cnf2kis_counts(df).select("doc_id", "kis.*").toPandas()
    got = edges.groupby("doc_id").size().to_dict()
    for _, r in counts.iterrows():
        assert got.get(r["doc_id"], 0) == r["edges"]
    # spot-check exact pairs vs the kernel on one doc
    d0 = sorted(got)[0] if got else None
    if d0 is not None:
        t = synth.gen_cnf_tokens(seed=42, idx=int(d0[3:]))
        want = transforms.cnf2kis_edges(np.asarray(t, dtype=np.int64))
        sub = edges[edges["doc_id"] == d0][["a", "b"]].to_numpy()
        assert sorted(map(tuple, sub.tolist())) == sorted(map(tuple, want.tolist()))


def test_register_views_sql_surface(spark):
    names = tables.register_views(spark, "/root/testdata/sf0.001")
    assert "lineitem" in names and "sequences" in names
    r = spark.sql(
        "SELECT count(*) AS n, sum(n_tok) AS toks FROM sequences WHERE source IS NOT NULL"
    ).first()
    assert r["n"] > 0 and r["toks"] > 0
    r2 = spark.sql(
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag"
    ).count()
    assert r2 > 0
