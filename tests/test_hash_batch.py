"""Batch GBDHash/ISOHash kernels vs the per-doc oracle kernels, and the
``extract_all`` batch body (``extract._extract_batch``) as a pure
function on one Arrow RecordBatch — no Spark."""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from gbdc_spark.kernels import cnf, hashes
from gbdc_spark.operators import extract
from gbdc_spark.schemas import BASE_FEATURES_NAMES
from gbdc_spark.sources.synth import gen_cnf_tokens

EDGE_DOCS = [
    [],                        # empty doc: md5("") for both hashes
    [0, 0],                    # two empty clauses
    [1, -2, 0, 3, -4],         # unterminated trailing clause
    [-5],                      # single negative literal, no terminator
    [-7, 0],                   # single negative unit clause
    [2_000_000, -3, 0, 1_999_999, 0],  # large var ids
    [3, 3, 0, -3, 0],          # duplicate literal
]


def _flat(docs):
    """Kernel input built by the Spark stages' Arrow reader."""
    return extract._flat_tokens(pa.array(docs, pa.list_(pa.int64())))


def _check(docs):
    values, offsets = _flat(docs)
    assert list(hashes.gbdhash_cnf_batch(values, offsets)) == [
        hashes.gbdhash_cnf(np.asarray(d, dtype=np.int64)) for d in docs]
    assert list(hashes.isohash_cnf_batch(values, offsets)) == [
        hashes.isohash_cnf(np.asarray(d, dtype=np.int64)) for d in docs]


def test_batch_hashes_match_per_doc_on_edge_docs():
    _check(EDGE_DOCS)
    for d in EDGE_DOCS:  # each edge doc alone, too
        _check([d])


def test_batch_hashes_match_per_doc_on_synthetic_corpus():
    _check([gen_cnf_tokens(seed=42, idx=i) for i in range(80)])


def test_batch_hashes_empty_batch():
    values, offsets = _flat([])
    assert hashes.gbdhash_cnf_batch(values, offsets).shape == (0,)
    assert hashes.isohash_cnf_batch(values, offsets).shape == (0,)


def test_batch_hashes_on_sliced_arrow_list_with_null():
    docs = [[9, 9, 0], [1, -2, 0], None, [3, 0, -1], [], [4, 5]]
    # the NULL entry is backed by values (7, 7) that flatten() must skip
    backed = [d if d is not None else [7, 7] for d in docs]
    offsets = np.concatenate(([0], np.cumsum([len(d) for d in backed])))
    arr = pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()), pa.array(sum(backed, []), pa.int32()),
        mask=pa.array([d is None for d in docs]),
    ).slice(1)
    assert arr.offset == 1 and arr.null_count == 1
    values, offsets = extract._flat_tokens(arr)
    want = [d or [] for d in docs[1:]]  # the NULL entry reads as empty
    assert list(hashes.gbdhash_cnf_batch(values, offsets)) == [
        hashes.gbdhash_cnf(d) for d in want]
    assert list(hashes.isohash_cnf_batch(values, offsets)) == [
        hashes.isohash_cnf(d) for d in want]


@st.composite
def docs_strategy(draw):
    def doc():
        lits = st.integers(-40, 40)
        return st.lists(lits, max_size=30)
    return draw(st.lists(doc(), max_size=12))


@settings(max_examples=80, deadline=None)
@given(docs_strategy())
def test_batch_hashes_match_per_doc_property(docs):
    _check(docs)


# ------------------------------------------------ extract_all batch body
def _batch(docs):
    return pa.RecordBatch.from_arrays(
        [pa.array([f"d{i}" for i in range(len(docs))]),
         pa.array(docs, pa.list_(pa.int32())),
         pa.array([len(d or []) for d in docs], pa.int32())],
        names=["doc_id", "tokens", "n_tok"],
    )


DOCS = [gen_cnf_tokens(seed=7, idx=i).tolist() for i in range(6)]


def test_extract_batch_columns_and_null_tokens():
    docs = DOCS[:2] + [None] + DOCS[2:]
    out = extract._extract_batch(_batch(docs)).to_pydict()
    assert list(out) == ["doc_id", "n_tok"] + list(extract.EXTRACT_ALL_FIELDS)
    assert out["status"] == ["ok", "ok", "error:TypeError"] + ["ok"] * 4
    assert out["gbdhash"][2] is None and out["isohash"][2] is None
    assert all(out[n][2] is None for n in BASE_FEATURES_NAMES)
    for i, d in enumerate(docs):
        if d is None:
            continue
        assert out["gbdhash"][i] == hashes.gbdhash_cnf(d)
        assert out["isohash"][i] == hashes.isohash_cnf(d)
        want = cnf.cnf_base_features(np.asarray(d, dtype=np.int64))
        np.testing.assert_allclose([out[n][i] for n in BASE_FEATURES_NAMES], want,
                                   rtol=1e-9, atol=1e-12)
    assert out["doc_id"] == [f"d{i}" for i in range(len(docs))]
    assert all(r >= 0.0 for r in out["runtime_s"])


def test_extract_batch_per_doc_fallback_matches_batch_path(monkeypatch):
    docs = DOCS[:3] + [None, [], [1, -2]] + DOCS[3:]
    batch = _batch(docs)
    fast = extract._extract_batch(batch).drop_columns(["runtime_s"]).to_pydict()

    def boom(values, offsets):
        raise MemoryError("batch kernel failure")

    monkeypatch.setattr(extract.hashes, "isohash_cnf_batch", boom)
    slow = extract._extract_batch(batch).drop_columns(["runtime_s"]).to_pydict()
    assert slow.keys() == fast.keys()
    for name in ("doc_id", "n_tok", "gbdhash", "isohash", "status"):
        assert slow[name] == fast[name], name
    for name in BASE_FEATURES_NAMES:
        np.testing.assert_allclose(np.array(slow[name], dtype=float),
                                   np.array(fast[name], dtype=float),
                                   rtol=1e-9, atol=1e-12, err_msg=name)


def test_extract_batch_nan_feature_becomes_null(monkeypatch):
    def nan_features(values, offsets):
        return np.full((len(offsets) - 1, len(BASE_FEATURES_NAMES)), np.nan)

    monkeypatch.setattr(extract, "cnf_base_features_batch", nan_features)
    out = extract._extract_batch(_batch(DOCS[:2]))
    assert out.column("clauses").null_count == 2


@pytest.mark.parametrize("empty", [True, False])
def test_extract_batch_empty_or_single(empty):
    docs = [] if empty else [[]]
    out = extract._extract_batch(_batch(docs))
    assert out.num_rows == len(docs)
    if not empty:
        assert out.column("gbdhash").to_pylist() == [hashes.gbdhash_cnf([])]
        assert out.column("status").to_pylist() == ["ok"]
