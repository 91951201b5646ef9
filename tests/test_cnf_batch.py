"""Batched base-features kernel vs the per-doc oracle kernel: near-exact
equality (rtol 1e-9) across synthetic docs including every edge shape."""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from gbdc_spark.kernels.cnf import cnf_base_features
from gbdc_spark.kernels.cnf_batch import cnf_base_features_batch
from gbdc_spark.operators.extract import _flat_tokens
from gbdc_spark.sources.synth import gen_cnf_tokens


def _flat(docs):
    """Kernel input built by the Spark stages' Arrow reader."""
    return _flat_tokens(pa.array(docs, pa.list_(pa.int64())))


def _check(docs):
    got = cnf_base_features_batch(*_flat(docs))
    want = np.vstack([cnf_base_features(np.asarray(d, dtype=np.int64)) for d in docs])
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-12)


def test_batch_equals_perdoc_on_synthetic_corpus():
    # 120 docs: includes clause-free (idx%31==7), unit-only (idx%29==11),
    # gap vars (idx%17==3), dup-lit/tautology (idx%17==5) edge docs
    _check([gen_cnf_tokens(seed=42, idx=i) for i in range(120)])


def test_batch_equals_perdoc_on_big_docs():
    _check([gen_cnf_tokens(seed=9, idx=i, scale=10.0) for i in range(10)])


def test_batch_handles_empty_and_tiny():
    docs = [
        np.zeros(0, dtype=np.int64),                    # empty: bytes=2^32-1
        np.asarray([1, 0], dtype=np.int64),             # one unit clause
        np.asarray([0], dtype=np.int64),                # single empty clause
        np.asarray([1, -1, 0], dtype=np.int64),         # tautology kept raw
        np.asarray([3, 3, 0, -3, 0], dtype=np.int64),   # dup literal
        np.asarray([5, -7], dtype=np.int64),            # missing terminator
    ]
    _check(docs)
    out = cnf_base_features_batch(*_flat(docs))
    assert out[0, 2] == float(2**32 - 1)  # empty-doc byte underflow


def test_batch_empty_input():
    assert cnf_base_features_batch(*_flat([])).shape == (0, 58)


def test_batch_single_doc_matches():
    _check([gen_cnf_tokens(seed=1, idx=2)])


@st.composite
def _docs(draw):
    doc = st.lists(st.integers(-30, 30), max_size=40)
    return draw(st.lists(doc, min_size=1, max_size=10))


@settings(max_examples=80, deadline=None)
@given(_docs())
def test_batch_equals_perdoc_property(docs):
    _check(docs)
