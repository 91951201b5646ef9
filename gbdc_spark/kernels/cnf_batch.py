"""Batched CNF base features: all 58 features for a WHOLE Arrow batch of
docs in segmented numpy operations — no per-doc Python dispatch.

Semantically identical to kernels/cnf.py (the per-doc kernel remains the
oracle; tests/test_cnf_batch.py gates equality at rtol 1e-9 over
synthetic + edge docs).  Float caveat: segmented reductions use
``np.add.reduceat`` (sequential) where the per-doc kernel uses
``np.add.reduce`` (pairwise above ~128 elements), so the last ulps of
mean/variance can differ on large docs — far inside the reference's own
1e-5 tolerance (tests_cnfbasefeatures.cc:15-19).

Construction notes:
* input is the flat buffer + offsets of an Arrow ``list<int>`` column,
  so no per-doc array is ever built;
* every doc's token stream is closed with a terminating 0 if missing;
* per-(doc,var) dense arrays live in one global index space via
  ``var_offset[d] + var`` with ``n_vars_d + 1`` slots per doc (slot 0
  included — the reference's arrays are 1-based with an always-zero
  0 slot, CNFBaseFeatures.h:112-119);
* connected components run for ALL docs simultaneously: one min-label
  propagation over the global var space (labels never cross doc
  boundaries because clauses don't);
* empty docs reproduce the reference's byte-count underflow
  (2**32 - 1, CNFBaseFeatures.h:109-110).
"""

from __future__ import annotations

import numpy as np

from .cnf import BASE_FEATURES_NAMES
from .tokens import close_docs

__all__ = ["cnf_base_features_batch"]

_LOG2 = np.log2


def _seg_dist(values: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """push_distribution per segment -> (n_seg, 5); empty segments -> 0s.

    values must be segment-contiguous (segment i occupies
    values[starts[i] : starts[i] + lens[i]]).
    """
    n_seg = starts.size
    out = np.zeros((n_seg, 5))
    nz = lens > 0
    if not nz.any():
        return out
    v = values.astype(np.float64, copy=False)
    s = starts[nz]
    n = lens[nz].astype(np.float64)
    sums = np.add.reduceat(v, s)
    mean = sums / n
    # variance: two-pass with the segment mean subtracted per element
    seg_of = np.repeat(np.arange(n_seg), lens)
    mean_full = np.zeros(n_seg)
    mean_full[nz] = mean
    d = v - mean_full[seg_of]
    var = np.add.reduceat(d * d, s) / n
    out[nz, 0] = mean
    out[nz, 1] = var
    out[nz, 2] = np.minimum.reduceat(v, s)
    out[nz, 3] = np.maximum.reduceat(v, s)

    # entropy: histogram per (segment, int64-truncated key)
    if values.dtype.kind == "f":
        keys = np.trunc(v).astype(np.int64)
    else:
        keys = values.astype(np.int64)
    # one segment-major (segment, key) code per element: a single sort
    # puts the runs in (segment, key) order
    kmin = keys.min()
    span = int(keys.max() - kmin) + 1
    code = np.sort(seg_of * span + (keys - kmin))
    run_starts = np.flatnonzero(np.concatenate(([True], code[1:] != code[:-1])))
    run_code = code[run_starts]
    run_counts = np.diff(np.append(run_starts, code.size))
    run_seg = run_code // span
    k_per_seg = np.bincount(run_seg, minlength=n_seg)

    n_full = np.zeros(n_seg)
    n_full[nz] = n
    p = run_counts / n_full[run_seg]
    summand = p * _LOG2(p)
    # reference order: summands ascending by |magnitude| within each doc
    s_order = np.lexsort((np.abs(summand), run_seg))
    summand, sseg = summand[s_order], run_seg[s_order]
    ent_starts = np.searchsorted(sseg, np.arange(n_seg))
    ent_lens = np.bincount(sseg, minlength=n_seg)
    ent = np.zeros(n_seg)
    has = ent_lens > 0
    ent[has] = -np.add.reduceat(summand, ent_starts[has])
    multi = k_per_seg > 1
    out[multi, 4] = ent[multi] / _LOG2(k_per_seg[multi].astype(np.float64))
    return out


def _seg_ccs(gvar_of_lit: np.ndarray, cid: np.ndarray, var_offset: np.ndarray,
             n_vars_doc: np.ndarray) -> np.ndarray:
    """Component count per doc over the global var index space."""
    n_docs = n_vars_doc.size
    total = int(var_offset[-1])
    labels = np.arange(total, dtype=np.int64)
    if gvar_of_lit.size:
        # cid is nondecreasing (docs and clauses are stream-ordered), so
        # clause groups need no sort: each round is a clause-min reduceat,
        # a scatter-min back onto the vars, then pointer jumping
        sv = gvar_of_lit
        new_clause = np.concatenate(([True], cid[1:] != cid[:-1]))
        clause_starts = np.flatnonzero(new_clause)
        clause_of_lit = np.cumsum(new_clause) - 1
        while True:
            cl_min = np.minimum.reduceat(labels[sv], clause_starts)
            new = labels.copy()
            np.minimum.at(new, sv, cl_min[clause_of_lit])
            new = new[new]  # pointer jumping
            if np.array_equal(new, labels):
                break
            labels = new
    # at the fixed point every component is labelled by its smallest
    # slot, so a doc's components are its roots; each doc's 0 slot is an
    # isolated root of its own and is not a var
    roots = labels == np.arange(total)
    roots[var_offset[:-1]] = False
    return np.bincount(np.repeat(np.arange(n_docs), np.diff(var_offset))[roots],
                       minlength=n_docs)


def cnf_base_features_batch(values, offsets) -> np.ndarray:
    """(n_docs, 58) base features of a flat token buffer: doc i is
    ``values[offsets[i]:offsets[i + 1]]`` (an Arrow ListArray's flat
    values and offsets; ``offsets[0]`` may be nonzero)."""
    T, offs = close_docs(values, offsets)
    n_docs = offs.size - 1
    if n_docs == 0:
        return np.zeros((0, len(BASE_FEATURES_NAMES)))
    doc_len = np.diff(offs)
    doc_of_tok = np.repeat(np.arange(n_docs), doc_len)

    is_lit = T != 0
    lits = T[is_lit]
    doc_of_lit = doc_of_tok[is_lit]
    vars_ = np.abs(lits)
    signs = lits < 0

    # clause ids: zeros terminate; clause's doc = doc of its terminator
    zeros_pos = np.flatnonzero(~is_lit)
    cid_of_tok = np.concatenate(([0], np.cumsum(~is_lit)))[:-1]
    cid = cid_of_tok[is_lit]
    n_clauses_total = zeros_pos.size
    doc_of_clause = doc_of_tok[zeros_pos]
    n_clauses_doc = np.bincount(doc_of_clause, minlength=n_docs)

    # per-doc n_vars and the global var index space
    n_vars_doc = np.zeros(n_docs, dtype=np.int64)
    if lits.size:
        np.maximum.at(n_vars_doc, doc_of_lit, vars_)
    var_slots = n_vars_doc + 1
    var_offset = np.concatenate(([0], np.cumsum(var_slots)))
    gvar = var_offset[doc_of_lit] + vars_ if lits.size else np.zeros(0, np.int64)
    total_slots = int(var_offset[-1])

    sizes = np.bincount(cid, minlength=max(n_clauses_total, 1))[:n_clauses_total]
    # clause-size histogram per doc
    hist_idx = doc_of_clause * 11 + np.minimum(sizes, 10)
    size_hist = np.bincount(hist_idx, minlength=n_docs * 11).reshape(n_docs, 11)

    # bytes (reference reconstruction incl. the empty-doc underflow)
    ndig = np.ceil(np.log10(vars_.astype(np.float64))) if lits.size else np.zeros(0)
    per_lit = signs.astype(np.float64) + ndig + 1.0
    lit_bytes = np.bincount(doc_of_lit, weights=per_lit, minlength=n_docs) if lits.size \
        else np.zeros(n_docs)
    byte_total = lit_bytes.astype(np.int64) + 2 * n_clauses_doc - 1
    bytes_u32 = np.mod(byte_total, 1 << 32).astype(np.float64)

    n_neg = np.bincount(cid[signs], minlength=max(n_clauses_total, 1))[:n_clauses_total]
    n_pos = sizes - n_neg
    horn_mask = n_neg <= 1
    inv_mask = n_pos <= 1
    horn = np.bincount(doc_of_clause[horn_mask], minlength=n_docs)
    inv_horn = np.bincount(doc_of_clause[inv_mask], minlength=n_docs)
    positive = np.bincount(doc_of_clause[n_neg == 0], minlength=n_docs)
    negative = np.bincount(doc_of_clause[n_pos == 0], minlength=n_docs)

    if lits.size:
        variable_horn = np.bincount(gvar[horn_mask[cid]], minlength=total_slots)
        variable_inv_horn = np.bincount(gvar[inv_mask[cid]], minlength=total_slots)
        pos_occ = np.bincount(gvar[~signs], minlength=total_slots)
        neg_occ = np.bincount(gvar[signs], minlength=total_slots)
        vcg_vdegree = np.bincount(gvar, minlength=total_slots)
        vg_degree = np.bincount(gvar, weights=sizes[cid], minlength=total_slots)
        cg_degree = np.bincount(cid, weights=vcg_vdegree[gvar], minlength=n_clauses_total)
    else:
        variable_horn = variable_inv_horn = pos_occ = neg_occ = np.zeros(total_slots, np.int64)
        vcg_vdegree = np.zeros(total_slots, np.int64)
        vg_degree = np.zeros(total_slots)
        cg_degree = np.zeros(n_clauses_total)

    # distributions over dense per-doc var arrays (slot 0 included)
    var_starts = var_offset[:-1]
    d_vh = _seg_dist(variable_horn, var_starts, var_slots)
    d_vih = _seg_dist(variable_inv_horn, var_starts, var_slots)

    # balance per clause (nonempty clauses), clauses are doc-contiguous
    nonempty = sizes > 0
    bal_cl = np.minimum(n_pos, n_neg)[nonempty] / np.maximum(n_pos, n_neg)[nonempty]
    bal_doc = doc_of_clause[nonempty]
    bal_lens = np.bincount(bal_doc, minlength=n_docs)
    bal_starts = np.concatenate(([0], np.cumsum(bal_lens)))[:-1]
    d_bc = _seg_dist(bal_cl, bal_starts, bal_lens)

    # balance per variable: slots 0..n_vars-1 per doc, keep max(occ)>0
    keep_mask = np.zeros(total_slots, dtype=bool)
    p_f = pos_occ.astype(np.float64)
    q_f = neg_occ.astype(np.float64)
    mx = np.maximum(p_f, q_f)
    # exclude each doc's LAST slot (var n_vars, reference quirk) and 0-occ
    last_slots = var_offset[1:] - 1
    keep_mask[:] = mx > 0
    keep_mask[last_slots] = False
    bv = np.minimum(p_f, q_f)[keep_mask] / mx[keep_mask]
    bv_doc = (np.searchsorted(var_offset, np.flatnonzero(keep_mask), side="right") - 1)
    bv_lens = np.bincount(bv_doc, minlength=n_docs)
    bv_starts = np.concatenate(([0], np.cumsum(bv_lens)))[:-1]
    d_bv = _seg_dist(bv, bv_starts, bv_lens)

    ccs = _seg_ccs(gvar, cid, var_offset, n_vars_doc)

    # Base2 distributions
    d_vcgv = _seg_dist(vcg_vdegree, var_starts, var_slots)
    d_vcgc = _seg_dist(sizes.astype(np.int64), bal_starts_all := np.concatenate(
        ([0], np.cumsum(n_clauses_doc)))[:-1], n_clauses_doc)
    d_vg = _seg_dist(vg_degree.astype(np.int64), var_starts, var_slots)
    d_cg = _seg_dist(cg_degree.astype(np.int64), bal_starts_all, n_clauses_doc)

    out = np.zeros((n_docs, 58))
    out[:, 0] = n_clauses_doc
    out[:, 1] = n_vars_doc
    out[:, 2] = bytes_u32
    out[:, 3] = ccs
    out[:, 4:14] = size_hist[:, 1:11]
    out[:, 14] = horn
    out[:, 15] = inv_horn
    out[:, 16] = positive
    out[:, 17] = negative
    out[:, 18:23] = d_vh
    out[:, 23:28] = d_vih
    out[:, 28:33] = d_bc
    out[:, 33:38] = d_bv
    out[:, 38:43] = d_vcgv
    out[:, 43:48] = d_vcgc
    out[:, 48:53] = d_vg
    out[:, 53:58] = d_cg
    return out
