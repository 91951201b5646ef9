"""Content-identification hashes (the reference's primary keys).

Numpy/python kernels re-expressing /root/reference/src/identify/GBDHash.h
and ISOHash.h.  Tokens-based variants take the DIMACS integer stream; the
*_text variants take raw payload text and replicate the parser quirks
(leading zeros kept, '+' dropped — StreamBuffer.h:288-314).  The CNF
*_batch variants hash every doc of a flat multi-doc token buffer (an
Arrow list column's values + offsets) with no per-doc Python but the
MD5 call; the per-doc kernels are their oracle.

Replicated quirks:
* WCNF gbdhash: the new-format 'h' branch never sets ``notfirst``, so the
  inter-clause separator only appears after a clause that went through the
  numeric-weight branch (GBDHash.h:167-203).
* WCNF isohash: soft occurrences add ``weight + 1``
  (``++x += weight``, ISOHash.h:128-129), and hard degrees are added INTO
  the soft sequence before polarity-normalization (:134-136).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .scan import Scanner
from .tokens import as_tokens, close_docs

__all__ = [
    "gbdhash_cnf",
    "gbdhash_cnf_batch",
    "gbdhash_cnf_text",
    "gbdhash_pqbf_text",
    "gbdhash_wcnf",
    "gbdhash_wcnf_text",
    "gbdhash_opb_text",
    "isohash_cnf",
    "isohash_cnf_batch",
    "isohash_wcnf",
]

HARD = -1  # sentinel weight for new-format 'h' clauses


def _md5(data: bytes) -> str:
    return hashlib.md5(data).hexdigest()


def gbdhash_cnf(tokens) -> str:
    """MD5 of the canonical clause text ``"l1 l2 0 l3 0"``
    (GBDHash.h:30-50).  A trailing clause missing its 0 is closed."""
    tokens = as_tokens(tokens)
    if tokens.size == 0:
        return _md5(b"")
    parts = " ".join(map(str, tokens.tolist()))
    if tokens[-1] != 0:
        parts += " 0"
    return _md5(parts.encode())


def _join_docs(items: np.ndarray, offsets: np.ndarray) -> pa.Array:
    """Per doc ``items[offsets[i]:offsets[i + 1]]`` in decimal, joined
    by single spaces — one Arrow cast + list join for the whole batch."""
    texts = pc.cast(pa.array(items, pa.int64()), pa.large_string())
    docs = pa.LargeListArray.from_arrays(pa.array(offsets, pa.int64()), texts)
    return pc.binary_join(docs, pa.scalar(" ", pa.large_string()))


def _md5_each(texts: pa.Array, tail: bytes = b"") -> np.ndarray:
    """MD5 hex digest of each text, ``tail`` appended to nonempty ones."""
    return np.array([_md5(b + tail if b else b)
                     for b in texts.cast(pa.large_binary()).to_pylist()], dtype=object)


def gbdhash_cnf_batch(values, offsets) -> np.ndarray:
    """:func:`gbdhash_cnf` for every doc of a flat token buffer (doc i
    is ``values[offsets[i]:offsets[i + 1]]``): close unterminated docs,
    render and join all docs in Arrow, then one MD5 per doc."""
    vals, offs = close_docs(values, offsets)
    return _md5_each(_join_docs(vals, offs))


def gbdhash_cnf_text(text: str) -> str:
    """Raw-text variant: skips p/c lines, preserves leading-zero literal
    spellings exactly as the reference does (GBDHash.h:30-50)."""
    sc = Scanner(text)
    out: list[str] = []
    notfirst = False
    while sc.skip_whitespace():
        if sc.peek() in ("p", "c"):
            if not sc.skip_line():
                break
        else:
            if notfirst:
                out.append(" ")
            while (plit := sc.read_number()) is not None:
                if plit == "0":
                    break
                out.append(plit)
                out.append(" ")
            out.append("0")
            notfirst = True
    return _md5("".join(out).encode())


def gbdhash_pqbf_text(text: str) -> str:
    """(P)QBF hash: like CNF but quantifier lines keep their 'e '/'a '
    prefix (GBDHash.h:54-79)."""
    sc = Scanner(text)
    out: list[str] = []
    notfirst = False
    while sc.skip_whitespace():
        if sc.peek() in ("p", "c"):
            if not sc.skip_line():
                break
        else:
            if notfirst:
                out.append(" ")
            if sc.peek() in ("e", "a"):
                out.append("e " if sc.peek() == "e" else "a ")
                sc.skip()
                sc.skip_whitespace()
            while (plit := sc.read_number()) is not None:
                if plit == "0":
                    break
                out.append(plit)
                out.append(" ")
            out.append("0")
            notfirst = True
    return _md5("".join(out).encode())


def _wcnf_clause_parts(weight: int, top: int, lits: list[int]) -> tuple[str, bool]:
    """Canonical text of one WCNF clause + whether it sets ``notfirst``."""
    body = " ".join(map(str, lits))
    body = f"{body} 0" if lits else "0"
    if weight == HARD:  # new-format 'h' clause: does NOT set notfirst
        return f"h {body}", False
    if top > 0 and weight >= top:  # old-format hard clause
        return f"h {body}", True
    return f"{weight} {body}", True


def gbdhash_wcnf(weights, top: int, tokens) -> str:
    """WCNF hash from the struct encoding: ``weights[i]`` is the raw
    numeric weight of clause i, or HARD (-1) for a new-format 'h' clause;
    ``top`` is 0 for the new format (GBDHash.h:147-206)."""
    tokens = as_tokens(tokens)
    clauses = _split_weighted(tokens)
    out: list[str] = []
    notfirst = False
    for w, lits in zip(list(weights), clauses):
        part, sets = _wcnf_clause_parts(int(w), int(top), lits)
        if notfirst:
            out.append(" ")
        out.append(part)
        notfirst = notfirst or sets
    return _md5("".join(out).encode())


def _split_weighted(tokens: np.ndarray) -> list[list[int]]:
    """Clause lists (no terminators) — aligned with the weights vector."""
    clauses: list[list[int]] = []
    cur: list[int] = []
    for t in tokens.tolist():
        if t == 0:
            clauses.append(cur)
            cur = []
        else:
            cur.append(t)
    if cur:
        clauses.append(cur)
    return clauses


def gbdhash_wcnf_text(text: str) -> str:
    """WCNF hash from raw text, converting the old `p wcnf V C TOP`
    format to the new 'h'-prefixed one on the fly (GBDHash.h:147-206)."""
    sc = Scanner(text)
    out: list[str] = []
    top = 0
    notfirst = False
    while sc.skip_whitespace():
        c = sc.peek()
        if c == "c":
            if not sc.skip_line():
                break
        elif c == "p":
            sc.skip()
            sc.skip_whitespace()
            sc.skip_string("wcnf")
            sc.skip_number()
            sc.skip_number()
            top = int(sc.read_number() or "0")
            sc.skip_line()
        elif c == "h":
            sc.skip()
            if notfirst:
                out.append(" ")
            out.append("h ")
            _consume_clause(sc, out)
        else:
            if notfirst:
                out.append(" ")
            if top > 0:
                nbr = int(sc.read_number() or "0")
                if nbr >= top:
                    out.append("h ")
                else:
                    out.append(str(nbr))
                    out.append(" ")
            _consume_clause(sc, out)
            notfirst = True
    return _md5("".join(out).encode())


def _consume_clause(sc: Scanner, out: list[str]) -> None:
    while (plit := sc.read_number()) is not None:
        if plit == "0":
            break
        out.append(plit)
        out.append(" ")
    out.append("0")


def gbdhash_opb_text(text: str) -> str:
    """OPB canonicalization hash (GBDHash.h:83-143)."""
    sc = Scanner(text)
    out: list[str] = []
    while sc.skip_whitespace():
        c = sc.peek()
        if c == "*":
            if not sc.skip_line():
                break
        elif c == "m":
            out.append("min:")
            sc.skip_string("min:")
            sc.skip_whitespace()
            while sc.peek() != ";":
                if sc.peek() == "x":
                    out.append(" x")
                    sc.skip()
                elif sc.peek() == "~":
                    out.append(" ~x")
                    sc.skip()
                    sc.skip_whitespace()
                    sc.skip()
                else:
                    out.append(" ")
                num = sc.read_number()
                if num is None:
                    break
                out.append(num)
                sc.skip_whitespace()
            out.append(";")
        else:
            while sc.peek() not in (">", "<", "=", ""):
                if sc.peek() == "x":
                    out.append("x")
                    sc.skip()
                elif sc.peek() == "~":
                    out.append("~x")
                    sc.skip()
                    sc.skip_whitespace()
                    sc.skip()
                num = sc.read_number()
                if num is None:
                    break
                out.append(num)
                out.append(" ")
                sc.skip_whitespace()
            while sc.peek() in (">", "<", "="):
                out.append(sc.peek())
                sc.skip()
            num = sc.read_number()
            out.append(" ")
            if num is not None:
                out.append(num)
            out.append(";")
            sc.skip_whitespace()
        if sc.peek() == ";":
            sc.skip()
    return _md5("".join(out).encode())


def _degree_pairs(pos: np.ndarray, neg: np.ndarray) -> np.ndarray:
    """Polarity-normalize (swap so pos >= neg) and lex-sort by (neg, pos);
    drop all-zero rows (ISOHash.h:59-73)."""
    lo = np.minimum(pos, neg)
    hi = np.maximum(pos, neg)
    keep = hi > 0
    lo, hi = lo[keep], hi[keep]
    order = np.lexsort((hi, lo))  # primary: neg (=lo), secondary: pos (=hi)
    return np.stack([lo[order], hi[order]], axis=1) if lo.size else np.zeros((0, 2), np.int64)


def isohash_cnf(tokens) -> str:
    """MD5 of the sorted degree sequence of the literal incidence graph
    (ISOHash.h:41-75)."""
    tokens = as_tokens(tokens)
    lits = tokens[tokens != 0]
    vars_ = np.abs(lits)
    n_vars = int(vars_.max()) if lits.size else 0
    pos = np.bincount(vars_[lits > 0], minlength=n_vars + 1)[1:]
    neg = np.bincount(vars_[lits < 0], minlength=n_vars + 1)[1:]
    pairs = _degree_pairs(pos.astype(np.int64), neg.astype(np.int64))
    buf = "".join(f"{a} {b} " for a, b in pairs.tolist())
    return _md5(buf.encode())


def isohash_cnf_batch(values, offsets) -> np.ndarray:
    """:func:`isohash_cnf` for every doc of a flat token buffer.

    Var ``v`` of doc ``d`` lives at slot ``var_offset[d] + v - 1`` of one
    global space, so two bincounts give every doc's polarity counts; one
    lexsort keyed (doc, lo, hi) orders all degree pairs, and an Arrow
    join renders each doc's ``"lo hi "`` text.  Like the per-doc kernel,
    the space is dense: it holds every doc's max var id.
    """
    values = as_tokens(values)
    offsets = np.asarray(offsets, dtype=np.int64)
    n_docs = offsets.size - 1
    toks = values[offsets[0]:offsets[-1]]
    doc_of_tok = np.repeat(np.arange(n_docs), np.diff(offsets))
    is_lit = toks != 0
    lits = toks[is_lit]
    doc = doc_of_tok[is_lit]
    vars_ = np.abs(lits)
    lit_n = np.bincount(doc, minlength=n_docs)
    has = lit_n > 0
    n_vars = np.zeros(n_docs, dtype=np.int64)
    if lits.size:  # docs are contiguous: one segmented max
        n_vars[has] = np.maximum.reduceat(vars_, (np.cumsum(lit_n) - lit_n)[has])
    var_offset = np.concatenate(([0], np.cumsum(n_vars)))
    slot = var_offset[doc] + vars_ - 1
    total = int(var_offset[-1])
    pos = np.bincount(slot[lits > 0], minlength=total)
    neg = np.bincount(slot[lits < 0], minlength=total)
    lo, hi = np.minimum(pos, neg), np.maximum(pos, neg)
    keep = hi > 0
    lo, hi = lo[keep], hi[keep]
    slot_doc = np.repeat(np.arange(n_docs), n_vars)[keep]
    order = np.lexsort((hi, lo, slot_doc))
    pairs = np.empty(2 * lo.size, dtype=np.int64)
    pairs[0::2], pairs[1::2] = lo[order], hi[order]
    n_pairs = np.bincount(slot_doc, minlength=n_docs)
    texts = _join_docs(pairs, np.concatenate(([0], np.cumsum(2 * n_pairs))))
    # the per-doc text is "lo hi " per pair: a nonempty doc ends in a space
    return _md5_each(texts, tail=b" ")


def isohash_wcnf(weights, top: int, tokens) -> str:
    """WCNF isohash with the reference's accumulation quirks
    (ISOHash.h:79-163): soft occurrences add weight+1; hard degrees are
    added into the soft sequence before normalization."""
    tokens = as_tokens(tokens)
    clauses = _split_weighted(tokens)
    top = int(top)
    weights = [int(w) for w in weights]
    n_vars = int(np.abs(tokens).max()) if tokens.size else 0
    h_pos = np.zeros(n_vars + 1, dtype=np.int64)
    h_neg = np.zeros(n_vars + 1, dtype=np.int64)
    s_pos = np.zeros(n_vars + 1, dtype=np.int64)
    s_neg = np.zeros(n_vars + 1, dtype=np.int64)
    for w, lits in zip(weights, clauses):
        hard = w == HARD or (top != 0 and w >= top)
        for lit in lits:
            v = abs(lit)
            if hard:
                if lit < 0:
                    h_neg[v] += 1
                else:
                    h_pos[v] += 1
            else:
                if lit < 0:
                    s_neg[v] += w + 1  # ++x += weight quirk
                else:
                    s_pos[v] += w + 1
    s_pos += h_pos
    s_neg += h_neg
    hp = _degree_pairs(h_pos[1:], h_neg[1:])
    sp = _degree_pairs(s_pos[1:], s_neg[1:])
    buf = "".join(f"{a} {b} " for a, b in hp.tolist())
    buf += "softs "
    buf += "".join(f"{a} {b} " for a, b in sp.tolist())
    return _md5(buf.encode())
