"""Token-stream primitives for the DIMACS integer encoding.

A document is a flat int32 array: signed literals, ``0`` terminates a
clause.  A trailing clause without its terminating 0 still counts as a
clause (the reference's readClause yields it,
/root/reference/src/util/StreamBuffer.h:321-338).
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "as_tokens",
    "close_docs",
    "clause_ids",
    "n_clauses_of",
    "clause_sizes_of",
    "split_clauses",
    "tokenize_dimacs",
    "render_dimacs",
]


def as_tokens(tokens) -> np.ndarray:
    """Coerce list/array into a contiguous int64 working array."""
    return np.asarray(tokens, dtype=np.int64)


def close_docs(values: np.ndarray, offsets: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Flat multi-doc token buffer -> the same docs, each nonempty doc
    closed with a terminating 0 if it lacks one.

    Doc ``i`` is ``values[offsets[i]:offsets[i + 1]]``; ``offsets[0]``
    may be nonzero (an Arrow slice).  Returns ``(values, offsets)`` with
    ``offsets[0] == 0``; one vectorized insert, no per-doc Python.
    """
    values = as_tokens(values)
    offsets = np.asarray(offsets, dtype=np.int64)
    vals = values[offsets[0]:offsets[-1]]
    lens = np.diff(offsets)
    ends = offsets[1:] - offsets[0] - 1
    open_docs = np.flatnonzero((lens > 0) & (vals[np.maximum(ends, 0)] != 0)) \
        if vals.size else ends[:0]
    if open_docs.size:
        vals = np.insert(vals, ends[open_docs] + 1, 0)
        lens = lens.copy()
        lens[open_docs] += 1
    return vals, np.concatenate(([0], np.cumsum(lens)))


def clause_ids(tokens: np.ndarray) -> tuple[np.ndarray, np.ndarray, int]:
    """Return (lits, cid_of_lit, n_clauses).

    ``lits`` are the nonzero tokens in stream order; ``cid_of_lit`` maps
    each literal to its 0-based clause index; ``n_clauses`` counts every
    terminated clause plus a trailing unterminated one (and counts empty
    clauses produced by consecutive zeros).
    """
    if tokens.size == 0:
        return tokens, np.zeros(0, dtype=np.int64), 0
    is_zero = tokens == 0
    cid = np.zeros(tokens.size, dtype=np.int64)
    np.cumsum(is_zero[:-1], out=cid[1:])
    n_clauses = int(is_zero.sum())
    if not is_zero[-1]:
        n_clauses += 1
    mask = ~is_zero
    return tokens[mask], cid[mask], n_clauses


def n_clauses_of(tokens: np.ndarray) -> int:
    return clause_ids(tokens)[2]


def clause_sizes_of(tokens: np.ndarray) -> np.ndarray:
    """Per-clause literal counts (length n_clauses; empty clauses -> 0)."""
    _, cid, n_clauses = clause_ids(tokens)
    return np.bincount(cid, minlength=n_clauses).astype(np.int64)


def split_clauses(tokens: np.ndarray) -> list[np.ndarray]:
    """Materialize the clause list (without terminators)."""
    lits, cid, n_clauses = clause_ids(tokens)
    if n_clauses == 0:
        return []
    bounds = np.searchsorted(cid, np.arange(1, n_clauses))
    return np.split(lits, bounds)


def tokenize_dimacs(text: str) -> np.ndarray:
    """Raw-text ingest: DIMACS body -> int32 token stream.

    Skips ``c``/``p`` lines; accepts ``+``-prefixed and leading-zero
    literals like the reference's readNumber
    (/root/reference/src/util/StreamBuffer.h:288-314).  NOTE: leading
    zeros are not representable in the integer stream, so hashing from
    tokens equals hashing the raw text only for canonically-written
    literals (no leading zeros) — gbdhash_cnf_text covers the general case.
    """
    out: list[int] = []
    for line in text.splitlines():
        s = line.strip()
        if not s or s[0] in ("c", "p"):
            continue
        for word in s.split():
            out.append(int(word))
    return np.asarray(out, dtype=np.int32)


def render_dimacs(tokens: np.ndarray, header: tuple[int, int] | None = None) -> str:
    """Canonical text: optional ``p cnf V C`` header + one clause per line."""
    lines = []
    if header is not None:
        lines.append(f"p cnf {header[0]} {header[1]}")
    for cl in split_clauses(tokens):
        lines.append(" ".join(map(str, cl.tolist())) + " 0" if cl.size else "0")
    return "\n".join(lines) + "\n"
