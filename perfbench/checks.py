"""Correctness checks on what a job run committed.

Each check returns whether it passed and prints why when it did not; a
failed check counts against the run's ``failed`` tally the same way a
failed job does.
"""

from __future__ import annotations

import sys
import time

import numpy as np
import pandas as pd

from workloads import KEYS, Inputs


def report(name: str, ok: bool, detail: str = "") -> bool:
    if not ok:
        print(f"check {name} FAILED {detail}", file=sys.stderr)
    return ok


def kernel_reference(inp: Inputs, ids: list[str]) -> tuple[pd.DataFrame, dict[str, float]]:
    """Direct single-thread kernel calls on the driver for the sampled
    docs ``ids``: expected hashes/features per doc_id, and µs per doc of
    each kernel."""
    from gbdc_spark.kernels import cnf, hashes

    seqs = pd.read_parquet(inp.seq_dir, columns=["doc_id", "tokens"],
                           filters=[("doc_id", "in", ids)])
    arrs = [np.asarray(t, dtype=np.int64) for t in seqs["tokens"]]
    out = {"doc_id": list(seqs["doc_id"])}
    us = {}
    for name, fn in [("gbdhash", hashes.gbdhash_cnf), ("isohash", hashes.isohash_cnf),
                     ("features", cnf.cnf_base_features)]:
        t0 = time.perf_counter()
        out[name] = [fn(a) for a in arrs]
        us[name] = (time.perf_counter() - t0) * 1e6 / max(len(arrs), 1)
    return pd.DataFrame(out), us


def check_kernels(committed: pd.DataFrame, ref: pd.DataFrame) -> bool:
    """gbdhash, isohash, the 58 features and status of the sampled docs
    equal a direct kernel call (features to rtol 1e-9: the job uses the
    batched kernel, whose sums run in another order)."""
    from gbdc_spark.schemas import BASE_FEATURES_NAMES

    got = committed.set_index("doc_id").loc[ref["doc_id"]]
    if (got["status"] != "ok").any():
        return report("kernels", False, "status != ok on sampled docs")
    for col in ("gbdhash", "isohash"):
        bad = (got[col].to_numpy() != ref[col].to_numpy()).sum()
        if bad:
            return report("kernels", False, f"{bad} {col} mismatches")
    want = np.vstack(ref["features"].to_numpy())
    have = got[list(BASE_FEATURES_NAMES)].to_numpy(dtype=np.float64)
    ok = np.allclose(have, want, rtol=1e-9, atol=1e-12, equal_nan=True)
    return report("kernels", ok, "feature mismatch")


def _us(col: pd.Series) -> list:
    """Timestamps as integer µs (None for missing)."""
    ts = pd.to_datetime(col)
    vals = ts.astype("int64") // 1000
    return [None if m else int(v) for v, m in zip(vals, ts.isna())]


def check_asof(committed: pd.DataFrame, inp: Inputs) -> bool:
    """As-of columns equal a plain-Python reference: the latest snapshot
    with snapshot_ts < ingest_ts, max snapshot_id on ties, else nulls."""
    snaps = pd.read_parquet(inp.snap_dir)
    by_doc: dict[str, list[tuple[int, int, float]]] = {}
    for d, ts, sid, score in zip(snaps["doc_id"], _us(snaps["snapshot_ts"]),
                                 snaps["snapshot_id"], snaps["prev_score"]):
        by_doc.setdefault(d, []).append((ts, int(sid), float(score)))
    bad = 0
    for d, its, sts, sid, score in zip(committed["doc_id"], _us(committed["ingest_ts"]),
                                       _us(committed["snapshot_ts"]),
                                       committed["snapshot_id"], committed["prev_score"]):
        prior = [s for s in by_doc.get(d, []) if s[0] < its]
        want = max(prior) if prior else (None, None, None)
        have = (sts, None if pd.isna(sid) else int(sid), None if pd.isna(score) else float(score))
        bad += have != want
    return report("asof", bad == 0, f"{bad} of {len(committed)} rows differ")


def check_resume(inp: Inputs, delta: pd.DataFrame) -> bool:
    """The appended snapshot (``delta``) holds exactly the keys the base
    lacked, each once.  Every base key is at or before the cutoff and
    every delta key after it, so the table has no duplicate key."""
    def key_set(df: pd.DataFrame) -> set:
        return set(zip(df["doc_id"], _us(df["ingest_ts"])))

    have = key_set(delta)
    seqs = pd.read_parquet(inp.seq_dir, columns=KEYS)
    want = {k for k in key_set(seqs) if k[1] > inp.cutoff_us}
    dups = len(delta) - len(have)
    return report("resume", have == want and dups == 0,
                  f"missing={len(want - have)} extra={len(have - want)} duplicate_keys={dups}")
