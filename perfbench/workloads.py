"""Workloads and their seeded inputs.

Inputs come from ``gbdc_spark.sources.tables.synth_sequences_df`` and
``synth_snapshots_df`` and are written as parquet; the job under test
sees only those files.  Generation costs more than a job, so each
workload generates one pool of documents (and, for a resume workload,
commits its base table) once per checkout, with a fixed seed.  A run's
``--seed`` then picks the docs of its input from the pool: the same seed
gives the same input, another seed another subset.  Pool generation time
is recorded as information.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import time
from contextlib import redirect_stdout
from dataclasses import dataclass

KEYS = ["doc_id", "ingest_ts"]
POOL_SEED = 20240601  # generator seed of every pool


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int  # docs one job run commits
    pool_docs: int  # docs generated once per checkout
    scale: float  # synth_sequences_df ``scale``: 1.0 gives ~820 tokens/doc
    # resume: the oldest base_docs of the pool are committed once per
    # checkout; every run appends n_docs picked from the newer rest
    base_docs: int = 0

    @property
    def resume(self) -> bool:
        return self.base_docs > 0


WORKLOADS = {
    w.name: w
    for w in [
        Workload("cnf_full", 16000, 24000, 1.0),
        Workload("resume_delta", 10000, 105000, 0.03, base_docs=90000),
    ]
}


@dataclass
class Inputs:
    seq_dir: str
    snap_dir: str
    table_dir: str
    expected_rows: int  # rows one job run commits
    gen_s: float  # generation time of the pool (information)
    base_files: list[str]  # resume: table content every run starts from
    cutoff_us: int | None  # resume: rows with ingest_ts <= cutoff are in the base


def doc_id(idx: int) -> str:
    return f"doc{idx:08d}"


def sample_ids(inp: Inputs, k: int = 200) -> list[str]:
    """About ``k`` doc ids spread evenly over the docs a job run
    commits (for resume, the docs newer than the base)."""
    import pandas as pd

    df = pd.read_parquet(inp.seq_dir, columns=KEYS)
    if inp.cutoff_us is not None:
        us = df["ingest_ts"].astype("datetime64[us]").astype("int64")
        df = df[us > inp.cutoff_us]
    ids = sorted(df["doc_id"])
    return ids[:: max(len(ids) // k, 1)][:k]


def run_job(inp: Inputs, cores: int, resume: bool) -> dict:
    """One ``gbdc_spark.job`` run through its command-line entry; returns
    the commit entry the job prints."""
    from gbdc_spark import job

    argv = ["--input", inp.seq_dir, "--snapshots", inp.snap_dir,
            "--output", inp.table_dir, "--local-cores", str(cores)]
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = job.main(argv + (["--resume"] if resume else []))
    if rc != 0:
        raise RuntimeError(f"gbdc_spark.job exited with {rc}")
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def reset_table(inp: Inputs) -> None:
    """Put the output table back into the state every rep starts from:
    absent, or (resume) exactly the files the base commit wrote."""
    if not inp.base_files:
        shutil.rmtree(inp.table_dir, ignore_errors=True)
        return
    keep = set(inp.base_files)
    for root, dirs, files in os.walk(inp.table_dir, topdown=False):
        for f in files:
            p = os.path.relpath(os.path.join(root, f), inp.table_dir)
            if p not in keep:
                os.remove(os.path.join(root, f))
        for d in dirs:
            full = os.path.join(root, d)
            if not os.listdir(full):
                os.rmdir(full)


def _listing(base: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(r, f), base)
        for r, _, fs in os.walk(base) for f in fs
    )


def ensure_pool(spark, wl: Workload, work: str, cores: int) -> tuple[str, dict]:
    """The workload's pool directory and metadata, made on first use."""
    from gbdc_spark.sources import tables

    pool = os.path.join(work, "pools", f"{wl.name}-p{wl.pool_docs}-x{wl.scale}-b{wl.base_docs}")
    meta_path = os.path.join(pool, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if not wl.resume:
            return pool, meta
        table = os.path.join(pool, "table")
        reset_table(Inputs("", "", table, 0, 0.0, meta["base_files"], None))
        if _listing(table) == meta["base_files"]:
            return pool, meta
    # built in place (the base table's manifest records its own path);
    # meta.json, written last, marks the pool complete
    shutil.rmtree(pool, ignore_errors=True)
    t0 = time.perf_counter()
    tables.synth_sequences_df(spark, wl.pool_docs, seed=POOL_SEED, scale=wl.scale) \
        .write.parquet(os.path.join(pool, "sequences"))
    tables.synth_snapshots_df(spark, wl.pool_docs, seed=POOL_SEED) \
        .write.parquet(os.path.join(pool, "snapshots"))
    meta = {"gen_s": time.perf_counter() - t0, "base_files": [], "cutoff_us": None}
    if wl.resume:
        meta.update(_commit_base(spark, wl, pool, cores))
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return pool, meta


def _commit_base(spark, wl: Workload, pool: str, cores: int) -> dict:
    """Commit the pool's oldest ``base_docs`` into ``pool/table``
    (ingest_ts grows with the doc index)."""
    from pyspark.sql import functions as F

    base_in = os.path.join(pool, "base-input")
    spark.read.parquet(os.path.join(pool, "sequences")) \
        .filter(F.col("doc_id") < doc_id(wl.base_docs)).write.parquet(base_in)
    table = os.path.join(pool, "table")
    base = Inputs(base_in, os.path.join(pool, "snapshots"), table, wl.base_docs, 0.0, [], None)
    entry = run_job(base, cores, resume=False)
    cutoff = spark.read.parquet(base_in).agg(F.max(F.unix_micros("ingest_ts"))).first()[0]
    shutil.rmtree(base_in)
    spark.catalog.clearCache()
    if entry["n_rows"] != wl.base_docs:
        raise RuntimeError(f"base commit wrote {entry['n_rows']} rows, expected {wl.base_docs}")
    return {"base_files": _listing(table), "cutoff_us": int(cutoff)}


def prepare(spark, wl: Workload, seed: int, work: str, cores: int) -> Inputs:
    """The input of ``wl`` for ``seed``, written under ``work/inputs``:
    ``n_docs`` docs drawn by the seed from the pool's docs newer than the
    base, the base docs (resume), and the snapshots of all of these.

    Each pool file is filtered into a file of the same name, so the input
    keeps the layout Spark gave the pool."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pool, meta = ensure_pool(spark, wl, work, cores)
    first_new = doc_id(wl.base_docs)
    ids = pq.read_table(os.path.join(pool, "sequences"), columns=["doc_id"])["doc_id"]
    newer = sorted(i for i in ids.to_pylist() if i >= first_new)
    picked = pa.array(np.random.default_rng(seed).choice(newer, wl.n_docs, replace=False))
    data = os.path.join(work, "inputs", wl.name)
    shutil.rmtree(data, ignore_errors=True)
    for part in ("sequences", "snapshots"):
        os.makedirs(os.path.join(data, part))
        for name in sorted(os.listdir(os.path.join(pool, part))):
            if name.endswith(".parquet"):
                t = pq.read_table(os.path.join(pool, part, name))
                keep = pc.or_(pc.less(t["doc_id"], first_new), pc.is_in(t["doc_id"], picked))
                pq.write_table(t.filter(keep), os.path.join(data, part, name),
                               use_deprecated_int96_timestamps=True)  # as Spark wrote them
    return Inputs(
        seq_dir=os.path.join(data, "sequences"),
        snap_dir=os.path.join(data, "snapshots"),
        table_dir=os.path.join(pool, "table") if wl.resume else os.path.join(work, "tables", wl.name),
        expected_rows=wl.n_docs, gen_s=meta["gen_s"],
        base_files=meta["base_files"], cutoff_us=meta["cutoff_us"],
    )
