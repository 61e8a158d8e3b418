"""Workload table and seeded input generation for the pipeline benchmark.

Inputs are generated with the program's own generator
(``text2nkg_spark.datagen.gen_turn``) before any timing starts, written as
parquet, and cached per (workload, seed, generator source).  The program
only ever sees the parquet.  Each input's content hash is recorded with
the result, so a change to the generator shows up as a different input
rather than as a speed-up.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd


@dataclass(frozen=True)
class Workload:
    name: str
    n_convs: int
    turns_per_conv: int
    dense_share: float  # share of annotated turns that are mention-dense
    scorer: str  # PipelineConfig.scorer


# datagen draws mentions from a pool of max(50, n_convs) entities, so the
# conversations x turns split sets the surface vocabulary, and with it the
# branch entity canonicalization (G4) takes: at most 5000 distinct surfaces
# runs driver-side, more runs the distributed LSH + connected components.
WORKLOADS = {
    w.name: w for w in (
        Workload("chat-hash", 2500, 8, 0.02, "hash"),
        Workload("model-bigvocab", 5100, 2, 0.02, "model"),
    )
}

# the warm-up input of the set-up phase: tiny, seed-independent
WARMUP = Workload("warmup", 40, 4, 0.02, "hash")

_TRANSCRIPT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def content_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash of a frame's rows: the row count plus the
    wrapping sum of per-row hashes over the columns sorted by name."""
    cols = sorted(pdf.columns)
    flat = pdf[cols].copy()
    for c in cols:
        nonnull = flat[c].dropna()
        if len(nonnull) and isinstance(
                nonnull.iloc[0], (list, dict, np.ndarray)):
            flat[c] = [json.dumps(v, sort_keys=True, default=_jsonable)
                       for v in flat[c]]
    row_h = pd.util.hash_pandas_object(flat, index=False).to_numpy(np.uint64)
    total = int(row_h.sum(dtype=np.uint64))  # wraps mod 2**64
    return f"{len(pdf)}:{total:016x}"


def _jsonable(v):
    if isinstance(v, np.ndarray):
        return v.tolist()
    if isinstance(v, (np.integer, np.floating)):
        return v.item()
    return str(v)


def _generator_key(w: Workload) -> str:
    """Cache key of a workload's inputs: its shape and the generator's
    source, so an edited generator never serves stale inputs."""
    from text2nkg_spark import datagen

    with open(datagen.__file__, "rb") as f:
        src = f.read()
    return hashlib.sha1(repr((w, src)).encode()).hexdigest()[:12]


def input_paths(w: Workload, seed: int, cache_root: str) -> dict:
    d = os.path.join(cache_root, f"{w.name}-s{seed}-{_generator_key(w)}")
    return {"info": os.path.join(d, "input.json"),
            "transcripts": os.path.join(d, "transcripts.parquet")}


def ensure_input(w: Workload, seed: int, cache_root: str) -> dict:
    """Generate (or reuse) the parquet input of ``w`` at ``seed``.

    Returns the paths of :func:`input_paths` plus ``turns`` and
    ``input_hash``.
    """
    from text2nkg_spark.config import DataGenConfig
    from text2nkg_spark.datagen import gen_turn

    paths = input_paths(w, seed, cache_root)
    if os.path.exists(paths["info"]):
        with open(paths["info"]) as f:
            return {**paths, **json.load(f)}
    os.makedirs(os.path.dirname(paths["info"]), exist_ok=True)
    cfg = DataGenConfig(
        n_convs=w.n_convs, turns_per_conv=w.turns_per_conv, seed=seed,
        mention_density_skew=w.dense_share)
    pdf = pd.DataFrame([gen_turn(cfg, c, t)
                        for c in range(w.n_convs)
                        for t in range(w.turns_per_conv)])
    tr = pdf[_TRANSCRIPT_COLS].copy()
    tr["turn_idx"] = tr["turn_idx"].astype("int32")
    # Spark reads microsecond timestamps only
    tr.to_parquet(paths["transcripts"], index=False, coerce_timestamps="us",
                  allow_truncated_timestamps=True)
    info = {"turns": len(tr), "input_hash": content_hash(tr)}
    tmp = paths["info"] + ".tmp"
    with open(tmp, "w") as f:
        json.dump(info, f)
    os.replace(tmp, paths["info"])  # the marker that the entry is whole
    return {**paths, **info}
