"""Output checks of the pipeline benchmark.

Every check reads the parquet and manifests a phase left behind, directly
with pyarrow, so no check depends on the Spark code it is checking:

* stage content hashes, which must be equal across cold, resume and
  recover;
* which stages a phase rebuilt and which it served from the manifest;
* decode parity on a seeded sample of sentences against
  ``reference_oracle.decode_sentence``.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from inputs import content_hash

# the manifest stages run_pipeline commits, in pipeline order
STAGES = (
    "sentences", "predictions", "facts", "main_triples", "fact_qualifiers",
    "compacted", "surface_to_entity", "entities", "facts_canonical",
    "mention_ner", "metrics")
# the recover phase deletes these manifests: a crash after the UDF stage
RECOVERED = STAGES[2:]

_PRED_KEY = ["m1s", "m1e", "m2s", "m2e", "rel", "m3s", "m3e", "qual"]


def read_stage(root: str, stage: str, columns=None) -> pd.DataFrame:
    pdf = pq.read_table(os.path.join(root, stage), columns=columns).to_pandas()
    for c in pdf.columns:  # hive partition columns arrive as categoricals
        if isinstance(pdf[c].dtype, pd.CategoricalDtype):
            pdf[c] = pdf[c].astype(str)
    return pdf


def _listing(path: str) -> tuple:
    out = []
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            out.append((os.path.relpath(os.path.join(dirpath, f), path),
                        st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


class StageHasher:
    """Content hash per stage, recomputed only when the stage's files
    change (a resumed stage keeps its files, so its hash is reused)."""

    def __init__(self, root: str):
        self.root = root
        self._cache: dict[str, tuple[tuple, str]] = {}

    def hash(self, stage: str) -> str:
        listing = _listing(os.path.join(self.root, stage))
        hit = self._cache.get(stage)
        if hit and hit[0] == listing:
            return hit[1]
        pdf = read_stage(self.root, stage)
        if stage == "metrics":
            # per-stage wall times are measurements, not content
            pdf = pdf[pdf["metric"] != "wall_s"]
        h = content_hash(pdf)
        self._cache[stage] = (listing, h)
        return h

    def all(self) -> dict[str, str]:
        return {s: self.hash(s) for s in STAGES}


def manifest_mtimes(root: str) -> dict[str, int]:
    out = {}
    for s in STAGES:
        p = os.path.join(root, f"{s}.manifest.json")
        if os.path.exists(p):
            out[s] = os.stat(p).st_mtime_ns
    return out


def rebuilt_stages(before: dict[str, int], after: dict[str, int]) -> list:
    """Stages whose manifest a phase wrote (new or rewritten)."""
    return [s for s in STAGES if s in after and before.get(s) != after[s]]


def delete_recovered_manifests(root: str) -> None:
    for s in RECOVERED:
        p = os.path.join(root, f"{s}.manifest.json")
        if os.path.exists(p):
            os.remove(p)


def decode_parity(root: str, cfg, space, seed: int, n: int) -> list[str]:
    """Compare ``predictions`` with the reference oracle's decode of the
    same scorer's logits on ``n`` seeded sentences; returns mismatches."""
    from text2nkg_spark.candidates import enumerate_triples
    from text2nkg_spark.operators.extraction import (
        _flat_mention_array, _sentence_logits, stable_doc_id)
    from text2nkg_spark.reference_oracle import decode_sentence

    sents = read_stage(root, "sentences")
    sents = sents[[len(m) > 0 for m in sents["m_starts"]]]
    pick = np.random.default_rng(seed).choice(
        len(sents), size=min(n, len(sents)), replace=False)
    sample = sents.iloc[np.sort(pick)]
    keys = set(zip(sample["conv_id"], sample["turn_idx"]))
    preds = read_stage(
        root, "predictions", ["conv_id", "turn_idx", "pred_idx"] + _PRED_KEY)
    preds = preds[[k in keys for k in zip(preds["conv_id"],
                                          preds["turn_idx"])]]
    got_by_key = {
        k: [tuple(int(v) if isinstance(v, (np.integer, int)) else v
                  for v in row)
            for row in g.sort_values("pred_idx")[_PRED_KEY].itertuples(
                index=False)]
        for k, g in preds.groupby(["conv_id", "turn_idx"])}

    errors = []
    for row in sample.itertuples(index=False):
        ents = _flat_mention_array(row.m_starts, row.m_ends)
        cand = enumerate_triples(ents, cfg.max_seq_length)
        want = []
        if cand.shape[0]:
            toks = row.text.split(" ") if cfg.scorer == "model" else None
            rel_lg, q_lg = _sentence_logits(
                cfg, space, stable_doc_id(row.conv_id), int(row.turn_idx),
                cand, None, ents, toks)
            spans = [tuple(int(x) for x in r) for r in ents]
            pair_dict = {
                (spans[int(c[1])], spans[int(c[2])], spans[int(c[3])]):
                (rel_lg[i].tolist(), "Entity", q_lg[i].tolist(), "Entity")
                for i, c in enumerate(cand)}
            want = [(m1[0], m1[1], m2[0], m2[1], rel, m3[0], m3[1], qual)
                    for m1, m2, rel, m3, qual in decode_sentence(
                        pair_dict, space, cfg.same_entity)]
        got = got_by_key.get((row.conv_id, row.turn_idx), [])
        if got != want:
            errors.append(
                f"decode parity {row.conv_id}/{row.turn_idx}: "
                f"{len(got)} predicted rows vs {len(want)} from the oracle")
    return errors


def stage_rows(root: str, stage: str) -> int:
    with open(os.path.join(root, f"{stage}.manifest.json")) as f:
        return int(json.load(f)["rows_out"])
