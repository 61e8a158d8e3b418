"""Vectorized decode for the event / role / hypergraph n-ary schemas
(run_re.py:1519-1751, 1764-1975, 1979-2174).

Unlike hyperrelation, these schemas have separate (non-bidirectional)
relation and qualifier label spaces and no half-block swaps; the 6-way
ensemble instead SHUFFLES the per-mention heads (q = m3's label head,
qb = m1's, qc = m2's) so each head follows its mention through the
permutation.  Faithful quirks preserved:

* event/role selection tests ``qb_pred`` for truthiness, not > 0
  (run_re.py:1637, 1870);
* hypergraph computes q_pred = argmax(v) — reading v twice
  (run_re.py:2120-2121);
* the event 'Trigger' NER fixup is a no-op (``==`` instead of ``=``,
  run_re.py:1720-1725) and is therefore not applied.

Engine results are asserted bit-identical to the dict-based oracle
transcriptions in reference_oracle.py.
"""

from __future__ import annotations

import numpy as np

from text2nkg_spark.decode_core import greedy_nms

# np.transpose axes that realize X[i,j,k] = S[perm] (see decode_core)
_AX = {
    "jik": (1, 0, 2), "ikj": (0, 2, 1), "jki": (2, 0, 1),
    "kij": (1, 2, 0), "kji": (2, 1, 0),
}

# per-schema: for each of the 5 non-base orderings (k213, k132, k231, k312,
# k321 — in the reference's addition order), which source head feeds each
# target head.  heads are named v, q, qb, qc.
_EVENT = (
    ("jik", {"v": "v", "q": "q", "qb": "qc", "qc": "qb"}),
    ("ikj", {"v": "v", "q": "qc", "qb": "qb", "qc": "q"}),
    ("jki", {"v": "v", "q": "qb", "qb": "qc", "qc": "q"}),
    ("kij", {"v": "v", "q": "qc", "qb": "q", "qc": "qb"}),
    ("kji", {"v": "v", "q": "qb", "qb": "q", "qc": "qc"}),
)
_ROLE = (
    ("jik", {"v": "qb", "q": "q", "qb": "v"}),
    ("ikj", {"v": "q", "q": "v", "qb": "qb"}),
    ("jki", {"v": "qb", "q": "v", "qb": "q"}),
    ("kij", {"v": "qb", "q": "v", "qb": "q"}),
    ("kji", {"v": "v", "q": "q", "qb": "qb"}),
)
_HYPERGRAPH = (
    ("jik", {"v": "v", "q": "q"}),
    ("ikj", {"v": "v", "q": "q"}),
    ("jki", {"v": "v", "q": "q"}),
    ("kij", {"v": "v", "q": "q"}),
    ("kji", {"v": "v", "q": "q"}),
)
_PERMS = {"event": _EVENT, "role": _ROLE, "hypergraph": _HYPERGRAPH}


def _ensemble_multi(e: int, cand: np.ndarray, heads: dict, schema: str):
    """Dense (E,E,E,C_head) per-head tensors + the 6-way ensembled sums.

    Head widths differ per schema (event: v is relation-space, q/qb/qc are
    qualifier-space; role: all qualifier-space; hypergraph: both
    relation-space) — but every head-shuffle in the reference only ever
    mixes same-width heads."""
    dense = {}
    ii, jj, kk = cand[:, 1], cand[:, 2], cand[:, 3]
    for name, lg in heads.items():
        t = np.zeros((e, e, e, lg.shape[1]), dtype=np.float64)
        t[ii, jj, kk] = lg
        dense[name] = t
    present = np.zeros((e, e, e), dtype=bool)
    present[ii, jj, kk] = True

    out = {name: dense[name].copy() for name in heads}
    for axname, mapping in _PERMS[schema]:
        ax = _AX[axname] + (3,)
        for target, source in mapping.items():
            out[target] += np.transpose(dense[source], ax)
    return out, present


def decode_sentence_multi(
    schema: str,
    entities: np.ndarray,      # (E, 2) spans, sentence order
    cand: np.ndarray,          # (N, 10) enumeration order
    heads: dict,               # name -> (N, C) float64 logits
    label_list: list[str],     # NIL + relation names
    q_label_list: list[str],   # NIL + qualifier/role names
    same_entity: bool = False,
) -> list[tuple]:
    """Returns schema-shaped output_preds (see reference_oracle)."""
    e = entities.shape[0]
    if e == 0 or cand.shape[0] == 0:
        return []
    ens, present = _ensemble_multi(e, cand, heads, schema)
    arg = {name: np.argmax(t, axis=-1) for name, t in ens.items()}

    spans = [tuple(int(x) for x in row) for row in entities]
    visited = np.zeros((e, e, e), dtype=bool)
    results: list[tuple] = []
    perms = ((1, 0, 2), (0, 2, 1), (1, 2, 0), (2, 0, 1), (2, 1, 0))

    for row in cand:
        i, j, k = int(row[1]), int(row[2]), int(row[3])
        if visited[i, j, k]:
            continue
        visited[i, j, k] = True
        m1, m2, m3 = spans[i], spans[j], spans[k]
        if not same_entity and (m1 == m2 or m2 == m3 or m3 == m1):
            continue
        idx = (i, j, k)
        for p in perms:
            a, b, c_ = idx[p[0]], idx[p[1]], idx[p[2]]
            if not present[a, b, c_]:
                raise ValueError("missing ordering (pruned span)")
            visited[a, b, c_] = True

        pred = int(arg["v"][i, j, k])
        q_pred = int(arg["q"][i, j, k]) if schema != "hypergraph" else pred
        v_t, q_t = ens["v"], ens["q"]
        if schema == "event":
            qb = int(arg["qb"][i, j, k])
            qc = int(arg["qc"][i, j, k])
            if pred > 0 and q_pred > 0 and qb and qc > 0:
                results.append(
                    (float(v_t[i, j, k, pred]), m1, m2, pred,
                     float(q_t[i, j, k, q_pred]), m3, q_pred, qb, qc))
        elif schema == "role":
            qb = int(arg["qb"][i, j, k])
            if pred > 0 and q_pred > 0 and qb:
                results.append(
                    (float(v_t[i, j, k, pred]), m1, m2, pred,
                     float(q_t[i, j, k, q_pred]), m3, q_pred, qb))
        else:  # hypergraph
            if pred > 0:
                results.append(
                    (float(v_t[i, j, k, pred]), m1, m2, pred,
                     float(q_t[i, j, k, q_pred]), m3, q_pred))

    if not results:
        return []
    # the extra label fields (event qb/qc, role qb) must match too
    kept = [results[i] for i in greedy_nms(
        np.array([r[0] for r in results]),
        np.array([(*r[1], *r[2], *r[5], r[3], r[6], *r[7:])
                  for r in results], dtype=np.int64).T)]

    out = []
    for it in kept:
        m1, m2, pred, m3, q_pred = it[1], it[2], it[3], it[5], it[6]
        if schema == "event":
            out.append(
                (label_list[pred], (m1, q_label_list[it[7]]),
                 (m2, q_label_list[it[8]]), (m3, q_label_list[q_pred])))
        elif schema == "role":
            out.append(
                ((m1, q_label_list[it[7]]), (m2, q_label_list[pred]),
                 (m3, q_label_list[q_pred])))
        else:
            out.append((label_list[pred], m1, m2, m3))
    return out


def gold_orderings_multi(
    schema: str,
    relations: list[dict],
    label_map: dict[str, int],
    q_label_map: dict[str, int],
) -> dict:
    """C1 gold index for the non-hyperrelation schemas (run_re.py:366-463).

    For each ordered arrangement of (h, t, q) the tuple holds the labels the
    scorer should place: v = relation (event/hypergraph) or m2's role
    (role schema); q/qb/qc = the label of the mention in the m3/m1/m2 slot
    (role_h / role_t / qualifier label; relation name for hypergraph).
    """
    out: dict = {}
    for x in relations:
        h = (x["h_s"], x["h_e"])
        t = (x["t_s"], x["t_e"])
        for q in x["quals"]:
            qs = (q["q_s"], q["q_e"])
            if schema == "hypergraph":
                lab = {h: label_map[x["rel"]], t: label_map[x["rel"]],
                       qs: label_map[x["rel"]]}
            elif schema == "event":
                lab = {h: q_label_map[x["role_h"]],
                       t: q_label_map[x["role_t"]],
                       qs: q_label_map[q["label"]]}
            else:  # role
                lab = {h: q_label_map[x["role_h"]],
                       t: q_label_map[x["rel"]],
                       qs: q_label_map[q["label"]]}
            from itertools import permutations

            for m1, m2, m3 in permutations((h, t, qs), 3):
                key = m1 + m2 + m3
                if schema == "event":
                    out[key] = (label_map[x["rel"]], lab[m3], lab[m1], lab[m2])
                elif schema == "role":
                    out[key] = (lab[m2], lab[m3], lab[m1])
                else:
                    out[key] = (label_map[x["rel"]], label_map[x["rel"]])
    return out
