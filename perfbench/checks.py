"""Output checks against the benchmark's own ground truth.

Each check returns ``(ok, found, expected)``: ``ok`` is False when the output
is wrong (wrong schema, an id outside the corpus, a member that the truth
rules out, a twin mismatch); ``found / expected`` feeds the recall metric.
"""

from __future__ import annotations

import numpy as np

SCORE_ATOL = 1e-4  # reported scores vs numpy scores over float32 vectors


def _has(rows, cols) -> bool:
    return all(c in rows[0].__fields__ for c in cols) if rows else True


def topk_request(rows, corpus, truth, k: int, exact: bool, mask=None):
    """One top-k request. ``truth`` is ``(rows, admissible, scores)`` from
    ``data.exact_topk``; ``mask`` is the row filter the request applied."""
    true_rows, adm, scores = truth
    if not rows or not _has(rows, ("id", "score")) or len(rows) > k:
        return False, 0, len(true_rows)
    idx = [corpus.id_index.get(r["id"]) for r in rows]
    if any(i is None for i in idx) or len(set(idx)) != len(idx):
        return False, 0, len(true_rows)
    if mask is not None and not mask[idx].all():
        return False, 0, len(true_rows)
    if any(abs(r["score"] - scores[i]) > SCORE_ATOL for r, i in zip(rows, idx)):
        return False, 0, len(true_rows)
    found = len(set(idx) & set(true_rows.tolist()))
    if exact and (len(idx) != len(true_rows) or min(scores[idx]) < adm):
        return False, found, len(true_rows)
    return True, found, len(true_rows)


def knn_edges(rows, scores: np.ndarray, truth: list, k: int, exact: bool,
              qcol: str = "query_id", idcol: str = "vec_id"):
    """A kNN edge table (query, neighbour, score, rank) against exact
    per-query top-k truth. ``scores[q, j]`` is the exact score, ``-inf``
    for an edge the operator must not emit (a self edge)."""
    expected = sum(len(t[0]) for t in truth)
    if rows and not _has(rows, (qcol, idcol, "score", "rank")):
        return False, 0, expected
    got: dict = {}
    n_q, n_r = scores.shape
    for r in rows:
        q, j = r[qcol], r[idcol]
        if not (0 <= q < n_q and 0 <= j < n_r) or r["rank"] > k:
            return False, 0, expected
        if abs(r["score"] - scores[q, j]) > SCORE_ATOL or not np.isfinite(scores[q, j]):
            return False, 0, expected
        got.setdefault(q, set()).add(j)
    if sum(len(v) for v in got.values()) != len(rows):
        return False, 0, expected  # duplicate edge
    found = sum(len(got.get(q, set()) & set(t[0].tolist())) for q, t in enumerate(truth))
    if exact:
        for q, (ids, adm) in enumerate(truth):
            mine = got.get(q, set())
            if len(mine) != len(ids) or min(scores[q, list(mine)]) < adm:
                return False, found, expected
    return True, found, expected


def jaccard_pairs(rows, truth: dict, n_docs: int, exact: bool):
    """(doc_a, doc_b, jac) pairs against the exact Jaccard pair set."""
    expected = len(truth)
    if rows and not _has(rows, ("doc_a", "doc_b", "jac")):
        return False, 0, expected
    got = set()
    for r in rows:
        a, b = r["doc_a"], r["doc_b"]
        if not (0 <= a < b < n_docs) or (a, b) in got:
            return False, 0, expected
        true_jac = truth.get((a, b))
        if true_jac is None or abs(true_jac - r["jac"]) > 1e-9:
            return False, 0, expected
        got.add((a, b))
    found = len(got)
    return (found == expected) or not exact, found, expected


def stream_topk(rows, truth: set, k: int):
    """Final per-key top-k: the best k of every (id, value) the gate ever
    emitted for a key equals the key's true final top-k, since a key's
    leaderboard only improves."""
    best: dict = {}
    for r in rows:
        best.setdefault(r["user_id"], {})[r["event_id"]] = r["value"]
    final = set()
    for key, ev in best.items():
        top = sorted(ev.items(), key=lambda t: (-t[1], t[0]))[:k]
        final.update((key, e) for e, _ in top)
    return final == truth, len(final & truth), len(truth)


def stream_dedup(rows, truth: set):
    got = [r["doc_id"] for r in rows]
    ok = len(got) == len(set(got)) and set(got) == truth
    return ok, len(set(got) & truth), len(truth)


def stream_moments(rows, truth: dict):
    """Final emission per group (the one with the largest n) against the
    fixed-point pandas twin."""
    final: dict = {}
    for r in rows:
        g = r["label"]
        if g not in final or r["n"] > final[g][0]:
            final[g] = (r["n"], r["mean_norm"], r["var_trace"])
    ok = set(final) == set(truth)
    found = 0
    for g, (n, m, v) in truth.items():
        got = final.get(g)
        if got and got[0] == n and abs(got[1] - m) <= 1e-9 * max(1, abs(m)) \
                and abs(got[2] - v) <= 1e-9 * max(1, abs(v)):
            found += 1
    return ok and found == len(truth), found, len(truth)

