"""NumPy exact oracle for hybrid top-k, ordered by (dist, id).

Distances are squared L2 accumulated left to right in float64 — the
program's own arithmetic — so oracle and program agree to the last few
ulps. Answers are compared with a relative tolerance on distances, which
accepts a different order only among rows whose distances tie.
"""

from __future__ import annotations

import numpy as np

REL_TOL = 1e-9
# candidates re-scored exactly after the float32 pre-ranking
_MARGIN = 64


def predicate_mask(cols: dict, preds: dict | None, n: int) -> np.ndarray:
    """§2.3 semantics: an absent attribute rejects the row; ops AND together."""
    mask = np.ones(n, dtype=bool)
    for attr, (op, value) in (preds or {}).items():
        v = cols[attr]
        if v.dtype == object:
            present = np.array([x is not None for x in v])
            if op == "exact":
                hit = np.array([x == value for x in v])
            elif op == "substring":
                hit = np.array([x is not None and value in x for x in v])
            else:
                raise ValueError(f"unsupported string op {op!r}")
        else:
            present = ~np.isnan(v)
            with np.errstate(invalid="ignore"):
                hit = {
                    "exact": v == value, "leq": v <= value, "geq": v >= value,
                    "<": v < value, ">": v > value,
                }[op]
        mask &= present & hit
    return mask


def exact_dist(vectors: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Squared L2 of each row to ``q``, summed left to right in float64."""
    d = vectors.astype(np.float64) - np.asarray(q, dtype=np.float64)
    return np.cumsum(d * d, axis=1)[:, -1] if d.shape[0] else np.zeros(0)


class Exact:
    """Exact top-k over a fixed float32 matrix, ordered by (dist, id)."""

    def __init__(self, vectors: np.ndarray, ids: np.ndarray) -> None:
        self.vectors = vectors
        self.ids = np.asarray(ids, dtype=np.int64)
        self.norms = np.einsum("ij,ij->i", vectors, vectors)

    def topk(self, mask: np.ndarray | None, q: np.ndarray, k: int):
        """(ids, dists) of the ``k`` nearest rows where ``mask`` holds."""
        q32 = np.asarray(q, dtype=np.float32)
        approx = self.norms - 2.0 * (self.vectors @ q32)
        if mask is not None:
            approx = np.where(mask, approx, np.inf)
            avail = int(mask.sum())
        else:
            avail = len(self.ids)
        keep = min(avail, k + _MARGIN)
        if keep == 0:
            return np.zeros(0, np.int64), np.zeros(0)
        rows = np.argpartition(approx, keep - 1)[:keep]
        d = exact_dist(self.vectors[rows], q)
        order = np.lexsort((self.ids[rows], d))[:k]
        return self.ids[rows][order], d[order]

    def truth(self, mask: np.ndarray | None, q: np.ndarray):
        """ids -> (known and passing the predicate, exact distance to ``q``)."""
        def f(ids):
            ids = np.asarray(ids, dtype=np.int64)
            pos = np.clip(np.searchsorted(self.ids, ids), 0, len(self.ids) - 1)
            ok = self.ids[pos] == ids
            if mask is not None:
                ok &= mask[pos]
            return ok, exact_dist(self.vectors[pos], q)
        return f

    def postfilter_topk(self, mask: np.ndarray, q: np.ndarray, k: int, large_k: int):
        """Post-filter semantics: top ``large_k`` by distance, then the predicate."""
        cand, d = self.topk(None, q, large_k)
        keep = mask[np.searchsorted(self.ids, cand)]
        return cand[keep][:k], d[keep][:k]


def check(got_ids, got_d, want_ids, want_d, truth=None) -> str | None:
    """None when ``got`` is a correct answer, else the reason it is not.

    Correct means: as many rows as the oracle, distances equal to the
    oracle's position by position, ordered by distance, and every id the
    oracle would return unless its distance ties a returned one. With
    ``truth`` (see ``Exact.truth``) every returned id must also exist, pass
    the predicate and carry its own exact distance.
    """
    got_ids = np.asarray(got_ids, dtype=np.int64)
    got_d = np.asarray(got_d, dtype=np.float64)
    if len(got_ids) != len(want_ids):
        return f"{len(got_ids)} rows, oracle has {len(want_ids)}"
    if not len(got_ids):
        return None
    tol = REL_TOL * np.maximum(1.0, np.abs(want_d))
    if len(set(got_ids.tolist())) != len(got_ids):
        return "duplicate ids"
    if truth is not None:
        ok, true_d = truth(got_ids)
        if not ok.all():
            return f"id {got_ids[~ok][0]} is unknown or fails the predicate"
        bad = np.abs(true_d - got_d) > tol
        if bad.any():
            return f"id {got_ids[bad][0]}: dist {got_d[bad][0]!r}, its own is {true_d[bad][0]!r}"
    if np.any(np.abs(got_d - want_d) > tol):
        i = int(np.argmax(np.abs(got_d - want_d) > tol))
        return f"row {i}: dist {got_d[i]!r} vs oracle {want_d[i]!r}"
    if np.any(np.diff(got_d) < -tol[1:]):
        return "rows not ordered by dist"
    missing = set(want_ids.tolist()) - set(got_ids.tolist())
    boundary = want_d[-1]
    for i in missing:
        j = int(np.flatnonzero(want_ids == i)[0])
        if abs(want_d[j] - boundary) > tol[j]:
            return f"id {i} missing"
    return None


def recall(got_ids, want_ids) -> float:
    """Share of the oracle's ids present in ``got``; 1.0 for an empty oracle."""
    want = set(np.asarray(want_ids).tolist())
    if not want:
        return 1.0
    return len(want & set(np.asarray(got_ids).tolist())) / len(want)
