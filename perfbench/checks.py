"""Reference implementations the workloads check engine output against.

They run untimed, between timed ops, on data the benchmark generated
itself: exact numpy cosine for the vector serves, a pure-Python BM25
for the text serves, and the catalog's DuckDB oracles for the batch
jobs.
"""

from __future__ import annotations

from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

COS_TOL = 1e-4  # vectors are stored as float32


def cosines(matrix: np.ndarray, q) -> np.ndarray:
    """Exact cosine of every row of ``matrix`` against ``q`` (float64)."""
    q = np.asarray(q, dtype=np.float64)
    m = matrix.astype(np.float64)
    return (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))


def exact_top_ids(ids: np.ndarray, matrix: np.ndarray, q, k: int, mask=None) -> list[int]:
    """Top-k ids by exact cosine (desc, id asc) among rows where
    ``mask`` holds."""
    c = cosines(matrix, q)
    sel = np.arange(len(ids)) if mask is None else np.flatnonzero(mask)
    order = sorted(sel, key=lambda i: (-round(float(c[i]), 6), int(ids[i])))
    return [int(ids[i]) for i in order[:k]]


def check_vector_hits(rows, id_to_row: dict[int, int], matrix: np.ndarray, q, k: int, allowed=None) -> str | None:
    """Error text, or None when ``rows`` (``vec_id``, ``cosine_sim``)
    are at most ``k`` distinct existing ids, in cosine order, whose
    cosines match numpy, all satisfying ``allowed``."""
    ids = [int(r["vec_id"]) for r in rows]
    if not ids or len(ids) > k:
        return f"{len(ids)} hits for k={k}"
    if len(set(ids)) != len(ids):
        return "duplicate ids"
    missing = [i for i in ids if i not in id_to_row]
    if missing:
        return f"unknown ids {missing[:3]}"
    if allowed is not None and not all(allowed(i) for i in ids):
        return "hit outside the payload filter"
    want = cosines(matrix[[id_to_row[i] for i in ids]], q)
    got = np.array([float(r["cosine_sim"]) for r in rows])
    if np.max(np.abs(want - got)) > COS_TOL:
        return f"cosine mismatch {np.max(np.abs(want - got)):.2e}"
    if any(a < b - COS_TOL for a, b in zip(got, got[1:])):
        return "hits not in cosine order"
    return None


class BM25:
    """Pure-Python BM25 over a whitespace-tokenized, lower-cased corpus
    with the engine's documented formula: idf = (N - df + 0.5) /
    (df + 0.5), per-term scores rounded half-up to 6 decimals and
    summed, ties broken by ascending id."""

    def __init__(self, docs: dict[int, str], k1: float = 1.2, b: float = 0.75):
        self.k1, self.b = k1, b
        self.tf: dict[int, Counter] = {}
        self.dl: dict[int, int] = {}
        self.postings: dict[str, list[int]] = {}
        for doc_id, text in docs.items():
            self.add(doc_id, text)

    def add(self, doc_id: int, text: str) -> None:
        toks = text.lower().strip().split()
        tf = Counter(toks)
        self.tf[doc_id] = tf
        self.dl[doc_id] = len(toks)
        for t in tf:
            self.postings.setdefault(t, []).append(doc_id)

    def search(self, terms, k: int = 10) -> list[tuple[int, float]]:
        n = len(self.dl)
        avgdl = sum(self.dl.values()) / n
        scores: dict[int, Decimal] = {}
        for t in sorted(set(terms)):
            docs = self.postings.get(t, [])
            df = len(docs)
            idf = (n - df + 0.5) / (df + 0.5)
            for d in docs:
                tf = float(self.tf[d][t])
                norm = 1.0 - self.b + self.b * (self.dl[d] / avgdl)
                s = idf * ((tf * (self.k1 + 1.0)) / (tf + self.k1 * norm))
                q = Decimal(repr(s)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
                scores[d] = scores.get(d, Decimal(0)) + q
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        return [(d, float(s)) for d, s in ranked]


def check_text_hits(rows, ref: list[tuple[int, float]]) -> str | None:
    got = [(int(r["doc_id"]), float(r["bm25"])) for r in rows]
    if [d for d, _ in got] != [d for d, _ in ref]:
        return f"bm25 ids {[d for d, _ in got][:4]} != reference {[d for d, _ in ref][:4]}"
    if any(abs(a - b) > 1e-6 for (_, a), (_, b) in zip(got, ref)):
        return "bm25 score mismatch"
    return None
