"""Reference computations made apart from the program under test.

Each oracle works on plain NumPy arrays taken from the generators in
:mod:`perfbench.gen` (or on tiny hand-made graphs in the tests) and uses
no code of the program: PageRank is a NumPy power iteration, WCC a
union-find, label propagation a pandas restatement of the documented
red-black rule, and triangle counts come from DuckDB SQL.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

DAMPING = 0.85               # the program's and the reference's default
PAGERANK_TOL = 1e-14         # the oracle iterates until max|delta| < this
PAGERANK_MAX_ITERATIONS = 10_000


def pagerank(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Per-node PageRank ``pr(v) = (1-d) + d * sum_{u->v} pr(u)/outdeg(u)``
    over vertices ``0..n-1`` and a distinct edge list; dangling vertices
    push nothing. Iterates until ``max|delta| < PAGERANK_TOL``."""
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    factor = 1.0 / outdeg[src]
    x = np.full(n, 1.0 - DAMPING)
    for _ in range(PAGERANK_MAX_ITERATIONS):
        msg = np.bincount(dst, weights=x[src] * factor, minlength=n)
        nxt = (1.0 - DAMPING) + DAMPING * msg
        delta = np.abs(nxt - x).max() if n else 0.0
        x = nxt
        if delta < PAGERANK_TOL:
            return x
    raise RuntimeError("oracle PageRank did not converge")


def pagerank_l1_bound(n: int, tol: float) -> float:
    """Bound on ``sum_v |rank(v) - oracle(v)|`` for any run that stopped
    when ``max|x_k - x_{k-J}| < tol`` over a block of J >= 1 supersteps.

    The update is ``x -> b + d*M*x`` with ``||M||_1 <= 1`` (each column
    sums to 1/outdeg * outdeg or 0), so the distance to the fixpoint is
    at most ``d^J/(1-d^J) * ||x_k - x_{k-J}||_1 <= d/(1-d) * n * tol``.
    Derived from ``tol`` alone, not fitted to any run."""
    return DAMPING / (1.0 - DAMPING) * n * tol


def components(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Weakly connected components: per vertex, its component's minimum
    member id (union-find with path halving)."""
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in zip(src.tolist(), dst.tolist()):
        rs, rd = find(s), find(d)
        if rs != rd:
            if rs < rd:
                parent[rd] = rs
            else:
                parent[rs] = rd
    return np.array([find(i) for i in range(n)], dtype=np.int64)


def label_propagation(n: int, src: np.ndarray, dst: np.ndarray, *,
                      iterations: int = 10) -> np.ndarray:
    """Red-black label propagation, out-direction gather, unit weights,
    seeds = own id, exactly ``iterations`` rounds.

    Each round first updates every even-id vertex from the labels of its
    out-neighbours, then every odd-id vertex against the refreshed
    labels. A vertex adopts the label with the most votes, ties going to
    the smallest label; a vertex without out-neighbours keeps its label.
    """
    labels = np.arange(n, dtype=np.int64)
    pairs = pd.DataFrame({"v": src, "u": dst})
    halves = [pairs[pairs["v"] % 2 == p] for p in (0, 1)]
    for _ in range(iterations):
        for half in halves:
            votes = (half.assign(label=labels[half["u"].to_numpy()])
                     .groupby(["v", "label"]).size().rename("votes")
                     .reset_index())
            win = (votes.sort_values(["v", "votes", "label"],
                                     ascending=[True, False, True])
                   .drop_duplicates("v"))
            labels[win["v"].to_numpy()] = win["label"].to_numpy()
    return labels


def _canonical(src: np.ndarray, dst: np.ndarray) -> pd.DataFrame:
    keep = src != dst
    lo = np.minimum(src[keep], dst[keep])
    hi = np.maximum(src[keep], dst[keep])
    return pd.DataFrame({"lo": lo, "hi": hi}).drop_duplicates()


def triangles(n: int, src: np.ndarray, dst: np.ndarray
              ) -> tuple[np.ndarray, np.ndarray, int]:
    """Undirected triangle counts per vertex, clustering coefficient
    ``2T/(d(d-1))`` (0 when d < 2) from independent degrees, and the
    total, counted in DuckDB over the canonical ``lo < hi`` edge set."""
    canon = _canonical(src, dst)
    con = duckdb.connect()
    try:
        con.register("e", canon)
        per = con.execute("""
            WITH t AS (
              SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
              FROM e e1 JOIN e e2 ON e1.hi = e2.lo
              JOIN e e3 ON e3.lo = e1.lo AND e3.hi = e2.hi)
            SELECT v, count(*) AS t FROM (
              SELECT a AS v FROM t UNION ALL SELECT b FROM t
              UNION ALL SELECT c FROM t) GROUP BY v
        """).df()
    finally:
        con.close()
    tri = np.zeros(n, dtype=np.int64)
    tri[per["v"].to_numpy(dtype=np.int64)] = per["t"].to_numpy(dtype=np.int64)
    deg = (np.bincount(canon["lo"].to_numpy(), minlength=n)
           + np.bincount(canon["hi"].to_numpy(), minlength=n)).astype(np.int64)
    coef = np.zeros(n, dtype=np.float64)
    ok = deg >= 2
    coef[ok] = 2.0 * tri[ok] / (deg[ok] * (deg[ok] - 1)).astype(np.float64)
    return tri, coef, int(tri.sum() // 3)


def oriented_wedges(src: np.ndarray, dst: np.ndarray) -> int:
    """Wedges of the degree-oriented graph: orient each undirected edge
    from the lower ``(degree, id)`` endpoint to the higher and count
    ``sum_v C(outdeg(v), 2)`` -- the pairs a wedge join has to close."""
    canon = _canonical(src, dst)
    lo, hi = canon["lo"].to_numpy(), canon["hi"].to_numpy()
    n = int(max(lo.max(initial=-1), hi.max(initial=-1))) + 1
    deg = np.bincount(lo, minlength=n) + np.bincount(hi, minlength=n)
    lo_first = (deg[lo] < deg[hi]) | ((deg[lo] == deg[hi]) & (lo < hi))
    tail = np.where(lo_first, lo, hi)
    k = np.bincount(tail, minlength=n).astype(np.int64)
    return int((k * (k - 1) // 2).sum())
