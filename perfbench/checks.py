"""Output checks: each compares a collected program output (pandas) with
an oracle from :mod:`perfbench.oracles` and returns a list of problems,
empty when the output is correct."""

from __future__ import annotations

import numpy as np
import pandas as pd

from perfbench import oracles


def _dense(df: pd.DataFrame, col: str, n: int,
           problems: list[str], what: str) -> np.ndarray | None:
    """Values of ``col`` indexed by the integer ``id`` column over
    ``0..n-1``; records a problem unless the ids are exactly ``0..n-1``."""
    ids = df["id"].to_numpy(dtype=np.int64)
    if len(ids) != n or not np.array_equal(np.sort(ids), np.arange(n)):
        problems.append(f"{what}: ids are not exactly 0..{n - 1} "
                        f"({len(ids)} rows)")
        return None
    out = np.empty(n, dtype=df[col].dtype)
    out[ids] = df[col].to_numpy()
    return out


def check_edges(extracted: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """Extracted ``(src_url, dst_url)`` set equals the generator's
    distinct link set, with no duplicate rows."""
    problems = []
    if extracted.duplicated().any():
        problems.append("extraction: duplicate edges after dedup")
    got = set(zip(extracted["src_url"], extracted["dst_url"]))
    want = set(zip(expected["src_url"], expected["dst_url"]))
    if got != want:
        problems.append(f"extraction: {len(got - want)} unexpected and "
                        f"{len(want - got)} missing edges")
    return problems


def check_id_map(mapping: pd.DataFrame, names: set[str]) -> list[str]:
    """Ids are exactly ``0..n-1`` and map one-to-one onto ``names``."""
    problems = []
    _dense(mapping, "name", len(names), problems, "id_map")
    if set(mapping["name"]) != names or mapping["name"].duplicated().any():
        problems.append("id_map: names are not the edge endpoints, once each")
    return problems


def check_pagerank(ranks: pd.DataFrame, expected: np.ndarray, *,
                   tol: float, converged: bool) -> list[str]:
    """Ranks (indexed by ``id`` over ``0..n-1``) are converged, within
    the tolerance derived from ``tol`` of the oracle, at least ``1-d``
    each, and sum to at most ``n``."""
    n = expected.size
    problems = [] if converged else ["pagerank: did not converge"]
    got = _dense(ranks, "rank", n, problems, "pagerank")
    if got is None:
        return problems
    err = float(np.abs(got - expected).sum())
    bound = oracles.pagerank_l1_bound(n, tol)
    if not err <= bound:
        problems.append(f"pagerank: L1 error {err:.3g} > bound {bound:.3g}")
    if not (got >= (1.0 - oracles.DAMPING) - 1e-12).all():
        problems.append("pagerank: a rank is below 1-d")
    if not got.sum() <= n * (1 + 1e-12):
        problems.append(f"pagerank: sum of ranks {got.sum():.6g} > N={n}")
    return problems


def check_components(comp: pd.DataFrame, expected: np.ndarray) -> list[str]:
    problems: list[str] = []
    got = _dense(comp, "component", expected.size, problems, "wcc")
    if got is not None and not np.array_equal(got, expected):
        problems.append(f"wcc: {int((got != expected).sum())} vertices "
                        "differ from the union-find oracle")
    return problems


def check_labels(labels: pd.DataFrame, expected: np.ndarray) -> list[str]:
    problems: list[str] = []
    got = _dense(labels, "label", expected.size, problems, "labelprop")
    if got is not None and not np.array_equal(got, expected):
        problems.append(f"labelprop: {int((got != expected).sum())} vertices "
                        "differ from the pandas oracle")
    return problems


def check_triangles(counts: pd.DataFrame, total: int,
                    expected: tuple[np.ndarray, np.ndarray, int]) -> list[str]:
    tri, coef, want_total = expected
    problems: list[str] = []
    if total != want_total:
        problems.append(f"triangles: total {total} != oracle {want_total}")
    got_t = _dense(counts, "triangles", tri.size, problems, "triangles")
    got_c = _dense(counts, "coefficient", tri.size, problems, "triangles")
    if got_t is not None and not np.array_equal(got_t.astype(np.int64), tri):
        problems.append(f"triangles: {int((got_t != tri).sum())} per-node "
                        "counts differ from DuckDB")
    if got_c is not None and not np.allclose(got_c, coef, rtol=1e-12, atol=0):
        problems.append("triangles: clustering coefficients differ from "
                        "2T/(d(d-1))")
    return problems


def check_delta_counts(rows: list[dict], expected: list[int],
                       what: str) -> list[str]:
    """One fault per drop whose committed metrics row is missing or whose
    ``delta_edges`` is not the drop's count of new distinct edges."""
    got = [int(r.get("delta_edges", -1)) for r in rows]
    return [f"{what} of drop {k}: delta_edges "
            f"{got[k] if k < len(got) else 'missing'} != {want} new "
            "distinct edges"
            for k, want in enumerate(expected)
            if k >= len(got) or got[k] != want]
