"""The benchmark's own tests: oracles agree with hand-computed answers on
tiny graphs, and every check rejects a deliberately corrupted output.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
No Spark session is needed.
"""

from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, gen, oracles, run
from perfbench.trace import _covered


def arr(*xs):
    return np.array(xs, dtype=np.int64)


# -- oracles against hand-computed answers -----------------------------------

def test_pagerank_chain_and_star():
    # 0 -> 1: pr0 = 0.15, pr1 = 0.15 + 0.85 * 0.15
    np.testing.assert_allclose(oracles.pagerank(2, arr(0), arr(1)),
                               [0.15, 0.2775], rtol=0, atol=1e-12)
    # 0 -> 2, 1 -> 2: pr2 = 0.15 + 0.85 * 0.3
    np.testing.assert_allclose(oracles.pagerank(3, arr(0, 1), arr(2, 2)),
                               [0.15, 0.15, 0.405], rtol=0, atol=1e-12)
    # a 2-cycle keeps all mass: fixpoint 1.0 each
    np.testing.assert_allclose(oracles.pagerank(2, arr(0, 1), arr(1, 0)),
                               [1.0, 1.0], rtol=0, atol=1e-12)


def test_pagerank_bound_is_derived_from_tol():
    assert oracles.pagerank_l1_bound(1000, 1e-6) == pytest.approx(
        0.85 / 0.15 * 1000 * 1e-6)


def test_components_min_member():
    got = oracles.components(6, arr(1, 3, 4), arr(0, 2, 3))
    assert got.tolist() == [0, 0, 2, 2, 2, 5]


def test_label_propagation_tie_goes_to_smallest_label():
    # vertex 0 hears labels 2 and 3 once each -> 2; others have no
    # out-neighbours and keep their own id
    got = oracles.label_propagation(4, arr(0, 0), arr(2, 3), iterations=1)
    assert got.tolist() == [2, 1, 2, 3]


def test_label_propagation_is_red_black():
    # even vertex 0 takes 2's label first; odd vertex 1 then hears the
    # refreshed label of 0 (a synchronous update would give it 0)
    got = oracles.label_propagation(3, arr(1, 0), arr(0, 2), iterations=1)
    assert got.tolist() == [2, 2, 2]


def test_label_propagation_majority_beats_smaller_label():
    # even phase: 0 and 2 both take label 4; odd phase: 1 hears 4 twice
    # (from 0 and 2) and 3 once -- the majority wins over the smaller label
    got = oracles.label_propagation(5, arr(0, 2, 1, 1, 1), arr(4, 4, 0, 2, 3),
                                    iterations=1)
    assert got.tolist() == [4, 4, 4, 3, 4]


def test_triangles_k4_with_pendant():
    und = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (0, 4)]
    # both directions, a duplicate and a self-loop: canonicalised away
    src = arr(*[a for a, b in und], *[b for a, b in und], 1, 2)
    dst = arr(*[b for a, b in und], *[a for a, b in und], 2, 2)
    tri, coef, total = oracles.triangles(5, src, dst)
    assert total == 4
    assert tri.tolist() == [3, 3, 3, 3, 0]
    np.testing.assert_allclose(coef, [0.5, 1.0, 1.0, 1.0, 0.0])


def test_oriented_wedges():
    assert oracles.oriented_wedges(arr(0, 1, 0), arr(1, 2, 2)) == 1
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert oracles.oriented_wedges(arr(*[a for a, _ in k4]),
                                   arr(*[b for _, b in k4])) == 4


# -- checks reject corrupted outputs ------------------------------------------

def _ranks_df(ranks):
    return pd.DataFrame({"id": np.arange(ranks.size), "rank": ranks})


def test_check_pagerank_accepts_and_rejects_one_rank():
    src, dst = arr(0, 1, 2, 2), arr(1, 2, 0, 1)
    good = oracles.pagerank(3, src, dst)
    assert checks.check_pagerank(_ranks_df(good), good, tol=1e-6,
                                 converged=True) == []
    bad = good.copy()
    bad[1] += 0.01
    assert checks.check_pagerank(_ranks_df(bad), good, tol=1e-6,
                                 converged=True)
    low = good.copy()
    low[0] = 0.1
    assert checks.check_pagerank(_ranks_df(low), low, tol=1e-6,
                                 converged=True)
    assert checks.check_pagerank(_ranks_df(good), good, tol=1e-6,
                                 converged=False)


def test_check_labels_rejects_one_label():
    want = arr(0, 0, 2, 2)
    df = pd.DataFrame({"id": arr(3, 2, 1, 0), "label": arr(2, 2, 0, 0)})
    assert checks.check_labels(df, want) == []
    df.loc[0, "label"] = 0
    assert checks.check_labels(df, want)


def test_check_components_rejects_one_component_and_missing_ids():
    want = arr(0, 0, 2)
    df = pd.DataFrame({"id": arr(0, 1, 2), "component": arr(0, 0, 2)})
    assert checks.check_components(df, want) == []
    assert checks.check_components(df.assign(component=arr(0, 1, 2)), want)
    assert checks.check_components(df.iloc[:2], want)


def test_check_triangles_rejects_one_count():
    src, dst = arr(0, 1, 0, 2), arr(1, 2, 2, 3)
    expected = oracles.triangles(4, src, dst)
    tri, coef, total = expected
    df = pd.DataFrame({"id": np.arange(4), "triangles": tri,
                       "coefficient": coef})
    assert checks.check_triangles(df, total, expected) == []
    bad = df.copy()
    bad.loc[3, "triangles"] = 1
    assert checks.check_triangles(bad, total, expected)
    assert checks.check_triangles(df, total + 1, expected)
    bad = df.copy()
    bad.loc[0, "coefficient"] = 0.5
    assert checks.check_triangles(bad, total, expected)


def test_check_edges_and_id_map():
    want = pd.DataFrame({"src_url": ["a", "a"], "dst_url": ["b", "c"]})
    assert checks.check_edges(want.copy(), want) == []
    assert checks.check_edges(want.iloc[:1], want)
    assert checks.check_edges(pd.concat([want, want.iloc[:1]]), want)
    m = pd.DataFrame({"name": ["a", "b", "c"], "id": [0, 1, 2]})
    assert checks.check_id_map(m, {"a", "b", "c"}) == []
    assert checks.check_id_map(m.assign(id=[0, 1, 3]), {"a", "b", "c"})
    assert checks.check_id_map(m.assign(name=["a", "b", "b"]), {"a", "b", "c"})


def test_check_delta_counts_one_fault_per_wrong_drop():
    rows = [{"delta_edges": 10}, {"delta_edges": 3}]
    assert checks.check_delta_counts(rows, [10, 3], "x") == []
    assert len(checks.check_delta_counts(rows, [10, 4], "x")) == 1
    assert len(checks.check_delta_counts(rows[:1], [10, 3], "x")) == 1
    assert len(checks.check_delta_counts([], [10, 3], "x")) == 2


# -- generators and tracing helpers -------------------------------------------

def test_generators_are_seeded():
    a, b = gen.site_graph(3, 500), gen.site_graph(3, 500)
    assert np.array_equal(a.src, b.src) and np.array_equal(a.dst, b.dst)
    c = gen.site_graph(4, 500)
    assert not (c.src.size == a.src.size and np.array_equal(c.src, a.src))
    p, q = gen.crawl_pages(1, 300), gen.crawl_pages(1, 300)
    assert np.array_equal(p.raw_dst, q.raw_dst)


def test_crawl_drops_delta_repeats_and_resends():
    d = gen.crawl_drops(5, 400)
    (bs, bd), (s, t) = d.drops
    base = set(zip(bs.tolist(), bd.tolist()))
    delta = set(zip(s.tolist(), t.tolist()))
    assert d.new_distinct() == [len(base), gen.DELTA_NEW_EDGES]
    assert len(s) == gen.DELTA_NEW_EDGES + gen.DELTA_REPEATS + gen.DELTA_RESENT
    assert len(delta & base) == gen.DELTA_RESENT       # a recrawl re-sends
    u, v = d.union()
    assert len(u) == len(base | delta)


# -- run accounting ------------------------------------------------------------

class _Tracer:
    @contextmanager
    def span(self, name, layer):
        yield None


class _Raising:
    def run_round(self, ctx, r):
        with ctx.op("first", "layer"):
            pass
        with ctx.op("second", "layer", 2):
            raise RuntimeError("boom")
        with ctx.op("third", "layer"):
            pass
        return {"job_s": 1.0}


def test_raising_operation_fails_and_leaves_round_unchecked():
    ctx = run.Context(None, _Tracer())
    assert run.attempt_round(ctx, _Raising(), 0) == {}
    assert (ctx.attempted, ctx.failed) == (3, 2)    # "third" never called
    assert len(ctx.problems) == 1 and "second raised" in ctx.problems[0]


def test_known_faults_count_as_failed_not_incorrect():
    ctx = run.Context(None, _Tracer())
    ctx.fail(["a", "b"])
    assert ctx.failed == 2 and ctx.problems == []


def test_covered_intervals():
    assert _covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert _covered([(0, 2), (1, 3)], 1.5, 2.5) == 1.0
    assert _covered([], 0, 1) == 0
