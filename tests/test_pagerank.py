"""PageRank parity with the reference PageRankTest fixture (FIXTURES.md §1)."""

import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from linkgraph import edges_from_pairs, pagerank
from tests.fixtures import (
    PAGERANK_WIKI_40ITER,
    PAGERANK_WIKI_CONVERGED,
    PAGERANK_WIKI_EDGES,
    PAGERANK_WIKI_ISOLATED,
)


def _scores_by_key(nodes, result):
    rows = result.scores.join(nodes, "id").select("key", "rank").collect()
    return {r["key"]: r["rank"] for r in rows}


def test_pagerank_wiki_40_iterations(spark):
    nodes, edges = edges_from_pairs(spark, PAGERANK_WIKI_EDGES, extra_keys=PAGERANK_WIKI_ISOLATED)
    res = pagerank(edges, nodes=nodes, damping=0.85, max_iter=40)
    got = _scores_by_key(nodes, res)
    assert res.iterations == 40
    for k, v in PAGERANK_WIKI_40ITER.items():
        assert np.isclose(got[k], v, atol=1e-6), (k, got[k], v)


def test_pagerank_wiki_converged_tol(spark):
    nodes, edges = edges_from_pairs(spark, PAGERANK_WIKI_EDGES, extra_keys=PAGERANK_WIKI_ISOLATED)
    res = pagerank(edges, nodes=nodes, damping=0.85, max_iter=200, tol=1e-7)
    got = _scores_by_key(nodes, res)
    assert res.converged
    # BASELINE gate: allclose 1e-6 at convergence
    for k, v in PAGERANK_WIKI_CONVERGED.items():
        assert np.isclose(got[k], v, atol=1e-6), (k, got[k], v)


def test_pagerank_isolated_node_scores_one_minus_d(spark):
    nodes, edges = edges_from_pairs(spark, [("a", "b")], extra_keys=["z"])
    res = pagerank(edges, nodes=nodes, damping=0.85, max_iter=5)
    got = _scores_by_key(nodes, res)
    assert np.isclose(got["z"], 0.15, atol=1e-12)
    # dangling b: receives but never emits; a stays at 1-d
    assert np.isclose(got["a"], 0.15, atol=1e-12)
    assert np.isclose(got["b"], 0.15 + 0.85 * 0.15, atol=1e-12)


def test_pagerank_matches_numpy_reference_on_random_graph(spark):
    rng = np.random.default_rng(7)
    n, m = 40, 160
    pairs = {(int(a), int(b)) for a, b in rng.integers(0, n, size=(m, 2)) if a != b}
    edges_list = [(f"v{a:02d}", f"v{b:02d}") for a, b in sorted(pairs)]
    all_keys = [f"v{i:02d}" for i in range(n)]
    nodes, edges = edges_from_pairs(spark, edges_list, extra_keys=all_keys)

    # dense reference implementation of the documented formula
    d = 0.85
    outdeg = np.zeros(n)
    for a, b in pairs:
        outdeg[a] += 1
    p = np.full(n, 1 - d)
    for _ in range(20):
        nxt = np.full(n, 1 - d)
        for a, b in pairs:
            nxt[b] += d * p[a] / outdeg[a]
        p = nxt

    res = pagerank(edges, nodes=nodes, damping=0.85, max_iter=20)
    got = _scores_by_key(nodes, res)
    for i in range(n):
        assert np.isclose(got[f"v{i:02d}"], p[i], atol=1e-9)


def test_pagerank_salted_aggregation_equivalent(spark):
    """hot_key_salt two-phase sum computes the same scores (within
    float round-off of the regrouped summation)."""
    nodes, edges = edges_from_pairs(spark, PAGERANK_WIKI_EDGES)
    a = pagerank(edges, nodes=nodes, damping=0.85, max_iter=10)
    b = pagerank(edges, nodes=nodes, damping=0.85, max_iter=10, hot_key_salt=4)
    ga = {r["id"]: r["rank"] for r in a.scores.collect()}
    gb = {r["id"]: r["rank"] for r in b.scores.collect()}
    assert ga.keys() == gb.keys()
    for k in ga:
        assert np.isclose(ga[k], gb[k], atol=1e-12), (k, ga[k], gb[k])


def test_pagerank_direction_incoming_equals_preswapped(spark):
    from pyspark.sql import functions as F
    nodes, edges = edges_from_pairs(spark, PAGERANK_WIKI_EDGES)
    swapped = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
    )
    a = {r["id"]: r["rank"] for r in
         pagerank(edges, nodes=nodes, max_iter=10, direction="INCOMING").scores.collect()}
    b = {r["id"]: r["rank"] for r in
         pagerank(swapped, nodes=nodes, max_iter=10).scores.collect()}
    assert a.keys() == b.keys()
    assert all(abs(a[k] - b[k]) < 1e-12 for k in a)


def test_pagerank_auto_salt_engages_on_hub_and_matches(spark):
    """hot_key_salt='auto' reads the in-degree skew probe: a mega-hub
    engages the 16-way salted two-phase sum, a ring does not; salted
    results equal unsalted exactly (sum reassociation only)."""
    hub_pairs = [(f"l{i}", "hub") for i in range(80)] + [("hub", "l0")]
    nodes, edges = edges_from_pairs(spark, hub_pairs)
    auto = pagerank(edges, nodes=nodes, max_iter=5, hot_key_salt="auto")
    assert auto.stats["hot_key_salt"] == 16
    plain = pagerank(edges, nodes=nodes, max_iter=5)
    a = {r["id"]: r["rank"] for r in auto.scores.collect()}
    b = {r["id"]: r["rank"] for r in plain.scores.collect()}
    assert a.keys() == b.keys()
    assert all(abs(a[k] - b[k]) < 1e-12 for k in a)

    ring = [(str(i), str((i + 1) % 12)) for i in range(12)]
    nodes2, edges2 = edges_from_pairs(spark, ring)
    res2 = pagerank(edges2, nodes=nodes2, max_iter=2, hot_key_salt="auto")
    assert res2.stats["hot_key_salt"] == 0


def test_pagerank_personalized_matches_numpy(spark):
    """Personalized mode: teleport only on the source set, numpy
    reference of the per-node-teleport fixed point."""
    rng = np.random.default_rng(11)
    n, m = 30, 120
    pairs = {(int(a), int(b)) for a, b in rng.integers(0, n, size=(m, 2)) if a != b}
    edges_list = [(f"v{a:02d}", f"v{b:02d}") for a, b in sorted(pairs)]
    all_keys = [f"v{i:02d}" for i in range(n)]
    from linkgraph import edges_from_pairs as efp
    nodes, edges = efp(spark, edges_list, extra_keys=all_keys)
    source_keys = {f"v{i:02d}" for i in range(0, n, 5)}
    src_ids = nodes.filter(nodes.key.isin(*source_keys)).select("id")

    d = 0.85
    outdeg = np.zeros(n)
    for a, b in pairs:
        outdeg[a] += 1
    tp = np.array([(1 - d) if f"v{i:02d}" in source_keys else 0.0 for i in range(n)])
    p = tp.copy()
    for _ in range(20):
        nxt = tp.copy()
        for a, b in pairs:
            nxt[b] += d * p[a] / outdeg[a]
        p = nxt

    res = pagerank(edges, nodes=nodes, damping=d, max_iter=20, source_nodes=src_ids)
    got = _scores_by_key(nodes, res)
    assert res.stats["personalized"]
    for i in range(n):
        assert np.isclose(got[f"v{i:02d}"], p[i], atol=1e-9), (i, got[f"v{i:02d}"], p[i])


def test_pagerank_personalized_unreachable_scores_zero(spark):
    """A node unreachable from the source set scores exactly 0; an
    isolated source scores exactly 1-d."""
    nodes, edges = edges_from_pairs(spark, [("a", "b"), ("x", "y")], extra_keys=["z"])
    src = nodes.filter(nodes.key == "a").select("id")
    res = pagerank(edges, nodes=nodes, damping=0.85, max_iter=10, source_nodes=src)
    got = _scores_by_key(nodes, res)
    assert np.isclose(got["a"], 0.15, atol=1e-12)
    assert np.isclose(got["b"], 0.85 * 0.15, atol=1e-12)
    for k in ("x", "y", "z"):
        assert got[k] == 0.0


def test_pagerank_static_folding_paths_equal(spark):
    """The static-node split is a pure optimization: forced on/off it
    computes identical scores, in classic AND personalized mode."""
    rng = np.random.default_rng(23)
    n, m = 25, 60
    pairs = {(int(a), int(b)) for a, b in rng.integers(0, n, size=(m, 2)) if a != b}
    edges_list = [(f"v{a:02d}", f"v{b:02d}") for a, b in sorted(pairs)]
    nodes, edges = edges_from_pairs(spark, edges_list, extra_keys=[f"v{i:02d}" for i in range(n)])
    src_ids = nodes.limit(4).select("id")
    for kwargs in ({}, {"source_nodes": src_ids}):
        on = pagerank(edges, nodes=nodes, max_iter=8, static_folding=True, **kwargs)
        off = pagerank(edges, nodes=nodes, max_iter=8, static_folding=False, **kwargs)
        assert on.stats["static_folding"] and not off.stats["static_folding"]
        j = (
            on.scores.withColumnRenamed("rank", "r1")
            .join(off.scores.withColumnRenamed("rank", "r2"), "id")
        )
        assert j.count() == n
        mx = j.agg(F.max(F.abs(F.col("r1") - F.col("r2")))).first()[0]
        assert mx < 1e-12, mx


def test_pagerank_report_delta_matches_two_runs(spark):
    """report_delta's untimed probe must equal the L1/L-inf distance
    between an N-iteration and an (N+1)-iteration run, and the
    contraction bound it feeds must hold on the wiki fixture: the
    measured per-step ratio l1_{t+1}/l1_t never exceeds damping."""
    nodes, edges = edges_from_pairs(
        spark, PAGERANK_WIKI_EDGES, extra_keys=PAGERANK_WIKI_ISOLATED
    )
    res5 = pagerank(edges, nodes=nodes, max_iter=5, report_delta=True)
    res6 = pagerank(edges, nodes=nodes, max_iter=6)
    s5 = {r["id"]: r["rank"] for r in res5.scores.collect()}
    s6 = {r["id"]: r["rank"] for r in res6.scores.collect()}
    diffs = [abs(s6[i] - s5[i]) for i in s5]
    assert np.isclose(res5.stats["linf_delta"], max(diffs), atol=1e-12)
    assert np.isclose(res5.stats["l1_delta"], sum(diffs), atol=1e-12)
    # contraction: one more step shrinks the L1 delta by <= damping
    res7 = pagerank(edges, nodes=nodes, max_iter=6, report_delta=True)
    assert res7.stats["l1_delta"] <= 0.85 * res5.stats["l1_delta"] + 1e-12
    # fixed-iteration default leaves the fields None
    assert pagerank(edges, nodes=nodes, max_iter=2).stats["l1_delta"] is None


def _reference_graph(seed=5, n=60, m=200, isolated=4, hub_leaves=80):
    """Random weighted digraph plus a hub fed by ``hub_leaves`` leaves,
    over ids 0..n+hub_leaves; ``isolated`` further ids touch no edge."""
    rng = np.random.default_rng(seed)
    pairs = {(int(a), int(b)) for a, b in rng.integers(0, n, size=(m, 2)) if a != b}
    hub = n
    pairs |= {(n + 1 + i, hub) for i in range(hub_leaves)} | {(hub, 0)}
    edges = sorted((a, b, float(rng.integers(1, 5))) for a, b in pairs)
    return edges, n + 1 + hub_leaves + isolated


def _numpy_pagerank(edges, universe, weighted, static_folding, iters, d=0.85):
    """Scores by the reference formula, the load counts PageRank
    reports, and the hot_key_salt="auto" decision, all in numpy."""
    idx = {v: i for i, v in enumerate(universe)}
    src = np.array([idx[a] for a, _, _ in edges])
    dst = np.array([idx[b] for _, b, _ in edges])
    w = np.array([c for _, _, c in edges]) if weighted else np.ones(len(edges))
    share = w / np.bincount(src, weights=w, minlength=len(universe))[src]
    p = np.full(len(universe), 1 - d)
    for _ in range(iters):
        p = (1 - d) + d * np.bincount(dst, weights=p[src] * share, minlength=len(universe))
    indeg = np.bincount(dst, minlength=len(universe))
    iterated = indeg[src] > 0 if static_folding else np.ones(len(edges), bool)
    max_in = np.bincount(dst[iterated], minlength=len(universe)).max()
    salt = 16 if max_in > 32 * max(iterated.sum() / len(universe), 1.0) else 0
    counts = {"nodes": len(universe), "edges": len(edges), "dynamic_edges": int(iterated.sum())}
    return dict(zip(universe, p)), counts, salt


@pytest.mark.parametrize("hot_key_salt", [0, "auto"])
@pytest.mark.parametrize("explicit_nodes", [True, False])
@pytest.mark.parametrize("weighted", [False, True])
@pytest.mark.parametrize("static_folding", [True, False])
def test_pagerank_load_matches_numpy(spark, static_folding, weighted, explicit_nodes, hot_key_salt):
    """Every load path (static split on/off, weighted shares, a caller
    node frame with isolated ids or the edge endpoints, skew salt off or
    auto) gives the reference scores within 1e-9 and the exact node,
    edge and iterated-edge counts."""
    edges, n_ids = _reference_graph()
    edf = spark.createDataFrame(edges, "src long, dst long, weight double")
    if explicit_nodes:
        universe = list(range(n_ids))
        nodes = spark.range(n_ids)
    else:
        universe = sorted({a for a, _, _ in edges} | {b for _, b, _ in edges})
        nodes = None
    want, counts, salt = _numpy_pagerank(edges, universe, weighted, static_folding, iters=5)

    res = pagerank(edf, nodes=nodes, max_iter=5, weighted=weighted,
                   static_folding=static_folding, hot_key_salt=hot_key_salt)
    got = {r["id"]: r["rank"] for r in res.scores.collect()}
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])
    assert {k: res.stats[k] for k in counts} == counts
    assert res.stats["hot_key_salt"] == (salt if hot_key_salt == "auto" else 0)
    assert res.stats["static_folding"] is static_folding
    res.release()


def test_pagerank_release_frees_every_cache(spark):
    """release() drops every cache the call left behind (the final
    state and, with the static split, the node table behind the static
    rows), after the scores were read."""
    edges, n_ids = _reference_graph(seed=9)
    edf = spark.createDataFrame(edges, "src long, dst long, weight double").persist()
    edf.count()
    sc = spark.sparkContext
    for kwargs in ({"static_folding": True}, {"static_folding": False},
                   {"static_folding": True, "nodes": spark.range(n_ids)}):
        before = len(sc._jsc.getPersistentRDDs())
        res = pagerank(edf, max_iter=3, hot_key_salt="auto", **kwargs)
        assert res.scores.count() == res.stats["nodes"]
        res.release()
        assert len(sc._jsc.getPersistentRDDs()) == before, kwargs
    edf.unpersist()


def test_pagerank_undecided_split_engages_from_edge_count(spark, monkeypatch):
    """static_folding=None counts the edges on the unsplit pin and only
    then splits: above the threshold it reports the split, the same
    scores and counts as a forced split, and frees the unsplit pin."""
    pr_module = sys.modules["linkgraph.pagerank"]
    edges, _ = _reference_graph(seed=13)
    edf = spark.createDataFrame(edges, "src long, dst long, weight double")
    forced = pagerank(edf, max_iter=4, static_folding=True, hot_key_salt="auto")
    want = {r["id"]: r["rank"] for r in forced.scores.collect()}
    forced.release()

    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs())
    monkeypatch.setattr(pr_module, "STATIC_SPLIT_MIN_EDGES", len(edges))
    auto = pagerank(edf, max_iter=4, hot_key_salt="auto")
    assert auto.stats["static_folding"] is True
    got = {r["id"]: r["rank"] for r in auto.scores.collect()}
    assert got.keys() == want.keys()
    assert all(abs(got[k] - want[k]) < 1e-12 for k in want)
    keys = ("nodes", "edges", "dynamic_edges", "hot_key_salt")
    assert {k: auto.stats[k] for k in keys} == {k: forced.stats[k] for k in keys}
    auto.release()
    assert len(sc._jsc.getPersistentRDDs()) == before

    monkeypatch.setattr(pr_module, "STATIC_SPLIT_MIN_EDGES", len(edges) + 1)
    unsplit = pagerank(edf, max_iter=1)
    assert unsplit.stats["static_folding"] is False
    unsplit.release()
