"""PageRank (ops/graph.py): exactness against an independent pure-Python
power iteration on hand graphs — the check the rows-only driver pass
can't do — plus the dangling-mass and normalization invariants."""

from __future__ import annotations

import pytest

from agent_data_pipeline_spark.ops.graph import pagerank


def _reference_pagerank(edges, damping=0.85, iters=8):
    """Independent dense power iteration (same conventions: uniform
    init, uniform teleport, dangling mass redistributed uniformly)."""
    nodes = sorted({n for e in edges for n in e})
    n = len(nodes)
    idx = {v: i for i, v in enumerate(nodes)}
    out = {v: [] for v in nodes}
    for s, d in set(edges):
        out[s].append(d)
    ranks = [1.0 / n] * n
    for _ in range(iters):
        dangling = sum(ranks[idx[v]] for v in nodes if not out[v])
        nxt = [(1.0 - damping) / n + damping * dangling / n] * n
        for v in nodes:
            for d in out[v]:
                nxt[idx[d]] += damping * ranks[idx[v]] / len(out[v])
        ranks = nxt
    return {v: ranks[idx[v]] for v in nodes}


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["rank"] for r in pagerank(df, **kw).collect()}


def test_pagerank_matches_reference_on_cyclic_graph(spark):
    edges = [(1, 2), (1, 3), (2, 3), (3, 1)]
    got = _run(spark, edges, damping=0.85, iters=12)
    want = _reference_pagerank(edges, damping=0.85, iters=12)
    assert got.keys() == want.keys()
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # C receives from both A and B: highest authority
    assert max(got, key=got.get) == 3


def test_pagerank_handles_dangling_nodes(spark):
    # 2 is a sink (no out-edges): its rank must recirculate, not leak
    edges = [(1, 2), (3, 2)]
    got = _run(spark, edges, damping=0.85, iters=10)
    want = _reference_pagerank(edges, damping=0.85, iters=10)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    assert got[2] > got[1] == got[3]


def test_pagerank_parallel_edges_count_once(spark):
    a = _run(spark, [(1, 2), (1, 2), (2, 1)], iters=6)
    b = _run(spark, [(1, 2), (2, 1)], iters=6)
    for v in a:
        assert a[v] == pytest.approx(b[v], abs=1e-12)


def test_triangle_count_hand_graph(spark):
    """K4 minus one edge: {a-b,a-c,a-d,b-c,b-d} has 2 triangles
    (abc, abd); wedges = sum d(d-1)/2 = 3+3+1+1 = 8; duplicate /
    reversed / self-loop inputs must not change the census."""
    from agent_data_pipeline_spark.ops.graph import triangle_count

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4),
         (2, 1), (3, 1),        # reversed duplicates
         (1, 1)],               # self loop
        "src bigint, dst bigint",
    )
    r = triangle_count(edges).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"], r["wedges"]) == (4, 5, 2, 8)
    assert r["transitivity"] == 3.0 * 2 / 8


def test_triangle_count_triangle_free(spark):
    """A path graph has wedges but zero triangles; transitivity 0."""
    from agent_data_pipeline_spark.ops.graph import triangle_count

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src int, dst int")
    r = triangle_count(edges).collect()[0]
    assert r["n_triangles"] == 0 and r["transitivity"] == 0.0


# --------------------------------------------------------------------------
# k_core (ops/graph.py): exactness against an independent pure-Python
# peel on hand graphs + the in-core degree invariant on the fixture
# co-purchase graph — the checks the rows-only driver pass can't do.
# --------------------------------------------------------------------------

from agent_data_pipeline_spark.ops.graph import k_core


def _reference_k_core(edges, k):
    """Independent pure-Python synchronous peel."""
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    while True:
        bad = [u for u, vs in adj.items() if len(vs) < k]
        if not bad:
            break
        for u in bad:
            for v in adj[u]:
                adj[v].discard(u)
            del adj[u]
    return {
        (min(u, v), max(u, v)) for u, vs in adj.items() for v in vs
    }


def _core_edges(spark, edges, k):
    df = spark.createDataFrame(edges, "src long, dst long")
    core, _rounds, _n_alive = k_core(df, k)
    return {(r["lo"], r["hi"]) for r in core.collect()}


def test_k_core_matches_reference_on_hand_graph(spark):
    # a 4-clique (3-core) with a pendant path hanging off it
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (5, 6)]
    assert _core_edges(spark, edges, 3) == _reference_k_core(edges, 3)
    assert _core_edges(spark, edges, 2) == _reference_k_core(edges, 2)


def test_k_core_cascade_collapses_ring_of_trees(spark):
    # stars have no 2-core; the peel must cascade through the arms
    edges = [(0, i) for i in range(1, 6)] + [(1, 10), (10, 11)]
    assert _core_edges(spark, edges, 2) == set()
    assert _reference_k_core(edges, 2) == set()


def test_k_core_long_path_peels_to_empty(spark):
    # each round peels only the two ends, so the empty 2-core of a
    # 200-node path takes 100 rounds
    edges = [(i, i + 1) for i in range(199)]
    assert _reference_k_core(edges, 2) == set()
    assert _core_edges(spark, edges, 2) == set()


def _new_persisted_rdds(spark, run):
    """Ids of persisted RDDs that exist after ``run()`` but not before,
    with ``run``'s result still referenced."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    result = run()  # noqa: F841 — held while the ids are read
    return set(jsc.getPersistentRDDs().keys()) - before


@pytest.mark.parametrize("algo", ["connected_components", "k_core"])
def test_fixpoint_loops_release_round_checkpoints(spark, algo):
    """A fixpoint loop keeps only the checkpoints its result still
    reads: the count it leaves behind does not grow with its rounds."""
    from agent_data_pipeline_spark.llmdata.dedup import connected_components

    def run(n):
        path = [(i, i + 1) for i in range(n - 1)]
        if algo == "connected_components":
            df = spark.createDataFrame(path, "id_a bigint, id_b bigint")
            out = connected_components(df)
        else:
            df = spark.createDataFrame(path, "src bigint, dst bigint")
            out = k_core(df, 2)[0]
        out.collect()
        return out

    short, long = (_new_persisted_rdds(spark, lambda: run(n)) for n in (6, 12))
    assert len(short) == len(long) <= 2


def test_k_core_self_loops_and_duplicates_ignored(spark):
    edges = [(1, 1), (1, 2), (2, 1), (1, 2), (2, 3), (3, 1)]
    assert _core_edges(spark, edges, 2) == {(1, 2), (1, 3), (2, 3)}


def test_k_core_fixture_in_core_degree_invariant(spark):
    """Every node surviving the p05 peel on the sf0.001 co-purchase
    graph has >= k neighbors INSIDE the core, and the result equals
    the pure-Python reference peel."""
    import pyspark.sql.functions as F

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a = op.select("o", F.col("p").alias("p1"))
    b = op.select("o", F.col("p").alias("p2"))
    edges_df = (
        a.join(b, "o")
        .filter(F.col("p1") < F.col("p2"))
        .select("p1", "p2")
        .distinct()
    )
    edges = [(r["p1"], r["p2"]) for r in edges_df.collect()]
    deg0: dict[int, int] = {}
    for u, v in edges:
        deg0[u] = deg0.get(u, 0) + 1
        deg0[v] = deg0.get(v, 0) + 1
    degs = sorted(deg0.values())
    k = degs[int(0.05 * len(degs))] + 1
    got = _core_edges(spark, edges, k)
    assert got == _reference_k_core(edges, k)
    # in-core degree invariant
    deg_in: dict[int, int] = {}
    for u, v in got:
        deg_in[u] = deg_in.get(u, 0) + 1
        deg_in[v] = deg_in.get(v, 0) + 1
    assert all(d >= k for d in deg_in.values())


# --------------------------------------------------------------------------
# bfs_hops (queries/extras54.py): exact equality with a pure-Python
# BFS on hand graphs and the sf0.001 co-purchase fixture.
# --------------------------------------------------------------------------


def _reference_bfs(edges, seed):
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    hops = {seed: 0}
    frontier = [seed]
    h = 0
    while frontier:
        h += 1
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in hops:
                    hops[v] = h
                    nxt.append(v)
        frontier = nxt
    return hops


def test_bfs_hops_hand_graph(spark):
    from agent_data_pipeline_spark.queries.extras54 import bfs_hops

    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (4, 5), (6, 7)]
    df = spark.createDataFrame(edges, "lo long, hi long")
    got = {r["node"]: r["hop"] for r in bfs_hops(df, 1).collect()}
    assert got == _reference_bfs(edges, 1)
    assert 6 not in got and 7 not in got  # other component unreachable


def test_bfs_hops_fixture_matches_reference(spark):
    import pyspark.sql.functions as F

    from agent_data_pipeline_spark.queries.extras54 import (
        _copurchase_edges,
        bfs_hops,
    )

    e = _copurchase_edges(spark, "/root/testdata/sf0.001")
    edges = [(r["lo"], r["hi"]) for r in e.collect()]
    deg: dict[int, int] = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    hub = min(
        (n for n in deg), key=lambda n: (-deg[n], n)
    )
    got = {r["node"]: r["hop"] for r in bfs_hops(e, hub).collect()}
    assert got == _reference_bfs(edges, hub)
