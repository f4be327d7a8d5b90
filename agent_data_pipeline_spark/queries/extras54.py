"""Round-7 twentieth wave: graph mixing and traversal.

* ``degree_assortativity`` — Newman (2002) degree assortativity of
  the co-purchase graph: the Pearson correlation of endpoint degrees
  over the symmetrized edge list, computed EXACTLY in SQL shape —
  canonical edges, one degree aggregate, two broadcast-joinable
  degree lookups, moment sums over 2·|E| ordered pairs. Negative r
  means hubs attach to leaves (disassortative, typical of
  co-occurrence graphs); the fixture's near-regular graph lands near
  0 — the calibration read, like ``overdispersion_check``.
* ``bfs_hops_from_hub`` — breadth-first hop census from the
  highest-degree part (ties to the smallest key): frontier expansion
  one equi-join + anti-join per round (the k-core/PageRank iterative
  envelope, localCheckpoint per round, rounds bounded by the graph
  diameter — single digits on co-occurrence graphs), emitting the
  hop histogram and the unreachable count. Oracled since round 11
  via a recursive CTE (the ``dup_components`` closure precedent):
  BFS distance ≡ min(hop) over the hop-capped walk relation — every
  quantity is integer-exact, so the driver hash check is exact; the
  pure-Python BFS equality tests in tests/test_graph.py stay as a
  third opinion.

Reference parity: no graph surface in the reference (SURVEY.md
§2.A); declared north-star §2.B additions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops.observe import checkpoint_observed
from .core import QuerySpec, duck_materialize, bounded_collect, rnd, t


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a = op.select("o", F.col("p").alias("p1"))
    b = op.select("o", F.col("p").alias("p2"))
    return (
        a.join(b, "o")
        .filter(F.col("p1") < F.col("p2"))
        .select(F.col("p1").alias("lo"), F.col("p2").alias("hi"))
        .distinct()
    )


def _degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("lo").alias("n"))
        .unionAll(e.select(F.col("hi").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("double").alias("d"))
    )
    # symmetrize: each undirected edge contributes both ordered pairs
    sym = e.select(
        F.col("lo").alias("u"), F.col("hi").alias("v")
    ).unionAll(e.select(F.col("hi").alias("u"), F.col("lo").alias("v")))
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    j = sym.join(du, "u").join(dv, "v")
    g = j.agg(
        F.count(F.lit(1)).cast("double").alias("m2"),
        F.sum("du").alias("sx"),
        F.sum("dv").alias("sy"),
        F.sum(F.col("du") * F.col("dv")).alias("sxy"),
        F.sum(F.col("du") * F.col("du")).alias("sxx"),
        F.sum(F.col("dv") * F.col("dv")).alias("syy"),
    )
    num = F.col("m2") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("m2") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("m2") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    nn = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.avg("d").alias("mean_degree"),
    )
    return g.crossJoin(F.broadcast(nn)).select(
        "n_nodes",
        (F.col("m2") / 2).cast("long").alias("n_edges"),
        rnd("mean_degree", 4).alias("mean_degree"),
        rnd(F.when(den > 0, num / den), 6).alias("assortativity"),
    )


_ASSORT_SQL = """
WITH op AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), e AS (
  SELECT DISTINCT a.p AS lo, b.p AS hi
  FROM op a JOIN op b ON a.o = b.o
  WHERE a.p < b.p
), deg AS (
  SELECT n, CAST(count(*) AS DOUBLE) AS d FROM (
    SELECT lo AS n FROM e UNION ALL SELECT hi FROM e
  ) GROUP BY 1
), sym AS (
  SELECT lo AS u, hi AS v FROM e
  UNION ALL
  SELECT hi AS u, lo AS v FROM e
), j AS (
  SELECT a.d AS du, b.d AS dv
  FROM sym s JOIN deg a ON s.u = a.n JOIN deg b ON s.v = b.n
), g AS (
  SELECT CAST(count(*) AS DOUBLE) AS m2, sum(du) AS sx, sum(dv) AS sy,
         sum(du * dv) AS sxy, sum(du * du) AS sxx, sum(dv * dv) AS syy
  FROM j
), nn AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes, avg(d) AS mean_degree
  FROM deg
)
SELECT nn.n_nodes,
       CAST(g.m2 / 2 AS BIGINT) AS n_edges,
       floor(nn.mean_degree * 10000 + 0.5) / 10000 AS mean_degree,
       floor((CASE WHEN (g.m2 * g.sxx - g.sx * g.sx)
                        * (g.m2 * g.syy - g.sy * g.sy) > 0
                   THEN (g.m2 * g.sxy - g.sx * g.sy)
                        / sqrt((g.m2 * g.sxx - g.sx * g.sx)
                               * (g.m2 * g.syy - g.sy * g.sy))
              END) * 1000000 + 0.5) / 1000000 AS assortativity
FROM g CROSS JOIN nn
"""


# --------------------------------------------------------------------------
# bfs_hops_from_hub (rows-only: frontier iteration)
# --------------------------------------------------------------------------

def bfs_hops(
    edges: DataFrame, seed: int, max_hops: int = 30
) -> DataFrame:
    """Frontier BFS over an undirected canonical edge list (lo, hi).
    Returns (node, hop). One equi-join + anti-join per round; the loop
    stops at an empty frontier or after ``max_hops`` rounds. The hop
    cap is part of the query's meaning (its oracle walk stops at the
    same hop), not a safety cap.

    The frontier and visited sets are NODE-grain and their exact sizes
    are known from the previous round's count, so both joins carry an
    exact-decision broadcast hint (checkpoint-backed frames report
    default huge size stats — without the hint every round planned a
    sort-merge join that shuffled the full symmetric edge list). ONE
    driver action per round: the new frontier is a
    ``checkpoint_observed`` job whose size rides that same job;
    `visited` stays a lazy union of the checkpointed per-hop frames
    (depth = diameter, each leaf cached) instead of being
    re-checkpointed — re-copied — every round, so the per-hop frames
    are the result and are never released here.
    """
    spark = edges.sparkSession
    from ..ops.graph import _BROADCAST_NODE_CAP

    sym = edges.select(
        F.col("lo").alias("u"), F.col("hi").alias("v")
    ).unionAll(
        edges.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
    ).localCheckpoint()
    visited = spark.createDataFrame(
        [(int(seed), 0)], "node LONG, hop INT"
    ).localCheckpoint()
    frontier = visited
    n_frontier, n_visited = 1, 1
    for h in range(1, max_hops + 1):
        f = frontier.select(F.col("node").alias("u"))
        if n_frontier <= _BROADCAST_NODE_CAP:
            f = F.broadcast(f)
        seen = visited.select("node")
        if n_visited <= _BROADCAST_NODE_CAP:
            seen = F.broadcast(seen)
        nxt, stats = checkpoint_observed(
            sym.join(f, "u")
            .select(F.col("v").alias("node"))
            .distinct()
            .join(seen, "node", "left_anti")
            .withColumn("hop", F.lit(h)),
            {"n": F.count(F.lit(1))},
        )
        n_frontier = int(stats["n"])
        if n_frontier == 0:
            break
        visited = visited.unionAll(nxt)
        n_visited += n_frontier
        frontier = nxt
    return visited


def _bfs_hops_from_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _copurchase_edges(spark, sf_dir).localCheckpoint()
    # the degree table IS the distinct-node enumeration (one row per
    # node) — materialize it once so the hub lookup reads cached rows;
    # the node count rides the same checkpoint job
    deg, stats = checkpoint_observed(
        e.select(F.col("lo").alias("n"))
        .unionAll(e.select(F.col("hi").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d")),
        {"n_nodes": F.count(F.lit(1))},
    )
    hub = deg.orderBy(F.col("d").desc(), F.col("n").asc()).limit(1).collect()[
        0
    ]["n"]
    visited = bfs_hops(e, int(hub))
    n_nodes = int(stats["n_nodes"])
    hist = bounded_collect(
        visited.groupBy("hop")
        .agg(F.count(F.lit(1)).cast("long").alias("n_at_hop")),
        31,
        "one row per BFS hop (max_hops=30)",
    )
    reached = sum(r["n_at_hop"] for r in hist)
    rows = [
        (int(r["hop"]), int(r["n_at_hop"]), int(hub), n_nodes - reached)
        for r in sorted(hist, key=lambda r: r["hop"])
    ]
    return spark.createDataFrame(
        rows,
        "hop INT, n_at_hop BIGINT, hub_node BIGINT, n_unreachable BIGINT",
    ).orderBy("hop")


# BFS distance in SQL: the walk relation enumerates (node, hop) pairs
# reachable by SOME path of length hop (UNION-deduped, capped at the
# engine's max_hops=30 so cycles terminate); the BFS distance is then
# min(hop) per node — identical to the frontier algorithm's
# first-reached round. Integer-exact end to end, so the hash match is
# exact. The walk is |V|·31-bounded regardless of edge count.
_BFS_SQL = """
WITH RECURSIVE op AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), e AS (
  SELECT DISTINCT a.p AS lo, b.p AS hi
  FROM op a JOIN op b ON a.o = b.o
  WHERE a.p < b.p
), sym AS (
  SELECT lo AS u, hi AS v FROM e
  UNION ALL
  SELECT hi AS u, lo AS v FROM e
), deg AS (
  SELECT n, count(*) AS d FROM (
    SELECT lo AS n FROM e UNION ALL SELECT hi FROM e
  ) GROUP BY 1
), hub AS (
  SELECT n FROM deg ORDER BY d DESC, n LIMIT 1
), walk(node, hop) AS (
  SELECT n, 0 FROM hub
  UNION
  SELECT s.v, w.hop + 1
  FROM walk w JOIN sym s ON s.u = w.node
  WHERE w.hop < 30
), dist AS (
  SELECT node, min(hop) AS hop FROM walk GROUP BY node
), nodes AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg
), reach AS (
  SELECT CAST(count(*) AS BIGINT) AS n_reached FROM dist
)
SELECT CAST(d.hop AS INT) AS hop,
       CAST(count(*) AS BIGINT) AS n_at_hop,
       CAST(h.n AS BIGINT) AS hub_node,
       CAST(nodes.n_nodes - reach.n_reached AS BIGINT) AS n_unreachable
FROM dist d CROSS JOIN hub h CROSS JOIN nodes CROSS JOIN reach
GROUP BY d.hop, h.n, nodes.n_nodes, reach.n_reached
ORDER BY hop
"""


QUERIES: dict[str, QuerySpec] = {
    "degree_assortativity": QuerySpec(
        _degree_assortativity,
        _ASSORT_SQL,
        "Newman degree assortativity of the co-purchase graph over the "
        "symmetrized edge list (exact moment sums, no sampling)",
    ),
    "bfs_hops_from_hub": QuerySpec(
        _bfs_hops_from_hub,
        duck_materialize(_BFS_SQL),
        "BFS hop census from the highest-degree part: frontier "
        "equi-join + anti-join per round, diameter-bounded "
        "(oracle: hop-capped recursive-CTE walk, min(hop) per node)",
    ),
}
