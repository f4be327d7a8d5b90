"""Graph algorithms on DataFrames: PageRank, k-core peeling and the
triangle census.

PageRank is a fixed-count power iteration; k-core peeling (here),
frontier BFS (queries/extras54.py) and connected components
(llmdata/dedup.py) are fixpoint loops. Every fixpoint round is one
``ops/observe.checkpoint_observed`` job: the round's frame is
checkpointed and its convergence counts ride that same job. The loops
run to their fixpoint; none has a round cap that could return a
half-peeled or half-labeled result.

Scale shape per iteration: ONE join of the rank vector to the edge list
on src (both keyed by node id — with both sides pre-partitioned on the
key this is a co-located join), one groupBy(dst) sum. Rank rows are
(node, double) — the edge list, not the payload, dominates and is never
widened. Lineage is truncated with localCheckpoint every few rounds
(same trick as connected components) so the plan doesn't grow
superlinearly with iterations. The dangling-mass correction is a lazy
ONE-ROW aggregate broadcast-cross-joined into the rank update — it
rides the same plan as the inflow groupBy, so an iteration costs zero
extra driver-side actions (round 4 collected the scalar per iteration:
8 extra job submissions per call; folded per the round-4 verdict).

Determinism: fixed iteration count, fixed damping. Since round 12 the
per-edge shares and per-iteration ranks snap to the binary 2^-40 grid
(the Platt/GMM 2^-24 discipline, finer because rank mass is <= 1):
sums of exact 2^-40 multiples whose running totals stay under
2^53·2^-40 = 2^13 are EXACT in any summation order, so the whole power
iteration is bit-identical across shuffle orders AND engines — the
DuckDB oracle replays it as 6 unrolled join+agg stages. The snap moves
values by <= ~1e-10 over a damped run, far beneath the 6dp output
grain and the 1e-9 test tolerances.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .observe import checkpoint_observed, release_checkpoint

# 2^40 snap grid for shares/ranks (see module docstring). Mass <= 1 so
# scaled values stay far below 2^52 and the power-of-two scale is exact.
PR_GRID = float(2**40)


def _snap(col):
    return F.floor(col * F.lit(PR_GRID) + F.lit(0.5)) / F.lit(PR_GRID)


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 8,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 3,
) -> DataFrame:
    """PageRank over a directed edge list, ``iters`` fixed power
    iterations with uniform teleport and dangling-mass redistribution.

    Ranks are normalized to sum to 1: r(v) = (1-d)/N + d * (in-flow +
    dangling/N). Parallel edges count once (the edge list is
    deduplicated); nodes are everything appearing as src or dst.
    Returns (node, rank).

    ``checkpoint_every`` bounds PLAN growth, not just lineage: because
    the dangling-mass aggregate is folded into the plan lazily, each
    iteration references the previous ``ranks`` subtree TWICE (dangling
    branch + inflow branch), so the un-checkpointed plan doubles per
    iteration — ~2^checkpoint_every between checkpoints, not linear as
    in a collect-per-iteration formulation. The default (3) measured
    fastest; values above 5 are rejected rather than silently risking
    exponential analysis/recompute cost.
    """
    if checkpoint_every > 5:
        raise ValueError(
            "checkpoint_every > 5 would grow the per-iteration plan "
            "~2^checkpoint_every (the folded dangling-mass branch "
            "references the previous ranks subtree twice); keep it <= 5"
        )
    # Checkpoint the distinct edge list FIRST: `edges` is typically an
    # expensive fact-join subtree (lineitem x orders for the trade
    # graph), and without materialization every frame derived from it —
    # nodes, the out-degree table, flow_edges, and ABOVE ALL the
    # per-iteration broadcast of out_deg inside the dangling-mass
    # anti-join — re-executed that subtree once per checkpoint job.
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    nodes, stats = checkpoint_observed(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct(),
        {"n": F.count(F.lit(1))},
    )
    n_nodes = int(stats["n"])
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0.0))

    # node-grain, scanned by every iteration's dangling anti-join —
    # materialize once so each broadcast build is a cached scan
    out_deg = (
        e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).localCheckpoint()
    )
    # edges with the sender's out-degree attached — static across
    # iterations, checkpoint once so each round replans from here
    flow_edges = e.join(out_deg, "src").localCheckpoint()

    import math

    ranks = nodes.withColumn(
        "rank",
        F.lit(math.floor(1.0 / n_nodes * PR_GRID + 0.5) / PR_GRID),
    )
    teleport = (1.0 - damping) / n_nodes
    # The rank/degree/inflow frames are NODE-grain while flow_edges is
    # EDGE-grain; with node-grain sides broadcast (exact decision —
    # n_nodes is already counted), the edge list is scanned map-side
    # and NEVER shuffled: the only per-iteration shuffle left is the
    # map-combined groupBy(dst) partial aggregate, whose shuffle volume
    # is dst-grain, not edge-grain. Without the hints every iteration
    # re-shuffled the full edge list on src (checkpoint-backed frames
    # report default size stats, so nothing auto-broadcast) — measured
    # 3.44x wall at 10x data in STRESS_r12.
    small = n_nodes <= _BROADCAST_NODE_CAP
    out_deg_j = F.broadcast(out_deg) if small else out_deg
    for i in range(iters):
        # dangling nodes (no out-edges) leak their whole rank: aggregate
        # that mass lazily to a ONE-ROW frame and broadcast-cross-join it
        # into the update, so the whole iteration stays in one plan — no
        # per-iteration driver collect / extra job submission (each
        # localCheckpoint every `checkpoint_every` rounds is the only
        # action; between checkpoints the iterations fuse into one job).
        dangling = (
            ranks.join(out_deg_j, ranks["node"] == out_deg_j["src"], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling_mass"))
        )
        ranks_j = F.broadcast(ranks) if small else ranks
        inflow = (
            flow_edges.join(ranks_j, flow_edges["src"] == ranks_j["node"])
            .select(
                "dst", _snap(F.col("rank") / F.col("deg")).alias("share")
            )
            .groupBy("dst")
            .agg(F.sum("share").alias("inflow"))
        )
        inflow_j = F.broadcast(inflow) if small else inflow
        ranks = (
            nodes.join(inflow_j, nodes["node"] == inflow_j["dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                _snap(
                    F.lit(teleport)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + F.col("dangling_mass") / F.lit(float(n_nodes))
                    )
                ).alias("rank"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            ranks = ranks.localCheckpoint()
    return ranks


def triangle_count(edges: DataFrame, a: str = "src", b: str = "dst") -> DataFrame:
    """Global triangle census of an undirected graph: ONE row with node/
    edge/triangle counts and transitivity (3·triangles / wedges — the
    global clustering coefficient). Input edges may carry duplicates,
    self-loops, or both orientations; they are canonicalized first
    (min/max + distinct, self-loops dropped).

    Algorithm: the standard two-join enumeration over ORIENTED edges
    (lo < hi). Orienting by node order means every triangle {x<y<z} is
    found exactly once (as x-y, y-z, x-z) and — the scale property —
    each join fans out only over a node's FORWARD degree, so the worst
    case is bounded by sum(fwd_deg²); for power-law graphs orienting by
    degree-then-id would tighten it further, the classic compact-forward
    refinement. Both joins are equi-joins on a node id; wedges come from
    the degree distribution (one agg), never enumerated.
    """
    e = (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("lo"),
            F.greatest(F.col(a), F.col(b)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    e.cache()
    e1 = e.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
    e2 = e.select(F.col("lo").alias("y"), F.col("hi").alias("z"))
    e3 = e.select(F.col("lo").alias("x"), F.col("hi").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    nodes = e.select(F.col("lo").alias("n")).unionAll(
        e.select(F.col("hi").alias("n"))
    )
    deg = nodes.groupBy("n").agg(F.count(F.lit(1)).alias("d"))
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.coalesce(
            (F.sum(F.col("d") * (F.col("d") - 1)) / 2).cast("long"), F.lit(0)
        ).alias("wedges"),
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(n_edges)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "wedges",
            F.when(
                F.col("wedges") > 0,
                3.0 * F.col("n_triangles") / F.col("wedges"),
            ).alias("transitivity"),
        )
    )


# Node-grain peel/survivor lists at or below this many rows ride
# broadcast joins against the static edge list (a few MB of longs);
# above it (a mass-collapse round on a billion-node graph) the join
# falls back to a shuffle rather than OOMing the driver. The counts
# that gate this are ones k_core computes anyway, so the decision is
# exact, not estimated.
_BROADCAST_NODE_CAP = 8_000_000


def k_core(
    edges: DataFrame,
    k: int,
    a: str = "src",
    b: str = "dst",
    pre_canonical: bool = False,
    materialize: bool = True,
    init_deg: DataFrame | None = None,
) -> tuple[DataFrame, int, int]:
    """Extract the k-core of an undirected graph: the (unique) maximal
    subgraph in which every node has degree >= k, by synchronous
    peeling (Matula & Beck 1983): each round drops EVERY node whose
    current in-subgraph degree is < k, until a fixpoint. The fixpoint
    is order-independent, so the result is deterministic regardless of
    partitioning. Every round with a node below k removes at least one
    node, so the loop ends after at most |V| rounds; it has no cap.

    Distributed shape (delta-degree peel): the edge list is
    canonicalized and ``localCheckpoint``-ed ONCE and never rewritten;
    per round the engine touches only NODE-GRAIN frames — filter
    current degrees for the peel set, join the static edge list to that
    (small, broadcast) peel set to count each survivor's lost
    neighbors, and subtract. Re-aggregating degrees from the full edge
    list each round would add one O(E) shuffle and one O(E) checkpoint
    write per round. The number of rounds is the graph's peel depth
    (single digits on co-occurrence graphs; |V|/2 on a path), and is
    invariant to partitioning. Returns (surviving undirected edge list,
    rounds run, surviving node count — every alive node has degree > 0,
    so the count of the final degree table IS the core's node count,
    saving callers a distinct-count job).

    Equivalence to the edge-rewrite peel (what keeps the DuckDB
    recursive-CTE oracle unchanged): a surviving node's in-subgraph
    degree equals its initial degree minus one for each incident edge
    whose OTHER endpoint was peeled — and each such edge is subtracted
    exactly once, in the round its other endpoint dies. Nodes whose
    degree hits 0 are dropped from the table in the same update
    (``d > 0``) WITHOUT counting a peel round, exactly as they vanish
    from an edge-derived degree table; ``d`` can never go negative
    because every edge to a peeled neighbor is, by construction, still
    counted in ``d``. The final core is the static edge list
    semi-joined to surviving nodes on both endpoints (an edge dies iff
    an endpoint dies).

    Edge list is canonicalized (lo < hi, deduplicated) first; degree
    counts each neighbor once. ``pre_canonical=True`` skips that pass
    for callers whose input is ALREADY (lo < hi, distinct, loop-free) —
    e.g. nested peels seeded from a previous core — and
    ``materialize=False`` additionally skips the edge checkpoint when
    the input is already checkpoint/cache-backed (a lazy edge plan
    would otherwise re-execute once per peel round).

    Each round is one ``checkpoint_observed`` job: it materializes the
    updated degree table and returns the fixpoint test (alive, nbad)
    from the same job. ``bad`` is a plain filter over the checkpointed
    table. Each round's plan references the previous degree table four
    times (three ``bad`` joins + the update), so the checkpoint's plan
    truncation keeps analysis cost linear in rounds. The previous
    round's table is released once the next one exists; a caller's
    ``init_deg`` is never released.
    """
    if pre_canonical:
        e = edges.select(F.col(a).alias("lo"), F.col(b).alias("hi"))
        if materialize:
            e = e.localCheckpoint()
    else:
        e = (
            edges.select(
                F.least(F.col(a), F.col(b)).alias("lo"),
                F.greatest(F.col(a), F.col(b)).alias("hi"),
            )
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
            .localCheckpoint()
        )
    fix_stats = {
        "alive": F.count(F.lit(1)),
        "nbad": F.coalesce(F.sum((F.col("d") < k).cast("long")), F.lit(0)),
    }

    if init_deg is not None:
        # caller-supplied (n, d) degree table of the SAME edge list,
        # already materialized — e.g. the scale-adaptive-k percentile
        # pass computes it anyway; recomputing it here would be a pure
        # duplicate job (its stats are one tiny cached-scan aggregate)
        deg = init_deg
        stats = deg.agg(*(c.alias(n) for n, c in fix_stats.items())).collect()[0]
    else:
        deg, stats = checkpoint_observed(
            e.select(F.col("lo").alias("n"))
            .unionAll(e.select(F.col("hi").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d")),
            fix_stats,
        )
    rounds = 0
    while int(stats["nbad"]) > 0:
        n_bad = int(stats["nbad"])
        # node-grain peel list: a plain filter over the CHECKPOINTED
        # degree table (each reference is a cached-scan filter; the
        # identical broadcast subtrees dedupe via ReuseExchange within
        # the round's job). The fixpoint count from the previous
        # round's aggregate doubles as an EXACT broadcast decision:
        # checkpoint-backed frames report default (huge) size stats, so
        # without the hint every join against `bad` would plan as a
        # sort-merge join that shuffles the full edge list per round.
        bad = deg.filter(F.col("d") < k).select(F.col("n").alias("bn"))
        bad_j = F.broadcast(bad) if n_bad <= _BROADCAST_NODE_CAP else bad
        # ONE shuffle per round: survivors (= NOT bad = d >= k, a plain
        # filter — not an anti-join) and the per-neighbor loss events
        # (edges incident to a peeled node, keyed by the SURVIVING
        # endpoint) ride the same tagged union into a single groupBy.
        # max(d) recovers the survivor's degree (exactly one non-null d
        # per key), sum(l) counts its lost neighbors — each edge to a
        # peeled node is counted once, in the round its other endpoint
        # dies; keys with a NULL max(d) are loss events for nodes
        # peeled this same round and are dropped.
        surv = deg.filter(F.col("d") >= k).select(
            "n", "d", F.lit(0).alias("l")
        )
        hits = (
            e.join(bad_j, e.lo == F.col("bn"), "inner")
            .select(F.col("hi").alias("n"))
            .unionAll(
                e.join(bad_j, e.hi == F.col("bn"), "inner")
                .select(F.col("lo").alias("n"))
            )
            .select("n", F.lit(None).cast("long").alias("d"), F.lit(1).alias("l"))
        )
        prev = deg
        deg, stats = checkpoint_observed(
            surv.unionAll(hits)
            .groupBy("n")
            .agg(F.max("d").alias("d0"), F.sum("l").alias("lost"))
            .filter(F.col("d0").isNotNull())
            .select("n", (F.col("d0") - F.col("lost")).alias("d"))
            .filter(F.col("d") > 0),
            fix_stats,
        )
        if prev is not init_deg:
            release_checkpoint(prev)
        rounds += 1
    n_alive = int(stats["alive"])
    alive_lo = deg.select(F.col("n").alias("_alo"))
    alive_hi = deg.select(F.col("n").alias("_ahi"))
    if n_alive <= _BROADCAST_NODE_CAP:
        alive_lo, alive_hi = F.broadcast(alive_lo), F.broadcast(alive_hi)
    core = (
        e.join(alive_lo, e.lo == F.col("_alo"), "left_semi")
        .join(alive_hi, F.col("hi") == F.col("_ahi"), "left_semi")
    )
    return core, rounds, n_alive
