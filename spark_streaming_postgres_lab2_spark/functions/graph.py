"""Distributed graph primitives over DataFrame edge lists.

Complements the connected-components tier in
``functions/similarity.py`` (alternating-star CC) with the two other
classic link-graph workloads a corpus pipeline runs at scale:
PageRank (host/document authority for crawl prioritization and
quality weighting) and triangle counting (community structure /
spam-farm density).

Design notes for 100 TB:

- **PageRank is EXACT fixed-point integer arithmetic.**  The usual
  float implementation is non-deterministic across engines AND across
  runs (the per-vertex sum of contributions is float addition, whose
  result depends on partial-aggregation order).  Here ranks are
  BIGINT micro-units (``PAGERANK_SCALE`` = 1e12 total mass) and every step is
  integer division / multiplication / sum -- order-independent, so a
  DuckDB oracle can replay the algorithm bit-for-bit, and two cluster
  runs of different parallelism agree exactly.  Overflow headroom:
  total mass <= PAGERANK_SCALE, so ``PAGERANK_DAMPING_NUM * sum``
  <= 85e12 << 2^63.
- **Per-round cost is one join + one groupBy**, both hash-partitioned
  on the vertex id; the static edge side is joined once with its
  out-degree and cached, so each round shuffles only the slim
  (dst, contrib) stream.  Lineage is cut per round (localCheckpoint)
  so the plan does not grow with the iteration count.
- **Triangle counting uses degree orientation** (each undirected edge
  kept only from lower-(degree, id) to higher-(degree, id) endpoint),
  the standard trick that bounds the wedge join: every wedge is
  generated at its lowest-degree vertex, making the intermediate size
  O(sum deg_out^2) with deg_out <= sqrt(2|E|) even on power-law
  graphs -- a plain self-join on the raw edge list explodes on hub
  vertices.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PAGERANK_SCALE = 1_000_000_000_000  # total rank mass, in integer units
# damping factor 0.85 as an exact integer ratio; queries/graph's DuckDB
# oracle replays the recurrence from these same constants
PAGERANK_DAMPING_NUM = 85
PAGERANK_DAMPING_DEN = 100


def pagerank_fixed_point(
    nodes: DataFrame, edges: DataFrame, iters: int = 5
) -> DataFrame:
    """Exact integer-arithmetic PageRank over (id) nodes and (src, dst)
    edges, with D = PAGERANK_DAMPING_NUM / PAGERANK_DAMPING_DEN:

    rank_0(v)   = PAGERANK_SCALE DIV n
    contrib(u)  = rank(u) DIV outdeg(u)          (per out-edge)
    rank_k+1(v) = ((DEN - NUM) * (PAGERANK_SCALE DIV n)) DIV DEN
                  + (NUM * SUM contrib(u->v)) DIV DEN

    Every operation is BIGINT, so the result is independent of
    aggregation order and engine.  Dangling vertices (outdeg 0) leak
    their damped mass -- the standard simplification; both the Spark
    path and any SQL oracle replaying these recurrences agree exactly.
    Returns (id, rank_fp) for every node, rank_fp in PAGERANK_SCALE
    units.
    """
    # r16 (guide §2.4): n is ONE bounded scalar -- counting it once and
    # folding it into the integer recurrence as a literal removes the
    # per-iteration count-aggregate + broadcast-exchange pair that the
    # crossJoin(broadcast(n_row)) anchor re-planned every round (under
    # AQE each lazy per-round checkpoint re-executed that subtree).
    # Integer algebra is unchanged: `scale div __n` == scale // n for
    # the positive BIGINTs involved, so every rank is bit-identical.
    n = int(nodes.count())
    if n == 0:
        return nodes.select(
            F.col("id").alias("id"),
            F.lit(0).cast("bigint").alias("rank_fp"),
        )
    base = PAGERANK_SCALE // n  # rank_0 and the teleport base, exact BIGINT
    teleport = (
        (PAGERANK_DAMPING_DEN - PAGERANK_DAMPING_NUM) * base
    ) // PAGERANK_DAMPING_DEN

    # static edge side: out-degree joined once, reused every round
    outdeg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("__outdeg")
    )
    esrc = (
        edges.join(outdeg, "src")
        .select(F.col("src").alias("__src"), F.col("dst").alias("__dst"), "__outdeg")
        .localCheckpoint(eager=False)
    )

    ranks = nodes.select(
        F.col("id").alias("__id"),
        F.lit(base).cast("bigint").alias("__rank"),
    )

    for it in range(iters):
        summed = (
            esrc.join(ranks, esrc["__src"] == ranks["__id"])
            .select(F.col("__dst"), F.expr("__rank div __outdeg").alias("__c"))
            .groupBy("__dst")
            .agg(F.sum("__c").alias("__s"))
        )
        ranks = (
            nodes.join(summed, F.col("id") == F.col("__dst"), "left")
            .select(
                F.col("id").alias("__id"),
                (
                    F.lit(teleport).cast("bigint")
                    + F.expr(
                        f"({PAGERANK_DAMPING_NUM} * coalesce(__s, CAST(0 AS BIGINT)))"
                        f" div {PAGERANK_DAMPING_DEN}"
                    )
                ).cast("bigint").alias("__rank"),
            )
        )
        # cut lineage between rounds so the plan does not grow with the
        # iteration count -- but NOT after the last round: the final
        # ranks frame has exactly one downstream consumer, so its
        # checkpoint materialization would be a pure extra pass (r16)
        if it < iters - 1:
            ranks = ranks.localCheckpoint(eager=False)

    return ranks.select(F.col("__id").alias("id"), F.col("__rank").alias("rank_fp"))


def bfs_hops(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    depth: int,
) -> DataFrame:
    """Multi-source BFS shortest-hop labels over a DIRECTED (src, dst)
    edge list from (id) seeds, bounded at ``depth``.  Returns (id, hop)
    for EVERY node: hop 0 for seeds, k for first reach at round k, -1
    for nodes unreached within the bound.

    Per round: one hash join frontier->edges (slim id stream), a
    distinct, and a left-anti join against the visited set; lineage is
    cut per round (the pagerank localCheckpoint discipline), so the
    plan stays a fixed ``depth``-stage pipeline at any data size.
    Frontiers are vertex-bounded -- paths are never enumerated."""
    e = edges.select(F.col("src").alias("__src"), F.col("dst").alias("__dst"))
    e = e.localCheckpoint(eager=False)
    visited = seeds.select(
        F.col("id").alias("__id"), F.lit(0).cast("int").alias("hop")
    )
    frontier = visited.select("__id")
    for k in range(1, depth + 1):
        nxt = (
            frontier.join(e, frontier["__id"] == e["__src"])
            .select(F.col("__dst").alias("__id"))
            .distinct()
        )
        # ONE checkpoint per round, on the slim new-ring frame (r16):
        # `new` is the only frame referenced twice (as next frontier AND
        # inside the visited union).  The old shape also checkpointed the
        # visited union itself -- a second, strictly larger
        # materialization per round that a union of already-checkpointed
        # rings makes redundant (each ring is a cached leaf; the union
        # plan over them is flat and cheap to re-reference).
        new = (
            nxt.join(visited, "__id", "left_anti")
            .select("__id", F.lit(k).cast("int").alias("hop"))
            .localCheckpoint(eager=False)
        )
        visited = visited.unionByName(new)
        frontier = new.select("__id")
    return (
        nodes.select(F.col("id").alias("__n_id"))
        .join(visited, F.col("__n_id") == F.col("__id"), "left")
        .select(
            F.col("__n_id").alias("id"),
            F.coalesce("hop", F.lit(-1)).cast("int").alias("hop"),
        )
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts over an UNDIRECTED simple (src, dst)
    graph.

    Input may contain self-loops and duplicate / reversed duplicates;
    they are canonicalized away first.  Orientation: keep each edge as
    (lo, hi) ordered by (degree, id), generate wedges at the lowest
    vertex, close them with a hash join against the oriented edge
    list, then count each triangle at each of its three corners.
    Returns (id, triangles) for vertices in >=1 triangle.
    """
    # und feeds THREE subtrees of the oriented build (the direct join
    # side plus both degree aliases): without the cut the edge
    # synthesis + canonicalize + distinct pipeline plans and runs three
    # times per orientation (r16, guide §2.4).  Slim (a, b) rows only.
    und = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("a"),
            F.greatest(F.col("src"), F.col("dst")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    # orient by the TOTAL ORDER (degree, id): every edge points from
    # its smaller endpoint to its larger one under that order, making
    # the oriented graph a DAG; the closing edge of any wedge is then
    # stored in exactly one known direction.  Keep the head's degree
    # on the edge so the wedge pair can be ordered by the same key.
    da, db = deg.alias("da"), deg.alias("db")
    a_first = (F.col("da.d") < F.col("db.d")) | (
        (F.col("da.d") == F.col("db.d")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        und.join(da, F.col("a") == F.col("da.v"))
        .join(db, F.col("b") == F.col("db.v"))
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("w"),
            F.when(a_first, F.col("db.d")).otherwise(F.col("da.d")).alias("wd"),
        )
        .localCheckpoint(eager=False)
    )
    # wedges at the lowest-order vertex: (y, z) both out-neighbors of
    # x, ordered by the SAME (degree, id) key the orientation used --
    # ordering by raw id here would look for closing edges that the
    # orientation stored in the opposite direction
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    pair_ordered = (F.col("e1.wd") < F.col("e2.wd")) | (
        (F.col("e1.wd") == F.col("e2.wd")) & (F.col("e1.w") < F.col("e2.w"))
    )
    wedges = (
        e1.join(e2, F.col("e1.u") == F.col("e2.u"))
        .filter(pair_ordered)
        .select(
            F.col("e1.u").alias("x"),
            F.col("e1.w").alias("y"),
            F.col("e2.w").alias("z"),
        )
    )
    tris = wedges.join(
        e3,
        (F.col("y") == F.col("e3.u")) & (F.col("z") == F.col("e3.w")),
        "left_semi",
    )
    per_vertex = (
        tris.select(F.col("x").alias("v"))
        .unionByName(tris.select(F.col("y").alias("v")))
        .unionByName(tris.select(F.col("z").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
    )
    return per_vertex.select(F.col("v").alias("id"), "triangles")
