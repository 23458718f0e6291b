"""Link-graph analytics over the document corpus.

A web-scale corpus pipeline maintains a host/document link graph and
runs three classic workloads on it: connected components (already
covered by the near-dup tier, ``functions/similarity.py``), PageRank
(crawl prioritization / authority weighting, the quality prior used
by e.g. the CommonCrawl-derived corpora), and triangle counting
(community density / link-farm detection).  This module adds the
latter two as driver-checked queries.

The fixtures carry no real link column, so the graph is SYNTHESIZED
deterministically from ``doc_id`` (the same synthesize-then-process
pattern as ``url_domain_filter`` / ``html_text_extract``): three
pseudo-random out-links ``(id * p + c) % n`` plus two community chain
links ``id -> id+1, id+2`` within each 10-document community (exact
modular conditions, so DuckDB regenerates the identical edge list).
The community links guarantee triangles at every SF; the
pseudo-random links keep degrees irregular.

Both algorithms are EXACT under the oracle:

- PageRank runs in fixed-point BIGINT arithmetic (see
  ``functions/graph.py:pagerank_fixed_point``): every step is integer
  div/mul/sum, so the distributed result is independent of
  aggregation order and the oracle replays all five iterations as
  unrolled CTEs bit-for-bit.  A float PageRank could never be
  hash-compared across engines.
- Triangle counting is combinatorial (no floats anywhere); the oracle
  recounts with a canonicalized 3-way self-join, which is fine at
  oracle scale while the Spark side uses the degree-oriented wedge
  join that survives power-law graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.graph import (
    PAGERANK_DAMPING_DEN,
    PAGERANK_DAMPING_NUM,
    PAGERANK_SCALE,
    bfs_hops,
    pagerank_fixed_point,
    triangle_count,
)
from ..sources.tables import load_tables
from . import QuerySpec

_PR_ITERS = 5
_COMMUNITY = 10  # community size for the chain links

# (multiplier, offset) for the three pseudo-random out-links
_LINK_GENS = ((7, 1), (13, 2), (31, 3))


def _link_graph(spark: SparkSession, sf_dir: str):
    """(nodes, edges) of the synthesized link graph.

    nodes: (id BIGINT); edges: (src, dst) directed multigraph --
    duplicates and self-loops from the pseudo-random generators are
    KEPT (PageRank treats them as parallel edges / self-links;
    triangle_count canonicalizes internally), so the SQL oracle can
    regenerate the list with three UNION ALL arms.
    """
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    nodes = docs.select(F.col("doc_id").alias("id"))
    n_row = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    with_n = nodes.crossJoin(F.broadcast(n_row))
    arms = [
        with_n.select(
            F.col("id").alias("src"),
            F.expr(f"(id * {p} + {c}) % __n").alias("dst"),
        )
        for p, c in _LINK_GENS
    ]
    chain1 = (
        with_n.filter((F.col("id") % _COMMUNITY != _COMMUNITY - 1)
                      & (F.col("id") + 1 < F.col("__n")))
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    )
    chain2 = (
        with_n.filter((F.col("id") % _COMMUNITY < _COMMUNITY - 2)
                      & (F.col("id") + 2 < F.col("__n")))
        .select(F.col("id").alias("src"), (F.col("id") + 2).alias("dst"))
    )
    edges = arms[0]
    for e in arms[1:] + [chain1, chain2]:
        edges = edges.unionByName(e)
    return nodes, edges


_EDGES_SQL = f"""
nodes AS (SELECT doc_id AS id FROM documents),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
edges AS (
  SELECT id AS src, (id * 7 + 1) % nn.n AS dst FROM nodes, nn
  UNION ALL SELECT id, (id * 13 + 2) % nn.n FROM nodes, nn
  UNION ALL SELECT id, (id * 31 + 3) % nn.n FROM nodes, nn
  UNION ALL SELECT id, id + 1 FROM nodes, nn
            WHERE id % {_COMMUNITY} <> {_COMMUNITY - 1} AND id + 1 < nn.n
  UNION ALL SELECT id, id + 2 FROM nodes, nn
            WHERE id % {_COMMUNITY} < {_COMMUNITY - 2} AND id + 2 < nn.n
)
"""


def q_pagerank_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by 5-iteration fixed-point PageRank over the
    synthesized link graph.  rank_fp is in 1e-12 units of total rank
    mass; exact BIGINT arithmetic end-to-end (see functions/graph.py).
    Scale: each iteration is one (src = id) hash join + one groupBy --
    the slim (dst, contrib) stream is all that shuffles; TakeOrdered
    for the final top-k, never a global sort."""
    nodes, edges = _link_graph(spark, sf_dir)
    ranks = pagerank_fixed_point(nodes, edges, iters=_PR_ITERS)
    return (
        ranks.select(F.col("id").alias("doc_id"), "rank_fp")
        .orderBy(F.col("rank_fp").desc(), F.col("doc_id"))
        .limit(20)
    )


def _pagerank_oracle() -> str:
    scale = PAGERANK_SCALE
    num, den = PAGERANK_DAMPING_NUM, PAGERANK_DAMPING_DEN
    ctes = [
        _EDGES_SQL.strip().rstrip(),
        "outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS odeg"
        " FROM edges GROUP BY src)",
        f"r0 AS (SELECT id, (SELECT {scale} // n FROM nn) AS r FROM nodes)",
    ]
    for k in range(1, _PR_ITERS + 1):
        ctes.append(
            f"""r{k} AS (
  SELECT nodes.id,
         CAST(({den - num} * (SELECT {scale} // n FROM nn)) // {den}
              + ({num} * COALESCE(s.s, 0)) // {den} AS BIGINT) AS r
  FROM nodes LEFT JOIN (
    SELECT e.dst AS id, SUM(p.r // o.odeg) AS s
    FROM edges e
    JOIN outdeg o ON o.src = e.src
    JOIN r{k - 1} p ON p.id = e.src
    GROUP BY e.dst
  ) s ON s.id = nodes.id
)"""
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_fp
FROM r{_PR_ITERS}
ORDER BY rank_fp DESC, doc_id
LIMIT 20
"""
    )


ORACLE_PAGERANK = _pagerank_oracle()


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 vertices by triangle count (ties broken by id) over the
    undirected, canonicalized link graph, plus each vertex's count.
    Spark side: degree-oriented wedge join (functions/graph.py);
    oracle side: canonical a<b<c 3-way self-join recount."""
    _, edges = _link_graph(spark, sf_dir)
    tri = triangle_count(edges)
    return (
        tri.select(F.col("id").alias("doc_id"), "triangles")
        .orderBy(F.col("triangles").desc(), F.col("doc_id"))
        .limit(20)
    )


ORACLE_TRIANGLES = f"""
WITH {_EDGES_SQL.strip()},
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
),
per_v AS (
  SELECT v, CAST(count(*) AS BIGINT) AS triangles
  FROM (
    SELECT x AS v FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  )
  GROUP BY v
)
SELECT v AS doc_id, triangles
FROM per_v
ORDER BY triangles DESC, doc_id
LIMIT 20
"""


_BFS_DEPTH = 6
_BFS_SEED_MOD = 100  # doc_id % mod == 0 -> seed (seed count scales with n)


def q_bfs_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the DIRECTED link graph: per hop count
    0..6, how many documents sit at that shortest distance from the
    seed set (every 100th doc -- think 'trusted domains'), plus an
    id-sum checksum per ring and a hop = -1 row for the unreached
    remainder.  This is the crawl-frontier / TrustRank-radius
    primitive the PageRank + CC + triangle tier was missing, and the
    one Spark shape they don't cover: iterative FRONTIER expansion
    with a visited set (vs PageRank's fixed per-round relaxation).

    Exactness: everything is BIGINT ids and counts; the oracle replays
    the search with a DuckDB recursive CTE over (id, hop) pairs
    (UNION-distinct fixpoint, depth-guarded) and takes min(hop) per
    vertex -- identical to the frontier algorithm's first-visit hop
    because BFS visits in hop order.

    Scale shape: per round one hash join frontier->edges (slim id
    stream), a distinct, and an anti join against the visited set;
    lineage cut per round (the pagerank localCheckpoint discipline).
    Frontiers are vertex-bounded; nothing is ever path-enumerated
    (the oracle's pair-space is n x depth bounded too).  Depth is a
    constant 6, so the whole query is a fixed 6-stage pipeline at any
    data size."""
    nodes, edges = _link_graph(spark, sf_dir)
    seeds = nodes.filter(F.col("id") % _BFS_SEED_MOD == 0)
    labeled = bfs_hops(nodes, edges, seeds, depth=_BFS_DEPTH)
    return (
        labeled.groupBy("hop")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vertices"),
            F.sum("id").cast("long").alias("sum_id"),
        )
        .orderBy("hop")
    )


ORACLE_BFS = f"""
WITH RECURSIVE {_EDGES_SQL.strip()},
bfs AS (
  SELECT id, 0 AS hop FROM nodes WHERE id % {_BFS_SEED_MOD} = 0
  UNION
  SELECT e.dst AS id, b.hop + 1 AS hop
  FROM bfs b JOIN edges e ON e.src = b.id
  WHERE b.hop < {_BFS_DEPTH}
),
best AS (SELECT id, min(hop) AS hop FROM bfs GROUP BY id),
labeled AS (
  SELECT n.id, CAST(coalesce(b.hop, -1) AS INT) AS hop
  FROM nodes n LEFT JOIN best b ON b.id = n.id
)
SELECT hop, CAST(count(*) AS BIGINT) AS n_vertices,
       CAST(sum(id) AS BIGINT) AS sum_id
FROM labeled
GROUP BY hop
ORDER BY hop
"""


def specs() -> list[QuerySpec]:
    return [
        QuerySpec(
            "pagerank_links",
            q_pagerank_links,
            ORACLE_PAGERANK,
            "5-iteration fixed-point integer PageRank, top-20 (exact oracle "
            "replays all iterations as unrolled CTEs)",
        ),
        QuerySpec(
            "triangle_counts",
            q_triangle_counts,
            ORACLE_TRIANGLES,
            "degree-oriented distributed triangle counting, top-20 vertices",
        ),
        QuerySpec(
            "bfs_reachability",
            q_bfs_reachability,
            ORACLE_BFS,
            "multi-source BFS hop-ring census (frontier + visited-set "
            "iteration vs recursive-CTE oracle)",
        ),
    ]
