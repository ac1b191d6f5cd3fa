"""Structural graph statistics over relational data: triangle counting
and degree profiles.

Companions to `graph.py`'s iterative PageRank on the same nation trade
graph (edge = cust-nation → supp-nation for every cross-nation
lineitem): PageRank weights nodes by link structure; triangles and
degrees are the *static* structure signals a curation pipeline uses to
characterize link/citation/interaction graphs (clustering coefficient
inputs, hub detection, spam-farm screens).

Spark-first design, and the 100 TB shape:

- **Triangle counting** is the textbook ordered-edge-join algorithm
  (three self-equi-joins on the canonically oriented edge list with
  `a < b < c`). Orienting every edge low→high before joining is what
  bounds the intermediate: each triangle is produced exactly once, no
  permutation blowup, and every join is an equi-join Catalyst can
  hash-partition — no cartesian anywhere (asserted in
  tests/test_plans.py). At 100 TB the standard refinement is
  degree-based orientation (point each edge at the higher-degree
  endpoint) which bounds wedge counts by arboricity; the fixture graph
  is node-bounded (≤ 25 nations) so the simple orientation is already
  exact and cheap.
- **Degree stats** are three partial-aggregable groupBys over the edge
  list — map-side combine collapses each scan partition to |V| rows
  before any exchange.

Cross-engine determinism: pure integer counts — nothing to quantize.

Reference analogue: none directly (the reference delegates analytics to
its SQL engines); §2.E-class extension, same family as graph_pagerank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_scripts_spark.catalog import load_table
from datapipeline_scripts_spark.registry import query

from datapipeline_scripts_spark.extensions.graph import TRADE_EDGES_CTE, trade_edges

# Shared directed-edge derivation — imported from graph.py so PageRank
# and the structure stats can never desynchronize.
_EDGES_CTE = f"""
raw AS ({TRADE_EDGES_CTE}),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM raw
)
"""

_TRIANGLE_ORACLE = f"""
WITH {_EDGES_CTE},
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e1.b = e2.a
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
),
pernode AS (
  SELECT x AS k FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT n.n_name AS nation, count(*) AS n_triangles
FROM pernode p JOIN nation n ON p.k = n.n_nationkey
GROUP BY n.n_name
"""

_DEGREE_ORACLE = f"""
WITH {_EDGES_CTE},
out_d AS (SELECT src AS k, count(*) AS outdeg FROM raw GROUP BY src),
in_d  AS (SELECT dst AS k, count(*) AS indeg  FROM raw GROUP BY dst),
u_d AS (
  SELECT k, count(*) AS degree
  FROM (SELECT a AS k FROM und UNION ALL SELECT b AS k FROM und)
  GROUP BY k
)
SELECT n.n_name AS nation,
       coalesce(o.outdeg, 0) AS outdeg,
       coalesce(i.indeg, 0) AS indeg,
       u_d.degree AS degree
FROM u_d
LEFT JOIN out_d o ON u_d.k = o.k
LEFT JOIN in_d  i ON u_d.k = i.k
JOIN nation n ON u_d.k = n.n_nationkey
"""


@query("graph_triangle_count", oracle=_TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation counts on the undirected nation
    trade graph — ordered-edge-join triangle enumeration (a < b < c,
    each triangle found exactly once), then one UNION-ALL + groupBy for
    per-node counts. Every join is an equi-join on edge endpoints."""
    raw = trade_edges(spark, sf_dir)
    und = (
        raw.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        ).distinct()
        # |E| ≤ C(25,2): reuse across the three join legs without
        # recomputing the fact-table join per leg
        .localCheckpoint(eager=False)
    )
    e1 = und.alias("e1")
    e2 = und.alias("e2")
    e3 = und.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z"))
    )
    # one pass over tri (a 3-branch union would recompute the triangle
    # join per branch); explode(array(...)) == the oracle's UNION ALL
    pernode = tri.select(F.explode(F.array("x", "y", "z")).alias("k"))
    na = load_table(spark, sf_dir, "nation")
    return (
        pernode.join(F.broadcast(na), pernode.k == na.n_nationkey)
        .groupBy(na.n_name.alias("nation"))
        .agg(F.count("*").alias("n_triangles"))
    )


@query("graph_degree_stats", oracle=_DEGREE_ORACLE)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node degree profile (out-degree, in-degree, undirected
    degree) of the nation trade graph — three partial-aggregable
    groupBys over the |E|-row edge list, stitched with node-sized
    broadcast joins."""
    raw = trade_edges(spark, sf_dir).localCheckpoint(eager=False)
    out_d = raw.groupBy(F.col("src").alias("k")).agg(F.count("*").alias("outdeg"))
    in_d = raw.groupBy(F.col("dst").alias("k")).agg(F.count("*").alias("indeg"))
    und = raw.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    u_d = (
        und.select(F.col("a").alias("k"))
        .unionByName(und.select(F.col("b").alias("k")))
        .groupBy("k")
        .agg(F.count("*").alias("degree"))
    )
    na = load_table(spark, sf_dir, "nation")
    return (
        u_d.join(F.broadcast(out_d), "k", "left")
        .join(F.broadcast(in_d), "k", "left")
        .join(F.broadcast(na), u_d.k == na.n_nationkey)
        .select(
            na.n_name.alias("nation"),
            F.coalesce("outdeg", F.lit(0)).cast("long").alias("outdeg"),
            F.coalesce("indeg", F.lit(0)).cast("long").alias("indeg"),
            F.col("degree").cast("long").alias("degree"),
        )
    )


@query("graph_triangle_oriented", oracle=_TRIANGLE_ORACLE)
def graph_triangle_oriented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-ordered triangle enumeration — the 100 TB refinement of
    `graph_triangle_count`: every undirected edge is oriented toward
    its higher-(degree, id) endpoint, wedges are enumerated only at
    each triangle's LOWEST-degree vertex, and closed against the
    undirected edge set. Per-vertex wedge lists are bounded by graph
    arboricity (O(sqrt(|E|)) on any graph) instead of max degree, so
    the wedge join cannot blow up on a hub vertex — the difference
    between feasible and not on power-law web/citation graphs.

    The oracle is the SAME per-node count SQL as the simple ordered
    enumeration, so the hash match proves the two algorithms are
    equivalent — each triangle found exactly once either way."""
    raw = trade_edges(spark, sf_dir)
    und = (
        raw.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("a").alias("k"))
        .unionByName(und.select(F.col("b").alias("k")))
        .groupBy("k")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("k").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("k").alias("b"), F.col("deg").alias("deg_b"))
    # orient toward the higher-(degree, id) endpoint
    lower_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        und.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
        .localCheckpoint(eager=False)
    )
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    wedges = (
        e1.join(e2, F.col("e1.u") == F.col("e2.u"))
        .filter(F.col("e1.v") < F.col("e2.v"))
        .select(
            F.col("e1.u").alias("u"), F.col("e1.v").alias("x"), F.col("e2.v").alias("y")
        )
    )
    closer = und.select(F.col("a").alias("ca"), F.col("b").alias("cb"))
    tri = wedges.join(
        closer,
        (F.least("x", "y") == F.col("ca")) & (F.greatest("x", "y") == F.col("cb")),
    ).select("u", "x", "y")
    pernode = tri.select(F.explode(F.array("u", "x", "y")).alias("k"))
    na = load_table(spark, sf_dir, "nation")
    return (
        pernode.join(F.broadcast(na), pernode.k == na.n_nationkey)
        .groupBy(na.n_name.alias("nation"))
        .agg(F.count("*").alias("n_triangles"))
    )


@query(
    "graph_jaccard_suppliers",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    deg AS (SELECT s, count(*) AS d FROM edges GROUP BY 1),
    postings AS (
      SELECT p FROM edges GROUP BY p HAVING count(*) <= 50
    ),
    pairs AS (
      SELECT e1.s AS s1, e2.s AS s2, count(*) AS common
      FROM edges e1
      JOIN postings USING (p)
      JOIN edges e2 USING (p)
      WHERE e1.s < e2.s
      GROUP BY 1, 2
    )
    SELECT s1, s2, CAST(common AS BIGINT) AS common_parts,
           CAST((10000 * common) // (d1.d + d2.d - common) AS BIGINT)
             AS jaccard_bp
    FROM pairs
    JOIN deg d1 ON d1.s = pairs.s1
    JOIN deg d2 ON d2.s = pairs.s2
    ORDER BY jaccard_bp DESC, s1, s2 LIMIT 20
    """,
)
def graph_jaccard_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node-similarity via neighborhood overlap: top supplier pairs by
    Jaccard similarity of the part sets they ship (the collaborative-
    filtering / entity-resolution primitive, here on the bipartite
    supplier-part graph from lineitem). The pair generator is the
    capped posting-list self-join (the dedup_ngram_jaccard_capped
    pattern): parts supplied by > 50 suppliers are dropped from
    candidate generation, bounding per-key fanout to 50² and keeping
    the join an equi-join on partkey — candidates are O(|edges|·cap),
    never all supplier pairs. Jaccard lands in exact integer basis
    points via truncating division; top-20 is TakeOrdered with a full
    deterministic tie-break, no global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")).distinct()
    deg = edges.groupBy("s").agg(F.count("*").alias("d"))
    postings = edges.groupBy("p").agg(F.count("*").alias("np")).filter(F.col("np") <= 50)
    e1 = edges.select(F.col("s").alias("s1"), "p")
    e2 = edges.select(F.col("s").alias("s2"), "p")
    pairs = (
        e1.join(postings.select("p"), "p")
        .join(e2, "p")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count("*").alias("common"))
    )
    d1 = deg.select(F.col("s").alias("s1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("s").alias("s2"), F.col("d").alias("d2"))
    return (
        pairs.join(d1, "s1")
        .join(d2, "s2")
        .select(
            "s1",
            "s2",
            F.col("common").cast("long").alias("common_parts"),
            F.expr("CAST((10000 * common) div (d1 + d2 - common) AS BIGINT)").alias(
                "jaccard_bp"
            ),
        )
        .orderBy(F.desc("jaccard_bp"), "s1", "s2")
        .limit(20)
    )


_CLUSTERING_ORACLE = f"""
WITH {_EDGES_CTE},
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e1.b = e2.a
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
),
pernode AS (
  SELECT x AS k FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
),
tcnt AS (SELECT k, CAST(count(*) AS BIGINT) AS n_triangles FROM pernode GROUP BY k),
u_d AS (
  SELECT k, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT a AS k FROM und UNION ALL SELECT b AS k FROM und)
  GROUP BY k
)
SELECT n.n_name AS nation,
       u_d.degree AS degree,
       coalesce(t.n_triangles, 0) AS n_triangles,
       CAST(CASE WHEN u_d.degree < 2 THEN 0
                 ELSE 2 * coalesce(t.n_triangles, 0) * 10000
                      // (u_d.degree * (u_d.degree - 1)) END AS BIGINT) AS clustering_bp
FROM u_d
LEFT JOIN tcnt t ON u_d.k = t.k
JOIN nation n ON u_d.k = n.n_nationkey
"""


@query("graph_clustering_coeff", oracle=_CLUSTERING_ORACLE)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node of the nation trade
    graph: 2·triangles / (deg·(deg−1)) in exact integer basis points —
    the cohesion metric on top of graph_triangle_count's enumeration
    and graph_degree_stats' degrees (how clique-like is each nation's
    trade neighborhood).

    Scale: same ordered-edge-join triangle enumeration (every leg an
    equi-join on endpoints) + one degree aggregate; the division is a
    node-sized stitch. At web scale the identical plan runs with the
    oriented (degree-ordered) edge variant — graph_triangle_oriented
    proves that substitution is hash-identical."""
    raw = trade_edges(spark, sf_dir)
    und = (
        raw.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .select(F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z"))
    )
    tcnt = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("k"))
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    u_d = (
        und.select(F.col("a").alias("k"))
        .unionByName(und.select(F.col("b").alias("k")))
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    na = load_table(spark, sf_dir, "nation")
    return (
        u_d.join(F.broadcast(tcnt), "k", "left")
        .join(F.broadcast(na), u_d.k == na.n_nationkey)
        .selectExpr(
            "n_name AS nation",
            "degree",
            "coalesce(n_triangles, CAST(0 AS BIGINT)) AS n_triangles",
            "CAST(CASE WHEN degree < 2 THEN 0"
            " ELSE 2 * coalesce(n_triangles, 0) * 10000"
            " div (degree * (degree - 1)) END AS BIGINT) AS clustering_bp",
        )
    )
