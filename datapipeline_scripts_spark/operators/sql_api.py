"""The raw SQL entry path: `spark.sql` over registered temp views.

The reference's query capability is delegated to full SQL engines its
users address in SQL (psql/sqlcmd, /root/reference/backup.sh:118-121,
210); this module proves the engine exposes the same modality — ANSI
SQL text in, DataFrame out — not just the DataFrame DSL. Catalyst
compiles both to the same plans, so every scale property (pushdown,
broadcast, partial agg) holds identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from datapipeline_scripts_spark.catalog import load_table
from datapipeline_scripts_spark.registry import query

_SQL = """
WITH seg AS (
  SELECT c.c_mktsegment AS segment,
         o.o_totalprice AS price,
         o.o_orderpriority AS priority
  FROM orders_v o JOIN customer_v c ON o.o_custkey = c.c_custkey
)
SELECT segment,
       priority,
       count(*) AS n_orders,
       round(avg(price), 2) AS avg_price,
       round(max(price), 2) AS max_price
FROM seg
WHERE priority IN ('1-URGENT', '2-HIGH')
GROUP BY segment, priority
"""


@query(
    "sql_entrypoint",
    oracle="""
    WITH seg AS (
      SELECT c.c_mktsegment AS segment,
             o.o_totalprice AS price,
             o.o_orderpriority AS priority
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT segment,
           priority,
           count(*) AS n_orders,
           round(avg(price), 2) AS avg_price,
           round(max(price), 2) AS max_price
    FROM seg
    WHERE priority IN ('1-URGENT', '2-HIGH')
    GROUP BY segment, priority
    """,
)
def sql_entrypoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI SQL in, DataFrame out: register the fixture tables as temp
    views and run a CTE + join + filtered aggregation as SQL text —
    the engine's psql/sqlcmd-equivalent front door. The IN filter
    pushes into the scan and the join/aggregation plan is identical
    to the DSL form (same Catalyst pipeline)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    return spark.sql(_SQL)


# BFS over the nation trade graph: identical SQL text runs on BOTH
# engines (only the view suffix differs) — Spark 4's recursive CTE and
# DuckDB's agree on UNION ALL + bounded-depth semantics, and hop counts
# are exact integers, so the hash match is a pure SQL-parity proof.
_RECURSIVE_SQL = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
  FROM lineitem{sfx} l
  JOIN orders{sfx} o   ON l.l_orderkey = o.o_orderkey
  JOIN customer{sfx} c ON o.o_custkey = c.c_custkey
  JOIN supplier{sfx} s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
),
reach(dst, hops) AS (
  SELECT dst, 1 AS hops FROM edges WHERE src = 0
  UNION ALL
  SELECT e.dst, r.hops + 1
  FROM reach r JOIN edges e ON r.dst = e.src
  WHERE r.hops < 3 AND e.dst <> 0
)
SELECT n.n_name AS nation, CAST(min(r.hops) AS INT) AS min_hops
FROM reach r JOIN nation{sfx} n ON r.dst = n.n_nationkey
GROUP BY n.n_name
"""


@query("sql_recursive_reach", oracle=_RECURSIVE_SQL.format(sfx=""))
def sql_recursive_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4): breadth-first reachability from nation
    0 over the trade graph, bounded at 3 hops, reporting min hops per
    reachable nation. The recursion's per-round dataflow is the same
    join+filter round PageRank unrolls by hand (extensions/graph.py) —
    here the ENGINE drives the fixed-point, proving the SQL front door
    covers iterative queries too.

    Scale: each round joins the frontier (≤|V| rows) to the edge list;
    the depth bound caps total work at 3 edge-list scans. The same
    text runs on DuckDB — a literal cross-engine SQL-parity check."""
    for t in ("lineitem", "orders", "customer", "supplier", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"{t}_r")
    return spark.sql(_RECURSIVE_SQL.format(sfx="_r"))


_LATERAL_SQL = """
SELECT seg.segment, top.o_orderkey, top.o_totalprice
FROM (SELECT DISTINCT c_mktsegment AS segment FROM customer{sfx}) seg,
LATERAL (
  SELECT o.o_orderkey, o.o_totalprice
  FROM orders{sfx} o JOIN customer{sfx} c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment = seg.segment
  ORDER BY o.o_totalprice DESC, o.o_orderkey
  LIMIT 2
) top
"""


@query("sql_lateral_topk", oracle=_LATERAL_SQL.format(sfx=""))
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: top-2 orders per market segment,
    deterministic tie-break on orderkey — the same SQL text runs on
    both engines. Catalyst decorrelates the LATERAL into a ranked
    window over one join (DomainJoin rewrite), so the declarative
    correlated form costs the same as the hand-written window idiom
    (window_rank) at any scale."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_lat")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_lat")
    return spark.sql(_LATERAL_SQL.format(sfx="_lat"))


@query(
    "sql_udf",
    oracle="""
    SELECT CASE WHEN c_acctbal < 0 THEN 'neg'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'high' END AS band,
           count(*) AS n,
           CAST(sum((CAST(round(c_acctbal * 100) AS BIGINT) * 107) // 100)
                AS BIGINT) AS adj_cents
    FROM customer
    GROUP BY 1
    """,
)
def sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language UDFs (Spark 4 `CREATE FUNCTION ... RETURN expr`):
    named scalar functions defined IN SQL, resolved by Catalyst like
    macros — the body inlines into the calling plan, so unlike Python
    UDFs they cost nothing (stay inside whole-stage codegen, no
    serialization boundary). The catalog surface a SQL-first team uses
    to share business logic (here: a banding rule and an integer-cents
    7% adjustment) without shipping Python.

    The oracle replays the expanded expressions — proving the UDF is
    pure sugar over the same semantics. Integer-cents arithmetic keeps
    the sum order-independent (house determinism contract)."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION bal_band(x DOUBLE) RETURNS STRING "
        "RETURN CASE WHEN x < 0 THEN 'neg' WHEN x < 5000 THEN 'mid' ELSE 'high' END"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION adj_cents(x DOUBLE) RETURNS BIGINT "
        "RETURN CAST(round(x * 100) AS BIGINT) * 107 div 100"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_udf_v")
    return spark.sql(
        """
        SELECT bal_band(c_acctbal) AS band,
               count(*) AS n,
               sum(adj_cents(c_acctbal)) AS adj_cents
        FROM customer_udf_v
        GROUP BY bal_band(c_acctbal)
        """
    )


@query(
    "sql_pipe",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(max(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty
    FROM lineitem
    WHERE l_quantity >= 30
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 `|>` operators): the linear
    FROM → WHERE → EXTEND → AGGREGATE → ORDER BY form that reads in
    execution order instead of inside-out — the modern SQL surface
    Spark 4 added (same feature family as BigQuery pipe SQL). Catalyst
    compiles pipes to the identical plan as the nested form, so every
    pushdown/partial-agg property is unchanged — proven by the oracle
    being the classic formulation of the same query.

    Revenue is per-row cents-quantized before the sum (house
    determinism contract: bigint accumulation, no double-sum drift)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_pipe_v")
    return spark.sql(
        """
        FROM lineitem_pipe_v
        |> WHERE l_quantity >= 30
        |> EXTEND CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
             AS rev_cents
        |> AGGREGATE count(*) AS n,
                     sum(rev_cents) AS revenue_cents,
                     max(CAST(l_quantity AS BIGINT)) AS max_qty
             GROUP BY l_returnflag
        |> ORDER BY l_returnflag
        """
    )


@query(
    "sql_variables",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM orders
    WHERE o_totalprice >= 150000 AND o_orderpriority = '1-URGENT'
    GROUP BY o_orderstatus
    """,
)
def sql_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL session variables + EXECUTE IMMEDIATE: thresholds
    are DECLAREd once, SET per run, and consumed both by direct
    reference (`WHERE col >= min_price`) and through a parameterized
    EXECUTE IMMEDIATE with a `?` placeholder — the scripting surface a
    SQL-first team uses instead of string-interpolating literals (and
    the injection-safe form of it).

    Catalyst folds the variable references to literals at analysis
    time, so the plan is identical to the hard-coded query — the
    oracle replays the expanded constants, proving the variable layer
    is pure binding, not semantics. Integer-cents sum keeps the hash
    order-independent."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_var_v")
    spark.sql("DECLARE OR REPLACE VARIABLE min_price DOUBLE DEFAULT 0.0")
    spark.sql("DECLARE OR REPLACE VARIABLE want_priority STRING DEFAULT ''")
    spark.sql("SET VAR min_price = 150000.0")
    spark.sql("SET VAR want_priority = '1-URGENT'")
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderstatus,
                  count(*) AS n,
                  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS sum_cents
           FROM orders_var_v
           WHERE o_totalprice >= min_price AND o_orderpriority = ?
           GROUP BY o_orderstatus'
          USING want_priority
        """
    )


@query(
    "sql_scripting",
    oracle="""
    WITH tot AS (SELECT count(*) AS total FROM orders),
    cand AS (SELECT 50000 * g AS t FROM generate_series(1, 100) s(g)),
    counts AS (
      SELECT t, (SELECT count(*) FROM orders WHERE o_totalprice > t) AS n
      FROM cand
    )
    SELECT CAST(t AS BIGINT) AS threshold, n AS n_above, total AS n_total
    FROM counts, tot
    WHERE n * 10 <= total
    ORDER BY t LIMIT 1
    """,
)
def sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.1 SQL scripting (BEGIN…END, DECLARE, WHILE, SET with
    scalar-subquery assignment): a procedural threshold search — walk
    price cutoffs in 50k steps until at most 10% of orders exceed the
    cutoff — written entirely in SQL control flow, the stored-procedure
    style the reference's bash drivers embed in psql/sqlcmd heredocs
    (/root/reference/backup.sh's SQL blocks are exactly this shape).

    Each loop iteration is a full Catalyst query; the script layer only
    sequences them and carries scalar state. The DuckDB oracle replays
    the search declaratively (generate_series of candidate cutoffs +
    ORDER BY/LIMIT), proving the procedural and set-based forms agree."""
    spark.conf.set("spark.sql.scripting.enabled", "true")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_script_v")
    return spark.sql(
        """
        BEGIN
          DECLARE t DOUBLE DEFAULT 0;
          DECLARE n BIGINT DEFAULT -1;
          DECLARE total BIGINT DEFAULT 0;
          SET total = (SELECT count(*) FROM orders_script_v);
          WHILE n < 0 OR n * 10 > total DO
            SET t = t + 50000;
            SET n = (SELECT count(*) FROM orders_script_v WHERE o_totalprice > t);
          END WHILE;
          SELECT CAST(t AS BIGINT) AS threshold, n AS n_above, total AS n_total;
        END
        """
    )


_GBALL_SQL = """
SELECT l_returnflag,
       l_linestatus,
       CAST(year(l_shipdate) AS INT) AS ship_year,
       count(*) AS n_rows,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
FROM lineitem{sfx}
GROUP BY ALL
ORDER BY ALL
"""


@query("sql_group_by_all", oracle=_GBALL_SQL.format(sfx=""))
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (Spark 3.4+/4, DuckDB): the modern
    analyst shorthand — every non-aggregate select item becomes a
    grouping key, and the result orders by the full column list. The
    same SQL text runs on both engines (literal dialect-parity check,
    like sql_recursive_reach), proving the engine's SQL front door
    tracks current ANSI-adjacent surface, not just classic SQL-92.

    Plan-wise this is an ordinary partial-aggregable hash aggregate;
    ORDER BY ALL adds one bounded sort over |flags|×|status|×|years|
    aggregated rows."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gba")
    return spark.sql(_GBALL_SQL.format(sfx="_gba"))
