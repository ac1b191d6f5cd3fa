"""Association / co-occurrence mining over the order fact — the
market-basket shape (support / lift of item pairs bought together).

The reference delegates all analytics to the SQL engines it drives
(/root/reference/backup.sh:118-121 arbitrary `-Q` T-SQL); pair
co-occurrence with support/lift is the canonical "SQL the analysts
run on the restored warehouse" workload, and in an LLM-data context
the identical shape powers tag/source co-occurrence matrices
(dedup_cross_source is the two-table variant; this is the
within-basket variant).

Scale design: the pair generator is a self-join on the basket key
(l_orderkey) AFTER collapsing to distinct (order, brand) — fanout per
order is bounded by the per-basket distinct-item count (≤ C(7,2)=21
pairs per fixture order, and capped baskets are the standard
production mitigation), so candidate volume is O(orders), never
O(items²). All stats are exact integer basis points.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_scripts_spark.catalog import load_table
from datapipeline_scripts_spark.registry import query

_BASKET_ORACLE = """
WITH ob AS (
  SELECT DISTINCT l_orderkey AS o, p_brand AS b
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_orders FROM orders),
bo AS (SELECT b, CAST(count(*) AS BIGINT) AS n_b FROM ob GROUP BY b),
pairs AS (
  SELECT x.b AS brand_a, y.b AS brand_b, CAST(count(*) AS BIGINT) AS n_ab
  FROM ob x JOIN ob y ON x.o = y.o AND x.b < y.b
  GROUP BY x.b, y.b
)
SELECT brand_a, brand_b, n_ab,
       CAST((10000 * n_ab) // n_orders AS BIGINT) AS support_bp,
       CAST((10000 * n_ab * n_orders) // (a.n_b * b.n_b) AS BIGINT) AS lift_bp
FROM pairs
JOIN bo a ON a.b = brand_a
JOIN bo b ON b.b = brand_b
CROSS JOIN n
ORDER BY n_ab DESC, brand_a, brand_b
LIMIT 25
"""


@query("orders_market_basket", oracle=_BASKET_ORACLE)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 brand pairs by basket co-occurrence with exact
    support and lift in basis points (lift = n_ab·N / (n_a·n_b),
    integer floor division both engines).

    The self-join runs on the distinct (order, brand) table — one
    hash shuffle on the basket key, per-key fanout bounded by basket
    width; brand marginals and the order count are kilobyte
    broadcasts; top-25 is TakeOrdered with a full deterministic
    tie-break, no global sort."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
    )
    n = load_table(spark, sf_dir, "orders").agg(
        F.count("*").cast("long").alias("n_orders")
    )
    bo = ob.groupBy("b").agg(F.count("*").cast("long").alias("n_b"))
    x, y = ob.alias("x"), ob.alias("y")
    pairs = (
        x.join(y, (F.col("x.o") == F.col("y.o")) & (F.col("x.b") < F.col("y.b")))
        .groupBy(F.col("x.b").alias("brand_a"), F.col("y.b").alias("brand_b"))
        .agg(F.count("*").cast("long").alias("n_ab"))
    )
    a_m = bo.select(F.col("b").alias("brand_a"), F.col("n_b").alias("n_a"))
    b_m = bo.select(F.col("b").alias("brand_b"), F.col("n_b").alias("n_bb"))
    return (
        pairs.join(F.broadcast(a_m), "brand_a")
        .join(F.broadcast(b_m), "brand_b")
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            F.expr("CAST((10000 * n_ab) div n_orders AS BIGINT)").alias("support_bp"),
            F.expr(
                "CAST((10000 * n_ab * n_orders) div (n_a * n_bb) AS BIGINT)"
            ).alias("lift_bp"),
        )
        .orderBy(F.col("n_ab").desc(), "brand_a", "brand_b")
        .limit(25)
    )
