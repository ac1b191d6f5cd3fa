"""D14/D15/D16 — sort+limit (top-k), distinct, set operations.

Reference parity: B5 last-row limit (`tail -1`
/root/reference/backup.sh:143) → ORDER BY … LIMIT; D15 mirrors the
restore-list dedup idea (/root/reference/backup.sh:374).

Scale notes: top-k is planned as TakeOrderedAndProject — each partition
keeps only k rows, the driver merges #partitions·k rows; never a global
sort. Ties are broken on a unique key so the selected row *set* is
deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_scripts_spark.catalog import load_table
from datapipeline_scripts_spark.registry import query


@query(
    "topk",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 orders by price (deterministic tie-break on orderkey)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))
    )


@query(
    "dedup_exact",
    oracle="""
    SELECT DISTINCT o_orderstatus, o_orderpriority
    FROM orders
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct (hash-aggregate dedup) on two columns."""
    return load_table(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


@query(
    "set_union",
    oracle="""
    SELECT c_nationkey AS nationkey, 'customer' AS side FROM customer
    UNION ALL
    SELECT s_nationkey AS nationkey, 'supplier' AS side FROM supplier
    """,
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag union; no shuffle — partitions are concatenated)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("side")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("side")
    )
    return c.unionAll(s)


@query(
    "set_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics): nations having both customers and
    suppliers."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "set_intersect_all",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT ALL
    SELECT s_nationkey FROM supplier
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag semantics — multiplicity = min of the sides)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersectAll(s)


@query(
    "set_except_all",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT ALL
    SELECT s_nationkey FROM supplier
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag semantics — multiplicity = left minus right)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.exceptAll(s)


@query(
    "set_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct semantics): nations with customers but no
    suppliers."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


@query(
    "transpose_metrics",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT 'n' AS key,
           CAST(max(CASE WHEN l_returnflag = 'A' THEN n END) AS BIGINT) AS A,
           CAST(max(CASE WHEN l_returnflag = 'N' THEN n END) AS BIGINT) AS N,
           CAST(max(CASE WHEN l_returnflag = 'R' THEN n END) AS BIGINT) AS R
    FROM m
    UNION ALL
    SELECT 'sum_qty',
           CAST(max(CASE WHEN l_returnflag = 'A' THEN sum_qty END) AS BIGINT),
           CAST(max(CASE WHEN l_returnflag = 'N' THEN sum_qty END) AS BIGINT),
           CAST(max(CASE WHEN l_returnflag = 'R' THEN sum_qty END) AS BIGINT)
    FROM m
    UNION ALL
    SELECT 'cents',
           CAST(max(CASE WHEN l_returnflag = 'A' THEN cents END) AS BIGINT),
           CAST(max(CASE WHEN l_returnflag = 'N' THEN cents END) AS BIGINT),
           CAST(max(CASE WHEN l_returnflag = 'R' THEN cents END) AS BIGINT)
    FROM m
    """,
)
def transpose_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`DataFrame.transpose` (Spark 4): rows↔columns flip with the
    former key column's VALUES becoming column names — the
    metrics-report shape (one row per metric, one column per segment)
    produced natively instead of via N stacked pivots. The oracle is
    the classic conditional-aggregation UNION, proving transpose is
    sugar over the same semantics.

    Scale: transpose collects the (already aggregated) frame to derive
    the new schema — use strictly AFTER reduction to report-sized data
    (here 3×4), never on raw rows; the heavy lifting stays in the
    distributed aggregate below it."""
    li = load_table(spark, sf_dir, "lineitem")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents"),
    )
    # transpose keys on the first column; metric names become the new
    # first column named 'key' after rename
    flipped = m.transpose("l_returnflag")
    return flipped.withColumnRenamed(flipped.columns[0], "key")
