"""Classic TPC-H query shapes (Q3/Q19 analogues on the fixture star
schema) — composite workloads exercising multi-join + selective filter
+ aggregate + top-k in the combinations the benchmark made canonical.

These complement the per-operator catalog: a user of the reference's
delegated SQL engines runs queries shaped like these, not isolated
operators (SURVEY §2.C).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_scripts_spark.catalog import load_table
from datapipeline_scripts_spark.registry import query


@query(
    "tpch_q3_shape",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1999-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1999-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 'shipping priority': top-10 open-revenue orders for one
    segment. Plan: broadcast filtered customer, shuffle join
    orders⋈lineitem, partial-agg before the exchange, TakeOrdered for
    the top-k. Filters on both fact scans push to parquet."""
    cutoff = F.lit("1999-03-15 00:00:00").cast("timestamp")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "tpch_q7_shape",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 2) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
            OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
          AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                             AND TIMESTAMP '1998-12-31 00:00:00'
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 'volume shipping': revenue flowing between two nations by
    ship year. Plan: both nation dims and their joined supplier /
    customer subsets broadcast (tiny), so lineitem⋈orders is the only
    shuffle; the two-nation disjunction is applied after the dim joins
    because it references both sides. Date filter pushes to the
    lineitem scan."""
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1998-12-31 00:00:00").cast("timestamp")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate").between(lo, hi))
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s.join(F.broadcast(n1), s.s_nationkey == n1.n1_key)),
              li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c.join(F.broadcast(n2), c.c_nationkey == n2.n2_key)),
              o.o_custkey == c.c_custkey)
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "tpch_q4_shape",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def tpch_q4_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 'order priority checking': orders in one quarter with at least
    one line shipped after the order date (the fixture lacks
    l_commitdate/l_receiptdate, so late-shipment stands in for the
    reference's commit<receipt predicate — same correlated-EXISTS
    shape). The EXISTS becomes a LeftSemi join that deduplicates
    lineitem matches before the aggregation — no row explosion for
    multi-line orders; the quarter filter pushes to the orders scan."""
    lo = F.lit("1997-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1997-04-01 00:00:00").cast("timestamp")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "tpch_q18_shape",
    oracle="""
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 150
    )
    SELECT c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_totalprice,
           round(sum_qty, 2) AS sum_qty
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
             sum(l_quantity) AS sum_qty
      FROM orders
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderkey IN (SELECT l_orderkey FROM big)
      GROUP BY 1, 2, 3, 4
    )
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def tpch_q18_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 'large-volume customers': orders whose total quantity exceeds
    a threshold, with customer context. The IN-subquery over an
    aggregate becomes aggregate→semi-join: lineitem is aggregated once
    on l_orderkey (partial agg map-side), the HAVING filter shrinks it
    to a sliver, and that sliver semi-joins orders before the detail
    re-join — the fact table is never joined at full width to itself."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    o = load_table(spark, sf_dir, "orders").join(
        big.select("l_orderkey"), F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    detail = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("sum_qty"))
    )
    return (
        detail.join(c, detail.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            F.round("sum_qty", 2).alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@query(
    "tpch_q13_shape",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def tpch_q13_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 'customer distribution': orders-per-customer histogram
    including zero-order customers (the left join is the point — an
    inner join loses them). Double aggregation: the first groupBy
    shuffles on c_custkey, the second on the (tiny-cardinality)
    c_count; the reference's Q13 uses o_comment NOT LIKE, which the
    fixture schema lacks, so the join-side residual predicate is an
    o_orderpriority filter — same shape (predicate in the LEFT JOIN's
    ON, not WHERE, so unmatched customers survive)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    return (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "tpch_q19_shape",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#13' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 25)
       OR (p_brand = 'Brand#19' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 30)
    """,
)
def tpch_q19_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 'discounted revenue': disjunction of conjunctive predicates
    across both join sides. The per-side conjuncts can't be pushed
    below the join (they reference both tables), but the broadcast of
    part keeps lineitem unshuffled; Catalyst extracts the common
    p_partkey join key from the OR."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    pred = (
        (F.col("p_brand") == "Brand#13")
        & F.col("l_quantity").between(1, 11)
        & F.col("p_size").between(1, 25)
    ) | (
        (F.col("p_brand") == "Brand#19")
        & F.col("l_quantity").between(10, 20)
        & F.col("p_size").between(1, 30)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(pred)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "tpch_q5_shape",
    oracle="""
    SELECT n_name,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE)
             AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def tpch_q5_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 'local supplier volume': revenue per nation where the customer
    and supplier share the nation, restricted to one region and year.
    Plan: region→nation→supplier collapse into one broadcast; customer
    broadcasts too, so lineitem⋈orders is the only shuffle and the
    c_nationkey = s_nationkey 'local' predicate is a post-broadcast
    filter. Money math in DECIMAL end-to-end (exact, summation-order
    independent), rounded then cast to double on both sides."""
    lo = F.lit("1997-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1998-01-01 00:00:00").cast("timestamp")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@query(
    "tpch_q6_shape",
    oracle="""
    SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE)
             AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 'forecasting revenue change': pure scan→filter→global agg, no
    join — the canonical predicate-pushdown probe. All three filters
    reach the parquet scan (PushedFilters); the aggregate is a single
    partial+final pair over a one-row-per-partition exchange."""
    lo = F.lit("1997-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1998-01-01 00:00:00").cast("timestamp")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo)
        & (F.col("l_shipdate") < hi)
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * F.col("l_discount").cast("decimal(4,2)")
    return li.agg(
        F.round(F.sum(rev), 2).cast("double").alias("revenue"),
        F.count("*").alias("n_lines"),
    )


@query(
    "tpch_q10_shape",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS sum_rev
      FROM orders
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
      GROUP BY o_custkey
    )
    SELECT c_custkey, c_name,
           CAST(round(sum_rev, 2) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM rev
    JOIN customer ON c_custkey = o_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    ORDER BY sum_rev DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 'returned item reporting': top-20 customers by revenue lost
    to returns in one quarter. Revenue is aggregated per custkey BEFORE
    joining customer/nation context (aggregate-below-join: the detail
    join output never carries customer attributes), and the top-k
    orders by the EXACT decimal sum with a custkey tie-break — ordering
    by a rounded double would make the frontier ULP-sensitive."""
    lo = F.lit("1997-07-01 00:00:00").cast("timestamp")
    hi = F.lit("1997-10-01 00:00:00").cast("timestamp")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    per_cust = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(rev).alias("sum_rev"))
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        per_cust.join(F.broadcast(c), per_cust.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .orderBy(F.col("sum_rev").desc(), F.col("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.round("sum_rev", 2).cast("double").alias("revenue"),
            "c_acctbal",
            "n_name",
        )
    )


@query(
    "tpch_q12_shape",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def tpch_q12_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 'shipping modes and order priority': conditional two-way
    counts after a fact⋈fact join (the fixture lacks l_shipmode, so
    l_linestatus stands in for the mode grouping — same shape: join,
    CASE-split counts, tiny output). The year filter pushes to the
    lineitem scan and prunes the orders side through the join."""
    lo = F.lit("1997-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1998-01-01 00:00:00").cast("timestamp")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    ).select("l_orderkey", "l_linestatus")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "tpch_q14_shape",
    oracle="""
    WITH sums AS (
      SELECT sum(CASE WHEN p_type = 'PROMO'
                      THEN CAST(l_extendedprice AS DECIMAL(18,2))
                           * (1 - CAST(l_discount AS DECIMAL(4,2)))
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS promo_rev,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS total_rev
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
    )
    SELECT CAST(round(100.0 * CAST(promo_rev AS DOUBLE)
                      / CAST(total_rev AS DOUBLE), 4) AS DOUBLE)
             AS promo_revenue_pct,
           CAST(round(promo_rev, 2) AS DOUBLE) AS promo_rev,
           CAST(round(total_rev, 2) AS DOUBLE) AS total_rev
    FROM sums
    """,
)
def tpch_q14_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 'promotion effect': share of one month's revenue from promo
    parts. Both numerator and denominator accumulate as EXACT decimals
    in one pass (conditional sum, no second scan); the ratio is then a
    single double division — deterministic across engines, unlike a
    ratio of independently-rounded double sums."""
    lo = F.lit("1997-06-01 00:00:00").cast("timestamp")
    hi = F.lit("1997-07-01 00:00:00").cast("timestamp")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,2)"))
    sums = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(F.sum(promo).alias("promo_rev"), F.sum(rev).alias("total_rev"))
    )
    pct = F.round(
        F.lit(100.0) * F.col("promo_rev").cast("double") / F.col("total_rev").cast("double"), 4
    )
    return sums.select(
        pct.cast("double").alias("promo_revenue_pct"),
        F.round("promo_rev", 2).cast("double").alias("promo_rev"),
        F.round("total_rev", 2).cast("double").alias("total_rev"),
    )


@query(
    "tpch_q16_shape",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#13'
      AND p_size IN (1, 5, 10, 15, 20, 25)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def tpch_q16_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 'parts/supplier relationship': distinct suppliers per part
    class, excluding a NOT-IN blocklist (negative-balance suppliers
    stand in for the reference's complaints predicate; the fixture has
    no partsupp, so lineitem provides the part↔supplier pairs — same
    shape). Catalyst plans the NOT IN as an anti join (null-aware when
    the key is nullable; plain broadcast LeftAnti here), and the
    count(DISTINCT) aggregates in two stages over the (brand, type,
    size, suppkey) expansion."""
    return spark.sql(
        """
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM {lineitem}
        JOIN {part} ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#13'
          AND p_size IN (1, 5, 10, 15, 20, 25)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM {supplier}
                                WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        """,
        lineitem=load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey"),
        part=load_table(spark, sf_dir, "part"),
        supplier=load_table(spark, sf_dir, "supplier"),
    )


@query(
    "tpch_q2_shape",
    oracle="""
    WITH cost AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY 1, 2
    ),
    eur AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    cand AS (
      SELECT p_partkey, p_type, s_suppkey, s_name, s_acctbal, n_name, unit_cost
      FROM cost
      JOIN part ON p_partkey = partkey
      JOIN eur  ON s_suppkey = suppkey
      WHERE p_size = 15 AND p_type = 'PROMO'
    ),
    best AS (SELECT p_partkey, min(unit_cost) AS best_cost FROM cand GROUP BY 1)
    SELECT c.s_acctbal, c.s_name, c.n_name, c.p_partkey,
           round(c.unit_cost, 2) AS unit_cost
    FROM cand c JOIN best b
      ON c.p_partkey = b.p_partkey AND c.unit_cost = b.best_cost
    ORDER BY c.s_acctbal DESC, c.s_suppkey, c.p_partkey
    LIMIT 20
    """,
)
def tpch_q2_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 'minimum cost supplier': for each qualifying part, the
    EUROPE suppliers achieving the per-part minimum unit cost — the
    correlated-min-subquery shape. The fixture has no partsupp, so
    supply cost is derived as min(l_extendedprice/l_quantity) per
    (part, supplier) — IEEE division is bit-deterministic, so the
    equality join against the per-part min selects the identical row
    set in both engines.

    Plan: one lineitem aggregation (partial before exchange), dims
    broadcast, per-part min re-joined by equality — no correlated
    re-execution per row, which is the entire point of decorrelating
    Q2 on a distributed engine."""
    li = load_table(spark, sf_dir, "lineitem")
    cost = (
        li.groupBy(F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey"))
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    p = load_table(spark, sf_dir, "part").filter((F.col("p_size") == 15) & (F.col("p_type") == "PROMO"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eur = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cand = (
        cost.join(F.broadcast(p), cost.partkey == p.p_partkey)
        .join(eur, cost.suppkey == eur.s_suppkey)
        .select("p_partkey", "s_suppkey", "s_name", "s_acctbal", "n_name", "unit_cost")
        .localCheckpoint()  # shared by the per-part min and the equality probe
    )
    best = cand.groupBy("p_partkey").agg(F.min("unit_cost").alias("best_cost"))
    return (
        cand.join(best, "p_partkey")
        .filter(F.col("unit_cost") == F.col("best_cost"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", F.round("unit_cost", 2).alias("unit_cost"),
            "s_suppkey",
        )
        .orderBy(F.col("s_acctbal").desc(), "s_suppkey", "p_partkey")
        .limit(20)
        .drop("s_suppkey")
    )


@query(
    "tpch_q8_shape",
    oracle="""
    SELECT l_year,
           round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume), 4) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume,
             sn.n_name AS supp_nation
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region cr ON cn.n_regionkey = cr.r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE cr.r_name = 'EUROPE'
        AND o_orderdate BETWEEN TIMESTAMP '1998-01-01 00:00:00'
                            AND TIMESTAMP '1999-12-31 00:00:00'
    )
    GROUP BY l_year
    ORDER BY l_year
    """,
)
def tpch_q8_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 'national market share': NATION_3 suppliers' share of EUROPE
    customers' order volume per year — the conditional-share-of-total
    aggregate over a 6-way star. All dims broadcast; the only shuffle
    is the final per-year aggregate, and both the numerator and
    denominator come out of ONE pass (conditional sum), not two scans."""
    lo = F.lit("1998-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1999-12-31 00:00:00").cast("timestamp")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate").between(lo, hi))
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    df = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == r.r_regionkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .select(F.year("o_orderdate").alias("l_year"), vol.alias("volume"), "supp_nation")
    )
    num = F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(F.lit(0.0)))
    return (
        df.groupBy("l_year")
        .agg(F.round(num / F.sum("volume"), 4).alias("mkt_share"))
        .orderBy("l_year")
    )


@query(
    "tpch_q9_shape",
    oracle="""
    SELECT nation, o_year,
           CAST(round(sum(CAST(amount AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_profit
    FROM (
      SELECT sn.n_name AS nation,
             year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount)
               - 0.6 * p_retailprice * l_quantity AS amount
      FROM lineitem
      JOIN part     ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE p_type = 'PROMO'
    )
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def tpch_q9_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 'product type profit': revenue minus derived supply cost
    (0.6 × retail price × quantity stands in for ps_supplycost — the
    fixture has no partsupp) per supplier nation per year. The part
    filter prunes the fact scan through the join; nation broadcast;
    one aggregate exchange on (nation, year)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    sn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
    )
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .select("nation", F.year("o_orderdate").alias("o_year"), amount.alias("amount"))
        .groupBy("nation", "o_year")
        # per-row decimal quantization before the sum: the double amount
        # is bit-identical per row across engines, but a double SUM is
        # summation-order sensitive (1-cent drift seen at sf0.1);
        # decimal accumulation is exact, so the hash can't drift
        .agg(F.round(F.sum(F.col("amount").cast("decimal(18,4)")), 2).cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@query(
    "tpch_q11_shape",
    oracle="""
    WITH asia AS (
      SELECT s_suppkey FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
    ),
    val AS (
      SELECT l_partkey AS p_key, sum(l_extendedprice) AS value
      FROM lineitem JOIN asia ON l_suppkey = s_suppkey
      GROUP BY 1
    )
    SELECT p_key AS p_partkey, round(value, 2) AS value
    FROM val
    WHERE value * 1000 > (SELECT sum(value) FROM val)
    ORDER BY value DESC, p_partkey
    """,
)
def tpch_q11_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 'important stock': parts whose ASIA-supplied value exceeds
    0.1% of the total — the group-HAVING-against-global-scalar shape.
    The per-part aggregate is computed ONCE and reused for both the
    rows and the scalar total (no second scan); the scalar side
    broadcasts into the filter."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    val = (
        li.join(F.broadcast(asia), li.l_suppkey == asia.s_suppkey)
        .groupBy(F.col("l_partkey").alias("p_key"))
        .agg(F.sum("l_extendedprice").alias("value"))
        # materialize: both the row set and the scalar total read this
        # table; without it Catalyst re-executes the whole join+agg
        # subtree (and re-scans lineitem) for each consumer
        .localCheckpoint()
    )
    total = val.agg(F.sum("value").alias("total"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("value") * 1000 > F.col("total"))
        .select(F.col("p_key").alias("p_partkey"), F.round("value", 2).alias("value"))
        .orderBy(F.col("value").desc(), "p_partkey")
    )


@query(
    "tpch_q15_shape",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS suppkey,
             sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                      AS BIGINT)) AS rev_1e4
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1999-04-01 00:00:00'
      GROUP BY 1
    )
    SELECT s_suppkey, s_name,
           round(CAST(rev_1e4 AS DOUBLE) / 10000, 2) AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = suppkey
    WHERE rev_1e4 = (SELECT max(rev_1e4) FROM rev)
    ORDER BY s_suppkey
    """,
)
def tpch_q15_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 'top supplier': supplier(s) achieving the maximum quarterly
    revenue — the aggregate-view + scalar-max shape. The revenue view
    is computed once; the max broadcasts back as a filter; supplier is
    a broadcast dim. Equality against the max is within-engine exact
    (both sides come from the same aggregation output)."""
    lo = F.lit("1999-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1999-04-01 00:00:00").cast("timestamp")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    # revenue in exact 1e-4-dollar integer units: "= max" over double
    # sums is engine-order-dependent once true revenues tie (the 10x
    # scale proxy surfaced different tie SETS per engine) — the bigint
    # makes the tie set identical everywhere; display divides at the end
    rev = (
        li.groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("long")
            ).alias("rev_1e4")
        )
        .localCheckpoint()  # shared by the row set and the scalar max
    )
    mx = rev.agg(F.max("rev_1e4").alias("mx"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("rev_1e4") == F.col("mx"))
        .join(F.broadcast(s), F.col("suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("rev_1e4").cast("double") / 10000, 2).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@query(
    "tpch_q17_shape",
    oracle="""
    WITH stats AS (
      SELECT l_partkey AS p_key,
             sum(l_quantity) AS sum_qty,
             count(*) AS cnt
      FROM lineitem GROUP BY 1
    )
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem
    JOIN part  ON l_partkey = p_partkey
    JOIN stats ON l_partkey = p_key
    WHERE p_brand = 'Brand#2'
      AND l_quantity * cnt * 5 < sum_qty
    """,
)
def tpch_q17_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 'small-quantity-order revenue': lines of one brand whose
    quantity is below 20% of the part's average — the correlated-AVG
    subquery decorrelated into one per-part aggregate re-joined to the
    fact. The avg comparison is algebraically rearranged to
    `5 * qty * cnt < sum_qty`: quantities are integral, so both sides
    are exact in doubles and the row set cannot flip on engine-specific
    division rounding. One lineitem aggregation + one broadcast part
    dim; no per-row subquery re-execution."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
    stats = li.groupBy(F.col("l_partkey").alias("p_key")).agg(
        F.sum("l_quantity").alias("sum_qty"), F.count("*").alias("cnt")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(stats, li.l_partkey == stats.p_key)
        .filter(F.col("l_quantity") * F.col("cnt") * 5 < F.col("sum_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "tpch_q20_shape",
    oracle="""
    WITH promo_parts AS (SELECT p_partkey FROM part WHERE p_type = 'PROMO'),
    heavy AS (
      SELECT l_suppkey
      FROM lineitem JOIN promo_parts ON l_partkey = p_partkey
      WHERE year(l_shipdate) = 1999
      GROUP BY 1
      HAVING sum(l_quantity) > 50
    )
    SELECT s_suppkey, s_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'AFRICA'
      AND s_suppkey IN (SELECT l_suppkey FROM heavy)
    ORDER BY s_suppkey
    """,
)
def tpch_q20_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 'potential part promotion': AFRICA suppliers who shipped a
    meaningful volume of promo parts this year — the nested-semi-join
    chain (part filter semi-joins lineitem, the HAVING aggregate
    semi-joins supplier). Quantity sums are integral-exact; every join
    is an equi-join with the small sides broadcast."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").filter(F.year("l_shipdate") == 1999)
    heavy = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 50)
        .select("l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AFRICA")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@query(
    "tpch_q22_shape",
    oracle="""
    WITH rich AS (
      SELECT c_custkey, c_nationkey % 5 AS cohort, c_acctbal
      FROM customer
      WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
    )
    SELECT cohort, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
    FROM rich
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY cohort
    ORDER BY cohort
    """,
)
def tpch_q22_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 'global sales opportunity': above-average-balance customers
    with no RECENT orders (none since 2000), grouped into cohorts —
    scalar-subquery filter +
    anti join + aggregate in one plan. The anti join shuffles on the
    customer key (or broadcasts the distinct order keys); the scalar
    avg broadcasts into the predicate."""
    c = load_table(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy((F.col("c_nationkey") % 5).alias("cohort"))
        .agg(F.count("*").alias("numcust"), F.round(F.sum("c_acctbal"), 2).alias("totacctbal"))
        .orderBy("cohort")
    )


@query(
    "tpch_q1_shape",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 10000) AS BIGINT)) AS BIGINT)
             AS sum_base_price_c4,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                         AS BIGINT)) AS BIGINT) AS sum_disc_price_c4,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                               * 10000) AS BIGINT)) AS BIGINT) AS sum_charge_c4,
           CAST((100 * CAST(sum(l_quantity) AS BIGINT)) // count(*) AS BIGINT)
             AS avg_qty_c,
           CAST(sum(CAST(round(l_discount * 10000) AS BIGINT)) // count(*) AS BIGINT)
             AS avg_disc_bp,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 'pricing summary report' — THE canonical scan-heavy
    aggregate: one pass over lineitem below a ship-date cutoff, six
    aggregates per (returnflag, linestatus). Completes the repo's
    TPC-H sweep (q1-q22 all declared).

    Determinism contract (memory of the q9 1-cent drift): money sums
    are per-row round(expr·10⁴)→bigint — the double expr is
    bit-identical across engines, round() agrees everywhere including
    exact halves (Java HALF_UP ≡ C++ half-away for same-sign), and
    bigint addition is order-independent, so shuffle-merge order can't
    flip a cent. (The DECIMAL(18,4)-cast route q9 uses was observed to
    diverge half-a-cent here on the 3-factor product — engine decimal
    casts round the double differently in the last place.) Averages
    are integer fixed-point (qty hundredths, discount basis points).

    Plan: filter pushed to parquet, partial agg (map-side combine)
    before one 6-group exchange — the textbook 100 TB shape; the sort
    is on 6 rows."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-01 00:00:00").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.sum(F.round(F.col("l_extendedprice") * 10000).cast("long")).alias(
                "sum_base_price_c4"
            ),
            F.sum(F.round(disc_price * 10000).cast("long")).alias("sum_disc_price_c4"),
            F.sum(F.round(charge * 10000).cast("long")).alias("sum_charge_c4"),
            F.count("*").alias("count_order"),
            F.sum(F.round(F.col("l_discount") * 10000).cast("long")).alias("_disc_bp_sum"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            "sum_base_price_c4",
            "sum_disc_price_c4",
            "sum_charge_c4",
            F.expr("(100 * sum_qty) div count_order").alias("avg_qty_c"),
            F.expr("_disc_bp_sum div count_order").alias("avg_disc_bp"),
            "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "tpch_q21_shape",
    oracle="""
    WITH l1 AS (
      SELECT l_orderkey, l_suppkey, o_orderdate
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
        AND l_shipdate > o_orderdate + INTERVAL 90 DAY
    )
    SELECT s.s_name, count(*) AS numwait
    FROM l1
    JOIN supplier s ON l1.l_suppkey = s.s_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.o_orderdate + INTERVAL 90 DAY)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 10
    """,
)
def tpch_q21_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 'suppliers who kept orders waiting' — the hardest TPC-H
    shape: one fact table correlated three ways (base + EXISTS +
    NOT EXISTS) on the same key with inequality side-conditions. The
    fixture has no commit/receipt dates, so 'late' is shipdate more
    than 90 days after the order date — same plan shape, checkable
    data.

    A supplier 'kept an order waiting' if it shipped late on a
    finished multi-supplier order where EVERY OTHER supplier shipped
    on time: semi-join (another supplier exists) + anti-join (no other
    late supplier), both on l_orderkey with a l_suppkey<> residual.

    Plan: the late set is computed once; Spark plans both correlations
    as shuffled semi/anti hash joins on l_orderkey (no cartesian —
    the <> is a post-join residual, asserted in test_plans), then a
    broadcast supplier lookup and a 10-row TakeOrdered."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    late90 = F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")

    l1 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > late90)
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    l2 = li.select(F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2"))
    l3 = li.select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3"), "l_shipdate"
    )
    waiting = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("k2")) & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        ).join(
            l3,
            (F.col("l_orderkey") == F.col("k3"))
            & (F.col("l_suppkey") != F.col("s3"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(s), waiting.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )
