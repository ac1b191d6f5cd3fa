"""D9-D13, D20 — the join catalog.

Scale notes (these matter more than anything else at 100 TB):
- Dimension sides (region/nation/supplier/customer at low SF) are
  explicitly `F.broadcast(...)` — the fact table never shuffles for them.
- The star join chains broadcasts so lineitem is scanned once with zero
  exchanges until the final aggregation.
- The band join is implemented as a *bucketized equi join* (join on a
  derived band key ± 1, then exact filter) — the scale-safe rewrite of a
  naive theta join that would otherwise be a broadcast-nested-loop over
  the full cross product.
- The as-of-style range join keeps an equality component so Spark plans
  a hash join with a post-filter, never a cartesian product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_scripts_spark.catalog import load_table
from datapipeline_scripts_spark.registry import query


@query(
    "join_inner",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast inner equi-join orders⋈customer → revenue per segment."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


@query(
    "join_outer",
    oracle="""
    SELECT c_custkey,
           count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 2) AS revenue
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping order-less customers (count = 0)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("revenue"),
        )
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers with at least one big order (EXISTS)."""
    c = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi").select("c_custkey", "c_mktsegment")


@query(
    "join_anti",
    oracle="""
    SELECT o_orderkey, o_orderstatus
    FROM orders
    WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: orders with no lineitems (NOT EXISTS)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return o.join(li, o.o_orderkey == li.l_orderkey, "left_anti").select("o_orderkey", "o_orderstatus")


@query(
    "join_star",
    oracle="""
    SELECT n_name,
           round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                              AS BIGINT)) AS DOUBLE) / 10000, 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-style 5-way star join, revenue per Asian nation.

    Join order is chosen for early reduction: the tiny nation⋈region
    (ASIA) closure broadcasts into customer first, shrinking customers
    ~5× map-side; orders (date-filtered) then joins that reduced dim,
    so the selective region/date predicates prune BEFORE lineitem —
    the fact table — ever shuffles. Joining lineitem⋈orders first
    (the naive order) ships 4/5 dead rows through the big exchange at
    scale. customer is deliberately NOT hint-broadcast: it is
    mid-sized at warehouse scale; AQE broadcasts the reduced
    orders-side at small SF and falls back to shuffle join when it
    outgrows the threshold."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dim = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name")
    )
    o_red = o.join(dim, o.o_custkey == dim.c_custkey).select("o_orderkey", "n_name")
    # revenue accumulates in exact 1e-4-dollar integer units (price has
    # 2 dp, discount 2 dp → the product is exact at 4 dp): a plain double
    # sum diverges across engines' addend orders at 0.005 boundaries once
    # the group is big enough (first seen at the 6M-row scale proxy —
    # docs/SCALE_EXPERIMENT.md); the final display value divides the
    # identical bigint on both engines, so rounding agrees bit-for-bit
    return (
        li.join(o_red, li.l_orderkey == o_red.o_orderkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("long")
                ).cast("double")
                / 10000,
                2,
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "join_range",
    oracle="""
    SELECT o_orderkey,
           count(*) AS n_fast_lines
    FROM orders JOIN lineitem
      ON l_orderkey = o_orderkey
     AND l_shipdate <= o_orderdate + INTERVAL 45 DAY
    GROUP BY o_orderkey
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range join: lineitems shipped within 45 days of the order.

    The equality on orderkey keeps this a hash/sort-merge join; the range
    predicate evaluates as a cheap post-join filter — never a cartesian."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate <= o.o_orderdate + F.expr("INTERVAL 45 DAYS")
    )
    return o.join(li, cond).groupBy("o_orderkey").agg(F.count("*").alias("n_fast_lines"))


@query(
    "join_band",
    oracle="""
    SELECT a.p_partkey AS part_a,
           b.p_partkey AS part_b,
           round(abs(a.p_retailprice - b.p_retailprice), 2) AS price_gap
    FROM part a JOIN part b
      ON a.p_partkey < b.p_partkey
     AND abs(a.p_retailprice - b.p_retailprice) < 0.5
    """,
)
def join_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded theta self-join (parts within 50 cents of each other),
    implemented scale-first: equi-join on a derived price band (width =
    the predicate radius) with each left row probing its own and the
    next band, then the exact |Δ| filter. Identical results to the naive
    theta join the oracle runs, but the Spark plan is a hash join on
    the band key — O(n·bandwidth), not O(n²)."""
    band = 0.5
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    a = p.select(
        F.col("p_partkey").alias("part_a"),
        F.col("p_retailprice").alias("price_a"),
        F.floor(F.col("p_retailprice") / band).alias("band_a"),
    )
    # each left row probes its own band and both neighbors: a pair within
    # the radius always has |band_a - band_b| <= 1, in either direction
    # (the key-order filter below is independent of band order, so probing
    # only upward would drop pairs where the lower key has the higher band)
    a2 = a.withColumn(
        "probe_band",
        F.explode(F.array(F.col("band_a") - 1, F.col("band_a"), F.col("band_a") + 1)),
    )
    b = p.select(
        F.col("p_partkey").alias("part_b"),
        F.col("p_retailprice").alias("price_b"),
        F.floor(F.col("p_retailprice") / band).alias("band_b"),
    )
    return (
        a2.join(b, a2.probe_band == b.band_b)
        .filter(
            (F.col("part_a") < F.col("part_b"))
            & (F.abs(F.col("price_a") - F.col("price_b")) < band)
        )
        .select(
            "part_a",
            "part_b",
            F.round(F.abs(F.col("price_a") - F.col("price_b")), 2).alias("price_gap"),
        )
        .distinct()
    )


@query(
    "join_skew_salted",
    oracle="""
    SELECT e.user_id,
           count(*) AS n_pairs,
           round(CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                      AS DOUBLE) / 100, 2) AS sum_price
    FROM events e JOIN orders o ON e.user_id = o.o_custkey
    GROUP BY e.user_id
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join: events.user_id has only ~15 distinct values,
    so a plain shuffle join lands everything on ≤15 reducers. Salt the
    hot side deterministically (event_id % 8) and replicate the other
    side across all 8 salts, join on (key, salt) → 8× the reducers, same
    result (the oracle runs the unsalted join). AQE's skew-join handles
    sort-merge cases automatically; explicit salting is the pattern for
    aggregations and when AQE can't split (e.g. broadcast-ineligible
    skewed hash joins)."""
    n_salt = 8
    e = load_table(spark, sf_dir, "events").withColumn(
        "salt", (F.col("event_id") % n_salt).cast("int")
    )
    o = load_table(spark, sf_dir, "orders").withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    return (
        e.join(o, (e.user_id == o.o_custkey) & (e.salt == o.salt))
        .groupBy("user_id")
        # exact cents accumulation (the join_star precedent): a double sum
        # over the fanned-out pairs diverges across engines' addend orders
        # at rounding boundaries once groups get big (seen at the 60M-row
        # proxy); the display value divides the identical bigint
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("double") / 100, 2
            ).alias("sum_price"),
        )
    )


@query(
    "subquery_exists",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
    """,
)
def subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS, planned as a left-semi join (the standard
    decorrelation Catalyst applies to the SQL form too)."""
    o = load_table(spark, sf_dir, "orders")
    bulky = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return (
        o.join(bulky, o.o_orderkey == bulky.l_orderkey, "left_semi")
        .select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))
    )


@query(
    "subquery_scalar",
    oracle="""
    SELECT c_custkey, round(c_acctbal, 2) AS acctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
    """,
)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: customers above the mean balance. The single-row
    aggregate is broadcast and cross-joined — no shuffle of the big side."""
    c = load_table(spark, sf_dir, "customer")
    mean = c.agg(F.avg("c_acctbal").alias("_mean_bal"))
    return (
        c.crossJoin(F.broadcast(mean))
        .filter(F.col("c_acctbal") > F.col("_mean_bal"))
        .select("c_custkey", F.round("c_acctbal", 2).alias("acctbal"))
    )


@query(
    "join_cross",
    oracle="""
    SELECT n_name, r_name, concat(n_name, '-', r_name) AS pair
    FROM nation CROSS JOIN region
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product of two BOUNDED dimension tables
    (nation × region) — the one shape where a cross join is legitimate
    at scale: |n|×|r| is constant-sized regardless of fact volume, and
    Spark plans a BroadcastNestedLoopJoin with the smaller side
    broadcast. Every data-sized join in the catalog is keyed; the
    no-cartesian plan audits (test_plans.py) enforce that this stays
    the exception."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return n.crossJoin(F.broadcast(r)).select(
        "n_name",
        "r_name",
        F.concat_ws("-", "n_name", "r_name").alias("pair"),
    )


@query(
    "join_null_safe",
    oracle="""
    WITH o1 AS (
      SELECT o_orderkey, nullif(o_orderpriority, '3-MEDIUM') AS prio
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    dim AS (
      SELECT DISTINCT nullif(o_orderpriority, '3-MEDIUM') AS prio,
             coalesce(nullif(o_orderpriority, '3-MEDIUM'), 'UNSET') AS prio_name
      FROM orders
    )
    SELECT o1.o_orderkey, dim.prio_name
    FROM o1 JOIN dim ON o1.prio IS NOT DISTINCT FROM dim.prio
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    keys match each other instead of silently dropping — the semantics
    a dimension join needs when the key is legitimately absent
    ("unset" bucket). A plain equi-join loses every NULL-keyed row;
    eqNullSafe keeps them AND still plans as a hash join (the
    null-safe comparison is an equi key to Catalyst, not a theta
    condition)."""
    o = load_table(spark, sf_dir, "orders")
    prio = F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM"))
    o1 = o.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey", prio.alias("prio"))
    dim = (
        o.select(prio.alias("prio"), F.coalesce(prio, F.lit("UNSET")).alias("prio_name"))
        .distinct()
    )
    return o1.join(F.broadcast(dim), o1.prio.eqNullSafe(dim.prio)).select(
        "o_orderkey", "prio_name"
    )


_INTERVAL_OVERLAP_ORACLE = """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
),
intervals AS (
  SELECT user_id, sid,
         epoch_us(min(ts)) AS s_us, epoch_us(max(ts)) AS e_us
  FROM sess GROUP BY user_id, sid
),
peak AS (
  SELECT epoch_us(date_trunc('hour', ts)) AS h_us, count(*) AS n
  FROM events GROUP BY 1 HAVING count(*) >= 5
),
expanded AS (
  SELECT user_id, s_us, e_us,
         unnest(list_transform(
           generate_series(0, CAST((e_us // 3600000000) - (s_us // 3600000000) AS INTEGER)),
           k -> (s_us // 3600000000 + k) * 3600000000)) AS h_us
  FROM intervals
),
ov AS (
  SELECT e.user_id,
         greatest(0, least(e.e_us, e.h_us + 3600000000) - greatest(e.s_us, e.h_us))
           AS ov_us
  FROM expanded e JOIN peak p ON e.h_us = p.h_us
)
SELECT user_id,
       count(*) AS n_overlaps,
       CAST(sum(ov_us) // 1000000 AS BIGINT) AS peak_seconds
FROM ov
GROUP BY user_id
HAVING sum(ov_us) > 0
"""


@query("join_interval_overlap", oracle=_INTERVAL_OVERLAP_ORACLE)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True interval×interval overlap join: per-user session intervals
    against global peak hours (hours with ≥5 events), reporting each
    user's seconds inside peak load. The range join (`join_range`) is
    point-in-interval; this is the interval-pair form — implemented
    scalably by EXPLODING each session to the hour grid it touches
    (`sequence`, bounded by session length) and equi-joining on the
    hour — never interval×interval cross.

    Overlap arithmetic is exact µs integers (greatest/least of epoch
    micros), so the per-user sums are hash-exact.

    At 100×: the hour-grid explode keeps the join equi on a dense key;
    skewed hot hours fall to AQE. The same bucketize-by-grid trick
    powers every calendar-overlap billing/SLA query."""
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(wu)
    sess = (
        e.select(
            "user_id",
            "ts",
            "event_id",
            F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0).alias("new_s"),
        )
        .withColumn("sid", F.sum("new_s").over(wu.rowsBetween(W.unboundedPreceding, W.currentRow)))
        .groupBy("user_id", "sid")
        .agg(F.unix_micros(F.min("ts")).alias("s_us"), F.unix_micros(F.max("ts")).alias("e_us"))
    )
    hour_us = 3_600_000_000
    peak = (
        e.groupBy(F.unix_micros(F.date_trunc("hour", "ts")).alias("h_us"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 5)
    )
    expanded = sess.select(
        "user_id",
        "s_us",
        "e_us",
        F.explode(
            F.expr(
                f"transform(sequence(0, cast(e_us div {hour_us} - s_us div {hour_us} as int)),"
                f" k -> (s_us div {hour_us} + k) * {hour_us})"
            )
        ).alias("h_us"),
    )
    ov = F.greatest(
        F.lit(0),
        F.least(F.col("e_us"), F.col("h_us") + hour_us) - F.greatest(F.col("s_us"), F.col("h_us")),
    )
    return (
        expanded.join(peak, "h_us")
        .select("user_id", ov.alias("ov_us"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_overlaps"),
            F.sum("ov_us").alias("sum_us"),
        )
        .filter(F.col("sum_us") > 0)
        .select("user_id", "n_overlaps", F.expr("sum_us div 1000000").alias("peak_seconds"))
    )


@query(
    "join_semi_reduction",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 0
    GROUP BY o_orderpriority
    """,
)
def join_semi_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join reduction: when the payload join must be sort-merge
    (dimension too wide/large to broadcast at 100 TB), the fact side
    is first pruned by a BROADCAST LEFT SEMI join on just the distinct
    join keys of the filtered dimension — kilobytes on the wire — so
    the expensive shuffle exchanges only surviving fact rows. The
    classic distributed-query rewrite (and what Spark's runtime
    bloom-filter injection approximates probabilistically; this is
    the exact form, expressible with no optimizer support).

    Correctness is unconditional: the semi join removes only rows the
    payload join would drop anyway, so the result equals the plain
    join (the oracle IS the plain join). The `merge` hint pins the
    payload join to SortMergeJoin, modeling the big-dimension regime
    even though the fixture dimension would broadcast."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 0)
    )
    keys = c.select("c_custkey").distinct()
    pruned = o.join(F.broadcast(keys), o.o_custkey == keys.c_custkey, "left_semi")
    return (
        pruned.hint("merge")
        .join(c.hint("merge"), pruned.o_custkey == c.c_custkey, "inner")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("revenue_cents"),
        )
    )


@query(
    "orders_duplicate_audit",
    oracle="""
    SELECT l_orderkey AS orderkey,
           l_partkey AS partkey,
           count(*) AS n_lines,
           CAST(min(l_linenumber) AS BIGINT) AS first_line,
           CAST(max(l_linenumber) AS BIGINT) AS last_line,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM lineitem
    GROUP BY l_orderkey, l_partkey
    HAVING count(*) > 1
    """,
)
def orders_duplicate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-line audit: (order, part) pairs billed on MORE THAN
    ONE line of the same order — the double-entry screen a finance
    pipeline runs before invoicing (55 real hits exist in the
    fixture), with the line range and the doubled quantity/money
    exposure per hit in exact integers.

    Scale: one partial-aggregable groupBy on the natural key — the
    HAVING count > 1 filter runs post-aggregation, so the shuffle
    carries one partial row per (order, part), and no self-join or
    window is needed at any corpus size (the degenerate-but-common
    dedup shape: duplicates WITHIN a key, not across the corpus)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.col("l_orderkey").alias("orderkey"), F.col("l_partkey").alias("partkey")
        )
        .agg(
            F.count("*").alias("n_lines"),
            F.min("l_linenumber").cast("long").alias("first_line"),
            F.max("l_linenumber").cast("long").alias("last_line"),
            F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
        .filter(F.col("n_lines") > 1)
    )
