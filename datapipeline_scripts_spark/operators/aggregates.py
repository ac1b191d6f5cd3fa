"""D7/D8/D19/D22 — aggregation catalog.

`agg_group` is the engine's flagship query (TPC-H-Q1-style pricing
summary, SURVEY §7.1 M0). The others cover global aggregates, rollup /
cube grouping sets, and conditional (pivot-style) aggregation.

Scale notes:
- Every groupBy here benefits from partial (map-side) aggregation; the
  shuffle carries only #groups × #partitions rows.
- Group keys are low-cardinality strings → no skew concern; for skewed
  keys AQE skew-join/salting applies (session.py enables AQE).
- Doubles are rounded to 2dp on BOTH engines so float summation-order
  drift cannot flip the comparison hash (SURVEY §7.0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_scripts_spark.catalog import load_table
from datapipeline_scripts_spark.registry import query


@query(
    "agg_group",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 2) AS avg_qty,
           round(avg(l_extendedprice), 2) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-style pricing summary (D1+D2+D7).

    The physical plan is scan(pushed filter, 6-column ReadSchema) →
    partial hash agg → exchange on (returnflag, linestatus) → final hash
    agg, all inside whole-stage codegen."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "agg_global",
    oracle="""
    SELECT count(*) AS n_rows,
           count(DISTINCT l_orderkey) AS n_orders,
           round(sum(l_quantity), 2) AS sum_qty,
           round(avg(l_discount), 4) AS avg_disc,
           round(min(l_quantity), 2) AS min_qty,
           round(max(l_quantity), 2) AS max_qty,
           strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S') AS first_ship,
           strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS last_ship
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless global aggregate → single row (partial aggs collapse each
    partition first; the exchange moves one row per partition)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.round(F.min("l_quantity"), 2).alias("min_qty"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd HH:mm:ss").alias("first_ship"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd HH:mm:ss").alias("last_ship"),
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets: detail + per-flag subtotal + grand total."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


@query(
    "agg_cube",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
           coalesce(o_orderpriority, 'ALL') AS orderpriority,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over two dimensions."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "n",
            "sum_price",
        )
    )


@query(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           round(covar_samp(l_quantity, l_discount), 4) AS covar_qty_disc,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: sample stddev/variance, correlation,
    covariance — single-pass streaming moments (partial-aggregable, so
    the shuffle carries 1 state row per group per partition)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 4).alias("covar_qty_disc"),
        F.count("*").alias("n"),
    )


@query(
    "agg_percentile",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
           count(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (deterministic, so oracle-checked —
    the approximate twin is `approx_quantiles`). Exact percentile holds
    the group's values in memory: at 100 TB use per-group approx
    (GK sketch) unless the group cardinality bounds the group size."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 2).alias("p90"),
        F.count("*").alias("n"),
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*) AS n,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (per-flag and per-status marginals in one
    pass — one scan, one expanded shuffle, vs two separate queries)."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               count(*) AS n,
               round(sum(l_extendedprice), 2) AS sum_price
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


@query(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS "O",
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS "F",
           round(sum(CASE WHEN l_linestatus = 'P' THEN l_quantity END), 2) AS "P"
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True pivot (explicit value list → no extra distinct-values scan;
    always enumerate pivot values at scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F", "P"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return piv


@query(
    "agg_pivot_case",
    oracle="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_extendedprice ELSE 0 END), 2) AS open_price,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_extendedprice ELSE 0 END), 2) AS filled_price,
           CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_bulk,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_pivot_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional (pivot-style) aggregation — sum(CASE WHEN …) — the
    declarative form of a pivot that needs no extra shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(F.when(F.col("l_linestatus") == "O", F.col("l_extendedprice")).otherwise(0.0)), 2).alias("open_price"),
        F.round(F.sum(F.when(F.col("l_linestatus") == "F", F.col("l_extendedprice")).otherwise(0.0)), 2).alias("filled_price"),
        F.sum(F.when(F.col("l_quantity") > 25, 1).otherwise(0)).cast("long").alias("n_bulk"),
        F.count("*").alias("n"),
    )


@query(
    "agg_string_agg",
    oracle="""
    SELECT n_name,
           count(*) AS n_suppliers,
           string_agg(s_name, ',' ORDER BY s_name) AS supplier_csv
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String aggregation (listagg): suppliers per nation as a sorted
    CSV. Sorting inside the aggregate (array_sort before join) is what
    makes the concatenation deterministic — collect_list order is not.
    Scale: collect_list is the one aggregate whose state grows with
    group size; it's bounded here by suppliers-per-nation, and a
    grouped string column this shape feeds prompt/report generation."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.array_join(F.array_sort(F.collect_list("s_name")), ",").alias("supplier_csv"),
        )
    )


@query(
    "unpivot_metrics",
    oracle="""
    WITH agg AS (
      SELECT l_returnflag,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price,
             round(sum(l_discount), 2) AS sum_disc
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM agg
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM agg
    UNION ALL
    SELECT l_returnflag, 'sum_disc' AS metric, sum_disc AS value FROM agg
    """,
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide per-flag metric columns → long
    (flag, metric, value) rows — the reshape feeding metric stores and
    long-format report sinks.

    Uses the native `DataFrame.unpivot` (Expand node): each input row
    fans out JVM-side to one row per metric with NO shuffle and no
    UDF; the only exchange is the upstream aggregation's. The melt
    happens on the already-aggregated (tiny) table — at 100 TB the
    wide→long fan-out multiplies rows, so always aggregate first when
    the downstream only needs grouped metrics."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.sum("l_discount"), 2).alias("sum_disc"),
    )
    return agg.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@query(
    "stats_zscore",
    oracle="""
    WITH stats AS (
      SELECT event_type,
             avg(value) AS mu,
             stddev_samp(value) AS sigma
      FROM events
      GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           round((e.value - s.mu) / s.sigma, 3) AS z
    FROM events e JOIN stats s USING (event_type)
    WHERE abs((e.value - s.mu) / s.sigma) >= 2.5
    """,
)
def stats_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier detection: events whose value is
    ≥ 2.5σ from their event-type mean — the numeric-column anomaly
    gate of a data-quality pipeline.

    Two-pass shape instead of a window over everything: the stats
    table is one partial-aggregated groupBy (|event_types| rows,
    broadcast back onto the fact), so the fact table streams through
    map-side only — a window equivalent would shuffle and sort the
    full log per key."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) >= 2.5)
        .select("event_id", "event_type", F.round(z, 3).alias("z"))
    )


@query(
    "stats_histogram",
    oracle="""
    SELECT CAST(floor(o_totalprice / 60000) + 1 AS INTEGER) AS bin,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS bin_total
    FROM orders
    GROUP BY 1
    """,
)
def stats_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram via width_bucket over [0, 600k) × 10 bins.
    Fixed literal bounds (not data-derived min/max) keep the binning
    one map-side expression — no extra pass, no scalar subquery — and
    bin totals accumulate in exact decimal so both engines round the
    same value. DuckDB has no width_bucket, so the oracle uses the
    equivalent floor(x/width)+1 (identical for in-range values)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.width_bucket("o_totalprice", F.lit(0), F.lit(600000), F.lit(10)).cast("int").alias("bin"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2).cast("double").alias("bin_total"),
        )
    )


@query(
    "agg_share",
    oracle="""
    WITH per AS (
      SELECT o_orderpriority,
             count(*) AS n_orders,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
      FROM orders
      GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n_orders, revenue,
           round(revenue / sum(revenue) OVER (), 4) AS revenue_share
    FROM per
    """,
)
def agg_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (ratio-to-report): each priority's revenue
    share of the whole. The window total runs over the ALREADY
    AGGREGATED #groups-row frame — a single-partition window is fine
    there because the frame is group-cardinality-sized, never the
    fact table. Sums accumulate in decimal so both engines divide the
    same doubles."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2).cast("double").alias("revenue"),
    )
    w = W.partitionBy()
    return per.select(
        "o_orderpriority",
        "n_orders",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w), 4).alias("revenue_share"),
    )


@query(
    "stats_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med
      FROM events
      GROUP BY event_type
    )
    SELECT e.event_type,
           round(any_value(m.med), 4) AS med,
           round(median(abs(e.value - m.med)), 4) AS mad,
           count(*) AS n
    FROM events e JOIN med m USING (event_type)
    GROUP BY e.event_type
    """,
)
def stats_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per event type — the robust
    dispersion measure an outlier gate uses when the value
    distribution has heavy tails (MAD ignores what stddev is blown
    up by).

    Two-pass shape like stats_zscore: the per-type median table is
    tiny and broadcasts back onto the fact; exact interpolated
    percentile keeps both engines on the identical sorted sequence.
    At 100 TB swap the exact median for approx_percentile —
    the declared approx_quantiles key shows that path."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.percentile("value", F.lit(0.5)).alias("med"))
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.any_value("med"), 4).alias("med"),
            F.round(F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)), 4).alias("mad"),
            F.count("*").alias("n"),
        )
    )


@query(
    "stats_entropy",
    oracle="""
    WITH counts AS (
      SELECT user_id, event_type, count(*) AS c
      FROM events
      GROUP BY user_id, event_type
    ),
    tot AS (SELECT user_id, sum(c) AS t FROM counts GROUP BY user_id)
    SELECT counts.user_id,
           CAST(count(*) AS INTEGER) AS n_types,
           round(-sum((c * 1.0 / t) * ln(c * 1.0 / t)), 4) AS entropy
    FROM counts JOIN tot USING (user_id)
    WHERE counts.user_id % 10 = 0
    GROUP BY counts.user_id
    """,
)
def stats_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution — the
    behavioral-diversity / skew diagnostic (low entropy = bot-like
    single-action users; the same expression measures partition-key
    skew before choosing a salting strategy).

    Shape: one (user, type) count aggregation, a per-user total join
    (user-sized, co-partitioned on the same key — no new shuffle
    key), and the -Σ p·ln p fold as a second partial-aggregated
    groupBy. Entropy sums ≤ 5 terms per user, so float drift cannot
    reach the 4dp round."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    tot = counts.groupBy("user_id").agg(F.sum("c").alias("t"))
    p = F.col("c") * 1.0 / F.col("t")
    return (
        counts.join(tot, "user_id")
        .filter(F.col("user_id") % 10 == 0)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("int").alias("n_types"),
            F.round(-F.sum(p * F.log(p)), 4).alias("entropy"),
        )
    )


@query(
    "agg_argmax",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority, max(o_totalprice) AS max_price,
             min(o_orderdate) AS min_date
      FROM orders GROUP BY 1
    ),
    t AS (
      SELECT o.o_orderpriority, max(o.o_orderkey) AS top_orderkey
      FROM orders o JOIN m ON o.o_orderpriority = m.o_orderpriority
                          AND o.o_totalprice = m.max_price
      GROUP BY 1
    ),
    f AS (
      SELECT o.o_orderpriority, min(o.o_orderkey) AS first_orderkey
      FROM orders o JOIN m ON o.o_orderpriority = m.o_orderpriority
                          AND o.o_orderdate = m.min_date
      GROUP BY 1
    )
    SELECT m.o_orderpriority, m.max_price, t.top_orderkey, f.first_orderkey
    FROM m
    JOIN t ON m.o_orderpriority = t.o_orderpriority
    JOIN f ON m.o_orderpriority = f.o_orderpriority
    ORDER BY m.o_orderpriority
    """,
)
def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax/argmin in ONE pass: `max_by`/`min_by` keyed on a
    (value, key) struct so ties break deterministically (largest key at
    the max price, smallest key at the earliest date). DuckDB's
    arg_max can't take a struct ordering, so the oracle is the
    equivalent two-phase max-then-filter — the Spark side stays a
    single partial-aggregable pass, no self-join."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.max("o_totalprice").alias("max_price"),
            F.max_by("o_orderkey", F.struct("o_totalprice", "o_orderkey")).alias("top_orderkey"),
            F.min_by("o_orderkey", F.struct("o_orderdate", "o_orderkey")).alias("first_orderkey"),
        )
        .select("o_orderpriority", "max_price", "top_orderkey", "first_orderkey")
        .orderBy("o_orderpriority")
    )


@query(
    "agg_filtered",
    oracle="""
    SELECT l_returnflag,
           count(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                      FILTER (WHERE l_discount >= 0.05), 2) AS DOUBLE)
             AS discounted_rev,
           round(avg(l_quantity) FILTER (WHERE l_linestatus = 'O'), 4)
             AS avg_open_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI FILTER-clause aggregates (the declarative twin of
    CASE-WHEN conditional aggregation — see `agg_pivot_case`): several
    differently-filtered aggregates in one scan + one shuffle. The
    quantity average is exact (integer-valued doubles sum exactly);
    the money sum accumulates in DECIMAL."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_filtered")
    return spark.sql(
        """
        SELECT l_returnflag,
               count(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                          FILTER (WHERE l_discount >= 0.05), 2) AS DOUBLE)
                 AS discounted_rev,
               round(avg(l_quantity) FILTER (WHERE l_linestatus = 'O'), 4)
                 AS avg_open_qty,
               count(*) AS n
        FROM lineitem_filtered
        GROUP BY l_returnflag
        """
    )


@query(
    "agg_mode",
    oracle="""
    WITH counts AS (
      SELECT p_brand, p_size, count(*) AS cnt
      FROM part GROUP BY 1, 2
    ),
    best AS (
      SELECT c.p_brand, min(c.p_size) AS mode_size
      FROM counts c
      JOIN (SELECT p_brand, max(cnt) AS max_cnt FROM counts GROUP BY 1) m
        ON c.p_brand = m.p_brand AND c.cnt = m.max_cnt
      GROUP BY 1
    ),
    med AS (
      SELECT p_brand, round(median(p_retailprice), 4) AS median_price,
             count(*) AS n
      FROM part GROUP BY 1
    )
    SELECT med.p_brand, best.mode_size, med.median_price, med.n
    FROM med JOIN best ON med.p_brand = best.p_brand
    ORDER BY med.p_brand
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode + median per group. The mode is computed via count-then-
    max_by with an explicit (count, -size) ordering because the
    built-in mode() is tie-nondeterministic in BOTH engines — ties
    break to the smallest value here, reproducibly. Median uses the
    built-in exact interpolated median; rounding at 4 dp is a no-op
    for the ≤3-decimal midpoints so both engines agree bit-for-bit."""
    p = load_table(spark, sf_dir, "part")
    counts = p.groupBy("p_brand", "p_size").agg(F.count("*").alias("cnt"))
    best = counts.groupBy("p_brand").agg(
        F.max_by("p_size", F.struct(F.col("cnt"), (-F.col("p_size")).alias("neg_size"))).alias("mode_size")
    )
    med = p.groupBy("p_brand").agg(
        F.round(F.median("p_retailprice"), 4).alias("median_price"),
        F.count("*").alias("n"),
    )
    return (
        med.join(best, "p_brand")
        .select("p_brand", "mode_size", "median_price", "n")
        .orderBy("p_brand")
    )


@query(
    "stats_regression",
    oracle="""
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           round(regr_avgx(l_extendedprice, l_quantity), 4) AS avg_qty,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def stats_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS regression aggregates (slope/intercept/R²/avgx/count of
    price on quantity per flag) — single-pass streaming-moment
    aggregates, partial-aggregable like corr/covar in `agg_stats`, so
    the shuffle carries one moment-state row per (group, partition)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias("intercept"),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
        F.round(F.regr_avgx("l_extendedprice", "l_quantity"), 4).alias("avg_qty"),
        F.regr_count("l_extendedprice", "l_quantity").cast("long").alias("n"),
    )


@query(
    "stats_minmax_scale",
    oracle="""
    WITH st AS (
      SELECT c_mktsegment, min(c_acctbal) AS mn, max(c_acctbal) AS mx
      FROM customer GROUP BY 1
    )
    SELECT c_custkey, c.c_mktsegment,
           CAST(floor((c_acctbal - mn) * 10000 / (mx - mn)) AS BIGINT)
             AS scaled_bp
    FROM customer c JOIN st ON c.c_mktsegment = st.c_mktsegment
    WHERE mx > mn
    ORDER BY c_custkey
    """,
)
def stats_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max feature scaling per segment, reported in integer basis
    points (0..10000). Two-pass like `stats_zscore`: the per-segment
    min/max aggregate (segments-sized) broadcasts back onto the fact —
    the customer table itself never shuffles. Integer output via floor
    of identical double arithmetic on both engines — no round() on a
    value that can sit exactly on a decimal boundary (cents ratios
    can)."""
    c = load_table(spark, sf_dir, "customer")
    st = c.groupBy("c_mktsegment").agg(
        F.min("c_acctbal").alias("mn"), F.max("c_acctbal").alias("mx")
    )
    scaled = F.floor(
        (F.col("c_acctbal") - F.col("mn")) * 10000 / (F.col("mx") - F.col("mn"))
    ).cast("long")
    return (
        c.join(F.broadcast(st), "c_mktsegment")
        .filter(F.col("mx") > F.col("mn"))
        .select("c_custkey", "c_mktsegment", scaled.alias("scaled_bp"))
        .orderBy("c_custkey")
    )


@query(
    "stats_ttest",
    oracle="""
    WITH s AS (
      SELECT
        count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n1,
        sum(CASE WHEN event_type = 'purchase'
                 THEN CAST(value AS DECIMAL(19,6)) END) AS s1,
        sum(CASE WHEN event_type = 'purchase'
                 THEN CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(19,6)) END) AS q1,
        count(CASE WHEN event_type = 'click' THEN 1 END) AS n2,
        sum(CASE WHEN event_type = 'click'
                 THEN CAST(value AS DECIMAL(19,6)) END) AS s2,
        sum(CASE WHEN event_type = 'click'
                 THEN CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(19,6)) END) AS q2
      FROM events
    )
    SELECT n1, n2,
           round(CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2, 6) AS mean_diff,
           round(
             (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
             / sqrt(
                 ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1) / (n1 - 1)) / n1
               + ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2) / (n2 - 1)) / n2
             ), 4) AS t_stat
    FROM s
    """,
)
def stats_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test (purchase vs click event values) from
    sufficient statistics: ONE pass accumulates n/Σx/Σx² per arm as
    EXACT decimals (conditional aggregation — no second scan, no
    per-arm subqueries), then the t statistic is a fixed sequence of
    double ops on identical inputs — deterministic across engines,
    where streaming-variance aggregates would drift by partial-agg
    order. The experimentation-analytics primitive at any scale: the
    shuffle carries six numbers."""
    e = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(19,6)")
    purchase = F.col("event_type") == "purchase"
    click = F.col("event_type") == "click"
    s = e.agg(
        F.count(F.when(purchase, 1)).alias("n1"),
        F.sum(F.when(purchase, v)).alias("s1"),
        F.sum(F.when(purchase, v * v)).alias("q1"),
        F.count(F.when(click, 1)).alias("n2"),
        F.sum(F.when(click, v)).alias("s2"),
        F.sum(F.when(click, v * v)).alias("q2"),
    )
    m1 = F.col("s1").cast("double") / F.col("n1")
    m2 = F.col("s2").cast("double") / F.col("n2")
    var1 = (F.col("q1").cast("double") - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n1")) / (
        F.col("n1") - 1
    )
    var2 = (F.col("q2").cast("double") - F.col("s2").cast("double") * F.col("s2").cast("double") / F.col("n2")) / (
        F.col("n2") - 1
    )
    t = (m1 - m2) / F.sqrt(var1 / F.col("n1") + var2 / F.col("n2"))
    return s.select(
        "n1",
        "n2",
        F.round(m1 - m2, 6).alias("mean_diff"),
        F.round(t, 4).alias("t_stat"),
    )


@query(
    "stats_chi2",
    oracle="""
    WITH ct AS (
      SELECT c_mktsegment AS seg, o_orderpriority AS pri, count(*) AS n
      FROM customer JOIN orders ON c_custkey = o_custkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT sum(n) AS total FROM ct),
    r AS (SELECT seg, sum(n) AS rn FROM ct GROUP BY 1),
    c AS (SELECT pri, sum(n) AS cn FROM ct GROUP BY 1)
    SELECT round(sum(
             (ct.n - rn * cn * 1.0 / total) * (ct.n - rn * cn * 1.0 / total)
             / (rn * cn * 1.0 / total)), 4) AS chi2,
           CAST(count(*) AS BIGINT) AS n_cells
    FROM ct JOIN r USING (seg) JOIN c USING (pri) CROSS JOIN tot
    """,
)
def stats_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test (market segment × order priority)
    from one contingency-table pass: the observed counts aggregate
    once, the row/column marginals and grand total derive from that
    tiny table (segments × priorities cells), and the statistic is
    plain double arithmetic over exact integer counts. The fact join
    shuffles once; everything after runs on ~25 rows."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    ct = (
        o.join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("o_orderpriority").alias("pri"))
        .agg(F.count("*").alias("n"))
        .localCheckpoint()
    )
    r = ct.groupBy("seg").agg(F.sum("n").alias("rn"))
    c = ct.groupBy("pri").agg(F.sum("n").alias("cn"))
    tot = ct.agg(F.sum("n").alias("total"))
    e = F.col("rn") * F.col("cn") * F.lit(1.0) / F.col("total")
    cell = (F.col("n") - e) * (F.col("n") - e) / e
    return (
        ct.join(F.broadcast(r), "seg")
        .join(F.broadcast(c), "pri")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(F.sum(cell), 4).alias("chi2"),
            F.count("*").cast("long").alias("n_cells"),
        )
    )


@query(
    "stats_winsorize",
    oracle="""
    WITH cents AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ),
    ranked AS (
      SELECT l_returnflag, cents,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY cents) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n_grp
      FROM cents
    ),
    cuts AS (
      SELECT l_returnflag,
             max(CASE WHEN rn = (5 * n_grp + 99) // 100 THEN cents END) AS lo,
             max(CASE WHEN rn = (95 * n_grp + 99) // 100 THEN cents END) AS hi
      FROM ranked GROUP BY l_returnflag
    )
    SELECT c.l_returnflag,
           count(*) AS n,
           CAST(sum(CASE WHEN c.cents < t.lo OR c.cents > t.hi
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
           CAST((CAST(100 AS HUGEINT)
                 * sum(CASE WHEN c.cents < t.lo THEN t.lo
                            WHEN c.cents > t.hi THEN t.hi
                            ELSE c.cents END)) // count(*) AS BIGINT)
             AS winsorized_mean_cc,
           CAST((CAST(100 AS HUGEINT) * sum(c.cents)) // count(*) AS BIGINT)
             AS raw_mean_cc
    FROM cents c JOIN cuts t ON c.l_returnflag = t.l_returnflag
    GROUP BY c.l_returnflag
    """,
)
def stats_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust mean in EXACT integer arithmetic: prices
    quantized to bigint cents, cut points taken as the exact order
    statistics at rank ceil(0.05·n)/ceil(0.95·n) (pure-integer rank
    formula (5n+99) div 100 — no float percentile interpolation, no
    double summation, so the hash cannot drift run-to-run; ADVICE r02
    finding on avg(double) order sensitivity). Means are reported in
    centicents ((100·Σcents) div n, i.e. 4 decimal digits of price)
    via DECIMAL(38,0)/HUGEINT so the product can't overflow INT64 at
    any scale. The outlier-resistant location estimate for quality
    dashboards where one fat tail drags the raw mean.

    Plan: one per-group rank window (the exact-percentile sort) feeds
    a 3-row cut aggregate, broadcast back onto the cents scan; clamp +
    conditional aggregates in a single second pass. At 100 TB the
    window sort per group is the cost of EXACT cuts — swap in
    approx_percentile for the sketch-grade variant."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    wr = W.partitionBy("l_returnflag").orderBy("cents")
    wp = W.partitionBy("l_returnflag")
    ranked = li.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n_grp", F.count("*").over(wp)
    )
    cuts = ranked.groupBy("l_returnflag").agg(
        F.max(F.when(F.col("rn") == F.expr("(5 * n_grp + 99) div 100"), F.col("cents"))).alias(
            "lo"
        ),
        F.max(F.when(F.col("rn") == F.expr("(95 * n_grp + 99) div 100"), F.col("cents"))).alias(
            "hi"
        ),
    )
    c = F.col("cents")
    clamped = F.when(c < F.col("lo"), F.col("lo")).when(c > F.col("hi"), F.col("hi")).otherwise(c)
    agg = (
        li.join(F.broadcast(cuts), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when((c < F.col("lo")) | (c > F.col("hi")), 1).otherwise(0)).alias(
                "n_clamped"
            ),
            F.sum(clamped).alias("_wsum"),
            F.sum(c).alias("_rsum"),
        )
    )
    return agg.select(
        "l_returnflag",
        "n",
        "n_clamped",
        F.expr("cast((cast(100 as decimal(38,0)) * _wsum) div n as bigint)").alias(
            "winsorized_mean_cc"
        ),
        F.expr("cast((cast(100 as decimal(38,0)) * _rsum) div n as bigint)").alias("raw_mean_cc"),
    )


_GINI_ORACLE = """
WITH cents AS (
  SELECT o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
ranked AS (
  SELECT o_orderstatus, cents,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY cents, o_orderstatus) AS i
  FROM (SELECT o_orderstatus, cents FROM cents)
),
g AS (
  SELECT o_orderstatus,
         count(*) AS n,
         CAST(sum(cents) AS BIGINT) AS total_cents,
         sum(CAST(i AS HUGEINT) * cents) AS weighted
  FROM ranked GROUP BY o_orderstatus
)
SELECT o_orderstatus, n, total_cents,
       CAST((CAST(20000 AS HUGEINT) * weighted) // (CAST(n AS HUGEINT) * total_cents)
            - ((n + 1) * 10000) // n AS BIGINT) AS gini_bp
FROM g
"""


@query("stats_gini", oracle=_GINI_ORACLE)
def stats_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration coefficient per order status, in exact
    integer arithmetic: prices quantized to cents (bigint), ranked
    ascending with a deterministic tie order, then
    G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n evaluated entirely in bigint basis
    points — no float summation anywhere, so the hash can't drift.

    The concentration audit for data sources: a corpus (or revenue)
    with gini_bp → 10000 is dominated by a few heavy keys — the same
    skew that breaks shuffle partitioning, measured before it does.

    Plan: one per-group rank window + one aggregate — the window and
    the groupBy share the o_orderstatus exchange."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    wr = W.partitionBy("o_orderstatus").orderBy("cents", "o_orderstatus")
    ranked = cents.withColumn("i", F.row_number().over(wr))
    g = ranked.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("total_cents"),
        # weighted rank-sum in 128-bit: each i*cents term fits int64, the
        # SUM does not past ~10M rows/group (3.6e20 measured at the
        # 60M-row proxy) — DECIMAL(38,0) here, HUGEINT in the oracle
        F.sum((F.col("i") * F.col("cents")).cast("decimal(38,0)")).alias("weighted"),
    )
    return g.select(
        "o_orderstatus",
        "n",
        "total_cents",
        # 128-bit integral math: 2·weighted·10⁴ overflows INT64 at sf0.1+
        # (DuckDB errors, Spark would wrap) — DECIMAL(38,0)/HUGEINT on
        # both sides keeps the division exact at any scale
        F.expr(
            "cast((cast(20000 as decimal(38,0)) * weighted)"
            " div (cast(n as decimal(38,0)) * total_cents) as bigint)"
            " - ((n + 1) * 10000) div n"
        ).alias("gini_bp"),
    )


@query(
    "agg_weighted_avg",
    oracle="""
    WITH q AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(sum(qty) AS BIGINT) AS total_qty,
           CAST(sum(cents * qty) // sum(qty) AS BIGINT) AS wavg_cents,
           CAST(sum(cents) // count(*) AS BIGINT) AS avg_cents
    FROM q
    GROUP BY l_returnflag
    """,
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price per return flag in exact integer
    cents — the weighted-mean shape (Σwᵢxᵢ/Σwᵢ) every pricing/metrics
    rollup needs, computed without a single float: prices quantized to
    cents, quantities are whole-valued, products and sums stay in
    bigint, one floor division at the end. The unweighted mean rides
    the same pass for comparison.

    Plan: one scan, one partial-aggregatable groupBy — the weighted
    sum is map-side combinable exactly like a plain sum."""
    li = load_table(spark, sf_dir, "lineitem")
    q = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return q.groupBy("l_returnflag").agg(
        F.sum("qty").alias("total_qty"),
        F.expr("sum(cents * qty) div sum(qty)").alias("wavg_cents"),
        F.expr("sum(cents) div count(*)").alias("avg_cents"),
    )


@query(
    "agg_boolean",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(CASE WHEN o_totalprice > 100000 THEN 1 END) AS BIGINT)
             AS n_big,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
           CAST(count(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                      THEN 1 END) AS BIGINT) AS n_priority
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean-aggregate surface: `count_if`, `bool_and`/`every`,
    `bool_or`/`any` — the assertion-style aggregates quality gates and
    alert rules are written in (bool_and over a predicate IS a table
    constraint; quality_audit's violation counts are its inverse).
    Everything rides one partial-aggregatable pass."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.count_if(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")).alias("n_priority"),
    )


_CORR_ORACLE = """
WITH q AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
         CAST(round(l_discount * 10000) AS BIGINT) AS z
  FROM lineitem
),
s AS (
  SELECT count(*) AS n,
         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(z) AS HUGEINT) AS sz,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
         CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * z) AS HUGEINT) AS sxz,
         CAST(sum(CAST(y AS HUGEINT) * z) AS HUGEINT) AS syz
  FROM q
)
SELECT pair, n, corr_bp FROM (
  -- each exact integer sum is cast to double BEFORE any arithmetic so
  -- the IEEE operation order is identical to the Spark expression
  -- (hugeint-exact numerators here vs double numerators there could
  -- flip a floor'd basis point at the boundary — ADVICE r02 class)
  SELECT 'qty_price' AS pair, n,
         CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              / sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
              * 10000) AS BIGINT) AS corr_bp
  FROM s
  UNION ALL
  SELECT 'qty_disc', n,
         CAST(floor((CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
              / sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              / sqrt(CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                     - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))
              * 10000) AS BIGINT)
  FROM s
  UNION ALL
  SELECT 'price_disc', n,
         CAST(floor((CAST(n AS DOUBLE) * CAST(syz AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
              / sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
              / sqrt(CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                     - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))
              * 10000) AS BIGINT)
  FROM s
)
"""


@query("stats_corr_matrix", oracle=_CORR_ORACLE)
def stats_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix (quantity × price ×
    discount) from ONE aggregate pass: the 9 sufficient statistics
    (Σx, Σx², Σxy per pair) accumulate as exact 128-bit integers over
    integer-quantized inputs (qty units, price cents, discount bp), so
    the aggregation is order-independent; the correlation itself is
    evaluated once on the driver-sized 1-row result in float64 from
    those exact sums — identical IEEE ops both engines, reported in
    floor'd basis points.

    The feature-correlation screen a curation pipeline runs before
    regression/weighting; Spark's built-in corr() is a double
    accumulator (order-sensitive last-ulp) — this is the
    deterministic form.

    Scale: one scan, one 1-row reduce, a 3-row projection after —
    nothing else. Adding features grows the statistics quadratically
    but they all ride the same pass."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
        F.round(F.col("l_discount") * 10000).cast("long").alias("z"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = li.agg(
        F.count("*").alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("z")).alias("sz"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("y") * F.col("y")).alias("syy"),
        F.sum(dec("z") * F.col("z")).alias("szz"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
        F.sum(dec("x") * F.col("z")).alias("sxz"),
        F.sum(dec("y") * F.col("z")).alias("syz"),
    )

    def corr_bp(sab: str, sa: str, sb: str, saa: str, sbb: str) -> str:
        # float64 from exact integer sums; floor to basis points
        return (
            f"cast(floor((cast(n as double) * cast({sab} as double)"
            f" - cast({sa} as double) * cast({sb} as double))"
            f" / sqrt(cast(n as double) * cast({saa} as double)"
            f" - cast({sa} as double) * cast({sa} as double))"
            f" / sqrt(cast(n as double) * cast({sbb} as double)"
            f" - cast({sb} as double) * cast({sb} as double))"
            f" * 10000) as bigint)"
        )

    return s.selectExpr(
        "stack(3, "
        f"'qty_price', n, {corr_bp('sxy', 'sx', 'sy', 'sxx', 'syy')}, "
        f"'qty_disc', n, {corr_bp('sxz', 'sx', 'sz', 'sxx', 'szz')}, "
        f"'price_disc', n, {corr_bp('syz', 'sy', 'sz', 'syy', 'szz')}"
        ") as (pair, n, corr_bp)"
    )


@query(
    "agg_multi_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several COUNT(DISTINCT …) over different columns in one
    aggregate — the dashboard-cardinality shape. Catalyst plans this
    with an Expand operator (one row replica per distinct set, null
    elsewhere) followed by a two-level aggregate, so all three
    cardinalities ride ONE scan and one shuffle instead of three
    self-joined subqueries (plan-asserted in test_plans.py). At 100 TB
    the Expand multiplies shuffle rows ×3 — when that bites, the
    approx_distinct / sketch_hll_rollup family is the documented
    trade; this is the exact form."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.count("*").alias("n_rows"),
    )
