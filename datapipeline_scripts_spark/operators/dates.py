"""D5 — date/time functions.

Reference parity (§2.B B14): UTC timestamp formatting
(`date -u +"%Y-%m-%dT%H:%M:%S%Z"` /root/reference/backup.sh:11,
run-scoped naming /root/reference/psql-backups.sh:10-11,64-66).

Parity discipline: the session runs in UTC and temporal *outputs* are
rendered as strings so the DuckDB comparison is representation-exact
(SURVEY §7.0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_scripts_spark.catalog import load_table
from datapipeline_scripts_spark.registry import query


@query(
    "date_funcs",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(month(o_orderdate) AS INTEGER) AS order_month,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY 1, 2, 3
    """,
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/month extraction + month truncation, aggregated per month.

    Scale: group keys are low-cardinality ints/strings derived before the
    shuffle — partial aggregation collapses each map partition to ~#months
    rows, so the exchange is tiny regardless of table size."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


@query(
    "date_arith",
    oracle="""
    SELECT o_orderkey,
           CAST(datediff('day', o_orderdate, TIMESTAMP '1998-01-01 00:00:00') AS INTEGER) AS days_to_cut,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d %H:%M:%S') AS due_ts,
           strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS iso_ts
    FROM orders
    WHERE o_orderkey % 7 = 0
    """,
)
def date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """datediff, interval arithmetic, and the reference's ISO-8601 UTC
    log format (/root/reference/backup.sh:11)."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.datediff(F.lit("1998-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias("days_to_cut"),
        F.date_format(F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"), "yyyy-MM-dd HH:mm:ss").alias("due_ts"),
        F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss").alias("iso_ts"),
    )


@query(
    "time_resample",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS t0, date_trunc('hour', max(ts)) AS t1
      FROM events
    ),
    grid AS (
      SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS bucket FROM bounds
    ),
    hourly AS (
      SELECT date_trunc('hour', ts) AS bucket,
             count(*) AS n_events,
             CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY 1
    )
    SELECT strftime(g.bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
           coalesce(h.n_events, 0) AS n_events,
           coalesce(h.sum_value, 0.0) AS sum_value,
           last_value(h.sum_value IGNORE NULLS) OVER (
             ORDER BY g.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS sum_value_ffill
    FROM grid g LEFT JOIN hourly h USING (bucket)
    """,
)
def time_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with gap fill: hourly buckets over the
    full [min, max] event range via `sequence` + explode, left-joined
    to the per-hour aggregate; missing hours zero-fill the count and
    forward-fill the (pre-rounded) hourly sum.

    The hourly sum accumulates in DECIMAL(18,6): decimal addition is
    exact and therefore order-independent, so both engines round the
    same value — a double sum's partial-aggregation order differs
    between engines and flips round() at .005 boundaries (observed at
    sf0.001).

    Scale: the data-sized work is the one keyed aggregation (partial
    agg collapses each partition to ~#hours rows before the exchange).
    The grid is #hours rows — generated from a 1-row bounds aggregate,
    never driver-side — and the gap-fill window sorts only that tiny
    grid, not the events table. Rounding happens BEFORE the forward
    fill so carried values are representation-exact across engines."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    grid = bounds.select(
        F.explode(F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))).alias("bucket")
    )
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("bucket")).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2).cast("double").alias("sum_value"),
    )
    from pyspark.sql import Window as W

    ffill = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        grid.join(hourly, "bucket", "left")
        .withColumn("sum_value_ffill", F.last("sum_value", ignorenulls=True).over(ffill))
        .select(
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
            "sum_value_ffill",
        )
    )


@query(
    "time_rollup_hierarchy",
    oracle="""
    SELECT coalesce(CAST(CAST(y AS INTEGER) AS VARCHAR), 'ALL') AS year,
           coalesce(CAST(CAST(m AS INTEGER) AS VARCHAR), 'ALL') AS month,
           coalesce(CAST(CAST(d AS INTEGER) AS VARCHAR), 'ALL') AS day,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE)
             AS sum_value
    FROM (
      SELECT year(ts) AS y, month(ts) AS m, day(ts) AS d, value
      FROM events
    )
    GROUP BY ROLLUP (y, m, d)
    ORDER BY 1, 2, 3
    """,
)
def time_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style calendar rollup: one pass over the event log
    produces day, month, year, and grand-total aggregates via
    GROUP BY ROLLUP on the (year, month, day) hierarchy — the
    continuous-aggregate pattern time-series stores precompute,
    expressed as a single expanded shuffle. Values accumulate in
    DECIMAL so every rollup level is summation-order independent."""
    e = load_table(spark, sf_dir, "events").select(
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
        F.dayofmonth("ts").alias("d"),
        "value",
    )
    return (
        e.rollup("y", "m", "d")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(28,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.coalesce(F.col("y").cast("string"), F.lit("ALL")).alias("year"),
            F.coalesce(F.col("m").cast("string"), F.lit("ALL")).alias("month"),
            F.coalesce(F.col("d").cast("string"), F.lit("ALL")).alias("day"),
            "n_events",
            "sum_value",
        )
        .orderBy("year", "month", "day")
    )


def _holt_daily_body(table: str, dayexpr: str) -> str:
    """The daily (d, cents) series aggregate — shared verbatim by the
    oracle's inline CTE and the Spark path's materialized view so the
    two engines cannot fork the series definition."""
    return f"""SELECT {dayexpr} AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM {table} CROSS JOIN mn GROUP BY 1"""


def _holt_recursion_sql(daily_ref: str, div: str) -> str:
    """The hl recursion + final projection over a (d, cents) daily
    series — the shared template body (see _holt_sql)."""
    return f"""hl(d, lvl, tr) AS (
  SELECT d, cents * 10000, CAST(0 AS BIGINT) FROM {daily_ref} WHERE d = 1
  UNION ALL
  SELECT d, lvl, ((lvl - plvl) + 9 * ptr) {div} 10 FROM (
    SELECT y.d AS d,
           (2 * y.cents * 10000 + 8 * (h.lvl + h.tr)) {div} 10 AS lvl,
           h.lvl AS plvl, h.tr AS ptr
    FROM hl h JOIN {daily_ref} y ON y.d = h.d + 1
    WHERE h.d < 60
  ) s
)
SELECT d AS day_idx,
       CAST(lvl AS BIGINT) AS level_microcents,
       CAST(tr AS BIGINT) AS trend_microcents,
       CAST(lvl + 7 * tr AS BIGINT) AS forecast_h7_microcents
FROM hl
"""


def _holt_sql(table: str, dayexpr: str, div: str) -> str:
    """Holt double-exponential smoothing as a recursive CTE — one
    template, two dialects (day-index expression and truncating-div
    token differ; everything else is identical SQL text). alpha=0.2 and
    beta=0.1 are exact rationals, so each step is integer arithmetic on
    1e-4-cent-scaled state: lvl' = (2y + 8(lvl+tr)) div 10,
    tr' = ((lvl'-lvl) + 9 tr) div 10 — truncation toward zero agrees
    between engines (the stats_pca_power contract), so 30 chained
    smoothing steps stay bit-identical."""
    return f"""
WITH RECURSIVE mn AS (
  SELECT min(CAST(ts AS DATE)) AS d0 FROM {table}
),
daily AS (
  {_holt_daily_body(table, dayexpr)}
),
{_holt_recursion_sql("daily", div)}"""


# day index anchored at the DATA's own min(ts) (via the `mn` CTE), not a
# literal date: a literal rots if the fixture is regenerated with a new
# start date, and the recursion's seed (WHERE d = 1) would then match
# nothing — a silent vacuous pass (ADVICE r03). test_properties.py
# additionally asserts the result is non-empty.
_HOLT_DAY_DUCK = "CAST(date_diff('day', d0, CAST(ts AS DATE)) AS BIGINT) + 1"
_HOLT_DAY_SPARK = "CAST(datediff(CAST(ts AS DATE), d0) AS BIGINT) + 1"


@query("time_holt_linear", oracle=_holt_sql("events", _HOLT_DAY_DUCK, "//"))
def time_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing over the daily revenue
    series, with the ENGINE driving the recursion (recursive CTE —
    the stateful sibling of time_forecast_snaive_backtest's lag-k
    baseline). Emits per-day level/trend state and the 7-day-ahead
    linear forecast, all in exact 1e-4-cent integer units.

    Scale: the raw corpus collapses to one row per day in a
    partial-aggregable pass; the recursion then runs on the
    |days|-row series — bounded work independent of corpus size (the
    depth guard caps it at 60 steps; Spark's default recursion limit
    is 100). A longer horizon would checkpoint the (lvl, tr) state
    table per epoch instead of deepening one recursion —
    docs/SCALE.md's PageRank paragraph applies verbatim.

    The daily series is MATERIALIZED before the recursion
    (optimization r14, guide §2.1 compute-once / §5): a recursive CTE
    re-evaluates its referenced subqueries every iteration, so the
    inline-daily form re-ran the corpus-sized aggregate 60 times
    (measured 11.0 s at sf0.1 → 0.8 s); the checkpointed series is
    |days| rows. Same recursion template (_holt_recursion_sql),
    oracle-proven identical. Both frames are passed to ``spark.sql`` as
    arguments, whose views are dropped once the query is analyzed: a
    fixed-name view kept the checkpoint persisted for the rest of the
    session."""
    daily = spark.sql(
        f"WITH mn AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM {{events}})\n"
        f"{_holt_daily_body('{events}', _HOLT_DAY_SPARK)}",
        events=load_table(spark, sf_dir, "events"),
    ).localCheckpoint(eager=True)
    return spark.sql("WITH RECURSIVE " + _holt_recursion_sql("{daily}", "div"), daily=daily)


_AGING_ORACLE = """
WITH snap AS (SELECT max(o_orderdate) AS s FROM orders),
open_orders AS (
  SELECT date_diff('day', CAST(o.o_orderdate AS DATE), CAST(p.s AS DATE)) AS age,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o CROSS JOIN snap p
  WHERE o.o_orderstatus = 'O'
),
bucketed AS (
  SELECT CASE WHEN age <= 30 THEN '000-030'
              WHEN age <= 60 THEN '031-060'
              WHEN age <= 90 THEN '061-090'
              ELSE '090+' END AS age_bucket,
         cents
  FROM open_orders
)
SELECT age_bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CAST(count(*) * 10000 // (SELECT count(*) FROM open_orders) AS BIGINT) AS share_bp
FROM bucketed GROUP BY age_bucket
"""


@query("orders_backlog_aging", oracle=_AGING_ORACLE)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging report (the AR-aging classic): orders
    still in status O bucketed by age at the data-derived snapshot
    date (30/60/90-day buckets), with exact counts, cents totals, and
    basis-point share of the open book.

    Scale: the status filter pushes to the parquet scan; the snapshot
    date is a broadcast 1-row aggregate; bucketing is a codegen'd CASE
    and the rollup is partial-aggregable — one scan, one tiny shuffle."""
    o = load_table(spark, sf_dir, "orders")
    snap = o.agg(F.max("o_orderdate").alias("s"))
    open_orders = (
        o.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(snap))
        .select(
            F.expr("datediff(CAST(s AS DATE), CAST(o_orderdate AS DATE))").alias("age"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    total = open_orders.agg(F.count("*").cast("long").alias("n_open"))
    bucketed = open_orders.select(
        F.when(F.col("age") <= 30, "000-030")
        .when(F.col("age") <= 60, "031-060")
        .when(F.col("age") <= 90, "061-090")
        .otherwise("090+")
        .alias("age_bucket"),
        "cents",
    )
    return (
        bucketed.groupBy("age_bucket")
        .agg(F.count("*").cast("long").alias("n_orders"), F.sum("cents").cast("long").alias("total_cents"))
        .crossJoin(F.broadcast(total))
        .selectExpr(
            "age_bucket",
            "n_orders",
            "total_cents",
            "CAST(n_orders * 10000 div n_open AS BIGINT) AS share_bp",
        )
    )


# Every calendar attribute is derived arithmetically or from extracts
# both engines define identically (year/quarter/month/day/last_day);
# day-of-week comes from day-counting off an anchor Monday
# (1990-01-01) rather than engine dow() conventions (Spark: 1=Sunday,
# DuckDB: 0=Sunday — a guaranteed mismatch).
_CALENDAR_ORACLE = """
WITH bounds AS (
  SELECT CAST(min(o_orderdate) AS DATE) AS mn, CAST(max(o_orderdate) AS DATE) AS mx
  FROM orders
),
spine AS (
  SELECT CAST(unnest(generate_series(CAST(mn AS TIMESTAMP), CAST(mx AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS d,
         mn
  FROM bounds
)
SELECT strftime(d, '%Y-%m-%d') AS day,
       CAST(year(d) AS BIGINT) AS year,
       CAST(quarter(d) AS BIGINT) AS quarter,
       CAST(month(d) AS BIGINT) AS month,
       CAST(day(d) AS BIGINT) AS day_of_month,
       CAST(date_diff('day', DATE '1990-01-01', d) % 7 + 1 AS BIGINT) AS dow_iso,
       (date_diff('day', DATE '1990-01-01', d) % 7 + 1) >= 6 AS is_weekend,
       day(d) = 1 AS is_month_start,
       d = last_day(d) AS is_month_end,
       CAST(date_diff('day', mn, d) // 7 + 1 AS BIGINT) AS week_of_series
FROM spine
"""


@query("time_calendar_dim", oracle=_CALENDAR_ORACLE)
def time_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar dimension over the orders date span — the
    warehouse utility every date-keyed star join wants on the
    broadcast side: one row per day with year/quarter/month/day,
    ISO day-of-week (derived by day-counting from an anchor Monday,
    sidestepping the engines' incompatible dow() conventions),
    weekend/month-boundary flags, and a series week number.

    Scale: the spine generates from a 1-row min/max aggregate via
    sequence() — O(days), trivially broadcastable, never touches the
    fact table again; the dimension is exactly what join_star /
    join_dpp_partitioned broadcast."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.expr("CAST(min(o_orderdate) AS DATE)").alias("mn"),
        F.expr("CAST(max(o_orderdate) AS DATE)").alias("mx"),
    )
    spine = bounds.select(F.expr("explode(sequence(mn, mx, interval 1 day))").alias("d"), "mn")
    return spine.selectExpr(
        "date_format(d, 'yyyy-MM-dd') AS day",
        "CAST(year(d) AS BIGINT) AS year",
        "CAST(quarter(d) AS BIGINT) AS quarter",
        "CAST(month(d) AS BIGINT) AS month",
        "CAST(dayofmonth(d) AS BIGINT) AS day_of_month",
        "CAST(datediff(d, DATE '1990-01-01') % 7 + 1 AS BIGINT) AS dow_iso",
        "(datediff(d, DATE '1990-01-01') % 7 + 1) >= 6 AS is_weekend",
        "dayofmonth(d) = 1 AS is_month_start",
        "d = last_day(d) AS is_month_end",
        "CAST(datediff(d, mn) div 7 + 1 AS BIGINT) AS week_of_series",
    )
