"""E6 — as-of join: each event matched to the latest order at-or-before
its timestamp for the same user (events.user_id ↔ orders.o_custkey).

The DuckDB oracle uses its native ASOF LEFT JOIN; Spark has no as-of
operator, so the engine composes one from built-ins with the
union-sort carry-forward:

  tag orders/events → union → window per user ordered by time
  (orders first on ties) → last(order cols, ignorenulls) carried
  onto each event row.

Scale: one shuffle on the user key, one sort, |events|+|orders| rows
total — no intermediate (event × earlier-order) pair blow-up. For
sorted-bucket layouts, `applyInPandas` + `pandas.merge_asof` per
key-partition is the zero-extra-shuffle alternative (see
`asof_join_pandas`).

Determinism: orders are first deduped to one row per (custkey,
orderdate) — max orderkey wins — because the as-of tie between two
same-timestamp orders is otherwise engine-defined.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F, types as T

from datapipeline_scripts_spark.catalog import load_table
from datapipeline_scripts_spark.registry import query

_DEDUP_ORDERS_SQL = """
      SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
      FROM (SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                      ORDER BY o_orderkey DESC) AS rn
            FROM orders)
      WHERE rn = 1
"""


@query(
    "asof_join",
    oracle=f"""
    WITH o AS ({_DEDUP_ORDERS_SQL})
    SELECT e.event_id,
           e.user_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           o.o_orderkey,
           round(o.o_totalprice, 2) AS totalprice
    FROM events e
    ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (nearest-before) join via the union-sort carry-forward:
    tag both sides, union, partition by the user key, sort by time with
    orders before events on ties, and carry the latest order's columns
    onto each event with last(ignorenulls) over an unbounded-preceding
    frame.

    This replaced an equi+range join + pick-latest window: that plan
    materializes every (event, earlier-order) pair before discarding
    all but one — row volume Σ_user |events_u|·|orders_u|, quadratic
    per hot user at 100 TB. The union-sort form is one shuffle on the
    user key + one sort, output exactly |events| + |orders| rows, and
    the carry-forward runs in whole-stage codegen."""
    e = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    wdedup = W.partitionBy("o_custkey", "o_orderdate").orderBy(F.col("o_orderkey").desc())
    o1 = (
        o.withColumn("rn", F.row_number().over(wdedup))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    )
    o_tag = o1.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"),
        F.lit(1).alias("is_order"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
        "o_orderkey",
        "o_totalprice",
    )
    e_tag = e.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(0).alias("is_order"),
        "event_id",
        "ts",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    # orders sort before events at the same timestamp (ts >= orderdate
    # means an order dated exactly at ts matches the event)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("t"), F.col("is_order").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = (
        o_tag.unionByName(e_tag)
        .withColumn("asof_orderkey", F.last("o_orderkey", ignorenulls=True).over(w))
        .withColumn("asof_totalprice", F.last("o_totalprice", ignorenulls=True).over(w))
    )
    return carried.filter(F.col("is_order") == 0).select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.col("asof_orderkey").alias("o_orderkey"),
        F.round("asof_totalprice", 2).alias("totalprice"),
    )


_ASOF_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("o_orderkey", T.LongType()),
    ]
)


def _merge_asof_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """One vectorized ``merge_asof(by='user_id')`` per PARTITION
    (optimization r14, guide §4.1): the old form ran
    groupBy(user_id).applyInPandas — one Python call and one pandas
    merge per USER, so tens of thousands of tiny groups paid the
    per-call Arrow/pandas overhead (measured 39 s at sf0.1 vs ~1 s).
    The partition's batches are concatenated (all rows of a user share
    one hash partition, so the merge state never crosses a boundary)
    and `by='user_id'` runs the per-user backward scan in one pass."""
    chunks = list(batches)
    if not chunks:
        return
    pdf = pd.concat(chunks, ignore_index=True)
    events = (
        pdf[pdf["side"] == "e"][["event_id", "user_id", "ts"]]
        .sort_values("ts", kind="stable")
        .reset_index(drop=True)
    )
    orders = (
        pdf[pdf["side"] == "o"][["user_id", "o_orderkey", "ts"]]
        # same-ts tie-break as asof_join/_DEDUP_ORDERS_SQL: max
        # orderkey wins, so the merge is engine-deterministic
        # (duplicates of a (user, ts) are contiguous in orderkey order
        # after the sort, so keep='last' keeps the max orderkey; the
        # frame stays ts-sorted, which merge_asof requires)
        .sort_values(["ts", "o_orderkey"], kind="stable")
        .drop_duplicates(subset=["user_id", "ts"], keep="last")
        .reset_index(drop=True)
    )
    if events.empty:
        return
    merged = pd.merge_asof(events, orders, on="ts", by="user_id", direction="backward")
    yield merged[["event_id", "user_id", "o_orderkey"]]


@query(
    "asof_join_pandas",
    oracle=f"""
    WITH o AS ({_DEDUP_ORDERS_SQL})
    SELECT e.event_id, e.user_id, o.o_orderkey
    FROM events e
    ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def asof_join_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same as-of semantics via union → repartition by user →
    within-partition sort → Arrow-batched `pandas.merge_asof`.

    This is the single-shuffle scale path: both tables shuffle once on
    the key, and the merge is a linear scan per partition — no
    candidate-pair blowup for users with many orders. Fully
    oracle-checked since round 2: the per-user pandas merge dedupes
    same-timestamp orders to the max orderkey (identical tie-break to
    `asof_join`'s oracle), making the output engine-deterministic."""
    e = load_table(spark, sf_dir, "events").select(
        F.lit("e").alias("side"), "event_id", "user_id", "ts", F.lit(None).cast("long").alias("o_orderkey")
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.lit("o").alias("side"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey"),
    )
    both = e.unionByName(o).repartition("user_id")
    # mapInPandas receives the whole partition as a batch iterator;
    # all rows of a user share one hash partition, and the worker
    # sorts + merges the partition in ONE pandas pass (see
    # _merge_asof_partition — the per-user applyInPandas form paid
    # per-group Python overhead for tens of thousands of tiny groups).
    return both.select("side", "event_id", "user_id", "ts", "o_orderkey").mapInPandas(
        _merge_asof_partition, schema=_ASOF_SCHEMA
    )


@query(
    "asof_join_nearest",
    oracle="""
    WITH buys AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT event_id AS click_id, user_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ),
    cand AS (
      SELECT b.event_id, b.user_id,
             strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
             c.click_id,
             abs(epoch_us(b.ts) - epoch_us(c.click_ts)) AS dist_us,
             row_number() OVER (
               PARTITION BY b.event_id
               ORDER BY abs(epoch_us(b.ts) - epoch_us(c.click_ts)), c.click_id) AS rn
      FROM buys b
      JOIN clicks c ON b.user_id = c.user_id
       AND c.click_ts BETWEEN b.ts - INTERVAL 2 HOUR AND b.ts + INTERVAL 2 HOUR
    )
    SELECT event_id, user_id, ts_s, click_id,
           CAST(dist_us // 1000000 AS BIGINT) AS dist_s
    FROM cand WHERE rn = 1
    """,
)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional nearest-neighbor as-of: each purchase matched to
    the CLOSEST click in time (either direction) by the same user
    within a ±2 h tolerance — the `merge_asof(direction='nearest')`
    semantics plain backward as-of can't express. Deterministic
    tie-break: smallest |Δt|, then min click_id (two clicks
    equidistant on opposite sides must resolve identically
    cross-engine).

    Plan: equi-join on the user key with the tolerance as a range
    residual (no pair explosion beyond the window), then one
    per-purchase row_number — the band-join + rank composition,
    bounded by clicks-per-user-per-4-hours. At 100× the tolerance is
    the state bound, exactly like the stream-stream join's watermark
    range."""
    ev = load_table(spark, sf_dir, "events")
    buys = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    cand = buys.join(
        clicks,
        (buys.user_id == clicks.c_user)
        & (clicks.click_ts >= buys.ts - F.expr("INTERVAL 2 HOUR"))
        & (clicks.click_ts <= buys.ts + F.expr("INTERVAL 2 HOUR")),
    ).select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "click_id",
        F.abs(F.unix_micros("ts") - F.unix_micros("click_ts")).alias("dist_us"),
    )
    wnear = W.partitionBy("event_id").orderBy("dist_us", "click_id")
    return (
        cand.withColumn("rn", F.row_number().over(wnear))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "ts_s", "click_id", F.expr("dist_us div 1000000").alias("dist_s"))
    )
