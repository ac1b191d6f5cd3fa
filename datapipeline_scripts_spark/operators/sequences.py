"""Event-sequence analytics over `events` — funnel conversion, the
ordered-steps query family (first step A, then step B strictly after
it), reported per entry-hour cohort.

This is the classic product/behavior-analytics workload on an event
log, and at training-data scale the same shape drives interaction-log
curation (e.g. "prompt followed by accepted completion within T").

Scale shape: both steps reduce to per-user MIN aggregates — partial
aggregation collapses each map partition to |users| rows before the
exchange, and the step-2 join is an equi-join on user_id against the
already-reduced step-1 table. Nothing touches the raw event log twice
at full width, and no window function materializes per-user event
arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datapipeline_scripts_spark.catalog import load_table
from datapipeline_scripts_spark.registry import query

_CONVERT_S = 3600  # "fast conversion" threshold

# Hot-user guard for the per-entity sequence materializers (events_ewma,
# events_path): a pathological user with millions of events must not
# OOM an executor's collect_list buffer at 100×.  The guard keeps each
# user's LAST N events via a row_number window BEFORE the collect — the
# window sort spills to disk (ExternalSorter), and the post-filter
# aggregation buffer is bounded by N, so no stage holds unbounded
# per-key state.  N is far above any fixture user (max 99 events/user
# at sf0.1), so declared-query results and oracle hashes are unchanged;
# at 100× a truncated user's EWMA differs by ≤ 0.9^4096 (≈ 0) and a
# truncated path contributes only its most recent steps — both
# documented, bounded behaviors.  Asserted by
# tests/test_extensions.py::test_sequence_folds_bound_hot_users.
MAX_EVENTS_PER_USER = 4096


def _cap_per_user(df: DataFrame, order_cols: list) -> DataFrame:
    """Keep each user's last MAX_EVENTS_PER_USER events (by event time)."""
    w = Window.partitionBy("user_id").orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= MAX_EVENTS_PER_USER)
        .drop("_rn")
    )


@query(
    "events_funnel",
    oracle=f"""
    WITH v AS (
      SELECT user_id, min(ts) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    p AS (
      SELECT v.user_id, v.t_view, min(e.ts) AS t_purchase
      FROM v JOIN events e
        ON e.user_id = v.user_id AND e.event_type = 'purchase' AND e.ts > v.t_view
      GROUP BY 1, 2
    ),
    f AS (
      SELECT v.user_id, v.t_view, p.t_purchase,
             (epoch_us(p.t_purchase) - epoch_us(v.t_view)) / 1000000.0 AS lat_s
      FROM v LEFT JOIN p ON v.user_id = p.user_id
    )
    SELECT strftime(date_trunc('hour', t_view), '%Y-%m-%d %H:00') AS cohort_hour,
           count(*) AS n_viewers,
           count(t_purchase) AS n_converted,
           CAST(count(CASE WHEN lat_s <= {_CONVERT_S} THEN 1 END) AS BIGINT)
             AS n_converted_1h,
           round(avg(lat_s), 2) AS avg_latency_s
    FROM f
    GROUP BY 1
    ORDER BY 1
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → purchase funnel per entry-hour cohort: viewers, converts
    (any purchase strictly after the first view), fast converts
    (≤ 1 h), and mean conversion latency.

    Latency compares unix_micros — never seconds-truncated casts, which
    flip results for sub-second margins (same pitfall as session
    gaps)."""
    e = load_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_purchase"))
    )
    lat = (F.unix_micros("t_purchase") - F.unix_micros("t_view")) / F.lit(1_000_000.0)
    f = v.join(p, ["user_id", "t_view"], "left").withColumn("lat_s", lat)
    return (
        f.groupBy(F.date_format(F.date_trunc("hour", "t_view"), "yyyy-MM-dd HH:00").alias("cohort_hour"))
        .agg(
            F.count("*").alias("n_viewers"),
            F.count("t_purchase").alias("n_converted"),
            F.count(F.when(F.col("lat_s") <= _CONVERT_S, 1)).cast("long").alias("n_converted_1h"),
            F.round(F.avg("lat_s"), 2).alias("avg_latency_s"),
        )
        .orderBy("cohort_hour")
    )


@query(
    "events_islands",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
             - row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id)
               AS island
      FROM events
    )
    SELECT user_id, event_type,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS run_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS run_end,
           count(*) AS n_events
    FROM seq
    GROUP BY user_id, event_type, island
    """,
)
def events_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: collapse each user's consecutive same-type
    event runs into validity intervals (run_start, run_end, n) — the
    row-number-difference trick that also builds SCD2 history tables
    from ordered change logs.

    Both row_numbers sort within the same user_id partition, so
    Catalyst plans ONE exchange on user_id and evaluates the second
    window on the already-sorted partition; (ts, event_id) tie-break
    makes run boundaries engine-independent. The grouped interval
    aggregation reuses the same partitioning — no second data-sized
    shuffle."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w_all = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        "ts",
        (F.row_number().over(w_all) - F.row_number().over(w_type)).alias("island"),
    )
    return (
        seq.groupBy("user_id", "event_type", "island")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("run_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("run_end"),
            F.count("*").alias("n_events"),
        )
        .drop("island")
    )


@query(
    "events_ewma",
    oracle=f"""
    WITH capped AS (
      SELECT user_id, ts, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS _rn
      FROM events WHERE user_id % 5 = 0
    )
    SELECT user_id,
           round(list_reduce(
             list_prepend(0.0, list(value ORDER BY ts, event_id)),
             (acc, x) -> 0.9 * acc + 0.1 * x
           ), 4) AS ewma
    FROM capped WHERE _rn <= {MAX_EVENTS_PER_USER}
    GROUP BY user_id
    """,
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event values
    (α = 0.1) — the sequential-fold operator class (EWMA, compound
    interest, stateful scores) that has no order-independent
    aggregate form.

    Determinism: both engines fold the SAME (ts, event_id)-sorted
    sequence with the SAME IEEE ops, so results are bit-identical —
    no rounding tricks needed beyond the final display round. Scale:
    collect_list state is bounded by events-per-user (the same bound
    the stateful sessionizer carries) AND hard-capped to the last
    MAX_EVENTS_PER_USER events per user (hot-user guard — see
    `_cap_per_user`; truncation error ≤ 0.9^4096 ≈ 0); the fold
    itself is per-group, embarrassingly parallel. The HOF lambda
    evaluates interpreted, which is acceptable off the hot path — a
    codegen'd running product over a window is the alternative for
    very long series."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 5 == 0)
    ev = _cap_per_user(ev.select("user_id", "ts", "event_id", "value"), ["ts", "event_id"])
    ordered = F.array_sort(F.collect_list(F.struct("ts", "event_id", "value")))
    fold = F.aggregate(
        ordered.getField("value"),
        F.lit(0.0),
        lambda acc, x: 0.9 * acc + 0.1 * x,
    )
    return ev.groupBy("user_id").agg(F.round(fold, 4).alias("ewma"))


@query(
    "events_new_users",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(date_trunc('hour', ts)) AS first_day
      FROM events
      GROUP BY user_id
    ),
    daily AS (
      SELECT first_day, count(*) AS new_users
      FROM first_seen
      GROUP BY first_day
    )
    SELECT strftime(first_day, '%Y-%m-%d %H:%M:%S') AS hour,
           new_users,
           CAST(sum(new_users) OVER (ORDER BY first_day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cumulative_users
    FROM daily
    """,
)
def events_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-user and cumulative-user growth per first-seen hour: one
    partial-aggregated reduction per user, hourly counts, then a
    running sum over the tiny per-hour frame — the standard growth
    curve, with the window sorting #days rows, never the event log."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min(F.date_trunc("hour", "ts")).alias("first_day"))
    daily = first_seen.groupBy("first_day").agg(F.count("*").alias("new_users"))
    w = W.orderBy("first_day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return daily.select(
        F.date_format("first_day", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )


@query(
    "events_retention",
    oracle="""
    WITH c AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY 1
    )
    SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(date_diff('day', c.cohort_day, CAST(e.ts AS DATE)) AS BIGINT)
             AS day_offset,
           count(DISTINCT e.user_id) AS n_users
    FROM events e
    JOIN c ON e.user_id = c.user_id
    WHERE date_diff('day', c.cohort_day, CAST(e.ts AS DATE)) <= 14
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, counted
    (distinct) at each day offset ≤ 14. The cohort table is a per-user
    MIN aggregate (partial-aggregable); the join back is an equi-join
    on user_id — at scale both sides are already partitioned by
    user_id from the first aggregation, so the exchange is reused.
    Distinct counts are exact (the scale path would swap in
    approx_count_distinct per the `approx_distinct` query)."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_day"))
    offset = F.datediff(F.to_date("ts"), F.col("cohort_day")).cast("long")
    return (
        e.join(c, "user_id")
        .withColumn("day_offset", offset)
        .filter(F.col("day_offset") <= 14)
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "day_offset",
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


@query(
    "events_anomaly",
    oracle="""
    WITH w AS (
      SELECT user_id, event_id, ts, value,
             avg(value) OVER win AS mu,
             stddev_samp(value) OVER win AS sd,
             count(*) OVER win AS n_prior
      FROM events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           value,
           round((value - mu) / sd, 3) AS z
    FROM w
    WHERE n_prior >= 5 AND sd > 0 AND abs((value - mu) / sd) > 2.5
    ORDER BY user_id, event_id
    """,
)
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window anomaly detection: each event scored against the
    trailing 10 events of the SAME user (frame excludes the current
    row — no self-contamination); flagged when |z| > 2.5 with ≥ 5
    priors. One window over the (user_id, ts) sort serves all three
    frame aggregates — single exchange + sort, no self-join. The
    z threshold compares continuous values, so the ULP drift between
    the engines' frame-sum orders can't flip row membership."""
    e = load_table(spark, sf_dir, "events")
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, -1)
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        e.select(
            "user_id",
            "event_id",
            "ts",
            "value",
            F.avg("value").over(win).alias("mu"),
            F.stddev_samp("value").over(win).alias("sd"),
            F.count("*").over(win).alias("n_prior"),
        )
        .filter((F.col("n_prior") >= 5) & (F.col("sd") > 0) & (F.abs(z) > 2.5))
        .select(
            "user_id",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            "value",
            F.round(z, 3).alias("z"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "events_attribution",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, ts, event_type,
             last_value(CASE WHEN event_type = 'click'
                             THEN struct_pack(cts := ts, ceid := event_id) END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS lc
      FROM events
      WHERE event_type IN ('click', 'purchase')
    )
    SELECT event_id AS purchase_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           lc['ceid'] AS click_id,
           (epoch_us(ts) - epoch_us(lc['cts'])) // 1000000 AS latency_s
    FROM s
    WHERE event_type = 'purchase' AND lc IS NOT NULL
      AND (epoch_us(ts) - epoch_us(lc['cts'])) // 1000000 <= 604800
    ORDER BY user_id, purchase_id
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's most
    recent click at-or-before it, within a 7-day window. One window
    over a single (user_id, ts) sort carries the (ts, id) of the last
    click forward — no self-join, no pair explosion (the same
    carry-forward discipline as the as-of join rewrite). Latency is
    exact integer seconds from microsecond arithmetic — never a
    rounded double (micro-precision values sit exactly on rounding
    boundaries)."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    lc = F.last(
        F.when(
            F.col("event_type") == "click",
            F.struct(F.col("ts").alias("cts"), F.col("event_id").alias("ceid")),
        ),
        ignorenulls=True,
    ).over(w)
    latency = (F.unix_micros("ts") - F.unix_micros("lc.cts")) / F.lit(1_000_000)
    lat_s = F.floor(latency).cast("long")
    return (
        e.withColumn("lc", lc)
        .filter((F.col("event_type") == "purchase") & F.col("lc").isNotNull())
        .withColumn("latency_s", lat_s)
        .filter(F.col("latency_s") <= 604800)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            F.col("lc.ceid").alias("click_id"),
            "latency_s",
        )
        .orderBy("user_id", "purchase_id")
    )


@query(
    "events_path",
    oracle=f"""
    WITH capped AS (
      SELECT user_id, ts, event_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS _rn
      FROM events
    ),
    seq AS (
      SELECT user_id, list(event_type ORDER BY ts, event_id) AS types
      FROM capped WHERE _rn <= {MAX_EVENTS_PER_USER} GROUP BY user_id
    ),
    tri AS (
      SELECT unnest(types[1:len(types)-2]) AS a,
             unnest(types[2:len(types)-1]) AS b,
             unnest(types[3:len(types)]) AS c
      FROM seq WHERE len(types) >= 3
    )
    SELECT a || '>' || b || '>' || c AS path, count(*) AS n
    FROM tri
    GROUP BY 1
    ORDER BY n DESC, path
    LIMIT 20
    """,
)
def events_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey path mining: top 3-step event-type sequences across
    all users. Per-user ordering is forced deterministic by sorting a
    (ts, event_id, type) struct array — a bare collect_list order is
    partition-dependent and would flip counts. The top-k orders by
    (count DESC, path) — integer-then-string, never a float frontier.
    Scale shape: per-user sequences are bounded by user activity AND
    hard-capped to the last MAX_EVENTS_PER_USER events per user (the
    hot-user guard `_cap_per_user` — the one inherently per-entity
    materialization path analysis needs stays executor-safe); the
    triple counts partial-aggregate before the final exchange."""
    e = load_table(spark, sf_dir, "events")
    e = _cap_per_user(e.select("user_id", "ts", "event_id", "event_type"), ["ts", "event_id"])
    seq = e.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("evs")
    )
    types = F.transform(F.col("evs"), lambda x: x["event_type"])
    seq = seq.select(types.alias("types")).filter(F.size("types") >= 3)

    from datapipeline_scripts_spark.functions.text import ngram_join

    paths = seq.select(
        F.explode(ngram_join(F.col("types"), 3, ">")).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("path"))
        .limit(20)
    )


_CONCURRENCY_ORACLE = """
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
  SELECT user_id, min(ts) AS s_start, max(ts) AS s_end
  FROM sess GROUP BY user_id, sid
),
boundaries AS (
  SELECT s_start AS ts, 1 AS delta, user_id FROM intervals
  UNION ALL
  SELECT s_end AS ts, -1 AS delta, user_id FROM intervals
),
swept AS (
  SELECT ts,
         sum(delta) OVER (ORDER BY ts, delta, user_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS concurrency
  FROM boundaries
)
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       CAST(max(concurrency) AS BIGINT) AS peak_concurrency,
       count(*) AS n_boundaries
FROM swept
GROUP BY 1
"""


@query("events_concurrency", oracle=_CONCURRENCY_ORACLE)
def events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per hour via the sweep-line algorithm:
    sessionize (30-min gap), explode each session interval into
    (+1 at start, −1 at end) boundary events, and take a single
    global running sum ordered by (ts, delta, user) — ends processed
    before starts at the same instant (exclusive-end semantics), and
    the tie order is total so both engines sweep identically.

    Scale: the sweep's global ORDER BY is the honest cost (the same
    one any time-ordered concurrency metric pays); boundaries are
    2×sessions rows — tiny next to events. At 100× shard the sweep by
    coarse time range (day) with per-shard offsets from a prefix
    aggregate — the standard distributed scan-line split."""
    e = load_table(spark, sf_dir, "events")
    W = Window
    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(wu)
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0).alias("new_s"),
    )
    sess = marked.withColumn(
        "sid", F.sum("new_s").over(wu.rowsBetween(W.unboundedPreceding, W.currentRow))
    )
    intervals = sess.groupBy("user_id", "sid").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    boundaries = intervals.select(
        F.col("s_start").alias("ts"), F.lit(1).alias("delta"), "user_id"
    ).unionByName(
        intervals.select(F.col("s_end").alias("ts"), F.lit(-1).alias("delta"), "user_id")
    )
    sweep = W.orderBy("ts", "delta", "user_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    swept = boundaries.withColumn("concurrency", F.sum("delta").over(sweep))
    return swept.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_start")
    ).agg(
        F.max("concurrency").cast("long").alias("peak_concurrency"),
        F.count("*").alias("n_boundaries"),
    )


_GAP_STATS_ORACLE = """
WITH gaps AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT user_id,
       count(*) AS n_gaps,
       CAST(min(gap_us) // 1000000 AS BIGINT) AS min_gap_s,
       CAST(max(gap_us) // 1000000 AS BIGINT) AS max_gap_s,
       CAST(sum(gap_us) // count(*) // 1000000 AS BIGINT) AS mean_gap_s
FROM gaps
WHERE gap_us IS NOT NULL
GROUP BY user_id
HAVING count(*) >= 5
"""


@query("events_gap_stats", oracle=_GAP_STATS_ORACLE)
def events_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap statistics per user (min/max/mean seconds,
    exact integer µs arithmetic) — the heartbeat-health metric behind
    dead-man's-switch monitoring (reference analogue: the check-in
    cadence A23 watches, /root/reference/backup.sh:379) and the input
    to session-gap threshold tuning (30 min here = where this
    distribution's tail starts).

    One user_id window + one aggregate; integer floor division on both
    engines keeps the means exact."""
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(wu)).alias("gap_us")
    gaps = e.select("user_id", gap).filter(F.col("gap_us").isNotNull())
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count("*").alias("n_gaps"),
            F.expr("min(gap_us) div 1000000").alias("min_gap_s"),
            F.expr("max(gap_us) div 1000000").alias("max_gap_s"),
            F.expr("sum(gap_us) div count(*) div 1000000").alias("mean_gap_s"),
        )
        .filter(F.col("n_gaps") >= 5)
    )


_RFM_ORACLE = """
WITH anchor AS (SELECT max(CAST(ts AS DATE)) AS a FROM events),
m AS (
  SELECT user_id,
         date_diff('day', max(CAST(ts AS DATE)), (SELECT a FROM anchor)) AS rec_days,
         count(*) AS freq,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS mon_cents
  FROM events
  GROUP BY user_id
)
SELECT user_id, rec_days, freq, mon_cents,
       6 - ntile(5) OVER (ORDER BY rec_days ASC, user_id) AS r_score,
       6 - ntile(5) OVER (ORDER BY freq DESC, user_id) AS f_score,
       6 - ntile(5) OVER (ORDER BY mon_cents DESC, user_id) AS m_score,
       CAST(6 - ntile(5) OVER (ORDER BY rec_days ASC, user_id) AS VARCHAR)
         || CAST(6 - ntile(5) OVER (ORDER BY freq DESC, user_id) AS VARCHAR)
         || CAST(6 - ntile(5) OVER (ORDER BY mon_cents DESC, user_id) AS VARCHAR) AS segment
FROM m
"""


@query("events_rfm_segments", oracle=_RFM_ORACLE)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) user segmentation: per-user
    metrics quintiled into 1-5 scores (5 = most recent / most frequent
    / highest spend) and concatenated into the classic 3-digit segment
    label — the audience-slicing primitive behind churn models and
    curation-by-engagement sampling.

    Determinism: ntile is purely positional and each ORDER BY carries
    a user_id tie-break, so bucket edges are identical cross-engine;
    money is per-row integer cents.

    Scale: the corpus collapses to one row per user in a single
    partial-aggregable pass FIRST; the three ntile windows then rank
    the |users| aggregate — the unavoidable global ordering runs on
    the smallest possible table, and 5-quantile edges could be
    replaced by approx-quantile cut points (stats_minmax_scale's
    two-pass idiom) when even |users| exceeds one machine's sort."""
    e = load_table(spark, sf_dir, "events")
    anchor = e.agg(F.max(F.to_date("ts")).alias("a"))
    m = (
        e.groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("last_day"),
            F.count("*").alias("freq"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("mon_cents"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff(F.col("a"), F.col("last_day")).alias("rec_days"),
            "freq",
            "mon_cents",
        )
    )
    # global ntile windows over the |users|-sized RFM aggregate (never
    # raw events); at extreme |users| the exact substitution is the
    # range-partitioned prefix-sum rank (orders_abc_pareto pattern)
    wr = Window.orderBy(F.col("rec_days").asc(), F.col("user_id"))
    wf = Window.orderBy(F.col("freq").desc(), F.col("user_id"))
    wm = Window.orderBy(F.col("mon_cents").desc(), F.col("user_id"))
    scored = m.select(
        "user_id",
        "rec_days",
        "freq",
        "mon_cents",
        (F.lit(6) - F.ntile(5).over(wr)).alias("r_score"),
        (F.lit(6) - F.ntile(5).over(wf)).alias("f_score"),
        (F.lit(6) - F.ntile(5).over(wm)).alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


_LTV_ORACLE = """
WITH o AS (
  SELECT o_custkey,
         (year(o_orderdate) * 12 + month(o_orderdate)) AS ym,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
cohort AS (SELECT o_custkey, min(ym) AS cohort_ym FROM o GROUP BY o_custkey),
sized AS (SELECT cohort_ym, count(*) AS cohort_users FROM cohort GROUP BY cohort_ym),
cell AS (
  SELECT c.cohort_ym, o.ym - c.cohort_ym AS age_months,
         CAST(sum(o.cents) AS BIGINT) AS rev_cents
  FROM o JOIN cohort c USING (o_custkey)
  GROUP BY c.cohort_ym, o.ym - c.cohort_ym
),
curve AS (
  SELECT cohort_ym, age_months, rev_cents,
         CAST(sum(rev_cents) OVER (
           PARTITION BY cohort_ym ORDER BY age_months
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
  FROM cell
)
SELECT cohort_ym, age_months, rev_cents, cum_cents,
       CAST(cum_cents // cohort_users AS BIGINT) AS ltv_cents_per_user,
       CAST(cohort_users AS BIGINT) AS cohort_users
FROM curve JOIN sized USING (cohort_ym)
"""


@query("orders_ltv_cohorts", oracle=_LTV_ORACLE)
def orders_ltv_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: customers grouped by first-order month, each
    cohort's revenue accumulated over account age in months, and the
    per-customer lifetime value in exact integer cents (floor
    division) — events_retention's count matrix with MONEY on a
    (cohort × age) grid, over the 51 real acquisition months the
    orders table spans.

    Scale: two partial-aggregable passes (per-customer cohort, then
    per-cell revenue); the cumulative window partitions by cohort over
    the bounded |cohorts|×|ages| grid; cohort sizes broadcast."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cohort = o.groupBy("o_custkey").agg(F.min("ym").alias("cohort_ym"))
    sized = cohort.groupBy("cohort_ym").agg(F.count("*").alias("cohort_users"))
    cell = (
        o.join(cohort, "o_custkey")
        .groupBy("cohort_ym", (F.col("ym") - F.col("cohort_ym")).alias("age_months"))
        .agg(F.sum("cents").alias("rev_cents"))
    )
    wc = (
        Window.partitionBy("cohort_ym")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cell.withColumn("cum_cents", F.sum("rev_cents").over(wc))
        .join(F.broadcast(sized), "cohort_ym")
        .select(
            "cohort_ym",
            "age_months",
            "rev_cents",
            "cum_cents",
            F.expr("CAST(cum_cents div cohort_users AS BIGINT)").alias(
                "ltv_cents_per_user"
            ),
            F.col("cohort_users").cast("long").alias("cohort_users"),
        )
    )


_PATTERN_ORACLE = """
WITH seqs AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
  FROM events GROUP BY user_id
)
SELECT user_id, n_events,
       CAST(length(seq) AS BIGINT) AS seq_len,
       CAST(len(regexp_extract_all(seq, 'vc*p')) AS BIGINT) AS n_conversions,
       contains(seq, 'e') AS has_error
FROM seqs
"""


@query("events_pattern_regex", oracle=_PATTERN_ORACLE)
def events_pattern_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern matching: each user's
    event history collapses to an ordered initial-letter string
    (v=view, c=click, p=purchase, ...), and conversions are counted as
    non-overlapping matches of the regex ``vc*p`` — view, any clicks,
    purchase. The regex IS the pattern language: swapping in a new
    funnel definition is a one-token change, which is exactly the
    MATCH_RECOGNIZE use case Spark lacks natively.

    Determinism: collect_list order is undefined, so the sequence is
    rebuilt via array_sort over (ts, event_id, initial) structs —
    unique total order — before joining to a string; the oracle's
    string_agg ORDER BY ts, event_id mirrors it. Greedy non-overlapping
    scan agrees between Java regex and RE2 for this pattern class (no
    alternation ambiguity).

    Scale: one user_id shuffle; per-user state is the initial string,
    bounded by the same MAX_EVENTS_PER_USER cap argument as the
    sequence family (a hot-user guard would prepend _cap_user_events;
    left uncapped here because the declared output is per-user exact)."""
    e = load_table(spark, sf_dir, "events")
    seqs = e.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "struct(ts, event_id, substring(event_type, 1, 1) AS ini))), "
            "x -> x.ini), '')"
        ).alias("seq"),
    )
    return seqs.select(
        "user_id",
        "n_events",
        F.length("seq").cast("long").alias("seq_len"),
        F.expr("regexp_count(seq, 'vc*p')").cast("long").alias("n_conversions"),
        F.col("seq").contains("e").alias("has_error"),
    )


_TTC_ORACLE = """
WITH first_view AS (
  SELECT user_id, min(ts) AS v_ts FROM events WHERE event_type = 'view' GROUP BY user_id
),
first_purchase AS (
  SELECT e.user_id, min(e.ts) AS p_ts
  FROM events e JOIN first_view v ON e.user_id = v.user_id AND e.ts > v.v_ts
  WHERE e.event_type = 'purchase'
  GROUP BY e.user_id
)
SELECT v.user_id,
       CAST((epoch_us(p.p_ts) - epoch_us(v.v_ts)) // 1000000 AS BIGINT) AS secs_to_convert
FROM first_view v JOIN first_purchase p ON v.user_id = p.user_id
"""


@query("events_time_to_convert", oracle=_TTC_ORACLE)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch conversion latency: per user, seconds from the
    first view to the first purchase strictly after it — the funnel
    family's timing metric (events_funnel counts who converts;
    this measures how long it takes). Exact integer seconds via
    unix_micros ≡ epoch_us (Spark's unix_timestamp truncates to whole
    seconds and would drift — documented trap).

    Scale: two per-user min aggregates (both map-side combinable) and
    two keyed joins on user_id sharing one partitioning — no windows,
    no fanout beyond one row per converting user."""
    e = load_table(spark, sf_dir, "events")
    first_view = (
        e.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("v_ts"))
    )
    first_purchase = (
        e.filter(F.col("event_type") == "purchase")
        .join(first_view, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        first_view.join(first_purchase, "user_id")
        .selectExpr(
            "user_id",
            "CAST((unix_micros(p_ts) - unix_micros(v_ts)) div 1000000 AS BIGINT)"
            " AS secs_to_convert",
        )
    )
