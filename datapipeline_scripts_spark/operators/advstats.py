"""Advanced statistics and analytics-reporting operators: ANOVA,
Kaplan-Meier survival, Pareto/ABC via a distributed exact prefix sum,
deterministic replicate-weight bootstrap, Theil-Sen, Mann-Whitney,
IQR fences, linear interpolation, equal-frequency binning, HHI,
timezone rollups, rolling active users, A/B readouts (SRM + the
one-plan experiment flagship), top-N+OTHER, session bounce, M4
downsampling, type-affinity lift, business-day latency, and the
revenue waterfall.

These extend the engine's experimentation/reporting surface (SURVEY.md
§2.D "declared engine catalog" statistics family; the reference delegates
all statistics to its backing SQL engines — /root/reference/backup.sh
runs the queries it is given, so the analytics surface is ours to
define). Exactness follows the repo idiom: sufficient statistics
accumulate as exact integers/decimals at fact scale; double arithmetic
only ever runs over the tiny aggregated result in a deterministic order
(see stats_ttest / stats_chi2 in aggregates.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datapipeline_scripts_spark.catalog import load_table
from datapipeline_scripts_spark.functions.text import md5_48, md5_48_sql
from datapipeline_scripts_spark.registry import query


@query(
    "stats_anova",
    oracle="""
    WITH g AS (
      SELECT event_type,
             count(*) AS n,
             sum(CAST(value AS DECIMAL(19,6))) AS s,
             sum(CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(19,6))) AS q
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS n_obs, sum(s) AS s_all,
             CAST(count(*) AS BIGINT) AS n_groups
      FROM g
    ),
    terms AS (
      SELECT n_groups, n_obs,
             n * (CAST(s AS DOUBLE) / n - CAST(s_all AS DOUBLE) / n_obs)
               * (CAST(s AS DOUBLE) / n - CAST(s_all AS DOUBLE) / n_obs) AS term_b,
             CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n AS term_w
      FROM g CROSS JOIN tot
    ),
    ss AS (
      SELECT any_value(n_groups) AS n_groups, any_value(n_obs) AS n_obs,
             round(sum(term_b), 4) AS ss_between, round(sum(term_w), 4) AS ss_within
      FROM terms
    )
    SELECT n_groups, n_obs, ss_between, ss_within,
           round((ss_between / (n_groups - 1)) / (ss_within / (n_obs - n_groups)), 4)
             AS f_stat
    FROM ss
    """,
)
def stats_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of event value across event types, from one
    conditional-aggregation pass: per-group n/Σx/Σx² accumulate as
    EXACT decimals (the shuffle carries three numbers per group), the
    between/within sums of squares are double arithmetic over the
    handful of group rows, and the F statistic derives from the
    ROUNDED sums so both engines divide identical inputs. At 100 TB
    this is one map-side-combined aggregation; everything after runs
    on k rows."""
    e = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(19,6)")
    g = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(v).alias("s"),
        F.sum(v * v).alias("q"),
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("n_obs"),
        F.sum("s").alias("s_all"),
        F.count("*").cast("long").alias("n_groups"),
    )
    m_g = F.col("s").cast("double") / F.col("n")
    m_all = F.col("s_all").cast("double") / F.col("n_obs")
    term_b = F.col("n") * (m_g - m_all) * (m_g - m_all)
    term_w = F.col("q").cast("double") - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    ss = (
        g.crossJoin(F.broadcast(tot))
        .select("n_groups", "n_obs", term_b.alias("term_b"), term_w.alias("term_w"))
        .agg(
            F.any_value("n_groups").alias("n_groups"),
            F.any_value("n_obs").alias("n_obs"),
            F.round(F.sum("term_b"), 4).alias("ss_between"),
            F.round(F.sum("term_w"), 4).alias("ss_within"),
        )
    )
    f_stat = (F.col("ss_between") / (F.col("n_groups") - 1)) / (
        F.col("ss_within") / (F.col("n_obs") - F.col("n_groups"))
    )
    return ss.select(
        "n_groups", "n_obs", "ss_between", "ss_within", F.round(f_stat, 4).alias("f_stat")
    )


@query(
    "events_survival_km",
    oracle="""
    WITH cutoff AS (SELECT max(ts) AS mx FROM events),
    users AS (
      SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
      FROM events GROUP BY 1
    ),
    lifet AS (
      SELECT date_diff('day', CAST(first_ts AS DATE), CAST(last_ts AS DATE))
               AS duration_days,
             CASE WHEN last_ts < mx - INTERVAL 7 DAY THEN 1 ELSE 0 END AS death
      FROM users CROSS JOIN cutoff
    ),
    per_d AS (
      SELECT duration_days, CAST(sum(death) AS BIGINT) AS deaths,
             CAST(count(*) AS BIGINT) AS n_ending
      FROM lifet GROUP BY 1
    ),
    risk AS (
      SELECT duration_days, deaths,
             CAST(sum(n_ending) OVER () AS BIGINT)
               - CAST(coalesce(sum(n_ending) OVER (
                   ORDER BY duration_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS at_risk
      FROM per_d
    )
    SELECT CAST(duration_days AS BIGINT) AS duration_days, at_risk, deaths,
           round(product(CAST(at_risk - deaths AS DOUBLE) / at_risk) OVER (
             ORDER BY duration_days
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS survival
    FROM risk ORDER BY duration_days
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival over user lifetimes (days between first
    and last event; users still active within 7 days of the corpus
    max timestamp are right-censored). The fact table reduces to one
    row per user, then one row per distinct duration — the KM curve
    itself lives on a calendar-bounded table (≤ days in the fixture
    window), so the unpartitioned ordered window that forms the
    product runs on a few hundred rows no matter the corpus size.
    Survival is a cumulative PRODUCT of exact-integer-ratio factors
    (never exp(sum(ln)) — both engines multiply the same doubles in
    the same ascending-duration order, so the rounded curve is
    bit-stable)."""
    e = load_table(spark, sf_dir, "events")
    cutoff = e.agg(F.max("ts").alias("mx"))
    users = e.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    lifet = users.crossJoin(F.broadcast(cutoff)).select(
        F.datediff(F.col("last_ts").cast("date"), F.col("first_ts").cast("date")).alias(
            "duration_days"
        ),
        F.when(F.col("last_ts") < F.col("mx") - F.expr("INTERVAL 7 DAY"), 1)
        .otherwise(0)
        .alias("death"),
    )
    per_d = lifet.groupBy("duration_days").agg(
        F.sum("death").cast("long").alias("deaths"),
        F.count("*").cast("long").alias("n_ending"),
    )
    # bounded-domain global windows: input is the per-duration aggregate
    # (|distinct durations| rows), not per-subject lifetimes
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_prev = Window.orderBy("duration_days").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("duration_days").rowsBetween(Window.unboundedPreceding, 0)
    risk = per_d.select(
        "duration_days",
        "deaths",
        (
            F.sum("n_ending").over(w_all) - F.coalesce(F.sum("n_ending").over(w_prev), F.lit(0))
        )
        .cast("long")
        .alias("at_risk"),
    )
    factor = (F.col("at_risk") - F.col("deaths")).cast("double") / F.col("at_risk")
    return risk.select(
        F.col("duration_days").cast("long").alias("duration_days"),
        "at_risk",
        "deaths",
        F.round(F.product(factor).over(w_cum), 6).alias("survival"),
    ).orderBy("duration_days")


@query(
    "orders_abc_pareto",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM lineitem GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(rev_cents) AS BIGINT) AS total_cents FROM rev
    ),
    ranked AS (
      SELECT l_partkey, rev_cents, total_cents,
             CAST(sum(rev_cents) OVER (
               ORDER BY rev_cents DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_cents
      FROM rev CROSS JOIN tot
    ),
    classed AS (
      SELECT CASE WHEN cum_cents * 100 <= total_cents * 70 THEN 'A'
                  WHEN cum_cents * 100 <= total_cents * 90 THEN 'B'
                  ELSE 'C' END AS pareto_class,
             rev_cents, total_cents
      FROM ranked
    )
    SELECT pareto_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(rev_cents) AS BIGINT) AS class_revenue_cents,
           round(CAST(sum(rev_cents) AS DOUBLE) / any_value(total_cents), 6)
             AS class_share
    FROM classed GROUP BY 1 ORDER BY 1
    """,
)
def orders_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by revenue: parts covering
    the first 70% of cumulative revenue are class A, to 90% B, the
    tail C. The cumulative sum is the textbook global-window trap
    (Window.orderBy with no partition → one task), so this runs the
    DISTRIBUTED exact prefix sum instead: range-repartition by the
    sort key, per-partition local cumsum, then add each partition's
    exclusive prefix offset (a broadcast of ~numPartitions rows).
    The result is identical to the single-task form for any partition
    boundary placement — classification compares exact integer cents
    (cum*100 <= total*70), so no float boundary can flip a part's
    class between engines."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    rev = li.groupBy("l_partkey").agg(F.sum(cents).alias("rev_cents"))
    # localCheckpoint pins the range partitioning: `ranked` feeds both the
    # local cumsum and the per-partition offsets, and the range partitioner
    # samples — two independent evaluations could place boundaries
    # differently, mismatching pid between the branches.
    ranked = (
        rev.repartitionByRange(32, F.desc("rev_cents"), F.asc("l_partkey"))
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    # total derives from the checkpointed rows — a rev.agg() would
    # rescan lineitem end-to-end for one number (review finding)
    tot = ranked.agg(F.sum("rev_cents").cast("long").alias("total_cents"))
    w_local = Window.partitionBy("pid").orderBy(
        F.desc("rev_cents"), F.asc("l_partkey")
    ).rowsBetween(Window.unboundedPreceding, 0)
    local = ranked.withColumn("local_cum", F.sum("rev_cents").over(w_local))
    # bounded-domain global window: one row per input PARTITION (pid),
    # i.e. shuffle-width-many rows — the distributed-prefix-sum stitch
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        ranked.groupBy("pid")
        .agg(F.sum("rev_cents").alias("part_total"))
        .select("pid", F.coalesce(F.sum("part_total").over(w_off), F.lit(0)).alias("offset"))
    )
    cum = (
        local.join(F.broadcast(offsets), "pid")
        .crossJoin(F.broadcast(tot))
        .select(
            (F.col("local_cum") + F.col("offset")).alias("cum_cents"),
            "rev_cents",
            "total_cents",
        )
    )
    cls = (
        F.when(F.col("cum_cents") * 100 <= F.col("total_cents") * 70, "A")
        .when(F.col("cum_cents") * 100 <= F.col("total_cents") * 90, "B")
        .otherwise("C")
    )
    return (
        cum.select(cls.alias("pareto_class"), "rev_cents", "total_cents")
        .groupBy("pareto_class")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("rev_cents").cast("long").alias("class_revenue_cents"),
            F.round(
                F.sum("rev_cents").cast("double") / F.any_value("total_cents"), 6
            ).alias("class_share"),
        )
        .orderBy("pareto_class")
    )


@query(
    "stats_bootstrap_ci",
    oracle=f"""
    WITH hashed AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c,
             md5(CAST(o_orderkey AS VARCHAR) || ':0')
               || md5(CAST(o_orderkey AS VARCHAR) || ':1')
               || md5(CAST(o_orderkey AS VARCHAR) || ':2')
               || md5(CAST(o_orderkey AS VARCHAR) || ':3') AS h
      FROM orders
    ),
    reps AS (
      SELECT b,
             CAST(sum(c) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM hashed CROSS JOIN (SELECT unnest(range(0, 64)) AS b)
      WHERE (strpos('0123456789abcdef', substr(h, b * 2 + 1, 1)) - 1) * 16
            + strpos('0123456789abcdef', substr(h, b * 2 + 2, 1)) - 1 < 162
      GROUP BY b
    ),
    ranked AS (
      SELECT CAST(s AS DOUBLE) / n AS mean_cents,
             row_number() OVER (ORDER BY CAST(s AS DOUBLE) / n, b) AS rn,
             count(*) OVER () AS n_reps
      FROM reps
    ),
    point AS (
      SELECT round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                   / count(*), 2) AS point_mean_cents
      FROM orders
    )
    SELECT CAST(any_value(n_reps) AS BIGINT) AS n_reps,
           any_value(point_mean_cents) AS point_mean_cents,
           round(max(CASE WHEN rn = 4 THEN mean_cents END), 2) AS ci_lo_cents,
           round(max(CASE WHEN rn = 61 THEN mean_cents END), 2) AS ci_hi_cents
    FROM ranked CROSS JOIN point
    """,
)
def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic bootstrap confidence interval for mean order value
    via replicate weights: 64 subsample replicates, membership decided
    per (order, replicate) from four cross-engine md5 digests per row
    (concatenated to 64 disjoint hex bytes): replicate b reads byte b
    and includes the row when it is < 162 (Bernoulli p=162/256≈0.633,
    the classic m-out-of-n bootstrap rate), so both engines draw
    literally the same replicates at 4 — not 64 — hashes per row. Map-side the fact expands ×64 but
    combines to 64 partial rows before the shuffle — the canonical
    scale-out bootstrap (replicate weights, not data copies). The CI
    bounds are exact order statistics of the 64 replicate means
    (ranks 4 and 61 ≈ 5th/95th percentile, winsorize rank formula);
    each mean is an exact-integer-cents / exact-count division."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    # FOUR md5s per ROW (a concatenated 512-bit digest gives each of
    # the 64 replicates a disjoint hex byte), and the replicate sums
    # as 128 CONDITIONAL AGGREGATES in one pass — no explode, no
    # 64x-row shuffle: measured 5.6s (explode form) -> 0.23s at sf0.1.
    # The one wide row then unpivots to 64 replicate rows via stack().
    pre = o.select(
        cents.alias("cents"),
        F.concat(
            *[
                F.md5(F.concat_ws(":", F.col("o_orderkey"), F.lit(g)).cast("binary"))
                for g in range(4)
            ]
        ).alias("h"),
    )
    aggs = []
    for b in range(64):
        byte = F.expr(f"CAST(conv(substring(h, {2 * b + 1}, 2), 16, 10) AS BIGINT)")
        hit = byte < 162
        aggs.append(F.sum(F.when(hit, F.col("cents"))).alias(f"s{b}"))
        aggs.append(F.count(F.when(hit, F.lit(1))).alias(f"n{b}"))
    wide = pre.agg(*aggs)
    # unpivot via explode(array(struct...)) — NOT stack(): a stack()
    # Generate above this 128-aggregate node measurably disables the
    # aggregation stage's codegen (6.4s vs 0.25s at sf0.1); the
    # explode form keeps the fast plan
    rep_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("b"),
                F.col(f"s{b}").alias("s"),
                F.col(f"n{b}").alias("n"),
            )
            for b in range(64)
        ]
    )
    reps = (
        wide.select(F.explode(rep_structs).alias("r"))
        .select(
            F.col("r.b").alias("b"),
            F.col("r.s").cast("long").alias("s"),
            F.col("r.n").cast("long").alias("n"),
        )
    )
    mean_c = F.col("s").cast("double") / F.col("n")
    # bounded-domain global window: ranks the 64 bootstrap replicate
    # means (64 rows at ANY corpus size)
    w_rank = Window.orderBy(mean_c, F.col("b"))
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = reps.select(
        mean_c.alias("mean_cents"),
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_all).alias("n_reps"),
    )
    point = o.agg(
        F.round(F.sum(cents).cast("double") / F.count("*"), 2).alias("point_mean_cents")
    )
    return ranked.crossJoin(F.broadcast(point)).agg(
        F.any_value("n_reps").cast("long").alias("n_reps"),
        F.any_value("point_mean_cents").alias("point_mean_cents"),
        F.round(F.max(F.when(F.col("rn") == 4, F.col("mean_cents"))), 2).alias("ci_lo_cents"),
        F.round(F.max(F.when(F.col("rn") == 61, F.col("mean_cents"))), 2).alias("ci_hi_cents"),
    )


_INTERP_ORACLE = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE user_id % 13 = 0 AND event_type = 'purchase'
  GROUP BY 1, 2
),
span AS (SELECT user_id, min(day) AS mn, max(day) AS mx FROM daily GROUP BY 1),
cal AS (
  SELECT user_id,
         CAST(unnest(generate_series(CAST(mn AS TIMESTAMP), CAST(mx AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM span
),
j AS (
  SELECT c.user_id, c.day, d.cents FROM cal c
  LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
),
anch AS (
  SELECT user_id, day, cents,
         last_value(cents IGNORE NULLS) OVER wb AS prev_c,
         last_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
           OVER wb AS prev_d,
         first_value(cents IGNORE NULLS) OVER wf AS next_c,
         first_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
           OVER wf AS next_d
  FROM j
  WINDOW
    wb AS (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wf AS (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
       round(CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
                  ELSE CAST(prev_c AS DOUBLE)
                       + CAST(next_c - prev_c AS DOUBLE)
                         * date_diff('day', prev_d, day)
                         / date_diff('day', prev_d, next_d)
             END, 2) AS interp_cents,
       (cents IS NULL) AS is_gap
FROM anch
"""


@query("time_interpolate_linear", oracle=_INTERP_ORACLE)
def time_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing days in an irregular per-user
    daily revenue series — the sibling of `time_fill_forward` for
    metrics where a step function biases downstream rolling math.
    Each user's calendar spine spans their own first..last observed
    day, so every gap is interior and both anchors exist. The
    interpolant is exact-integer-cents endpoints + integer day
    offsets combined in one fixed double expression — identical on
    both engines. All windows partition by user_id (no global
    ordering); the spine explodes from a per-user 2-column bound row,
    so spine size is users × span, never corpus-sized."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.filter((F.col("user_id") % 13 == 0) & (F.col("event_type") == "purchase"))
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    )
    span = daily.groupBy("user_id").agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    cal = span.select("user_id", F.explode(F.sequence("mn", "mx")).alias("day"))
    j = cal.join(daily, ["user_id", "day"], "left")
    wb = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("cents").isNotNull(), F.col("day"))
    anch = j.select(
        "user_id",
        "day",
        "cents",
        F.last("cents", ignorenulls=True).over(wb).alias("prev_c"),
        F.last(obs_day, ignorenulls=True).over(wb).alias("prev_d"),
        F.first("cents", ignorenulls=True).over(wf).alias("next_c"),
        F.first(obs_day, ignorenulls=True).over(wf).alias("next_d"),
    )
    interp = (
        F.when(F.col("cents").isNotNull(), F.col("cents").cast("double")).otherwise(
            F.col("prev_c").cast("double")
            + (F.col("next_c") - F.col("prev_c")).cast("double")
            * F.datediff("day", "prev_d")
            / F.datediff("next_d", "prev_d")
        )
    )
    return anch.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(interp, 2).alias("interp_cents"),
        F.col("cents").isNull().alias("is_gap"),
    )


@query(
    "stats_quantile_bins",
    oracle="""
    WITH cents AS (
      SELECT o_orderpriority AS pri, o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS c
      FROM orders
    ),
    ranked AS (
      SELECT pri, c,
             row_number() OVER (PARTITION BY pri ORDER BY c, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY pri) AS n
      FROM cents
    )
    SELECT pri, CAST(((rn - 1) * 10) // n + 1 AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(min(c) AS BIGINT) AS lo_cents,
           CAST(max(c) AS BIGINT) AS hi_cents,
           CAST(sum(c) AS BIGINT) AS decile_cents
    FROM ranked GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def stats_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency decile binning of order value within each order
    priority (the histogram-equalized sibling of `stats_histogram`'s
    equal-width bins). Bin assignment is pure integer arithmetic over
    the deterministic rank — ((rn-1)*10) div n + 1 — so bin edges can
    never float-drift between engines; per-bin stats are exact cents.
    The ranking window partitions by priority (the stats_winsorize
    scale argument: per-group ordering, no global funnel)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("pri").orderBy("c", "o_orderkey")
    wn = Window.partitionBy("pri")
    ranked = o.select(
        F.col("o_orderpriority").alias("pri"),
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    ).select(
        "pri",
        "c",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    return (
        ranked.select(
            "pri",
            "c",
            F.expr("CAST(((rn - 1) * 10) div n + 1 AS BIGINT)").alias("decile"),
        )
        .groupBy("pri", "decile")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.min("c").cast("long").alias("lo_cents"),
            F.max("c").cast("long").alias("hi_cents"),
            F.sum("c").cast("long").alias("decile_cents"),
        )
        .orderBy("pri", "decile")
    )


@query(
    "events_hhi_concentration",
    oracle="""
    WITH per_user AS (
      SELECT event_type, user_id, count(*) AS n_u
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(sum(n_u) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(floor(10000.0 * CAST(sum(n_u * n_u) AS DOUBLE)
                      / (CAST(sum(n_u) AS DOUBLE) * CAST(sum(n_u) AS DOUBLE)))
             AS BIGINT) AS hhi_bp,
           CAST((10000 * max(n_u)) // sum(n_u) AS BIGINT) AS top_share_bp
    FROM per_user GROUP BY 1 ORDER BY 1
    """,
)
def events_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of user activity per event
    type — how dominated each event stream is by its heaviest users
    (the audit that catches one bot generating half a 100 TB crawl).
    HHI = Σ share² computed from EXACT integer sufficient statistics
    (Σn, Σn²) in basis points: the ratio is formed once in double from
    identical integers, then floored — never a float sum across users.
    Two keyed aggregations, both map-side combinable; the second runs
    on |types × active users| rows. At extreme scale Σn² outgrows
    BIGINT around n_events ≈ 3·10⁹ per type — swap the sums to
    DECIMAL(38,0) there; the fixture range is exact as written."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("event_type", "user_id").agg(F.count("*").alias("n_u"))
    hhi = F.floor(
        10000.0
        * F.sum(F.col("n_u") * F.col("n_u")).cast("double")
        / (F.sum("n_u").cast("double") * F.sum("n_u").cast("double"))
    ).cast("long")
    return (
        per_user.groupBy("event_type")
        .agg(
            F.sum("n_u").cast("long").alias("n_events"),
            F.count("*").cast("long").alias("n_users"),
            hhi.alias("hhi_bp"),
            F.expr("CAST((10000 * max(n_u)) div sum(n_u) AS BIGINT)").alias("top_share_bp"),
        )
        .orderBy("event_type")
    )


@query(
    "stats_theil_sen",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type,
             CAST(b.c - a.c AS DOUBLE) / date_diff('day', a.d, b.d) AS slope,
             a.d AS d1, b.d AS d2
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.d < b.d
    ),
    ranked AS (
      SELECT event_type, slope,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY slope, d1, d2) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM pairs
    )
    SELECT event_type,
           CAST(any_value(n) AS BIGINT) AS n_pairs,
           round(max(CASE WHEN rn = (n + 1) // 2 THEN slope END), 4)
             AS median_slope_cents_per_day
    FROM ranked GROUP BY 1 ORDER BY 1
    """,
)
def stats_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend: the median of all pairwise slopes of
    each event type's daily revenue series — the estimator that
    shrugs off the outlier days OLS (stats_regression) chases. The
    O(days²) pair join runs AFTER aggregation to the calendar-bounded
    daily table, so the quadratic term is bounded by the observation
    window, not the corpus (the stats_cusum_drift argument); the
    median is an exact order statistic (lower median, rank
    (n+1) div 2) of slopes formed from exact integer cents and day
    counts, ranked with a full deterministic tie-break."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.col("event_type"), F.to_date("ts").alias("d")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
    a = daily.select("event_type", F.col("d").alias("d1"), F.col("c").alias("c1"))
    b = daily.select(F.col("event_type").alias("et2"), F.col("d").alias("d2"), F.col("c").alias("c2"))
    pairs = a.join(
        b, (F.col("event_type") == F.col("et2")) & (F.col("d1") < F.col("d2"))
    ).select(
        "event_type",
        ((F.col("c2") - F.col("c1")).cast("double") / F.datediff("d2", "d1")).alias("slope"),
        "d1",
        "d2",
    )
    w = Window.partitionBy("event_type").orderBy("slope", "d1", "d2")
    wn = Window.partitionBy("event_type")
    ranked = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.any_value("n").cast("long").alias("n_pairs"),
            F.round(
                F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("slope"))), 4
            ).alias("median_slope_cents_per_day"),
        )
        .orderBy("event_type")
    )


@query(
    "stats_mannwhitney",
    oracle="""
    WITH s AS (
      SELECT CAST(floor(value * 10) AS BIGINT) AS bin, event_type
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    bins AS (
      SELECT bin,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM s GROUP BY bin
    ),
    cum AS (
      SELECT c1, c2,
             coalesce(sum(c1 + c2) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_n
      FROM bins
    ),
    tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM bins)
    SELECT n1, n2,
           CAST(sum(c1 * (2 * prev_n + c1 + c2 + 1)) - n1 * (n1 + 1) AS BIGINT)
             AS u1_x2,
           CAST((10000 * (sum(c1 * (2 * prev_n + c1 + c2 + 1)) - n1 * (n1 + 1)))
                // (2 * n1 * n2) AS BIGINT) AS cles_bp
    FROM cum CROSS JOIN tot
    GROUP BY n1, n2
    """,
)
def stats_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) comparing click vs purchase value
    distributions on the deterministic binned grid (the stats_ks_test
    lattice): midranks over bins collapse to the closed form
    Σ c1·(2·prevN + nb + 1) kept DOUBLED so ties stay in exact
    integers — no float rank ever exists. The effect size is the
    common-language P(click > purchase) in truncated basis points
    (positive-range integer division, identical on both engines).
    One keyed aggregation to |bins| rows, one ordered window over the
    bounded grid."""
    e = load_table(spark, sf_dir, "events")
    s = e.filter(F.col("event_type").isin("click", "purchase")).select(
        F.floor(F.col("value") * 10).cast("long").alias("bin"), "event_type"
    )
    bins = s.groupBy("bin").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).cast("long").alias("c2"),
    )
    # bounded-domain global window: runs over |value bins| rows
    w_prev = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    cum = bins.select(
        "c1",
        "c2",
        F.coalesce(F.sum(F.col("c1") + F.col("c2")).over(w_prev), F.lit(0)).alias("prev_n"),
    )
    tot = bins.agg(
        F.sum("c1").cast("long").alias("n1"), F.sum("c2").cast("long").alias("n2")
    )
    r1x2 = F.sum(F.col("c1") * (2 * F.col("prev_n") + F.col("c1") + F.col("c2") + 1))
    u1x2 = r1x2 - F.col("n1") * (F.col("n1") + 1)
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            u1x2.cast("long").alias("u1_x2"),
            F.expr(
                "CAST((10000 * (sum(c1 * (2 * prev_n + c1 + c2 + 1)) - n1 * (n1 + 1)))"
                " div (2 * n1 * n2) AS BIGINT)"
            ).alias("cles_bp"),
        )
    )


@query(
    "stats_outlier_iqr",
    oracle="""
    WITH cents AS (
      SELECT c_mktsegment AS seg, c_custkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS c
      FROM customer
    ),
    ranked AS (
      SELECT seg, c,
             row_number() OVER (PARTITION BY seg ORDER BY c, c_custkey) AS rn,
             count(*) OVER (PARTITION BY seg) AS n
      FROM cents
    ),
    cuts AS (
      SELECT seg,
             max(CASE WHEN rn = (25 * n + 99) // 100 THEN c END) AS q1,
             max(CASE WHEN rn = (75 * n + 99) // 100 THEN c END) AS q3
      FROM ranked GROUP BY seg
    )
    SELECT cents.seg,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(any_value(q1) AS BIGINT) AS q1_cents,
           CAST(any_value(q3) AS BIGINT) AS q3_cents,
           CAST(sum(CASE WHEN c < q1 - (3 * (q3 - q1)) // 2
                           OR c > q3 + (3 * (q3 - q1)) // 2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM cents JOIN cuts USING (seg)
    GROUP BY cents.seg ORDER BY cents.seg
    """,
)
def stats_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR-fence outlier screen per market segment: quartile cut
    points are exact order statistics (the stats_winsorize rank
    formula), fences are pure integer arithmetic (1.5×IQR as
    (3·IQR) div 2 on nonnegative IQR), so a balance is an outlier by
    an exact integer comparison — no float fence can disagree between
    engines. The cut-point table is segments-sized and broadcasts
    back onto the fact; the ranking window partitions by segment."""
    cust = load_table(spark, sf_dir, "customer")
    cents = cust.select(
        F.col("c_mktsegment").alias("seg"),
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("c"),
    )
    w = Window.partitionBy("seg").orderBy("c", "c_custkey")
    wn = Window.partitionBy("seg")
    ranked = cents.select(
        "seg",
        "c",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    cuts = ranked.groupBy("seg").agg(
        F.max(F.when(F.col("rn") == F.expr("(25 * n + 99) div 100"), F.col("c"))).alias("q1"),
        F.max(F.when(F.col("rn") == F.expr("(75 * n + 99) div 100"), F.col("c"))).alias("q3"),
    )
    iqr15 = F.expr("(3 * (q3 - q1)) div 2")
    outlier = (F.col("c") < F.col("q1") - iqr15) | (F.col("c") > F.col("q3") + iqr15)
    return (
        cents.join(F.broadcast(cuts), "seg")
        .groupBy("seg")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.any_value("q1").cast("long").alias("q1_cents"),
            F.any_value("q3").cast("long").alias("q3_cents"),
            F.sum(F.when(outlier, 1).otherwise(0)).cast("long").alias("n_outliers"),
        )
        .orderBy("seg")
    )


@query(
    "time_timezone_rollup",
    oracle="""
    WITH tzs AS (
      SELECT * FROM (VALUES ('America/New_York'), ('Europe/Berlin'),
                            ('Asia/Tokyo')) t(tz)
    )
    SELECT tz,
           strftime(CAST((ts AT TIME ZONE 'UTC') AT TIME ZONE tz AS DATE),
                    '%Y-%m-%d') AS local_day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events CROSS JOIN tzs
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def time_timezone_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone-aware daily rollup: the same UTC event stream bucketed
    by each market's LOCAL calendar day (IANA zone rules, DST
    included — what a naive date_trunc silently gets wrong twice a
    year). The zone list explodes map-side (×|zones|, combines before
    the shuffle); the aggregation shuffle carries (zone, day) integer
    partials. Both engines resolve zones from the IANA database, so
    the local-day assignment is identical; revenue is per-row
    quantized cents."""
    e = load_table(spark, sf_dir, "events")
    tz = F.explode(
        F.array(F.lit("America/New_York"), F.lit("Europe/Berlin"), F.lit("Asia/Tokyo"))
    ).alias("tz")
    return (
        e.select("ts", F.round(F.col("value") * 100).cast("long").alias("c"), tz)
        .groupBy(
            "tz",
            F.date_format(F.to_date(F.from_utc_timestamp("ts", F.col("tz"))), "yyyy-MM-dd").alias(
                "local_day"
            ),
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("c").cast("long").alias("cents"),
        )
        .orderBy("tz", "local_day")
    )


@query(
    "events_rolling_active_users",
    oracle="""
    WITH user_days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    bounds AS (SELECT max(day) AS mx FROM user_days),
    dau AS (SELECT day, count(*) AS dau FROM user_days GROUP BY 1),
    cover AS (
      SELECT DISTINCT user_id,
             CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
                                         CAST(day + 6 AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM user_days
    ),
    wau AS (
      SELECT day, count(*) AS wau FROM cover CROSS JOIN bounds
      WHERE day <= mx GROUP BY day
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           CAST(d.dau AS BIGINT) AS dau,
           CAST(w.wau AS BIGINT) AS wau
    FROM dau d JOIN wau w USING (day) ORDER BY d.day
    """,
)
def events_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU and rolling 7-day WAU per day with EXACT distinct counts —
    no sliding-window distinct aggregation exists in either engine,
    so WAU uses the coverage-explosion identity: a user active on day
    d contributes to the weekly-active set of days d..d+6, so
    exploding each distinct (user, day) pair to its 7 covered days
    and re-distincting gives the exact rolling distinct. Expansion is
    a bounded ×7 on the already-deduplicated user-day table (itself ≤
    users × days, radically smaller than the event stream); for long
    windows at extreme scale the same identity degrades gracefully to
    the bitmap/HLL rollup (sketch_hll_rollup) as the approximate
    path."""
    e = load_table(spark, sf_dir, "events")
    user_days = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    bounds = user_days.agg(F.max("day").alias("mx"))
    dau = user_days.groupBy("day").agg(F.count("*").cast("long").alias("dau"))
    cover = user_days.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias("day"),
    ).distinct()
    wau = (
        cover.crossJoin(F.broadcast(bounds))
        .filter(F.col("day") <= F.col("mx"))
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "dau", "wau")
        .orderBy("day")
    )


@query(
    "events_ab_srm_check",
    oracle=f"""
    WITH assign AS (
      SELECT user_id,
             ({md5_48_sql("CAST(user_id AS VARCHAR)")}) % 2 AS variant
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    counts AS (
      SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
      FROM assign
    )
    SELECT n0, n1,
           round(CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1), 6) AS srm_chi2,
           (CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1)) > 3.841 AS srm_alarm
    FROM counts
    """,
)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for a 50/50 experiment: users
    deterministically bucketed by the cross-engine md5_48 hash (the
    same draw both engines make, so assignment is reproducible — the
    property a real experimentation platform needs for re-analysis),
    then the one-degree-of-freedom chi-square (n0−n1)²/(n0+n1)
    against the 0.05 critical value. Counts are exact integers; the
    statistic is one double division over them. Pairs with
    stats_ttest (effect) and stats_mannwhitney (robustness) to round
    out the experimentation suite; cost is one distinct + one
    map-side-combined aggregation."""
    e = load_table(spark, sf_dir, "events")
    assign = e.select("user_id").distinct().select(
        (md5_48(F.col("user_id").cast("string")) % 2).alias("variant")
    )
    counts = assign.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).cast("long").alias("n1"),
    )
    chi2 = ((F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n1"))).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    return counts.select(
        "n0", "n1", F.round(chi2, 6).alias("srm_chi2"), (chi2 > 3.841).alias("srm_alarm")
    )


@query(
    "orders_dow_seasonality",
    oracle="""
    WITH d AS (
      SELECT isodow(o_orderdate) AS dow,
             CAST(round(o_totalprice * 100) AS BIGINT) AS c
      FROM orders
    ),
    per_dow AS (
      SELECT dow, CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(c) AS BIGINT) AS cents
      FROM d GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n_orders) AS BIGINT) AS n_tot,
             CAST(sum(cents) AS BIGINT) AS s_tot
      FROM per_dow
    )
    SELECT CAST(dow AS BIGINT) AS dow, n_orders, cents,
           CAST((10000 * CAST(cents AS HUGEINT) * n_tot)
                // (CAST(n_orders AS HUGEINT) * s_tot) AS BIGINT)
             AS avg_lift_bp
    FROM per_dow CROSS JOIN tot ORDER BY dow
    """,
)
def orders_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality: each weekday's average order value as
    a lift vs the overall average, in exact integer basis points —
    the ratio of two rationals (s_d/n_d) / (s_tot/n_tot) evaluated as
    one integer expression (10000·s_d·n_tot) div (n_d·s_tot), so no
    intermediate float exists to drift. ISO weekday on both engines
    (Spark weekday()+1 ≡ DuckDB isodow). One map-side-combined
    aggregation to 7 rows; the product 10⁴·s_d·n_tot runs in
    DECIMAL(38,0)/HUGEINT because it exceeds BIGINT already at sf0.1
    (review finding: the int64 form overflowed there)."""
    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        (F.weekday("o_orderdate") + 1).alias("dow"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    per_dow = d.groupBy("dow").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("c").cast("long").alias("cents"),
    )
    tot = per_dow.agg(
        F.sum("n_orders").cast("long").alias("n_tot"),
        F.sum("cents").cast("long").alias("s_tot"),
    )
    return (
        per_dow.crossJoin(F.broadcast(tot))
        .select(
            F.col("dow").cast("long").alias("dow"),
            "n_orders",
            "cents",
            F.expr(
                "CAST((10000 * CAST(cents AS DECIMAL(38,0)) * n_tot)"
                " div (CAST(n_orders AS DECIMAL(38,0)) * s_tot) AS BIGINT)"
            ).alias("avg_lift_bp"),
        )
        .orderBy("dow")
    )


@query(
    "orders_fulfillment_latency",
    oracle="""
    WITH lat AS (
      SELECT o.o_orderpriority AS pri,
             date_diff('day', o.o_orderdate, l.l_shipdate) AS delay_days,
             l.l_orderkey, l.l_linenumber
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    ranked AS (
      SELECT pri, delay_days,
             row_number() OVER (PARTITION BY pri
                                ORDER BY delay_days, l_orderkey, l_linenumber) AS rn,
             count(*) OVER (PARTITION BY pri) AS n
      FROM lat
    )
    SELECT pri,
           CAST(any_value(n) AS BIGINT) AS n_lines,
           CAST(max(CASE WHEN rn = (50 * n + 99) // 100 THEN delay_days END)
             AS BIGINT) AS p50_days,
           CAST(max(CASE WHEN rn = (90 * n + 99) // 100 THEN delay_days END)
             AS BIGINT) AS p90_days,
           CAST(max(CASE WHEN rn = (99 * n + 99) // 100 THEN delay_days END)
             AS BIGINT) AS p99_days
    FROM ranked GROUP BY pri ORDER BY pri
    """,
)
def orders_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship latency percentiles per order priority — the SLA/
    logistics tail-latency report. Delays are exact integer day
    counts; p50/p90/p99 are exact order statistics via the winsorize
    rank formula (never interpolated percentile_approx, which would
    both approximate and drift). The join shuffles on orderkey once;
    ranking windows partition by priority."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("pri"),
        F.datediff("l_shipdate", "o_orderdate").alias("delay_days"),
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("pri").orderBy("delay_days", "l_orderkey", "l_linenumber")
    wn = Window.partitionBy("pri")
    ranked = lat.select(
        "pri",
        "delay_days",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )

    def cut(p: int) -> F.Column:
        return (
            F.max(
                F.when(F.col("rn") == F.expr(f"({p} * n + 99) div 100"), F.col("delay_days"))
            )
            .cast("long")
        )

    return (
        ranked.groupBy("pri")
        .agg(
            F.any_value("n").cast("long").alias("n_lines"),
            cut(50).alias("p50_days"),
            cut(90).alias("p90_days"),
            cut(99).alias("p99_days"),
        )
        .orderBy("pri")
    )


@query(
    "agg_topn_other",
    oracle="""
    WITH rev AS (
      SELECT p.p_brand AS brand,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1
    ),
    top5 AS (
      SELECT brand FROM rev ORDER BY cents DESC, brand LIMIT 5
    ),
    labeled AS (
      SELECT CASE WHEN t.brand IS NOT NULL THEN r.brand ELSE 'OTHER' END AS label,
             r.cents
      FROM rev r LEFT JOIN top5 t ON r.brand = t.brand
    ),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS s_tot FROM rev)
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_brands,
           CAST(sum(cents) AS BIGINT) AS revenue_cents,
           CAST((10000 * CAST(sum(cents) AS HUGEINT)) // s_tot AS BIGINT)
             AS share_bp
    FROM labeled CROSS JOIN tot
    GROUP BY label, s_tot ORDER BY revenue_cents DESC, label
    """,
)
def agg_topn_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The top-N + OTHER reporting rollup: the five highest-revenue
    part brands keep their identity, the long tail collapses into one
    OTHER row — the idiom every dashboard needs and naive GROUP BY
    can't express. The brand aggregate is one keyed fact join +
    aggregation; top-5 selection is TakeOrdered over the brand-sized
    aggregate and broadcasts back (N+tail rows never sort globally).
    Revenue in exact cents, shares in truncated basis points."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents"))
    )
    top5 = rev.orderBy(F.desc("cents"), "brand").limit(5).select(
        F.col("brand").alias("top_brand")
    )
    tot = rev.agg(F.sum("cents").cast("long").alias("s_tot"))
    labeled = rev.join(
        F.broadcast(top5), rev.brand == F.col("top_brand"), "left"
    ).select(
        F.when(F.col("top_brand").isNotNull(), F.col("brand"))
        .otherwise(F.lit("OTHER"))
        .alias("label"),
        "cents",
    )
    return (
        labeled.crossJoin(F.broadcast(tot))
        .groupBy("label", "s_tot")
        .agg(
            F.count("*").cast("long").alias("n_brands"),
            F.sum("cents").cast("long").alias("revenue_cents"),
            F.expr(
                "CAST((10000 * CAST(sum(cents) AS DECIMAL(38,0))) div s_tot AS BIGINT)"
            ).alias("share_bp"),
        )
        .drop("s_tot")
        .orderBy(F.desc("revenue_cents"), "label")
    )


@query(
    "events_session_bounce",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_type,
             event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_type, event_id,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sess_id
      FROM ordered
    ),
    per_sess AS (
      SELECT user_id, sess_id,
             arg_min(event_type,
                     CAST(epoch_us(ts) AS DECIMAL(38,0)) * 10000000000 + event_id)
               AS entry_type,
             count(*) AS n_events
      FROM sess GROUP BY 1, 2
    )
    SELECT entry_type,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           CAST((10000 * sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS bounce_bp
    FROM per_sess GROUP BY 1 ORDER BY 1
    """,
)
def events_session_bounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity) → bounce rate
    by session entry type: the batch twin of the streaming
    session_window queries, expressed as the classic two-window
    cumulative-flag sessionizer (every window partitions by user —
    per-user state, no global ordering). Bounce = single-event
    session; rates in truncated basis points over exact counts.

    The entry event resolves via min_by/arg_min on a packed
    (epoch-micros, event_id) DECIMAL(38,0) key — keying on ts alone
    would be engine-arbitrary if two session events ever shared a
    timestamp."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_sess = (
        F.when(
            prev_ts.isNull()
            | ((F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)) > 1800),
            1,
        )
        .otherwise(0)
    )
    ordered = e.select(
        "user_id", "ts", "event_type", "event_id", new_sess.alias("new_sess")
    )
    w_cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = ordered.select(
        "user_id",
        "ts",
        "event_type",
        "event_id",
        F.sum("new_sess").over(w_cum).alias("sess_id"),
    )
    # entry selection keys on a packed (epoch-micros, event_id)
    # DECIMAL(38,0) — min_by(ts) alone is engine-arbitrary on
    # duplicate timestamps (the time_m4_downsample tie-break pattern)
    sk = F.unix_micros("ts").cast("decimal(38,0)") * 10000000000 + F.col("event_id")
    per_sess = sess.groupBy("user_id", "sess_id").agg(
        F.min_by("event_type", sk).alias("entry_type"),
        F.count("*").alias("n_events"),
    )
    bounced = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return (
        per_sess.groupBy("entry_type")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            bounced.cast("long").alias("n_bounces"),
            F.expr(
                "CAST((10000 * sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END))"
                " div count(*) AS BIGINT)"
            ).alias("bounce_bp"),
        )
        .orderBy("entry_type")
    )


@query(
    "set_union_by_name",
    oracle="""
    SELECT * FROM (
      SELECT c_custkey AS key, c_name AS name,
             CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
             'balances' AS src
      FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    UNION ALL BY NAME
    (
      SELECT c_name AS name, c_custkey AS key, c_mktsegment AS segment,
             'directory' AS src
      FROM customer WHERE c_mktsegment = 'MACHINERY'
    )
    ORDER BY key, src
    """,
)
def set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-flexible union: two extracts with different column
    orders AND different column sets combine by NAME (missing columns
    null-fill) — unionByName(allowMissingColumns=True) ≡ DuckDB's
    UNION ALL BY NAME. The positional-union footgun this prevents is
    real: the same two SELECTs under plain UNION ALL would silently
    zip key into name. Pure metadata operation — no shuffle beyond
    the final presentation sort; at scale this is how heterogeneous
    ingest generations append into one table (schema_evolution's
    in-plan sibling)."""
    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        F.lit("balances").alias("src"),
    )
    b = c.filter(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("c_name").alias("name"),
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("directory").alias("src"),
    )
    return a.unionByName(b, allowMissingColumns=True).orderBy("key", "src")


@query(
    "time_m4_downsample",
    oracle="""
    WITH pts AS (
      SELECT event_type,
             epoch_us(ts) AS ep,
             CAST(round(value * 100) AS BIGINT) AS c,
             CAST(epoch_us(ts) AS DECIMAL(38,0)) * 10000000000 + event_id AS sk
      FROM events
    ),
    bounds AS (SELECT min(ep) AS e0, max(ep) AS e1 FROM pts)
    SELECT event_type,
           CAST(((ep - e0) * 64) // (e1 - e0 + 1) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(min(c) AS BIGINT) AS min_cents,
           CAST(max(c) AS BIGINT) AS max_cents,
           CAST(arg_min(c, sk) AS BIGINT) AS first_cents,
           CAST(arg_max(c, sk) AS BIGINT) AS last_cents
    FROM pts CROSS JOIN bounds
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def time_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 time-series downsampling (Jugel et al., VLDB 2014): each
    (series, pixel-bucket) keeps exactly min/max/first/last — the
    four points a line renderer provably needs — so a billion-point
    series plots from 4×width rows with zero visual error. Pure
    aggregation (map-side combinable), bucket assignment is integer
    arithmetic from the microsecond epoch bounds (unix_micros ≡
    DuckDB epoch_us — second-granularity unix_timestamp would drop
    sub-second fractions that DuckDB's epoch() keeps); first/last resolve by
    min_by/max_by on a DECIMAL(38,0) packed (epoch-micros, event_id)
    sort key, so duplicate timestamps across users cannot make the
    selection engine-dependent (arg_min struct ordering doesn't
    exist in DuckDB — the packed integer key is the cross-engine
    form)."""
    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        "event_type",
        F.unix_micros("ts").alias("ep"),
        F.round(F.col("value") * 100).cast("long").alias("c"),
        (
            F.unix_micros("ts").cast("decimal(38,0)") * 10000000000 + F.col("event_id")
        ).alias("sk"),
    )
    bounds = pts.agg(F.min("ep").alias("e0"), F.max("ep").alias("e1"))
    return (
        pts.crossJoin(F.broadcast(bounds))
        .groupBy(
            "event_type",
            F.expr("CAST(((ep - e0) * 64) div (e1 - e0 + 1) AS BIGINT)").alias("bucket"),
        )
        .agg(
            F.count("*").cast("long").alias("n_points"),
            F.min("c").cast("long").alias("min_cents"),
            F.max("c").cast("long").alias("max_cents"),
            F.min_by("c", "sk").cast("long").alias("first_cents"),
            F.max_by("c", "sk").cast("long").alias("last_cents"),
        )
        .orderBy("event_type", "bucket")
    )


@query(
    "events_type_affinity",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    n_users AS (SELECT count(DISTINCT user_id) AS nu FROM events),
    per_type AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b,
           CAST(n_both AS BIGINT) AS n_both,
           CAST((10000 * n_both * nu) // (pa.n * pb.n) AS BIGINT) AS lift_bp
    FROM pairs
    JOIN per_type pa ON pa.event_type = type_a
    JOIN per_type pb ON pb.event_type = type_b
    CROSS JOIN n_users
    ORDER BY type_a, type_b
    """,
)
def events_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type affinity (lift) matrix: for each unordered type pair,
    observed co-engagement vs the independence expectation —
    P(a,b)/(P(a)P(b)) — as ONE exact integer expression
    (10000·n_ab·N) div (n_a·n_b), the log-free PMI the
    orders_market_basket pattern uses at basket grain, here at user
    grain. The self-join fans out per user only over that user's
    distinct types (≤|event types|, a constant), so candidates are
    O(users·k²); marginals broadcast. BIGINT ceiling ~10¹⁸ on
    n_ab·N documented — DECIMAL(38,0) beyond."""
    e = load_table(spark, sf_dir, "events")
    ut = e.select("user_id", "event_type").distinct()
    n_users = e.agg(F.countDistinct("user_id").alias("nu"))
    per_type = ut.groupBy("event_type").agg(F.count("*").alias("n"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_both"))
    )
    pa = per_type.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    pb = per_type.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(pa), "type_a")
        .join(F.broadcast(pb), "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            F.col("n_both").cast("long").alias("n_both"),
            F.expr("CAST((10000 * n_both * nu) div (na * nb) AS BIGINT)").alias("lift_bp"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "experiment_analysis_pipeline",
    oracle=f"""
    WITH assign AS (
      SELECT user_id,
             ({md5_48_sql("CAST(user_id AS VARCHAR)")}) % 2 AS variant
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    per_user AS (
      SELECT a.variant, a.user_id,
             CAST(coalesce(sum(CASE WHEN e.event_type = 'purchase'
                                    THEN CAST(round(e.value * 100) AS BIGINT)
                               END), 0) AS BIGINT) AS rev_c,
             CAST(coalesce(sum(CASE WHEN e.event_type = 'purchase' THEN 1 END), 0)
               AS BIGINT) AS n_purch
      FROM assign a LEFT JOIN events e ON a.user_id = e.user_id
      GROUP BY 1, 2
    ),
    arms AS (
      SELECT CAST(count(CASE WHEN variant = 0 THEN 1 END) AS BIGINT) AS n0,
             CAST(count(CASE WHEN variant = 1 THEN 1 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN variant = 0 AND n_purch > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS conv0,
             CAST(sum(CASE WHEN variant = 1 AND n_purch > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS conv1,
             sum(CASE WHEN variant = 0 THEN CAST(rev_c AS DECIMAL(38,0)) END) AS s0,
             sum(CASE WHEN variant = 1 THEN CAST(rev_c AS DECIMAL(38,0)) END) AS s1,
             sum(CASE WHEN variant = 0
                      THEN CAST(rev_c AS DECIMAL(38,0)) * rev_c END) AS q0,
             sum(CASE WHEN variant = 1
                      THEN CAST(rev_c AS DECIMAL(38,0)) * rev_c END) AS q1
      FROM per_user
    )
    SELECT n0, n1,
           round(CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1), 6) AS srm_chi2,
           CAST((10000 * conv0) // n0 AS BIGINT) AS conv0_bp,
           CAST((10000 * conv1) // n1 AS BIGINT) AS conv1_bp,
           round(
             (CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
             / sqrt(
                 ((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / n0) / (n0 - 1)) / n0
               + ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1) / (n1 - 1)) / n1
             ), 4) AS revenue_t_stat
    FROM arms
    """,
)
def experiment_analysis_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end experiment readout in ONE Catalyst plan — the
    flagship of the experimentation suite (stats_ttest /
    events_ab_srm_check / stats_mannwhitney are its unit pieces):
    deterministic md5_48 variant assignment over the user universe,
    per-user outcome aggregation (purchase conversion + revenue
    cents, LEFT join so zero-activity users stay in their arm — the
    classic triggered-analysis bias avoided), then a single
    conditional-aggregation pass produces the sample-ratio-mismatch
    chi-square, per-arm conversion in exact basis points, and the
    Welch t on revenue from exact DECIMAL(38,0) sufficient
    statistics. The only fact-sized shuffles are the user join and
    the per-user aggregation; the arms table is one row."""
    e = load_table(spark, sf_dir, "events")
    assign = e.select("user_id").distinct().select(
        "user_id", (md5_48(F.col("user_id").cast("string")) % 2).alias("variant")
    )
    purchase = F.col("event_type") == "purchase"
    per_user = (
        assign.join(e, "user_id", "left")
        .groupBy("variant", "user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(purchase, F.round(F.col("value") * 100).cast("long"))),
                F.lit(0),
            )
            .cast("long")
            .alias("rev_c"),
            F.coalesce(F.sum(F.when(purchase, 1)), F.lit(0)).cast("long").alias("n_purch"),
        )
    )
    v0 = F.col("variant") == 0
    v1 = F.col("variant") == 1
    rev_dec = F.col("rev_c").cast("decimal(38,0)")
    arms = per_user.agg(
        F.count(F.when(v0, 1)).cast("long").alias("n0"),
        F.count(F.when(v1, 1)).cast("long").alias("n1"),
        F.sum(F.when(v0 & (F.col("n_purch") > 0), 1).otherwise(0)).cast("long").alias("conv0"),
        F.sum(F.when(v1 & (F.col("n_purch") > 0), 1).otherwise(0)).cast("long").alias("conv1"),
        F.sum(F.when(v0, rev_dec)).alias("s0"),
        F.sum(F.when(v1, rev_dec)).alias("s1"),
        F.sum(F.when(v0, rev_dec * F.col("rev_c"))).alias("q0"),
        F.sum(F.when(v1, rev_dec * F.col("rev_c"))).alias("q1"),
    )
    chi2 = ((F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n1"))).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    m0 = F.col("s0").cast("double") / F.col("n0")
    m1 = F.col("s1").cast("double") / F.col("n1")
    var0 = (F.col("q0").cast("double") - F.col("s0").cast("double") * F.col("s0").cast("double") / F.col("n0")) / (
        F.col("n0") - 1
    )
    var1 = (F.col("q1").cast("double") - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n1")) / (
        F.col("n1") - 1
    )
    t = (m1 - m0) / F.sqrt(var0 / F.col("n0") + var1 / F.col("n1"))
    return arms.select(
        "n0",
        "n1",
        F.round(chi2, 6).alias("srm_chi2"),
        F.expr("CAST((10000 * conv0) div n0 AS BIGINT)").alias("conv0_bp"),
        F.expr("CAST((10000 * conv1) div n1 AS BIGINT)").alias("conv1_bp"),
        F.round(t, 4).alias("revenue_t_stat"),
    )


def _busdays_sql(div: str) -> str:
    """Closed-form business days in the half-open interval (d1, d2]:
    n minus the Saturday and Sunday counts, each counted by the exact
    modular formula count_k = max(0, (n - r_k + 7) div 7) where
    r_k = ((k - a) mod 7, 0→7) is the offset of the first day-of-week
    k strictly after d1 (a = isodow(d1)). Pure integer arithmetic —
    the identical expression text runs on both engines (only the
    truncating-division operator differs)."""
    tpl = (
        "greatest(0, (n - (CASE WHEN ({k} - a + 7) % 7 = 0 THEN 7 "
        "ELSE ({k} - a + 7) % 7 END) + 7) {div} 7)"
    )
    sat = tpl.format(k=6, div=div)
    sun = tpl.format(k=7, div=div)
    return f"n - {sat} - {sun}"


@query(
    "time_business_day_latency",
    oracle=f"""
    WITH lat AS (
      SELECT o.o_orderpriority AS pri,
             isodow(o.o_orderdate) AS a,
             date_diff('day', o.o_orderdate, l.l_shipdate) AS n
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate >= o.o_orderdate
    ),
    bd AS (SELECT pri, {_busdays_sql('//')} AS busdays FROM lat)
    SELECT pri,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(busdays) AS BIGINT) AS total_busdays,
           CAST((10000 * sum(busdays)) // count(*) AS BIGINT) AS avg_busdays_bp
    FROM bd GROUP BY pri ORDER BY pri
    """,
)
def time_business_day_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship latency in BUSINESS days per priority — weekends
    removed by the exact modular closed form (no calendar-spine join,
    no UDF: two integer expressions per row), so the measure is
    map-side arithmetic and the operator costs exactly the one fact
    join. Average reported in truncated basis points over exact
    integer sums. The closed form is the scalable alternative to
    exploding a day spine per row (×latency fanout) — at 100 TB
    that explosion is the difference between a scan and a disaster."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lat = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            F.col("o_orderpriority").alias("pri"),
            (F.weekday("o_orderdate") + 1).alias("a"),
            F.datediff("l_shipdate", "o_orderdate").alias("n"),
        )
    )
    bd = lat.select("pri", F.expr(_busdays_sql("div")).alias("busdays"))
    return (
        bd.groupBy("pri")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum("busdays").cast("long").alias("total_busdays"),
            F.expr("CAST((10000 * sum(busdays)) div count(*) AS BIGINT)").alias(
                "avg_busdays_bp"
            ),
        )
        .orderBy("pri")
    )


@query(
    "orders_revenue_waterfall",
    oracle="""
    WITH base AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS gross_c,
             CAST(round(l_extendedprice * l_discount * 100) AS BIGINT) AS disc_c,
             CAST(round(l_extendedprice * (1 - l_discount) * l_tax * 100) AS BIGINT)
               AS tax_c
      FROM lineitem
    ),
    sums AS (
      SELECT CAST(sum(gross_c) AS BIGINT) AS g,
             CAST(sum(disc_c) AS BIGINT) AS d,
             CAST(sum(tax_c) AS BIGINT) AS t
      FROM base
    ),
    steps AS (
      SELECT 1 AS step_no, 'gross_revenue' AS step, g AS delta_cents FROM sums
      UNION ALL SELECT 2, 'discounts', -d FROM sums
      UNION ALL SELECT 3, 'taxes', t FROM sums
    )
    SELECT CAST(step_no AS BIGINT) AS step_no, step,
           CAST(delta_cents AS BIGINT) AS delta_cents,
           CAST(sum(delta_cents) OVER (ORDER BY step_no
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS running_cents
    FROM steps ORDER BY step_no
    """,
)
def orders_revenue_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue waterfall (gross → −discounts → +taxes → net): each
    component quantized to integer cents PER ROW with the identical
    arithmetic on both engines, summed exactly, then pivoted into
    ordered waterfall steps with a running total — the finance
    decomposition tpch_q1 aggregates but never decomposes. One
    map-side-combined pass over the fact; the waterfall window runs
    on 3 rows."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("gross_c"),
        F.round(F.col("l_extendedprice") * F.col("l_discount") * 100)
        .cast("long")
        .alias("disc_c"),
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.col("l_tax") * 100
        )
        .cast("long")
        .alias("tax_c"),
    )
    sums = base.agg(
        F.sum("gross_c").cast("long").alias("g"),
        F.sum("disc_c").cast("long").alias("d"),
        F.sum("tax_c").cast("long").alias("t"),
    )
    steps = sums.select(
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("step_no"), F.lit("gross_revenue").alias("step"), F.col("g").alias("delta_cents")),
                F.struct(F.lit(2).alias("step_no"), F.lit("discounts").alias("step"), (-F.col("d")).alias("delta_cents")),
                F.struct(F.lit(3).alias("step_no"), F.lit("taxes").alias("step"), F.col("t").alias("delta_cents")),
            )
        ).alias("s")
    ).select("s.step_no", "s.step", "s.delta_cents")
    # bounded-domain global window: exactly 3 waterfall steps
    w = Window.orderBy("step_no").rowsBetween(Window.unboundedPreceding, 0)
    return steps.select(
        F.col("step_no").cast("long").alias("step_no"),
        "step",
        F.col("delta_cents").cast("long").alias("delta_cents"),
        F.sum("delta_cents").over(w).cast("long").alias("running_cents"),
    ).orderBy("step_no")


@query(
    "events_burstiness",
    oracle="""
    WITH ordered AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(gap_us) AS BIGINT) AS s,
             sum(CAST(gap_us AS DECIMAL(38,0)) * gap_us) AS q
      FROM ordered WHERE gap_us IS NOT NULL
      GROUP BY 1
    )
    SELECT event_type, n,
           CAST(s // n AS BIGINT) AS mean_gap_us,
           round(
             (sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1))
              - CAST(s AS DOUBLE) / n)
             / (sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1))
                + CAST(s AS DOUBLE) / n), 4) AS burstiness
    FROM g ORDER BY event_type
    """,
)
def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness B = (σ−μ)/(σ+μ) of inter-event gaps
    per event type (gap attributed to the later event's type; −1 =
    perfectly regular, 0 = Poisson, →1 = extreme bursts) — the signal
    that separates organic traffic from machine retries in a 100 TB
    event stream. Gaps are exact integer microseconds from a per-USER
    lag window (per-key state, no global ordering); σ and μ derive
    from exact n/Σg/Σg² sufficient statistics, with Σg² in
    DECIMAL(38,0) because microsecond gaps squared leave the
    double-exact range (the 2^53 cast trap) — the final statistic is
    one fixed double expression over identical decimals, whose
    leading digits are well below the round(4) boundary. Mean gap
    reported as exact truncating division."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    ordered = e.select("event_type", gap.alias("gap_us")).filter(
        F.col("gap_us").isNotNull()
    )
    g = ordered.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("gap_us").cast("long").alias("s"),
        F.sum(F.col("gap_us").cast("decimal(38,0)") * F.col("gap_us")).alias("q"),
    )
    mu = F.col("s").cast("double") / F.col("n")
    sigma = F.sqrt(
        (F.col("q").cast("double") - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n"))
        / (F.col("n") - 1)
    )
    return g.select(
        "event_type",
        "n",
        F.expr("CAST(s div n AS BIGINT)").alias("mean_gap_us"),
        F.round((sigma - mu) / (sigma + mu), 4).alias("burstiness"),
    ).orderBy("event_type")


@query(
    "quality_freshness_sla",
    oracle="""
    WITH ref AS (SELECT max(ts) AS corpus_max FROM events),
    per_type AS (
      SELECT event_type, max(ts) AS last_ts, count(*) AS n_events
      FROM events GROUP BY 1
    )
    SELECT event_type,
           strftime(last_ts, '%Y-%m-%d %H:%M:%S') AS last_seen,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(date_diff('day', CAST(last_ts AS DATE), CAST(corpus_max AS DATE))
             AS BIGINT) AS staleness_days,
           date_diff('day', CAST(last_ts AS DATE), CAST(corpus_max AS DATE)) > 3
             AS sla_breach
    FROM per_type CROSS JOIN ref ORDER BY event_type
    """,
)
def quality_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream freshness audit: how stale each event type is
    relative to the newest data in the corpus, with a 3-day SLA flag —
    the dead-man's-switch (pipeline/snapshot.py A23) generalized from
    'did the whole pipeline check in' to 'did each SOURCE keep
    flowing', which is how a silent upstream failure actually
    presents in a multi-source ingest. One map-side-combined
    aggregation to |types| rows; the corpus-max reference broadcasts.
    Anchoring staleness to the corpus max (not wall clock) keeps the
    audit deterministic and replayable."""
    e = load_table(spark, sf_dir, "events")
    ref = e.agg(F.max("ts").alias("corpus_max"))
    per_type = e.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"), F.count("*").cast("long").alias("n_events")
    )
    stale = F.datediff(
        F.col("corpus_max").cast("date"), F.col("last_ts").cast("date")
    )
    return (
        per_type.crossJoin(F.broadcast(ref))
        .select(
            "event_type",
            F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
            "n_events",
            stale.cast("long").alias("staleness_days"),
            (stale > 3).alias("sla_breach"),
        )
        .orderBy("event_type")
    )


@query(
    "stats_power_analysis",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY 1
    ),
    base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(converted) AS BIGINT) AS n_conv
      FROM per_user
    ),
    grid AS (SELECT unnest([50, 100, 200, 500]) AS mde_bp)
    SELECT mde_bp,
           CAST((10000 * n_conv) // n_users AS BIGINT) AS p_base_bp,
           CAST(ceil(
             (2.8 * 2.8)
             * ((CAST(n_conv AS DOUBLE) / n_users) * (1 - CAST(n_conv AS DOUBLE) / n_users)
                + (CAST(n_conv AS DOUBLE) / n_users + mde_bp / 10000.0)
                  * (1 - CAST(n_conv AS DOUBLE) / n_users - mde_bp / 10000.0))
             / ((mde_bp / 10000.0) * (mde_bp / 10000.0))
           ) AS BIGINT) AS required_n_per_arm
    FROM base CROSS JOIN grid ORDER BY mde_bp
    """,
)
def stats_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment sizing from observed data: for a grid of minimum
    detectable effects (absolute bp on purchase conversion), the
    required users per arm at α=0.05 / power=0.80 via the two-
    proportion closed form (z_α/2 + z_β)²·(p₁q₁+p₂q₂)/δ² — the
    planning counterpart of experiment_analysis_pipeline's readout.
    The base rate is exact integers from one keyed aggregation; the
    sizing formula is one fixed double expression per grid row (the
    z constant written identically as 2.8·2.8 on both engines), so
    ceil lands identically. Cost: one scan, 4 output rows."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("converted")
    )
    base = per_user.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_conv"),
    )
    grid = base.select(
        "n_users",
        "n_conv",
        F.explode(F.array(F.lit(50), F.lit(100), F.lit(200), F.lit(500))).alias("mde_bp"),
    )
    p1 = F.col("n_conv").cast("double") / F.col("n_users")
    delta = F.col("mde_bp") / F.lit(10000.0)
    p2 = p1 + delta
    n_req = F.ceil(
        F.lit(2.8) * F.lit(2.8) * (p1 * (1 - p1) + p2 * (1 - p2)) / (delta * delta)
    ).cast("long")
    return grid.select(
        "mde_bp",
        F.expr("CAST((10000 * n_conv) div n_users AS BIGINT)").alias("p_base_bp"),
        n_req.alias("required_n_per_arm"),
    ).orderBy("mde_bp")


@query(
    "quality_sequence_gaps",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey, max(l_linenumber) AS max_ln,
             count(*) AS n_lines
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(max_ln - n_lines AS BIGINT) AS n_missing,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(min(l_orderkey) AS BIGINT) AS example_orderkey
    FROM per_order WHERE max_ln <> n_lines
    GROUP BY 1 ORDER BY 1
    """,
)
def quality_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-integrity audit: orders whose line numbers skip values
    (max(linenumber) ≠ count of lines — the O(1)-per-group identity
    that detects dropped rows in any 1..N-numbered detail table
    without generating a single expected-sequence row). Reported as a
    gap-size distribution with a deterministic example key per
    bucket. One map-side-combined aggregation; the no-explode
    formulation is what survives 100 TB — the naive
    generate-expected-sequence anti-join expands ×max(N)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.max("l_linenumber").alias("max_ln"), F.count("*").alias("n_lines")
    )
    return (
        per_order.filter(F.col("max_ln") != F.col("n_lines"))
        .groupBy((F.col("max_ln") - F.col("n_lines")).cast("long").alias("n_missing"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.min("l_orderkey").cast("long").alias("example_orderkey"),
        )
        .orderBy("n_missing")
    )


@query(
    "orders_reorder_interval",
    oracle="""
    WITH gaps AS (
      SELECT c.c_mktsegment AS seg,
             date_diff('day',
                       lag(o.o_orderdate) OVER (PARTITION BY o.o_custkey
                                                ORDER BY o.o_orderdate, o.o_orderkey),
                       o.o_orderdate) AS gap_days,
             o.o_orderkey
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    ranked AS (
      SELECT seg, gap_days,
             row_number() OVER (PARTITION BY seg ORDER BY gap_days, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY seg) AS n
      FROM gaps WHERE gap_days IS NOT NULL
    )
    SELECT seg,
           CAST(any_value(n) AS BIGINT) AS n_intervals,
           CAST(max(CASE WHEN rn = (50 * n + 99) // 100 THEN gap_days END)
             AS BIGINT) AS p50_days,
           CAST(max(CASE WHEN rn = (90 * n + 99) // 100 THEN gap_days END)
             AS BIGINT) AS p90_days
    FROM ranked GROUP BY seg ORDER BY seg
    """,
)
def orders_reorder_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repurchase cycle: days between a customer's consecutive orders,
    summarized as exact p50/p90 per market segment — the retention
    planning metric (how long before a 'lapsed' flag means anything).
    Per-customer lag windows (keyed state), segment-partitioned exact
    ranks (the winsorize scale shape), integer day arithmetic
    throughout. The customer dim broadcasts onto the orders fact."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias("gap_days"),
            "o_orderkey",
        )
        .filter(F.col("gap_days").isNotNull())
    )
    wr = Window.partitionBy("seg").orderBy("gap_days", "o_orderkey")
    wn = Window.partitionBy("seg")
    ranked = gaps.select(
        "seg",
        "gap_days",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )

    def cut(p: int):
        return F.max(
            F.when(F.col("rn") == F.expr(f"({p} * n + 99) div 100"), F.col("gap_days"))
        ).cast("long")

    return (
        ranked.groupBy("seg")
        .agg(
            F.any_value("n").cast("long").alias("n_intervals"),
            cut(50).alias("p50_days"),
            cut(90).alias("p90_days"),
        )
        .orderBy("seg")
    )


@query(
    "sort_null_ordering",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_custkey % 10 = 0 THEN NULL
                ELSE CAST(round(c_acctbal * 100) AS BIGINT) END AS bal_cents
    FROM customer
    ORDER BY bal_cents DESC NULLS FIRST, c_custkey
    LIMIT 50
    """,
)
def sort_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULL-ordering parity: the two engines DISAGREE by
    default (Spark sorts NULLS FIRST ascending, DuckDB NULLS LAST),
    so any ORDER BY over a nullable key silently diverges unless the
    placement is spelled out — this query pins DESC NULLS FIRST on
    both sides, with every 10th customer's balance nulled by key, so
    the null block provably leads the limited output at any scale
    factor (NULLS LAST + LIMIT would never show a null at all). The one-line lesson every
    cross-engine migration needs, declared as a hash-checked query;
    TakeOrdered(50), no global sort."""
    c = load_table(spark, sf_dir, "customer")
    bal = F.when(
        F.col("c_custkey") % 10 != 0, F.round(F.col("c_acctbal") * 100).cast("long")
    )
    return (
        c.select("c_custkey", bal.alias("bal_cents"))
        .orderBy(F.col("bal_cents").desc_nulls_first(), F.col("c_custkey"))
        .limit(50)
    )


@query(
    "events_dow_hour_matrix",
    oracle="""
    SELECT CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT) AS hr,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def events_dow_hour_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × hour activity matrix (the traffic-shaping heatmap
    behind capacity planning and send-time optimization): one
    map-side-combined aggregation to ≤168 cells, ISO weekday on both
    engines, revenue in exact per-row cents. The long (dow, hr) form
    is deliberate — it pivots client-side for display but stays keyed
    and combinable at any scale."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            (F.weekday(F.col("ts").cast("date")) + 1).cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hr"),
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents"),
        )
        .orderBy("dow", "hr")
    )


@query(
    "events_error_budget",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
               AS errors,
             CAST(count(*) AS BIGINT) AS total
      FROM events GROUP BY 1
    ),
    cum AS (
      SELECT day, errors, total,
             CAST(sum(errors) OVER w AS BIGINT) AS cum_err,
             CAST(sum(total) OVER w AS BIGINT) AS cum_tot
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, errors, total,
           CAST((10000 * cum_err) // cum_tot AS BIGINT) AS burn_bp,
           (10000 * cum_err) // cum_tot > 100 AS budget_breached
    FROM cum ORDER BY day
    """,
)
def events_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRE error-budget burn: cumulative error share of all events in
    exact truncated basis points against a 1% budget, flagged per day
    — the reliability view CUSUM (change detection) and the freshness
    SLA (flow detection) don't give: how much failure allowance is
    left. The fact reduces to one row per day map-side; the ordered
    cumulative window runs over the calendar-bounded daily table
    (KB-sized at any corpus size — the stats_ks_test argument);
    every number is an exact integer."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("errors"),
        F.count("*").cast("long").alias("total"),
    )
    # bounded-domain global window: runs over the |days| daily series
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        "errors",
        "total",
        F.sum("errors").over(w).cast("long").alias("cum_err"),
        F.sum("total").over(w).cast("long").alias("cum_tot"),
    )
    burn = F.expr("(10000 * cum_err) div cum_tot")
    return cum.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "errors",
        "total",
        burn.cast("long").alias("burn_bp"),
        (burn > 100).alias("budget_breached"),
    ).orderBy("day")


@query(
    "events_ab_cuped",
    oracle=f"""
    WITH bounds AS (
      SELECT CAST(min(ts) AS DATE)
               + to_days(CAST(floor(date_diff('day', CAST(min(ts) AS DATE),
                                              CAST(max(ts) AS DATE)) / 2) AS INTEGER))
               AS mid
      FROM events
    ),
    per_user AS (
      SELECT e.user_id,
             ({md5_48_sql("CAST(e.user_id AS VARCHAR)")}) % 2 AS variant,
             CAST(coalesce(sum(CASE WHEN e.event_type = 'purchase'
                                     AND CAST(e.ts AS DATE) < b.mid
                                    THEN CAST(round(e.value * 100) AS BIGINT) END),
                           0) // 100 AS BIGINT) AS pre_d,
             CAST(coalesce(sum(CASE WHEN e.event_type = 'purchase'
                                     AND CAST(e.ts AS DATE) >= b.mid
                                    THEN CAST(round(e.value * 100) AS BIGINT) END),
                           0) // 100 AS BIGINT) AS post_d
      FROM events e CROSS JOIN bounds b
      GROUP BY 1, 2
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pre_d) AS BIGINT) AS sx,
             CAST(sum(post_d) AS BIGINT) AS sy,
             CAST(sum(pre_d * pre_d) AS BIGINT) AS sxx,
             CAST(sum(pre_d * post_d) AS BIGINT) AS sxy,
             CAST(count(CASE WHEN variant = 0 THEN 1 END) AS BIGINT) AS n0,
             CAST(count(CASE WHEN variant = 1 THEN 1 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN variant = 0 THEN pre_d END) AS BIGINT) AS sx0,
             CAST(sum(CASE WHEN variant = 1 THEN pre_d END) AS BIGINT) AS sx1,
             CAST(sum(CASE WHEN variant = 0 THEN post_d END) AS BIGINT) AS sy0,
             CAST(sum(CASE WHEN variant = 1 THEN post_d END) AS BIGINT) AS sy1
      FROM per_user
    )
    SELECT n0, n1,
           round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                 / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n), 6) AS theta,
           round(
             (CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0)
             - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n))
               * (CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0), 4)
             AS adj_diff_dollars
    FROM stats
    """,
)
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM 2013) for the A/B
    suite: the pre-period purchase spend of each user (first half of
    the observation window, data-derived midpoint) is the covariate;
    θ = cov(pre,post)/var(pre) from ONE pass of exact integer
    sufficient statistics, and the reported treatment effect is the
    θ-adjusted difference in post-period means — the
    industry-standard trick that cuts experiment runtimes ~50% when
    pre-period behavior predicts the metric. Spend is quantized to
    whole DOLLARS before the cross-moment sums so Σ(pre·post) stays
    below 2^53 through sf10 (the cast-exactness ceiling documented at
    embedding_outlier_score); variant assignment is the same md5_48
    draw as the rest of the suite."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.expr(
            "date_add(CAST(min(ts) AS DATE), "
            "CAST(floor(datediff(CAST(max(ts) AS DATE), CAST(min(ts) AS DATE)) / 2) AS INT))"
        ).alias("mid")
    )
    purchase = F.col("event_type") == "purchase"
    cents = F.round(F.col("value") * 100).cast("long")
    pre = F.when(purchase & (F.to_date("ts") < F.col("mid")), cents)
    post = F.when(purchase & (F.to_date("ts") >= F.col("mid")), cents)
    per_user = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy(
            "user_id",
            (md5_48(F.col("user_id").cast("string")) % 2).alias("variant"),
        )
        .agg(
            F.expr(
                "CAST(coalesce(sum(CASE WHEN event_type = 'purchase'"
                " AND to_date(ts) < mid THEN CAST(round(value * 100) AS BIGINT) END), 0)"
                " div 100 AS BIGINT)"
            ).alias("pre_d"),
            F.expr(
                "CAST(coalesce(sum(CASE WHEN event_type = 'purchase'"
                " AND to_date(ts) >= mid THEN CAST(round(value * 100) AS BIGINT) END), 0)"
                " div 100 AS BIGINT)"
            ).alias("post_d"),
        )
    )
    v0 = F.col("variant") == 0
    v1 = F.col("variant") == 1
    stats = per_user.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pre_d").cast("long").alias("sx"),
        F.sum("post_d").cast("long").alias("sy"),
        F.sum(F.col("pre_d") * F.col("pre_d")).cast("long").alias("sxx"),
        F.sum(F.col("pre_d") * F.col("post_d")).cast("long").alias("sxy"),
        F.count(F.when(v0, 1)).cast("long").alias("n0"),
        F.count(F.when(v1, 1)).cast("long").alias("n1"),
        F.sum(F.when(v0, F.col("pre_d"))).cast("long").alias("sx0"),
        F.sum(F.when(v1, F.col("pre_d"))).cast("long").alias("sx1"),
        F.sum(F.when(v0, F.col("post_d"))).cast("long").alias("sy0"),
        F.sum(F.when(v1, F.col("post_d"))).cast("long").alias("sy1"),
    )
    theta = (
        F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / F.col("n")
    ) / (
        F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / F.col("n")
    )
    adj = (
        F.col("sy1").cast("double") / F.col("n1")
        - F.col("sy0").cast("double") / F.col("n0")
    ) - theta * (
        F.col("sx1").cast("double") / F.col("n1")
        - F.col("sx0").cast("double") / F.col("n0")
    )
    return stats.select(
        "n0",
        "n1",
        F.round(theta, 6).alias("theta"),
        F.round(adj, 4).alias("adj_diff_dollars"),
    )


@query(
    "supplier_scorecard",
    oracle="""
    WITH per_supp AS (
      SELECT l.l_suppkey AS suppkey,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(count(DISTINCT l.l_partkey) AS BIGINT) AS n_parts
      FROM lineitem l GROUP BY 1
    ),
    scored AS (
      SELECT s.s_suppkey, n.n_name AS nation, p.rev_cents, p.n_lines, p.n_parts,
             row_number() OVER (PARTITION BY n.n_name
                                ORDER BY p.rev_cents DESC, s.s_suppkey)
               AS nation_rank,
             CAST((10000 * CAST(p.rev_cents AS HUGEINT))
                  // sum(p.rev_cents) OVER (PARTITION BY n.n_name) AS BIGINT)
               AS nation_share_bp
      FROM per_supp p
      JOIN supplier s ON p.suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
    )
    SELECT * FROM scored WHERE nation_rank <= 3
    ORDER BY nation, nation_rank
    """,
)
def supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier scorecard: revenue, volume, assortment breadth, and
    within-nation rank + revenue share for each nation's top-3
    suppliers — the recurring vendor-review report, in one plan. The
    fact aggregates once to |suppliers| rows; dims broadcast; ranking
    and share windows partition by nation; shares are exact wide-int
    basis points. rn ≤ 3 after a keyed window is the top-k-per-group
    shape Catalyst executes without any global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    per_supp = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("rev_cents"),
        F.count("*").cast("long").alias("n_lines"),
        F.countDistinct("l_partkey").cast("long").alias("n_parts"),
    )
    joined = per_supp.join(
        F.broadcast(s), per_supp.suppkey == s.s_suppkey
    ).join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    w_rank = Window.partitionBy("n_name").orderBy(F.desc("rev_cents"), "s_suppkey")
    w_nat = Window.partitionBy("n_name")
    scored = joined.select(
        "s_suppkey",
        F.col("n_name").alias("nation"),
        "rev_cents",
        "n_lines",
        "n_parts",
        F.row_number().over(w_rank).alias("nation_rank"),
        F.expr(
            "CAST((10000 * CAST(rev_cents AS DECIMAL(38,0)))"
            " div sum(rev_cents) OVER (PARTITION BY n_name) AS BIGINT)"
        ).alias("nation_share_bp"),
    )
    return scored.filter(F.col("nation_rank") <= 3).orderBy("nation", "nation_rank")


@query(
    "events_growth_accounting",
    oracle="""
    WITH user_days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    bounds AS (SELECT max(day) AS mx FROM user_days),
    seq AS (
      SELECT user_id, day,
             lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
             lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
      FROM user_days
    ),
    starts AS (
      SELECT day,
             CAST(sum(CASE WHEN prev_day IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
             CAST(sum(CASE WHEN date_diff('day', prev_day, day) = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
             CAST(sum(CASE WHEN date_diff('day', prev_day, day) > 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      FROM seq GROUP BY 1
    ),
    churns AS (
      SELECT day + 1 AS day, CAST(count(*) AS BIGINT) AS n_churned
      FROM seq CROSS JOIN bounds
      WHERE (next_day IS NULL AND day < mx)
         OR date_diff('day', day, next_day) > 1
      GROUP BY 1
    )
    SELECT strftime(coalesce(s.day, c.day), '%Y-%m-%d') AS day,
           coalesce(s.n_new, 0) AS n_new,
           coalesce(s.n_retained, 0) AS n_retained,
           coalesce(s.n_resurrected, 0) AS n_resurrected,
           coalesce(c.n_churned, 0) AS n_churned
    FROM starts s FULL OUTER JOIN churns c ON s.day = c.day
    CROSS JOIN bounds
    WHERE coalesce(s.day, c.day) <= mx
    ORDER BY 1
    """,
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting — the canonical DAU decomposition every
    growth team reports: each active user-day is NEW (first ever),
    RETAINED (active yesterday) or RESURRECTED (returned after a
    gap), and a CHURN is charged to the day after an activity streak
    ends — so dau(d) − dau(d−1) ≡ new + resurrected − churned, by
    construction. Built entirely from per-user lag/lead windows over
    the deduplicated user-day table (keyed state, no global
    ordering); churn on the final day is right-censored exactly as
    events_survival_km censors lifetimes. All exact integer counts."""
    e = load_table(spark, sf_dir, "events")
    user_days = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    bounds = user_days.agg(F.max("day").alias("mx"))
    w = Window.partitionBy("user_id").orderBy("day")
    seq = user_days.select(
        "user_id",
        "day",
        F.lag("day").over(w).alias("prev_day"),
        F.lead("day").over(w).alias("next_day"),
    )
    starts = seq.groupBy("day").agg(
        F.sum(F.when(F.col("prev_day").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.datediff("day", "prev_day") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
        F.sum(F.when(F.datediff("day", "prev_day") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_resurrected"),
    )
    churns = (
        seq.crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("next_day").isNull() & (F.col("day") < F.col("mx")))
            | (F.datediff("next_day", "day") > 1)
        )
        .groupBy(F.date_add("day", 1).alias("day"))
        .agg(F.count("*").cast("long").alias("n_churned"))
    )
    out = (
        starts.join(churns, "day", "full_outer")
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("day") <= F.col("mx"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            F.coalesce("n_retained", F.lit(0)).alias("n_retained"),
            F.coalesce("n_resurrected", F.lit(0)).alias("n_resurrected"),
            F.coalesce("n_churned", F.lit(0)).alias("n_churned"),
        )
        .orderBy("day")
    )
    return out


@query(
    "time_forecast_snaive_backtest",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ),
    fc AS (
      SELECT day, cents,
             lag(cents, 7) OVER (ORDER BY day) AS forecast_cents
      FROM daily
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(abs(cents - forecast_cents)) // count(*) AS BIGINT)
             AS mae_cents,
           CAST((10000 * sum(abs(cents - forecast_cents))) // sum(cents)
             AS BIGINT) AS wape_bp
    FROM fc WHERE forecast_cents IS NOT NULL
    """,
)
def time_forecast_snaive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: ŷ(d) = y(d−7) on daily
    revenue, scored with MAE and WAPE in exact integers — the
    baseline every forecasting system must beat, and the backtest
    harness shape (lag-k forecast + holdout error) that fancier
    models plug into. WAPE (Σ|e|/Σy) rather than MAPE because it
    needs no per-row division — both metrics are single truncating
    divisions over exact integer sums. The lag window runs over the
    calendar-bounded daily aggregate (the stats_ks_test argument);
    the fact table contributes one map-side-combined pass."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents")
    )
    w = Window.orderBy("day")
    fc = daily.select(
        "cents", F.lag("cents", 7).over(w).alias("forecast_cents")
    ).filter(F.col("forecast_cents").isNotNull())
    return fc.agg(
        F.count("*").cast("long").alias("n_days"),
        F.expr(
            "CAST(sum(abs(cents - forecast_cents)) div count(*) AS BIGINT)"
        ).alias("mae_cents"),
        F.expr(
            "CAST((10000 * sum(abs(cents - forecast_cents))) div sum(cents) AS BIGINT)"
        ).alias("wape_bp"),
    )


def _linreg_sql(table: str, big: str, div: str) -> str:
    """Two-predictor OLS by Cramer's rule on the 3x3 normal equations —
    one template, two dialects (the stats_pca_power pattern,
    history.py:388) — in the CENTERED (covariance) form: a first
    one-row aggregate computes integer pseudo-means (truncated, so both
    engines agree), every row is shifted by them, and the sufficient
    statistics accumulate over the shifted values.  The Cramer
    determinants det/det1/det2 are shift-invariant, so their values are
    bit-identical to the raw-moment form — but the intermediate
    expansion terms shrink from n*mean^3 scale to n*covariance scale
    (the raw form's s1*(s1y*s22) term alone was ~1.8e40 at the 60M-row
    proxy, past INT128; the shifted form's largest term n*s1y'*s22' is
    ~1e36 there).  The intercept numerator is recovered exactly via the
    identity det0_raw = det0' + cy*det - cq*det1 - cd*det2 (same
    rational det0/det, so outputs are unchanged).  Shifted sums are
    cast per-term to {big} before summing (s2y' alone passes int64 near
    1e10 rows).  Ceiling: the recovery product cy*det — NOT the
    determinant expansion — is the binding term (ADVICE r05): the
    expansion's dominant n^3-growth terms stay under INT128 to ~6e8
    rows, but cy ~ 3.8e6 cents times det ~ 3.75e30-at-60M-rows crosses
    1.7e38 near ~1.4e8 rows on this value distribution (vs ~6e7 for the
    raw form, which errored loudly at the 100x proxy).  Measured, not
    argued: on a lineitem-shaped generated table both engines
    hash-match at 8e7 rows and BOTH overflow loudly at 2e8 (the
    bracketing run is recorded in docs/SCALE_EXPERIMENT.md);
    hash-proven at the 60M-row proxy.

    Final coefficients come out as *integer 1e-4 units* via truncating
    division — no double ever enters.  The x1e4 scaling uses a
    TWO-STAGE quotient/remainder split q*1e4 + (r*100 {div} det)*100 +
    ((r*100 % det)*100) {div} det (exact under truncation toward zero
    because quotient and remainder share the dividend's sign, so trunc
    distributes over the integer part): the single-stage r*1e4 product
    is bounded by |det|*1e4 and would overflow INT128 once |det| >
    1.7e34, whereas the two-stage r*100 products are bounded by
    |det|*100 — safe to |det| < 1.7e36 (ADVICE r04)."""

    def scaled(x: str) -> str:
        return (
            f"CAST(({x} {div} det) * 10000"
            f" + ((({x} % det) * 100) {div} det) * 100"
            f" + (((({x} % det) * 100) % det) * 100) {div} det"
            f" AS BIGINT)"
        )

    return f"""
WITH t AS (
  SELECT CAST(l_quantity AS BIGINT) AS q,
         CAST(round(l_discount * 10000) AS BIGINT) AS d,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM {table}
),
m AS (
  SELECT CAST(count(*) AS {big}) AS n,
         CAST(sum(CAST(q AS {big})) {div} count(*) AS BIGINT) AS cq,
         CAST(sum(CAST(d AS {big})) {div} count(*) AS BIGINT) AS cd,
         CAST(sum(CAST(y AS {big})) {div} count(*) AS BIGINT) AS cy
  FROM t
),
su AS (
  SELECT m.n, m.cq, m.cd, m.cy,
         CAST(sum(q - cq) AS {big}) AS s1,
         CAST(sum(d - cd) AS {big}) AS s2,
         CAST(sum(y - cy) AS {big}) AS sy,
         sum(CAST((q - cq) * (q - cq) AS {big})) AS s11,
         sum(CAST((d - cd) * (d - cd) AS {big})) AS s22,
         sum(CAST((q - cq) * (d - cd) AS {big})) AS s12,
         sum(CAST((q - cq) * (y - cy) AS {big})) AS s1y,
         sum(CAST((d - cd) * (y - cy) AS {big})) AS s2y
  FROM t CROSS JOIN m
  GROUP BY m.n, m.cq, m.cd, m.cy
),
dets AS (
  SELECT n, cq, cd, cy,
    (n  * (s11 * s22 - s12 * s12) - s1 * (s1  * s22 - s12 * s2)
        + s2 * (s1  * s12 - s11 * s2))  AS det,
    (sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)) AS det0s,
    (n  * (s1y * s22 - s12 * s2y) - sy * (s1  * s22 - s12 * s2)
        + s2 * (s1  * s2y - s1y * s2))  AS det1,
    (n  * (s11 * s2y - s1y * s12) - s1 * (s1  * s2y - s1y * s2)
        + sy * (s1  * s12 - s11 * s2))  AS det2
  FROM su
),
nums AS (
  SELECT n, det, det1, det2,
         (det0s + cy * det - cq * det1 - cd * det2) AS det0
  FROM dets
)
SELECT CAST(n AS BIGINT) AS n,
       {scaled('det0')} AS intercept_cents_x1e4,
       {scaled('det1')} AS qty_slope_x1e4,
       {scaled('det2')} AS discount_slope_x1e4
FROM nums
"""


@query("stats_linreg_multi", oracle=_linreg_sql("lineitem", "HUGEINT", "//"))
def stats_linreg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple linear regression (extendedprice-cents on quantity and
    discount-bp, with intercept) solved in closed form from one pass of
    sufficient statistics — the multi-feature sibling of
    stats_regression's regr_slope pair.

    Scale: the corpus collapses to a single 9-number aggregate row
    (partial-aggregable, map-side combined); the 3x3 Cramer solve runs
    on that one row — O(1) after the scan regardless of input size.
    Adding features grows the normal-equation matrix quadratically but
    the one-pass-then-solve shape is exactly how distributed OLS runs
    at 100 TB (the solve never distributes)."""
    return spark.sql(
        _linreg_sql("{lineitem}", "DECIMAL(38,0)", "div"),
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@query(
    "events_ab_did",
    oracle=f"""
    WITH bounds AS (
      SELECT CAST(min(ts) AS DATE)
               + to_days(CAST(floor(date_diff('day', CAST(min(ts) AS DATE),
                                              CAST(max(ts) AS DATE)) / 2) AS INTEGER))
               AS mid
      FROM events
    ),
    per_user AS (
      SELECT e.user_id,
             ({md5_48_sql("CAST(e.user_id AS VARCHAR)")}) % 2 AS variant,
             CAST(coalesce(sum(CASE WHEN e.event_type = 'purchase'
                                     AND CAST(e.ts AS DATE) < b.mid
                                    THEN CAST(round(e.value * 100) AS BIGINT) END),
                           0) AS BIGINT) AS pre_c,
             CAST(coalesce(sum(CASE WHEN e.event_type = 'purchase'
                                     AND CAST(e.ts AS DATE) >= b.mid
                                    THEN CAST(round(e.value * 100) AS BIGINT) END),
                           0) AS BIGINT) AS post_c
      FROM events e CROSS JOIN bounds b
      GROUP BY 1, 2
    ),
    cells AS (
      SELECT CAST(count(CASE WHEN variant = 0 THEN 1 END) AS BIGINT) AS n_control,
             CAST(count(CASE WHEN variant = 1 THEN 1 END) AS BIGINT) AS n_treat,
             CAST(coalesce(sum(CASE WHEN variant = 0 THEN pre_c END), 0) AS BIGINT) AS s_pre_c,
             CAST(coalesce(sum(CASE WHEN variant = 0 THEN post_c END), 0) AS BIGINT) AS s_post_c,
             CAST(coalesce(sum(CASE WHEN variant = 1 THEN pre_c END), 0) AS BIGINT) AS s_pre_t,
             CAST(coalesce(sum(CASE WHEN variant = 1 THEN post_c END), 0) AS BIGINT) AS s_post_t
      FROM per_user
    )
    SELECT n_control, n_treat,
           CAST(s_pre_c  * 10000 // n_control AS BIGINT) AS pre_control_micro,
           CAST(s_post_c * 10000 // n_control AS BIGINT) AS post_control_micro,
           CAST(s_pre_t  * 10000 // n_treat  AS BIGINT) AS pre_treat_micro,
           CAST(s_post_t * 10000 // n_treat  AS BIGINT) AS post_treat_micro,
           CAST((s_post_t * 10000 // n_treat) - (s_pre_t * 10000 // n_treat)
              - ((s_post_c * 10000 // n_control) - (s_pre_c * 10000 // n_control))
              AS BIGINT) AS did_microcents
    FROM cells
    """,
)
def events_ab_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate for the A/B suite: per-user
    purchase spend split at the data-derived midpoint into pre/post,
    arms assigned by the house md5_48 draw (same as events_ab_cuped /
    events_ab_srm_check), and the effect reported as
    (post−pre)_treat − (post−pre)_control on per-arm mean spend — the
    design that nets out any shared time trend the raw post-period
    diff would swallow. All cell means are exact integer microcents
    (truncating division), so the single-row report is bit-identical
    across engines.

    Scale: one user_id shuffle for the per-user pre/post sums, then a
    partial-aggregable collapse to one 6-number row — the same
    two-stage shape as CUPED; the midpoint broadcast is a 1-row
    cross join."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.expr(
            "date_add(CAST(min(ts) AS DATE), "
            "CAST(floor(datediff(CAST(max(ts) AS DATE), CAST(min(ts) AS DATE)) / 2) AS INT))"
        ).alias("mid")
    )
    per_user = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy(
            "user_id",
            (md5_48(F.col("user_id").cast("string")) % 2).alias("variant"),
        )
        .agg(
            F.expr(
                "CAST(coalesce(sum(CASE WHEN event_type = 'purchase'"
                " AND CAST(ts AS DATE) < mid THEN CAST(round(value * 100) AS BIGINT) END), 0)"
                " AS BIGINT)"
            ).alias("pre_c"),
            F.expr(
                "CAST(coalesce(sum(CASE WHEN event_type = 'purchase'"
                " AND CAST(ts AS DATE) >= mid THEN CAST(round(value * 100) AS BIGINT) END), 0)"
                " AS BIGINT)"
            ).alias("post_c"),
        )
    )
    v0, v1 = F.col("variant") == 0, F.col("variant") == 1
    cells = per_user.agg(
        F.count(F.when(v0, 1)).cast("long").alias("n_control"),
        F.count(F.when(v1, 1)).cast("long").alias("n_treat"),
        F.coalesce(F.sum(F.when(v0, F.col("pre_c"))), F.lit(0)).cast("long").alias("s_pre_c"),
        F.coalesce(F.sum(F.when(v0, F.col("post_c"))), F.lit(0)).cast("long").alias("s_post_c"),
        F.coalesce(F.sum(F.when(v1, F.col("pre_c"))), F.lit(0)).cast("long").alias("s_pre_t"),
        F.coalesce(F.sum(F.when(v1, F.col("post_c"))), F.lit(0)).cast("long").alias("s_post_t"),
    )
    return cells.selectExpr(
        "n_control",
        "n_treat",
        "CAST(s_pre_c  * 10000 div n_control AS BIGINT) AS pre_control_micro",
        "CAST(s_post_c * 10000 div n_control AS BIGINT) AS post_control_micro",
        "CAST(s_pre_t  * 10000 div n_treat  AS BIGINT) AS pre_treat_micro",
        "CAST(s_post_t * 10000 div n_treat  AS BIGINT) AS post_treat_micro",
        "CAST((s_post_t * 10000 div n_treat) - (s_pre_t * 10000 div n_treat)"
        " - ((s_post_c * 10000 div n_control) - (s_pre_c * 10000 div n_control))"
        " AS BIGINT) AS did_microcents",
    )


_SPEARMAN_ORACLE = """
WITH pairs AS (
  SELECT l_returnflag AS flag,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_discount * 100) AS BIGINT) AS y
  FROM lineitem
),
xhist AS (SELECT flag, x, CAST(count(*) AS BIGINT) AS c FROM pairs GROUP BY 1, 2),
xrank AS (
  SELECT flag, x,
         2 * (sum(c) OVER (PARTITION BY flag ORDER BY x) - c) + c + 1 AS r2
  FROM xhist
),
yhist AS (SELECT flag, y, CAST(count(*) AS BIGINT) AS c FROM pairs GROUP BY 1, 2),
yrank AS (
  SELECT flag, y,
         2 * (sum(c) OVER (PARTITION BY flag ORDER BY y) - c) + c + 1 AS r2
  FROM yhist
),
d2 AS (
  SELECT p.flag,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(xr.r2 - yr.r2 AS HUGEINT) * (xr.r2 - yr.r2)) AS sd2
  FROM pairs p
  JOIN xrank xr ON p.flag = xr.flag AND p.x = xr.x
  JOIN yrank yr ON p.flag = yr.flag AND p.y = yr.y
  GROUP BY p.flag
)
SELECT flag, n,
       CAST(1000000 - CAST(6 * CAST(sd2 AS HUGEINT) * 1000000
            // (4 * CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1)) AS BIGINT)
            AS BIGINT) AS spearman_x1e6
FROM d2
"""


@query("stats_spearman", oracle=_SPEARMAN_ORACLE)
def stats_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (tie-averaged ranks, classic
    1 − 6Σd²/(n(n²−1)) form) between quantity and discount per return
    flag — the robust complement to stats_corr_matrix's Pearson.

    The rank step never sorts rows: tie-averaged ranks come from the
    cumulative VALUE HISTOGRAM (avg rank of value v = #below + 
    (ties+1)/2, carried in doubled units to stay integer), so the only
    ordered windows run over ≤|distinct values| rows per group (50
    quantities, 11 discounts) — the partition_skew_report trick. Ranks
    join back to rows by value (broadcast-sized maps), Σd² is one
    exact int64 aggregate, and the final ratio is int128 truncating
    division — bit-identical across engines at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_discount") * 100).cast("long").alias("y"),
    )

    def ranks(col: str) -> DataFrame:
        hist = pairs.groupBy("flag", col).agg(F.count("*").cast("long").alias("c"))
        w = Window.partitionBy("flag").orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        return hist.select(
            "flag",
            col,
            (2 * (F.sum("c").over(w) - F.col("c")) + F.col("c") + 1).alias(f"r2_{col}"),
        )

    d2 = (
        pairs.join(F.broadcast(ranks("x")), ["flag", "x"])
        .join(F.broadcast(ranks("y")), ["flag", "y"])
        .groupBy("flag")
        .agg(
            F.count("*").cast("long").alias("n"),
            # sd2 accumulates in 128-bit, and the PER-TERM square is also
            # computed in 128-bit (cast the difference BEFORE squaring —
            # d can reach 2n in doubled-rank units, so d^2 wraps int64
            # past ~1.5e9 rows per flag; the oracle's HUGEINT operand
            # order `CAST(d AS HUGEINT) * d` is mirrored here).  The SUM
            # itself overflows int64 far earlier (~8.6e23 measured at the
            # 60M-row proxy) — DECIMAL(38,0) here, HUGEINT in the oracle,
            # and the final ratio already ran in int128.
            F.sum(
                (F.col("r2_x") - F.col("r2_y")).cast("decimal(38,0)")
                * (F.col("r2_x") - F.col("r2_y"))
            ).alias("sd2"),
        )
    )
    return d2.selectExpr(
        "flag",
        "n",
        "CAST(1000000 - CAST(6 * CAST(sd2 AS DECIMAL(38,0)) * 1000000"
        " div (4 * CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * n - 1))"
        " AS BIGINT) AS BIGINT) AS spearman_x1e6",
    )


_MIGRATION_ORACLE = """
WITH spend AS (
  SELECT o_custkey AS c,
         year(o_orderdate) AS yr,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders
  WHERE year(o_orderdate) IN (1998, 1999)
  GROUP BY 1, 2
),
qa AS (
  SELECT c, ntile(5) OVER (ORDER BY cents, c) AS q
  FROM spend WHERE yr = 1998
),
qb AS (
  SELECT c, ntile(5) OVER (ORDER BY cents, c) AS q
  FROM spend WHERE yr = 1999
),
mat AS (
  SELECT qa.q AS q_1998, qb.q AS q_1999, CAST(count(*) AS BIGINT) AS n_customers
  FROM qa JOIN qb ON qa.c = qb.c
  GROUP BY 1, 2
)
SELECT CAST(q_1998 AS BIGINT) AS q_1998,
       CAST(q_1999 AS BIGINT) AS q_1999,
       n_customers,
       CAST(n_customers * 10000 // (SELECT sum(n_customers) FROM mat) AS BIGINT) AS share_bp
FROM mat
"""


@query("orders_customer_migration", oracle=_MIGRATION_ORACLE)
def orders_customer_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer value-segment migration matrix: each customer's spend
    quintile in 1998 vs 1999 (deterministic ntile tie-broken on
    (cents, custkey)), cross-tabulated with exact counts and
    basis-point shares — the churn/upsell report behind every
    "movement between segments" dashboard.

    Scale: spend collapses to one row per (customer, year) —
    partial-aggregable — before the quintile windows rank the
    |customers|-sized aggregate (the events_rfm_segments precedent);
    the migration join is keyed on customer and the matrix is ≤25
    rows. At 100 TB the ranking input is |customers|, not |orders|."""
    o = load_table(spark, sf_dir, "orders")
    spend = (
        o.filter(F.year("o_orderdate").isin(1998, 1999))
        .groupBy(
            F.col("o_custkey").alias("c"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("cents"))
    )
    # global ntile over the |customers|-sized spend aggregate (never raw
    # orders); at extreme |customers| the exact substitution is the
    # range-partitioned prefix-sum rank (orders_abc_pareto pattern)
    w = Window.orderBy("cents", "c")
    qa = spend.filter(F.col("yr") == 1998).select("c", F.ntile(5).over(w).alias("q_1998"))
    qb = spend.filter(F.col("yr") == 1999).select("c", F.ntile(5).over(w).alias("q_1999"))
    mat = (
        qa.join(qb, "c")
        .groupBy("q_1998", "q_1999")
        .agg(F.count("*").cast("long").alias("n_customers"))
    )
    # total via a window over the ≤25-row matrix (bounded domain), not a
    # crossJoin back onto `mat` — the self-reference would duplicate the
    # whole quintile subtree in the physical plan (Catalyst does not
    # dedupe it), doubling the ntile passes for no reason
    return mat.selectExpr(
        "CAST(q_1998 AS BIGINT) AS q_1998",
        "CAST(q_1999 AS BIGINT) AS q_1999",
        "n_customers",
        "CAST(n_customers * 10000 div sum(n_customers) OVER () AS BIGINT) AS share_bp",
    )
