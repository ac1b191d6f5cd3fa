"""Temporal state history and distribution-shift operators over the
event log: SCD2 dimension building (full + incremental merge),
Markov transition matrices, calendar gap-fill with forward-fill, a
two-sample KS drift test, lag-k autocorrelation, and an exact-integer
power-iteration PCA.

These are the warehouse-maintenance and data-drift shapes the
reference's nightly snapshot/restore cadence implies but delegates to
its SQL engines (/root/reference/backup.sh drives full-database dumps;
the history of *what changed between dumps* is exactly SCD2):

- `scd2_history` — collapse an event stream into type-2 slowly
  changing dimension rows (valid_from / valid_to / version /
  is_current). One lag + one lead window per entity; the dedup of
  consecutive identical states happens BEFORE the interval windows,
  so state transitions (small) not raw events (big) flow downstream.
- `events_markov_transitions` — first-order transition matrix of
  event types with exact basis-point probabilities. The per-user lag
  window runs on (user_id)-partitioned data; the probability
  normalization runs on the already-aggregated |types|² table.
- `time_fill_forward` — join a generated calendar spine against daily
  aggregates and forward-fill gaps with `last(ignorenulls)`. The spine
  is |days|×|types| (tiny, broadcast); the window partitions by type,
  so no global sort.
- `stats_ks_test` — two-sample Kolmogorov–Smirnov distance on a fixed
  binned grid (deterministic `floor(value·10)` bins). Binning first is
  the 100 TB shape: the cumulative-sum window that forms the ECDFs
  runs over ≤ ~5k aggregated bin rows, not the corpus, so the single
  required global ordering is bounded regardless of input size. The
  statistic is exact integer arithmetic on cross-multiplied cumulative
  counts (|F1−F2| = |c1·n2 − c2·n1|/(n1·n2)) — no float CDFs to drift.

Cross-engine determinism: counts are integers; money is per-row
round(value·100)→bigint cents (the proven tpch_q1_shape idiom);
timestamps render as UTC strings on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datapipeline_scripts_spark.catalog import load_table
from datapipeline_scripts_spark.registry import query

_SCD2_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
  WHERE user_id % 17 = 0
),
chg AS (SELECT * FROM seq WHERE event_type IS DISTINCT FROM prev)
SELECT user_id,
       event_type AS state,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
       CAST(row_number() OVER w AS BIGINT) AS version,
       (lead(ts) OVER w IS NULL) AS is_current
FROM chg
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@query("scd2_history", oracle=_SCD2_ORACLE)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD build from the event stream: each user's event_type
    history collapsed to change intervals with valid_from/valid_to,
    version numbers, and an is_current flag — the standard
    point-in-time dimension a nightly snapshot pipeline maintains.

    Consecutive-duplicate elimination (the lag filter) runs before the
    interval windows, so the lead/row_number pass sees only state
    *changes*. Both windows share one (user_id) partitioning — Catalyst
    plans a single Exchange reused by both. The user_id % 17 filter is
    a deterministic subset to keep declared output bounded; at scale
    the operator is per-entity embarrassingly parallel."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 17 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        e.withColumn("prev", F.lag("event_type").over(w))
        .filter(~F.expr("event_type <=> prev"))
    )
    fmt = "yyyy-MM-dd HH:mm:ss"
    return chg.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.date_format("ts", fmt).alias("valid_from"),
        F.date_format(F.lead("ts").over(w), fmt).alias("valid_to"),
        F.row_number().over(w).cast("long").alias("version"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


_MARKOV_ORACLE = """
WITH seq AS (
  SELECT event_type AS next_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
pairs AS (
  SELECT prev_type, next_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, n,
       CAST((10000 * n) // sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS prob_bp
FROM pairs
"""


@query("events_markov_transitions", oracle=_MARKOV_ORACLE)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences: P(next | prev) in exact basis points. The behavioral
    fingerprint used for bot screening and interaction-log curation
    (a user whose transition matrix is near-deterministic is a script).

    The lag window shuffles once on user_id; the groupBy collapses to
    |types|² rows before the normalizing window, so the second window
    is over a table of a few dozen rows regardless of corpus size."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("n"))
    )
    wp = Window.partitionBy("prev_type")
    return (
        pairs.withColumn("row_total", F.sum("n").over(wp))
        # integer floor division on both engines — no float probabilities
        .select(
            "prev_type",
            "next_type",
            "n",
            F.expr("CAST((10000 * n) div row_total AS BIGINT)").alias("prob_bp"),
        )
    )


_FILL_ORACLE = """
WITH bounds AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events
),
spine AS (
  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
grid AS (SELECT t.event_type, s.day FROM spine s CROSS JOIN types t)
SELECT g.event_type,
       strftime(g.day, '%Y-%m-%d') AS day,
       CAST(last_value(d.cents IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS filled_cents,
       (d.cents IS NULL) AS is_gap
FROM grid g
LEFT JOIN daily d ON g.event_type = d.event_type AND g.day = d.day
"""


@query("time_fill_forward", oracle=_FILL_ORACLE)
def time_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill: a generated day spine × event-type grid,
    left-joined to daily revenue (per-row-quantized cents), with
    missing days forward-filled via last(ignorenulls) — the standard
    regularization step before any rolling-window or resample math on
    an irregular series.

    The spine is built with sequence()/explode from a 1-row min/max
    aggregate (days×types rows, broadcast side of the join); the fill
    window partitions by event_type — no global ordering anywhere.
    Days before a type's first observation stay NULL on both engines."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    types = e.select("event_type").distinct()
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    grid = spine.crossJoin(F.broadcast(types))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.last("cents", ignorenulls=True).over(w).alias("filled_cents"),
            F.col("cents").isNull().alias("is_gap"),
        )
    )


_KS_ORACLE = """
WITH s AS (
  SELECT CAST(floor(value * 10) AS BIGINT) AS bin, event_type
  FROM events WHERE event_type IN ('click', 'purchase')
),
pts AS (
  SELECT bin,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c2
  FROM s GROUP BY bin
),
cum AS (
  SELECT sum(c1) OVER w AS f1, sum(c2) OVER w AS f2
  FROM pts
  WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
tot AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM pts
)
SELECT CAST(max(10000 * abs(f1 * n2 - f2 * n1)) // (n1 * n2) AS BIGINT) AS ks_d_bp,
       n1, n2
FROM cum, tot
GROUP BY n1, n2
"""


@query("stats_ks_test", oracle=_KS_ORACLE)
def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between the value
    distributions of two event types, on a deterministic binned grid —
    the drift gate a training pipeline runs between data snapshots
    (companion to quality_drift's categorical deltas; this is the
    numeric-distribution version).

    Shape: bin → groupBy (partial-aggregable, collapses the corpus to
    ≤ ~5k bin rows) → one bounded cumulative-sum window over the bins
    → cross-multiplied integer max. The only ordered window runs on
    the aggregated bin table, so the Exchange SinglePartition it needs
    is a few KB at any corpus size. The cross-multiplied products are
    accumulated as DECIMAL(38,0) on the Spark side (int128 in DuckDB),
    so the 10⁴·n1·n2 intermediate stays exact past 10¹⁵ rows per
    side — no int64 ceiling."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    pts = (
        e.select(
            F.floor(F.col("value") * 10).cast("long").alias("bin"), "event_type"
        )
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c1"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("c2"),
        )
    )
    # bounded-domain global window: input is the per-BIN aggregate
    # (|value bins| rows), never the event stream
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = pts.select(
        F.sum("c1").over(w).alias("f1"), F.sum("c2").over(w).alias("f2")
    )
    tot = pts.agg(
        F.sum("c1").cast("long").alias("n1"), F.sum("c2").cast("long").alias("n2")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            # DECIMAL(38,0) intermediates: 10^4·n1·n2 exceeds int64 at
            # ~3e7 rows per side, well inside the 100 TB framing
            F.expr(
                "CAST(max(10000 * abs(CAST(f1 AS DECIMAL(38,0)) * n2"
                " - CAST(f2 AS DECIMAL(38,0)) * n1))"
                " div (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)"
            ).alias("ks_d_bp")
        )
        .select("ks_d_bp", "n1", "n2")
    )


_AUTOCORR_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY CAST(ts AS DATE)
),
lagged AS (
  SELECT y,
         lag(y, 1) OVER w AS b1,
         lag(y, 2) OVER w AS b2,
         lag(y, 3) OVER w AS b3
  FROM daily
  WINDOW w AS (ORDER BY day)
),
s AS (
  SELECT k, count(*) AS n,
         CAST(sum(a) AS HUGEINT) AS sa, CAST(sum(b) AS HUGEINT) AS sb,
         CAST(sum(CAST(a AS HUGEINT) * a) AS HUGEINT) AS saa,
         CAST(sum(CAST(b AS HUGEINT) * b) AS HUGEINT) AS sbb,
         CAST(sum(CAST(a AS HUGEINT) * b) AS HUGEINT) AS sab
  FROM (
    SELECT 1 AS k, y AS a, b1 AS b FROM lagged WHERE b1 IS NOT NULL
    UNION ALL SELECT 2, y, b2 FROM lagged WHERE b2 IS NOT NULL
    UNION ALL SELECT 3, y, b3 FROM lagged WHERE b3 IS NOT NULL
  )
  GROUP BY k
)
SELECT k AS lag, n,
       CAST(floor((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                   - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
            / sqrt(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                   - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
            / sqrt(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                   - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
            * 10000) AS BIGINT) AS autocorr_bp
FROM s
"""


@query("stats_autocorr", oracle=_AUTOCORR_ORACLE)
def stats_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1/2/3 autocorrelation of the daily event-count series — the
    seasonality probe behind ingestion-cadence monitoring (a crawl
    whose daily volume autocorrelation collapses changed its source
    mix) and the stationarity check before EWMA-style smoothing
    (events_ewma).

    Exactness: the series is integer counts; sufficient statistics
    (Σa, Σb, Σa², Σb², Σab per lag) accumulate as exact decimal(38,0)
    (int128 in the oracle), so aggregation is order-independent; the
    Pearson ratio is then evaluated from those exact integers with an
    IEEE operation order written identically in both engines (each sum
    cast to double first — the same discipline stats_corr_matrix uses),
    reported in floor'd basis points.

    Scale: the corpus collapses to |days| rows in one partial-agg
    pass; the lag window and everything after runs on that bounded
    series (same bounded-window argument as stats_ks_test)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("y")
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "y",
        F.lag("y", 1).over(w).alias("b1"),
        F.lag("y", 2).over(w).alias("b2"),
        F.lag("y", 3).over(w).alias("b3"),
    )
    # one leg, not a 3-branch union: a union would re-run the scan +
    # daily aggregate + window per lag (seen in the dumped plan);
    # stack() unpivots the three lag columns from the single pass
    pairs = lagged.selectExpr(
        "stack(3, 1, y, b1, 2, y, b2, 3, y, b3) AS (k, a, b)"
    ).filter(F.col("b").isNotNull())
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = pairs.groupBy("k").agg(
        F.count("*").alias("n"),
        F.sum(dec("a")).alias("sa"),
        F.sum(dec("b")).alias("sb"),
        F.sum(dec("a") * F.col("a")).alias("saa"),
        F.sum(dec("b") * F.col("b")).alias("sbb"),
        F.sum(dec("a") * F.col("b")).alias("sab"),
    )
    expr = (
        "cast(floor((cast(n as double) * cast(sab as double)"
        " - cast(sa as double) * cast(sb as double))"
        " / sqrt(cast(n as double) * cast(saa as double)"
        " - cast(sa as double) * cast(sa as double))"
        " / sqrt(cast(n as double) * cast(sbb as double)"
        " - cast(sb as double) * cast(sb as double))"
        " * 10000) as bigint)"
    )
    return s.selectExpr("k as lag", "n", f"{expr} as autocorr_bp")


_PCA_ITERS = 6
_PCA_VSCALE = 100_000  # eigenvector components in 1e-5 units


def _pca_sql(table: str, big: str, div: str) -> str:
    """Shared generator for the power-iteration SQL — one template,
    two dialects (big: DECIMAL(38,0) on Spark / HUGEINT on DuckDB;
    div: `div` on Spark / `//` on DuckDB — both truncate toward zero,
    verified, so negative covariances divide identically)."""

    def d(a: str, b: str) -> str:
        return f"(({a}) {div} ({b}))"

    cov = lambda sab, sa, sb: d(f"n * {sab} - {sa} * {sb}", "n * n")  # noqa: E731
    iters = []
    prev = "it0"
    for i in range(1, _PCA_ITERS + 1):
        iters.append(
            f"""it{i} AS (
  SELECT a.a11, a.a12, a.a13, a.a22, a.a23, a.a33,
         {d(f'w1 * {_PCA_VSCALE}', 'mx')} AS v1,
         {d(f'w2 * {_PCA_VSCALE}', 'mx')} AS v2,
         {d(f'w3 * {_PCA_VSCALE}', 'mx')} AS v3
  FROM (
    SELECT a11, a12, a13, a22, a23, a33, w1, w2, w3,
           greatest(abs(w1), abs(w2), abs(w3), 1) AS mx
    FROM (
      SELECT a11, a12, a13, a22, a23, a33,
             a11 * v1 + a12 * v2 + a13 * v3 AS w1,
             a12 * v1 + a22 * v2 + a23 * v3 AS w2,
             a13 * v1 + a23 * v2 + a33 * v3 AS w3
      FROM {prev}
    )
  ) a
)"""
        )
        prev = f"it{i}"
    iter_sql = ",\n".join(iters)
    return f"""
WITH q AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_extendedprice) AS BIGINT) AS y,
         CAST(round(l_discount * 10000) AS BIGINT) AS z
  FROM {table}
),
s AS (
  SELECT CAST(count(*) AS {big}) AS n,
         CAST(sum(x) AS {big}) AS sx, CAST(sum(y) AS {big}) AS sy,
         CAST(sum(z) AS {big}) AS sz,
         CAST(sum(CAST(x AS {big}) * x) AS {big}) AS sxx,
         CAST(sum(CAST(y AS {big}) * y) AS {big}) AS syy,
         CAST(sum(CAST(z AS {big}) * z) AS {big}) AS szz,
         CAST(sum(CAST(x AS {big}) * y) AS {big}) AS sxy,
         CAST(sum(CAST(x AS {big}) * z) AS {big}) AS sxz,
         CAST(sum(CAST(y AS {big}) * z) AS {big}) AS syz
  FROM q
),
mat AS (
  SELECT {cov('sxx', 'sx', 'sx')} AS m11,
         {cov('sxy', 'sx', 'sy')} AS m12,
         {cov('sxz', 'sx', 'sz')} AS m13,
         {cov('syy', 'sy', 'sy')} AS m22,
         {cov('syz', 'sy', 'sz')} AS m23,
         {cov('szz', 'sz', 'sz')} AS m33
  FROM s
),
a AS (
  SELECT CAST({d('m11', 'dd')} AS BIGINT) AS a11,
         CAST({d('m12', 'dd')} AS BIGINT) AS a12,
         CAST({d('m13', 'dd')} AS BIGINT) AS a13,
         CAST({d('m22', 'dd')} AS BIGINT) AS a22,
         CAST({d('m23', 'dd')} AS BIGINT) AS a23,
         CAST({d('m33', 'dd')} AS BIGINT) AS a33
  FROM (
    SELECT m11, m12, m13, m22, m23, m33,
           greatest({d('greatest(abs(m11), abs(m22), abs(m33), abs(m12), abs(m13), abs(m23))', '1000000')}, 1) AS dd
    FROM mat
  )
),
it0 AS (
  SELECT a11, a12, a13, a22, a23, a33,
         CAST({_PCA_VSCALE} AS BIGINT) AS v1,
         CAST({_PCA_VSCALE} AS BIGINT) AS v2,
         CAST({_PCA_VSCALE} AS BIGINT) AS v3
  FROM a
),
{iter_sql},
signed AS (
  SELECT a11, a12, a13, a22, a23, a33,
         sgn * v1 AS v1, sgn * v2 AS v2, sgn * v3 AS v3
  FROM (
    SELECT *,
           CASE WHEN v1 < 0 OR (v1 = 0 AND v2 < 0)
                     OR (v1 = 0 AND v2 = 0 AND v3 < 0)
                THEN -1 ELSE 1 END AS sgn
    FROM it{_PCA_ITERS}
  )
)
SELECT CAST(v1 AS BIGINT) AS eig_x_e5,
       CAST(v2 AS BIGINT) AS eig_y_e5,
       CAST(v3 AS BIGINT) AS eig_z_e5,
       CAST({d('v1 * (a11 * v1 + a12 * v2 + a13 * v3)'
               ' + v2 * (a12 * v1 + a22 * v2 + a23 * v3)'
               ' + v3 * (a13 * v1 + a23 * v2 + a33 * v3)',
               'greatest(v1 * v1 + v2 * v2 + v3 * v3, 1)')} AS BIGINT)
         AS rayleigh_scaled
FROM signed
"""


@query("stats_pca_power", oracle=_pca_sql("lineitem", "HUGEINT", "//"))
def stats_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the (quantity, price-dollars,
    discount-bp) covariance matrix by 6 unrolled power iterations —
    iterative numeric linear algebra under the house exactness
    contract (the float-free sibling of graph_pagerank's fixed-point).

    Every step is exact integer arithmetic: covariance entries from
    int128 sufficient statistics (truncating division by n² — both
    engines truncate toward zero, verified), the matrix rescaled to
    ≤1e6 units, each iteration a 3×3 integer mat-vec + renormalization
    to 1e-5 units, deterministic sign fix, and an integer Rayleigh
    quotient. The oracle runs the IDENTICAL generated SQL template in
    DuckDB dialect, so the hash match proves 6 iterations of linear
    algebra agree bit-for-bit.

    Scale: the corpus collapses to one 10-number sufficient-statistics
    row in a single partial-aggregable pass; the iterations run on
    that 1-row table — O(1) regardless of input size. More features
    grow the matrix quadratically but the pattern holds (PCA of the
    feature-correlation screen before regression weighting)."""
    return spark.sql(
        _pca_sql("{lineitem}", "DECIMAL(38,0)", "div"),
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


_SCD2_CUTOVER = "2024-01-25 00:00:00"  # ~80/20 split of the fixture event range


@query("scd2_merge_incremental", oracle=_SCD2_ORACLE)
def scd2_merge_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance: the nightly form of
    `scd2_history`. The stored dimension (built from events before a
    cutover timestamp) is merged with the new day's events — only
    users PRESENT in the delta are recomputed, untouched users' rows
    pass through — and the result must hash-equal the full rebuild
    (the oracle IS scd2_history's full-history SQL, so the equality is
    the correctness proof, the same contract incremental_agg_refresh
    proves for rollups).

    Why this is the 100 TB shape: the expensive lag/lead windows rerun
    over (base change-points ∪ delta events) for delta users only —
    cost ∝ churned users, not dimension size; the pass-through side is
    a hash-partitioned anti-join on user_id. The merge is exact
    because a user's pre-cutover change-points are a sufficient
    statistic for their SCD2 history: replaying them with the new
    events through the same consecutive-duplicate filter reproduces
    the full-history intervals bit-for-bit."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 17 == 0)
    cut = F.lit(_SCD2_CUTOVER).cast("timestamp")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fmt = "yyyy-MM-dd HH:mm:ss"

    def change_points(df: DataFrame) -> DataFrame:
        """(user_id, state, ts, event_id) rows where state differs from
        the previous row — the SCD2 sufficient statistic."""
        return (
            df.withColumn("prev", F.lag("event_type").over(w))
            .filter(~F.expr("event_type <=> prev"))
            .select("user_id", F.col("event_type"), "ts", "event_id")
        )

    base_points = change_points(e.filter(F.col("ts") < cut))
    delta = e.filter(F.col("ts") >= cut).select("user_id", "event_type", "ts", "event_id")
    churned = delta.select("user_id").distinct()

    # replay = base change-points (for churned users) ∪ their new events,
    # re-deduped across the cutover boundary by the same lag filter
    replay = change_points(
        base_points.join(churned, "user_id", "left_semi").unionByName(delta)
    )
    # untouched users: base change-points pass through untouched
    untouched = base_points.join(churned, "user_id", "left_anti")

    merged = replay.unionByName(untouched)
    return merged.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.date_format("ts", fmt).alias("valid_from"),
        F.date_format(F.lead("ts").over(w), fmt).alias("valid_to"),
        F.row_number().over(w).cast("long").alias("version"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


_DECOMP_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY CAST(ts AS DATE)
),
tr AS (
  SELECT day, y,
         CASE WHEN count(*) OVER w7 = 7
              THEN CAST(sum(y) OVER w7 // 7 AS BIGINT) END AS trend
  FROM daily
  WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
det AS (
  SELECT day, y, trend, y - trend AS d,
         isodow(day) - 1 AS dow
  FROM tr
),
seas AS (
  SELECT dow, CAST(sum(d) // nullif(count(d), 0) AS BIGINT) AS s
  FROM det GROUP BY dow
)
SELECT strftime(det.day, '%Y-%m-%d') AS day,
       det.y,
       det.trend,
       seas.s AS seasonal,
       det.d - seas.s AS remainder
FROM det JOIN seas ON det.dow = seas.dow
"""


@query("time_seasonal_decompose", oracle=_DECOMP_ORACLE)
def time_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of the daily event-count series
    (classical moving-average form): trend = centered 7-day average
    (full windows only), seasonal = per-day-of-week mean of the
    detrended series, remainder = what neither explains — the
    ingestion-cadence diagnostic that separates "crawler volume is
    drifting" (trend) from "weekends are just quiet" (seasonal), the
    companion to stats_autocorr's seasonality probe.

    Exactness: counts are integers; trend and seasonal use truncating
    integer division (identical toward-zero semantics both engines,
    including on negative detrended values); day-of-week is Monday=0
    on both (Spark weekday() ≡ DuckDB isodow()-1). The corpus
    collapses to |days| rows in one partial-agg pass before any
    window (same bounded-series argument as stats_ks_test)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("y")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "y",
        F.when(
            F.count("*").over(w7) == 7, F.expr("sum(y) over (order by day rows between 3 preceding and 3 following) div 7")
        ).alias("trend"),
    )
    det = tr.select(
        "day", "y", "trend",
        (F.col("y") - F.col("trend")).alias("d"),
        F.weekday("day").alias("dow"),
    )
    seas = det.groupBy("dow").agg(
        F.expr("CAST(sum(d) div nullif(count(d), 0) AS BIGINT)").alias("s")
    )
    return det.join(F.broadcast(seas), "dow").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "y",
        "trend",
        F.col("s").alias("seasonal"),
        (F.col("d") - F.col("s")).alias("remainder"),
    )


_PIT_ORACLE = """
WITH u AS (SELECT DISTINCT user_id FROM events WHERE user_id % 17 = 0),
b AS (SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events),
spine AS (
  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                                     INTERVAL 7 DAY)) AS TIMESTAMP) AS t
  FROM b
),
seq AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events WHERE user_id % 17 = 0
),
chg AS (
  SELECT user_id, ts AS t, event_id AS eid, 0 AS probe, event_type AS state
  FROM seq WHERE event_type IS DISTINCT FROM prev
),
pr AS (
  SELECT u.user_id, s.t, CAST(0 AS BIGINT) AS eid, 1 AS probe,
         CAST(NULL AS VARCHAR) AS state
  FROM u CROSS JOIN spine s
),
allr AS (SELECT * FROM chg UNION ALL SELECT * FROM pr)
SELECT user_id,
       strftime(t, '%Y-%m-%d') AS snap_day,
       last_value(state IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY t, probe, eid
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS state_at
FROM allr
QUALIFY probe = 1
"""


@query("scd2_point_in_time", oracle=_PIT_ORACLE)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup — the feature-store primitive:
    reconstruct each user's SCD2 state at a weekly snapshot spine
    (state valid at instant T = last change with ts <= T), the exact
    semantics a training pipeline needs to join label timestamps
    against a mutable dimension WITHOUT future leakage.

    Implemented with the union-spine trick rather than an interval
    join: change-points (probe=0) and probe timestamps (probe=1) are
    unioned into one per-user ordered stream and the state is carried
    forward with last(ignorenulls). One (user_id) shuffle total —
    no range join, no per-probe scan; at 100 TB cost is
    O(changes + probes) per user, embarrassingly parallel across
    users. Probes order AFTER a change at the identical timestamp
    (probe flag is the second sort key), encoding the <= contract
    identically on both engines; eid is coalesced to 0 on probe rows
    so no NULL-ordering divergence (Spark: NULLS FIRST, DuckDB:
    NULLS LAST) can enter the sort."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 17 == 0)
    users = e.select("user_id").distinct()
    bounds = load_table(spark, sf_dir, "events").agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = bounds.select(
        F.explode(
            F.sequence(
                F.col("d0").cast("timestamp"),
                F.col("d1").cast("timestamp"),
                F.expr("INTERVAL 7 DAYS"),
            )
        ).alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        e.withColumn("prev", F.lag("event_type").over(w))
        .filter(~F.expr("event_type <=> prev"))
        .select(
            "user_id",
            F.col("ts").alias("t"),
            F.col("event_id").alias("eid"),
            F.lit(0).alias("probe"),
            F.col("event_type").alias("state"),
        )
    )
    probes = users.crossJoin(F.broadcast(spine)).select(
        "user_id",
        "t",
        F.lit(0).cast("long").alias("eid"),
        F.lit(1).alias("probe"),
        F.lit(None).cast("string").alias("state"),
    )
    ws = (
        Window.partitionBy("user_id")
        .orderBy("t", "probe", "eid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        chg.unionByName(probes)
        .withColumn("state_at", F.last("state", ignorenulls=True).over(ws))
        .filter(F.col("probe") == 1)
        .select(
            "user_id",
            F.date_format("t", "yyyy-MM-dd").alias("snap_day"),
            "state_at",
        )
    )


# ordering key: microsecond timestamp * 1e10 + event_id, exact in
# DECIMAL(38,0)/HUGEINT — a total order with a deterministic event_id
# tie-break that both engines compute identically (no struct/row
# comparators, which DuckDB's arg_min/arg_max don't accept)
_OHLC_KEY_SPARK = "cast(unix_micros(ts) as decimal(38,0)) * 10000000000 + event_id"
_OHLC_KEY_DUCK = "CAST(epoch_us(ts) AS HUGEINT) * 10000000000 + event_id"

_OHLC_ORACLE = f"""
SELECT event_type,
       strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       CAST(arg_min(CAST(round(value * 100) AS BIGINT), {_OHLC_KEY_DUCK}) AS BIGINT) AS open_cents,
       CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS high_cents,
       CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS low_cents,
       CAST(arg_max(CAST(round(value * 100) AS BIGINT), {_OHLC_KEY_DUCK}) AS BIGINT) AS close_cents,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS volume_cents
FROM events
GROUP BY event_type, CAST(ts AS DATE)
"""


@query("time_ohlc_bars", oracle=_OHLC_ORACLE)
def time_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC (open/high/low/close) bars per event type — the
    hypertable downsampling shape every time-series store ships
    (candlestick rollup / `time_bucket` + first/last): one hash
    aggregation with min_by/max_by picking the first and last value
    of the day under an exact total order.

    Exactness and scale: values are per-row quantized to integer
    cents; the ordering key packs (microsecond ts, event_id) into one
    DECIMAL(38,0)/HUGEINT so first/last are deterministic even with
    duplicate timestamps; min_by/max_by are partial-aggregable, so
    the corpus collapses map-side — one shuffle of |types|×|days|
    rows, no window function and no per-day sort anywhere."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        e.select(
            "event_type",
            F.to_date("ts").alias("d"),
            cents.alias("cents"),
            F.expr(_OHLC_KEY_SPARK).alias("k"),
        )
        .groupBy("event_type", "d")
        .agg(
            F.expr("min_by(cents, k)").cast("long").alias("open_cents"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.expr("max_by(cents, k)").cast("long").alias("close_cents"),
            F.count("*").alias("n_events"),
            F.sum("cents").alias("volume_cents"),
        )
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "open_cents",
            "high_cents",
            "low_cents",
            "close_cents",
            "n_events",
            "volume_cents",
        )
    )


_CUSUM_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY CAST(ts AS DATE)
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days, CAST(sum(y) AS BIGINT) AS total FROM daily
),
dev AS (
  SELECT day, y, y * n_days - total AS d, total
  FROM daily CROSS JOIN tot
),
pref AS (
  SELECT day, y, total,
         sum(d) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS prefix
  FROM dev
),
pre AS (
  SELECT day, y, total, prefix,
         min(prefix) OVER w AS lo,
         max(prefix) OVER w AS hi
  FROM pref
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT strftime(day, '%Y-%m-%d') AS day, y,
       CAST(prefix - lo AS BIGINT) AS cusum_pos,
       CAST(hi - prefix AS BIGINT) AS cusum_neg,
       (prefix - lo > total OR hi - prefix > total) AS alarm
FROM pre
"""


@query("stats_cusum_drift", oracle=_CUSUM_ORACLE)
def stats_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on the daily event-count series:
    the classic sequential drift alarm (Page's cumulative sum), in its
    prefix-minimum closed form — CUSUM⁺_n = prefix_n − min_{k≤n}
    prefix_k over the mean-centered series (and the mirrored CUSUM⁻) —
    so the 'recursive' statistic becomes two plain running windows.
    Alarm fires when cumulative excess volume exceeds one average
    day's worth: the ingestion-monitoring sibling of stats_ks_test
    (distribution drift) and time_seasonal_decompose (cadence).

    Exactness: deviations are scaled by n_days (y·n − total) so
    centering is integer, summation order-free, and thresholds exact.
    Scale: the corpus collapses to |days| rows in one partial-agg
    pass; the three nested windows all share the one bounded ordering
    (same argument as stats_ks_test)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("y")
    )
    tot = daily.agg(
        F.count("*").cast("long").alias("n_days"), F.sum("y").cast("long").alias("total")
    )
    # bounded-domain global window: runs over the |days| daily series
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pre = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn("prefix", F.sum(F.col("y") * F.col("n_days") - F.col("total")).over(w))
        .withColumn("lo", F.min("prefix").over(w))
        .withColumn("hi", F.max("prefix").over(w))
    )
    return pre.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "y",
        (F.col("prefix") - F.col("lo")).cast("long").alias("cusum_pos"),
        (F.col("hi") - F.col("prefix")).cast("long").alias("cusum_neg"),
        (
            (F.col("prefix") - F.col("lo") > F.col("total"))
            | (F.col("hi") - F.col("prefix") > F.col("total"))
        ).alias("alarm"),
    )


_POP_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY CAST(ts AS DATE)
),
lagged AS (
  SELECT day, cents,
         lag(cents, 1) OVER w AS prev_day,
         lag(cents, 7) OVER w AS prev_week
  FROM daily
  WINDOW w AS (ORDER BY day)
)
SELECT strftime(day, '%Y-%m-%d') AS day, cents,
       CAST(prev_day AS BIGINT) AS prev_day_cents,
       CAST(prev_week AS BIGINT) AS prev_week_cents,
       CAST(CASE WHEN prev_day IS NULL OR prev_day = 0 THEN NULL
                 ELSE (10000 * (cents - prev_day)) // prev_day END AS BIGINT) AS dod_bp,
       CAST(CASE WHEN prev_week IS NULL OR prev_week = 0 THEN NULL
                 ELSE (10000 * (cents - prev_week)) // prev_week END AS BIGINT) AS wow_bp
FROM lagged
"""


@query("time_period_over_period", oracle=_POP_ORACLE)
def time_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period reporting: daily revenue with day-over-day
    and week-over-week deltas in exact integer basis points (floor
    division both engines; NULL before a prior period exists or on a
    zero base) — the standard BI cadence sheet, and the simplest
    drift readout next to stats_cusum_drift's sequential alarm.

    Scale: one partial-agg pass collapses the corpus to |days| rows;
    both lags share one bounded ordered window (stats_ks_test
    argument). Negative deltas floor toward -inf identically on both
    engines (verified: Spark `div` and DuckDB `//` agree on BIGINT)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "day",
        "cents",
        F.lag("cents", 1).over(w).alias("prev_day"),
        F.lag("cents", 7).over(w).alias("prev_week"),
    )
    bp = lambda cur, prev: F.when(  # noqa: E731
        F.col(prev).isNull() | (F.col(prev) == 0), F.lit(None).cast("long")
    ).otherwise(F.expr(f"CAST((10000 * (cents - {prev})) div {prev} AS BIGINT)"))
    return lagged.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "cents",
        F.col("prev_day").alias("prev_day_cents"),
        F.col("prev_week").alias("prev_week_cents"),
        bp("cents", "prev_day").alias("dod_bp"),
        bp("cents", "prev_week").alias("wow_bp"),
    )


@query(
    "scd3_prev_value",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_orderpriority, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    )
    SELECT o_custkey AS custkey,
           max(CASE WHEN rn = 1 THEN o_orderpriority END) AS current_priority,
           max(CASE WHEN rn = 2 THEN o_orderpriority END) AS previous_priority,
           strftime(max(CASE WHEN rn = 1 THEN o_orderdate END), '%Y-%m-%d')
             AS changed_at
    FROM ranked WHERE rn <= 2 GROUP BY 1
    HAVING max(CASE WHEN rn = 1 THEN o_orderpriority END)
           IS DISTINCT FROM max(CASE WHEN rn = 2 THEN o_orderpriority END)
    ORDER BY 1
    """,
)
def scd3_prev_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-3 attribute tracking — current + immediately-previous
    value in ONE row per key (the narrow alternative to scd2_history's
    full interval table, for marts that only ever ask "what changed
    last"). Per customer the two most recent orders are selected by a
    keyed ranking window (deterministic tie-break on orderkey), and
    only customers whose priority actually changed surface —
    null-safe comparison keeps single-order customers out on both
    engines identically. One partitioned window + one keyed
    aggregation; no global ordering."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    ranked = o.select(
        "o_custkey", "o_orderpriority", "o_orderdate", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 2)
    cur = F.max(F.when(F.col("rn") == 1, F.col("o_orderpriority")))
    prev = F.max(F.when(F.col("rn") == 2, F.col("o_orderpriority")))
    return (
        ranked.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            cur.alias("current_priority"),
            prev.alias("previous_priority"),
            F.date_format(
                F.max(F.when(F.col("rn") == 1, F.col("o_orderdate"))), "yyyy-MM-dd"
            ).alias("changed_at"),
        )
        .filter(~F.col("current_priority").eqNullSafe(F.col("previous_priority")))
        .orderBy("custkey")
    )
