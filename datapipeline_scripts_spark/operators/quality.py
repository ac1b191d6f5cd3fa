"""Data-quality constraint audit (expectation-suite shape).

The reference's whole raison d'être is *trust in the data* — every
backup is verified by restoring it and checking row counts
(/root/reference/backup.sh:264-375). This operator generalizes that
into the declarative constraint audit a warehouse runs before
publishing a dataset: primary-key uniqueness, referential integrity,
domain membership, range and null checks — one row per constraint with
the exact violation count, so the report is identical across engines
and trivially hash-checkable (no property encoding needed).

Scale design: all per-table scalar constraints for one table collapse
into ONE aggregate pass over that table (conditional sums — no
re-scan per rule); referential checks are anti-joins — broadcast for
true dimensions, AQE-chosen for fact-fact edges. Total cost at
100 TB: one scan per audited fact
table + one per FK edge, each with its filters/projections pushed to
parquet. The constraint list is data, not code — add a row, not a job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_scripts_spark.catalog import load_table
from datapipeline_scripts_spark.registry import query

_QUALITY_ORACLE = """
WITH checks(constraint_name, violations) AS (
  SELECT 'orders_nonempty',
         CASE WHEN (SELECT count(*) FROM orders) = 0 THEN 1 ELSE 0 END
  UNION ALL SELECT 'orders_pk_unique',
         (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
  UNION ALL SELECT 'orders_status_domain',
         (SELECT count(*) FROM orders WHERE o_orderstatus NOT IN ('O','F','P') OR o_orderstatus IS NULL)
  UNION ALL SELECT 'orders_totalprice_positive',
         (SELECT count(*) FROM orders WHERE o_totalprice IS NULL OR o_totalprice <= 0)
  UNION ALL SELECT 'orders_fk_customer',
         (SELECT count(*) FROM orders o WHERE NOT EXISTS
            (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
  UNION ALL SELECT 'lineitem_qty_range',
         (SELECT count(*) FROM lineitem WHERE l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50)
  UNION ALL SELECT 'lineitem_discount_range',
         (SELECT count(*) FROM lineitem WHERE l_discount IS NULL OR l_discount < 0 OR l_discount > 0.1)
  UNION ALL SELECT 'lineitem_price_positive',
         (SELECT count(*) FROM lineitem WHERE l_extendedprice IS NULL OR l_extendedprice <= 0)
  UNION ALL SELECT 'lineitem_fk_orders',
         (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
            (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
  UNION ALL SELECT 'lineitem_fk_part',
         (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
            (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
  UNION ALL SELECT 'lineitem_fk_supplier',
         (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
            (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
  UNION ALL SELECT 'events_ts_not_null',
         (SELECT count(*) FROM events WHERE ts IS NULL)
  UNION ALL SELECT 'events_type_domain',
         (SELECT count(*) FROM events WHERE event_type NOT IN
            ('click','view','purchase','signup','error') OR event_type IS NULL)
  UNION ALL SELECT 'documents_text_nonempty',
         (SELECT count(*) FROM documents WHERE text IS NULL OR length(text) = 0)
)
SELECT constraint_name, CAST(violations AS BIGINT) AS violations,
       violations = 0 AS passed
FROM checks
"""


@query("quality_audit", oracle=_QUALITY_ORACLE)
def quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-constraint expectation suite over four tables: PK uniqueness,
    FK integrity (anti-join counts), domain membership, range and
    null-rate checks. Exact violation counts — fully hash-checked.

    Plan shape: one conditional-sum aggregate per audited table (all of
    that table's scalar rules share the single scan) + one broadcast
    anti-join per FK edge; the per-constraint rows are unioned from
    1-row aggregates, so the whole audit is a handful of parallel
    stages with pushed-down projections."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    events = load_table(spark, sf_dir, "events")
    documents = load_table(spark, sf_dir, "documents")

    cnt = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731

    # all scalar rules for a table ride ONE aggregate over its scan
    orders_scalar = orders.agg(
        (F.when(F.count("*") == 0, 1).otherwise(0)).cast("long").alias("orders_nonempty"),
        (F.count("*") - F.count_distinct("o_orderkey")).alias("orders_pk_unique"),
        cnt(~F.col("o_orderstatus").isin("O", "F", "P") | F.col("o_orderstatus").isNull()).alias(
            "orders_status_domain"
        ),
        cnt(F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)).alias("orders_totalprice_positive"),
    )
    lineitem_scalar = lineitem.agg(
        cnt(F.col("l_quantity").isNull() | (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).alias(
            "lineitem_qty_range"
        ),
        cnt(F.col("l_discount").isNull() | (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).alias(
            "lineitem_discount_range"
        ),
        cnt(F.col("l_extendedprice").isNull() | (F.col("l_extendedprice") <= 0)).alias("lineitem_price_positive"),
    )
    events_scalar = events.agg(
        cnt(F.col("ts").isNull()).alias("events_ts_not_null"),
        cnt(
            ~F.col("event_type").isin("click", "view", "purchase", "signup", "error")
            | F.col("event_type").isNull()
        ).alias("events_type_domain"),
    )
    docs_scalar = documents.agg(
        cnt(F.col("text").isNull() | (F.length("text") == 0)).alias("documents_text_nonempty"),
    )

    def melt(df: DataFrame) -> DataFrame:
        pairs = [p for c in df.columns for p in (F.lit(c), F.col(c).cast("long"))]
        return df.select(
            F.explode(F.create_map(*pairs)).alias("constraint_name", "violations")
        )

    def fk_violations(
        name: str, fact: DataFrame, fact_key: str, dim: DataFrame, dim_key: str, broadcast_dim: bool = True
    ) -> DataFrame:
        # true dimensions broadcast; a fact-fact FK edge (lineitem →
        # orders) must NOT be hinted — at 100 TB the referenced side is
        # itself huge, so leave the strategy to AQE (shuffled hash /
        # SMJ anti with the key column pruned to a semi-join reduction)
        dim_side = F.broadcast(dim) if broadcast_dim else dim
        return (
            fact.join(dim_side, fact[fact_key] == dim[dim_key], "left_anti")
            .agg(F.count("*").alias("violations"))
            .select(F.lit(name).alias("constraint_name"), F.col("violations").cast("long"))
        )

    report = (
        melt(orders_scalar)
        .unionByName(melt(lineitem_scalar))
        .unionByName(melt(events_scalar))
        .unionByName(melt(docs_scalar))
        .unionByName(fk_violations("orders_fk_customer", orders, "o_custkey", customer, "c_custkey"))
        .unionByName(fk_violations("lineitem_fk_orders", lineitem, "l_orderkey", orders.select("o_orderkey"), "o_orderkey", broadcast_dim=False))
        .unionByName(fk_violations("lineitem_fk_part", lineitem, "l_partkey", part, "p_partkey"))
        .unionByName(fk_violations("lineitem_fk_supplier", lineitem, "l_suppkey", supplier, "s_suppkey"))
    )
    return report.select("constraint_name", "violations", (F.col("violations") == 0).alias("passed"))


_BENFORD_ORACLE = """
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER)
           AS leading_digit
  FROM orders
  WHERE o_totalprice >= 1
)
SELECT leading_digit,
       count(*) AS n,
       CAST(count(*) * 10000 // (SELECT count(*) FROM digits) AS BIGINT)
         AS observed_bp,
       CAST(round(log10(1.0 + 1.0 / leading_digit) * 10000) AS BIGINT)
         AS benford_bp
FROM digits
GROUP BY leading_digit
"""


@query("stats_benford", oracle=_BENFORD_ORACLE)
def stats_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit analysis of order totals: observed leading-
    digit share vs the Benford expectation (basis points) — the
    classic anomaly/fraud screen for invented numeric data; a synthetic
    uniform-ish price column like this fixture's visibly DEVIATES from
    Benford, which is exactly what the report surfaces.

    Explicit floor() before the integer cast on BOTH sides (DuckDB's
    double→bigint cast rounds, Spark's truncates — caught by the
    oracle). Integer share arithmetic keeps the hash exact; the Benford
    expectation is a per-digit constant (round(log10(1+1/d)·10⁴) —
    identical in both engines' double math on these 9 clean values).

    Scale: one conditional scan + 9-group aggregate; the global count
    rides the same aggregate as a broadcast scalar."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1)
        .cast("int")
        .alias("leading_digit")
    )
    counts = d.groupBy("leading_digit").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "leading_digit",
        "n",
        F.expr("n * 10000 div total").alias("observed_bp"),
        F.round(F.log10(1.0 + 1.0 / F.col("leading_digit")) * 10000)
        .cast("long")
        .alias("benford_bp"),
    )


_DRIFT_ORACLE = """
WITH a AS (
  SELECT o_orderpriority, count(*) AS n_a
  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01' GROUP BY 1
),
b AS (
  SELECT o_orderpriority, count(*) AS n_b
  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01' GROUP BY 1
),
tot AS (SELECT (SELECT sum(n_a) FROM a) AS ta, (SELECT sum(n_b) FROM b) AS tb)
SELECT coalesce(a.o_orderpriority, b.o_orderpriority) AS o_orderpriority,
       CAST(coalesce(n_a, 0) AS BIGINT) AS n_before,
       CAST(coalesce(n_b, 0) AS BIGINT) AS n_after,
       CAST(coalesce(n_a, 0) * 10000 // (SELECT ta FROM tot) AS BIGINT) AS share_before_bp,
       CAST(coalesce(n_b, 0) * 10000 // (SELECT tb FROM tot) AS BIGINT) AS share_after_bp,
       CAST(coalesce(n_b, 0) * 10000 // (SELECT tb FROM tot)
            - coalesce(n_a, 0) * 10000 // (SELECT ta FROM tot) AS BIGINT) AS delta_bp
FROM a FULL OUTER JOIN b USING (o_orderpriority)
"""


@query("quality_drift", oracle=_DRIFT_ORACLE)
def quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift report between two dataset snapshots (orders
    before vs after a cutoff): per-category counts, shares, and share
    deltas in integer basis points — the PSI-style check a pipeline
    runs before publishing a refreshed dataset, with per-category terms
    (not a lossy summed index) so the drifting category is named.

    Scale: two filtered aggregates over one scan pattern + a
    category-sized full-outer join; shares are exact integer math, so
    the report is hash-identical cross-engine."""
    o = load_table(spark, sf_dir, "orders")
    cutoff = "1997-01-01"
    a = (
        o.filter(F.col("o_orderdate") < cutoff)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_a"))
    )
    b = (
        o.filter(F.col("o_orderdate") >= cutoff)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_b"))
    )
    tot = a.agg(F.sum("n_a").alias("ta")).crossJoin(b.agg(F.sum("n_b").alias("tb")))
    joined = a.join(b, "o_orderpriority", "full_outer").crossJoin(F.broadcast(tot))
    na, nb = F.coalesce("n_a", F.lit(0)), F.coalesce("n_b", F.lit(0))
    return joined.select(
        "o_orderpriority",
        na.alias("n_before"),
        nb.alias("n_after"),
        F.expr("coalesce(n_a, 0) * 10000 div ta").alias("share_before_bp"),
        F.expr("coalesce(n_b, 0) * 10000 div tb").alias("share_after_bp"),
        F.expr("coalesce(n_b, 0) * 10000 div tb - coalesce(n_a, 0) * 10000 div ta").alias("delta_bp"),
    )


@query(
    "observe_metrics",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    WHERE o_totalprice > 1000
    GROUP BY o_orderstatus
    """,
)
def observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`df.observe()` — audit metrics that ride the SAME job as the
    query (CollectMetrics operator): row count, null count, and
    filtered-out count accumulate executor-side while the main
    aggregation runs, with ZERO extra scan. The production pattern for
    ingest accounting — a 100 TB load shouldn't pay a second pass just
    to know how many rows it dropped; tests/test_quality.py reads the
    metrics through a QueryExecutionListener-backed Observation and
    asserts they reconcile with the result.

    The returned result is an ordinary cents-exact aggregate the
    oracle replays; the observation is invisible to the result hash —
    the point is that observability costs nothing."""
    o = load_table(spark, sf_dir, "orders")
    observed = o.observe(
        "ingest_audit",
        F.count(F.lit(1)).alias("rows_scanned"),
        F.sum(F.when(F.col("o_totalprice") <= 1000, 1).otherwise(0)).alias("rows_dropped"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias("null_custkeys"),
    )
    return (
        observed.filter(F.col("o_totalprice") > 1000)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
        )
    )


_XFIELD_ORACLE = """
WITH detail AS (
  SELECT l_orderkey AS k,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS detail_cents
  FROM lineitem GROUP BY l_orderkey
),
recon AS (
  SELECT o.o_orderkey,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS header_cents,
         coalesce(d.detail_cents, 0) AS detail_cents,
         (d.k IS NULL) AS headless
  FROM orders o LEFT JOIN detail d ON o.o_orderkey = d.k
)
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(CASE WHEN headless THEN 1 END) AS BIGINT) AS n_no_lines,
       CAST(count(CASE WHEN NOT headless
                        AND abs(header_cents - detail_cents) <= 100 THEN 1 END) AS BIGINT)
         AS n_consistent,
       CAST(count(CASE WHEN NOT headless
                        AND abs(header_cents - detail_cents) > 100 THEN 1 END) AS BIGINT)
         AS n_mismatched,
       CAST(sum(CASE WHEN headless THEN 0
                     ELSE abs(header_cents - detail_cents) END) AS BIGINT)
         AS total_abs_drift_cents
FROM recon
"""


@query("quality_cross_field", oracle=_XFIELD_ORACLE)
def quality_cross_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header/detail cross-table reconciliation — the audit
    quality_audit's single-table rules can't express: does each order
    header's total agree with the sum of its line items (±$1)? Reports
    exact counts of consistent / mismatched / line-less orders and the
    total absolute drift in cents, all integer arithmetic.

    Scale: one partial-aggregable rollup of the fact table to order
    grain, one keyed left join against headers (both sides hash on
    orderkey, AQE-coalesced), then a global conditional-sum collapse —
    the same two-scan budget a warehouse reconciliation job gets."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    detail = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast("long").alias("detail_cents")
    )
    recon = o.join(detail, o.o_orderkey == detail.k, "left").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("header_cents"),
        F.coalesce("detail_cents", F.lit(0)).alias("detail_cents"),
        F.col("k").isNull().alias("headless"),
    )
    return recon.agg(
        F.count("*").cast("long").alias("n_orders"),
        F.count(F.when(F.col("headless"), 1)).cast("long").alias("n_no_lines"),
        F.count(
            F.when(
                ~F.col("headless")
                & (F.abs(F.col("header_cents") - F.col("detail_cents")) <= 100),
                1,
            )
        )
        .cast("long")
        .alias("n_consistent"),
        F.count(
            F.when(
                ~F.col("headless")
                & (F.abs(F.col("header_cents") - F.col("detail_cents")) > 100),
                1,
            )
        )
        .cast("long")
        .alias("n_mismatched"),
        F.sum(
            F.when(F.col("headless"), 0).otherwise(
                F.abs(F.col("header_cents") - F.col("detail_cents"))
            )
        )
        .cast("long")
        .alias("total_abs_drift_cents"),
    )
