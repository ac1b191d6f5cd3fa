"""Snapshot reconciliation and shuffle-skew diagnostics.

The reference proves every backup by restoring it and comparing
(/root/reference/backup.sh:264-375) — a binary pass/fail. The
warehouse-grade generalization is a *diff report*: given yesterday's
snapshot and today's, classify every key as added / removed / changed /
unchanged and publish counts plus key checksums, so an incremental
extract (VERDICT r02 §2.A A9) can be audited without re-copying the
table. `partition_skew_report` is the operational sibling: before
running a 100 TB keyed join, measure the key-frequency distribution and
derive the salt factor `join_skew_salted` (joins.py) should use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datapipeline_scripts_spark.catalog import load_table
from datapipeline_scripts_spark.registry import query

# Deterministic snapshot pair derived from one fixture table:
#   old = orders as of 1999-01-01;
#   new = orders as of 2000-01-01, with orderkey%13==0 rows "updated"
#         (+10.00, status forced to F) and orderkey%97==5 rows deleted.
# Money compares as integer cents (bigint) so the changed-row predicate
# is exact on both engines (no double rendering anywhere).
_DIFF_ORACLE = """
WITH old AS (
  SELECT o_orderkey AS k,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderstatus AS status
  FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
),
new AS (
  SELECT o_orderkey AS k,
         CAST(round(o_totalprice * 100) AS BIGINT)
           + CASE WHEN o_orderkey % 13 = 0 THEN 1000 ELSE 0 END AS cents,
         CASE WHEN o_orderkey % 13 = 0 THEN 'F' ELSE o_orderstatus END AS status
  FROM orders
  WHERE o_orderdate < TIMESTAMP '2000-01-01' AND o_orderkey % 97 <> 5
),
diff AS (
  SELECT coalesce(o.k, n.k) AS k,
         CASE WHEN o.k IS NULL THEN 'added'
              WHEN n.k IS NULL THEN 'removed'
              WHEN o.cents <> n.cents OR o.status <> n.status THEN 'changed'
              ELSE 'unchanged' END AS change_type
  FROM old o FULL OUTER JOIN new n ON o.k = n.k
)
SELECT change_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(k) AS BIGINT) AS key_checksum,
       CAST(min(k) AS BIGINT) AS min_key,
       CAST(max(k) AS BIGINT) AS max_key
FROM diff GROUP BY change_type
"""


@query("table_diff", oracle=_DIFF_ORACLE)
def table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-snapshot reconciliation: full-outer join on the primary key,
    classify added / removed / changed / unchanged, publish per-class
    counts + key checksums. Change detection compares integer cents and
    status directly (no doubles cross the comparison).

    Scale: one keyed equi-join between two snapshot scans — both sides
    shuffle-partition on the PK, AQE coalesces; per-class aggregation is
    a map-side-combinable count/sum. At 100 TB this is the standard
    "verify the incremental load" pattern: no row bodies survive past
    the projection (key + cents + status only)."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    old = o.filter(F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")).select(
        F.col("o_orderkey").alias("k"),
        cents.alias("cents"),
        F.col("o_orderstatus").alias("status"),
    )
    new = (
        o.filter(
            (F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp"))
            & (F.col("o_orderkey") % 97 != 5)
        )
        .select(
            F.col("o_orderkey").alias("k"),
            (cents + F.when(F.col("o_orderkey") % 13 == 0, F.lit(1000)).otherwise(F.lit(0))).alias(
                "cents"
            ),
            F.when(F.col("o_orderkey") % 13 == 0, F.lit("F"))
            .otherwise(F.col("o_orderstatus"))
            .alias("status"),
        )
    )
    joined = old.alias("o").join(new.alias("n"), F.col("o.k") == F.col("n.k"), "full_outer")
    diff = joined.select(
        F.coalesce(F.col("o.k"), F.col("n.k")).alias("k"),
        F.when(F.col("o.k").isNull(), "added")
        .when(F.col("n.k").isNull(), "removed")
        .when(
            (F.col("o.cents") != F.col("n.cents")) | (F.col("o.status") != F.col("n.status")),
            "changed",
        )
        .otherwise("unchanged")
        .alias("change_type"),
    )
    return diff.groupBy("change_type").agg(
        F.count("*").alias("n_rows"),
        F.sum("k").cast("long").alias("key_checksum"),
        F.min("k").cast("long").alias("min_key"),
        F.max("k").cast("long").alias("max_key"),
    )


# Percentiles of the per-key count distribution are picked from the
# *cumulative distribution over distinct count values* (tiny domain —
# bounded by max events per user), never from a global sort of keys:
# ceil-indexed discrete quantiles, identical arithmetic both engines.
_SKEW_ORACLE = """
WITH per_key AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY user_id
),
summary AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(cnt) AS BIGINT) AS total_rows,
         CAST(max(cnt) AS BIGINT) AS max_cnt
  FROM per_key
),
dist AS (
  SELECT cnt, CAST(count(*) AS BIGINT) AS freq FROM per_key GROUP BY cnt
),
cum AS (
  SELECT cnt, sum(freq) OVER (ORDER BY cnt) AS cumfreq FROM dist
),
quant AS (
  SELECT
    (SELECT min(cnt) FROM cum, summary WHERE cumfreq >= (n_keys + 1) // 2) AS p50_cnt,
    (SELECT min(cnt) FROM cum, summary WHERE cumfreq >= (n_keys * 9 + 9) // 10) AS p90_cnt,
    (SELECT min(cnt) FROM cum, summary WHERE cumfreq >= (n_keys * 99 + 99) // 100) AS p99_cnt
)
SELECT metric, CAST(value AS BIGINT) AS value FROM (
  SELECT 'n_keys' AS metric, n_keys AS value FROM summary
  UNION ALL SELECT 'total_rows', total_rows FROM summary
  UNION ALL SELECT 'max_cnt', max_cnt FROM summary
  UNION ALL SELECT 'p50_cnt', p50_cnt FROM quant
  UNION ALL SELECT 'p90_cnt', p90_cnt FROM quant
  UNION ALL SELECT 'p99_cnt', p99_cnt FROM quant
  UNION ALL SELECT 'skew_ratio_bp', max_cnt * 10000 * n_keys // total_rows FROM summary
  UNION ALL SELECT 'salt_factor',
         (max_cnt * n_keys + total_rows - 1) // total_rows FROM summary
) t
"""


@query("partition_skew_report", oracle=_SKEW_ORACLE)
def partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis for events.user_id: per-key count
    distribution summary (n_keys, total, max, discrete p50/p90/p99) plus
    the derived hot-key skew ratio (basis points vs the mean) and the
    integer salt factor a salted repartition join would need
    (joins.py:join_skew_salted). All integer arithmetic.

    Scale: one map-side-combinable count per key, then a second
    aggregate over *distinct count values* — the running-sum window
    orders that tiny domain (≤ max per-key count distinct values), never
    the keys themselves, so there is no global sort of the key space."""
    e = load_table(spark, sf_dir, "events")
    per_key = e.groupBy("user_id").agg(F.count("*").cast("long").alias("cnt"))
    summary = per_key.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("total_rows"),
        F.max("cnt").cast("long").alias("max_cnt"),
    )
    dist = per_key.groupBy("cnt").agg(F.count("*").cast("long").alias("freq"))
    # bounded-domain global window: input is the |distinct count values|
    # histogram, not the per-key rows
    cum = dist.withColumn(
        "cumfreq",
        F.sum("freq").over(Window.orderBy("cnt").rowsBetween(Window.unboundedPreceding, 0)),
    )
    q = cum.crossJoin(F.broadcast(summary)).agg(
        F.min(F.when(F.col("cumfreq") >= F.expr("(n_keys + 1) div 2"), F.col("cnt"))).alias(
            "p50_cnt"
        ),
        F.min(F.when(F.col("cumfreq") >= F.expr("(n_keys * 9 + 9) div 10"), F.col("cnt"))).alias(
            "p90_cnt"
        ),
        F.min(
            F.when(F.col("cumfreq") >= F.expr("(n_keys * 99 + 99) div 100"), F.col("cnt"))
        ).alias("p99_cnt"),
    )
    wide = summary.crossJoin(F.broadcast(q)).selectExpr(
        "n_keys",
        "total_rows",
        "max_cnt",
        "p50_cnt",
        "p90_cnt",
        "p99_cnt",
        "max_cnt * 10000 * n_keys div total_rows AS skew_ratio_bp",
        "(max_cnt * n_keys + total_rows - 1) div total_rows AS salt_factor",
    )
    pairs = ", ".join(
        f"struct('{m}' AS metric, {m} AS value)"
        for m in (
            "n_keys",
            "total_rows",
            "max_cnt",
            "p50_cnt",
            "p90_cnt",
            "p99_cnt",
            "skew_ratio_bp",
            "salt_factor",
        )
    )
    return (
        wide.select(F.explode(F.expr(f"array({pairs})")).alias("kv"))
        .select(F.col("kv.metric").alias("metric"), F.col("kv.value").cast("long").alias("value"))
    )
