"""D23/D24 — approximate / sampling operators (property-encoded oracles).

`approx_count_distinct` (HyperLogLog++), `percentile_approx`
(Greenwald-Khanna) and seeded `sample`/`sampleBy` are not bit-equal
across engines by design.  Rather than registering a key with no oracle
(which the round-1 driver recorded as `err: no_oracle`), each query
*property-encodes* its guarantee into deterministic, hash-checkable
output (SURVEY §2.D, VERDICT r01 item 1):

- exact counts (order-insensitive, engine-agnostic) anchor the hash;
- a boolean column asserts the approximation bound.  The booleans are
  stable across runs because the underlying guarantees hold for ANY
  partial-aggregate merge order: HLL register merge is a pointwise max
  (commutative + associative), and the GK rank-error bound holds for
  every merge sequence.  Seeded samples are deterministic for a fixed
  file layout, and the asserted rate bands are many standard deviations
  wide at every test SF.

The DuckDB oracle emits the same exact counts plus literal TRUE.

Scale: HLL is THE cardinality tool at 100 TB — fixed ~KB of state per
group vs an unbounded distinct-set; sampling feeds cheap stats/dev
loops without full scans.  Reference analogue: sampled verification of
restored tables (/root/reference/backup.sh:264-375).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_scripts_spark.catalog import load_table
from datapipeline_scripts_spark.registry import query

_APPROX_DISTINCT_ORACLE = """
SELECT l_returnflag,
       count(DISTINCT l_orderkey) AS exact_orders,
       count(DISTINCT l_partkey)  AS exact_parts,
       count(*)                   AS n,
       true                       AS orders_within_rsd,
       true                       AS parts_within_rsd
FROM lineitem
GROUP BY l_returnflag
"""


@query("approx_distinct", oracle=_APPROX_DISTINCT_ORACLE)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct orderkeys/partkeys per return flag (rsd=1%),
    cross-checked against the exact distinct counts in the same pass.

    The hash-checked columns are the exact counts plus booleans
    asserting |approx - exact| / exact < 0.05 (5× the configured rsd —
    HLL++ at rsd=0.01 is far inside that band, and the sketch value is
    deterministic because register merge is order-insensitive)."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.count_distinct("l_partkey").alias("exact_parts"),
        F.count("*").alias("n"),
    )
    within = lambda a, e: (F.abs(F.col(a) - F.col(e)) / F.col(e) < F.lit(0.05))  # noqa: E731
    return agg.select(
        "l_returnflag",
        "exact_orders",
        "exact_parts",
        "n",
        within("approx_orders", "exact_orders").alias("orders_within_rsd"),
        within("approx_parts", "exact_parts").alias("parts_within_rsd"),
    )


_APPROX_QUANTILES_ORACLE = """
SELECT o_orderstatus,
       count(*) AS n,
       true     AS p50_ok,
       true     AS p90_ok,
       true     AS p99_ok
FROM orders
GROUP BY o_orderstatus
"""


@query("approx_quantiles", oracle=_APPROX_QUANTILES_ORACLE)
def approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate percentiles of order totalprice,
    cross-checked against the exact interpolated percentiles.

    Round-1 driver crash fix (VERDICT item 1a): no array column in the
    output — the three quantiles are projected to scalar booleans
    p50_ok/p90_ok/p99_ok asserting the approx value is within 1% of the
    exact percentile (GK at accuracy=10000 returns an actual element
    whose rank error ≤ n/10000; on this smooth price distribution that
    is far inside a 1% value band for every merge order)."""
    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderstatus").agg(
        F.percentile_approx("o_totalprice", [0.5, 0.9, 0.99], 10000).alias("pa"),
        F.expr("percentile(o_totalprice, array(0.5D, 0.9D, 0.99D))").alias("pe"),
        F.count("*").alias("n"),
    )

    def ok(i: int) -> F.Column:
        a = F.element_at("pa", i).cast("double")
        e = F.element_at("pe", i)
        return F.abs(a - e) <= F.lit(0.01) * e

    return agg.select(
        "o_orderstatus",
        "n",
        ok(1).alias("p50_ok"),
        ok(2).alias("p90_ok"),
        ok(3).alias("p99_ok"),
    )


_SAMPLE_ORACLE = """
SELECT l_returnflag,
       count(*) AS n_total,
       true     AS rate_ok
FROM lineitem
GROUP BY l_returnflag
"""


@query("sample", oracle=_SAMPLE_ORACLE)
def sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sample (~10%): hash-checked via exact per-group
    totals plus a boolean asserting the realized sample rate is within
    ±0.03 of the requested 0.10 fraction.  At the smallest test SF each
    return-flag group has ≥1.5k rows, so the band is ≥3.7σ wide; the
    seeded sample itself is deterministic for a fixed file layout."""
    li = load_table(spark, sf_dir, "lineitem")
    total = li.groupBy("l_returnflag").agg(F.count("*").alias("n_total"))
    samp = li.sample(fraction=0.1, seed=42).groupBy("l_returnflag").agg(F.count("*").alias("n_sampled"))
    return total.join(samp, "l_returnflag").select(
        "l_returnflag",
        "n_total",
        (F.abs(F.col("n_sampled") / F.col("n_total") - F.lit(0.1)) < F.lit(0.03)).alias("rate_ok"),
    )


_SAMPLE_STRATIFIED_ORACLE = """
SELECT o_orderpriority,
       count(*) AS n_total,
       true     AS rate_ok
FROM orders
GROUP BY o_orderpriority
"""


@query("sample_stratified", oracle=_SAMPLE_STRATIFIED_ORACLE)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample (`sampleBy`): keep 50% of URGENT orders but 5%
    of the rest — the shape used to rebalance a skewed training corpus
    (over-sample the rare class, down-sample the common one).

    Hash-checked via exact per-stratum totals plus a boolean asserting
    the realized per-stratum rate sits inside a wide band around the
    requested fraction (±0.06 for the 0.5 stratum, ±0.025 for the 0.05
    strata — ≥3σ at the smallest test SF)."""
    o = load_table(spark, sf_dir, "orders")
    fractions = {"1-URGENT": 0.5, "2-HIGH": 0.05, "3-MEDIUM": 0.05, "4-NOT SPECIFIED": 0.05, "5-LOW": 0.05}
    total = o.groupBy("o_orderpriority").agg(F.count("*").alias("n_total"))
    samp = (
        o.sampleBy("o_orderpriority", fractions, seed=42)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_sampled"))
    )
    want = F.when(F.col("o_orderpriority") == "1-URGENT", F.lit(0.5)).otherwise(F.lit(0.05))
    tol = F.when(F.col("o_orderpriority") == "1-URGENT", F.lit(0.06)).otherwise(F.lit(0.025))
    return total.join(samp, "o_orderpriority").select(
        "o_orderpriority",
        "n_total",
        (F.abs(F.col("n_sampled") / F.col("n_total") - want) < tol).alias("rate_ok"),
    )


_DET_TOPK_ORACLE = """
WITH ranked AS (
  SELECT event_type, event_id, user_id,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rk
  FROM events
)
SELECT event_type, CAST(rk AS BIGINT) AS rk, event_id, user_id
FROM ranked WHERE rk <= 5
"""


@query("sample_deterministic_topk", oracle=_DET_TOPK_ORACLE)
def sample_deterministic_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible k-per-group sample: rank each group by the md5 of
    the row key and keep the first 5 — the distributed idiom for "give
    me the same 5 example rows per category on every run, any cluster"
    (rate-based `sample`/`sample_stratified` can't promise exact k).

    Scale shape: a naive per-group rank window funnels each group
    through ONE reducer — with 5 event types that is 5 tasks for the
    whole corpus. Instead the sample is taken in two stages: a local
    top-5 per (group, input partition) — embarrassingly parallel — and
    a global re-rank over the ≤ 5·partitions survivors. Top-5 of the
    local top-5 union equals top-5 of the corpus (selection is
    monotone), so the result is identical; only the tiny survivor set
    ever crosses one reducer."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "user_id",
        F.md5(F.col("event_id").cast("string")).alias("hk"),
    )
    local = Window.partitionBy("event_type", F.spark_partition_id()).orderBy("hk", "event_id")
    survivors = e.withColumn("lrk", F.row_number().over(local)).filter(F.col("lrk") <= 5)
    glob = Window.partitionBy("event_type").orderBy("hk", "event_id")
    return (
        survivors.withColumn("rk", F.row_number().over(glob))
        .filter(F.col("rk") <= 5)
        .select("event_type", F.col("rk").cast("long").alias("rk"), "event_id", "user_id")
    )
