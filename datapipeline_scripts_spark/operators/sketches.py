"""Mergeable-sketch operators (Apache DataSketches surface, Spark 4).

The defining property of HLL / theta / KLL sketches is *mergeability*:
per-partition (or per-day) sketches combine into exact-shape rollups
without re-reading the raw data. At 100 TB this is the difference
between a nightly full distinct-count scan and merging a few KB of
state per partition — sketches ARE the scale path for cardinality,
set-overlap, and quantile questions.

Oracle strategy (same property-encoding as operators/approx.py): DuckDB
has no DataSketches, so each query anchors its hash on *exact* values
the oracle recomputes (distinct counts, group sizes) plus boolean
columns asserting the sketch's error bound. The booleans are stable
across runs and partitionings:

- theta / HLL merges are order-insensitive (theta union keeps the k
  smallest hashes — a set property; HLL register merge is pointwise
  max), so the estimate is a pure function of the data. Verified by
  repartition probes; the asserted band (10% + absolute slack) is
  ~6σ wide vs the lgK=12 default's 1.6% RSE.
- KLL compaction is randomized, so instead of pinning the estimate we
  assert the *realized rank* of the returned quantile: the sketch
  guarantees |rank(q̂) − φ| ≤ ε with k=200 → ε ≈ 1.65% at 99%
  confidence; the asserted 5% band is ~10σ. The realized rank is
  computed exactly in-plan by re-joining q̂ against the data.

Reference analogue: the reference delegates all query power to its
engines (SURVEY §2.C); sketch rollups are the 100 TB-native form of
its sampled verification counts (/root/reference/backup.sh:264-375).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_scripts_spark.catalog import load_table
from datapipeline_scripts_spark.registry import query

_THETA_ORACLE = """
SELECT count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_partkey END) AS exact_r,
       count(DISTINCT CASE WHEN l_returnflag = 'A' THEN l_partkey END) AS exact_a,
       count(DISTINCT CASE WHEN l_returnflag IN ('R','A') THEN l_partkey END) AS exact_union,
       (SELECT count(*) FROM (
          SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
          INTERSECT
          SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A')) AS exact_intersect,
       (SELECT count(*) FROM (
          SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
          EXCEPT
          SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A')) AS exact_diff,
       true AS r_ok, true AS a_ok, true AS union_ok,
       true AS intersect_ok, true AS diff_ok
FROM lineitem
"""


@query("sketch_theta_setops", oracle=_THETA_ORACLE)
def sketch_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch distinct-count arithmetic: |R|, |A|, |R∪A|, |R∩A|,
    |R\\A| over the parts shipped per return-flag segment — one scan
    builds both sketches (filtered agg), set algebra happens on the
    KB-sized sketches, never the data.

    Scale: at sf0.1 the ~20k distinct parts exceed the sketch's k=4096
    retained hashes, so this exercises true sampling-mode estimation,
    not the exact small-set path. The asserted band is 10% relative
    with an absolute slack of 64 for the near-empty difference set
    (6σ+ vs the 1.6% RSE at lgK=12).

    The whole pipeline is one partial-aggregatable plan: map-side theta
    merge, single exchange, no second scan for the exact anchors (they
    ride the same aggregate as count_distinct expands)."""
    li = load_table(spark, sf_dir, "lineitem")
    flag = lambda v: F.when(F.col("l_returnflag") == v, F.col("l_partkey"))  # noqa: E731
    sk = li.agg(
        F.theta_sketch_agg(flag("R")).alias("sk_r"),
        F.theta_sketch_agg(flag("A")).alias("sk_a"),
        F.count_distinct(flag("R")).alias("exact_r"),
        F.count_distinct(flag("A")).alias("exact_a"),
        F.count_distinct(F.when(F.col("l_returnflag").isin("R", "A"), F.col("l_partkey"))).alias("exact_union"),
    )
    # exact intersect/diff anchors: |A∩B| = |A|+|B|−|A∪B| (set identity —
    # no second scan), |A\B| = |A∪B|−|B|
    est = sk.select(
        "exact_r",
        "exact_a",
        "exact_union",
        (F.col("exact_r") + F.col("exact_a") - F.col("exact_union")).alias("exact_intersect"),
        (F.col("exact_union") - F.col("exact_a")).alias("exact_diff"),
        F.theta_sketch_estimate("sk_r").alias("est_r"),
        F.theta_sketch_estimate("sk_a").alias("est_a"),
        F.theta_sketch_estimate(F.theta_union("sk_r", "sk_a")).alias("est_union"),
        F.theta_sketch_estimate(F.theta_intersection("sk_r", "sk_a")).alias("est_intersect"),
        F.theta_sketch_estimate(F.theta_difference("sk_r", "sk_a")).alias("est_diff"),
    )
    ok = lambda e, x: (F.abs(F.col(e) - F.col(x)) <= F.greatest(F.col(x) / 10, F.lit(64))).alias(  # noqa: E731
        x.replace("exact_", "") + "_ok"
    )
    # intersection/difference estimates have UNION-relative error: in
    # sampling mode each retains ~|X|·θ hashes with θ ≈ k/|A∪B|, so a
    # small true difference between two large sets keeps almost no
    # samples (measured: |R\A| = 200 inside a 2M-distinct union at the
    # 60M-row proxy retains ~0.4 hashes — any exact-relative band fails
    # there by construction). Band these two by union/10 (~6σ at the
    # lgK=12 RSE of 1.6%) as the sketch literature prescribes.
    ok_setop = lambda e, x: (  # noqa: E731
        F.abs(F.col(e) - F.col(x))
        <= F.greatest(F.col(x) / 10, F.col("exact_union") / 10, F.lit(64))
    ).alias(x.replace("exact_", "") + "_ok")
    return est.select(
        "exact_r",
        "exact_a",
        "exact_union",
        "exact_intersect",
        "exact_diff",
        ok("est_r", "exact_r"),
        ok("est_a", "exact_a"),
        ok("est_union", "exact_union"),
        ok_setop("est_intersect", "exact_intersect"),
        ok_setop("est_diff", "exact_diff"),
    )


_HLL_ORACLE = """
SELECT event_type,
       count(DISTINCT strftime(ts, '%Y-%m-%d')) AS n_days,
       count(DISTINCT user_id) AS exact_users,
       true AS est_ok
FROM events
GROUP BY event_type
"""


@query("sketch_hll_rollup", oracle=_HLL_ORACLE)
def sketch_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-rollup pattern: per-(event_type, day) HLL sketches
    merged up to per-event_type distinct users via `hll_union_agg` —
    the pre-aggregated-cube shape where daily partitions each persist a
    KB sketch and any coarser rollup merges them without touching raw
    events. Exact distincts anchor the hash; the boolean asserts the
    merged estimate is within 10% (lgK=12 → 1.6% RSE, so ~6σ).

    At 100 TB: the per-day layer is what you'd materialize; re-scanning
    raw events for every rollup query is exactly what this avoids."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("day_users"),
    )
    rolled = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
    )
    # exact per-type distincts need the raw grain (day distincts don't
    # sum); one more pass over the same scan, joined on the 5-row key
    exact = ev.groupBy("event_type").agg(F.count_distinct("user_id").alias("exact_users"))
    return (
        rolled.join(exact, "event_type")
        .select(
            "event_type",
            "n_days",
            "exact_users",
            (F.abs(F.col("est_users") - F.col("exact_users")) <= F.greatest(F.col("exact_users") / 10, F.lit(16))).alias(
                "est_ok"
            ),
        )
    )


_KLL_ORACLE = """
SELECT l_returnflag,
       count(*) AS n,
       true AS r50_ok,
       true AS r90_ok
FROM lineitem
GROUP BY l_returnflag
"""


@query("sketch_kll_quantiles", oracle=_KLL_ORACLE)
def sketch_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantile sketch per return flag over l_extendedprice, with
    the sketch's own guarantee asserted in-plan: the *realized rank* of
    the returned q̂₅₀/q̂₉₀ (exact count of values ≤ q̂, re-joined
    against the data) must sit within ±5% of the target rank — KLL's
    k=200 bound is ε≈1.65% at 99% confidence, so the band is ~10σ and
    stable across the sketch's internal randomization.

    Plan: one grouped sketch pass (3 groups), broadcast the 3-row
    quantile table back onto the scan, one conditional-count pass.
    The sketch state is O(k log n) per group — at 100 TB the quantile
    table is still 3 rows."""
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    qs = li.groupBy("l_returnflag").agg(
        F.kll_sketch_get_quantile_double(F.kll_sketch_agg_double("l_extendedprice"), F.lit(0.5)).alias("q50"),
        F.kll_sketch_get_quantile_double(F.kll_sketch_agg_double("l_extendedprice"), F.lit(0.9)).alias("q90"),
    )
    joined = li.join(F.broadcast(qs), "l_returnflag")
    ranked = joined.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("l_extendedprice") <= F.col("q50"), 1).otherwise(0)).alias("le_q50"),
        F.sum(F.when(F.col("l_extendedprice") <= F.col("q90"), 1).otherwise(0)).alias("le_q90"),
    )
    rank_ok = lambda le, phi: (  # noqa: E731
        F.abs(F.col(le) / F.col("n") - F.lit(phi)) <= F.lit(0.05)
    )
    return ranked.select(
        "l_returnflag",
        "n",
        rank_ok("le_q50", 0.5).alias("r50_ok"),
        rank_ok("le_q90", 0.9).alias("r90_ok"),
    )


_CMS_ORACLE = """
WITH counts AS (
  SELECT l_suppkey, count(*) AS exact_n
  FROM lineitem GROUP BY l_suppkey
),
top10 AS (
  SELECT l_suppkey, exact_n FROM counts
  ORDER BY exact_n DESC, l_suppkey LIMIT 10
)
SELECT l_suppkey, exact_n,
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS total_rows,
       true AS lower_ok,
       true AS upper_ok
FROM top10
"""


@query("sketch_cms_heavyhitters", oracle=_CMS_ORACLE)
def sketch_cms_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation for the heavy-hitter keys:
    build the CMS distributed (`count_min_sketch` agg — counter-matrix
    merge is a commutative sum, so the sketch is a pure function of the
    data), pull the KB-sized binary to the driver, and read it back
    through Spark's own `CountMinSketch.readFrom` to estimate the
    exact top-10 suppliers' frequencies. Booleans assert the CMS
    contract: estimate ≥ true count (always), and ≤ true + ε·N
    (ε=0.005 here, a ~3000-row slack at sf0.1 — astronomically wide
    for per-supplier counts).

    This completes the sketch family: distinct/set-algebra (theta),
    reaggregatable cardinality (HLL), quantiles (KLL), frequency (CMS).

    Scale: the whole point — frequency state is depth×width counters
    (~11 KB, bound ASSERTED below) regardless of stream size; the only
    driver transfer is that sketch plus 10 top rows, not data. The
    exact counts ride a normal aggregate and exist only as the oracle
    anchor. The single scan is computed once (sketch + exact counts in
    one cached pass) so the two collects don't re-read the source.

    Classic-PySpark only (ADVICE r02): the readback uses
    `sparkContext._jvm`, unavailable under Spark Connect — a Connect
    port would probe the broadcast sketch in a pandas UDF instead.
    Keep this terminal (not composed into pipelines): plan
    construction is eager by design here."""
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey")
    eps, conf, seed = 0.005, 0.99, 42
    # persist the projected scan so the sketch pass and the exact-count
    # pass share ONE parquet read (ADVICE r02: the two collects used to
    # execute the scan twice)
    li.persist()
    try:
        sk_row = li.agg(
            F.count_min_sketch("l_suppkey", F.lit(eps), F.lit(conf), F.lit(seed)).alias("sk"),
            F.count("*").alias("total_rows"),
        ).collect()[0]
        total_rows = int(sk_row["total_rows"])
        sk_bytes = bytes(sk_row["sk"])
        top = (
            li.groupBy("l_suppkey")
            .agg(F.count("*").alias("exact_n"))
            .orderBy(F.col("exact_n").desc(), "l_suppkey")
            .limit(10)
            .collect()
        )
    finally:
        li.unpersist()
    # KB-bound contract: a CMS at eps=0.005/conf=0.99 is ~44 KB of
    # counters; anything near the 64 KB line means the params changed
    assert len(sk_bytes) < 64 * 1024, f"CMS sketch unexpectedly large: {len(sk_bytes)} B"
    jvm = spark.sparkContext._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(sk_bytes)
    slack = int(eps * total_rows) + 1
    rows = [
        (
            r["l_suppkey"],
            r["exact_n"],
            total_rows,
            cms.estimateCount(r["l_suppkey"]) >= r["exact_n"],
            cms.estimateCount(r["l_suppkey"]) <= r["exact_n"] + slack,
        )
        for r in top
    ]
    return spark.createDataFrame(
        rows, "l_suppkey bigint, exact_n bigint, total_rows bigint, lower_ok boolean, upper_ok boolean"
    )


@query(
    "bitmap_distinct",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via Spark's bitmap aggregates
    (bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg
    / bitmap_or_agg / bitmap_count): keys map to (bucket, bit) and each
    group aggregates fixed-size 4 KB bitmaps instead of holding the key
    set — the scale path BETWEEN count_distinct (exact, key-set-sized
    state) and HLL (bounded state, approximate). Bitmap state is
    bounded per bucket AND mergeable, so the two-level plan (per-bucket
    construct → OR-merge → popcount-sum) reaggregates like a sketch
    while staying exact — the oracle is plain count(DISTINCT).

    Scale: state per (group, bucket) is 32768 bits regardless of key
    density; the bucket level adds a second keyed aggregate but removes
    the distinct-expand. For 10⁹ sparse keys prefer HLL
    (sketch_hll_rollup); for dense int keys this is exact at sketch
    cost."""
    o = load_table(spark, sf_dir, "orders")
    per_bucket = (
        o.select(
            "o_orderstatus",
            "o_orderkey",
            F.bitmap_bucket_number("o_custkey").alias("bkt"),
            F.bitmap_bit_position("o_custkey").alias("pos"),
        )
        .groupBy("o_orderstatus", "bkt")
        .agg(
            F.bitmap_construct_agg("pos").alias("bm"),
            F.count("*").alias("n_rows"),
        )
    )
    return per_bucket.groupBy("o_orderstatus").agg(
        F.sum(F.bitmap_count("bm")).alias("n_customers"),
        F.sum("n_rows").alias("n_orders"),
    )


_TOPK_ORACLE = """
SELECT p_brand AS item, CAST(count(*) AS BIGINT) AS est_count
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY est_count DESC, item
"""


@query("sketch_approx_topk", oracle=_TOPK_ORACLE)
def sketch_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate heavy hitters via Spark 4's `approx_top_k` sketch —
    the streaming-friendly frequent-items operator (bounded sketch
    state, mergeable across partitions, the engine-native sibling of
    sketch_cms_heavyhitters' hand-rolled count-min).

    Oracle strategy (the house sketch contract): parameters are sized
    so the approximation is provably exact — maxItemsTracked (1024)
    exceeds the brand cardinality (25), so every counter is tracked
    precisely and the result must hash-match the exact GROUP BY twin,
    proving the sketch path end-to-end. The exploded output is
    re-sorted with a deterministic (count, item) tie-break rather than
    trusting the sketch's internal tie order.

    Scale: per-partition sketches of ≤maxItemsTracked entries merge on
    the driver-side agg — a KB regardless of corpus size; at true
    long-tail cardinality the same query reports the guaranteed-error
    top slice instead of exact counts."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    branded = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select("p_brand")
    sk = branded.agg(
        F.expr("approx_top_k(p_brand, 25, 1024)").alias("topk")
    )
    return (
        sk.select(F.explode("topk").alias("e"))
        .select(
            F.col("e.item").alias("item"),
            F.col("e.count").cast("long").alias("est_count"),
        )
        .orderBy(F.col("est_count").desc(), "item")
    )
