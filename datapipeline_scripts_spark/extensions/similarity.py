"""E2 — vector similarity search over `embeddings` (64-dim float).

Paths mirroring a production ANN stack, ALL fully oracle-checked since
round 2:

- `knn_brute`: exact cosine top-k. The query set is broadcast; the
  candidate table streams through a single scan with the dot product in
  codegen. O(|Q|·N) — the correct baseline.
- `knn_bucketed`: LSH (sign-of-coordinate hyperplanes) bucketing; only
  same-bucket candidates are scored. The 100 TB path: the join on
  bucket id replaces the cross product; the bucket is mirrored in the
  DuckDB oracle so even the approximate row set is hash-proven.
- `knn_ivf`: inverted-file probe over deterministic sampled coarse
  centroids; `knn_ivf_lloyd` (unregistered) adds the offline k-means
  training step.
- `knn_int8`: symmetric int8 quantization — the shuffle-bandwidth lever.

Numeric parity: both engines cast float→double *before* any arithmetic;
raw-cosine comparisons are cross-engine bit-stable because the
sequential `aggregate` fold evaluates in the same order as DuckDB's
list_dot_product; displayed scores rank on the 4-dp-rounded cosine with
a deterministic id tie-break (functions/vectors.py).

Further down: the index evaluations and maintenance built on these
operators (`knn_recall_report`, `embedding_prefix_recall`,
`knn_ivf_append`, `knn_ivf_rebalance`) and the integer PCA pair
(`embedding_pca_power`, `embedding_pca_project`).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F, types as T

from datapipeline_scripts_spark.catalog import load_table, scan_spread
from datapipeline_scripts_spark.functions.vectors import cosine, sign_bucket
from datapipeline_scripts_spark.registry import query


@query(
    "knn_brute",
    oracle="""
    WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
               FROM embeddings),
         sims AS (
           SELECT qid, cid,
                  round(list_dot_product(qe, ce) /
                        (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))),
                        4) AS cos_sim
           FROM q CROSS JOIN c
           WHERE qid <> cid
         ),
         ranked AS (
           SELECT qid, cid, cos_sim,
                  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rn
           FROM sims
         )
    SELECT qid, cid, cos_sim, CAST(rn AS INTEGER) AS rn
    FROM ranked WHERE rn <= 10
    """,
)
def knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for query vectors vec_id<5 (broadcast Q)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
    # single-row-group fixture file → rebalance so the O(|Q|·N) scoring
    # stage runs on all cores, not one scan task (scan_spread skips the
    # exchange once the scan splits feed the cores — optimization r14)
    c = e.transform(scan_spread(spark, sf_dir, "embeddings")).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid", F.round(cosine(F.col("qe"), F.col("ce")), 4).alias("cos_sim"))
    )
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid"))
    return sims.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 10)


_IVF_K = 16  # coarse centroids
_IVF_NPROBE = 2  # lists probed per query


_IVF_ORACLE = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent AS (SELECT vec_id AS ccid, v AS cv FROM e WHERE vec_id < 16),
    asg AS (
      SELECT vec_id, ccid AS list_id, v FROM (
        SELECT e.vec_id, c.ccid, e.v,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC, c.ccid) AS rn
        FROM e CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT qid, list_id, qe FROM (
        SELECT a.vec_id AS qid, c.ccid AS list_id, a.v AS qe,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY list_dot_product(a.v, c.cv) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC, c.ccid) AS rn
        FROM asg a CROSS JOIN cent c
        WHERE a.vec_id < 50
      ) WHERE rn <= 2
    ),
    cand AS (
      SELECT p.qid, a.vec_id AS cid,
             round(list_dot_product(p.qe, a.v) / (sqrt(list_dot_product(p.qe, p.qe)) * sqrt(list_dot_product(a.v, a.v))), 4) AS cos_sim
      FROM probe p JOIN asg a USING (list_id)
      WHERE a.vec_id <> p.qid
    ),
    ranked AS (
      SELECT qid, cid, cos_sim,
             row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rn
      FROM cand
    )
    SELECT qid, cid, cos_sim, CAST(rn AS INTEGER) AS rn
    FROM ranked WHERE rn <= 5
    """


def _centroid_frame(e: DataFrame, cent: DataFrame) -> DataFrame:
    """Assign every vector to its nearest centroid (broadcast)."""
    sims = (
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", "embedding", "cid", cosine(F.col("embedding"), F.col("cvec")).alias("sim"))
    )
    w = W.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("cid"))
    return sims.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn", "sim")


def _ivf_from_centroids(e: DataFrame, cent: DataFrame) -> DataFrame:
    """IVF probe over a given coarse-centroid set: build the inverted
    lists, probe the NPROBE nearest lists per query, score candidates
    with exact cosine, return top-5 (qid, cid, cos_sim, rn)."""
    lists = _centroid_frame(e, cent).select("vec_id", F.col("cid").alias("list_id"), "embedding")
    q = lists.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    qprobe = (
        q.crossJoin(F.broadcast(cent))
        .select("qid", "qe", "cid", cosine(F.col("qe"), F.col("cvec")).alias("sim"))
        .withColumn("rn", F.row_number().over(W.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cid"))))
        .filter(F.col("rn") <= _IVF_NPROBE)
        .select("qid", "qe", F.col("cid").alias("list_id"))
    )
    cand = (
        qprobe.join(lists, "list_id")
        .filter(F.col("qid") != F.col("vec_id"))
        .select(
            "qid",
            F.col("vec_id").alias("cid"),
            F.round(cosine(F.col("qe"), F.col("embedding")), 4).alias("cos_sim"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid"))
    return cand.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)


@query("knn_ivf", oracle=_IVF_ORACLE)
def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate top-5: coarse quantizer →
    per-list inverted index → probe the NPROBE nearest lists only.
    A query scores ~N·NPROBE/K candidates instead of N.

    Fully oracle-checked since round 2: the coarse centroids are the
    first K data vectors (deterministic sampling — production trains
    them offline with k-means, see `knn_ivf_lloyd`), so assignment,
    probing, and scores are all reproducible in DuckDB. Cross-engine
    raw-cosine ordering is safe because both engines compute the same
    sequential-fold dot product bit-for-bit.

    At 100 TB the centroid set stays broadcast-sized (K ≤ 2^16) and the
    lists are hash-partitioned by centroid id — the probe is an
    equi-join on cid, never a cross product. The fixture's vectors are
    uniform random, so recall is data-limited; the returned scores are
    exact cosines (verified against brute force in tests)."""
    e = load_table(spark, sf_dir, "embeddings")
    seeds = e.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    return _ivf_from_centroids(e, seeds)


def knn_ivf_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-Lloyd-iteration variant (assign → per-dimension mean
    re-center → rebuild lists): the offline centroid-training step a
    production IVF runs. NOT registered as a declared query — float
    mean re-centering is partial-agg-order sensitive, so the trained
    centroids (and thus list membership near boundaries) are not
    bit-reproducible across engines; fidelity is asserted in tests
    instead."""
    e = load_table(spark, sf_dir, "embeddings")
    seeds = e.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    assigned0 = _centroid_frame(e, seeds)
    recentered = (
        assigned0.select("cid", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("cid", "pos")
        .agg(F.avg("v").alias("m"))
        .groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cid", F.transform("pm", lambda s: s.getField("m").cast("float")).alias("cvec"))
    )
    return _ivf_from_centroids(e, recentered)


@query(
    "knn_int8",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         s AS (SELECT vec_id, v,
                      greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) / 127.0 AS sc
               FROM e),
         qz AS (SELECT vec_id,
                       list_transform(v, x -> floor(x / sc + 0.5)) AS qv
                FROM s),
         q AS (SELECT vec_id AS qid, qv AS qe FROM qz WHERE vec_id < 5),
         c AS (SELECT vec_id AS cid, qv AS ce FROM qz),
         sims AS (
           SELECT qid, cid,
                  round(list_dot_product(qe, ce) /
                        (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))),
                        4) AS cos_sim
           FROM q CROSS JOIN c
           WHERE qid <> cid
         ),
         ranked AS (
           SELECT qid, cid, cos_sim,
                  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rn
           FROM sims
         )
    SELECT qid, cid, cos_sim, CAST(rn AS INTEGER) AS rn
    FROM ranked WHERE rn <= 10
    """,
)
def knn_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine over int8-quantized embeddings (GPU-less
    quantization demo).

    Per-vector symmetric quantization: scale = max|v|/127, code_i =
    floor(v_i/scale + 0.5) ∈ [-127, 127]. The scales cancel inside
    cosine, so ranking needs only the integer codes — at 100 TB this
    cuts the candidate table (and every shuffle/scan byte of it) 4×
    vs float32 and 8× vs float64, which is the whole point: ANN is
    memory-bandwidth-bound. floor(x+0.5) rather than round() because
    round-half behavior on negatives differs across engines;
    floor(x+0.5) is round-half-up everywhere. Quantization noise at
    64-dim keeps ranking near-exact (recall vs knn_brute asserted in
    tests/test_extensions.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    sc = F.greatest(
        F.array_max(F.transform(F.col("embedding"), lambda v: F.abs(v.cast("double")))),
        F.lit(1e-30),
    ) / F.lit(127.0)
    # the transform lambda references sc by name, so project it first
    qz = (
        e.select("vec_id", "embedding", sc.alias("sc"))
        .select(
            "vec_id",
            F.transform(
                F.col("embedding"),
                lambda v: F.floor(v.cast("double") / F.col("sc") + F.lit(0.5)).cast("double"),
            ).alias("qv"),
        )
    )
    q = qz.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("qid"), F.col("qv").alias("qe"))
    c = qz.transform(scan_spread(spark, sf_dir, "embeddings")).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("ce")
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid", F.round(cosine(F.col("qe"), F.col("ce")), 4).alias("cos_sim"))
    )
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid"))
    return sims.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 10)


def _knn_bucketed_oracle() -> str:
    from datapipeline_scripts_spark.functions.vectors import sign_bucket_sql

    return f"""
    WITH e AS (
      SELECT vec_id, v, {sign_bucket_sql("v", 8)} AS bucket
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    ),
    q AS (SELECT vec_id AS qid, v AS qe, bucket FROM e WHERE vec_id < 50),
    c AS (SELECT vec_id AS cid, v AS ce, bucket FROM e),
    sims AS (
      SELECT qid, cid,
             round(list_dot_product(qe, ce) /
                   (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))),
                   4) AS cos_sim
      FROM q JOIN c USING (bucket)
      WHERE qid <> cid
    ),
    ranked AS (
      SELECT qid, cid, cos_sim,
             row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rn
      FROM sims
    )
    SELECT qid, cid, cos_sim, CAST(rn AS INTEGER) AS rn
    FROM ranked WHERE rn <= 5
    """


@query("knn_bucketed", oracle=_knn_bucketed_oracle())
def knn_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 within 8-hyperplane LSH buckets.

    Same-bucket equi-join: each query scores only ~N/256 candidates.
    Production tuning = multi-probe (flip lowest-margin bits) to trade
    recall vs cost; single-probe here. Fully hash-checked since round
    2: the DuckDB oracle computes the identical sign bucket
    (`sign_bucket_sql`), so even the approximate path is
    oracle-proven — approximation lives in the (deterministic) bucket
    assignment, not in nondeterminism."""
    e = load_table(spark, sf_dir, "embeddings")
    b = e.select("vec_id", "embedding", sign_bucket(F.col("embedding"), 8).alias("bucket"))
    q = b.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"), "bucket"
    )
    c = b.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"), "bucket")
    sims = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid", F.round(cosine(F.col("qe"), F.col("ce")), 4).alias("cos_sim"))
    )
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid"))
    return sims.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)


@query(
    "embedding_centroids",
    oracle="""
    SELECT label, dim,
           count(*) AS n_vecs,
           round(avg(v), 4) AS mean_v
    FROM (
      SELECT label,
             CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    )
    GROUP BY label, dim
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding space in long format
    (label, dim, mean) — the class-prototype computation behind
    IVF coarse quantizers, k-means init, and per-cluster drift
    monitoring.

    posexplode turns each vector into 64 (dim, value) rows that feed
    straight into partial aggregation: the exchange carries
    |labels|×|dims| partial sums per map partition, NOT the vector
    data, so the pattern holds at any corpus size. Long format avoids
    re-assembling arrays (engines disagree on aggregate array order);
    the DuckDB twin zips unnest with generate_subscripts."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg(F.col("v").cast("double")), 4).alias("mean_v"),
        )
    )


@query(
    "embedding_pipeline",
    oracle="""
    WITH longf AS (
      SELECT label,
             generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    cent AS (
      SELECT label AS clabel, list(mv ORDER BY dim) AS ce
      FROM (SELECT label, dim,
                   round(CAST(sum(CAST(v AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6) AS mv
            FROM longf GROUP BY label, dim)
      GROUP BY label
    ),
    vecs AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
    sims AS (
      SELECT vec_id, label, clabel,
             round(list_dot_product(ve, ce) /
                   (sqrt(list_dot_product(ve, ve)) * sqrt(list_dot_product(ce, ce))),
                   4) AS cos_sim
      FROM vecs CROSS JOIN cent
    ),
    best AS (
      SELECT vec_id, label, clabel, cos_sim,
             row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, clabel) AS rn
      FROM sims
    )
    SELECT label, clabel AS assigned, count(*) AS n,
           CAST(sum(CAST(cos_sim AS DECIMAL(14,4))) AS DOUBLE) AS sum_cos
    FROM best WHERE rn = 1
    GROUP BY label, assigned
    """,
)
def embedding_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship embedding composite: centroid build → nearest-centroid
    assignment → per-class quality report, all in one Catalyst plan —
    the IVF coarse-assignment / cluster-drift-monitoring pipeline.

    Stage shapes: (1) centroids via posexplode + partial-aggregated
    (label, dim) means — the exchange carries partial sums, not
    vectors (decimal-exact sums so the 6dp-rounded prototypes are
    bit-identical across engines); (2) every
    vector scores against the |labels| centroids via a broadcast
    cross join (the centroid table is labels-sized — tiny at any
    corpus scale) with the cosine folded JVM-side in codegen order
    matching DuckDB's list_dot_product; (3) argmin by (cos DESC,
    label) rank, then confusion counts + the decimal-exact cosine
    mass per cell (a SUM, deliberately: a mean of k-dp-rounded values
    can land exactly on the next round boundary, where JVM
    shortest-repr rounding and DuckDB true-binary rounding disagree —
    the sum is exact in DECIMAL and casts deterministically).
    At 100 TB only stage 2 touches the corpus, map-side."""
    e = load_table(spark, sf_dir, "embeddings")
    longf = e.select(
        "label", F.posexplode("embedding").alias("dim", "v0")
    ).select("label", "dim", F.col("v0").cast("double").alias("v"))
    cent_long = longf.groupBy("label", "dim").agg(
        F.round(
            F.sum(F.col("v").cast("decimal(18,9)")).cast("double") / F.count("*"), 6
        ).alias("mv")
    )
    cent = cent_long.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mv"))),
            lambda s: s.getField("mv"),
        ).alias("ce")
    )
    vecs = e.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("ve"),
    )
    sims = vecs.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "clabel",
        F.round(cosine(F.col("ve"), F.col("ce")), 4).alias("cos_sim"),
    )
    w = W.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), "clabel")
    best = sims.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return best.groupBy("label", F.col("clabel").alias("assigned")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("cos_sim").cast("decimal(14,4)")).cast("double").alias("sum_cos"),
    )


@query(
    "embedding_norm_audit",
    oracle="""
    WITH per_vec AS (
      SELECT label,
             len(embedding) AS dim,
             CAST(list_sum(list_transform(embedding,
                  x -> CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1000000)
                            AS BIGINT))) AS BIGINT) AS l2sq_micro,
             CAST(len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)))) > 0
                  AS BOOLEAN) AS has_nan,
             CAST(list_max(list_transform(embedding,
                  x -> abs(CAST(x AS DOUBLE)))) = 0 AS BOOLEAN) AS is_zero
      FROM embeddings
    )
    SELECT label,
           count(*) AS n,
           CAST(min(dim) AS INTEGER) AS min_dim,
           CAST(max(dim) AS INTEGER) AS max_dim,
           CAST(sum(CASE WHEN has_nan THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
           CAST(sum(CASE WHEN is_zero THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
           CAST(min(l2sq_micro) AS BIGINT) AS min_l2sq_micro,
           CAST(max(l2sq_micro) AS BIGINT) AS max_l2sq_micro,
           CAST(sum(l2sq_micro) // count(*) AS BIGINT) AS avg_l2sq_micro
    FROM per_vec
    GROUP BY label
    """,
)
def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table health gate — run BEFORE any ANN/dedup consumer:
    per label, dimension consistency (min=max or the index layout is
    broken), NaN vectors (poison cosine — one NaN propagates through a
    whole reduction), all-zero vectors (undefined direction; crash or
    garbage in normalized distance), and the squared-norm range (wild
    norms break inner-product ≈ cosine assumptions and IVF cell
    balance).

    Determinism: norms are per-TERM integer-quantized (round(x²·10⁶) →
    bigint) before summation, the house pattern that makes float folds
    order-independent; min/max/avg then ride exact integers.

    Scale: pure per-row array math + one |labels|-group agg — no
    shuffle of vector data, embarrassingly parallel, the audit costs
    one scan regardless of corpus size."""
    e = load_table(spark, sf_dir, "embeddings")
    d = lambda c: c.cast("double")  # noqa: E731
    sq_micro = F.transform("embedding", lambda x: F.round(d(x) * d(x) * 1000000).cast("long"))
    per_vec = e.select(
        "label",
        F.size("embedding").alias("dim"),
        F.aggregate(sq_micro, F.lit(0).cast("long"), lambda a, x: a + x).alias("l2sq_micro"),
        F.exists("embedding", lambda x: F.isnan(d(x))).alias("has_nan"),
        (F.array_max(F.transform("embedding", lambda x: F.abs(d(x)))) == 0).alias("is_zero"),
    )
    return per_vec.groupBy("label").agg(
        F.count("*").alias("n"),
        F.min("dim").alias("min_dim"),
        F.max("dim").alias("max_dim"),
        F.sum(F.when(F.col("has_nan"), 1).otherwise(0)).alias("n_nan"),
        F.sum(F.when(F.col("is_zero"), 1).otherwise(0)).alias("n_zero"),
        F.min("l2sq_micro").alias("min_l2sq_micro"),
        F.max("l2sq_micro").alias("max_l2sq_micro"),
        F.expr("sum(l2sq_micro) div count(*)").alias("avg_l2sq_micro"),
    )




_PQ_M = 16       # subspaces (64-dim → 16 × 4)
_PQ_SUB = 4      # dims per subspace
_PQ_K = 16       # codes per subspace codebook
_PQ_NQ = 30      # query vectors (vec_id < 30)
_PQ_SHORTLIST = 100  # ADC candidates kept per query for exact rerank

# per-subspace squared L2, quantized to exact integer micro-units so the
# M-term ADC sum is order-independent (no float summation drift);
# identical textual operation order in both engines: (aa - 2ab) + bb
_PQ_D_SQL_DUCK = (
    "CAST(floor((list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
    " + list_dot_product({b}, {b})) * 1000000 + 0.5) AS BIGINT)"
)


def _pq_subs_cte() -> str:
    legs = []
    for m in range(_PQ_M):
        lo, hi = m * _PQ_SUB + 1, (m + 1) * _PQ_SUB
        legs.append(f"SELECT vec_id, {m} AS m, v[{lo}:{hi}] AS s FROM e")
    return " UNION ALL ".join(legs)


_PQ_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
subs AS ({_pq_subs_cte()}),
cb AS (SELECT vec_id AS j, m, s AS c FROM subs WHERE vec_id < {_PQ_K}),
enc AS (
  SELECT vec_id, m, j AS code FROM (
    SELECT s.vec_id, s.m, cb.j,
           row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
             {_PQ_D_SQL_DUCK.format(a="s.s", b="cb.c")}, cb.j) AS rn
    FROM subs s JOIN cb USING (m)
  ) WHERE rn = 1
),
lut AS (
  SELECT q.vec_id AS qid, q.m, cb.j,
         {_PQ_D_SQL_DUCK.format(a="q.s", b="cb.c")} AS d
  FROM subs q JOIN cb USING (m)
  WHERE q.vec_id < {_PQ_NQ}
),
shortlist AS (
  SELECT qid, cid FROM (
    SELECT qid, cid, row_number() OVER (PARTITION BY qid
             ORDER BY adist_micro, cid) AS arn
    FROM (
      SELECT l.qid, enc.vec_id AS cid, CAST(sum(l.d) AS BIGINT) AS adist_micro
      FROM enc JOIN lut l ON enc.m = l.m AND enc.code = l.j
      WHERE enc.vec_id <> l.qid
      GROUP BY l.qid, enc.vec_id
    )
  ) WHERE arn <= {_PQ_SHORTLIST}
),
reranked AS (
  SELECT s.qid, s.cid,
         {_PQ_D_SQL_DUCK.format(a="q.v", b="c.v")} AS l2sq_micro
  FROM shortlist s
  JOIN e q ON s.qid = q.vec_id
  JOIN e c ON s.cid = c.vec_id
)
SELECT qid, cid, l2sq_micro, CAST(rn AS INTEGER) AS rn FROM (
  SELECT qid, cid, l2sq_micro,
         row_number() OVER (PARTITION BY qid ORDER BY l2sq_micro, cid) AS rn
  FROM reranked
) WHERE rn <= 5
"""


def _pq_codebook(id_embedding_pairs: list) -> tuple[list, tuple]:
    """Flat (m-major, then j, then i) codebook doubles from the
    collected [0, K) embedding rows, plus the tuple of MISSING code
    ids.

    Degenerate-input contract (ADVICE r13): a vec_id GAP in [0, K)
    degrades gracefully — the missing code's subvectors are zero-filled
    here and its distance columns pinned to INT64 max inside
    _pq_encode_worker, so neither the encode argmin nor the
    (never-referenced) LUT slot can select it: exactly the old join
    form's behavior of ranking over whatever codebook rows exist. A
    DUPLICATE vec_id is a broken key (both the old join and the oracle
    would fan out rows) and fails loudly instead of silently
    last-write-winning."""
    seen_ids = [j for j, _emb in id_embedding_pairs]
    if len(seen_ids) != len(set(seen_ids)):
        raise ValueError(
            f"knn_pq: duplicate vec_id rows in the codebook slice [0, {_PQ_K}): "
            f"{sorted(i for i in set(seen_ids) if seen_ids.count(i) > 1)} — "
            "vec_id must be a key of the embeddings table"
        )
    cb: dict[tuple[int, int], list[float]] = {
        (m, j): [0.0] * _PQ_SUB for m in range(_PQ_M) for j in range(_PQ_K)
    }
    for j, emb in id_embedding_pairs:
        for m in range(_PQ_M):
            cb[(m, j)] = [float(x) for x in emb[m * _PQ_SUB : (m + 1) * _PQ_SUB]]
    missing_js = tuple(sorted(set(range(_PQ_K)) - set(seen_ids)))
    cb_flat = [v for m in range(_PQ_M) for j in range(_PQ_K) for v in cb[(m, j)]]
    return cb_flat, missing_js


def _pq_encode_worker(cb_flat: list, codes_only: bool, missing_js: tuple = ()):
    """mapInArrow worker factory for the PQ encode/LUT passes, closed
    over the flat (m-major, then j, then i) codebook doubles.
    ``missing_js`` lists code ids absent from the embeddings table
    (gapped vec_ids — ADVICE r13): their distance columns are pinned
    to INT64 max so argmin can never select them and their LUT slots
    are never referenced, mirroring the old join form's ranking over
    only the codebook rows that exist.

    Exactness contract — every value is bit-identical to the
    _pq_dist_micro expression it replaces: embeddings are float32 →
    float64 (exact); ss/sc/cc accumulate as explicit left folds from
    0.0 in index order (NumPy elementwise float64 add/mul == the JVM's
    zip_with/aggregate fold, op for op); the combination keeps the
    textual ((aa - 2ab) + cc) order; floor(x * 1e6 + 0.5) runs in
    float64 before the int64 cast. np.argmin returns the FIRST
    minimum — exactly min(struct(d, j))'s (d, then lowest j)
    tie-break. A ragged or null-carrying batch fails loudly at the
    reshape (same contract as _pca_gram_worker)."""

    def work(batches):
        import numpy as np
        import pyarrow as pa

        C = np.array(cb_flat, dtype=np.float64).reshape(_PQ_M, _PQ_K, _PQ_SUB)
        cc = np.zeros((_PQ_M, _PQ_K))
        for i in range(_PQ_SUB):
            cc = cc + C[:, :, i] * C[:, :, i]
        for batch in batches:
            vid = batch.column(0)
            col = batch.column(1)
            n = len(col)
            if n == 0:
                continue
            X = (
                col.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64)
                .reshape(n, _PQ_M * _PQ_SUB)
            )
            d_all = np.empty((n, _PQ_M * _PQ_K), dtype=np.int64)
            for m in range(_PQ_M):
                S = X[:, m * _PQ_SUB : (m + 1) * _PQ_SUB]
                ss = np.zeros(n)
                sc = np.zeros((n, _PQ_K))
                for i in range(_PQ_SUB):
                    ss = ss + S[:, i] * S[:, i]
                    sc = sc + S[:, i, None] * C[m, :, i][None, :]
                d = np.floor((ss[:, None] - 2 * sc + cc[m][None, :]) * 1000000 + 0.5)
                di = d.astype(np.int64)
                for j_missing in missing_js:
                    di[:, j_missing] = np.iinfo(np.int64).max
                d_all[:, m * _PQ_K : (m + 1) * _PQ_K] = di
            if codes_only:
                codes = np.argmin(
                    d_all.reshape(n, _PQ_M, _PQ_K), axis=2
                ).astype(np.int32)
                out = pa.array(codes.tolist(), type=pa.list_(pa.int32()))
                yield pa.RecordBatch.from_arrays([vid, out], names=["vec_id", "codes"])
            else:
                out = pa.array(d_all.tolist(), type=pa.list_(pa.int64()))
                yield pa.RecordBatch.from_arrays([vid, out], names=["qid", "lut"])

    return work


def _pq_dist_micro(a, b):
    """Quantized squared L2 between two (sub)vectors — the Spark twin
    of _PQ_D_SQL_DUCK (same IEEE op order: (aa - 2ab) + bb)."""
    from datapipeline_scripts_spark.functions.vectors import dot

    return F.floor(
        (dot(a, a) - F.lit(2) * dot(a, b) + dot(b, b)) * 1000000 + F.lit(0.5)
    ).cast("long")


@query("knn_pq", oracle=_PQ_ORACLE)
def knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with exact rerank — the standard
    two-stage 100 TB retrieval shape (PQ-ADC scan → shortlist → exact
    distance on the shortlist only):

    1. Encode: every embedding becomes M=16 one-byte codes (4-dim
       subspaces, K=16 codes each; codebook = the first K vectors'
       slices, the same deterministic seeding knn_ivf uses). 32× less
       candidate state than float64 — the scan stage is memory-bound,
       so this compression IS the speedup at scale.
    2. ADC shortlist: each query ranks all candidates by the sum of M
       lookup-table entries (no dot products), keeps the top
       _PQ_SHORTLIST.
    3. Exact rerank: full-precision squared L2 on the shortlist only
       (|Q|·shortlist rows), top-5.

    Exactness discipline: per-subspace distances are floor-quantized
    to integer micro-units before the ADC sum, so both ranking stages
    are exact integer arithmetic and the DuckDB oracle (same codebook,
    same quantization) matches hash-for-hash — approximation lives in
    the deterministic quantizer, never in engine nondeterminism. The
    fixture embeddings are near-uniform random (worst case for PQ), so
    recall comes from the rerank stage; measured vs exact L2 in
    tests/test_extensions.py::test_pq_rerank_recall_vs_exact."""
    e = load_table(spark, sf_dir, "embeddings")
    ed = e.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    # The codebook is the first K vectors' M subvector slices — K·M =
    # 256 rows of _PQ_SUB floats, bounded by CONSTRUCTION (never by
    # corpus size): the sketches.py:270 singleton-collect class. Fold
    # it to literals so both the encode pass and the query LUT become
    # single in-row projections of the scan — the r13-before form
    # instead posexploded every embedding into M subvector rows and
    # ran two groupBy legs (argmin re-aggregate + collect_list
    # re-pack), shuffling N·M subvector rows twice per run
    # (plans/r13/knn_pq_before.txt (13)(17)(30): 3 Exchanges and two
    # ObjectHashAggregate pairs that no longer exist).
    cb_rows = e.filter(F.col("vec_id") < _PQ_K).select("vec_id", "embedding").collect()
    cb_flat, missing_js = _pq_codebook(
        [(int(r["vec_id"]), r["embedding"]) for r in cb_rows]
    )
    # One vectorized Arrow pass computes the M-entry code array per
    # candidate row (and a second, query-filtered pass the M·K-entry
    # LUT per query) — the _pca_gram_worker pattern (guide §4.2): only
    # (vec_id, embedding) crosses the boundary, zero shuffles, and the
    # argmin tie-break (d, then lowest j) is NumPy argmin's
    # first-minimum. Distance arithmetic is bit-identical to
    # _pq_dist_micro — see _pq_encode_worker. (Two pure-SQL in-row
    # forms were tried first: a per-(m,j) literal unroll planned ~12k
    # expression nodes / 10.8 MiB task binaries, and a
    # transform/aggregate HOF form evaluated interpreted, 0.75 s
    # SLOWER than the exploded join at sf0.1.)
    enc_map = e.select("vec_id", "embedding").mapInArrow(
        _pq_encode_worker(cb_flat, codes_only=True, missing_js=missing_js),
        schema="vec_id long, codes array<int>",
    )
    lut_map = (
        e.filter(F.col("vec_id") < _PQ_NQ)
        .select("vec_id", "embedding")
        .mapInArrow(
            _pq_encode_worker(cb_flat, codes_only=False, missing_js=missing_js),
            schema="qid long, lut array<long>",
        )
    )
    # unrolled (no higher-order fold): 16 positional lookups summed as
    # plain codegen'd expressions
    terms = [
        F.element_at(
            F.col("lut"),
            (F.lit(m * _PQ_K) + F.element_at(F.col("codes"), m + 1) + 1).cast("int"),
        )
        for m in range(_PQ_M)
    ]
    adist = sum(terms[1:], terms[0])
    # Two-level top-k (VERDICT r09 weak item): a single per-qid window
    # over all N candidates sorts N rows in exactly |Q| reducer
    # partitions — a fan-in that ignores cluster size at 10⁹
    # candidates. Level 1 ranks within (qid, chunk) — chunk = the map
    # partition that produced the ADC row — so the first sort's keys
    # number |Q|·P and each reducer sorts only one chunk's candidates
    # (bounded by the scan partition size, never by N). Level 2 then
    # ranks only the |Q|·P·_PQ_SHORTLIST survivors. Exact for top-k:
    # every global top-_PQ_SHORTLIST row is its chunk's top-≤ that,
    # and both levels share the (adist_micro, cid) total order, so the
    # final set — and the oracle hash — are unchanged.
    adc = (
        enc_map.crossJoin(F.broadcast(lut_map))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("cid"),
            adist.alias("adist_micro"),
            F.spark_partition_id().alias("chunk"),
        )
    )
    wlocal = W.partitionBy("qid", "chunk").orderBy("adist_micro", "cid")
    wadc = W.partitionBy("qid").orderBy("adist_micro", "cid")
    shortlist = (
        adc.withColumn("crn", F.row_number().over(wlocal))
        .filter(F.col("crn") <= _PQ_SHORTLIST)
        .withColumn("arn", F.row_number().over(wadc))
        .filter(F.col("arn") <= _PQ_SHORTLIST)
        .select("qid", "cid")
    )
    qv = ed.select(F.col("vec_id").alias("qid"), F.col("v").alias("qvec"))
    cv = ed.select(F.col("vec_id").alias("cid"), F.col("v").alias("cvec"))
    reranked = (
        shortlist.join(F.broadcast(qv), "qid")
        .join(cv, "cid")
        .select("qid", "cid", _pq_dist_micro(F.col("qvec"), F.col("cvec")).alias("l2sq_micro"))
    )
    wr = W.partitionBy("qid").orderBy("l2sq_micro", "cid")
    return (
        reranked.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 5)
        .select("qid", "cid", "l2sq_micro", "rn")
    )


_DIM_STATS_ORACLE = """
WITH ex AS (
  SELECT r.i AS dim,
         CAST(round(CAST(e.embedding[r.i + 1] AS DOUBLE) * 1000000) AS BIGINT) AS x_u
  FROM embeddings e, unnest(range(len(e.embedding))) AS r(i)
)
SELECT dim,
       count(*) AS n,
       CAST(sum(x_u) AS BIGINT) AS sum_u,
       CAST(sum(x_u) // count(*) AS BIGINT) AS mean_u,
       CAST(min(x_u) AS BIGINT) AS min_u,
       CAST(max(x_u) AS BIGINT) AS max_u,
       CAST(sum(CASE WHEN x_u = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
FROM ex
GROUP BY dim
"""


@query("embedding_dim_stats", oracle=_DIM_STATS_ORACLE)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension distribution audit of the embedding space: n,
    exact integer-microunit sum/mean/min/max and dead-dimension (zero)
    counts per coordinate — the feature-drift monitor run between
    model versions (a dimension whose mean shifts or dies signals an
    encoder change; companion to embedding_norm_audit's per-vector
    gate).

    Exactness: each component is per-row quantized to 1e-6 units
    before aggregation, so sums are order-independent bigints (the
    cents idiom applied to float vectors). Scale: posexplode feeds
    straight into partial aggregation — the shuffle carries |dims|
    groups of integer partials, never vectors."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        F.posexplode(F.col("embedding")).alias("dim", "x")
    ).select(
        "dim",
        F.round(F.col("x").cast("double") * 1000000).cast("long").alias("x_u"),
    )
    return ex.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("x_u").alias("sum_u"),
        F.expr("CAST(sum(x_u) div count(*) AS BIGINT)").alias("mean_u"),
        F.min("x_u").alias("min_u"),
        F.max("x_u").alias("max_u"),
        F.sum(F.when(F.col("x_u") == 0, 1).otherwise(0)).alias("n_zero"),
    )


@query(
    "embedding_outlier_score",
    oracle="""
    WITH dims AS (
      SELECT vec_id, t.i AS dim,
             CAST(round(CAST(embedding[t.i + 1] AS DOUBLE) * 10000) AS BIGINT) AS v
      FROM embeddings,
           unnest(range(len(embedding))) AS t(i)
    ),
    stats AS (
      SELECT dim,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS BIGINT) AS s,
             CAST(sum(v * v) AS BIGINT) AS q
      FROM dims GROUP BY 1
    ),
    scored AS (
      SELECT d.vec_id,
             CAST(sum(CAST(floor(1000000 *
               (d.v - CAST(st.s AS DOUBLE) / st.n)
               * (d.v - CAST(st.s AS DOUBLE) / st.n)
               / ((CAST(st.q AS DOUBLE) - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE) / st.n) / (st.n - 1))
             ) AS BIGINT)) AS BIGINT) AS score_u6
      FROM dims d JOIN stats st USING (dim)
      GROUP BY 1
    )
    SELECT vec_id, score_u6 AS outlier_score_u6
    FROM scored ORDER BY score_u6 DESC, vec_id LIMIT 20
    """,
)
def embedding_outlier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagonal-Mahalanobis embedding outlier screen: per-dimension
    mean/variance from EXACT integer micro-unit sufficient statistics
    (the embedding_dim_stats pattern), then each vector scores
    Σ_dim z² — the multivariate cousin of the per-dimension drift
    audit, catching vectors that are individually plausible per
    coordinate but jointly aberrant. Each z² term is identical double
    arithmetic over identical integers on both engines and quantizes
    to integer micro-units BEFORE the per-vector sum, so the score is
    an order-free integer total (a raw double sum drifted between the
    engines' hash-agg addend orders), and the |dims|-row stats
    table joins back broadcast-sized. Top-20 is TakeOrdered with a
    vec_id tie-break."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "vec_id",
        "dim",
        # 1e4 quantization keeps every sufficient statistic below 2^53:
        # at 1e6 the sum-of-squares (~6e16) exceeded double-exact range
        # and the decimal->double vs HUGEINT->double casts rounded a
        # last ulp apart between engines
        F.round(F.col("x").cast("double") * 10000).cast("long").alias("v"),
    )
    stats = dims.groupBy("dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("q"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("q").cast("double") - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    ) / (F.col("n") - 1)
    z2 = (F.col("v") - mean) * (F.col("v") - mean) / var
    # each z-squared term quantizes to integer micro-units BEFORE the
    # per-vector sum — a raw double sum over dims drifted 1e-4 between
    # engines (hash-agg addend order); floor of identical doubles is
    # identical, and integer sums are order-free
    z2_u6 = F.floor(1000000 * z2).cast("long")
    return (
        dims.join(F.broadcast(stats), "dim")
        .groupBy("vec_id")
        .agg(F.sum(z2_u6).cast("long").alias("score_u6"))
        .select("vec_id", F.col("score_u6").alias("outlier_score_u6"))
        .orderBy(F.desc("outlier_score_u6"), "vec_id")
        .limit(20)
    )


# ---- knn_recall_report -----------------------------------------------------
#
# Evaluate the approximate index IN-ENGINE: recall@5 of knn_ivf
# against the exact knn_brute top-5, per query — the acceptance gate
# every ANN deployment runs before switching retrieval paths. Both
# legs are the registered builders themselves (and the oracle wraps
# their registered SQL twins), so the report can never drift from
# the operators it grades.


KNN_RECALL_REPORT_ORACLE = f"""
WITH exact AS (
  SELECT qid, cid FROM (
    WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
               FROM embeddings),
         sims AS (
           SELECT qid, cid,
                  round(list_dot_product(qe, ce) /
                        (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))),
                        4) AS cos_sim
           FROM q CROSS JOIN c
           WHERE qid <> cid
         ),
         ranked AS (
           SELECT qid, cid,
                  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rn
           FROM sims
         )
    SELECT qid, cid FROM ranked WHERE rn <= 5
  )
),
approx AS (
  SELECT qid, cid FROM ({_IVF_ORACLE}) WHERE qid < 5
),
base AS (SELECT qid, count(*) AS k FROM exact GROUP BY qid),
inter AS (
  SELECT e.qid, count(*) AS n_hits
  FROM exact e JOIN approx a ON e.qid = a.qid AND e.cid = a.cid
  GROUP BY e.qid
)
SELECT b.qid,
       CAST(coalesce(i.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(i.n_hits, 0) * 10000 // b.k AS BIGINT) AS recall_bp
FROM base b LEFT JOIN inter i ON b.qid = i.qid
ORDER BY b.qid
"""


@query("knn_recall_report", oracle=KNN_RECALL_REPORT_ORACLE)
def knn_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query ANN recall: (qid, n_hits, recall_bp) for the 5
    shared query vectors, recall@5 in basis points.

    Scale shape: both legs bound their candidate sets before ranking
    (brute broadcasts the query block; IVF probes NPROBE lists), the
    intersection is an equi-join on (qid, cid) — |Q|·k rows a side —
    and the rollup is partial-aggregable. At real scale the exact leg
    runs on a held-out sample of queries (recall estimation), which
    changes only the qid filter."""
    exact = knn_brute(spark, sf_dir).filter(F.col("rn") <= 5).select("qid", "cid")
    approx = knn_ivf(spark, sf_dir).filter(F.col("qid") < 5).select("qid", "cid")
    inter = (
        exact.join(approx, ["qid", "cid"])
        .groupBy("qid")
        .agg(F.count("*").alias("n_hits"))
    )
    base = exact.groupBy("qid").agg(F.count("*").alias("k"))
    return (
        base.join(inter, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.expr("CAST(coalesce(n_hits, 0) * 10000 div k AS BIGINT)").alias(
                "recall_bp"
            ),
        )
        .orderBy("qid")
    )


# ---- embedding_pca_power ---------------------------------------------------
#
# Top principal direction of the embedding table by POWER ITERATION,
# entirely in-engine and integer-exact: embeddings are int8-quantized
# (the proven knn_int8 expression), the 64×64 Gram matrix G = QᵀQ is
# one combiner-bounded outer-product aggregate (exact BIGINTs), and
# each iteration is v ← rescale(G·v) with an abs-split integer
# rescale (sign(w)·(|w|·1024 ÷ max|w|)) — floor-on-nonnegative equals
# truncation, so Spark's `div` and DuckDB's `//` agree exactly. G is
# PSD by construction, so the iteration converges toward the top
# eigenvector; the OUTPUT is the whole per-dimension trajectory
# (v1, v2, v3), hash-exact like the perceptron's weight trajectory.
# This is the whitening/decorrelation step an embedding pipeline runs
# before dimensionality reduction or calibrated cosine thresholds.

_PCA_ITERS = 3
_PCA_VSCALE = 1024
_PCA_DIMS = 64


def _pca_learn(
    spark: SparkSession, sf_dir: str
) -> tuple[list[DataFrame], DataFrame, DataFrame, list[list[int]]]:
    """Shared PCA chain: ([v after each iteration], quantized vectors
    (vec_id, qv), dims frame, [raw iterate values]). The power key
    reads the trajectory; the projection key reuses the quantized
    table and the final iterate — shared code, so the pair cannot
    fork. The raw Python-int iterates (last element) let consumers
    fold the final direction into literal expressions (optimization
    r14: the projection becomes an in-row dot product, no explode /
    broadcast join / corpus-sized groupBy)."""
    e = load_table(spark, sf_dir, "embeddings")
    sc = F.greatest(
        F.array_max(F.transform(F.col("embedding"), lambda v: F.abs(v.cast("double")))),
        F.lit(1e-30),
    ) / F.lit(127.0)
    qz = e.select("vec_id", "embedding", sc.alias("sc")).select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda v: F.floor(v.cast("double") / F.col("sc") + F.lit(0.5)).cast("long"),
        ).alias("qv"),
    )

    # Optimization round 13 (guide §4.2, §5, §7.2). The Gram build was
    # a DOUBLE posexplode (N·dim² = 8.2M rows at sf0.1 through a
    # partial aggregate); it is now one `mapInArrow` pass that hands
    # each Arrow batch of quantized vectors to a NumPy int64 matmul —
    # X.T @ X per batch, one 4096-row partial Gram per task, summed by
    # a dim²-group aggregate. Exact: the quantized entries are int64
    # (|q| <= 127 plus the 0.5-rounding headroom), NumPy int64 matmul
    # is exact integer arithmetic, and the cross-task sum is the same
    # BIGINT sum as before. Only `qv` crosses the Python boundary
    # (guide §4.1: project first).
    #
    # The power iteration then runs DRIVER-SIDE on the collected Gram:
    # G is dim² = 4,096 longs — bounded by the embedding width, never
    # by corpus size, at ANY scale (the canonical production shape:
    # distributed Gram fan-in, local eigensolve). The old form chained
    # each iterate through crossJoin(broadcast(m)) joins, nesting
    # broadcast subtrees exactly like the perceptron loop (1,636 plan
    # lines — plans/r13/embedding_pca_power_before.txt). Python-int
    # arithmetic reproduces the engines' BIGINT trajectory exactly
    # inside the documented overflow headroom (|w| <= 64·|G|·1024,
    # see the key docstring); the iterates become literal 64-row
    # frames. Oracle hashes of both PCA keys are unchanged.
    gram_rows = (
        qz.select("qv")
        .mapInArrow(_pca_gram_worker, schema="i int, j int, gij long")
        .groupBy("i", "j")
        .agg(F.sum("gij").alias("gij"))
        .collect()
    )
    G = [[0] * _PCA_DIMS for _ in range(_PCA_DIMS)]
    for r in gram_rows:
        G[r["i"] - 1][r["j"] - 1] = int(r["gij"])

    dims = spark.range(1, _PCA_DIMS + 1).select(F.col("id").cast("int").alias("dim"))
    v = [_PCA_VSCALE if d == 0 else 0 for d in range(_PCA_DIMS)]
    vs = []
    v_lists: list[list[int]] = []
    for _t in range(1, _PCA_ITERS + 1):
        w = [sum(G[i][j] * v[j] for j in range(_PCA_DIMS)) for i in range(_PCA_DIMS)]
        m = max(max(abs(x) for x in w), 1)
        v = [
            -((-x) * _PCA_VSCALE // m) if x < 0 else (x * _PCA_VSCALE) // m
            for x in w
        ]
        v_lists.append(list(v))
        vs.append(
            spark.createDataFrame(
                [(d + 1, v[d]) for d in range(_PCA_DIMS)],
                schema=T.StructType(
                    [
                        T.StructField("dim", T.IntegerType(), False),
                        T.StructField("vj", T.LongType(), False),
                    ]
                ),
            )
        )
    return vs, qz, dims, v_lists


def _pca_gram_worker(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
    """Per-task partial Gram: NumPy int64 X.T @ X over each Arrow
    batch of quantized vectors (one 4,096-row partial per task; exact
    integer arithmetic — see the _pca_learn comment). A ragged or
    null-carrying batch fails loudly at the reshape."""
    import numpy as np
    import pyarrow as pa

    acc = None
    for batch in batches:
        col = batch.column(0)
        n = len(col)
        if n == 0:
            continue
        flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
        X = flat.reshape(n, _PCA_DIMS)
        p = X.T @ X
        acc = p if acc is None else acc + p
    if acc is not None:
        idx = np.arange(_PCA_DIMS, dtype=np.int32) + 1
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.repeat(idx, _PCA_DIMS)),
                pa.array(np.tile(idx, _PCA_DIMS)),
                pa.array(acc.ravel()),
            ],
            names=["i", "j", "gij"],
        )


def _pca_chain_sql() -> str:
    """Shared WITH-body for the PCA oracles: q (vec_id, qv), the Gram
    build, and v0..v{_PCA_ITERS}. DuckDB prunes unreferenced CTEs, so
    each consumer pays only for what it reads."""
    its = []
    for t in range(1, _PCA_ITERS + 1):
        its.append(f"""w{t} AS (
  SELECT g.i AS dim, sum(g.gij * v{t - 1}.vj) AS w
  FROM g JOIN v{t - 1} ON g.j = v{t - 1}.dim GROUP BY g.i
),
m{t} AS (SELECT greatest(max(abs(w)), 1) AS m FROM w{t}),
v{t} AS (
  SELECT dim,
         CASE WHEN w < 0 THEN -((-w * {_PCA_VSCALE}) // m)
              ELSE (w * {_PCA_VSCALE}) // m END AS vj
  FROM w{t}, m{t}
)""")
    its_sql = ",\n".join(its)
    return f"""q AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(floor(x / sc + 0.5) AS BIGINT)) AS qv
  FROM (
    SELECT vec_id, v,
           greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) / 127.0 AS sc
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
  )
),
e1 AS (
  SELECT u.i AS i, u.qi AS qi, qv FROM (
    SELECT qv,
           unnest(list_transform(generate_series(1, len(qv)),
                                 i -> {{'i': i, 'qi': qv[i]}})) AS u
    FROM q)
),
e2 AS (
  SELECT i, u2.j AS j, qi * u2.qj AS prod FROM (
    SELECT i, qi,
           unnest(list_transform(generate_series(1, len(qv)),
                                 j -> {{'j': j, 'qj': qv[j]}})) AS u2
    FROM e1)
),
g AS (SELECT i, j, sum(prod) AS gij FROM e2 GROUP BY i, j),
v0 AS (
  SELECT CAST(unnest(generate_series(1, {_PCA_DIMS})) AS INTEGER) AS dim,
         CASE WHEN unnest(generate_series(1, {_PCA_DIMS})) = 1
              THEN {_PCA_VSCALE} ELSE 0 END AS vj
),
{its_sql}"""


def _pca_oracle() -> str:
    sel = ", ".join(f"CAST(v{t}.vj AS BIGINT) AS v{t}" for t in range(1, _PCA_ITERS + 1))
    joins = " ".join(f"JOIN v{t} ON v{t}.dim = d.dim" for t in range(1, _PCA_ITERS + 1))
    return f"""
WITH {_pca_chain_sql()}
SELECT CAST(d.dim AS INTEGER) AS dim, {sel}
FROM v0 d {joins}
ORDER BY d.dim
"""


EMBEDDING_PCA_POWER_ORACLE = _pca_oracle()


@query("embedding_pca_power", oracle=EMBEDDING_PCA_POWER_ORACLE)
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer power iteration on the int8 Gram matrix; 64 rows:
    (dim, v1, v2, v3) — the iterate after each of three steps,
    v scaled to max-abs = 1024.

    Scale shape: the ONLY corpus-sized work is the Gram build — a
    map-side outer-product explode whose partial aggregation is
    bounded at dim² = 4096 groups per partition (the exchange carries
    ≤ 4096 rows per map task regardless of N). G is eagerly
    localCheckpoint'ed; every iteration then runs on 64–4096-row
    tables with the 64-row iterate broadcast. Overflow headroom:
    |G| ≤ 127²·N and |w| ≤ 64·|G|·1024, safe in BIGINT to N ≈ 10⁹
    vectors per partition-group; beyond that production scales G
    down by a power of two first (same integer semantics)."""
    vs, _qz, dims, _v_lists = _pca_learn(spark, sf_dir)
    out = dims
    for t, vt in enumerate(vs, start=1):
        out = out.join(vt.withColumnRenamed("vj", f"v{t}"), "dim")
    return out.orderBy("dim")


# ---- embedding_pca_project -------------------------------------------------
#
# The APPLY half of the PCA story (the bpe train→compression idiom):
# project every embedding onto the learned dominant direction and
# report the top-|projection| outliers — what an embedding-quality
# pass actually inspects (vectors dominated by the corpus's principal
# axis are the cluster-collapsed / boilerplate embeddings worth
# auditing before dedup thresholds are calibrated). Integer-exact end
# to end: the projection is Σ qv_i · v3_i over the int8 codes and the
# scaled integer iterate (|proj| ≤ 64·127·1024 — no overflow), shared
# `_pca_learn`/`_pca_chain_sql` so the pair cannot fork.

_PCA_TOPK = 20


EMBEDDING_PCA_PROJECT_ORACLE = f"""
WITH {{chain}},
pe AS (
  SELECT vec_id, u.i AS dim, u.qi AS qi FROM (
    SELECT vec_id,
           unnest(list_transform(generate_series(1, len(qv)),
                                 i -> {{{{'i': i, 'qi': qv[i]}}}})) AS u
    FROM q)
),
proj AS (
  SELECT pe.vec_id, sum(pe.qi * v{_PCA_ITERS}.vj) AS projection
  FROM pe JOIN v{_PCA_ITERS} ON v{_PCA_ITERS}.dim = pe.dim
  GROUP BY pe.vec_id
),
ranked AS (
  SELECT vec_id, projection,
         row_number() OVER (ORDER BY abs(projection) DESC, vec_id) AS rn
  FROM proj
)
SELECT CAST(rn AS INTEGER) AS out_rank, vec_id,
       CAST(projection AS BIGINT) AS projection
FROM ranked WHERE rn <= {_PCA_TOPK}
ORDER BY out_rank
""".format(chain=_pca_chain_sql())


@query("embedding_pca_project", oracle=EMBEDDING_PCA_PROJECT_ORACLE)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 dominant-direction outliers; (out_rank, vec_id,
    projection) ordered by |projection| DESC, vec_id tiebreak.

    Scale shape (optimization r14, guide §2.4 — remove shuffles
    outright): the final iterate is 64 Python ints already on the
    driver (_pca_learn's power iteration runs there), so the
    projection is an IN-ROW dot product — 64 codegen'd
    element_at(qv, i) * literal terms per vector, no posexplode, no
    broadcast join, no corpus-sized groupBy exchange (the r13 form
    shuffled N·64 (vec_id, qi, vj) rows through a per-vector sum).
    BIGINT addition is exact and order-independent, so the in-row
    left-to-right sum equals the old groupBy sum bit-for-bit (oracle
    hashes unchanged). The top-k is orderBy+limit (TakeOrdered —
    per-partition heaps, no global sort materialization), then a
    20-row window for the rank."""

    _vs, qz, _dims, v_lists = _pca_learn(spark, sf_dir)
    v_final = v_lists[-1]
    terms = [
        F.element_at(F.col("qv"), d + 1) * F.lit(int(v_final[d]))
        for d in range(_PCA_DIMS)
    ]
    proj = qz.select(
        "vec_id", sum(terms[1:], terms[0]).cast("long").alias("projection")
    )
    top = proj.orderBy(F.abs(F.col("projection")).desc(), "vec_id").limit(_PCA_TOPK)
    w = W.orderBy(F.abs(F.col("projection")).desc(), "vec_id")
    return top.select(
        F.row_number().over(w).cast("int").alias("out_rank"),
        "vec_id",
        F.col("projection").cast("long").alias("projection"),
    ).orderBy("out_rank")


# ---- knn_ivf_append ---------------------------------------------------------

_APPEND_SEED_MAX = 21  # vec_id < 21 ∧ vec_id % 4 != 3 → exactly 16 old seeds


KNN_IVF_APPEND_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (
  SELECT vec_id AS ccid, v AS cv FROM e
  WHERE vec_id < {_APPEND_SEED_MAX} AND vec_id % 4 <> 3
),
asg AS (
  SELECT vec_id, ccid AS list_id FROM (
    SELECT e.vec_id, c.ccid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, c.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
               c.ccid) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
)
SELECT list_id,
       CAST(sum(CASE WHEN vec_id % 4 <> 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
       CAST(sum(CASE WHEN vec_id % 4 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(CASE WHEN sum(CASE WHEN vec_id % 4 <> 3 THEN 1 ELSE 0 END) = 0
            THEN NULL
            ELSE sum(CASE WHEN vec_id % 4 = 3 THEN 1 ELSE 0 END) * 10000
                 // sum(CASE WHEN vec_id % 4 <> 3 THEN 1 ELSE 0 END) END
            AS BIGINT) AS growth_bp
FROM asg
GROUP BY list_id
ORDER BY list_id
"""


@query("knn_ivf_append", oracle=KNN_IVF_APPEND_ORACLE)
def knn_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance; one row per inverted list:
    (list_id, n_old, n_new, growth_bp).

    The existing index: centroids frozen from the OLD corpus
    (vec_id % 4 != 3; seeds are the registered knn_ivf deterministic
    quantizer restricted to old ids). Appending the NEW batch
    (vec_id % 4 == 3) retrains NOTHING: each new vector broadcasts
    against the 16-row centroid table and joins its argmax list —
    `_centroid_frame`, the exact registered assignment helper, so the
    append and the index cannot fork semantics.

    Scale shape: assignment is map-side only (centroids ≤ 2^16 rows
    broadcast; one row_number over the per-vector K candidates), and
    the growth report is a partial-aggregable groupBy over K lists —
    appending a day of vectors to a 10⁹-vector index costs
    O(batch · K) comparisons and shuffles K counter rows. The report
    is the re-balance trigger: growth_bp spread across lists tells
    the owner when the frozen quantizer has drifted from the data."""
    e = load_table(spark, sf_dir, "embeddings")
    cent = e.filter(
        (F.col("vec_id") < _APPEND_SEED_MAX) & (F.col("vec_id") % 4 != 3)
    ).select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    asg = _centroid_frame(e, cent)
    return (
        asg.groupBy(F.col("cid").alias("list_id"))
        .agg(
            F.sum(F.when(F.col("vec_id") % 4 != 3, 1).otherwise(0))
            .cast("long")
            .alias("n_old"),
            F.sum(F.when(F.col("vec_id") % 4 == 3, 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
            # explicit zero-old guard: a list seeded only by new
            # vectors is unreachable under the current seed-self-
            # assignment tiebreak, but Spark's `div` and DuckDB's `//`
            # disagree on /0 (NULL vs error) — make the NULL contract
            # explicit on BOTH engines so a future quantizer change
            # cannot silently diverge (ADVICE r11).
            F.expr(
                "CAST(CASE WHEN sum(CASE WHEN vec_id % 4 != 3 THEN 1 ELSE 0 END) = 0"
                " THEN NULL"
                " ELSE sum(CASE WHEN vec_id % 4 = 3 THEN 1 ELSE 0 END) * 10000"
                " div sum(CASE WHEN vec_id % 4 != 3 THEN 1 ELSE 0 END) END"
                " AS BIGINT)"
            ).alias("growth_bp"),
        )
        .orderBy("list_id")
    )


# ---- embedding_prefix_recall ------------------------------------------------
#
# Matryoshka-style truncated-dimension retrieval audit: score the
# corpus with only the FIRST 16 of 64 embedding dimensions (the
# prefix an MRL-trained encoder makes usable at 1/4 the float cost)
# and report per-query recall@5 against the registered exact
# full-dimension top-5 (knn_brute, the same grading harness
# knn_recall_report established for IVF). The prefix leg reuses the
# brute key's broadcast-queries shape — only the slice differs — so
# the report grades exactly the tradeoff a retrieval owner would
# ship: scan cost /4 vs recall lost.

_PREFIX_DIMS = 16


EMBEDDING_PREFIX_RECALL_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
exact AS (
  SELECT qid, cid FROM (
    SELECT q.vec_id AS qid, c.vec_id AS cid,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round(list_dot_product(q.v, c.v) /
                 (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 4) DESC,
               c.vec_id) AS rn
    FROM e q CROSS JOIN e c
    WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id
  ) WHERE rn <= 5
),
p AS (SELECT vec_id, v[1:{_PREFIX_DIMS}] AS pv FROM e),
approx AS (
  SELECT qid, cid FROM (
    SELECT q.vec_id AS qid, c.vec_id AS cid,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round(list_dot_product(q.pv, c.pv) /
                 (sqrt(list_dot_product(q.pv, q.pv)) * sqrt(list_dot_product(c.pv, c.pv))), 4) DESC,
               c.vec_id) AS rn
    FROM p q CROSS JOIN p c
    WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id
  ) WHERE rn <= 5
),
base AS (SELECT qid, count(*) AS k FROM exact GROUP BY qid),
inter AS (
  SELECT e.qid, count(*) AS n_hits
  FROM exact e JOIN approx a ON e.qid = a.qid AND e.cid = a.cid
  GROUP BY e.qid
)
SELECT b.qid,
       CAST(coalesce(i.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(i.n_hits, 0) * 10000 // b.k AS BIGINT) AS recall_bp
FROM base b LEFT JOIN inter i ON b.qid = i.qid
ORDER BY b.qid
"""


@query("embedding_prefix_recall", oracle=EMBEDDING_PREFIX_RECALL_ORACLE)
def embedding_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query truncated-dim recall: (qid, n_hits, recall_bp) for
    the 5 shared query vectors, recall@5 in basis points.

    Scale shape: both legs broadcast the |Q|-row query block and
    score map-side; the prefix leg reads 1/4 of the vector bytes (at
    real scale: a 16-dim column pruned from the store, i.e. a true
    I/O cut, the production MRL first-pass). The intersection is an
    equi-join on (qid, cid) over |Q|·5 rows a side."""

    e = load_table(spark, sf_dir, "embeddings")
    pre = F.slice(F.col("embedding"), 1, _PREFIX_DIMS)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), pre.alias("qe")
    )
    c = e.transform(scan_spread(spark, sf_dir, "embeddings")).select(
        F.col("vec_id").alias("cid"), pre.alias("ce")
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            F.round(cosine(F.col("qe"), F.col("ce")), 4).alias("cos_sim"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid"))
    approx = (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "cid")
    )
    exact = knn_brute(spark, sf_dir).filter(F.col("rn") <= 5).select("qid", "cid")
    inter = (
        exact.join(approx, ["qid", "cid"])
        .groupBy("qid")
        .agg(F.count("*").alias("n_hits"))
    )
    base = exact.groupBy("qid").agg(F.count("*").alias("k"))
    return (
        base.join(inter, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.expr("CAST(coalesce(n_hits, 0) * 10000 div k AS BIGINT)").alias(
                "recall_bp"
            ),
        )
        .orderBy("qid")
    )


# ---- knn_ivf_rebalance ---------------------------------------------------------

_RB_SEED_MAX = 21  # the frozen quantizer: vec_id < 21 AND vec_id % 4 != 3 -> 16 seeds


KNN_IVF_REBALANCE_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (
  SELECT vec_id AS ccid, v AS cv FROM e
  WHERE vec_id < {_RB_SEED_MAX} AND vec_id % 4 <> 3
),
asg AS (
  SELECT vec_id, ccid AS cid, v FROM (
    SELECT e.vec_id, c.ccid, e.v,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, c.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
               c.ccid) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
),
counts AS (SELECT cid, count(*) AS n_before FROM asg GROUP BY cid),
hot AS (
  SELECT cid AS hot_cid, n_before AS hot_n FROM counts
  ORDER BY n_before DESC, cid LIMIT 1
),
members AS (
  SELECT a.vec_id, a.v FROM asg a JOIN hot h ON a.cid = h.hot_cid
),
seeds AS (
  SELECT vec_id AS scid, v AS sv FROM members ORDER BY vec_id LIMIT 2
),
re_asg AS (
  SELECT vec_id, scid FROM (
    SELECT m.vec_id, s.scid,
           row_number() OVER (PARTITION BY m.vec_id
             ORDER BY list_dot_product(m.v, s.sv)
               / (sqrt(list_dot_product(m.v, m.v)) * sqrt(list_dot_product(s.sv, s.sv))) DESC,
               s.scid) AS rn
    FROM members m CROSS JOIN seeds s
  ) WHERE rn = 1
),
split AS (
  SELECT scid AS list_id, (SELECT hot_n FROM hot) AS n_before,
         count(*) AS n_after, 'split' AS status
  FROM re_asg GROUP BY scid
),
kept AS (
  SELECT cid AS list_id, n_before, n_before AS n_after, 'kept' AS status
  FROM counts WHERE cid <> (SELECT hot_cid FROM hot)
)
SELECT list_id, CAST(n_before AS BIGINT) AS n_before,
       CAST(n_after AS BIGINT) AS n_after, status
FROM (SELECT * FROM kept UNION ALL SELECT * FROM split)
ORDER BY status, list_id
"""


@query("knn_ivf_rebalance", oracle=KNN_IVF_REBALANCE_ORACLE)
def knn_ivf_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-list split — the maintenance move knn_ivf_append's growth
    report triggers: the fullest inverted list (tiebreak: lower cid)
    splits between its two lowest member vec_ids as sub-seeds; ONLY
    that list's members reassign (argmax over a broadcast 2-row
    centroid table, the registered _centroid_frame). One row per
    resulting list: (list_id, n_before, n_after, status), status in
    {'kept', 'split'}.

    Scale shape: the full assignment is the registered append path
    (broadcast 16 centroids, map-side argmax); the split touches
    O(|hot list|) rows against 2 broadcast rows — rebalancing a
    10^9-vector index costs one list's reassignment, not a retrain."""
    e = load_table(spark, sf_dir, "embeddings")
    cent = e.filter(
        (F.col("vec_id") < _RB_SEED_MAX) & (F.col("vec_id") % 4 != 3)
    ).select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    asg = _centroid_frame(e, cent).localCheckpoint(eager=True)
    counts = asg.groupBy("cid").agg(F.count("*").alias("n_before"))
    hot = (
        counts.orderBy(F.col("n_before").desc(), F.col("cid"))
        .limit(1)
        .select(F.col("cid").alias("hot_cid"), F.col("n_before").alias("hot_n"))
    )
    members = asg.join(F.broadcast(hot), F.col("cid") == F.col("hot_cid")).select(
        "vec_id", "embedding", "hot_cid", "hot_n"
    )
    seeds = (
        members.orderBy("vec_id")
        .limit(2)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    )
    re_asg = _centroid_frame(members.select("vec_id", "embedding"), seeds)
    split = (
        re_asg.groupBy(F.col("cid").alias("list_id"))
        .agg(F.count("*").cast("long").alias("n_after"))
        .crossJoin(F.broadcast(hot))
        .select(
            "list_id",
            F.col("hot_n").cast("long").alias("n_before"),
            "n_after",
            F.lit("split").alias("status"),
        )
    )
    kept = (
        counts.join(F.broadcast(hot), F.col("cid") == F.col("hot_cid"), "left_anti")
        .select(
            F.col("cid").alias("list_id"),
            F.col("n_before").cast("long").alias("n_before"),
            F.col("n_before").cast("long").alias("n_after"),
            F.lit("kept").alias("status"),
        )
    )
    return kept.unionByName(split).orderBy("status", "list_id")
