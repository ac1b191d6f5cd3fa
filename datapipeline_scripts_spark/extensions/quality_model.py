"""Learned quality model: an integer perceptron trained in-engine.

The curation gate (``n_words >= 30``) is distilled into a linear model
over surface features (signed word-count margin, stopword hits, 3-gram
repetition in basis points). Every step is integer arithmetic, so the
weight trajectory is hash-exact against the DuckDB oracle, which
unrolls the same iterations as chained CTEs.

`quality_train_perceptron` and `quality_eval_perceptron` train and
evaluate; `quality_score_inference`, `quality_score_calibration` and
`quality_margin_drift` apply the trained weights; and
`quality_dsir_agreement` crosses the model's verdict with the DSIR
importance score. The shared chain (`perceptron_features_of`,
`pe_train_sql`, `pe_weights`, `pe_score`) is also what the crawl
increment and the streaming quality gate run, so no key can fork the
features or the weights.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_scripts_spark.catalog import load_table
from datapipeline_scripts_spark.extensions.selection import DSIR_SHIFT, dsir_ctes_sql, dsir_doc_scores
from datapipeline_scripts_spark.functions.text import shingles, stopword_hits, tokens
from datapipeline_scripts_spark.registry import query


# ---- quality_train_perceptron --------------------------------------------------

_PT_ITERS = 3


def perceptron_features(
    spark: SparkSession, sf_dir: str, extra: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, y, x1, x2, x3) per document — surface features, all
    integers (doc_id rides along for the eval key's held-out split;
    the train key drops it):
    x1 = n_words − 30 (the signed margin against the curation gate's
    word floor — what makes the problem linearly separable),
    x2 = en-marker hits, x3 = 3-gram repetition in basis points;
    y = +1 iff the gate passes (n_words ≥ 30). The same proven
    constructions the gate keys use. ``extra`` appends passthrough
    document columns (the inference keys carry `source` for the
    per-source acceptance report; the train and eval keys pass
    nothing)."""
    return perceptron_features_of(
        load_table(spark, sf_dir, "documents"), extra
    )


def perceptron_features_of(
    d: DataFrame, extra: tuple[str, ...] = ()
) -> DataFrame:
    """`perceptron_features` over an arbitrary (doc_id, text, ...)
    frame — the crawl-increment flagship computes features of the
    ARRIVED (refetch-mapped) content, not the raw table; one
    expression set serves both so the keys cannot fork features."""
    toks = tokens(F.coalesce(F.col("text"), F.lit("")))
    n_words = F.size(toks)
    hits = stopword_hits(toks, ("the", "a", "of"))
    sh3 = shingles(toks, 3)
    n_sh = F.when(n_words >= 3, n_words - 2).otherwise(0)
    n_rep = F.when(
        n_words >= 3, n_words - 2 - F.size(F.array_distinct(sh3))
    ).otherwise(0)
    return d.select(
        F.col("doc_id"),
        *[F.col(c) for c in extra],
        F.when(n_words >= 30, 1).otherwise(-1).cast("long").alias("y"),
        (n_words - 30).cast("long").alias("x1"),
        hits.cast("long").alias("x2"),
        F.when(n_sh > 0, (n_rep * 10000 - (n_rep * 10000) % n_sh) / n_sh)
        .otherwise(0)
        .cast("long")
        .alias("x3"),
    )


def _perceptron_oracle() -> str:
    norm = "regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g')"
    hit = (
        "len(list_filter(toks, t -> t = 'the' OR t = 'a' OR t = 'of'))"
    )
    margins = {
        1: "0",
        2: "w1.w0 + w1.w1 * x1 + w1.w2 * x2 + w1.w3 * x3",
        3: "w2.w0 + w2.w1 * x1 + w2.w2 * x2 + w2.w3 * x3",
    }
    its = []
    for t in (1, 2, 3):
        src = "feats" if t == 1 else f"feats, w{t - 1}"
        its.append(
            f"""it{t} AS (
  SELECT count(*) AS n_mis,
         coalesce(sum(y), 0) AS d0,
         coalesce(sum(y * x1), 0) AS d1,
         coalesce(sum(y * x2), 0) AS d2,
         coalesce(sum(y * x3), 0) AS d3
  FROM {src} WHERE y * ({margins[t]}) <= 0
),
w{t} AS (
  SELECT {"0" if t == 1 else f"w{t - 1}.w0"} + it{t}.d0 AS w0,
         {"0" if t == 1 else f"w{t - 1}.w1"} + it{t}.d1 AS w1,
         {"0" if t == 1 else f"w{t - 1}.w2"} + it{t}.d2 AS w2,
         {"0" if t == 1 else f"w{t - 1}.w3"} + it{t}.d3 AS w3
  FROM it{t}{"" if t == 1 else f", w{t - 1}"}
)"""
        )
    its_sql = ",\n".join(its)
    rows = " UNION ALL ".join(
        f"SELECT CAST({t} AS INTEGER) AS iteration,"
        f" CAST((SELECT n_mis FROM it{t}) AS BIGINT) AS n_mis,"
        f" CAST(w0 AS BIGINT) AS w0, CAST(w1 AS BIGINT) AS w1,"
        f" CAST(w2 AS BIGINT) AS w2, CAST(w3 AS BIGINT) AS w3 FROM w{t}"
        for t in (1, 2, 3)
    )
    return f"""
WITH tokd AS (
  SELECT string_split({norm}, ' ') AS toks
  FROM documents
),
feats AS (
  SELECT CASE WHEN len(toks) >= 30 THEN 1 ELSE -1 END AS y,
         len(toks) - 30 AS x1,
         {hit} AS x2,
         CASE WHEN len(toks) >= 3 THEN
           ((len(toks) - 2
             - len(list_distinct(list_transform(generate_series(1, len(toks) - 2),
                   i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))))
            * 10000) // (len(toks) - 2)
         ELSE 0 END AS x3
  FROM tokd
),
{its_sql}
{rows}
ORDER BY iteration
"""


QUALITY_TRAIN_PERCEPTRON_ORACLE = _perceptron_oracle()


@query("quality_train_perceptron", oracle=QUALITY_TRAIN_PERCEPTRON_ORACLE)
def quality_train_perceptron(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-perceptron training in-engine — see the module docstring.
    Scale shape: the feature build is one scan projection
    (lineage-cut once, the compute-once/reuse-per-iteration contract
    every iterative job needs); each iteration is ONE partial-
    aggregable aggregate (the gradient is a sum), with the 1-row
    weight vector broadcast back — the exact shape distributed
    data-parallel training takes at any scale. Integer arithmetic
    keeps the trajectory hash-exact cross-engine."""
    # EAGER: a lazy localCheckpoint never engages inside the single
    # final job — the three iteration subtrees each recompute the full
    # feature scan (measured 44.8 s vs 11 s at the 10× proxy). Eager
    # pays one materialization at build time and every iteration reads
    # the cached partitions — the compute-once/reuse-per-iteration
    # contract, actually enforced.
    feats = (
        perceptron_features(spark, sf_dir)
        .drop("doc_id")
        .localCheckpoint(eager=True)
    )
    # optimization r13 (guide §5/§7.2, the pe_weights pattern): each
    # iteration's gradient aggregate runs as a plain job and its
    # single 5-long row is collected (the bounded singleton-aggregate
    # fan-in, sketches.py:270 class — O(1) rows at any corpus scale),
    # feeding the next margin as literals. The previous form chained
    # each iteration through crossJoin(broadcast(agg)) AND unioned the
    # per-iteration rows, so iteration t's union branch replayed the
    # whole prefix chain — 68 Exchanges for 3 iterations. The integer
    # trajectory is unchanged (same sums, same literal-weight
    # margins); the report becomes a 3-row literal frame.
    w = [0, 0, 0, 0]
    out: DataFrame | None = None
    for it in range(1, _PT_ITERS + 1):
        margin = F.col("y") * (
            F.lit(w[0])
            + F.lit(w[1]) * F.col("x1")
            + F.lit(w[2]) * F.col("x2")
            + F.lit(w[3]) * F.col("x3")
        )
        r = (
            feats.filter(margin <= 0)
            .agg(
                F.count("*").alias("n_mis"),
                F.coalesce(F.sum("y"), F.lit(0)).alias("d0"),
                F.coalesce(F.sum(F.col("y") * F.col("x1")), F.lit(0)).alias("d1"),
                F.coalesce(F.sum(F.col("y") * F.col("x2")), F.lit(0)).alias("d2"),
                F.coalesce(F.sum(F.col("y") * F.col("x3")), F.lit(0)).alias("d3"),
            )
            .collect()[0]
        )
        w = [w[k] + int(r[f"d{k}"]) for k in range(4)]
        row = spark.range(1).select(
            F.lit(it).alias("iteration"),
            F.lit(int(r["n_mis"])).cast("long").alias("n_mis"),
            *[F.lit(w[k]).cast("long").alias(f"w{k}") for k in range(4)],
        )
        out = row if out is None else out.unionByName(row)
    assert out is not None
    return out.orderBy("iteration")


# ---- quality_eval_perceptron --------------------------------------------------------
#
# The EVALUATION half of the in-engine training story — the
# train/test discipline every model-backed quality filter needs:
# train the batch perceptron on the EVEN doc_ids (two unrolled
# iterations — converged on this data), score the held-out ODD
# doc_ids, report the confusion matrix and integer basis-point
# accuracy. Same integer-exact machinery as quality_train_perceptron
# (shared feature builder, so the two keys cannot fork semantics);
# the DuckDB oracle unrolls the identical train CTEs and scores the
# identical held-out set.

PE_ITERS = 2


def _eval_perceptron_oracle() -> str:
    norm = "regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g')"
    hit = "len(list_filter(toks, t -> t = 'the' OR t = 'a' OR t = 'of'))"
    margins = {
        1: "0",
        2: "w1.w0 + w1.w1 * x1 + w1.w2 * x2 + w1.w3 * x3",
    }
    its = []
    for t in (1, 2):
        src = "train" if t == 1 else f"train, w{t - 1}"
        its.append(
            f"""it{t} AS (
  SELECT coalesce(sum(y), 0) AS d0,
         coalesce(sum(y * x1), 0) AS d1,
         coalesce(sum(y * x2), 0) AS d2,
         coalesce(sum(y * x3), 0) AS d3
  FROM {src} WHERE y * ({margins[t]}) <= 0
),
w{t} AS (
  SELECT {"0" if t == 1 else f"w{t - 1}.w0"} + it{t}.d0 AS w0,
         {"0" if t == 1 else f"w{t - 1}.w1"} + it{t}.d1 AS w1,
         {"0" if t == 1 else f"w{t - 1}.w2"} + it{t}.d2 AS w2,
         {"0" if t == 1 else f"w{t - 1}.w3"} + it{t}.d3 AS w3
  FROM it{t}{"" if t == 1 else f", w{t - 1}"}
)"""
        )
    its_sql = ",\n".join(its)
    return f"""
WITH tokd AS (
  SELECT doc_id, string_split({norm}, ' ') AS toks FROM documents
),
feats AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 30 THEN 1 ELSE -1 END AS y,
         len(toks) - 30 AS x1,
         {hit} AS x2,
         CASE WHEN len(toks) >= 3 THEN
           ((len(toks) - 2
             - len(list_distinct(list_transform(generate_series(1, len(toks) - 2),
                   i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))))
            * 10000) // (len(toks) - 2)
         ELSE 0 END AS x3
  FROM tokd
),
train AS (SELECT * FROM feats WHERE doc_id % 2 = 0),
test AS (SELECT * FROM feats WHERE doc_id % 2 = 1),
{its_sql},
scored AS (
  SELECT y,
         CASE WHEN w2.w0 + w2.w1 * x1 + w2.w2 * x2 + w2.w3 * x3 > 0
              THEN 1 ELSE -1 END AS pred
  FROM test, w2
)
SELECT CAST(sum(CASE WHEN y = 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(sum(CASE WHEN y = -1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(sum(CASE WHEN y = -1 AND pred = -1 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       CAST(sum(CASE WHEN y = 1 AND pred = -1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN y = pred THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT)
         AS accuracy_bp
FROM scored
"""


QUALITY_EVAL_PERCEPTRON_ORACLE = _eval_perceptron_oracle()


@query("quality_eval_perceptron", oracle=QUALITY_EVAL_PERCEPTRON_ORACLE)
def quality_eval_perceptron(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out evaluation of the in-engine perceptron — see the
    section comment above. Scale shape: training is PE_ITERS keyless
    partial-aggregable sums over the (eagerly checkpointed) train
    split; scoring is one broadcast of the 4-long weight vector and
    one confusion aggregate over the test split — no shuffle carries
    anything wider than a handful of longs."""
    feats = perceptron_features(spark, sf_dir).localCheckpoint(eager=True)
    train = feats.filter(F.col("doc_id") % 2 == 0)
    test = feats.filter(F.col("doc_id") % 2 == 1)
    # optimization r13: bounded per-iteration gradient collect (the
    # pe_weights pattern — see quality_train_perceptron's comment);
    # the trained weights reach the scoring pass as four literal longs
    # instead of a chained broadcast subtree per iteration
    w = [0, 0, 0, 0]
    for _ in range(PE_ITERS):
        margin = F.col("y") * (
            F.lit(w[0])
            + F.lit(w[1]) * F.col("x1")
            + F.lit(w[2]) * F.col("x2")
            + F.lit(w[3]) * F.col("x3")
        )
        r = (
            train.filter(margin <= 0)
            .agg(
                F.coalesce(F.sum("y"), F.lit(0)).alias("d0"),
                F.coalesce(F.sum(F.col("y") * F.col("x1")), F.lit(0)).alias("d1"),
                F.coalesce(F.sum(F.col("y") * F.col("x2")), F.lit(0)).alias("d2"),
                F.coalesce(F.sum(F.col("y") * F.col("x3")), F.lit(0)).alias("d3"),
            )
            .collect()[0]
        )
        w = [w[k] + int(r[f"d{k}"]) for k in range(4)]
    score = (
        F.lit(w[0])
        + F.lit(w[1]) * F.col("x1")
        + F.lit(w[2]) * F.col("x2")
        + F.lit(w[3]) * F.col("x3")
    )
    pred = F.when(score > 0, 1).otherwise(-1)
    scored = test.select("y", pred.alias("pred"))
    y, p = F.col("y"), F.col("pred")
    return scored.agg(
        F.sum(F.when((y == 1) & (p == 1), 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when((y == -1) & (p == 1), 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when((y == -1) & (p == -1), 1).otherwise(0)).cast("long").alias("tn"),
        F.sum(F.when((y == 1) & (p == -1), 1).otherwise(0)).cast("long").alias("fn"),
        F.count("*").cast("long").alias("n_test"),
        F.expr(
            "CAST(sum(CASE WHEN y = pred THEN 1 ELSE 0 END) * 10000"
            " div count(*) AS BIGINT)"
        ).alias("accuracy_bp"),
    )


# ---- shared perceptron-training chain ---------------------------------------
#
# The registered quality_eval_perceptron's two-iteration train loop,
# factored so the inference/calibration keys run the IDENTICAL
# weight trajectory (same PE_ITERS, same feature builder, same
# update rule). The oracle twin below unrolls the same CTEs.

PE_FEATS_SQL = """
tokd AS (
  SELECT doc_id, source,
         string_split(regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
feats AS (
  SELECT doc_id, source,
         CASE WHEN len(toks) >= 30 THEN 1 ELSE -1 END AS y,
         len(toks) - 30 AS x1,
         len(list_filter(toks, t -> t = 'the' OR t = 'a' OR t = 'of')) AS x2,
         CASE WHEN len(toks) >= 3 THEN
           ((len(toks) - 2
             - len(list_distinct(list_transform(generate_series(1, len(toks) - 2),
                   i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))))
            * 10000) // (len(toks) - 2)
         ELSE 0 END AS x3
  FROM tokd
),
train AS (SELECT * FROM feats WHERE doc_id % 2 = 0)
"""


def pe_train_sql() -> str:
    """The registered eval key's two unrolled train iterations as
    chained CTEs (w{PE_ITERS} holds the final weights)."""
    margins = {1: "0"}
    for t in range(2, PE_ITERS + 1):
        p = t - 1
        margins[t] = f"w{p}.w0 + w{p}.w1 * x1 + w{p}.w2 * x2 + w{p}.w3 * x3"
    its = []
    for t in range(1, PE_ITERS + 1):
        src = "train" if t == 1 else f"train, w{t - 1}"
        its.append(
            f"""it{t} AS (
  SELECT coalesce(sum(y), 0) AS d0,
         coalesce(sum(y * x1), 0) AS d1,
         coalesce(sum(y * x2), 0) AS d2,
         coalesce(sum(y * x3), 0) AS d3
  FROM {src} WHERE y * ({margins[t]}) <= 0
),
w{t} AS (
  SELECT {"0" if t == 1 else f"w{t - 1}.w0"} + it{t}.d0 AS w0,
         {"0" if t == 1 else f"w{t - 1}.w1"} + it{t}.d1 AS w1,
         {"0" if t == 1 else f"w{t - 1}.w2"} + it{t}.d2 AS w2,
         {"0" if t == 1 else f"w{t - 1}.w3"} + it{t}.d3 AS w3
  FROM it{t}{"" if t == 1 else f", w{t - 1}"}
)"""
        )
    return ",\n".join(its)


def pe_weights(spark: SparkSession, train: DataFrame) -> DataFrame:
    """Run the registered eval key's PE_ITERS-iteration batch
    perceptron over `train` (columns y, x1..x3); returns the 1-row
    (w0..w3) weight frame. Each iteration is one keyless
    partial-aggregable sum whose 1-row gradient is collected to the
    driver (the bounded singleton-aggregate fan-in, the
    sketches.py:270 class) and fed back as literals.

    Optimization round 13 (guide §5/§7.2): the previous form chained
    each iteration's weights back through crossJoin(broadcast(agg)),
    so the final weight frame's plan nested one broadcast-exchange
    subtree per iteration and every consumer paid PE_ITERS chained
    broadcast builds plus that plan's construction cost (measured
    3.97 s of docs_stream_quality_gate's 5.75 s at sf0.1 just to
    produce w). Collecting the 4-long gradient row per iteration runs
    the same aggregates as plain jobs and makes the weight frame a
    literal row — the driver holds four longs, never data, at any
    scale. The arithmetic is unchanged (same integer sums, same
    literal-weight margins), so the weight trajectory is
    bit-identical — proven by the unchanged oracle hashes of all six
    consuming keys."""
    w = [0, 0, 0, 0]
    for _ in range(PE_ITERS):
        margin = F.col("y") * (
            F.lit(w[0])
            + F.lit(w[1]) * F.col("x1")
            + F.lit(w[2]) * F.col("x2")
            + F.lit(w[3]) * F.col("x3")
        )
        row = (
            train.filter(margin <= 0)
            .agg(
                F.coalesce(F.sum("y"), F.lit(0)).alias("d0"),
                F.coalesce(F.sum(F.col("y") * F.col("x1")), F.lit(0)).alias("d1"),
                F.coalesce(F.sum(F.col("y") * F.col("x2")), F.lit(0)).alias("d2"),
                F.coalesce(F.sum(F.col("y") * F.col("x3")), F.lit(0)).alias("d3"),
            )
            .collect()[0]
        )
        w = [w[k] + int(row[f"d{k}"]) for k in range(4)]
    return spark.range(1).select(
        *[F.lit(w[k]).cast("long").alias(f"w{k}") for k in range(4)]
    )


def pe_score():
    """The margin column (built lazily — Column construction needs an
    active session)."""
    return (
        F.col("w0")
        + F.col("w1") * F.col("x1")
        + F.col("w2") * F.col("x2")
        + F.col("w3") * F.col("x3")
    )


PE_SCORE_SQL = "w0 + w1 * x1 + w2 * x2 + w3 * x3"


# ---- quality_score_inference ------------------------------------------------


QUALITY_SCORE_INFERENCE_ORACLE = f"""
WITH {PE_FEATS_SQL},
{pe_train_sql()},
scored AS (
  SELECT f.source, {PE_SCORE_SQL} AS margin
  FROM feats f CROSS JOIN w{PE_ITERS}
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN margin > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_accept,
       CAST(sum(CASE WHEN margin > 0 THEN 1 ELSE 0 END) * 10000 // count(*)
            AS BIGINT) AS accept_bp,
       CAST(bit_xor(margin) AS BIGINT) AS margin_xor
FROM scored
GROUP BY source
ORDER BY source
"""


@query("quality_score_inference", oracle=QUALITY_SCORE_INFERENCE_ORACLE)
def quality_score_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-weights corpus scoring — the inference pass of the
    in-engine quality classifier; one row per source:
    (source, n_docs, n_accept, accept_bp, margin_xor).

    Scale shape: training touches only the sampled split (two keyless
    partial-aggregable sums — gradients are sums); the corpus pass is
    the part that sees 100 TB and it is embarrassingly parallel: the
    model is FOUR LONGS broadcast to every executor, the margin is a
    codegen'd projection, and the per-source report is a partial-
    aggregable groupBy — the only shuffle carries |sources| rows of
    counters. margin_xor is bit_xor, the 64-bit-closed order-
    independent checksum (docs/SCALE.md round-10 lesson: SUMs of
    hash-sized ints overflow divergently cross-engine)."""
    feats = perceptron_features(spark, sf_dir, extra=("source",)).localCheckpoint(
        eager=True
    )
    train = feats.filter(F.col("doc_id") % 2 == 0).drop("source")
    w = pe_weights(spark, train)
    scored = feats.crossJoin(F.broadcast(w)).select(
        "source", pe_score().alias("margin")
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("margin") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_accept"),
            F.expr(
                "CAST(sum(CASE WHEN margin > 0 THEN 1 ELSE 0 END) * 10000"
                " div count(*) AS BIGINT)"
            ).alias("accept_bp"),
            F.expr("bit_xor(margin)").cast("long").alias("margin_xor"),
        )
        .orderBy("source")
    )


# ---- quality_score_calibration ----------------------------------------------
#
# Reliability of the trained margin on the HELD-OUT split: margins
# bucket into DATA-SIZED bins (width GREATEST(1, max|margin| div
# _CAL_CLAMP + 1), clamped to ±_CAL_CLAMP) and each bin reports how
# often the gate label is actually positive. Monotone pos_bp across
# bins is what justifies thresholding the margin. The width derives
# from the scored population on BOTH engines (a fixed width saturated
# into the clamp bins at the 100× proxy — perceptron weights grow
# linearly in training-set size, so any constant is wrong at some
# scale: the bloom-M lesson, VERDICT r10). Bin arithmetic is floor of
# an exact double quotient of two BIGINTs — exact for |margin| < 2^52
# because an integer ratio within one ulp of an integer IS that
# integer.

_CAL_CLAMP = 5


def _cal_bin_width(scored: DataFrame) -> DataFrame:
    """1-row (bin_w) frame: GREATEST(1, max|margin| div clamp + 1) —
    spans the observed margin range across ~2·clamp bins at any
    corpus size."""
    return scored.agg(
        F.greatest(
            F.lit(1),
            (F.max(F.abs(F.col("margin"))) / F.lit(_CAL_CLAMP)).cast("long") + 1,
        ).alias("bin_w")
    )


_CAL_BIN_W_SQL = (
    f"SELECT greatest(1, max(abs(margin)) // {_CAL_CLAMP} + 1) AS bin_w FROM scored"
)


def _cal_bin_col():
    c = F.lit(_CAL_CLAMP)
    return (
        F.greatest(
            -c, F.least(c, F.floor(F.col("margin") / F.col("bin_w").cast("double")))
        )
        .cast("long")
        .alias("bin")
    )


_CAL_BIN_SQL = (
    f"greatest(-{_CAL_CLAMP}, least({_CAL_CLAMP},"
    f" CAST(floor(margin / CAST(bin_w AS DOUBLE)) AS BIGINT)))"
)


QUALITY_SCORE_CALIBRATION_ORACLE = f"""
WITH {PE_FEATS_SQL},
{pe_train_sql()},
test AS (SELECT * FROM feats WHERE doc_id % 2 = 1),
scored AS (
  SELECT y, {PE_SCORE_SQL} AS margin
  FROM test CROSS JOIN w{PE_ITERS}
),
bw AS ({_CAL_BIN_W_SQL}),
binned AS (
  SELECT y, {_CAL_BIN_SQL} AS bin FROM scored CROSS JOIN bw
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) * 10000 // count(*)
            AS BIGINT) AS pos_bp
FROM binned
GROUP BY bin
ORDER BY bin
"""


@query("quality_score_calibration", oracle=QUALITY_SCORE_CALIBRATION_ORACLE)
def quality_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out calibration curve; one row per non-empty margin bin:
    (bin, n, n_pos, pos_bp). Scale shape: same broadcast-weights
    pass as inference, then a 1-row width aggregate broadcast back
    and one partial-aggregable groupBy over ≤ (2·_CAL_CLAMP+1) bins
    — the exchange carries 11 counter rows."""
    feats = perceptron_features(spark, sf_dir).localCheckpoint(eager=True)
    train = feats.filter(F.col("doc_id") % 2 == 0)
    test = feats.filter(F.col("doc_id") % 2 == 1)
    w = pe_weights(spark, train)
    scored = test.crossJoin(F.broadcast(w)).select(
        "y", pe_score().alias("margin")
    )
    binned = scored.crossJoin(F.broadcast(_cal_bin_width(scored))).select(
        "y", _cal_bin_col()
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(F.col("y") == 1, 1).otherwise(0)).cast("long").alias("n_pos"),
            F.expr(
                "CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) * 10000"
                " div count(*) AS BIGINT)"
            ).alias("pos_bp"),
        )
        .orderBy("bin")
    )


# ---- quality_margin_drift ---------------------------------------------------
#
# Distribution drift of the model margin between two crawls — the
# monitoring report that tells a pipeline owner when the frozen
# quality model has gone stale: crawl A (doc_id % 3 == 0) vs crawl B
# (doc_id % 3 == 1) margin histograms on the calibration key's EXACT
# bin machinery (shared _cal_bin_width/_cal_bin_col — data-sized
# width derived here from the two crawls' union, so one scheme bins
# both crawls and neither saturates at scale), per-bin shares in
# basis points and the absolute share drift. All-integer L1-style
# drift — no float divergence surface (a PSI-style log-ratio would
# hang cross-engine exactness on libm).


QUALITY_MARGIN_DRIFT_ORACLE = f"""
WITH {PE_FEATS_SQL},
{pe_train_sql()},
scored AS (
  SELECT doc_id % 3 AS crawl, {PE_SCORE_SQL} AS margin
  FROM feats CROSS JOIN w{PE_ITERS}
  WHERE doc_id % 3 < 2
),
bw AS ({_CAL_BIN_W_SQL}),
binned AS (
  SELECT crawl, {_CAL_BIN_SQL} AS bin FROM scored CROSS JOIN bw
),
per_bin AS (
  SELECT bin,
         sum(CASE WHEN crawl = 0 THEN 1 ELSE 0 END) AS n_a,
         sum(CASE WHEN crawl = 1 THEN 1 ELSE 0 END) AS n_b
  FROM binned GROUP BY bin
),
totals AS (SELECT sum(n_a) AS tot_a, sum(n_b) AS tot_b FROM per_bin)
SELECT bin,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(n_a * 10000 // tot_a AS BIGINT) AS share_a_bp,
       CAST(n_b * 10000 // tot_b AS BIGINT) AS share_b_bp,
       CAST(abs(n_a * 10000 // tot_a - n_b * 10000 // tot_b) AS BIGINT) AS drift_bp
FROM per_bin CROSS JOIN totals
ORDER BY bin
"""


@query("quality_margin_drift", oracle=QUALITY_MARGIN_DRIFT_ORACLE)
def quality_margin_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bin margin-distribution drift between two crawls:
    (bin, n_a, n_b, share_a_bp, share_b_bp, drift_bp).

    Scale shape: one broadcast-weights scoring pass over the two
    crawls' union, one partial-aggregable groupBy over ≤ 11 bins,
    and the totals ride in as a broadcast 1-row aggregate — the
    exchange carries counters only."""
    feats = perceptron_features(spark, sf_dir).localCheckpoint(eager=True)
    train = feats.filter(F.col("doc_id") % 2 == 0)
    w = pe_weights(spark, train)
    scored = (
        feats.filter(F.col("doc_id") % 3 < 2)
        .crossJoin(F.broadcast(w))
        .select((F.col("doc_id") % 3).alias("crawl"), pe_score().alias("margin"))
    )
    binned = scored.crossJoin(F.broadcast(_cal_bin_width(scored))).select(
        "crawl", _cal_bin_col()
    )
    per_bin = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("crawl") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("crawl") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    totals = per_bin.agg(
        F.sum("n_a").alias("tot_a"), F.sum("n_b").alias("tot_b")
    )
    share_a = F.expr("CAST(n_a * 10000 div tot_a AS BIGINT)")
    share_b = F.expr("CAST(n_b * 10000 div tot_b AS BIGINT)")
    return (
        per_bin.crossJoin(F.broadcast(totals))
        .select(
            "bin",
            "n_a",
            "n_b",
            share_a.alias("share_a_bp"),
            share_b.alias("share_b_bp"),
            F.abs(share_a - share_b).cast("long").alias("drift_bp"),
        )
        .orderBy("bin")
    )


# ---- quality_dsir_agreement ----------------------------------------------------


def _agreement_oracle() -> str:

    return f"""
WITH {dsir_ctes_sql()},
doc_s AS (
  SELECT doc_id, (sum(l.lam + {DSIR_SHIFT}) * 100) // count(*) AS s_shift
  FROM grams g JOIN lam l USING (b)
  GROUP BY doc_id
),
scored AS (
  SELECT d.doc_id, coalesce(s.s_shift, {100 * DSIR_SHIFT}) AS s_shift
  FROM documents d LEFT JOIN doc_s s USING (doc_id)
),
mean_s AS (SELECT sum(s_shift) // count(*) AS m FROM scored),
dsir AS (
  SELECT doc_id, CASE WHEN s_shift > m THEN 1 ELSE 0 END AS dsir_hi
  FROM scored CROSS JOIN mean_s
),
{PE_FEATS_SQL},
{pe_train_sql()},
margins AS (
  SELECT f.doc_id, {PE_SCORE_SQL} AS margin
  FROM feats f CROSS JOIN w{PE_ITERS}
)
SELECT d.dsir_hi,
       CASE WHEN m.margin > 0 THEN 1 ELSE 0 END AS perc_accept,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(m.margin) AS BIGINT) AS sum_margin
FROM margins m JOIN dsir d USING (doc_id)
GROUP BY 1, 2
ORDER BY 1, 2
"""


QUALITY_DSIR_AGREEMENT_ORACLE = _agreement_oracle()


@query("quality_dsir_agreement", oracle=QUALITY_DSIR_AGREEMENT_ORACLE)
def quality_dsir_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-validation of the two in-engine quality signals: the
    registered perceptron's margin > 0 acceptance vs the DSIR
    above-mean score, as a 2x2 confusion report: (dsir_hi,
    perc_accept, n_docs, sum_margin). The perceptron chain is
    this module's and the DSIR helpers are extensions/selection.py's,
    so neither can fork.

    Scale shape: both models are broadcast scalars/tables; the join
    keys on doc_id between two map-side-scored projections; the
    report is 4 counters."""

    # EAGER feats checkpoint (optimization r13, guide §5 compute-once):
    # the frame feeds the PE_ITERS gradient jobs inside pe_weights
    # AND the margins scan below — without it each consumer re-ran the
    # corpus scan + the x3 shingle-distinct build. w is a literal
    # 1-row frame now (see pe_weights), so it needs no checkpoint.
    feats = perceptron_features(spark, sf_dir).localCheckpoint(eager=True)
    train = feats.filter(F.col("doc_id") % 2 == 0)
    w = pe_weights(spark, train).withColumn("jk", F.lit(1))
    margins = (
        feats.withColumn("jk", F.lit(1))
        .join(F.broadcast(w), "jk")
        .select("doc_id", pe_score().alias("margin"))
    )
    scored = dsir_doc_scores(spark, sf_dir)
    mean_s = scored.agg(F.expr("sum(s_shift) div count(*)").alias("m"))
    dsir = scored.crossJoin(F.broadcast(mean_s)).select(
        "doc_id", F.when(F.col("s_shift") > F.col("m"), 1).otherwise(0).alias("dsir_hi")
    )
    return (
        margins.join(dsir, "doc_id")
        .groupBy(
            "dsir_hi",
            F.when(F.col("margin") > 0, 1).otherwise(0).alias("perc_accept"),
        )
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("margin").cast("long").alias("sum_margin"),
        )
        .orderBy("dsir_hi", "perc_accept")
    )
