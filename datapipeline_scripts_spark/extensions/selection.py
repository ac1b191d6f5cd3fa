"""Data selection by importance resampling (DSIR, Xie et al.
2302.03169).

A hashed-bigram model (``DSIR_B`` buckets) scores each document by the
log likelihood ratio of a target slice (``lang = 'en'``) against the
raw corpus, all in integer arithmetic so the DuckDB twin reproduces it
exactly. `corpus_dsir_weights` is the model, `corpus_dsir_resample`
the resampled copy counts, and `corpus_selection_pipeline` runs
substring dedup, excision and DSIR as one funnel. The model-building
helpers are shared with `quality_dsir_agreement` and the streaming
DSIR gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_scripts_spark.catalog import load_table
from datapipeline_scripts_spark.extensions.dedup import (
    NORM_SQL,
    SS_INJ,
    dup_gram_occurrences_of_toks,
    excise_ctes_sql,
    excise_of,
    span_ctes_sql,
)
from datapipeline_scripts_spark.functions.text import md5_48, md5_48_sql, ngram_join, normalize_text, tokens
from datapipeline_scripts_spark.registry import query


# ---- corpus_dsir_weights / corpus_dsir_resample -------------------------------

DSIR_B = 1024  # hashed bigram feature buckets
_DSIR_SCALE = 1 << 20
DSIR_SHIFT = 32  # lam is bounded in [-10, 20]; shift keeps division non-negative
_DSIR_SLOPE = 400  # bp of weight per centi-lambda of score deviation


def dsir_grams_of(d: DataFrame) -> DataFrame:
    """`_dsir_grams` over an arbitrary (doc_id, lang, text) frame —
    the selection-pipeline composite fits the model on the dedup
    SURVIVORS, not the raw table; one expression set serves both so
    the keys cannot fork features.

    Optimization r14 (guide §2.3 — shuffle/materialize fewer bytes):
    the per-occurrence rows are (doc_id, is_t, b) — three ints. The
    r13 form carried lang AND source strings on every bigram
    occurrence through the eager checkpoint every consumer
    materializes, though no consumer ever read them from the gram
    rows (the model uses is_t/b, the per-doc score joins back to the
    document frame for lang/n_chars). At 100 TB the gram table is the
    corpus-token-sized intermediate; two strings per row were most of
    its bytes."""
    t = d.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_t"),
        tokens(F.col("text")).alias("toks"),
    )
    g = t.filter(F.size("toks") >= 2).select(
        "doc_id",
        "is_t",
        F.explode(ngram_join(F.col("toks"), 2)).alias("g"),
    )
    return g.select("doc_id", "is_t", (md5_48(F.col("g")) % DSIR_B).alias("b"))


def _dsir_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, is_t, b): one row per bigram occurrence, bucketed
    md5_48 % B; is_t marks the target (lang='en') slice."""
    return dsir_grams_of(load_table(spark, sf_dir, "documents"))


def _dsir_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(b, t_occ, r_occ, lam): integer log2 likelihood ratio of
    add-one-smoothed target vs raw bucket shares. The ratio is
    computed as (num * 1024) div den with num/den the 2^20-scaled
    quotient shares (each <= 2^20, so the scaled numerator <= 2^30);
    the raw products (t_occ + 1) * 2^20 stay inside BIGINT for
    per-bucket occurrence counts up to ~2^43, and lam is bounded in
    [-10, 20] by construction."""
    return dsir_lambda_of(_dsir_grams(spark, sf_dir))


def dsir_lambda_of(g: DataFrame) -> DataFrame:
    """`_dsir_lambda` over an arbitrary grams frame (the shared-
    expression contract; see dsir_grams_of)."""
    # EAGER: per feeds both the totals scalar and the lambda rows —
    # without the checkpoint the corpus scan + bigram hash runs twice.
    # <= B=1024 rows, trivially materialized.
    per = (
        g.groupBy("b")
        .agg(
            F.count("*").cast("long").alias("r_occ"),
            F.sum("is_t").cast("long").alias("t_occ"),
        )
        .localCheckpoint(eager=True)
    )
    tot = per.agg(F.sum("r_occ").alias("R"), F.sum("t_occ").alias("T"))
    return per.crossJoin(F.broadcast(tot)).select(
        "b",
        "t_occ",
        "r_occ",
        F.expr(
            f"""
          CAST(length(bin(greatest(1,
            (((t_occ + 1) * {_DSIR_SCALE} div (T + {DSIR_B})) * 1024)
            div greatest(1, (r_occ + 1) * {_DSIR_SCALE} div (R + {DSIR_B}))
          ))) - 1 - 10 AS BIGINT)
        """
        ).alias("lam"),
    )


def dsir_ctes_sql(src: str = "documents", p: str = "") -> str:
    """The model-build CTE chain over `src` (a table or CTE name with
    documents' columns) — parameterized so the selection-pipeline
    oracle can fit the model on the dedup survivors; `p` prefixes the
    CTE names so the chain composes with the span CTEs (which also
    define tok/grams) in one oracle."""
    bigram = "concat(toks[pos + 1], ' ', toks[pos + 2])"
    return f"""
{p}tok AS (
  SELECT doc_id, lang, source, n_chars, toks, len(toks) AS n_words,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t
  FROM (SELECT doc_id, lang, source, n_chars, string_split({NORM_SQL}, ' ') AS toks
        FROM {src})
),
{p}grams AS (
  SELECT doc_id, lang, source, is_t, ({md5_48_sql(bigram)}) % {DSIR_B} AS b
  FROM (SELECT doc_id, lang, source, is_t, toks, unnest(range(n_words - 1)) AS pos
        FROM {p}tok WHERE n_words >= 2)
),
{p}per AS (
  SELECT b, CAST(count(*) AS BIGINT) AS r_occ,
         CAST(sum(is_t) AS BIGINT) AS t_occ
  FROM {p}grams GROUP BY b
),
{p}tot AS (SELECT sum(r_occ) AS R, sum(t_occ) AS T FROM {p}per),
{p}lam AS (
  SELECT b, t_occ, r_occ,
         CAST(length(bin(greatest(1,
           (((t_occ + 1) * {_DSIR_SCALE} // (T + {DSIR_B})) * 1024)
           // greatest(1, (r_occ + 1) * {_DSIR_SCALE} // (R + {DSIR_B}))
         ))) - 1 - 10 AS BIGINT) AS lam
  FROM {p}per CROSS JOIN {p}tot
)
"""


CORPUS_DSIR_WEIGHTS_ORACLE = (
    f"WITH {dsir_ctes_sql()} SELECT b, t_occ, r_occ, lam FROM lam ORDER BY b"
)


@query("corpus_dsir_weights", oracle=CORPUS_DSIR_WEIGHTS_ORACLE)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR importance model itself (Xie et al. 2302.03169): one
    row per occupied hash bucket, (b, t_occ, r_occ, lam).

    Scale shape: the model build is ONE partial-aggregable groupBy
    over <= B=1024 buckets — at 100 TB the map side collapses every
    partition to 1024 counters before the exchange, and the model
    that ships to scoring is a 1024-row broadcast."""
    return _dsir_lambda(spark, sf_dir).orderBy("b")


def dsir_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_chars, s_shift): occurrence-weighted mean
    lambda per doc, on the +{shift} shifted value so the integer
    division never sees a negative operand (Spark div truncates
    toward zero, DuckDB // floors — they agree only on
    non-negatives).

    Delegates to dsir_doc_scores_of (ADVICE r12): one code path, so
    the grams frame is built ONCE per run and the raw-corpus and
    survivors-corpus scorers cannot drift."""
    return dsir_doc_scores_of(load_table(spark, sf_dir, "documents"))


def dsir_resample_tail_sql(p: str = "", doc_src: str = "documents") -> str:
    """The doc-score -> copies chain shared by the resample oracle,
    the uplift test, and (prefixed, over the dedup survivors)
    the selection-pipeline composite."""
    u = f"({md5_48_sql('CAST(doc_id AS VARCHAR)')}) % 10000"
    w = "least(30000, greatest(0, 10000 + (s_shift - m) * {slope}))".format(
        slope=_DSIR_SLOPE
    )
    return f"""
{p}doc_s AS (
  SELECT doc_id, (sum(l.lam + {DSIR_SHIFT}) * 100) // count(*) AS s_shift
  FROM {p}grams g JOIN {p}lam l USING (b)
  GROUP BY doc_id
),
{p}scored AS (
  SELECT d.doc_id, d.lang, d.n_chars,
         coalesce(s.s_shift, {100 * DSIR_SHIFT}) AS s_shift
  FROM {doc_src} d LEFT JOIN {p}doc_s s USING (doc_id)
),
{p}mean_s AS (SELECT sum(s_shift) // count(*) AS m FROM {p}scored),
{p}drawn AS (
  SELECT doc_id, lang, n_chars, s_shift - m AS dev,
         {w} // 10000
           + CASE WHEN {u} < {w} % 10000 THEN 1 ELSE 0 END AS n_copies
  FROM {p}scored CROSS JOIN {p}mean_s
)
"""


CORPUS_DSIR_RESAMPLE_ORACLE = f"""
WITH {dsir_ctes_sql()},
{dsir_resample_tail_sql()}
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_copies > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_drawn,
       CAST(sum(n_copies) AS BIGINT) AS total_copies,
       CAST(sum(n_chars * n_copies) AS BIGINT) AS chars_out,
       CAST(sum(dev) AS BIGINT) AS sum_dev
FROM drawn GROUP BY lang ORDER BY lang
"""


@query("corpus_dsir_resample", oracle=CORPUS_DSIR_RESAMPLE_ORACLE)
def corpus_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic importance resampling from the DSIR scores; one
    row per lang: (lang, n_docs, n_drawn, total_copies, chars_out,
    sum_dev). Weight = 10000 + (s_shift - corpus mean) * slope bp,
    clamped to [0, 30000]; copies = guaranteed part + hash-Bernoulli
    fractional part (corpus_sample_weighted's draw — never rand()).

    Scale shape: the model and the scalar mean broadcast; scoring and
    the draw are codegen'd projections; the only shuffles are the
    B-bucket model build and the |langs|-group report."""
    scored = dsir_doc_scores(spark, sf_dir)
    mean_s = scored.agg(F.expr("sum(s_shift) div count(*)").alias("m"))
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10).cast(
            "long"
        )
        % 10000
    )
    w_bp = F.least(
        F.lit(30000),
        F.greatest(F.lit(0), F.lit(10000) + (F.col("s_shift") - F.col("m")) * _DSIR_SLOPE),
    )
    drawn = (
        scored.crossJoin(F.broadcast(mean_s))
        .withColumn("dev", F.col("s_shift") - F.col("m"))
        .withColumn("w_bp", w_bp)
        .withColumn(
            "n_copies",
            F.expr("w_bp div 10000")
            + F.when(u < F.col("w_bp") % 10000, 1).otherwise(0),
        )
    )
    return (
        drawn.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("n_copies") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_drawn"),
            F.sum("n_copies").cast("long").alias("total_copies"),
            F.sum(F.col("n_chars") * F.col("n_copies")).cast("long").alias("chars_out"),
            F.sum("dev").cast("long").alias("sum_dev"),
        )
        .orderBy("lang")
    )


# ---- corpus_selection_pipeline -------------------------------------------------

_SEL_KEEP_BP = 5000  # survive the dedup gate iff less than half duplicated


def dsir_doc_scores_of(d: DataFrame) -> DataFrame:
    """`dsir_doc_scores` over an arbitrary (doc_id, lang, source,
    text, n_chars) frame — the model is fitted on THAT frame (the
    composite fits on the dedup survivors, the production recipe).

    EAGER: the grams frame feeds BOTH the lambda model build and the
    scoring join — without the checkpoint the corpus scan + tokenize
    + md5 runs twice per consuming key (ADVICE r12). The rows are
    narrow (ids + one bucket int), the compute-once contract the
    module's other checkpoints follow."""
    g = dsir_grams_of(d).localCheckpoint(eager=True)
    lam = dsir_lambda_of(g).select("b", "lam").localCheckpoint(eager=True)
    doc_s = (
        g.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.col("lam") + DSIR_SHIFT).alias("lam_sum"),
        )
        .select("doc_id", F.expr("(lam_sum * 100) div n_grams").alias("s_shift"))
    )
    return d.join(doc_s, "doc_id", "left").select(
        "doc_id",
        "lang",
        "n_chars",
        F.coalesce("s_shift", F.lit(100 * DSIR_SHIFT)).alias("s_shift"),
    )


def _sel_fused_toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE documents scan + ONE tokenize for the whole selection
    composite (optimization r14, guide §2.1 compute-once): (doc_id,
    lang, source, n_chars, n_inj, toks), eager-checkpointed, where
    `toks` is split(body, ' ') of the excise chain's injected body
    (_span_bodies' exact construction) and `n_inj` the injected
    predecessor-prefix token count (0 when no injection fired).

    Equivalence contract: for a single-char separator,
    split(a || ' ' || b) == split(a) ++ split(b) for ALL strings a, b
    (including empties — split preserves empty pieces), so
    slice(toks, n_inj + 1, size(toks) - n_inj) IS split(norm, ' '),
    the non-injected token array the DSIR bigram stream is defined
    over. test_sel_fused_toks_identities pins both identities against
    _span_bodies / tokens(text) on fixture data; the unchanged oracle
    hashes of the composite prove the funnel end-to-end."""
    d = load_table(spark, sf_dir, "documents")
    safe_text = F.coalesce(F.col("text"), F.lit(""))
    prev = d.select(
        (F.col("doc_id") + 1).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(F.split(normalize_text(safe_text), " "), 1, SS_INJ)
        ).alias("inj"),
    )
    base = d.select(
        "doc_id", "lang", "source", "n_chars", normalize_text(safe_text).alias("norm")
    )
    injected = (F.col("doc_id") % 9 == 5) & F.col("inj").isNotNull()
    body = F.when(injected, F.concat_ws(" ", F.col("inj"), F.col("norm"))).otherwise(
        F.col("norm")
    )
    n_inj = F.when(injected, F.size(F.split(F.col("inj"), " "))).otherwise(F.lit(0))
    return (
        base.join(prev, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            n_inj.cast("int").alias("n_inj"),
            F.split(body, " ").alias("toks"),
        )
        .localCheckpoint(eager=True)
    )


def _dsir_doc_scores_of_toks(surv: DataFrame) -> DataFrame:
    """`dsir_doc_scores_of` over a pre-tokenized (doc_id, lang,
    n_chars, ntoks) frame — the composite's fused path (optimization
    r14). Same bigram stream (ngram_join over the identical token
    array), same lambda model (dsir_lambda_of), same scoring
    arithmetic; the gram checkpoint is narrowed to (doc_id, is_t, b) —
    lang/source never ride the per-occurrence rows (guide §2.3), they
    rejoin at the per-doc score."""
    g = (
        surv.filter(F.size("ntoks") >= 2)
        .select(
            "doc_id",
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_t"),
            F.explode(ngram_join(F.col("ntoks"), 2)).alias("g"),
        )
        .select("doc_id", "is_t", (md5_48(F.col("g")) % DSIR_B).alias("b"))
        .localCheckpoint(eager=True)
    )
    lam = dsir_lambda_of(g).select("b", "lam").localCheckpoint(eager=True)
    doc_s = (
        g.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.col("lam") + DSIR_SHIFT).alias("lam_sum"),
        )
        .select("doc_id", F.expr("(lam_sum * 100) div n_grams").alias("s_shift"))
    )
    return surv.join(doc_s, "doc_id", "left").select(
        "doc_id",
        "lang",
        "n_chars",
        F.coalesce("s_shift", F.lit(100 * DSIR_SHIFT)).alias("s_shift"),
    )


CORPUS_SELECTION_PIPELINE_ORACLE = f"""
WITH {span_ctes_sql()},
{excise_ctes_sql()},
survivors AS (
  SELECT d.doc_id, d.lang, d.source, d.text, d.n_chars
  FROM documents d JOIN excise e USING (doc_id)
  WHERE e.keep_bp >= {_SEL_KEEP_BP}
),
{dsir_ctes_sql(src="survivors", p="d_")},
{dsir_resample_tail_sql(p="d_", doc_src="survivors")},
rep AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
         CAST(sum(CASE WHEN n_copies > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_drawn,
         CAST(sum(n_copies) AS BIGINT) AS total_copies,
         CAST(sum(n_chars * n_copies) AS BIGINT) AS chars_out
  FROM d_drawn GROUP BY lang
),
arrived AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_arrived FROM documents GROUP BY lang)
SELECT a.lang, a.n_arrived,
       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(coalesce(r.n_drawn, 0) AS BIGINT) AS n_drawn,
       CAST(coalesce(r.total_copies, 0) AS BIGINT) AS total_copies,
       CAST(coalesce(r.chars_out, 0) AS BIGINT) AS chars_out
FROM arrived a LEFT JOIN rep r USING (lang)
ORDER BY a.lang
"""


@query("corpus_selection_pipeline", oracle=CORPUS_SELECTION_PIPELINE_ORACLE)
def corpus_selection_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-recipe composite — the selection funnel a pretraining
    run executes end-to-end: exact-substring dedup gate (drop docs
    more than half duplicated, dedup_substring_excise's accounting) →
    DSIR model FITTED ON THE SURVIVORS (the production order: dedup
    first, or duplicated text dominates the importance model) →
    deterministic importance resample. One row per lang: (lang,
    n_arrived, n_kept, n_drawn, total_copies, chars_out).

    Every stage reuses its standalone key's machinery by import
    (dup_gram_occurrences_of_toks / excise_of, dsir_lambda_of, the
    corpus_sample_weighted draw), so the funnel cannot fork semantics
    from the keys that prove each stage.

    Optimization r14 (guide §2.1 — don't compute things twice): the
    r13 form tokenized the corpus TWICE (the excise chain split the
    injected bodies; the DSIR fit re-scanned parquet and re-normalized
    the survivors' text) and checkpointed the survivors' full text.
    The fused form tokenizes ONCE (_sel_fused_toks), derives the DSIR
    token array by slicing off the injection prefix, and checkpoints
    the narrow keep_ids roster instead of the survivor text — one
    corpus scan, one normalize+split, for the whole funnel.

    Scale shape: the dedup gate is the excise key's linear
    canonical-occurrence pass reduced to a doc_id roster join; the
    DSIR fit/score is the B=1024-counter model over survivors; the
    report is |langs| counters. Nothing here exceeds the standalone
    keys' audited shapes."""
    fused = _sel_fused_toks(spark, sf_dir)
    ntok = fused.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
    dup = dup_gram_occurrences_of_toks(fused.select("doc_id", "toks"))
    # EAGER: the roster feeds the survivor join in BOTH the bigram
    # checkpoint job and the final report job; it is |survivors| longs
    # (narrow at any scale), and checkpointing it keeps the whole
    # excise chain from re-running in the final job — the slot the r13
    # form spent a full-text survivors checkpoint on.
    keep_ids = (
        excise_of(ntok, dup)
        .filter(F.col("keep_bp") >= _SEL_KEEP_BP)
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    survivors = fused.join(keep_ids, "doc_id").select(
        "doc_id",
        "lang",
        "n_chars",
        F.when(
            F.col("n_inj") > 0,
            F.slice(F.col("toks"), F.col("n_inj") + 1, F.size("toks") - F.col("n_inj")),
        )
        .otherwise(F.col("toks"))
        .alias("ntoks"),
    )
    scored = _dsir_doc_scores_of_toks(survivors)
    mean_s = scored.agg(F.expr("sum(s_shift) div count(*)").alias("m"))
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10).cast(
            "long"
        )
        % 10000
    )
    w_bp = F.least(
        F.lit(30000),
        F.greatest(F.lit(0), F.lit(10000) + (F.col("s_shift") - F.col("m")) * _DSIR_SLOPE),
    )
    drawn = (
        scored.crossJoin(F.broadcast(mean_s))
        .withColumn("w_bp", w_bp)
        .withColumn(
            "n_copies",
            F.expr("w_bp div 10000")
            + F.when(u < F.col("w_bp") % 10000, 1).otherwise(0),
        )
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.sum(F.when(F.col("n_copies") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_drawn"),
            F.sum("n_copies").cast("long").alias("total_copies"),
            F.sum(F.col("n_chars") * F.col("n_copies")).cast("long").alias("chars_out"),
        )
    )
    # the arrival census reads ONLY the lang column — a fresh
    # column-pruned parquet scan is cheaper than re-reading the wide
    # fused checkpoint for one column
    arrived = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_arrived"))
    )
    return (
        arrived.join(drawn, "lang", "left")
        .select(
            "lang",
            "n_arrived",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("n_drawn", F.lit(0)).cast("long").alias("n_drawn"),
            F.coalesce("total_copies", F.lit(0)).cast("long").alias("total_copies"),
            F.coalesce("chars_out", F.lit(0)).cast("long").alias("chars_out"),
        )
        .orderBy("lang")
    )
