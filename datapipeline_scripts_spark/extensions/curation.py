"""Training-data curation pipeline — the E-family operators composed
end-to-end the way an LLM data pipeline actually runs them:

    quality gate → language ID → exact dedup → per-language corpus stats

One declared query (`curation_pipeline`), fully oracle-checked: every
stage is deterministic Catalyst expressions, so the whole chain has a
DuckDB twin. This is the flagship composite for the dedup/text family,
as the TPC-H shapes are for the relational family.

Scale shape (the reason the stages are ordered this way):
- the quality gate and langid are per-row, shuffle-free, and cheap —
  they run first so everything downstream sees fewer rows;
- dedup groups on a 32-char md5 of the *normalized* text, never the
  body: the only data-sized shuffle in the pipeline carries
  fingerprints (≈3 GB per 100 TB of corpus, not 100 TB);
- the final rollup groups on language (cardinality ~10²) — partial
  aggregation collapses it map-side to almost nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_scripts_spark.catalog import load_table
from datapipeline_scripts_spark.functions.text import fingerprint_md5, ngram_join, normalize_text, stopword_hits
from datapipeline_scripts_spark.registry import query

_MIN_WORDS = 30

_NORM_SQL = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
_HIT = "len(list_filter(string_split({norm}, ' '), t -> {pred}))"
_H_EN = _HIT.format(norm="norm_text", pred="t = 'the' OR t = 'a' OR t = 'of'")
_H_ES = _HIT.format(norm="norm_text", pred="t = 'el' OR t = 'la' OR t = 'de'")
_H_DE = _HIT.format(norm="norm_text", pred="t = 'der' OR t = 'die' OR t = 'das'")

# the langid argmax (fixed en>es>de precedence) — ONE definition per
# dialect, shared by curation_pipeline and corpus_build_pipeline so the
# two flagships cannot fork semantics
_PREDICTED_SQL = """CASE WHEN h_en >= h_es AND h_en >= h_de AND h_en > 0 THEN 'en'
              WHEN h_es >= h_de AND h_es > 0 THEN 'es'
              WHEN h_de > 0 THEN 'de'
              ELSE 'und' END"""


def _lang_columns(toks):
    """Spark twin of (_H_EN/_H_ES/_H_DE, _PREDICTED_SQL): marker-hit
    counts and the argmax'd language over a token-array column."""
    h_en = stopword_hits(toks, ("the", "a", "of"))
    h_es = stopword_hits(toks, ("el", "la", "de"))
    h_de = stopword_hits(toks, ("der", "die", "das"))
    predicted = (
        F.when((h_en >= h_es) & (h_en >= h_de) & (h_en > 0), "en")
        .when((h_es >= h_de) & (h_es > 0), "es")
        .when(h_de > 0, "de")
        .otherwise("und")
    )
    return h_en, h_es, h_de, predicted


@query(
    "curation_pipeline",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, lang, {_NORM_SQL} AS norm_text FROM documents
    ),
    sig AS (
      SELECT doc_id, lang, norm_text,
             len(string_split(norm_text, ' ')) AS n_words,
             {_H_EN} AS h_en, {_H_ES} AS h_es, {_H_DE} AS h_de
      FROM norm
    ),
    keep AS (
      SELECT doc_id, lang, norm_text, n_words,
             {_PREDICTED_SQL} AS predicted
      FROM sig
      WHERE n_words >= {_MIN_WORDS}
        AND (h_en + h_es + h_de) > 0
    ),
    surv AS (
      SELECT lang, predicted, md5(norm_text) AS fp,
             min(doc_id) AS keep_doc_id,
             count(*) AS n_copies,
             min(n_words) AS n_words
      FROM keep
      WHERE predicted <> 'und'
      GROUP BY 1, 2, 3
    )
    SELECT lang AS labeled_lang, predicted,
           CAST(count(*) AS BIGINT) AS n_unique_docs,
           CAST(sum(n_copies) AS BIGINT) AS n_docs_in,
           CAST(sum(n_copies) - count(*) AS BIGINT) AS n_dupes_removed,
           CAST(sum(n_words) AS BIGINT) AS n_tokens_kept,
           round(avg(CAST(n_words AS DOUBLE)), 2) AS avg_doc_tokens
    FROM surv
    GROUP BY 1, 2
    """,
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-stage curation chain over `documents`; returns the
    per-language corpus summary after filtering + dedup.

    Stages (all one DataFrame expression — Catalyst fuses the per-row
    stages into a single codegen'd projection over the scan):
    1. normalize + quality gate: ≥ 30 normalized words and at
       least one stopword marker hit (garbage filter);
    2. language ID: marker-word argmax (en/es/de, fixed precedence),
       'und' dropped;
    3. exact dedup per language on md5(normalized text), survivor =
       lowest doc_id, copies counted;
    4. rollup per (labeled lang × predicted lang): unique docs, input
       docs, dupes removed, kept token volume — the curation report a
       pipeline owner reads before a training run.
    """
    d = load_table(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    toks = F.split(norm, " ")
    n_words = F.size(toks)
    h_en, h_es, h_de, predicted = _lang_columns(toks)
    kept = (
        d.filter((n_words >= _MIN_WORDS) & ((h_en + h_es + h_de) > 0))
        .select(
            "doc_id",
            "lang",
            n_words.alias("n_words"),
            predicted.alias("predicted"),
            fingerprint_md5(F.col("text")).alias("fp"),
        )
        .filter(F.col("predicted") != "und")
    )
    surv = kept.groupBy("lang", "predicted", "fp").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_copies"),
        F.min("n_words").alias("n_words"),
    )
    return surv.groupBy(F.col("lang").alias("labeled_lang"), F.col("predicted")).agg(
        F.count("*").cast("long").alias("n_unique_docs"),
        F.sum("n_copies").cast("long").alias("n_docs_in"),
        (F.sum("n_copies") - F.count("*")).cast("long").alias("n_dupes_removed"),
        F.sum("n_words").cast("long").alias("n_tokens_kept"),
        F.round(F.avg(F.col("n_words").cast("double")), 2).alias("avg_doc_tokens"),
    )


_GRAM_N = 8   # decontamination gram width (matches text_contamination)
_BENCH_MOD = 97  # doc_id % 97 == 0 → held-out benchmark member
_TRAIN_PCT, _VAL_PCT = 80, 10

_GRAMS_SQL = (
    "unnest(list_distinct(list_transform(generate_series(1, len(t) - "
    f"{_GRAM_N - 1}), i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], "
    "t[i+4], t[i+5], t[i+6], t[i+7]))))"
)


def _build_oracle() -> str:
    from datapipeline_scripts_spark.functions.text import md5_48_sql

    b = md5_48_sql("CAST(s.doc_id AS VARCHAR)")
    return f"""
WITH base AS (
  SELECT doc_id, lang, {_NORM_SQL} AS norm_text FROM documents
),
bench_grams AS (
  SELECT DISTINCT {_GRAMS_SQL} AS g
  FROM (SELECT string_split(norm_text, ' ') AS t
        FROM base WHERE doc_id % {_BENCH_MOD} = 0)
  WHERE len(t) >= {_GRAM_N}
),
sig AS (
  SELECT doc_id, lang, norm_text,
         len(string_split(norm_text, ' ')) AS n_words,
         {_H_EN} AS h_en, {_H_ES} AS h_es, {_H_DE} AS h_de
  FROM base
  WHERE doc_id % {_BENCH_MOD} <> 0
),
keep AS (
  SELECT doc_id, norm_text, n_words,
         {_PREDICTED_SQL} AS predicted
  FROM sig
  WHERE n_words >= {_MIN_WORDS} AND (h_en + h_es + h_de) > 0
),
surv AS (
  SELECT doc_id, norm_text, n_words, predicted, n_copies FROM (
    SELECT *,
           row_number() OVER (PARTITION BY md5(norm_text) ORDER BY doc_id) AS rn,
           count(*) OVER (PARTITION BY md5(norm_text)) AS n_copies
    FROM keep WHERE predicted <> 'und'
  ) WHERE rn = 1
),
cont AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, {_GRAMS_SQL} AS g
    FROM (SELECT doc_id, string_split(norm_text, ' ') AS t FROM surv)
    WHERE len(t) >= {_GRAM_N}
  ) sg
  JOIN bench_grams USING (g)
),
assigned AS (
  SELECT s.predicted, s.n_words, s.n_copies,
         (c.doc_id IS NOT NULL) AS contaminated,
         CASE WHEN ({b}) % 100 < {_TRAIN_PCT} THEN 'train'
              WHEN ({b}) % 100 < {_TRAIN_PCT + _VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM surv s LEFT JOIN cont c ON s.doc_id = c.doc_id
)
SELECT predicted, split,
       CAST(sum(CASE WHEN contaminated THEN 0 ELSE 1 END) AS BIGINT) AS n_docs_kept,
       CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated_dropped,
       CAST(sum(n_copies) - count(*) AS BIGINT) AS n_dupes_removed,
       CAST(sum(CASE WHEN contaminated THEN 0 ELSE n_words END) AS BIGINT)
         AS n_tokens_kept
FROM assigned
GROUP BY predicted, split
"""


@query("corpus_build_pipeline", oracle=_build_oracle())
def corpus_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-corpus build as ONE declared plan — the
    engine's end-to-end flagship for the §2.E families, extending
    `curation_pipeline` with the three remaining production stages:

    1. benchmark carve-out: doc_id % 97 docs are the held-out eval
       set; their distinct word 8-grams form the contamination index;
    2. quality gate + language ID (same exprs as curation_pipeline);
    3. exact dedup, survivor = lowest doc_id — via ONE window
       partitioned by the md5 fingerprint (row_number + count share
       the partitioning, so Catalyst plans a single Exchange carrying
       32-byte fingerprints, never document bodies);
    4. decontamination: survivors whose gram set hits the benchmark
       index are dropped (counted per group — the audit trail);
    5. deterministic 80/10/10 split by md5(doc_id) — a pure function
       of the key, stable under corpus growth;
    6. the build report per (language × split): kept docs, dropped
       contaminated docs, dupes removed, kept token volume.

    Every stage is deterministic Catalyst expressions, so the whole
    six-stage chain has a DuckDB twin and the report is hash-proven.
    Scale: per-row stages fuse into the scan projection; the two
    data-sized shuffles carry fingerprints and 8-gram strings (both
    bounded, never bodies); the benchmark gram index is ~1/97th of the
    corpus and broadcast to the semi-join."""
    d = load_table(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    base = d.select("doc_id", "lang", norm.alias("norm_text"))
    is_bench = F.col("doc_id") % _BENCH_MOD == 0

    toks = F.split(F.col("norm_text"), " ")
    grams_col = F.when(
        F.size(toks) >= _GRAM_N, F.array_distinct(ngram_join(toks, _GRAM_N))
    ).otherwise(F.array().cast("array<string>"))

    bench_grams = (
        base.filter(is_bench).select(F.explode(grams_col).alias("g")).distinct()
    )

    h_en, h_es, h_de, predicted = _lang_columns(toks)
    keep = (
        base.filter(~is_bench)
        .select(
            "doc_id",
            "norm_text",
            F.size(toks).alias("n_words"),
            h_en.alias("h_en"),
            h_es.alias("h_es"),
            h_de.alias("h_de"),
            predicted.alias("predicted"),
        )
        .filter(
            (F.col("n_words") >= _MIN_WORDS)
            & ((F.col("h_en") + F.col("h_es") + F.col("h_de")) > 0)
            & (F.col("predicted") != "und")
        )
    )
    from pyspark.sql.window import Window as W

    wfp = W.partitionBy(F.md5(F.col("norm_text")))
    surv = (
        keep.withColumn("rn", F.row_number().over(wfp.orderBy("doc_id")))
        .withColumn("n_copies", F.count("*").over(wfp))
        .filter(F.col("rn") == 1)
        .select("doc_id", "norm_text", "n_words", "predicted", "n_copies")
    )
    cont = (
        surv.select("doc_id", F.explode(grams_col).alias("g"))
        .join(F.broadcast(bench_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    from datapipeline_scripts_spark.functions.text import md5_48

    bucket = md5_48(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < _TRAIN_PCT, "train")
        .when(bucket < _TRAIN_PCT + _VAL_PCT, "val")
        .otherwise("test")
    )
    assigned = (
        surv.join(cont, "doc_id", "left")
        .select(
            "predicted",
            "n_words",
            "n_copies",
            F.col("hit").isNotNull().alias("contaminated"),
            split.alias("split"),
        )
    )
    c = F.col("contaminated")
    return assigned.groupBy("predicted", "split").agg(
        F.sum(F.when(c, 0).otherwise(1)).cast("long").alias("n_docs_kept"),
        F.sum(F.when(c, 1).otherwise(0)).cast("long").alias("n_contaminated_dropped"),
        (F.sum("n_copies") - F.count("*")).cast("long").alias("n_dupes_removed"),
        F.sum(F.when(c, 0).otherwise(F.col("n_words"))).cast("long").alias("n_tokens_kept"),
    )
