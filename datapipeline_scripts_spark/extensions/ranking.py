"""E3 extension — corpus ranking: TF-IDF term weighting and BM25
retrieval scoring over `documents`.

These are the scoring primitives a training-data pipeline uses to
select in-domain documents against a seed query set (quality-targeted
sampling). Both are pure Catalyst expressions — tokenize/explode/
aggregate/join — so the hot path is whole-stage-codegen'd and the only
shuffles are keyed aggregations:

- the doc×term table shuffles once on (doc_id, term) for TF, and the
  (much smaller) vocabulary aggregates once on term for DF;
- corpus-level scalars (N, avgdl) ride in via a broadcast cross join
  of a 1-row aggregate, never a driver collect;
- the DF-side join back onto doc×term is vocabulary-sized — orders of
  magnitude under the corpus — and AQE picks broadcast when it fits
  (at 100 TB corpus scale the vocabulary is still ~1e8 rows max, a
  shuffle join on term with heavy partial aggregation before it).

The reference has no ranking surface; this extends its delegated
full-SQL capability (SURVEY §2.C — PostgreSQL ts_rank is the closest
delegated analogue, /root/reference/backup.sh:210 drives full psql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from datapipeline_scripts_spark.catalog import load_table
from datapipeline_scripts_spark.registry import query

# BM25 free parameters (the Robertson/Walker defaults used by Lucene).
_K1 = 1.2
_B = 0.75
# Fixed retrieval query for the declared BM25 query key — terms chosen
# from the fixture vocabulary so every SF has matches.
_BM25_QUERY = ("spark", "vector", "hash")


@query(
    "text_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM tok WHERE length(term) >= 4
      GROUP BY doc_id, term
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n FROM documents)
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 4) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    ORDER BY tf.tf DESC, df.df ASC, tf.doc_id, tf.term
    LIMIT 20
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 (doc, term) pairs by TF-IDF weight.

    Ordering is on the integer (tf DESC, df ASC) pair — never on the
    float score — so the top-k frontier is bit-identical across
    engines regardless of ln()/division ULP drift."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = (
        tok.filter(F.length("term") >= 4)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n"))
    return (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 4).alias("tfidf"),
        )
        .orderBy(F.col("tf").desc(), F.col("df").asc(), "doc_id", "term")
        .limit(20)
    )


@query(
    "text_bm25",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    doclen AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM tok
      WHERE term IN ('{_BM25_QUERY[0]}', '{_BM25_QUERY[1]}', '{_BM25_QUERY[2]}')
      GROUP BY doc_id, term
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    stats AS (
      SELECT count(*) AS n,
             avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl
      FROM documents
    )
    SELECT tf.doc_id,
           round(sum(
             ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * tf.tf * ({_K1} + 1.0)
             / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * doclen.dl / stats.avgdl))
           ), 4) AS bm25
    FROM tf
    JOIN df USING (term)
    JOIN doclen USING (doc_id)
    CROSS JOIN stats
    GROUP BY tf.doc_id
    ORDER BY bm25 DESC, tf.doc_id
    LIMIT 20
    """,
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval: score every document against a fixed 3-term
    query (Lucene idf variant: ln((N-df+0.5)/(df+0.5)+1)), top-20.

    The term filter lands BEFORE the TF aggregation, so the doc×term
    explode is pruned to query-term rows immediately — at corpus scale
    the shuffled TF table is |hits|, not |tokens|. N and avgdl are a
    broadcast 1-row aggregate; df is per-query-term (≤3 rows,
    broadcast)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    tok = d.select("doc_id", F.explode(toks).alias("term"))
    tf = (
        tok.filter(F.col("term").isin(*_BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    doclen = d.select("doc_id", F.size(toks).cast("long").alias("dl"))
    stats = d.agg(
        F.count("*").alias("n"),
        F.avg(F.size(toks).cast("double")).alias("avgdl"),
    )
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tf_part = (F.col("tf") * (_K1 + 1.0)) / (
        F.col("tf") + _K1 * (1.0 - _B + _B * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * tf_part), 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


@query(
    "text_bigram_lm",
    oracle="""
    WITH big AS (
      SELECT doc_id,
             unnest(t[1:len(t)-1]) AS w1,
             unnest(t[2:len(t)]) AS w2
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    ),
    c2 AS (SELECT w1, w2, count(*) AS n2 FROM big GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS n1 FROM big GROUP BY w1)
    SELECT b.doc_id,
           count(*) AS n_bigrams,
           round(avg(ln(n2 * 1.0 / n1)), 3) AS lm_score
    FROM big b JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
    GROUP BY b.doc_id
    """,
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language-model score per document: mean
    ln P(w2|w1) under the MLE bigram model of the corpus itself — the
    cheap in-domain perplexity filter a curation pipeline applies
    before an expensive neural scorer (low score = atypical word
    sequences).

    Shape: the bigram explode (slice + arrays_zip, all codegen'd)
    shuffles once for each count table — both partial-aggregated, the
    bigram-count table bounded by observed-vocabulary², far under
    |tokens|. The count joins key on (w1[,w2]); at corpus scale AQE
    chooses broadcast vs shuffle per side, and no smoothing keeps
    every observed bigram's probability well-defined."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    big = (
        d.select(
            "doc_id",
            F.slice(toks, 1, n - 1).alias("w1s"),
            F.slice(toks, 2, n - 1).alias("w2s"),
        )
        .select("doc_id", F.explode(F.arrays_zip("w1s", "w2s")).alias("b"))
        .select("doc_id", F.col("b.w1s").alias("w1"), F.col("b.w2s").alias("w2"))
    )
    c2 = big.groupBy("w1", "w2").agg(F.count("*").alias("n2"))
    c1 = big.groupBy("w1").agg(F.count("*").alias("n1"))
    return (
        big.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(F.log(F.col("n2") * 1.0 / F.col("n1"))), 3).alias("lm_score"),
        )
    )


_RRF_K = 60  # standard reciprocal-rank-fusion damping constant
_RRF_SCALE = 1_000_000_000  # contributions in exact integer 1e-9 units
_RRF_DEPTH = 50  # per-leg candidate depth
_RRF_QVEC = 0  # query vector id (embeddings.vec_id == documents.doc_id)

_HYBRID_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM tok
  WHERE term IN ('{_BM25_QUERY[0]}', '{_BM25_QUERY[1]}', '{_BM25_QUERY[2]}')
  GROUP BY doc_id, term
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
doclen AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents
),
stats AS (
  SELECT count(*) AS n, avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl
  FROM documents
),
lex AS (
  SELECT tf.doc_id,
         round(sum(
           ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
           * tf.tf * ({_K1} + 1.0)
           / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * doclen.dl / stats.avgdl))
         ), 4) AS bm25
  FROM tf
  JOIN df USING (term)
  JOIN doclen USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
lex_ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
  FROM lex
  QUALIFY lex_rank <= {_RRF_DEPTH}
),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = {_RRF_QVEC}),
sims AS (
  SELECT vec_id AS doc_id,
         round(list_dot_product(qe, ce) /
               (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))),
               4) AS cos_sim
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings) c
  CROSS JOIN q
  WHERE vec_id <> {_RRF_QVEC}
),
vec_ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS vec_rank
  FROM sims
  QUALIFY vec_rank <= {_RRF_DEPTH}
),
fused AS (
  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         CAST(coalesce(l.lex_rank, 0) AS BIGINT) AS lex_rank,
         CAST(coalesce(v.vec_rank, 0) AS BIGINT) AS vec_rank,
         CAST(
           (CASE WHEN l.doc_id IS NULL THEN 0
                 ELSE {_RRF_SCALE} // ({_RRF_K} + l.lex_rank) END)
           + (CASE WHEN v.doc_id IS NULL THEN 0
                   ELSE {_RRF_SCALE} // ({_RRF_K} + v.vec_rank) END)
         AS BIGINT) AS rrf_e9
  FROM lex_ranked l FULL JOIN vec_ranked v ON l.doc_id = v.doc_id
)
SELECT doc_id, lex_rank, vec_rank, rrf_e9
FROM fused
ORDER BY rrf_e9 DESC, doc_id
LIMIT 20
"""


@query("hybrid_rrf_search", oracle=_HYBRID_ORACLE)
def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: a lexical BM25
    leg (same scoring as text_bm25) and a dense cosine leg (query
    vector = embedding {0}) each produce a top-{50} ranking; the legs
    are FULL-outer fused by RRF — score = Σ 1/(60+rank) over the legs
    that retrieved the doc, computed in exact integer 1e-9 units so
    the fusion arithmetic is order-independent and hash-provable.
    This is the production RAG retrieval topology (sparse ∪ dense →
    fuse → top-k) expressed as one Catalyst plan.

    Scale: each leg ends in a TakeOrdered(depth) — only 2×{50} rows
    reach the fusion join, which is trivially broadcast; legs reuse
    the BM25 pruned-explode and broadcast-query-vector shapes whose
    scale arguments live with text_bm25 / knn_brute."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    tok = d.select("doc_id", F.explode(toks).alias("term"))
    tf = (
        tok.filter(F.col("term").isin(*_BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    doclen = d.select("doc_id", F.size(toks).cast("long").alias("dl"))
    stats = d.agg(
        F.count("*").alias("n"),
        F.avg(F.size(toks).cast("double")).alias("avgdl"),
    )
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tf_part = (F.col("tf") * (_K1 + 1.0)) / (
        F.col("tf") + _K1 * (1.0 - _B + _B * F.col("dl") / F.col("avgdl"))
    )
    lex = (
        tf.join(F.broadcast(df_), "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * tf_part), 4).alias("bm25"))
    )
    # TakeOrdered(depth) FIRST, then rank the bounded result: the global
    # row_number window never sees more than _RRF_DEPTH rows, so no
    # corpus-sized Exchange SinglePartition exists in either leg
    wl = W.orderBy(F.col("bm25").desc(), "doc_id")
    lex_ranked = (
        lex.orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_RRF_DEPTH)
        .withColumn("lex_rank", F.row_number().over(wl))
        .select("doc_id", "lex_rank")
    )

    from datapipeline_scripts_spark.functions.vectors import cosine

    e = load_table(spark, sf_dir, "embeddings")
    to_d = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    q = e.filter(F.col("vec_id") == _RRF_QVEC).select(to_d("embedding").alias("qe"))
    c = e.filter(F.col("vec_id") != _RRF_QVEC).select(
        F.col("vec_id").alias("doc_id"), to_d("embedding").alias("ce")
    )
    sims = c.crossJoin(F.broadcast(q)).select(
        "doc_id", F.round(cosine(F.col("qe"), F.col("ce")), 4).alias("cos_sim")
    )
    wv = W.orderBy(F.col("cos_sim").desc(), "doc_id")
    vec_ranked = (
        sims.orderBy(F.col("cos_sim").desc(), "doc_id")
        .limit(_RRF_DEPTH)
        .withColumn("vec_rank", F.row_number().over(wv))
        .select(F.col("doc_id").alias("v_doc_id"), "vec_rank")
    )

    fused = lex_ranked.join(
        vec_ranked, lex_ranked.doc_id == vec_ranked.v_doc_id, "full_outer"
    ).select(
        F.coalesce("doc_id", "v_doc_id").alias("doc_id"),
        F.coalesce("lex_rank", F.lit(0)).cast("long").alias("lex_rank"),
        F.coalesce("vec_rank", F.lit(0)).cast("long").alias("vec_rank"),
        (
            F.when(
                F.col("lex_rank").isNull(), F.lit(0).cast("long")
            ).otherwise(F.expr(f"cast({_RRF_SCALE} div ({_RRF_K} + lex_rank) as bigint)"))
            + F.when(
                F.col("vec_rank").isNull(), F.lit(0).cast("long")
            ).otherwise(F.expr(f"cast({_RRF_SCALE} div ({_RRF_K} + vec_rank) as bigint)"))
        ).alias("rrf_e9"),
    )
    return fused.orderBy(F.col("rrf_e9").desc(), "doc_id").limit(20)
