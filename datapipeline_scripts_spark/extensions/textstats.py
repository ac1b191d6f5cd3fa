"""E3 — text analysis over `documents`: token stats, term frequency,
quality scoring, language ID, content fingerprinting.

All pure Catalyst expressions (split/filter/explode/md5) — the text hot
path stays JVM-side; at 100 TB the only shuffles are the final small
aggregations (explode feeds straight into partial aggregation).

Further down: HTML extraction (its wrap expression is shared with the
crawl pipeline), the in-engine BPE chain (train, compression,
fertility), the held-out bigram model, character entropy, code
detection and token chunk spans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from datapipeline_scripts_spark.catalog import load_table, scan_spread
from datapipeline_scripts_spark.functions.text import fingerprint_md5, shingles, stopword_hits, tokens
from datapipeline_scripts_spark.registry import query

_STOP_EN = ("the", "a", "of")
_STOP_ES = ("el", "la", "de")
_STOP_DE = ("der", "die", "das")


@query(
    "text_tokens",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           round(avg(CAST(len(string_split(text, ' ')) AS DOUBLE)), 2) AS avg_tokens,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting aggregated per language."""
    d = load_table(spark, sf_dir, "documents")
    ntok = F.size(F.split("text", " "))
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(ntok).cast("long").alias("n_tokens"),
        F.round(F.avg(ntok.cast("double")), 2).alias("avg_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "text_term_freq",
    oracle="""
    SELECT tok, count(*) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok
    ORDER BY freq DESC, tok
    LIMIT 20
    """,
)
def text_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 term frequency (explode → count → top-k).

    Scale: partial aggregation collapses each partition to its distinct
    tokens before the shuffle; top-k is TakeOrdered, no global sort."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), "tok")
        .limit(20)
    )


@query(
    "text_quality",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
           round(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 2) AS avg_word_len,
           round(CAST(len(list_filter(string_split(text, ' '),
                     t -> t = 'the' OR t = 'a' OR t = 'of')) AS DOUBLE)
                 / len(string_split(text, ' ')), 4) AS stop_ratio,
           CASE WHEN len(string_split(text, ' ')) < 30 THEN 'short'
                WHEN len(list_filter(string_split(text, ' '),
                     t -> t = 'the' OR t = 'a' OR t = 'of')) = 0 THEN 'no_stopwords'
                ELSE 'ok' END AS quality_flag
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: word count, mean word length,
    stopword ratio, and a rule-based quality flag — the standard cheap
    pre-filter stage of an LLM data pipeline."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_words = F.size(toks)
    stop = stopword_hits(toks, _STOP_EN)
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(F.length("text").cast("double") / n_words, 2).alias("avg_word_len"),
        F.round(stop.cast("double") / n_words, 4).alias("stop_ratio"),
        F.when(n_words < 30, "short")
        .when(stop == 0, "no_stopwords")
        .otherwise("ok")
        .alias("quality_flag"),
    )


@query(
    "text_langid",
    oracle="""
    WITH scored AS (
      SELECT lang,
             len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a' OR t = 'of')) AS h_en,
             len(list_filter(string_split(text, ' '), t -> t = 'el' OR t = 'la' OR t = 'de')) AS h_es,
             len(list_filter(string_split(text, ' '), t -> t = 'der' OR t = 'die' OR t = 'das')) AS h_de
      FROM documents
    )
    SELECT lang,
           CASE WHEN h_en >= h_es AND h_en >= h_de AND h_en > 0 THEN 'en'
                WHEN h_es >= h_de AND h_es > 0 THEN 'es'
                WHEN h_de > 0 THEN 'de'
                ELSE 'und' END AS predicted,
           count(*) AS n_docs
    FROM scored
    GROUP BY 1, 2
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic: score each doc against
    per-language stopword sets, argmax with fixed precedence, then
    confusion counts vs the labeled lang."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    h_en, h_es, h_de = (stopword_hits(toks, s) for s in (_STOP_EN, _STOP_ES, _STOP_DE))
    predicted = (
        F.when((h_en >= h_es) & (h_en >= h_de) & (h_en > 0), "en")
        .when((h_es >= h_de) & (h_es > 0), "es")
        .when(h_de > 0, "de")
        .otherwise("und")
    )
    return d.select("lang", predicted.alias("predicted")).groupBy("lang", "predicted").agg(
        F.count("*").alias("n_docs")
    )


@query(
    "text_tokens_bpe",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS n_bpe_tokens,
           round(avg(CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS DOUBLE)), 2)
             AS avg_bpe_tokens
    FROM documents
    GROUP BY source
    """,
)
def text_tokens_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenization (letter runs | digit runs | single
    other chars) — the pre-tokenizer split most BPE vocabularies use —
    counted per source."""
    d = load_table(spark, sf_dir, "documents")
    ntok = F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(ntok).cast("long").alias("n_bpe_tokens"),
        F.round(F.avg(ntok.cast("double")), 2).alias("avg_bpe_tokens"),
    )


@query(
    "text_rolling_hash",
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(regexp_extract_all(text, '.'),
                              x -> CAST(unicode(x) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 1000000007
           ) AS rhash
    FROM documents
    WHERE doc_id % 7 = 0
    """,
)
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling hash (base 31 mod 1e9+7) over the character
    stream — the winnowing/Rabin-Karp fingerprint primitive, expressed
    as a codegen'd fold; integer math so both engines agree bit-exactly."""
    d = load_table(spark, sf_dir, "documents")
    codes = F.transform(F.split("text", ""), lambda ch: F.ascii(ch).cast("long"))
    rhash = F.aggregate(codes, F.lit(0).cast("long"), lambda acc, x: (acc * 31 + x) % 1000000007)
    return d.filter(F.col("doc_id") % 7 == 0).select("doc_id", rhash.alias("rhash"))


def _winnow_oracle() -> str:
    from datapipeline_scripts_spark.functions.text import md5_48_sql

    norm = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
    return f"""
    WITH tok AS (
      SELECT doc_id, toks FROM
        (SELECT doc_id, string_split({norm}, ' ') AS toks FROM documents)
      WHERE len(toks) >= 3
    ),
    sh AS (
      SELECT doc_id, CAST(pos AS INTEGER) AS pos,
             concat(toks[pos + 1], ' ', toks[pos + 2], ' ', toks[pos + 3]) AS sh
      FROM (SELECT doc_id, toks, unnest(range(len(toks) - 2)) AS pos FROM tok)
    ),
    hashed AS (SELECT doc_id, pos, {md5_48_sql("sh")} AS h FROM sh),
    winnowed AS (
      SELECT DISTINCT doc_id, fp FROM (
        SELECT doc_id, pos,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
               count(*) OVER (PARTITION BY doc_id) AS n
        FROM hashed
      )
      WHERE pos <= greatest(n - 4, 0)
    )
    SELECT doc_id, count(*) AS n_fingerprints, min(fp) AS min_fp
    FROM winnowed
    GROUP BY doc_id
    """


@query("text_winnow", oracle=_winnow_oracle())
def text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint (Schleimer/Wilkerson/Aiken): hash every
    word 3-gram, slide a window of 4 consecutive hashes, keep each
    window's minimum, dedupe → the document's fingerprint set. Guarantees
    any shared run of ≥ 6 tokens between two docs shares a fingerprint.

    Shape: posexplode shingles → md5_48 → min over a bounded following
    window (codegen'd window function, one shuffle on doc_id) →
    distinct. Fully oracle-checked since round 2: the shingle hash is
    the cross-engine md5_48, so the fingerprint VALUES are proven, not
    just counted; the winnowing coverage guarantee is additionally
    asserted in tests/test_extensions.py."""
    from datapipeline_scripts_spark.functions.text import tokens, winnow_fps

    # Optimization round 13 (guide §2.4): the fingerprint set is
    # computed IN-ROW by functions.text.winnow_fps (bit-identical to
    # the old posexplode → two-window → distinct form, which shuffled
    # every shingle triple twice); the only exchange left is the
    # per-doc rollup, partial-aggregated map-side.
    window = 4
    d = load_table(spark, sf_dir, "documents").transform(scan_spread(spark, sf_dir, "documents"))
    tok = d.select("doc_id", tokens(F.col("text")).alias("toks")).filter(F.size("toks") >= 3)
    winnowed = tok.select("doc_id", F.explode(winnow_fps(F.col("toks"), window)).alias("fp"))
    return winnowed.groupBy("doc_id").agg(
        F.count("*").alias("n_fingerprints"), F.min("fp").alias("min_fp")
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))) AS n_unique
    FROM documents
    GROUP BY source
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 content fingerprint; unique-document count per source — the
    snapshot-manifest integrity primitive (pipeline layer reuses it)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("source", fingerprint_md5(F.col("text")).alias("fp")).groupBy("source").agg(
        F.count("*").alias("n_docs"), F.countDistinct("fp").alias("n_unique")
    )


@query(
    "text_redact",
    oracle="""
    SELECT source,
           CAST(sum(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT)
             AS n_digit_runs,
           CAST(sum(length(text) - length(regexp_replace(text, '[0-9]+', '', 'g'))) AS BIGINT)
             AS n_digit_chars,
           CAST(count(CASE WHEN regexp_matches(text, '[0-9]') THEN 1 END) AS BIGINT)
             AS n_docs_with_digits,
           count(*) AS n_docs
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-scrub audit (digit runs standing in for the usual
    email/phone/ID patterns): per source, how many numeric spans and
    characters a redaction pass would rewrite, and how many documents
    it touches. All counts are exact integers off one scan — the same
    regexp_replace drives the actual scrub stage, so this report IS
    the redaction plan's cost estimate. Regex stays in codegen
    (JVM-side), never a Python UDF."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.sum(F.regexp_count("text", F.lit(r"[0-9]+"))).cast("long").alias("n_digit_runs"),
            F.sum(
                F.length("text") - F.length(F.regexp_replace("text", r"[0-9]+", ""))
            )
            .cast("long")
            .alias("n_digit_chars"),
            F.count(F.when(F.col("text").rlike("[0-9]"), 1)).cast("long").alias("n_docs_with_digits"),
            F.count("*").alias("n_docs"),
        )
        .orderBy("source")
    )


@query(
    "text_repetition",
    oracle="""
    WITH tokd AS (
      SELECT doc_id, source,
             string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id, source,
             len(toks) - 2 AS n_shingles,
             len(list_distinct(list_transform(generate_series(1, len(toks) - 2),
                    i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))) AS n_distinct
      FROM tokd
      WHERE len(toks) >= 3
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_shingles) AS BIGINT) AS total_shingles,
           CAST(sum(n_shingles - n_distinct) AS BIGINT) AS repeated_shingles,
           CAST(sum((n_shingles - n_distinct) * 10000 // n_shingles) AS BIGINT)
             AS sum_rep_bp,
           CAST(sum(CASE WHEN (n_shingles - n_distinct) * 10000 // n_shingles
                              > 3000 THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate
    FROM per_doc
    GROUP BY source
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram repetition ratio — the Gopher-style boilerplate signal: a
    document whose 3-gram stream is mostly duplicates (nav bars,
    templated spam, lyrics refrains) is cut before training. Per doc:
    duplicate-shingle fraction in integer basis points; per source: doc
    counts, total/repeated shingles, and how many docs cross the 30%
    boilerplate line.

    Scale: shingle explosion → one (doc_id) aggregate — same shuffle
    shape as dedup's signature build, count state only (no shingle list
    survives the partial agg). Integer bp arithmetic keeps the report
    hash-exact cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "source", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 3
    )
    sh = tok.select(
        "doc_id", "source", F.explode(shingles(F.col("toks"), 3)).alias("shingle")
    )
    per_doc = sh.groupBy("doc_id", "source").agg(
        F.count("*").alias("n_shingles"),
        F.count_distinct("shingle").alias("n_distinct"),
    )
    rep = F.col("n_shingles") - F.col("n_distinct")
    rep_bp = F.expr("(n_shingles - n_distinct) * 10000 div n_shingles")
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_shingles").alias("total_shingles"),
        F.sum(rep).alias("repeated_shingles"),
        F.sum(rep_bp).alias("sum_rep_bp"),
        F.sum(F.when(rep_bp > 3000, 1).otherwise(0)).alias("n_boilerplate"),
    )


@query(
    "text_zipf",
    oracle="""
    WITH freq AS (
      SELECT tok, count(*) AS f
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    ),
    ranked AS (
      SELECT tok, f,
             row_number() OVER (ORDER BY f DESC, tok) AS r
      FROM freq
    )
    SELECT r, tok, f, CAST(r * f AS BIGINT) AS rf
    FROM ranked
    WHERE r <= 20
    """,
)
def text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency check: for the top-20 terms, rank·frequency
    should be roughly constant in natural-language text — a corpus
    whose r·f collapses (one token dominates) or explodes (uniform
    synthetic noise) fails the distribution-health screen before
    training. All-integer output (rank, frequency, product) with a
    total tie order, so the report is hash-exact.

    Plan: token explode → partial-agg count → one 20-row rank window
    (TakeOrdered feeds it; no global sort of the vocabulary)."""
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("f"))
    )
    from pyspark.sql import Window as W

    r = F.row_number().over(W.orderBy(F.col("f").desc(), "tok"))
    return (
        freq.withColumn("r", r)
        .filter(F.col("r") <= 20)
        .select("r", "tok", "f", (F.col("r") * F.col("f")).cast("long").alias("rf"))
    )


def _feature_hashing_oracle() -> str:
    from datapipeline_scripts_spark.functions.text import md5_48_sql

    return f"""
    SELECT doc_id,
           CAST(({md5_48_sql('tok')}) % 1024 AS BIGINT) AS bucket,
           count(*) AS tf
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY doc_id, bucket
    """


@query("feature_hashing", oracle=_feature_hashing_oracle())
def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words vectorization: every token is hashed
    into one of 1024 buckets (md5-derived 48-bit hash, the house
    cross-engine hash family) and per-document bucket counts form the
    sparse feature vector — the fixed-width, vocabulary-free text
    featurization (a la scikit-learn's HashingVectorizer / Vowpal
    Wabbit) that needs NO global vocabulary build, so there is no
    dictionary shuffle and no driver-side state at any corpus size.

    Shape: split → explode feeds straight into partial aggregation on
    (doc_id, bucket) — one shuffle of the already-collapsed sparse
    triples (≤1024 rows per doc), all JVM-side codegen, no UDF. The
    long-format (doc_id, bucket, tf) output IS the sparse vector;
    downstream consumers `groupBy(doc_id).agg(map_from_entries(...))`
    it into a map column without re-shuffling (same partitioning)."""
    from datapipeline_scripts_spark.functions.text import md5_48

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .select("doc_id", (md5_48(F.col("tok")) % 1024).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("tf"))
    )


_RAKE_SPLIT = r"\b(?:the|a|of)\b"

_RAKE_ORACLE = r"""
    WITH cleaned AS (
      SELECT regexp_replace(lower(text), '[^a-z]+', ' ', 'g') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    pieces AS (
      SELECT trim(p) AS phrase
      FROM cleaned, unnest(regexp_split_to_array(t, '\b(?:the|a|of)\b')) AS u(p)
    ),
    cand AS (
      SELECT phrase,
             length(phrase) - length(replace(phrase, ' ', '')) + 1 AS n_words
      FROM pieces WHERE phrase <> ''
    ),
    short AS (SELECT phrase, n_words FROM cand WHERE n_words <= 4),
    words AS (
      SELECT w, n_words FROM short, unnest(string_split(phrase, ' ')) AS t(w)
    ),
    wstats AS (
      SELECT w, CAST((10000 * sum(n_words)) // count(*) AS BIGINT) AS score_bp
      FROM words GROUP BY w
    ),
    dphr AS (
      SELECT phrase, count(*) AS n_occ FROM short GROUP BY 1
    ),
    pw AS (
      SELECT phrase, w FROM dphr, unnest(string_split(phrase, ' ')) AS t(w)
    ),
    ps AS (
      SELECT phrase, CAST(sum(score_bp) AS BIGINT) AS rake_score_bp
      FROM pw JOIN wstats USING (w) GROUP BY 1
    )
    SELECT d.phrase, CAST(d.n_occ AS BIGINT) AS n_occurrences, ps.rake_score_bp
    FROM dphr d JOIN ps USING (phrase)
    ORDER BY ps.rake_score_bp DESC, d.phrase LIMIT 20
"""


@query("text_keyphrase_rake", oracle=_RAKE_ORACLE)
def text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs (≤4 words), each word scores
    degree/frequency over the whole corpus, and a phrase scores the
    sum of its words — all in integer basis points (truncating
    division), so scores can't float-drift. Every stage is
    explode → keyed aggregation (map-side combinable): word stats
    shuffle |vocab| rows, phrase stats shuffle |distinct phrases| —
    the corpus text itself never moves after the first explode.
    Top-20 is TakeOrdered with a lexical tie-break."""
    d = load_table(spark, sf_dir, "documents")
    cleaned = d.filter(F.col("text").isNotNull()).select(
        F.regexp_replace(F.lower("text"), "[^a-z]+", " ").alias("t")
    )
    pieces = cleaned.select(F.explode(F.split("t", _RAKE_SPLIT)).alias("raw"))
    cand = pieces.select(F.trim("raw").alias("phrase")).filter(F.col("phrase") != "")
    short = cand.select(
        "phrase", F.size(F.split("phrase", " ")).alias("n_words")
    ).filter(F.col("n_words") <= 4)
    words = short.select(F.explode(F.split("phrase", " ")).alias("w"), "n_words")
    wstats = words.groupBy("w").agg(
        F.expr("CAST((10000 * sum(n_words)) div count(*) AS BIGINT)").alias("score_bp")
    )
    dphr = short.groupBy("phrase").agg(F.count("*").cast("long").alias("n_occ"))
    pw = dphr.select("phrase", F.explode(F.split("phrase", " ")).alias("w"))
    ps = (
        pw.join(wstats, "w")
        .groupBy("phrase")
        .agg(F.sum("score_bp").cast("long").alias("rake_score_bp"))
    )
    return (
        dphr.join(ps, "phrase")
        .select("phrase", F.col("n_occ").alias("n_occurrences"), "rake_score_bp")
        .orderBy(F.desc("rake_score_bp"), "phrase")
        .limit(20)
    )


_NOVELTY_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')
               AS ws
      FROM documents WHERE text IS NOT NULL
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws) - 1),
                                   i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))
               AS g
      FROM toks WHERE len(ws) >= 3
    ),
    first_seen AS (
      SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g
    ),
    per_doc AS (
      SELECT gr.doc_id,
             count(*) AS n_grams,
             sum(CASE WHEN fs.first_doc = gr.doc_id THEN 1 ELSE 0 END) AS n_novel
      FROM grams gr JOIN first_seen fs ON gr.g = fs.g
      GROUP BY 1
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_novel AS BIGINT) AS n_novel,
           CAST((10000 * n_novel) // n_grams AS BIGINT) AS novelty_bp
    FROM per_doc ORDER BY doc_id LIMIT 200
"""


@query("text_ngram_novelty", oracle=_NOVELTY_ORACLE)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty profile: for each document, the share of its
    word trigrams whose FIRST corpus occurrence (by doc_id order) is
    in that document — the health metric that shows a crawl going
    stale (novelty decays as the corpus saturates) and the additive
    complement of text_repetition's within-doc signal. First
    occurrence is arg-min over the gram key (keyed aggregation — the
    standard inverted-index shape, |distinct grams| rows); shares are
    truncated basis points over exact counts. The trigram explode is
    the same corpus-linear expansion text_tfidf already pays; grams
    shuffle as strings once, first-seen joins back on the gram key."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.filter(F.col("text").isNotNull()).select(
        "doc_id", tokens(F.col("text")).alias("ws")
    ).filter(F.size("ws") >= 3)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(ws) - 3), "
                "i -> concat_ws(' ', ws[i], ws[i + 1], ws[i + 2]))"
            )
        ).alias("g"),
    )
    # first occurrence as a WINDOW min over the gram key instead of
    # groupBy(g) + join-back on g (optimization r14, guide §2.4): the
    # join form shuffled the corpus-sized gram STRINGS twice and
    # recomputed the tokenize+explode subtree for each leg; the window
    # form shuffles them once and the join disappears. Identical
    # values: min over the full g partition is the group min.
    per_doc = (
        grams.withColumn("first_doc", F.min("doc_id").over(Window.partitionBy("g")))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return (
        per_doc.select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.expr("CAST((10000 * n_novel) div n_grams AS BIGINT)").alias("novelty_bp"),
        )
        .orderBy("doc_id")
        .limit(200)
    )


_SENTENCE_ORACLE = """
WITH sent AS (
  SELECT lang,
         list_filter(list_transform(string_split_regex(text, '[.!?]+'), s -> trim(s)),
                     s -> length(s) > 0) AS ss
  FROM documents
),
per_doc AS (
  SELECT lang,
         CAST(len(ss) AS BIGINT) AS n_sent,
         CAST(coalesce(list_sum(list_transform(ss, s -> length(s))), 0) AS BIGINT) AS n_chars
  FROM sent
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(n_sent) AS BIGINT) AS total_sentences,
       CAST(sum(n_sent) * 100 // count(*) AS BIGINT) AS sent_per_doc_x100,
       CAST(CASE WHEN sum(n_sent) = 0 THEN 0
                 ELSE sum(n_chars) * 100 // sum(n_sent) END AS BIGINT)
         AS chars_per_sentence_x100
FROM per_doc GROUP BY lang
"""


@query("text_sentence_stats", oracle=_SENTENCE_ORACLE)
def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation profile per language: split on [.!?]+ runs,
    drop blank fragments, report docs, total sentences, and the x100
    integer ratios (sentences/doc, chars/sentence) a corpus curation
    pass thresholds on (too-short sentences => boilerplate, too-long
    => unsegmented scrape).

    All segmentation runs in higher-order builtins (split / transform /
    filter / aggregate) inside whole-stage codegen — no Python touches
    the text; the shuffle carries only (lang, two bigints) per doc."""
    d = load_table(spark, sf_dir, "documents")
    sent = F.expr(
        "filter(transform(split(text, '[.!?]+'), s -> trim(s)), s -> length(s) > 0)"
    )
    per_doc = d.select(
        "lang",
        F.size(sent).cast("long").alias("n_sent"),
        F.expr(
            "aggregate(filter(transform(split(text, '[.!?]+'), s -> trim(s)),"
            " s -> length(s) > 0), 0L, (a, s) -> a + length(s))"
        )
        .cast("long")
        .alias("n_chars"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("long").alias("docs"),
        F.sum("n_sent").cast("long").alias("total_sentences"),
        F.expr("sum(n_sent) * 100 div count(*)").cast("long").alias("sent_per_doc_x100"),
        F.expr(
            "CASE WHEN sum(n_sent) = 0 THEN 0"
            " ELSE sum(n_chars) * 100 div sum(n_sent) END"
        )
        .cast("long")
        .alias("chars_per_sentence_x100"),
    )


# ---- text_html_extract ----------------------------------------------------------
#
# HTML → text extraction — the step between crawl ingest and every
# text operator in this repo: script/style removal, tag stripping,
# entity decoding, whitespace normalization, title pull-out. Pure
# engine-side regexp/string algebra (codegen'd, no UDF) with a DuckDB
# twin. Each document is wrapped in deterministic HTML scaffolding
# (title, script, style, nav div, an entity sampler paragraph) by
# BOTH engines, so the oracle independently constructs and extracts —
# a hash match proves the extraction chain, not the scaffold.

HTML_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")]


def html_wrap_col():
    d = F.col("doc_id")
    return F.concat(
        F.lit("<html><head><title>Doc "), d.cast("string"),
        F.lit("</title><script>var x = 1 < 2;</script>"
              "<style>.nav { color: red; }</style></head><body><h1>Doc "),
        d.cast("string"),
        F.lit('</h1><p class="main">'),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("</p><p>&amp;amp; &lt;tag&gt; &quot;q&quot; &#39;s&#39;</p>"
              '<div class="nav"><a href="/x?utm_source=f">nav</a></div></body></html>'),
    )


HTML_WRAP_SQL = """
    concat('<html><head><title>Doc ', CAST(doc_id AS VARCHAR),
           '</title><script>var x = 1 < 2;</script>',
           '<style>.nav { color: red; }</style></head><body><h1>Doc ',
           CAST(doc_id AS VARCHAR),
           '</h1><p class="main">', coalesce(text, ''),
           '</p><p>&amp;amp; &lt;tag&gt; &quot;q&quot; &#39;s&#39;</p>',
           '<div class="nav"><a href="/x?utm_source=f">nav</a></div></body></html>')
"""


TEXT_HTML_EXTRACT_ORACLE = f"""
    WITH raw AS (SELECT doc_id, {HTML_WRAP_SQL} AS html FROM documents),
    stripped AS (
      SELECT doc_id,
             regexp_extract(html, '<title>(.*?)</title>', 1) AS title,
             len(regexp_extract_all(
               regexp_replace(regexp_replace(html,
                 '(?s)<script.*?</script>', ' ', 'g'),
                 '(?s)<style.*?</style>', ' ', 'g'),
               '<[^>]+>')) AS n_tags,
             regexp_replace(regexp_replace(html,
               '(?s)<script.*?</script>', ' ', 'g'),
               '(?s)<style.*?</style>', ' ', 'g') AS noscript
      FROM raw
    ),
    decoded AS (
      SELECT doc_id, title, n_tags,
             replace(replace(replace(replace(replace(
               regexp_replace(noscript, '<[^>]+>', ' ', 'g'),
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
               '&amp;', '&') AS txt
      FROM stripped
    )
    SELECT doc_id, title,
           CAST(n_tags AS INTEGER) AS n_tags,
           md5(trim(regexp_replace(txt, '\\s+', ' ', 'g'))) AS text_md5
    FROM decoded
    ORDER BY doc_id
"""


@query("text_html_extract", oracle=TEXT_HTML_EXTRACT_ORACLE)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction — see the section comment above. Scale
    shape: one codegen'd projection over the scan (five regexp passes
    + a fixed entity-decode chain), no shuffle, no UDF; at crawl
    scale this runs fused into the ingest scan before any text
    operator."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    html = html_wrap_col()
    raw = d.select("doc_id", html.alias("html"))
    noscript = F.regexp_replace(
        F.regexp_replace(F.col("html"), r"(?s)<script.*?</script>", " "),
        r"(?s)<style.*?</style>",
        " ",
    )
    txt = F.regexp_replace(noscript, "<[^>]+>", " ")
    for ent, ch in HTML_ENTITIES:
        txt = F.replace(txt, F.lit(ent), F.lit(ch))
    return (
        raw.select(
            "doc_id",
            F.regexp_extract(F.col("html"), "<title>(.*?)</title>", 1).alias("title"),
            F.regexp_count(noscript, F.lit("<[^>]+>")).cast("int").alias("n_tags"),
            F.md5(
                F.encode(
                    F.trim(F.regexp_replace(txt, r"\s+", " ")), "UTF-8"
                )
            ).alias("text_md5"),
        )
        .orderBy("doc_id")
    )


# ---- text_bpe_train --------------------------------------------------------
#
# TRAIN a BPE tokenizer in-engine — the merge-table learning loop
# itself, not just the application `text_tokens_bpe` already covers.
# The classic corpus trick bounds the work: pair statistics are
# computed over the DISTINCT-WORD table weighted by word frequency, so
# after the one corpus-sized word count every iteration runs on
# vocabulary-sized data (≤ |vocab| rows) no matter how large the
# corpus is. Each iteration is (1) one vocabulary-sized pair count —
# partial-aggregable sum, (2) a deterministic arg-max (count DESC,
# then lexicographic left/right), (3) a positional greedy merge
# application, all codegen'd higher-order array ops. Self-pair merges
# (left == right, e.g. "aa") are excluded by construction — with
# left ≠ right adjacent matches can never overlap, so greedy
# left-to-right application is purely positional and both engines
# express it identically (the standard "aaa" ambiguity never arises).
# The DuckDB oracle unrolls the same iterations as chained CTEs (the
# graph_pagerank / quality_train_perceptron idiom), so the whole merge
# trajectory — not just the final table — is hash-exact.

_BPE_ITERS = 6


def _bpe_merged_syms(left, right):
    """The positional greedy-merge EXPRESSION over `syms` for one
    (left, right) merge pair — the single construction both the
    trainer (literal pair, see `_bpe_learn`) and the apply side
    (1-row joined pair, `_bpe_apply_merge`) evaluate, so they cannot
    fork. With l != r matches cannot overlap, so position i is
    consumed iff (syms[i-1], syms[i]) matches, and emits the merged
    symbol iff (syms[i], syms[i+1]) does."""
    syms = F.col("syms")
    e = lambda i: F.try_element_at(syms, i)  # noqa: E731 — null-safe indexing
    keep = F.filter(
        F.sequence(F.lit(1), F.size(syms)),
        lambda i: ~(
            (i > F.lit(1))
            & F.coalesce((e(i - 1) == left) & (e(i) == right), F.lit(False))
        ),
    )
    return F.transform(
        keep,
        lambda i: F.when(
            (e(i) == left) & F.coalesce(e(i + 1) == right, F.lit(False)),
            F.concat(left, right),
        ).otherwise(e(i)),
    )


def _bpe_apply_merge(vframe: DataFrame, top: DataFrame, extra: tuple[str, ...]) -> DataFrame:
    """Apply ONE merge (a 1-row frame with columns l, r) to a
    symbolized frame — the positional greedy merge the trainer uses
    (`_bpe_merged_syms`), factored out so the APPLY side (tokenizer
    deployment: the r13 fertility key) runs the trainer's exact
    expression and cannot fork."""
    return vframe.crossJoin(F.broadcast(top.select("l", "r"))).select(
        _bpe_merged_syms(F.col("l"), F.col("r")).alias("syms"), *extra
    )


def _bpe_learn(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Shared BPE learning chain: (merge rows, final symbolized
    vocabulary). The vocabulary carries (syms, freq, n_chars) so the
    compression key can measure chars→symbols without re-deriving;
    the train key projects only the merge rows."""
    d = load_table(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(tokens(F.coalesce(F.col("text"), F.lit("")))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.substr(F.col("w"), i, F.lit(1)),
    )
    vocab = wf.select(
        chars.alias("syms"), "freq", F.length("w").cast("long").alias("n_chars")
    ).localCheckpoint(eager=True)

    # Optimization round 13 (guide §5/§7.2/§3.3): the previous loop
    # chained each iteration's 1-row arg-max back into the next
    # iteration via crossJoin(broadcast(top)), so the FINAL merge
    # frame's physical plan nested ~21 broadcast-exchange subtrees
    # (4,244 plan lines — plans/r13/text_bpe_train_before.txt) and
    # iteration t re-applied merges 1..t-1 to the checkpointed v0
    # (quadratic re-application). Now each iteration (1) collects the
    # single arg-max row — a bounded 1-row driver fan-in, the
    # sketches.py:270 class, O(1) at any corpus size — and (2) applies
    # it as LITERALS through the shared `_bpe_merged_syms` expression,
    # eager-checkpointing the re-symbolized vocabulary so every
    # iteration runs on materialized vocabulary-sized data exactly
    # once (the compute-once contract; linear, not quadratic, in
    # iterations). The merge table itself becomes a literal 6-row
    # frame. Pair counts, tie-breaks and merge application are the
    # same expressions — every BPE oracle hash is unchanged.
    merge_rows: list[tuple[int, str, str, int]] = []
    exhausted = False
    for rank in range(1, _BPE_ITERS + 1):
        n = F.size("syms")
        top_rows = (
            vocab.filter(n >= 2)
            .select(
                F.explode(
                    F.zip_with(
                        F.slice("syms", 1, n - 1),
                        F.slice("syms", 2, n - 1),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
                "freq",
            )
            .filter(F.col("p.l") != F.col("p.r"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("pair_freq"))
            .orderBy(F.desc("pair_freq"), "l", "r")
            .limit(1)
            .collect()
        )
        if not top_rows:
            # no mergeable pair left: the old crossJoin-with-empty-top
            # form emptied the vocabulary and produced no further
            # merge rows — reproduce that exactly
            exhausted = True
            break
        l, r, pf = top_rows[0]["l"], top_rows[0]["r"], int(top_rows[0]["pair_freq"])
        merge_rows.append((rank, l, r, pf))
        vocab = vocab.select(
            _bpe_merged_syms(F.lit(l), F.lit(r)).alias("syms"), "freq", "n_chars"
        ).localCheckpoint(eager=True)
    if exhausted:
        vocab = vocab.limit(0)
    out = spark.createDataFrame(
        merge_rows,
        schema=T.StructType(
            [
                T.StructField("merge_rank", T.IntegerType(), False),
                T.StructField("left_sym", T.StringType()),
                T.StructField("right_sym", T.StringType()),
                T.StructField("pair_freq", T.LongType(), False),
            ]
        ),
    )
    return out, vocab


def _bpe_apply_sql(t: int) -> str:
    """The SQL select-expression applying merge m{t} to syms — the
    trainer chain's exact text, shared with the apply-side oracles."""
    return f"""list_transform(
           list_filter(generate_series(1, len(syms)),
             i -> NOT (i > 1 AND syms[i - 1] = m{t}.l AND syms[i] = m{t}.r)),
           i -> CASE WHEN syms[i] = m{t}.l AND coalesce(syms[i + 1] = m{t}.r, FALSE)
                     THEN m{t}.l || m{t}.r ELSE syms[i] END) AS syms"""


def _bpe_chain_sql(iters: int) -> str:
    """WITH-body producing wf, v0..v{iters} (symbolized vocabulary
    after each merge) and m1..m{iters} (the merges) — shared by the
    train and compression oracles. DuckDB prunes unreferenced CTEs,
    so each consumer pays only for the tables it reads."""
    its = []
    for t in range(1, iters + 1):
        v = f"v{t - 1}"
        its.append(f"""p{t} AS (
  SELECT l, r, sum(freq) AS pair_freq FROM (
    SELECT unnest(syms[1:len(syms) - 1]) AS l,
           unnest(syms[2:len(syms)]) AS r, freq
    FROM {v} WHERE len(syms) >= 2)
  WHERE l <> r GROUP BY l, r
),
m{t} AS (SELECT l, r, pair_freq FROM p{t} ORDER BY pair_freq DESC, l, r LIMIT 1),
v{t} AS (
  SELECT {_bpe_apply_sql(t)},
         freq, n_chars
  FROM v{t - 1}, m{t}
)""")
    its_sql = ",\n".join(its)
    norm = "regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g')"
    return f"""wf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split({norm}, ' ')) AS w FROM documents)
  WHERE w <> '' GROUP BY w
),
v0 AS (
  SELECT list_transform(generate_series(1, length(w)), i -> w[i]) AS syms, freq,
         CAST(length(w) AS BIGINT) AS n_chars
  FROM wf
),
{its_sql}"""


def _bpe_train_oracle() -> str:
    rows = " UNION ALL ".join(
        f"SELECT CAST({t} AS INTEGER) AS merge_rank, l AS left_sym, r AS right_sym,"
        f" CAST(pair_freq AS BIGINT) AS pair_freq FROM m{t}"
        for t in range(1, _BPE_ITERS + 1)
    )
    return f"""
WITH {_bpe_chain_sql(_BPE_ITERS)}
{rows}
ORDER BY merge_rank
"""


TEXT_BPE_TRAIN_ORACLE = _bpe_train_oracle()


@query("text_bpe_train", oracle=TEXT_BPE_TRAIN_ORACLE)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first `_BPE_ITERS` BPE merges from the corpus; one
    output row per merge: (merge_rank, left_sym, right_sym, pair_freq).

    Scale shape: word-frequency table first (the only corpus-sized
    aggregate, shuffled once on the word itself), eagerly
    localCheckpoint'ed so the six iteration subtrees reuse the
    materialized vocabulary instead of re-scanning the corpus (the
    compute-once/reuse-per-iteration contract the perceptron key
    established). Every subsequent stage is vocabulary-bounded; the
    arg-max is a 1-row limit over the pair-type table, broadcast back
    into the merge application. On the fixtures rank 6 merges a
    MULTI-char symbol ("m" + "er"), proving the iterations genuinely
    compound rather than replaying character statistics."""
    merges, _vocab = _bpe_learn(spark, sf_dir)
    return merges.orderBy("merge_rank")


# ---- text_bpe_compression --------------------------------------------------
#
# The train→apply→measure closure: apply the learned merge table back
# to the corpus vocabulary and report what the tokenizer buys — total
# chars vs post-merge symbols and the compression in basis points.
# This is the number a tokenizer-training pipeline actually gates on
# (did the merges compress the corpus enough to justify the vocab
# slots?), computed entirely in-engine off the same proven chain.


TEXT_BPE_COMPRESSION_ORACLE = f"""
WITH {_bpe_chain_sql(_BPE_ITERS)}
SELECT CAST(count(*) AS BIGINT) AS distinct_words,
       CAST(sum(freq) AS BIGINT) AS corpus_words,
       CAST(sum(freq * n_chars) AS BIGINT) AS chars_total,
       CAST(sum(freq * len(syms)) AS BIGINT) AS symbols_total,
       CAST(sum(freq * len(syms)) * 10000 // sum(freq * n_chars) AS BIGINT)
         AS compression_bp
FROM v{_BPE_ITERS}
"""


@query("text_bpe_compression", oracle=TEXT_BPE_COMPRESSION_ORACLE)
def text_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level tokenizer yield after `_BPE_ITERS` merges — ONE
    row: (distinct_words, corpus_words, chars_total, symbols_total,
    compression_bp).

    Scale shape: identical to text_bpe_train (shares `_bpe_learn`) —
    the measurement itself is one keyless partial-aggregable sum over
    the vocabulary-sized table, weighted by word frequency, so the
    corpus-level yield never touches corpus-sized data after the
    initial word count."""
    _merges, vocab = _bpe_learn(spark, sf_dir)
    return vocab.agg(
        F.count("*").cast("long").alias("distinct_words"),
        F.sum("freq").cast("long").alias("corpus_words"),
        F.sum(F.col("freq") * F.col("n_chars")).cast("long").alias("chars_total"),
        F.sum(F.col("freq") * F.size("syms")).cast("long").alias("symbols_total"),
        F.expr(
            "CAST(sum(freq * size(syms)) * 10000 div sum(freq * n_chars) AS BIGINT)"
        ).alias("compression_bp"),
    )


# ---- text_bigram_heldout ---------------------------------------------------
#
# The LM analog of the perceptron's train/test discipline: the bigram
# model is TRAINED on even doc_ids only and scores the HELD-OUT odd
# docs, which forces the smoothing question the in-corpus
# `text_bigram_lm` never faces (unseen bigrams and unseen contexts).
# Add-one (Laplace) smoothing over the train vocabulary keeps every
# held-out bigram's probability defined: P(w2|w1) = (c2+1)/(c1+V).
# Same float discipline as text_bigram_lm: both engines compute
# identical IEEE doubles from identical integer counts, mean ln P
# rounded to 3 dp.


TEXT_BIGRAM_HELDOUT_ORACLE = """
WITH big AS (
  SELECT doc_id,
         unnest(t[1:len(t)-1]) AS w1,
         unnest(t[2:len(t)]) AS w2
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
),
train AS (SELECT * FROM big WHERE doc_id % 2 = 0),
test AS (SELECT * FROM big WHERE doc_id % 2 = 1),
c2 AS (SELECT w1, w2, count(*) AS n2 FROM train GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS n1 FROM train GROUP BY w1),
vocab AS (
  SELECT count(DISTINCT w) AS vsize FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents WHERE doc_id % 2 = 0)
)
SELECT t.doc_id,
       count(*) AS n_bigrams,
       round(avg(ln((coalesce(c2.n2, 0) + 1) * 1.0
                    / (coalesce(c1.n1, 0) + vocab.vsize))), 3) AS heldout_lm_score
FROM test t
LEFT JOIN c2 ON t.w1 = c2.w1 AND t.w2 = c2.w2
LEFT JOIN c1 ON t.w1 = c1.w1
CROSS JOIN vocab
GROUP BY t.doc_id
ORDER BY t.doc_id
"""


@query("text_bigram_heldout", oracle=TEXT_BIGRAM_HELDOUT_ORACLE)
def text_bigram_heldout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out LM scoring; one row per odd doc: (doc_id, n_bigrams,
    heldout_lm_score = round(mean ln P_laplace, 3)).

    Scale shape: identical to text_bigram_lm — two partial-aggregated
    count tables bounded by observed vocabulary (± its square), the
    train/test split is a row-level filter on the same scan, the
    vocabulary size is a 1-row broadcast, and the scoring joins key
    on (w1[,w2]) with AQE choosing broadcast vs shuffle per side."""
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
    train = big.filter(F.col("doc_id") % 2 == 0)
    test = big.filter(F.col("doc_id") % 2 == 1)
    c2 = train.groupBy("w1", "w2").agg(F.count("*").alias("n2"))
    c1 = train.groupBy("w1").agg(F.count("*").alias("n1"))
    vocab = (
        d.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode(F.split("text", " ")).alias("w"))
        .agg(F.countDistinct("w").alias("vsize"))
    )
    return (
        test.join(c2, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(
                    F.log(
                        (F.coalesce(F.col("n2"), F.lit(0)) + 1) * 1.0
                        / (F.coalesce(F.col("n1"), F.lit(0)) + F.col("vsize"))
                    )
                ),
                3,
            ).alias("heldout_lm_score"),
        )
        .orderBy("doc_id")
    )


# ---- text_char_entropy -----------------------------------------------------
#
# Character-entropy quality signal — the compression-proxy junk
# filter (published corpus pipelines gate on compression ratio /
# entropy to drop binary spew, repeated-char padding and
# template-degenerate text; Shannon character entropy is the
# SQL-expressible form of that signal, low = degenerate). Float
# determinism here is STRONGER than the avg-of-ln idiom the LM keys
# use: the per-doc entropy is folded over the character histogram in
# SORTED character order on BOTH engines (sort_array + aggregate on
# Spark, list_sort + list_sum on DuckDB), so the IEEE sum order is
# pinned and the doubles are bit-identical by construction, not by
# rounding luck.


_TCE_NORM = "regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g')"

TEXT_CHAR_ENTROPY_ORACLE = f"""
WITH s AS (
  SELECT doc_id, {_TCE_NORM} AS s FROM documents
),
ex AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, length(s)), i -> s[i])) AS ch
  FROM s WHERE length(s) > 0
),
cnts AS (
  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c FROM ex GROUP BY doc_id, ch
),
per AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_distinct_chars,
         list_sort(list(struct_pack(ch := ch, c := c))) AS arr
  FROM cnts GROUP BY doc_id
)
SELECT doc_id,
       n AS n_chars_norm,
       n_distinct_chars,
       round(list_sum(list_transform(arr,
             s -> -(CAST(s.c AS DOUBLE) / n) * ln(CAST(s.c AS DOUBLE) / n))), 4)
         AS char_entropy
FROM per
ORDER BY doc_id
"""


@query("text_char_entropy", oracle=TEXT_CHAR_ENTROPY_ORACLE)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon character entropy over the normalized text;
    one row per non-empty doc: (doc_id, n_chars_norm,
    n_distinct_chars, char_entropy [nats, 4 dp]).

    Scale shape: the char explode is map-side; both aggregations key
    on doc_id (the second reuses the first's partitioning), and the
    per-doc histogram is alphabet-bounded (≤ a few hundred structs),
    so the sorted fold is O(alphabet) per doc. At 100 TB this is one
    narrow shuffle of (doc_id, char, count) triples."""
    from datapipeline_scripts_spark.functions.text import normalize_text

    d = load_table(spark, sf_dir, "documents")
    chars = F.transform(
        F.sequence(F.lit(1), F.length("s")),
        lambda i: F.substr(F.col("s"), i, F.lit(1)),
    )
    ex = (
        d.select(
            "doc_id", normalize_text(F.coalesce(F.col("text"), F.lit(""))).alias("s")
        )
        .filter(F.length("s") > 0)
        .select("doc_id", F.explode(chars).alias("ch"))
    )
    cnts = ex.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    per = cnts.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count("*").cast("long").alias("n_distinct_chars"),
        F.sort_array(F.collect_list(F.struct(F.col("ch"), F.col("c")))).alias("arr"),
    )
    ent = F.aggregate(
        F.col("arr"),
        F.lit(0.0),
        lambda acc, s: acc
        - (s["c"].cast("double") / F.col("n"))
        * F.log(s["c"].cast("double") / F.col("n")),
    )
    return per.select(
        "doc_id",
        F.col("n").cast("long").alias("n_chars_norm"),
        "n_distinct_chars",
        F.round(ent, 4).alias("char_entropy"),
    ).orderBy("doc_id")


# ---- text_code_detect -------------------------------------------------------

_CODE_THRESHOLD = 60


def _occ_sql(expr: str, needle: str) -> str:
    esc = needle.replace("'", "''")
    return f"((length({expr}) - length(replace({expr}, '{esc}', ''))) // {len(needle)})"


_CODE_BODY_SQL = (
    "CASE WHEN doc_id % 5 = 0 THEN "
    "concat('def fn_', CAST(doc_id AS VARCHAR), '(a_x, b_y): { v_z = a_x * ', "
    "CAST(doc_id AS VARCHAR), '; return v_z + b_y; }') "
    "ELSE coalesce(text, '') END"
)

TEXT_CODE_DETECT_ORACLE = f"""
WITH b AS (SELECT doc_id, {_CODE_BODY_SQL} AS body FROM documents),
s AS (
  SELECT doc_id,
         CAST({_occ_sql("body", ";")} * 20
            + {_occ_sql("body", "{")} * 15
            + {_occ_sql("body", "def ")} * 25
            + {_occ_sql("body", "return ")} * 25
            + {_occ_sql("body", "_")} * 5
            - {_occ_sql("body", " the ")} * 10 AS BIGINT) AS code_score
  FROM b
)
SELECT doc_id, code_score,
       CASE WHEN code_score >= {_CODE_THRESHOLD} THEN 'code' ELSE 'prose' END AS label
FROM s ORDER BY doc_id
"""


@query("text_code_detect", oracle=TEXT_CODE_DETECT_ORACLE)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose gate; one row per document:
    (doc_id, code_score, label ∈ code/prose).

    Deterministic synthetic code bodies are injected for
    doc_id % 5 == 0 (construct-the-variant idiom) so both classes are
    exercised; the detector weighs code markers (`;`, `{`, `def `,
    `return `, `_`) against the prose marker (` the `), all counted
    by the length-difference-after-replace identity — pure codegen'd
    string expressions, no UDF, no regex engine divergence risk.

    Scale shape: a single scan projection — embarrassingly parallel,
    zero shuffles (the per-doc verdict IS the output; a per-source
    rollup composes as one partial-aggregable groupBy downstream)."""
    d = load_table(spark, sf_dir, "documents")
    body = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.lit("def fn_"),
            F.col("doc_id").cast("string"),
            F.lit("(a_x, b_y): { v_z = a_x * "),
            F.col("doc_id").cast("string"),
            F.lit("; return v_z + b_y; }"),
        ),
    ).otherwise(F.coalesce(F.col("text"), F.lit("")))

    def occ(col, needle: str):
        # the length-difference identity counts occurrences exactly;
        # the diff is a multiple of len(needle), so the division is
        # integer-exact on both engines
        return (
            (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit(""))))
            / F.lit(len(needle))
        ).cast("long")

    score = (
        occ(body, ";") * 20
        + occ(body, "{") * 15
        + occ(body, "def ") * 25
        + occ(body, "return ") * 25
        + occ(body, "_") * 5
        - occ(body, " the ") * 10
    ).cast("long")
    return d.select(
        "doc_id",
        score.alias("code_score"),
        F.when(score >= _CODE_THRESHOLD, "code").otherwise("prose").alias("label"),
    ).orderBy("doc_id")


# ---- text_chunk_spans ---------------------------------------------------------
#
# Retrieval-side chunking — the RAG-ingest twin of the packing keys:
# where corpus_pack assembles trainer sequences ACROSS documents,
# retrieval chunks each document WITHIN itself into fixed-size token
# windows with overlap (the stride < window trick every embedding
# index uses so no passage is split across a hard boundary without a
# covering neighbor). Pure integer span arithmetic over the token
# count: chunk k of a doc with n tokens covers
# [k·stride, min(k·stride + window, n)), for k = 0 .. the last k
# whose window start is inside the doc; every token lands in ≥ 1
# chunk and interior tokens in exactly window/stride of them.

_CHUNK_WINDOW = 12
_CHUNK_STRIDE = 8  # overlap = window - stride = 4 tokens


TEXT_CHUNK_SPANS_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         len(string_split(regexp_replace(trim(lower(coalesce(text, ''))),
             '\\s+', ' ', 'g'), ' ')) AS n
  FROM documents
),
ch AS (
  SELECT doc_id, n,
         unnest(generate_series(0, greatest(0, (n - 1) // {_CHUNK_STRIDE}))) AS chunk_id
  FROM d
)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(chunk_id * {_CHUNK_STRIDE} AS BIGINT) AS begin_tok,
       CAST(least(chunk_id * {_CHUNK_STRIDE} + {_CHUNK_WINDOW}, n) AS BIGINT) AS end_tok,
       CAST(least(chunk_id * {_CHUNK_STRIDE} + {_CHUNK_WINDOW}, n)
            - chunk_id * {_CHUNK_STRIDE} AS BIGINT) AS n_tok,
       chunk_id * {_CHUNK_STRIDE} + {_CHUNK_STRIDE} >= n AS is_last
FROM ch
ORDER BY doc_id, chunk_id
"""


@query("text_chunk_spans", oracle=TEXT_CHUNK_SPANS_ORACLE)
def text_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-chunk spans; one row per (doc, chunk):
    (doc_id, chunk_id, begin_tok, end_tok, n_tok, is_last).

    Scale shape: one scan projection + a map-side explode of
    ceil(n/stride) span rows per doc — no shuffle at all (the spans
    are derived per-row); the downstream embed step consumes the
    spans co-partitioned with their documents. At 100 TB this is the
    cheapest operator in the RAG chain; the cost lives in the
    embedding pass it feeds."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens(F.coalesce(F.col("text"), F.lit("")))).alias("n")
    )
    # last chunk index: the largest k with k*stride < n (k=0 always
    # exists; empty docs still get one empty chunk row so no doc
    # silently vanishes from the index)
    last_k = F.greatest(
        F.lit(0),
        ((F.col("n") - 1) / F.lit(_CHUNK_STRIDE)).cast("long"),
    )
    ch = d.select(
        "doc_id", "n", F.explode(F.sequence(F.lit(0), last_k)).alias("chunk_id")
    )
    begin = F.col("chunk_id") * _CHUNK_STRIDE
    end = F.least(begin + _CHUNK_WINDOW, F.col("n"))
    return ch.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        begin.cast("long").alias("begin_tok"),
        end.cast("long").alias("end_tok"),
        (end - begin).cast("long").alias("n_tok"),
        (begin + F.lit(_CHUNK_STRIDE) >= F.col("n")).alias("is_last"),
    ).orderBy("doc_id", "chunk_id")


# ---- text_bpe_fertility -----------------------------------------------------------


def _fertility_oracle() -> str:

    norm = "regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g')"
    applies = ",\n".join(
        f"""s{t} AS (
  SELECT source, {_bpe_apply_sql(t)},
         freq, n_chars
  FROM s{t - 1}, m{t}
)"""
        for t in range(1, _BPE_ITERS + 1)
    )
    return f"""
WITH {_bpe_chain_sql(_BPE_ITERS)},
swf AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT source, unnest(string_split({norm}, ' ')) AS w FROM documents)
  WHERE w <> '' GROUP BY source, w
),
s0 AS (
  SELECT source, list_transform(generate_series(1, length(w)), i -> w[i]) AS syms,
         freq, CAST(length(w) AS BIGINT) AS n_chars
  FROM swf
),
{applies}
SELECT source, CAST(sum(freq) AS BIGINT) AS corpus_words,
       CAST(sum(freq * n_chars) AS BIGINT) AS chars_total,
       CAST(sum(freq * len(syms)) AS BIGINT) AS symbols_total,
       CAST(sum(freq * len(syms)) * 100 // sum(freq) AS BIGINT) AS symbols_per_100w,
       CAST(sum(freq * len(syms)) * 10000 // sum(freq * n_chars) AS BIGINT) AS compression_bp
FROM s{_BPE_ITERS} GROUP BY source ORDER BY source
"""


TEXT_BPE_FERTILITY_ORACLE = _fertility_oracle()


@query("text_bpe_fertility", oracle=TEXT_BPE_FERTILITY_ORACLE)
def text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source — the APPLY side of the BPE
    family (the registered text_bpe_train/_compression keys train and
    measure corpus-wide; a deployed tokenizer is a frozen merge table
    APPLIED to new text, and fertility — symbols emitted per word —
    is the per-source diagnostic a pretraining owner reads to spot
    sources the tokenizer serves poorly). One row per source:
    (source, corpus_words, chars_total, symbols_total,
    symbols_per_100w, compression_bp).

    The merge table comes from the registered trainer (`_bpe_learn`,
    eager-checkpointed — 6 rows), and each merge applies through the
    trainer's exact positional-greedy expression
    (`_bpe_apply_merge`, factored for exactly this reuse) over the
    per-source word table, so train and apply cannot fork.

    Scale shape: the apply side is |sources| x |vocab| rows (word-
    level, never corpus-positional) re-symbolized against 6 broadcast
    1-row merges — codegen'd array algebra, one groupBy(source, w)
    shuffle up front and a |sources|-group rollup at the end."""

    merges, _vocab = _bpe_learn(spark, sf_dir)
    merges = merges.localCheckpoint(eager=True)
    d = load_table(spark, sf_dir, "documents")
    swf = (
        d.select(
            "source",
            F.explode(tokens(F.coalesce(F.col("text"), F.lit("")))).alias("w"),
        )
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.substr(F.col("w"), i, F.lit(1)),
    )
    sv = swf.select(
        "source", chars.alias("syms"), "freq", F.length("w").cast("long").alias("n_chars")
    )
    for rank in range(1, _BPE_ITERS + 1):
        top = merges.filter(F.col("merge_rank") == rank).select(
            F.col("left_sym").alias("l"), F.col("right_sym").alias("r")
        )
        sv = _bpe_apply_merge(sv, top, ("source", "freq", "n_chars"))
    return (
        sv.groupBy("source")
        .agg(
            F.sum("freq").cast("long").alias("corpus_words"),
            F.sum(F.col("freq") * F.col("n_chars")).cast("long").alias("chars_total"),
            F.sum(F.col("freq") * F.size("syms")).cast("long").alias("symbols_total"),
            F.expr("CAST(sum(freq * size(syms)) * 100 div sum(freq) AS BIGINT)").alias(
                "symbols_per_100w"
            ),
            F.expr(
                "CAST(sum(freq * size(syms)) * 10000 div sum(freq * n_chars) AS BIGINT)"
            ).alias("compression_bp"),
        )
        .orderBy("source")
    )
