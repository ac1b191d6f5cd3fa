"""E3 — text analysis over `documents`: token stats, term frequency,
quality scoring, language ID, content fingerprinting.

All pure Catalyst expressions (split/filter/explode/md5) — the text hot
path stays JVM-side; at 100 TB the only shuffles are the final small
aggregations (explode feeds straight into partial aggregation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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
