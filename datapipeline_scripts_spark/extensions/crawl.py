"""Web-crawl operators: what a corpus build runs between fetch and
text.

URL canonicalization (`web_url_canonical_dedup`), robots.txt
longest-match filtering (`web_robots_filter`), per-host politeness
scheduling (`crawl_frontier_schedule`) and host-graph PageRank
(`web_host_pagerank`), plus two flagships that chain them:
`crawl_pipeline` (fetch records to a per-host funnel report) and
`crawl_increment_pipeline` (an arriving increment through the exact
and near-duplicate stores and the quality gate). Every stage reuses its standalone key's expressions, so
the flagships cannot fork semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datapipeline_scripts_spark.catalog import load_table
from datapipeline_scripts_spark.extensions.dedup import (
    _BANDS,
    _N_HASHES,
    _SHINGLE_SQL,
    MSTORE_THRESH,
    _minhash_hex32_sql,
    band_join,
    band_rows,
    minhash_sigs_of,
    sig_agreement,
)
from datapipeline_scripts_spark.extensions.quality_model import (
    PE_ITERS,
    PE_SCORE_SQL,
    pe_score,
    pe_train_sql,
    pe_weights,
    perceptron_features_of,
)
from datapipeline_scripts_spark.extensions.textstats import HTML_ENTITIES, HTML_WRAP_SQL, html_wrap_col
from datapipeline_scripts_spark.functions.text import fingerprint_md5, md5_48, md5_48_sql, tokens
from datapipeline_scripts_spark.registry import query


# ---- web_url_canonical_dedup ----------------------------------------------------
#
# URL canonicalization — the first dedup any crawl pipeline runs
# (before any content hash): scheme/host case-folding, default-port
# stripping, trailing-slash normalization, tracking-param removal and
# query-param ordering all collapse into one canonical form, and docs
# sharing it are refetch duplicates. The op is PURE engine-side string
# algebra (regexp extracts + higher-order array ops — no UDF), so the
# DuckDB twin reproduces it exactly. The messy variants are
# constructed deterministically from doc_id (four docs share each
# canonical URL, with case/port/slash/param-order/utm noise rotating),
# so the oracle both constructs and canonicalizes independently.


def _messy_url_col():
    d = F.col("doc_id")
    base = (d / 4).cast("long")
    scheme = F.when(d % 2 == 0, "https").otherwise("HTTPS")
    host = F.element_at(
        F.array(
            F.lit("crawl.example.com"),
            F.lit("Crawl.Example.COM"),
            F.lit("CRAWL.EXAMPLE.COM"),
        ),
        (d % 3 + 1).cast("int"),
    )
    port = F.when(d % 5 == 0, ":443").otherwise("")
    path = F.concat(F.lit("/docs/"), base.cast("string"),
                    F.when(d % 2 == 1, "/").otherwise(""))
    p_id = F.concat(F.lit("id="), base.cast("string"))
    p_lang = F.lit("lang=en")
    params = F.when(d % 2 == 0, F.array(p_id, p_lang)).otherwise(F.array(p_lang, p_id))
    params = F.when(d % 3 == 1, F.concat(params, F.array(F.lit("utm_source=feed")))).otherwise(params)
    return F.concat(scheme, F.lit("://"), host, port, path,
                    F.lit("?"), F.array_join(params, "&"))


_MESSY_URL_SQL = """
    concat(CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END, '://',
           (['crawl.example.com', 'Crawl.Example.COM', 'CRAWL.EXAMPLE.COM'])[doc_id % 3 + 1],
           CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END,
           '/docs/', CAST(doc_id // 4 AS VARCHAR),
           CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END,
           '?',
           array_to_string(
             CASE WHEN doc_id % 3 = 1 THEN
               list_append(CASE WHEN doc_id % 2 = 0
                 THEN ['id=' || CAST(doc_id // 4 AS VARCHAR), 'lang=en']
                 ELSE ['lang=en', 'id=' || CAST(doc_id // 4 AS VARCHAR)] END,
                 'utm_source=feed')
             ELSE CASE WHEN doc_id % 2 = 0
                 THEN ['id=' || CAST(doc_id // 4 AS VARCHAR), 'lang=en']
                 ELSE ['lang=en', 'id=' || CAST(doc_id // 4 AS VARCHAR)] END
             END, '&'))
"""


WEB_URL_CANONICAL_DEDUP_ORACLE = f"""
    WITH raw AS (
      SELECT doc_id, {_MESSY_URL_SQL} AS url FROM documents
    ),
    canon AS (
      SELECT doc_id, url,
             concat(
               lower(regexp_extract(url, '^([^:]+)://', 1)), '://',
               regexp_replace(lower(regexp_extract(url, '^[^:]+://([^/?]+)', 1)), ':443$', ''),
               regexp_replace(regexp_extract(url, '^[^:]+://[^/?]+(/[^?]*)', 1), '/+$', ''),
               CASE WHEN qs <> '' THEN '?' || qs ELSE '' END
             ) AS canonical_url
      FROM (
        SELECT doc_id, url,
               array_to_string(list_sort(list_filter(
                 string_split(regexp_extract(url, '\\?(.*)$', 1), '&'),
                 p -> p NOT LIKE 'utm\\_%' ESCAPE '\\')), '&') AS qs
        FROM raw
      )
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT url) AS BIGINT) AS n_variants,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id
    FROM canon
    GROUP BY canonical_url
    ORDER BY canonical_url
"""


def canonical_url(url: F.Column) -> F.Column:
    """The canonicalization expression itself — scheme/host
    case-fold, :443 strip, trailing-slash strip, utm_* removal,
    query-param sort — factored out so edge cases (empty query after
    utm stripping, bare path, repeated slashes) are unit-testable
    beyond the fixture's oracle gate."""
    qs = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.regexp_extract(url, r"\?(.*)$", 1), "&"),
                lambda p: ~p.startswith("utm_") & (p != ""),
            )
        ),
        "&",
    )
    return F.concat(
        F.lower(F.regexp_extract(url, r"^([^:]+)://", 1)),
        F.lit("://"),
        F.regexp_replace(
            F.lower(F.regexp_extract(url, r"^[^:]+://([^/?]+)", 1)), ":443$", ""
        ),
        F.regexp_replace(
            F.regexp_extract(url, r"^[^:]+://[^/?]+(/[^?]*)", 1), "/+$", ""
        ),
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(""),
    )


@query("web_url_canonical_dedup", oracle=WEB_URL_CANONICAL_DEDUP_ORACLE)
def web_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — see the section comment above.
    Scale shape: the canonicalization is a codegen'd per-row
    projection (regexp extracts + one bounded array sort over query
    params); the only shuffle groups on the canonical-url string —
    at crawl scale, group on md5(canonical_url) to shuffle 16-byte
    keys instead (the fingerprint_md5 idiom)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    raw = d.select("doc_id", _messy_url_col().alias("url"))
    canon = raw.select(
        "doc_id",
        "url",
        canonical_url(F.col("url")).alias("canonical_url"),
    )
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("url").alias("n_variants"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .orderBy("canonical_url")
    )


# ---- web_robots_filter ------------------------------------------------------------
#
# robots.txt evaluation — the fetch-policy gate every crawler runs
# before a URL enters the corpus: per-host rule lists, LONGEST-MATCH
# precedence (the Google/RFC 9309 semantics), default-allow when no
# rule matches. The rule match is generic engine-side logic on BOTH
# sides: Spark filters the in-row rule array by prefix and folds to
# the longest match; the DuckDB oracle runs a correlated
# longest-match subquery over the same unnested rules — neither side
# hand-evaluates outcomes. Hosts, rules and request paths derive
# deterministically from doc_id (one host in five, four path classes:
# unruled, disallowed subtree, allow-override inside it, and a
# host-specific disallowed area).


def _robots_rules_col():
    d = F.col("doc_id")
    return F.array(
        F.struct(F.lit("/private").alias("rpath"), F.lit(False).alias("allow")),
        F.struct(F.lit("/private/ok").alias("rpath"), F.lit(True).alias("allow")),
        F.struct(
            F.concat(F.lit("/area"), (d % 5).cast("string")).alias("rpath"),
            F.lit(False).alias("allow"),
        ),
    )


WEB_ROBOTS_FILTER_ORACLE = """
    WITH u AS (
      SELECT doc_id,
             'h' || CAST(doc_id % 5 AS VARCHAR) || '.example.com' AS host,
             (['/public/page', '/private/page', '/private/ok/page',
               '/area' || CAST(doc_id % 5 AS VARCHAR) || '/page'])[doc_id % 4 + 1] AS path,
             [struct_pack(rpath := '/private', allow := false),
              struct_pack(rpath := '/private/ok', allow := true),
              struct_pack(rpath := '/area' || CAST(doc_id % 5 AS VARCHAR),
                          allow := false)] AS rules
      FROM documents
    )
    SELECT doc_id, host, path,
           coalesce((SELECT r.rpath FROM unnest(u.rules) AS t(r)
                     WHERE starts_with(u.path, r.rpath)
                     ORDER BY len(r.rpath) DESC LIMIT 1), '') AS matched_rule,
           coalesce((SELECT r.allow FROM unnest(u.rules) AS t(r)
                     WHERE starts_with(u.path, r.rpath)
                     ORDER BY len(r.rpath) DESC LIMIT 1), true) AS allowed
    FROM u
    ORDER BY doc_id
"""


@query("web_robots_filter", oracle=WEB_ROBOTS_FILTER_ORACLE)
def web_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt longest-match evaluation — see the section comment.
    Scale shape: the rule list rides in-row (at crawl scale it arrives
    via a broadcast host→rules join — rules tables are MB-sized) and
    the match is a bounded in-row fold: no shuffle, no UDF, codegen'd
    prefix tests."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    host = F.concat(F.lit("h"), (did % 5).cast("string"), F.lit(".example.com"))
    path = F.element_at(
        F.array(
            F.lit("/public/page"),
            F.lit("/private/page"),
            F.lit("/private/ok/page"),
            F.concat(F.lit("/area"), (did % 5).cast("string"), F.lit("/page")),
        ),
        (did % 4 + 1).cast("int"),
    )
    u = d.select("doc_id", host.alias("host"), path.alias("path"),
                 _robots_rules_col().alias("rules"))
    matched = F.filter(F.col("rules"), lambda r: F.col("path").startswith(r["rpath"]))
    init = F.struct(
        F.lit(-1).alias("l"), F.lit("").alias("rpath"), F.lit(True).alias("allow")
    )
    best = F.aggregate(
        matched,
        init,
        lambda acc, r: F.when(
            F.length(r["rpath"]) > acc["l"],
            F.struct(
                F.length(r["rpath"]).alias("l"),
                r["rpath"].alias("rpath"),
                r["allow"].alias("allow"),
            ),
        ).otherwise(acc),
    )
    return (
        u.select(
            "doc_id",
            "host",
            "path",
            best["rpath"].alias("matched_rule"),
            best["allow"].alias("allowed"),
        )
        .orderBy("doc_id")
    )


# ---- crawl_frontier_schedule -----------------------------------------------
#
# Frontier scheduling under per-host politeness — the step between
# `web_robots_filter` (may we fetch it?) and the fetch itself (when?):
# URLs hash to hosts, each host serializes its fetches (wave =
# priority rank within host, higher-value pages first), waves convert
# to fetch offsets through the host's crawl-delay, and a per-host
# budget cap marks the backlog beyond it unscheduled. Deterministic
# host/delay assignment from doc_id keeps both engines identical.

_FRONTIER_HOSTS = 7
_FRONTIER_CAP = 40


CRAWL_FRONTIER_SCHEDULE_ORACLE = f"""
WITH f AS (
  SELECT doc_id,
         'host' || CAST(doc_id % {_FRONTIER_HOSTS} AS VARCHAR) || '.example.com' AS host,
         1 + (doc_id % {_FRONTIER_HOSTS}) % 3 AS crawl_delay_s,
         n_chars AS priority
  FROM documents
),
w AS (
  SELECT doc_id, host, crawl_delay_s,
         row_number() OVER (PARTITION BY host ORDER BY priority DESC, doc_id) AS wave
  FROM f
)
SELECT doc_id, host, CAST(wave AS BIGINT) AS wave,
       CAST(CASE WHEN wave <= {_FRONTIER_CAP} THEN 1 ELSE 0 END AS BIGINT) AS scheduled,
       CAST(CASE WHEN wave <= {_FRONTIER_CAP}
                 THEN (wave - 1) * crawl_delay_s END AS BIGINT) AS fetch_at_s
FROM w
ORDER BY doc_id
"""


@query("crawl_frontier_schedule", oracle=CRAWL_FRONTIER_SCHEDULE_ORACLE)
def crawl_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness schedule; one row per URL: (doc_id, host, wave,
    scheduled, fetch_at_s — NULL when the cap drops it).

    Scale shape: ONE window partitioned by host — the frontier's
    inherent unit of order (every fetch slot depends on the host's
    full queue, so a per-host rank is irreducible); hot hosts are the
    classic skew case and AQE's skew handling plus the budget cap
    bound what leaves the operator. The rank feeds pure arithmetic
    (wave → fetch offset via the host's crawl-delay) — no second
    shuffle."""
    d = load_table(spark, sf_dir, "documents")
    host_id = (F.col("doc_id") % _FRONTIER_HOSTS).cast("long")
    f = d.select(
        "doc_id",
        F.concat(
            F.lit("host"), host_id.cast("string"), F.lit(".example.com")
        ).alias("host"),
        (F.lit(1) + host_id % 3).cast("long").alias("crawl_delay_s"),
        F.col("n_chars").alias("priority"),
    )
    w = Window.partitionBy("host").orderBy(F.desc("priority"), "doc_id")
    out = f.select("*", F.row_number().over(w).cast("long").alias("wave"))
    sched = F.col("wave") <= _FRONTIER_CAP
    return out.select(
        "doc_id",
        "host",
        "wave",
        F.when(sched, 1).otherwise(0).cast("long").alias("scheduled"),
        F.when(sched, (F.col("wave") - 1) * F.col("crawl_delay_s"))
        .otherwise(F.lit(None))
        .cast("long")
        .alias("fetch_at_s"),
    ).orderBy("doc_id")


# ---- crawl_pipeline (the crawl-side flagship) ------------------------------
#
# The end-to-end CRAWL counterpart to `pretraining_pipeline`: every
# stage a production crawler runs between raw fetch records and the
# corpus handoff, chained as ONE key and hash-proven per host:
#
#     messy fetch records (4 URL variants per logical page)
#     → canonical-URL refetch dedup (survivor = min doc_id)
#     → robots longest-match gate on the canonical path
#     → HTML → text extraction of the surviving fetch
#     → quality gate (word floor) on the EXTRACTED text
#     → per-host politeness schedule of the kept set
#     → per-host funnel report (pages → allowed → kept) with
#       schedule stats and an md5_48 content checksum
#
# Every stage reuses the SEMANTICS of its proven standalone key:
# canonicalization is `canonical_url` itself (the shared expression),
# the robots fold is `web_robots_filter`'s longest-match aggregate,
# the extraction chain is `text_html_extract`'s scaffold + passes
# (html_wrap_col is the shared constructor), the word floor is the
# curation gate's, and the schedule is `crawl_frontier_schedule`'s
# wave arithmetic. A hash match on the per-host report therefore
# proves the whole chain end to end — the fetch-side analog of the
# pretraining flagship's ingest→export proof.

_CP_MIN_WORDS = 30


CRAWL_PIPELINE_ORACLE = f"""
WITH raw AS (
  SELECT doc_id,
         'h' || CAST((doc_id // 4) % 5 AS VARCHAR) || '.example.com' AS host,
         concat(
           CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END, '://',
           'h' || CAST((doc_id // 4) % 5 AS VARCHAR) || '.example.com',
           CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END,
           (['/public', '/private', '/private/ok',
             '/area' || CAST((doc_id // 4) % 5 AS VARCHAR)])[(doc_id // 4) % 4 + 1],
           '/docs/', CAST(doc_id // 4 AS VARCHAR),
           CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END,
           '?',
           array_to_string(
             CASE WHEN doc_id % 3 = 1 THEN
               list_append(CASE WHEN doc_id % 2 = 0
                 THEN ['id=' || CAST(doc_id // 4 AS VARCHAR), 'lang=en']
                 ELSE ['lang=en', 'id=' || CAST(doc_id // 4 AS VARCHAR)] END,
                 'utm_source=feed')
             ELSE CASE WHEN doc_id % 2 = 0
                 THEN ['id=' || CAST(doc_id // 4 AS VARCHAR), 'lang=en']
                 ELSE ['lang=en', 'id=' || CAST(doc_id // 4 AS VARCHAR)] END
             END, '&'))
         AS url
  FROM documents
),
canon AS (
  SELECT doc_id, host,
         concat(
           lower(regexp_extract(url, '^([^:]+)://', 1)), '://',
           regexp_replace(lower(regexp_extract(url, '^[^:]+://([^/?]+)', 1)), ':443$', ''),
           regexp_replace(regexp_extract(url, '^[^:]+://[^/?]+(/[^?]*)', 1), '/+$', ''),
           CASE WHEN qs <> '' THEN '?' || qs ELSE '' END
         ) AS curl
  FROM (
    SELECT doc_id, host, url,
           array_to_string(list_sort(list_filter(
             string_split(regexp_extract(url, '\\?(.*)$', 1), '&'),
             p -> p NOT LIKE 'utm\\_%' ESCAPE '\\')), '&') AS qs
    FROM raw
  )
),
pages AS (
  SELECT host, curl, min(doc_id) AS doc_id FROM canon GROUP BY host, curl
),
robo AS (
  SELECT host, doc_id,
         coalesce((SELECT r.allow FROM unnest(rules) AS t(r)
                   WHERE starts_with(path, r.rpath)
                   ORDER BY len(r.rpath) DESC LIMIT 1), true) AS allowed
  FROM (
    SELECT host, doc_id,
           regexp_extract(curl, '^[^:]+://[^/?]+(/[^?]*)', 1) AS path,
           [struct_pack(rpath := '/private', allow := false),
            struct_pack(rpath := '/private/ok', allow := true),
            struct_pack(rpath := '/area' || regexp_extract(host, '^h(\\d)\\.', 1),
                        allow := false)] AS rules
    FROM pages
  )
),
ex AS (
  SELECT host, doc_id, allowed,
         CAST(len(string_split(
           regexp_replace(trim(lower(etext)), '\\s+', ' ', 'g'), ' ')) AS BIGINT)
           AS n_words,
         {md5_48_sql("lower(etext)")} AS thash
  FROM (
    SELECT host, doc_id, allowed,
           trim(regexp_replace(
             replace(replace(replace(replace(replace(
               regexp_replace(
                 regexp_replace(regexp_replace({HTML_WRAP_SQL},
                   '(?s)<script.*?</script>', ' ', 'g'),
                   '(?s)<style.*?</style>', ' ', 'g'),
                 '<[^>]+>', ' ', 'g'),
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
               '&amp;', '&'),
             '\\s+', ' ', 'g')) AS etext
    FROM (SELECT r.host, r.allowed, d.doc_id, d.text
          FROM robo r JOIN documents d ON r.doc_id = d.doc_id)
  )
),
flags AS (
  SELECT host, doc_id, allowed, n_words, thash,
         (allowed AND n_words >= {_CP_MIN_WORDS}) AS kept
  FROM ex
),
sched AS (
  SELECT host, doc_id, n_words, thash,
         1 + CAST(regexp_extract(host, '^h(\\d)\\.', 1) AS BIGINT) % 3 AS delay,
         row_number() OVER (PARTITION BY host ORDER BY n_words DESC, doc_id) AS wave
  FROM flags WHERE kept
),
per_host_sched AS (
  SELECT host, max(wave) AS max_wave,
         sum((wave - 1) * delay) AS sum_fetch_at,
         sum(doc_id) AS doc_id_sum,
         bit_xor(thash) AS text_hash_xor
  FROM sched GROUP BY host
),
per_host AS (
  SELECT host,
         CAST(count(*) AS BIGINT) AS n_pages,
         CAST(sum(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
         CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
  FROM flags GROUP BY host
)
SELECT p.host, p.n_pages, p.n_allowed, p.n_kept,
       CAST(coalesce(s.max_wave, 0) AS BIGINT) AS max_wave,
       CAST(coalesce(s.sum_fetch_at, 0) AS BIGINT) AS sum_fetch_at,
       CAST(coalesce(s.doc_id_sum, 0) AS BIGINT) AS doc_id_sum,
       CAST(coalesce(s.text_hash_xor, 0) AS BIGINT) AS text_hash_xor
FROM per_host p LEFT JOIN per_host_sched s ON p.host = s.host
ORDER BY p.host
"""


@query("crawl_pipeline", oracle=CRAWL_PIPELINE_ORACLE)
def crawl_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-side flagship; one row per host: (host, n_pages,
    n_allowed, n_kept, max_wave, sum_fetch_at, doc_id_sum,
    text_hash_xor).

    Scale shape (each inherited from the standalone key's audited
    plan): canonicalization/robots/extraction/gating are all
    codegen'd per-row projections fused into the scan — the only
    shuffles are the canonical-URL group (32-byte-ish keys; group on
    md5(curl) at crawl scale), the per-host schedule window (the
    frontier's irreducible per-host order), and the per-host rollup.
    No UDF anywhere; the robots rules ride in-row (broadcast
    host→rules join at real scale)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # S0: messy fetch records — 4 variants per logical page (base),
    # host and robots path class derived from base.
    did = F.col("doc_id")
    base = (did / 4).cast("long")
    hid = (base % 5).cast("long")
    host = F.concat(F.lit("h"), hid.cast("string"), F.lit(".example.com"))
    cls = F.element_at(
        F.array(
            F.lit("/public"),
            F.lit("/private"),
            F.lit("/private/ok"),
            F.concat(F.lit("/area"), hid.cast("string")),
        ),
        (base % 4 + 1).cast("int"),
    )
    path = F.concat(cls, F.lit("/docs/"), base.cast("string"),
                    F.when(did % 2 == 1, "/").otherwise(""))
    scheme = F.when(did % 2 == 0, "https").otherwise("HTTPS")
    port = F.when(did % 5 == 0, ":443").otherwise("")
    p_id = F.concat(F.lit("id="), base.cast("string"))
    params = F.when(did % 2 == 0, F.array(p_id, F.lit("lang=en"))).otherwise(
        F.array(F.lit("lang=en"), p_id)
    )
    params = F.when(did % 3 == 1,
                    F.concat(params, F.array(F.lit("utm_source=feed")))).otherwise(params)
    url = F.concat(scheme, F.lit("://"), host, port, path,
                   F.lit("?"), F.array_join(params, "&"))
    raw = d.select("doc_id", host.alias("host"), url.alias("url"))

    # S1: canonical-URL refetch dedup — survivor = min doc_id.
    canon = raw.select("doc_id", "host", canonical_url(F.col("url")).alias("curl"))
    pages = canon.groupBy("host", "curl").agg(F.min("doc_id").alias("doc_id"))

    # S2: robots longest-match on the canonical path.
    cpath = F.regexp_extract(F.col("curl"), "^[^:]+://[^/?]+(/[^?]*)", 1)
    rules = F.array(
        F.struct(F.lit("/private").alias("rpath"), F.lit(False).alias("allow")),
        F.struct(F.lit("/private/ok").alias("rpath"), F.lit(True).alias("allow")),
        F.struct(
            F.concat(F.lit("/area"),
                     F.regexp_extract(F.col("host"), "^h(\\d)\\.", 1)).alias("rpath"),
            F.lit(False).alias("allow"),
        ),
    )
    withp = pages.select("host", "doc_id", cpath.alias("path"), rules.alias("rules"))
    matched = F.filter(F.col("rules"), lambda r: F.col("path").startswith(r["rpath"]))
    init = F.struct(F.lit(-1).alias("l"), F.lit(True).alias("allow"))
    best = F.aggregate(
        matched,
        init,
        lambda acc, r: F.when(
            F.length(r["rpath"]) > acc["l"],
            F.struct(F.length(r["rpath"]).alias("l"), r["allow"].alias("allow")),
        ).otherwise(acc),
    )
    robo = withp.select("host", "doc_id", best["allow"].alias("allowed"))

    # S3+S4: HTML extraction of the surviving fetch, quality gate on
    # the extracted text.
    surv = robo.join(d, "doc_id")
    html = html_wrap_col()
    noscript = F.regexp_replace(
        F.regexp_replace(html, r"(?s)<script.*?</script>", " "),
        r"(?s)<style.*?</style>", " ",
    )
    txt = F.regexp_replace(noscript, "<[^>]+>", " ")
    for ent, ch in HTML_ENTITIES:
        txt = F.replace(txt, F.lit(ent), F.lit(ch))
    etext = F.trim(F.regexp_replace(txt, r"\s+", " "))
    flags = surv.select(
        "host", "doc_id", "allowed",
        F.size(tokens(etext)).cast("long").alias("n_words"),
        md5_48(F.lower(etext)).alias("thash"),
    ).select(
        "*",
        (F.col("allowed") & (F.col("n_words") >= _CP_MIN_WORDS)).alias("kept"),
    )

    # S5: frontier schedule of the kept set; S6: per-host funnel.
    delay = (F.lit(1) + F.regexp_extract(F.col("host"), "^h(\\d)\\.", 1).cast("long") % 3)
    ws = Window.partitionBy("host").orderBy(F.desc("n_words"), "doc_id")
    sched = (
        flags.filter(F.col("kept"))
        .select("host", "doc_id", "n_words", "thash", delay.alias("delay"))
        .select("*", F.row_number().over(ws).cast("long").alias("wave"))
    )
    # XOR-fold, not sum, for the content checksum: a SUM of 48-bit
    # md5 values overflows BIGINT at 2^15 rows per group — Spark
    # (ANSI) throws while DuckDB silently promotes to HUGEINT, so the
    # engines would diverge exactly when the data gets big. Caught by
    # the 1000x proxy run (5M docs, ~500k kept per host); bit_xor is
    # order-independent and closed over 64 bits on both engines.
    per_host_sched = sched.groupBy("host").agg(
        F.max("wave").alias("max_wave"),
        F.sum((F.col("wave") - 1) * F.col("delay")).alias("sum_fetch_at"),
        F.sum("doc_id").alias("doc_id_sum"),
        F.bit_xor("thash").alias("text_hash_xor"),
    )
    per_host = flags.groupBy("host").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.sum(F.when(F.col("allowed"), 1).otherwise(0)).cast("long").alias("n_allowed"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long").alias("n_kept"),
    )
    return (
        per_host.join(per_host_sched, "host", "left")
        .select(
            "host", "n_pages", "n_allowed", "n_kept",
            F.coalesce("max_wave", F.lit(0)).cast("long").alias("max_wave"),
            F.coalesce("sum_fetch_at", F.lit(0)).cast("long").alias("sum_fetch_at"),
            F.coalesce("doc_id_sum", F.lit(0)).cast("long").alias("doc_id_sum"),
            F.coalesce("text_hash_xor", F.lit(0)).cast("long").alias("text_hash_xor"),
        )
        .orderBy("host")
    )


# ---- web_host_pagerank --------------------------------------------------------
#
# Host-authority ranking for crawl prioritization — the classic
# frontier-priority signal (rank hosts by the link graph, fetch
# high-authority hosts first): a deterministic host link graph is
# derived from the documents (each doc contributes its host
# doc_id % 20 → two outlinks, (7·id+3) % 20 and (13·id+5) % 20), and
# the SHARED integer-exact PageRank machinery ranks hosts — both the
# iteration (extensions/graph.py pagerank_rounds, the registered
# graph_pagerank's exact loop) and the oracle unroll
# (pagerank_unroll_sql) are the one implementation, so the host
# ranking cannot fork formula, scale, or damping from the registered
# key.

_HOST_N = 20


def _host_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # outlinks hash the DOC (md5_48, the cross-engine token hash), not
    # its host residue — a (7·id+3) % N affine link makes the graph
    # perfectly regular (every host outdeg = indeg = 2 → uniform rank,
    # zero authority signal); md5 targets give hosts varied in/out
    # degrees, which is what the ranking exists to measure
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    src = (F.col("doc_id") % _HOST_N).alias("src")
    ds = F.col("doc_id").cast("string")
    out1 = (md5_48(F.concat(F.lit("L"), ds)) % _HOST_N).alias("dst")
    out2 = (md5_48(F.concat(F.lit("R"), ds)) % _HOST_N).alias("dst")
    e = d.select(src, out1).unionByName(d.select(src, out2))
    return e.filter(F.col("src") != F.col("dst")).distinct()


def _host_link_sql(tag: str) -> str:
    expr = "'" + tag + "' || CAST(doc_id AS VARCHAR)"
    return f"({md5_48_sql(expr)}) % {_HOST_N}"


_HOST_EDGES_CTE = f"""
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id % {_HOST_N} AS src, {_host_link_sql("L")} AS dst
    FROM documents
    UNION ALL
    SELECT doc_id % {_HOST_N} AS src, {_host_link_sql("R")} AS dst
    FROM documents
  ) WHERE src <> dst
"""


def _host_pagerank_oracle() -> str:
    from datapipeline_scripts_spark.extensions.graph import (
        _ITERS,
        pagerank_unroll_sql,
    )

    return f"""
WITH {pagerank_unroll_sql(_HOST_EDGES_CTE)}
SELECT concat('h', CAST(it{_ITERS}.k AS VARCHAR), '.example.com') AS host,
       CAST(it{_ITERS}.r AS BIGINT) AS rank_micro,
       CAST(coalesce(d.outdeg, 0) AS BIGINT) AS outdeg
FROM it{_ITERS}
LEFT JOIN deg d ON it{_ITERS}.k = d.src
ORDER BY rank_micro DESC, host
"""


WEB_HOST_PAGERANK_ORACLE = _host_pagerank_oracle()


@query("web_host_pagerank", oracle=WEB_HOST_PAGERANK_ORACLE)
def web_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host authority by shared integer PageRank; one row per host:
    (host, rank_micro, outdeg), highest authority first.

    Scale shape: the host graph build is the only data-sized pass
    (one distinct over (src, dst) host pairs — at crawl scale, hash
    on md5(host) and the edge list is the persisted artifact);
    everything after is |hosts|-sized with the rank table broadcast
    per round, exactly the registered graph_pagerank's audited
    shape."""
    from datapipeline_scripts_spark.extensions.graph import pagerank_rounds

    rank, deg = pagerank_rounds(_host_edges(spark, sf_dir))
    return (
        rank.join(F.broadcast(deg), rank.k == deg.src, "left")
        .select(
            F.concat(F.lit("h"), F.col("k").cast("string"), F.lit(".example.com"))
            .alias("host"),
            F.col("r").alias("rank_micro"),
            F.coalesce("outdeg", F.lit(0)).cast("long").alias("outdeg"),
        )
        .orderBy(F.col("rank_micro").desc(), "host")
    )


# ---- crawl_increment_pipeline --------------------------------------------------
#
# The INCREMENTAL flagship — the counterpart of the two
# registered end-to-end composites (pretraining_pipeline = the batch
# corpus build; crawl_pipeline = fetch → schedule): ONE hash-gated
# funnel for "a new crawl increment arrives against a standing
# corpus", chaining the dedup stores' machinery in production order:
#
#   arrived batch (refetch-mapped, the store keys' construction)
#     → exact fingerprint-store probe        (dedup_incremental shape)
#     → banded MinHash signature-store probe (dedup_minhash family)
#     → frozen-model quality gate            (broadcast-weights inference)
#     → per-source funnel report
#
# Every stage reuses its standalone key's machinery by IMPORT or
# shared helper (fingerprint_md5; minhash_sigs_of + band_rows +
# _N_HASHES; perceptron_features_of + pe_weights + pe_train_sql),
# so the funnel cannot fork from the parts the driver has already
# proven. Verdicts are disjoint by stage precedence (exact > near >
# quality) and sum to the arrivals.


def _increment_oracle() -> str:
    assert "FROM documents" in _SHINGLE_SQL

    def shingle_cte(src: str) -> str:
        return _SHINGLE_SQL.replace("FROM documents", f"FROM {src}")

    norm = "regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g')"
    feat_cols = f"""
         CASE WHEN len(toks) >= 30 THEN 1 ELSE -1 END AS y,
         len(toks) - 30 AS x1,
         len(list_filter(toks, t -> t = 'the' OR t = 'a' OR t = 'of')) AS x2,
         CASE WHEN len(toks) >= 3 THEN
           ((len(toks) - 2
             - len(list_distinct(list_transform(generate_series(1, len(toks) - 2),
                   i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))))
            * 10000) // (len(toks) - 2)
         ELSE 0 END AS x3"""
    h_defs = ",\n         ".join(
        f"min((h1 + {i} * h2) % 4294967296) AS h{i}" for i in range(_N_HASHES)
    )

    def sig_cte(name: str, shs: str) -> str:
        return f"""{name} AS (
  SELECT doc_id, {h_defs}
  FROM (
    SELECT doc_id,
           {_minhash_hex32_sql("md5(sh)", 1)} AS h1,
           {_minhash_hex32_sql("md5(sh)", 9)} AS h2
    FROM (SELECT doc_id, unnest(shset) AS sh FROM {shs})
  ) GROUP BY doc_id
)"""

    def band_cte(name: str, sig: str) -> str:
        rows = "\n  UNION ALL\n".join(
            f"  SELECT doc_id, {b} AS band,"
            f" concat_ws(',', h{4 * b}, h{4 * b + 1}, h{4 * b + 2}, h{4 * b + 3}) AS bucket"
            f" FROM {sig}"
            for b in range(_BANDS)
        )
        return f"{name} AS (\n{rows}\n)"

    m = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(_N_HASHES)
    )
    return f"""
WITH base AS (SELECT doc_id, source, text FROM documents),
arrived AS (
  SELECT o.doc_id, o.source, s.text
  FROM base o
  JOIN base s
    ON s.doc_id = CASE WHEN o.doc_id % 10 = 7 THEN o.doc_id - 1 ELSE o.doc_id END
  WHERE o.doc_id % 10 >= 7
),
ref AS (SELECT doc_id, source, text FROM base WHERE doc_id % 10 < 7),
store AS (SELECT DISTINCT md5({norm}) AS fp FROM ref),
exact AS (
  SELECT a.doc_id,
         CASE WHEN st.fp IS NOT NULL THEN 1 ELSE 0 END AS exact
  FROM (SELECT doc_id, md5({norm}) AS fp FROM arrived) a
  LEFT JOIN store st ON a.fp = st.fp
),
shs_a AS ({shingle_cte("arrived")}),
shs_r AS ({shingle_cte("ref")}),
{sig_cte("sig_a", "shs_a")},
{sig_cte("sig_r", "shs_r")},
{band_cte("bands_a", "sig_a")},
{band_cte("bands_r", "sig_r")},
pairs AS (
  SELECT DISTINCT x.doc_id AS bid, y.doc_id AS rid
  FROM bands_a x JOIN bands_r y
    ON x.band = y.band AND x.bucket = y.bucket
),
near AS (
  SELECT DISTINCT bid AS doc_id FROM pairs
  JOIN sig_a a ON bid = a.doc_id
  JOIN sig_r b ON rid = b.doc_id
  WHERE ({m}) / 16.0 >= {MSTORE_THRESH}
),
feats_ref AS (
  SELECT {feat_cols}
  FROM (SELECT string_split({norm}, ' ') AS toks FROM ref)
),
train AS (SELECT * FROM feats_ref),
{pe_train_sql()},
feats_arr AS (
  SELECT doc_id, {feat_cols}
  FROM (SELECT doc_id, string_split({norm}, ' ') AS toks FROM arrived)
),
margins AS (
  SELECT doc_id, {PE_SCORE_SQL} AS margin
  FROM feats_arr CROSS JOIN w{PE_ITERS}
),
verdicts AS (
  SELECT ar.source,
         CASE WHEN e.exact = 1 THEN 'exact_dup'
              WHEN n.doc_id IS NOT NULL THEN 'near_dup'
              WHEN m.margin <= 0 THEN 'quality_rejected'
              ELSE 'accepted' END AS v
  FROM arrived ar
  JOIN exact e ON ar.doc_id = e.doc_id
  LEFT JOIN near n ON ar.doc_id = n.doc_id
  JOIN margins m ON ar.doc_id = m.doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_arrived,
       CAST(sum(CASE WHEN v = 'exact_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
       CAST(sum(CASE WHEN v = 'near_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
       CAST(sum(CASE WHEN v = 'quality_rejected' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_quality_rejected,
       CAST(sum(CASE WHEN v = 'accepted' THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted,
       CAST(sum(CASE WHEN v = 'accepted' THEN 1 ELSE 0 END) * 10000 // count(*)
            AS BIGINT) AS accepted_bp
FROM verdicts
GROUP BY source
ORDER BY source
"""


CRAWL_INCREMENT_PIPELINE_ORACLE = _increment_oracle()


@query("crawl_increment_pipeline", oracle=CRAWL_INCREMENT_PIPELINE_ORACLE)
def crawl_increment_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source increment funnel: (source, n_arrived, n_exact_dup,
    n_near_dup, n_quality_rejected, n_accepted, accepted_bp).

    Scale shape: the arrived increment is checkpointed once and read
    by all three stages (compute-once, the flagship contract); the
    exact probe joins 32-byte fps against the persisted store; the
    near probe is the banded equi-join with signatures riding along;
    the quality gate is a broadcast of four longs; and the funnel is
    one partial-aggregable groupBy over sources. Nothing shuffles
    document bodies after the increment materializes — the
    fingerprint/signature/counter discipline of every standalone
    store key, composed."""
    base = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    src_id = F.when(F.col("doc_id") % 10 == 7, F.col("doc_id") - 1).otherwise(
        F.col("doc_id")
    )
    arrived = (
        base.filter(F.col("doc_id") % 10 >= 7)
        .select("doc_id", "source", src_id.alias("src_id"))
        .join(base.select(F.col("doc_id").alias("src_id"), "text"), "src_id")
        .select("doc_id", "source", "text")
        .localCheckpoint(eager=True)
    )
    ref = base.filter(F.col("doc_id") % 10 < 7)

    # stage A: exact fingerprint-store probe
    store = ref.select(fingerprint_md5(F.col("text")).alias("fp")).distinct()
    exact = (
        arrived.select("doc_id", fingerprint_md5(F.col("text")).alias("fp"))
        .join(store.withColumn("exact", F.lit(1)), "fp", "left")
        .select("doc_id", F.coalesce("exact", F.lit(0)).alias("exact"))
    )

    # stage B: banded MinHash signature-store probe (arrived content
    # signed with the registered hash family)
    bat_b = band_rows(minhash_sigs_of(arrived.select("doc_id", "text")))
    ref_b = band_rows(minhash_sigs_of(ref.select("doc_id", "text")))
    # the estimate is computed and thresholded at the join output (it
    # is a pure function of the pair), and the terminal per-doc
    # .distinct() already dedups — so the pair-level dedup exchange
    # (which used to carry two 16-long arrays per collision) is gone
    # entirely; only passing bid longs reach the remaining distinct.
    near = (
        band_join(bat_b, ref_b, _N_HASHES // _BANDS)
        .filter((sig_agreement(_N_HASHES) / F.lit(float(_N_HASHES))) >= MSTORE_THRESH)
        .select(F.col("x.doc_id").alias("doc_id"))
        .distinct()
        .withColumn("near", F.lit(1))
    )

    # stage C: frozen quality model — trained on the HISTORICAL side
    # (train features checkpointed eagerly, the registered keys'
    # compute-once contract: each of the PE_ITERS iterations reads
    # the materialized features, not a re-run of the corpus scan)
    w = pe_weights(
        spark,
        perceptron_features_of(ref).drop("doc_id").localCheckpoint(eager=True),
    )
    margins = (
        perceptron_features_of(arrived)
        .crossJoin(F.broadcast(w))
        .select("doc_id", pe_score().alias("margin"))
    )

    verdict = (
        F.when(F.col("exact") == 1, "exact_dup")
        .when(F.col("near") == 1, "near_dup")
        .when(F.col("margin") <= 0, "quality_rejected")
        .otherwise("accepted")
    )
    flags = (
        arrived.select("doc_id", "source")
        .join(exact, "doc_id")
        .join(near, "doc_id", "left")
        .join(margins, "doc_id")
        .select("source", verdict.alias("v"))
    )
    n_of = lambda lbl: F.sum(F.when(F.col("v") == lbl, 1).otherwise(0)).cast("long")  # noqa: E731
    return (
        flags.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_arrived"),
            n_of("exact_dup").alias("n_exact_dup"),
            n_of("near_dup").alias("n_near_dup"),
            n_of("quality_rejected").alias("n_quality_rejected"),
            n_of("accepted").alias("n_accepted"),
            F.expr(
                "CAST(sum(CASE WHEN v = 'accepted' THEN 1 ELSE 0 END) * 10000"
                " div count(*) AS BIGINT)"
            ).alias("accepted_bp"),
        )
        .orderBy("source")
    )
