"""E1 — deduplication family over `documents` (BASELINE.json north star).

Four strategies, cheapest-first — the order a 100 TB pipeline applies
them:

1. exact-normalized (`dedup_exact_norm`): group on an md5 of the
   normalized text. The shuffle key is 32 hex chars, never the document
   body — at 100 TB this is the difference between shuffling 100 TB and
   shuffling ~3 GB of fingerprints. Oracle-checked.
2. exact n-gram Jaccard (`dedup_ngram_jaccard`): shingle-inverted-index
   self-join — exact pairwise similarity without a cross join (pairs
   only materialize for docs sharing a shingle). Oracle-checked.
3. MinHash + LSH banding (`dedup_minhash`): 16 hash functions (four
   md5 digests of the salted shingle, sliced 4×32-bit), banded 4×4;
   candidate pairs = docs colliding in a band bucket. Pure DataFrame
   ops (no UDF, no spark.ml): at scale the band-bucket join touches
   only colliding docs. Fully oracle-checked since round 2.
4. SimHash (`dedup_simhash`): 48-bit sign-aggregated token-hash
   fingerprint; near-dups differ in few bits. Oracle-checked since
   round 2 (md5-derived token hash, computable in both engines).

Further down: passage-level winnowing (`dedup_passage_winnow`, whose
window constants the pretraining gate shares), keep-the-best
survivorship, the incremental stores a continuous crawl dedups against
(Bloom, exact, MinHash and embedding), exact substring spans with
their excision and families, and the MinHash band-tuning report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from datapipeline_scripts_spark.catalog import load_table, scan_spread
from datapipeline_scripts_spark.functions.text import (
    fingerprint_md5,
    md5_48,
    md5_48_sql,
    ngram_join,
    normalize_text,
    shingles,
    tokens,
)
from datapipeline_scripts_spark.registry import query

NORM_SQL = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
# NULL text coalesced to '' (the Spark side's coalesce), so a CASE over
# the normalized text cannot fork on NULLs.
_NORM_SAFE_SQL = "regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g')"


@query(
    "dedup_exact_norm",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, {NORM_SQL} AS norm_text FROM documents
    )
    SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
    FROM norm
    GROUP BY norm_text
    """,
)
def dedup_exact_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after normalization; survivor = lowest doc_id.

    Groups on the md5 fingerprint (32 bytes) instead of the text body —
    same result (collisions negligible), tiny shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", fingerprint_md5(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
        .select("keep_doc_id", "n_copies")
    )


_SHINGLE_SQL = """
      SELECT doc_id, toks,
             list_distinct(list_transform(generate_series(1, len(toks) - 2),
                    i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))) AS shset
      FROM (SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
            FROM documents)
      WHERE len(toks) >= 3
"""


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    toks AS (SELECT doc_id, unnest(shset) AS sh FROM sh),
    sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      FROM toks a JOIN toks b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_shared * 1.0 / (sa.sz + sb.sz - n_shared), 4) AS jaccard
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE n_shared * 1.0 / (sa.sz + sb.sz - n_shared) >= 0.6
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard ≥ 0.6 via shingle inverted index.

    Scale shape: explode distinct shingles → self-join on shingle (the
    inverted index) → pair-count aggregation. Pairs only exist for docs
    sharing ≥1 shingle; hot shingles would need a frequency cap
    (drop shingles with doc-freq > N — standard prefix filtering)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", tokens(F.col("text")).alias("toks")).filter(F.size("toks") >= 3)
    sh = tok.select("doc_id", F.explode(F.array_distinct(shingles(F.col("toks"), 3))).alias("sh"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("n_shared") / (F.col("sz_a") + F.col("sz_b") - F.col("n_shared"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.6)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


_DF_CAP = 100  # stop-shingle doc-frequency cap


@query(
    "dedup_ngram_jaccard_capped",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    toks AS (SELECT doc_id, unnest(shset) AS sh FROM sh),
    kept AS (SELECT sh FROM toks GROUP BY sh HAVING count(*) <= {_DF_CAP}),
    ktoks AS (SELECT doc_id, t.sh FROM toks t JOIN kept USING (sh)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM ktoks GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      FROM ktoks a JOIN ktoks b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_shared * 1.0 / (sa.sz + sb.sz - n_shared), 4) AS jaccard
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE n_shared * 1.0 / (sa.sz + sb.sz - n_shared) >= 0.6
    """,
)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-frequency-capped n-gram Jaccard — the 100 TB form of
    `dedup_ngram_jaccard`.

    The uncapped inverted-index self-join is quadratic in the hottest
    shingle's doc frequency: one boilerplate 3-gram shared by 1M docs
    materializes 5·10^11 pairs. Dropping shingles with doc-freq >
    {cap} (stop shingles — they carry no discriminative signal)
    bounds every shingle's pair contribution at cap²/2 and is standard
    prefix filtering. Jaccard is then exact over the filtered shingle
    space. The doc-freq semi-join shuffles on the same `sh` key as the
    pair join that follows, so the extra pass adds no new shuffle key.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", tokens(F.col("text")).alias("toks")).filter(F.size("toks") >= 3)
    sh = tok.select("doc_id", F.explode(F.array_distinct(shingles(F.col("toks"), 3))).alias("sh"))
    # shingles are distinct per doc, so count(*) per shingle == doc-freq.
    # Doc-frequency cap as a WINDOW count over sh instead of
    # groupBy(sh).count + join-back (optimization r14, guide §2.4 —
    # the same rewrite as dedup_passage_winnow's cap): the window
    # reuses the sh exchange the pair self-join needs anyway, where
    # the join-back form shuffled the shingle frame by sh TWICE and
    # duplicated the explode subtree into both legs.
    kept = (
        sh.withColumn("df", F.count("*").over(W.partitionBy("sh")))
        .filter(F.col("df") <= _DF_CAP)
        .select("doc_id", "sh")
    )
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = kept.alias("a")
    b = kept.alias("b")
    pairs = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("n_shared") / (F.col("sz_a") + F.col("sz_b") - F.col("n_shared"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.6)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


_CC_MAX_ITERS = 20


def connected_components(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """Min-label propagation over a (doc_a, doc_b) pair DataFrame →
    (doc_id, cluster_id, cluster_size). Shared by the exact-Jaccard and
    MinHash clustering queries; see dedup_clusters' docstring for the
    convergence/scale analysis. `pairs` must already be materialized
    (localCheckpoint) — symmetrizing an un-materialized generator
    executes its subtree once per union branch."""
    fwd = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    edges = fwd.union(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
    edges = edges.repartition(spark.sparkContext.defaultParallelism, "b").localCheckpoint()
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint()
    )
    for _ in range(_CC_MAX_ITERS):
        nbr_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        merged = (
            labels.join(nbr_min, labels.node == nbr_min.a, "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))).alias("new_lbl"),
                "lbl",
            )
        ).localCheckpoint()
        changed = merged.filter(F.col("new_lbl") < F.col("lbl")).count()
        labels = merged.select("node", F.col("new_lbl").alias("lbl"))
        if changed == 0:
            break
    membership = labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id"))
    sizes = membership.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return membership.join(sizes, "cluster_id").select("doc_id", "cluster_id", "cluster_size")


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      WITH sh AS ({_SHINGLE_SQL}),
      toks AS (SELECT doc_id, unnest(shset) AS sh FROM sh),
      sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
      p0 AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        FROM toks a JOIN toks b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
      SELECT doc_a, doc_b
      FROM p0
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE n_shared * 1.0 / (sa.sz + sb.sz - n_shared) >= 0.6
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    membership AS (
      SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
    )
    SELECT m.doc_id, m.cluster_id, CAST(c.n AS BIGINT) AS cluster_size
    FROM membership m
    JOIN (SELECT cluster_id, count(*) AS n FROM membership GROUP BY 1) c
      USING (cluster_id)
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate *clusters*: connected components over the exact-Jaccard
    pair graph (≥ 0.6), labeling every involved doc with its
    component's minimum doc_id — the canonicalization step a dedup
    pipeline runs after pair generation, since "A≈B, B≈C" must keep
    one of {{A,B,C}}, not one per pair.

    Iterative min-label propagation: each round, every node takes the
    min of its own and its neighbors' labels; converged when no label
    changes (the driver checks a count per round — the loop is over a
    |docs-in-pairs|-sized frame, not the corpus). localCheckpoint
    truncates the growing lineage each round (at cluster scale, use a
    durable checkpoint dir). Rounds needed = graph diameter, ≤
    O(log n) for the star-shaped clusters dedup produces; capped at
    {_CC_MAX_ITERS}. The oracle is a recursive-CTE transitive closure
    over the same pair graph."""
    # checkpoint the pair list BEFORE symmetrizing: a union of two
    # selects over the un-materialized pair generator evaluates the
    # whole shingle-join subtree twice (ReusedExchange does not cover
    # both branches) — measured ~2× the pair-gen cost at sf0.1
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b").localCheckpoint()
    return connected_components(spark, pairs)


_N_HASHES = 16
_BANDS = 4  # 4 bands × 4 rows


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared MinHash(16) signature table: (doc_id, h0..h15, sig)
    — dedup_minhash's exact construction (ONE md5 per distinct
    3-shingle, Kirsch-Mitzenmacher double hashes h1 + i*h2 mod 2^32),
    factored out so signature-consuming keys (band tuning, store
    probes) import it and cannot fork the hash family."""
    d = load_table(spark, sf_dir, "documents").transform(scan_spread(spark, sf_dir, "documents"))
    tok = d.select("doc_id", tokens(F.col("text")).alias("toks")).filter(F.size("toks") >= 3)
    sh = tok.select("doc_id", F.explode(F.array_distinct(shingles(F.col("toks"), 3))).alias("sh"))
    hh = sh.select("doc_id", F.md5("sh").alias("m")).select(
        "doc_id",
        F.conv(F.substring("m", 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring("m", 9, 8), 16, 10).cast("long").alias("h2"),
    )
    two32 = F.lit(4294967296)
    return (
        hh.groupBy("doc_id")
        .agg(
            *[
                F.min((F.col("h1") + F.lit(i) * F.col("h2")) % two32).alias(f"h{i}")
                for i in range(_N_HASHES)
            ]
        )
        .withColumn("sig", F.array(*[f"h{i}" for i in range(_N_HASHES)]))
    )


def band_rows_hashed(sig: DataFrame, n_bands: int, rows_per_band: int) -> DataFrame:
    """Band rows (doc_id, sig, band, bhash) keyed by xxhash64 of the
    band's hash values instead of the concat_ws decimal string
    (optimization r14, guide §2.3 — shuffle narrower rows): the band
    exchange carries a 8-byte long per row where the string form
    carried ~40 bytes, and the join compares longs, not strings.

    A 64-bit hash can collide where the underlying band values differ,
    so pairs come from ``band_join``, which re-verifies the candidate
    at the join output — the sig arrays already ride the join for the
    match count, so the exact check is free of extra shuffle.
    bucket-string equality ≡ element-wise band equality (concat_ws of
    decimal longs is injective), so join-on-bhash + exact filter yields
    the IDENTICAL candidate set."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("bhash"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select("doc_id", "sig", F.explode(band_structs).alias("bb")).select(
        "doc_id", "sig", F.col("bb.band").alias("band"), F.col("bb.bhash").alias("bhash")
    )


def _band_slices_equal(rows_per_band: int):
    """The joined band's ``rows_per_band`` signature values of x and y
    are element-wise equal: exactly the old bucket-string equality."""
    start = F.col("x.band") * rows_per_band + 1
    return F.slice(F.col("x.sig"), start, rows_per_band) == F.slice(
        F.col("y.sig"), start, rows_per_band
    )


def band_join(x: DataFrame, y: DataFrame, rows_per_band: int, extra=None) -> DataFrame:
    """Candidate pairs of two ``band_rows_hashed`` frames, aliased x and
    y: an equi-join on (band, bhash), ``extra`` (a condition on the x/y
    columns, or None) and the exact re-check that the band's signature
    values are equal, which rules out bhash collisions."""
    cond = (F.col("x.band") == F.col("y.band")) & (F.col("x.bhash") == F.col("y.bhash"))
    if extra is not None:
        cond = cond & extra
    return x.alias("x").join(y.alias("y"), cond & _band_slices_equal(rows_per_band))


def sig_agreement(n: int):
    """How many of the first ``n`` signature values x and y share."""
    return sum(F.when(F.col("x.sig")[i] == F.col("y.sig")[i], 1).otherwise(0) for i in range(n))


def _minhash_hex32_sql(hex_expr: str, start: int) -> str:
    """DuckDB: 32-bit int from 8 hex chars of `hex_expr` at `start`."""
    return "(" + " + ".join(
        f"(strpos('0123456789abcdef', substr({hex_expr}, {start + i}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    ) + ")"


def _minhash_oracle() -> str:
    # 16 hash functions from ONE md5 per shingle via Kirsch-Mitzenmacher
    # double hashing: h_i = (h1 + i*h2) mod 2^32, with h1/h2 the two
    # 32-bit halves of md5's first 64 bits — bit-identical in DuckDB
    # (hex parsed positionally).
    h_defs = ",\n         ".join(
        f"min((h1 + {i} * h2) % 4294967296) AS h{i}" for i in range(_N_HASHES)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, concat_ws(',', h{4 * b}, h{4 * b + 1}, h{4 * b + 2}, h{4 * b + 3}) AS bucket FROM sig"
        for b in range(_BANDS)
    )
    matches = " + ".join(f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(_N_HASHES))
    return f"""
    WITH shs AS ({_SHINGLE_SQL}),
    s AS (SELECT doc_id, unnest(shset) AS sh FROM shs),
    hh AS (
      SELECT doc_id,
             {_minhash_hex32_sql("md5(sh)", 1)} AS h1,
             {_minhash_hex32_sql("md5(sh)", 9)} AS h2
      FROM s
    ),
    sig AS (
      SELECT doc_id,
         {h_defs}
      FROM hh GROUP BY doc_id
    ),
    bands AS (
{band_rows}
    ),
    pairs AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    ),
    est AS (
      SELECT doc_a, doc_b, ({matches}) / 16.0 AS e
      FROM pairs
      JOIN sig a ON doc_a = a.doc_id
      JOIN sig b ON doc_b = b.doc_id
    )
    SELECT doc_a, doc_b, round(e, 4) AS est_jaccard
    FROM est WHERE e >= 0.5
    """


@query("dedup_minhash", oracle=_minhash_oracle())
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands) candidate pairs with estimated Jaccard.

    Pipeline: shingle → per-doc signature → band hash → self-join on
    (band, bhash) with exact band re-verification → estimate =
    matching signature fraction.

    Fully oracle-checked since round 2: the 16 hash functions are
    Kirsch-Mitzenmacher double hashes (h1 + i*h2 mod 2^32) of the first
    64 md5 bits of each shingle — ONE md5 per shingle, reproduced
    bit-identically in DuckDB (hex parsed positionally) — so the
    signatures, band buckets, candidate set, AND estimates are all
    hash-proven. Every k/16 estimate is an exact 4-decimal binary
    fraction, so the rounded filter can't flip cross-engine.

    The signature explodes distinct shingles and takes 16 minimums of
    codegen'd md5-slice expressions in one aggregation. Partial
    aggregation collapses each map partition to |docs|×16 longs before
    the exchange, so the explode costs no extra shuffle volume; the
    tempting higher-order `array_min(transform(...))` formulation is
    ~3× slower because HOF lambdas evaluate interpreted, outside
    whole-stage codegen.

    The 16-long signature array rides along through the band explode
    and the bucket self-join (128 B/row extra shuffle), so the
    estimate is computed directly on the joined rows — measured ~35%
    faster end-to-end than re-joining the signature table twice after
    candidate generation, and at warehouse scale it removes two
    |docs|-sized hash joins. The estimate is folded to a scalar AND
    thresholded at the join output, BEFORE the candidate dedup: the
    estimate is a pure function of the pair, so distinct-after is the
    identical set, while the dedup exchange carries 3 scalars per
    surviving candidate instead of two 16-long arrays (~10x fewer
    bytes through the only pair-sized shuffle)."""
    # signature construction shared via minhash_signatures (the
    # repartition, one-md5-per-shingle and KM double-hash notes live
    # on the helper). Band rows are keyed by xxhash64 of the band's
    # values (8 bytes) instead of the ~40-byte concat_ws string, with
    # the exact band equality re-verified at the join output from the
    # sig arrays that already ride the join (optimization r14, guide
    # §2.3) — identical candidate set, narrower band exchange.
    sig = minhash_signatures(spark, sf_dir)
    rows_per_band = _N_HASHES // _BANDS
    bands = band_rows_hashed(sig, _BANDS, rows_per_band)
    est = F.round(sig_agreement(_N_HASHES) / F.lit(float(_N_HASHES)), 4)
    return (
        band_join(bands, bands, rows_per_band, F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            est.alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= 0.5)
        .distinct()
    )


from datapipeline_scripts_spark.functions.vectors import sign_bucket_sql

def _minhash_clusters_oracle() -> str:
    return f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({_minhash_oracle()}) mh
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    membership AS (
      SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
    )
    SELECT m.doc_id, m.cluster_id, CAST(c.n AS BIGINT) AS cluster_size
    FROM membership m
    JOIN (SELECT cluster_id, count(*) AS n FROM membership GROUP BY 1) c
      USING (cluster_id)
    """


@query("dedup_minhash_clusters", oracle=_minhash_clusters_oracle())
def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup clustering: MinHash-LSH candidate pairs
    (est ≥ 0.5) → connected components → (doc, cluster, size) — the
    full production dedup pipeline in one declared query, and fully
    hash-proven: the md5-based minhash pairs are engine-deterministic
    and the oracle runs a recursive-CTE transitive closure over the
    IDENTICAL pair set.

    Scale: the only new cost over `dedup_minhash` is the CC loop,
    which runs on the |docs-in-pairs| frame (≪ corpus) for
    graph-diameter rounds."""
    pairs = dedup_minhash(spark, sf_dir).select("doc_a", "doc_b").localCheckpoint()
    return connected_components(spark, pairs)


_EMBED_BUCKET_DIMS = 8
_EMBED_BUCKET_SQL = sign_bucket_sql("v", _EMBED_BUCKET_DIMS)


@query(
    "dedup_embedding",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, v, {_EMBED_BUCKET_SQL} AS bucket
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    ),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_dot_product(a.v, b.v) /
                   (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                   4) AS cos_sim
      FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= 0.4
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.4) within
    sign-bucket LSH blocks — the 100 TB shape.

    Round-1 VERDICT item 3: the all-pairs crossJoin form was the one
    declared query with an O(n²) plan. This form blocks on
    `sign_bucket(embedding, 8)` (sign bits of the first 8 coordinates —
    a deterministic axis-aligned hyperplane LSH) and only scores
    same-bucket pairs, so the join is a plain equi-join: O(Σ bucket²)
    ≈ O(n²/256) pairs scored and NO CartesianProduct in the plan
    (asserted in tests/test_plans.py). The DuckDB oracle computes the
    identical bucket, so this stays a full hash-checked query; recall
    vs the exact all-pairs form is measured in
    tests/test_extensions.py (single-probe LSH trades recall for the
    256× candidate reduction; production tuning = multi-probe or more
    bands, same plan shape)."""
    from datapipeline_scripts_spark.functions.vectors import cosine, sign_bucket

    e = load_table(spark, sf_dir, "embeddings").transform(scan_spread(spark, sf_dir, "embeddings"))
    eb = e.select("vec_id", "embedding", sign_bucket(F.col("embedding"), _EMBED_BUCKET_DIMS).alias("bucket"))
    a = eb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"), "bucket")
    b = eb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", F.round(cosine(F.col("va"), F.col("vb")), 4).alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.4)
    )


def dedup_embedding_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs twin of `dedup_embedding` (crossJoin — O(n²)).

    NOT registered as a declared query: it exists only as the recall
    yardstick for the bucketed form at fixture scale
    (tests/test_extensions.py)."""
    from datapipeline_scripts_spark.functions.vectors import cosine

    e = load_table(spark, sf_dir, "embeddings")
    a = e.transform(scan_spread(spark, sf_dir, "embeddings")).select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va")
    )
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", F.round(cosine(F.col("va"), F.col("vb")), 4).alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.4)
    )


_SIMHASH_BITS = 48

_SIMHASH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split({NORM_SQL}, ' '))) AS tok
  FROM documents
),
h AS (
  SELECT doc_id, {md5_48_sql("tok")} AS hv FROM toks
),
votes AS (
  SELECT doc_id, b.i,
         sum(CASE WHEN (hv >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h CROSS JOIN (SELECT unnest(range({_SIMHASH_BITS})) AS i) b
  GROUP BY doc_id, b.i
)
SELECT doc_id,
       CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT)
         AS simhash
FROM votes
GROUP BY doc_id
"""


@query("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """48-bit SimHash per document from distinct-token md5 bits.

    Fully hash-checked since round 2: the token hash is the first 48
    bits of md5(token) — computable bit-identically in DuckDB (hex
    parsed digit-by-digit) — so the fingerprints themselves are
    oracle-proven, not just row-counted. md5 is marginally slower than
    xxhash64 per token but runs JVM-side in codegen and hashes only
    DISTINCT tokens per doc.

    Shape: explode distinct tokens → hash once → 48 conditional-sum
    votes per doc → fingerprint BIGINT. The explode looks expensive but
    partial aggregation collapses it map-side — the exchange carries
    |docs| rows × 48 ints, not |docs|·|tokens|. This beats the
    "zero-shuffle" higher-order-function formulation (per-bit
    `filter`+`size` over the token array) by ~20×: HOF lambdas are
    interpreted per element, while the conditional sums run inside
    whole-stage codegen. Near-dup retrieval would band the fingerprint
    into 4×12-bit keys (same LSH idea as MinHash)."""
    d = load_table(spark, sf_dir, "documents").transform(scan_spread(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok"))
    h = tok.select("doc_id", md5_48(F.col("tok")).alias("h"))
    votes = h.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"v{i}")
            for i in range(_SIMHASH_BITS)
        ]
    )
    fp = sum(F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0)) for i in range(_SIMHASH_BITS))
    return votes.select("doc_id", fp.cast("long").alias("simhash"))


@query(
    "dedup_levenshtein",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             CAST(floor(n_chars / 50) AS INTEGER) AS band,
             left(text, 80) AS pfx
      FROM documents
    )
    SELECT a.doc_id AS doc_a,
           b.doc_id AS doc_b,
           CAST(levenshtein(a.pfx, b.pfx) AS INTEGER) AS edit_dist
    FROM d a JOIN d b
      ON a.source = b.source AND a.band = b.band AND a.doc_id < b.doc_id
    WHERE levenshtein(a.pfx, b.pfx) <= 20
    """,
)
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup detection, blocked to stay sub-quadratic:
    candidates must share (source, 50-char length band) — near-identical
    docs can't differ much in length — and only candidates pay the
    O(len²) levenshtein on an 80-char prefix. On the fixtures true
    near-dups score ≤ 20 while unrelated same-band pairs sit ≥ 46, so
    the threshold separates cleanly.

    Scale: the self-join keys on (source, band) — an equi shuffle join
    whose block sizes are bounded by the length histogram, never a
    cartesian; the exact-distance step is a codegen'd expression on
    the joined rows. Both engines compute the identical integer, so
    the query is fully oracle-checked (unlike hash-based candidate
    generators)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.floor(F.col("n_chars") / 50).cast("int").alias("band"),
        F.substring("text", 1, 80).alias("pfx"),
    )
    a = d.alias("a")
    b = d.alias("b")
    # THRESHOLDED levenshtein (optimization r14, guide §2.3 cheaper
    # per-row compute): the 3-arg form runs the banded DP — O(k·L)
    # instead of O(L²) per candidate pair with early exit — and
    # returns -1 when the distance exceeds k. For every surviving row
    # (dist ≤ 20) it returns the EXACT distance, so the result set and
    # values are identical to the unbounded form the oracle computes.
    dist = F.levenshtein(F.col("a.pfx"), F.col("b.pfx"), 20)
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter((dist >= 0) & (dist <= 20))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("int").alias("edit_dist"),
        )
    )


@query(
    "dedup_incremental",
    oracle=f"""
    WITH d AS (SELECT doc_id, source, {NORM_SQL} AS nt FROM documents),
    ref AS (SELECT DISTINCT nt FROM d WHERE doc_id % 10 < 7),
    batch AS (SELECT * FROM d WHERE doc_id % 10 >= 7),
    flag AS (
      SELECT b.source, b.doc_id,
             EXISTS (SELECT 1 FROM ref r WHERE r.nt = b.nt) AS in_ref,
             min(b.doc_id) OVER (PARTITION BY b.nt) AS keep_id
      FROM batch b
    )
    SELECT source,
           count(*) AS n_batch,
           CAST(sum(CASE WHEN in_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_ref,
           CAST(sum(CASE WHEN NOT in_ref AND doc_id > keep_id
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_within,
           CAST(sum(CASE WHEN NOT in_ref AND doc_id = keep_id
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM flag
    GROUP BY source
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-batch) dedup — the shape every continuous
    crawl pipeline runs: a NEW batch of documents deduped against the
    already-ingested REFERENCE corpus (here: doc_id mod 10 splits the
    fixture into a 70% reference / 30% batch), then within itself.
    Per source: batch size, dropped-against-reference,
    dropped-within-batch (survivor = lowest doc_id), and kept.

    Scale: the reference side reduces to DISTINCT fingerprints (32-byte
    md5, not bodies) — at 100 TB that's the bloom/fingerprint store you
    keep between runs; the batch joins against it keyed on fp (shuffle
    moves hashes only), and the within-batch pass is one window over
    the batch, not the corpus. Adding a day of crawl costs
    O(batch + |ref fingerprints|), never a corpus rescan."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", fingerprint_md5(F.col("text")).alias("fp")
    )
    ref = d.filter(F.col("doc_id") % 10 < 7).select("fp").distinct()
    batch = d.filter(F.col("doc_id") % 10 >= 7)
    from pyspark.sql import Window as W

    flagged = (
        batch.join(ref.withColumn("_in_ref", F.lit(True)), "fp", "left")
        .withColumn("in_ref", F.coalesce("_in_ref", F.lit(False)))
        .withColumn("keep_id", F.min("doc_id").over(W.partitionBy("fp")))
    )
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_batch"),
        F.sum(F.when(F.col("in_ref"), 1).otherwise(0)).alias("n_dup_ref"),
        F.sum(
            F.when(~F.col("in_ref") & (F.col("doc_id") > F.col("keep_id")), 1).otherwise(0)
        ).alias("n_dup_within"),
        F.sum(
            F.when(~F.col("in_ref") & (F.col("doc_id") == F.col("keep_id")), 1).otherwise(0)
        ).alias("n_kept"),
    )


@query(
    "dedup_cross_source",
    oracle=f"""
    WITH per_source AS (
      SELECT DISTINCT
        array_to_string(string_split({NORM_SQL}, ' ')[1:8], ' ') AS nt,
        source
      FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b,
           count(*) AS n_shared
    FROM per_source a
    JOIN per_source b ON a.nt = b.nt AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how
    many distinct content prefixes (first 8 normalized tokens — the
    boilerplate-family blocking key) appear in BOTH — the audit that
    tells you CommonCrawl already contains your curated wiki slice
    (double-counting risk for mixture weights) before you train.

    Scale: reduce to DISTINCT (fingerprint, source) first — corpus-size
    → unique-content-size — then self-join keyed on the fingerprint:
    pairs explode only within identical-content groups (bounded by
    sources², not docs²). The same inverted-index discipline as
    dedup_ngram_jaccard, one level coarser."""
    # key = first-8-token prefix of the normalized text (a cheap
    # near-dup blocking key: doc families sharing a boilerplate head),
    # hashed to md5 so the shuffle carries 32 bytes, not text
    prefix = F.concat_ws(" ", F.slice(tokens(F.col("text")), 1, 8))
    ps = (
        load_table(spark, sf_dir, "documents")
        .select(F.md5(prefix).alias("fp"), "source")
        .distinct()
    )
    a = ps.select(F.col("fp"), F.col("source").alias("source_a"))
    b = ps.select(F.col("fp").alias("fp_b"), F.col("source").alias("source_b"))
    return (
        a.join(b, (a.fp == b.fp_b) & (F.col("source_a") < F.col("source_b")))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )


@query(
    "dedup_containment",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    toks AS (SELECT doc_id, unnest(shset) AS sh FROM sh),
    sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      FROM toks a JOIN toks b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_shared * 10000 // least(sa.sz, sb.sz) AS BIGINT)
             AS containment_bp,
           CAST(CASE WHEN sa.sz <= sb.sz THEN doc_a ELSE doc_b END AS BIGINT)
             AS contained_doc
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE n_shared * 10000 // least(sa.sz, sb.sz) >= 8000
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT ≥ 0.8 — the asymmetric near-dup measure
    Jaccard misses: |A∩B| / min(|A|,|B|) flags a short doc embedded
    inside a long one (quote farms, scraped excerpts, page-plus-chrome
    wrappers) even when the symmetric Jaccard is tiny because the union
    is dominated by the longer doc. Standard alongside Jaccard in crawl
    dedup (Broder's containment). Reports the pair, containment in
    integer basis points, and which doc is the contained (smaller) one.

    Scale: identical inverted-index shape to dedup_ngram_jaccard (pairs
    only through shared shingles; hot-shingle cap applies at 100 TB via
    the dedup_ngram_jaccard_capped discipline); the containment math is
    pure integer so the hash can't drift."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", tokens(F.col("text")).alias("toks")).filter(F.size("toks") >= 3)
    sh = tok.select("doc_id", F.explode(F.array_distinct(shingles(F.col("toks"), 3))).alias("sh"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    cont_bp = F.expr("n_shared * 10000 div least(sz_a, sz_b)")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("containment_bp", cont_bp)
        .filter(F.col("containment_bp") >= 8000)
        .select(
            "doc_a",
            "doc_b",
            "containment_bp",
            F.when(F.col("sz_a") <= F.col("sz_b"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained_doc"),
        )
    )


_PARA_W = 10  # tokens per chunk ("paragraph" unit on the fixture word-stream)

_PARA_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, string_split({NORM_SQL}, ' ') AS toks FROM documents
),
ch AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(toks[(i * {_PARA_W} + 1):((i + 1) * {_PARA_W})], ' ') AS chunk
  FROM tk, unnest(range(CAST(ceil(len(toks) / {_PARA_W}.0) AS BIGINT))) AS r(i)
),
ranked AS (
  SELECT doc_id, pos, chunk,
         row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, pos) AS rn
  FROM ch
),
recon AS (
  SELECT c.doc_id,
         count(*) AS n_chunks,
         count(*) FILTER (rn = 1) AS kept_chunks,
         md5(coalesce(string_agg(chunk, ' ' ORDER BY pos) FILTER (rn = 1), '')) AS recon_fp
  FROM ranked c
  GROUP BY c.doc_id
)
SELECT doc_id, n_chunks, kept_chunks, recon_fp FROM recon
"""


@query("dedup_paragraphs", oracle=_PARA_ORACLE)
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (paragraph-level) dedup with document
    reconstruction — the CCNet/RefinedWeb boilerplate-removal shape:
    documents are chunked into fixed 10-token windows, each chunk
    fingerprinted, the FIRST occurrence corpus-wide (lowest (doc_id,
    pos)) survives, later copies are cut out, and every document is
    reassembled from its surviving chunks in order. Doc-level dedup
    (dedup_exact_norm) can't remove a repeated header shared by
    otherwise-distinct pages; this does.

    The output proves the reassembly bit-for-bit: recon_fp is the md5
    of the reconstructed document, so the oracle match certifies
    chunking, first-wins arbitration AND order-preserving reassembly.

    Scale: the first-wins window partitions by the chunk fingerprint
    (32-byte keys, bounded groups); reassembly groups by doc_id with
    an in-group sort of that doc's own chunks only — both shuffles
    carry chunk text at ~1× corpus size, and chunk text could be
    dropped from the dedup shuffle entirely (carry only fingerprints,
    re-join survivors) when bodies are wide."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(normalize_text(F.col("text")), " ")
    n_chunks_col = F.ceil(F.size(toks) / _PARA_W).cast("long")
    chunked = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (n_chunks_col - 1).cast("int")),
                lambda i: F.array_join(
                    F.slice(toks, (i * _PARA_W + 1).cast("int"), _PARA_W), " "
                ),
            )
        ).alias("pos", "chunk"),
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "chunk")
    from pyspark.sql.window import Window as W

    wfp = W.partitionBy(F.md5("chunk")).orderBy("doc_id", "pos")
    ranked = chunked.withColumn("rn", F.row_number().over(wfp))
    kept_sorted = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(F.col("rn") == 1, F.struct("pos", "chunk"))
            )
        ),
        lambda s: s["chunk"],
    )
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("kept_chunks"),
            F.md5(F.array_join(kept_sorted, " ")).alias("recon_fp"),
        )
        .select("doc_id", "n_chunks", "kept_chunks", "recon_fp")
    )


_PREFIX_ORACLE = """
WITH fp AS (
  SELECT doc_id, source,
         md5(substr(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), 1, 40)) AS pre_fp
  FROM documents
)
SELECT min(doc_id) AS keep_doc_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
FROM fp GROUP BY pre_fp HAVING count(*) > 1
"""


@query("dedup_prefix", oracle=_PREFIX_ORACLE)
def dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-fingerprint near-dup detector: normalize (lower, collapse
    whitespace), fingerprint the first 40 chars, and report duplicate
    groups (survivor = min doc_id, copy count, distinct sources).
    Common-Crawl-style curation runs this as the *cheapest* dedup pass —
    templated scrapes share openings long before full bodies match
    (fixtures: ~20 prefix groups vs 0 exact-norm duplicates).

    Scale: the shuffle carries a 32-byte md5 of a 40-char prefix — the
    cheapest possible key; grouping is map-side combinable and the
    HAVING filter drops singleton groups before any further join."""
    d = load_table(spark, sf_dir, "documents")
    pre = F.substring(normalize_text(F.col("text")), 1, 40)
    return (
        d.select("doc_id", "source", F.md5(pre).alias("pre_fp"))
        .groupBy("pre_fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
        .filter(F.col("n_docs") > 1)
        .select("keep_doc_id", "n_docs", "n_sources")
    )


# ---- dedup_passage_winnow -----------------------------------------------------
#
# The dedup modality the family still lacked: SHARED-PASSAGE detection
# (Lee et al., "Deduplicating Training Data Makes Language Models
# Better" — substring-level duplication between documents whose
# overall similarity is low). Composition of proven pieces: the
# text_winnow fingerprint (guarantees any shared run of ≥6 tokens
# shares a fingerprint — extensions/textstats.py, oracle-proven since
# r2) feeds an inverted fingerprint index; a doc-frequency cap bounds
# any fingerprint's pair contribution (the dedup_ngram_jaccard_capped
# prefix-filtering idiom); pairs sharing ≥2 fingerprints (≈ two
# independent 6-token runs, or one long passage) are flagged. All
# hashes are the cross-engine md5_48, so the DuckDB oracle recomputes
# the exact pair set — values proven, not just counts.

PW_WINDOW = 4  # winnow window (matches text_winnow)
PW_CAP = 32  # max docs per fingerprint (prefix filtering)
PW_MIN_SHARED = 2


def _winnowed_fps(spark: SparkSession, sf_dir: str):
    """(doc_id, fp) winnowing fingerprints — text_winnow's exact
    construction (same window, same md5_48 shingle hash), computed
    IN-ROW by functions.text.winnow_fps (optimization r13, guide
    §2.4: the old posexplode → two-window → distinct form shuffled
    every shingle triple twice; this form is a pure projection —
    bit-identical values, oracle-reproven)."""
    from datapipeline_scripts_spark.functions.text import tokens, winnow_fps

    d = load_table(spark, sf_dir, "documents").transform(scan_spread(spark, sf_dir, "documents"))
    tok = d.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 3
    )
    return tok.select(
        "doc_id", F.explode(winnow_fps(F.col("toks"), PW_WINDOW)).alias("fp")
    )


def _passage_oracle() -> str:

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
                            ROWS BETWEEN CURRENT ROW AND {PW_WINDOW - 1} FOLLOWING) AS fp,
               count(*) OVER (PARTITION BY doc_id) AS n
        FROM hashed
      )
      WHERE pos <= greatest(n - {PW_WINDOW}, 0)
    ),
    capped AS (
      SELECT fp FROM winnowed GROUP BY fp
      HAVING count(*) BETWEEN 2 AND {PW_CAP}
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      FROM winnowed a JOIN capped USING (fp) JOIN winnowed b USING (fp)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, shared
    FROM pairs
    WHERE shared >= {PW_MIN_SHARED}
    ORDER BY doc_a, doc_b
    """


DEDUP_PASSAGE_WINNOW_ORACLE = _passage_oracle()


@query("dedup_passage_winnow", oracle=DEDUP_PASSAGE_WINNOW_ORACLE)
def dedup_passage_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-passage pair detection — see the section comment above.
    Scale shape: the winnow min-window collapses |tokens| →
    ~|tokens|/{PW_WINDOW} fingerprints BEFORE the distinct shuffle;
    the doc-frequency cap (semi-join on the same fp key — no new
    shuffle key) bounds any fingerprint's pair contribution at
    C(cap,2), so pair generation is O(|collisions|·cap), never
    quadratic in corpus size; the final shuffle keys on (doc_a,
    doc_b) with partial aggregation. No CartesianProduct at any step
    (plan-asserted)."""
    fps = _winnowed_fps(spark, sf_dir)
    # doc-frequency cap as a WINDOW count over fp instead of
    # groupBy(fp).count() + join-back on fp (optimization r14, guide
    # §2.4): the join form shuffled the fingerprint table twice (the
    # count aggregate and the join probe) and replicated the whole
    # tokenize+winnow subtree into each join leg; the window form
    # shuffles it once, and the a×b self-join below reuses that same
    # exchange (both legs are the identical subtree). Values are
    # identical: a window count over the full fp partition is the
    # group count, filtered to [2, cap] exactly as before.
    wfp = W.partitionBy("fp")
    indexed = (
        fps.withColumn("n_docs", F.count("*").over(wfp))
        .filter((F.col("n_docs") >= 2) & (F.col("n_docs") <= PW_CAP))
        .select("fp", "doc_id")
    )
    a = indexed.select(F.col("fp"), F.col("doc_id").alias("doc_a"))
    b = indexed.select(F.col("fp"), F.col("doc_id").alias("doc_b"))
    pairs = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= PW_MIN_SHARED)
    )
    return pairs.orderBy("doc_a", "doc_b")


# ---- dedup_survivorship -----------------------------------------------------------
#
# The survivorship POLICY on top of near-dup clustering — production
# dedup keeps the BEST member of each duplicate cluster (here: most
# normalized words, doc_id tiebreak), not the arbitrary lowest id.
# Pure composition of proven pieces: dedup_minhash's pair set →
# connected_components (both registered, both hash-proven) → one
# ranking window per cluster → the per-cluster survivorship report.
# The oracle replays the identical chain: the minhash pair SQL, a
# recursive-CTE closure, and the same ranking.


def _survivorship_oracle() -> str:

    norm = "regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g')"
    return f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({_minhash_oracle()}) mh
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    membership AS (
      SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
    ),
    words AS (
      SELECT doc_id, len(string_split({norm}, ' ')) AS n_words FROM documents
    ),
    ranked AS (
      SELECT m.cluster_id, m.doc_id, w.n_words,
             row_number() OVER (PARTITION BY m.cluster_id
                                ORDER BY w.n_words DESC, m.doc_id) AS rn
      FROM membership m JOIN words w USING (doc_id)
    )
    SELECT cluster_id,
           CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS survivor_doc_id,
           CAST(max(CASE WHEN rn = 1 THEN n_words END) AS BIGINT) AS survivor_words,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(*) - 1 AS BIGINT) AS n_dropped,
           CAST(sum(n_words) AS BIGINT) AS total_words
    FROM ranked
    GROUP BY cluster_id
    ORDER BY cluster_id
    """


DEDUP_SURVIVORSHIP_ORACLE = _survivorship_oracle()


@query("dedup_survivorship", oracle=DEDUP_SURVIVORSHIP_ORACLE)
def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster survivorship report — see the section comment above.
    Scale shape: inherits dedup_minhash_clusters' (pairs ≪ corpus,
    CC on the docs-in-pairs frame only); the ranking window
    partitions on cluster_id with cluster-bounded sorts, and the
    report aggregate groups on the same key — one shuffle for both."""


    pairs = dedup_minhash(spark, sf_dir).select("doc_a", "doc_b").localCheckpoint()
    members = connected_components(spark, pairs).select("doc_id", "cluster_id")
    words = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens(F.coalesce(F.col("text"), F.lit("")))).cast("long").alias("n_words"),
    )
    w = W.partitionBy("cluster_id").orderBy(F.desc("n_words"), F.asc("doc_id"))
    ranked = members.join(words, "doc_id").withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("survivor_doc_id"),
            F.max(F.when(F.col("rn") == 1, F.col("n_words"))).alias("survivor_words"),
            F.count("*").alias("n_members"),
            (F.count("*") - 1).alias("n_dropped"),
            F.sum("n_words").alias("total_words"),
        )
        .orderBy("cluster_id")
    )


# ---- dedup_bloom_incremental -----------------------------------------------
#
# Continuous-crawl membership dedup through a DATA-SIZED Bloom
# sketch: the historical corpus (even doc_ids) is summarized as the
# set of distinct bit positions of an M-bit filter, with M derived
# from the historical distinct-fingerprint count at ~10 bits/key
# (the production sizing docs/SCALE.md documents; the round-10 1000×
# sweep showed a fixed 4096-bit sketch saturating at 2.5M probes —
# every key a hit, the bloom leg pure overhead). The incoming batch
# (odd doc_ids; every 5th one a deterministic REFETCH carrying the
# text of the historical doc_id-1) probes it with K salted md5
# hashes. bloom_hit is exact on both engines because M is the same
# integer (GREATEST(4096, 10·n) computed from the data by BOTH
# engines) and the bit positions are md5_48-derived integers; the
# exact-membership leg (the verification join any production bloom
# gate runs behind) classifies each hit as true duplicate or false
# positive. Bloom's no-false-negative guarantee is visible in the
# output: every exact_dup row has bloom_hit = 1.
#
# NULL text: fingerprints hash COALESCE(text, '') on BOTH engines —
# unlike the established dedup keys' NORM_SQL (which keeps NULL on
# both sides and lets joins drop it), this key's explode/groupBy
# plumbing would silently LOSE a NULL-fp incoming row on the Spark
# side only (explode of a null array yields no rows), so NULL must be
# canonicalized before hashing (ADVICE r10, medium).

_BLOOM_M_FLOOR = 4096
_BLOOM_BITS_PER_KEY = 10
_BLOOM_K = 4


def _bloom_bits(fp, m):
    return F.array(
        *[(md5_48(F.concat(fp, F.lit(f":{j}"))) % m) for j in range(_BLOOM_K)]
    )


def _bloom_bit_sql(j: int) -> str:
    salted = f"fp || ':{j}'"
    return f"(({md5_48_sql(salted)}) % bloom_m)"


DEDUP_BLOOM_INCREMENTAL_ORACLE = f"""
WITH fps AS (
  SELECT doc_id, md5({_NORM_SAFE_SQL}) AS fp FROM documents
),
hist AS (SELECT doc_id, fp FROM fps WHERE doc_id % 2 = 0),
m AS (
  SELECT greatest({_BLOOM_M_FLOOR}, {_BLOOM_BITS_PER_KEY} * count(DISTINCT fp))
           AS bloom_m
  FROM hist
),
inc AS (
  SELECT o.doc_id, s.fp
  FROM fps o
  JOIN fps s
    ON s.doc_id = CASE WHEN o.doc_id % 10 = 1 THEN o.doc_id - 1 ELSE o.doc_id END
  WHERE o.doc_id % 2 = 1
),
bloom AS (
  SELECT DISTINCT bit FROM (
    SELECT unnest([{", ".join(_bloom_bit_sql(j) for j in range(_BLOOM_K))}]) AS bit
    FROM hist CROSS JOIN m)
),
probe AS (
  SELECT doc_id, fp,
         unnest([{", ".join(_bloom_bit_sql(j) for j in range(_BLOOM_K))}]) AS bit
  FROM inc CROSS JOIN m
),
hit AS (
  SELECT p.doc_id, p.fp,
         min(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) AS all_set
  FROM probe p LEFT JOIN bloom b ON p.bit = b.bit
  GROUP BY p.doc_id, p.fp
)
SELECT h.doc_id,
       CAST(h.all_set AS BIGINT) AS bloom_hit,
       CAST(CASE WHEN e.fp IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS exact_dup,
       CASE WHEN h.all_set = 1 AND e.fp IS NOT NULL THEN 'duplicate'
            WHEN h.all_set = 1 THEN 'false_positive' ELSE 'new' END AS verdict
FROM hit h LEFT JOIN (SELECT DISTINCT fp FROM hist) e ON h.fp = e.fp
ORDER BY h.doc_id
"""


@query("dedup_bloom_incremental", oracle=DEDUP_BLOOM_INCREMENTAL_ORACLE)
def dedup_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-gated incremental dedup; one row per incoming doc:
    (doc_id, bloom_hit, exact_dup, verdict ∈ duplicate /
    false_positive / new).

    Scale shape: M is sized from the data — GREATEST(4096,
    10·distinct historical fingerprints), ~10 bits/key, pinning the
    false-positive rate near (1-e^{-K/10})^K ≈ 1.2% at ANY corpus
    size instead of saturating. The sketch aggregate produces ≤
    min(M, K·n) distinct bit rows — 25× smaller than broadcasting
    the 32-byte fingerprint store itself, and at deploy scale the
    same bit positions pack into a true M/8-byte bitmap (Spark's
    JVM-side `DataFrame.stat.bloomFilter` shape; the row form here
    is what stays hash-provable cross-engine). The probe is a
    BROADCAST join (map-side only) plus one narrow partial-aggregable
    min per doc — the historical corpus is never reshuffled against
    the batch. The exact-verification leg joins on the 32-byte md5
    fingerprint (the fingerprint-store shape `dedup_incremental`
    established), touched only to adjudicate; at 100 TB the bloom
    broadcast prunes the non-hits before that shuffle."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        fingerprint_md5(F.coalesce(F.col("text"), F.lit(""))).alias("fp"),
    )
    hist = d.filter(F.col("doc_id") % 2 == 0)
    m_df = hist.select("fp").distinct().agg(
        F.greatest(
            F.lit(_BLOOM_M_FLOOR), F.count("*") * _BLOOM_BITS_PER_KEY
        ).alias("bloom_m")
    )
    probe_src = F.when(F.col("doc_id") % 10 == 1, F.col("doc_id") - 1).otherwise(
        F.col("doc_id")
    )
    inc = (
        d.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", probe_src.alias("src_id"))
        .join(d.select(F.col("doc_id").alias("src_id"), "fp"), "src_id")
        .select("doc_id", "fp")
    )
    bloom = (
        hist.crossJoin(F.broadcast(m_df))
        .select(F.explode(_bloom_bits(F.col("fp"), F.col("bloom_m"))).alias("bit"))
        .distinct()
        .withColumn("set1", F.lit(1))
    )
    probe = inc.crossJoin(F.broadcast(m_df)).select(
        "doc_id",
        "fp",
        F.explode(_bloom_bits(F.col("fp"), F.col("bloom_m"))).alias("bit"),
    )
    hit = (
        probe.join(F.broadcast(bloom), "bit", "left")
        .groupBy("doc_id", "fp")
        .agg(F.min(F.coalesce(F.col("set1"), F.lit(0))).alias("all_set"))
    )
    exact = hist.select(F.col("fp").alias("hfp")).distinct()
    return (
        hit.join(exact, hit["fp"] == exact["hfp"], "left")
        .select(
            "doc_id",
            F.col("all_set").cast("long").alias("bloom_hit"),
            F.when(F.col("hfp").isNotNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("exact_dup"),
            F.when((F.col("all_set") == 1) & F.col("hfp").isNotNull(), "duplicate")
            .when(F.col("all_set") == 1, "false_positive")
            .otherwise("new")
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


# ---- dedup_store_merge ------------------------------------------------------

_STORE_CRAWLS = 3


DEDUP_STORE_MERGE_ORACLE = f"""
WITH d AS (
  SELECT o.doc_id % {_STORE_CRAWLS} AS crawl_id,
         md5(regexp_replace(trim(lower(s.text)), '\\s+', ' ', 'g')) AS fp
  FROM documents o
  JOIN documents s
    ON s.doc_id = CASE WHEN o.doc_id % 10 = 1 THEN o.doc_id - 1 ELSE o.doc_id END
),
store AS (
  SELECT crawl_id, fp, count(*) AS n_docs FROM d GROUP BY crawl_id, fp
),
first AS (
  SELECT fp, min(crawl_id) AS first_crawl FROM store GROUP BY fp
)
SELECT s.crawl_id,
       CAST(count(*) AS BIGINT) AS store_fps,
       CAST(sum(CASE WHEN f.first_crawl = s.crawl_id THEN 1 ELSE 0 END)
            AS BIGINT) AS novel_fps,
       CAST(sum(CASE WHEN f.first_crawl <> s.crawl_id THEN 1 ELSE 0 END)
            AS BIGINT) AS repeat_fps,
       CAST(sum(CASE WHEN f.first_crawl = s.crawl_id THEN 1 ELSE 0 END)
            * 10000 // count(*) AS BIGINT) AS novelty_bp,
       CAST(bit_xor({md5_48_sql("s.fp")}) AS BIGINT) AS store_xor
FROM store s JOIN first f USING (fp)
GROUP BY s.crawl_id
ORDER BY s.crawl_id
"""


@query("dedup_store_merge", oracle=DEDUP_STORE_MERGE_ORACLE)
def dedup_store_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot fingerprint-store compaction; one row per crawl:
    (crawl_id, store_fps, novel_fps, repeat_fps, novelty_bp,
    store_xor).

    The operation a continuous crawl runs between ingests: each
    snapshot's store holds its distinct content fingerprints; merging
    keyed on fp keeps first-seen provenance (min crawl) and the
    per-crawl novelty report falls out of one join back.

    Scale shape: stores carry 32-byte md5 hex fps, never bodies — the
    merge is ONE shuffle keyed on fp (partial aggregation collapses
    each map side to its distinct fps first), and the report is a
    partial-aggregable groupBy over crawl ids. At 100 TB the stores
    are the persisted artifact (the `dedup_incremental` fingerprint-
    store shape); compaction cost is O(Σ store sizes), independent of
    corpus bytes. store_xor is the bit_xor checksum of the md5_48 of
    each member fp — the order-independent 64-bit-closed rollup that
    lets two store replicas be compared without moving them."""
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # every 10th doc is a deterministic REFETCH of its predecessor
    # (the bloom key's construct-the-variant idiom): doc_id and
    # doc_id-1 always land in different crawls under % 3, so the
    # repeat/provenance machinery is exercised by construction — the
    # fixtures hold 500 distinct texts, and without refetches a broken
    # min(crawl) would be invisible to the hash gate
    src = F.when(F.col("doc_id") % 10 == 1, F.col("doc_id") - 1).otherwise(
        F.col("doc_id")
    )
    d = (
        base.select("doc_id", src.alias("src_id"))
        .join(base.select(F.col("doc_id").alias("src_id"), "text"), "src_id")
        .select(
            (F.col("doc_id") % _STORE_CRAWLS).alias("crawl_id"),
            fingerprint_md5(F.col("text")).alias("fp"),
        )
    )
    # the store is the persisted artifact between crawls; materialize
    # it once (eager, the perceptron precedent) — without this the
    # min-crawl leg and the join-back leg each re-scan the corpus
    # (verified: 2 FileScans, 0 ReusedExchange in the un-checkpointed
    # plan), which is exactly the rescan compaction exists to avoid
    store = (
        d.groupBy("crawl_id", "fp")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .localCheckpoint(eager=True)
    )
    # first-crawl as a WINDOW min over fp instead of groupBy(fp) +
    # join-back on fp (optimization r14, guide §2.4): the join form
    # shuffled the store twice (aggregate + probe) through a
    # SortMergeJoin; the window form shuffles it once. Identical
    # values: min over the full fp partition is the group min.
    joined = store.withColumn(
        "first_crawl", F.min("crawl_id").over(W.partitionBy("fp"))
    ).withColumn("fp48", md5_48(F.col("fp")))
    return (
        joined.groupBy("crawl_id")
        .agg(
            F.count("*").cast("long").alias("store_fps"),
            F.sum(F.when(F.col("first_crawl") == F.col("crawl_id"), 1).otherwise(0))
            .cast("long")
            .alias("novel_fps"),
            F.sum(F.when(F.col("first_crawl") != F.col("crawl_id"), 1).otherwise(0))
            .cast("long")
            .alias("repeat_fps"),
            F.expr(
                "CAST(sum(CASE WHEN first_crawl = crawl_id THEN 1 ELSE 0 END)"
                " * 10000 div count(*) AS BIGINT)"
            ).alias("novelty_bp"),
            F.expr("bit_xor(fp48)").cast("long").alias("store_xor"),
        )
        .orderBy("crawl_id")
    )


# ---- dedup_minhash_store_incremental -----------------------------------------
#
# Near-dup INCREMENTAL dedup against a persisted signature store —
# dedup_store_merge's exact-fp story extended to the fuzzy family:
# the REFERENCE corpus (doc_id % 10 < 7, dedup_incremental's split)
# persists per-doc MinHash signatures + banded LSH buckets; the NEW
# batch (doc_id % 10 >= 7) probes the bucket store, and candidates
# are adjudicated by signature-overlap estimate exactly as the
# registered dedup_minhash does — _N_HASHES/_BANDS and the
# Kirsch-Mitzenmacher md5-slice hash family are IMPORTED from
# extensions/dedup.py, so the incremental store and the batch dedup
# key cannot fork hash families. Batch docs too short to shingle
# (< 3 tokens) surface loudly as 'no_signature', not silently.

MSTORE_THRESH = 0.5  # the registered dedup_minhash near-dup bar


def _minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signature (h0..h15 + sig array) — the
    registered dedup_minhash construction, one md5 per distinct
    3-shingle, 16 Kirsch-Mitzenmacher double hashes."""
    return minhash_sigs_of(
        load_table(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism
        )
    )


def minhash_sigs_of(d: DataFrame) -> DataFrame:
    """`_minhash_sigs` over an arbitrary (doc_id, text) frame — the
    crawl-increment flagship signs the refetch-mapped arrived content
    with the same hash family."""
    tok = d.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 3
    )
    sh = tok.select(
        "doc_id", F.explode(F.array_distinct(shingles(F.col("toks"), 3))).alias("sh")
    )
    hh = sh.select("doc_id", F.md5("sh").alias("m")).select(
        "doc_id",
        F.conv(F.substring("m", 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring("m", 9, 8), 16, 10).cast("long").alias("h2"),
    )
    two32 = F.lit(4294967296)
    return (
        hh.groupBy("doc_id")
        .agg(
            *[
                F.min((F.col("h1") + F.lit(i) * F.col("h2")) % two32).alias(f"h{i}")
                for i in range(_N_HASHES)
            ]
        )
        .withColumn("sig", F.array(*[f"h{i}" for i in range(_N_HASHES)]))
    )


def band_rows(sig: DataFrame) -> DataFrame:
    # band rows keyed by xxhash64 of the band's values instead of the
    # concat_ws string (optimization r14, guide §2.3 — see
    # dedup.band_rows_hashed); every consumer re-verifies the exact
    # band equality at the join output (dedup.band_join), so
    # the candidate sets are identical while the band exchange carries
    # a long, not a ~40-byte string.
    return band_rows_hashed(sig, _BANDS, _N_HASHES // _BANDS)


def _mstore_oracle() -> str:
    h_defs = ",\n         ".join(
        f"min((h1 + {i} * h2) % 4294967296) AS h{i}" for i in range(_N_HASHES)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band,"
        f" concat_ws(',', h{4 * b}, h{4 * b + 1}, h{4 * b + 2}, h{4 * b + 3}) AS bucket"
        f" FROM sig"
        for b in range(_BANDS)
    )
    matches = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(_N_HASHES)
    )
    return f"""
WITH shs AS ({_SHINGLE_SQL}),
s AS (SELECT doc_id, unnest(shset) AS sh FROM shs),
hh AS (
  SELECT doc_id,
         {_minhash_hex32_sql("md5(sh)", 1)} AS h1,
         {_minhash_hex32_sql("md5(sh)", 9)} AS h2
  FROM s
),
sig AS (
  SELECT doc_id,
         {h_defs}
  FROM hh GROUP BY doc_id
),
bands AS (
{band_rows}
),
pairs AS (
  SELECT DISTINCT x.doc_id AS bid, y.doc_id AS rid
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.bucket = y.bucket
  WHERE x.doc_id % 10 >= 7 AND y.doc_id % 10 < 7
),
est AS (
  SELECT bid, rid, ({matches}) / 16.0 AS e
  FROM pairs
  JOIN sig a ON bid = a.doc_id
  JOIN sig b ON rid = b.doc_id
),
per AS (
  SELECT bid,
         count(*) AS n_cand,
         sum(CASE WHEN e >= {MSTORE_THRESH} THEN 1 ELSE 0 END) AS n_near,
         min(CASE WHEN e >= {MSTORE_THRESH} THEN rid END) AS best_ref,
         round(max(e), 4) AS best_est
  FROM est GROUP BY bid
),
batch AS (SELECT doc_id FROM documents WHERE doc_id % 10 >= 7)
SELECT d.doc_id,
       CAST(coalesce(p.n_cand, 0) AS BIGINT) AS n_cand,
       CAST(coalesce(p.n_near, 0) AS BIGINT) AS n_near,
       CAST(p.best_ref AS BIGINT) AS best_ref,
       CAST(p.best_est AS DOUBLE) AS best_est,
       CASE WHEN g.doc_id IS NULL THEN 'no_signature'
            WHEN coalesce(p.n_near, 0) > 0 THEN 'near_dup'
            ELSE 'unique' END AS verdict
FROM batch d
LEFT JOIN (SELECT DISTINCT doc_id FROM sig) g ON d.doc_id = g.doc_id
LEFT JOIN per p ON d.doc_id = p.bid
ORDER BY d.doc_id
"""


DEDUP_MINHASH_STORE_INCREMENTAL_ORACLE = _mstore_oracle()


@query("dedup_minhash_store_incremental", oracle=DEDUP_MINHASH_STORE_INCREMENTAL_ORACLE)
def dedup_minhash_store_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe the reference MinHash store with a new batch; one row per
    batch doc: (doc_id, n_cand, n_near, best_ref, best_est, verdict ∈
    near_dup / unique / no_signature).

    Scale shape: the persisted store is (doc_id, band, bhash) plus
    the 16-long signatures — 4 band rows and 128 signature bytes per
    reference doc, never bodies. The probe is an equi-join on
    (band, bhash) with exact band re-verification from the riding
    signatures — banding bounds candidates exactly as the
    registered dedup_minhash's self-join does (hot buckets are the
    same doc-frequency-capped story), the signatures ride the join so
    adjudication needs no second pass, and the per-batch-doc verdict
    is one partial-aggregable groupBy. Appending a crawl's batch to a
    10⁹-doc store costs O(batch bands + collisions), never a
    corpus-wide re-shingle — the store IS the incremental artifact."""
    sig = _minhash_sigs(spark, sf_dir).localCheckpoint(eager=True)
    ref_b = band_rows(sig.filter(F.col("doc_id") % 10 < 7))
    bat_b = band_rows(sig.filter(F.col("doc_id") % 10 >= 7))
    # the estimate is a pure function of the (bid, rid) pair, so it is
    # folded to a scalar at the join output and the candidate-dedup
    # exchange carries 3 scalars per collision, not two 16-long arrays
    est = (
        band_join(bat_b, ref_b, _N_HASHES // _BANDS)
        .select(
            F.col("x.doc_id").alias("bid"),
            F.col("y.doc_id").alias("rid"),
            (sig_agreement(_N_HASHES) / F.lit(float(_N_HASHES))).alias("e"),
        )
        .dropDuplicates(["bid", "rid"])
    )
    per = est.groupBy("bid").agg(
        F.count("*").cast("long").alias("n_cand"),
        F.sum(F.when(F.col("e") >= MSTORE_THRESH, 1).otherwise(0))
        .cast("long")
        .alias("n_near"),
        F.min(F.when(F.col("e") >= MSTORE_THRESH, F.col("rid"))).alias("best_ref"),
        F.round(F.max("e"), 4).alias("best_est"),
    )
    batch = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 >= 7)
        .select("doc_id")
    )
    has_sig = sig.select(F.col("doc_id"), F.lit(1).alias("_sig"))
    return (
        batch.join(has_sig, "doc_id", "left")
        .join(per, batch["doc_id"] == per["bid"], "left")
        .select(
            "doc_id",
            F.coalesce("n_cand", F.lit(0)).cast("long").alias("n_cand"),
            F.coalesce("n_near", F.lit(0)).cast("long").alias("n_near"),
            F.col("best_ref").cast("long").alias("best_ref"),
            F.col("best_est").cast("double").alias("best_est"),
            F.when(F.col("_sig").isNull(), "no_signature")
            .when(F.coalesce("n_near", F.lit(0)) > 0, "near_dup")
            .otherwise("unique")
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


# ---- dedup_embedding_store_incremental ------------------------------------------
#
# The EMBEDDING leg of the incremental-store triple (exact fp store →
# dedup_store_merge; MinHash signature store →
# dedup_minhash_store_incremental; this key closes the set): a NEW
# vector batch (vec_id % 4 == 3, knn_ivf_append's split) probes the
# reference corpus's persisted sign-bucket LSH store, same-bucket
# candidates are adjudicated by exact cosine at the registered
# dedup_embedding threshold, and every batch vector gets a verdict.
# Bucket function (sign_bucket / sign_bucket_sql), bucket width and
# the 0.4 cosine bar are all IMPORTED from the registered key's
# module, so the store cannot fork the LSH family.

_ESTORE_THRESH = 0.4  # the registered dedup_embedding near bar


def _estore_oracle() -> str:

    return f"""
WITH e AS (
  SELECT vec_id, v, {_EMBED_BUCKET_SQL} AS bucket
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
),
ref AS (SELECT vec_id AS rid, v AS rv, bucket FROM e WHERE vec_id % 4 <> 3),
bat AS (SELECT vec_id AS bid, v AS bv, bucket FROM e WHERE vec_id % 4 = 3),
cand AS (
  SELECT bid, rid,
         round(list_dot_product(bv, rv) /
               (sqrt(list_dot_product(bv, bv)) * sqrt(list_dot_product(rv, rv))),
               4) AS cos
  FROM bat JOIN ref USING (bucket)
),
per AS (
  SELECT bid,
         count(*) AS n_cand,
         sum(CASE WHEN cos >= {_ESTORE_THRESH} THEN 1 ELSE 0 END) AS n_near,
         min(CASE WHEN cos >= {_ESTORE_THRESH} THEN rid END) AS best_ref,
         max(cos) AS best_cos
  FROM cand GROUP BY bid
)
SELECT b.bid AS vec_id,
       CAST(coalesce(p.n_cand, 0) AS BIGINT) AS n_cand,
       CAST(coalesce(p.n_near, 0) AS BIGINT) AS n_near,
       CAST(p.best_ref AS BIGINT) AS best_ref,
       CAST(p.best_cos AS DOUBLE) AS best_cos,
       CASE WHEN coalesce(p.n_near, 0) > 0 THEN 'near_dup' ELSE 'unique' END
         AS verdict
FROM bat b LEFT JOIN per p ON b.bid = p.bid
ORDER BY vec_id
"""


DEDUP_EMBEDDING_STORE_INCREMENTAL_ORACLE = _estore_oracle()


@query("dedup_embedding_store_incremental", oracle=DEDUP_EMBEDDING_STORE_INCREMENTAL_ORACLE)
def dedup_embedding_store_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Probe the reference sign-bucket store with a new vector batch;
    one row per batch vector: (vec_id, n_cand, n_near, best_ref,
    best_cos, verdict ∈ near_dup / unique).

    Scale shape: the persisted store is (bucket, vec_id, vector) —
    the bucket id is 1 byte of key per vector; the probe is an
    equi-join on bucket (O(Σ |batch_b|·|ref_b|) scored candidates,
    never a cross product — the registered dedup_embedding's audited
    shape), and the per-vector verdict is one partial-aggregable
    groupBy. Appending a day of vectors to a 10⁹-vector store costs
    O(batch·avg-bucket), no corpus re-embedding or re-bucketing."""
    from datapipeline_scripts_spark.functions.vectors import cosine, sign_bucket

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        sign_bucket(F.col("embedding"), _EMBED_BUCKET_DIMS).alias("bucket"),
    )
    ref = e.filter(F.col("vec_id") % 4 != 3).select(
        F.col("vec_id").alias("rid"), F.col("embedding").alias("rv"), "bucket"
    )
    bat = e.filter(F.col("vec_id") % 4 == 3).select(
        F.col("vec_id").alias("bid"), F.col("embedding").alias("bv"), "bucket"
    )
    cand = bat.join(ref, "bucket").select(
        "bid", "rid", F.round(cosine(F.col("bv"), F.col("rv")), 4).alias("cos")
    )
    per = cand.groupBy("bid").agg(
        F.count("*").cast("long").alias("n_cand"),
        F.sum(F.when(F.col("cos") >= _ESTORE_THRESH, 1).otherwise(0))
        .cast("long")
        .alias("n_near"),
        F.min(F.when(F.col("cos") >= _ESTORE_THRESH, F.col("rid"))).alias("best_ref"),
        F.max("cos").alias("best_cos"),
    )
    return (
        bat.select("bid")
        .join(per, "bid", "left")
        .select(
            F.col("bid").alias("vec_id"),
            F.coalesce("n_cand", F.lit(0)).cast("long").alias("n_cand"),
            F.coalesce("n_near", F.lit(0)).cast("long").alias("n_near"),
            F.col("best_ref").cast("long").alias("best_ref"),
            F.col("best_cos").cast("double").alias("best_cos"),
            F.when(F.coalesce("n_near", F.lit(0)) > 0, "near_dup")
            .otherwise("unique")
            .alias("verdict"),
        )
        .orderBy("vec_id")
    )


# ---- dedup_substring_spans ---------------------------------------------------

# The 100x proxy killed two earlier cuts of this key (the
# fixed-threshold-vs-corpus-size lesson, twice over —
# docs/SCALE_EXPERIMENT.md "Round-12 staging sweep"): K=4 grams all
# exceeded a doc-frequency cap of 6 there (tiny vocabulary), and at
# K=8 the proxy's ~100-member shared-prefix text families STILL put
# every real gram past any affordable cap — while raising the cap
# would have made pair generation quadratic (C(100,2) per family).
# The shipped form is the formulation Lee et al. actually scale with:
# every duplicated gram occurrence pairs against its CANONICAL FIRST
# OCCURRENCE only (min (doc_id, pos), packed into one BIGINT), so
# pair volume is LINEAR in duplicated occurrences, no doc-frequency
# cap exists to saturate, and the machinery fires at every rung
# because duplication itself drives it.
_SS_K = 8  # gram length (tokens); 8-grams collide only under real duplication
_SS_MIN_RUN = 3  # min consecutive matching grams => span >= 10 tokens
SS_INJ = 16  # injected predecessor-prefix length (tokens)
# canonical occurrence = min(doc_id * 2^20 + pos): positions pack into
# 20 bits (docs beyond 2^20 tokens are out of contract and would fail
# loudly in the must-fire tests, not silently); doc_id headroom is
# 2^43 under BIGINT.
_SS_POS_PACK = 1 << 20


def _span_bodies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, body): normalized text, with the constructed 16-token
    predecessor-prefix injection for doc_id % 9 == 5 (the refetch
    idiom — guarantees the long-span class fires at every SF; the
    fixtures' planted near-duplicates provide the natural class).

    NULL text is coalesced to '' on BOTH engines (ADVICE r12): without
    it Spark's concat_ws over a null token slice yields '' (non-null,
    so the injection branch fires) while DuckDB's
    array_to_string(string_split(NULL)) yields NULL and skips it —
    a cross-engine fork on any corpus with NULL bodies."""
    d = load_table(spark, sf_dir, "documents")
    safe_text = F.coalesce(F.col("text"), F.lit(""))
    prev = d.select(
        (F.col("doc_id") + 1).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(F.split(normalize_text(safe_text), " "), 1, SS_INJ)
        ).alias("inj"),
    )
    return (
        d.select("doc_id", normalize_text(safe_text).alias("norm"))
        .join(prev, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 9 == 5) & F.col("inj").isNotNull(),
                F.concat_ws(" ", F.col("inj"), F.col("norm")),
            )
            .otherwise(F.col("norm"))
            .alias("body"),
        )
    )


def _dup_gram_occurrences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every gram occurrence of a DUPLICATED gram (global n_occ >= 2),
    annotated with its canonical first occurrence: (doc_id, pos,
    self_packed, packed, f_pos). The canonical occurrence is
    min(doc_id * 2^20 + pos) — one BIGINT min, partial-aggregable.

    Scale shape: grams shuffle as (hash, doc, pos) triples (24 bytes;
    the corpus text never shuffles); the stats pass is one groupBy on
    the gram hash; the annotate pass joins occurrences back on the
    same hash key. Downstream volume is LINEAR in duplicated
    occurrences — each occurrence links to exactly ONE canonical
    partner, never to C(n,2) pairs, so pervasive duplication (the
    100x proxy's ~100-member text families) makes the output grow
    linearly, not quadratically, and no doc-frequency cap exists to
    saturate."""
    return _dup_gram_occurrences_of(_span_bodies(spark, sf_dir))


def _dup_gram_occurrences_of(bodies: DataFrame) -> DataFrame:
    """`_dup_gram_occurrences` over an arbitrary (doc_id, body) frame —
    the excise key checkpoints the bodies frame once and feeds it to
    both its n_tokens leg and this chain (ADVICE r12: without the
    shared frame the normalized-text + injection build ran two full
    corpus scans per excise run)."""
    return dup_gram_occurrences_of_toks(
        bodies.select("doc_id", F.split("body", " ").alias("toks"))
    )


def dup_gram_occurrences_of_toks(tok_frame: DataFrame) -> DataFrame:
    """`_dup_gram_occurrences` over a pre-split (doc_id, toks) frame —
    the selection composite tokenizes ONCE for both its gram streams
    (optimization r14) and delegates here, so the dup-gram chain
    cannot fork between the standalone keys and the composite."""
    toks = tok_frame.filter(F.size("toks") >= _SS_K)
    # EAGER: the gram table feeds the stats pass, the annotate join
    # and (in the excise key) the coverage leg — without the
    # checkpoint each consumer re-runs the corpus scan + gram hash
    # (8 scans measured). One materialization of (doc_id, pos, h)
    # 24-byte rows is the compute-once contract.
    grams = toks.select(
        "doc_id", F.posexplode(ngram_join(F.col("toks"), _SS_K)).alias("pos", "g")
    ).select(
        "doc_id", F.col("pos").cast("long").alias("pos"), md5_48(F.col("g")).alias("h")
    ).localCheckpoint(eager=True)
    # per-gram stats (n_occ, canonical first occurrence) as WINDOW
    # functions over the gram hash instead of groupBy(h) + join-back
    # on h (optimization r14, guide §2.4): the join form shuffled the
    # gram table TWICE (once under the stats aggregate, once as the
    # SortMergeJoin probe — the partial aggregate makes the exchanges
    # non-reusable); the window form shuffles it once and the join
    # disappears. Values are identical: count/min over the full h
    # partition, filtered to duplicated grams after the window.
    wh = W.partitionBy("h")
    return (
        grams.select(
            "doc_id",
            "pos",
            (F.col("doc_id") * _SS_POS_PACK + F.col("pos")).alias("self_packed"),
            F.count("*").over(wh).alias("n_occ"),
            F.min(F.col("doc_id") * _SS_POS_PACK + F.col("pos")).over(wh).alias("packed"),
        )
        .filter(F.col("n_occ") >= 2)
        .select(
            "doc_id",
            "pos",
            "self_packed",
            "packed",
            (F.col("packed") % _SS_POS_PACK).alias("f_pos"),
        )
    )


def _span_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal shared-gram runs of each doc against the CANONICAL
    first occurrence of its duplicated grams: (doc_a, doc_b, diag,
    grp, run, start_a, start_b), run >= _SS_MIN_RUN, doc_a = the
    canonical doc, doc_b = the repeating doc.

    The island collapse is one window + one aggregate keyed on
    (doc_a, doc_b, diag = pa - pb) — partial-aggregable; consecutive
    canonical positions group via pos - row_number() (gaps and
    islands). No CartesianProduct at any step."""
    dup = _dup_gram_occurrences(spark, sf_dir)
    m = (
        dup.filter(
            F.col("self_packed") - F.col("self_packed") % _SS_POS_PACK
            != F.col("packed") - F.col("packed") % _SS_POS_PACK
        )
        .select(
            F.expr(f"CAST(packed div {_SS_POS_PACK} AS BIGINT)").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
            F.col("f_pos").alias("pa"),
            F.col("pos").alias("pb"),
            (F.col("f_pos") - F.col("pos")).alias("diag"),
        )
    )
    w = W.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    isl = m.withColumn("grp", F.col("pa") - F.row_number().over(w))
    return (
        isl.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.count("*").alias("run"),
            F.min("pa").alias("start_a"),
            F.min("pb").alias("start_b"),
        )
        .filter(F.col("run") >= _SS_MIN_RUN)
    )


def span_ctes_sql() -> str:
    gram = "concat(" + ", ' ', ".join(f"toks[pos + {i + 1}]" for i in range(_SS_K)) + ")"
    return f"""
raw AS (SELECT doc_id, {_NORM_SAFE_SQL} AS norm FROM documents),
prev AS (
  SELECT doc_id + 1 AS doc_id,
         array_to_string(string_split(norm, ' ')[1:{SS_INJ}], ' ') AS inj
  FROM raw
),
bodies AS (
  SELECT r.doc_id,
         CASE WHEN r.doc_id % 9 = 5 AND p.inj IS NOT NULL
              THEN p.inj || ' ' || r.norm ELSE r.norm END AS body
  FROM raw r LEFT JOIN prev p USING (doc_id)
),
tok AS (
  SELECT doc_id, toks FROM (SELECT doc_id, string_split(body, ' ') AS toks FROM bodies)
  WHERE len(toks) >= {_SS_K}
),
grams AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos, {md5_48_sql(gram)} AS h
  FROM (SELECT doc_id, toks, unnest(range(len(toks) - {_SS_K - 1})) AS pos FROM tok)
),
stats AS (
  SELECT h, count(*) AS n_occ,
         min(doc_id * {_SS_POS_PACK} + pos) AS packed
  FROM grams GROUP BY h
),
dupg AS (
  SELECT g.doc_id, g.pos,
         g.doc_id * {_SS_POS_PACK} + g.pos AS self_packed,
         s.packed, s.packed % {_SS_POS_PACK} AS f_pos
  FROM grams g JOIN stats s USING (h)
  WHERE s.n_occ >= 2
),
m AS (
  SELECT CAST(packed // {_SS_POS_PACK} AS BIGINT) AS doc_a,
         doc_id AS doc_b, f_pos AS pa, pos AS pb, f_pos - pos AS diag
  FROM dupg
  WHERE self_packed - self_packed % {_SS_POS_PACK}
        <> packed - packed % {_SS_POS_PACK}
),
isl AS (
  SELECT doc_a, doc_b, diag,
         pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp,
         pa, pb
  FROM m
),
spans AS (
  SELECT doc_a, doc_b, diag, grp, count(*) AS run,
         min(pa) AS start_a, min(pb) AS start_b
  FROM isl GROUP BY 1, 2, 3, 4
  HAVING count(*) >= {_SS_MIN_RUN}
)
"""


DEDUP_SUBSTRING_SPANS_ORACLE = f"""
WITH {span_ctes_sql()}
SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_spans,
       CAST(max(run + {_SS_K} - 1) AS BIGINT) AS max_span_tokens,
       CAST(sum(run) AS BIGINT) AS dup_grams
FROM spans GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b
"""


@query("dedup_substring_spans", oracle=DEDUP_SUBSTRING_SPANS_ORACLE)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-span report (Lee et al. 2107.06499 shape); one
    row per (canonical doc, repeating doc) pair sharing a >= 10-token
    exact span: (doc_a, doc_b, n_spans, max_span_tokens, dup_grams).
    doc_a is the corpus-wide FIRST occurrence of the span's grams —
    the copy a first-occurrence-survives policy keeps — so each
    duplicated occurrence reports against one partner and the output
    stays linear under pervasive duplication."""
    isl = _span_islands(spark, sf_dir)
    return (
        isl.groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.max(F.col("run") + _SS_K - 1).cast("long").alias("max_span_tokens"),
            F.sum("run").cast("long").alias("dup_grams"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---- dedup_substring_excise --------------------------------------------------


def excise_of(ntok: DataFrame, dup: DataFrame) -> DataFrame:
    """The excise accounting over an (doc_id, n_tokens) frame and a
    dup-gram occurrence frame — ONE code path shared by the standalone
    excise key and the selection composite (optimization r14), so the
    keep_bp arithmetic cannot fork.

    dup_tokens = |union of the K-token intervals [pos, pos+K-1]| per
    doc, computed as an interval-union sum over the pos-sorted
    occurrences (optimization r14, guide §2.3): each occurrence covers
    min(K, pos - prev_pos) NEW positions (K for the first). Positions
    are unique per doc (one gram row per (doc_id, pos)), so this
    equals the old explode(sequence(pos, pos+K-1)) → DISTINCT →
    count construction exactly, while the exchange carries the
    |dup-occurrence| rows themselves instead of K× exploded positions
    through a distinct re-aggregation (8× fewer shuffle rows at any
    scale; the DuckDB oracle keeps the distinct-positions form, so the
    equality is hash-proven at both fixture SFs)."""
    w = W.partitionBy("doc_id").orderBy("pos")
    cover = (
        dup.filter(F.col("self_packed") != F.col("packed"))
        .select("doc_id", "pos")
        .withColumn("gap", F.col("pos") - F.lag("pos").over(w))
        .select(
            "doc_id",
            F.when(F.col("gap").isNull(), F.lit(_SS_K))
            .otherwise(F.least(F.lit(_SS_K), F.col("gap")))
            .alias("newly_covered"),
        )
        .groupBy("doc_id")
        .agg(F.sum("newly_covered").alias("dup_tokens"))
    )
    return ntok.join(cover, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        F.expr(
            "CAST((n_tokens - coalesce(dup_tokens, 0)) * 10000 div n_tokens AS BIGINT)"
        ).alias("keep_bp"),
    )


def excise_ctes_sql() -> str:
    """The per-doc duplicated-coverage chain (composes after
    span_ctes_sql; shared by the excise oracle and the
    selection-pipeline composite so the accounting cannot fork)."""
    return f"""
ntok AS (SELECT doc_id, len(string_split(body, ' ')) AS n_tokens FROM bodies),
cover AS (
  SELECT DISTINCT doc_id, pos + u.x AS p
  FROM dupg, unnest(range({_SS_K})) AS u(x)
  WHERE self_packed <> packed
),
dupcnt AS (SELECT doc_id, count(*) AS dup_tokens FROM cover GROUP BY doc_id),
excise AS (
  SELECT n.doc_id, CAST(n.n_tokens AS BIGINT) AS n_tokens,
         CAST(coalesce(d.dup_tokens, 0) AS BIGINT) AS dup_tokens,
         CAST((n.n_tokens - coalesce(d.dup_tokens, 0)) * 10000 // n.n_tokens AS BIGINT) AS keep_bp
  FROM ntok n LEFT JOIN dupcnt d USING (doc_id)
)
"""


DEDUP_SUBSTRING_EXCISE_ORACLE = f"""
WITH {span_ctes_sql()},
{excise_ctes_sql()}
SELECT doc_id, n_tokens, dup_tokens, keep_bp FROM excise ORDER BY doc_id
"""


@query("dedup_substring_excise", oracle=DEDUP_SUBSTRING_EXCISE_ORACLE)
def dedup_substring_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-substring removal accounting under
    first-occurrence-survives; one row per document: (doc_id,
    n_tokens, dup_tokens, keep_bp). dup_tokens = distinct token
    positions covered by any NON-CANONICAL duplicated gram occurrence
    (cross-doc repeats AND within-doc repeats — Lee et al. excise
    both); the canonical occurrence itself is what survives. The
    union is distinct, so overlapping occurrences never
    double-count."""
    # EAGER: bodies feeds BOTH the n_tokens leg and the gram chain —
    # without the checkpoint the normalized-text + injection build
    # runs two full corpus scans per excise run (ADVICE r12).
    bodies = _span_bodies(spark, sf_dir).localCheckpoint(eager=True)
    ntok = bodies.select(
        "doc_id", F.size(F.split("body", " ")).cast("long").alias("n_tokens")
    )
    dup = _dup_gram_occurrences_of(bodies)
    return excise_of(ntok, dup).orderBy("doc_id")


# ---- dedup_minhash_band_tuning -------------------------------------------------

_BT_CONFIGS = ((2, 8), (4, 4), (8, 2))  # (bands, rows_per_band), b*r = 16
_BT_MIN_MATCH = 8  # est_jaccard >= 0.5 on 16 hashes


def _band_tuning_report_of(sig: DataFrame) -> DataFrame:
    """The operating-curve report over an arbitrary (doc_id, h0..h15,
    sig) frame — factored so the single-join nesting construction is
    unit-testable against the per-config form on synthetic
    signatures."""
    # loosest config: 8 bands × 2 rows — band rows keyed by xxhash64
    # of the band's two values with exact band re-verification at the
    # join output (optimization r14, guide §2.3 — see
    # dedup.band_rows_hashed): identical (8,2) candidate set, long
    # join keys instead of ~21-byte strings through the band exchange.
    bands = band_rows_hashed(sig, 8, 2)
    # all scalars below are pure functions of the pair, so computing
    # them at the join output and deduping after is the identical set
    # (the r13 est-folding argument); the dedup exchange carries five
    # ints per candidate instead of two 16-long arrays
    # eq2[b]: the b-th 2-row band matches in full
    eq2 = [
        (F.col("x.sig")[2 * b] == F.col("y.sig")[2 * b])
        & (F.col("x.sig")[2 * b + 1] == F.col("y.sig")[2 * b + 1])
        for b in range(8)
    ]
    # coarser-config candidacy: some 4-row (resp. 8-row) band matches,
    # i.e. both (resp. all four) of its 2-row sub-bands match
    in44 = eq2[0] & eq2[1] | eq2[2] & eq2[3] | eq2[4] & eq2[5] | eq2[6] & eq2[7]
    in28 = eq2[0] & eq2[1] & eq2[2] & eq2[3] | eq2[4] & eq2[5] & eq2[6] & eq2[7]
    pairs = (
        band_join(bands, bands, 2, F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            sig_agreement(_N_HASHES).alias("m"),
            F.when(in44, 1).otherwise(0).alias("c44"),
            F.when(in28, 1).otherwise(0).alias("c28"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ver = F.col("m") >= _BT_MIN_MATCH
    # per-config counts as conditional sums; n_verified must be NULL
    # (not 0) exactly when that config's candidate set is empty — the
    # empty-input global-agg semantics of the per-config form
    agg = pairs.agg(
        F.count("*").cast("long").alias("cand82"),
        F.sum(F.when(ver, 1).otherwise(0)).cast("long").alias("ver82"),
        F.coalesce(F.sum("c44"), F.lit(0)).cast("long").alias("cand44"),
        F.when(
            F.sum("c44") > 0,
            F.sum(F.when(ver & (F.col("c44") == 1), 1).otherwise(0)),
        )
        .cast("long")
        .alias("ver44"),
        F.coalesce(F.sum("c28"), F.lit(0)).cast("long").alias("cand28"),
        F.when(
            F.sum("c28") > 0,
            F.sum(F.when(ver & (F.col("c28") == 1), 1).otherwise(0)),
        )
        .cast("long")
        .alias("ver28"),
    )
    # recall's denominator (the 8×2 config's verified count) is a
    # column of the SAME one-row aggregate, so the report needs no
    # self-referencing filter + crossJoin (which would duplicate the
    # join subtree into both branches) — everything is computed off
    # the single agg row and exploded to the three config rows
    cfg_cols = {2: ("cand28", "ver28"), 4: ("cand44", "ver44"), 8: ("cand82", "ver82")}
    return (
        agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(n_bands).cast("long").alias("n_bands"),
                            F.lit(rows).cast("long").alias("rows_per_band"),
                            F.col(cfg_cols[n_bands][0]).alias("n_candidates"),
                            F.col(cfg_cols[n_bands][1]).alias("n_verified"),
                        )
                        for n_bands, rows in _BT_CONFIGS
                    ]
                )
            ).alias("cfg"),
            F.col("ver82").alias("ref_verified"),
        )
        .select(
            "cfg.*",
            F.expr(
                "CAST(CASE WHEN cfg.n_candidates = 0 THEN NULL"
                " ELSE cfg.n_verified * 10000 div cfg.n_candidates END AS BIGINT)"
            ).alias("precision_bp"),
            F.expr(
                "CAST(CASE WHEN ref_verified = 0 THEN NULL"
                " ELSE cfg.n_verified * 10000 div ref_verified END AS BIGINT)"
            ).alias("recall_bp"),
        )
        .orderBy("n_bands")
    )


def _bt_oracle() -> str:
    h_defs = ",\n         ".join(
        f"min((h1 + {i} * h2) % 4294967296) AS h{i}" for i in range(_N_HASHES)
    )
    matches = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(_N_HASHES)
    )
    config_blocks = []
    for n_bands, rows in _BT_CONFIGS:
        band_rows = "\n      UNION ALL\n".join(
            f"      SELECT doc_id, {b} AS band, concat_ws(',', "
            + ", ".join(f"h{b * rows + r}" for r in range(rows))
            + ") AS bucket FROM sig"
            for b in range(n_bands)
        )
        config_blocks.append(
            f"""
  SELECT {n_bands} AS n_bands, {rows} AS rows_per_band,
         count(*) AS n_candidates,
         sum(CASE WHEN m >= {_BT_MIN_MATCH} THEN 1 ELSE 0 END) AS n_verified
  FROM (
    SELECT p.doc_a, p.doc_b, ({matches}) AS m
    FROM (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM (
{band_rows}
      ) x JOIN (
{band_rows}
      ) y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    ) p
    JOIN sig a ON p.doc_a = a.doc_id
    JOIN sig b ON p.doc_b = b.doc_id
  )"""
        )
    union = "\n  UNION ALL\n".join(config_blocks)
    return f"""
WITH shs AS ({_SHINGLE_SQL}),
s AS (SELECT doc_id, unnest(shset) AS sh FROM shs),
hh AS (
  SELECT doc_id,
         {_minhash_hex32_sql("md5(sh)", 1)} AS h1,
         {_minhash_hex32_sql("md5(sh)", 9)} AS h2
  FROM s
),
sig AS (
  SELECT doc_id,
         {h_defs}
  FROM hh GROUP BY doc_id
),
rep AS (
{union}
),
ref AS (SELECT n_verified AS ref_verified FROM rep WHERE n_bands = 8)
SELECT CAST(n_bands AS BIGINT) AS n_bands,
       CAST(rows_per_band AS BIGINT) AS rows_per_band,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_verified AS BIGINT) AS n_verified,
       CAST(CASE WHEN n_candidates = 0 THEN NULL
            ELSE n_verified * 10000 // n_candidates END AS BIGINT) AS precision_bp,
       CAST(CASE WHEN ref_verified = 0 THEN NULL
            ELSE n_verified * 10000 // ref_verified END AS BIGINT) AS recall_bp
FROM rep CROSS JOIN ref
ORDER BY n_bands
"""


DEDUP_MINHASH_BAND_TUNING_ORACLE = _bt_oracle()


@query("dedup_minhash_band_tuning", oracle=DEDUP_MINHASH_BAND_TUNING_ORACLE)
def dedup_minhash_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH operating curve over the registered signature family;
    one row per (bands, rows) config: (n_bands, rows_per_band,
    n_candidates, n_verified, precision_bp, recall_bp).

    recall_bp is exact, not sampled: band boundaries nest (an 8-row
    band match implies its 2-row sub-bands match), so every config's
    verified set is a subset of the loosest (8x2) config's — the
    denominator is the TRUE positive count this signature family can
    surface. precision_bp guards the zero-candidate case explicitly
    on both engines (the knn_ivf_append lesson).

    Scale shape: ONE signature build (shared by import with
    dedup_minhash — the table is eager-checkpointed), then ONE bucket
    self-join at the loosest (8×2) config. Band boundaries nest, so
    the (4,4) and (2,8) candidate sets are SUBSETS of the (8,2) set,
    and membership is a pure function of the pair's signatures: an
    r-row band of a coarser config matches iff all of its 2-row
    sub-bands match. Each pair therefore carries per-config membership
    flags computed at the join output, and the three per-config
    aggregates become conditional sums over one deduped pair set
    (optimization r14, guide §2.1/§3 — three pair-sized self-joins +
    three candidate-dedup exchanges collapse to one of each; same
    banded-join bound as the registered key)."""
    sig = minhash_signatures(spark, sf_dir).localCheckpoint(eager=True)
    return _band_tuning_report_of(sig)


# ---- dedup_substring_families ---------------------------------------------------


DEDUP_SUBSTRING_FAMILIES_ORACLE = f"""
WITH {span_ctes_sql()}
SELECT doc_a, CAST(count(DISTINCT doc_b) AS BIGINT) AS n_repeat_docs,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(max(run + {_SS_K} - 1) AS BIGINT) AS max_span_tokens,
       CAST(sum(run) AS BIGINT) AS dup_grams
FROM spans GROUP BY doc_a ORDER BY doc_a
"""


@query("dedup_substring_families", oracle=DEDUP_SUBSTRING_FAMILIES_ORACLE)
def dedup_substring_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cluster-level rollup of the span report — one row per
    CANONICAL document that has at least one repeating partner:
    (doc_a, n_repeat_docs, n_spans, max_span_tokens, dup_grams).
    This is the family inventory a span-dedup pass publishes (which
    sources seed duplication, how wide each family spreads) and the
    re-crawl prioritization input: a canonical doc with hundreds of
    repeaters is boilerplate; one with a single long-span partner is
    a true near-duplicate.

    Scale shape: one further partial-aggregable groupBy over the
    island table (already linear in duplicated occurrences); output
    is bounded by the number of canonical docs."""
    isl = _span_islands(spark, sf_dir)
    return (
        isl.groupBy("doc_a")
        .agg(
            F.countDistinct("doc_b").cast("long").alias("n_repeat_docs"),
            F.count("*").cast("long").alias("n_spans"),
            F.max(F.col("run") + _SS_K - 1).cast("long").alias("max_span_tokens"),
            F.sum("run").cast("long").alias("dup_grams"),
        )
        .orderBy("doc_a")
    )
