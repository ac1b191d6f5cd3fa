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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from datapipeline_scripts_spark.catalog import load_table, scan_spread
from datapipeline_scripts_spark.functions.text import fingerprint_md5, md5_48, md5_48_sql, normalize_text, shingles, tokens
from datapipeline_scripts_spark.registry import query

_NORM_SQL = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"


@query(
    "dedup_exact_norm",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, {_NORM_SQL} AS norm_text FROM documents
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
  SELECT doc_id, unnest(list_distinct(string_split({_NORM_SQL}, ' '))) AS tok
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
    WITH d AS (SELECT doc_id, source, {_NORM_SQL} AS nt FROM documents),
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
        array_to_string(string_split({_NORM_SQL}, ' ')[1:8], ' ') AS nt,
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
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents
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
