"""Round-12 query keys — staged through the round-11 freeze, then
REGISTERED by the round-12 flip (the registered-from-STAGED pattern:
the programmatic loop at the bottom of this module registers every
key at import, catalog 350 → 368). The staging history below is kept
as-is: each key was held to the registration bar before the flip —
`tests/test_staged_r12.py` runs every builder against its DuckDB
oracle at both fixture SFs.

The round-11 steer (VERDICT r10 item 8) named the two frontier gaps
this module closes first, then widens around them:

quality_score_inference: the INFERENCE half of the in-engine
classifier story at scale — train the perceptron on the even-doc_id
split (the registered eval key's exact two-iteration chain, shared
`_perceptron_features` + `_PE_ITERS` so the keys cannot fork), then
run the broadcast-weights scoring pass over the WHOLE corpus and
report per-source acceptance: n_docs, n_accept, accept basis points,
and a bit_xor margin checksum (the overflow-safe hash-rollup idiom
docs/SCALE.md mandates). This is the shape model-based quality
filtering takes on 100 TB: the model is 4 longs broadcast to every
executor, scoring is map-side, the report is partial-aggregable.

quality_score_calibration: the reliability report for that model —
held-out (odd doc_id) margins bucketed into fixed-width bins, per-bin
count / positives / positive basis points. The monotone pos_bp curve
is what tells a pipeline owner whether a margin threshold transfers
across crawls; integer arithmetic end-to-end.

dedup_store_merge: cross-snapshot fingerprint-store compaction — the
maintenance operation a continuous crawl runs between ingests: three
crawl snapshots (doc_id mod 3) each summarize to a fingerprint store
(distinct fps + occurrence counts), the stores MERGE keyed on fp
(min-crawl provenance survives, counts add), and the report gives
per-crawl novelty: store size, first-seen fps, repeats, novelty basis
points, and a bit_xor store checksum.

text_code_detect: code-vs-prose gating — the curation split every
mixed-corpus pretraining pipeline runs before language-specific
filters. Deterministic synthetic code bodies are injected for
doc_id % 5 == 0 (the bloom/url keys' construct-the-variant idiom), and
the detector is pure codegen'd string algebra: marker occurrence
counts (semicolons, braces, `def `/`return `) weighed against prose
markers (` the `), integer score, thresholded label.

knn_ivf_append: incremental ANN index maintenance — append a NEW
vector batch (vec_id % 4 == 3) to the EXISTING coarse index (centroids
frozen from the old corpus, the registered knn_ivf deterministic
quantizer) WITHOUT retraining: assignment is one broadcast of the
centroid table and a map-side argmax (`_centroid_frame`, the exact
registered helper), and the report shows per-list growth + balance.

dedup_minhash_store_incremental: the near-dup half of the incremental
dedup story (dedup_store_merge is the exact half): a NEW batch
(doc_id % 10 >= 7) probes the REFERENCE corpus's persisted MinHash
signature store through the banded-LSH bucket join, candidates are
verified by signature-overlap estimate, and every batch doc gets a
verdict. Shares `_N_HASHES`/`_BANDS` and the Kirsch-Mitzenmacher
md5-slice hash family with the registered dedup_minhash via import,
so the stores cannot fork.

Second batch (same gate): embedding_prefix_recall (Matryoshka
truncated-dim first-pass audit vs the registered exact top-5),
quality_margin_drift (cross-crawl margin histograms, all-integer L1,
data-sized bins shared with calibration), docs_stream_quality_gate
(the frozen model over the arriving docs as a REAL Structured
Streaming replay; stream ≡ batch pinned by test),
multimodal_image_tiles (ViT-style patch grid through the real BMP
codec, closed-form per-tile oracles).

Third batch (same gate): web_host_pagerank (host authority for crawl
prioritization on the SHARED integer PageRank machinery —
graph.pagerank_rounds / pagerank_unroll_sql, generator ≡ registered
hand-unroll pinned by test), corpus_epoch_upsample (source-weighted
epoch upsampling, the trainer-feed data recipe), text_chunk_spans
(retrieval-side fixed-window chunking with stride overlap — the
RAG-ingest twin of the packing keys, full-coverage invariants
pinned).

Eighth: corpus_mixture_temperature — the τ=0.5 sampling recipe
(lift low-resource sources by weighting ∝ isqrt(n); IEEE sqrt is
correctly rounded, so floor(sqrt(n)) is isqrt cross-engine — one of
the few bit-exact float contracts), with a deterministic rare/mid/
head tier construction so the flattening provably fires.

Seventh: corpus_seqlen_histogram — sequence-length planning on a
power-of-two ladder with an open-ended top bucket (the bin-width
lesson applied by construction), doc/token shares and
pad-to-bucket-ceiling waste per bucket.

Sixth: dedup_embedding_store_incremental — the embedding leg closing
the incremental-store triple (exact fp / MinHash signatures /
sign-bucket vectors), the registered dedup_embedding's LSH family and
threshold imported so the store cannot fork.

Fifth: crawl_increment_pipeline — the INCREMENTAL FLAGSHIP: arrived
batch (refetch-mapped) → exact fp-store probe → banded MinHash
signature-store probe → frozen-model quality gate, one hash-gated
per-source funnel whose stages reuse their standalone keys' machinery
by import (verdicts disjoint by precedence, conserve arrivals, every
stage fires at fixture scale; per-stage tamper drills).

Fourth batch (same gate): docs_stream_dedup_gate — the streaming
twin of dedup_incremental (stream-static fp-store probe with the
refetch construction so the probe provably fires) completing the
continuous-crawl front door beside docs_stream_quality_gate;
text_chunk_spans — retrieval-side fixed-window chunking with stride
overlap, the RAG-ingest twin of the packing keys.

Scale rungs beyond the fixture gate: every staged key hash-proven at
the 10× AND 100× proxies; inference/code-detect/store-merge/upsample
additionally at the 1000× (5M-doc) replica. The 100× sweep caught and
fixed a real scale bug pre-registration: fixed-width margin bins
saturate as weights grow with training-set size → widths now derive
from the data on both engines (docs/SCALE_EXPERIMENT.md).

Registration (round 12) took the catalog 350 → 368.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datapipeline_scripts_spark.catalog import load_table, scan_spread
from datapipeline_scripts_spark.extensions.dedup import (
    _BANDS,
    _N_HASHES,
    _SHINGLE_SQL,
    _minhash_hex32_sql,
    band_join,
    band_rows_hashed,
    sig_agreement,
)
from datapipeline_scripts_spark.extensions.similarity import _centroid_frame
from datapipeline_scripts_spark.functions.text import (
    fingerprint_md5,
    md5_48,
    md5_48_sql,
    shingles,
    tokens,
)
from datapipeline_scripts_spark.sources.staged_r11 import (
    _PE_ITERS,
    _perceptron_features,
    _perceptron_features_of,
)

STAGED: dict[str, tuple] = {}


# ---- shared perceptron-training chain ---------------------------------------
#
# The registered quality_eval_perceptron's two-iteration train loop,
# factored so the r12 inference/calibration keys run the IDENTICAL
# weight trajectory (same _PE_ITERS, same feature builder, same
# update rule). The oracle twin below unrolls the same CTEs.

_PE_FEATS_SQL = """
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


def _pe_train_sql() -> str:
    """The registered eval key's two unrolled train iterations as
    chained CTEs (w{_PE_ITERS} holds the final weights)."""
    margins = {1: "0"}
    for t in range(2, _PE_ITERS + 1):
        p = t - 1
        margins[t] = f"w{p}.w0 + w{p}.w1 * x1 + w{p}.w2 * x2 + w{p}.w3 * x3"
    its = []
    for t in range(1, _PE_ITERS + 1):
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


def _pe_weights(spark: SparkSession, train: DataFrame) -> DataFrame:
    """Run the registered eval key's _PE_ITERS-iteration batch
    perceptron over `train` (columns y, x1..x3); returns the 1-row
    (w0..w3) weight frame. Each iteration is one keyless
    partial-aggregable sum whose 1-row gradient is collected to the
    driver (the bounded singleton-aggregate fan-in, the
    sketches.py:270 class) and fed back as literals.

    Optimization round 13 (guide §5/§7.2): the previous form chained
    each iteration's weights back through crossJoin(broadcast(agg)),
    so the final weight frame's plan nested one broadcast-exchange
    subtree per iteration and every consumer paid _PE_ITERS chained
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
    for _ in range(_PE_ITERS):
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


def _pe_score():
    """The margin column (built lazily — Column construction needs an
    active session)."""
    return (
        F.col("w0")
        + F.col("w1") * F.col("x1")
        + F.col("w2") * F.col("x2")
        + F.col("w3") * F.col("x3")
    )


_PE_SCORE_SQL = "w0 + w1 * x1 + w2 * x2 + w3 * x3"


# ---- quality_score_inference ------------------------------------------------


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
    feats = _perceptron_features(spark, sf_dir, extra=("source",)).localCheckpoint(
        eager=True
    )
    train = feats.filter(F.col("doc_id") % 2 == 0).drop("source")
    w = _pe_weights(spark, train)
    scored = feats.crossJoin(F.broadcast(w)).select(
        "source", _pe_score().alias("margin")
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


QUALITY_SCORE_INFERENCE_ORACLE = f"""
WITH {_PE_FEATS_SQL},
{_pe_train_sql()},
scored AS (
  SELECT f.source, {_PE_SCORE_SQL} AS margin
  FROM feats f CROSS JOIN w{_PE_ITERS}
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

STAGED["quality_score_inference"] = (
    quality_score_inference,
    QUALITY_SCORE_INFERENCE_ORACLE,
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


def quality_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out calibration curve; one row per non-empty margin bin:
    (bin, n, n_pos, pos_bp). Scale shape: same broadcast-weights
    pass as inference, then a 1-row width aggregate broadcast back
    and one partial-aggregable groupBy over ≤ (2·_CAL_CLAMP+1) bins
    — the exchange carries 11 counter rows."""
    feats = _perceptron_features(spark, sf_dir).localCheckpoint(eager=True)
    train = feats.filter(F.col("doc_id") % 2 == 0)
    test = feats.filter(F.col("doc_id") % 2 == 1)
    w = _pe_weights(spark, train)
    scored = test.crossJoin(F.broadcast(w)).select(
        "y", _pe_score().alias("margin")
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


QUALITY_SCORE_CALIBRATION_ORACLE = f"""
WITH {_PE_FEATS_SQL},
{_pe_train_sql()},
test AS (SELECT * FROM feats WHERE doc_id % 2 = 1),
scored AS (
  SELECT y, {_PE_SCORE_SQL} AS margin
  FROM test CROSS JOIN w{_PE_ITERS}
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

STAGED["quality_score_calibration"] = (
    quality_score_calibration,
    QUALITY_SCORE_CALIBRATION_ORACLE,
)


# ---- dedup_store_merge ------------------------------------------------------

_STORE_CRAWLS = 3


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
        "first_crawl", F.min("crawl_id").over(Window.partitionBy("fp"))
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


_STORE_NORM = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"

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

STAGED["dedup_store_merge"] = (dedup_store_merge, DEDUP_STORE_MERGE_ORACLE)


# ---- text_code_detect -------------------------------------------------------

_CODE_THRESHOLD = 60


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

STAGED["text_code_detect"] = (text_code_detect, TEXT_CODE_DETECT_ORACLE)


# ---- knn_ivf_append ---------------------------------------------------------

_APPEND_SEED_MAX = 21  # vec_id < 21 ∧ vec_id % 4 != 3 → exactly 16 old seeds


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

STAGED["knn_ivf_append"] = (knn_ivf_append, KNN_IVF_APPEND_ORACLE)


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

_MSTORE_THRESH = 0.5  # the registered dedup_minhash near-dup bar


def _minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signature (h0..h15 + sig array) — the
    registered dedup_minhash construction, one md5 per distinct
    3-shingle, 16 Kirsch-Mitzenmacher double hashes."""
    return _minhash_sigs_of(
        load_table(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism
        )
    )


def _minhash_sigs_of(d: DataFrame) -> DataFrame:
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


def _band_rows(sig: DataFrame) -> DataFrame:
    # band rows keyed by xxhash64 of the band's values instead of the
    # concat_ws string (optimization r14, guide §2.3 — see
    # dedup.band_rows_hashed); every consumer re-verifies the exact
    # band equality at the join output (dedup.band_join), so
    # the candidate sets are identical while the band exchange carries
    # a long, not a ~40-byte string.
    return band_rows_hashed(sig, _BANDS, _N_HASHES // _BANDS)


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
    ref_b = _band_rows(sig.filter(F.col("doc_id") % 10 < 7))
    bat_b = _band_rows(sig.filter(F.col("doc_id") % 10 >= 7))
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
        F.sum(F.when(F.col("e") >= _MSTORE_THRESH, 1).otherwise(0))
        .cast("long")
        .alias("n_near"),
        F.min(F.when(F.col("e") >= _MSTORE_THRESH, F.col("rid"))).alias("best_ref"),
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
         sum(CASE WHEN e >= {_MSTORE_THRESH} THEN 1 ELSE 0 END) AS n_near,
         min(CASE WHEN e >= {_MSTORE_THRESH} THEN rid END) AS best_ref,
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

STAGED["dedup_minhash_store_incremental"] = (
    dedup_minhash_store_incremental,
    DEDUP_MINHASH_STORE_INCREMENTAL_ORACLE,
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


def embedding_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query truncated-dim recall: (qid, n_hits, recall_bp) for
    the 5 shared query vectors, recall@5 in basis points.

    Scale shape: both legs broadcast the |Q|-row query block and
    score map-side; the prefix leg reads 1/4 of the vector bytes (at
    real scale: a 16-dim column pruned from the store, i.e. a true
    I/O cut, the production MRL first-pass). The intersection is an
    equi-join on (qid, cid) over |Q|·5 rows a side."""
    from datapipeline_scripts_spark.extensions.similarity import knn_brute
    from datapipeline_scripts_spark.functions.vectors import cosine

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
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid"))
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

STAGED["embedding_prefix_recall"] = (
    embedding_prefix_recall,
    EMBEDDING_PREFIX_RECALL_ORACLE,
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

def quality_margin_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bin margin-distribution drift between two crawls:
    (bin, n_a, n_b, share_a_bp, share_b_bp, drift_bp).

    Scale shape: one broadcast-weights scoring pass over the two
    crawls' union, one partial-aggregable groupBy over ≤ 11 bins,
    and the totals ride in as a broadcast 1-row aggregate — the
    exchange carries counters only."""
    feats = _perceptron_features(spark, sf_dir).localCheckpoint(eager=True)
    train = feats.filter(F.col("doc_id") % 2 == 0)
    w = _pe_weights(spark, train)
    scored = (
        feats.filter(F.col("doc_id") % 3 < 2)
        .crossJoin(F.broadcast(w))
        .select((F.col("doc_id") % 3).alias("crawl"), _pe_score().alias("margin"))
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


QUALITY_MARGIN_DRIFT_ORACLE = f"""
WITH {_PE_FEATS_SQL},
{_pe_train_sql()},
scored AS (
  SELECT doc_id % 3 AS crawl, {_PE_SCORE_SQL} AS margin
  FROM feats CROSS JOIN w{_PE_ITERS}
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

STAGED["quality_margin_drift"] = (quality_margin_drift, QUALITY_MARGIN_DRIFT_ORACLE)


# ---- docs_stream_quality_gate -----------------------------------------------
#
# STREAMING model inference — the continuous-crawl deployment shape of
# the quality gate: the arriving batch (odd doc_ids) flows through a
# real Structured Streaming replay (availableNow → foreachBatch
# parquet sink, complete mode — the registered events_stream harness),
# scored against weights trained batch-side on the HISTORICAL evens
# and joined in as a broadcast static side. The report is the per-
# source acceptance of the arriving stream. The batch/stream split
# mirrors production exactly: the model is fitted offline, frozen,
# and applied to the live feed; Spark's stream-static join is the
# mechanism that makes the frozen model visible to every micro-batch.


def docs_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the arriving (odd doc_id) documents through the frozen
    quality model; one row per source: (source, n_arrived, n_accept,
    accept_bp).

    Scale shape: the static side is the 1-row weight table
    (materialized once, broadcast into each micro-batch); the
    streaming side computes features and margin as codegen'd
    projections per micro-batch and the complete-mode aggregate
    carries |sources| counters of state. This is the exact shape a
    Kafka-fed quality gate runs: no corpus-sized state, no
    per-batch retrain."""
    import os

    from datapipeline_scripts_spark.streaming.stream_jobs import _replay_to_parquet

    # EAGER train checkpoint (optimization r13, guide §5 compute-once):
    # _pe_weights runs one aggregate job per iteration over `train`;
    # without the checkpoint each job re-ran the corpus scan + the x3
    # shingle-distinct feature build (the expensive column). The
    # checkpointed rows are five longs per train doc. w itself is a
    # literal 1-row frame (see _pe_weights), so no further checkpoint
    # is needed — jk rides along for the stream-static join key.
    train = (
        _perceptron_features(spark, sf_dir)
        .filter(F.col("doc_id") % 2 == 0)
        .localCheckpoint(eager=True)
    )
    w = _pe_weights(spark, train).withColumn("jk", F.lit(1))

    from datapipeline_scripts_spark.catalog import table_path

    path = table_path(sf_dir, "documents")
    raw_schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        stream = spark.readStream.schema(raw_schema).parquet(path)
    else:
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )
    # the shared feature expressions work unchanged on a streaming
    # frame (pure projections — nothing stateful), so the stream key
    # reuses _perceptron_features_of and cannot fork features from
    # the batch train/eval keys (ADVICE r11).
    sfeat = _perceptron_features_of(
        stream.filter(F.col("doc_id") % 2 == 1), extra=("source",)
    ).select("source", "x1", "x2", "x3", F.lit(1).alias("jk"))
    scored = sfeat.join(F.broadcast(w), "jk").select(
        "source", _pe_score().alias("margin")
    )
    agg = (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_arrived"),
            F.sum(F.when(F.col("margin") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_accept"),
        )
    )
    out = _replay_to_parquet(spark, agg, mode="complete")
    return out.select(
        "source",
        "n_arrived",
        "n_accept",
        F.expr("CAST(n_accept * 10000 div n_arrived AS BIGINT)").alias("accept_bp"),
    ).orderBy("source")


DOCS_STREAM_QUALITY_GATE_ORACLE = f"""
WITH {_PE_FEATS_SQL},
{_pe_train_sql()},
scored AS (
  SELECT f.source, {_PE_SCORE_SQL} AS margin
  FROM feats f CROSS JOIN w{_PE_ITERS}
  WHERE f.doc_id % 2 = 1
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_arrived,
       CAST(sum(CASE WHEN margin > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_accept,
       CAST(sum(CASE WHEN margin > 0 THEN 1 ELSE 0 END) * 10000 // count(*)
            AS BIGINT) AS accept_bp
FROM scored
GROUP BY source
ORDER BY source
"""

STAGED["docs_stream_quality_gate"] = (
    docs_stream_quality_gate,
    DOCS_STREAM_QUALITY_GATE_ORACLE,
)


# ---- multimodal_image_tiles -------------------------------------------------
#
# ViT-style patch extraction — the step between image decode and a
# vision encoder: the decoded image splits into a fixed tile grid and
# each tile ships as a unit (here: per-tile min/max/sum features, the
# same decode-proven integers the resize key established). The codec
# path is REAL end-to-end: per-doc 8-bit palette BMP (identity
# grayscale palette; RLE8 rotating on odd doc_ids) encoded and
# decoded through the production stdlib codec, then tiled 16×8 →
# eight 4×4 patches. The DuckDB oracle recomputes every tile's
# min/max/sum from the pixel formula (d·3 + 5x + 11y + xy) % 256 in
# closed form — decode, tiling arithmetic and tile order all inside
# the hash gate.

_TILE_W, _TILE_H = 4, 4
_TILE_IMG_W, _TILE_IMG_H = 16, 8


def _tiles_worker(batches):
    import pandas as pd

    from datapipeline_scripts_spark.extensions import bmp_stdlib as bs

    identity = bytes(c for i in range(256) for c in (i, i, i))
    cols = ("doc_id", "tile_id", "t_min", "t_max", "t_sum")
    for pdf in batches:
        out: dict[str, list] = {c: [] for c in cols}
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            indices = bytes(
                (d * 3 + 5 * x + 11 * y + x * y) % 256
                for y in range(_TILE_IMG_H)
                for x in range(_TILE_IMG_W)
            )
            payload = bs.encode_bmp(
                _TILE_IMG_W, _TILE_IMG_H, indices, palette=identity, rle=bool(d % 2)
            )
            w, h, gray = bs.bmp_decode_gray(payload)
            tiles_x, tiles_y = w // _TILE_W, h // _TILE_H
            for ty in range(tiles_y):
                for tx in range(tiles_x):
                    px = [
                        gray[(ty * _TILE_H + dy) * w + tx * _TILE_W + dx]
                        for dy in range(_TILE_H)
                        for dx in range(_TILE_W)
                    ]
                    out["doc_id"].append(d)
                    out["tile_id"].append(ty * tiles_x + tx)
                    out["t_min"].append(min(px))
                    out["t_max"].append(max(px))
                    out["t_sum"].append(sum(px))
        yield pd.DataFrame(out)


def multimodal_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real decode → fixed-grid patch extraction; one row per
    (doc_id, tile): (doc_id, tile_id, t_min, t_max, t_sum).

    Scale shape: identical to the codec siblings — embarrassingly
    parallel Arrow-batch work, only (doc_id, 8 tiles × 3 ints)
    across the worker boundary; at corpus scale the tiles would carry
    patch bytes to the encoder, same partitioning, bigger payload."""
    from pyspark.sql import types as T

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 3)
        .select("doc_id")
        .transform(scan_spread(spark, sf_dir, "documents"))
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("tile_id", T.LongType()),
            T.StructField("t_min", T.LongType()),
            T.StructField("t_max", T.LongType()),
            T.StructField("t_sum", T.LongType()),
        ]
    )
    return docs.mapInPandas(_tiles_worker, schema=schema).orderBy(
        "doc_id", "tile_id"
    )


def _tiles_oracle() -> str:
    tiles_x = _TILE_IMG_W // _TILE_W
    tiles_y = _TILE_IMG_H // _TILE_H
    parts = []
    for ty in range(tiles_y):
        for tx in range(tiles_x):
            terms = [
                f"((doc_id * 3 + {5 * (tx * _TILE_W + dx) + 11 * (ty * _TILE_H + dy) + (tx * _TILE_W + dx) * (ty * _TILE_H + dy)}) % 256)"
                for dy in range(_TILE_H)
                for dx in range(_TILE_W)
            ]
            parts.append(
                f"SELECT doc_id, CAST({ty * tiles_x + tx} AS BIGINT) AS tile_id,"
                f" CAST(least({', '.join(terms)}) AS BIGINT) AS t_min,"
                f" CAST(greatest({', '.join(terms)}) AS BIGINT) AS t_max,"
                f" CAST(({' + '.join(terms)}) AS BIGINT) AS t_sum"
                f" FROM documents WHERE doc_id % 7 = 3"
            )
    union = "\nUNION ALL\n".join(parts)
    return f"SELECT * FROM (\n{union}\n) ORDER BY doc_id, tile_id"


MULTIMODAL_IMAGE_TILES_ORACLE = _tiles_oracle()

STAGED["multimodal_image_tiles"] = (
    multimodal_image_tiles,
    MULTIMODAL_IMAGE_TILES_ORACLE,
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

STAGED["web_host_pagerank"] = (web_host_pagerank, WEB_HOST_PAGERANK_ORACLE)


# ---- corpus_epoch_upsample ----------------------------------------------------
#
# Source-weighted epoch upsampling — the data-recipe step that feeds
# high-quality sources to the trainer more than once per pass
# (curated corpora upsampled 2-5x is standard pretraining practice):
# each source gets a deterministic repeat factor (1 + md5_48(source)
# % 3 — in production the factor comes from the mixture config), each
# doc explodes into that many epoch-tagged samples, and the report
# shows the resulting per-source sample shares.

_UPSAMPLE_MAX_EXTRA = 3


def corpus_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source upsampling report: (source, factor, n_docs,
    n_samples, share_bp) with n_samples = factor × n_docs and shares
    over the upsampled total.

    Scale shape: the factor join is a broadcast of |sources| rows;
    the explode is map-side (sequence(1, factor) — no shuffle
    carries the multiplied rows because the per-source counts
    partial-aggregate in place); the share denominator rides in as a
    broadcast 1-row aggregate. At trainer-feed scale the exploded
    samples stream straight into the pack/shuffle stage — the
    upsample itself never materializes the corpus ×factor."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    factor = (md5_48(F.col("source")) % _UPSAMPLE_MAX_EXTRA + 1).alias("factor")
    samples = d.select(
        "doc_id", "source", F.explode(F.sequence(F.lit(1), factor)).alias("epoch")
    )
    # |sources| rows; materialized once so the share denominator does
    # not re-run the corpus explode (the un-checkpointed plan scanned
    # the table twice)
    per = (
        samples.groupBy("source")
        .agg(
            F.max("epoch").cast("long").alias("factor"),
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_samples"),
        )
        .localCheckpoint(eager=True)
    )
    totals = per.agg(F.sum("n_samples").alias("tot"))
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "factor",
            "n_docs",
            "n_samples",
            F.expr("CAST(n_samples * 10000 div tot AS BIGINT)").alias("share_bp"),
        )
        .orderBy("source")
    )


CORPUS_EPOCH_UPSAMPLE_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source, ({md5_48_sql("source")}) % {_UPSAMPLE_MAX_EXTRA} + 1 AS factor
  FROM documents
),
samples AS (
  SELECT doc_id, source, unnest(generate_series(1, factor)) AS epoch FROM d
),
per AS (
  SELECT source,
         max(epoch) AS factor,
         count(DISTINCT doc_id) AS n_docs,
         count(*) AS n_samples
  FROM samples GROUP BY source
),
totals AS (SELECT sum(n_samples) AS tot FROM per)
SELECT source,
       CAST(factor AS BIGINT) AS factor,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_samples AS BIGINT) AS n_samples,
       CAST(n_samples * 10000 // tot AS BIGINT) AS share_bp
FROM per CROSS JOIN totals
ORDER BY source
"""

STAGED["corpus_epoch_upsample"] = (
    corpus_epoch_upsample,
    CORPUS_EPOCH_UPSAMPLE_ORACLE,
)


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

STAGED["text_chunk_spans"] = (text_chunk_spans, TEXT_CHUNK_SPANS_ORACLE)


# ---- docs_stream_dedup_gate ---------------------------------------------------
#
# STREAMING incremental dedup — the deployment twin of the registered
# dedup_incremental exactly as docs_stream_quality_gate is the
# deployment twin of the inference key: the arriving batch
# (doc_id % 10 >= 7, dedup_incremental's split) flows through a real
# Structured Streaming replay and probes the HISTORICAL fingerprint
# store (distinct fps of the % 10 < 7 reference corpus) via a
# stream-static left join on the 32-byte fp. Together the two
# streaming gates are the continuous-crawl front door: dedup the
# feed against the store, quality-score what survives.


def docs_stream_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the arriving documents against the frozen fingerprint
    store; one row per source: (source, n_arrived, n_dup_ref,
    dup_bp).

    Scale shape: the static side is the persisted fp store — at
    continuous-crawl scale it is loaded once per micro-batch planning
    cycle and joined by fp hash (Spark broadcasts it when small,
    shuffles the MICRO-BATCH, never the store, when not); per-batch
    state is |sources| counters in the complete-mode aggregate. The
    fingerprint projection on the stream is codegen'd per
    micro-batch."""
    import os

    from datapipeline_scripts_spark.catalog import table_path
    from datapipeline_scripts_spark.streaming.stream_jobs import _replay_to_parquet

    batch_docs = load_table(spark, sf_dir, "documents")
    store = (
        batch_docs.filter(F.col("doc_id") % 10 < 7)
        .select(fingerprint_md5(F.col("text")).alias("fp"))
        .distinct()
        .withColumn("in_ref", F.lit(1))
        .localCheckpoint(eager=True)
    )
    path = table_path(sf_dir, "documents")
    raw_schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        stream = spark.readStream.schema(raw_schema).parquet(path)
    else:
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )
    # the fixtures hold 500 distinct texts, so without refetches the
    # store probe would never fire (the store-merge lesson): docs with
    # doc_id % 10 == 7 arrive carrying their predecessor's text — a
    # % 10 == 6 doc, i.e. guaranteed IN the reference store. The
    # refetch text rides in via a static lookup joined on doc_id
    # (stream-static, the same mechanism as the store itself).
    refetch = (
        batch_docs.filter(F.col("doc_id") % 10 == 6)
        .select(
            (F.col("doc_id") + 1).alias("doc_id"),
            fingerprint_md5(F.col("text")).alias("refetch_fp"),
        )
        .localCheckpoint(eager=True)
    )
    arriving = (
        stream.filter(F.col("doc_id") % 10 >= 7)
        .select("doc_id", "source", fingerprint_md5(F.col("text")).alias("own_fp"))
        .join(refetch, "doc_id", "left")
        .select("source", F.coalesce("refetch_fp", "own_fp").alias("fp"))
    )
    probed = arriving.join(store, "fp", "left")
    agg = probed.groupBy("source").agg(
        F.count("*").cast("long").alias("n_arrived"),
        F.sum(F.coalesce(F.col("in_ref"), F.lit(0))).cast("long").alias("n_dup_ref"),
    )
    out = _replay_to_parquet(spark, agg, mode="complete")
    return out.select(
        "source",
        "n_arrived",
        "n_dup_ref",
        F.expr("CAST(n_dup_ref * 10000 div n_arrived AS BIGINT)").alias("dup_bp"),
    ).orderBy("source")


DOCS_STREAM_DEDUP_GATE_ORACLE = """
WITH fps AS (
  SELECT doc_id, source,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents
),
store AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 10 < 7),
arriving AS (
  SELECT o.source, s.fp
  FROM fps o
  JOIN fps s
    ON s.doc_id = CASE WHEN o.doc_id % 10 = 7 THEN o.doc_id - 1 ELSE o.doc_id END
  WHERE o.doc_id % 10 >= 7
)
SELECT a.source,
       CAST(count(*) AS BIGINT) AS n_arrived,
       CAST(sum(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_ref,
       CAST(sum(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END) * 10000
            // count(*) AS BIGINT) AS dup_bp
FROM arriving a LEFT JOIN store s ON a.fp = s.fp
GROUP BY a.source
ORDER BY a.source
"""

STAGED["docs_stream_dedup_gate"] = (
    docs_stream_dedup_gate,
    DOCS_STREAM_DEDUP_GATE_ORACLE,
)


# ---- crawl_increment_pipeline --------------------------------------------------
#
# The INCREMENTAL flagship — the round-12 counterpart of the two
# registered end-to-end composites (pretraining_pipeline = the batch
# corpus build; crawl_pipeline = fetch → schedule): ONE hash-gated
# funnel for "a new crawl increment arrives against a standing
# corpus", chaining the round's store machinery in production order:
#
#   arrived batch (refetch-mapped, the store keys' construction)
#     → exact fingerprint-store probe        (dedup_incremental shape)
#     → banded MinHash signature-store probe (dedup_minhash family)
#     → frozen-model quality gate            (broadcast-weights inference)
#     → per-source funnel report
#
# Every stage reuses its standalone key's machinery by IMPORT or
# shared helper (fingerprint_md5; _minhash_sigs_of + _band_rows +
# _N_HASHES; _perceptron_features_of + _pe_weights + _pe_train_sql),
# so the funnel cannot fork from the parts the driver has already
# proven. Verdicts are disjoint by stage precedence (exact > near >
# quality) and sum to the arrivals.

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
    bat_b = _band_rows(_minhash_sigs_of(arrived.select("doc_id", "text")))
    ref_b = _band_rows(_minhash_sigs_of(ref.select("doc_id", "text")))
    # the estimate is computed and thresholded at the join output (it
    # is a pure function of the pair), and the terminal per-doc
    # .distinct() already dedups — so the pair-level dedup exchange
    # (which used to carry two 16-long arrays per collision) is gone
    # entirely; only passing bid longs reach the remaining distinct.
    near = (
        band_join(bat_b, ref_b, _N_HASHES // _BANDS)
        .filter((sig_agreement(_N_HASHES) / F.lit(float(_N_HASHES))) >= _MSTORE_THRESH)
        .select(F.col("x.doc_id").alias("doc_id"))
        .distinct()
        .withColumn("near", F.lit(1))
    )

    # stage C: frozen quality model — trained on the HISTORICAL side
    # (train features checkpointed eagerly, the registered keys'
    # compute-once contract: each of the _PE_ITERS iterations reads
    # the materialized features, not a re-run of the corpus scan)
    w = _pe_weights(
        spark,
        _perceptron_features_of(ref).drop("doc_id").localCheckpoint(eager=True),
    )
    margins = (
        _perceptron_features_of(arrived)
        .crossJoin(F.broadcast(w))
        .select("doc_id", _pe_score().alias("margin"))
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
  WHERE ({m}) / 16.0 >= {_MSTORE_THRESH}
),
feats_ref AS (
  SELECT {feat_cols}
  FROM (SELECT string_split({norm}, ' ') AS toks FROM ref)
),
train AS (SELECT * FROM feats_ref),
{_pe_train_sql()},
feats_arr AS (
  SELECT doc_id, {feat_cols}
  FROM (SELECT doc_id, string_split({norm}, ' ') AS toks FROM arrived)
),
margins AS (
  SELECT doc_id, {_PE_SCORE_SQL} AS margin
  FROM feats_arr CROSS JOIN w{_PE_ITERS}
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

STAGED["crawl_increment_pipeline"] = (
    crawl_increment_pipeline,
    CRAWL_INCREMENT_PIPELINE_ORACLE,
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
    from datapipeline_scripts_spark.extensions.dedup import _EMBED_BUCKET_DIMS
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


def _estore_oracle() -> str:
    from datapipeline_scripts_spark.extensions.dedup import _EMBED_BUCKET_SQL

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

STAGED["dedup_embedding_store_incremental"] = (
    dedup_embedding_store_incremental,
    DEDUP_EMBEDDING_STORE_INCREMENTAL_ORACLE,
)


# ---- corpus_seqlen_histogram ----------------------------------------------------
#
# Sequence-length planning — the report that sizes every packing /
# max_seq_len decision a trainer feed makes: token counts bucketed on
# a power-of-two ladder (open-ended top bucket, so no corpus can
# saturate the scheme — the bin-width lesson applied by construction),
# with document and token shares per bucket and the padding waste a
# pad-to-bucket-ceiling loader would eat. All-integer; the ladder is
# a fixed CASE on both engines.

_SEQLEN_EDGES = (16, 32, 64, 128, 256, 512, 1024)


def corpus_seqlen_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per length-bucket report: (bucket_lo, n_docs, n_tokens,
    doc_share_bp, token_share_bp, pad_waste_bp). pad_waste_bp is the
    padding overhead of padding every doc to its bucket ceiling
    (top bucket pads to its own max observed length — open-ended).

    Scale shape: one scan projection, one partial-aggregable groupBy
    over ≤ len(edges)+1 buckets, totals broadcast back as a 1-row
    aggregate — counters only on the exchange."""
    d = load_table(spark, sf_dir, "documents").select(
        F.size(tokens(F.coalesce(F.col("text"), F.lit("")))).alias("n")
    )
    lo = F.lit(0)
    for e in _SEQLEN_EDGES:
        lo = F.when(F.col("n") >= e, e).otherwise(lo)
    binned = d.select("n", lo.alias("bucket_lo"))
    per = binned.groupBy("bucket_lo").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("n_tokens"),
        F.max("n").cast("long").alias("max_n"),
    )
    ceil_expr = "CASE "
    for e, nxt in zip(_SEQLEN_EDGES, _SEQLEN_EDGES[1:]):
        ceil_expr += f"WHEN bucket_lo = {e} THEN {nxt} "
    ceil_expr += f"WHEN bucket_lo = {_SEQLEN_EDGES[-1]} THEN max_n "
    ceil_expr += f"ELSE {_SEQLEN_EDGES[0]} END"
    totals = per.agg(
        F.sum("n_docs").alias("tot_docs"), F.sum("n_tokens").alias("tot_tokens")
    )
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "bucket_lo",
            "n_docs",
            "n_tokens",
            F.expr("CAST(n_docs * 10000 div tot_docs AS BIGINT)").alias(
                "doc_share_bp"
            ),
            F.expr("CAST(n_tokens * 10000 div tot_tokens AS BIGINT)").alias(
                "token_share_bp"
            ),
            F.expr(
                f"CAST((n_docs * ({ceil_expr}) - n_tokens) * 10000"
                f" div (n_docs * ({ceil_expr})) AS BIGINT)"
            ).alias("pad_waste_bp"),
        )
        .orderBy("bucket_lo")
    )


def _seqlen_oracle() -> str:
    lo = "0"
    for e in _SEQLEN_EDGES:
        lo = f"CASE WHEN n >= {e} THEN {e} ELSE {lo} END"
    ceil_expr = "CASE "
    for e, nxt in zip(_SEQLEN_EDGES, _SEQLEN_EDGES[1:]):
        ceil_expr += f"WHEN bucket_lo = {e} THEN {nxt} "
    ceil_expr += f"WHEN bucket_lo = {_SEQLEN_EDGES[-1]} THEN max_n "
    ceil_expr += f"ELSE {_SEQLEN_EDGES[0]} END"
    return f"""
WITH d AS (
  SELECT len(string_split(regexp_replace(trim(lower(coalesce(text, ''))),
         '\\s+', ' ', 'g'), ' ')) AS n
  FROM documents
),
binned AS (SELECT n, {lo} AS bucket_lo FROM d),
per AS (
  SELECT bucket_lo, count(*) AS n_docs, sum(n) AS n_tokens, max(n) AS max_n
  FROM binned GROUP BY bucket_lo
),
totals AS (SELECT sum(n_docs) AS tot_docs, sum(n_tokens) AS tot_tokens FROM per)
SELECT bucket_lo,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_docs * 10000 // tot_docs AS BIGINT) AS doc_share_bp,
       CAST(n_tokens * 10000 // tot_tokens AS BIGINT) AS token_share_bp,
       CAST((n_docs * ({ceil_expr}) - n_tokens) * 10000
            // (n_docs * ({ceil_expr})) AS BIGINT) AS pad_waste_bp
FROM per CROSS JOIN totals
ORDER BY bucket_lo
"""


CORPUS_SEQLEN_HISTOGRAM_ORACLE = _seqlen_oracle()

STAGED["corpus_seqlen_histogram"] = (
    corpus_seqlen_histogram,
    CORPUS_SEQLEN_HISTOGRAM_ORACLE,
)


# ---- corpus_mixture_temperature --------------------------------------------------
#
# Temperature-based mixture re-weighting — the τ = 0.5 sampling recipe
# multilingual / multi-source pretraining uses to lift low-resource
# sources (sample ∝ n^τ instead of ∝ n): per-source weights are
# integer square roots, so the whole report stays integer-exact
# cross-engine. floor(sqrt(n)) IS isqrt(n) for BIGINT-ranged n on
# both engines because IEEE-754 sqrt is correctly rounded — one of
# the few float functions with a bit-exact cross-engine contract —
# and the floor can only land wrong if sqrt were off by an ulp at an
# integer boundary, which correct rounding forbids for n < 2^52.

def corpus_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source τ=0.5 mixture plan: (source, n_docs, natural_bp,
    weight, target_bp, uplift_bp) — natural share vs the
    temperature-flattened target share, and the signed uplift the
    re-weighting gives the source.

    Scale shape: one partial-aggregable count per source, a
    |sources|-row weight table, totals broadcast back — counters only
    on the exchange; the actual re-sampled draw composes downstream
    with corpus_sample_weighted / corpus_epoch_upsample."""
    # the fixture's sources are equal-sized, which would make the
    # flattening a no-op the hash gate can't grade (the dead-machinery
    # lesson) — so the mixture domain is source × a deterministic
    # size tier (10% rare / 30% mid / 60% head by doc_id), giving the
    # re-weighting real imbalance to correct on any corpus
    # tier keys on doc_id div 20, NOT doc_id itself: the fixture's
    # source IS doc_id % 20, so any doc_id-mod tier would be constant
    # within a source and the groups equal-sized all over again
    t = F.expr("doc_id div 20") % 10
    tier = F.when(t == 0, "rare").when(t < 4, "mid").otherwise("head")
    per = (
        load_table(spark, sf_dir, "documents")
        .select(F.concat(F.col("source"), F.lit(":"), tier).alias("source"))
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .withColumn(
            "weight", F.floor(F.sqrt(F.col("n_docs").cast("double"))).cast("long")
        )
    )
    totals = per.agg(
        F.sum("n_docs").alias("tot_docs"), F.sum("weight").alias("tot_w")
    )
    natural = F.expr("CAST(n_docs * 10000 div tot_docs AS BIGINT)")
    target = F.expr("CAST(weight * 10000 div tot_w AS BIGINT)")
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            natural.alias("natural_bp"),
            "weight",
            target.alias("target_bp"),
            (target - natural).cast("long").alias("uplift_bp"),
        )
        .orderBy("source")
    )


CORPUS_MIXTURE_TEMPERATURE_ORACLE = """
WITH d AS (
  SELECT concat(source, ':',
           CASE WHEN (doc_id // 20) % 10 = 0 THEN 'rare'
                WHEN (doc_id // 20) % 10 < 4 THEN 'mid'
                ELSE 'head' END) AS source
  FROM documents
),
per AS (
  SELECT source, count(*) AS n_docs,
         CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS weight
  FROM d GROUP BY source
),
totals AS (SELECT sum(n_docs) AS tot_docs, sum(weight) AS tot_w FROM per)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_docs * 10000 // tot_docs AS BIGINT) AS natural_bp,
       weight,
       CAST(weight * 10000 // tot_w AS BIGINT) AS target_bp,
       CAST(weight * 10000 // tot_w - n_docs * 10000 // tot_docs AS BIGINT)
         AS uplift_bp
FROM per CROSS JOIN totals
ORDER BY source
"""

STAGED["corpus_mixture_temperature"] = (
    corpus_mixture_temperature,
    CORPUS_MIXTURE_TEMPERATURE_ORACLE,
)


# ---- registration -----------------------------------------------------------
#
# Programmatic registration over STAGED is the decorator applied in a
# loop: the oracles live below their builders in this module, so
# decorating at definition sites would force every oracle above its
# function. Registering from the dict the tests prove guarantees the
# registry and the proofs cover the same (builder, oracle) pairs.

from datapipeline_scripts_spark.registry import query as _query  # noqa: E402

for _key, (_fn, _oracle) in STAGED.items():
    _query(_key, oracle=_oracle)(_fn)
del _key, _fn, _oracle
