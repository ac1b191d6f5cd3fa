"""Round-13 query keys, built in round 12 and registered in round 13
(the staged_r10/r11/r12 pattern, one round later):
`tests/test_staged_r13.py` runs every builder against its DuckDB
oracle at both fixture SFs.

The round-12 steer (VERDICT r11 items 3 and 4) named the two frontier
gaps this module closes first, then widens around them:

dedup_substring_spans: EXACT duplicate-span detection — the Lee et
al. "Deduplicating Training Data Makes Language Models Better"
(arXiv:2107.06499) shape the E1 family approximated but never
computed exactly (dedup_passage_winnow samples fingerprints; this key
finds the true maximal shared token spans). Token 8-grams are hashed
(md5_48); every occurrence of a duplicated gram links to its
CANONICAL FIRST OCCURRENCE (min packed (doc_id, pos)) — one partner
per occurrence, so pair volume stays LINEAR under pervasive
duplication (the 100x proxy's ~100-member text families killed two
capped pairwise cuts of this key; docs/SCALE_EXPERIMENT.md) —
matching occurrences group into diagonals (pos_a - pos_b) and
consecutive runs collapse via the gaps-and-islands idiom
(pos - row_number() grouping) into maximal spans; the report is one
row per (canonical, repeating) doc pair with n_spans /
max_span_tokens / dup_grams.
The fixtures contain BOTH verdict classes: the generator's planted
near-duplicates surface as 90+-token natural spans, and docs with
doc_id % 9 == 5 additionally carry a constructed 16-token prefix
injected from their predecessor (the refetch idiom) so the
long-span machinery provably fires at every SF.

dedup_substring_excise: the REMOVAL half — per-document accounting
under the first-occurrence-survives policy: every token position
covered by a NON-CANONICAL duplicated gram occurrence (cross-doc and
within-doc repeats both, as Lee et al. excise) is marked; the report
is (doc_id, n_tokens, dup_tokens, keep_bp) over the WHOLE corpus, the
exact bookkeeping a span-level dedup pass publishes before rewriting
shards. Coverage is the distinct union of per-occurrence ranges, so
overlapping repeats never double-count.

corpus_dsir_weights / corpus_dsir_resample: DSIR-style data selection
(Xie et al., "Data Selection for Language Models via Importance
Resampling", arXiv:2302.03169) — the hashed n-gram importance-weight
recipe, integer-exact end-to-end. Bigrams hash into B=1024 buckets
(md5_48 % B); the target distribution is the lang='en' slice (the
"match English Wikipedia" shape); per-bucket lambda is the integer
log2 likelihood ratio of add-one-smoothed target vs raw shares
(ilog2 via length(bin(x)) - 1, identical in Spark and DuckDB; the
ratio arithmetic divides before multiplying, so the quotient shares
are <= 2^20 and the scaled numerator <= 2^30, while the raw products
(t_occ + 1) * 2^20 stay inside BIGINT for per-bucket counts up to
~2^43 — the hash-sum-overflow lesson applied by construction, and
lam is bounded in [-10, 20] at ANY corpus size). A document's score is its
occurrence-weighted mean lambda (computed on the +32-shifted value so
integer division never sees a negative operand — Spark `div`
truncates toward zero while DuckDB `//` floors, and they agree only
on non-negatives). corpus_dsir_resample mean-centers the scores and
maps deviation to a sampling weight (10000 + dev*400 bp, clamped to
[0, 30000]) applied through corpus_sample_weighted's deterministic
guaranteed-copies + hash-Bernoulli draw; the per-lang report shows
the en-ward re-weighting. The staged test pins the PROVABLE UPLIFT:
the resampled corpus's bucket distribution is strictly closer in L1
to the target's than the raw corpus's is, at both fixture SFs (probed
before staging: 149583 -> 109421 millionths at sf0.001).

dedup_minhash_band_tuning: the LSH operating-curve report a pipeline
owner reads before fixing (bands, rows) at crawl scale — the SAME 16
Kirsch-Mitzenmacher signatures the registered dedup_minhash builds
(imported via dedup.minhash_signatures, so the hash family cannot
fork) banded three ways (2x8, 4x4, 8x2); per config: candidate
pairs, signature-verified pairs (>= 8/16 matches, the registered 0.5
threshold), precision, and recall against the loosest config's
verified set. Band boundaries nest (an 8-row band match implies its
2-row sub-bands match), so candidates and verified sets are nested
and the recall column is exact, not sampled — monotonicity is
test-pinned.

knn_ivf_rebalance: the maintenance operation knn_ivf_append's growth
report triggers — split the hottest inverted list without touching
the other 15: the two lowest vec_ids in the hot list become sub-seeds
and ONLY that list's members reassign between them (broadcast 2-row
centroid table, map-side argmax — the registered _centroid_frame).
Report: one row per resulting list with n_before / n_after / status.

quality_dsir_agreement: the experiment-analysis composite — the 2x2
confusion between the DSIR above-mean-score signal and the registered
perceptron's margin>0 acceptance over the whole corpus, with summed
margins per cell. The two signals measure DIFFERENT axes (margin =
length-quality, DSIR = domain-match), and the fixtures show them
near-orthogonal — exactly the cross-tabulation a pipeline owner runs
to confirm a new filter adds information rather than re-ranking the
old one. Both machineries arrive by import (_pe_weights /
_perceptron_features from the r11/r12 chain, the DSIR helpers above)
so neither can fork.

corpus_selection_pipeline: the data-recipe composite flagship — the
selection funnel a pretraining run executes end-to-end: the excise
key's dedup gate (drop docs more than half duplicated) → DSIR model
FITTED ON THE SURVIVORS (the production order; fitting on raw
provably changes the report, test-pinned) → deterministic importance
resample; per-lang funnel report with conservation and gate-tamper
pins. Every stage is its standalone key's machinery by import.

Third batch (same gate): dedup_substring_families — the cluster-
level rollup of the span report (one row per canonical doc: family
width, spans, max span), the boilerplate-vs-near-dup triage input;
docs_stream_dsir_gate — the streaming twin of DSIR selection (model
fitted offline on the reference split and FROZEN, arriving docs
scored through a real Structured Streaming replay with one per-doc
aggregation of state, accept = above the frozen reference mean);
text_bpe_fertility — the APPLY side of the BPE family: the registered
trainer's merge table applied through the trainer's exact factored
expression (`_bpe_apply_merge` / `_bpe_apply_sql`, shared by refactor
so train and apply cannot fork) to the per-source word table, per-
source symbols-per-100-words and compression — cross-key-consistent
with text_bpe_compression by test (sums reproduce the corpus totals
exactly).

Scale shapes (docs/SCALE.md §E1/E2 arguments carry over):
- spans/excise: every duplicated occurrence links to exactly one
  canonical partner (min packed (doc, pos) per gram — one
  partial-aggregable groupBy), so downstream volume is linear in
  duplicated occurrences; shuffles carry 8-byte gram hashes +
  positions, the island collapse keys on (doc_a, doc_b, diag) —
  never corpus-quadratic; coverage explode is K x duplicated
  occurrences, distinct-unioned.
- DSIR: the model is B=1024 counters — partial-aggregable build, one
  broadcast join to score; the resample is a codegen'd expression.
- band tuning: 3x the registered minhash join, same bucket-join
  bound.
- rebalance: O(|hot list|) reassignment against 2 broadcast rows.

Registration (round 13) took the catalog 368 → 379.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datapipeline_scripts_spark.catalog import load_table
from datapipeline_scripts_spark.extensions.dedup import (
    _N_HASHES,
    _minhash_hex32_sql,
    _SHINGLE_SQL,
    band_join,
    band_rows_hashed,
    minhash_signatures,
    sig_agreement,
)
from datapipeline_scripts_spark.extensions.similarity import _centroid_frame
from datapipeline_scripts_spark.functions.text import (
    md5_48,
    md5_48_sql,
    ngram_join,
    normalize_text,
    tokens,
)

STAGED: dict[str, tuple] = {}

_NORM_SQL = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
# The span-bodies chain coalesces NULL text to '' (matching the Spark
# side — see _span_bodies) so the injection CASE cannot fork on NULLs.
_NORM_SAFE_SQL = "regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g')"


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
_SS_INJ = 16  # injected predecessor-prefix length (tokens)
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
            " ", F.slice(F.split(normalize_text(safe_text), " "), 1, _SS_INJ)
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
    return _dup_gram_occurrences_of_toks(
        bodies.select("doc_id", F.split("body", " ").alias("toks"))
    )


def _dup_gram_occurrences_of_toks(tok_frame: DataFrame) -> DataFrame:
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
    wh = Window.partitionBy("h")
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
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
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


def _span_ctes_sql() -> str:
    gram = "concat(" + ", ' ', ".join(f"toks[pos + {i + 1}]" for i in range(_SS_K)) + ")"
    return f"""
raw AS (SELECT doc_id, {_NORM_SAFE_SQL} AS norm FROM documents),
prev AS (
  SELECT doc_id + 1 AS doc_id,
         array_to_string(string_split(norm, ' ')[1:{_SS_INJ}], ' ') AS inj
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
WITH {_span_ctes_sql()}
SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_spans,
       CAST(max(run + {_SS_K} - 1) AS BIGINT) AS max_span_tokens,
       CAST(sum(run) AS BIGINT) AS dup_grams
FROM spans GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b
"""

STAGED["dedup_substring_spans"] = (dedup_substring_spans, DEDUP_SUBSTRING_SPANS_ORACLE)


# ---- dedup_substring_excise --------------------------------------------------


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
    return _excise_of(ntok, dup).orderBy("doc_id")


def _excise_of(ntok: DataFrame, dup: DataFrame) -> DataFrame:
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
    w = Window.partitionBy("doc_id").orderBy("pos")
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


def _excise_ctes_sql() -> str:
    """The per-doc duplicated-coverage chain (composes after
    _span_ctes_sql; shared by the excise oracle and the
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
WITH {_span_ctes_sql()},
{_excise_ctes_sql()}
SELECT doc_id, n_tokens, dup_tokens, keep_bp FROM excise ORDER BY doc_id
"""

STAGED["dedup_substring_excise"] = (dedup_substring_excise, DEDUP_SUBSTRING_EXCISE_ORACLE)


# ---- corpus_dsir_weights / corpus_dsir_resample -------------------------------

_DSIR_B = 1024  # hashed bigram feature buckets
_DSIR_SCALE = 1 << 20
_DSIR_SHIFT = 32  # lam is bounded in [-10, 20]; shift keeps division non-negative
_DSIR_SLOPE = 400  # bp of weight per centi-lambda of score deviation


def _dsir_grams_of(d: DataFrame) -> DataFrame:
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
    return g.select("doc_id", "is_t", (md5_48(F.col("g")) % _DSIR_B).alias("b"))


def _dsir_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, is_t, b): one row per bigram occurrence, bucketed
    md5_48 % B; is_t marks the target (lang='en') slice."""
    return _dsir_grams_of(load_table(spark, sf_dir, "documents"))


def _dsir_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(b, t_occ, r_occ, lam): integer log2 likelihood ratio of
    add-one-smoothed target vs raw bucket shares. The ratio is
    computed as (num * 1024) div den with num/den the 2^20-scaled
    quotient shares (each <= 2^20, so the scaled numerator <= 2^30);
    the raw products (t_occ + 1) * 2^20 stay inside BIGINT for
    per-bucket occurrence counts up to ~2^43, and lam is bounded in
    [-10, 20] by construction."""
    return _dsir_lambda_of(_dsir_grams(spark, sf_dir))


def _dsir_lambda_of(g: DataFrame) -> DataFrame:
    """`_dsir_lambda` over an arbitrary grams frame (the shared-
    expression contract; see _dsir_grams_of)."""
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
            (((t_occ + 1) * {_DSIR_SCALE} div (T + {_DSIR_B})) * 1024)
            div greatest(1, (r_occ + 1) * {_DSIR_SCALE} div (R + {_DSIR_B}))
          ))) - 1 - 10 AS BIGINT)
        """
        ).alias("lam"),
    )


def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR importance model itself (Xie et al. 2302.03169): one
    row per occupied hash bucket, (b, t_occ, r_occ, lam).

    Scale shape: the model build is ONE partial-aggregable groupBy
    over <= B=1024 buckets — at 100 TB the map side collapses every
    partition to 1024 counters before the exchange, and the model
    that ships to scoring is a 1024-row broadcast."""
    return _dsir_lambda(spark, sf_dir).orderBy("b")


def _dsir_ctes_sql(src: str = "documents", p: str = "") -> str:
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
  FROM (SELECT doc_id, lang, source, n_chars, string_split({_NORM_SQL}, ' ') AS toks
        FROM {src})
),
{p}grams AS (
  SELECT doc_id, lang, source, is_t, ({md5_48_sql(bigram)}) % {_DSIR_B} AS b
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
           (((t_occ + 1) * {_DSIR_SCALE} // (T + {_DSIR_B})) * 1024)
           // greatest(1, (r_occ + 1) * {_DSIR_SCALE} // (R + {_DSIR_B}))
         ))) - 1 - 10 AS BIGINT) AS lam
  FROM {p}per CROSS JOIN {p}tot
)
"""


CORPUS_DSIR_WEIGHTS_ORACLE = (
    f"WITH {_dsir_ctes_sql()} SELECT b, t_occ, r_occ, lam FROM lam ORDER BY b"
)

STAGED["corpus_dsir_weights"] = (corpus_dsir_weights, CORPUS_DSIR_WEIGHTS_ORACLE)


def _dsir_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_chars, s_shift): occurrence-weighted mean
    lambda per doc, on the +{shift} shifted value so the integer
    division never sees a negative operand (Spark div truncates
    toward zero, DuckDB // floors — they agree only on
    non-negatives).

    Delegates to _dsir_doc_scores_of (ADVICE r12): one code path, so
    the grams frame is built ONCE per run and the raw-corpus and
    survivors-corpus scorers cannot drift."""
    return _dsir_doc_scores_of(load_table(spark, sf_dir, "documents"))


def corpus_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic importance resampling from the DSIR scores; one
    row per lang: (lang, n_docs, n_drawn, total_copies, chars_out,
    sum_dev). Weight = 10000 + (s_shift - corpus mean) * slope bp,
    clamped to [0, 30000]; copies = guaranteed part + hash-Bernoulli
    fractional part (corpus_sample_weighted's draw — never rand()).

    Scale shape: the model and the scalar mean broadcast; scoring and
    the draw are codegen'd projections; the only shuffles are the
    B-bucket model build and the |langs|-group report."""
    scored = _dsir_doc_scores(spark, sf_dir)
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


def _dsir_resample_tail_sql(p: str = "", doc_src: str = "documents") -> str:
    """The doc-score -> copies chain shared by the resample oracle,
    the staged uplift test, and (prefixed, over the dedup survivors)
    the selection-pipeline composite."""
    u = f"({md5_48_sql('CAST(doc_id AS VARCHAR)')}) % 10000"
    w = "least(30000, greatest(0, 10000 + (s_shift - m) * {slope}))".format(
        slope=_DSIR_SLOPE
    )
    return f"""
{p}doc_s AS (
  SELECT doc_id, (sum(l.lam + {_DSIR_SHIFT}) * 100) // count(*) AS s_shift
  FROM {p}grams g JOIN {p}lam l USING (b)
  GROUP BY doc_id
),
{p}scored AS (
  SELECT d.doc_id, d.lang, d.n_chars,
         coalesce(s.s_shift, {100 * _DSIR_SHIFT}) AS s_shift
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
WITH {_dsir_ctes_sql()},
{_dsir_resample_tail_sql()}
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_copies > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_drawn,
       CAST(sum(n_copies) AS BIGINT) AS total_copies,
       CAST(sum(n_chars * n_copies) AS BIGINT) AS chars_out,
       CAST(sum(dev) AS BIGINT) AS sum_dev
FROM drawn GROUP BY lang ORDER BY lang
"""

STAGED["corpus_dsir_resample"] = (corpus_dsir_resample, CORPUS_DSIR_RESAMPLE_ORACLE)


# ---- dedup_minhash_band_tuning -------------------------------------------------

_BT_CONFIGS = ((2, 8), (4, 4), (8, 2))  # (bands, rows_per_band), b*r = 16
_BT_MIN_MATCH = 8  # est_jaccard >= 0.5 on 16 hashes


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

STAGED["dedup_minhash_band_tuning"] = (
    dedup_minhash_band_tuning,
    DEDUP_MINHASH_BAND_TUNING_ORACLE,
)


# ---- knn_ivf_rebalance ---------------------------------------------------------

_RB_SEED_MAX = 21  # the frozen quantizer: vec_id < 21 AND vec_id % 4 != 3 -> 16 seeds


def knn_ivf_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-list split — the maintenance move knn_ivf_append's growth
    report triggers: the fullest inverted list (tiebreak: lower cid)
    splits between its two lowest member vec_ids as sub-seeds; ONLY
    that list's members reassign (argmax over a broadcast 2-row
    centroid table, the registered _centroid_frame). One row per
    resulting list: (list_id, n_before, n_after, status), status in
    {'kept', 'split'}.

    Scale shape: the full assignment is the registered append path
    (broadcast 16 centroids, map-side argmax); the split touches
    O(|hot list|) rows against 2 broadcast rows — rebalancing a
    10^9-vector index costs one list's reassignment, not a retrain."""
    e = load_table(spark, sf_dir, "embeddings")
    cent = e.filter(
        (F.col("vec_id") < _RB_SEED_MAX) & (F.col("vec_id") % 4 != 3)
    ).select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    asg = _centroid_frame(e, cent).localCheckpoint(eager=True)
    counts = asg.groupBy("cid").agg(F.count("*").alias("n_before"))
    hot = (
        counts.orderBy(F.col("n_before").desc(), F.col("cid"))
        .limit(1)
        .select(F.col("cid").alias("hot_cid"), F.col("n_before").alias("hot_n"))
    )
    members = asg.join(F.broadcast(hot), F.col("cid") == F.col("hot_cid")).select(
        "vec_id", "embedding", "hot_cid", "hot_n"
    )
    seeds = (
        members.orderBy("vec_id")
        .limit(2)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    )
    re_asg = _centroid_frame(members.select("vec_id", "embedding"), seeds)
    split = (
        re_asg.groupBy(F.col("cid").alias("list_id"))
        .agg(F.count("*").cast("long").alias("n_after"))
        .crossJoin(F.broadcast(hot))
        .select(
            "list_id",
            F.col("hot_n").cast("long").alias("n_before"),
            "n_after",
            F.lit("split").alias("status"),
        )
    )
    kept = (
        counts.join(F.broadcast(hot), F.col("cid") == F.col("hot_cid"), "left_anti")
        .select(
            F.col("cid").alias("list_id"),
            F.col("n_before").cast("long").alias("n_before"),
            F.col("n_before").cast("long").alias("n_after"),
            F.lit("kept").alias("status"),
        )
    )
    return kept.unionByName(split).orderBy("status", "list_id")


KNN_IVF_REBALANCE_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (
  SELECT vec_id AS ccid, v AS cv FROM e
  WHERE vec_id < {_RB_SEED_MAX} AND vec_id % 4 <> 3
),
asg AS (
  SELECT vec_id, ccid AS cid, v FROM (
    SELECT e.vec_id, c.ccid, e.v,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, c.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
               c.ccid) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
),
counts AS (SELECT cid, count(*) AS n_before FROM asg GROUP BY cid),
hot AS (
  SELECT cid AS hot_cid, n_before AS hot_n FROM counts
  ORDER BY n_before DESC, cid LIMIT 1
),
members AS (
  SELECT a.vec_id, a.v FROM asg a JOIN hot h ON a.cid = h.hot_cid
),
seeds AS (
  SELECT vec_id AS scid, v AS sv FROM members ORDER BY vec_id LIMIT 2
),
re_asg AS (
  SELECT vec_id, scid FROM (
    SELECT m.vec_id, s.scid,
           row_number() OVER (PARTITION BY m.vec_id
             ORDER BY list_dot_product(m.v, s.sv)
               / (sqrt(list_dot_product(m.v, m.v)) * sqrt(list_dot_product(s.sv, s.sv))) DESC,
               s.scid) AS rn
    FROM members m CROSS JOIN seeds s
  ) WHERE rn = 1
),
split AS (
  SELECT scid AS list_id, (SELECT hot_n FROM hot) AS n_before,
         count(*) AS n_after, 'split' AS status
  FROM re_asg GROUP BY scid
),
kept AS (
  SELECT cid AS list_id, n_before, n_before AS n_after, 'kept' AS status
  FROM counts WHERE cid <> (SELECT hot_cid FROM hot)
)
SELECT list_id, CAST(n_before AS BIGINT) AS n_before,
       CAST(n_after AS BIGINT) AS n_after, status
FROM (SELECT * FROM kept UNION ALL SELECT * FROM split)
ORDER BY status, list_id
"""

STAGED["knn_ivf_rebalance"] = (knn_ivf_rebalance, KNN_IVF_REBALANCE_ORACLE)


# ---- quality_dsir_agreement ----------------------------------------------------


def quality_dsir_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-validation of the two in-engine quality signals: the
    registered perceptron's margin > 0 acceptance vs the DSIR
    above-mean score, as a 2x2 confusion report: (dsir_hi,
    perc_accept, n_docs, sum_margin). Both machineries arrive by
    import (the r11/r12 perceptron chain; this module's DSIR helpers)
    so neither can fork.

    Scale shape: both models are broadcast scalars/tables; the join
    keys on doc_id between two map-side-scored projections; the
    report is 4 counters."""
    from datapipeline_scripts_spark.sources.staged_r11 import _perceptron_features
    from datapipeline_scripts_spark.sources.staged_r12 import _pe_score, _pe_weights

    # EAGER feats checkpoint (optimization r13, guide §5 compute-once):
    # the frame feeds the _PE_ITERS gradient jobs inside _pe_weights
    # AND the margins scan below — without it each consumer re-ran the
    # corpus scan + the x3 shingle-distinct build. w is a literal
    # 1-row frame now (see _pe_weights), so it needs no checkpoint.
    feats = _perceptron_features(spark, sf_dir).localCheckpoint(eager=True)
    train = feats.filter(F.col("doc_id") % 2 == 0)
    w = _pe_weights(spark, train).withColumn("jk", F.lit(1))
    margins = (
        feats.withColumn("jk", F.lit(1))
        .join(F.broadcast(w), "jk")
        .select("doc_id", _pe_score().alias("margin"))
    )
    scored = _dsir_doc_scores(spark, sf_dir)
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


def _agreement_oracle() -> str:
    from datapipeline_scripts_spark.sources.staged_r12 import (
        _PE_FEATS_SQL,
        _PE_ITERS,
        _PE_SCORE_SQL,
        _pe_train_sql,
    )

    return f"""
WITH {_dsir_ctes_sql()},
doc_s AS (
  SELECT doc_id, (sum(l.lam + {_DSIR_SHIFT}) * 100) // count(*) AS s_shift
  FROM grams g JOIN lam l USING (b)
  GROUP BY doc_id
),
scored AS (
  SELECT d.doc_id, coalesce(s.s_shift, {100 * _DSIR_SHIFT}) AS s_shift
  FROM documents d LEFT JOIN doc_s s USING (doc_id)
),
mean_s AS (SELECT sum(s_shift) // count(*) AS m FROM scored),
dsir AS (
  SELECT doc_id, CASE WHEN s_shift > m THEN 1 ELSE 0 END AS dsir_hi
  FROM scored CROSS JOIN mean_s
),
{_PE_FEATS_SQL},
{_pe_train_sql()},
margins AS (
  SELECT f.doc_id, {_PE_SCORE_SQL} AS margin
  FROM feats f CROSS JOIN w{_PE_ITERS}
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

STAGED["quality_dsir_agreement"] = (quality_dsir_agreement, QUALITY_DSIR_AGREEMENT_ORACLE)


# ---- corpus_selection_pipeline -------------------------------------------------

_SEL_KEEP_BP = 5000  # survive the dedup gate iff less than half duplicated


def _dsir_doc_scores_of(d: DataFrame) -> DataFrame:
    """`_dsir_doc_scores` over an arbitrary (doc_id, lang, source,
    text, n_chars) frame — the model is fitted on THAT frame (the
    composite fits on the dedup survivors, the production recipe).

    EAGER: the grams frame feeds BOTH the lambda model build and the
    scoring join — without the checkpoint the corpus scan + tokenize
    + md5 runs twice per consuming key (ADVICE r12). The rows are
    narrow (ids + one bucket int), the compute-once contract the
    module's other checkpoints follow."""
    g = _dsir_grams_of(d).localCheckpoint(eager=True)
    lam = _dsir_lambda_of(g).select("b", "lam").localCheckpoint(eager=True)
    doc_s = (
        g.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.col("lam") + _DSIR_SHIFT).alias("lam_sum"),
        )
        .select("doc_id", F.expr("(lam_sum * 100) div n_grams").alias("s_shift"))
    )
    return d.join(doc_s, "doc_id", "left").select(
        "doc_id",
        "lang",
        "n_chars",
        F.coalesce("s_shift", F.lit(100 * _DSIR_SHIFT)).alias("s_shift"),
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
    over. tests/test_staged_r13.py pins both identities against
    _span_bodies / tokens(text) on fixture data; the unchanged oracle
    hashes of the composite prove the funnel end-to-end."""
    d = load_table(spark, sf_dir, "documents")
    safe_text = F.coalesce(F.col("text"), F.lit(""))
    prev = d.select(
        (F.col("doc_id") + 1).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(F.split(normalize_text(safe_text), " "), 1, _SS_INJ)
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
    """`_dsir_doc_scores_of` over a pre-tokenized (doc_id, lang,
    n_chars, ntoks) frame — the composite's fused path (optimization
    r14). Same bigram stream (ngram_join over the identical token
    array), same lambda model (_dsir_lambda_of), same scoring
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
        .select("doc_id", "is_t", (md5_48(F.col("g")) % _DSIR_B).alias("b"))
        .localCheckpoint(eager=True)
    )
    lam = _dsir_lambda_of(g).select("b", "lam").localCheckpoint(eager=True)
    doc_s = (
        g.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.col("lam") + _DSIR_SHIFT).alias("lam_sum"),
        )
        .select("doc_id", F.expr("(lam_sum * 100) div n_grams").alias("s_shift"))
    )
    return surv.join(doc_s, "doc_id", "left").select(
        "doc_id",
        "lang",
        "n_chars",
        F.coalesce("s_shift", F.lit(100 * _DSIR_SHIFT)).alias("s_shift"),
    )


def corpus_selection_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-recipe composite — the selection funnel a pretraining
    run executes end-to-end: exact-substring dedup gate (drop docs
    more than half duplicated, dedup_substring_excise's accounting) →
    DSIR model FITTED ON THE SURVIVORS (the production order: dedup
    first, or duplicated text dominates the importance model) →
    deterministic importance resample. One row per lang: (lang,
    n_arrived, n_kept, n_drawn, total_copies, chars_out).

    Every stage reuses its standalone key's machinery by import
    (_dup_gram_occurrences_of_toks / _excise_of, _dsir_lambda_of, the
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
    dup = _dup_gram_occurrences_of_toks(fused.select("doc_id", "toks"))
    # EAGER: the roster feeds the survivor join in BOTH the bigram
    # checkpoint job and the final report job; it is |survivors| longs
    # (narrow at any scale), and checkpointing it keeps the whole
    # excise chain from re-running in the final job — the slot the r13
    # form spent a full-text survivors checkpoint on.
    keep_ids = (
        _excise_of(ntok, dup)
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


CORPUS_SELECTION_PIPELINE_ORACLE = f"""
WITH {_span_ctes_sql()},
{_excise_ctes_sql()},
survivors AS (
  SELECT d.doc_id, d.lang, d.source, d.text, d.n_chars
  FROM documents d JOIN excise e USING (doc_id)
  WHERE e.keep_bp >= {_SEL_KEEP_BP}
),
{_dsir_ctes_sql(src="survivors", p="d_")},
{_dsir_resample_tail_sql(p="d_", doc_src="survivors")},
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

STAGED["corpus_selection_pipeline"] = (
    corpus_selection_pipeline,
    CORPUS_SELECTION_PIPELINE_ORACLE,
)


# ---- dedup_substring_families ---------------------------------------------------


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


DEDUP_SUBSTRING_FAMILIES_ORACLE = f"""
WITH {_span_ctes_sql()}
SELECT doc_a, CAST(count(DISTINCT doc_b) AS BIGINT) AS n_repeat_docs,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(max(run + {_SS_K} - 1) AS BIGINT) AS max_span_tokens,
       CAST(sum(run) AS BIGINT) AS dup_grams
FROM spans GROUP BY doc_a ORDER BY doc_a
"""

STAGED["dedup_substring_families"] = (
    dedup_substring_families,
    DEDUP_SUBSTRING_FAMILIES_ORACLE,
)


# ---- docs_stream_dsir_gate -------------------------------------------------------


def docs_stream_dsir_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-crawl deployment shape of DSIR selection — the
    streaming twin of corpus_dsir_resample's scoring half, beside the
    registered docs_stream_quality_gate / docs_stream_dedup_gate in
    the crawl front door: the DSIR model is fitted OFFLINE on the
    reference corpus (doc_id % 10 < 7) and FROZEN (the 1024-row
    lambda table and the scalar mean threshold), then the arriving
    batch (doc_id % 10 >= 7) flows through a REAL Structured
    Streaming replay: per-micro-batch codegen'd bigram explode,
    stream-static broadcast join against the frozen lambdas, and ONE
    streaming aggregation (complete mode) holding per-arriving-doc
    (gram count, lambda sum) state. The accept decision (score above
    the FROZEN reference mean) and the per-lang rollup read the
    materialized replay batch-side. One row per lang: (lang,
    n_arrived, n_accept, accept_bp).

    Scale shape: the model is ~8 KB broadcast; streaming state is
    |arriving docs| 3-long rows (the per-doc partial sums), the exact
    shape a Kafka-fed selection gate holds; nothing corpus-sized
    crosses micro-batch boundaries."""
    import os

    from datapipeline_scripts_spark.catalog import table_path
    from datapipeline_scripts_spark.streaming.stream_jobs import _replay_to_parquet

    d = load_table(spark, sf_dir, "documents")
    ref = d.filter(F.col("doc_id") % 10 < 7)
    lam = _dsir_lambda_of(_dsir_grams_of(ref)).select("b", "lam").localCheckpoint(
        eager=True
    )
    ref_mean = (
        _dsir_doc_scores_of(ref)
        .agg(F.expr("sum(s_shift) div count(*)").alias("m"))
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
    toks = tokens(F.col("text"))
    sgrams = (
        stream.filter(F.col("doc_id") % 10 >= 7)
        .select("doc_id", "lang", toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select("doc_id", "lang", F.explode(ngram_join(F.col("toks"), 2)).alias("g"))
        .select("doc_id", "lang", (md5_48(F.col("g")) % _DSIR_B).alias("b"))
    )
    per_doc = (
        sgrams.join(F.broadcast(lam), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.col("lam") + _DSIR_SHIFT).alias("lam_sum"),
        )
    )
    scored = _replay_to_parquet(spark, per_doc, mode="complete")
    # batch-side: docs too short to gram (n_words < 2) never reach the
    # stream aggregate — re-join the arriving roster so they report
    # with the neutral score, exactly as the batch twin treats them
    roster = d.filter(F.col("doc_id") % 10 >= 7).select("doc_id", "lang")
    s_shift = F.coalesce(
        F.expr("(lam_sum * 100) div n_grams"), F.lit(100 * _DSIR_SHIFT)
    )
    out = (
        roster.join(scored.drop("lang"), "doc_id", "left")
        .crossJoin(F.broadcast(ref_mean))
        .select("lang", (s_shift > F.col("m")).cast("int").alias("accept"))
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_arrived"),
            F.sum("accept").cast("long").alias("n_accept"),
        )
    )
    return out.select(
        "lang",
        "n_arrived",
        "n_accept",
        F.expr("CAST(n_accept * 10000 div n_arrived AS BIGINT)").alias("accept_bp"),
    ).orderBy("lang")


DOCS_STREAM_DSIR_GATE_ORACLE = f"""
WITH ref AS (SELECT * FROM documents WHERE doc_id % 10 < 7),
{_dsir_ctes_sql(src="ref", p="r_")},
{_dsir_resample_tail_sql(p="r_", doc_src="ref")},
arriving AS (SELECT * FROM documents WHERE doc_id % 10 >= 7),
a_tok AS (
  SELECT doc_id, lang, toks, len(toks) AS n_words
  FROM (SELECT doc_id, lang, string_split({_NORM_SQL}, ' ') AS toks FROM arriving)
),
a_grams AS (
  SELECT doc_id, lang,
         ({md5_48_sql("concat(toks[pos + 1], ' ', toks[pos + 2])")}) % {_DSIR_B} AS b
  FROM (SELECT doc_id, lang, toks, unnest(range(n_words - 1)) AS pos
        FROM a_tok WHERE n_words >= 2)
),
a_doc_s AS (
  SELECT doc_id, (sum(l.lam + {_DSIR_SHIFT}) * 100) // count(*) AS s_shift
  FROM a_grams g JOIN r_lam l USING (b)
  GROUP BY doc_id
),
a_scored AS (
  SELECT a.doc_id, a.lang, coalesce(s.s_shift, {100 * _DSIR_SHIFT}) AS s_shift
  FROM arriving a LEFT JOIN a_doc_s s USING (doc_id)
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_arrived,
       CAST(sum(CASE WHEN s_shift > (SELECT m FROM r_mean_s) THEN 1 ELSE 0 END) AS BIGINT) AS n_accept,
       CAST(sum(CASE WHEN s_shift > (SELECT m FROM r_mean_s) THEN 1 ELSE 0 END) * 10000
            // count(*) AS BIGINT) AS accept_bp
FROM a_scored GROUP BY lang ORDER BY lang
"""

STAGED["docs_stream_dsir_gate"] = (docs_stream_dsir_gate, DOCS_STREAM_DSIR_GATE_ORACLE)


# ---- text_bpe_fertility -----------------------------------------------------------


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
    from datapipeline_scripts_spark.sources.staged_r11 import (
        _BPE_ITERS,
        _bpe_apply_merge,
        _bpe_learn,
    )

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


def _fertility_oracle() -> str:
    from datapipeline_scripts_spark.sources.staged_r11 import (
        _BPE_ITERS,
        _bpe_apply_sql,
        _bpe_chain_sql,
    )

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

STAGED["text_bpe_fertility"] = (text_bpe_fertility, TEXT_BPE_FERTILITY_ORACLE)


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
