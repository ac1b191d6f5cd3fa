"""Oracle proofs for the 11 keys registered in round 13.

Each key lives and registers in its domain module; this file runs every
builder against its DuckDB oracle at both fixture SFs (the
`oracle.compare` hash gate) and pins where each builder is defined."""

from __future__ import annotations

import pytest

from datapipeline_scripts_spark.oracle import compare, duck_connection
from datapipeline_scripts_spark.registry import all_queries, get

# key -> the package module that defines and registers its builder
KEYS = {
    "corpus_dsir_resample": "extensions.selection",
    "corpus_dsir_weights": "extensions.selection",
    "corpus_selection_pipeline": "extensions.selection",
    "dedup_minhash_band_tuning": "extensions.dedup",
    "dedup_substring_excise": "extensions.dedup",
    "dedup_substring_families": "extensions.dedup",
    "dedup_substring_spans": "extensions.dedup",
    "docs_stream_dsir_gate": "streaming.stream_jobs",
    "knn_ivf_rebalance": "extensions.similarity",
    "quality_dsir_agreement": "extensions.quality_model",
    "text_bpe_fertility": "extensions.textstats",
}


@pytest.mark.parametrize("key", sorted(KEYS))
@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_staged_key_matches_oracle(spark, key, sf_dir):
    spec = get(key)
    sdf = spec.build(spark, sf_dir)
    with duck_connection(sf_dir) as con:
        opdf = con.execute(spec.oracle).fetch_df()
    report = compare(key, sdf, opdf)
    assert report.ok, str(report)
    assert report.spark_rows > 0


def test_r13_keys_registered_with_correct_builders():
    """Every key here is registered with the builder of the same name
    that its domain module defines (the decorating-the-wrong-function
    failure mode breaks `__spark_entry__.queries()` silently), and the catalog
    is 379."""
    specs = all_queries()
    assert len(specs) == 379
    for key, module in KEYS.items():
        assert specs[key].build.__name__ == key, key
        assert specs[key].build.__module__ == f"datapipeline_scripts_spark.{module}", key


def test_sel_fused_toks_identities(spark):
    """The fused selection-composite tokenize (optimization r14) rests
    on two identities, pinned here on real fixture data (which always
    contains injected docs — _span_bodies guarantees the class fires):
    (1) `toks` == split(_span_bodies.body, ' ') for every doc, and
    (2) slice(toks, n_inj+1, ...) == tokens(text) (the DSIR token
    array) for every doc with non-null text."""
    from pyspark.sql import functions as F

    from datapipeline_scripts_spark.catalog import load_table
    from datapipeline_scripts_spark.functions.text import tokens
    from datapipeline_scripts_spark.extensions.dedup import _span_bodies
    from datapipeline_scripts_spark.extensions.selection import _sel_fused_toks

    sf_dir = "/root/testdata/sf0.001"
    fused = _sel_fused_toks(spark, sf_dir)
    bodies = _span_bodies(spark, sf_dir).select(
        "doc_id", F.split("body", " ").alias("ref_toks")
    )
    j = fused.join(bodies, "doc_id")
    assert j.filter(F.col("toks") != F.col("ref_toks")).count() == 0
    assert fused.filter(F.col("n_inj") > 0).count() > 0  # class fires
    norm = fused.select(
        "doc_id",
        F.when(
            F.col("n_inj") > 0,
            F.slice(
                F.col("toks"), F.col("n_inj") + 1, F.size("toks") - F.col("n_inj")
            ),
        )
        .otherwise(F.col("toks"))
        .alias("ntoks"),
    )
    ref = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", tokens(F.col("text")).alias("ref_ntoks"))
    )
    j2 = norm.join(ref, "doc_id")
    assert j2.count() > 0
    assert j2.filter(F.col("ntoks") != F.col("ref_ntoks")).count() == 0


def test_substring_spans_both_classes_fire():
    """The scale-honesty bar: every verdict class must fire at fixture
    scale. The constructed class — every doc_id % 9 == 5 doc (with an
    existing predecessor) must pair with that predecessor at a span
    covering most of the 16-token injected prefix; the natural class —
    the generator's planted near-duplicates must surface as pairs far
    longer than any injection."""
    from datapipeline_scripts_spark.extensions.dedup import SS_INJ, DEDUP_SUBSTRING_SPANS_ORACLE

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            d = con.execute(DEDUP_SUBSTRING_SPANS_ORACLE).fetch_df()
            inj_ids = {
                r[0]
                for r in con.execute(
                    "SELECT doc_id FROM documents WHERE doc_id % 9 = 5 AND doc_id - 1 IN "
                    "(SELECT doc_id FROM documents)"
                ).fetchall()
            }
        # every injected doc appears as the REPEATING side of some
        # pair at >= the minimum span (the machinery fired on all of
        # them); when the predecessor is itself a planted near-dup of
        # an earlier doc, the prefix grams legitimately split across
        # canonical partners, so only MOST reach the full 16-token
        # prefix against a single partner
        by_b = d.groupby("doc_b").max_span_tokens.max()
        fired = {i for i in inj_ids if i in by_b.index and by_b[i] >= 10}
        assert fired == inj_ids, (sf_dir, inj_ids - fired)
        full = sum(1 for i in inj_ids if by_b[i] >= SS_INJ)
        assert full > len(inj_ids) // 2, (sf_dir, full, len(inj_ids))
        # the natural class: planted near-duplicates yield spans far
        # longer than any injection
        nat = d[~d.doc_b.isin(inj_ids)]
        assert len(nat) > 0, sf_dir
        assert d.max_span_tokens.max() > 2 * SS_INJ, (
            sf_dir,
            "planted near-duplicates should yield long natural spans",
        )


def test_substring_excise_accounting():
    """Every doc reports; duplicated positions never exceed the doc;
    both classes (clean docs, excised docs) fire; keep_bp is exact
    integer accounting of the other two columns."""
    from datapipeline_scripts_spark.extensions.dedup import DEDUP_SUBSTRING_EXCISE_ORACLE

    for sf_dir, n in (("/root/testdata/sf0.001", 500), ("/root/testdata/sf0.01", 500)):
        with duck_connection(sf_dir) as con:
            e = con.execute(DEDUP_SUBSTRING_EXCISE_ORACLE).fetch_df()
        assert len(e) == n, sf_dir
        assert (e.dup_tokens <= e.n_tokens).all(), sf_dir
        assert (e.dup_tokens > 0).any() and (e.dup_tokens == 0).any(), sf_dir
        assert (
            e.keep_bp == (e.n_tokens - e.dup_tokens) * 10000 // e.n_tokens
        ).all(), sf_dir


def test_excise_interval_union_matches_explode_distinct(spark):
    """excise_of computes dup_tokens as an interval-union sum over
    pos-sorted occurrences (optimization r14) instead of
    explode(sequence)->distinct->count. Pin the equivalence on a
    synthetic frame exercising every regime: touching intervals
    (gap == K), overlapping (gap < K), disjoint (gap > K), duplicate
    positions (gap == 0 must contribute nothing, matching the old
    distinct), a doc with no dup occurrences (LEFT join -> 0), and a
    single-occurrence doc."""
    from pyspark.sql import functions as F

    from datapipeline_scripts_spark.extensions.dedup import _SS_K, excise_of

    occ = [
        # doc 1: overlapping + touching + disjoint: 0..7, 3..10, 11..18, 40..47
        (1, 0), (1, 3), (1, 11), (1, 40),
        # doc 2: duplicate positions (same pos twice) + one far occurrence
        (2, 5), (2, 5), (2, 100),
        # doc 3: single occurrence
        (3, 7),
    ]
    dup = spark.createDataFrame(
        [(d, p, "a", "b") for d, p in occ], "doc_id long, pos long, self_packed string, packed string"
    )
    ntok = spark.createDataFrame(
        [(1, 200), (2, 200), (3, 200), (4, 200)], "doc_id long, n_tokens long"
    )
    got = {
        r["doc_id"]: r["dup_tokens"]
        for r in excise_of(ntok, dup).select("doc_id", "dup_tokens").collect()
    }
    # reference: the old explode->distinct->count construction
    ref_rows = (
        dup.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + _SS_K - 1)).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("dt"))
        .collect()
    )
    ref = {r["doc_id"]: r["dt"] for r in ref_rows}
    ref.setdefault(4, 0)
    assert got == ref, (got, ref)


def test_dsir_lambda_not_degenerate():
    """The r12 probe lesson: with coarse buckets / a broad target the
    model collapses to lam in {-1, 0} and the key grades dead
    machinery. Pin the signal: >= 3 distinct lambda values and both
    signs present at both SFs."""
    from datapipeline_scripts_spark.extensions.selection import CORPUS_DSIR_WEIGHTS_ORACLE

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            w = con.execute(CORPUS_DSIR_WEIGHTS_ORACLE).fetch_df()
        assert w.lam.nunique() >= 3, (sf_dir, sorted(w.lam.unique()))
        assert (w.lam > 0).any() and (w.lam < 0).any(), sf_dir
        # the bound the no-overflow argument rests on
        assert w.lam.between(-10, 20).all(), sf_dir


def test_dsir_resample_provable_uplift():
    """THE DSIR contract: the resampled corpus's hashed-bigram bucket
    distribution is strictly closer (L1, integer millionths) to the
    target distribution than the raw corpus's is — at both SFs. This
    is the provable-uplift idiom (corpus_mixture_temperature
    precedent): if a future edit breaks the weighting direction, the
    mapping, or the draw, this trips before any oracle does."""
    from datapipeline_scripts_spark.extensions.selection import (
        dsir_ctes_sql,
        dsir_resample_tail_sql,
    )

    uplift_sql = f"""
WITH {dsir_ctes_sql()},
{dsir_resample_tail_sql()},
tgt AS (SELECT b, count(*) AS c FROM grams WHERE is_t = 1 GROUP BY b),
rawd AS (SELECT b, count(*) AS c FROM grams GROUP BY b),
doc_copies AS (
  SELECT doc_id,
         least(30000, greatest(0, 10000 + (s_shift - m) * 400)) // 10000
           + CASE WHEN ({{u}}) < least(30000, greatest(0, 10000 + (s_shift - m) * 400)) % 10000
                  THEN 1 ELSE 0 END AS n_copies
  FROM scored CROSS JOIN mean_s
),
res AS (SELECT g.b, sum(c.n_copies) AS c FROM grams g JOIN doc_copies c USING (doc_id) GROUP BY g.b),
tots AS (SELECT (SELECT sum(c) FROM tgt) AS Tt, (SELECT sum(c) FROM rawd) AS Tr,
                (SELECT sum(c) FROM res) AS Ts),
dist AS (
  SELECT r.b, coalesce(t.c, 0) * 1000000 // Tt AS p_t,
         r.c * 1000000 // Tr AS p_r,
         coalesce(s.c, 0) * 1000000 // greatest(1, Ts) AS p_s
  FROM rawd r LEFT JOIN tgt t USING (b) LEFT JOIN res s USING (b) CROSS JOIN tots
)
SELECT sum(abs(p_r - p_t)) AS l1_raw, sum(abs(p_s - p_t)) AS l1_resampled FROM dist
"""
    from datapipeline_scripts_spark.functions.text import md5_48_sql

    uplift_sql = uplift_sql.replace("{u}", f"({md5_48_sql('CAST(doc_id AS VARCHAR)')}) % 10000")
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            l1_raw, l1_res = con.execute(uplift_sql).fetchone()
        assert l1_res < l1_raw, (sf_dir, l1_raw, l1_res)
        # and the improvement is substantive, not a rounding artifact
        assert l1_res * 100 < l1_raw * 95, (sf_dir, l1_raw, l1_res)


def test_dsir_resample_upweights_target_lang():
    """Direction check on the report itself: en docs draw more copies
    per doc than every other lang (the target-matching behavior the
    uplift test proves distributionally)."""
    from datapipeline_scripts_spark.extensions.selection import CORPUS_DSIR_RESAMPLE_ORACLE

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            r = con.execute(CORPUS_DSIR_RESAMPLE_ORACLE).fetch_df()
        r = r.set_index("lang")
        en_rate = r.loc["en", "total_copies"] / r.loc["en", "n_docs"]
        for lang in r.index:
            if lang != "en":
                assert en_rate > r.loc[lang, "total_copies"] / r.loc[lang, "n_docs"], (
                    sf_dir,
                    lang,
                )


def test_band_tuning_nesting_monotonicity():
    """Band boundaries nest, so candidates/verified must be
    non-decreasing in band count, precision non-increasing, and the
    8-band row's recall_bp exactly 10000 (it IS the reference set);
    nothing may be NULL at fixture scale."""
    from datapipeline_scripts_spark.extensions.dedup import DEDUP_MINHASH_BAND_TUNING_ORACLE

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            t = con.execute(DEDUP_MINHASH_BAND_TUNING_ORACLE).fetch_df()
        t = t.sort_values("n_bands").reset_index(drop=True)
        assert list(t.n_bands) == [2, 4, 8], sf_dir
        assert t.n_candidates.is_monotonic_increasing, sf_dir
        assert t.n_verified.is_monotonic_increasing, sf_dir
        assert t.precision_bp.is_monotonic_decreasing, sf_dir
        assert t.loc[2, "recall_bp"] == 10000, sf_dir
        assert t.notna().all().all(), sf_dir
        # the curve must actually curve (distinct configs behave
        # differently) or the report grades nothing
        assert t.n_candidates.nunique() >= 2, sf_dir


def test_band_tuning_single_join_matches_per_config(spark):
    """dedup_minhash_band_tuning runs ONE (8×2) self-join and derives
    the coarser configs' candidacy from per-pair sub-band flags
    (optimization r14). Pin the report against the old per-config
    three-join construction on synthetic signatures exercising every
    regime: a near-identical pair (verified everywhere), a pair
    colliding on one 2-row band only (candidate at 8×2 only), a pair
    whose first four 2-row bands match (candidate at 8×2/4×4/2×8 but
    unverified where m < 8... m = 8 here so verified), and an isolated
    doc. Also pin the empty-config NULL semantics: with no 4×4/2×8
    candidates those configs report n_candidates=0, n_verified=NULL."""
    from pyspark.sql import functions as F

    from datapipeline_scripts_spark.extensions.dedup import (
        _BT_CONFIGS,
        _BT_MIN_MATCH,
        _band_tuning_report_of,
    )

    def sig_frame(rows):
        df = spark.createDataFrame(
            [(d, *hs) for d, hs in rows],
            "doc_id long, " + ", ".join(f"h{i} long" for i in range(16)),
        )
        return df.withColumn("sig", F.array(*[f"h{i}" for i in range(16)]))

    def old_report(sig):
        # the r13 per-config construction, verbatim
        per_config = []
        for n_bands, rows in _BT_CONFIGS:
            band_structs = F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",", *[F.col(f"h{b * rows + r}") for r in range(rows)]
                        ).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
            bands = sig.select(
                "doc_id", "sig", F.explode(band_structs).alias("bb")
            ).select(
                "doc_id",
                "sig",
                F.col("bb.band").alias("band"),
                F.col("bb.bucket").alias("bucket"),
            )
            matches = sum(
                F.when(F.col("x.sig")[i] == F.col("y.sig")[i], 1).otherwise(0)
                for i in range(16)
            )
            cand = (
                bands.alias("x")
                .join(
                    bands.alias("y"),
                    (F.col("x.band") == F.col("y.band"))
                    & (F.col("x.bucket") == F.col("y.bucket"))
                    & (F.col("x.doc_id") < F.col("y.doc_id")),
                )
                .select(
                    F.col("x.doc_id").alias("doc_a"),
                    F.col("y.doc_id").alias("doc_b"),
                    matches.alias("m"),
                )
                .dropDuplicates(["doc_a", "doc_b"])
            )
            per_config.append(
                cand.agg(
                    F.lit(n_bands).cast("long").alias("n_bands"),
                    F.lit(rows).cast("long").alias("rows_per_band"),
                    F.count("*").cast("long").alias("n_candidates"),
                    F.sum(F.when(F.col("m") >= _BT_MIN_MATCH, 1).otherwise(0))
                    .cast("long")
                    .alias("n_verified"),
                )
            )
        rep = per_config[0]
        for p in per_config[1:]:
            rep = rep.unionByName(p)
        ref = rep.filter(F.col("n_bands") == 8).select(
            F.col("n_verified").alias("ref_verified")
        )
        return (
            rep.crossJoin(F.broadcast(ref))
            .select(
                "n_bands",
                "rows_per_band",
                "n_candidates",
                "n_verified",
                F.expr(
                    "CAST(CASE WHEN n_candidates = 0 THEN NULL"
                    " ELSE n_verified * 10000 div n_candidates END AS BIGINT)"
                ).alias("precision_bp"),
                F.expr(
                    "CAST(CASE WHEN ref_verified = 0 THEN NULL"
                    " ELSE n_verified * 10000 div ref_verified END AS BIGINT)"
                ).alias("recall_bp"),
            )
            .orderBy("n_bands")
        )

    def rows_of(df):
        return [tuple(r) for r in df.collect()]

    base = list(range(100, 116))
    mixed = base[:2] + [900 + i for i in range(2, 14)] + base[14:]  # bands 0 and 7 match
    first_half = base[:8] + [800 + i for i in range(8, 16)]  # 2-row bands 0-3 match, m=8
    rich = sig_frame(
        [
            (1, base),
            (2, list(base)),  # identical to 1: every config, verified
            (3, mixed),  # 8×2 candidate only (m=4 < 8: unverified)
            (4, first_half),  # all three configs, m=8: verified
            (5, [77000 + i for i in range(16)]),  # isolated
        ]
    )
    assert rows_of(_band_tuning_report_of(rich)) == rows_of(old_report(rich))

    # only one 2-row band collides anywhere: 4×4 and 2×8 are EMPTY
    sparse = sig_frame(
        [
            (1, base),
            (2, base[:2] + [600 + i for i in range(2, 16)]),
        ]
    )
    new_rows = rows_of(_band_tuning_report_of(sparse))
    assert new_rows == rows_of(old_report(sparse))
    by_bands = {r[0]: r for r in new_rows}
    assert by_bands[2][2] == 0 and by_bands[2][3] is None, by_bands
    assert by_bands[4][2] == 0 and by_bands[4][3] is None, by_bands
    assert by_bands[8][2] == 1, by_bands


def test_ivf_rebalance_conservation_and_split():
    """15 kept lists + 2 split halves; the halves partition the hot
    list exactly; kept lists are untouched; the split actually
    improves balance (each half strictly smaller than the hot list)."""
    from datapipeline_scripts_spark.extensions.similarity import KNN_IVF_REBALANCE_ORACLE

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            r = con.execute(KNN_IVF_REBALANCE_ORACLE).fetch_df()
        kept = r[r.status == "kept"]
        split = r[r.status == "split"]
        assert len(kept) == 15 and len(split) == 2, sf_dir
        assert (kept.n_before == kept.n_after).all(), sf_dir
        assert split.n_before.nunique() == 1, sf_dir
        hot_n = int(split.n_before.iloc[0])
        assert int(split.n_after.sum()) == hot_n, sf_dir
        assert (split.n_after < hot_n).all(), (sf_dir, "split must shrink the list")
        assert r.list_id.nunique() == len(r), (sf_dir, "list ids must stay unique")
        # total vectors conserved across the whole index
        assert int(kept.n_after.sum()) + int(split.n_after.sum()) == 500, sf_dir


def test_dsir_agreement_all_cells_fire():
    """The 2x2 confusion must be non-degenerate at both SFs (the
    dead-machinery lesson) and conserve the corpus. The signals are
    deliberately DIFFERENT axes (margin = length-quality, DSIR =
    domain-match) — the report's value is showing they are near-
    orthogonal, so no association direction is pinned; instead pin
    that the margin column behaves (accepted cells carry positive
    summed margins, rejected negative) so a regression in either
    chain still trips."""
    from datapipeline_scripts_spark.extensions.quality_model import QUALITY_DSIR_AGREEMENT_ORACLE

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            a = con.execute(QUALITY_DSIR_AGREEMENT_ORACLE).fetch_df()
        assert len(a) == 4, (sf_dir, a)
        assert (a.n_docs > 0).all(), sf_dir
        assert int(a.n_docs.sum()) == 500, sf_dir
        acc = a[a.perc_accept == 1]
        rej = a[a.perc_accept == 0]
        assert (acc.sum_margin > 0).all() and (rej.sum_margin < 0).all(), (sf_dir, a)


def test_staged_r13_plan_shapes(spark, sf_dir):
    """The round-13 keys' plan contract: every builder cartesian-free; exact
    per-scan schema pinning (the r11/r12 multiset discipline). Keys
    whose corpus scan hides behind an eager localCheckpoint (the
    gram table, the DSIR bucket model, the signature table, the IVF
    assignment) pin the scans that REMAIN in the final plan."""
    from datapipeline_scripts_spark.plans.audit import read_schemas
    want_scans = {
        # the gram checkpoint hides every corpus scan
        "dedup_substring_spans": [],
        # the shared bodies checkpoint (ADVICE r12) hides every
        # corpus scan — ntok and the gram chain read the same frame
        "dedup_substring_excise": [],
        # the bucket-model checkpoint hides the scan
        "corpus_dsir_weights": [],
        # the shared grams checkpoint (ADVICE r12) hides both the
        # model-build and scoring text scans; only the doc_id roster
        # and the 3-column report join remain
        "corpus_dsir_resample": [
            ("doc_id",),
            ("doc_id", "lang", "n_chars"),
        ],
        # the signature checkpoint hides everything
        "dedup_minhash_band_tuning": [],
        # the assignment checkpoint hides everything
        "knn_ivf_rebalance": [],
        # the eager feats checkpoint (optimization r13) hides the
        # perceptron text scan too — the training gradients AND the
        # margin scan read the materialized features, so only the two
        # doc_id rosters the score join reads survive
        "quality_dsir_agreement": [
            ("doc_id",),
            ("doc_id",),
        ],
        # the survivor checkpoint hides every corpus-text scan; only
        # the arrived-counts roster remains
        "corpus_selection_pipeline": [("lang",)],
        # the island rollup reads only the gram checkpoint
        "dedup_substring_families": [],
        # frozen model + replay sink are checkpointed; the arriving
        # roster re-join is the only surviving scan
        "docs_stream_dsir_gate": [("doc_id", "lang")],
        # the merge table is checkpointed; the per-source word table
        # is the one remaining corpus scan
        "text_bpe_fertility": [("source", "text")],
    }
    for key in KEYS:
        df = get(key).build(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, key
        schemas = read_schemas(df)
        got = sorted(tuple(sorted(s)) for s in schemas)
        assert got == sorted(want_scans[key]), (key, got)


def test_selection_pipeline_funnel_accounting():
    """Funnel honesty at both SFs: arrivals conserve (kept <= arrived,
    with genuine drops — the dedup stage fires), every lang is
    present, resample copies land only on survivors, and the gate
    threshold is live: re-running the oracle with the gate at 0 bp
    (nothing dropped) must change the report (the per-stage tamper
    drill)."""
    from datapipeline_scripts_spark.extensions.selection import (
        _SEL_KEEP_BP,
        CORPUS_SELECTION_PIPELINE_ORACLE,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            r = con.execute(CORPUS_SELECTION_PIPELINE_ORACLE).fetch_df()
            tampered = con.execute(
                CORPUS_SELECTION_PIPELINE_ORACLE.replace(
                    f">= {_SEL_KEEP_BP}", ">= 0"
                )
            ).fetch_df()
        assert len(r) == 5, (sf_dir, r)
        assert int(r.n_arrived.sum()) == 500, sf_dir
        assert (r.n_kept <= r.n_arrived).all(), sf_dir
        # the dedup gate fires somewhere
        assert int(r.n_kept.sum()) < int(r.n_arrived.sum()), sf_dir
        # ...but does not wipe the corpus
        assert int(r.n_kept.sum()) > 400, sf_dir
        assert (r.n_drawn <= r.n_kept).all(), sf_dir
        assert (r.total_copies >= r.n_drawn).all(), sf_dir
        # tamper drill: the gate threshold is load-bearing
        assert not r.equals(tampered), sf_dir
        assert int(tampered.n_kept.sum()) == 500, sf_dir


def test_selection_pipeline_fits_model_on_survivors():
    """The production-order pin: the composite's DSIR model is fitted
    on the SURVIVORS, not the raw corpus — fitting on raw (the
    tempting shortcut) must produce a DIFFERENT report at both SFs,
    or the dedup-first ordering claim is untested."""
    from datapipeline_scripts_spark.extensions.dedup import excise_ctes_sql, span_ctes_sql
    from datapipeline_scripts_spark.extensions.selection import (
        _SEL_KEEP_BP,
        dsir_ctes_sql,
        dsir_resample_tail_sql,
    )

    raw_fit = f"""
WITH {span_ctes_sql()},
{excise_ctes_sql()},
survivors AS (
  SELECT d.doc_id, d.lang, d.source, d.text, d.n_chars
  FROM documents d JOIN excise e USING (doc_id)
  WHERE e.keep_bp >= {_SEL_KEEP_BP}
),
{dsir_ctes_sql(src="documents", p="d_")},
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
    from datapipeline_scripts_spark.extensions.selection import (
        CORPUS_SELECTION_PIPELINE_ORACLE as REAL,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            real = con.execute(REAL).fetch_df()
            shortcut = con.execute(raw_fit).fetch_df()
        assert not real.equals(shortcut), sf_dir


def test_substring_families_consistent_with_spans():
    """The family rollup must account for exactly the span report's
    rows: per-canonical n_spans/dup_grams sum to the pair report's,
    and every family has at least one repeater."""
    from datapipeline_scripts_spark.extensions.dedup import (
        DEDUP_SUBSTRING_FAMILIES_ORACLE,
        DEDUP_SUBSTRING_SPANS_ORACLE,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            fam = con.execute(DEDUP_SUBSTRING_FAMILIES_ORACLE).fetch_df()
            spans = con.execute(DEDUP_SUBSTRING_SPANS_ORACLE).fetch_df()
        assert (fam.n_repeat_docs >= 1).all(), sf_dir
        assert set(fam.doc_a) == set(spans.doc_a), sf_dir
        assert int(fam.n_spans.sum()) == int(spans.n_spans.sum()), sf_dir
        assert int(fam.dup_grams.sum()) == int(spans.dup_grams.sum()), sf_dir
        by_a = spans.groupby("doc_a").max_span_tokens.max()
        f = fam.set_index("doc_a")
        assert all(int(f.loc[a, "max_span_tokens"]) == int(v) for a, v in by_a.items()), sf_dir


def test_stream_dsir_gate_mix_not_degenerate():
    """Both accept classes fire at both SFs (the frozen reference mean
    splits the arriving distribution), and the arriving roster is
    conserved — including docs too short to gram (they score neutral,
    never vanish)."""
    from datapipeline_scripts_spark.streaming.stream_jobs import DOCS_STREAM_DSIR_GATE_ORACLE

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            g = con.execute(DOCS_STREAM_DSIR_GATE_ORACLE).fetch_df()
            n_arriving = con.execute(
                "SELECT count(*) FROM documents WHERE doc_id % 10 >= 7"
            ).fetchone()[0]
        assert int(g.n_arrived.sum()) == n_arriving, sf_dir
        assert (g.n_accept <= g.n_arrived).all(), sf_dir
        total_acc = int(g.n_accept.sum())
        assert 0 < total_acc < n_arriving, (sf_dir, total_acc, n_arriving)


def test_bpe_fertility_consistent_with_corpus_compression():
    """Cross-key consistency: the per-source fertility report summed
    over sources must reproduce the registered corpus-level
    text_bpe_compression totals exactly (same merges, same apply
    expression — factored sharing, proven here), and the tokenizer
    must actually compress every source (symbols < chars)."""
    from datapipeline_scripts_spark.extensions.textstats import TEXT_BPE_COMPRESSION_ORACLE
    from datapipeline_scripts_spark.extensions.textstats import TEXT_BPE_FERTILITY_ORACLE

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            fert = con.execute(TEXT_BPE_FERTILITY_ORACLE).fetch_df()
            comp = con.execute(TEXT_BPE_COMPRESSION_ORACLE).fetch_df()
        assert (fert.symbols_total < fert.chars_total).all(), sf_dir
        assert (fert.compression_bp < 10000).all() and (fert.compression_bp > 0).all(), sf_dir
        assert int(fert.corpus_words.sum()) == int(comp.corpus_words[0]), sf_dir
        assert int(fert.chars_total.sum()) == int(comp.chars_total[0]), sf_dir
        assert int(fert.symbols_total.sum()) == int(comp.symbols_total[0]), sf_dir
