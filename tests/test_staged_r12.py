"""Oracle proofs for the STAGED round-12 keys (sources/staged_r12.py).

Round 11's driver window was committed to the keys registered in round
11 plus stalest-evidence re-proofs, so the round-11-built surface
stages through this round exactly as r10/r11 keys staged before it —
held to the registration bar (the driver's own `oracle.compare` hash
gate, both fixture SFs) without touching the registry."""

from __future__ import annotations

import pytest

from datapipeline_scripts_spark.oracle import compare, duck_connection
from datapipeline_scripts_spark.registry import all_queries
from datapipeline_scripts_spark.sources.staged_r12 import STAGED


@pytest.mark.parametrize("key", sorted(STAGED))
@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_staged_key_matches_oracle(spark, key, sf_dir):
    build, oracle = STAGED[key]
    sdf = build(spark, sf_dir)
    with duck_connection(sf_dir) as con:
        opdf = con.execute(oracle).fetch_df()
    report = compare(key, sdf, opdf)
    assert report.ok, str(report)
    assert report.spark_rows > 0


def test_r12_keys_registered_with_correct_builders():
    """Round 12 flipped the staged keys live: every STAGED key must be
    in the registry, bound to the SAME builder and oracle the proofs
    above ran (the decorating-the-wrong-function failure mode breaks
    the driver contract silently), and the catalog is 379 (368 + the
    eleven round-13 registrations)."""
    specs = all_queries()
    assert len(specs) == 379
    for key, (fn, oracle) in STAGED.items():
        assert key in specs, key
        assert specs[key].build is fn, key
        assert specs[key].oracle == oracle, key


def test_inference_weights_match_registered_eval_trajectory(spark, sf_dir):
    """The shared-chain guarantee: `_pe_weights` over the even split
    must land on the same final weight vector the REGISTERED
    quality_eval_perceptron trains (same _PE_ITERS, same features,
    same update rule) — if either side drifts, the inference report
    is grading a different model than the eval key published."""
    from pyspark.sql import functions as F

    from datapipeline_scripts_spark.sources.staged_r11 import (
        _perceptron_features,
    )
    from datapipeline_scripts_spark.sources.staged_r12 import _pe_weights

    feats = _perceptron_features(spark, sf_dir)
    train = feats.filter(F.col("doc_id") % 2 == 0)
    w = _pe_weights(spark, train).collect()[0].asDict()

    # the registered eval key's oracle-proven weights, recomputed via
    # its own DuckDB train CTEs
    from datapipeline_scripts_spark.sources.staged_r12 import (
        _PE_FEATS_SQL,
        _PE_ITERS,
        _pe_train_sql,
    )

    with duck_connection(sf_dir) as con:
        got = con.execute(
            f"WITH {_PE_FEATS_SQL}, {_pe_train_sql()} SELECT * FROM w{_PE_ITERS}"
        ).fetch_df()
    duck_w = {k: int(got[k][0]) for k in ("w0", "w1", "w2", "w3")}
    assert {k: int(v) for k, v in w.items()} == duck_w


def test_calibration_monotone_and_covers_both_classes():
    """The calibration report must actually calibrate on the fixtures:
    the lowest bin is (near-)pure negative, the highest (near-)pure
    positive, and pos_bp is non-decreasing across bins — the margin
    orders the held-out labels. DuckDB-side (both SFs), cheap."""
    from datapipeline_scripts_spark.sources.staged_r12 import (
        QUALITY_SCORE_CALIBRATION_ORACLE,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            b = con.execute(QUALITY_SCORE_CALIBRATION_ORACLE).fetch_df()
        assert len(b) >= 3, (sf_dir, "margins collapsed into <3 bins")
        assert b.pos_bp.is_monotonic_increasing, (sf_dir, list(b.pos_bp))
        assert b.pos_bp.iloc[0] <= 500 and b.pos_bp.iloc[-1] >= 9500, (
            sf_dir,
            list(b.pos_bp),
        )


def test_store_merge_novelty_accounting():
    """Semantic invariants of the compaction report (DuckDB-side,
    both SFs): novel+repeat == store size per crawl, crawl 0 is 100%
    novel (nothing precedes it), and the total novel count across
    crawls equals the corpus's distinct fingerprint count (every fp
    is first-seen exactly once)."""
    import duckdb

    from datapipeline_scripts_spark.sources.staged_r12 import (
        DEDUP_STORE_MERGE_ORACLE,
        _STORE_NORM,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            b = con.execute(DEDUP_STORE_MERGE_ORACLE).fetch_df()
            # distinct fps of the STORE universe: the refetch mapping
            # replaces every %10==1 doc's text with its predecessor's,
            # so those 10% of texts never enter any store
            n_distinct = con.execute(
                "SELECT count(DISTINCT md5(regexp_replace(trim(lower(s.text)),"
                " '\\s+', ' ', 'g')))"
                " FROM documents o JOIN documents s ON s.doc_id ="
                " CASE WHEN o.doc_id % 10 = 1 THEN o.doc_id - 1"
                " ELSE o.doc_id END"
            ).fetchone()[0]
        assert (b.novel_fps + b.repeat_fps == b.store_fps).all(), sf_dir
        assert int(b[b.crawl_id == 0].novelty_bp.iloc[0]) == 10000, sf_dir
        assert int(b.novel_fps.sum()) == n_distinct, sf_dir
        # the refetch construction must actually create cross-crawl
        # repeats — otherwise the provenance min() is dead weight
        assert int(b.repeat_fps.sum()) > 0, sf_dir


def test_code_detect_labels_exactly_the_synthetic_class():
    """The injected code bodies (doc_id % 5 == 0) must all classify
    as code and the untouched prose must all classify as prose — the
    detector separates the classes with margin at the fixture scale."""
    from datapipeline_scripts_spark.sources.staged_r12 import (
        TEXT_CODE_DETECT_ORACLE,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            b = con.execute(TEXT_CODE_DETECT_ORACLE).fetch_df()
        code = b[b.doc_id % 5 == 0]
        prose = b[b.doc_id % 5 != 0]
        assert (code.label == "code").all(), sf_dir
        assert (prose.label == "prose").all(), sf_dir
        # separation, not threshold-grazing
        assert code.code_score.min() >= 100, (sf_dir, int(code.code_score.min()))
        assert prose.code_score.max() <= 0, (sf_dir, int(prose.code_score.max()))


def test_ivf_append_covers_all_lists_and_balances():
    """Every one of the 16 frozen lists must receive its own centroid
    (n_old >= 1 — a centroid is its own argmax) and the full old+new
    populations must be conserved across lists."""
    from datapipeline_scripts_spark.sources.staged_r12 import (
        KNN_IVF_APPEND_ORACLE,
    )

    for sf_dir, n in (("/root/testdata/sf0.001", 500), ("/root/testdata/sf0.01", 500)):
        with duck_connection(sf_dir) as con:
            b = con.execute(KNN_IVF_APPEND_ORACLE).fetch_df()
        assert len(b) == 16, (sf_dir, len(b))
        assert (b.n_old >= 1).all(), sf_dir
        # ADVICE r11: the explicit zero-old NULL guard must stay dead
        # under the seed-self-assignment tiebreak — every list reports
        # a concrete growth figure.
        assert b.growth_bp.notna().all(), sf_dir
        n_new = n // 4
        assert int(b.n_old.sum()) == n - n_new and int(b.n_new.sum()) == n_new, sf_dir


def test_staged_r12_plan_shapes(spark, sf_dir):
    """Staged r12 contract (keys register next round; the plan shape
    must already be right): every builder cartesian-free; the pure
    per-row detector key additionally key-shuffle-free; exact per-scan
    schema pinning (the r11 multiset discipline). Keys whose corpus
    scan hides behind an eager localCheckpoint (the perceptron
    precedent: both quality keys, the minhash signature store, the
    fingerprint store) pin the scans that REMAIN in the final plan."""
    from datapipeline_scripts_spark.plans.audit import read_schemas
    from datapipeline_scripts_spark.sources.staged_r12 import STAGED as R12

    want_scans = {
        # train + score legs read the eager feature checkpoint
        "quality_score_inference": [],
        "quality_score_calibration": [],
        # the store is checkpointed (it IS the persisted artifact);
        # no corpus scan may survive into the merge plan
        "dedup_store_merge": [],
        "text_code_detect": [("doc_id", "text")],
        "knn_ivf_append": [
            ("embedding", "vec_id"),
            ("embedding", "vec_id"),  # centroid-seed scan (pruned by vec_id)
        ],
        # signatures checkpointed; only the batch-roster scan remains
        "dedup_minhash_store_incremental": [("doc_id",)],
        # both legs (exact + prefix) reuse knn_brute's broadcast-Q
        # shape: query + candidate scans per leg, all vector-minimal
        "embedding_prefix_recall": [("embedding", "vec_id")] * 6,
        "quality_margin_drift": [],  # feature checkpoint hides the scan
        # the stream replay materializes into the checkpointed sink
        # read-back: no corpus FileScan in the returned plan
        "docs_stream_quality_gate": [],
        "multimodal_image_tiles": [("doc_id",)],
        # pagerank_rounds checkpoints the edge list (the registered
        # key's compute-once contract), so no FileScan survives into
        # the iteration plan
        "web_host_pagerank": [],
        # the per-source table is checkpointed (sharing the explode
        # between report and denominator), hiding the corpus scan
        "corpus_epoch_upsample": [],
        "text_chunk_spans": [("doc_id", "text")],
        # stream replay sink read-back + checkpointed store/refetch:
        # no corpus FileScan in the returned plan
        "docs_stream_dedup_gate": [],
        # arrived increment + ref train features are checkpointed;
        # what survives is the exact-store leg and the ref-signature
        # leg (doc_id needed by the %10 split predicate on both)
        "crawl_increment_pipeline": [
            ("doc_id", "text"),  # exact store
            ("doc_id", "text"),  # ref signatures
        ],
        # ref + batch candidate legs carry vectors; the batch ROSTER
        # leg (the left side of the verdict join) prunes to vec_id
        "dedup_embedding_store_incremental": [
            ("embedding", "vec_id"),
            ("embedding", "vec_id"),
            ("vec_id",),
        ],
        "corpus_seqlen_histogram": [("text",), ("text",)],
        "corpus_mixture_temperature": [
            ("doc_id", "source"),
            ("doc_id", "source"),  # totals leg (tiny agg, re-reads 2 cols)
        ],
    }
    for key, (build, _oracle) in R12.items():
        df = build(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, key
        if key in ("text_code_detect", "multimodal_image_tiles", "text_chunk_spans"):
            assert "hashpartitioning" not in plan, (key, "unexpected key shuffle")
        schemas = read_schemas(df)
        got = sorted(tuple(sorted(s)) for s in schemas)
        assert got == sorted(want_scans[key]), (key, got)


def test_mstore_no_signature_verdict_surfaces_loudly(spark, tmp_path):
    """Fixture docs all shingle (≥3 tokens), so the 'no_signature'
    class can't fire there — drill it with an augmented documents
    table holding a 2-token batch doc: the doc must appear in the
    output as no_signature on BOTH engines (hash-compared), never
    silently vanish from the probe."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datapipeline_scripts_spark.catalog import TABLES

    src = "/root/testdata/sf0.001"
    d = tmp_path / "sf_short"
    d.mkdir()
    for name in TABLES:
        if name != "documents":
            os.symlink(f"{src}/{name}.parquet", d / f"{name}.parquet")
    t = pq.read_table(f"{src}/documents.parquet")
    schema = pa.schema([(f.name, f.type) for f in t.schema])
    extra = pa.table(
        {
            "doc_id": [707],  # % 10 >= 7 → batch side
            "text": ["too short"],
            "lang": ["en"],
            "source": ["short-drill"],
            "n_chars": [9],
        },
        schema=schema,
    )
    pq.write_table(pa.concat_tables([t.cast(schema), extra]), d / "documents.parquet")

    build, oracle = STAGED["dedup_minhash_store_incremental"]
    sdf = build(spark, str(d))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
    )
    opdf = con.execute(oracle).fetch_df()
    con.close()
    report = compare("dedup_minhash_store_incremental", sdf, opdf)
    assert report.ok, str(report)
    got = {int(r["doc_id"]): r["verdict"] for r in sdf.collect()}
    assert got[707] == "no_signature", got.get(707)


def test_mstore_probe_agrees_with_registered_minhash_on_cross_split_pairs():
    """The incremental probe must find EXACTLY the registered
    dedup_minhash's ≥0.5 pairs that straddle the reference/batch
    split — same hash family, same banding, same threshold, so the
    store path can't be weaker (or stronger) than the batch path it
    replaces. DuckDB-side, both SFs."""
    import duckdb

    from datapipeline_scripts_spark.extensions.dedup import _minhash_oracle
    from datapipeline_scripts_spark.sources.staged_r12 import (
        DEDUP_MINHASH_STORE_INCREMENTAL_ORACLE,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        batch = con.execute(_minhash_oracle()).fetch_df()
        store = con.execute(DEDUP_MINHASH_STORE_INCREMENTAL_ORACLE).fetch_df()
        con.close()
        cross = set()
        for r in batch.itertuples():
            a, b = int(r.doc_a), int(r.doc_b)
            if (a % 10 < 7) != (b % 10 < 7):
                cross.add(a if a % 10 >= 7 else b)
        flagged = set(store[store.verdict == "near_dup"].doc_id.astype(int))
        assert flagged == cross, (sf_dir, flagged ^ cross)


def test_prefix_recall_is_lossy_but_informative():
    """The truncated-dim audit must show a real tradeoff on the
    fixtures: recall strictly below perfect for at least one query
    (16 of 64 uniform-random dims lose information) but nonzero
    overall (the prefix is not noise). DuckDB-side, both SFs."""
    from datapipeline_scripts_spark.sources.staged_r12 import (
        EMBEDDING_PREFIX_RECALL_ORACLE,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            b = con.execute(EMBEDDING_PREFIX_RECALL_ORACLE).fetch_df()
        assert len(b) == 5, sf_dir
        assert (b.recall_bp <= 10000).all() and (b.recall_bp >= 0).all(), sf_dir
        assert b.recall_bp.min() < 10000, (sf_dir, "prefix suspiciously perfect")


def test_margin_drift_shares_account_to_totals():
    """Per-bin share accounting: each crawl's shares sum to ~10000
    (within per-bin truncation: at most one bp lost per bin), drift
    is the exact |share difference|, and the bin scheme matches the
    calibration key's (same width, same clamp), pinned by comparing
    occupied-bin sets on the odd/even-agnostic full population."""
    from datapipeline_scripts_spark.sources.staged_r12 import (
        QUALITY_MARGIN_DRIFT_ORACLE,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            b = con.execute(QUALITY_MARGIN_DRIFT_ORACLE).fetch_df()
        n_bins = len(b)
        for col in ("share_a_bp", "share_b_bp"):
            s = int(b[col].sum())
            assert 10000 - n_bins <= s <= 10000, (sf_dir, col, s)
        assert (b.drift_bp == (b.share_a_bp - b.share_b_bp).abs()).all(), sf_dir


def test_stream_gate_agrees_with_batch_inference_on_odds(spark, sf_dir):
    """The streaming replay must reproduce the batch computation it
    deploys: per-source (n_arrived, n_accept) from the stream equals
    a batch-side recompute over the odd docs with the same shared
    chain — the stream path adds execution machinery, never
    semantics."""
    from pyspark.sql import functions as F

    from datapipeline_scripts_spark.sources.staged_r11 import (
        _perceptron_features,
    )
    from datapipeline_scripts_spark.sources.staged_r12 import (
        STAGED as R12,
        _pe_score,
        _pe_weights,
    )

    stream_rows = {
        r["source"]: (r["n_arrived"], r["n_accept"])
        for r in R12["docs_stream_quality_gate"][0](spark, sf_dir).collect()
    }
    feats = _perceptron_features(spark, sf_dir, extra=("source",))
    train = feats.filter(F.col("doc_id") % 2 == 0).drop("source")
    w = _pe_weights(spark, train)
    batch = (
        feats.filter(F.col("doc_id") % 2 == 1)
        .crossJoin(F.broadcast(w))
        .select("source", _pe_score().alias("m"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("m") > 0, 1).otherwise(0)).alias("acc"),
        )
        .collect()
    )
    batch_rows = {r["source"]: (r["n"], r["acc"]) for r in batch}
    assert stream_rows == batch_rows


def test_image_tiles_shape_invariants():
    """Every selected doc yields the full 4×2 tile grid; per-tile
    min ≤ max and the sum sits inside [16·min, 16·max]."""
    from datapipeline_scripts_spark.sources.staged_r12 import (
        MULTIMODAL_IMAGE_TILES_ORACLE,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            b = con.execute(MULTIMODAL_IMAGE_TILES_ORACLE).fetch_df()
        per_doc = b.groupby("doc_id").tile_id.count()
        assert (per_doc == 8).all(), sf_dir
        assert (b.t_min <= b.t_max).all(), sf_dir
        assert ((b.t_sum >= 16 * b.t_min) & (b.t_sum <= 16 * b.t_max)).all(), sf_dir


def test_pagerank_unroll_generator_reproduces_registered_hand_unroll():
    """The refactor guarantee: `pagerank_unroll_sql` applied to the
    registered trade-edges CTE must produce EXACTLY the ranks of the
    hand-written registered _PAGERANK_ORACLE — formula, constants and
    floor-division semantics identical. DuckDB-side, both SFs."""
    from datapipeline_scripts_spark.extensions.graph import (
        _ITERS,
        _PAGERANK_ORACLE,
        TRADE_EDGES_CTE,
        pagerank_unroll_sql,
    )

    gen = f"""
WITH {pagerank_unroll_sql(TRADE_EDGES_CTE)}
SELECT it{_ITERS}.k, CAST(it{_ITERS}.r AS BIGINT) AS rank_micro
FROM it{_ITERS} ORDER BY k
"""
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            got = con.execute(gen).fetch_df()
            want = con.execute(
                f"SELECT * FROM ({_PAGERANK_ORACLE}) ORDER BY nation"
            ).fetch_df()
            # compare as rank multisets (the registered output keys by
            # nation name; the generator keys by node id)
            assert sorted(got.rank_micro) == sorted(want.rank_micro), sf_dir


def test_host_pagerank_conserves_mass_and_ranks_all_hosts():
    """Semantic invariants: all 20 hosts ranked; total rank mass stays
    within floor-division slack of SCALE (each of the 3 iterations
    loses < |V| + 2 micro-units to truncation); authority actually
    varies (the graph is not regular)."""
    from datapipeline_scripts_spark.extensions.graph import _SCALE
    from datapipeline_scripts_spark.sources.staged_r12 import (
        _HOST_N,
        WEB_HOST_PAGERANK_ORACLE,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            b = con.execute(WEB_HOST_PAGERANK_ORACLE).fetch_df()
        assert len(b) == _HOST_N, sf_dir
        mass = int(b.rank_micro.sum())
        slack = 3 * (_HOST_N + 2) * 100  # per-round truncation bound
        assert _SCALE - slack <= mass <= _SCALE, (sf_dir, mass)
        assert b.rank_micro.nunique() > 1, (sf_dir, "regular graph? no signal")


def test_epoch_upsample_multiplies_exactly():
    """n_samples must equal factor × n_docs per source, factors span
    the configured band, and shares sum to ~10000 (within per-source
    truncation)."""
    from datapipeline_scripts_spark.sources.staged_r12 import (
        _UPSAMPLE_MAX_EXTRA,
        CORPUS_EPOCH_UPSAMPLE_ORACLE,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            b = con.execute(CORPUS_EPOCH_UPSAMPLE_ORACLE).fetch_df()
        assert (b.n_samples == b.factor * b.n_docs).all(), sf_dir
        assert b.factor.between(1, _UPSAMPLE_MAX_EXTRA).all(), sf_dir
        s = int(b.share_bp.sum())
        assert 10000 - len(b) <= s <= 10000, (sf_dir, s)


def test_r12_stage_fire_checks():
    """Tamper drills for the round-12 composites (the crawl/pretraining
    flagships' pattern): mutate ONE stage of an oracle at a time and
    assert the report CHANGES — every stage is load-bearing in the
    hash gate. DuckDB-only (cheap): the Spark sides are already
    hash-locked to the unmutated oracles by the staged proofs."""
    from datapipeline_scripts_spark.sources.staged_r12 import (
        DEDUP_STORE_MERGE_ORACLE,
        QUALITY_SCORE_INFERENCE_ORACLE,
        WEB_HOST_PAGERANK_ORACLE,
    )

    drills = {
        "inference: train split flipped": (
            QUALITY_SCORE_INFERENCE_ORACLE,
            "WHERE doc_id % 2 = 0",
            "WHERE doc_id % 2 = 1",
        ),
        # (a >= vs > drill cannot fire here: no fixture margin is
        # exactly 0 — so shift the threshold far enough that accepted
        # docs must flip instead)
        "inference: acceptance threshold shifted": (
            QUALITY_SCORE_INFERENCE_ORACLE,
            "CASE WHEN margin > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_accept",
            "CASE WHEN margin > 10000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_accept",
        ),
        "inference: a weight term dropped": (
            QUALITY_SCORE_INFERENCE_ORACLE,
            "w0 + w1 * x1 + w2 * x2 + w3 * x3 AS margin",
            "w0 + w1 * x1 + w2 * x2 AS margin",
        ),
        "store merge: provenance takes the LAST crawl": (
            DEDUP_STORE_MERGE_ORACLE,
            "min(crawl_id) AS first_crawl",
            "max(crawl_id) AS first_crawl",
        ),
        "store merge: snapshot split coarsened": (
            DEDUP_STORE_MERGE_ORACLE,
            "o.doc_id % 3 AS crawl_id",
            "o.doc_id % 2 AS crawl_id",
        ),
        "store merge: refetch mapping disabled": (
            DEDUP_STORE_MERGE_ORACLE,
            "CASE WHEN o.doc_id % 10 = 1 THEN o.doc_id - 1 ELSE o.doc_id END",
            "o.doc_id",
        ),
        "host rank: damping disabled": (
            WEB_HOST_PAGERANK_ORACLE,
            "(85 * coalesce(c.contrib, 0)) // 100",
            "(100 * coalesce(c.contrib, 0)) // 100",
        ),
        "host rank: second outlink collapsed onto the first": (
            WEB_HOST_PAGERANK_ORACLE,
            "'R' || CAST(doc_id AS VARCHAR)",
            "'L' || CAST(doc_id AS VARCHAR)",
        ),
    }
    with duck_connection("/root/testdata/sf0.01") as con:
        cache: dict[int, object] = {}
        for label, (oracle, old, new) in drills.items():
            assert old in oracle, (label, "anchor drifted")
            if id(oracle) not in cache:
                cache[id(oracle)] = con.execute(oracle).fetch_df()
            base = cache[id(oracle)]
            got = con.execute(oracle.replace(old, new)).fetch_df()
            assert not got.equals(base), (label, "mutation did not fire")


def test_chunk_spans_cover_every_token_exactly():
    """Chunking invariants (DuckDB-side, both SFs): per doc, exactly
    one is_last chunk; chunk starts advance by exactly the stride;
    the last chunk ends at the token count (full coverage, no token
    beyond any chunk); every chunk holds 1..window tokens."""
    from datapipeline_scripts_spark.sources.staged_r12 import (
        _CHUNK_STRIDE,
        _CHUNK_WINDOW,
        TEXT_CHUNK_SPANS_ORACLE,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            b = con.execute(TEXT_CHUNK_SPANS_ORACLE).fetch_df()
        g = b.groupby("doc_id")
        assert (g.is_last.sum() == 1).all(), sf_dir
        assert (b.begin_tok == b.chunk_id * _CHUNK_STRIDE).all(), sf_dir
        last = b[b.is_last]
        per_doc_max_end = g.end_tok.max()
        assert (last.set_index("doc_id").end_tok == per_doc_max_end).all(), sf_dir
        assert b.n_tok.between(1, _CHUNK_WINDOW).all(), sf_dir


def test_stream_dedup_gate_agrees_with_batch_probe(spark, sf_dir):
    """The streaming fp-store probe must reproduce the batch
    computation it deploys (the quality-gate discipline): per-source
    (n_arrived, n_dup_ref) from the stream equals a batch-side
    recompute with the same refetch mapping — and the probe must
    actually FIRE (the fixtures hold only distinct texts, so a dead
    join would report zero duplicates everywhere)."""
    from pyspark.sql import functions as F

    from datapipeline_scripts_spark.functions.text import fingerprint_md5
    from datapipeline_scripts_spark.sources.staged_r12 import STAGED as R12

    stream_rows = {
        r["source"]: (r["n_arrived"], r["n_dup_ref"])
        for r in R12["docs_stream_dedup_gate"][0](spark, sf_dir).collect()
    }
    assert sum(v[1] for v in stream_rows.values()) > 0, "probe never fired"

    from datapipeline_scripts_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    fps = docs.select("doc_id", "source", fingerprint_md5(F.col("text")).alias("fp"))
    store = fps.filter(F.col("doc_id") % 10 < 7).select("fp").distinct()
    src_id = F.when(F.col("doc_id") % 10 == 7, F.col("doc_id") - 1).otherwise(
        F.col("doc_id")
    )
    arriving = (
        fps.filter(F.col("doc_id") % 10 >= 7)
        .select("source", src_id.alias("src_id"))
        .join(fps.select(F.col("doc_id").alias("src_id"), "fp"), "src_id")
        .select("source", "fp")
    )
    batch = (
        arriving.join(store.withColumn("in_ref", F.lit(1)), "fp", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.coalesce("in_ref", F.lit(0))).alias("dup"),
        )
        .collect()
    )
    batch_rows = {r["source"]: (r["n"], r["dup"]) for r in batch}
    assert stream_rows == batch_rows


def test_increment_funnel_conserves_and_every_stage_fires():
    """The increment flagship's funnel must conserve arrivals (the
    four verdicts are disjoint by precedence and sum to n_arrived)
    and every stage must actually fire at fixture scale — a funnel
    with a dead stage is grading composition the gate cannot see."""
    from datapipeline_scripts_spark.sources.staged_r12 import (
        CRAWL_INCREMENT_PIPELINE_ORACLE,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            b = con.execute(CRAWL_INCREMENT_PIPELINE_ORACLE).fetch_df()
        total = (
            b.n_exact_dup + b.n_near_dup + b.n_quality_rejected + b.n_accepted
        )
        assert (total == b.n_arrived).all(), sf_dir
        for c in ("n_exact_dup", "n_near_dup", "n_quality_rejected", "n_accepted"):
            assert int(b[c].sum()) > 0, (sf_dir, c, "stage never fired")


def test_increment_stage_fire_drills():
    """Per-stage tamper drills for the increment flagship (the
    crawl/pretraining discipline): mutate one stage at a time, the
    funnel must change."""
    from datapipeline_scripts_spark.sources.staged_r12 import (
        CRAWL_INCREMENT_PIPELINE_ORACLE as O,
    )

    drills = {
        "refetch mapping disabled": (
            "CASE WHEN o.doc_id % 10 = 7 THEN o.doc_id - 1 ELSE o.doc_id END",
            "o.doc_id",
        ),
        "near threshold collapsed": ("/ 16.0 >= 0.5", "/ 16.0 >= 2.0"),
        "quality gate inverted": ("WHEN m.margin <= 0", "WHEN m.margin > 0"),
        "exact store widened to the batch itself": (
            "SELECT DISTINCT md5(regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g')) AS fp FROM ref",
            "SELECT DISTINCT md5(regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g')) AS fp FROM base",
        ),
    }
    with duck_connection("/root/testdata/sf0.01") as con:
        base = con.execute(O).fetch_df()
        for label, (old, new) in drills.items():
            assert old in O, (label, "anchor drifted")
            got = con.execute(O.replace(old, new)).fetch_df()
            assert not got.equals(base), (label, "mutation did not fire")


def test_embedding_store_probe_matches_registered_pairs():
    """The embedding store probe must flag exactly the registered
    dedup_embedding's ≥0.4 pairs that straddle the old/new split —
    same bucket family, same threshold (the minhash-store
    discipline). DuckDB-side, both SFs; also pins that the near class
    fires at all."""
    import duckdb

    from datapipeline_scripts_spark.registry import get
    from datapipeline_scripts_spark.sources.staged_r12 import (
        DEDUP_EMBEDDING_STORE_INCREMENTAL_ORACLE,
    )

    reg_oracle = get("dedup_embedding").oracle
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        pairs = con.execute(reg_oracle).fetch_df()
        store = con.execute(DEDUP_EMBEDDING_STORE_INCREMENTAL_ORACLE).fetch_df()
        con.close()
        cross = set()
        for r in pairs.itertuples():
            a, b = int(r.vec_a), int(r.vec_b)
            if (a % 4 == 3) != (b % 4 == 3):
                cross.add(a if a % 4 == 3 else b)
        flagged = set(store[store.verdict == "near_dup"].vec_id.astype(int))
        assert flagged == cross, (sf_dir, flagged ^ cross)
        assert flagged, (sf_dir, "near class never fires")


def test_seqlen_histogram_accounting():
    """Shares sum to ~10000 within per-bucket truncation; tokens and
    docs are conserved against the corpus; padding waste is a valid
    basis-point fraction everywhere."""
    from datapipeline_scripts_spark.sources.staged_r12 import (
        CORPUS_SEQLEN_HISTOGRAM_ORACLE,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            b = con.execute(CORPUS_SEQLEN_HISTOGRAM_ORACLE).fetch_df()
            tot = con.execute(
                "SELECT count(*), sum(len(string_split(regexp_replace(trim(lower("
                "coalesce(text, ''))), '\\s+', ' ', 'g'), ' '))) FROM documents"
            ).fetchone()
        assert int(b.n_docs.sum()) == tot[0], sf_dir
        assert int(b.n_tokens.sum()) == tot[1], sf_dir
        for col in ("doc_share_bp", "token_share_bp"):
            s = int(b[col].sum())
            assert 10000 - len(b) <= s <= 10000, (sf_dir, col, s)
        assert b.pad_waste_bp.between(0, 9999).all(), sf_dir


def test_temperature_mixture_flattens_in_the_right_direction():
    """τ=0.5 flattening must LIFT the rare tiers and SHAVE the head
    tiers (per-tier mean uplift strictly signed), targets must sum to
    ~10000, and weight must be exactly isqrt(n_docs) — floor of the
    correctly-rounded IEEE sqrt."""
    import math

    from datapipeline_scripts_spark.sources.staged_r12 import (
        CORPUS_MIXTURE_TEMPERATURE_ORACLE,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            b = con.execute(CORPUS_MIXTURE_TEMPERATURE_ORACLE).fetch_df()
        assert (b.weight == b.n_docs.map(math.isqrt)).all(), sf_dir
        t = int(b.target_bp.sum())
        assert 10000 - len(b) <= t <= 10000, (sf_dir, t)
        rare = b[b.source.str.endswith(":rare")].uplift_bp.mean()
        head = b[b.source.str.endswith(":head")].uplift_bp.mean()
        assert rare > 0 > head, (sf_dir, rare, head)
