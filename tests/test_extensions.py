"""Quality tests for the sketch-based dedup/similarity operators —
beyond the oracle hash, their *semantics* need verifying: recall of the
LSH candidates against exact Jaccard, SimHash locality, bucketed-ANN
containment in the brute-force ranking."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datapipeline_scripts_spark.registry import get


@pytest.fixture(scope="module")
def exact_pairs(spark, sf_dir):
    """Exact 3-gram Jaccard pairs ≥ 0.6 (oracle-checked query)."""
    return {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in get("dedup_ngram_jaccard").build(spark, sf_dir).collect()
    }


def test_minhash_recalls_exact_duplicates(spark, sf_dir, exact_pairs):
    cand = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in get("dedup_minhash").build(spark, sf_dir).collect()
    }
    # jaccard-1.0 pairs collide in every band (guaranteed recall); for
    # j ≥ 0.8 the 16-perm/4-band curve gives P(candidate) ≈ 0.88 — with
    # fixed seeds the outcome is deterministic, require ≥ 60% recall
    ones = {p for p, j in exact_pairs.items() if j >= 0.9999}
    assert ones <= set(cand), f"missing exact-dup pairs {ones - set(cand)}"
    high = {p for p, j in exact_pairs.items() if j >= 0.8}
    assert high, "fixture should contain high-jaccard near-dup pairs"
    recall = len(high & set(cand)) / len(high)
    assert recall >= 0.6, f"recall {recall:.2f} over {len(high)} pairs"


def test_minhash_estimates_track_exact_jaccard(spark, sf_dir, exact_pairs):
    cand = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in get("dedup_minhash").build(spark, sf_dir).collect()
    }
    shared = set(cand) & set(exact_pairs)
    assert shared
    for p in shared:
        assert abs(cand[p] - exact_pairs[p]) <= 0.4  # 16 perms → coarse but bounded


def test_levenshtein_threshold_matches_unbounded(spark, sf_dir):
    """dedup_levenshtein uses the banded 3-arg levenshtein
    (optimization r14 — O(k·L) with early exit, returning -1 above
    the bound); pin the pair set and distances against the verbatim
    unbounded construction on fixture data."""
    from datapipeline_scripts_spark.catalog import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.floor(F.col("n_chars") / 50).cast("int").alias("band"),
        F.substring("text", 1, 80).alias("pfx"),
    )
    a, b = d.alias("a"), d.alias("b")
    dist = F.levenshtein(F.col("a.pfx"), F.col("b.pfx"))
    old = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(dist <= 20)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("int").alias("edit_dist"),
        )
    )
    want = sorted(tuple(r) for r in old.collect())
    got = sorted(tuple(r) for r in get("dedup_levenshtein").build(spark, sf_dir).collect())
    assert got == want
    assert got, "fixture should contain at least one near-dup pair"


def test_capped_jaccard_window_cap_matches_joinback(spark, sf_dir):
    """dedup_ngram_jaccard_capped's doc-frequency cap is a WINDOW
    count over sh (optimization r14); pin the kept shingle set against
    the verbatim r13 groupBy+join-back construction on fixture data."""
    from pyspark.sql.window import Window as W

    from datapipeline_scripts_spark.catalog import load_table
    from datapipeline_scripts_spark.extensions.dedup import _DF_CAP
    from datapipeline_scripts_spark.functions.text import shingles, tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", tokens(F.col("text")).alias("toks")).filter(F.size("toks") >= 3)
    sh = tok.select(
        "doc_id", F.explode(F.array_distinct(shingles(F.col("toks"), 3))).alias("sh")
    )
    new_kept = (
        sh.withColumn("df", F.count("*").over(W.partitionBy("sh")))
        .filter(F.col("df") <= _DF_CAP)
        .select("doc_id", "sh")
    )
    rare = (
        sh.groupBy("sh").agg(F.count("*").alias("df")).filter(F.col("df") <= _DF_CAP).select("sh")
    )
    old_kept = sh.join(rare, "sh").select("doc_id", "sh")
    got = sorted((r["doc_id"], r["sh"]) for r in new_kept.collect())
    want = sorted((r["doc_id"], r["sh"]) for r in old_kept.collect())
    assert got == want and got


def test_band_rows_hashed_matches_bucket_string_form(spark):
    """band_rows_hashed + band_join (optimization r14) must
    yield the IDENTICAL candidate pair set as the old concat_ws
    bucket-string self-join on signatures exercising every regime:
    a full duplicate (collides in all 4 bands — also the multi-band
    double-count the terminal dedup must absorb), a single-band
    collision, and an isolated doc. Also drive the collision guard
    directly: band_join must reject a pair whose band values differ
    even when the join keys matched."""
    from datapipeline_scripts_spark.extensions.dedup import (
        _BANDS,
        _N_HASHES,
        band_join,
        band_rows_hashed,
    )

    rpb = _N_HASHES // _BANDS
    base = list(range(100, 100 + _N_HASHES))
    rows = [
        (1, base),  # full duplicate of 2
        (2, base),
        (3, [200 + i for i in range(8)] + base[8:12] + [300 + i for i in range(4)]),
        # ^ matches 1/2 on band 2 (h8..h11) only
        (4, [400 + i for i in range(_N_HASHES)]),  # isolated
    ]
    sig = spark.createDataFrame(
        [(d, *hs) for d, hs in rows],
        "doc_id long, " + ", ".join(f"h{i} long" for i in range(_N_HASHES)),
    ).withColumn("sig", F.array(*[f"h{i}" for i in range(_N_HASHES)]))

    new_bands = band_rows_hashed(sig, _BANDS, rpb)
    new_pairs = (
        band_join(new_bands, new_bands, rpb, F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    old_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",", *[F.col(f"h{b * rpb + r}") for r in range(rpb)]
                ).alias("bucket"),
            )
            for b in range(_BANDS)
        ]
    )
    old_bands = sig.select("doc_id", F.explode(old_structs).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    old_pairs = (
        old_bands.alias("x")
        .join(
            old_bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    got = sorted((r["a"], r["b"]) for r in new_pairs.collect())
    want = sorted((r["a"], r["b"]) for r in old_pairs.collect())
    assert got == want == [(1, 2), (1, 3), (2, 3)]

    # collision guard: same (band, bhash) key on both sides, but the
    # band's sig values differ — an xxhash64 key collision cannot admit
    # the pair, while equal slices pass.
    schema = "doc_id long, band int, bhash long, sig array<long>"
    x = spark.createDataFrame([(1, 0, 7, base)], schema)
    y_eq = spark.createDataFrame([(2, 0, 7, base)], schema)
    y_ne = spark.createDataFrame([(2, 0, 7, base[: rpb - 1] + [999] + base[rpb:])], schema)
    assert band_join(x, y_eq, rpb).count() == 1
    assert band_join(x, y_ne, rpb).count() == 0


def test_simhash_identical_for_duplicate_token_sets(spark, sf_dir, exact_pairs):
    sims = {r["doc_id"]: r["simhash"] for r in get("dedup_simhash").build(spark, sf_dir).collect()}
    ones = [p for p, j in exact_pairs.items() if j >= 0.9999]
    # jaccard-1.0 pairs share the token *set* only if shingle sets match;
    # simhash is token-based — hamming distance must be small
    for a, b in ones:
        ham = bin(sims[a] ^ sims[b]).count("1")
        assert ham <= 8, (a, b, ham)


def test_bucketed_knn_results_are_true_neighbors(spark, sf_dir):
    """Every (qid, cid) the LSH-bucketed ANN returns must rank at least
    as high in cosine as the brute-force ranking allows (same bucket ⇒
    real cosine computed — the approximation only loses candidates,
    never fabricates scores)."""
    brute = get("knn_brute").build(spark, sf_dir)
    approx = get("knn_bucketed").build(spark, sf_dir)
    bmap = {(r["qid"], r["cid"]): r["cos_sim"] for r in brute.collect()}
    amap = {(r["qid"], r["cid"]): r["cos_sim"] for r in approx.filter(F.col("qid") < 5).collect()}
    shared = set(amap) & set(bmap)
    for k in shared:
        assert abs(amap[k] - bmap[k]) < 1e-9


def test_ivf_scores_are_exact_cosines(spark, sf_dir):
    """IVF prunes candidates but never fabricates scores: every (qid,
    cid) it returns must carry the same cosine brute force computes."""
    brute = {
        (r["qid"], r["cid"]): r["cos_sim"] for r in get("knn_brute").build(spark, sf_dir).collect()
    }
    ivf = {
        (r["qid"], r["cid"]): r["cos_sim"]
        for r in get("knn_ivf").build(spark, sf_dir).filter(F.col("qid") < 5).collect()
    }
    shared = set(ivf) & set(brute)
    for k in shared:
        assert abs(ivf[k] - brute[k]) < 1e-9
    # sanity: each of the 5 brute queries gets k=5 IVF results
    from collections import Counter

    per_q = Counter(q for q, _ in ivf)
    assert all(n == 5 for n in per_q.values())


def test_int8_knn_recall_vs_exact(spark, sf_dir):
    """int8 quantization is lossy but at 64-dim the ranking must stay
    near-exact: recall@10 vs brute force ≥ 0.8 per query, and the
    quantized cosine must track the exact cosine within the worst-case
    quantization error bound (~2·64·(0.5/127) ≈ 0.5, observed ≪)."""
    brute = get("knn_brute").build(spark, sf_dir).collect()
    q8 = get("knn_int8").build(spark, sf_dir).collect()
    btop = {}
    for r in brute:
        btop.setdefault(r["qid"], set()).add(r["cid"])
    qtop = {}
    qcos = {}
    for r in q8:
        qtop.setdefault(r["qid"], set()).add(r["cid"])
        qcos[(r["qid"], r["cid"])] = r["cos_sim"]
    assert set(btop) == set(qtop) and len(btop) == 5
    bcos = {(r["qid"], r["cid"]): r["cos_sim"] for r in brute}
    for qid in btop:
        recall = len(btop[qid] & qtop[qid]) / len(btop[qid])
        assert recall >= 0.8, f"qid {qid} recall {recall}"
    for k in set(qcos) & set(bcos):
        assert abs(qcos[k] - bcos[k]) <= 0.05, (k, qcos[k], bcos[k])


def test_winnowing_coverage_guarantee(spark, sf_dir):
    """Winnowing's defining property: in every window of 4 consecutive
    3-gram hashes, at least one hash is in the fingerprint set (checked
    exhaustively for a sample of documents with a Python model)."""
    import pyspark.sql.functions as SF

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(SF.col("doc_id") < 20)
    fps = {
        r["doc_id"]: r
        for r in get("text_winnow").build(spark, sf_dir).filter(SF.col("doc_id") < 20).collect()
    }
    from datapipeline_scripts_spark.functions.text import md5_48, shingles, tokens

    hashed = d.select(
        "doc_id", F.transform(shingles(tokens(F.col("text")), 3), lambda s: md5_48(s)).alias("hs")
    ).collect()
    # recompute the fingerprint set in python and check window coverage
    for row in hashed:
        hs = row["hs"]
        fp_set = {min(hs[i : i + 4]) for i in range(max(1, len(hs) - 3))}
        assert fps[row["doc_id"]]["n_fingerprints"] == len(fp_set)
        for i in range(max(1, len(hs) - 3)):
            assert any(h in fp_set for h in hs[i : i + 4])


def test_exact_norm_survivor_count(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_unique = (
        d.select(F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ").alias("t")).distinct().count()
    )
    survivors = get("dedup_exact_norm").build(spark, sf_dir)
    assert survivors.count() == n_unique


def test_dedup_clusters_are_transitive_and_canonical(spark, sf_dir, exact_pairs):
    """Connected-components invariants: both ends of every duplicate
    pair land in one cluster; each cluster's id is its minimum member;
    cluster_size matches the membership count."""
    rows = get("dedup_clusters").build(spark, sf_dir).collect()
    cid = {r["doc_id"]: r["cluster_id"] for r in rows}
    for a, b in exact_pairs:
        assert cid[a] == cid[b], (a, b)
    from collections import Counter

    members = Counter(r["cluster_id"] for r in rows)
    for r in rows:
        assert r["cluster_size"] == members[r["cluster_id"]]
        assert r["cluster_id"] <= r["doc_id"]
    assert set(members) == {c for d, c in cid.items() if c == d}  # id = min member


def test_stratified_sample_honors_per_stratum_rates(spark, sf_dir):
    """sampleBy must keep ~50% of the urgent stratum and ~5% of the
    others (binomial tolerance at fixture sizes)."""
    totals = {
        r["o_orderpriority"]: r["n"]
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    rows = {r["o_orderpriority"]: r for r in get("sample_stratified").build(spark, sf_dir).collect()}
    assert set(rows) == set(totals)
    for prio, n in totals.items():
        # the query property-encodes the rate check itself (round 2):
        # exact totals must match and the in-band boolean must hold
        assert rows[prio]["n_total"] == n
        assert rows[prio]["rate_ok"], (prio, n)


def test_multimodal_frames_match_python_model(spark, sf_dir):
    """The 1→N frame sampler vs a pure-Python model on a doc sample:
    same frame indices, offsets, sizes, and checksums."""
    rows = (
        get("multimodal_frames")
        .build(spark, sf_dir)
        .filter(F.col("doc_id") < 10)
        .collect()
    )
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 10)
        .collect()
    }
    got = {(r["doc_id"], r["frame_idx"]): r for r in rows}
    want_keys = set()
    for doc_id, text in docs.items():
        p = text.encode("utf-8")
        n_frames = max(1, (len(p) + 255) // 256)
        for idx in range(0, n_frames, 2):
            want_keys.add((doc_id, idx))
            chunk = p[idx * 256 : (idx + 1) * 256]
            r = got[(doc_id, idx)]
            assert r["byte_offset"] == idx * 256
            assert r["frame_bytes"] == len(chunk)
            assert r["frame_checksum"] == sum(chunk[:16])
    assert set(got) == want_keys


def test_dedup_embedding_bucketed_recall_vs_exact(spark, sf_dir):
    """Single-probe sign-bucket blocking is lossy by design; quantify it:
    every reported pair must be a true pair (precision 1.0 — the cosine
    threshold is applied exactly after blocking), and recall on the
    tightest pairs (cos >= 0.8, the near-dup band that matters for
    dedup) must be >= 0.5 at fixture scale."""
    from datapipeline_scripts_spark.extensions.dedup import dedup_embedding_exact

    exact = {(r["vec_a"], r["vec_b"]): r["cos_sim"] for r in dedup_embedding_exact(spark, sf_dir).collect()}
    got = {(r["vec_a"], r["vec_b"]): r["cos_sim"] for r in get("dedup_embedding").build(spark, sf_dir).collect()}
    assert set(got) <= set(exact), "bucketed form invented a pair"
    for k, v in got.items():
        assert abs(v - exact[k]) < 1e-9
    tight = {k for k, v in exact.items() if v >= 0.8}
    if tight:
        recall = len(tight & set(got)) / len(tight)
        assert recall >= 0.5, f"tight-pair recall {recall:.2f} over {len(tight)}"


def test_sequence_folds_bound_hot_users(spark, tmp_path):
    """Hot-user guard (VERDICT r01 item 7): a user with more than
    MAX_EVENTS_PER_USER events must contribute only the LAST cap events
    to the sequence folds — the collect_list buffer is bounded by the
    pre-aggregation row_number filter, never by luck."""
    import datetime

    from datapipeline_scripts_spark.operators.sequences import (
        MAX_EVENTS_PER_USER,
        events_ewma,
        events_path,
    )

    cap = MAX_EVENTS_PER_USER
    n = cap + 500
    base = datetime.datetime(2025, 1, 1)
    rows = [
        (i, base + datetime.timedelta(seconds=i), 0, "view" if i % 2 else "click", float(i % 7), "{}")
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
    )
    sf_dir = str(tmp_path / "hotsf")
    df.coalesce(1).write.parquet(sf_dir + "/events.parquet")

    # EWMA must equal the pandas fold over ONLY the last `cap` values
    got = {r["user_id"]: r["ewma"] for r in events_ewma(spark, sf_dir).collect()}
    acc = 0.0
    for i in range(n - cap, n):
        acc = 0.9 * acc + 0.1 * float(i % 7)
    assert got == {0: round(acc, 4)}

    # path triples must count cap-2 windows, not n-2
    total = sum(r["n"] for r in events_path(spark, sf_dir).collect())
    assert total == cap - 2


def test_ivf_lloyd_scores_are_exact_cosines(spark, sf_dir):
    """The offline-training (one-Lloyd-iteration) IVF variant must also
    only ever return true cosines, and k=5 per query."""
    from collections import Counter

    from datapipeline_scripts_spark.extensions.similarity import knn_ivf_lloyd

    brute = {
        (r["qid"], r["cid"]): r["cos_sim"] for r in get("knn_brute").build(spark, sf_dir).collect()
    }
    ivf = {
        (r["qid"], r["cid"]): r["cos_sim"]
        for r in knn_ivf_lloyd(spark, sf_dir).filter(F.col("qid") < 5).collect()
    }
    for k in set(ivf) & set(brute):
        assert abs(ivf[k] - brute[k]) < 1e-9
    per_q = Counter(q for q, _ in ivf)
    assert all(n == 5 for n in per_q.values())


def test_split_assign_fractions_and_determinism(spark, sf_dir):
    rows = get("split_assign").build(spark, sf_dir).collect()
    by_split: dict[str, int] = {}
    for r in rows:
        by_split[r["split"]] = by_split.get(r["split"], 0) + r["n_docs"]
    total = sum(by_split.values())
    assert set(by_split) == {"train", "val", "test"}
    # md5 buckets approximate 80/10/10; generous band for small fixtures
    assert 0.70 <= by_split["train"] / total <= 0.90, by_split
    # pure function of doc_id: a second build is row-identical
    again = get("split_assign").build(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_pagerank_mass_conservation_and_determinism(spark, sf_dir):
    rows = get("graph_pagerank").build(spark, sf_dir).collect()
    assert rows and all(r["rank_micro"] > 0 for r in rows)
    total = sum(r["rank_micro"] for r in rows)
    # floor division and dangling nodes only ever LOSE mass vs SCALE;
    # with the dense fixture graph the loss stays small
    assert total <= 1_000_000_000_000
    assert total >= 0.90 * 1_000_000_000_000, total
    again = get("graph_pagerank").build(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_corpus_mixture_weights_rebalance(spark, sf_dir):
    rows = get("corpus_mixture").build(spark, sf_dir).collect()
    shares = sum(r["share_bp"] for r in rows)
    # floor division: shares sum to ≤ 10000, within |sources| ulps
    assert 10000 - len(rows) <= shares <= 10000, shares
    for r in rows:
        # weight moves share toward uniform: share × weight ≈ 10000/n
        scaled = r["share_bp"] * r["weight_bp"] / 10000
        target = 10000 / len(rows)
        assert abs(scaled - target) <= 0.05 * target + 2, (r, scaled, target)


def test_sketch_bounds_hold(spark, sf_dir):
    theta = get("sketch_theta_setops").build(spark, sf_dir).collect()[0]
    assert all(theta[c] for c in ("r_ok", "a_ok", "union_ok", "intersect_ok", "diff_ok"))
    for r in get("sketch_kll_quantiles").build(spark, sf_dir).collect():
        assert r["r50_ok"] and r["r90_ok"], r


def test_pagerank_deep_iteration_checkpoints(spark, sf_dir):
    # VERDICT r02 item 4: n_rounds is a parameter; past checkpoint_every
    # the rank lineage is cut (localCheckpoint) so deep runs stay
    # plannable. 7 rounds with cuts must still conserve mass and agree
    # with the same depth computed without cuts.
    deep = get("graph_pagerank").build(spark, sf_dir, n_rounds=7, checkpoint_every=3).collect()
    nocut = get("graph_pagerank").build(spark, sf_dir, n_rounds=7, checkpoint_every=99).collect()
    assert sorted(map(tuple, deep)) == sorted(map(tuple, nocut))
    total = sum(r["rank_micro"] for r in deep)
    assert 0.90 * 1_000_000_000_000 <= total <= 1_000_000_000_000


def test_pq_rerank_recall_vs_exact(spark, sf_dir):
    """PQ-ADC shortlist + exact rerank must recover most of the true
    top-5: the fixture embeddings are near-uniform random (worst case
    for a 16-code codebook), so per-query recall varies, but the
    shortlist-100 rerank keeps mean recall high. PQ ranks by L2 (not
    cosine), so the exact reference ranking is recomputed here from
    the raw vectors rather than taken from knn_brute."""
    import numpy as np

    from datapipeline_scripts_spark.catalog import load_table

    rows = get("knn_pq").build(spark, sf_dir).collect()
    ptop: dict[int, set[int]] = {}
    for r in rows:
        ptop.setdefault(r["qid"], set()).add(r["cid"])
    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    ids = sorted(emb)
    V = np.stack([emb[i] for i in ids])
    recalls = []
    for qid, approx in ptop.items():
        q = emb[qid]
        d = ((V - q) ** 2).sum(1)
        d[ids.index(qid)] = np.inf
        exact = {ids[i] for i in np.argsort(d)[:5]}
        recalls.append(len(exact & approx) / 5)
    assert len(ptop) == 30
    assert all(len(v) == 5 for v in ptop.values())
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.7, f"mean recall {mean_recall:.2f}"


def test_pq_codebook_gapped_and_duplicate_ids():
    """Degenerate codebook inputs (ADVICE r13 / optimization r14): a
    vec_id GAP in [0, K) must degrade gracefully — the encode argmin
    never emits a missing code id (old join semantics: rank over the
    codebook rows that exist) — and a DUPLICATE vec_id must fail
    loudly instead of silently last-write-winning."""
    import numpy as np
    import pyarrow as pa
    import pytest as _pytest

    from datapipeline_scripts_spark.extensions.similarity import (
        _PQ_K,
        _PQ_M,
        _PQ_SUB,
        _pq_codebook,
        _pq_encode_worker,
    )

    dim = _PQ_M * _PQ_SUB
    rng = np.random.default_rng(7)
    # codebook rows for every id EXCEPT 3 and 11
    present = [j for j in range(_PQ_K) if j not in (3, 11)]
    pairs = [(j, rng.normal(size=dim).astype(np.float32).tolist()) for j in present]
    cb_flat, missing = _pq_codebook(pairs)
    assert missing == (3, 11)
    assert len(cb_flat) == _PQ_M * _PQ_K * _PQ_SUB

    vecs = rng.normal(size=(50, dim)).astype(np.float32)
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(list(range(50)), type=pa.int64()),
            pa.array(vecs.tolist(), type=pa.list_(pa.float32())),
        ],
        names=["vec_id", "embedding"],
    )
    (enc,) = list(_pq_encode_worker(cb_flat, codes_only=True, missing_js=missing)([batch]))
    codes = enc.column(1).to_pylist()
    assert all(c not in (3, 11) for row in codes for c in row)
    # the LUT pass pins missing slots to INT64 max (never selectable)
    (lut,) = list(_pq_encode_worker(cb_flat, codes_only=False, missing_js=missing)([batch]))
    imax = np.iinfo(np.int64).max
    for row in lut.column(1).to_pylist():
        for m in range(_PQ_M):
            assert row[m * _PQ_K + 3] == imax and row[m * _PQ_K + 11] == imax

    with _pytest.raises(ValueError, match="duplicate vec_id"):
        _pq_codebook(pairs + [pairs[0]])


def test_feature_hashing_preserves_token_mass(spark, sf_dir):
    """Sum of hashed-bucket tf over a doc == that doc's token count
    (hashing moves tokens between buckets, never loses them), and
    every bucket id is inside the fixed 1024-wide space."""
    from pyspark.sql import functions as F

    from datapipeline_scripts_spark.catalog import load_table
    from datapipeline_scripts_spark.registry import get

    fh = get("feature_hashing").build(spark, sf_dir)
    per_doc = fh.groupBy("doc_id").agg(F.sum("tf").alias("mass"))
    toks = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("n_tok"))
    )
    bad = per_doc.join(toks, "doc_id").filter(F.col("mass") != F.col("n_tok"))
    assert bad.count() == 0
    rng = fh.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi")).first()
    assert rng.lo >= 0 and rng.hi < 1024


def test_time_ohlc_bars_internal_consistency(spark, sf_dir):
    """high >= max(open, close), low <= min(open, close), and the
    min_by/max_by picks agree with an independent window-based
    first/last implementation on every bar."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datapipeline_scripts_spark.catalog import load_table
    from datapipeline_scripts_spark.registry import get

    bars = get("time_ohlc_bars").build(spark, sf_dir)
    bad = bars.filter(
        (F.col("high_cents") < F.greatest("open_cents", "close_cents"))
        | (F.col("low_cents") > F.least("open_cents", "close_cents"))
    )
    assert bad.count() == 0

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    alt = (
        e.withColumn("open_w", F.first("cents").over(wfull))
        .withColumn("close_w", F.last("cents").over(wfull))
        .select("event_type", "day", "open_w", "close_w")
        .dropDuplicates(["event_type", "day"])
    )
    joined = bars.join(alt, ["event_type", "day"])
    mism = joined.filter(
        (F.col("open_cents") != F.col("open_w")) | (F.col("close_cents") != F.col("close_w"))
    )
    assert mism.count() == 0
    assert joined.count() == bars.count()


def test_scd2_point_in_time_matches_interval_lookup(spark, sf_dir):
    """Every snapshot state must equal the state of the SCD2 interval
    that contains the snapshot instant (valid_from <= t < valid_to) —
    the union-spine trick reproduces the interval-join semantics."""
    from pyspark.sql import functions as F

    from datapipeline_scripts_spark.registry import get

    pit = get("scd2_point_in_time").build(spark, sf_dir)
    hist = get("scd2_history").build(spark, sf_dir)
    h = hist.select(
        "user_id",
        F.col("state").alias("h_state"),
        F.to_timestamp("valid_from").alias("vf"),
        F.coalesce(F.to_timestamp("valid_to"), F.lit("9999-01-01").cast("timestamp")).alias("vt"),
    )
    p = pit.filter(F.col("state_at").isNotNull()).select(
        "user_id", F.to_timestamp(F.col("snap_day")).alias("t"), "state_at"
    )
    j = p.join(h, ["user_id"]).filter((F.col("vf") <= F.col("t")) & (F.col("t") < F.col("vt")))
    assert j.count() == p.count()  # exactly one covering interval each
    assert j.filter(F.col("state_at") != F.col("h_state")).count() == 0


def test_events_rfm_segments_quintiles_balanced(spark, sf_dir):
    """Every score is in 1..5 and ntile buckets differ in size by at
    most one (the positional-quantile contract the oracle relies on)."""
    from pyspark.sql import functions as F

    from datapipeline_scripts_spark.registry import get

    rfm = get("events_rfm_segments").build(spark, sf_dir)
    for c in ("r_score", "f_score", "m_score"):
        sizes = [r.n for r in rfm.groupBy(c).agg(F.count("*").alias("n")).collect()]
        assert len(sizes) == 5
        assert max(sizes) - min(sizes) <= 1, (c, sizes)
    bad = rfm.filter(
        (F.col("r_score") < 1) | (F.col("r_score") > 5)
        | (F.length("segment") != 3)
    )
    assert bad.count() == 0


def test_orders_market_basket_support_bounds(spark, sf_dir):
    """Pair co-occurrence can never exceed either marginal, pairs are
    canonically oriented (brand_a < brand_b), and support/lift are
    non-negative."""
    from pyspark.sql import functions as F

    from datapipeline_scripts_spark.catalog import load_table
    from datapipeline_scripts_spark.registry import get

    mb = get("orders_market_basket").build(spark, sf_dir)
    rows = mb.collect()
    assert 0 < len(rows) <= 25
    assert all(r.brand_a < r.brand_b for r in rows)
    assert all(r.support_bp >= 0 and r.lift_bp >= 0 for r in rows)

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    bo = {
        r.b: r.n
        for r in li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
        .groupBy("b")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert all(r.n_ab <= min(bo[r.brand_a], bo[r.brand_b]) for r in rows)


def test_multimodal_phash_collides_on_similar_payloads(spark, sf_dir):
    """The gradient fingerprint is invariant to uniform brightness
    shifts (the property that makes dHash a NEAR-dup key, not an exact
    checksum): shifting every byte by a constant preserves every
    pairwise < comparison, so shifted payloads land in the same
    bucket. Verified through the actual worker function."""
    import pandas as pd

    from datapipeline_scripts_spark.extensions.multimodal import _phash_bytes

    base = bytes([10, 40, 20, 90, 55, 13, 80, 70, 66, 91, 12, 44, 37])
    shifted = bytes(b + 100 for b in base)
    assert _phash_bytes(base) == _phash_bytes(shifted)
    noisy = bytes([200] + list(base[1:]))  # break the first gradient
    assert _phash_bytes(base) != _phash_bytes(noisy)
    assert _phash_bytes(b"") == 0


def test_dedup_paragraphs_reconstruction(spark, sf_dir):
    """Total kept chunks equals corpus-wide distinct chunks (first-wins
    keeps exactly one copy of each), and a document that lost nothing
    reconstructs bit-exactly to its normalized text."""
    from pyspark.sql import functions as F

    from datapipeline_scripts_spark.catalog import load_table
    from datapipeline_scripts_spark.functions.text import normalize_text
    from datapipeline_scripts_spark.registry import get

    out = get("dedup_paragraphs").build(spark, sf_dir)
    assert out.filter(F.col("kept_chunks") > F.col("n_chunks")).count() == 0

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(normalize_text(F.col("text")), " ")
    n_chunks = F.ceil(F.size(toks) / 10).cast("long")
    chunks = d.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
                lambda i: F.array_join(F.slice(toks, (i * 10 + 1).cast("int"), 10), " "),
            )
        ).alias("chunk")
    )
    n_distinct = chunks.distinct().count()
    total_kept = out.agg(F.sum("kept_chunks")).first()[0]
    assert total_kept == n_distinct

    intact = out.filter(F.col("kept_chunks") == F.col("n_chunks"))
    norm_fp = d.select("doc_id", F.md5(normalize_text(F.col("text"))).alias("fp"))
    mism = intact.join(norm_fp, "doc_id").filter(F.col("recon_fp") != F.col("fp"))
    assert mism.count() == 0
    assert intact.count() > 0


def test_stats_cusum_drift_invariants(spark, sf_dir):
    """Both CUSUM branches are non-negative everywhere, and at least
    one of them is exactly zero on the first day (prefix equals its
    own running extreme)."""
    from pyspark.sql import functions as F

    from datapipeline_scripts_spark.registry import get

    out = get("stats_cusum_drift").build(spark, sf_dir)
    assert out.filter((F.col("cusum_pos") < 0) | (F.col("cusum_neg") < 0)).count() == 0
    first = out.orderBy("day").first()
    assert first.cusum_pos == 0 and first.cusum_neg == 0


def test_orders_ltv_cohorts_monotone_and_conserving(spark, sf_dir):
    """Cumulative LTV is non-decreasing in age within every cohort, and
    total revenue across all cells equals the orders table's total."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datapipeline_scripts_spark.catalog import load_table
    from datapipeline_scripts_spark.registry import get

    ltv = get("orders_ltv_cohorts").build(spark, sf_dir)
    w = Window.partitionBy("cohort_ym").orderBy("age_months")
    bad = ltv.withColumn("prev", F.lag("cum_cents").over(w)).filter(
        F.col("prev").isNotNull() & (F.col("cum_cents") < F.col("prev"))
    )
    assert bad.count() == 0
    total = ltv.agg(F.sum("rev_cents")).first()[0]
    expect = (
        load_table(spark, sf_dir, "orders")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")))
        .first()[0]
    )
    assert total == expect


def test_orders_duplicate_audit_finds_real_dups(spark, sf_dir):
    """Every reported (order, part) hit really has >1 lineitem rows,
    and the audit misses none (recount independently)."""
    from pyspark.sql import functions as F

    from datapipeline_scripts_spark.catalog import load_table
    from datapipeline_scripts_spark.registry import get

    audit = get("orders_duplicate_audit").build(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    recount = (
        li.groupBy(F.col("l_orderkey").alias("orderkey"), F.col("l_partkey").alias("partkey"))
        .agg(F.count("*").alias("n2"))
        .filter(F.col("n2") > 1)
    )
    j = audit.join(recount, ["orderkey", "partkey"], "full_outer")
    assert j.filter(F.col("n_lines").isNull() | F.col("n2").isNull()).count() == 0
    assert j.filter(F.col("n_lines") != F.col("n2")).count() == 0
    # the fixture contains both shapes: re-billed lines (distinct line
    # numbers) and fully identical duplicate rows (same line number) —
    # the audit must surface both, so only the ordering invariant holds
    assert audit.filter(F.col("first_line") > F.col("last_line")).count() == 0


def test_workers_route_mixed_payloads():
    """One pandas batch of every payload kind through the three
    registered workers: each image reports its true dims and pixel
    dHash, the MJPEG AVI its video dims, first-frame dHash and demuxed
    frames; junk bytes, b"" and None report the loud values and are cut
    into fixed-size chunks."""
    import pandas as pd

    from datapipeline_scripts_spark.extensions import (
        avi_stdlib,
        bmp_stdlib,
        gif_stdlib,
        jpeg_stdlib,
        multimodal as mm,
        png_stdlib,
        tiff_stdlib,
    )
    from datapipeline_scripts_spark.extensions.multimodal import _encode_png_gray

    def dhash(row):
        return sum(1 << i for i in range(mm._PHASH_BITS) if row[i] < row[i + 1])

    def jblk(dc):
        return [dc] + [0] * 63

    pal = bytes([9, 9, 9, 201, 202, 203])
    idx = (b"\x00" * 8 + b"\x01" * 8) * 4
    gray = bytes((x * 5 + y * 9) % 256 for y in range(4) for x in range(16))
    frames = [
        jpeg_stdlib.encode_gray_baseline(16, 8, [jblk(3 * f - 6), jblk(6 - 2 * f)])
        for f in range(5)
    ]
    junk = bytes(range(40, 240)) * 3  # 600 bytes: three chunks
    media = {
        1: (_encode_png_gray([(x * 19) % 256 for x in range(13)], 3), (13, 3), png_stdlib.png_gray_band_row),
        2: (jpeg_stdlib.encode_gray_baseline(16, 8, [jblk(6), jblk(-6)]), (16, 8), jpeg_stdlib.jpeg_gray_band_row),
        3: (gif_stdlib.encode_gif(16, 4, pal, idx), (16, 4), gif_stdlib.gif_gray_band_row),
        4: (tiff_stdlib.encode_tiff(16, 4, gray, compression=5), (16, 4), tiff_stdlib.tiff_gray_band_row),
        5: (bmp_stdlib.encode_bmp(16, 4, idx, palette=pal), (16, 4), bmp_stdlib.bmp_gray_band_row),
    }
    avi = avi_stdlib.encode_avi_mjpeg(16, 8, frames)
    rest = {7: junk, 8: b"", 9: None}
    payloads = {**{d: m[0] for d, m in media.items()}, 6: avi, **rest}
    batch = pd.DataFrame({"doc_id": list(payloads), "payload": list(payloads.values())})

    feats = pd.concat(list(mm._extract_features(iter([batch])))).set_index("doc_id")
    hashes = pd.concat(list(mm._phash_worker(iter([batch])))).set_index("doc_id")["phash"]
    fr = pd.concat(list(mm._sample_frames(iter([batch]))))

    for d, (p, dims, band_row) in media.items():
        assert (feats.at[d, "width"], feats.at[d, "height"]) == dims, d
        want = dhash(band_row(p, mm._PHASH_BITS + 1))
        assert hashes[d] == want and want != mm._phash_bytes(p), d
    assert (feats.at[6, "width"], feats.at[6, "height"]) == (16, 8)
    assert hashes[6] == dhash(jpeg_stdlib.jpeg_gray_band_row(frames[0], mm._PHASH_BITS + 1))

    v = fr[fr["doc_id"] == 6]
    spans = avi_stdlib.avi_frame_spans(avi)
    assert list(v["frame_idx"]) == [0, 2, 4]
    assert list(v["byte_offset"]) == [spans[i][0] for i in (0, 2, 4)]
    assert [avi[o : o + n] for o, n in zip(v["byte_offset"], v["frame_bytes"])] == [
        frames[i] for i in (0, 2, 4)
    ]
    assert list(v["frame_checksum"]) == [
        dhash(jpeg_stdlib.jpeg_gray_band_row(frames[i], mm._PHASH_BITS + 1)) for i in (0, 2, 4)
    ]

    assert (feats.at[7, "width"], feats.at[7, "height"]) == (-1, -1)
    assert hashes[7] == mm._phash_bytes(junk)
    for d in (8, 9):
        assert (feats.at[d, "width"], feats.at[d, "height"], hashes[d]) == (0, 0, 0)
        assert feats.at[d, "n_bytes"] == 0 and feats.at[d, "first_byte"] == -1
    # every payload that is not a video is chunked: 256-byte frames,
    # every other one kept, checksum = sum of its first 16 bytes
    for d, p in {**{d: m[0] for d, m in media.items()}, 7: junk, 8: b"", 9: b""}.items():
        rows = fr[fr["doc_id"] == d]
        n = max(1, -(-len(p) // 256))
        assert list(rows["frame_idx"]) == list(range(0, n, 2)), d
        assert list(rows["byte_offset"]) == [256 * i for i in range(0, n, 2)], d
        assert list(rows["frame_bytes"]) == [len(p[256 * i : 256 * i + 256]) for i in range(0, n, 2)], d
        assert list(rows["frame_checksum"]) == [sum(p[256 * i : 256 * i + 16]) for i in range(0, n, 2)], d
    assert list(fr[fr["doc_id"] == 7]["frame_bytes"]) == [256, 88]


def _imageio_png(spark, w, h, rgb_fn):
    """Canonical PNG bytes from the JVM's headless ImageIO encoder —
    the reference implementation the stdlib decoder is proven against
    (same strategy as the Avro/protobuf canonical-encoder tests)."""
    jvm = spark._jvm
    img = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    for y in range(h):
        for x in range(w):
            r, g, b = rgb_fn(x, y)
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
    baos = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(img, "png", baos)
    return bytes(baos.toByteArray())


def test_png_stdlib_decodes_imageio_canonical(spark):
    """Stdlib PNG decoder vs the JVM ImageIO encoder: exact IHDR size,
    exact per-pixel BT.601 luma, and real-decode dHash semantics on
    monotone gradients."""
    from datapipeline_scripts_spark.extensions import multimodal as mm
    from datapipeline_scripts_spark.extensions import png_stdlib

    w, h = 26, 4
    rgb = lambda x, y: (10 * x, 5 * x + y, 255 - 9 * x)  # noqa: E731
    payload = _imageio_png(spark, w, h, rgb)
    assert png_stdlib.is_png(payload)
    assert png_stdlib.png_size(payload) == (w, h)
    got_w, got_h, gray = png_stdlib.png_decode_gray(payload)
    assert (got_w, got_h) == (w, h)
    for y in range(h):
        for x in range(w):
            r, g, b = rgb(x, y)
            want = (299 * r + 587 * g + 114 * b) // 1000
            assert gray[y * w + x] == want, (x, y)

    # dHash: left→right brightening gradient sets every bit, reversed none
    bright = _imageio_png(spark, w, h, lambda x, y: (10 * x,) * 3)
    dark = _imageio_png(spark, w, h, lambda x, y: (250 - 10 * x,) * 3)
    assert mm.phash(bright) == (1 << mm._PHASH_BITS) - 1
    assert mm.phash(dark) == 0
    # and the feature path reports the true dimensions
    assert mm.decode_dims(payload) == (w, h)
    assert mm.decode_dims(b"") == (0, 0)
    assert mm.decode_dims(b"JUNKJUNKJUNK") == (-1, -1)


def test_png_stdlib_all_filter_types_golden():
    """Every PNG filter branch (None/Sub/Up/Average/Paeth) pinned by a
    hand-framed file: rows are FORWARD-filtered per spec from known
    pixels, so decode must invert each filter exactly; CRC and
    dimension mismatches raise loudly."""
    import struct
    import zlib

    from datapipeline_scripts_spark.extensions import png_stdlib

    w, h = 6, 5
    rows = [
        [10, 20, 30, 40, 50, 60],
        [15, 25, 35, 45, 55, 65],
        [200, 150, 100, 80, 60, 40],
        [7, 14, 21, 28, 35, 42],
        [255, 0, 128, 64, 192, 32],
    ]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    raw = bytearray()
    for y, ft in enumerate([0, 1, 2, 3, 4]):
        raw.append(ft)
        prev = rows[y - 1] if y else [0] * w
        for x in range(w):
            cur = rows[y][x]
            left = rows[y][x - 1] if x else 0
            up_left = prev[x - 1] if x else 0
            pred = [0, left, prev[x], (left + prev[x]) >> 1,
                    paeth(left, prev[x], up_left)][ft]
            raw.append((cur - pred) & 0xFF)

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit gray
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b""))
    got_w, got_h, gray = png_stdlib.png_decode_gray(png)
    assert (got_w, got_h) == (w, h)
    assert [list(gray[y * w:(y + 1) * w]) for y in range(h)] == rows

    # loud failure modes: corrupt CRC, interlace, 16-bit depth
    bad = bytearray(png)
    bad[20] ^= 0xFF  # inside IHDR data → CRC mismatch
    with pytest.raises(ValueError, match="CRC"):
        png_stdlib.png_decode_gray(bytes(bad))
    ihdr_i = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 1)
    png_i = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr_i)
             + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b""))
    with pytest.raises(NotImplementedError, match="interlace"):
        png_stdlib.png_decode_gray(png_i)
    ihdr_16 = struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0)
    png_16 = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr_16)
              + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b""))
    with pytest.raises(NotImplementedError, match="depth"):
        png_stdlib.png_decode_gray(png_16)


def test_real_decode_routes_png_through_stdlib(spark):
    """PNG payloads route through the stdlib decoder: true dims and the
    pixel dHash; a non-PNG payload no codec accepts gets the byte-hash
    fallback and loud dims."""
    from datapipeline_scripts_spark.extensions import multimodal as mm
    from datapipeline_scripts_spark.extensions import png_stdlib

    png = _imageio_png(spark, 15, 3, lambda x, y: (17 * x, 17 * x, 17 * x))
    assert png_stdlib.is_png(png)
    assert mm.phash(png) == (1 << mm._PHASH_BITS) - 1  # brightening left→right
    assert mm.decode_dims(png) == (15, 3)
    junk = b"GIF89a-not-a-png"
    assert mm.phash(junk) == mm._phash_bytes(junk)
    assert mm.decode_dims(junk) == (-1, -1)
    assert mm.phash(b"") == 0


def test_real_decode_routes_jpeg_through_stdlib(spark):
    """Round 8: baseline JPEGs get REAL dims + dHash on every worker
    via jpeg_stdlib (integer IDCT → fleet-identical), no codec library needed;
    progressive files still report true dims (SOF header) with the
    byte-hash fallback for the phash; junk stays loud."""
    from datapipeline_scripts_spark.extensions import jpeg_stdlib as js
    from datapipeline_scripts_spark.extensions import multimodal as mm

    def blk(dc):
        b = [0] * 64
        b[0] = dc
        return b

    # 16x8: left block bright, right block dark → known band row
    p = js.encode_gray_baseline(16, 8, [blk(10), blk(-10)])
    assert mm.decode_dims(p) == (16, 8)
    want_bands = js.jpeg_gray_band_row(p, mm._PHASH_BITS + 1)
    want = 0
    for i in range(mm._PHASH_BITS):
        if want_bands[i] < want_bands[i + 1]:
            want |= 1 << i
    assert mm.phash(p) == want
    assert want != mm._phash_bytes(p)  # it's a pixel hash, not the fallback
    # progressive: dims from SOF, phash falls back to byte-hash
    jvm = spark._jvm
    BI = jvm.java.awt.image.BufferedImage
    img = BI(20, 10, BI.TYPE_INT_RGB)
    for y in range(10):
        for x in range(20):
            img.setRGB(x, y, (x * 12 % 256) << 16 | (y * 20 % 256) << 8 | 99)
    baos = jvm.java.io.ByteArrayOutputStream()
    it = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("jpg")
    wr = it.next()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
    wr.setOutput(ios)
    prm = wr.getDefaultWriteParam()
    prm.setProgressiveMode(1)
    wr.write(None, jvm.javax.imageio.IIOImage(img, None, None), prm)
    wr.dispose()
    ios.close()
    prog = bytes(baos.toByteArray())
    assert mm.decode_dims(prog) == (20, 10)
    assert mm.phash(prog) == mm._phash_bytes(prog)


def test_real_decode_routes_gif_through_stdlib():
    """Round 8: GIFs get REAL dims + dHash on every worker via
    gif_stdlib (lossless LZW decode → fleet-identical by
    construction), no codec library needed; junk with a GIF signature stays
    loud via the (-1,-1) / byte-hash fallbacks."""
    from datapipeline_scripts_spark.extensions import gif_stdlib as gs
    from datapipeline_scripts_spark.extensions import multimodal as mm

    pal = bytes([10, 10, 10, 200, 200, 200])
    idx = (b"\x00" * 8 + b"\x01" * 8) * 4
    p = gs.encode_gif(16, 4, pal, idx)
    assert mm.decode_dims(p) == (16, 4)
    want_bands = gs.gif_gray_band_row(p, mm._PHASH_BITS + 1)
    want = 0
    for i in range(mm._PHASH_BITS):
        if want_bands[i] < want_bands[i + 1]:
            want |= 1 << i
    assert mm.phash(p) == want
    assert want != mm._phash_bytes(p)  # it's a pixel hash, not the fallback
    # corrupt LZW inside intact framing: dims still real (LSD + block
    # walk), phash falls back loud
    sep = p.index(0x2C, 13)
    dstart, dlen = sep + 12, p[sep + 11]  # sep+10 is the LZW mcs
    bad = p[:dstart] + b"\xff" * dlen + p[dstart + dlen :]
    assert mm.decode_dims(bad) == (16, 4)
    assert mm.phash(bad) == mm._phash_bytes(bad)
    # truncated framing: both loud
    cut = p[: len(p) - 6]
    assert mm.decode_dims(cut) == (-1, -1)
    assert mm.phash(cut) == mm._phash_bytes(cut)


def test_real_decode_routes_tiff_through_stdlib(spark):
    """Round 8: TIFFs get REAL dims + dHash on every worker via
    tiff_stdlib; profiles the pixel decoder refuses (16-bit) still
    report true dims from the IFD with the byte-hash phash fallback."""
    from datapipeline_scripts_spark.extensions import multimodal as mm
    from datapipeline_scripts_spark.extensions import tiff_stdlib as ts

    data = (b"\x0a" * 8 + b"\xc8" * 8) * 4
    p = ts.encode_tiff(16, 4, data, compression=5)
    assert mm.decode_dims(p) == (16, 4)
    want_bands = ts.tiff_gray_band_row(p, mm._PHASH_BITS + 1)
    want = 0
    for i in range(mm._PHASH_BITS):
        if want_bands[i] < want_bands[i + 1]:
            want |= 1 << i
    assert mm.phash(p) == want
    assert want != mm._phash_bytes(p)  # it's a pixel hash, not the fallback
    # 16-bit canonical file: dims real (IFD), phash falls back loud
    jvm = spark._jvm
    BI = jvm.java.awt.image.BufferedImage
    img = BI(6, 5, BI.TYPE_USHORT_GRAY)
    r = img.getRaster()
    for y in range(5):
        for x in range(6):
            r.setSample(x, y, 0, (x * y * 999) % 65536)
    it = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("tiff")
    wr = it.next()
    baos = jvm.java.io.ByteArrayOutputStream()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
    wr.setOutput(ios)
    wr.write(None, jvm.javax.imageio.IIOImage(img, None, None), None)
    wr.dispose()
    ios.close()
    deep = bytes(baos.toByteArray())
    assert mm.decode_dims(deep) == (6, 5)
    assert mm.phash(deep) == mm._phash_bytes(deep)


def test_real_decode_routes_bmp_through_stdlib():
    """Round 8: BMPs get REAL dims + dHash on every worker via
    bmp_stdlib; junk behind the two-byte signature stays loud."""
    from datapipeline_scripts_spark.extensions import bmp_stdlib as bs
    from datapipeline_scripts_spark.extensions import multimodal as mm

    pal = bytes([10, 10, 10, 200, 200, 200])
    idx = (b"\x00" * 8 + b"\x01" * 8) * 4
    p = bs.encode_bmp(16, 4, idx, palette=pal, rle=True)
    assert mm.decode_dims(p) == (16, 4)
    want_bands = bs.bmp_gray_band_row(p, mm._PHASH_BITS + 1)
    want = 0
    for i in range(mm._PHASH_BITS):
        if want_bands[i] < want_bands[i + 1]:
            want |= 1 << i
    assert mm.phash(p) == want
    assert want != mm._phash_bytes(p)
    junk = b"BM" + b"\x07" * 60
    assert mm.decode_dims(junk) == (-1, -1)
    assert mm.phash(junk) == mm._phash_bytes(junk)
