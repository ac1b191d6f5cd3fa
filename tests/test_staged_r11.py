"""Oracle proofs for the 24 keys registered in round 11.

Each key lives and registers in its domain module; this file runs every
builder against its DuckDB oracle at both fixture SFs (the
`oracle.compare` hash gate) and pins where each builder is defined."""

from __future__ import annotations

import pytest

from datapipeline_scripts_spark.oracle import compare, duck_connection
from datapipeline_scripts_spark.registry import all_queries, get

# key -> the package module that defines and registers its builder
KEYS = {
    "arrow_ipc_roundtrip": "sources.format_queries",
    "corpus_curriculum_order": "extensions.mixture",
    "corpus_pack_offsets": "extensions.mixture",
    "corpus_token_budget_mixture": "extensions.mixture",
    "crawl_frontier_schedule": "extensions.crawl",
    "crawl_pipeline": "extensions.crawl",
    "dedup_bloom_incremental": "extensions.dedup",
    "dedup_survivorship": "extensions.dedup",
    "embedding_pca_power": "extensions.similarity",
    "embedding_pca_project": "extensions.similarity",
    "federated_ingest_union": "sources.format_queries",
    "knn_recall_report": "extensions.similarity",
    "multimodal_audio_frames": "extensions.multimodal",
    "multimodal_real_tiff16": "extensions.multimodal",
    "multimodal_scene_cuts": "extensions.multimodal",
    "quality_eval_perceptron": "extensions.quality_model",
    "quality_train_perceptron": "extensions.quality_model",
    "text_bigram_heldout": "extensions.textstats",
    "text_bpe_compression": "extensions.textstats",
    "text_bpe_train": "extensions.textstats",
    "text_char_entropy": "extensions.textstats",
    "text_html_extract": "extensions.textstats",
    "web_robots_filter": "extensions.crawl",
    "web_url_canonical_dedup": "extensions.crawl",
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


def test_r11_keys_registered_with_correct_builders():
    """Every key here is registered with the builder of the same name
    that its domain module defines (the decorating-the-wrong-function
    failure mode breaks `__spark_entry__.queries()` silently), and the catalog
    is 379."""
    specs = all_queries()
    assert len(specs) == 379
    for key, module in KEYS.items():
        assert specs[key].build.__name__ == key, key
        assert specs[key].build.__module__ == f"datapipeline_scripts_spark.{module}", key


def test_canonical_url_edge_cases(spark):
    """Edges beyond the fixture's variants: utm-only query collapses
    to no '?', bare path keeps the root, repeated trailing slashes
    all strip, mixed-case scheme+host fold, :443 strips only as a
    port suffix."""
    from pyspark.sql import types as T

    from datapipeline_scripts_spark.extensions.crawl import canonical_url

    cases = [
        ("HTTPS://Host.COM:443/a/b///?utm_source=x", "https://host.com/a/b"),
        ("https://host.com/a?utm_a=1&utm_b=2", "https://host.com/a"),
        ("https://host.com/?z=2&a=1", "https://host.com?a=1&z=2"),
        ("http://x443.example/p443/q?id=443", "http://x443.example/p443/q?id=443"),
        ("https://host.com/a/", "https://host.com/a"),
    ]
    df = spark.createDataFrame(
        [(u,) for u, _ in cases],
        schema=T.StructType([T.StructField("url", T.StringType())]),
    )
    from pyspark.sql import functions as F

    got = [r["c"] for r in df.select(canonical_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in cases], got


def _py_greedy_merge(syms: list[str], left: str, right: str) -> list[str]:
    """Reference greedy leftmost BPE merge application (the standard
    sequential fold) — the positional engine form must equal it
    whenever left != right."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def test_bpe_positional_merge_equals_sequential_greedy():
    """Property pin for the shared merge-application lambda (identical
    text in the Spark builder and the DuckDB oracle): for left !=
    right the positional form — drop position i if (i-1, i) matches,
    emit merged if (i, i+1) matches — equals the sequential greedy
    fold. Exercised via DuckDB (cheap, no Spark session) over an
    exhaustive small-alphabet sweep that includes adjacent and
    repeated occurrences ('abab', 'aabba', ...)."""
    import itertools

    import duckdb

    con = duckdb.connect()
    words = [
        "".join(t)
        for n in (1, 2, 3, 4, 5)
        for t in itertools.product("ab", repeat=n)
    ] + ["abcabc", "bcbcbc", "cabcab"]
    for left, right in [("a", "b"), ("b", "a"), ("b", "c"), ("ab", "a")]:
        got = con.execute(
            """
            SELECT w, list_transform(
                     list_filter(generate_series(1, len(syms)),
                       i -> NOT (i > 1 AND syms[i - 1] = $l AND syms[i] = $r)),
                     i -> CASE WHEN syms[i] = $l AND coalesce(syms[i + 1] = $r, FALSE)
                               THEN $l || $r ELSE syms[i] END) AS merged
            FROM (
              SELECT w, list_transform(generate_series(1, length(w)), i -> w[i]) AS syms
              FROM (SELECT unnest($words) AS w)
            )
            ORDER BY w
            """,
            {"l": left, "r": right, "words": words},
        ).fetchall()
        for w, merged in got:
            assert merged == _py_greedy_merge(list(w), left, right), (
                w, left, right, merged,
            )


def test_bloom_has_no_false_negatives_and_pca_rescale_invariant():
    """Two DuckDB-side semantic invariants on the staged oracles:
    (1) Bloom's defining guarantee — every exact duplicate is a bloom
    hit (no false negatives) and the 'duplicate' refetch class is
    non-empty; (2) the PCA iterate is rescaled to max-abs EXACTLY
    _PCA_VSCALE after every iteration (the invariant that keeps the
    integer arithmetic in BIGINT range)."""
    from datapipeline_scripts_spark.extensions.dedup import DEDUP_BLOOM_INCREMENTAL_ORACLE
    from datapipeline_scripts_spark.extensions.similarity import (
        _PCA_VSCALE,
        EMBEDDING_PCA_POWER_ORACLE,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        with duck_connection(sf_dir) as con:
            b = con.execute(DEDUP_BLOOM_INCREMENTAL_ORACLE).fetch_df()
            assert ((b.exact_dup == 1) <= (b.bloom_hit == 1)).all()
            assert (b.verdict == "duplicate").sum() > 0
            p = con.execute(EMBEDDING_PCA_POWER_ORACLE).fetch_df()
            for c in ("v1", "v2", "v3"):
                assert p[c].abs().max() == _PCA_VSCALE, (sf_dir, c)


def test_crawl_pipeline_stage_fire_checks():
    """Tamper drill for the crawl flagship (the pretraining
    flagship's pattern): mutate ONE stage of the oracle at a time and
    assert the per-host funnel CHANGES — i.e. every stage is
    load-bearing in the hash gate, none is dead weight the compare
    would miss. DuckDB-only (cheap): the Spark side is already
    hash-locked to the unmutated oracle by the staged proofs."""
    from datapipeline_scripts_spark.extensions.crawl import CRAWL_PIPELINE_ORACLE

    mutations = {
        "canonical: keep utm params": (
            "p NOT LIKE 'utm\\_%' ESCAPE '\\'",
            "true",
        ),
        "robots: default deny": (
            "LIMIT 1), true) AS allowed",
            "LIMIT 1), false) AS allowed",
        ),
        "gate: word floor lowered": (
            f"n_words >= {30}",
            "n_words >= 10",
        ),
        "extract: entity decode disabled": (
            "'&lt;', '<')",
            "'&lt;', '&lt;')",
        ),
        "schedule: politeness delay flattened": (
            "% 3 AS delay",
            "% 3 * 0 AS delay",
        ),
    }
    with duck_connection("/root/testdata/sf0.01") as con:
        base = con.execute(CRAWL_PIPELINE_ORACLE).fetch_df()
        for label, (old, new) in mutations.items():
            assert old in CRAWL_PIPELINE_ORACLE, (label, "anchor drifted")
            mutated = CRAWL_PIPELINE_ORACLE.replace(old, new)
            got = con.execute(mutated).fetch_df()
            assert not got.equals(base), (label, "mutation did not fire")


def test_bloom_sizing_tracks_data_and_false_positive_band():
    """VERDICT r10 order 2: the round-10 1000x sweep showed a FIXED
    4096-bit sketch saturating at 2.5M probes (every key a hit, the
    bloom leg pure overhead), so M is now derived from the historical
    distinct-fingerprint count at ~10 bits/key. Pin (a) that the
    sizing actually engages above the floor at sf0.01, (b) the
    false-positive band at fixture scale (theory: (1-e^{-K/10})^K
    ~= 1.2% at 10 bits/key), and (c) that the bloom leg actually
    FILTERS — a majority of incoming docs are clean misses, which is
    exactly what the saturated sketch could not deliver."""
    from datapipeline_scripts_spark.extensions.dedup import (
        _BLOOM_BITS_PER_KEY,
        _BLOOM_M_FLOOR,
        _NORM_SAFE_SQL,
        DEDUP_BLOOM_INCREMENTAL_ORACLE,
    )

    for sf_dir, expect_above_floor in (
        ("/root/testdata/sf0.001", False),
        ("/root/testdata/sf0.01", False),
        # both fixture SFs hold 500 docs (250 hist keys -> the 4096
        # floor); the bench SF's 5000 docs push M past the floor, which
        # is the sizing actually engaging. DuckDB-only, so cheap.
        ("/root/testdata/sf0.1", True),
    ):
        with duck_connection(sf_dir) as con:
            n = con.execute(
                f"SELECT count(DISTINCT md5({_NORM_SAFE_SQL})) FROM documents "
                "WHERE doc_id % 2 = 0"
            ).fetchone()[0]
            b = con.execute(DEDUP_BLOOM_INCREMENTAL_ORACLE).fetch_df()
        m = max(_BLOOM_M_FLOOR, _BLOOM_BITS_PER_KEY * n)
        assert (m > _BLOOM_M_FLOOR) == expect_above_floor, (sf_dir, n, m)
        fp_rate = ((b.bloom_hit == 1) & (b.exact_dup == 0)).mean()
        assert fp_rate <= 0.05, (sf_dir, fp_rate)
        assert (b.verdict == "new").mean() > 0.5, (sf_dir, "bloom leg not filtering")


def test_bloom_null_text_classifies_identically_cross_engine(spark, tmp_path):
    """ADVICE r10 (medium): the fixtures contain no NULL text, so the
    staged hash gate could never catch a NULL-semantics fork. Build an
    augmented documents table with NULL-text rows on BOTH legs: an
    incoming NULL-text doc must classify as a DUPLICATE of the
    historical empty-string doc (both engines hash coalesce(text,'')),
    not vanish from the Spark side (explode of a null bit array) or
    diverge into 'new'."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from datapipeline_scripts_spark.catalog import TABLES

    src = "/root/testdata/sf0.001"
    d = tmp_path / "sf_null"
    d.mkdir()
    for name in TABLES:
        if name != "documents":
            os.symlink(f"{src}/{name}.parquet", d / f"{name}.parquet")
    t = pq.read_table(f"{src}/documents.parquet")
    schema = pa.schema(
        [(f.name, f.type) for f in t.schema]
    )  # drop pandas metadata so concat schemas align
    extra = pa.table(
        {
            # 600: historical, text NULL; 604: historical, text '';
            # 601: incoming refetch (%10==1) of 600's NULL text;
            # 603: incoming NULL text probing its own fp.
            "doc_id": [600, 601, 603, 604],
            "text": [None, "refetch body ignored", None, ""],
            "lang": ["en"] * 4,
            "source": ["null-drill"] * 4,
            "n_chars": [0, 0, 0, 0],
        },
        schema=schema,
    )
    pq.write_table(
        pa.concat_tables([t.cast(schema), extra]), d / "documents.parquet"
    )

    spec = get("dedup_bloom_incremental")
    sdf = spec.build(spark, str(d))
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
    )
    opdf = con.execute(spec.oracle).fetch_df()
    con.close()
    report = compare("dedup_bloom_incremental", sdf, opdf)
    assert report.ok, str(report)
    got = {int(r["doc_id"]): r["verdict"] for r in sdf.collect() if r["doc_id"] >= 600}
    # 603's NULL text == 604's '' and 600's NULL under coalesce -> true dup;
    # 601 refetches 600's fp -> true dup. Neither row may be missing.
    assert got[603] == "duplicate", got
    assert got[601] == "duplicate", got
