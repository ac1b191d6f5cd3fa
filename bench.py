"""Benchmark harness — times the headline queries at the bench scale
factor and prints ONE JSON line (driver contract).

Each timed run builds a key's DataFrame and writes it to the noop sink,
which computes every output column (a `count()` would let Catalyst
prune the columns it does not need). `queries` holds each key's best of
_RUNS timed runs, after _WARMUPS untimed ones.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datapipeline_scripts_spark.registry import all_queries
from datapipeline_scripts_spark.session import get_spark

# Headline set: the heavy/representative operators (joins, aggs, windows,
# dedup, similarity, text, events). Cheap scans are included for scan
# throughput; pair-explosive dedup variants are bench'd at their declared
# keys too — they are part of the product.
BENCH_KEYS = (
    "agg_group",
    "agg_rollup",
    "join_star",
    "join_range",
    "join_outer",
    "window_rank",
    "window_running",
    "topk",
    "json_extract",
    "dedup_exact_norm",
    "dedup_minhash",
    "knn_brute",
    "text_tokens",
    "text_term_freq",
    "events_tumbling",
    "events_session",
    "asof_join",
    "udf_vectorized",
    "tpch_q3_shape",
    "curation_pipeline",
    # round-2 widening (VERDICT r01 item 5): heavy composites whose
    # round-over-round regressions must stay visible
    "tpch_q5_shape",
    "tpch_q10_shape",
    "tpch_q18_shape",
    "merge_upsert",
    "text_bm25",
    "embedding_pipeline",
    "events_retention",
    # round-2 additions: table maintenance + streaming CDC
    "compaction_roundtrip",
    "clustered_write_roundtrip",
    "cdc_stream_merge",
    # round-2 continuation: iterative graph, sketches, quality audit
    "graph_pagerank",
    "sketch_theta_setops",
    "quality_audit",
    "text_repetition",
    "zorder_write_roundtrip",
    "events_stream_session",
    # round-3 widening: new flagship shapes (scan-heavy q1, hardest-shape
    # q21, arrow escape hatch, bitmap exact-distinct, incremental dedup,
    # partitioned packing, one-pass correlation matrix)
    "tpch_q1_shape",
    "tpch_q21_shape",
    "udf_arrow",
    "bitmap_distinct",
    "dedup_incremental",
    "corpus_pack_partitioned",
    "stats_corr_matrix",
    # round-3 continuation: end-to-end corpus build + PQ-ANN retrieval
    "corpus_build_pipeline",
    "knn_pq",
    # round-3 late batch: sub-doc dedup, hybrid retrieval, hashed
    # features, point-in-time lookup, streaming OHLC state
    "dedup_paragraphs",
    "hybrid_rrf_search",
    "feature_hashing",
    "scd2_point_in_time",
    "events_stream_ohlc",
    # round-3 advanced statistics batch: distributed prefix sum,
    # replicate-weight bootstrap (×64 map-side expansion), exact
    # rolling distinct (×7 coverage explosion)
    "orders_abc_pareto",
    "stats_bootstrap_ci",
    "events_rolling_active_users",
    # round-3 closing batch: keyed snapshot diff + per-user sequence
    # regex (the two heaviest closers: a fact-fact full-outer join and
    # a corpus-wide ordered string build)
    "table_diff",
    "events_pattern_regex",
    # round-8 registrations: the codec/JDBC roundtrips (pure-Python Avro
    # incl. logical types, protobuf wire, stdlib PNG decode, Derby
    # parallel extract). avro_roundtrip's first run pays ~11 s of
    # python-worker spin-up at sf0.1; the untimed warmups below absorb
    # it (warm ~1.6 s), so the timed best is the plan's real cost.
    "avro_roundtrip",
    "avro_logical_roundtrip",
    "protobuf_roundtrip",
    "multimodal_real_png",
    "jdbc_roundtrip",
    # round-9 registrations: real JPEG/GIF/TIFF/WAV/MJPEG-video decode
    # + the WARC/WebDataset/jsonl.zst ingest roundtrips. All ≤~0.9 s
    # warm at sf0.1 (probed before inclusion, VERDICT r8 item 3); the
    # untimed warmups absorb their python-worker spin-up.
    "multimodal_real_jpeg",
    "multimodal_real_gif",
    "multimodal_real_tiff",
    "multimodal_real_wav",
    "multimodal_real_video",
    "warc_roundtrip",
    "webdataset_roundtrip",
    "jsonl_zst_roundtrip",
    # round-10 registrations: TFRecord ingest/export roundtrips, the
    # winnowing passage dedup, the jsonl.zst/WebDataset export sinks,
    # exact integer resize — all probed warm at sf0.1 before inclusion
    # (0.5-1.9 s; VERDICT r8 item 3 discipline) — plus the end-to-end
    # pretraining flagship (~9.4 s warm: the full WARC→gate→dedup×2→
    # mixture→pack→TFRecord-export→CRC-read-back chain over the whole
    # documents table; by far the heaviest key and deliberately so —
    # it IS the product's headline composite).
    "tfrecord_roundtrip",
    "tfexample_dataset_roundtrip",
    "dedup_passage_winnow",
    "jsonl_export_roundtrip",
    "webdataset_export_roundtrip",
    "multimodal_resize",
    "pretraining_pipeline",
    # round-11 registrations (VERDICT r10 order 1): the four heavy new
    # keys so the driver's per-round bench covers the new surface —
    # the crawl-side flagship composite, in-engine BPE merge-table
    # training, integer power-iteration PCA, and the data-sized bloom
    # membership gate. Probed warm at sf0.1 before inclusion (the
    # VERDICT r8 item 3 discipline; numbers in docs/BENCH_NOTES.md
    # round-11).
    "crawl_pipeline",
    "text_bpe_train",
    "embedding_pca_power",
    "dedup_bloom_incremental",
    # round-12 registrations (VERDICT r11 order 2): the four heavy/
    # representative new shapes — broadcast-model quality inference,
    # the incremental MinHash signature-store probe, the streaming
    # quality gate (micro-batch replay startup dominates, the
    # events_stream_session precedent), and host-graph PageRank.
    # Probed warm at sf0.1 before inclusion (docs/BENCH_NOTES.md
    # "Round-12 prospective": 2.12 / 1.43 / 4.94 / 0.97 s).
    "quality_score_inference",
    "dedup_minhash_store_incremental",
    "docs_stream_quality_gate",
    "web_host_pagerank",
    # round-13 registrations (VERDICT r12 order 4): the four heavy/
    # representative new shapes — exact duplicate-span detection
    # (canonical-first-occurrence form), the deterministic DSIR
    # resample, the MinHash band-tuning operating curve (3× the
    # registered banded join), and the corpus_selection_pipeline
    # composite flagship (excise gate → survivor-fitted DSIR →
    # resample). Probed warm at sf0.1 before inclusion
    # (docs/BENCH_NOTES.md "Round-13 prospective": 2.44 / 1.71 /
    # 2.60 / 4.55 s).
    "dedup_substring_spans",
    "corpus_dsir_resample",
    "dedup_minhash_band_tuning",
    "corpus_selection_pipeline",
)


_WARMUPS = 2
_RUNS = 5


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    specs = all_queries()
    # one warmup action so JVM/codegen startup isn't billed to q1
    _materialize(specs["agg_group"].build(spark, sf_dir))

    timings: dict[str, float] = {}
    for key in BENCH_KEYS:
        # best-of-N: the VM scheduler adds multi-second jitter randomly
        # across queries (+-30% run-to-run observed); the min is the
        # faithful cost of the plan. Untimed warmups first:
        # whole-stage-codegen JIT keeps improving a query shape for its
        # first ~6 executions (measured: 0.63→0.38s over 8 runs of
        # agg_group), so timing from cold bills C2-compiler warmup to
        # the plan.
        for _ in range(_WARMUPS):
            _materialize(specs[key].build(spark, sf_dir))
        best = float("inf")
        for _ in range(_RUNS):
            t0 = time.perf_counter()
            _materialize(specs[key].build(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        timings[key] = round(best, 3)
        print(f"# {key}: {timings[key]:.3f}s", file=sys.stderr, flush=True)

    total = round(sum(timings.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    out = {
        "metric": "total_bench_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf else sf_dir,
    }
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
