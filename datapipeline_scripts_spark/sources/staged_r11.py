"""Round-11 query keys — staged through the round-10 freeze, then
REGISTERED by the round-11 flip (the registered-from-STAGED pattern:
the programmatic loop at the bottom of this module registers every
key at import, catalog 326 → 350). The staging history below is kept
as-is: each key was held to the registration bar before the flip —
`tests/test_staged_r11.py` runs every builder against its DuckDB
oracle at both fixture SFs.

federated_ingest_union: heterogeneous-shard ingest — the situation a
real corpus build actually faces (crawl dumps in WARC, vision sets in
WebDataset, text dumps in .jsonl.zst, trainer output in TFRecord) —
as ONE key: each document roundtrips through the format its
doc_id % 5 class assigns (WARC / WebDataset / jsonl.zst / TFRecord /
Arrow IPC), every codec the PRODUCTION write/parse pair, and the
union carries a `fmt` provenance column. A hash match proves all
FIVE ingest legs lossless side-by-side under one gate.

multimodal_audio_frames: frame-level audio features — the windowed
form every audio-quality filter runs (silence/clipping detection per
frame, not per file): deterministic PCM synth → 16-bit WAV encode →
PRODUCTION decode → per-frame energy / zero-crossings / peak, one
output row per (doc, frame). The DuckDB oracle recomputes every
frame's integers from the synth formula in closed form.

multimodal_scene_cuts: shot-boundary detection on real video — MJPEG
AVIs muxed executor-side, demuxed + frame-decoded through the
production path, adjacent-frame absolute pixel difference → cut flag.
The frame pixels are the video key's proven integer-IDCT arithmetic,
so the oracle recomputes each pair's diff_sum exactly.

multimodal_real_tiff16: the 16-bit gray TIFF roundtrip (the
scientific-instrument profile round 10 added to tiff_stdlib):
encode_tiff_gray16 (compression rotating through all four codecs,
predictor and byte order rotating) → tiff_decode_gray16 → min/max/sum
features with a closed-form oracle.

quality_train_perceptron: TRAIN a quality classifier in-engine —
batch perceptron distilling the curation gate (y = "has ≥ 30
normalized words") into a linear model over surface features (signed
word-count margin, marker hits, repetition bp), three unrolled
iterations, integer arithmetic throughout so the weight trajectory is
hash-exact cross-engine. The data is linearly separable in the margin
feature, so training genuinely converges (n_mis 500 → ≤1 by
iteration 2 on the fixtures) rather than oscillating. Each iteration is one aggregate over the (lineage-cut)
feature table: w_{t+1} = w_t + Σ_{misclassified} y·x — the classic
distributed-training shape (gradient = one partial-aggregable sum),
with the DuckDB oracle unrolling the same three iterations as chained
CTEs (the graph_pagerank idiom applied to model training).

web_url_canonical_dedup: URL canonicalization — the first dedup any
crawl pipeline runs (case-folding, default-port stripping, trailing
slash, utm-param removal, query ordering), pure engine-side string
algebra with a DuckDB twin; see the section comment below.

text_html_extract: HTML → text extraction (script/style removal, tag
stripping, entity decode, title pull-out) — the step between crawl
ingest and every text operator, pure codegen'd regexp/string algebra;
see the section comment below.

web_robots_filter: robots.txt longest-match evaluation (RFC 9309
semantics: per-host rules, longest matched prefix wins, default
allow) — generic engine-side matching on BOTH sides; see the section
comment below.

dedup_survivorship: the keep-the-BEST survivorship policy over
minhash near-dup clusters (most normalized words, doc_id tiebreak) —
pure composition of the proven pair/closure machinery plus one
cluster-partitioned ranking window; see the section comment below.

quality_eval_perceptron: the train/test discipline completing the
in-engine training story — train on even doc_ids, score the held-out
odd ones, confusion matrix + integer accuracy; shares the feature
builder with quality_train_perceptron so the pair cannot fork.

Second batch (built after the round-10 close, same bar):

text_bpe_train: learn the BPE merge table in-engine — six iterations
of (vocabulary-weighted pair count → deterministic arg-max →
positional greedy merge), the whole trajectory hash-exact against a
chained-CTE DuckDB unroll; see the section comment below.

dedup_bloom_incremental: constant-size Bloom membership sketch for
continuous-crawl dedup — broadcast bit-set probe + exact-verification
leg, all three verdict classes exercised; see the section comment.

crawl_frontier_schedule: per-host politeness scheduling (priority
rank → fetch wave → crawl-delay offset, budget-capped backlog); see
the section comment below.

corpus_token_budget_mixture: token-budgeted best-first selection per
source (greedy knapsack via a deterministic running-sum window); see
the section comment below.

text_bpe_compression: the train→apply→measure closure — apply the
learned merges back to the vocabulary and report corpus chars vs
post-merge symbols (compression in basis points); shares the train
key's `_bpe_learn` chain so the pair cannot fork.

knn_recall_report: in-engine evaluation of the approximate index —
recall@5 of knn_ivf against exact knn_brute per query, built ON the
registered builders (and the oracle on their registered SQL twins)
so the report can never drift from the operators it grades.

Third batch (same gate):

embedding_pca_power: top principal direction of the embedding table
by integer-exact power iteration on the int8 Gram matrix — in-engine
linear algebra with the whole per-dimension trajectory hash-proven;
see the section comment below.

corpus_curriculum_order: curriculum bucketing (equal-width bins, no
global sort) + deterministic md5 shuffle within each bucket — the
trainer-feed ordering step; see the section comment below.

text_bigram_heldout: the LM train/test discipline — bigram model
trained on even docs scores the held-out odd docs under add-one
smoothing; see the section comment below.

crawl_pipeline: the crawl-side FLAGSHIP — messy fetch records →
canonical-URL refetch dedup → robots longest-match → HTML extraction
→ quality gate → per-host politeness schedule, as ONE hash-gated
per-host funnel report; every stage reuses its standalone key's
semantics (shared expressions, not re-derivations); see the section
comment below.

arrow_ipc_roundtrip: Arrow IPC (Feather V2) typed shard roundtrip —
the fifth corpus shard format (sources/arrow_ipc.py), int64 + string
+ BINARY columns through all three buffer codecs, footer-enforced
truncation loudness; see the section comment below.

corpus_pack_offsets: the per-document [begin, end) spans inside each
packed training sequence — the attention-mask / boundary-loss
metadata the shard-grain corpus_pack report aggregates away; shares
_PACK_BUDGET and the partitioned window with the registered pack
keys; see the section comment below.

text_char_entropy: Shannon character entropy per doc — the
compression-proxy junk filter, with the float fold pinned to sorted
character order on both engines (bit-identical by construction, not
rounding luck); see the section comment below.

embedding_pca_project: the APPLY half of the PCA story — project
every embedding onto the learned dominant direction (integer dot of
int8 codes × the scaled iterate) and report the top-|projection|
outliers; shares `_pca_learn`/`_pca_chain_sql` with the power key so
the pair cannot fork; see the section comment below.

Registration (round 11) took the catalog 326 → 350 and added the four
heavy new keys to ``bench.py``'s BENCH_KEYS (`crawl_pipeline`,
`text_bpe_train`, `embedding_pca_power`, `dedup_bloom_incremental`).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from datapipeline_scripts_spark.catalog import load_table, scan_spread
from datapipeline_scripts_spark.extensions.similarity import (
    _IVF_ORACLE,
    knn_brute,
    knn_ivf,
)
from datapipeline_scripts_spark.functions.text import (
    fingerprint_md5,
    md5_48,
    md5_48_sql,
    shingles,
    stopword_hits,
    tokens,
)

# ---- federated_ingest_union --------------------------------------------------

_FED_HTTP_HEAD = b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"
_FED_FMTS = ("warc", "webdataset", "jsonl_zst", "tfrecord", "arrow_ipc")


def _federated_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from datapipeline_scripts_spark.sources import arrow_ipc as aipc
    from datapipeline_scripts_spark.sources import jsonl_zst as jz
    from datapipeline_scripts_spark.sources import tfexample as tfe
    from datapipeline_scripts_spark.sources import tfrecord as tfr
    from datapipeline_scripts_spark.sources import warc
    from datapipeline_scripts_spark.sources import webdataset as wds

    for pdf in batches:
        out: dict[str, list] = {"doc_id": [], "fmt": [], "text_md5": []}
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            d = int(doc_id)
            body = (text or "").encode("utf-8")
            cls = d % 5
            if cls == 0:  # WARC response record, own gzip member
                rec_bytes = warc.write_warc_record(
                    "response",
                    f"<urn:uuid:00000000-0000-0000-0000-{d:012d}>",
                    "2026-01-02T03:04:05Z",
                    _FED_HTTP_HEAD + body,
                    target_uri=f"https://corpus.example/doc/{d}",
                    content_type="application/http;msgtype=response",
                    gzip_member=True,
                )
                (rec,) = warc.parse_warc(rec_bytes)
                _s, _h, got = warc.split_http(rec["content"])
            elif cls == 1:  # WebDataset single-sample tar
                shard = wds.write_webdataset_shard([(f"{d:09d}", {"txt": body})])
                ((_key, files),) = wds.iter_samples(shard)
                got = files["txt"]
            elif cls == 2:  # .jsonl.zst single-line shard
                shard = jz.write_jsonl_zst(
                    [{"doc_id": d, "text": body.decode("utf-8")}], frames_of=1
                )
                (row,) = jz.iter_jsonl(shard, where=f"doc{d}")
                got = row["text"].encode("utf-8")
            elif cls == 3:  # TFRecord shard of one tf.Example
                ex = tfe.encode_example({"doc_id": [d], "text": [body]})
                shard = tfr.write_tfrecord([ex])
                (rec_b,) = tfr.parse_tfrecord(shard, where=f"doc{d}")
                decoded = tfe.decode_example(rec_b, where=f"doc{d}")
                got = decoded["text"][1][0]
            else:  # Arrow IPC single-row shard, binary column native
                shard = aipc.write_arrow_ipc(
                    [{"doc_id": d, "text": body}], compression="zstd"
                )
                table = aipc.read_arrow_ipc_bytes(shard, where=f"doc{d}")
                (row_a,) = table.to_pylist()
                assert row_a["doc_id"] == d
                got = row_a["text"]
            out["doc_id"].append(d)
            out["fmt"].append(_FED_FMTS[cls])
            out["text_md5"].append(hashlib.md5(got).hexdigest())
        yield pd.DataFrame(out)


FEDERATED_INGEST_UNION_ORACLE = """
    SELECT doc_id,
           CASE doc_id % 5 WHEN 0 THEN 'warc' WHEN 1 THEN 'webdataset'
                WHEN 2 THEN 'jsonl_zst' WHEN 3 THEN 'tfrecord'
                ELSE 'arrow_ipc' END AS fmt,
           md5(coalesce(text, '')) AS text_md5
    FROM documents
    ORDER BY doc_id
"""


def federated_ingest_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous-shard ingest union — see the module docstring.
    Scale shape: per-row codec work inside one Arrow-batched pass
    (each production reader parallelizes per shard at real scale; the
    provenance column is what downstream dedup/mixture key on when
    corpora merge)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        # single-file fixture → spread the codec work (no-op at scale)
        .transform(scan_spread(spark, sf_dir, "documents"))
    )
    return docs.mapInPandas(
        _federated_worker,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("fmt", T.StringType()),
                T.StructField("text_md5", T.StringType()),
            ]
        ),
    ).orderBy("doc_id")


STAGED: dict[str, tuple] = {
    "federated_ingest_union": (federated_ingest_union, FEDERATED_INGEST_UNION_ORACLE),
}


# ---- multimodal_audio_frames --------------------------------------------------

_AF_N = 96  # samples per clip
_AF_L = 24  # samples per frame → 4 frames


def _af_sample(d: int, i: int) -> int:
    return ((d * 13 + 7 * i + i * i) % 199) - 99


def _audio_frames_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from datapipeline_scripts_spark.extensions import wav_stdlib as ws

    for pdf in batches:
        out: dict[str, list] = {
            "doc_id": [],
            "frame_idx": [],
            "energy": [],
            "zero_crossings": [],
            "peak": [],
        }
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            samples = [_af_sample(d, i) for i in range(_AF_N)]
            payload = ws.encode_wav(1, 16000, 16, samples)
            _ch, _rate, _bits, got = ws.wav_decode(payload)
            if got != samples:
                raise ValueError(f"doc{d}: WAV roundtrip drift")
            for f in range(_AF_N // _AF_L):
                fr = got[f * _AF_L : (f + 1) * _AF_L]
                out["doc_id"].append(d)
                out["frame_idx"].append(f)
                out["energy"].append(sum(s * s for s in fr))
                out["zero_crossings"].append(
                    sum(1 for j in range(_AF_L - 1) if fr[j] * fr[j + 1] < 0)
                )
                out["peak"].append(max(abs(s) for s in fr))
        yield pd.DataFrame(out)


def _audio_frames_oracle() -> str:
    def s(i: int) -> str:
        return f"(((doc_id * 13 + {7 * i + i * i}) % 199) - 99)"

    rows = []
    for f in range(_AF_N // _AF_L):
        lo = f * _AF_L
        energy = " + ".join(f"{s(i)} * {s(i)}" for i in range(lo, lo + _AF_L))
        zc = " + ".join(
            f"(CASE WHEN {s(i)} * {s(i + 1)} < 0 THEN 1 ELSE 0 END)"
            for i in range(lo, lo + _AF_L - 1)
        )
        peak = "GREATEST(" + ", ".join(f"abs({s(i)})" for i in range(lo, lo + _AF_L)) + ")"
        rows.append(
            f"SELECT doc_id, CAST({f} AS INTEGER) AS frame_idx,"
            f" CAST({energy} AS BIGINT) AS energy,"
            f" CAST({zc} AS INTEGER) AS zero_crossings,"
            f" CAST({peak} AS INTEGER) AS peak"
            f" FROM documents WHERE doc_id % 4 = 1"
        )
    return " UNION ALL ".join(rows) + " ORDER BY doc_id, frame_idx"


MULTIMODAL_AUDIO_FRAMES_ORACLE = _audio_frames_oracle()


def multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level audio features through the real WAV codec — see the
    module docstring. Scale shape: per-row codec + O(N) integer
    feature math inside mapInPandas; output grain is (doc, frame) —
    the rows a silence/clipping gate filters on. Only integers cross
    the worker boundary."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 4 == 1)
        .select("doc_id")
        .transform(scan_spread(spark, sf_dir, "documents"))
    )
    return docs.mapInPandas(
        _audio_frames_worker,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("frame_idx", T.IntegerType()),
                T.StructField("energy", T.LongType()),
                T.StructField("zero_crossings", T.IntegerType()),
                T.StructField("peak", T.IntegerType()),
            ]
        ),
    ).orderBy("doc_id", "frame_idx")


STAGED["multimodal_audio_frames"] = (
    multimodal_audio_frames,
    MULTIMODAL_AUDIO_FRAMES_ORACLE,
)


# ---- multimodal_scene_cuts ----------------------------------------------------

_SC_W, _SC_H = 16, 8
_SC_Q00, _SC_Q01 = 16, 11  # STD_LUMA_QUANT[0], [1] — guarded in the worker
_SC_THRESHOLD = 4500  # |Δpixel| sum over the frame ⇒ cut (splits the fixture)


def _sc_coefs(d: int, f: int) -> tuple[int, int, int, int]:
    """(dc0, ac0, dc1, ac1) for frame f of doc d — the video key's
    exact coefficient formulas (staged_r9), so the per-pixel oracle
    arithmetic is already proven."""
    return (
        ((d + 11 * f) % 37) - 18,
        ((d + f) % 5) - 2,
        ((d * 7 + 13 * f) % 41) - 20,
        ((d * 3 + 5 * f) % 7) - 3,
    )


def _scene_cuts_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from datapipeline_scripts_spark.extensions import avi_stdlib as av
    from datapipeline_scripts_spark.extensions import jpeg_stdlib as js

    if js.STD_LUMA_QUANT[0] != _SC_Q00 or js.STD_LUMA_QUANT[1] != _SC_Q01:
        raise ValueError(
            "jpeg_stdlib quant table drifted from the oracle constants "
            f"({_SC_Q00}, {_SC_Q01}); regenerate the scene-cut oracle"
        )

    def blk(dc: int, ac01: int) -> list[int]:
        b = [0] * 64
        b[0], b[1] = dc, ac01
        return b

    for pdf in batches:
        out: dict[str, list] = {
            "doc_id": [],
            "pair_idx": [],
            "diff_sum": [],
            "is_cut": [],
        }
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            n = 1 + d % 3
            frames = []
            for f in range(n):
                dc0, ac0, dc1, ac1 = _sc_coefs(d, f)
                frames.append(
                    js.encode_gray_baseline(
                        _SC_W,
                        _SC_H,
                        [blk(dc0, ac0), blk(dc1, ac1)],
                        restart_interval=1,
                    )
                )
            payload = av.encode_avi_mjpeg(_SC_W, _SC_H, frames, us_per_frame=40000)
            pixels = [
                av.avi_decode_frame_gray(payload, f)[2] for f in range(n)
            ]
            for p in range(n - 1):
                a, b = pixels[p], pixels[p + 1]
                diff = sum(abs(a[i] - b[i]) for i in range(_SC_W * _SC_H))
                out["doc_id"].append(d)
                out["pair_idx"].append(p)
                out["diff_sum"].append(diff)
                out["is_cut"].append(diff > _SC_THRESHOLD)
        yield pd.DataFrame(out)


def _scene_cuts_oracle() -> str:
    from datapipeline_scripts_spark.extensions import jpeg_stdlib as js

    b01 = [js._IDCT_BASIS[x][1] for x in range(8)]

    def val(x: int, f: str) -> str:
        blk, col = x // 8, x % 8
        dc = [
            f"(((doc_id + 11 * {f}) % 37) - 18)",
            f"(((doc_id * 7 + 13 * {f}) % 41) - 20)",
        ][blk]
        ac = [
            f"(((doc_id + {f}) % 5) - 2)",
            f"(((doc_id * 3 + 5 * {f}) % 7) - 3)",
        ][blk]
        return f"((16384 * {dc} + {b01[col] * _SC_Q01} * {ac} + 1052672) // 8192)"

    # frames are constant down columns, so the frame diff is
    # h × Σ_x |val(x, f) − val(x, f+1)|
    diff = " + ".join(
        f"abs({val(x, 'p.i')} - {val(x, '(p.i + 1)')})" for x in range(_SC_W)
    )
    return f"""
    SELECT doc_id,
           CAST(p.i AS INTEGER) AS pair_idx,
           CAST({_SC_H} * ({diff}) AS BIGINT) AS diff_sum,
           ({_SC_H} * ({diff}) > {_SC_THRESHOLD}) AS is_cut
    FROM documents, (VALUES (0), (1)) p(i)
    WHERE doc_id % 3 <> 0 AND p.i < doc_id % 3
    ORDER BY doc_id, pair_idx
    """


MULTIMODAL_SCENE_CUTS_ORACLE = _scene_cuts_oracle()


def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection on real MJPEG video — see the module
    docstring. Scale shape: demux + per-frame decode + O(pixels)
    integer diff inside mapInPandas; output grain is the frame PAIR
    (what a sampling pipeline keys on to pick one representative
    frame per shot). Only integers cross the worker boundary."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 != 0)
        .select("doc_id")
        .transform(scan_spread(spark, sf_dir, "documents"))
    )
    return docs.mapInPandas(
        _scene_cuts_worker,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("pair_idx", T.IntegerType()),
                T.StructField("diff_sum", T.LongType()),
                T.StructField("is_cut", T.BooleanType()),
            ]
        ),
    ).orderBy("doc_id", "pair_idx")


STAGED["multimodal_scene_cuts"] = (multimodal_scene_cuts, MULTIMODAL_SCENE_CUTS_ORACLE)


# ---- multimodal_real_tiff16 ---------------------------------------------------

_T16_W, _T16_H = 8, 5
_T16_COMPS = (1, 5, 8, 32773)


def _t16_sample(d: int, x: int, y: int) -> int:
    return (d * 257 + x * 4099 + y * 1031) % 65536


def _tiff16_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from datapipeline_scripts_spark.extensions import tiff_stdlib as ts

    for pdf in batches:
        out: dict[str, list] = {
            "doc_id": [],
            "compression": [],
            "s_min": [],
            "s_max": [],
            "s_sum": [],
        }
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            samples = [
                _t16_sample(d, x, y) for y in range(_T16_H) for x in range(_T16_W)
            ]
            comp = _T16_COMPS[(d // 4) % 4]
            payload = ts.encode_tiff_gray16(
                _T16_W,
                _T16_H,
                samples,
                compression=comp,
                predictor=comp in (5, 8) and d % 8 >= 4,
                rows_per_strip=2,
                big_endian=d % 2 == 1,
            )
            w, h, got = ts.tiff_decode_gray16(payload)
            if (w, h) != (_T16_W, _T16_H) or got != samples:
                raise ValueError(f"doc{d}: 16-bit TIFF roundtrip drift")
            out["doc_id"].append(d)
            out["compression"].append(comp)
            out["s_min"].append(min(got))
            out["s_max"].append(max(got))
            out["s_sum"].append(sum(got))
        yield pd.DataFrame(out)


def _tiff16_oracle() -> str:
    terms = [
        f"((doc_id * 257 + {x * 4099 + y * 1031}) % 65536)"
        for y in range(_T16_H)
        for x in range(_T16_W)
    ]
    return f"""
    SELECT doc_id,
           CAST([{", ".join(str(c) for c in _T16_COMPS)}]
                [(doc_id // 4) % 4 + 1] AS INTEGER) AS compression,
           CAST(LEAST({", ".join(terms)}) AS INTEGER) AS s_min,
           CAST(GREATEST({", ".join(terms)}) AS INTEGER) AS s_max,
           CAST({" + ".join(terms)} AS BIGINT) AS s_sum
    FROM documents
    WHERE doc_id % 4 = 2
    ORDER BY doc_id
    """


MULTIMODAL_REAL_TIFF16_ORACLE = _tiff16_oracle()


def multimodal_real_tiff16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit gray TIFF roundtrip under the driver harness — see the
    module docstring. Scale shape: identical to the 8-bit TIFF key
    (embarrassingly parallel Arrow-batch codec work); the min/max/sum
    columns are the dynamic-range stats a scientific-imagery quality
    gate keys on."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 4 == 2)
        .select("doc_id")
        .transform(scan_spread(spark, sf_dir, "documents"))
    )
    return docs.mapInPandas(
        _tiff16_worker,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("compression", T.IntegerType()),
                T.StructField("s_min", T.IntegerType()),
                T.StructField("s_max", T.IntegerType()),
                T.StructField("s_sum", T.LongType()),
            ]
        ),
    ).orderBy("doc_id")


STAGED["multimodal_real_tiff16"] = (multimodal_real_tiff16, MULTIMODAL_REAL_TIFF16_ORACLE)


# ---- quality_train_perceptron --------------------------------------------------

_PT_ITERS = 3


def _perceptron_features(
    spark: SparkSession, sf_dir: str, extra: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, y, x1, x2, x3) per document — surface features, all
    integers (doc_id rides along for the eval key's held-out split;
    the train key drops it):
    x1 = n_words − 30 (the signed margin against the curation gate's
    word floor — what makes the problem linearly separable),
    x2 = en-marker hits, x3 = 3-gram repetition in basis points;
    y = +1 iff the gate passes (n_words ≥ 30). The same proven
    constructions the gate keys use. ``extra`` appends passthrough
    document columns (the r12 inference keys carry `source` for the
    per-source acceptance report; the registered r11 keys pass
    nothing, so their plans are untouched)."""
    return _perceptron_features_of(
        load_table(spark, sf_dir, "documents"), extra
    )


def _perceptron_features_of(
    d: DataFrame, extra: tuple[str, ...] = ()
) -> DataFrame:
    """`_perceptron_features` over an arbitrary (doc_id, text, ...)
    frame — the r12 crawl-increment flagship computes features of the
    ARRIVED (refetch-mapped) content, not the raw table; one
    expression set serves both so the keys cannot fork features."""
    toks = tokens(F.coalesce(F.col("text"), F.lit("")))
    n_words = F.size(toks)
    hits = stopword_hits(toks, ("the", "a", "of"))
    sh3 = shingles(toks, 3)
    n_sh = F.when(n_words >= 3, n_words - 2).otherwise(0)
    n_rep = F.when(
        n_words >= 3, n_words - 2 - F.size(F.array_distinct(sh3))
    ).otherwise(0)
    return d.select(
        F.col("doc_id"),
        *[F.col(c) for c in extra],
        F.when(n_words >= 30, 1).otherwise(-1).cast("long").alias("y"),
        (n_words - 30).cast("long").alias("x1"),
        hits.cast("long").alias("x2"),
        F.when(n_sh > 0, (n_rep * 10000 - (n_rep * 10000) % n_sh) / n_sh)
        .otherwise(0)
        .cast("long")
        .alias("x3"),
    )


def quality_train_perceptron(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-perceptron training in-engine — see the module docstring.
    Scale shape: the feature build is one scan projection
    (lineage-cut once, the compute-once/reuse-per-iteration contract
    every iterative job needs); each iteration is ONE partial-
    aggregable aggregate (the gradient is a sum), with the 1-row
    weight vector broadcast back — the exact shape distributed
    data-parallel training takes at any scale. Integer arithmetic
    keeps the trajectory hash-exact cross-engine."""
    # EAGER: a lazy localCheckpoint never engages inside the single
    # final job — the three iteration subtrees each recompute the full
    # feature scan (measured 44.8 s vs 11 s at the 10× proxy). Eager
    # pays one materialization at build time and every iteration reads
    # the cached partitions — the compute-once/reuse-per-iteration
    # contract, actually enforced.
    feats = (
        _perceptron_features(spark, sf_dir)
        .drop("doc_id")
        .localCheckpoint(eager=True)
    )
    # optimization r13 (guide §5/§7.2, the _pe_weights pattern): each
    # iteration's gradient aggregate runs as a plain job and its
    # single 5-long row is collected (the bounded singleton-aggregate
    # fan-in, sketches.py:270 class — O(1) rows at any corpus scale),
    # feeding the next margin as literals. The previous form chained
    # each iteration through crossJoin(broadcast(agg)) AND unioned the
    # per-iteration rows, so iteration t's union branch replayed the
    # whole prefix chain — 68 Exchanges for 3 iterations. The integer
    # trajectory is unchanged (same sums, same literal-weight
    # margins); the report becomes a 3-row literal frame.
    w = [0, 0, 0, 0]
    out: DataFrame | None = None
    for it in range(1, _PT_ITERS + 1):
        margin = F.col("y") * (
            F.lit(w[0])
            + F.lit(w[1]) * F.col("x1")
            + F.lit(w[2]) * F.col("x2")
            + F.lit(w[3]) * F.col("x3")
        )
        r = (
            feats.filter(margin <= 0)
            .agg(
                F.count("*").alias("n_mis"),
                F.coalesce(F.sum("y"), F.lit(0)).alias("d0"),
                F.coalesce(F.sum(F.col("y") * F.col("x1")), F.lit(0)).alias("d1"),
                F.coalesce(F.sum(F.col("y") * F.col("x2")), F.lit(0)).alias("d2"),
                F.coalesce(F.sum(F.col("y") * F.col("x3")), F.lit(0)).alias("d3"),
            )
            .collect()[0]
        )
        w = [w[k] + int(r[f"d{k}"]) for k in range(4)]
        row = spark.range(1).select(
            F.lit(it).alias("iteration"),
            F.lit(int(r["n_mis"])).cast("long").alias("n_mis"),
            *[F.lit(w[k]).cast("long").alias(f"w{k}") for k in range(4)],
        )
        out = row if out is None else out.unionByName(row)
    assert out is not None
    return out.orderBy("iteration")


def _perceptron_oracle() -> str:
    norm = "regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g')"
    hit = (
        "len(list_filter(toks, t -> t = 'the' OR t = 'a' OR t = 'of'))"
    )
    margins = {
        1: "0",
        2: "w1.w0 + w1.w1 * x1 + w1.w2 * x2 + w1.w3 * x3",
        3: "w2.w0 + w2.w1 * x1 + w2.w2 * x2 + w2.w3 * x3",
    }
    its = []
    for t in (1, 2, 3):
        src = "feats" if t == 1 else f"feats, w{t - 1}"
        its.append(
            f"""it{t} AS (
  SELECT count(*) AS n_mis,
         coalesce(sum(y), 0) AS d0,
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
    its_sql = ",\n".join(its)
    rows = " UNION ALL ".join(
        f"SELECT CAST({t} AS INTEGER) AS iteration,"
        f" CAST((SELECT n_mis FROM it{t}) AS BIGINT) AS n_mis,"
        f" CAST(w0 AS BIGINT) AS w0, CAST(w1 AS BIGINT) AS w1,"
        f" CAST(w2 AS BIGINT) AS w2, CAST(w3 AS BIGINT) AS w3 FROM w{t}"
        for t in (1, 2, 3)
    )
    return f"""
WITH tokd AS (
  SELECT string_split({norm}, ' ') AS toks
  FROM documents
),
feats AS (
  SELECT CASE WHEN len(toks) >= 30 THEN 1 ELSE -1 END AS y,
         len(toks) - 30 AS x1,
         {hit} AS x2,
         CASE WHEN len(toks) >= 3 THEN
           ((len(toks) - 2
             - len(list_distinct(list_transform(generate_series(1, len(toks) - 2),
                   i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))))
            * 10000) // (len(toks) - 2)
         ELSE 0 END AS x3
  FROM tokd
),
{its_sql}
{rows}
ORDER BY iteration
"""


QUALITY_TRAIN_PERCEPTRON_ORACLE = _perceptron_oracle()

STAGED["quality_train_perceptron"] = (
    quality_train_perceptron,
    QUALITY_TRAIN_PERCEPTRON_ORACLE,
)


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


STAGED["web_url_canonical_dedup"] = (
    web_url_canonical_dedup,
    WEB_URL_CANONICAL_DEDUP_ORACLE,
)


# ---- text_html_extract ----------------------------------------------------------
#
# HTML → text extraction — the step between crawl ingest and every
# text operator in this repo: script/style removal, tag stripping,
# entity decoding, whitespace normalization, title pull-out. Pure
# engine-side regexp/string algebra (codegen'd, no UDF) with a DuckDB
# twin. Each document is wrapped in deterministic HTML scaffolding
# (title, script, style, nav div, an entity sampler paragraph) by
# BOTH engines, so the oracle independently constructs and extracts —
# a hash match proves the extraction chain, not the scaffold.

_HTML_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")]


def _html_wrap_col():
    d = F.col("doc_id")
    return F.concat(
        F.lit("<html><head><title>Doc "), d.cast("string"),
        F.lit("</title><script>var x = 1 < 2;</script>"
              "<style>.nav { color: red; }</style></head><body><h1>Doc "),
        d.cast("string"),
        F.lit('</h1><p class="main">'),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("</p><p>&amp;amp; &lt;tag&gt; &quot;q&quot; &#39;s&#39;</p>"
              '<div class="nav"><a href="/x?utm_source=f">nav</a></div></body></html>'),
    )


_HTML_WRAP_SQL = """
    concat('<html><head><title>Doc ', CAST(doc_id AS VARCHAR),
           '</title><script>var x = 1 < 2;</script>',
           '<style>.nav { color: red; }</style></head><body><h1>Doc ',
           CAST(doc_id AS VARCHAR),
           '</h1><p class="main">', coalesce(text, ''),
           '</p><p>&amp;amp; &lt;tag&gt; &quot;q&quot; &#39;s&#39;</p>',
           '<div class="nav"><a href="/x?utm_source=f">nav</a></div></body></html>')
"""


TEXT_HTML_EXTRACT_ORACLE = f"""
    WITH raw AS (SELECT doc_id, {_HTML_WRAP_SQL} AS html FROM documents),
    stripped AS (
      SELECT doc_id,
             regexp_extract(html, '<title>(.*?)</title>', 1) AS title,
             len(regexp_extract_all(
               regexp_replace(regexp_replace(html,
                 '(?s)<script.*?</script>', ' ', 'g'),
                 '(?s)<style.*?</style>', ' ', 'g'),
               '<[^>]+>')) AS n_tags,
             regexp_replace(regexp_replace(html,
               '(?s)<script.*?</script>', ' ', 'g'),
               '(?s)<style.*?</style>', ' ', 'g') AS noscript
      FROM raw
    ),
    decoded AS (
      SELECT doc_id, title, n_tags,
             replace(replace(replace(replace(replace(
               regexp_replace(noscript, '<[^>]+>', ' ', 'g'),
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
               '&amp;', '&') AS txt
      FROM stripped
    )
    SELECT doc_id, title,
           CAST(n_tags AS INTEGER) AS n_tags,
           md5(trim(regexp_replace(txt, '\\s+', ' ', 'g'))) AS text_md5
    FROM decoded
    ORDER BY doc_id
"""


def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction — see the section comment above. Scale
    shape: one codegen'd projection over the scan (five regexp passes
    + a fixed entity-decode chain), no shuffle, no UDF; at crawl
    scale this runs fused into the ingest scan before any text
    operator."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    html = _html_wrap_col()
    raw = d.select("doc_id", html.alias("html"))
    noscript = F.regexp_replace(
        F.regexp_replace(F.col("html"), r"(?s)<script.*?</script>", " "),
        r"(?s)<style.*?</style>",
        " ",
    )
    txt = F.regexp_replace(noscript, "<[^>]+>", " ")
    for ent, ch in _HTML_ENTITIES:
        txt = F.replace(txt, F.lit(ent), F.lit(ch))
    return (
        raw.select(
            "doc_id",
            F.regexp_extract(F.col("html"), "<title>(.*?)</title>", 1).alias("title"),
            F.regexp_count(noscript, F.lit("<[^>]+>")).cast("int").alias("n_tags"),
            F.md5(
                F.encode(
                    F.trim(F.regexp_replace(txt, r"\s+", " ")), "UTF-8"
                )
            ).alias("text_md5"),
        )
        .orderBy("doc_id")
    )


STAGED["text_html_extract"] = (text_html_extract, TEXT_HTML_EXTRACT_ORACLE)


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


STAGED["web_robots_filter"] = (web_robots_filter, WEB_ROBOTS_FILTER_ORACLE)


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
    from datapipeline_scripts_spark.extensions.dedup import _minhash_oracle

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


def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster survivorship report — see the section comment above.
    Scale shape: inherits dedup_minhash_clusters' (pairs ≪ corpus,
    CC on the docs-in-pairs frame only); the ranking window
    partitions on cluster_id with cluster-bounded sorts, and the
    report aggregate groups on the same key — one shuffle for both."""
    from pyspark.sql.window import Window as W

    from datapipeline_scripts_spark.extensions.dedup import (
        connected_components,
        dedup_minhash,
    )

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


STAGED["dedup_survivorship"] = (dedup_survivorship, DEDUP_SURVIVORSHIP_ORACLE)


# ---- quality_eval_perceptron --------------------------------------------------------
#
# The EVALUATION half of the in-engine training story — the
# train/test discipline every model-backed quality filter needs:
# train the batch perceptron on the EVEN doc_ids (two unrolled
# iterations — converged on this data), score the held-out ODD
# doc_ids, report the confusion matrix and integer basis-point
# accuracy. Same integer-exact machinery as quality_train_perceptron
# (shared feature builder, so the two keys cannot fork semantics);
# the DuckDB oracle unrolls the identical train CTEs and scores the
# identical held-out set.

_PE_ITERS = 2


def quality_eval_perceptron(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out evaluation of the in-engine perceptron — see the
    section comment above. Scale shape: training is _PE_ITERS keyless
    partial-aggregable sums over the (eagerly checkpointed) train
    split; scoring is one broadcast of the 4-long weight vector and
    one confusion aggregate over the test split — no shuffle carries
    anything wider than a handful of longs."""
    feats = _perceptron_features(spark, sf_dir).localCheckpoint(eager=True)
    train = feats.filter(F.col("doc_id") % 2 == 0)
    test = feats.filter(F.col("doc_id") % 2 == 1)
    # optimization r13: bounded per-iteration gradient collect (the
    # _pe_weights pattern — see quality_train_perceptron's comment);
    # the trained weights reach the scoring pass as four literal longs
    # instead of a chained broadcast subtree per iteration
    w = [0, 0, 0, 0]
    for _ in range(_PE_ITERS):
        margin = F.col("y") * (
            F.lit(w[0])
            + F.lit(w[1]) * F.col("x1")
            + F.lit(w[2]) * F.col("x2")
            + F.lit(w[3]) * F.col("x3")
        )
        r = (
            train.filter(margin <= 0)
            .agg(
                F.coalesce(F.sum("y"), F.lit(0)).alias("d0"),
                F.coalesce(F.sum(F.col("y") * F.col("x1")), F.lit(0)).alias("d1"),
                F.coalesce(F.sum(F.col("y") * F.col("x2")), F.lit(0)).alias("d2"),
                F.coalesce(F.sum(F.col("y") * F.col("x3")), F.lit(0)).alias("d3"),
            )
            .collect()[0]
        )
        w = [w[k] + int(r[f"d{k}"]) for k in range(4)]
    score = (
        F.lit(w[0])
        + F.lit(w[1]) * F.col("x1")
        + F.lit(w[2]) * F.col("x2")
        + F.lit(w[3]) * F.col("x3")
    )
    pred = F.when(score > 0, 1).otherwise(-1)
    scored = test.select("y", pred.alias("pred"))
    y, p = F.col("y"), F.col("pred")
    return scored.agg(
        F.sum(F.when((y == 1) & (p == 1), 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when((y == -1) & (p == 1), 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when((y == -1) & (p == -1), 1).otherwise(0)).cast("long").alias("tn"),
        F.sum(F.when((y == 1) & (p == -1), 1).otherwise(0)).cast("long").alias("fn"),
        F.count("*").cast("long").alias("n_test"),
        F.expr(
            "CAST(sum(CASE WHEN y = pred THEN 1 ELSE 0 END) * 10000"
            " div count(*) AS BIGINT)"
        ).alias("accuracy_bp"),
    )


def _eval_perceptron_oracle() -> str:
    norm = "regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g')"
    hit = "len(list_filter(toks, t -> t = 'the' OR t = 'a' OR t = 'of'))"
    margins = {
        1: "0",
        2: "w1.w0 + w1.w1 * x1 + w1.w2 * x2 + w1.w3 * x3",
    }
    its = []
    for t in (1, 2):
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
    its_sql = ",\n".join(its)
    return f"""
WITH tokd AS (
  SELECT doc_id, string_split({norm}, ' ') AS toks FROM documents
),
feats AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 30 THEN 1 ELSE -1 END AS y,
         len(toks) - 30 AS x1,
         {hit} AS x2,
         CASE WHEN len(toks) >= 3 THEN
           ((len(toks) - 2
             - len(list_distinct(list_transform(generate_series(1, len(toks) - 2),
                   i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))))
            * 10000) // (len(toks) - 2)
         ELSE 0 END AS x3
  FROM tokd
),
train AS (SELECT * FROM feats WHERE doc_id % 2 = 0),
test AS (SELECT * FROM feats WHERE doc_id % 2 = 1),
{its_sql},
scored AS (
  SELECT y,
         CASE WHEN w2.w0 + w2.w1 * x1 + w2.w2 * x2 + w2.w3 * x3 > 0
              THEN 1 ELSE -1 END AS pred
  FROM test, w2
)
SELECT CAST(sum(CASE WHEN y = 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(sum(CASE WHEN y = -1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(sum(CASE WHEN y = -1 AND pred = -1 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       CAST(sum(CASE WHEN y = 1 AND pred = -1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN y = pred THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT)
         AS accuracy_bp
FROM scored
"""


QUALITY_EVAL_PERCEPTRON_ORACLE = _eval_perceptron_oracle()

STAGED["quality_eval_perceptron"] = (
    quality_eval_perceptron,
    QUALITY_EVAL_PERCEPTRON_ORACLE,
)


# ---- second r11 batch (built after the round-10 close) --------------------
#
# Four more LLM-corpus operators, held to the same bar: text_bpe_train
# (in-engine tokenizer-merge learning), dedup_bloom_incremental
# (constant-size membership sketch for continuous-crawl dedup),
# crawl_frontier_schedule (per-host politeness scheduling) and
# corpus_token_budget_mixture (token-budgeted domain mixture).

# ---- text_bpe_train --------------------------------------------------------
#
# TRAIN a BPE tokenizer in-engine — the merge-table learning loop
# itself, not just the application `text_tokens_bpe` already covers.
# The classic corpus trick bounds the work: pair statistics are
# computed over the DISTINCT-WORD table weighted by word frequency, so
# after the one corpus-sized word count every iteration runs on
# vocabulary-sized data (≤ |vocab| rows) no matter how large the
# corpus is. Each iteration is (1) one vocabulary-sized pair count —
# partial-aggregable sum, (2) a deterministic arg-max (count DESC,
# then lexicographic left/right), (3) a positional greedy merge
# application, all codegen'd higher-order array ops. Self-pair merges
# (left == right, e.g. "aa") are excluded by construction — with
# left ≠ right adjacent matches can never overlap, so greedy
# left-to-right application is purely positional and both engines
# express it identically (the standard "aaa" ambiguity never arises).
# The DuckDB oracle unrolls the same iterations as chained CTEs (the
# graph_pagerank / quality_train_perceptron idiom), so the whole merge
# trajectory — not just the final table — is hash-exact.

_BPE_ITERS = 6


def _bpe_merged_syms(left, right):
    """The positional greedy-merge EXPRESSION over `syms` for one
    (left, right) merge pair — the single construction both the
    trainer (literal pair, see `_bpe_learn`) and the apply side
    (1-row joined pair, `_bpe_apply_merge`) evaluate, so they cannot
    fork. With l != r matches cannot overlap, so position i is
    consumed iff (syms[i-1], syms[i]) matches, and emits the merged
    symbol iff (syms[i], syms[i+1]) does."""
    syms = F.col("syms")
    e = lambda i: F.try_element_at(syms, i)  # noqa: E731 — null-safe indexing
    keep = F.filter(
        F.sequence(F.lit(1), F.size(syms)),
        lambda i: ~(
            (i > F.lit(1))
            & F.coalesce((e(i - 1) == left) & (e(i) == right), F.lit(False))
        ),
    )
    return F.transform(
        keep,
        lambda i: F.when(
            (e(i) == left) & F.coalesce(e(i + 1) == right, F.lit(False)),
            F.concat(left, right),
        ).otherwise(e(i)),
    )


def _bpe_apply_merge(vframe: DataFrame, top: DataFrame, extra: tuple[str, ...]) -> DataFrame:
    """Apply ONE merge (a 1-row frame with columns l, r) to a
    symbolized frame — the positional greedy merge the trainer uses
    (`_bpe_merged_syms`), factored out so the APPLY side (tokenizer
    deployment: the r13 fertility key) runs the trainer's exact
    expression and cannot fork."""
    return vframe.crossJoin(F.broadcast(top.select("l", "r"))).select(
        _bpe_merged_syms(F.col("l"), F.col("r")).alias("syms"), *extra
    )


def _bpe_learn(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Shared BPE learning chain: (merge rows, final symbolized
    vocabulary). The vocabulary carries (syms, freq, n_chars) so the
    compression key can measure chars→symbols without re-deriving;
    the train key projects only the merge rows."""
    d = load_table(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(tokens(F.coalesce(F.col("text"), F.lit("")))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.substr(F.col("w"), i, F.lit(1)),
    )
    vocab = wf.select(
        chars.alias("syms"), "freq", F.length("w").cast("long").alias("n_chars")
    ).localCheckpoint(eager=True)

    # Optimization round 13 (guide §5/§7.2/§3.3): the previous loop
    # chained each iteration's 1-row arg-max back into the next
    # iteration via crossJoin(broadcast(top)), so the FINAL merge
    # frame's physical plan nested ~21 broadcast-exchange subtrees
    # (4,244 plan lines — plans/r13/text_bpe_train_before.txt) and
    # iteration t re-applied merges 1..t-1 to the checkpointed v0
    # (quadratic re-application). Now each iteration (1) collects the
    # single arg-max row — a bounded 1-row driver fan-in, the
    # sketches.py:270 class, O(1) at any corpus size — and (2) applies
    # it as LITERALS through the shared `_bpe_merged_syms` expression,
    # eager-checkpointing the re-symbolized vocabulary so every
    # iteration runs on materialized vocabulary-sized data exactly
    # once (the compute-once contract; linear, not quadratic, in
    # iterations). The merge table itself becomes a literal 6-row
    # frame. Pair counts, tie-breaks and merge application are the
    # same expressions — every BPE oracle hash is unchanged.
    merge_rows: list[tuple[int, str, str, int]] = []
    exhausted = False
    for rank in range(1, _BPE_ITERS + 1):
        n = F.size("syms")
        top_rows = (
            vocab.filter(n >= 2)
            .select(
                F.explode(
                    F.zip_with(
                        F.slice("syms", 1, n - 1),
                        F.slice("syms", 2, n - 1),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
                "freq",
            )
            .filter(F.col("p.l") != F.col("p.r"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("pair_freq"))
            .orderBy(F.desc("pair_freq"), "l", "r")
            .limit(1)
            .collect()
        )
        if not top_rows:
            # no mergeable pair left: the old crossJoin-with-empty-top
            # form emptied the vocabulary and produced no further
            # merge rows — reproduce that exactly
            exhausted = True
            break
        l, r, pf = top_rows[0]["l"], top_rows[0]["r"], int(top_rows[0]["pair_freq"])
        merge_rows.append((rank, l, r, pf))
        vocab = vocab.select(
            _bpe_merged_syms(F.lit(l), F.lit(r)).alias("syms"), "freq", "n_chars"
        ).localCheckpoint(eager=True)
    if exhausted:
        vocab = vocab.limit(0)
    out = spark.createDataFrame(
        merge_rows,
        schema=T.StructType(
            [
                T.StructField("merge_rank", T.IntegerType(), False),
                T.StructField("left_sym", T.StringType()),
                T.StructField("right_sym", T.StringType()),
                T.StructField("pair_freq", T.LongType(), False),
            ]
        ),
    )
    return out, vocab


def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first `_BPE_ITERS` BPE merges from the corpus; one
    output row per merge: (merge_rank, left_sym, right_sym, pair_freq).

    Scale shape: word-frequency table first (the only corpus-sized
    aggregate, shuffled once on the word itself), eagerly
    localCheckpoint'ed so the six iteration subtrees reuse the
    materialized vocabulary instead of re-scanning the corpus (the
    compute-once/reuse-per-iteration contract the perceptron key
    established). Every subsequent stage is vocabulary-bounded; the
    arg-max is a 1-row limit over the pair-type table, broadcast back
    into the merge application. On the fixtures rank 6 merges a
    MULTI-char symbol ("m" + "er"), proving the iterations genuinely
    compound rather than replaying character statistics."""
    merges, _vocab = _bpe_learn(spark, sf_dir)
    return merges.orderBy("merge_rank")


def _bpe_apply_sql(t: int) -> str:
    """The SQL select-expression applying merge m{t} to syms — the
    trainer chain's exact text, shared with the apply-side oracles."""
    return f"""list_transform(
           list_filter(generate_series(1, len(syms)),
             i -> NOT (i > 1 AND syms[i - 1] = m{t}.l AND syms[i] = m{t}.r)),
           i -> CASE WHEN syms[i] = m{t}.l AND coalesce(syms[i + 1] = m{t}.r, FALSE)
                     THEN m{t}.l || m{t}.r ELSE syms[i] END) AS syms"""


def _bpe_chain_sql(iters: int) -> str:
    """WITH-body producing wf, v0..v{iters} (symbolized vocabulary
    after each merge) and m1..m{iters} (the merges) — shared by the
    train and compression oracles. DuckDB prunes unreferenced CTEs,
    so each consumer pays only for the tables it reads."""
    its = []
    for t in range(1, iters + 1):
        v = f"v{t - 1}"
        its.append(f"""p{t} AS (
  SELECT l, r, sum(freq) AS pair_freq FROM (
    SELECT unnest(syms[1:len(syms) - 1]) AS l,
           unnest(syms[2:len(syms)]) AS r, freq
    FROM {v} WHERE len(syms) >= 2)
  WHERE l <> r GROUP BY l, r
),
m{t} AS (SELECT l, r, pair_freq FROM p{t} ORDER BY pair_freq DESC, l, r LIMIT 1),
v{t} AS (
  SELECT {_bpe_apply_sql(t)},
         freq, n_chars
  FROM v{t - 1}, m{t}
)""")
    its_sql = ",\n".join(its)
    norm = "regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g')"
    return f"""wf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split({norm}, ' ')) AS w FROM documents)
  WHERE w <> '' GROUP BY w
),
v0 AS (
  SELECT list_transform(generate_series(1, length(w)), i -> w[i]) AS syms, freq,
         CAST(length(w) AS BIGINT) AS n_chars
  FROM wf
),
{its_sql}"""


def _bpe_train_oracle() -> str:
    rows = " UNION ALL ".join(
        f"SELECT CAST({t} AS INTEGER) AS merge_rank, l AS left_sym, r AS right_sym,"
        f" CAST(pair_freq AS BIGINT) AS pair_freq FROM m{t}"
        for t in range(1, _BPE_ITERS + 1)
    )
    return f"""
WITH {_bpe_chain_sql(_BPE_ITERS)}
{rows}
ORDER BY merge_rank
"""


TEXT_BPE_TRAIN_ORACLE = _bpe_train_oracle()

STAGED["text_bpe_train"] = (text_bpe_train, TEXT_BPE_TRAIN_ORACLE)


# ---- text_bpe_compression --------------------------------------------------
#
# The train→apply→measure closure: apply the learned merge table back
# to the corpus vocabulary and report what the tokenizer buys — total
# chars vs post-merge symbols and the compression in basis points.
# This is the number a tokenizer-training pipeline actually gates on
# (did the merges compress the corpus enough to justify the vocab
# slots?), computed entirely in-engine off the same proven chain.


def text_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level tokenizer yield after `_BPE_ITERS` merges — ONE
    row: (distinct_words, corpus_words, chars_total, symbols_total,
    compression_bp).

    Scale shape: identical to text_bpe_train (shares `_bpe_learn`) —
    the measurement itself is one keyless partial-aggregable sum over
    the vocabulary-sized table, weighted by word frequency, so the
    corpus-level yield never touches corpus-sized data after the
    initial word count."""
    _merges, vocab = _bpe_learn(spark, sf_dir)
    return vocab.agg(
        F.count("*").cast("long").alias("distinct_words"),
        F.sum("freq").cast("long").alias("corpus_words"),
        F.sum(F.col("freq") * F.col("n_chars")).cast("long").alias("chars_total"),
        F.sum(F.col("freq") * F.size("syms")).cast("long").alias("symbols_total"),
        F.expr(
            "CAST(sum(freq * size(syms)) * 10000 div sum(freq * n_chars) AS BIGINT)"
        ).alias("compression_bp"),
    )


TEXT_BPE_COMPRESSION_ORACLE = f"""
WITH {_bpe_chain_sql(_BPE_ITERS)}
SELECT CAST(count(*) AS BIGINT) AS distinct_words,
       CAST(sum(freq) AS BIGINT) AS corpus_words,
       CAST(sum(freq * n_chars) AS BIGINT) AS chars_total,
       CAST(sum(freq * len(syms)) AS BIGINT) AS symbols_total,
       CAST(sum(freq * len(syms)) * 10000 // sum(freq * n_chars) AS BIGINT)
         AS compression_bp
FROM v{_BPE_ITERS}
"""

STAGED["text_bpe_compression"] = (text_bpe_compression, TEXT_BPE_COMPRESSION_ORACLE)


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
# unlike the established dedup keys' _NORM_SQL (which keeps NULL on
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


_BLOOM_NORM = "regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g')"

DEDUP_BLOOM_INCREMENTAL_ORACLE = f"""
WITH fps AS (
  SELECT doc_id, md5({_BLOOM_NORM}) AS fp FROM documents
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

STAGED["dedup_bloom_incremental"] = (
    dedup_bloom_incremental,
    DEDUP_BLOOM_INCREMENTAL_ORACLE,
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

STAGED["crawl_frontier_schedule"] = (
    crawl_frontier_schedule,
    CRAWL_FRONTIER_SCHEDULE_ORACLE,
)


# ---- corpus_token_budget_mixture -------------------------------------------
#
# Token-budgeted mixture selection — `corpus_mixture` answers "what
# weights rebalance the sources"; this key answers the operational
# question a trainer actually asks: "which documents fit each
# source's TOKEN budget?" Budget = total_tokens // (2 · n_sources)
# (equal shares of half the corpus); within a source, docs are taken
# best-first (token count DESC, doc_id tiebreak) while the running
# total stays within budget — the greedy knapsack every
# budget-capped corpus build runs.


def corpus_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source realized mixture under a token budget: (source,
    budget_tokens, n_selected, selected_tokens).

    Scale shape: one corpus-sized scan projecting (source, n_tokens),
    a 1-row global budget broadcast back, one per-source running-sum
    window (explicit ROWS frame; the order is total — doc_id breaks
    ties — so the cumsum is deterministic), then a partial-aggregable
    per-source rollup. The window is the only per-source sort, on a
    2-column projection — the same bounded shape the frontier key
    argues."""
    d = load_table(spark, sf_dir, "documents")
    tk = d.select(
        "doc_id",
        "source",
        F.size(tokens(F.coalesce(F.col("text"), F.lit("")))).cast("long").alias("n_tokens"),
    )
    tot = tk.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.countDistinct("source").alias("n_sources"),
    ).select(
        F.floor(F.col("total_tokens") / (2 * F.col("n_sources")))
        .cast("long")
        .alias("budget_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("n_tokens"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = tk.select("source", "n_tokens", F.sum("n_tokens").over(w).alias("cum_tokens"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cum_tokens") <= F.col("budget_tokens"))
        .groupBy("source", "budget_tokens")
        .agg(
            F.count("*").cast("long").alias("n_selected"),
            F.sum("n_tokens").cast("long").alias("selected_tokens"),
        )
        .orderBy("source")
    )


_TBM_NORM = "regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g')"

CORPUS_TOKEN_BUDGET_MIXTURE_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, source,
         CAST(len(string_split({_TBM_NORM}, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
tot AS (
  SELECT CAST(sum(n_tokens) // (2 * count(DISTINCT source)) AS BIGINT) AS budget_tokens
  FROM tk
),
cum AS (
  SELECT source, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY n_tokens DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM tk
)
SELECT source, budget_tokens,
       CAST(count(*) AS BIGINT) AS n_selected,
       CAST(sum(n_tokens) AS BIGINT) AS selected_tokens
FROM cum, tot
WHERE cum_tokens <= budget_tokens
GROUP BY source, budget_tokens
ORDER BY source
"""

STAGED["corpus_token_budget_mixture"] = (
    corpus_token_budget_mixture,
    CORPUS_TOKEN_BUDGET_MIXTURE_ORACLE,
)


# ---- knn_recall_report -----------------------------------------------------
#
# Evaluate the approximate index IN-ENGINE: recall@5 of knn_ivf
# against the exact knn_brute top-5, per query — the acceptance gate
# every ANN deployment runs before switching retrieval paths. Both
# legs are the registered builders themselves (and the oracle wraps
# their registered SQL twins), so the report can never drift from
# the operators it grades.


def knn_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query ANN recall: (qid, n_hits, recall_bp) for the 5
    shared query vectors, recall@5 in basis points.

    Scale shape: both legs bound their candidate sets before ranking
    (brute broadcasts the query block; IVF probes NPROBE lists), the
    intersection is an equi-join on (qid, cid) — |Q|·k rows a side —
    and the rollup is partial-aggregable. At real scale the exact leg
    runs on a held-out sample of queries (recall estimation), which
    changes only the qid filter."""
    exact = knn_brute(spark, sf_dir).filter(F.col("rn") <= 5).select("qid", "cid")
    approx = knn_ivf(spark, sf_dir).filter(F.col("qid") < 5).select("qid", "cid")
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


KNN_RECALL_REPORT_ORACLE = f"""
WITH exact AS (
  SELECT qid, cid FROM (
    WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
               FROM embeddings),
         sims AS (
           SELECT qid, cid,
                  round(list_dot_product(qe, ce) /
                        (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))),
                        4) AS cos_sim
           FROM q CROSS JOIN c
           WHERE qid <> cid
         ),
         ranked AS (
           SELECT qid, cid,
                  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rn
           FROM sims
         )
    SELECT qid, cid FROM ranked WHERE rn <= 5
  )
),
approx AS (
  SELECT qid, cid FROM ({_IVF_ORACLE}) WHERE qid < 5
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

STAGED["knn_recall_report"] = (knn_recall_report, KNN_RECALL_REPORT_ORACLE)


# ---- third r11 batch -------------------------------------------------------
#
# embedding_pca_power (integer-exact in-engine linear algebra),
# corpus_curriculum_order (trainer feed ordering) and
# text_bigram_heldout (LM train/test discipline) — same gate.

# ---- embedding_pca_power ---------------------------------------------------
#
# Top principal direction of the embedding table by POWER ITERATION,
# entirely in-engine and integer-exact: embeddings are int8-quantized
# (the proven knn_int8 expression), the 64×64 Gram matrix G = QᵀQ is
# one combiner-bounded outer-product aggregate (exact BIGINTs), and
# each iteration is v ← rescale(G·v) with an abs-split integer
# rescale (sign(w)·(|w|·1024 ÷ max|w|)) — floor-on-nonnegative equals
# truncation, so Spark's `div` and DuckDB's `//` agree exactly. G is
# PSD by construction, so the iteration converges toward the top
# eigenvector; the OUTPUT is the whole per-dimension trajectory
# (v1, v2, v3), hash-exact like the perceptron's weight trajectory.
# This is the whitening/decorrelation step an embedding pipeline runs
# before dimensionality reduction or calibrated cosine thresholds.

_PCA_ITERS = 3
_PCA_VSCALE = 1024
_PCA_DIMS = 64


def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer power iteration on the int8 Gram matrix; 64 rows:
    (dim, v1, v2, v3) — the iterate after each of three steps,
    v scaled to max-abs = 1024.

    Scale shape: the ONLY corpus-sized work is the Gram build — a
    map-side outer-product explode whose partial aggregation is
    bounded at dim² = 4096 groups per partition (the exchange carries
    ≤ 4096 rows per map task regardless of N). G is eagerly
    localCheckpoint'ed; every iteration then runs on 64–4096-row
    tables with the 64-row iterate broadcast. Overflow headroom:
    |G| ≤ 127²·N and |w| ≤ 64·|G|·1024, safe in BIGINT to N ≈ 10⁹
    vectors per partition-group; beyond that production scales G
    down by a power of two first (same integer semantics)."""
    vs, _qz, dims, _v_lists = _pca_learn(spark, sf_dir)
    out = dims
    for t, vt in enumerate(vs, start=1):
        out = out.join(vt.withColumnRenamed("vj", f"v{t}"), "dim")
    return out.orderBy("dim")


def _pca_learn(
    spark: SparkSession, sf_dir: str
) -> tuple[list[DataFrame], DataFrame, DataFrame, list[list[int]]]:
    """Shared PCA chain: ([v after each iteration], quantized vectors
    (vec_id, qv), dims frame, [raw iterate values]). The power key
    reads the trajectory; the projection key reuses the quantized
    table and the final iterate — shared code, so the pair cannot
    fork. The raw Python-int iterates (last element) let consumers
    fold the final direction into literal expressions (optimization
    r14: the projection becomes an in-row dot product, no explode /
    broadcast join / corpus-sized groupBy)."""
    e = load_table(spark, sf_dir, "embeddings")
    sc = F.greatest(
        F.array_max(F.transform(F.col("embedding"), lambda v: F.abs(v.cast("double")))),
        F.lit(1e-30),
    ) / F.lit(127.0)
    qz = e.select("vec_id", "embedding", sc.alias("sc")).select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda v: F.floor(v.cast("double") / F.col("sc") + F.lit(0.5)).cast("long"),
        ).alias("qv"),
    )

    # Optimization round 13 (guide §4.2, §5, §7.2). The Gram build was
    # a DOUBLE posexplode (N·dim² = 8.2M rows at sf0.1 through a
    # partial aggregate); it is now one `mapInArrow` pass that hands
    # each Arrow batch of quantized vectors to a NumPy int64 matmul —
    # X.T @ X per batch, one 4096-row partial Gram per task, summed by
    # a dim²-group aggregate. Exact: the quantized entries are int64
    # (|q| <= 127 plus the 0.5-rounding headroom), NumPy int64 matmul
    # is exact integer arithmetic, and the cross-task sum is the same
    # BIGINT sum as before. Only `qv` crosses the Python boundary
    # (guide §4.1: project first).
    #
    # The power iteration then runs DRIVER-SIDE on the collected Gram:
    # G is dim² = 4,096 longs — bounded by the embedding width, never
    # by corpus size, at ANY scale (the canonical production shape:
    # distributed Gram fan-in, local eigensolve). The old form chained
    # each iterate through crossJoin(broadcast(m)) joins, nesting
    # broadcast subtrees exactly like the perceptron loop (1,636 plan
    # lines — plans/r13/embedding_pca_power_before.txt). Python-int
    # arithmetic reproduces the engines' BIGINT trajectory exactly
    # inside the documented overflow headroom (|w| <= 64·|G|·1024,
    # see the key docstring); the iterates become literal 64-row
    # frames. Oracle hashes of both PCA keys are unchanged.
    gram_rows = (
        qz.select("qv")
        .mapInArrow(_pca_gram_worker, schema="i int, j int, gij long")
        .groupBy("i", "j")
        .agg(F.sum("gij").alias("gij"))
        .collect()
    )
    G = [[0] * _PCA_DIMS for _ in range(_PCA_DIMS)]
    for r in gram_rows:
        G[r["i"] - 1][r["j"] - 1] = int(r["gij"])

    dims = spark.range(1, _PCA_DIMS + 1).select(F.col("id").cast("int").alias("dim"))
    v = [_PCA_VSCALE if d == 0 else 0 for d in range(_PCA_DIMS)]
    vs = []
    v_lists: list[list[int]] = []
    for _t in range(1, _PCA_ITERS + 1):
        w = [sum(G[i][j] * v[j] for j in range(_PCA_DIMS)) for i in range(_PCA_DIMS)]
        m = max(max(abs(x) for x in w), 1)
        v = [
            -((-x) * _PCA_VSCALE // m) if x < 0 else (x * _PCA_VSCALE) // m
            for x in w
        ]
        v_lists.append(list(v))
        vs.append(
            spark.createDataFrame(
                [(d + 1, v[d]) for d in range(_PCA_DIMS)],
                schema=T.StructType(
                    [
                        T.StructField("dim", T.IntegerType(), False),
                        T.StructField("vj", T.LongType(), False),
                    ]
                ),
            )
        )
    return vs, qz, dims, v_lists


def _pca_gram_worker(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
    """Per-task partial Gram: NumPy int64 X.T @ X over each Arrow
    batch of quantized vectors (one 4,096-row partial per task; exact
    integer arithmetic — see the _pca_learn comment). A ragged or
    null-carrying batch fails loudly at the reshape."""
    import numpy as np
    import pyarrow as pa

    acc = None
    for batch in batches:
        col = batch.column(0)
        n = len(col)
        if n == 0:
            continue
        flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
        X = flat.reshape(n, _PCA_DIMS)
        p = X.T @ X
        acc = p if acc is None else acc + p
    if acc is not None:
        idx = np.arange(_PCA_DIMS, dtype=np.int32) + 1
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.repeat(idx, _PCA_DIMS)),
                pa.array(np.tile(idx, _PCA_DIMS)),
                pa.array(acc.ravel()),
            ],
            names=["i", "j", "gij"],
        )


def _pca_chain_sql() -> str:
    """Shared WITH-body for the PCA oracles: q (vec_id, qv), the Gram
    build, and v0..v{_PCA_ITERS}. DuckDB prunes unreferenced CTEs, so
    each consumer pays only for what it reads."""
    its = []
    for t in range(1, _PCA_ITERS + 1):
        its.append(f"""w{t} AS (
  SELECT g.i AS dim, sum(g.gij * v{t - 1}.vj) AS w
  FROM g JOIN v{t - 1} ON g.j = v{t - 1}.dim GROUP BY g.i
),
m{t} AS (SELECT greatest(max(abs(w)), 1) AS m FROM w{t}),
v{t} AS (
  SELECT dim,
         CASE WHEN w < 0 THEN -((-w * {_PCA_VSCALE}) // m)
              ELSE (w * {_PCA_VSCALE}) // m END AS vj
  FROM w{t}, m{t}
)""")
    its_sql = ",\n".join(its)
    return f"""q AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(floor(x / sc + 0.5) AS BIGINT)) AS qv
  FROM (
    SELECT vec_id, v,
           greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) / 127.0 AS sc
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
  )
),
e1 AS (
  SELECT u.i AS i, u.qi AS qi, qv FROM (
    SELECT qv,
           unnest(list_transform(generate_series(1, len(qv)),
                                 i -> {{'i': i, 'qi': qv[i]}})) AS u
    FROM q)
),
e2 AS (
  SELECT i, u2.j AS j, qi * u2.qj AS prod FROM (
    SELECT i, qi,
           unnest(list_transform(generate_series(1, len(qv)),
                                 j -> {{'j': j, 'qj': qv[j]}})) AS u2
    FROM e1)
),
g AS (SELECT i, j, sum(prod) AS gij FROM e2 GROUP BY i, j),
v0 AS (
  SELECT CAST(unnest(generate_series(1, {_PCA_DIMS})) AS INTEGER) AS dim,
         CASE WHEN unnest(generate_series(1, {_PCA_DIMS})) = 1
              THEN {_PCA_VSCALE} ELSE 0 END AS vj
),
{its_sql}"""


def _pca_oracle() -> str:
    sel = ", ".join(f"CAST(v{t}.vj AS BIGINT) AS v{t}" for t in range(1, _PCA_ITERS + 1))
    joins = " ".join(f"JOIN v{t} ON v{t}.dim = d.dim" for t in range(1, _PCA_ITERS + 1))
    return f"""
WITH {_pca_chain_sql()}
SELECT CAST(d.dim AS INTEGER) AS dim, {sel}
FROM v0 d {joins}
ORDER BY d.dim
"""


EMBEDDING_PCA_POWER_ORACLE = _pca_oracle()

STAGED["embedding_pca_power"] = (embedding_pca_power, EMBEDDING_PCA_POWER_ORACLE)


# ---- corpus_curriculum_order -----------------------------------------------
#
# The trainer-feed ordering step: curriculum bucket by difficulty
# (token count, equal-WIDTH bins — two broadcast aggregates, no
# global sort; the equal-frequency ntile variant would force a
# single-partition window) and a deterministic md5 shuffle WITHIN
# each bucket (training wants decorrelated batches inside each
# curriculum stage; md5-ordering is the engine's standard
# reproducible shuffle, same as split_assign).


def corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum + reproducible intra-bucket shuffle; one row per
    doc: (doc_id, n_tokens, bucket ∈ 1..4, shuffle_pos).

    Scale shape: bucket assignment is pure arithmetic against a
    broadcast (min, max) — no global sort anywhere; the only shuffle
    is the per-BUCKET md5-order window (4 partitions of the hash
    space; at real scale sub-salt the window key by md5 prefix and
    recombine positions arithmetically if a single bucket outgrows a
    reducer)."""
    d = load_table(spark, sf_dir, "documents")
    tk = d.select(
        "doc_id",
        F.size(tokens(F.coalesce(F.col("text"), F.lit("")))).cast("long").alias("n_tokens"),
    )
    rng = tk.agg(F.min("n_tokens").alias("mn"), F.max("n_tokens").alias("mx"))
    b = tk.crossJoin(F.broadcast(rng)).select(
        "doc_id",
        "n_tokens",
        F.expr(
            "CAST(least(4, 1 + ((n_tokens - mn) * 4) div (mx - mn + 1)) AS BIGINT)"
        ).alias("bucket"),
    )
    ws = Window.partitionBy("bucket").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), "doc_id"
    )
    return b.select(
        "doc_id", "n_tokens", "bucket",
        F.row_number().over(ws).cast("long").alias("shuffle_pos"),
    ).orderBy("doc_id")


_CCO_NORM = "regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g')"

CORPUS_CURRICULUM_ORDER_ORACLE = f"""
WITH tk AS (
  SELECT doc_id,
         CAST(len(string_split({_CCO_NORM}, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
rng AS (SELECT min(n_tokens) AS mn, max(n_tokens) AS mx FROM tk),
b AS (
  SELECT doc_id, n_tokens,
         CAST(least(4, 1 + ((n_tokens - mn) * 4) // (mx - mn + 1)) AS BIGINT) AS bucket
  FROM tk, rng
)
SELECT doc_id, n_tokens, bucket,
       CAST(row_number() OVER (PARTITION BY bucket
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS shuffle_pos
FROM b
ORDER BY doc_id
"""

STAGED["corpus_curriculum_order"] = (
    corpus_curriculum_order,
    CORPUS_CURRICULUM_ORDER_ORACLE,
)


# ---- text_bigram_heldout ---------------------------------------------------
#
# The LM analog of the perceptron's train/test discipline: the bigram
# model is TRAINED on even doc_ids only and scores the HELD-OUT odd
# docs, which forces the smoothing question the in-corpus
# `text_bigram_lm` never faces (unseen bigrams and unseen contexts).
# Add-one (Laplace) smoothing over the train vocabulary keeps every
# held-out bigram's probability defined: P(w2|w1) = (c2+1)/(c1+V).
# Same float discipline as text_bigram_lm: both engines compute
# identical IEEE doubles from identical integer counts, mean ln P
# rounded to 3 dp.


def text_bigram_heldout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out LM scoring; one row per odd doc: (doc_id, n_bigrams,
    heldout_lm_score = round(mean ln P_laplace, 3)).

    Scale shape: identical to text_bigram_lm — two partial-aggregated
    count tables bounded by observed vocabulary (± its square), the
    train/test split is a row-level filter on the same scan, the
    vocabulary size is a 1-row broadcast, and the scoring joins key
    on (w1[,w2]) with AQE choosing broadcast vs shuffle per side."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    big = (
        d.select(
            "doc_id",
            F.slice(toks, 1, n - 1).alias("w1s"),
            F.slice(toks, 2, n - 1).alias("w2s"),
        )
        .select("doc_id", F.explode(F.arrays_zip("w1s", "w2s")).alias("b"))
        .select("doc_id", F.col("b.w1s").alias("w1"), F.col("b.w2s").alias("w2"))
    )
    train = big.filter(F.col("doc_id") % 2 == 0)
    test = big.filter(F.col("doc_id") % 2 == 1)
    c2 = train.groupBy("w1", "w2").agg(F.count("*").alias("n2"))
    c1 = train.groupBy("w1").agg(F.count("*").alias("n1"))
    vocab = (
        d.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode(F.split("text", " ")).alias("w"))
        .agg(F.countDistinct("w").alias("vsize"))
    )
    return (
        test.join(c2, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(
                    F.log(
                        (F.coalesce(F.col("n2"), F.lit(0)) + 1) * 1.0
                        / (F.coalesce(F.col("n1"), F.lit(0)) + F.col("vsize"))
                    )
                ),
                3,
            ).alias("heldout_lm_score"),
        )
        .orderBy("doc_id")
    )


TEXT_BIGRAM_HELDOUT_ORACLE = """
WITH big AS (
  SELECT doc_id,
         unnest(t[1:len(t)-1]) AS w1,
         unnest(t[2:len(t)]) AS w2
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
),
train AS (SELECT * FROM big WHERE doc_id % 2 = 0),
test AS (SELECT * FROM big WHERE doc_id % 2 = 1),
c2 AS (SELECT w1, w2, count(*) AS n2 FROM train GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS n1 FROM train GROUP BY w1),
vocab AS (
  SELECT count(DISTINCT w) AS vsize FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents WHERE doc_id % 2 = 0)
)
SELECT t.doc_id,
       count(*) AS n_bigrams,
       round(avg(ln((coalesce(c2.n2, 0) + 1) * 1.0
                    / (coalesce(c1.n1, 0) + vocab.vsize))), 3) AS heldout_lm_score
FROM test t
LEFT JOIN c2 ON t.w1 = c2.w1 AND t.w2 = c2.w2
LEFT JOIN c1 ON t.w1 = c1.w1
CROSS JOIN vocab
GROUP BY t.doc_id
ORDER BY t.doc_id
"""

STAGED["text_bigram_heldout"] = (text_bigram_heldout, TEXT_BIGRAM_HELDOUT_ORACLE)


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
# (_html_wrap_col is the shared constructor), the word floor is the
# curation gate's, and the schedule is `crawl_frontier_schedule`'s
# wave arithmetic. A hash match on the per-host report therefore
# proves the whole chain end to end — the fetch-side analog of the
# pretraining flagship's ingest→export proof.

_CP_MIN_WORDS = 30


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
    html = _html_wrap_col()
    noscript = F.regexp_replace(
        F.regexp_replace(html, r"(?s)<script.*?</script>", " "),
        r"(?s)<style.*?</style>", " ",
    )
    txt = F.regexp_replace(noscript, "<[^>]+>", " ")
    for ent, ch in _HTML_ENTITIES:
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
                 regexp_replace(regexp_replace({_HTML_WRAP_SQL},
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

STAGED["crawl_pipeline"] = (crawl_pipeline, CRAWL_PIPELINE_ORACLE)


# ---- arrow_ipc_roundtrip ---------------------------------------------------
#
# Arrow IPC (Feather V2) shard roundtrip under the driver harness —
# the typed-interchange lane (sources/arrow_ipc.py: HuggingFace
# Datasets' cache format, Arrow Flight payloads) beside WARC /
# WebDataset / jsonl.zst / TFRecord. Each selected document becomes a
# 3-row shard with an int64, a string AND a BINARY column (the lane
# JSON-Lines refuses by design), written as one record batch per row
# with the buffer compression rotating none/zstd/lz4 by doc_id, then
# read back through the production byte reader. The oracle recomputes
# every row's hashes from the text column, so typed fidelity — incl.
# the bytes column — the batch walk and row order all sit inside the
# driver's hash gate.


def _arrow_ipc_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import hashlib

    from datapipeline_scripts_spark.sources import arrow_ipc as aipc

    comps = (None, "zstd", "lz4")
    for pdf in batches:
        out: dict[str, list] = {"doc_id": [], "row_idx": [], "text_md5": [], "blob_md5": []}
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            d = int(doc_id)
            rows = [
                {
                    "id": d,
                    "text": f"{text or ''}#{i}",
                    "blob": f"{text or ''}#bin{i}".encode("utf-8"),
                }
                for i in range(3)
            ]
            shard = aipc.write_arrow_ipc(rows, compression=comps[d % 3], batches_of=1)
            table = aipc.read_arrow_ipc_bytes(shard, where=f"doc{d}")
            assert table.num_rows == 3
            got = table.to_pylist()
            for i, obj in enumerate(got):
                assert obj["id"] == d
                out["doc_id"].append(d)
                out["row_idx"].append(i)
                out["text_md5"].append(
                    hashlib.md5(obj["text"].encode("utf-8")).hexdigest()
                )
                out["blob_md5"].append(hashlib.md5(obj["blob"]).hexdigest())
        yield pd.DataFrame(out)


ARROW_IPC_ROUNDTRIP_ORACLE = """
    SELECT doc_id,
           CAST(f.i AS BIGINT) AS row_idx,
           md5(coalesce(text, '') || '#' || CAST(f.i AS VARCHAR)) AS text_md5,
           md5(coalesce(text, '') || '#bin' || CAST(f.i AS VARCHAR)) AS blob_md5
    FROM documents, (VALUES (0), (1), (2)) f(i)
    WHERE doc_id % 5 = 3
    ORDER BY doc_id, row_idx
"""


def arrow_ipc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC write→read roundtrip — see the section comment.
    Scale shape: production `read_arrow_ipc` parallelizes one task
    per shard; this key exercises the identical batch walk, typed
    decode (incl. binary) and all three buffer codecs per row inside
    mapInPandas."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 3)
        .select("doc_id", "text")
        # single-file fixture → spread the per-row codec work
        # (scan_spread skips the exchange at multi-split scale)
        .transform(scan_spread(spark, sf_dir, "documents"))
    )
    return docs.mapInPandas(
        _arrow_ipc_worker,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("row_idx", T.LongType()),
                T.StructField("text_md5", T.StringType()),
                T.StructField("blob_md5", T.StringType()),
            ]
        ),
    ).orderBy("doc_id", "row_idx")


STAGED["arrow_ipc_roundtrip"] = (arrow_ipc_roundtrip, ARROW_IPC_ROUNDTRIP_ORACLE)


# ---- corpus_pack_offsets ---------------------------------------------------
#
# The per-document BOUNDARY metadata trainers actually consume from a
# packed corpus: for each doc, which training sequence it landed in
# and its [begin, end) character span inside that sequence — what an
# attention mask / document-boundary loss reset is built from.
# Same deterministic greedy pack as the registered corpus_pack keys
# (shared _PACK_BUDGET, the partitioned 100 TB form: per-source
# exclusive running sum, no single-partition funnel); this key emits
# the doc-grain offsets the shard-grain fill report aggregates away.
# end_off > _PACK_BUDGET marks the shard-crossing doc (standard
# greedy-pack overflow), visible per doc rather than folded into a
# fill ratio.


def corpus_pack_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc packing offsets; one row per doc: (doc_id, source,
    shard_id, begin_off, end_off).

    Scale shape: identical to corpus_pack_partitioned — ONE
    per-source running-sum window over a 3-column projection, then
    pure arithmetic (div/mod against the budget); no second shuffle,
    no funnel."""
    from datapipeline_scripts_spark.extensions.mixture import _PACK_BUDGET

    d = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.coalesce(F.sum("n_chars").over(w), F.lit(0)).alias("cum"),
    ).select(
        "doc_id",
        "source",
        "n_chars",
        (F.col("cum") / F.lit(_PACK_BUDGET)).cast("long").alias("shard_id"),
        (F.col("cum") % F.lit(_PACK_BUDGET)).cast("long").alias("begin_off"),
    )
    return binned.select(
        "doc_id",
        "source",
        "shard_id",
        "begin_off",
        (F.col("begin_off") + F.col("n_chars")).cast("long").alias("end_off"),
    ).orderBy("doc_id")


def _pack_offsets_oracle() -> str:
    from datapipeline_scripts_spark.extensions.mixture import _PACK_BUDGET

    return f"""
WITH cumd AS (
  SELECT doc_id, source, n_chars,
         coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM documents
)
SELECT doc_id, source,
       CAST(cum // {_PACK_BUDGET} AS BIGINT) AS shard_id,
       CAST(cum % {_PACK_BUDGET} AS BIGINT) AS begin_off,
       CAST(cum % {_PACK_BUDGET} + n_chars AS BIGINT) AS end_off
FROM cumd
ORDER BY doc_id
"""


CORPUS_PACK_OFFSETS_ORACLE = _pack_offsets_oracle()

STAGED["corpus_pack_offsets"] = (corpus_pack_offsets, CORPUS_PACK_OFFSETS_ORACLE)


# ---- text_char_entropy -----------------------------------------------------
#
# Character-entropy quality signal — the compression-proxy junk
# filter (published corpus pipelines gate on compression ratio /
# entropy to drop binary spew, repeated-char padding and
# template-degenerate text; Shannon character entropy is the
# SQL-expressible form of that signal, low = degenerate). Float
# determinism here is STRONGER than the avg-of-ln idiom the LM keys
# use: the per-doc entropy is folded over the character histogram in
# SORTED character order on BOTH engines (sort_array + aggregate on
# Spark, list_sort + list_sum on DuckDB), so the IEEE sum order is
# pinned and the doubles are bit-identical by construction, not by
# rounding luck.


def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon character entropy over the normalized text;
    one row per non-empty doc: (doc_id, n_chars_norm,
    n_distinct_chars, char_entropy [nats, 4 dp]).

    Scale shape: the char explode is map-side; both aggregations key
    on doc_id (the second reuses the first's partitioning), and the
    per-doc histogram is alphabet-bounded (≤ a few hundred structs),
    so the sorted fold is O(alphabet) per doc. At 100 TB this is one
    narrow shuffle of (doc_id, char, count) triples."""
    from datapipeline_scripts_spark.functions.text import normalize_text

    d = load_table(spark, sf_dir, "documents")
    chars = F.transform(
        F.sequence(F.lit(1), F.length("s")),
        lambda i: F.substr(F.col("s"), i, F.lit(1)),
    )
    ex = (
        d.select(
            "doc_id", normalize_text(F.coalesce(F.col("text"), F.lit(""))).alias("s")
        )
        .filter(F.length("s") > 0)
        .select("doc_id", F.explode(chars).alias("ch"))
    )
    cnts = ex.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    per = cnts.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count("*").cast("long").alias("n_distinct_chars"),
        F.sort_array(F.collect_list(F.struct(F.col("ch"), F.col("c")))).alias("arr"),
    )
    ent = F.aggregate(
        F.col("arr"),
        F.lit(0.0),
        lambda acc, s: acc
        - (s["c"].cast("double") / F.col("n"))
        * F.log(s["c"].cast("double") / F.col("n")),
    )
    return per.select(
        "doc_id",
        F.col("n").cast("long").alias("n_chars_norm"),
        "n_distinct_chars",
        F.round(ent, 4).alias("char_entropy"),
    ).orderBy("doc_id")


_TCE_NORM = "regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g')"

TEXT_CHAR_ENTROPY_ORACLE = f"""
WITH s AS (
  SELECT doc_id, {_TCE_NORM} AS s FROM documents
),
ex AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, length(s)), i -> s[i])) AS ch
  FROM s WHERE length(s) > 0
),
cnts AS (
  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c FROM ex GROUP BY doc_id, ch
),
per AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_distinct_chars,
         list_sort(list(struct_pack(ch := ch, c := c))) AS arr
  FROM cnts GROUP BY doc_id
)
SELECT doc_id,
       n AS n_chars_norm,
       n_distinct_chars,
       round(list_sum(list_transform(arr,
             s -> -(CAST(s.c AS DOUBLE) / n) * ln(CAST(s.c AS DOUBLE) / n))), 4)
         AS char_entropy
FROM per
ORDER BY doc_id
"""

STAGED["text_char_entropy"] = (text_char_entropy, TEXT_CHAR_ENTROPY_ORACLE)


# ---- embedding_pca_project -------------------------------------------------
#
# The APPLY half of the PCA story (the bpe train→compression idiom):
# project every embedding onto the learned dominant direction and
# report the top-|projection| outliers — what an embedding-quality
# pass actually inspects (vectors dominated by the corpus's principal
# axis are the cluster-collapsed / boilerplate embeddings worth
# auditing before dedup thresholds are calibrated). Integer-exact end
# to end: the projection is Σ qv_i · v3_i over the int8 codes and the
# scaled integer iterate (|proj| ≤ 64·127·1024 — no overflow), shared
# `_pca_learn`/`_pca_chain_sql` so the pair cannot fork.

_PCA_TOPK = 20


def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 dominant-direction outliers; (out_rank, vec_id,
    projection) ordered by |projection| DESC, vec_id tiebreak.

    Scale shape (optimization r14, guide §2.4 — remove shuffles
    outright): the final iterate is 64 Python ints already on the
    driver (_pca_learn's power iteration runs there), so the
    projection is an IN-ROW dot product — 64 codegen'd
    element_at(qv, i) * literal terms per vector, no posexplode, no
    broadcast join, no corpus-sized groupBy exchange (the r13 form
    shuffled N·64 (vec_id, qi, vj) rows through a per-vector sum).
    BIGINT addition is exact and order-independent, so the in-row
    left-to-right sum equals the old groupBy sum bit-for-bit (oracle
    hashes unchanged). The top-k is orderBy+limit (TakeOrdered —
    per-partition heaps, no global sort materialization), then a
    20-row window for the rank."""
    from pyspark.sql.window import Window as W

    _vs, qz, _dims, v_lists = _pca_learn(spark, sf_dir)
    v_final = v_lists[-1]
    terms = [
        F.element_at(F.col("qv"), d + 1) * F.lit(int(v_final[d]))
        for d in range(_PCA_DIMS)
    ]
    proj = qz.select(
        "vec_id", sum(terms[1:], terms[0]).cast("long").alias("projection")
    )
    top = proj.orderBy(F.abs(F.col("projection")).desc(), "vec_id").limit(_PCA_TOPK)
    w = W.orderBy(F.abs(F.col("projection")).desc(), "vec_id")
    return top.select(
        F.row_number().over(w).cast("int").alias("out_rank"),
        "vec_id",
        F.col("projection").cast("long").alias("projection"),
    ).orderBy("out_rank")


EMBEDDING_PCA_PROJECT_ORACLE = f"""
WITH {{chain}},
pe AS (
  SELECT vec_id, u.i AS dim, u.qi AS qi FROM (
    SELECT vec_id,
           unnest(list_transform(generate_series(1, len(qv)),
                                 i -> {{{{'i': i, 'qi': qv[i]}}}})) AS u
    FROM q)
),
proj AS (
  SELECT pe.vec_id, sum(pe.qi * v{_PCA_ITERS}.vj) AS projection
  FROM pe JOIN v{_PCA_ITERS} ON v{_PCA_ITERS}.dim = pe.dim
  GROUP BY pe.vec_id
),
ranked AS (
  SELECT vec_id, projection,
         row_number() OVER (ORDER BY abs(projection) DESC, vec_id) AS rn
  FROM proj
)
SELECT CAST(rn AS INTEGER) AS out_rank, vec_id,
       CAST(projection AS BIGINT) AS projection
FROM ranked WHERE rn <= {_PCA_TOPK}
ORDER BY out_rank
""".format(chain=_pca_chain_sql())

STAGED["embedding_pca_project"] = (
    embedding_pca_project,
    EMBEDDING_PCA_PROJECT_ORACLE,
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
