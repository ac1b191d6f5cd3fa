"""Round-10 query keys — staged through round 9 (the staged_r9.py
pattern, one round later) and REGISTERED in round 10 via the
``@query`` decorators below. Each key was held to the registration bar a
full round before exposure: `tests/test_staged_r10.py` runs every
builder against its DuckDB oracle at both fixture SFs, and the
registration test pins the registry to the same builder/oracle pair
the proofs ran.

tfrecord_roundtrip: each document's text becomes a 2-record TFRecord
shard (record 0 = the utf-8 text, record 1 = the little-endian
doc_id) executor-side, gzip-wrapped for odd doc_ids so both
compression paths sit under the driver's eye, then flows back through
the PRODUCTION parse path (sources/tfrecord.py — which VERIFIES both
masked CRC32Cs of every record, so a green row proves the whole
frame/CRC writer-parser pair, not just the payload bytes). The DuckDB
oracle recomputes the record inventory and the text hash from the
documents table alone (md5(coalesce(text,'')) mirrors the worker's
``(text or "")`` — the ADVICE r08 NULL-text discipline applied from
the start).

tfexample_dataset_roundtrip: the EXPORT half — documents → tf.Example
protos (encoder proven bit-exact against the canonical JVM protobuf
runtime) → executor-written gzip TFRecord shards → typed read-back;
see the section comment below.

dedup_passage_winnow: the dedup modality the family still lacked —
shared-passage (substring-level) duplicate pairs via the proven
winnowing fingerprint; see the section comment below.

jsonl_export_roundtrip: the text-corpus export half — distributed
.jsonl.zst sink with its writer-attested manifest feeding the
reader's truncation check; see the section comment below.

webdataset_export_roundtrip: the multimodal-shard export half —
distributed tar sink → production sample walk, completing driver
coverage of all three export sinks; see the section comment below.

multimodal_resize: the RESIZE step of the multimodal chain — real
BMP decode → exact integer box resample, arithmetic oracle; see the
section comment below.
"""

from __future__ import annotations

import gzip
import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from datapipeline_scripts_spark.catalog import load_table, scan_spread
from datapipeline_scripts_spark.registry import query


def _tfrecord_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from datapipeline_scripts_spark.sources import tfrecord as tfr

    for pdf in batches:
        out: dict[str, list] = {
            "doc_id": [],
            "n_records": [],
            "text_md5": [],
            "id_echo": [],
        }
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            d = int(doc_id)
            body = (text or "").encode("utf-8")
            shard = tfr.write_tfrecord([body, struct.pack("<q", d)])
            if d % 2:  # rotate the gzip layer through the same proof
                # level 1 (optimization r14, the WARC precedent): the
                # parse below inflates identically at any level
                shard = gzip.compress(shard, compresslevel=1)
            recs = tfr.parse_tfrecord(shard, where=f"doc{d}")
            out["doc_id"].append(d)
            out["n_records"].append(len(recs))
            out["text_md5"].append(hashlib.md5(recs[0]).hexdigest())
            out["id_echo"].append(struct.unpack("<q", recs[1])[0])
        yield pd.DataFrame(out)


TFRECORD_ROUNDTRIP_ORACLE = """
    SELECT doc_id,
           CAST(2 AS INTEGER) AS n_records,
           md5(coalesce(text, '')) AS text_md5,
           doc_id AS id_echo
    FROM documents
    WHERE doc_id % 5 = 1
    ORDER BY doc_id
"""


@query("tfrecord_roundtrip", oracle=TFRECORD_ROUNDTRIP_ORACLE)
def tfrecord_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TFRecord write→parse roundtrip under the driver harness — see
    the module docstring for the proof structure. Scale shape: the
    production `read_tfrecord` parallelizes one task per shard (the
    format's native unit); this key exercises the identical frame
    grammar, both masked CRC32Cs per record and the gzip layer per row
    inside mapInPandas, integers/strings only across the worker
    boundary."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 1)
        .select("doc_id", "text")
        # the fixture parquet loads as ONE partition, which would
        # serialize the per-row CRC/gzip work — scan_spread spreads it
        # across cores and skips the exchange once the scan splits
        # feed the cores itself (optimization r14)
        .transform(scan_spread(spark, sf_dir, "documents"))
    )
    return docs.mapInPandas(
        _tfrecord_worker,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("n_records", T.IntegerType()),
                T.StructField("text_md5", T.StringType()),
                T.StructField("id_echo", T.LongType()),
            ]
        ),
    ).orderBy("doc_id")


STAGED: dict[str, tuple] = {
    "tfrecord_roundtrip": (tfrecord_roundtrip, TFRECORD_ROUNDTRIP_ORACLE),
}


# ---- tfexample_dataset_roundtrip ---------------------------------------------
#
# The EXPORT half of the training-shard story under the driver
# harness: documents become tf.Example protos (int64 doc_id, utf-8
# text bytes, a binary32-exact float score) encoded by
# sources/tfexample.py, written as gzip TFRecord shards BY THE
# EXECUTORS (sources/tfrecord.py write_tfrecord_dataset — one shard
# per partition, only file names reach the driver), then read back
# through the typed production reader (read_tfexample: CRC-verified
# record walk + example decode + feature projection in ONE worker
# pass). The oracle recomputes everything from the documents table
# alone, so a hash match proves the full encode → frame/CRC → gzip →
# parse → decode → project chain lossless — the tf.Example encoder
# itself is proven bit-exact against the canonical JVM protobuf
# runtime in tests/test_tfexample.py. Score uses 0.25 steps so the
# binary32 value is exact in both engines (the repo's
# integer-quantization exactness idiom).

def _tfexample_encode_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from datapipeline_scripts_spark.sources import tfexample as tfe

    for pdf in batches:
        records = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            d = int(doc_id)
            records.append(
                tfe.encode_example(
                    {
                        "doc_id": [d],
                        "text": [(text or "").encode("utf-8")],
                        "score": ("float", [(d % 1000) * 0.25]),
                    }
                )
            )
        yield pd.DataFrame({"record": records})


TFEXAMPLE_DATASET_ROUNDTRIP_ORACLE = """
    SELECT doc_id,
           md5(coalesce(text, '')) AS text_md5,
           CAST(doc_id % 1000 AS DOUBLE) * 0.25 AS score
    FROM documents
    WHERE doc_id % 5 = 0
    ORDER BY doc_id
"""


@query("tfexample_dataset_roundtrip", oracle=TFEXAMPLE_DATASET_ROUNDTRIP_ORACLE)
def tfexample_dataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed tf.Example export → typed import under the driver
    harness — see the section comment above. Scale shape: encode and
    write are embarrassingly parallel (one shard per partition,
    executor-side IO, driver sees file names only); read is one task
    per shard; nothing but the projected columns crosses the worker
    boundary. This is exactly how a 100 TB corpus ships to a
    TensorFlow trainer."""
    import os
    import tempfile

    from datapipeline_scripts_spark.sources import tfexample as tfe
    from datapipeline_scripts_spark.sources import tfrecord as tfr

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text")
        .transform(scan_spread(spark, sf_dir, "documents"))
    )
    records = docs.mapInPandas(
        _tfexample_encode_worker,
        schema=T.StructType([T.StructField("record", T.BinaryType())]),
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_tfexample_roundtrip_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{spark.sparkContext.applicationId}",
    )
    tfr.write_tfrecord_dataset(records, out, compress=True, mode="overwrite")
    read_back = tfe.read_tfexample(
        spark,
        out,
        features={"doc_id": "int64", "text": "string", "score": "float"},
    )
    return (
        read_back.select(
            "doc_id",
            F.md5(F.encode(F.col("text"), "UTF-8")).alias("text_md5"),
            "score",
        )
        .orderBy("doc_id")
    )


STAGED["tfexample_dataset_roundtrip"] = (
    tfexample_dataset_roundtrip,
    TFEXAMPLE_DATASET_ROUNDTRIP_ORACLE,
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

_PW_WINDOW = 4  # winnow window (matches text_winnow)
_PW_CAP = 32  # max docs per fingerprint (prefix filtering)
_PW_MIN_SHARED = 2


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
        "doc_id", F.explode(winnow_fps(F.col("toks"), _PW_WINDOW)).alias("fp")
    )


def _passage_oracle() -> str:
    from datapipeline_scripts_spark.functions.text import md5_48_sql

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
                            ROWS BETWEEN CURRENT ROW AND {_PW_WINDOW - 1} FOLLOWING) AS fp,
               count(*) OVER (PARTITION BY doc_id) AS n
        FROM hashed
      )
      WHERE pos <= greatest(n - {_PW_WINDOW}, 0)
    ),
    capped AS (
      SELECT fp FROM winnowed GROUP BY fp
      HAVING count(*) BETWEEN 2 AND {_PW_CAP}
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      FROM winnowed a JOIN capped USING (fp) JOIN winnowed b USING (fp)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, shared
    FROM pairs
    WHERE shared >= {_PW_MIN_SHARED}
    ORDER BY doc_a, doc_b
    """


DEDUP_PASSAGE_WINNOW_ORACLE = _passage_oracle()


@query("dedup_passage_winnow", oracle=DEDUP_PASSAGE_WINNOW_ORACLE)
def dedup_passage_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-passage pair detection — see the section comment above.
    Scale shape: the winnow min-window collapses |tokens| →
    ~|tokens|/{_PW_WINDOW} fingerprints BEFORE the distinct shuffle;
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
    wfp = Window.partitionBy("fp")
    indexed = (
        fps.withColumn("n_docs", F.count("*").over(wfp))
        .filter((F.col("n_docs") >= 2) & (F.col("n_docs") <= _PW_CAP))
        .select("fp", "doc_id")
    )
    a = indexed.select(F.col("fp"), F.col("doc_id").alias("doc_a"))
    b = indexed.select(F.col("fp"), F.col("doc_id").alias("doc_b"))
    pairs = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= _PW_MIN_SHARED)
    )
    return pairs.orderBy("doc_a", "doc_b")


STAGED["dedup_passage_winnow"] = (dedup_passage_winnow, DEDUP_PASSAGE_WINNOW_ORACLE)


# ---- jsonl_export_roundtrip ----------------------------------------------------
#
# The text-corpus EXPORT half under the driver harness (the Dolma/Pile
# packaging, written rather than read): a documents slice goes through
# the DISTRIBUTED .jsonl.zst sink (sources/jsonl_zst.py
# write_jsonl_zst_dataset — one multi-frame shard per partition,
# executor-side, manifest attested in the same pass), then back
# through the production reader WITH the writer's manifest feeding the
# frame-boundary-truncation check (`expected_rows`) — the full
# write→attest→verified-read loop the ADVICE r08 integrity work built,
# as one driver-gated key. The oracle recomputes the projection from
# the documents table alone.

JSONL_EXPORT_ROUNDTRIP_ORACLE = """
    SELECT doc_id,
           md5(coalesce(text, '')) AS text_md5
    FROM documents
    WHERE doc_id % 7 = 3
    ORDER BY doc_id
"""

@query("jsonl_export_roundtrip", oracle=JSONL_EXPORT_ROUNDTRIP_ORACLE)
def jsonl_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed .jsonl.zst export → manifest-verified import under
    the driver harness — see the section comment above. Scale shape:
    one shard per partition out, one task per shard back, manifest
    entries are one int per shard; no driver data path either way."""
    import os
    import tempfile

    from datapipeline_scripts_spark.sources import jsonl_zst as jz

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 3)
        .select("doc_id", "text")
        .transform(scan_spread(spark, sf_dir, "documents"))
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_jsonl_export_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{spark.sparkContext.applicationId}",
    )
    entries = jz.write_jsonl_zst_dataset(
        docs, out, frames_of=64, mode="overwrite", manifest=True
    )
    expected = {os.path.basename(e["path"]): e["n_records"] for e in entries}
    read_back = jz.read_jsonl_zst(
        spark, out, fields=["doc_id", "text"], expected_rows=expected
    )
    return read_back.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8")).alias(
            "text_md5"
        ),
    ).orderBy("doc_id")



STAGED["jsonl_export_roundtrip"] = (
    jsonl_export_roundtrip,
    JSONL_EXPORT_ROUNDTRIP_ORACLE,
)


# ---- webdataset_export_roundtrip -----------------------------------------------
#
# The multimodal-shard EXPORT half under the driver harness
# (completing driver coverage of all three sinks: TFRecord via
# tfexample_dataset_roundtrip, .jsonl.zst via jsonl_export_roundtrip,
# WebDataset here): a documents slice packs into executor-written tar
# shards via the DISTRIBUTED sink (sources/webdataset.py
# write_webdataset_dataset — txt member + cls member per sample,
# deterministic zeroed-metadata members), then flows back through the
# production sample walk (read_webdataset). The oracle recomputes the
# member inventory and text hash from the documents table alone.

WEBDATASET_EXPORT_ROUNDTRIP_ORACLE = """
    SELECT doc_id,
           CAST(2 AS INTEGER) AS n_files,
           md5(coalesce(text, '')) AS txt_md5,
           CAST(doc_id % 10 AS INTEGER) AS cls
    FROM documents
    WHERE doc_id % 7 = 5
    ORDER BY doc_id
"""

@query("webdataset_export_roundtrip", oracle=WEBDATASET_EXPORT_ROUNDTRIP_ORACLE)
def webdataset_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed WebDataset export → import under the driver
    harness — see the section comment above. Scale shape: one tar
    shard per partition out (executor-side, names-only to the
    driver), one task per shard back, the sample's members staying
    co-located in one map column — zero shuffle either way beyond the
    output sort."""
    import os
    import tempfile

    from datapipeline_scripts_spark.sources import webdataset as wds

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 5)
        .select(
            F.format_string("%09d", F.col("doc_id")).alias("k"),
            F.coalesce(F.col("text"), F.lit("")).alias("txt"),
            (F.col("doc_id") % 10).cast("string").alias("cls"),
            "doc_id",
        )
        .transform(scan_spread(spark, sf_dir, "documents"))
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_wds_export_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{spark.sparkContext.applicationId}",
    )
    wds.write_webdataset_dataset(
        docs, out, key_col="k", file_cols={"txt": "txt", "cls": "cls"},
        mode="overwrite",
    )
    read_back = wds.read_webdataset(spark, out)
    return read_back.select(
        F.col("key").cast("long").alias("doc_id"),
        F.size("files").alias("n_files"),
        F.md5(F.col("files")["txt"]).alias("txt_md5"),
        F.col("files")["cls"].cast("string").cast("int").alias("cls"),
    ).orderBy("doc_id")



STAGED["webdataset_export_roundtrip"] = (
    webdataset_export_roundtrip,
    WEBDATASET_EXPORT_ROUNDTRIP_ORACLE,
)


# ---- multimodal_resize -----------------------------------------------------
#
# The RESIZE step of the multimodal chain under the driver harness
# (SURVEY §2.E4 names decode / feature-extract / resize /
# frame-sample; the first, second and fourth are driver-gated since
# r2/r8/r9 — this closes the set): per-document 8-bit palette BMPs
# (identity grayscale palette, so decoded gray == palette index
# exactly; RLE8 rotating on odd doc_ids) are encoded and decoded
# through the production stdlib codec, then box-resized 16×8 → 4×2 by
# the EXACT integer area resample (extensions/imageops.py). For the
# 4×4 divisor geometry every output pixel is floor(block_sum/16) of
# the pixel formula (d·3 + 5x + 11y + xy) % 256, which the DuckDB
# oracle recomputes term by term — decode, resize arithmetic and
# pixel order all inside the hash gate.

_RZ_W, _RZ_H, _RZ_TW, _RZ_TH = 16, 8, 4, 2


def _resize_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from datapipeline_scripts_spark.extensions import bmp_stdlib as bs
    from datapipeline_scripts_spark.extensions.imageops import box_resize_gray

    identity = bytes(c for i in range(256) for c in (i, i, i))
    for pdf in batches:
        out: dict[str, list] = {"doc_id": []}
        for i in range(_RZ_TW * _RZ_TH):
            out[f"p{i}"] = []
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            indices = bytes(
                (d * 3 + 5 * x + 11 * y + x * y) % 256
                for y in range(_RZ_H)
                for x in range(_RZ_W)
            )
            payload = bs.encode_bmp(
                _RZ_W, _RZ_H, indices, palette=identity, rle=bool(d % 2)
            )
            w, h, gray = bs.bmp_decode_gray(payload)
            small = box_resize_gray(bytes(gray), w, h, _RZ_TW, _RZ_TH)
            out["doc_id"].append(d)
            for i, px in enumerate(small):
                out[f"p{i}"].append(px)
        yield pd.DataFrame(out)


def _resize_oracle() -> str:
    cols = []
    bw, bh = _RZ_W // _RZ_TW, _RZ_H // _RZ_TH
    for ty in range(_RZ_TH):
        for tx in range(_RZ_TW):
            terms = " + ".join(
                f"((doc_id * 3 + {5 * (tx * bw + dx) + 11 * (ty * bh + dy) + (tx * bw + dx) * (ty * bh + dy)}) % 256)"
                for dy in range(bh)
                for dx in range(bw)
            )
            cols.append(
                f"CAST(({terms}) // {bw * bh} AS INTEGER) AS p{ty * _RZ_TW + tx}"
            )
    sel = ",\n           ".join(cols)
    return f"""
        SELECT doc_id,
           {sel}
        FROM documents
        WHERE doc_id % 7 = 1
        ORDER BY doc_id
    """


MULTIMODAL_RESIZE_ORACLE = _resize_oracle()


@query("multimodal_resize", oracle=MULTIMODAL_RESIZE_ORACLE)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real decode → exact box resize under the driver harness — see
    the section comment above. Scale shape: identical to the codec
    siblings (embarrassingly parallel Arrow-batch work, only (doc_id,
    8 ints) across the worker boundary — the thumbnail-extraction
    shape at corpus scale)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 1)
        .select("doc_id")
        .transform(scan_spread(spark, sf_dir, "documents"))
    )
    fields = [T.StructField("doc_id", T.LongType())] + [
        T.StructField(f"p{i}", T.IntegerType()) for i in range(_RZ_TW * _RZ_TH)
    ]
    return docs.mapInPandas(
        _resize_worker, schema=T.StructType(fields)
    ).orderBy("doc_id")


STAGED["multimodal_resize"] = (multimodal_resize, MULTIMODAL_RESIZE_ORACLE)
