"""The end-to-end pretraining-corpus flagship: every stage a real
LLM data pipeline runs, chained as ONE driver-gated key
(`pretraining_pipeline`), hash-proven against a DuckDB oracle that
recomputes the final shard inventory from the `documents` table alone:

    WARC ingest → quality + language-ID + repetition gate
    → winnow shared-passage dedup → MinHash near-dup dedup
    → mixture downsampling → deterministic packing
    → tf.Example/TFRecord export with writer-attested manifest
    → CRC-verified typed read-back → per-shard inventory

Every stage reuses the SEMANTICS (constants, hash family, SQL
fragments) of its already-proven standalone key, so the chain cannot
fork from the parts: the gate is `curation_pipeline`'s (_MIN_WORDS,
marker argmax) plus `text_repetition`'s 30% boilerplate line; passage
dedup is `dedup_passage_winnow`'s winnow/cap/min-shared; near-dup is
`dedup_minhash`'s 16-hash/4-band Kirsch-Mitzenmacher construction with
the k≥8 (est ≥ 0.5) cut; the mixture weight is `corpus_mixture`'s
uniform-target basis-point formula applied as a deterministic
md5-bucket downsample; packing is `corpus_pack_partitioned`'s
per-source exclusive running sum; export/read-back are the
`tfexample_dataset_roundtrip` writer/reader pair (encoder proven
bit-exact against the JVM protobuf runtime, every record's masked
CRC32Cs verified on read, manifest-backed truncation check).

A hash match on the final inventory therefore proves the WHOLE chain:
the WARC codec is lossless in-chain, every gate/dedup/sample/pack
decision is reproduced bit-for-bit by an independent engine, and the
exported shards contain exactly the curated corpus.

Scale shape (each claim inherited from the standalone key's audited
plan): the ingest and export passes are Arrow-batched workers with one
task per row-batch / per pack — no driver data path except the
manifest (one ~60-byte row per SHARD, the documented KB-bound
contract, same as every `write_*_dataset` manifest). Each stage's
artifact is finished before the next stage reads it, as in the
reference pipeline: the curated set, the MinHash signatures, the
MinHash survivors, the winnow fingerprints and the winnow survivors
are each materialized once as an eager local checkpoint (at 100 TB
these are the checkpoints every production pipeline materializes
between curation, dedup and packing). The checkpoint cuts the
lineage, so the export query plans from the last checkpoint instead
of carrying the whole chain. The trade: checkpoint blocks live only
on the executor that wrote them, so losing an executor mid-build
fails the build instead of recomputing the lost stage; a durable
(reliable-storage) checkpoint mode would lift that. All blocks are
released when the build ends, including when a stage raises. The
export shards stay in the temp directory until the next build of the
same application or driver exit. The only data-sized shuffles carry
winnow/minhash fingerprints and (source, pack) keys — never document
bodies; pair generation is doc-frequency-capped (winnow) and
band-bucketed (minhash), cartesian-free.

Reference parity: the reference's pipeline is extract → verify →
restore (backup.sh:264-375); this is the analogous end-to-end drill
for the training-corpus surface — every exported shard proven
restorable by restoring it.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from datapipeline_scripts_spark.catalog import group_spread, load_table, scan_spread
from datapipeline_scripts_spark.extensions.curation import (
    _H_DE,
    _H_EN,
    _H_ES,
    _MIN_WORDS,
    _NORM_SQL,
    _PREDICTED_SQL,
    _lang_columns,
)
from datapipeline_scripts_spark.extensions.dedup import (
    _BANDS,
    _N_HASHES,
    PW_CAP,
    PW_MIN_SHARED,
    PW_WINDOW,
    _minhash_hex32_sql,
    band_join,
    band_rows_hashed,
    sig_agreement,
)
from datapipeline_scripts_spark.functions.text import md5_48, md5_48_sql, shingles, tokens
from datapipeline_scripts_spark.registry import query

_REP_BP_MAX = 3000  # text_repetition's boilerplate line (30%)
_MIX_MOD = 10000  # mixture weights and sample buckets in basis points
_PACK_BUDGET = 4096  # chars per training shard (token-proxy budget)
_MH_MIN_MATCHES = _N_HASHES // 2  # k ≥ 8 of 16 ⇔ est_jaccard ≥ 0.5

_WARC_HTTP_HEAD = b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"


def _ingest_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-row WARC encode → production parse → recovered (doc_id,
    source, text): the corpus enters the chain THROUGH the WARC codec
    (source rides the target URI), so a final hash match proves the
    ingest leg lossless, not just exercised."""
    from datapipeline_scripts_spark.sources import warc

    for pdf in batches:
        out: dict[str, list] = {"doc_id": [], "source": [], "text": []}
        for doc_id, source, text in zip(pdf["doc_id"], pdf["source"], pdf["text"]):
            d = int(doc_id)
            body = (text or "").encode("utf-8")
            rec_bytes = warc.write_warc_record(
                "response",
                f"<urn:uuid:00000000-0000-0000-0000-{d:012d}>",
                "2026-01-02T03:04:05Z",
                _WARC_HTTP_HEAD + body,
                target_uri=f"https://corpus.example/{source}/{d}",
                content_type="application/http;msgtype=response",
                gzip_member=True,
            )
            (rec,) = warc.parse_warc(rec_bytes)
            _status, _headers, parsed_body = warc.split_http(rec["content"])
            uri = rec["headers"]["warc-target-uri"]
            out["doc_id"].append(d)
            out["source"].append(uri.rsplit("/", 2)[-2])
            out["text"].append(parsed_body.decode("utf-8"))
        yield pd.DataFrame(out)


def _export_writer(out_dir: str):
    """applyInPandas worker: one deterministic TFRecord shard per
    (source, pack_id) group — docs as tf.Example protos in doc_id
    order — returning the manifest row (shard basename, record count)
    the read-back pass verifies against."""

    def write_pack(pdf: pd.DataFrame) -> pd.DataFrame:
        from datapipeline_scripts_spark.sources import tfexample as tfe
        from datapipeline_scripts_spark.sources import tfrecord as tfr

        pdf = pdf.sort_values("doc_id")
        source = str(pdf["source"].iloc[0])
        pack = int(pdf["pack_id"].iloc[0])
        # executor-side: on a shared-FS cluster the driver's makedirs
        # may race or not be visible yet — same contract as shard_sink
        os.makedirs(out_dir, exist_ok=True)
        records = [
            tfe.encode_example({"doc_id": [int(d)], "text": [str(t)]})
            for d, t in zip(pdf["doc_id"], pdf["text"])
        ]
        name = f"{source}-{pack:06d}.tfrecord"
        with open(os.path.join(out_dir, name), "wb") as fh:
            fh.write(tfr.write_tfrecord(records))
        return pd.DataFrame({"shard": [name], "n_records": [len(records)]})

    return write_pack


@functools.cache
def _remove_at_exit(out_dir: str) -> None:
    """Remove the export directory when the driver exits (A4
    guaranteed cleanup). The read-back frame a build returns stays lazy
    over the shards, so the directory must outlive the build; the next
    build of the same application replaces it. Registered once per
    directory, however many builds write it."""
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)


def _winnow_drop(gated: DataFrame, pin) -> DataFrame:
    """DISTINCT doc_ids to drop per shared-passage pairs — the exact
    dedup_passage_winnow construction (same window/cap/min-shared) over
    the gated set; the dropped side is every pair's HIGHER doc_id.
    The fingerprint table is pinned (``pin``): it feeds the cap filter
    AND both sides of the pair join, and recomputing the posexplode +
    window chain per consumer multiplies the chain's cost — the same
    dedup-index materialization a production pipeline persists."""
    # fingerprints computed IN-ROW (optimization r13, guide §2.4:
    # winnow_fps replaces the posexplode → two-window → distinct
    # form, which shuffled every shingle triple twice; bit-identical
    # values, oracle-reproven through the chain hash)
    from datapipeline_scripts_spark.functions.text import winnow_fps

    fps = pin(
        gated.select(
            "doc_id", F.explode(winnow_fps(F.col("toks"), PW_WINDOW)).alias("fp")
        )
    )
    # doc-frequency cap as a WINDOW count over fp instead of
    # groupBy(fp).count() + join-back (optimization r14, guide §2.4 —
    # same rewrite as dedup_passage_winnow): one fp exchange instead
    # of two, and the a×b self-join reuses it.
    wfp = W.partitionBy("fp")
    indexed = (
        fps.withColumn("n_docs", F.count("*").over(wfp))
        .filter((F.col("n_docs") >= 2) & (F.col("n_docs") <= PW_CAP))
        .select("fp", "doc_id")
    )
    a = indexed.select("fp", F.col("doc_id").alias("doc_a"))
    b = indexed.select("fp", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= PW_MIN_SHARED)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )


def _minhash_drop(docs: DataFrame, pin) -> DataFrame:
    """DISTINCT doc_ids to drop per MinHash near-dup pairs — the exact
    dedup_minhash construction (one md5 per shingle, 16 K-M double
    hashes, 4 bands) with the integer k ≥ 8 cut (≡ est ≥ 0.5);
    dropped side = each pair's higher doc_id. The signature table is
    pinned: both sides of the band self-join read it, and its lineage
    (shingle explode + md5 + 16-min aggregate) is the branch's whole
    cost."""
    sh = docs.select(
        "doc_id", F.explode(F.array_distinct(shingles(F.col("toks"), 3))).alias("sh")
    )
    hh = sh.select("doc_id", F.md5("sh").alias("m")).select(
        "doc_id",
        F.conv(F.substring("m", 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring("m", 9, 8), 16, 10).cast("long").alias("h2"),
    )
    two32 = F.lit(4294967296)
    sig = pin(
        hh.groupBy("doc_id")
        .agg(
            *[
                F.min((F.col("h1") + F.lit(i) * F.col("h2")) % two32).alias(f"h{i}")
                for i in range(_N_HASHES)
            ]
        )
        .withColumn("sig", F.array(*[f"h{i}" for i in range(_N_HASHES)]))
    )
    rows_per_band = _N_HASHES // _BANDS
    # band rows keyed by xxhash64 of the band's values with exact band
    # re-verification at the join output (optimization r14, guide §2.3
    # — see dedup.band_rows_hashed): identical candidate set, long
    # join keys instead of ~40-byte strings through the band exchange.
    bands = band_rows_hashed(sig, _BANDS, rows_per_band)
    # the match count is a pure function of the pair and this stage
    # only needs the distinct doc_b set past the threshold, so the
    # filter runs at the join output and the terminal .distinct()
    # absorbs the pair-level dedup — the exchange that used to carry
    # two 16-long arrays per collision now never happens; only the
    # surviving doc_b longs shuffle.
    return (
        band_join(bands, bands, rows_per_band, F.col("x.doc_id") < F.col("y.doc_id"))
        .filter(sig_agreement(_N_HASHES) >= _MH_MIN_MATCHES)
        .select(F.col("y.doc_id").alias("doc_id"))
        .distinct()
    )


def _oracle() -> str:
    """The DuckDB twin of the whole chain, from `documents` alone.
    Stage fragments are the standalone keys' proven oracles inlined
    over the chain's intermediate CTEs."""
    hex1 = _minhash_hex32_sql("md5(sh)", 1)
    hex9 = _minhash_hex32_sql("md5(sh)", 9)
    h_defs = ",\n             ".join(
        f"min((h1 + {i} * h2) % 4294967296) AS h{i}" for i in range(_N_HASHES)
    )
    rows_per_band = _N_HASHES // _BANDS
    band_rows = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, {b} AS band, concat_ws(',', "
        + ", ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band))
        + ") AS bucket FROM mh_sig"
        for b in range(_BANDS)
    )
    matches = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(_N_HASHES)
    )
    doc_bucket = md5_48_sql("CAST(doc_id AS VARCHAR)")
    return f"""
WITH ing AS (
  SELECT doc_id, source, coalesce(text, '') AS text FROM documents
),
base AS (
  SELECT doc_id, source, text, {_NORM_SQL} AS norm_text FROM ing
),
tokd AS (
  SELECT doc_id, source, text, norm_text,
         string_split(norm_text, ' ') AS toks
  FROM base
),
sig0 AS (
  SELECT doc_id, source, text, norm_text, toks,
         len(toks) AS n_words,
         {_H_EN} AS h_en, {_H_ES} AS h_es, {_H_DE} AS h_de,
         CASE WHEN len(toks) >= 3 THEN
           len(toks) - 2
           - len(list_distinct(list_transform(generate_series(1, len(toks) - 2),
                 i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))))
         ELSE 0 END AS n_repeated,
         CASE WHEN len(toks) >= 3 THEN len(toks) - 2 ELSE 0 END AS n_sh
  FROM tokd
),
gated AS (
  SELECT doc_id, source, text, toks
  FROM (SELECT *, {_PREDICTED_SQL} AS predicted FROM sig0)
  WHERE n_words >= {_MIN_WORDS}
    AND (h_en + h_es + h_de) > 0
    AND predicted <> 'und'
    AND n_sh > 0 AND n_repeated * {_MIX_MOD} // n_sh <= {_REP_BP_MAX}
),
mh_s AS (
  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
           i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))) AS sh
  FROM gated WHERE len(toks) >= 3
),
mh_hh AS (
  SELECT doc_id, {hex1} AS h1, {hex9} AS h2 FROM mh_s
),
mh_sig AS (
  SELECT doc_id,
             {h_defs}
  FROM mh_hh GROUP BY doc_id
),
mh_bands AS (
{band_rows}
),
mh_drop AS (
  SELECT DISTINCT doc_b AS doc_id FROM (
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM mh_bands x JOIN mh_bands y
      ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    GROUP BY 1, 2
  ) p
  JOIN mh_sig a ON p.doc_a = a.doc_id
  JOIN mh_sig b ON p.doc_b = b.doc_id
  WHERE ({matches}) >= {_MH_MIN_MATCHES}
),
s2 AS (
  SELECT * FROM gated WHERE doc_id NOT IN (SELECT doc_id FROM mh_drop)
),
pw_sh AS (
  SELECT doc_id, CAST(pos AS INTEGER) AS pos,
         concat(toks[pos + 1], ' ', toks[pos + 2], ' ', toks[pos + 3]) AS sh
  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 2)) AS pos FROM s2)
),
pw_hashed AS (SELECT doc_id, pos, {md5_48_sql("sh")} AS h FROM pw_sh),
pw_fps AS (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id, pos,
           min(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {PW_WINDOW - 1} FOLLOWING) AS fp,
           count(*) OVER (PARTITION BY doc_id) AS n
    FROM pw_hashed
  )
  WHERE pos <= greatest(n - {PW_WINDOW}, 0)
),
pw_capped AS (
  SELECT fp FROM pw_fps GROUP BY fp
  HAVING count(*) BETWEEN 2 AND {PW_CAP}
),
pw_drop AS (
  SELECT DISTINCT doc_b AS doc_id FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
    FROM pw_fps a JOIN pw_capped USING (fp) JOIN pw_fps b USING (fp)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) WHERE shared >= {PW_MIN_SHARED}
),
s3 AS (
  SELECT doc_id, source, text, length(text) AS nc
  FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM pw_drop)
),
weights AS (
  SELECT source,
         CAST(((SELECT sum(nc) FROM s3) * {_MIX_MOD})
              // ((SELECT count(DISTINCT source) FROM s3) * sum(nc)) AS BIGINT)
           AS weight_bp
  FROM s3 GROUP BY source
),
sampled AS (
  SELECT s3.* FROM s3 JOIN weights USING (source)
  WHERE ({doc_bucket}) % {_MIX_MOD} < least(weight_bp, {_MIX_MOD})
),
packed AS (
  SELECT doc_id, source, text, nc,
         CAST(coalesce(sum(nc) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              // {_PACK_BUDGET} AS BIGINT) AS pack_id
  FROM sampled
)
SELECT source, pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nc) AS BIGINT) AS n_chars,
       CAST(sum(doc_id) AS BIGINT) AS doc_id_sum,
       CAST(sum({md5_48_sql("text")}) AS BIGINT) AS text_hash_sum
FROM packed
GROUP BY source, pack_id
ORDER BY source, pack_id
"""


_INVENTORY_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.StringType()),
        T.StructField("n_records", T.LongType()),
    ]
)


@query("pretraining_pipeline", oracle=_oracle())
def pretraining_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole pretraining-corpus build as one driver-gated chain —
    see the module docstring for the stage list and proof structure.
    Returns the per-shard inventory RECOMPUTED FROM THE EXPORTED
    SHARDS (CRC-verified, manifest-checked typed read-back), so the
    hash gate closes over the export leg too."""
    out_dir = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_pretraining_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{spark.sparkContext.applicationId}",
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    _remove_at_exit(out_dir)

    # S0: WARC ingest (fixture parquet is one partition — spread the
    # per-row codec work; a no-op at real multi-partition scale)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .transform(scan_spread(spark, sf_dir, "documents"))
    )
    ingested = docs.mapInPandas(
        _ingest_worker,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("source", T.StringType()),
                T.StructField("text", T.StringType()),
            ]
        ),
    )

    # S1: quality + langid + repetition gate (curation_pipeline's gate
    # plus text_repetition's 30% boilerplate line), all in-row
    toks = tokens(F.col("text"))
    n_words = F.size(toks)
    h_en, h_es, h_de, predicted = _lang_columns(toks)
    sh3 = shingles(toks, 3)
    n_sh = F.when(n_words >= 3, n_words - 2).otherwise(0)
    n_repeated = F.when(n_words >= 3, n_words - 2 - F.size(F.array_distinct(sh3))).otherwise(0)
    gated = (
        ingested.select(
            "doc_id",
            "source",
            "text",
            toks.alias("toks"),
            n_words.alias("n_words"),
            (h_en + h_es + h_de).alias("hits"),
            predicted.alias("predicted"),
            n_sh.alias("n_sh"),
            n_repeated.alias("n_repeated"),
        )
        .filter(
            (F.col("n_words") >= _MIN_WORDS)
            & (F.col("hits") > 0)
            & (F.col("predicted") != "und")
            & (F.col("n_sh") > 0)
            & (F.expr(f"n_repeated * {_MIX_MOD} div n_sh") <= _REP_BP_MAX)
        )
        .select("doc_id", "source", "text", "toks")
    )
    # the curated set and the dedup index tables each feed several
    # consumers — pin them once, exactly the checkpoints a production
    # pipeline materializes between curation, dedup and packing. A pin
    # is an eager local checkpoint: it runs its stage now and cuts the
    # lineage there, so every later plan starts from a LogicalRDD leaf
    # instead of carrying the whole upstream chain, which a persist()
    # keeps and AQE re-renders after every query stage. The blocks are
    # disk-spillable and released in the finally; they live only on
    # their executors (the trade is in the module docstring).
    pinned: list[DataFrame] = []

    def pin(df: DataFrame) -> DataFrame:
        pinned.append(df.localCheckpoint(eager=True))
        return pinned[-1]

    try:
        gated = pin(gated)
        # S2: MinHash near-dup dedup first (whole-document near
        # copies), then S3: winnow shared-passage dedup on the
        # remainder (partial overlaps MinHash's whole-doc estimate
        # misses) — the standard production order
        s2 = pin(gated.join(_minhash_drop(gated, pin), "doc_id", "left_anti"))
        s3 = pin(
            s2.join(_winnow_drop(s2, pin), "doc_id", "left_anti").select(
                "doc_id", "source", "text", F.length("text").alias("nc")
            )
        )

        # S4: mixture downsample toward a uniform source mix —
        # corpus_mixture's basis-point weight as an md5-bucket filter
        per_source = s3.groupBy("source").agg(F.sum("nc").alias("src_chars"))
        tot = per_source.agg(
            F.sum("src_chars").alias("total_chars"),
            F.count("*").alias("n_sources"),
        )
        weights = per_source.crossJoin(F.broadcast(tot)).select(
            "source",
            F.expr(f"total_chars * {_MIX_MOD} div (n_sources * src_chars)").alias(
                "weight_bp"
            ),
        )
        bucket = md5_48(F.col("doc_id").cast("string")) % _MIX_MOD
        sampled = (
            s3.join(F.broadcast(weights), "source")
            .filter(bucket < F.least(F.col("weight_bp"), F.lit(_MIX_MOD)))
            .select("doc_id", "source", "text", "nc")
        )

        # S5: deterministic packing — per-source exclusive running sum
        # (corpus_pack_partitioned's funnel-free form)
        wpack = (
            W.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(W.unboundedPreceding, -1)
        )
        packed = sampled.withColumn(
            "pack_id",
            (F.coalesce(F.sum("nc").over(wpack), F.lit(0)) / F.lit(_PACK_BUDGET))
            .cast("long"),
        )

        # S6: export — one deterministic TFRecord shard per pack,
        # written by the executors; only the manifest (one short row
        # per shard) reaches the driver. group_spread pins the group
        # shuffle's parallelism in the small-input regime where AQE's
        # byte-targeted coalescing would serialize the per-pack Python
        # encode work on one core (measured 2.05 -> 0.83 s for this
        # leg at sf0.1); at scale AQE governs unchanged.
        manifest_rows = (
            packed.transform(group_spread(spark, sf_dir, "documents", "source", "pack_id"))
            .groupBy("source", "pack_id")
            .applyInPandas(_export_writer(out_dir), schema=_INVENTORY_SCHEMA)
            .collect()
        )
        expected = {r["shard"]: int(r["n_records"]) for r in manifest_rows}
    finally:
        # a checkpointed frame's unpersist() is a no-op (it is not in
        # the cache manager); its blocks belong to the checkpointed RDD
        # under the plan's LogicalRDD leaf. Spark warns that such an RDD
        # cannot be recomputed once released: nothing reads the pins
        # after the export, since the result reads the shards back.
        for df in pinned:
            df._jdf.logicalPlan().rdd().unpersist(False)

    # S7: CRC-verified typed read-back through the production reader,
    # manifest-checked; the returned inventory is recomputed FROM THE
    # SHARDS so the oracle hash closes over the export leg
    from datapipeline_scripts_spark.sources.tfexample import read_tfexample

    back = read_tfexample(
        spark,
        out_dir,
        {"doc_id": "int64", "text": "string"},
        expected_records=expected,
    )
    base = F.element_at(F.split(F.col("shard"), "/"), -1)
    return (
        back.select(
            F.regexp_extract(base, r"^(.*)-(\d{6})\.tfrecord$", 1).alias("source"),
            F.regexp_extract(base, r"^(.*)-(\d{6})\.tfrecord$", 2)
            .cast("long")
            .alias("pack_id"),
            "doc_id",
            "text",
        )
        .groupBy("source", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("n_chars"),
            F.sum("doc_id").alias("doc_id_sum"),
            F.sum(md5_48(F.col("text"))).alias("text_hash_sum"),
        )
        .orderBy("source", "pack_id")
    )
