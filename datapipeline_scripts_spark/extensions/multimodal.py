"""E4 — multimodal columns: text ⋈ embedding join, struct packing, and
the binary-payload processing pattern (decode / feature-extract as
Arrow-batched Pandas code over `mapInPandas`).

Payloads decode through the stdlib codecs (`extensions/*_stdlib.py`),
routed by payload type: an AVI container first, then PNG, JPEG, GIF,
TIFF and BMP stills, each recognised by its signature (the signatures
do not overlap). `decode_dims` and `phash` are the two entry points.
Neither raises on bad data: an empty payload gives (0, 0) and 0, and
bytes no codec accepts give (-1, -1) and the byte dHash, so one corrupt
blob cannot kill a scan and still shows in the output. Every codec is
pure Python with integer arithmetic, so one payload gives the same
result on every worker.

The keys registered here feed the utf-8 bytes of `documents.text`,
which sniff as no media format, and their DuckDB oracles recompute the
loud values and the byte dHash. The `multimodal_real_*` keys
(`sources/staged_r8.py`, `sources/staged_r9.py`) run real media through
the same two functions.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F, types as T

from datapipeline_scripts_spark.catalog import load_table
from datapipeline_scripts_spark.extensions import (
    avi_stdlib,
    bmp_stdlib,
    gif_stdlib,
    jpeg_stdlib,
    png_stdlib,
    tiff_stdlib,
)
from datapipeline_scripts_spark.registry import query


@query(
    "multimodal_join",
    oracle="""
    SELECT doc_id, lang, n_chars,
           CAST(len(embedding) AS INTEGER) AS dim,
           label
    FROM documents JOIN embeddings ON doc_id = vec_id
    """,
)
def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ⋈ embeddings on id — the canonical multimodal row
    (text modality + vector modality side by side).

    Scale: both sides are co-partitionable on the id; with bucketed
    tables this join is shuffle-free. Here AQE picks broadcast."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id", "lang", "n_chars", F.size("embedding").alias("dim"), "label"
    )


# ---- payload decode ----------------------------------------------------------

_PHASH_BITS = 12  # 4096 buckets: small enough to show real collisions at sf0.01

# (is_fmt, fmt_size, fmt_gray_band_row) per still-image format. The size
# comes from the header alone, so files the pixel decoder refuses
# (progressive JPEG, 16-bit TIFF, 16-bit BMP) still report true dims.
_CODECS = (
    (png_stdlib.is_png, png_stdlib.png_size, png_stdlib.png_gray_band_row),
    (jpeg_stdlib.is_jpeg, jpeg_stdlib.jpeg_size, jpeg_stdlib.jpeg_gray_band_row),
    (gif_stdlib.is_gif, gif_stdlib.gif_size, gif_stdlib.gif_gray_band_row),
    (tiff_stdlib.is_tiff, tiff_stdlib.tiff_size, tiff_stdlib.tiff_gray_band_row),
    (bmp_stdlib.is_bmp, bmp_stdlib.bmp_size, bmp_stdlib.bmp_gray_band_row),
)


def _codec(p: bytes) -> tuple | None:
    return next((c for c in _CODECS if c[0](p)), None)


def decode_dims(payload: bytes | None) -> tuple[int, int]:
    """(width, height) of an image, or of the first video stream of an
    AVI; (0, 0) for an empty payload, (-1, -1) for bytes no codec
    accepts."""
    if not payload:
        return (0, 0)
    p = bytes(payload)
    try:
        if avi_stdlib.is_avi(p):
            w, h, _n, _us, _handler = avi_stdlib.avi_info(p)
            return (int(w), int(h))
        codec = _codec(p)
        if codec is not None:
            w, h = codec[1](p)
            return (int(w), int(h))
    except Exception:  # noqa: BLE001 - undecodable payload is a data condition
        pass
    return (-1, -1)


def _dhash(row) -> int:
    """Difference hash: bit i is set iff row[i] < row[i + 1]."""
    return sum(1 << i for i in range(_PHASH_BITS) if row[i] < row[i + 1])


def _phash_bytes(p: bytes) -> int:
    """dHash of the raw bytes (bytes past the end read as 0): the
    fingerprint of a payload no decoder accepts, so undecodables still
    dedup among themselves."""
    return _dhash(bytes(p[: _PHASH_BITS + 1]).ljust(_PHASH_BITS + 1, b"\0"))


def _pixel_hash(band_row, p: bytes) -> int:
    """dHash of the grayscale box-averaged into a (_PHASH_BITS + 1)-band
    row by `band_row`; the byte dHash when the decoder refuses `p`."""
    try:
        return _dhash(band_row(p, _PHASH_BITS + 1))
    except Exception:  # noqa: BLE001 - undecodable payload is a data condition
        return _phash_bytes(p)


def phash(payload: bytes | None) -> int:
    """Perceptual dHash of an image, or of the first frame of an MJPEG
    AVI; 0 for an empty payload, the byte dHash for anything else."""
    if not payload:
        return 0
    p = bytes(payload)
    if avi_stdlib.is_avi(p):
        # the handler fourcc decides, not frame sniffing
        try:
            if avi_stdlib.avi_info(p)[4] in (b"MJPG", b"mjpg"):
                frames = avi_stdlib.avi_frames(p)
                if frames:
                    return _pixel_hash(jpeg_stdlib.jpeg_gray_band_row, frames[0])
        except Exception:  # noqa: BLE001 - undecodable payload is a data condition
            pass
        return _phash_bytes(p)
    codec = _codec(p)
    return _phash_bytes(p) if codec is None else _pixel_hash(codec[2], p)


# ---- binary-payload pattern ------------------------------------------------

_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("first_byte", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("checksum", T.LongType()),
    ]
)


def _extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: binary payload → typed feature row.

    Arrow delivers each partition as pandas batches; one Python worker
    per core, zero JVM round-trips inside the loop."""
    for pdf in batches:
        payloads = [p if p is not None else b"" for p in pdf["payload"]]
        dims = [decode_dims(p) for p in payloads]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": [len(p) for p in payloads],
                "first_byte": [p[0] if p else -1 for p in payloads],
                "width": [d[0] for d in dims],
                "height": [d[1] for d in dims],
                "checksum": [sum(p[:32]) for p in payloads],
            }
        )


def _byte_sql(pos_expr: str) -> str:
    """DuckDB: value of the 0-based `pos_expr`-th byte of the blob whose
    UPPERCASE hex dump is column `hx` (DuckDB blobs have no direct byte
    indexing, so bytes are parsed from the hex dump pairwise)."""
    p = f"(2 * ({pos_expr}) + 1)"
    hexpos = "strpos('0123456789ABCDEF', substr(hx, {}, 1)) - 1"
    return f"(({hexpos.format(p)}) * 16 + ({hexpos.format(p + ' + 1')}))"


_FEATURES_ORACLE = f"""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS INTEGER) AS nb
  FROM documents
),
chk AS (
  SELECT doc_id, sum({_byte_sql("i")}) AS cs
  FROM b CROSS JOIN (SELECT unnest(range(32)) AS i) r
  WHERE i < nb
  GROUP BY doc_id
)
SELECT b.doc_id,
       nb AS n_bytes,
       CAST(CASE WHEN nb = 0 THEN -1 ELSE {_byte_sql("0")} END AS INTEGER) AS first_byte,
       CAST(CASE WHEN nb = 0 THEN 0 ELSE -1 END AS INTEGER) AS width,
       CAST(CASE WHEN nb = 0 THEN 0 ELSE -1 END AS INTEGER) AS height,
       CAST(coalesce(chk.cs, 0) AS BIGINT) AS checksum
FROM b LEFT JOIN chk USING (doc_id)
"""


@query("multimodal_features", oracle=_FEATURES_ORACLE)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary decode / feature-extraction plumbing.

    The fixture set has no binary table, so the payload is synthesized
    (utf-8 bytes of the text column) — the pipeline shape (opaque
    `binary` column + typed metadata out) is exactly what an
    image/audio table needs. Text is not an image, so every non-empty
    payload reports the loud (-1, -1) dims; the byte features are pure
    functions of the payload, and DuckDB reaches the same bytes via
    hex(encode(text)) parsed pairwise — the Arrow plumbing is proven
    byte-for-byte.

    Scale: mapInPandas streams Arrow batches; cap partition bytes
    (`spark.sql.files.maxPartitionBytes`) so a partition of blobs fits
    executor memory, and repartition by doc_id for even worker load."""
    d = load_table(spark, sf_dir, "documents")
    payloads = d.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return payloads.mapInPandas(_extract_features, schema=_FEATURE_SCHEMA)


_STRUCT_ORACLE = """
SELECT doc_id, lang, CAST(len(embedding) AS INTEGER) AS dim
FROM documents JOIN embeddings ON doc_id = vec_id
"""


@query("multimodal_struct", oracle=_STRUCT_ORACLE)
def multimodal_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested multimodal record: struct(text-meta, vector) per doc —
    the columnar layout a downstream trainer reads (parquet keeps the
    struct fields as independent column chunks; projecting one field
    never reads the other modality)."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return (
        d.join(e, d.doc_id == e.vec_id)
        .select(
            "doc_id",
            F.struct(
                F.col("lang"), F.col("source"), F.col("n_chars"), F.col("label"), F.col("embedding")
            ).alias("record"),
        )
        .select("doc_id", F.col("record.lang").alias("lang"), F.size("record.embedding").alias("dim"))
    )


_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("byte_offset", T.IntegerType()),
        T.StructField("frame_bytes", T.IntegerType()),
        T.StructField("frame_checksum", T.LongType()),
    ]
)

_FRAME_SIZE = 256  # bytes per chunk of a payload that is not a video
_SAMPLE_EVERY = 2  # keep every 2nd frame


def _avi_spans(p: bytes) -> list[tuple[int, int]] | None:
    """(byte_offset, size) of each frame of an AVI the demuxer accepts;
    None for any other payload."""
    if not avi_stdlib.is_avi(p):
        return None
    try:
        return avi_stdlib.avi_frame_spans(p)
    except Exception:  # noqa: BLE001 - undecodable payload is a data condition
        return None


def _sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker, 1→N: each binary payload expands to one row
    per *sampled* frame (UDTF shape), every `_SAMPLE_EVERY`-th.

    An AVI demuxes for real: frame_idx is the stream index,
    byte_offset/frame_bytes the frame's span inside the payload and
    frame_checksum the decoded-frame dHash through the JPEG decoder
    (MJPEG frames are baseline JPEGs). Any other payload is cut into
    `_FRAME_SIZE`-byte chunks (at least one) with the sum of a chunk's
    first 16 bytes as its checksum."""
    for pdf in batches:
        out: dict[str, list] = {k.name: [] for k in _FRAME_SCHEMA}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            p = bytes(payload) if payload is not None else b""
            spans = _avi_spans(p)
            chunked = spans is None
            if chunked:
                spans = [
                    (off, len(p[off : off + _FRAME_SIZE]))
                    for off in range(0, max(len(p), 1), _FRAME_SIZE)
                ]
            for idx in range(0, len(spans), _SAMPLE_EVERY):
                off, size = spans[idx]
                frame = p[off : off + size]
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(idx)
                out["byte_offset"].append(off)
                out["frame_bytes"].append(size)
                out["frame_checksum"].append(
                    sum(frame[:16])
                    if chunked
                    else _pixel_hash(jpeg_stdlib.jpeg_gray_band_row, frame)
                )
        yield pd.DataFrame(out)


_FRAMES_ORACLE = f"""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS INTEGER) AS nb
  FROM documents
),
fr AS (
  SELECT doc_id, hx, nb,
         CAST(idx AS INTEGER) AS frame_idx,
         CAST(idx * {_FRAME_SIZE} AS INTEGER) AS byte_offset,
         CAST(greatest(least({_FRAME_SIZE}, nb - idx * {_FRAME_SIZE}), 0) AS INTEGER)
           AS frame_bytes
  FROM (
    SELECT doc_id, hx, nb,
           unnest(range(0, greatest(CAST(ceil(nb / {_FRAME_SIZE}.0) AS BIGINT), 1),
                        {_SAMPLE_EVERY})) AS idx
    FROM b
  )
),
chk AS (
  SELECT doc_id, frame_idx, sum({_byte_sql("byte_offset + j")}) AS cs
  FROM fr CROSS JOIN (SELECT unnest(range(16)) AS j) r
  WHERE j < frame_bytes
  GROUP BY doc_id, frame_idx
)
SELECT fr.doc_id, fr.frame_idx, fr.byte_offset, fr.frame_bytes,
       CAST(coalesce(chk.cs, 0) AS BIGINT) AS frame_checksum
FROM fr LEFT JOIN chk USING (doc_id, frame_idx)
"""


@query("multimodal_frames", oracle=_FRAMES_ORACLE)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over an opaque media payload — the 1→N
    (UDTF-shaped) multimodal operator: every input row yields one row
    per sampled frame, with stable indices and offsets. Text payloads
    are not videos, so they take the fixed-size chunking, and the
    oracle recomputes frame offsets, sizes, and checksums byte-for-byte
    in DuckDB from hex(encode(text)); a Python-model test covers the
    same, and an AVI test the demux.

    Scale: output cardinality is rows × frames/sample-rate — the
    explode happens inside Arrow batches, never on the driver; cap
    `maxRecordsPerFile`/partition bytes downstream because frame rows
    dominate storage."""
    d = load_table(spark, sf_dir, "documents")
    payloads = d.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return payloads.mapInPandas(_sample_frames, schema=_FRAME_SCHEMA)


# ---- perceptual-hash dedup -------------------------------------------------

_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("phash", T.IntegerType()),
    ]
)


def _phash_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "phash": [phash(p) for p in pdf["payload"]]})


def _phash_oracle() -> str:
    byte_at = lambda i: (  # noqa: E731
        f"CASE WHEN {i} < nb THEN {_byte_sql(str(i))} ELSE 0 END"
    )
    bits = " + ".join(
        f"(CASE WHEN ({byte_at(i)}) < ({byte_at(i + 1)}) THEN {1 << i} ELSE 0 END)"
        for i in range(_PHASH_BITS)
    )
    return f"""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             CAST(octet_length(encode(text)) AS INTEGER) AS nb
      FROM documents
    ),
    h AS (SELECT doc_id, CAST({bits} AS INTEGER) AS phash FROM b)
    SELECT doc_id, phash,
           CAST(count(*) OVER (PARTITION BY phash) AS BIGINT) AS n_same,
           (count(*) OVER (PARTITION BY phash)) > 1 AS is_dup
    FROM h
    """


@query("multimodal_phash_dedup", oracle=_phash_oracle())
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection for binary media: the
    decode stage (Arrow-batched Python worker) emits a dHash gradient
    fingerprint per payload, and a relational stage clusters identical
    fingerprints — the standard image-dedup topology (pHash → exact
    group) where visually-similar inputs collide on the hash so near-dup
    detection reduces to EXACT matching, i.e. a plain shuffle on a
    12-bit key.

    Oracle: text payloads decode as no image, so each hashes as its
    bytes; DuckDB recomputes that fingerprint from hex(encode(text))
    parsed pairwise (the proven multimodal_features byte path), so the
    Python worker's arithmetic is hash-proven bit-for-bit.

    Scale: the decode stage is embarrassingly parallel over payload
    partitions; only (doc_id, phash) pairs — bytes per row — reach
    the clustering shuffle, never the payloads."""
    d = load_table(spark, sf_dir, "documents")
    payloads = d.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    hashed = payloads.mapInPandas(_phash_worker, schema=_PHASH_SCHEMA)
    from pyspark.sql import Window

    w = Window.partitionBy("phash")
    return hashed.select(
        "doc_id",
        "phash",
        F.count("*").over(w).alias("n_same"),
        (F.count("*").over(w) > 1).alias("is_dup"),
    )
