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
loud values and the byte dHash. The `multimodal_real_*` keys further
down run real media through the same two functions: each synthesizes a
payload per document executor-side (PNG, JPEG, GIF, TIFF, WAV, MJPEG
AVI), decodes it on the production path, and its oracle recomputes the
features from the synthesis formula in closed form. The frame- and
tile-grain keys (`multimodal_audio_frames`, `multimodal_scene_cuts`,
`multimodal_image_tiles`) and `multimodal_resize` do the same one row
per frame, tile or resized image.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F, types as T

from datapipeline_scripts_spark.catalog import load_table, scan_spread
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


# ---- multimodal_real_png ----------------------------------------------------
#
# This key encodes a real PNG per document executor-side (grayscale
# 8-bit, pixel values a pure function of doc_id), decodes it with the
# REAL stdlib decoder (png_stdlib — zlib inflate, filter inversion,
# CRC checks), and emits (width, height, dHash) that the DuckDB oracle
# recomputes arithmetically from doc_id. A hash match proves the whole
# encode→decode→hash chain pixel-exact.

_PNG_W = 13  # _PHASH_BITS + 1: band k == pixel k exactly, so the
# dHash is SQL-expressible (h rows are identical, so averages collapse)


def _png_pixel(doc_id: int, x: int) -> int:
    return (doc_id * 37 + x * x * 11) % 251


def _encode_png_gray(px_row: list[int], h: int) -> bytes:
    """Minimal spec-valid PNG: 8-bit grayscale, filter 0 rows."""

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", len(px_row), h, 8, 0, 0, 0, 0)
    raw = (b"\x00" + bytes(px_row)) * h
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _png_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:

    for pdf in batches:
        widths, heights, phashes = [], [], []
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            payload = _encode_png_gray(
                [_png_pixel(d, x) for x in range(_PNG_W)], 1 + d % 3
            )
            w, h = png_stdlib.png_size(payload)
            widths.append(w)
            heights.append(h)
            phashes.append(phash(payload))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": widths,
                "height": heights,
                "phash": phashes,
            }
        )


def _real_png_oracle() -> str:
    px = lambda x: f"((doc_id * 37 + {x * x * 11}) % 251)"  # noqa: E731
    bits = " + ".join(
        f"(CASE WHEN {px(i)} < {px(i + 1)} THEN {1 << i} ELSE 0 END)"
        for i in range(_PNG_W - 1)
    )
    return f"""
        SELECT doc_id,
               {_PNG_W} AS width,
               CAST(1 + doc_id % 3 AS INTEGER) AS height,
               CAST({bits} AS INTEGER) AS phash
        FROM documents
        WHERE doc_id % 3 = 0
        ORDER BY doc_id
    """


MULTIMODAL_REAL_PNG_ORACLE = _real_png_oracle()


@query("multimodal_real_png", oracle=MULTIMODAL_REAL_PNG_ORACLE)
def multimodal_real_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PNG decode under the driver harness: per-document PNGs
    (pixel values a pure function of doc_id) are encoded AND decoded
    executor-side — decode via the production stdlib path
    (png_stdlib.png_size / multimodal.phash, the functions every
    payload routes through) — and the
    DuckDB oracle recomputes width/height/dHash arithmetically.

    Scale shape: embarrassingly parallel Arrow-batch work; only
    (doc_id, 3 ints) leave the worker, never the image bytes."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .select("doc_id")
    )
    return docs.mapInPandas(
        _png_worker,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("width", T.IntegerType()),
                T.StructField("height", T.IntegerType()),
                T.StructField("phash", T.IntegerType()),
            ]
        ),
    ).orderBy("doc_id")

_W, _H = 16, 8  # two 8×8 blocks side by side
_Q00, _Q01 = 16, 11  # STD_LUMA_QUANT[0], [1] — asserted in the worker


def _coefs(doc_id: int) -> tuple[int, int, int, int]:
    """(dc0, ac0, dc1, ac1) from doc_id — ranges keep every decoded
    pixel inside [0, 255] so the oracle needs no clamp arithmetic."""
    return (
        (doc_id % 37) - 18,
        (doc_id % 5) - 2,
        ((doc_id * 7) % 41) - 20,
        ((doc_id * 3) % 7) - 3,
    )


def _jpeg_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:

    # NOT an assert: the oracle SQL bakes _Q00/_Q01 into its integer
    # arithmetic, so a quant-table edit must fail loudly even under
    # ``python -O`` (ADVICE r08 item 3).
    if jpeg_stdlib.STD_LUMA_QUANT[0] != _Q00 or jpeg_stdlib.STD_LUMA_QUANT[1] != _Q01:
        raise ValueError(
            "jpeg_stdlib.STD_LUMA_QUANT[0:2] diverged from the oracle "
            f"constants ({_Q00}, {_Q01}); regenerate "
            "MULTIMODAL_REAL_JPEG_ORACLE / the video oracle to match."
        )

    def blk(dc: int, ac01: int) -> list[int]:
        b = [0] * 64
        b[0], b[1] = dc, ac01
        return b

    for pdf in batches:
        widths, heights, phashes = [], [], []
        for doc_id in pdf["doc_id"]:
            dc0, ac0, dc1, ac1 = _coefs(int(doc_id))
            payload = jpeg_stdlib.encode_gray_baseline(
                _W, _H, [blk(dc0, ac0), blk(dc1, ac1)], restart_interval=1
            )
            w, h = decode_dims(payload)
            widths.append(w)
            heights.append(h)
            phashes.append(phash(payload))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": widths,
                "height": heights,
                "phash": phashes,
            }
        )


def _real_jpeg_oracle() -> str:

    b01 = [jpeg_stdlib._IDCT_BASIS[x][1] for x in range(8)]  # column (u=0,v=1)
    dc = ["((doc_id % 37) - 18)", "(((doc_id * 7) % 41) - 20)"]
    ac = ["((doc_id % 5) - 2)", "(((doc_id * 3) % 7) - 3)"]

    def val(x: int) -> str:
        blk, col = x // 8, x % 8
        return (
            f"((16384 * {dc[blk]} + {b01[col] * _Q01} * {ac[blk]}"
            f" + 1052672) // 8192)"
        )

    bands = []
    for k in range(_PHASH_BITS + 1):
        x0 = k * _W // (_PHASH_BITS + 1)
        x1 = max((k + 1) * _W // (_PHASH_BITS + 1), x0 + 1)
        total = " + ".join(val(x) for x in range(x0, x1))
        bands.append(f"(({total}) // {x1 - x0})")
    bits = " + ".join(
        f"(CASE WHEN {bands[i]} < {bands[i + 1]} THEN {1 << i} ELSE 0 END)"
        for i in range(_PHASH_BITS)
    )
    return f"""
        SELECT doc_id,
               {_W} AS width,
               {_H} AS height,
               CAST({bits} AS INTEGER) AS phash
        FROM documents
        WHERE doc_id % 4 = 0
        ORDER BY doc_id
    """


MULTIMODAL_REAL_JPEG_ORACLE = _real_jpeg_oracle()


@query("multimodal_real_jpeg", oracle=MULTIMODAL_REAL_JPEG_ORACLE)
def multimodal_real_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real baseline-JPEG decode under the driver harness — see the
    module docstring for the proof structure. Scale shape:
    embarrassingly parallel Arrow-batch work; only (doc_id, 3 ints)
    leave the worker, never image bytes (same as multimodal_real_png).
    """
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 4 == 0)
        .select("doc_id")
        # the fixture parquet loads as ONE partition, which would
        # serialize the per-row codec work — scan_spread spreads it
        # across cores, and skips the exchange outright once the scan
        # splits feed the cores itself (optimization r14)
        .transform(scan_spread(spark, sf_dir, "documents"))
    )
    return docs.mapInPandas(
        _jpeg_worker,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("width", T.IntegerType()),
                T.StructField("height", T.IntegerType()),
                T.StructField("phash", T.IntegerType()),
            ]
        ),
    ).orderBy("doc_id")


# ---- multimodal_real_gif ----------------------------------------------------
#
# The GIF sibling of multimodal_real_jpeg: per-document GIFs are
# ENCODED and DECODED executor-side through the production stdlib
# codec (extensions/gif_stdlib.py — the path multimodal.phash routes
# GIF payloads through), INTERLACED so
# the 4-pass row reorder sits inside the proof, with the color table
# alternating global/local per document so both table paths decode
# under the driver's eye. GIF is lossless, so the DuckDB oracle
# recomputes every band average ARITHMETICALLY: pixel (x, y) of
# doc d is gray(lut[(d + 3x + 7y + xy) % 4]) where each lut entry is
# an integer formula of d — no codec latitude anywhere, a hash match
# proves the LZW bitstream, interlace reorder, palette lookup and
# band/dHash chain bit-exact.

_GW, _GH = 16, 8


def _gif_pixels(doc_id: int) -> tuple[bytes, bytes]:
    """(palette, indices) for one document — mirrored by the oracle."""
    d = int(doc_id)
    palette = bytes(
        c
        for i in range(4)
        for c in (
            (d * 3 + 53 * i) % 256,
            (d * 5 + 97 * i) % 256,
            (d * 7 + 29 * i) % 256,
        )
    )
    indices = bytes(
        (d + 3 * x + 7 * y + x * y) % 4 for y in range(_GH) for x in range(_GW)
    )
    return palette, indices


def _gif_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:

    for pdf in batches:
        widths, heights, phashes = [], [], []
        for doc_id in pdf["doc_id"]:
            palette, indices = _gif_pixels(int(doc_id))
            payload = gif_stdlib.encode_gif(
                _GW,
                _GH,
                palette,
                indices,
                interlace=True,
                local_table=bool(int(doc_id) % 2),
            )
            w, h = decode_dims(payload)
            widths.append(w)
            heights.append(h)
            # the full routing layer, not the bander directly: proves
            # GIF payloads reach gif_stdlib
            phashes.append(phash(payload))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": widths,
                "height": heights,
                "phash": phashes,
            }
        )


def _real_gif_oracle() -> str:

    def gray(x: int, y: int) -> str:
        m = f"((doc_id + {3 * x + 7 * y + x * y}) % 4)"
        return (
            f"((299 * ((doc_id * 3 + 53 * {m}) % 256)"
            f" + 587 * ((doc_id * 5 + 97 * {m}) % 256)"
            f" + 114 * ((doc_id * 7 + 29 * {m}) % 256)) // 1000)"
        )

    bands = []
    for k in range(_PHASH_BITS + 1):
        x0 = k * _GW // (_PHASH_BITS + 1)
        x1 = max((k + 1) * _GW // (_PHASH_BITS + 1), x0 + 1)
        total = " + ".join(gray(x, y) for x in range(x0, x1) for y in range(_GH))
        bands.append(f"(({total}) // {(x1 - x0) * _GH})")
    bits = " + ".join(
        f"(CASE WHEN {bands[i]} < {bands[i + 1]} THEN {1 << i} ELSE 0 END)"
        for i in range(_PHASH_BITS)
    )
    return f"""
        SELECT doc_id,
               {_GW} AS width,
               {_GH} AS height,
               CAST({bits} AS INTEGER) AS phash
        FROM documents
        WHERE doc_id % 4 = 1
        ORDER BY doc_id
    """


MULTIMODAL_REAL_GIF_ORACLE = _real_gif_oracle()


@query("multimodal_real_gif", oracle=MULTIMODAL_REAL_GIF_ORACLE)
def multimodal_real_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real GIF decode under the driver harness — see the section
    comment above for the proof structure. Scale shape: identical to
    multimodal_real_jpeg (embarrassingly parallel Arrow-batch work,
    only (doc_id, 3 ints) ever leave the worker)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 4 == 1)
        .select("doc_id")
        # the fixture parquet loads as ONE partition, which would
        # serialize the per-row codec work — scan_spread spreads it
        # across cores, and skips the exchange outright once the scan
        # splits feed the cores itself (optimization r14)
        .transform(scan_spread(spark, sf_dir, "documents"))
    )
    return docs.mapInPandas(
        _gif_worker,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("width", T.IntegerType()),
                T.StructField("height", T.IntegerType()),
                T.StructField("phash", T.IntegerType()),
            ]
        ),
    ).orderBy("doc_id")


# ---- multimodal_real_tiff ---------------------------------------------------
#
# The TIFF sibling: per-document gray TIFFs are encoded and decoded
# executor-side through the production stdlib codec
# (extensions/tiff_stdlib.py), with the codec (None/LZW/Deflate/
# PackBits), horizontal predictor, byte order and strip height all
# ROTATING per doc_id — so one driver-green row covers every
# compression path, both endiannesses, the predictor and the
# multi-strip reassembly. The profile is lossless, so the DuckDB
# oracle recomputes the band averages directly from the sample
# formula pixel(x, y) = (d*3 + 5x + 11y + xy) % 256 — identical
# regardless of which codec a given document drew.

_TW, _TH = 16, 8
_TIFF_CODECS = (1, 5, 8, 32773)


def _tiff_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:

    for pdf in batches:
        widths, heights, phashes = [], [], []
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            samples = bytes(
                (d * 3 + 5 * x + 11 * y + x * y) % 256
                for y in range(_TH)
                for x in range(_TW)
            )
            comp = _TIFF_CODECS[(d // 4) % 4]
            payload = tiff_stdlib.encode_tiff(
                _TW,
                _TH,
                samples,
                compression=comp,
                predictor=comp in (5, 8) and d % 8 < 4,
                rows_per_strip=3 if d % 16 < 8 else None,
                big_endian=bool(d % 2),
            )
            w, h = decode_dims(payload)
            widths.append(w)
            heights.append(h)
            phashes.append(phash(payload))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": widths,
                "height": heights,
                "phash": phashes,
            }
        )


def _real_tiff_oracle() -> str:

    def gray(x: int, y: int) -> str:
        return f"((doc_id * 3 + {5 * x + 11 * y + x * y}) % 256)"

    bands = []
    for k in range(_PHASH_BITS + 1):
        x0 = k * _TW // (_PHASH_BITS + 1)
        x1 = max((k + 1) * _TW // (_PHASH_BITS + 1), x0 + 1)
        total = " + ".join(gray(x, y) for x in range(x0, x1) for y in range(_TH))
        bands.append(f"(({total}) // {(x1 - x0) * _TH})")
    bits = " + ".join(
        f"(CASE WHEN {bands[i]} < {bands[i + 1]} THEN {1 << i} ELSE 0 END)"
        for i in range(_PHASH_BITS)
    )
    return f"""
        SELECT doc_id,
               {_TW} AS width,
               {_TH} AS height,
               CAST({bits} AS INTEGER) AS phash
        FROM documents
        WHERE doc_id % 4 = 2
        ORDER BY doc_id
    """


MULTIMODAL_REAL_TIFF_ORACLE = _real_tiff_oracle()


@query("multimodal_real_tiff", oracle=MULTIMODAL_REAL_TIFF_ORACLE)
def multimodal_real_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real TIFF decode under the driver harness — see the section
    comment above for the rotation. Scale shape: identical to the
    JPEG/GIF siblings (embarrassingly parallel Arrow-batch work)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 4 == 2)
        .select("doc_id")
        # the fixture parquet loads as ONE partition, which would
        # serialize the per-row codec work — scan_spread spreads it
        # across cores, and skips the exchange outright once the scan
        # splits feed the cores itself (optimization r14)
        .transform(scan_spread(spark, sf_dir, "documents"))
    )
    return docs.mapInPandas(
        _tiff_worker,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("width", T.IntegerType()),
                T.StructField("height", T.IntegerType()),
                T.StructField("phash", T.IntegerType()),
            ]
        ),
    ).orderBy("doc_id")


# ---- multimodal_real_wav ----------------------------------------------------
#
# The AUDIO sibling: per-document PCM WAVs are encoded and decoded
# executor-side through the production stdlib codec
# (extensions/wav_stdlib.py), with channel count (1/2) and bit depth
# (8/16/24/32) rotating per doc_id so every sample-width decode path
# and the channel-interleave metadata sit under the driver's eye.
# Every doc carries the same 96 interleaved samples
# s_i = ((d·7 + 11i + i²) % 201) − 100 (fits the 8-bit range, so one
# formula serves all depths); PCM is exact integers, so the DuckDB
# oracle recomputes n_frames/peak/energy as flat arithmetic —
# GREATEST over 96 terms and a 96-term squared sum, no codec
# latitude anywhere.

_WAV_N = 96
_WAV_BITS = (8, 16, 24, 32)


def _wav_samples(doc_id: int) -> list[int]:
    d = int(doc_id)
    return [((d * 7 + 11 * i + i * i) % 201) - 100 for i in range(_WAV_N)]


def _wav_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from datapipeline_scripts_spark.extensions import wav_stdlib as ws

    for pdf in batches:
        out = {"doc_id": pdf["doc_id"], "channels": [], "n_frames": [], "peak": [], "energy": []}
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            payload = ws.encode_wav(
                1 + d % 2, 16000, _WAV_BITS[(d // 4) % 4], _wav_samples(d)
            )
            channels, _rate, n_frames, peak, energy = ws.wav_features(payload)
            out["channels"].append(channels)
            out["n_frames"].append(n_frames)
            out["peak"].append(peak)
            out["energy"].append(energy)
        yield pd.DataFrame(out)


def _real_wav_oracle() -> str:
    def s(i: int) -> str:
        return f"(((doc_id * 7 + {11 * i + i * i}) % 201) - 100)"

    peak = "GREATEST(" + ", ".join(f"abs({s(i)})" for i in range(_WAV_N)) + ")"
    energy = " + ".join(f"{s(i)} * {s(i)}" for i in range(_WAV_N))
    return f"""
        SELECT doc_id,
               CAST(1 + doc_id % 2 AS INTEGER) AS channels,
               CAST({_WAV_N} // (1 + doc_id % 2) AS INTEGER) AS n_frames,
               CAST({peak} AS INTEGER) AS peak,
               CAST({energy} AS BIGINT) AS energy
        FROM documents
        WHERE doc_id % 4 = 3
        ORDER BY doc_id
    """


MULTIMODAL_REAL_WAV_ORACLE = _real_wav_oracle()


@query("multimodal_real_wav", oracle=MULTIMODAL_REAL_WAV_ORACLE)
def multimodal_real_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PCM-WAV decode under the driver harness — see the section
    comment above. Scale shape: identical to the image siblings
    (embarrassingly parallel Arrow-batch work, integers only across
    the worker boundary); at corpus scale the energy column feeds
    silence/clipping quality filters whose aggregation must run in
    DECIMAL(38,0) (32-bit samples square to ~4.6e18 per term)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 4 == 3)
        .select("doc_id")
        # the fixture parquet loads as ONE partition, which would
        # serialize the per-row codec work — scan_spread spreads it
        # across cores, and skips the exchange outright once the scan
        # splits feed the cores itself (optimization r14)
        .transform(scan_spread(spark, sf_dir, "documents"))
    )
    return docs.mapInPandas(
        _wav_worker,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("channels", T.IntegerType()),
                T.StructField("n_frames", T.IntegerType()),
                T.StructField("peak", T.IntegerType()),
                T.StructField("energy", T.LongType()),
            ]
        ),
    ).orderBy("doc_id")


# ---- multimodal_real_video --------------------------------------------------
#
# The VIDEO sibling: per-document MJPEG AVIs (1-3 frames, count
# rotating with doc_id) are MUXED executor-side, then DEMUXED and
# frame-decoded through the production path (extensions/avi_stdlib.py
# container walk → jpeg_stdlib pixels → the shared band/dHash) — one
# row per frame. The frame coefficients derive from (doc_id,
# frame_idx), so the DuckDB oracle is the JPEG key's arithmetic with
# the frame index joined in as a column (a VALUES table bounded by
# doc_id % 3) — a hash match proves the container framing, the frame
# extraction order AND the per-frame entropy/IDCT chain at once.

_VW, _VH = 16, 8


def _video_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:

    def blk(dc: int, ac01: int) -> list[int]:
        b = [0] * 64
        b[0], b[1] = dc, ac01
        return b

    for pdf in batches:
        out = {"doc_id": [], "frame_idx": [], "n_frames": [], "phash": []}
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            n = 1 + d % 3
            frames = [
                jpeg_stdlib.encode_gray_baseline(
                    _VW,
                    _VH,
                    [
                        blk(((d + 11 * f) % 37) - 18, ((d + f) % 5) - 2),
                        blk(((d * 7 + 13 * f) % 41) - 20, ((d * 3 + 5 * f) % 7) - 3),
                    ],
                    restart_interval=1,
                )
                for f in range(n)
            ]
            payload = avi_stdlib.encode_avi_mjpeg(_VW, _VH, frames, us_per_frame=40000)
            got = avi_stdlib.avi_frames(payload)
            for f, frame in enumerate(got):
                # production per-frame pixel path (size cross-check
                # included), then the shared dHash family
                avi_stdlib.avi_decode_frame_gray(payload, f)
                out["doc_id"].append(d)
                out["frame_idx"].append(f)
                out["n_frames"].append(len(got))
                out["phash"].append(phash(frame))
        yield pd.DataFrame(out)


def _real_video_oracle() -> str:

    b01 = [jpeg_stdlib._IDCT_BASIS[x][1] for x in range(8)]
    dc = [
        "(((doc_id + 11 * f.i) % 37) - 18)",
        "(((doc_id * 7 + 13 * f.i) % 41) - 20)",
    ]
    ac = ["(((doc_id + f.i) % 5) - 2)", "(((doc_id * 3 + 5 * f.i) % 7) - 3)"]

    def val(x: int) -> str:
        blk, col = x // 8, x % 8
        return (
            f"((16384 * {dc[blk]} + {b01[col] * _Q01} * {ac[blk]}"
            f" + 1052672) // 8192)"
        )

    bands = []
    for k in range(_PHASH_BITS + 1):
        x0 = k * _VW // (_PHASH_BITS + 1)
        x1 = max((k + 1) * _VW // (_PHASH_BITS + 1), x0 + 1)
        total = " + ".join(val(x) for x in range(x0, x1))
        bands.append(f"(({total}) // {x1 - x0})")
    bits = " + ".join(
        f"(CASE WHEN {bands[i]} < {bands[i + 1]} THEN {1 << i} ELSE 0 END)"
        for i in range(_PHASH_BITS)
    )
    return f"""
        SELECT doc_id,
               CAST(f.i AS INTEGER) AS frame_idx,
               CAST(1 + doc_id % 3 AS INTEGER) AS n_frames,
               CAST({bits} AS INTEGER) AS phash
        FROM documents, (VALUES (0), (1), (2)) f(i)
        WHERE doc_id % 3 = 0 AND f.i <= doc_id % 3
        ORDER BY doc_id, frame_idx
    """


MULTIMODAL_REAL_VIDEO_ORACLE = _real_video_oracle()


@query("multimodal_real_video", oracle=MULTIMODAL_REAL_VIDEO_ORACLE)
def multimodal_real_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real MJPEG-AVI demux + frame decode under the driver harness —
    see the section comment above. Scale shape: demux is O(file) per
    payload inside mapInPandas; frame decode fans out per frame (the
    output grain), and only (doc_id, 3 ints) per frame crosses the
    worker boundary — the shape a 100 TB video-frame extraction would
    parallelize the same way."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .select("doc_id")
        # the fixture parquet loads as ONE partition, which would
        # serialize the per-row codec work — scan_spread spreads it
        # across cores, and skips the exchange outright once the scan
        # splits feed the cores itself (optimization r14)
        .transform(scan_spread(spark, sf_dir, "documents"))
    )
    return docs.mapInPandas(
        _video_worker,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("frame_idx", T.IntegerType()),
                T.StructField("n_frames", T.IntegerType()),
                T.StructField("phash", T.IntegerType()),
            ]
        ),
    ).orderBy("doc_id", "frame_idx")


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
            payload = bmp_stdlib.encode_bmp(
                _RZ_W, _RZ_H, indices, palette=identity, rle=bool(d % 2)
            )
            w, h, gray = bmp_stdlib.bmp_decode_gray(payload)
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


@query("multimodal_audio_frames", oracle=MULTIMODAL_AUDIO_FRAMES_ORACLE)
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


# ---- multimodal_scene_cuts ----------------------------------------------------

_SC_W, _SC_H = 16, 8
_SC_Q00, _SC_Q01 = 16, 11  # STD_LUMA_QUANT[0], [1] — guarded in the worker
_SC_THRESHOLD = 4500  # |Δpixel| sum over the frame ⇒ cut (splits the fixture)


def _sc_coefs(d: int, f: int) -> tuple[int, int, int, int]:
    """(dc0, ac0, dc1, ac1) for frame f of doc d — the video key's
    exact coefficient formulas (`multimodal_real_video`), so the per-pixel oracle
    arithmetic is already proven."""
    return (
        ((d + 11 * f) % 37) - 18,
        ((d + f) % 5) - 2,
        ((d * 7 + 13 * f) % 41) - 20,
        ((d * 3 + 5 * f) % 7) - 3,
    )


def _scene_cuts_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:

    if jpeg_stdlib.STD_LUMA_QUANT[0] != _SC_Q00 or jpeg_stdlib.STD_LUMA_QUANT[1] != _SC_Q01:
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
                    jpeg_stdlib.encode_gray_baseline(
                        _SC_W,
                        _SC_H,
                        [blk(dc0, ac0), blk(dc1, ac1)],
                        restart_interval=1,
                    )
                )
            payload = avi_stdlib.encode_avi_mjpeg(_SC_W, _SC_H, frames, us_per_frame=40000)
            pixels = [
                avi_stdlib.avi_decode_frame_gray(payload, f)[2] for f in range(n)
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

    b01 = [jpeg_stdlib._IDCT_BASIS[x][1] for x in range(8)]

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


@query("multimodal_scene_cuts", oracle=MULTIMODAL_SCENE_CUTS_ORACLE)
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


# ---- multimodal_real_tiff16 ---------------------------------------------------

_T16_W, _T16_H = 8, 5
_T16_COMPS = (1, 5, 8, 32773)


def _t16_sample(d: int, x: int, y: int) -> int:
    return (d * 257 + x * 4099 + y * 1031) % 65536


def _tiff16_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:

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
            payload = tiff_stdlib.encode_tiff_gray16(
                _T16_W,
                _T16_H,
                samples,
                compression=comp,
                predictor=comp in (5, 8) and d % 8 >= 4,
                rows_per_strip=2,
                big_endian=d % 2 == 1,
            )
            w, h, got = tiff_stdlib.tiff_decode_gray16(payload)
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


@query("multimodal_real_tiff16", oracle=MULTIMODAL_REAL_TIFF16_ORACLE)
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


# ---- multimodal_image_tiles -------------------------------------------------
#
# ViT-style patch extraction — the step between image decode and a
# vision encoder: the decoded image splits into a fixed tile grid and
# each tile ships as a unit (here: per-tile min/max/sum features, the
# same decode-proven integers the resize key established). The codec
# path is REAL end-to-end: per-doc 8-bit palette BMP (identity
# grayscale palette; RLE8 rotating on odd doc_ids) encoded and
# decoded through the production stdlib codec, then tiled 16×8 →
# eight 4×4 patches. The DuckDB oracle recomputes every tile's
# min/max/sum from the pixel formula (d·3 + 5x + 11y + xy) % 256 in
# closed form — decode, tiling arithmetic and tile order all inside
# the hash gate.

_TILE_W, _TILE_H = 4, 4
_TILE_IMG_W, _TILE_IMG_H = 16, 8


def _tiles_worker(batches):


    identity = bytes(c for i in range(256) for c in (i, i, i))
    cols = ("doc_id", "tile_id", "t_min", "t_max", "t_sum")
    for pdf in batches:
        out: dict[str, list] = {c: [] for c in cols}
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            indices = bytes(
                (d * 3 + 5 * x + 11 * y + x * y) % 256
                for y in range(_TILE_IMG_H)
                for x in range(_TILE_IMG_W)
            )
            payload = bmp_stdlib.encode_bmp(
                _TILE_IMG_W, _TILE_IMG_H, indices, palette=identity, rle=bool(d % 2)
            )
            w, h, gray = bmp_stdlib.bmp_decode_gray(payload)
            tiles_x, tiles_y = w // _TILE_W, h // _TILE_H
            for ty in range(tiles_y):
                for tx in range(tiles_x):
                    px = [
                        gray[(ty * _TILE_H + dy) * w + tx * _TILE_W + dx]
                        for dy in range(_TILE_H)
                        for dx in range(_TILE_W)
                    ]
                    out["doc_id"].append(d)
                    out["tile_id"].append(ty * tiles_x + tx)
                    out["t_min"].append(min(px))
                    out["t_max"].append(max(px))
                    out["t_sum"].append(sum(px))
        yield pd.DataFrame(out)


def _tiles_oracle() -> str:
    tiles_x = _TILE_IMG_W // _TILE_W
    tiles_y = _TILE_IMG_H // _TILE_H
    parts = []
    for ty in range(tiles_y):
        for tx in range(tiles_x):
            terms = [
                f"((doc_id * 3 + {5 * (tx * _TILE_W + dx) + 11 * (ty * _TILE_H + dy) + (tx * _TILE_W + dx) * (ty * _TILE_H + dy)}) % 256)"
                for dy in range(_TILE_H)
                for dx in range(_TILE_W)
            ]
            parts.append(
                f"SELECT doc_id, CAST({ty * tiles_x + tx} AS BIGINT) AS tile_id,"
                f" CAST(least({', '.join(terms)}) AS BIGINT) AS t_min,"
                f" CAST(greatest({', '.join(terms)}) AS BIGINT) AS t_max,"
                f" CAST(({' + '.join(terms)}) AS BIGINT) AS t_sum"
                f" FROM documents WHERE doc_id % 7 = 3"
            )
    union = "\nUNION ALL\n".join(parts)
    return f"SELECT * FROM (\n{union}\n) ORDER BY doc_id, tile_id"


MULTIMODAL_IMAGE_TILES_ORACLE = _tiles_oracle()


@query("multimodal_image_tiles", oracle=MULTIMODAL_IMAGE_TILES_ORACLE)
def multimodal_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real decode → fixed-grid patch extraction; one row per
    (doc_id, tile): (doc_id, tile_id, t_min, t_max, t_sum).

    Scale shape: identical to the codec siblings — embarrassingly
    parallel Arrow-batch work, only (doc_id, 8 tiles × 3 ints)
    across the worker boundary; at corpus scale the tiles would carry
    patch bytes to the encoder, same partitioning, bigger payload."""

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 3)
        .select("doc_id")
        .transform(scan_spread(spark, sf_dir, "documents"))
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("tile_id", T.LongType()),
            T.StructField("t_min", T.LongType()),
            T.StructField("t_max", T.LongType()),
            T.StructField("t_sum", T.LongType()),
        ]
    )
    return docs.mapInPandas(_tiles_worker, schema=schema).orderBy(
        "doc_id", "tile_id"
    )
