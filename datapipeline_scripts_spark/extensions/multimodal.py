"""E4 — multimodal columns: text ⋈ embedding join, struct packing, and
the binary-payload processing pattern (decode / feature-extract as
Arrow-batched Pandas code over `mapInPandas`).

The container has no image/audio codecs, so by DEFAULT `decode` is a
clearly marked deterministic stub (`_fake_decode`) — the Spark-side
plumbing (binary column, typed metadata schema, batch iteration,
partition sizing) is real and tested (SURVEY brief: "STUB the decode
step ... make the plumbing real").  Real decode is wired behind an
explicit extras flag (VERDICT r05 item 6): set
``SPARK_GRAFT_REAL_DECODE=1`` (in the EXECUTOR environment on a real
cluster — ``spark.executorEnv.SPARK_GRAFT_REAL_DECODE=1``) and the
image workers decode for real: via Pillow when it is importable
(every format), else via the stdlib-only PNG decoder
(`extensions/png_stdlib.py` — PNG is zlib + five byte filters, so the
most common lossless format needs no codec library; non-PNG payloads
report the loud (-1,-1)/byte-hash fallbacks, exactly like Pillow's
undecodable branch).  The flag deliberately CHANGES
width/height/phash semantics, so the declared DuckDB oracles cover
the default path only; with the flag set the keys are verified by
their decode tests, not by the oracles.  Presence of Pillow alone never flips the path — an
installed codec must not silently change query results.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F, types as T

from datapipeline_scripts_spark.catalog import load_table
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


_REAL_DECODE_ENV = "SPARK_GRAFT_REAL_DECODE"


def _real_decode_requested() -> bool:
    """Explicit opt-in only: the flag — never mere codec presence —
    selects the real path (it changes result semantics vs the declared
    oracles). Read per-call so executors see their own environment."""
    return os.environ.get(_REAL_DECODE_ENV, "0") not in ("", "0")


def _image_backend() -> tuple[str, object]:
    """('pil', PIL.Image) when Pillow is importable (covers every
    format), else ('png', None): the stdlib PNG decoder handles the
    most common lossless format and reports the same loud fallbacks as
    Pillow's undecodable branch for anything else.

    Backend choice only affects NON-PNG payloads: PNGs always route
    through the stdlib decoder on every worker, so one image hashes
    identically fleet-wide regardless of which workers have Pillow
    (ADVICE r06). To pin non-PNG semantics on a heterogeneous cluster
    set ``SPARK_GRAFT_IMAGE_BACKEND=png`` (force stdlib everywhere) or
    ``=pil`` (require Pillow — ImportError is loud, never a silent
    semantic switch)."""
    forced = os.environ.get("SPARK_GRAFT_IMAGE_BACKEND", "").strip().lower()
    if forced not in ("", "png", "pil"):
        # ADVICE r07: a typo'd pin silently fell back to per-worker
        # auto-detection — the exact heterogeneous-cluster divergence
        # the knob exists to prevent. Unrecognized values fail loud.
        raise ValueError(
            f"SPARK_GRAFT_IMAGE_BACKEND={forced!r}: must be 'png', 'pil', "
            "or unset"
        )
    if forced == "png":
        return ("png", None)
    try:
        from PIL import Image  # noqa: PLC0415 - worker-side lazy import

        return ("pil", Image)
    except ImportError:
        if forced == "pil":
            raise  # pinned backend missing on this worker: fail loud
        return ("png", None)


def _fake_decode(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in for an image decode: derive a fake
    (width, height) from the payload bytes. The real-codec twin is
    `_pil_decode` (SPARK_GRAFT_REAL_DECODE=1)."""
    if not payload:
        return (0, 0)
    return (64 + payload[0] % 64, 64 + payload[-1] % 64)


def _pil_decode(image_mod, payload: bytes) -> tuple[int, int]:  # pragma: no cover
    """Real (width, height) via Pillow; (0, 0) for empty payloads like
    the stub, (-1, -1) for non-empty bytes no codec accepts — loud in
    the output, never an exception, so one corrupt blob can't kill a
    100 TB scan."""
    import io

    if not payload:
        return (0, 0)
    try:
        with image_mod.open(io.BytesIO(bytes(payload))) as img:
            return (int(img.width), int(img.height))
    except Exception:  # noqa: BLE001 - undecodable payload is a data condition
        return (-1, -1)


def _png_decode_dims(payload: bytes) -> tuple[int, int]:
    """Real (width, height) via the stdlib PNG decoder — same contract
    as `_pil_decode`: (0, 0) empty, (-1, -1) undecodable. Size comes
    from IHDR alone (O(1)), no pixel inflate on the feature path."""
    from datapipeline_scripts_spark.extensions import png_stdlib

    if not payload:
        return (0, 0)
    try:
        w, h = png_stdlib.png_size(bytes(payload))
        return (int(w), int(h))
    except Exception:  # noqa: BLE001 - undecodable payload is a data condition
        return (-1, -1)


def _jpeg_decode_dims(payload: bytes) -> tuple[int, int]:
    """Real (width, height) via the stdlib JPEG header scan — same
    contract as `_pil_decode`: (0, 0) empty, (-1, -1) undecodable.
    Size comes from the SOF header alone (no entropy decode), so even
    progressive files the pixel decoder refuses report true dims."""
    from datapipeline_scripts_spark.extensions import jpeg_stdlib

    if not payload:
        return (0, 0)
    try:
        w, h = jpeg_stdlib.jpeg_size(bytes(payload))
        return (int(w), int(h))
    except Exception:  # noqa: BLE001 - undecodable payload is a data condition
        return (-1, -1)


def _gif_decode_dims(payload: bytes) -> tuple[int, int]:
    """Real (width, height) via the stdlib GIF header scan — same
    contract as `_pil_decode`: (0, 0) empty, (-1, -1) undecodable.
    Size comes from the Logical Screen Descriptor alone (O(1))."""
    from datapipeline_scripts_spark.extensions import gif_stdlib

    if not payload:
        return (0, 0)
    try:
        w, h = gif_stdlib.gif_size(bytes(payload))
        return (int(w), int(h))
    except Exception:  # noqa: BLE001 - undecodable payload is a data condition
        return (-1, -1)


def _tiff_decode_dims(payload: bytes) -> tuple[int, int]:
    """Real (width, height) via the stdlib TIFF IFD walk — same
    contract as `_pil_decode`: (0, 0) empty, (-1, -1) undecodable.
    Size comes from the first IFD alone (no strip decode), so even
    profiles the pixel decoder refuses (16-bit, planar) report true
    dims."""
    from datapipeline_scripts_spark.extensions import tiff_stdlib

    if not payload:
        return (0, 0)
    try:
        w, h = tiff_stdlib.tiff_size(bytes(payload))
        return (int(w), int(h))
    except Exception:  # noqa: BLE001 - undecodable payload is a data condition
        return (-1, -1)


def _bmp_decode_dims(payload: bytes) -> tuple[int, int]:
    """Real (width, height) via the stdlib BMP header read — same
    contract as `_pil_decode`: (0, 0) empty, (-1, -1) undecodable.
    Size comes from the DIB header alone (O(1)), so even depths the
    pixel decoder refuses (16-bit) report true dims."""
    from datapipeline_scripts_spark.extensions import bmp_stdlib

    if not payload:
        return (0, 0)
    try:
        w, h = bmp_stdlib.bmp_size(bytes(payload))
        return (int(w), int(h))
    except Exception:  # noqa: BLE001 - undecodable payload is a data condition
        return (-1, -1)


def _avi_decode_dims(payload: bytes) -> tuple[int, int]:
    """Real VIDEO (width, height) via the stdlib AVI header walk —
    same contract as `_pil_decode`: (0, 0) empty, (-1, -1)
    undecodable. Dims come from avih/strh alone, no frame decode."""
    from datapipeline_scripts_spark.extensions import avi_stdlib

    if not payload:
        return (0, 0)
    try:
        w, h, _n, _us, _handler = avi_stdlib.avi_info(bytes(payload))
        return (int(w), int(h))
    except Exception:  # noqa: BLE001 - undecodable payload is a data condition
        return (-1, -1)


def _real_decode_dims(backend: str, image_mod, payload: bytes) -> tuple[int, int]:
    """PNG payloads take the stdlib path on EVERY worker (identical
    results whether or not Pillow is installed there — ADVICE r06);
    JPEGs, GIFs, TIFFs, BMPs and AVI videos follow the same rule by
    default (round 8: jpeg/gif/tiff/bmp/avi_stdlib) — only an
    explicit `SPARK_GRAFT_IMAGE_BACKEND=pil` pin hands the image
    formats to Pillow. The backend choice otherwise decides the
    remaining formats (WebP needs Pillow)."""
    from datapipeline_scripts_spark.extensions import (
        avi_stdlib,
        bmp_stdlib,
        gif_stdlib,
        jpeg_stdlib,
        png_stdlib,
        tiff_stdlib,
    )

    if payload and png_stdlib.is_png(bytes(payload)):
        return _png_decode_dims(payload)
    if payload and avi_stdlib.is_avi(bytes(payload)):
        return _avi_decode_dims(payload)  # Pillow has no AVI path either
    if backend == "pil":  # pragma: no cover - Pillow absent in this container
        return _pil_decode(image_mod, payload)
    if payload and jpeg_stdlib.is_jpeg(bytes(payload)):
        return _jpeg_decode_dims(payload)
    if payload and gif_stdlib.is_gif(bytes(payload)):
        return _gif_decode_dims(payload)
    if payload and tiff_stdlib.is_tiff(bytes(payload)):
        return _tiff_decode_dims(payload)
    if payload and bmp_stdlib.is_bmp(bytes(payload)):
        return _bmp_decode_dims(payload)
    return _png_decode_dims(payload)


def _extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: binary payload → typed feature row.

    Arrow delivers each partition as pandas batches; one Python worker
    per core, zero JVM round-trips inside the loop."""
    use_real = _real_decode_requested()
    backend, image_mod = _image_backend() if use_real else (None, None)
    for pdf in batches:
        payloads = pdf["payload"]
        if use_real:
            dims = [
                _real_decode_dims(backend, image_mod, p if p is not None else b"")
                for p in payloads
            ]
        else:
            dims = [_fake_decode(p if p is not None else b"") for p in payloads]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": [len(p) if p is not None else 0 for p in payloads],
                "first_byte": [p[0] if p else -1 for p in payloads],
                "width": [d[0] for d in dims],
                "height": [d[1] for d in dims],
                "checksum": [sum(p[:32]) if p else 0 for p in payloads],
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
       CAST(CASE WHEN nb = 0 THEN 0 ELSE 64 + ({_byte_sql("0")} % 64) END AS INTEGER) AS width,
       CAST(CASE WHEN nb = 0 THEN 0 ELSE 64 + ({_byte_sql("nb - 1")} % 64) END AS INTEGER) AS height,
       CAST(coalesce(chk.cs, 0) AS BIGINT) AS checksum
FROM b LEFT JOIN chk USING (doc_id)
"""


@query("multimodal_features", oracle=_FEATURES_ORACLE)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary decode / feature-extraction plumbing demo.

    The fixture set has no binary table, so the payload is synthesized
    (utf-8 bytes of the text column) — the pipeline shape (opaque
    `binary` column + typed metadata out) is exactly what an
    image/audio table needs. Fully oracle-checked since round 2: the
    fake-decode features are pure byte functions of the payload, and
    DuckDB reaches the same bytes via hex(encode(text)) parsed
    pairwise — the Arrow plumbing is proven byte-for-byte.

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

_FRAME_SIZE = 256  # bytes per fake frame
_SAMPLE_EVERY = 2  # keep every 2nd frame


def _sample_frames_real(pdf: pd.DataFrame) -> pd.DataFrame:
    """The real-container branch of `_sample_frames` (round 8): MJPEG
    AVIs demux through the stdlib container walk — frame_idx is the
    TRUE stream index, byte_offset/frame_bytes the frame's span inside
    the payload, and frame_checksum the decoded-frame dHash through
    the production JPEG path (integer IDCT → fleet-identical). Any
    other payload stays a loud gate: silently chunking a real
    container would fabricate frame structure."""
    from datapipeline_scripts_spark.extensions import avi_stdlib

    out: dict[str, list] = {k.name: [] for k in _FRAME_SCHEMA}
    for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
        p = bytes(payload) if payload is not None else b""
        if not avi_stdlib.is_avi(p):
            raise NotImplementedError(
                f"{_REAL_DECODE_ENV}=1: real frame sampling supports MJPEG "
                "AVI containers (extensions/avi_stdlib.py); other containers "
                "need ffmpeg/pyav — unset the flag for the deterministic "
                "chunking path"
            )
        spans = avi_stdlib.avi_frame_spans(p)
        for idx in range(0, len(spans), _SAMPLE_EVERY):
            off, size = spans[idx]
            out["doc_id"].append(doc_id)
            out["frame_idx"].append(idx)
            out["byte_offset"].append(off)
            out["frame_bytes"].append(size)
            out["frame_checksum"].append(_phash_pixels_jpeg(p[off : off + size]))
    return pd.DataFrame(out)


def _sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker, 1→N: each binary payload expands to one row
    per *sampled* frame (UDTF shape). With SPARK_GRAFT_REAL_DECODE=1
    MJPEG-AVI payloads demux for real (`_sample_frames_real`); the
    default is the deterministic fixed-size chunking the registered
    oracle checks. Offsets/indices/batching keep one shape in both."""
    if _real_decode_requested():
        for pdf in batches:
            yield _sample_frames_real(pdf)
        return
    for pdf in batches:
        out: dict[str, list] = {k.name: [] for k in _FRAME_SCHEMA}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            p = payload if payload is not None else b""
            n_frames = max(1, (len(p) + _FRAME_SIZE - 1) // _FRAME_SIZE)
            for idx in range(0, n_frames, _SAMPLE_EVERY):
                chunk = p[idx * _FRAME_SIZE : (idx + 1) * _FRAME_SIZE]
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(idx)
                out["byte_offset"].append(idx * _FRAME_SIZE)
                out["frame_bytes"].append(len(chunk))
                out["frame_checksum"].append(int(sum(chunk[:16])))
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
    per sampled fixed-size chunk ('frame'), with stable indices and
    offsets. Deterministic fake frames (brief: stub the codec, make
    the plumbing real) → fully oracle-checked since round 2 (frame
    offsets, sizes, and checksums recomputed byte-for-byte in DuckDB
    from hex(encode(text))), plus a Python-model test.

    Scale: output cardinality is rows × frames/sample-rate — the
    explode happens inside Arrow batches, never on the driver; cap
    `maxRecordsPerFile`/partition bytes downstream because frame rows
    dominate storage."""
    d = load_table(spark, sf_dir, "documents")
    payloads = d.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return payloads.mapInPandas(_sample_frames, schema=_FRAME_SCHEMA)


# ---- perceptual-hash dedup -------------------------------------------------

_PHASH_BITS = 12  # 4096 buckets: small enough to show real collisions at sf0.01

_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("phash", T.IntegerType()),
    ]
)


def _phash_bytes(p: bytes) -> int:
    """dHash-style gradient fingerprint of the decoded payload: bit i
    is set iff byte[i] < byte[i+1] (bytes past the end read as 0) —
    the exact structure of a difference hash over pixel rows, computed
    here on the deterministic fake-decode bytes. Replace `p` with the
    resampled grayscale pixels when a real codec is wired in."""
    bits = 0
    for i in range(_PHASH_BITS):
        a = p[i] if i < len(p) else 0
        b = p[i + 1] if i + 1 < len(p) else 0
        if a < b:
            bits |= 1 << i
    return bits


def _phash_pixels(image_mod, payload: bytes) -> int:  # pragma: no cover
    """Real dHash (SPARK_GRAFT_REAL_DECODE=1) for NON-PNG formats via
    Pillow: grayscale, area-true (BOX) resample to a (_PHASH_BITS+1)-
    pixel row, adjacent-compare — the textbook difference hash the
    byte-stub mirrors. BOX is pinned so Pillow's downscale matches the
    stdlib bander's box-average (ADVICE r06: the default bicubic gave
    backend-dependent hashes). Undecodable payloads fall back to the
    byte hash so they still dedup among themselves."""
    import io

    if not payload:
        return 0
    try:
        box = getattr(getattr(image_mod, "Resampling", image_mod), "BOX")
        with image_mod.open(io.BytesIO(bytes(payload))) as img:
            px = list(img.convert("L").resize((_PHASH_BITS + 1, 1), resample=box).getdata())
    except Exception:  # noqa: BLE001 - undecodable payload is a data condition
        return _phash_bytes(payload)
    bits = 0
    for i in range(_PHASH_BITS):
        if px[i] < px[i + 1]:
            bits |= 1 << i
    return bits


def _phash_pixels_png(payload: bytes) -> int:
    """Real dHash via the stdlib PNG decoder: box-average the grayscale
    into a (_PHASH_BITS+1)-pixel row, adjacent-compare — same contract
    as `_phash_pixels` (0 for empty, byte-hash fallback for bytes the
    decoder rejects, so undecodables still dedup among themselves)."""
    from datapipeline_scripts_spark.extensions import png_stdlib

    if not payload:
        return 0
    try:
        px = png_stdlib.png_gray_band_row(bytes(payload), _PHASH_BITS + 1)
    except Exception:  # noqa: BLE001 - undecodable payload is a data condition
        return _phash_bytes(payload)
    bits = 0
    for i in range(_PHASH_BITS):
        if px[i] < px[i + 1]:
            bits |= 1 << i
    return bits


def _phash_pixels_jpeg(payload: bytes) -> int:
    """Real dHash via the stdlib baseline-JPEG decoder (round 8) —
    same contract as `_phash_pixels_png` (0 for empty, byte-hash
    fallback for bytes the decoder rejects, e.g. progressive files)."""
    from datapipeline_scripts_spark.extensions import jpeg_stdlib

    if not payload:
        return 0
    try:
        px = jpeg_stdlib.jpeg_gray_band_row(bytes(payload), _PHASH_BITS + 1)
    except Exception:  # noqa: BLE001 - undecodable payload is a data condition
        return _phash_bytes(payload)
    bits = 0
    for i in range(_PHASH_BITS):
        if px[i] < px[i + 1]:
            bits |= 1 << i
    return bits


def _phash_pixels_gif(payload: bytes) -> int:
    """Real dHash via the stdlib GIF decoder (round 8) — same contract
    as `_phash_pixels_png` (0 for empty, byte-hash fallback for bytes
    the decoder rejects). GIF decode is lossless, so the hash is
    bit-identical fleet-wide by construction."""
    from datapipeline_scripts_spark.extensions import gif_stdlib

    if not payload:
        return 0
    try:
        px = gif_stdlib.gif_gray_band_row(bytes(payload), _PHASH_BITS + 1)
    except Exception:  # noqa: BLE001 - undecodable payload is a data condition
        return _phash_bytes(payload)
    bits = 0
    for i in range(_PHASH_BITS):
        if px[i] < px[i + 1]:
            bits |= 1 << i
    return bits


def _phash_pixels_tiff(payload: bytes) -> int:
    """Real dHash via the stdlib TIFF decoder (round 8) — same
    contract as `_phash_pixels_png` (0 for empty, byte-hash fallback
    for bytes the decoder rejects, e.g. 16-bit or tiled profiles).
    The supported 8-bit profile is lossless, so the hash is
    bit-identical fleet-wide by construction."""
    from datapipeline_scripts_spark.extensions import tiff_stdlib

    if not payload:
        return 0
    try:
        px = tiff_stdlib.tiff_gray_band_row(bytes(payload), _PHASH_BITS + 1)
    except Exception:  # noqa: BLE001 - undecodable payload is a data condition
        return _phash_bytes(payload)
    bits = 0
    for i in range(_PHASH_BITS):
        if px[i] < px[i + 1]:
            bits |= 1 << i
    return bits


def _phash_pixels_bmp(payload: bytes) -> int:
    """Real dHash via the stdlib BMP decoder (round 8) — same contract
    as `_phash_pixels_png` (0 for empty, byte-hash fallback for bytes
    the decoder rejects). Lossless, so bit-identical fleet-wide."""
    from datapipeline_scripts_spark.extensions import bmp_stdlib

    if not payload:
        return 0
    try:
        px = bmp_stdlib.bmp_gray_band_row(bytes(payload), _PHASH_BITS + 1)
    except Exception:  # noqa: BLE001 - undecodable payload is a data condition
        return _phash_bytes(payload)
    bits = 0
    for i in range(_PHASH_BITS):
        if px[i] < px[i + 1]:
            bits |= 1 << i
    return bits


def _phash_real(backend: str, image_mod, payload: bytes) -> int:
    """Route by PAYLOAD TYPE, not backend availability: PNGs hash via
    the stdlib bander on every worker (bit-identical fleet-wide —
    ADVICE r06), JPEGs, GIFs, TIFFs and BMPs likewise by default
    (round 8; the integer-IDCT JPEG decoder is deterministic and
    GIF/baseline-TIFF/BMP are lossless, so one payload hashes
    identically fleet-wide — an explicit `=pil` pin opts into Pillow
    semantics instead). Remaining formats go to Pillow (BOX-pinned)
    where present, else the byte-hash fallback."""
    from datapipeline_scripts_spark.extensions import (
        bmp_stdlib,
        gif_stdlib,
        jpeg_stdlib,
        png_stdlib,
        tiff_stdlib,
    )

    from datapipeline_scripts_spark.extensions import avi_stdlib

    if not payload:
        return 0
    if png_stdlib.is_png(bytes(payload)):
        return _phash_pixels_png(payload)
    if avi_stdlib.is_avi(bytes(payload)):
        # video fingerprint = first-frame dHash for streams DECLARING
        # MJPEG (the handler fourcc decides, not frame sniffing);
        # other codecs and corrupt containers fall back to byte-hash
        try:
            _w, _h, _n, _us, handler = avi_stdlib.avi_info(bytes(payload))
            if handler in (b"MJPG", b"mjpg"):
                frames = avi_stdlib.avi_frames(bytes(payload))
                if frames:
                    return _phash_pixels_jpeg(frames[0])
        except Exception:  # noqa: BLE001 - undecodable payload is a data condition
            pass
        return _phash_bytes(payload)
    if backend == "pil":  # pragma: no cover - Pillow absent in this container
        return _phash_pixels(image_mod, payload)
    if jpeg_stdlib.is_jpeg(bytes(payload)):
        return _phash_pixels_jpeg(payload)
    if gif_stdlib.is_gif(bytes(payload)):
        return _phash_pixels_gif(payload)
    if tiff_stdlib.is_tiff(bytes(payload)):
        return _phash_pixels_tiff(payload)
    if bmp_stdlib.is_bmp(bytes(payload)):
        return _phash_pixels_bmp(payload)
    return _phash_bytes(payload)


def _phash_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    use_real = _real_decode_requested()
    backend, image_mod = _image_backend() if use_real else (None, None)
    for pdf in batches:
        if use_real:
            hashes = [
                _phash_real(backend, image_mod, p if p is not None else b"")
                for p in pdf["payload"]
            ]
        else:
            hashes = [_phash_bytes(p if p is not None else b"") for p in pdf["payload"]]
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "phash": hashes})


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
    decode stage (Arrow-batched Python worker, stubbed deterministic
    here) emits a dHash-style gradient fingerprint per payload, and a
    relational stage clusters identical fingerprints — the standard
    image-dedup topology (pHash → exact group) where visually-similar
    inputs collide on the hash so near-dup detection reduces to
    EXACT matching, i.e. a plain shuffle on a 12-bit key.

    Oracle: DuckDB recomputes the identical fingerprint from
    hex(encode(text)) parsed pairwise (the proven multimodal_features
    byte path), so the Python worker's arithmetic is hash-proven
    bit-for-bit.

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
