"""Round-9 query keys — staged through the round-8 catalog freeze,
REGISTERED in round 9 (VERDICT r8 item 1, the staged_r8.py recipe one
round later): the ``@query`` registrations below put the round-8
codec/ingest work under the driver's own hash gate. Every key was
oracle-proven at sf0.001 + sf0.01 while staged
(`tests/test_staged_r9.py`) AND at the 10× proxy
(`scripts/check_all.py <proxy_dir> key1,key2`), so registration is the
only change this round.

multimodal_real_jpeg: per-document baseline JPEGs are ENCODED and
DECODED executor-side through the production stdlib codec
(extensions/jpeg_stdlib.py — the decode path multimodal.phash
routes JPEG payloads through, including a
restart marker every MCU, the path ImageIO's writer cannot emit), and
the DuckDB oracle recomputes width/height/dHash ARITHMETICALLY from
doc_id: the encoder takes quantized coefficients, so each decoded
pixel is the exact integer ((16384·dc + B[x][1]·11·ac + 4096 +
2^20) // 8192) with B the pinned fixed-point IDCT basis column —
SQL-expressible because the offset keeps the numerator positive
(truncating ≡ floor division, both engines). A hash match therefore
proves the whole huffman-encode → bitstream → huffman-decode →
dequantize → integer-IDCT → band-average → dHash chain bit-exact
under the driver's own eye.

The ``STAGED`` dict remains the proof surface for
tests/test_staged_r9.py, which additionally asserts each key is now
registered with the SAME builder and oracle the proofs ran.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datapipeline_scripts_spark.catalog import load_table, scan_spread
from datapipeline_scripts_spark.registry import query

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
    from datapipeline_scripts_spark.extensions import jpeg_stdlib as js
    from datapipeline_scripts_spark.extensions import multimodal as mm

    # NOT an assert: the oracle SQL bakes _Q00/_Q01 into its integer
    # arithmetic, so a quant-table edit must fail loudly even under
    # ``python -O`` (ADVICE r08 item 3).
    if js.STD_LUMA_QUANT[0] != _Q00 or js.STD_LUMA_QUANT[1] != _Q01:
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
            payload = js.encode_gray_baseline(
                _W, _H, [blk(dc0, ac0), blk(dc1, ac1)], restart_interval=1
            )
            w, h = mm.decode_dims(payload)
            widths.append(w)
            heights.append(h)
            phashes.append(mm.phash(payload))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": widths,
                "height": heights,
                "phash": phashes,
            }
        )


def _real_jpeg_oracle() -> str:
    from datapipeline_scripts_spark.extensions import jpeg_stdlib as js
    from datapipeline_scripts_spark.extensions.multimodal import _PHASH_BITS

    b01 = [js._IDCT_BASIS[x][1] for x in range(8)]  # column (u=0,v=1)
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


STAGED: dict[str, tuple] = {
    "multimodal_real_jpeg": (multimodal_real_jpeg, MULTIMODAL_REAL_JPEG_ORACLE),
}


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
    from datapipeline_scripts_spark.extensions import gif_stdlib as gs
    from datapipeline_scripts_spark.extensions import multimodal as mm

    for pdf in batches:
        widths, heights, phashes = [], [], []
        for doc_id in pdf["doc_id"]:
            palette, indices = _gif_pixels(int(doc_id))
            payload = gs.encode_gif(
                _GW,
                _GH,
                palette,
                indices,
                interlace=True,
                local_table=bool(int(doc_id) % 2),
            )
            w, h = mm.decode_dims(payload)
            widths.append(w)
            heights.append(h)
            # the full routing layer, not the bander directly: proves
            # GIF payloads reach gif_stdlib
            phashes.append(mm.phash(payload))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": widths,
                "height": heights,
                "phash": phashes,
            }
        )


def _real_gif_oracle() -> str:
    from datapipeline_scripts_spark.extensions.multimodal import _PHASH_BITS

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


STAGED["multimodal_real_gif"] = (multimodal_real_gif, MULTIMODAL_REAL_GIF_ORACLE)


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
    from datapipeline_scripts_spark.extensions import multimodal as mm
    from datapipeline_scripts_spark.extensions import tiff_stdlib as ts

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
            payload = ts.encode_tiff(
                _TW,
                _TH,
                samples,
                compression=comp,
                predictor=comp in (5, 8) and d % 8 < 4,
                rows_per_strip=3 if d % 16 < 8 else None,
                big_endian=bool(d % 2),
            )
            w, h = mm.decode_dims(payload)
            widths.append(w)
            heights.append(h)
            phashes.append(mm.phash(payload))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": widths,
                "height": heights,
                "phash": phashes,
            }
        )


def _real_tiff_oracle() -> str:
    from datapipeline_scripts_spark.extensions.multimodal import _PHASH_BITS

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


STAGED["multimodal_real_tiff"] = (multimodal_real_tiff, MULTIMODAL_REAL_TIFF_ORACLE)


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


STAGED["multimodal_real_wav"] = (multimodal_real_wav, MULTIMODAL_REAL_WAV_ORACLE)


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
    from datapipeline_scripts_spark.extensions import avi_stdlib as av
    from datapipeline_scripts_spark.extensions import jpeg_stdlib as js
    from datapipeline_scripts_spark.extensions import multimodal as mm

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
                js.encode_gray_baseline(
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
            payload = av.encode_avi_mjpeg(_VW, _VH, frames, us_per_frame=40000)
            got = av.avi_frames(payload)
            for f, frame in enumerate(got):
                # production per-frame pixel path (size cross-check
                # included), then the shared dHash family
                av.avi_decode_frame_gray(payload, f)
                out["doc_id"].append(d)
                out["frame_idx"].append(f)
                out["n_frames"].append(len(got))
                out["phash"].append(mm.phash(frame))
        yield pd.DataFrame(out)


def _real_video_oracle() -> str:
    from datapipeline_scripts_spark.extensions import jpeg_stdlib as js
    from datapipeline_scripts_spark.extensions.multimodal import _PHASH_BITS

    b01 = [js._IDCT_BASIS[x][1] for x in range(8)]
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


STAGED["multimodal_real_video"] = (multimodal_real_video, MULTIMODAL_REAL_VIDEO_ORACLE)


# ---- warc_roundtrip ---------------------------------------------------------
#
# Crawl-corpus ingest under the driver harness: each document's text
# becomes a spec-conformant WARC `response` record (its own gzip
# member, the splittable Common Crawl layout) executor-side, then
# flows back through the PRODUCTION parse path (sources/warc.py
# gunzip-member walk → record grammar → HTTP split). The oracle
# recomputes everything from the text column alone — the HTTP
# preamble is a 45-octet constant, so content_length is
# 45 + octet_length(text), and the body hash is DuckDB's md5 of the
# same utf-8 octets Spark hashes — proving the writer/parser pair
# exact on real fixture data, not just test literals.

_WARC_HTTP_HEAD = b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"


def _warc_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from datapipeline_scripts_spark.sources import warc

    for pdf in batches:
        out = {"doc_id": [], "content_length": [], "http_status": [], "body_md5": []}
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            d = int(doc_id)
            body = (text or "").encode("utf-8")
            rec_bytes = warc.write_warc_record(
                "response",
                f"<urn:uuid:00000000-0000-0000-0000-{d:012d}>",
                "2026-01-02T03:04:05Z",
                _WARC_HTTP_HEAD + body,
                target_uri=f"https://corpus.example/doc/{d}",
                content_type="application/http;msgtype=response",
                gzip_member=True,
            )
            (rec,) = warc.parse_warc(rec_bytes)
            status, _headers, parsed_body = warc.split_http(rec["content"])
            import hashlib

            out["doc_id"].append(d)
            out["content_length"].append(int(rec["headers"]["content-length"]))
            out["http_status"].append(status)
            out["body_md5"].append(hashlib.md5(parsed_body).hexdigest())
        yield pd.DataFrame(out)


WARC_ROUNDTRIP_ORACLE = f"""
    SELECT doc_id,
           CAST({len(_WARC_HTTP_HEAD)}
                + octet_length(encode(coalesce(text, ''))) AS BIGINT)
             AS content_length,
           CAST(200 AS INTEGER) AS http_status,
           md5(coalesce(text, '')) AS body_md5
    FROM documents
    WHERE doc_id % 5 = 2
    ORDER BY doc_id
"""
# coalesce mirrors the worker's ``(text or "")`` so a NULL-text fixture
# row hashes identically on both sides (ADVICE r08 item 2).


@query("warc_roundtrip", oracle=WARC_ROUNDTRIP_ORACLE)
def warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC write→parse roundtrip under the driver harness — see the
    section comment above. Scale shape: the production `read_warc`
    parallelizes one task per .warc.gz file (the Common Crawl unit);
    this key exercises the identical record grammar and gzip-member
    walk per row inside mapInPandas, integers/strings only across the
    worker boundary."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 2)
        .select("doc_id", "text")
        # the fixture parquet loads as ONE partition, which would
        # serialize the per-row codec work — scan_spread spreads it
        # across cores, and skips the exchange outright once the scan
        # splits feed the cores itself (optimization r14)
        .transform(scan_spread(spark, sf_dir, "documents"))
    )
    return docs.mapInPandas(
        _warc_worker,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("content_length", T.LongType()),
                T.StructField("http_status", T.IntegerType()),
                T.StructField("body_md5", T.StringType()),
            ]
        ),
    ).orderBy("doc_id")


STAGED["warc_roundtrip"] = (warc_roundtrip, WARC_ROUNDTRIP_ORACLE)


# ---- webdataset_roundtrip ---------------------------------------------------
#
# Training-shard ingest under the driver harness: each document packs
# into a WebDataset sample (txt + cls members) inside a deterministic
# tar shard executor-side, then flows back through the PRODUCTION
# sample walk (sources/webdataset.py adjacency grouping over stdlib
# tarfile). The oracle recomputes the member inventory and the text
# hash from the documents table alone.

def _wds_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import hashlib

    from datapipeline_scripts_spark.sources import webdataset as wds

    for pdf in batches:
        out = {"doc_id": [], "sample_key": [], "n_files": [], "txt_md5": [], "cls": []}
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            d = int(doc_id)
            body = (text or "").encode("utf-8")
            shard = wds.write_webdataset_shard(
                [(f"{d:09d}", {"txt": body, "cls": str(d % 10).encode()})]
            )
            ((key, files),) = wds.iter_samples(shard)
            out["doc_id"].append(d)
            out["sample_key"].append(key)
            out["n_files"].append(len(files))
            out["txt_md5"].append(hashlib.md5(files["txt"]).hexdigest())
            out["cls"].append(int(files["cls"].decode()))
        yield pd.DataFrame(out)


WEBDATASET_ROUNDTRIP_ORACLE = """
    SELECT doc_id,
           lpad(CAST(doc_id AS VARCHAR), 9, '0') AS sample_key,
           CAST(2 AS INTEGER) AS n_files,
           md5(coalesce(text, '')) AS txt_md5,
           CAST(doc_id % 10 AS INTEGER) AS cls
    FROM documents
    WHERE doc_id % 5 = 3
    ORDER BY doc_id
"""


@query("webdataset_roundtrip", oracle=WEBDATASET_ROUNDTRIP_ORACLE)
def webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset pack→walk roundtrip under the driver harness — see
    the section comment above. Scale shape: production
    `read_webdataset` parallelizes one task per shard (the format's
    native unit); this key exercises the identical member grammar and
    adjacency walk per row inside mapInPandas."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 3)
        .select("doc_id", "text")
        # the fixture parquet loads as ONE partition, which would
        # serialize the per-row codec work — scan_spread spreads it
        # across cores, and skips the exchange outright once the scan
        # splits feed the cores itself (optimization r14)
        .transform(scan_spread(spark, sf_dir, "documents"))
    )
    return docs.mapInPandas(
        _wds_worker,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("sample_key", T.StringType()),
                T.StructField("n_files", T.IntegerType()),
                T.StructField("txt_md5", T.StringType()),
                T.StructField("cls", T.IntegerType()),
            ]
        ),
    ).orderBy("doc_id")


STAGED["webdataset_roundtrip"] = (webdataset_roundtrip, WEBDATASET_ROUNDTRIP_ORACLE)


# ---- jsonl_zst_roundtrip ----------------------------------------------------
#
# Text-corpus shard ingest under the driver harness: each document
# becomes a 3-line .jsonl.zst shard written as THREE zstd frames
# (frames_of=1 — the append-writer layout), then flows back through
# the PRODUCTION reader path (sources/jsonl_zst.py multi-frame
# decompress → line parse), one output row per line. A first-frame-
# only reader would return a third of the rows; the oracle recomputes
# every line's hash from the text column, so the frame walk, line
# order and JSON fidelity are all inside the driver's hash gate.

def _jsonl_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import hashlib

    from datapipeline_scripts_spark.sources import jsonl_zst as jz

    for pdf in batches:
        out = {"doc_id": [], "line_idx": [], "text_md5": []}
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            d = int(doc_id)
            rows = [{"id": d, "line": i, "text": f"{text or ''}#{i}"} for i in range(3)]
            shard = jz.write_jsonl_zst(rows, frames_of=1)
            parsed = jz.iter_jsonl(shard, where=f"doc{d}")
            for i, obj in enumerate(parsed):
                assert obj["id"] == d and obj["line"] == i
                out["doc_id"].append(d)
                out["line_idx"].append(i)
                out["text_md5"].append(
                    hashlib.md5(obj["text"].encode("utf-8")).hexdigest()
                )
        yield pd.DataFrame(out)


JSONL_ZST_ROUNDTRIP_ORACLE = """
    SELECT doc_id,
           CAST(f.i AS BIGINT) AS line_idx,
           md5(coalesce(text, '') || '#' || CAST(f.i AS VARCHAR)) AS text_md5
    FROM documents, (VALUES (0), (1), (2)) f(i)
    WHERE doc_id % 5 = 4
    ORDER BY doc_id, line_idx
"""


@query("jsonl_zst_roundtrip", oracle=JSONL_ZST_ROUNDTRIP_ORACLE)
def jsonl_zst_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jsonl.zst write→read roundtrip under the driver harness — see
    the section comment above. Scale shape: production
    `read_jsonl_zst` parallelizes one task per shard (the Dolma/Pile
    unit); this key exercises the identical frame walk and line
    grammar per row inside mapInPandas."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 4)
        .select("doc_id", "text")
        # the fixture parquet loads as ONE partition, which would
        # serialize the per-row codec work — scan_spread spreads it
        # across cores, and skips the exchange outright once the scan
        # splits feed the cores itself (optimization r14)
        .transform(scan_spread(spark, sf_dir, "documents"))
    )
    return docs.mapInPandas(
        _jsonl_worker,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("line_idx", T.LongType()),
                T.StructField("text_md5", T.StringType()),
            ]
        ),
    ).orderBy("doc_id", "line_idx")


STAGED["jsonl_zst_roundtrip"] = (jsonl_zst_roundtrip, JSONL_ZST_ROUNDTRIP_ORACLE)
