"""Round-8 query keys — staged through the r6/r7 catalog freeze,
REGISTERED in round 8.

VERDICT r6 item 2 froze the catalog at 306 keys until the driver's
round-7 window closed the correctness gate; CORRECTNESS_r07 closed it
(306/306 cumulative, VERDICT r7 headline), so round 8 flips these five
builders live exactly per the staged recipe (VERDICT r7 item 1): the
``@query`` registrations below. They were oracle-proven at sf0.001+sf0.01 while
staged (`tests/test_staged_r8.py`), so registration is the only change
this round.

All five follow the established roundtrip-key conventions
(format_queries.py): per-application tmp paths, distributed writes,
aggregation aliases identical on both sides.
"""

from __future__ import annotations

import os
import struct
import tempfile
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datapipeline_scripts_spark.catalog import load_table, scan_spread
from datapipeline_scripts_spark.registry import query

# ---- avro_roundtrip ---------------------------------------------------------

AVRO_ROUNDTRIP_ORACLE = """
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS sum_price
    FROM orders
    WHERE o_orderkey % 3 = 0
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""


@query("avro_roundtrip", oracle=AVRO_ROUNDTRIP_ORACLE)
def avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → Avro Object Container Files via the two-tier sink
    (`readers.write_avro`: spark-avro when on the classpath, the pure
    Python OCF writer here) → two-tier read-back → aggregate. The
    oracle aggregates the original parquet, so a hash match certifies
    the Avro encode/decode is lossless end to end — this puts the
    round-6 codec work under the driver's own eye (VERDICT r6 item 2).

    Scale shape: the write is one container file per partition
    (executor-side, no driver collect); the read is one task per file.
    The fixture parquet loads as ONE partition, which would serialize
    the Python tier — the explicit repartition spreads the encode
    across cores (and models the real layout: at scale the source has
    many partitions already and the repartition is a no-op to drop).
    On a cluster the JVM connector takes both sides — columnar and
    splittable within files. The %3 slice keeps the Python-tier byte
    cost bench-shaped; losslessness is per-row, so the slice proves
    the same property as the full table."""
    from datapipeline_scripts_spark.sources import readers

    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .transform(scan_spread(spark, sf_dir, "orders"))
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_avro_roundtrip_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{spark.sparkContext.applicationId}",
    )
    readers.write_avro(src, out, mode="overwrite", codec="deflate")
    back = readers.read_avro(spark, out)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


# ---- protobuf_roundtrip -----------------------------------------------------
#
# The descriptor set is hand-assembled from descriptor.proto's PUBLIC,
# frozen field numbers (the same numbers protobuf_pywire's parser
# documents): message Doc { int64 doc_id=1; int32 nchars=2;
# string head=3; } in proto3.


def _fds_bytes() -> bytes:
    def tag(fn: int, wt: int) -> bytes:
        return bytes([fn << 3 | wt])

    def ld(fn: int, payload: bytes) -> bytes:
        assert len(payload) < 128
        return tag(fn, 2) + bytes([len(payload)]) + payload

    def vi(fn: int, v: int) -> bytes:
        assert 0 <= v < 128
        return tag(fn, 0) + bytes([v])

    def field(name: bytes, number: int, ftype: int) -> bytes:
        # FieldDescriptorProto: name=1, number=3, label=4, type=5
        return ld(1, name) + vi(3, number) + vi(4, 1) + vi(5, ftype)

    fields = (
        ld(2, field(b"doc_id", 1, 3))  # TYPE_INT64
        + ld(2, field(b"nchars", 2, 5))  # TYPE_INT32
        + ld(2, field(b"head", 3, 9))  # TYPE_STRING
    )
    msg = ld(1, b"Doc") + fields  # DescriptorProto: name=1, field=2
    # FileDescriptorProto: name=1, package=2, message_type=4, syntax=12
    fdp = ld(1, b"doc.proto") + ld(2, b"q") + ld(4, msg) + ld(12, b"proto3")
    return ld(1, fdp)  # FileDescriptorSet.file = 1


def _encode_doc_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched protobuf ENCODER (wire spec: varint tags, LEN
    strings). doc_id/nchars are non-negative in the fixture, so plain
    unsigned varints suffice; head is UTF-8."""

    def uvarint(v: int) -> bytes:
        out = bytearray()
        while True:
            if v > 0x7F:
                out.append((v & 0x7F) | 0x80)
                v >>= 7
            else:
                out.append(v)
                return bytes(out)

    for pdf in batches:
        blobs = []
        for doc_id, nchars, head in zip(pdf["doc_id"], pdf["nchars"], pdf["head"]):
            h = str(head).encode("utf-8")
            blobs.append(
                b"\x08" + uvarint(int(doc_id))  # field 1 varint
                + b"\x10" + uvarint(int(nchars))  # field 2 varint
                + b"\x1a" + uvarint(len(h)) + h  # field 3 LEN
            )
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "data": blobs})


PROTOBUF_ROUNDTRIP_ORACLE = """
    SELECT doc_id,
           CAST(length(text) AS INTEGER) AS nchars,
           substr(text, 1, 16) AS head
    FROM documents
    WHERE doc_id % 5 = 0
    ORDER BY doc_id
"""


@query("protobuf_roundtrip", oracle=PROTOBUF_ROUNDTRIP_ORACLE)
def protobuf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → protobuf wire bytes (Arrow-batched encoder, public
    wire format) → `readers.protobuf_decode` (spark-protobuf on a
    cluster, the pure-Python wire tier here) → projected scalars. The
    oracle recomputes the same three fields from the parquet directly,
    so a hash match proves encode∘decode is the identity — the decoder
    is exercised against bytes it never produced (VERDICT r6 item 2).

    Scale shape: both stages are per-row Arrow batch work with no
    shuffle; the decode becomes JVM-columnar under the connector."""
    import hashlib

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select(
            "doc_id",
            F.length("text").alias("nchars"),
            F.substring("text", 1, 16).alias("head"),
        )
    )
    encoded = docs.mapInPandas(
        _encode_doc_batches,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("data", T.BinaryType()),
            ]
        ),
    )
    desc_dir = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_desc_{spark.sparkContext.applicationId}",
    )
    os.makedirs(desc_dir, exist_ok=True)
    fds = _fds_bytes()
    desc_path = os.path.join(desc_dir, hashlib.md5(fds).hexdigest() + ".desc")
    if not os.path.exists(desc_path):
        with open(desc_path, "wb") as fh:
            fh.write(fds)
    from datapipeline_scripts_spark.sources import readers

    decoded = readers.protobuf_decode(encoded, "data", "Doc", desc_path)
    return decoded.select(
        F.col("data.doc_id").alias("doc_id"),
        F.col("data.nchars").alias("nchars"),
        F.col("data.head").alias("head"),
    ).orderBy("doc_id")


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
    from datapipeline_scripts_spark.extensions import multimodal as mm
    from datapipeline_scripts_spark.extensions import png_stdlib

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
            phashes.append(mm.phash(payload))
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





# ---- jdbc_roundtrip (staged r8, VERDICT A9/A25 driver-eye coverage) ---------

JDBC_ROUNDTRIP_ORACLE = """
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS sum_price
    FROM orders
    WHERE o_orderkey % 3 = 0
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""


@query("jdbc_roundtrip", oracle=JDBC_ROUNDTRIP_ORACLE)
def jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → a REAL relational database (embedded Apache Derby, the
    JDBC driver baked into this Spark) via the JDBC sink → 4-way
    range-partitioned parallel extract back → aggregate. This is the
    reference's full-database-extract shape (A9/A25) under the
    driver's hash gate, previously proven only in pytest.

    Scale shape: the read-back is the production parallel-extract
    split (numPartitions range predicates pushed to the database);
    embedded Derby stands in for the warehouse endpoint — on a real
    cluster only the URL/driver options change."""
    from datapipeline_scripts_spark.sources import readers

    jvm = spark._jvm
    jvm.java.lang.System.setProperty(
        "derby.stream.error.file", os.path.join(tempfile.gettempdir(), "derby.log")
    )
    db = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_jdbcdb_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{spark.sparkContext.applicationId}",
    )
    url = f"jdbc:derby:{db};create=true"
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    hi = src.agg(F.max("o_orderkey")).first()[0] or 1
    src.write.format("jdbc").options(
        url=url,
        dbtable="ORDERS_RT",
        driver="org.apache.derby.jdbc.EmbeddedDriver",
        user="app",
        password="app",
    ).mode("overwrite").save()
    back = readers.read_jdbc(
        spark,
        readers.jdbc_options(
            url,
            "ORDERS_RT",
            user="app",
            password="app",
            partition_column="o_orderkey",
            lower_bound=0,
            upper_bound=int(hi) + 1,
            num_partitions=4,
            driver="org.apache.derby.jdbc.EmbeddedDriver",
        ),
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


# ---- avro_logical_roundtrip (staged r8: date + decimal logical types) ------

AVRO_LOGICAL_ROUNDTRIP_ORACLE = """
    SELECT l_returnflag,
           count(*) AS n,
           CAST(min(CAST(l_shipdate AS DATE)) AS VARCHAR) AS first_ship,
           CAST(max(CAST(l_shipdate AS DATE)) AS VARCHAR) AS last_ship,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS sum_price
    FROM lineitem
    WHERE l_orderkey % 7 = 0
    GROUP BY l_returnflag
    ORDER BY l_returnflag
"""


@query("avro_logical_roundtrip", oracle=AVRO_LOGICAL_ROUNDTRIP_ORACLE)
def avro_logical_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem dates and decimals through the Avro LOGICAL types
    (`int/date`, `bytes/decimal`) via the two-tier sink and source —
    the values that actually exercise the codec's logical-type clauses
    rather than plain scalars. Oracle recomputes from parquet, so a
    hash match proves date epoch-days and decimal unscaled-bytes
    round-trip exactly."""
    from datapipeline_scripts_spark.sources import readers

    src = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 7 == 0)
        .select(
            "l_returnflag",
            F.to_date("l_shipdate").alias("ship_day"),
            F.col("l_extendedprice").cast("decimal(12,2)").alias("price"),
        )
        .transform(scan_spread(spark, sf_dir, "lineitem"))
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_avro_logical_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{spark.sparkContext.applicationId}",
    )
    readers.write_avro(src, out, mode="overwrite", codec="deflate")
    back = readers.read_avro(spark, out)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.min("ship_day").cast("string").alias("first_ship"),
            F.max("ship_day").cast("string").alias("last_ship"),
            F.round(F.sum("price"), 2).cast("double").alias("sum_price"),
        )
        .orderBy("l_returnflag")
    )


STAGED: dict[str, tuple] = {
    "avro_roundtrip": (avro_roundtrip, AVRO_ROUNDTRIP_ORACLE),
    "protobuf_roundtrip": (protobuf_roundtrip, PROTOBUF_ROUNDTRIP_ORACLE),
    "multimodal_real_png": (multimodal_real_png, MULTIMODAL_REAL_PNG_ORACLE),
    "jdbc_roundtrip": (jdbc_roundtrip, JDBC_ROUNDTRIP_ORACLE),
    "avro_logical_roundtrip": (avro_logical_roundtrip, AVRO_LOGICAL_ROUNDTRIP_ORACLE),
}
