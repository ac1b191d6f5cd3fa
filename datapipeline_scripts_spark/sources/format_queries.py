"""Driver-visible source-format queries: round-trip a table through
CSV / JSON-lines on local disk, read it back with an explicit schema,
and aggregate — proving the text-format readers/writers preserve
values (the reference's pipelines move dumps through flat files the
same way: plain-text dump → restore, /root/reference/backup.sh:264-375).

The oracle aggregates the original parquet directly, so a hash match
certifies the round-trip is lossless. Doubles survive because Spark
writes shortest-round-trip representations; money is still re-cast to
DECIMAL before summing (summation-order independence, SURVEY §7.0).

Scale shape: the write is a distributed `df.write` (one file per
partition, no driver collect); the read-back is a parallel scan with a
user-supplied schema — schema inference is disabled on the hot path
(inference is an extra full scan at 100 TB).

The `*_roundtrip` keys further down do the same through every other
shard format the package reads and writes (Avro, protobuf, JDBC, WARC,
WebDataset, jsonl.zst, TFRecord, tf.Example, Arrow IPC), each through
the format's production writer and reader; `federated_ingest_union`
sends each document through one of five formats and unions the
results.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import struct
import tempfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datapipeline_scripts_spark.catalog import load_table, scan_spread
from datapipeline_scripts_spark.registry import query

_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
    ]
)

_ORACLE = """
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS sum_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    # per-session path component: concurrent sessions on one machine must
    # not race on a shared overwrite location (ADVICE r01)
    out = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_{fmt}_roundtrip_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{spark.sparkContext.applicationId}",
    )
    writer = src.write.mode("overwrite")
    if fmt == "csv":
        writer.option("header", "true").csv(out)
        back = spark.read.schema(_SCHEMA).option("header", "true").csv(out)
    elif fmt == "orc":
        writer.orc(out)
        back = spark.read.schema(_SCHEMA).orc(out)
    else:
        writer.json(out)
        back = spark.read.schema(_SCHEMA).json(out)
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


@query("csv_roundtrip", oracle=_ORACLE)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → headered CSV on disk → schema'd read-back → aggregate;
    hash-matches the direct-parquet oracle iff the CSV codec is
    value-preserving."""
    return _roundtrip(spark, sf_dir, "csv")


@query("jsonl_roundtrip", oracle=_ORACLE)
def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → JSON-lines on disk → schema'd read-back → aggregate
    (same oracle as `csv_roundtrip`)."""
    return _roundtrip(spark, sf_dir, "json")


@query("orc_roundtrip", oracle=_ORACLE)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → ORC on disk → schema'd read-back → aggregate (same
    oracle as `csv_roundtrip`); exercises the columnar non-parquet
    path, which keeps pushdown + pruning unlike the text formats."""
    return _roundtrip(spark, sf_dir, "orc")


@query(
    "partitioned_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS sum_price
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → parquet partitioned by o_orderstatus → read back with a
    partition filter → aggregate. The filter prunes at the DIRECTORY
    level (PartitionFilters in the scan, not a data filter) — at
    100 TB this is the difference between scanning one status's files
    and scanning everything; the hash match against unpartitioned
    parquet certifies the layout loses nothing."""
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    # per-session path component: concurrent sessions on one machine must
    # not race on overwrite/rmtree of a shared location (ADVICE r01)
    out = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_part_roundtrip_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{spark.sparkContext.applicationId}",
    )
    src.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "O")
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


@query("dumpline_roundtrip", oracle=_ORACLE)
def dumpline_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → pipe-delimited dump lines (the reference's pg_dump COPY
    text format, backup.sh:210) → `spark.read.text` → split/parse →
    aggregate. The numeric columns round-trip losslessly because the
    line carries Spark's canonical double/long rendering (shortest
    round-trip repr), so cast-back is bit-exact — the same property a
    restore drill depends on.

    Scale: text lines are splittable input (no footer), so a 100 TB
    dump directory parallelizes by line ranges; the parse is
    codegen'd split/cast, no Python."""
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_dumpline_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{spark.sparkContext.applicationId}",
    )
    lines = src.select(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_orderstatus"),
            F.col("o_totalprice").cast("string"),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(out)
    raw = spark.read.text(out)
    parts = F.split(F.col("value"), r"\|")
    back = raw.select(
        F.element_at(parts, 1).cast("long").alias("o_orderkey"),
        F.element_at(parts, 2).alias("o_orderstatus"),
        F.element_at(parts, 3).cast("double").alias("o_totalprice"),
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


@query("fixedwidth_roundtrip", oracle=_ORACLE)
def fixedwidth_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → fixed-width text records (mainframe/EDI ingest shape) →
    `spark.read.text` → substring-sliced parse → aggregate. Columns are
    space-padded to fixed offsets; values stay lossless because each
    field carries the canonical string rendering, only padded.

    Scale: fixed-width slicing is pure codegen substring math — the
    cheapest possible parse — and the writer pads with format_string,
    so neither side leaves the JVM."""
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_fixedwidth_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{spark.sparkContext.applicationId}",
    )
    lines = src.select(
        F.concat(
            F.format_string("%-20s", F.col("o_orderkey").cast("string")),
            F.format_string("%-4s", F.col("o_orderstatus")),
            F.format_string("%-24s", F.col("o_totalprice").cast("string")),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(out)
    raw = spark.read.text(out)
    back = raw.select(
        F.trim(F.substring("value", 1, 20)).cast("long").alias("o_orderkey"),
        F.trim(F.substring("value", 21, 4)).alias("o_orderstatus"),
        F.trim(F.substring("value", 25, 24)).cast("double").alias("o_totalprice"),
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


@query(
    "schema_evolution_roundtrip",
    oracle="""
    SELECT l_linenumber > 3 AS has_discount,
           count(*) AS n,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS sum_qty,
           CAST(round(coalesce(sum(CASE WHEN l_linenumber > 3
                       THEN CAST(l_discount AS DECIMAL(18,4)) END), 0), 4) AS DOUBLE)
             AS sum_disc
    FROM lineitem
    GROUP BY 1
    ORDER BY 1
    """,
)
def schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: batch 1 writes the v1 schema (orderkey, qty),
    batch 2 appends the v2 schema with a new `l_discount` column; the
    read-back uses `mergeSchema=true` and must surface the union schema
    with NULL-filled v1 rows. The aggregate splits on column presence,
    so the hash match against raw lineitem certifies both the merge and
    the null-fill are lossless.

    Scale: schema merge reads only parquet FOOTERS (one tiny task per
    file), not data; the v1/v2 batches stay separately scannable. This
    is the additive-column evolution every long-lived 100 TB dataset
    goes through — no rewrite of historical files."""
    li = load_table(spark, sf_dir, "lineitem")
    out = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_schevo_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{spark.sparkContext.applicationId}",
    )
    v1 = li.filter(F.col("l_linenumber") <= 3).select("l_orderkey", "l_linenumber", "l_quantity")
    v2 = li.filter(F.col("l_linenumber") > 3).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount"
    )
    v1.write.mode("overwrite").parquet(os.path.join(out, "batch=1"))
    v2.write.mode("overwrite").parquet(os.path.join(out, "batch=2"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out, "batch=1"), os.path.join(out, "batch=2")
    )
    return (
        back.groupBy(F.col("l_discount").isNotNull().alias("has_discount"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")), 2).cast("double").alias("sum_qty"),
            F.round(
                F.coalesce(F.sum(F.col("l_discount").cast("decimal(18,4)")), F.lit(0).cast("decimal(18,4)")), 4
            )
            .cast("double")
            .alias("sum_disc"),
        )
        .orderBy("has_discount")
    )


@query("xml_roundtrip", oracle=_ORACLE)
def xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → XML on disk → schema'd read-back → aggregate (same
    oracle as `csv_roundtrip`). Spark 4 ships the XML source natively
    (the former spark-xml package) — rowTag framing, distributed write,
    schema'd parallel read with inference disabled on the hot path."""
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_xml_roundtrip_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{spark.sparkContext.applicationId}",
    )
    src.write.mode("overwrite").option("rootTag", "orders").option("rowTag", "order").format("xml").save(out)
    back = spark.read.schema(_SCHEMA).option("rowTag", "order").format("xml").load(out)
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


@query(
    "jsonl_corrupt_roundtrip",
    oracle="""
    SELECT count(*) AS n_good,
           7 AS n_bad,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS sum_price
    FROM orders
    """,
)
def jsonl_corrupt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record quarantine: a JSONL dataset with 7 injected
    garbage lines, read in PERMISSIVE mode with a corrupt-record
    column — bad lines land in `_corrupt` instead of failing the job
    (the data-plane posture `try_functions` provides for scalars,
    applied to the source itself). The report proves the good rows
    survive bit-exact AND the bad-row count is exactly the injected 7.

    At 100 TB: PERMISSIVE + corrupt-column (plus a quarantine sink for
    the bad rows) is the only sane way to ingest third-party feeds;
    FAILFAST turns one upstream typo into a dead pipeline."""
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_corrupt_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{spark.sparkContext.applicationId}",
    )
    src.write.mode("overwrite").json(out)
    bad = spark.createDataFrame(
        [(f"{{not json at all #{i}",) for i in range(7)], "value string"
    )
    bad.coalesce(1).write.mode("append").text(out)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(out)
    )
    # Spark disallows queries referencing ONLY the corrupt-record
    # column; one conditional aggregate over all columns sidesteps the
    # restriction and is a single pass anyway
    ok = F.col("_corrupt").isNull()
    return back.agg(
        F.sum(F.when(ok, 1).otherwise(0)).cast("long").alias("n_good"),
        F.sum(F.when(ok, 0).otherwise(1)).cast("int").alias("n_bad"),
        F.round(
            F.sum(F.when(ok, F.col("o_totalprice").cast("decimal(18,2)"))), 2
        )
        .cast("double")
        .alias("sum_price"),
    )


@query(
    "textfile_roundtrip",
    oracle=_ORACLE,
)
def textfile_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → pipe-delimited lines via the `text` sink → `text`
    source read-back → parse → aggregate (same oracle as
    `csv_roundtrip`). Exercises the raw line-oriented source/sink the
    reference's dump files flow through (one string column, no codec
    in the way — /root/reference/backup.sh's plain-SQL dump analogue).

    Doubles survive because CAST(double AS STRING) emits the
    shortest-round-trip representation, and the read-back casts it
    straight back; the write is distributed (one file per partition)
    and the read is a parallel line scan — no schema inference pass."""
    src = load_table(spark, sf_dir, "orders").select(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_orderstatus"),
            F.col("o_totalprice").cast("string"),
        ).alias("value")
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_text_roundtrip_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{spark.sparkContext.applicationId}",
    )
    src.write.mode("overwrite").text(out)
    back = spark.read.text(out)
    parts = F.split(F.col("value"), "\\|")
    parsed = back.select(
        parts.getItem(0).cast("long").alias("o_orderkey"),
        parts.getItem(1).alias("o_orderstatus"),
        parts.getItem(2).cast("double").alias("o_totalprice"),
    )
    return (
        parsed.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


_BINARYFILE_ORACLE = """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    WHERE doc_id % 199 = 0
"""


@query("binaryfile_roundtrip", oracle=_BINARYFILE_ORACLE)
def binaryfile_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-blob ingest via the built-in `binaryFile` source — the
    front door for multimodal corpora (multimodal.py's decode plumbing
    assumes blobs already sit in a binary column; this query proves the
    path that GETS them there from raw files: path, length, content).

    Fixture materialization: a bounded subset of documents
    (doc_id % 199, ≤ a few dozen rows at any fixture SF) is written as
    one .bin file each — a driver-side loop, acceptable ONLY because it
    creates the on-disk fixture this source query exists to read; at
    100 TB the files already exist (that's the premise) and the
    binaryFile scan itself is fully parallel with one task per file.
    The report recomputes doc_id from the file path and hashes the
    bytes; the oracle recomputes both from the table text (UTF-8), so
    a hash match proves byte-exact ingest."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 199 == 0)
        .select("doc_id", "text")
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_binaryfile_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{spark.sparkContext.applicationId}",
    )
    # fresh directory each run: a stale doc_*.bin from a prior run (other
    # sf_dir with the same basename, regenerated fixtures) must not leak
    # into the scan — same overwrite semantics as the sibling round trips
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    for row in docs.collect():  # bounded fixture write, see docstring
        with open(os.path.join(out, f"doc_{row['doc_id']}.bin"), "wb") as fh:
            fh.write(row["text"].encode("utf-8"))
    back = spark.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(out)
    return back.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


_DPP_ORACLE = """
    SELECT l_returnflag,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    WHERE strftime(l_shipdate, '%Y') = '1996'
      AND CAST(strftime(l_shipdate, '%m') AS INTEGER) <= 3
    GROUP BY l_returnflag
"""


@query("join_dpp_partitioned", oracle=_DPP_ORACLE)
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out
    partitioned by ship-month, the month dimension is filtered to
    1996-Q1 at *runtime*, and Catalyst injects a dynamicpruning
    subquery into the fact scan so only the three matching month
    directories are read — the star-schema scan killer at 100 TB
    (static pruning can't help because the quarter→month mapping
    lives in the dim, not in the fact predicate). Plan-asserted in
    test_plans.py: `dynamicpruningexpression` on the scan.

    The hash match against the flat-oracle (plain date predicate on
    unpartitioned lineitem) certifies the pruned read loses nothing."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_quantity",
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_dpp_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{spark.sparkContext.applicationId}",
    )
    li.write.mode("overwrite").partitionBy("ship_month").parquet(out)
    fact = spark.read.parquet(out)
    # month dim with the quarter attribute the fact table doesn't have
    months = (
        fact.select("ship_month")
        .distinct()
        .select(
            "ship_month",
            F.concat(
                F.substring("ship_month", 1, 4),
                F.lit("-Q"),
                F.ceil(F.substring("ship_month", 6, 2).cast("int") / 3).cast("string"),
            ).alias("quarter"),
        )
    )
    dim = months.filter(F.col("quarter") == "1996-Q1")
    return (
        fact.join(F.broadcast(dim), "ship_month")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
    )


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
    """orders → Avro Object Container Files via `readers.write_avro`
    (the pure-Python OCF writer) → `readers.read_avro` → aggregate. The
    oracle aggregates the original parquet, so a hash match certifies
    the Avro encode/decode is lossless end to end — this puts the
    round-6 codec work under the driver's own eye (VERDICT r6 item 2).

    Scale shape: the write is one container file per partition
    (executor-side, no driver collect); the read is one task per file.
    The fixture parquet loads as ONE partition, which would serialize
    the Python encode — the explicit repartition spreads it across
    cores (and models the real layout: at scale the source has many
    partitions already and the repartition is a no-op to drop). The
    %3 slice keeps the Python byte cost bench-shaped; losslessness is
    per-row, so the slice proves the same property as the full table."""
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
    wire format) → `readers.protobuf_decode` (the pure-Python wire
    decoder) → projected scalars. The
    oracle recomputes the same three fields from the parquet directly,
    so a hash match proves encode∘decode is the identity — the decoder
    is exercised against bytes it never produced (VERDICT r6 item 2).

    Scale shape: both stages are per-row Arrow batch work with no
    shuffle."""

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


# ---- jdbc_roundtrip (VERDICT A9/A25 driver-eye coverage) ---------------------

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


# ---- avro_logical_roundtrip (date + decimal logical types) -------------------

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
    (`int/date`, `bytes/decimal`) via `readers.write_avro` and
    `readers.read_avro` —
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


# ---- webdataset_roundtrip ---------------------------------------------------
#
# Training-shard ingest under the driver harness: each document packs
# into a WebDataset sample (txt + cls members) inside a deterministic
# tar shard executor-side, then flows back through the PRODUCTION
# sample walk (sources/webdataset.py adjacency grouping over stdlib
# tarfile). The oracle recomputes the member inventory and the text
# hash from the documents table alone.

def _wds_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:

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


@query("federated_ingest_union", oracle=FEDERATED_INGEST_UNION_ORACLE)
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


@query("arrow_ipc_roundtrip", oracle=ARROW_IPC_ROUNDTRIP_ORACLE)
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
