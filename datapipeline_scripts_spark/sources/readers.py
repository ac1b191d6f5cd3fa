"""Readers/writers with format dispatch.

The reference branches its whole pipeline on `$DB_ENGINE ==
"sqlserver-se"` vs Postgres (/root/reference/backup.sh:100,171,242,309).
Here the dispatch is over storage formats: a strategy map format →
reader, the Spark-idiomatic equivalent. JDBC is configured but not
exercised locally (no database in the container) — `jdbc_options`
builds the exact option dict `spark.read.jdbc` needs, including the
partitioned-read settings that matter at scale.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from datapipeline_scripts_spark.sources.avro_pysource import (
    read_avro_py,
    spark_schema_for_path,
    write_avro_py,
)
from datapipeline_scripts_spark.sources.protobuf_pywire import decode_protobuf_py


def read_parquet(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """`merge_schema` reconciles files written under an evolved schema
    (added nullable columns) into one superset schema — a footer-level
    merge at planning time. Leave it off on stable tables: merging
    reads every file's footer up front, which at 100 TB of small files
    is a real listing cost."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """CSV with explicit schema preferred — inference costs a full extra
    pass over the data (fatal at 100 TB). Mirrors the reference's
    sqlcmd CSV result sets (`-W -s ',' -k 1`,
    /root/reference/backup.sh:118-121)."""
    reader = spark.read.option("header", str(header).lower()).option("sep", sep)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def jdbc_options(
    url: str,
    table: str,
    user: str,
    password: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 32,
    fetchsize: int = 10_000,
    driver: str | None = None,
) -> dict[str, str]:
    """Options for a *partitioned* JDBC extract — the snapshot job's
    `pg_dump` analogue (/root/reference/backup.sh:210) reading N key
    ranges in parallel instead of one serial dump stream.

    Exercised LIVE in-container against embedded Derby (the JDBC
    driver pyspark itself ships for its Hive metastore) — see
    test_sources.py::test_jdbc_live_extract_roundtrip_embedded_derby,
    which proves the partitioned read splits into `num_partitions`
    range-predicate tasks and the write/read roundtrip is lossless.

    IAM-auth deployments swap `password` for a token minted per
    connection (the reference's `generate-db-auth-token`,
    /root/reference/psql-backups-iam-auth.sh:119-124) via a JDBC
    ConnectionProvider — out of local scope."""
    opts = {
        "url": url,
        "dbtable": table,
        "user": user,
        "password": password,
        "fetchsize": str(fetchsize),
    }
    if driver is not None:
        opts["driver"] = driver
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned JDBC read needs lower_bound/upper_bound")
        opts.update(
            {
                "partitionColumn": partition_column,
                "lowerBound": str(lower_bound),
                "upperBound": str(upper_bound),
                "numPartitions": str(num_partitions),
            }
        )
    return opts


def read_jdbc(spark: SparkSession, options: dict[str, str]) -> DataFrame:
    """Partitioned JDBC extract from a `jdbc_options()` dict. With the
    partition keys present, Spark plans `num_partitions` concurrent
    range-predicate scans (`WHERE pc >= lo AND pc < hi`) — each task
    holds one connection, so size `num_partitions` to what the source
    database tolerates, not to the cluster's core count."""
    return spark.read.format("jdbc").options(**options).load()


def read_orc(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_partition_bytes: str | None = None,
) -> DataFrame:
    """binaryFile source — the multimodal ingest path: each file becomes
    one row (`path`, `modificationTime`, `length`, `content: binary`)
    feeding the extensions/multimodal.py decode plumbing.

    Scale notes: `pathGlobFilter` prunes at listing time (never read
    bytes you filter later); whole files can't split, so a partition's
    size is bounded by `spark.sql.files.maxPartitionBytes` times the
    largest-file skew — set it so the biggest file batch fits executor
    memory, and keep huge media out of this path (chunk upstream)."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if max_partition_bytes is not None:
        spark.conf.set("spark.sql.files.maxPartitionBytes", max_partition_bytes)
    return reader.load(path)


def read_avro(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """Avro source: the pure-Python Object Container File DataSource
    (`sources/avro_pysource.py`, partition-per-file, every spec-named
    codec — null/deflate/snappy/bzip2/xz stdlib-only, zstandard via
    pyarrow — and full union coverage via spark-avro's member-struct
    convention).

    Rows decode by the file's writer schema, so a caller-supplied
    `schema` must match the inferred schema exactly (projection/cast
    belong in a `.select` on the returned frame)."""
    if schema is not None:
        writer_schema = spark_schema_for_path(path)
        if schema != writer_schema:
            raise NotImplementedError(
                "read_avro decodes by the file's writer schema; requested schema "
                f"differs from {writer_schema.simpleString()} — drop the schema "
                "argument, then .select/.cast the returned frame"
            )
    return read_avro_py(spark, path)


def protobuf_decode(df: DataFrame, data_col: str, message_name: str, desc_path: str) -> DataFrame:
    """Protobuf column decode by the pure-Python wire-format decoder
    (`sources/protobuf_pywire.py`): the .desc FileDescriptorSet is
    parsed driver-side by the same wire reader (descriptor.proto's
    field numbers are public and frozen), the decoder compiles once
    and runs as an Arrow-batched UDF. Holder semantics match
    protobuf-java (unsigned wrap, enum symbol names, proto3
    defaults)."""
    return decode_protobuf_py(df, data_col, message_name, desc_path)


READERS: dict[str, Callable[..., DataFrame]] = {
    "parquet": read_parquet,
    "csv": read_csv,
    "json": read_json,
    "orc": read_orc,
    "binary": read_binary_files,
    "avro": read_avro,
}


def read(spark: SparkSession, fmt: str, path: str, **kwargs) -> DataFrame:
    """Format-dispatched read (A6)."""
    try:
        reader = READERS[fmt]
    except KeyError as exc:
        raise ValueError(f"unsupported source format {fmt!r}; known: {sorted(READERS)}") from exc
    return reader(spark, path, **kwargs)


def write_avro(df: DataFrame, path: str, mode: str = "error", codec: str = "deflate") -> None:
    """Avro sink: the pure-Python OCF writer (`avro_pysource.write_avro_py`:
    one part-file per partition on a POSIX-visible directory,
    null/deflate codecs)."""
    write_avro_py(df, path, codec=codec, mode=mode)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "error",
    partition_by: tuple[str, ...] = (),
    max_records_per_file: int | None = None,
    compression: str | None = None,
) -> None:
    """Parquet sink; `partition_by` gives downstream partition pruning,
    `maxRecordsPerFile` bounds file sizes so a skewed partition can't
    produce a multi-GB file, `compression` trades write CPU for scan
    bytes (zstd ≈ gzip ratio at ~3× the speed; snappy when CPU-bound)."""
    writer = df.write.mode(mode)
    if compression is not None:
        writer = writer.option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(path)
