"""Custom Python DataSource (Spark 4 DataSource API).

The reference's engine dispatch (A6, backup.sh:100) promises "a reader
per source system". Spark 4's Python DataSource API is the modern
extension point for sources Spark has no built-in reader for —
internal wire formats, service APIs, bespoke simulators — without
touching the JVM: implement `DataSource`/`DataSourceReader` in Python,
register once, and `spark.read.format("logsynth")` plans it like any
other source, with real partition-parallel reads.

This module ships a deterministic synthetic log-line source as the
demonstrator: each of the N input partitions generates its own seq
range independently on its executor (no driver materialization), so
the source scales horizontally exactly like a file scan. The row
formula is pure integer arithmetic on `seq`, which is what makes the
query below fully hash-checkable: a DuckDB `generate_series` oracle
reproduces every row.

Pickling note: the DataSource classes are defined INSIDE
`register_logsynth`, so cloudpickle serializes them by value — the
special data-source worker that instantiates them does not need this
package on its sys.path (it may not have it; see
catalog._ship_package for the general worker-side import story).

Scale notes: rows-per-partition is the knob (a real feed would map
partitions to shards/offset ranges, the same shape Kafka's source
uses); Python-side generation pays the serialization toll, fine for a
connector whose upstream is the bottleneck — columnar/Arrow batch
reads are the optimization lever when the source itself is fast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_scripts_spark.registry import query

_N_ROWS = 10_000
_N_PARTS = 8
_LEVELS = ("DEBUG", "INFO", "WARN", "ERROR", "FATAL")


def register_logsynth(spark: SparkSession) -> None:
    """Idempotently register the source with this session. The classes
    are locals so they pickle by value (self-contained on workers)."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    levels = _LEVELS  # close over plain tuples/ints only

    class SeqPartition(InputPartition):
        def __init__(self, start: int, end: int) -> None:
            self.start, self.end = start, end

    class LogSynthReader(DataSourceReader):
        def __init__(self, options: dict) -> None:
            self.n_rows = int(options.get("rows", 10_000))
            self.n_parts = int(options.get("partitions", 8))

        def partitions(self):  # executor-parallel seq ranges
            step = (self.n_rows + self.n_parts - 1) // self.n_parts
            return [
                SeqPartition(lo, min(lo + step, self.n_rows))
                for lo in range(0, self.n_rows, step)
            ]

        def read(self, partition: SeqPartition):
            for seq in range(partition.start, partition.end):
                yield (
                    seq,
                    f"host-{seq % 7}",
                    levels[(seq // 7) % 5],
                    (seq * seq) % 997,
                )

    class LogSynthDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "logsynth"

        def schema(self) -> str:
            return "seq bigint, host string, level string, latency_ms bigint"

        def reader(self, schema) -> LogSynthReader:
            return LogSynthReader(self.options)

    try:
        spark.dataSource.register(LogSynthDataSource)
    except Exception:
        pass  # already registered in this session


_PYSOURCE_ORACLE = f"""
SELECT host, level,
       count(*) AS n,
       CAST(sum(latency_ms) AS BIGINT) AS total_latency,
       CAST(max(latency_ms) AS BIGINT) AS max_latency
FROM (
  SELECT seq,
         'host-' || (seq % 7) AS host,
         (ARRAY{list(_LEVELS)})[(seq // 7) % 5 + 1] AS level,
         (seq * seq) % 997 AS latency_ms
  FROM generate_series(0, {_N_ROWS - 1}) t(seq)
)
GROUP BY host, level
"""


@query("pysource_scan", oracle=_PYSOURCE_ORACLE)
def pysource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan the custom Python DataSource and aggregate per (host,
    level). The source's partitions() fan out across executors; the
    groupBy is a normal partial-agg shuffle on top — proving a
    Python-defined connector composes with the relational engine
    end-to-end. Hash-proven against a generate_series oracle that
    replays the generator's integer row formula."""
    register_logsynth(spark)
    df = spark.read.format("logsynth").option("rows", _N_ROWS).option("partitions", _N_PARTS).load()
    return df.groupBy("host", "level").agg(
        F.count("*").alias("n"),
        F.sum("latency_ms").alias("total_latency"),
        F.max("latency_ms").alias("max_latency"),
    )


_STREAM_ROWS = 3_000
_STREAM_BATCH = 1_000  # rows surfaced per micro-batch offset step


def register_logsynth_stream(spark: SparkSession) -> None:
    """Idempotently register the STREAMING flavor: same deterministic
    row formula, surfaced through the DataSourceStreamReader protocol
    (initialOffset / latestOffset / partitions / read / commit) — the
    extension point for streaming feeds Spark has no connector for
    (service cursors, internal changelogs). Offsets are plain dicts
    checkpointed by the engine, so a restarted query resumes at the
    committed seq — the same exactly-once contract the file source
    gets from its log."""
    from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

    levels = _LEVELS
    total, step = _STREAM_ROWS, _STREAM_BATCH

    class SeqPartition(InputPartition):
        def __init__(self, start: int, end: int) -> None:
            self.start, self.end = start, end

    class LogSynthStreamReader(DataSourceStreamReader):
        def initialOffset(self) -> dict:
            return {"seq": 0}

        def latestOffset(self) -> dict:
            # the feed's current head; availableNow snapshots this once
            # at query start and drains exactly [committed, head)
            return {"seq": total}

        def partitions(self, start: dict, end: dict):
            # chunk the offset range so the batch reads partition-parallel
            return [
                SeqPartition(lo, min(lo + step, end["seq"]))
                for lo in range(start["seq"], end["seq"], step)
            ]

        def read(self, partition: SeqPartition):
            for seq in range(partition.start, partition.end):
                yield (seq, f"host-{seq % 7}", levels[(seq // 7) % 5], (seq * seq) % 997)

        def commit(self, end: dict) -> None:
            pass  # offsets live in the engine's checkpoint log

    class LogSynthStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "logsynth_stream"

        def schema(self) -> str:
            return "seq bigint, host string, level string, latency_ms bigint"

        def streamReader(self, schema) -> LogSynthStreamReader:
            return LogSynthStreamReader()

    try:
        spark.dataSource.register(LogSynthStreamSource)
    except Exception:
        pass  # already registered in this session


_PYSOURCE_STREAM_ORACLE = f"""
SELECT host, level,
       count(*) AS n,
       CAST(sum(latency_ms) AS BIGINT) AS total_latency
FROM (
  SELECT seq,
         'host-' || (seq % 7) AS host,
         (ARRAY{list(_LEVELS)})[(seq // 7) % 5 + 1] AS level,
         (seq * seq) % 997 AS latency_ms
  FROM generate_series(0, {_STREAM_ROWS - 1}) t(seq)
)
GROUP BY host, level
"""


@query("pysource_stream", oracle=_PYSOURCE_STREAM_ORACLE)
def pysource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the custom Python STREAMING source (availableNow; the
    offset range fans out partition-parallel in 1000-row chunks)
    through a parquet sink, then aggregate the landed rows — proving a
    Python-defined streaming connector composes with checkpointed
    exactly-once delivery end-to-end. Hash-proven against the same
    generate_series oracle as the batch twin: the drain must surface
    every seq exactly once or the totals break."""
    import os
    import tempfile

    register_logsynth_stream(spark)
    root = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_pystream_{spark.sparkContext.applicationId}",
    )
    out, ckpt = os.path.join(root, "out"), os.path.join(root, "ckpt")
    q = (
        spark.readStream.format("logsynth_stream")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout=300):
        q.stop()
        raise TimeoutError(
            "logsynth_stream drain did not finish in 300 s — refusing to "
            "aggregate a partially-landed output directory"
        )
    landed = spark.read.schema("seq bigint, host string, level string, latency_ms bigint").parquet(out)
    return landed.groupBy("host", "level").agg(
        F.count("*").alias("n"),
        F.sum("latency_ms").alias("total_latency"),
    )
