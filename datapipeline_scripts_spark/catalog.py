"""Fixture-table catalog.

The engine's unit of work mirrors the reference's: a *named collection of
tables* (the reference moves whole databases — ``pg_dump -d "$DB_NAME"``,
/root/reference/backup.sh:210). Here a "database" is a directory of
parquet files, one per table (FIXTURES.md).

Scale note: tables are loaded lazily with ``spark.read.parquet`` so
Catalyst sees the parquet footers directly — column pruning and predicate
pushdown reach the scan. Never materialize here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables worth broadcasting in joins at any scale factor.
# At 100 TB, region/nation stay tiny (fixed cardinality); supplier/part/
# customer grow with SF but remain << lineitem; AQE re-checks at runtime.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


# Columns stored as parquet TIMESTAMP(NANOS): Spark reads them as
# ns-since-epoch longs (spark.sql.legacy.parquet.nanosAsLong) and we
# truncate to µs TimestampType here — the same ns→µs truncation DuckDB
# applies, so oracle comparisons agree (FIXTURES.md events.ts note).
_NS_TIMESTAMP_COLS = {"events": ("ts",)}


# Keyed by sc.applicationId, not id(sc): a garbage-collected context's
# id() can be reused by a fresh context, which would silently skip the
# addPyFile re-ship (ADVICE r02, catalog.py:88). applicationId is unique
# per context lifetime.
_SHIPPED_CONTEXTS: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable inside Spark's Python workers.

    Workers deserialize pandas UDFs / applyInPandas functions / Python
    DataSource classes BY REFERENCE (cloudpickle pickles module-level
    objects as `module.name`), so the package must be on the WORKER's
    sys.path. That holds for free when the driver process runs with
    cwd=/root/repo (local-mode workers inherit the cwd), but an
    externally-launched driver may run anywhere — so ship a zip of the
    package via addPyFile once per SparkContext (SparkFiles paths are
    prepended to worker sys.path per task).

    The zip stays in the temp directory while the context may still
    ship it to a new executor, and is removed when the driver process
    exits (A4 guaranteed cleanup); Spark removes its own SparkFiles copy."""
    sc = spark.sparkContext
    if sc.applicationId in _SHIPPED_CONTEXTS:
        return
    import atexit
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"dps_spark_pkg_{sc.applicationId.replace(':', '_')}.zip"
    )
    if not os.path.exists(zip_path):
        atexit.register(_remove_file, zip_path)
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.join(
                            "datapipeline_scripts_spark", os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
    try:
        sc.addPyFile(zip_path)
    except Exception as exc:  # e.g. Spark Connect without addPyFile
        # cwd fallback applies, but a silent swallow would mask worker
        # ImportErrors under a foreign-cwd driver — log it (ADVICE r02)
        import logging

        logging.getLogger(__name__).warning(
            "addPyFile(%s) failed (%s); workers rely on cwd fallback", zip_path, exc
        )
    _SHIPPED_CONTEXTS.add(sc.applicationId)


def _remove_file(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def ensure_session_conf(spark: SparkSession) -> None:
    """Defensive session settings for externally-created SparkSessions
    (e.g. the verify driver's): UTC rendering for oracle parity and the
    ns-parquet legacy read. Both are runtime-settable SQL confs."""
    # unconditional set: idempotent, and conf.get(key, default) in
    # Spark 4 validates the passed default, so probing first can throw
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _ship_package(spark)
    # fixture timestamps are parquet isAdjustedToUTC=false (NTZ) but hold
    # UTC wall-clock values; read them as plain TIMESTAMP so event-time
    # ops (unix_micros, watermarks) type-check and DuckDB hashes agree
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_session_conf(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    for col in _NS_TIMESTAMP_COLS.get(name, ()):
        if dict(df.dtypes).get(col) == "bigint":
            # integer div: double division would lose precision at 1e18 ns
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    # defensive: if the scan still surfaced NTZ (session created before
    # ensure_session_conf, cached relation, …), cast to TIMESTAMP — under
    # the UTC session zone this is the identity on the wall-clock value
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def _parse_jvm_bytes(s: str) -> int:
    """Parse a JVM byte-size conf value ('134217728', '128m', '1g')."""
    s = str(s).strip().lower()
    for suf, mult in (
        ("tb", 1024**4),
        ("gb", 1024**3),
        ("mb", 1024**2),
        ("kb", 1024),
        ("t", 1024**4),
        ("g", 1024**3),
        ("m", 1024**2),
        ("k", 1024),
        ("b", 1),
    ):
        if s.endswith(suf):
            return int(float(s[: -len(suf)])) * mult
    return int(s)


def _path_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total


def est_scan_splits(spark: SparkSession, path: str) -> int:
    """Lower bound on the number of input splits a parquet scan of
    `path` produces: ceil(bytes / maxPartitionBytes). Spark's real
    packing (openCostInBytes per file) only ever yields MORE splits
    for many-small-file layouts, so this underestimates — the safe
    direction for the spread decision below (an unnecessary spread is
    today's behavior; a missing spread would serialize the scan)."""
    nbytes = _path_bytes(path)
    maxpb = _parse_jvm_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    if maxpb <= 0:
        return 1
    return max(1, -(-nbytes // maxpb))


def scan_spread(spark: SparkSession, sf_dir: str, name: str):
    """Scale-adaptive scan spreading (optimization r14, guide §2 —
    every Exchange must pay for itself, and partitioning must derive
    from input size, not a constant).

    The fixture tables load as ONE scan partition (a few MB against a
    128 MB split size), which would serialize any compute-heavy
    downstream (per-row codecs, shingle md5, winnow projections) on a
    single core — measured this round: dropping the spread outright
    costs +20% on text_winnow and +35% on dedup_passage_winnow at
    sf0.1. But the unconditional `repartition(defaultParallelism)` the
    r10-r13 keys used is a full corpus round-robin SHUFFLE at any
    scale — at 100 TB the scan already yields thousands of splits and
    the exchange moves every byte for nothing. This helper keeps the
    spread exactly when the scan is too small to split: use as
    `df.transform(scan_spread(spark, sf_dir, "documents"))`.

    Returns df unchanged when ceil(table_bytes / maxPartitionBytes) >=
    defaultParallelism — i.e. the Exchange is structurally GONE from
    the plan on any input big enough to feed the cores from splits
    alone (demonstrated in plans/r14/text_winnow_splitdemo.txt, dumped
    with a 64 KB split size so the fixture itself crosses the
    threshold)."""

    def _apply(df: DataFrame) -> DataFrame:
        n = spark.sparkContext.defaultParallelism
        if est_scan_splits(spark, table_path(sf_dir, name)) >= n:
            return df
        return df.repartition(n)

    return _apply


def group_spread(spark: SparkSession, sf_dir: str, name: str, *keys: str):
    """Scale-adaptive PARALLELISM PIN for a Python-CPU-heavy grouped
    stage (optimization r14, guide §4 — keep Python-stage parallelism
    matched to the cores, §2.2 AQE coalescing).

    AQE's partition coalescing targets shuffle BYTES and is blind to
    per-row Python cost: on a small input it collapses the exchange
    feeding a `groupBy(keys).applyInPandas(...)` stage to one or two
    partitions, serializing every group's Python worker on a single
    core (measured this round: pretraining's TFRecord export leg
    2.05 s coalesced vs 0.83 s spread at sf0.1 — a 2.5× leg penalty
    for zero shuffle-byte savings). On a large input AQE's byte-sized
    partition count already exceeds the core count and is the right
    call — the export shuffle carries full document text, and pinning
    it to defaultParallelism there would make partitions huge.

    Same decision rule as scan_spread, derived from the upstream
    table's size: in the small-scan regime (the table cannot even
    feed the cores from splits) the group shuffle is explicitly
    `repartition(defaultParallelism, *keys)` — hash partitioning on
    the SAME keys the downstream groups by, so it satisfies the
    stage's clustering requirement (no extra exchange) while pinning
    the partition count AQE would otherwise coalesce; in the
    large regime the frame passes through untouched and AQE governs.
    Row placement is hash-of-key deterministic either way, and each
    group stays whole — results are unchanged by construction."""

    def _apply(df: DataFrame) -> DataFrame:
        n = spark.sparkContext.defaultParallelism
        if est_scan_splits(spark, table_path(sf_dir, name)) >= n:
            return df
        return df.repartition(n, *[F.col(k) for k in keys])

    return _apply

