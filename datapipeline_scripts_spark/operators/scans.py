"""D1/D2 — parquet scan + projection, filter predicates.

Reference parity: projection = `csvcut -c task_id`
(/root/reference/backup.sh:130); filter = `grep` substring/regex
predicates (/root/reference/backup.sh:124,130).

Scale: both queries push projection and predicates into the parquet
scan — `.explain()` shows ReadSchema limited to the selected columns and
PushedFilters for the comparisons; at 100 TB this is the difference
between scanning 4 columns' column-chunks and scanning the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_scripts_spark.catalog import load_table
from datapipeline_scripts_spark.registry import query


@query(
    "scan_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    """,
)
def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned scan: only 4 of 11 lineitem columns are read."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@query(
    "filter_pred",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_returnflag IN ('A', 'R')
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_linestatus LIKE 'F%'
    """,
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive predicates: BETWEEN, IN, timestamp compare, LIKE —
    all pushed to the parquet reader as row-group filters."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_quantity").between(10, 20)
        & F.col("l_returnflag").isin("A", "R")
        & (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & F.col("l_linestatus").like("F%")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


@query(
    "profile_table",
    oracle="""
    SELECT 'o_orderkey' AS col, count(o_orderkey) AS n_nonnull,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_val,
           CAST(max(o_orderkey) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(o_orderstatus), count(DISTINCT o_orderstatus),
           min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(o_orderpriority), count(DISTINCT o_orderpriority),
           min(o_orderpriority), max(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(o_totalprice), count(DISTINCT o_totalprice),
           CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR),
           CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', count(o_orderdate), count(DISTINCT o_orderdate),
           strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S'),
           strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')
    FROM orders
    ORDER BY col
    """,
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profiling: per-column non-null count, exact distinct
    count, and min/max — the pre-flight data-quality report a curation
    pipeline runs before training ingestion. All columns profile in ONE
    aggregation (Catalyst expands the multi-distinct into a single
    Expand + two-stage aggregate, not five scans; the oracle's UNION
    ALL of per-column passes is the naive equivalent). Doubles are
    rendered through DECIMAL, timestamps through a fixed format, so the
    string report is engine-exact."""
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    agg = o.agg(
        F.count("o_orderkey").alias("k_n"),
        F.count_distinct("o_orderkey").alias("k_d"),
        F.min("o_orderkey").cast("string").alias("k_min"),
        F.max("o_orderkey").cast("string").alias("k_max"),
        F.count("o_orderstatus").alias("s_n"),
        F.count_distinct("o_orderstatus").alias("s_d"),
        F.min("o_orderstatus").alias("s_min"),
        F.max("o_orderstatus").alias("s_max"),
        F.count("o_orderpriority").alias("p_n"),
        F.count_distinct("o_orderpriority").alias("p_d"),
        F.min("o_orderpriority").alias("p_min"),
        F.max("o_orderpriority").alias("p_max"),
        F.count("o_totalprice").alias("t_n"),
        F.count_distinct("o_totalprice").alias("t_d"),
        F.min(price).cast("string").alias("t_min"),
        F.max(price).cast("string").alias("t_max"),
        F.count("o_orderdate").alias("d_n"),
        F.count_distinct("o_orderdate").alias("d_d"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias("d_min"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias("d_max"),
    )
    return agg.selectExpr(
        """stack(5,
            'o_orderkey',      k_n, k_d, k_min, k_max,
            'o_orderstatus',   s_n, s_d, s_min, s_max,
            'o_orderpriority', p_n, p_d, p_min, p_max,
            'o_totalprice',    t_n, t_d, t_min, t_max,
            'o_orderdate',     d_n, d_d, d_min, d_max
        ) AS (col, n_nonnull, n_distinct, min_val, max_val)"""
    ).orderBy("col")


_PROVENANCE_ORACLE = """
SELECT 'events.parquet' AS file_name,
       count(*) AS n_rows,
       CAST(0 AS BIGINT) AS first_row_index,
       CAST(count(*) - 1 AS BIGINT) AS last_row_index,
       CAST(min(event_id) AS BIGINT) AS min_event_id,
       CAST(max(event_id) AS BIGINT) AS max_event_id
FROM events
"""


@query("scan_provenance", oracle=_PROVENANCE_ORACLE)
def scan_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row provenance via the hidden `_metadata` file column: per
    source file, row counts, the row-index range, and key bounds —
    the lineage surface a lakehouse audit needs (which file did this
    row come from; is any file partially ingested). `_metadata` is
    generated by the scan itself (no shuffle, no extra read), so
    provenance is free at any corpus size; the oracle pins the
    single-file fixture's expected identity and contiguous 0..n-1
    row indices, proving the metadata plumbing end-to-end.

    At 100 TB the same query groups by `_metadata.file_path` across
    millions of objects — still one partial-aggregable pass."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            F.col("_metadata.file_name").alias("file_name"),
            F.col("_metadata.row_index").alias("row_index"),
            "event_id",
        )
        .groupBy("file_name")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("row_index").alias("first_row_index"),
            F.max("row_index").alias("last_row_index"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
    )
