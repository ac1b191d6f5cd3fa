"""D26 — the UDF surface: vectorized Pandas UDF (Arrow) and grouped
applyInPandas.

Reference parity (§2.F): `sqlcmd_with_backoff` takes an arbitrary
command (`"$@"` /root/reference/backup.sh:47) — a higher-order operator;
stored procs (backup.sh:119) are opaque server-side functions.

Performance doctrine: built-ins first; when Python is unavoidable, Arrow
batched Pandas UDFs (~10-100× over row-at-a-time). The demo UDF's math
is pure float64 and matches the SQL oracle exactly, proving the Arrow
path is numerically faithful.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F, types as T

from datapipeline_scripts_spark.catalog import load_table
from datapipeline_scripts_spark.registry import query


@F.pandas_udf(T.DoubleType())
def _net_price(price: pd.Series, discount: pd.Series, tax: pd.Series) -> pd.Series:
    """Vectorized net price = price·(1-disc)·(1+tax) (float64, Arrow)."""
    return price * (1.0 - discount) * (1.0 + tax)


@query(
    "udf_vectorized",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS net_revenue,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def udf_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas-UDF net price, aggregated per flag — hash-matches the pure
    SQL oracle because both compute in float64."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.withColumn("_net", _net_price("l_extendedprice", "l_discount", "l_tax"))
        .groupBy("l_returnflag")
        .agg(F.round(F.sum("_net"), 2).alias("net_revenue"), F.count("*").alias("n"))
    )


@query(
    "udf_grouped",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n,
           round(max(o_totalprice) - min(o_totalprice), 2) AS price_spread
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def udf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas per-group aggregation (UDAF stand-in): price spread
    per order status. Scale: each group is one pandas frame in one
    python worker — keys here are 3 statuses, so use only for
    moderate-cardinality/moderate-size groups; built-ins otherwise."""
    o = load_table(spark, sf_dir, "orders")

    def spread(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "o_orderstatus": [pdf["o_orderstatus"].iloc[0]],
                "n": [len(pdf)],
                "price_spread": [round(pdf["o_totalprice"].max() - pdf["o_totalprice"].min(), 2)],
            }
        )

    schema = T.StructType(
        [
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("price_spread", T.DoubleType()),
        ]
    )
    return o.select("o_orderstatus", "o_totalprice").groupBy("o_orderstatus").applyInPandas(spread, schema)


@query(
    "udtf_tokenize",
    oracle="""
    SELECT d.source,
           count(DISTINCT d.doc_id) AS n_docs,
           count(*) AS n_tokens,
           count(DISTINCT u.word) AS n_distinct,
           CAST(sum(CASE WHEN length(u.word) >= 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_long
    FROM documents d, unnest(string_split(d.text, ' ')) AS u(word)
    GROUP BY d.source
    """,
)
def udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4, §2.F): a user-defined TABLE function — one
    input row expands to N output rows — invoked through SQL's LATERAL
    correlation, the 1→N shape `multimodal_frames` builds via
    mapInPandas but here as a first-class catalog function any SQL user
    can call. The tokenizer splits on single spaces so DuckDB's
    string_split/unnest oracle replays it exactly.

    Scale: UDTFs run partition-parallel like any projection; the
    explosion factor (~tokens per doc) is the memory knob, and the
    downstream aggregate partial-reduces before the shuffle. For hot
    paths prefer JVM-side split+explode (text_tokens) — this query's
    value is proving the extension surface, and the oracle proves the
    Python row expansion is faithful."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id: bigint, source: string, word: string")
    class _Tokenize:
        def eval(self, doc_id: int, source: str, text: str):
            # NULL text yields no rows — mirrors the oracle's
            # unnest(string_split(NULL)) row elimination (ADVICE r02);
            # (text or '') would instead fabricate one empty token
            if text is None:
                return
            for w in text.split(" "):
                yield doc_id, source, w

    spark.udtf.register("tokenize_udtf", _Tokenize)
    return spark.sql(
        """
        SELECT t.source,
               count(DISTINCT t.doc_id) AS n_docs,
               count(*) AS n_tokens,
               count(DISTINCT t.word) AS n_distinct,
               sum(CASE WHEN length(t.word) >= 5 THEN 1 ELSE 0 END) AS n_long
        FROM {documents} d,
        LATERAL tokenize_udtf(d.doc_id, d.source, d.text) t
        GROUP BY t.source
        """,
        documents=load_table(spark, sf_dir, "documents"),
    )


def _arrow_cents_filter(batches):
    """mapInArrow worker: per-batch Arrow compute — quantity filter +
    integer-cents revenue, zero pandas conversion. Module-level so
    workers resolve it by reference (catalog._ship_package)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        qty = batch.column("l_quantity")
        mask = pc.greater_equal(qty, pa.scalar(25.0))
        kept = batch.filter(mask)
        # round_mode matters: Arrow defaults to half-to-even, SQL round()
        # is half-away-from-zero — the one numeric knob that differs
        rev = pc.round(
            pc.multiply(
                pc.multiply(
                    kept.column("l_extendedprice"),
                    pc.subtract(pa.scalar(1.0), kept.column("l_discount")),
                ),
                pa.scalar(100.0),
            ),
            round_mode="half_towards_infinity",
        )
        yield pa.RecordBatch.from_arrays(
            [kept.column("l_returnflag"), pc.cast(rev, pa.int64())],
            names=["l_returnflag", "rev_cents"],
        )


@query(
    "udf_arrow",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem
    WHERE l_quantity >= 25
    GROUP BY l_returnflag
    """,
)
def udf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mapInArrow` (Spark 4): the lowest-overhead Python escape hatch —
    the worker receives raw Arrow RecordBatches and runs pyarrow.compute
    kernels (vectorized C++), skipping even the pandas conversion that
    pandas_udf/mapInPandas pay. The right tier for byte-level or
    columnar-native logic (multimodal decode, tokenizers emitting
    offsets) where pandas object-boxing dominates.

    The batch fn filters and quantizes to integer cents (identical
    float64 ops as the SQL oracle → bit-identical, order-independent
    sums); Spark aggregates the batches JVM-side after.

    Scale: per-batch streaming (maxRecordsPerBatch bounds memory),
    partition-parallel, aggregation partial-reduces before the
    3-group exchange."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice", "l_discount"
    )
    mapped = li.mapInArrow(
        _arrow_cents_filter, "l_returnflag string, rev_cents long"
    )
    return mapped.groupBy("l_returnflag").agg(
        F.count("*").alias("n"), F.sum("rev_cents").alias("revenue_cents")
    )
