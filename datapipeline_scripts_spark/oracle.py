"""DuckDB differential-test harness — the engine's own copy of the
driver's correctness gate (SURVEY §5.2), so every declared query is
verified locally before the driver ever sees it.

Comparison = row count + sorted column names + exact cell-by-cell
equality after canonicalization (rows sorted by their string image).
This is strictly *stricter* than an order-insensitive value hash: if
this passes, any hash over the same values passes.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import duckdb
import pandas as pd
from pyspark.sql import DataFrame

from datapipeline_scripts_spark.catalog import TABLES, table_path


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Fresh in-memory DuckDB with every fixture table as a view —
    matching the driver's pre-registered views."""
    con = duckdb.connect()
    for name in TABLES:
        path = table_path(sf_dir, name)
        # fixtures are single files, but Spark-written tables (e.g. the
        # scale-proxy datasets) are DIRECTORIES of part files — glob those
        # so the oracle runs on either layout
        import os as _os

        if _os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon_cell(v: object) -> object:
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 vs 0.0 and represent exactly
        return repr(v + 0.0)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_rows(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = [tuple(_canon_cell(v) for v in row) for row in df[cols].itertuples(index=False, name=None)]
    rows.sort()
    return cols, rows


@dataclass
class DiffReport:
    key: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    issues: list[str] = field(default_factory=list)

    def __str__(self) -> str:
        status = "OK " if self.ok else "FAIL"
        extra = ("; " + "; ".join(self.issues)) if self.issues else ""
        return f"[{status}] {self.key}: spark={self.spark_rows} oracle={self.oracle_rows}{extra}"


def compare(key: str, spark_df: DataFrame, oracle_pdf: pd.DataFrame) -> DiffReport:
    spark_pdf = spark_df.toPandas()
    report = DiffReport(key=key, ok=True, spark_rows=len(spark_pdf), oracle_rows=len(oracle_pdf))
    s_cols, s_rows = canon_rows(spark_pdf)
    o_cols, o_rows = canon_rows(oracle_pdf)
    if s_cols != o_cols:
        report.ok = False
        report.issues.append(f"columns differ: spark={s_cols} oracle={o_cols}")
        return report
    if len(s_rows) != len(o_rows):
        report.ok = False
        report.issues.append("row count mismatch")
    mismatches = [i for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b]
    if mismatches:
        report.ok = False
        i = mismatches[0]
        report.issues.append(
            f"{len(mismatches)} differing rows; first at sorted idx {i}: spark={s_rows[i]} oracle={o_rows[i]}"
        )
    return report


def check_query(key: str, spark, sf_dir: str) -> DiffReport:
    """Run one declared query against its oracle."""
    from datapipeline_scripts_spark.registry import get

    spec = get(key)
    sdf = spec.build(spark, sf_dir)
    with duck_connection(sf_dir) as con:
        opdf = con.execute(spec.oracle).fetch_df()
    return compare(key, sdf, opdf)


# --- engine-side order-insensitive fingerprint mode (VERDICT r04 item 2) ---
#
# `compare` collects every result row through the driver, which caps the
# provable result size (py4j materialization bound the scan_project /
# join_band value checks at the 60M-row proxy to counts only).  Agg-hash
# mode instead computes (row count, Σ md5_48(canonical row string)) INSIDE
# each engine — the same fingerprint idiom test_fixture_schemas.py pins for
# the fixtures — and compares one row per engine.  Order-insensitive,
# value-exact for every exactly-rendered type; DOUBLE columns are rendered
# as round(x*1e6) microunit integers (both engines compute the identical
# IEEE double from identical inputs and share away-from-zero tie rounding,
# so this is equality of the doubles at 1e-6 quantization — documented,
# strictly stronger than the count-only check it replaces; the row-collect
# mode remains the exact-repr gate at fixture SFs).  The micro render is
# only defined for |x| ≤ 9.2e12 (beyond that, x*1e6 exceeds the BIGINT
# range): DuckDB's CAST raises there, and the Spark side raises too via an
# explicit guard — without the guard Spark's non-ANSI double→long cast
# would CLAMP instead, an asymmetric failure mode (ADVICE r05).  Either
# way the failure is loud, never a silently-clamped fingerprint.

_AGG_SEP = "\x1f"
_AGG_NULL = "\\N"


def _render_class(engine: str, dtype: str) -> str:
    """Map a column dtype to a cross-engine render class, or raise."""
    d = dtype.lower()
    if d.startswith("decimal"):
        scale = d.rstrip(")").split(",")[1].strip() if "," in d else "0"
        return "cast" if scale == "0" else f"dec{scale}"
    if d in ("double", "float", "real"):
        return "micro"
    if d.startswith("timestamp"):
        return "ts"
    if d in ("tinyint", "smallint", "int", "integer", "bigint", "hugeint",
             "ubigint", "uinteger", "usmallint", "utinyint", "boolean",
             "string", "varchar", "date"):
        return "cast"
    raise ValueError(f"agg-hash mode cannot render {engine} dtype {dtype!r} "
                     "(arrays/structs/binary need the row-collect mode)")


def _spark_fingerprint(sdf: DataFrame) -> tuple[list[str], dict[str, str], int, int]:
    """(sorted cols, render classes, count, md5_48 row-sum) of a Spark DF."""
    from pyspark.sql import functions as F

    dtypes = dict(sdf.dtypes)
    cols = sorted(sdf.columns)
    classes = {c: _render_class("spark", dtypes[c]) for c in cols}
    parts = []
    for c in cols:
        col = F.col(c)
        if classes[c] == "micro":
            base = col.cast("double")
            r = (
                F.when(F.isnan(base), F.lit("nan"))
                .when(base == float("inf"), F.lit("inf"))
                .when(base == float("-inf"), F.lit("-inf"))
                .when(
                    F.abs(base) > 9.2e12,
                    F.raise_error(
                        F.concat(
                            F.lit(f"agg-hash micro render out of range in {c!r}: "),
                            base.cast("string"),
                        )
                    ).cast("string"),
                )
                .otherwise(F.round(base * 1e6).cast("long").cast("string"))
            )
        elif classes[c] == "ts":
            r = F.date_format(col, "yyyy-MM-dd HH:mm:ss.SSSSSS")
        else:
            r = col.cast("string")
        parts.append(F.coalesce(r, F.lit(_AGG_NULL)))
    rowstr = F.concat_ws(_AGG_SEP, *parts)
    h = F.conv(F.substring(F.md5(rowstr), 1, 12), 16, 10).cast("long")
    n, fp = sdf.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(h.cast("decimal(38,0)")), F.lit(0).cast("decimal(38,0)")).alias("fp"),
    ).first()
    return cols, classes, int(n), int(fp)


def _duck_fingerprint(
    con: duckdb.DuckDBPyConnection, oracle_sql: str
) -> tuple[list[str], dict[str, str], int, int]:
    """(sorted cols, render classes, count, md5_48 row-sum) of an oracle."""
    desc = con.execute(f"DESCRIBE SELECT * FROM ({oracle_sql}) t").fetchall()
    dtypes = {row[0]: row[1] for row in desc}
    cols = sorted(dtypes)
    classes = {c: _render_class("duck", dtypes[c]) for c in cols}
    parts = []
    for c in cols:
        q = f'"{c}"'
        if classes[c] == "micro":
            r = (
                f"CASE WHEN isnan({q}) THEN 'nan' "
                f"WHEN {q} = CAST('inf' AS DOUBLE) THEN 'inf' "
                f"WHEN {q} = CAST('-inf' AS DOUBLE) THEN '-inf' "
                f"ELSE CAST(CAST(round({q} * 1000000) AS BIGINT) AS VARCHAR) END"
            )
        elif classes[c] == "ts":
            r = f"strftime({q}, '%Y-%m-%d %H:%M:%S.%f')"
        else:
            r = f"CAST({q} AS VARCHAR)"
        parts.append(f"coalesce({r}, '{_AGG_NULL}')")
    rowstr = "concat_ws(chr(31), " + ", ".join(parts) + ")"
    n, fp = con.execute(
        f"SELECT count(*), coalesce(sum(CAST(('0x' || substr(md5({rowstr}), 1, 12)) "
        f"AS BIGINT)), 0) FROM ({oracle_sql}) t"
    ).fetchone()
    return cols, classes, int(n), int(fp)


def agg_hash_check(key: str, spark, sf_dir: str) -> DiffReport:
    """Fingerprint-compare one declared query without collecting rows."""
    from datapipeline_scripts_spark.registry import get

    spec = get(key)
    sdf = spec.build(spark, sf_dir)
    s_cols, s_cls, s_n, s_fp = _spark_fingerprint(sdf)
    with duck_connection(sf_dir) as con:
        o_cols, o_cls, o_n, o_fp = _duck_fingerprint(con, spec.oracle)
    report = DiffReport(key=key, ok=True, spark_rows=s_n, oracle_rows=o_n,
                        issues=["agg-hash"])
    if s_cols != o_cols:
        report.ok = False
        report.issues.append(f"columns differ: spark={s_cols} oracle={o_cols}")
        return report
    if s_cls != o_cls:
        report.ok = False
        report.issues.append(f"render classes differ: spark={s_cls} oracle={o_cls}")
        return report
    if s_n != o_n:
        report.ok = False
        report.issues.append("row count mismatch")
    if s_fp != o_fp:
        report.ok = False
        report.issues.append(f"fingerprint mismatch: spark={s_fp} oracle={o_fp}")
    return report
