"""Differential correctness: every declared query vs its DuckDB oracle
at sf0.001 (the driver repeats this at sf0.01)."""

from __future__ import annotations

import pytest

from datapipeline_scripts_spark.oracle import check_query
from datapipeline_scripts_spark.registry import all_queries

KEYS = sorted(all_queries())


@pytest.mark.parametrize("key", KEYS)
def test_query_matches_oracle(key: str, spark, sf_dir: str) -> None:
    report = check_query(key, spark, sf_dir)
    assert report.ok, str(report)
    assert report.spark_rows == report.oracle_rows
