"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``datapipeline_scripts_spark``; this file just
adapts the engine's query registry to the driver's shape.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datapipeline_scripts_spark.registry import all_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-style pricing summary) on sf0.001."""
    from datapipeline_scripts_spark.operators.aggregates import agg_group

    return agg_group(spark, "/root/testdata/sf0.001")


# The driver checks the first ~50 registry keys per round. The catalog
# is ordered so that window always lands on the keys with the least
# driver evidence: keys never proven in a CORRECTNESS_r*.json first,
# then proven keys, stalest evidence first (parsed at import by
# _driver_proven_keys, so the rotation is automatic round over round).


def _driver_proven_keys() -> dict[str, int]:
    """Map key → LATEST round whose driver CORRECTNESS file has a
    fully-green row for it. Parsing the files (instead of hard-coding
    round 1's outcome) makes the checked-set rotation automatic: each
    round the 50-key window lands on the keys with the least driver
    evidence. With the whole catalog driver-proven (r7), the round
    number doubles as evidence AGE: the proven tail is ordered
    stalest-first so spare window slots refresh the oldest proofs.
    LATEST (not earliest) is what makes the rotation actually rotate
    (round-9 fix): a key re-proven last round keeps its earliest round
    forever, so an earliest-first sort would pin the same ~42 keys in
    the window every round — measured before the fix, all 42 r9 spare
    slots landed on keys already refreshed in r8. With latest-first,
    each round's re-proofs sink to the back and the next-stalest
    cohort surfaces. Membership semantics (``key in proven``) are
    unchanged."""
    import glob
    import json
    import re

    proven: dict[str, int] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 99
        try:
            with open(path) as fh:
                rows = json.load(fh)
            for key, row in rows.items():
                if (
                    isinstance(row, dict)
                    and row.get("rows_match")
                    and row.get("schema_match")
                    and row.get("hash_match")
                    and not row.get("err")
                ):
                    proven[key] = max(rnd, proven.get(key, 0))
        except Exception:
            continue  # a malformed file must never break the contract
    return proven


def _ordered_keys() -> list[str]:
    """Unproven keys first (round 0), then proven keys by the round of
    their latest green row, oldest first. The sort is stable, so
    registry order breaks ties and the order is deterministic."""
    proven = _driver_proven_keys()
    return sorted(all_queries(), key=lambda k: proven.get(k, 0))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    specs = all_queries()
    return {key: specs[key].build for key in _ordered_keys()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every query, in the same order."""
    specs = all_queries()
    return {key: specs[key].oracle for key in _ordered_keys()}
