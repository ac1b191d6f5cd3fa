"""Declared-query registry.

The engine's test strategy is differential: every declared operator ships
(1) a Spark DataFrame builder and (2) an equivalent DuckDB oracle SQL
string; the driver (and our own tests) run both and compare row count,
schema, and an order-insensitive value hash (SURVEY.md §5.2). This is the
modern analogue of the reference's restore drill — every backup proven
restorable by actually restoring it (/root/reference/backup.sh:264-375).

Conventions (SURVEY.md §7.0):
- Alias every computed column identically on both sides.
- round(double_agg, 2) on both sides to dodge float summation-order drift.
- Render timestamps as strings (UTC) when they appear in output columns.

Eager-build contract (ADVICE r13): ``build()`` is NOT guaranteed lazy.
Iterative keys (the perceptron family, pagerank_rounds, knn_pq, BPE,
PCA) run bounded Spark jobs inside the builder — singleton-aggregate
collects whose results feed back as literals, plus eager checkpoints of
reused intermediates — so constructing the DataFrame executes real
scans. Plan-only consumers (EXPLAIN tooling, deferred pipelines) must
expect build-time execution; the driver/bench/oracle harnesses all time
build()+action together, so nothing is hidden from measurement.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

import datapipeline_scripts_spark

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    key: str
    build: Builder
    oracle: str  # DuckDB SQL twin


_REGISTRY: dict[str, QuerySpec] = {}


def query(key: str, oracle: str):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` as a declared
    query. A key exists only beside its oracle twin, so a missing oracle
    fails at import."""
    if not isinstance(oracle, str) or not oracle.strip():
        raise ValueError(f"query {key!r} needs a DuckDB oracle SQL string, got {oracle!r}")

    def wrap(fn: Builder) -> Builder:
        if key in _REGISTRY:
            raise ValueError(f"duplicate query key {key!r}")
        _REGISTRY[key] = QuerySpec(key=key, build=fn, oracle=oracle)
        return fn

    return wrap


def all_queries() -> dict[str, QuerySpec]:
    _ensure_loaded()
    return dict(_REGISTRY)


def get(key: str) -> QuerySpec:
    _ensure_loaded()
    return _REGISTRY[key]


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module of the package (idempotent): a module that
    declares queries is registered by being there, with no list to
    keep."""
    global _LOADED
    if _LOADED:
        return
    pkg = datapipeline_scripts_spark
    for mod in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        importlib.import_module(mod.name)
    _LOADED = True
