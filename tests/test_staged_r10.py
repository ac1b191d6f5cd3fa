"""Oracle proofs for the 6 keys registered in round 10.

Each key lives and registers in its domain module; this file runs every
builder against its DuckDB oracle at both fixture SFs (the
`oracle.compare` hash gate) and pins where each builder is defined."""

from __future__ import annotations

import pytest

from datapipeline_scripts_spark.oracle import compare, duck_connection
from datapipeline_scripts_spark.registry import all_queries, get

# key -> the package module that defines and registers its builder
KEYS = {
    "dedup_passage_winnow": "extensions.dedup",
    "jsonl_export_roundtrip": "sources.format_queries",
    "multimodal_resize": "extensions.multimodal",
    "tfexample_dataset_roundtrip": "sources.format_queries",
    "tfrecord_roundtrip": "sources.format_queries",
    "webdataset_export_roundtrip": "sources.format_queries",
}


@pytest.mark.parametrize("key", sorted(KEYS))
@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_staged_key_matches_oracle(spark, key, sf_dir):
    spec = get(key)
    sdf = spec.build(spark, sf_dir)
    with duck_connection(sf_dir) as con:
        opdf = con.execute(spec.oracle).fetch_df()
    report = compare(key, sdf, opdf)
    assert report.ok, str(report)
    assert report.spark_rows > 0


def test_r10_keys_registered_with_correct_builders():
    """Every key here is registered with the builder of the same name
    that its domain module defines (the decorating-the-wrong-function
    failure mode breaks `__spark_entry__.queries()` silently), and the catalog
    is 379."""
    specs = all_queries()
    assert len(specs) == 379
    for key, module in KEYS.items():
        assert specs[key].build.__name__ == key, key
        assert specs[key].build.__module__ == f"datapipeline_scripts_spark.{module}", key
