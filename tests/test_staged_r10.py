"""Oracle proofs for the STAGED round-10 keys (sources/staged_r10.py).

Round 9's driver window was committed to the keys registered in round
9 plus stalest-evidence re-proofs, so the TFRecord key stages through
this round exactly as the r9 keys staged through r8 — held to the
registration bar (the driver's own `oracle.compare` hash gate, both
fixture SFs) without touching the registry."""

from __future__ import annotations

import pytest

from datapipeline_scripts_spark.oracle import compare, duck_connection
from datapipeline_scripts_spark.registry import all_queries
from datapipeline_scripts_spark.sources.staged_r10 import STAGED


@pytest.mark.parametrize("key", sorted(STAGED))
@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_staged_key_matches_oracle(spark, key, sf_dir):
    build, oracle = STAGED[key]
    sdf = build(spark, sf_dir)
    with duck_connection(sf_dir) as con:
        opdf = con.execute(oracle).fetch_df()
    report = compare(key, sdf, opdf)
    assert report.ok, str(report)
    assert report.spark_rows > 0


def test_r10_keys_registered_with_correct_builders():
    """Round 10 flipped the staged keys live: every STAGED key must be
    in the registry, bound to the SAME builder and oracle the proofs
    above ran (the decorating-the-wrong-function failure mode breaks
    the driver contract silently), and the catalog is 379 (368 + the
    eleven round-13 registrations)."""
    specs = all_queries()
    assert len(specs) == 379
    for key, (fn, oracle) in STAGED.items():
        assert key in specs, key
        assert specs[key].build is fn, key
        assert specs[key].oracle == oracle, key
