"""Proofs for the end-to-end pretraining flagship
(extensions/pretraining.py): the full WARC-ingest → gate → dedup →
mixture → pack → TFRecord-export → CRC-verified-read-back chain must
hash-match its single DuckDB oracle at both fixture SFs, and every
stage must do real work on the fixture (a stage that never fires is a
stage the proof doesn't cover)."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import textwrap

import duckdb
import pytest

from datapipeline_scripts_spark.extensions import pretraining
from datapipeline_scripts_spark.oracle import compare, duck_connection
from datapipeline_scripts_spark.registry import get

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_pretraining_pipeline_matches_oracle(spark, sf):
    spec = get("pretraining_pipeline")
    sdf = spec.build(spark, sf)
    with duck_connection(sf) as con:
        opdf = con.execute(spec.oracle).fetch_df()
    report = compare("pretraining_pipeline", sdf, opdf)
    assert report.ok, str(report)
    assert report.spark_rows > 0


def test_every_stage_fires_on_the_fixture():
    """Recompute the chain's intermediate CTE counts in DuckDB: the
    gate, BOTH dedup stages, and the mixture downsample must each
    drop at least one document at sf0.01 — otherwise a regression in
    that stage would be invisible to the hash gate."""
    from datapipeline_scripts_spark.extensions.pretraining import _oracle

    body = _oracle().split("SELECT source, pack_id,")[0]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/documents.parquet')"
    )

    def n(cte: str) -> int:
        return con.execute(body + f"SELECT count(*) FROM {cte}").fetchone()[0]

    total = con.execute("SELECT count(*) FROM documents").fetchone()[0]
    gated, s2, s3, sampled = n("gated"), n("s2"), n("s3"), n("sampled")
    assert total > gated, "quality gate never fired"
    assert gated > s2, "minhash dedup never fired"
    assert s2 > s3, "passage dedup never fired"
    assert s3 > sampled, "mixture downsample never fired"
    assert sampled > 0


def test_pipeline_is_deterministic_across_builds(spark):
    """Two full builds (including the export rewrite) produce the
    identical inventory — the reproducibility contract every stage
    was designed around (hash splits, not rand; deterministic shard
    bytes)."""
    spec = get("pretraining_pipeline")
    sf = "/root/testdata/sf0.001"
    a = sorted(map(tuple, spec.build(spark, sf).collect()))
    b = sorted(map(tuple, spec.build(spark, sf).collect()))
    assert a == b


def test_export_integrity_loop_is_loud(spark, tmp_path):
    """The flagship's export leg inherits the restore-drill posture:
    a flipped byte inside any exported shard refuses on the CRC walk,
    and a record silently dropped at a frame boundary refuses on the
    writer-attested manifest — neither can reach the inventory."""
    import glob

    from datapipeline_scripts_spark.sources import tfrecord as tfr
    from datapipeline_scripts_spark.sources.tfexample import read_tfexample

    spec = get("pretraining_pipeline")
    sf = "/root/testdata/sf0.001"
    spec.build(spark, sf).count()  # materialize the export
    out_dir = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_pretraining_sf0.001_{spark.sparkContext.applicationId}",
    )
    shards = sorted(glob.glob(os.path.join(out_dir, "*.tfrecord")))
    assert shards, out_dir
    victim = shards[0]
    blob = open(victim, "rb").read()
    records = tfr.parse_tfrecord(blob, where=victim)

    # copy the corpus to a scratch dir so we can tamper freely
    work = tmp_path / "shards"
    work.mkdir()
    for s in shards:
        (work / os.path.basename(s)).write_bytes(open(s, "rb").read())
    manifest = {os.path.basename(s): len(tfr.parse_tfrecord(open(s, "rb").read()))
                for s in shards}

    # 1) bit-flip inside the victim's first record payload → CRC refusal
    flipped = bytearray(blob)
    flipped[12] ^= 0x01  # first payload byte (after len+len-CRC header)
    (work / os.path.basename(victim)).write_bytes(bytes(flipped))
    df = read_tfexample(
        spark, str(work), {"doc_id": "int64", "text": "string"},
        expected_records=manifest,
    )
    with pytest.raises(Exception, match="CRC"):
        df.count()

    # 2) drop the last record AT the frame boundary (parses cleanly!)
    #    → only the manifest check catches it
    assert len(records) >= 1
    truncated = tfr.write_tfrecord(records[:-1]) if len(records) > 1 else b""
    (work / os.path.basename(victim)).write_bytes(truncated)
    df = read_tfexample(
        spark, str(work), {"doc_id": "int64", "text": "string"},
        expected_records=manifest,
    )
    with pytest.raises(Exception, match="manifest expects"):
        df.count()


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_pins_are_released(spark, sf_dir, monkeypatch):
    """Every pinned stage's checkpoint blocks are released when the
    build ends, and when a mid-chain stage raises; the error still
    reaches the caller."""
    spec = get("pretraining_pipeline")
    held = _persistent_rdds(spark)
    spec.build(spark, sf_dir)
    assert _persistent_rdds(spark) == held

    def fail(gated, pin):
        raise RuntimeError("winnow stage failed")

    monkeypatch.setattr(pretraining, "_winnow_drop", fail)
    with pytest.raises(RuntimeError, match="winnow stage failed"):
        spec.build(spark, sf_dir)
    assert _persistent_rdds(spark) == held


def test_export_query_starts_at_the_last_pin(spark, sf_dir):
    """The pins cut the lineage: no SQL execution of one build plans
    both the ingest worker and the export writer. With lazy pins the
    export query carries the whole chain from the WARC ingest on, and
    AQE re-renders that plan after every query stage."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def plans() -> dict[int, str]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        execs = store.executionsList()
        return {
            execs.apply(i).executionId(): execs.apply(i).physicalPlanDescription()
            for i in range(execs.size())
        }

    seen = plans()
    get("pretraining_pipeline").build(spark, sf_dir)
    new = [plan for eid, plan in plans().items() if eid not in seen]
    assert any("_ingest_worker" in plan for plan in new)
    assert any("write_pack" in plan for plan in new)
    assert not [plan for plan in new if "_ingest_worker" in plan and "write_pack" in plan]


def test_export_directory_is_removed_at_exit(tmp_path, sf_dir):
    script = textwrap.dedent(
        f"""
        import glob, os, tempfile
        from datapipeline_scripts_spark.registry import get
        from datapipeline_scripts_spark.session import get_spark

        spark = get_spark("export_cleanup")
        spec = get("pretraining_pipeline")
        for _ in range(2):  # a second build reuses the directory
            assert spec.build(spark, {sf_dir!r}).count() > 0
        print(len(glob.glob(os.path.join(tempfile.gettempdir(), "spark_graft_pretraining_*"))))
        """
    )
    env = {**os.environ, "TMPDIR": str(tmp_path), "SPARK_GRAFT_CPUS": "2"}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=REPO, env=env, capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[-1] == "1"  # the export existed while the driver ran
    assert not list(tmp_path.glob("spark_graft_pretraining_*"))
