"""Pipeline-layer tests: snapshot → restore-verify round trip (the
reference's restore drill, SURVEY §5.1), failure drills, fingerprint
compatibility and job budget, retry/poll/lock/config utils."""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

import datapipeline_scripts_spark.pipeline.snapshot as snap_mod
from datapipeline_scripts_spark import catalog
from datapipeline_scripts_spark.pipeline.config import JobConfig, clamp_identifier, scratch_password
from datapipeline_scripts_spark.pipeline.retrying import PollTimeout, RetriesExhausted, poll, retry
from datapipeline_scripts_spark.pipeline.snapshot import (
    CHECKINS_NAME,
    LOCK_NAME,
    MANIFEST_NAME,
    SnapshotLockError,
    _acquire_lock,
    fingerprint,
    snapshot,
)
from datapipeline_scripts_spark.pipeline.verify import RestoreVerifyError, verify_or_raise, verify_snapshot

TABLES = ("region", "nation", "supplier")


def _cfg() -> JobConfig:
    return JobConfig(service_name="unit-test-service", env_name="test", tables=TABLES)


@pytest.fixture(scope="module")
def snap_dir(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("snap"))
    path = snapshot(spark, sf_dir, root, cfg=_cfg(), snapshot_ts="2026_01_01_000000")
    return path


def test_snapshot_layout_and_manifest(spark, sf_dir, snap_dir):
    assert snap_dir.endswith("test/unit-test-service/2026_01_01_000000")
    with open(os.path.join(snap_dir, MANIFEST_NAME)) as fh:
        manifest = json.load(fh)
    assert set(manifest["tables"]) == set(TABLES)
    assert manifest["tables"]["region"]["n_rows"] == 5
    assert manifest["tables"]["nation"]["n_rows"] == 25
    # A10: the manifest is the metadata-only artifact — every table's
    # schema and row count, readable without touching the data
    for name in TABLES:
        assert manifest["tables"][name]["schema"] == catalog.load_table(spark, sf_dir, name).schema.json()
    # check-in recorded at the service root (dead-man's-switch analogue)
    service_root = os.path.dirname(snap_dir)
    with open(os.path.join(service_root, CHECKINS_NAME)) as fh:
        record = json.loads(fh.readlines()[-1])
    assert record["ok"] is True


def test_verify_round_trip_ok(spark, snap_dir, tmp_path):
    result = verify_or_raise(spark, snap_dir, str(tmp_path / "scratch"))
    assert sorted(result.tables_ok) == sorted(TABLES)


def test_verify_include_exclude(spark, snap_dir, tmp_path):
    result = verify_snapshot(spark, snap_dir, str(tmp_path / "s2"), include=["region", "nation"], exclude=("nation",))
    assert result.tables_ok == ["region"]


@pytest.mark.parametrize(
    "kwargs",
    [{"include": ["regoin"]}, {"drop_line_pattern": {"regoin": ("r_name", "^A")}}],
    ids=["include", "drop_line_pattern"],
)
def test_verify_rejects_tables_missing_from_manifest(spark, snap_dir, tmp_path, kwargs):
    # a misspelt table must not verify nothing and report OK
    scratch = tmp_path / "s_unknown"
    with pytest.raises(ValueError, match="regoin"):
        verify_or_raise(spark, snap_dir, str(scratch), **kwargs)
    assert not scratch.exists()


def test_verify_drop_line_pattern(spark, snap_dir, tmp_path):
    # A20 made real: filter rows during restore, counts reconcile
    result = verify_snapshot(
        spark,
        snap_dir,
        str(tmp_path / "s3"),
        include=["region"],
        drop_line_pattern={"region": ("r_name", "^A")},  # AFRICA, AMERICA, ASIA
    )
    assert result.ok


def test_verify_drop_line_pattern_keeps_nulls(spark, tmp_path):
    # ADVICE r01: NULLs in the filter column must be KEPT, not silently
    # excluded (a bare ~rlike drops them and desyncs the count check)
    from datapipeline_scripts_spark.pipeline.snapshot import snapshot
    from datapipeline_scripts_spark.pipeline.config import JobConfig
    import datapipeline_scripts_spark.pipeline.snapshot as snap_mod
    import datapipeline_scripts_spark.catalog as catalog

    df = spark.createDataFrame(
        [(1, "alpha"), (2, None), (3, "beta"), (4, None), (5, "axe")],
        "id INT, name STRING",
    )
    src_dir = str(tmp_path / "src")
    df.write.parquet(src_dir + "/weird")
    orig = catalog.load_table
    catalog.load_table = lambda sp, d, n: sp.read.parquet(src_dir + "/weird")
    snap_mod.catalog.load_table = catalog.load_table
    try:
        sdir = snapshot(spark, src_dir, str(tmp_path / "out"), JobConfig(tables=["weird"]))
    finally:
        catalog.load_table = orig
        snap_mod.catalog.load_table = orig
    result = verify_snapshot(
        spark,
        sdir,
        str(tmp_path / "scratch"),
        drop_line_pattern={"weird": ("name", "^a")},  # drops alpha, axe; keeps NULLs
    )
    assert result.ok, result.issues


def test_verify_detects_tampering(spark, snap_dir, tmp_path):
    with open(os.path.join(snap_dir, MANIFEST_NAME)) as fh:
        manifest = json.load(fh)
    manifest["tables"]["region"]["content_hash"] += 1
    tampered = tmp_path / "tampered"
    tampered.mkdir()
    os.symlink(os.path.join(snap_dir, "region"), tampered / "region")
    with open(tampered / MANIFEST_NAME, "w") as fh:
        json.dump({**manifest, "tables": {"region": manifest["tables"]["region"]}}, fh)
    with pytest.raises(RestoreVerifyError, match="content hash"):
        verify_or_raise(spark, str(tampered), str(tmp_path / "s4"))


def test_incremental_snapshot_skips_unchanged(spark, sf_dir, tmp_path):
    """Differential backup: a second snapshot against the first one's
    manifest writes NO table data (nothing changed) but its manifest
    still verifies end-to-end via the base pointers."""
    root = str(tmp_path / "incr")
    first = snapshot(spark, sf_dir, root, cfg=_cfg(), snapshot_ts="2026_01_01_000000")
    second = snapshot(
        spark,
        sf_dir,
        root,
        cfg=_cfg(),
        snapshot_ts="2026_01_02_000000",
        base_manifest=os.path.join(first, MANIFEST_NAME),
    )
    # no data directories in the incremental snapshot — only the manifest
    assert sorted(os.listdir(second)) == [MANIFEST_NAME]
    with open(os.path.join(second, MANIFEST_NAME)) as fh:
        manifest = json.load(fh)
    assert all(t["based_on"] == "2026_01_01_000000" for t in manifest["tables"].values())
    # the restore drill resolves the pointers and still verifies content
    result = verify_or_raise(spark, second, str(tmp_path / "incr_scratch"))
    assert sorted(result.tables_ok) == sorted(TABLES)


def test_chained_incremental_snapshots_point_at_data(spark, sf_dir, tmp_path):
    """Three snapshots, the last two incremental: the third's pointers
    must target the FIRST snapshot (which holds the data), not the
    manifest-only second — and the restore drill must still pass."""
    root = str(tmp_path / "chain")
    s1 = snapshot(spark, sf_dir, root, cfg=_cfg(), snapshot_ts="2026_01_01_000000")
    s2 = snapshot(spark, sf_dir, root, cfg=_cfg(), snapshot_ts="2026_01_02_000000",
                  base_manifest=os.path.join(s1, MANIFEST_NAME))
    s3 = snapshot(spark, sf_dir, root, cfg=_cfg(), snapshot_ts="2026_01_03_000000",
                  base_manifest=os.path.join(s2, MANIFEST_NAME))
    with open(os.path.join(s3, MANIFEST_NAME)) as fh:
        manifest = json.load(fh)
    assert all(t["based_on"] == "2026_01_01_000000" for t in manifest["tables"].values())
    assert verify_or_raise(spark, s3, str(tmp_path / "chain_scratch")).ok


def test_partitioned_snapshot_layout(spark, sf_dir, tmp_path):
    root = str(tmp_path / "partsnap")
    cfg = JobConfig(service_name="partsvc", env_name="test", tables=("orders",))
    snap = snapshot(
        spark, sf_dir, root, cfg=cfg, snapshot_ts="2026_01_01_000000",
        partition_cols={"orders": ["o_orderstatus"]},
    )
    orders_dir = os.path.join(snap, "orders")
    assert any(d.startswith("o_orderstatus=") for d in os.listdir(orders_dir))
    # partition column round-trips through the hive layout; verify passes
    assert verify_or_raise(spark, snap, str(tmp_path / "ps_scratch")).ok


def test_snapshot_lock_guard(tmp_path):
    lock = _acquire_lock(str(tmp_path), "run1")
    with pytest.raises(SnapshotLockError):
        _acquire_lock(str(tmp_path), "run2")
    os.unlink(lock)
    os.unlink(_acquire_lock(str(tmp_path), "run3"))


def test_retry_backoff_schedule():
    sleeps: list[float] = []
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 4:
            raise ValueError("boom")
        return "ok"

    assert retry(flaky, attempts=9, base_delay_s=2.0, sleep=sleeps.append) == "ok"
    assert sleeps == [2.0, 4.0, 8.0]  # exponential ×2, reference defaults


def test_retry_exhaustion():
    with pytest.raises(RetriesExhausted):
        retry(lambda: 1 / 0, attempts=3, base_delay_s=0.0, sleep=lambda _: None)


def test_poll_until_success():
    states = iter(["CREATED", "IN_PROGRESS", "IN_PROGRESS", "SUCCESS"])
    assert poll(lambda: next(states), interval_s=0, sleep=lambda _: None) == "SUCCESS"


def test_poll_terminal_failure():
    with pytest.raises(RuntimeError, match="ERROR"):
        poll(lambda: "ERROR", sleep=lambda _: None)


def test_poll_timeout():
    clock = iter(range(100))
    with pytest.raises(PollTimeout):
        poll(
            lambda: "IN_PROGRESS",
            interval_s=1,
            timeout_s=3,
            sleep=lambda _: None,
            clock=lambda: float(next(clock)),
        )


def test_identifier_clamp_and_secret():
    assert clamp_identifier("x" * 64) == "x" * 29  # psql-backups.sh:56-62 semantics
    pw = scratch_password()
    assert pw.isalnum() and len(pw) >= 20


def test_config_env_defaults(monkeypatch):
    monkeypatch.setenv("ATTEMPTS", "3")
    monkeypatch.setenv("SERVICE_NAME", "svc-from-env")
    cfg = JobConfig()
    assert cfg.attempts == 3
    assert cfg.service_name == "svc-from-env"


# --- fingerprint: hash compatibility and partition invariance ---------------


def _manifest_hash(df) -> int:
    """The manifest content-hash formula as earlier releases computed it
    (a separate aggregate job), kept inline so any drift in
    `fingerprint` that would invalidate existing manifests fails here."""
    df = df.select(sorted(df.columns))
    row_hash = F.xxhash64(*[F.col(c).cast("string") for c in df.columns])
    out = df.agg(F.sum(row_hash.cast("decimal(38,0)")).alias("h")).collect()[0]["h"]
    return int(out) % (1 << 64) if out is not None else 0


@pytest.mark.parametrize("table", catalog.TABLES)
def test_fingerprint_matches_manifest_formula_any_partitioning(spark, sf_dir, table):
    df = catalog.load_table(spark, sf_dir, table)
    expect = (df.count(), _manifest_hash(df))
    for variant in (df, df.repartition(7), df.coalesce(1)):
        assert fingerprint(variant) == expect


def test_fingerprint_of_empty_frame(spark):
    assert fingerprint(spark.createDataFrame([], "a INT, b STRING")) == (0, 0)


def test_manifest_with_formula_hashes_still_gives_pointer_skips(spark, sf_dir, tmp_path):
    """A base manifest hashed by the inline formula (as existing
    snapshots were) must still let an incremental snapshot skip every
    unchanged table."""
    tables = {}
    for name in TABLES:
        df = catalog.load_table(spark, sf_dir, name)
        tables[name] = {"n_rows": df.count(), "content_hash": _manifest_hash(df), "schema": df.schema.json()}
    base = tmp_path / MANIFEST_NAME
    base.write_text(json.dumps({"snapshot_ts": "2025_12_31_000000", "tables": tables}))
    snap = snapshot(
        spark, sf_dir, str(tmp_path / "out"), cfg=_cfg(), snapshot_ts="2026_01_01_000000", base_manifest=str(base)
    )
    assert os.listdir(snap) == [MANIFEST_NAME]
    with open(os.path.join(snap, MANIFEST_NAME)) as fh:
        entries = json.load(fh)["tables"]
    assert all(e["based_on"] == "2025_12_31_000000" for e in entries.values())


# --- job budget --------------------------------------------------------------


def _jobs_of(spark, fn):
    """(fn(), number of Spark jobs it ran), counted under a fresh job group."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_job_budget_per_table(spark, sf_dir, tmp_path):
    """One scan per fingerprint. Per table: a full snapshot is the
    source's schema read, the observed write, the read-back's schema
    read and its fingerprint (4 jobs); an unchanged table in an
    incremental snapshot is the schema read and the source fingerprint
    (2); verify is the snapshot's schema read, the restore write, the
    restore's schema read and its fingerprint (4)."""
    root = str(tmp_path / "budget")
    n = len(TABLES)
    full, jobs = _jobs_of(spark, lambda: snapshot(spark, sf_dir, root, cfg=_cfg(), snapshot_ts="2026_01_01_000000"))
    assert jobs <= 4 * n
    incr, jobs = _jobs_of(
        spark,
        lambda: snapshot(
            spark,
            sf_dir,
            root,
            cfg=_cfg(),
            snapshot_ts="2026_01_02_000000",
            base_manifest=os.path.join(full, MANIFEST_NAME),
        ),
    )
    assert os.listdir(incr) == [MANIFEST_NAME]  # every table unchanged
    assert jobs <= 2 * n
    result, jobs = _jobs_of(spark, lambda: verify_snapshot(spark, full, str(tmp_path / "budget_scratch")))
    assert result.ok, result.issues
    assert jobs <= 4 * n


# --- failure drills (A2 fail-fast, A4 guaranteed cleanup, A5 retry) ----------


def _lose_a_row_on_read_back(monkeypatch):
    # a full snapshot fingerprints only its read-back
    orig = snap_mod.fingerprint
    monkeypatch.setattr(snap_mod, "fingerprint", lambda df: orig(df.offset(1)))


def _fail_second_table_write(monkeypatch):
    # nation's write fails at run time, after region's data is on disk
    orig = catalog.load_table

    def load(sp, d, name):
        df = orig(sp, d, name)
        if name == "nation":
            boom = F.when(F.col("n_nationkey") >= 0, F.raise_error(F.lit("disk full")))
            df = df.withColumn("boom", boom.cast("string"))
        return df

    monkeypatch.setattr(catalog, "load_table", load)


@pytest.mark.parametrize(
    "breaker, match",
    [(_lose_a_row_on_read_back, "read-back"), (_fail_second_table_write, "disk full")],
    ids=["lossy_read_back", "table_write_fails"],
)
def test_failed_snapshot_leaves_no_trace(spark, sf_dir, tmp_path, monkeypatch, breaker, match):
    """A failing snapshot releases its lock, checks nothing in and
    removes its partial snapshot directory; earlier snapshots stay."""
    root = str(tmp_path / "drill")
    good = snapshot(spark, sf_dir, root, cfg=_cfg(), snapshot_ts="2026_01_01_000000")
    service = os.path.dirname(good)
    with open(os.path.join(service, CHECKINS_NAME)) as fh:
        checkins = fh.read()
    breaker(monkeypatch)
    with pytest.raises(Exception, match=match):
        snapshot(spark, sf_dir, root, cfg=_cfg(), snapshot_ts="2026_01_02_000000")
    assert sorted(os.listdir(service)) == sorted([CHECKINS_NAME, "2026_01_01_000000"])
    assert not os.path.exists(os.path.join(service, LOCK_NAME))
    with open(os.path.join(service, CHECKINS_NAME)) as fh:
        assert fh.read() == checkins


def test_failed_snapshot_keeps_preexisting_directory(spark, sf_dir, tmp_path, monkeypatch):
    root = str(tmp_path / "pre")
    snap_dir = os.path.join(root, _cfg().snapshot_prefix(), "2026_01_01_000000")
    os.makedirs(snap_dir)
    marker = os.path.join(snap_dir, "operator_note.txt")
    open(marker, "w").close()
    _lose_a_row_on_read_back(monkeypatch)
    with pytest.raises(RuntimeError, match="read-back"):
        snapshot(spark, sf_dir, root, cfg=_cfg(), snapshot_ts="2026_01_01_000000")
    assert os.path.exists(marker)


def _fail_parquet_write(monkeypatch, when):
    """Make `DataFrameWriter.parquet` raise on the calls where
    `when(path, call_number)` holds (calls numbered from 1)."""
    orig = DataFrameWriter.parquet
    calls = {"n": 0}

    def parquet(self, path, *args, **kwargs):
        calls["n"] += 1
        if when(path, calls["n"]):
            raise OSError(f"write of {path} failed")
        return orig(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


def test_failed_restore_write_removes_scratch(spark, snap_dir, tmp_path, monkeypatch):
    scratch = str(tmp_path / "scratch_fail")
    _fail_parquet_write(monkeypatch, lambda path, _n: path.endswith(os.sep + "nation"))
    with pytest.raises(OSError, match="nation"):
        verify_snapshot(spark, snap_dir, scratch)
    assert not os.path.exists(scratch)


def test_retried_snapshot_leaves_one_snapshot_directory(spark, sf_dir, tmp_path, monkeypatch):
    """`scripts/run_snapshot.py` retries with a fresh timestamp: the
    failed first attempt (region written, nation's write fails) must
    not leave its partial directory beside the good one."""
    root = str(tmp_path / "retry")
    _fail_parquet_write(monkeypatch, lambda _path, n: n == 2)
    stamps = iter(["2026_01_01_000000", "2026_01_01_000002"])
    attempts: list[int] = []
    snap = retry(
        lambda: snapshot(spark, sf_dir, root, cfg=_cfg(), snapshot_ts=next(stamps)),
        attempts=2,
        base_delay_s=0.0,
        sleep=lambda _: None,
        on_retry=lambda attempt, _exc: attempts.append(attempt),
    )
    assert attempts == [1]
    assert snap.endswith("2026_01_01_000002")
    service = os.path.dirname(snap)
    assert [d for d in os.listdir(service) if os.path.isdir(os.path.join(service, d))] == ["2026_01_01_000002"]
    assert os.path.exists(os.path.join(snap, MANIFEST_NAME))
