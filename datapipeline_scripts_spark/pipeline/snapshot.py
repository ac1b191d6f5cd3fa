"""Snapshot job — the engine's `pg_dump` (A9/A10/A17/A18).

Extracts a database (a catalog of tables) to a timestamped, partitioned
parquet snapshot plus a JSON manifest carrying schema, row counts and an
order-insensitive content hash per table. The manifest is what the
restore drill (verify.py) checks against — the analogue of
`pg_restore --exit-on-error` proving the artifact (A21).

Layout (mirrors `s3://bucket/<env>/<service>/<ts>/`,
/root/reference/backup.sh:220):

    <root>/<env>/<service>/<snapshot_ts>/<table>/part-*.parquet
    <root>/<env>/<service>/<snapshot_ts>/_MANIFEST.json

Scale notes:
- Fingerprint = (row count, sum of per-row xxhash64), observed with
  `DataFrame.observe` on a job that already scans the rows: one scan,
  one job, no shuffle and no data through the driver (the reference's
  "server-side execution" pattern, /root/reference/backup.sh:119-120).
  The parquet write observes the written fingerprint; one noop-sink
  scan of the read-back yields the stored one, and the two must agree
  (A18: a lossy or empty write fails the snapshot). The source is only
  fingerprinted when a base manifest needs the comparison.
- Writes go through `df.write.parquet` so a 1000-executor cluster
  writes all partitions in parallel; `partition_cols` lets downstream
  reads prune (e.g. snapshot events by event_type).
- A12 duplicate-task guard = atomic lock file creation.
- A23 check-in = success record appended to _CHECKINS.jsonl (the
  dead-man's-switch `curl $CHECK_IN_URL` analogue).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from datapipeline_scripts_spark import catalog
from datapipeline_scripts_spark.pipeline.config import JobConfig

MANIFEST_NAME = "_MANIFEST.json"
LOCK_NAME = "_LOCK"
CHECKINS_NAME = "_CHECKINS.jsonl"


def _observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """`df` with its fingerprint riding whatever action runs it: the row
    count and an order-insensitive content hash, the sum of per-row
    xxhash64 over all columns in name order, cast to string for type
    stability. The sum accumulates in decimal(38,0) because a plain
    long sum overflows (ANSI mode raises)."""
    row_hash = F.xxhash64(*[F.col(c).cast("string") for c in sorted(df.columns)])
    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).alias("n_rows"), F.sum(row_hash.cast("decimal(38,0)")).alias("h"))
    return observed, obs


def _fingerprint_of(obs: Observation) -> tuple[int, int]:
    """(n_rows, content_hash) of a finished observed action; the hash is
    reduced mod 2^64 for a compact stable value (0 for no rows)."""
    m = obs.get
    return m["n_rows"], int(m["h"]) % (1 << 64) if m["h"] is not None else 0


def fingerprint(df: DataFrame) -> tuple[int, int]:
    """(n_rows, content_hash) of `df` in one scan: one job, no shuffle,
    constant driver memory."""
    observed, obs = _observed(df)
    observed.write.format("noop").mode("overwrite").save()
    return _fingerprint_of(obs)


class SnapshotLockError(RuntimeError):
    """A snapshot is already running for this target (A12 duplicate-task
    guard: 'A task has already been issued for database…',
    /root/reference/backup.sh:124-126)."""


def _acquire_lock(snap_root: str, run_id: str) -> str:
    os.makedirs(snap_root, exist_ok=True)
    lock_path = os.path.join(snap_root, LOCK_NAME)
    try:
        fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError as exc:
        raise SnapshotLockError(f"a snapshot task already holds {lock_path}") from exc
    with os.fdopen(fd, "w") as fh:
        fh.write(run_id)
    return lock_path


def check_in(root: str, record: dict) -> None:
    """Dead-man's-switch success report (A23). With a CHECK_IN_URL this
    would be an HTTP GET; locally it appends a dated success record the
    monitor greps."""
    with open(os.path.join(root, CHECKINS_NAME), "a") as fh:
        fh.write(json.dumps(record) + "\n")


def snapshot(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    cfg: JobConfig | None = None,
    snapshot_ts: str | None = None,
    partition_cols: dict[str, list[str]] | None = None,
    base_manifest: str | None = None,
) -> str:
    """Snapshot every configured table; return the snapshot directory.

    Flow (mirrors backup.sh): lock → extract+validate each table →
    manifest → check-in → unlock (always, via finally — the reference's
    `trap cleanup_on_exit EXIT`, /root/reference/backup.sh:20-36).

    Incremental mode: pass `base_manifest` (a previous snapshot's
    manifest path) and tables whose distributed content hash equals the
    base are NOT rewritten — their manifest entry points at the base
    snapshot (`based_on`). At 100 TB this turns the nightly job from a
    full 100 TB write into hash scans + changed-table writes. Tables
    run in order, and any table's failure fails the snapshot (A2
    fail-fast)."""
    cfg = cfg or JobConfig()
    snapshot_ts = snapshot_ts or time.strftime("%Y_%m_%d_%H%M%S", time.gmtime())
    tables = [
        t
        for t in (cfg.tables or catalog.TABLES)
        if t not in set(cfg.exclude_tables)  # A9's `-N apgcc` exclusion
    ]
    snap_root = os.path.join(out_root, cfg.snapshot_prefix())
    # read the base manifest BEFORE taking the lock: a missing/corrupt
    # manifest must not leave a stale _LOCK behind (ADVICE r01)
    base: dict | None = None
    if base_manifest is not None:
        with open(base_manifest) as fh:
            base = json.load(fh)
    lock_path = _acquire_lock(snap_root, snapshot_ts)
    snap_dir = os.path.join(snap_root, snapshot_ts)
    # a failed attempt must not leave a manifest-less snapshot behind for
    # retries (each with a fresh timestamp) to pile up; a directory that
    # predates this call is never ours to remove
    created_dir = not os.path.exists(snap_dir)
    manifest_written = False
    try:

        def _snap_table(name: str) -> tuple[str, dict]:
            df = catalog.load_table(spark, sf_dir, name)
            base_entry = (base or {}).get("tables", {}).get(name)
            if (
                base_entry
                and base_entry["schema"] == df.schema.json()
                and base_entry["content_hash"] == fingerprint(df)[1]
            ):
                # unchanged since the base snapshot: record a pointer,
                # skip the write entirely (differential backup). If the
                # base entry is itself a pointer (chained incrementals),
                # keep ITS target — the pointer must always name the
                # snapshot that physically holds the data.
                return name, {
                    **base_entry,
                    "based_on": base_entry.get("based_on", base["snapshot_ts"]),
                }
            target = os.path.join(snap_dir, name)
            observed, obs = _observed(df)
            writer = observed.write.mode("error")
            for col in (partition_cols or {}).get(name, []):
                writer = writer.partitionBy(col)
            writer.parquet(target)
            written = _fingerprint_of(obs)
            restored = spark.read.parquet(target)
            n, h = fingerprint(restored)
            if (n, h) != written:  # A18: the artifact must hold what was written
                raise RuntimeError(f"snapshot of {name}: read-back (rows, hash) {(n, h)} != written {written}")
            return name, {"n_rows": n, "content_hash": h, "schema": restored.schema.json()}

        table_entries = dict(_snap_table(name) for name in tables)
        manifest = {
            "service": cfg.clamped_service,
            "env": cfg.env_name,
            "snapshot_ts": snapshot_ts,
            "source": sf_dir,
            "tables": table_entries,
        }
        os.makedirs(snap_dir, exist_ok=True)
        with open(os.path.join(snap_dir, MANIFEST_NAME), "w") as fh:
            json.dump(manifest, fh, indent=2)
        manifest_written = True
        check_in(snap_root, {"ok": True, "snapshot_ts": snapshot_ts, "n_tables": len(table_entries)})
        return snap_dir
    finally:
        if created_dir and not manifest_written:
            shutil.rmtree(snap_dir, ignore_errors=True)
        os.unlink(lock_path)  # A4 guaranteed cleanup

