"""Restore-verify job — the engine's restore drill (A14/A19/A21/A22).

The reference proves every backup by provisioning a fresh database and
restoring into it with abort-on-first-error
(/root/reference/backup.sh:264-375, psql `ON_ERROR_STOP=on`
/root/reference/psql-backups.sh:222). Here: read the snapshot back,
load it into a scratch warehouse directory, and assert row counts,
schemas and content hashes against the manifest — then tear the scratch
down in a `finally` (A4/A22). Each restored table costs one write and
one fingerprint scan (`snapshot.fingerprint`: rows and content hash
observed together on a noop sink); the snapshot itself already checked
its write against its read-back, so a mismatch here means the artifact
changed or the restore lost data.

A19/A20 are made real: `include`/`exclude` restore only listed tables
(`pg_restore -L list`), and `drop_line_pattern` filters rows whose text
matches a regex — applied *for real*, unlike the reference's dead sed
filters (the `-f`-already-wrote-the-file bug at
/root/reference/psql-backups.sh:146-148; SURVEY §2.A A20).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from datapipeline_scripts_spark.pipeline.snapshot import MANIFEST_NAME, fingerprint


class RestoreVerifyError(RuntimeError):
    pass


@dataclass
class VerifyResult:
    snapshot_dir: str
    tables_ok: list[str] = field(default_factory=list)
    issues: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.issues


def verify_snapshot(
    spark: SparkSession,
    snapshot_dir: str,
    scratch_dir: str,
    include: list[str] | None = None,
    exclude: tuple[str, ...] = (),
    drop_line_pattern: dict[str, tuple[str, str]] | None = None,
) -> VerifyResult:
    """Full restore round-trip: snapshot → scratch warehouse → manifest
    parity. `drop_line_pattern` maps table → (column, regex) rows to
    filter out during restore (counts are then checked as
    original - dropped, with the dropped count observed on the restore
    write itself). A table named in `include` or `drop_line_pattern`
    that the manifest lacks raises ValueError before any restore work:
    a misspelt name must not verify nothing and report OK."""
    manifest_path = os.path.join(snapshot_dir, MANIFEST_NAME)
    with open(manifest_path) as fh:
        manifest = json.load(fh)
    tables = list(manifest["tables"])
    for arg, names in (("include", include or ()), ("drop_line_pattern", drop_line_pattern or {})):
        unknown = sorted(set(names) - set(tables))
        if unknown:
            raise ValueError(f"{arg} names tables not in {manifest_path}: {unknown}")
    result = VerifyResult(snapshot_dir=snapshot_dir)
    if include is not None:  # A19 restore-list filtering
        tables = [t for t in tables if t in include]
    tables = [t for t in tables if t not in exclude]
    try:
        for name in tables:
            expect = manifest["tables"][name]
            # incremental snapshots point unchanged tables at the base
            # snapshot ("based_on") instead of re-writing their data
            data_dir = snapshot_dir
            if "based_on" in expect:
                data_dir = os.path.join(os.path.dirname(snapshot_dir.rstrip("/")), expect["based_on"])
            src = spark.read.parquet(os.path.join(data_dir, name))
            drop_obs = None
            if drop_line_pattern and name in drop_line_pattern:
                col, pattern = drop_line_pattern[name]
                # NULLs must be KEPT (and not counted as dropped): a bare
                # ~rlike filters NULL rows out silently, which made the
                # rows == expect - dropped check spuriously fail (ADVICE r01)
                matches = F.col(col).isNotNull() & F.col(col).rlike(pattern)
                # the dropped count rides the restore write: no second scan
                drop_obs = Observation()
                src = src.observe(drop_obs, F.count_if(matches).alias("dropped")).filter(~matches)
            target = os.path.join(scratch_dir, name)
            src.write.mode("error").parquet(target)  # abort-on-first-error
            dropped = drop_obs.get["dropped"] if drop_obs is not None else 0
            restored = spark.read.parquet(target)
            n, h = fingerprint(restored)
            if n != expect["n_rows"] - dropped:
                result.issues.append(f"{name}: rows {n} != manifest {expect['n_rows']} - dropped {dropped}")
                continue
            if restored.schema.json() != expect["schema"]:
                result.issues.append(f"{name}: schema drift")
                continue
            if dropped == 0 and h != expect["content_hash"]:
                result.issues.append(f"{name}: content hash {h} != {expect['content_hash']}")
                continue
            result.tables_ok.append(name)
    finally:
        shutil.rmtree(scratch_dir, ignore_errors=True)  # A4/A22 cleanup
    return result


def verify_or_raise(*args, **kwargs) -> VerifyResult:
    result = verify_snapshot(*args, **kwargs)
    if not result.ok:
        raise RestoreVerifyError("; ".join(result.issues))
    return result
