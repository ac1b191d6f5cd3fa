"""The benchmark's three workloads.

Each is a closed loop with one client thread: a pass issues its calls
one after another, and the next call starts only when the previous one
returned. Every call into the program goes through `Session.call`,
which times it (a span) and, in a traced session, labels its Spark jobs
with the job group `<workload>:<pass>:<call>`.

- `relational_mix` / `corpus_build` (`RegistryWorkload`): per key, the
  builder (`QuerySpec.build`) and then a full materialization through
  the `noop` sink -- never `count()`, which lets Catalyst prune columns.
- `backup_drill` (`BackupDrill`): the reference job -- full snapshot,
  restore-verify, incremental snapshot of a seeded "next night" copy,
  restore-verify of that.

The correctness gate runs after the timed passes: the last pass's
result of each registry key is fingerprinted against its DuckDB twin.
The backup drill checks every pass (verify result, manifest row counts,
rewrite set).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from dataclasses import dataclass, field

import datagen

RELATIONAL_KEYS = (
    "tpch_q1_shape",
    "tpch_q3_shape",
    "tpch_q5_shape",
    "tpch_q10_shape",
    "tpch_q18_shape",
    "tpch_q21_shape",
    "join_star",
    "agg_rollup",
    "window_rank",
    "events_session",
    "table_diff",
    "orders_abc_pareto",
)
# pretraining_pipeline alone: it runs every mechanism the workload is
# there for (mapInPandas WARC codec, winnow and MinHash dedup, persist,
# applyInPandas TFRecord export and read-back); corpus_selection_pipeline
# and crawl_pipeline would more than double a pass (NOTES.md)
CORPUS_KEYS = ("pretraining_pipeline",)

# builder modules reported on their own line (`<module>.build_s`)
BUILD_MODULES = ("extensions.pretraining",)
PACKAGE = "datapipeline_scripts_spark"
# the backup drill's tables, between them the kinds of column the
# snapshot hashes and rewrites: decimals, dates and strings (lineitem),
# nanosecond timestamps, doubles and JSON text (events). A pass costs
# ~2 s of per-job overhead per table, so all ten would leave no room for
# repeated passes in a run (NOTES.md)
DRILL_TABLES = ("lineitem", "events")
PIPELINE_PHASES = ("snapshot_full", "verify_full", "snapshot_incr", "verify_incr")


@dataclass
class Span:
    """One timed call into the program."""

    group: str  # job group id: <workload>:<pass>:<call>
    layer: str  # registry.build | registry.exec | pipeline.<phase>
    module: str  # builder module (registry.build only)
    t0: float
    t1: float


@dataclass
class PassRecord:
    label: str
    t0: float
    t1: float
    cpu_s: float
    spans: list[Span] = field(default_factory=list)
    # pipeline counters (backup_drill only)
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0


class Session:
    """One Spark session of a run: its timed calls and op accounting."""

    def __init__(self, spark, workload: str, traced: bool) -> None:
        self.spark = spark
        self.workload = workload
        self.traced = traced
        self.attempted = 0
        self.failures: list[str] = []
        self.spans: list[Span] = []
        self.pass_label = "setup"

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def call(self, name: str, layer: str, fn, module: str = ""):
        """Run `fn()` as one op; time it and label its Spark jobs."""
        group = f"{self.workload}:{self.pass_label}:{name}"
        sc = self.spark.sparkContext
        if self.traced:
            sc.setJobGroup(group, name)
        self.attempted += 1
        t0 = time.time()
        try:
            return fn()
        except Exception as exc:  # one failed op must not end the run
            first_line = (str(exc).splitlines() or [""])[0]
            self.fail(f"{name}: {type(exc).__name__}: {first_line[:200]}")
            return None
        finally:
            self.spans.append(Span(group, layer, module, t0, time.time()))
            if self.traced:
                sc.setLocalProperty("spark.jobGroup.id", None)


def leftovers(work: str, tmp: str) -> list[str]:
    """Artifacts a finished pass must not leave behind (A4 cleanup):
    snapshot `_LOCK` files, verify scratch directories, and more than one
    `spark_graft_pretraining_*` export directory. The pretraining key's
    result reads its exported shards lazily, so the directory of the
    latest build must outlive the pass; its next build removes it."""
    found = []
    for root, _dirs, files in os.walk(os.path.join(work, "snapshots")):
        found += [os.path.join(root, f) for f in files if f == "_LOCK"]
    scratch = os.path.join(work, "verify_scratch")
    if os.path.exists(scratch):
        found.append(scratch)
    exports = _exports(tmp)
    if len(exports) > 1:
        found += exports
    return found


def _exports(tmp: str) -> list[str]:
    return [os.path.join(tmp, d) for d in os.listdir(tmp) if d.startswith("spark_graft_pretraining_")]


def drop_exports(tmp: str) -> None:
    """Remove the pretraining export directory a stopped session left."""
    for path in _exports(tmp):
        shutil.rmtree(path, ignore_errors=True)


def _materialized(sql: str) -> str:
    """The oracle SQL with every CTE marked MATERIALIZED. Same result;
    DuckDB otherwise re-evaluates CTEs referenced from scalar
    subqueries, which takes the pretraining twin from ~0.2 s to ~30 s."""
    return re.sub(r"(?m)^(\s*\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


def check_key(key: str, df, sf_dir: str) -> list[str]:
    """Issues of one built result: oracle.agg_hash_check's comparison of
    the (row count, row-hash sum) fingerprint against the DuckDB twin,
    plus the check that the executed plan keeps every output column."""
    from datapipeline_scripts_spark import oracle
    from datapipeline_scripts_spark.registry import get

    issues = []
    plan_cols = list(df._jdf.queryExecution().executedPlan().schema().fieldNames())
    if plan_cols != df.columns:
        issues.append(f"{key}: executed plan outputs {plan_cols}, schema has {df.columns}")
    sql = get(key).oracle
    if sql is None:
        return issues + [f"{key}: no oracle twin"]
    s_cols, s_cls, s_n, s_fp = oracle._spark_fingerprint(df)
    with oracle.duck_connection(sf_dir) as con:
        o_cols, o_cls, o_n, o_fp = oracle._duck_fingerprint(con, _materialized(sql))
    if (s_cols, s_cls, s_n, s_fp) != (o_cols, o_cls, o_n, o_fp):
        issues.append(f"{key}: spark ({s_cols}, {s_n}, {s_fp}) != oracle ({o_cols}, {o_n}, {o_fp})")
    return issues


class RegistryWorkload:
    """Registered keys, built and fully materialized one after another."""

    def __init__(self, name: str, keys: tuple[str, ...], sf: float) -> None:
        self.name = name
        self.keys = keys
        self.sf = sf

    def prepare(self, seed: int, work: str) -> None:
        import numpy as np

        self.db = os.path.join(work, "db")
        datagen.write_database(seed, self.sf, self.db)
        order = np.random.default_rng([seed, 2]).permutation(len(self.keys))
        self.order = [self.keys[i] for i in order]

    def gate(self, s: Session) -> None:
        """Check the last pass's result of every key against its DuckDB
        twin (untimed; reuses the built DataFrames)."""
        for key in self.order:
            df = self.last.get(key)
            if df is not None:
                for issue in s.call(f"{key}.check", "gate", lambda: check_key(key, df, self.db)) or []:
                    s.fail(issue)

    def run_pass(self, s: Session, rec: PassRecord) -> None:
        from datapipeline_scripts_spark.registry import get

        self.last = {}
        for key in self.order:
            spec = get(key)
            module = spec.build.__module__.removeprefix(PACKAGE + ".")
            df = s.call(f"{key}.build", "registry.build", lambda: spec.build(s.spark, self.db), module)
            self.last[key] = df
            if df is not None:
                s.call(
                    f"{key}.exec",
                    "registry.exec",
                    lambda: df.write.format("noop").mode("overwrite").save(),
                )

    def after_pass(self) -> None:
        pass


def _tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) under `path`."""
    nbytes = nfiles = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            nbytes += os.path.getsize(os.path.join(root, f))
            nfiles += 1
    return nbytes, nfiles


class BackupDrill:
    """snapshot -> verify -> incremental snapshot of the next night -> verify."""

    name = "backup_drill"

    def __init__(self, sf: float) -> None:
        from datapipeline_scripts_spark.pipeline.config import JobConfig

        self.sf = sf
        self.cfg = JobConfig(tables=DRILL_TABLES)

    def prepare(self, seed: int, work: str) -> None:
        self.db = os.path.join(work, "db")
        self.next_db = os.path.join(work, "db_next")
        counts = datagen.write_database(seed, self.sf, self.db)
        self.counts = {t: counts[t] for t in DRILL_TABLES}
        self.changed = datagen.next_night(seed, self.db, self.next_db, DRILL_TABLES)
        self.source_bytes = sum(os.path.getsize(os.path.join(self.db, f"{t}.parquet")) for t in DRILL_TABLES)
        self.out = os.path.join(work, "snapshots")
        self.scratch = os.path.join(work, "verify_scratch")

    def gate(self, s: Session) -> None:
        """Nothing to add: every pass checks itself."""

    def _check_manifest(self, s: Session, snap_dir: str, phase: str) -> dict:
        from datapipeline_scripts_spark.pipeline.snapshot import MANIFEST_NAME

        with open(os.path.join(snap_dir, MANIFEST_NAME)) as fh:
            tables = json.load(fh)["tables"]
        for name, n in self.counts.items():
            got = tables.get(name, {}).get("n_rows")
            if got != n:
                s.fail(f"{phase}: manifest rows of {name} = {got}, source has {n}")
        return tables

    def _verify(self, s: Session, snap_dir: str | None, phase: str) -> None:
        from datapipeline_scripts_spark.pipeline.verify import verify_snapshot

        if snap_dir is None:
            return
        result = s.call(phase, f"pipeline.{phase}", lambda: verify_snapshot(s.spark, snap_dir, self.scratch))
        if result is not None and not result.ok:
            s.fail(f"{phase}: {'; '.join(result.issues)}")

    def run_pass(self, s: Session, rec: PassRecord) -> None:
        from datapipeline_scripts_spark.pipeline.snapshot import MANIFEST_NAME, snapshot

        tag = rec.label
        full = s.call(
            "snapshot_full",
            "pipeline.snapshot_full",
            lambda: snapshot(s.spark, self.db, self.out, self.cfg, snapshot_ts=f"{tag}_full"),
        )
        self._verify(s, full, "verify_full")
        if full is None:
            return
        incr = s.call(
            "snapshot_incr",
            "pipeline.snapshot_incr",
            lambda: snapshot(
                s.spark,
                self.next_db,
                self.out,
                self.cfg,
                snapshot_ts=f"{tag}_incr",
                base_manifest=os.path.join(full, MANIFEST_NAME),
            ),
        )
        self._verify(s, incr, "verify_incr")
        self._check_manifest(s, full, "snapshot_full")
        full_bytes, full_files = _tree_size(full)
        rec.counters["pipeline.artifact_bytes_ratio"] = full_bytes / self.source_bytes
        if incr is None:
            return
        tables = self._check_manifest(s, incr, "snapshot_incr")
        rewritten = {t for t, entry in tables.items() if "based_on" not in entry}
        if rewritten != self.changed:
            s.fail(f"snapshot_incr: rewrote {sorted(rewritten)}, changed set is {sorted(self.changed)}")
        incr_bytes, incr_files = _tree_size(incr)
        rec.counters.update(
            {
                "pipeline.bytes_written_mb": (full_bytes + incr_bytes) / 2**20,
                "pipeline.files_written": full_files + incr_files,
                "pipeline.tables_rewritten": len(rewritten),
                "pipeline.tables_total": len(tables),
            }
        )

    def after_pass(self) -> None:
        """Drop the pass's snapshots (untimed) so disk use stays flat."""
        for name in os.listdir(self.out) if os.path.isdir(self.out) else ():
            shutil.rmtree(os.path.join(self.out, name), ignore_errors=True)


# scale factors: each pass must stay a few seconds long so a run holds
# several passes; see NOTES.md for the sizing
WORKLOADS = {
    "backup_drill": lambda: BackupDrill(sf=0.01),
    "relational_mix": lambda: RegistryWorkload("relational_mix", RELATIONAL_KEYS, sf=0.01),
    "corpus_build": lambda: RegistryWorkload("corpus_build", CORPUS_KEYS, sf=0.01),
}
