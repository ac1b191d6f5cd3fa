"""Session-level reuse: the generated-code cache holds a pass's working
set, Python workers keep unchanged zip directories across tasks, and the
package zip shipped to the workers is removed when the driver exits."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

import datapipeline_scripts_spark as pkg
from datapipeline_scripts_spark.registry import all_queries
from datapipeline_scripts_spark.session import codegen_stats

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the keys of the relational_mix bench workload: 200-225 generated
# classes a round, more than Spark's default cache of 100
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


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on sys.path, and a log of its directory reads."""
    archive = str(tmp_path / "memo_probe.zip")
    _write_zip(archive, {"memo_probe_a": "VALUE = 'a'\n"})
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    yield archive, reads
    for name in ("memo_probe_a", "memo_probe_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    pkg._zip_stamps.pop(archive, None)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="stdlib invalidation is lazy")
def test_zip_memo_keeps_an_unchanged_directory(zip_on_path):
    archive, reads = zip_on_path
    assert importlib.import_module("memo_probe_a").VALUE == "a"
    importlib.invalidate_caches()  # the first invalidation reads and stamps
    assert pkg._zip_stamps[archive]
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads
    assert importlib.import_module("memo_probe_a").VALUE == "a"


def test_zip_memo_rereads_a_rewritten_archive(zip_on_path):
    archive, _reads = zip_on_path
    assert importlib.import_module("memo_probe_a").VALUE == "a"
    importlib.invalidate_caches()
    _write_zip(archive, {"memo_probe_a": "VALUE = 'a'\n", "memo_probe_b": "VALUE = 'b'\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("memo_probe_b").VALUE == "b"


def test_zip_memo_active_in_a_reused_worker(spark):
    import pandas as pd

    def probe(batches):
        import zipimport

        import datapipeline_scripts_spark as worker_pkg

        for _ in batches:
            pass
        active = zipimport.zipimporter.invalidate_caches.__module__ == worker_pkg.__name__
        yield pd.DataFrame(
            {"pid": [os.getpid()], "active": [active], "stamped": [len(worker_pkg._zip_stamps)]}
        )

    seen: set[int] = set()
    reused = []
    for _ in range(4):
        rows = (
            spark.range(2, numPartitions=2)
            .mapInPandas(probe, "pid long, active boolean, stamped long")
            .collect()
        )
        reused += [r for r in rows if r.pid in seen]
        seen |= {r.pid for r in rows}
    assert reused, "no Python worker ran a second task"
    # a worker stamps archives from its first task after the package import
    assert any(r.active and r.stamped > 0 for r in reused), reused


def test_codegen_cache_holds_the_relational_working_set(spark, sf_dir):
    queries = all_queries()

    def one_round() -> int:
        before, _ = codegen_stats(spark)
        for key in RELATIONAL_KEYS:
            queries[key].build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return codegen_stats(spark)[0] - before

    one_round()
    assert one_round() == 0


def test_shipped_package_zip_is_removed_at_exit(tmp_path, sf_dir):
    script = textwrap.dedent(
        f"""
        import glob, os, tempfile
        from datapipeline_scripts_spark.catalog import load_table
        from datapipeline_scripts_spark.session import get_spark

        spark = get_spark("ship_cleanup")
        assert load_table(spark, {sf_dir!r}, "region").count() == 5
        print(len(glob.glob(os.path.join(tempfile.gettempdir(), "dps_spark_pkg_*"))))
        """
    )
    env = {**os.environ, "TMPDIR": str(tmp_path), "SPARK_GRAFT_CPUS": "1"}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=REPO, env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[-1] == "1"  # the zip existed while the driver ran
    assert not list(tmp_path.glob("dps_spark_pkg_*"))


def test_package_reads_only_the_deployment_settings():
    """The only SPARK_GRAFT_* environment variables the package names
    are the deployment settings (cores, driver memory, input split
    size). A new one needs a reason to exist, not a default."""
    import re

    names = set()
    for root, _dirs, files in os.walk(os.path.dirname(pkg.__file__)):
        for name in files:
            if name.endswith(".py"):
                with open(os.path.join(root, name), encoding="utf-8") as fh:
                    names.update(re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", fh.read()))
    assert names == {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_MAX_PARTITION_BYTES"}
