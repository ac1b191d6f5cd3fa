"""The driver JVM's launch flags. Its class-data archive: the first
session records it, the next maps it, and a session that cannot use it
starts as before. Its C2 thresholds: in force beside the archive, and a
caller's own value wins.

Every case runs its sessions in subprocesses with their own
``XDG_CACHE_HOME``, so the machine's archive is never touched."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import textwrap

import pytest

from datapipeline_scripts_spark import cds
from datapipeline_scripts_spark import session as session_mod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = textwrap.dedent(
    """
    import json, os, sys
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home
    from datapipeline_scripts_spark import cds
    from datapipeline_scripts_spark.session import get_spark, vm_option

    conf, exit_code = json.loads(sys.argv[1]), json.loads(sys.argv[2])
    spark = get_spark("cds_probe", **conf)
    assert spark.range(5).selectExpr("sum(id)").first()[0] == 10
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    cache = cds.cache_dir()
    result = {
        "args": list(bean.getInputArguments()),
        "status": cds.status(),
        "pid": os.getpid(),
        "cache": sorted(os.listdir(cache)) if os.path.isdir(cache) else None,
        "tier4": {
            name: vm_option(spark, name)
            for name in ("Tier4InvocationThreshold", "Tier4MinInvocationThreshold",
                         "Tier4CompileThreshold", "Tier4BackEdgeThreshold")
        },
    }
    if exit_code is not None:
        # the JVM exits with this status, writing its archive first
        try:
            spark.sparkContext._jvm.java.lang.System.exit(exit_code)
        except Exception:  # the gateway goes away mid-call
            pass
        result["jvm_exit"] = SparkContext._gateway.proc.wait(timeout=600)
        temp = os.path.join(cache, f"{cds.archive_key(cds._java_binary(), _find_spark_home())}.{os.getpid()}.jsa")
        result["temp_bytes"] = os.path.getsize(temp)
    print("RESULT " + json.dumps(result), flush=True)
    """
)


def run_session(cache_home, java_options: str | None = None, exit_code: int | None = None, **env):
    conf = {} if java_options is None else {"spark.driver.extraJavaOptions": java_options}
    full_env = {**os.environ, "XDG_CACHE_HOME": str(cache_home), "SPARK_GRAFT_CPUS": "1", **env}
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT, json.dumps(conf), json.dumps(exit_code)],
        cwd=REPO,
        env=full_env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = next(ln for ln in out.stdout.splitlines() if ln.startswith("RESULT "))
    return json.loads(line[len("RESULT ") :]), out.stdout + out.stderr


def archives(cache_home) -> list[str]:
    """Every .jsa file under the cache, published or not."""
    root = os.path.join(str(cache_home), "spark-graft")
    return sorted(n for n in os.listdir(root) if n.endswith(".jsa")) if os.path.isdir(root) else []


def published(cache_home) -> list[str]:
    return [n for n in archives(cache_home) if re.fullmatch(r"[0-9a-f]{16}\.jsa", n)]


def dead_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    """A first session in an empty cache, carrying a caller's -Xms2g."""
    home = tmp_path_factory.mktemp("cds_home")
    result, output = run_session(home, "-Xms2g")
    return home, result, output


@pytest.fixture(scope="module")
def mapped(recorded):
    home, _, _ = recorded
    return run_session(home, "-Xms2g -Xlog:class+load=info")


def test_first_session_records_and_publishes_at_exit(recorded):
    home, result, _ = recorded
    assert result["status"].startswith("recording "), result["status"]
    temp = os.path.basename(result["status"].split()[1])
    assert temp.endswith(f".{result['pid']}.jsa")
    assert any("-XX:ArchiveClassesAtExit=" in a for a in result["args"])
    assert "-Xms2g" in result["args"]
    assert published(home) == [re.sub(r"\.\d+\.jsa$", ".jsa", temp)]
    assert archives(home) == published(home)  # the temp file was renamed


def test_second_session_maps_the_top_layer_archive(recorded, mapped):
    home, _, _ = recorded
    result, output = mapped
    assert result["status"] == f"mapped {os.path.join(str(home), 'spark-graft', published(home)[0])}"
    assert "source: shared objects file (top)" in output
    assert "-Xms2g" in result["args"]  # the caller's flags survive the merge


def test_cds_logging_stays_off_stdout(recorded, mapped):
    for output in (recorded[2], mapped[1]):
        assert "[cds" not in output


def test_rejected_archive_falls_back_quietly(recorded, tmp_path):
    """An archive recorded with another class path (here: another cache
    directory, so another conf dir) is refused by the JVM, silently. The
    session removes it, and the next session records a new one."""
    home, _, _ = recorded
    name = published(home)[0]
    os.makedirs(tmp_path / "spark-graft")
    os.link(os.path.join(str(home), "spark-graft", name), tmp_path / "spark-graft" / name)
    result, output = run_session(tmp_path)
    assert result["status"].startswith("rejected "), result["status"]
    assert "removed" in result["status"]
    assert "[cds" not in output
    assert archives(tmp_path) == []
    assert os.path.isfile(os.path.join(str(home), "spark-graft", name))
    result, _ = run_session(tmp_path)
    assert result["status"].startswith("recording "), result["status"]
    assert published(tmp_path) == [name]


def test_torn_temp_file_is_removed_and_a_failed_recorder_publishes_nothing(recorded, tmp_path):
    """A truncated archive left by a killed recorder is never mapped (a
    JVM mapping it dies of SIGBUS); the session sweeps it and records.
    Its JVM writes a full archive but exits with status 3, and nothing is
    published."""
    home, _, _ = recorded
    key = published(home)[0][: -len(".jsa")]
    torn = f"{key}.{dead_pid()}.jsa"
    os.makedirs(tmp_path / "spark-graft")
    with open(os.path.join(str(home), "spark-graft", f"{key}.jsa"), "rb") as src:
        (tmp_path / "spark-graft" / torn).write_bytes(src.read(1 << 20))
    result, _ = run_session(tmp_path, exit_code=3)
    assert result["status"].startswith("recording "), result["status"]
    assert torn not in result["cache"]
    assert f"{key}.{result['pid']}.jsa" in result["cache"]
    assert result["jvm_exit"] == 3 and result["temp_bytes"] > 1 << 20
    assert archives(tmp_path) == []


TIER4 = {
    "Tier4InvocationThreshold": "50000",
    "Tier4MinInvocationThreshold": "6000",
    "Tier4CompileThreshold": "150000",
    "Tier4BackEdgeThreshold": "400000",
}


def test_c2_thresholds_are_in_force_beside_the_archive(recorded, mapped):
    for result in (recorded[1], mapped[0]):
        assert result["tier4"] == TIER4
    assert mapped[0]["status"].startswith("mapped "), mapped[0]["status"]
    args = mapped[0]["args"]
    assert args.index("-Xms2g") > args.index("-XX:Tier4InvocationThreshold=50000")


def test_a_callers_c2_threshold_wins(recorded):
    home, _, _ = recorded
    result, _ = run_session(home, "-XX:Tier4InvocationThreshold=5000")
    assert result["tier4"] == {**TIER4, "Tier4InvocationThreshold": "5000"}
    assert result["status"].startswith("mapped "), result["status"]


@pytest.mark.parametrize("case", ["conf_dir", "unwritable_cache"])
def test_sessions_that_cannot_use_cds_start_without_it(tmp_path, case):
    env = {}
    home = tmp_path / "home"
    if case == "conf_dir":
        conf = tmp_path / "conf"
        conf.mkdir()
        (conf / "spark-defaults.conf").write_text("spark.graft.probe true\n")
        env["SPARK_CONF_DIR"] = str(conf)
        reason = "off (SPARK_CONF_DIR is set)"
    else:
        home.write_text("a file where the cache directory should be\n")
        reason = f"off (cache {home / 'spark-graft'} not writable"
    result, output = run_session(home, "-Xms2g", **env)
    assert result["status"].startswith(reason), result["status"]
    assert not any(re.search(r"Xshare|SharedArchiveFile|ArchiveClassesAtExit|Xlog", a) for a in result["args"])
    assert "-Xms2g" in result["args"]
    assert "[cds" not in output
    assert archives(home) == []


def test_get_spark_on_a_running_jvm_makes_no_plan(spark, monkeypatch):
    def refuse(extra_conf):
        raise AssertionError("planned CDS for a JVM that is already running")

    monkeypatch.setattr(cds, "plan", refuse)
    assert session_mod.get_spark("tests").sparkContext is spark.sparkContext
