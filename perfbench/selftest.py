"""Self-test of the benchmark.

    python3 perfbench/selftest.py          # fast checks + traced sf0.001 runs (~5 min)
    python3 perfbench/selftest.py --fast   # fast checks only (no Spark)

Fast checks: BENCHMARK.json names exactly the metrics `run.py` prints,
with the same units and directions; the input generator is a pure
function of the seed; the event-log folder attributes jobs, stages and
tasks to job groups and measures job-interval unions correctly.

Spark checks: every workload (the two in BENCHMARK.json and
relational_mix) runs traced at sf0.001 and reports every per-layer
metric, no failed op, no unlabelled job, and the timed calls account
for the pass (`pass.call_gap_s` is a small share of `trace.pass_s`).
Each run also fails itself if a job group maps to other than exactly
one timed call.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import eventlog  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def check_benchmark_json() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for section, table in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        listed = {m["name"]: (m["unit"], m["better"]) for m in bench[section]}
        expected = {
            name: (unit, "higher" if name in run.HIGHER_IS_BETTER else "lower")
            for name, unit in table.items()
        }
        assert listed == expected, f"{section}: BENCHMARK.json {listed} != run.py {expected}"
    for w in bench["workloads"]:
        assert w["name"] in workloads.WORKLOADS, w["name"]
    assert "setup_s" in {m["name"] for m in bench["end_to_end"]}


def check_datagen() -> None:
    a = datagen.tables(5, 0.001)
    b = datagen.tables(5, 0.001)
    c = datagen.tables(6, 0.001)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES), "same seed, different inputs"
    assert not a["orders"].equals(c["orders"]), "seed does not reach the inputs"
    with tempfile.TemporaryDirectory() as d:
        datagen.write_database(5, 0.001, os.path.join(d, "db"))
        tables = workloads.DRILL_TABLES
        changed = datagen.next_night(5, os.path.join(d, "db"), os.path.join(d, "next"), tables)
        again = datagen.next_night(5, os.path.join(d, "db"), os.path.join(d, "next2"), tables)
        assert changed == again and len(changed) == 1


def check_eventlog() -> None:
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "w:p0:a.build"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1500, "Getting Result Time": 0,
                       "Accumulables": [{"Name": "data sent to Python workers", "Update": 2 * 2**20}]},
         "Task Metrics": {"Executor Run Time": 300, "Executor CPU Time": 2e8, "Executor Deserialize Time": 100,
                          "Result Serialization Time": 0, "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3500},
    ]
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "events_1_local-1")
        with open(path, "w") as fh:
            fh.write("\n".join(json.dumps(x) for x in lines) + "\n")
        rows = eventlog.fold(d)
    row = rows["w:p0:a.build"]
    assert (row.jobs, row.stages, row.tasks) == (1, 1, 1)
    assert abs(row.scheduler_delay_s - 0.1) < 1e-9 and abs(row.executor_cpu_s - 0.2) < 1e-9
    assert row.shuffle_write_mb == 1.0 and row.python_mb_sent == 2.0
    assert row.job_intervals == [(1.0, 2.0)] and rows[None].jobs == 1
    assert eventlog.union_s([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert eventlog.union_s([(0, 2), (1, 3)], 1.5, 2.5) == 1.0
    assert run.check_groups({"g": row, None: rows[None]}, [workloads.Span("g", "x", "", 0, 1)]) == []
    assert run.check_groups({"g": row}, []) != []


def check_spark_run(workload: str) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", "1", "--sf", "0.001"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, proc.stdout[-3000:]
    metrics = result["metrics"]
    assert set(metrics) == set(run.PER_LAYER), set(run.PER_LAYER) ^ set(metrics)
    value = {k: v["value"] for k, v in metrics.items()}
    assert value["trace.unlabelled_jobs"] == 0
    assert value["spark.jobs"] > 0 and value["spark.tasks"] >= value["spark.stages"] > 0
    assert value["pass.call_gap_s"] < 0.05 * value["trace.pass_s"], value
    if workload == "backup_drill":
        assert value["pipeline.tables_rewritten"] == 1
        assert value["pipeline.tables_total"] == len(workloads.DRILL_TABLES)
    else:
        assert value["registry.build_s"] > 0 and value["registry.exec_s"] > 0
    if workload == "corpus_build":
        assert value["python.mb_sent"] > 0 and value["python.mb_returned"] > 0
    else:
        assert value["python.mb_sent"] == 0
    print(f"ok  {workload}: {len(metrics)} per-layer metrics, pass {value['trace.pass_s']:.2f} s")


def main() -> int:
    ap = argparse.ArgumentParser(description="benchmark self-test")
    ap.add_argument("--fast", action="store_true", help="skip the Spark runs")
    args = ap.parse_args()
    check_benchmark_json()
    check_datagen()
    check_eventlog()
    print("ok  fast checks")
    if not args.fast:
        for workload in sorted(workloads.WORKLOADS):
            check_spark_run(workload)
    return 0


if __name__ == "__main__":
    sys.exit(main())
