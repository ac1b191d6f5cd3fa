"""Benchmark of the spark-graft engine: one seeded workload per run.

    python3 perfbench/run.py --workload <backup_drill|relational_mix|corpus_build>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run generates its inputs from the
seed inside `.perfbench_work/` of the checkout, starts one Spark session
at `local[nproc]`, runs passes of the workload back to back from the
cold JVM on -- at least three, and more while fewer than `--seconds`
have passed -- then runs the correctness gate.
The last stdout line is the result JSON: `correct`, `attempted`,
`failed` and `metrics` -- the end-to-end metrics with `--trace 0`; with
`--trace 1` the per-layer metrics, from a second, traced session (Spark
event log plus job groups) that runs for half the seconds more.
The line before it is the run record (box context, per-pass times).
See NOTES.md for the metric definitions and the layer map.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import procstat  # noqa: E402
import workloads  # noqa: E402

# name -> unit; every metric here is "lower is better" unless listed in
# HIGHER_IS_BETTER. BENCHMARK.json repeats these (selftest.py checks it).
END_TO_END = {
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
PER_LAYER = {
    "pass_s": "s",
    "registry.build_s": "s",
    "registry.exec_s": "s",
    **{f"{m}.build_s": "s" for m in workloads.BUILD_MODULES},
    **{f"pipeline.{p}_s": "s" for p in workloads.PIPELINE_PHASES},
    "pipeline.bytes_written_mb": "MB",
    "pipeline.files_written": "count",
    "pipeline.tables_rewritten": "count",
    "pipeline.tables_total": "count",
    "pipeline.artifact_bytes_ratio": "ratio",
    "pass.call_gap_s": "s",
    "process.cpu_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.scheduler_delay_s": "s",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.cpu_share": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.peak_exec_mem_mb": "MB",
    "spark.input_mb": "MB",
    "spark.output_mb": "MB",
    "python.mb_sent": "MB",
    "python.mb_returned": "MB",
    "python.worker_peak_rss_mb": "MB",
    "cleanup.leftovers": "count",
    "trace.unlabelled_jobs": "count",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}
HIGHER_IS_BETTER = {"spark.cpu_share", "pipeline.tables_total"}
COUNTED_PASSES = 3

# per-pass sums of the folded job-group rows: metric -> GroupRow field
_SPARK_SUMS = {
    "spark.jobs": "jobs",
    "spark.stages": "stages",
    "spark.tasks": "tasks",
    "spark.scheduler_delay_s": "scheduler_delay_s",
    "spark.executor_run_s": "executor_run_s",
    "spark.executor_cpu_s": "executor_cpu_s",
    "spark.shuffle_write_mb": "shuffle_write_mb",
    "spark.shuffle_read_mb": "shuffle_read_mb",
    "spark.spill_mb": "spill_mb",
    "spark.gc_s": "gc_s",
    "spark.input_mb": "input_mb",
    "spark.output_mb": "output_mb",
    "python.mb_sent": "python_mb_sent",
    "python.mb_returned": "python_mb_returned",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, event_dir: str | None = None):
    from datapipeline_scripts_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap (-Xms = -Xmx, 2 GB, below), touched in full at
        # start: how much of a growing or lazily touched heap G1 had used
        # by the end depended on timing, and made peak RSS swing between
        # identical runs
        "spark.driver.extraJavaOptions": (
            f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                # Spark 4 defaults to zstd; keep the log plain JSON
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark("perfbench", **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the session, then the JVM and every process under this one."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while procstat.descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in procstat.descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def timed_passes(s: workloads.Session, wl, seconds: float, work: str, tmp: str, min_passes: int = 1):
    """Closed loop: passes back to back until `seconds` have elapsed and
    at least `min_passes` have run."""
    recs: list[workloads.PassRecord] = []
    t_end = time.time() + seconds
    while len(recs) < min_passes or time.time() < t_end:
        rec = workloads.PassRecord(f"p{len(recs)}", 0.0, 0.0, 0.0)
        s.pass_label = rec.label
        n_spans = len(s.spans)
        cpu0 = procstat.tree_cpu_s()
        rec.t0 = time.time()
        wl.run_pass(s, rec)
        rec.t1 = time.time()
        rec.cpu_s = procstat.tree_cpu_s() - cpu0
        rec.spans = s.spans[n_spans:]
        s.attempted += 1  # the cleanup check is one op per pass
        left = workloads.leftovers(work, tmp)
        rec.counters["cleanup.leftovers"] = len(left)
        if left:
            s.fail(f"{rec.label}: left behind {left}")
        wl.after_pass()
        recs.append(rec)
    return recs


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def layer_row(rec: workloads.PassRecord, groups: dict, workload: str) -> dict[str, float]:
    """The per-layer metrics of one traced pass."""
    row = {name: 0.0 for name in PER_LAYER}
    for span in rec.spans:
        dt = span.t1 - span.t0
        if span.layer == "registry.build":
            row["registry.build_s"] += dt
            key = f"{span.module}.build_s"
            if key in row:
                row[key] += dt
        elif span.layer == "registry.exec":
            row["registry.exec_s"] += dt
        elif span.layer.startswith("pipeline."):
            row[f"{span.layer}_s"] += dt
    row["pass.call_gap_s"] = rec.wall_s - sum(sp.t1 - sp.t0 for sp in rec.spans)
    for name, value in rec.counters.items():
        row[name] = value
    prefix = f"{workload}:{rec.label}:"
    mine = [g for key, g in groups.items() if key is not None and key.startswith(prefix)]
    for metric, attr in _SPARK_SUMS.items():
        row[metric] = sum(getattr(g, attr) for g in mine)
    row["spark.peak_exec_mem_mb"] = max((g.peak_exec_mem_mb for g in mine), default=0.0)
    run_s = row["spark.executor_run_s"]
    row["spark.cpu_share"] = row["spark.executor_cpu_s"] / run_s if run_s else 0.0
    intervals = [iv for g in mine for iv in g.job_intervals]
    row["spark.driver_gap_s"] = rec.wall_s - eventlog.union_s(intervals, rec.t0, rec.t1)
    row["trace.pass_s"] = rec.wall_s
    row["process.cpu_s"] = rec.cpu_s
    return row


def check_groups(groups: dict, spans: list[workloads.Span]) -> list[str]:
    """Every job group of the traced session names exactly one timed call."""
    span_groups = [sp.group for sp in spans]
    return [
        f"job group {g} has {span_groups.count(g)} timed calls"
        for g in groups
        if g is not None and span_groups.count(g) != 1
    ]


def run(args) -> tuple[dict, dict]:
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(nproc()),
            # a fixed 2 GB heap (see start_session); the default 8 GB
            # heap grew by GC pressure and swung peak RSS by 40%
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR
    record: dict = {"box_start": box_context()}
    wl = workloads.WORKLOADS[args.workload]()
    if args.sf is not None:
        wl.sf = args.sf
    seconds = float(args.seconds)
    try:
        with procstat.PeakSampler() as sampler:
            marks = [("start", PROCESS_T0)]
            wl.prepare(args.seed, work)
            marks.append(("inputs", time.time()))
            spark = start_session(work)
            marks.append(("session", time.time()))
            from datapipeline_scripts_spark.registry import all_queries

            all_queries()
            marks.append(("registry", time.time()))
            record["setup_parts_s"] = {b[0]: round(b[1] - a[1], 3) for a, b in zip(marks, marks[1:])}
            setup_s = time.time() - PROCESS_T0
            s = workloads.Session(spark, args.workload, traced=False)
            # from the cold JVM on: cpu_s averages the first COUNTED_PASSES
            # passes, so the JIT's warm-up work counts in full wherever a
            # pass boundary happens to split it (NOTES.md)
            untraced = timed_passes(s, wl, seconds, work, tmp, min_passes=COUNTED_PASSES)
            t_gate = time.time()
            wl.gate(s)
            record["gate_s"] = time.time() - t_gate
            sessions = [s]
            traced: list[workloads.PassRecord] = []
            groups: dict = {}
            if args.trace:
                spark.stop()
                workloads.drop_exports(tmp)
                event_dir = os.path.join(work, "eventlog")
                ts = workloads.Session(start_session(work, event_dir), args.workload, traced=True)
                sessions.append(ts)
                traced = timed_passes(ts, wl, seconds / 2, work, tmp)
                ts.spark.stop()
                groups = eventlog.fold(event_dir)
                for issue in check_groups(groups, ts.spans):
                    ts.fail(issue)
            sampler.sample()
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    record["box_end"] = box_context()
    failures = [f for sess in sessions for f in sess.failures]
    attempted = sum(sess.attempted for sess in sessions)
    metrics: dict[str, float] = {}
    if not args.trace:
        metrics = {
            "cpu_s": sum(r.cpu_s for r in untraced[:COUNTED_PASSES]) / COUNTED_PASSES,
            "peak_rss_mb": sampler.peak_mb,
            "setup_s": setup_s,
        }
        units = END_TO_END
    else:
        rows = [layer_row(r, groups, args.workload) for r in traced]
        metrics = {name: _median(row[name] for row in rows) for name in PER_LAYER}
        metrics["python.worker_peak_rss_mb"] = sampler.python_peak_mb
        metrics["cleanup.leftovers"] = sum(r.counters["cleanup.leftovers"] for r in untraced + traced)
        metrics["trace.unlabelled_jobs"] = groups[None].jobs if None in groups else 0
        metrics["pass_s"] = _median(r.wall_s for r in untraced[1:])
        metrics["trace.overhead_s"] = metrics["trace.pass_s"] - metrics["pass_s"]
        units = PER_LAYER
    record.update(
        {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "sf": wl.sf,
            "setup_s": setup_s,
            "pass_s": [round(r.wall_s, 4) for r in untraced],
            "cpu_s": [round(r.cpu_s, 2) for r in untraced],
            "traced_pass_s": [round(r.wall_s, 4) for r in traced],
            "peak_rss_mb": sampler.peak_mb,
            "python_peak_rss_mb": sampler.python_peak_mb,
            "failures": failures[:20],
        }
    )
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    return record, result


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs (/proc/stat)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def box_context() -> dict:
    import pyspark

    load1 = os.getloadavg()[0]
    return {
        "nproc": nproc(),
        "loadavg_1m": load1,
        "busy": load1 > nproc(),
        "steal_s": _steal_s(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="override the workload's scale factor")
    args = ap.parse_args(argv)
    args.seed %= 2**63  # numpy seeds must be non-negative
    if not os.path.isdir(os.path.join(ROOT, workloads.PACKAGE)):
        print(f"perfbench: no {workloads.PACKAGE}/ package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    record, result = run(args)
    try:
        os.rmdir(os.path.join(ROOT, ".perfbench_work"))
    except OSError:  # another run's work dir is still there
        pass
    print(json.dumps({"run_record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
