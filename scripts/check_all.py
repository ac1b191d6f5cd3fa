"""Run every declared query against its DuckDB oracle; print one line
per query. Usage: python scripts/check_all.py [sf_dir] [key1,key2,...]

Pass --agg-hash to compare engine-side (count, md5_48 row-sum)
fingerprints instead of collecting rows through the driver — the scale
mode for proxy datasets whose results exceed the py4j materialization
budget (VERDICT r04 item 2). Doubles compare at 1e-6 quantization in
this mode; the default row-collect mode stays the exact-repr gate.

The summary ends with the session's generated-code compile count and
Janino compile time, the driver JVM's JIT compile time and the C2
invocation threshold in force, the number of persistent RDDs the session
still holds after a forced Python and JVM garbage collection (a builder
that never releases its cached or checkpointed frames shows up there),
and the class-data archive the driver JVM
started from, or why it started without one (a machine that lost the
faster start shows up there)."""

from __future__ import annotations

import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datapipeline_scripts_spark import cds
from datapipeline_scripts_spark.oracle import agg_hash_check, check_query
from datapipeline_scripts_spark.registry import all_queries
from datapipeline_scripts_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    codegen_stats,
    get_spark,
    jit_compile_s,
    vm_option,
)


def settled_persistent_rdds(spark, timeout_s: float = 30.0, poll_s: float = 0.5) -> int:
    """The number of persistent RDDs the session holds once unreferenced
    frames are gone. The JVM keeps persistent RDDs by weak reference, so
    the raw count depends on when the Python proxies and the JVM heap
    were last collected. Collect both until the number of cached RDDs
    holds for three polls in a row or ``timeout_s`` passes, then count
    once. The polls read storage info, which refers to no RDD: the map
    ``getPersistentRDDs()`` returns holds every RDD it lists until py4j
    releases it, so polling with it kept alive what it counted."""
    sc = spark.sparkContext
    deadline = time.monotonic() + timeout_s
    last, same = -1, 0
    while same < 2 and time.monotonic() < deadline:
        gc.collect()
        sc._jvm.System.gc()
        time.sleep(poll_s)
        n = len(sc._jsc.sc().getRDDStorageInfo())
        same = same + 1 if n == last else 0
        last = n
    return sc._jsc.getPersistentRDDs().size()


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--agg-hash"]
    checker = agg_hash_check if "--agg-hash" in sys.argv[1:] else check_query
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    # accept both comma- and space-separated key lists; an unknown key is
    # a loud error, not a silent no-op (a typo'd key must never look like
    # a passing check)
    only = {k for arg in args[1:] for k in arg.split(",") if k} if len(args) > 1 else None
    if only:
        unknown = only - set(all_queries())
        if unknown:
            raise SystemExit(f"unknown query key(s): {sorted(unknown)}")
    spark = get_spark("check_all")
    failures = 0
    for key in sorted(all_queries()):
        if only and key not in only:
            continue
        t0 = time.time()
        try:
            report = checker(key, spark, sf_dir)
            print(f"{time.time() - t0:6.1f}s {report}", flush=True)
            if not report.ok:
                failures += 1
        except Exception as exc:  # noqa: BLE001
            failures += 1
            msg = str(exc).splitlines()[0][:300]
            print(f"{time.time() - t0:6.1f}s [ERR ] {key}: {msg}", flush=True)
    n_checked = len(only) if only else len(all_queries())
    print(f"done: {failures} failures / {n_checked} queries checked", flush=True)
    # the classes a run over a key subset compiles are that subset's
    # working set: one larger than the cache recompiles on every pass
    compiles, compile_s = codegen_stats(spark)
    print(
        f"codegen: {compiles} classes compiled, {compile_s:.1f}s in Janino"
        f" (cache holds {CODEGEN_CACHE_ENTRIES})",
        flush=True,
    )
    print(
        f"jit: {jit_compile_s(spark):.1f}s compiling"
        f" (Tier4InvocationThreshold={vm_option(spark, 'Tier4InvocationThreshold')})",
        flush=True,
    )
    print(f"persistent RDDs held: {settled_persistent_rdds(spark)}", flush=True)
    print(f"cds: {cds.status()}", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
