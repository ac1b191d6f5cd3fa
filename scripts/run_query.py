"""Run any declared query by key: show rows, timing, and (optionally)
the physical plan.

Usage:
    python scripts/run_query.py <key> [sf_dir] [--explain] [--n 20]
    python scripts/run_query.py --list
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datapipeline_scripts_spark.registry import all_queries
from datapipeline_scripts_spark.session import get_spark


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("key", nargs="?")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    ap.add_argument("--explain", action="store_true")
    ap.add_argument("--n", type=int, default=20)
    ap.add_argument("--list", action="store_true")
    args = ap.parse_args()

    specs = all_queries()
    if args.list or not args.key:
        for key in sorted(specs):
            doc = (specs[key].build.__doc__ or "").strip()
            print(f"{key:24s} {doc.splitlines()[0] if doc else ''}")
        return 0
    if args.key not in specs:
        print(f"unknown key {args.key!r}; use --list", file=sys.stderr)
        return 2
    spark = get_spark("run_query")
    t0 = time.perf_counter()
    df = specs[args.key].build(spark, args.sf_dir)
    df.show(args.n, truncate=False)
    print(f"rows={df.count()} elapsed={time.perf_counter() - t0:.2f}s")
    if args.explain:
        df.explain("formatted")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
