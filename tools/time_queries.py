"""Time individual registry queries with the bench methodology.

Usage: python tools/time_queries.py <query> [query ...]

One untimed warm run, then three timed full collect()s per query;
prints per-query median (the bench statistic), the number of classes
the timed runs compiled (codegen-cache misses) and the raw runs.
Uses the engine's tuned session at $SPARK_GRAFT_CPUS cores and
$SPARK_GRAFT_SF_DIR (default sf0.1, matching bench.py), so numbers
are comparable to BENCH_FULL.json warm medians taken on the same
host in the same window. For before/after evidence only — the
committed record is always a full bench.py run.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entrymod
    from postgresql_transfer_tool_spark.session import codegen_compiles, get_spark

    spark = get_spark("time-queries")
    qs = entrymod.queries()
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"warm: {name}")
        fn(spark, sf_dir).collect()
        runs = []
        c0 = codegen_compiles(spark)
        for i in range(3):
            spark.sparkContext.setJobDescription(f"timed {i}: {name}")
            t0 = time.monotonic()
            fn(spark, sf_dir).collect()
            runs.append(time.monotonic() - t0)
        print(
            f"{name}: median {statistics.median(runs):.3f}s "
            f"compiles {codegen_compiles(spark) - c0} "
            f"runs {[round(r, 3) for r in runs]}",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
