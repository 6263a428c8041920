#!/usr/bin/env python
"""Spot-bench a few registry queries: interleaved passes, best-of-N
wall + deterministic job counts + codegen compiles + driver py4j
calls per query —
bench.py's timed loop (``bench.timed_passes``), scoped to a handful of
names for A/B adjudication.

Usage: python tools/spot_bench.py name [name ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_BENCH_PASSES (default 3)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:]
    if not names:
        raise SystemExit("usage: spot_bench.py name [name ...]")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from bench import timed_passes
    from dask_snowflake_spark.queries import registry
    from dask_snowflake_spark.session import get_session, register_tables

    reg = registry()
    unknown = [n for n in names if n not in reg]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark = get_session("dask_snowflake_spark-spot-bench")
    tables = register_tables(spark, sf_dir)
    for name in tables:
        spark.sql(f"SELECT count(*) FROM {name}").collect()
    # warm the noop writer / codegen on the first query before timing
    reg[names[0]].spark_fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    runs, job_runs, compile_runs, py4j_runs = timed_passes(
        spark,
        sf_dir,
        [(n, reg[n].spark_fn) for n in names],
        int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")),
    )
    out = {
        n: {
            "best_sec": min(r[n] for r in runs),
            "median_sec": sorted(r[n] for r in runs)[len(runs) // 2],
            "jobs": min(jr[n] for jr in job_runs),
            "jobs_spread": max(jr[n] for jr in job_runs)
            - min(jr[n] for jr in job_runs),
            "compiles": min(cr[n] for cr in compile_runs),
            "py4j_calls": min(pr[n] for pr in py4j_runs),
            "raw": [r[n] for r in runs],
        }
        for n in names
    }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
