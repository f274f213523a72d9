"""Per-query Spark jobs, stages, input rows and shuffle bytes, checked
against the oracles.

Usage: python tools/job_table.py <sf_dir> <query> [<query> ...]
Env:   SPARK_GRAFT_CPUS (session cores, default 32)

Runs each named registry query through ``oracle.compare`` against its
DuckDB oracle, inside its own job group, and prints one tab-separated
line per query: name, ok, Spark jobs, stages run (skipped ones left
out), input rows, shuffle write bytes, and the joins and file scans of
the returned frame's physical plan before AQE re-planning. The job,
stage, row and byte counts come from ``perfbench.probe.SparkProbe``
and include the compare's ``toPandas`` collect; the plan shape from
``perfbench.probe.plan_shape``. Run it on two checkouts to get a
before → after table; the counts are deterministic for a given fixture
directory.
Exits 1 when a query is unknown, has no oracle, or fails its oracle.
"""

from __future__ import annotations

import os
import sys


def main() -> int:
    if len(sys.argv) < 3:
        usage = [ln for ln in __doc__.splitlines() if ln.startswith("Usage:")]
        print(usage[0], file=sys.stderr)
        return 2
    sf_dir, names = sys.argv[1], sys.argv[2:]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)

    from datafusion_delta_queries_spark.operators import registry
    from datafusion_delta_queries_spark.oracle import compare, run_oracle
    from datafusion_delta_queries_spark.session import get_spark
    from perfbench.probe import SparkProbe, plan_shape

    spark = get_spark("dfdq-job-table")
    probe = SparkProbe(spark)
    queries, oracles = registry()
    failed = 0
    print("query\tok\tjobs\tstages\tinput_rows\tshuffle_write_bytes"
          "\tjoins\tscans")
    for name in names:
        if name not in queries or name not in oracles:
            print(f"{name}\tunknown" + "\t-" * 6)
            failed += 1
            continue
        expected = run_oracle(oracles[name], sf_dir)
        with probe.job_group(name) as gid:
            df = queries[name](spark, sf_dir)
            joins, scans = plan_shape(df)
            ok, msg = compare(df, expected)
        stats = probe.stage_stats(gid)
        print(
            f"{name}\t{ok}\t{stats['jobs']}\t{stats['stages']}"
            f"\t{stats['input_rows']}\t{stats['shuffle_write_bytes']}"
            f"\t{joins}\t{scans}"
        )
        if not ok:
            print(f"  {msg}", file=sys.stderr)
            failed += 1
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
