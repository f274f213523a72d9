"""Where key-hash sets stop paying: a 3-tier cascade refresh, both ways.

Usage: python tools/key_set_crossover.py <work_dir> <groups> [<groups> ...]
Env:   SPARK_GRAFT_CPUS (session cores, default 32)

Writes a synthetic events table of 200,000 fine (hour, type) groups
under ``work_dir``. For each ``groups`` count it builds a CDF batch
that deletes one row of that many groups and inserts one new row into
each, so the batch holds about twice as many distinct key tuples as
groups (a delete and an insert of one group differ in their retract
flag). It then times ``ContinuousRollupCascade.refresh_signed`` over a
freshly initialized cascade four times with key-hash sets (the cap
lifted) and four times with key frames (``KEY_SET_CAP`` set to 0),
alternating which goes first, and prints one tab-separated line per
side: groups, path, median wall seconds, the walls, and the Spark jobs
of the first run. ``sources.state.KEY_SET_CAP`` is set from where the
walls cross.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

SQL = (
    "SELECT date_trunc('hour', ts) AS bucket_h, event_type, "
    "count(*) AS n_events, "
    "sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents, "
    "min(value) AS min_value, avg(value) AS mean_value "
    "FROM events GROUP BY date_trunc('hour', ts), event_type"
)
HOURS, TYPES = 50_000, 4
REPS = 4  # even, so each path runs first equally often


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    work, counts = sys.argv[1], [int(n) for n in sys.argv[2:]]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)

    from pyspark.sql import functions as F

    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousRollupCascade,
    )
    from datafusion_delta_queries_spark.session import get_spark
    from datafusion_delta_queries_spark.sources import state

    spark = get_spark("dfdq-key-set-crossover")
    sc = spark.sparkContext
    spark.range(HOURS * TYPES * 2).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(
            F.lit(1_500_000_000) + F.col("id") % HOURS * 3600
        ).alias("ts"),
        F.concat(
            F.lit("t"), (F.floor(F.col("id") / HOURS) % TYPES).cast("string")
        ).alias("event_type"),
        (F.col("id") * 7919 % 1000 / 10.0).alias("value"),
    ).write.parquet(os.path.join(work, "base"))
    base = spark.read.parquet(os.path.join(work, "base"))
    cap = state.KEY_SET_CAP
    caps = {"hashes": sys.maxsize, "frames": 0}
    print("groups\tpath\tmedian_s\twalls_s\tjobs")
    for n in counts:
        gone = base.where(f"event_id < {n}")
        new = gone.withColumn("event_id", F.col("event_id") + 10**9)
        new = new.withColumn("value", F.col("value") + 0.5)
        gone.withColumn("_change_type", F.lit("delete")).unionByName(
            new.withColumn("_change_type", F.lit("insert"))
        ).write.parquet(os.path.join(work, f"batch{n}"))
        base.where(f"event_id >= {n}").unionByName(new).write.parquet(
            os.path.join(work, f"post{n}")
        )
        runs = {"hashes": [], "frames": []}
        for rep in range(REPS):
            order = ("hashes", "frames") if rep % 2 == 0 else ("frames", "hashes")
            for path in order:
                state.KEY_SET_CAP = caps[path]
                view = ContinuousRollupCascade(
                    spark, os.path.join(work, f"c{n}-{path}-{rep}"), SQL,
                    fine_key="bucket_h", coarse_key="bucket_d",
                    coarse_expr="date_trunc('day', bucket_h)",
                    more_levels=[("bucket_m", "date_trunc('month', bucket_d)")],
                )
                view.initialize(base)
                batch = spark.read.parquet(os.path.join(work, f"batch{n}"))
                post = spark.read.parquet(os.path.join(work, f"post{n}"))
                group = f"crossover-{n}-{path}-{rep}"
                sc.setJobGroup(group, group)
                t0 = time.perf_counter()
                view.refresh_signed(batch, base_new_df=post)
                wall = time.perf_counter() - t0
                sc.setJobGroup("", "")
                jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                runs[path].append((wall, jobs))
        state.KEY_SET_CAP = cap
        for path, rs in runs.items():
            walls = [round(w, 2) for w, _ in rs]
            median = statistics.median(w for w, _ in rs)
            print(f"{n}\t{path}\t{median:.2f}\t{walls}\t{rs[0][1]}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
