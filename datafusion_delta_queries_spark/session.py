"""SparkSession construction.

Defaults are chosen for the driver harness (local[$SPARK_GRAFT_CPUS],
single JVM) but every knob is the one you'd set on a real cluster too:

- AQE on (runtime re-plan: coalesce shuffle partitions, skew-join split,
  dynamic broadcast) — the primary defense for 100 TB inputs whose
  statistics local planning can't know.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster you'd size to ~2-3x total executor cores or let AQE coalesce.
- UTC session timezone so timestamp semantics match the DuckDB oracle
  (and any other engine) exactly.
- Arrow enabled: every pandas_udf / toPandas crossing is Arrow-batched.
"""

from __future__ import annotations

import os
import sys
import tempfile

from pyspark.sql import SparkSession


def default_cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except ValueError:
        return 32


def get_spark(app_name: str = "dfdq-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the session.

    On a real cluster you would drop ``.master(...)`` and submit with
    ``spark-submit``; everything else carries over unchanged.
    """
    n = cpus or default_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE (r17): a global spark.sql.join.preferSortMergeJoin=false
        # + AQE maxShuffledHashJoinLocalMapThreshold=64m was measured
        # BOTH ways: it cut the wedge-join family 15-25% but more than
        # doubled continuous_rollup_cascade3 (6.9 -> 16.1 s quiet solo
        # min). Shuffled-hash is therefore opted into PER JOIN via
        # .hint("shuffle_hash") at the measured winners instead of
        # globally — the planner default stays sort-merge.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Managed tables (bucketed writes) go to a scratch warehouse,
        # not ./spark-warehouse under the repo. Static conf — must be
        # set at build time.
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "dfdq-warehouse"),
        )
        # Parquet timestamps in the fixtures are NTZ (no UTC adjustment);
        # read them as TIMESTAMP_NTZ so values are timezone-free like the
        # oracle's.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # events.parquet stores TIMESTAMP(NANOS); read as long then
        # convert (see catalog.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    # Deployment overrides: SPARK_GRAFT_SPARK_CONF="k=v;k2=v2" lets a
    # cluster submit (or an A/B measurement) adjust any conf without
    # code edits — the local defaults above stay the benched
    # configuration when the variable is unset.
    extra = os.environ.get("SPARK_GRAFT_SPARK_CONF", "")
    requested: dict[str, str] = {}
    for pair in extra.split(";"):
        if "=" in pair:
            k, v = pair.split("=", 1)
            requested[k.strip()] = v.strip()
    if requested:
        builder = builder.config(map=requested)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # getOrCreate on an existing session applies only runtime SQL confs;
    # say so instead of letting a caller measure a config it did not get.
    for k, v in requested.items():
        got = spark.conf.get(k, None)
        if got != v:
            print(
                f"SPARK_GRAFT_SPARK_CONF: {k}={v} did not take effect "
                f"(session has {got!r}; static confs need a new session)",
                file=sys.stderr,
            )
    return spark
