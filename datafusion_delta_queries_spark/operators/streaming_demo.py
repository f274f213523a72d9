"""Driver-runnable Structured Streaming queries.

Each entry builds a real ``readStream`` plan over the fixture parquet,
drains it with Trigger.AvailableNow into a memory sink, and returns
the materialized result — so the driver exercises Spark's incremental
engine end-to-end and still gets a batch DataFrame to oracle-check.

The fixture file is a single parquet, so the drain is one micro-batch:
no in-flight watermark drops, and append-mode emission is exactly
"windows whose end the final watermark passed" — replicated in the
DuckDB oracle with a max(ts)-delay cutoff.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, table_path
from ..plans.nodes import Filter, Projection, Scan
from ..streaming import (
    compile_streaming,
    interval_join,
    run_stream_to_table,
    watermarked_session_stats,
    watermarked_tumbling_counts,
)

# Event-time streaming is session-tz-sensitive (the NTZ fixture is cast
# to TIMESTAMP for watermarks; window bucketing and date_format read
# the session timezone), and the driver calls these builders with its
# own — possibly non-UTC — vanilla session. The pins are applied
# SCOPED: set for the duration of the build+drain, restored after, so
# builders have no lasting session side effects. All tz-sensitive
# output formatting happens inside the streamed plan, i.e. under the
# pinned timezone, never lazily after restore.
_EVENT_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


@contextmanager
def _pinned_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed events fixture with the nanos→NTZ normalization.

    Callers must hold ``_pinned_conf(spark, _EVENT_CONF)`` across the
    build AND the drain."""
    path = table_path(sf_dir, "events")
    raw_schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(raw_schema).parquet(path + "*")
    if dict(stream.dtypes)["ts"] == "bigint":  # TIMESTAMP(NANOS) fixture
        stream = stream.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    return stream

_IR = Projection(
    ["o_orderkey", "o_custkey", "o_orderpriority", "round(o_totalprice, 2) AS total"],
    Filter("o_totalprice > 300000", Scan("orders")),
)


def q_streaming_filter_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless IR compiled to a stream — Spark's IncrementalExecution
    is the PosDelta rule for π/σ (SURVEY §0)."""
    path = table_path(sf_dir, "orders")
    schema = spark.read.parquet(path).schema
    # Glob form: the file-stream source requires a directory basePath;
    # a glob leaf makes basePath the parent dir while matching the file.
    stream = compile_streaming(
        _IR, spark, source_dirs={"orders": path + "*"}, schemas={"orders": schema}
    )
    return run_stream_to_table(stream)


ORACLE_STREAMING_FILTER = """
SELECT o_orderkey, o_custkey, o_orderpriority, round(o_totalprice, 2) AS total
FROM orders WHERE o_totalprice > 300000
"""


def q_streaming_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window counts over a streamed events table.

    UTC is pinned at runtime (window bucketing happens in session-local
    time after the NTZ→LTZ cast; a non-UTC driver session would shift
    bucket boundaries). Window bounds are formatted as strings so the
    comparison is timezone-free.
    """
    with _pinned_conf(spark, _EVENT_CONF):
        stream = _events_stream(spark, sf_dir)
        agg = watermarked_tumbling_counts(
            stream, delay="1 hour", width="10 minutes"
        ).select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
            "event_type",
            "n_events",
        )
        return run_stream_to_table(agg, output_mode="append")


ORACLE_STREAMING_WINDOW = """
WITH m AS (SELECT max(ts) AS mx FROM events),
w AS (
  SELECT time_bucket(INTERVAL '10 minutes', ts) AS ws, event_type,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(ws + INTERVAL '10 minutes', '%Y-%m-%d %H:%M:%S') AS window_end,
       event_type, n_events
FROM w, m
WHERE ws + INTERVAL '10 minutes' <= mx - INTERVAL '1 hour'
"""


def q_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked session windows (30-min gap) per user over a
    streamed events table.

    Append-mode emission: a session [first_ts, last_ts + gap) is final
    once the watermark (max ts − 1 h over the drained input) passes its
    end — the oracle replays the same gap/cutoff rules with the
    lag+cumsum idiom. Bounds formatted as strings (tz-free compare).
    """
    with _pinned_conf(spark, _EVENT_CONF):
        stream = _events_stream(spark, sf_dir)
        sess = watermarked_session_stats(
            stream, delay="1 hour", gap="30 minutes"
        ).select(
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
        return run_stream_to_table(sess, output_mode="append")


ORACLE_STREAMING_SESSION = """
WITH m AS (SELECT max(ts) AS mx FROM events),
gapped AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch(ts) - epoch(lag(ts, 1) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sess AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM gapped
), agg AS (
  SELECT user_id,
         min(ts) AS session_start,
         max(ts) + INTERVAL '30 minutes' AS session_end,
         count(*) AS n_events,
         round(sum(value), 2) AS session_value
  FROM sess GROUP BY user_id, session_id
)
SELECT strftime(session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(session_end, '%Y-%m-%d %H:%M:%S') AS session_end,
       user_id, n_events, session_value
FROM agg, m
WHERE session_end <= mx - INTERVAL '1 hour'
"""


def q_streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: first-seen (user_id, event_type) pairs.

    ``dropDuplicates`` on a stream is Spark's stateful dedup operator —
    each key emits exactly once across all micro-batches. Projecting
    only the key columns makes the result a deterministic set (which
    physical row won fires no tiebreak). Key state is unbounded by
    design here (keys dedup forever); see
    ``q_streaming_dedup_watermarked`` for the bounded-state variant.
    """
    with _pinned_conf(spark, _EVENT_CONF):
        stream = _events_stream(spark, sf_dir)
        dedup = stream.select("user_id", "event_type").dropDuplicates(
            ["user_id", "event_type"]
        )
        return run_stream_to_table(dedup, output_mode="append")


ORACLE_STREAMING_DEDUP = """
SELECT DISTINCT user_id, event_type FROM events
"""


def q_streaming_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup: ``dropDuplicatesWithinWatermark``.

    Unlike plain ``dropDuplicates`` (key state lives forever), the
    watermark evicts a key's state once event time moves past the
    delay, so state is bounded by keys active within the last hour —
    the production-shaped dedup for an infinite stream. The contract
    weakens accordingly: duplicates separated by more than the delay
    may re-emit. The fixture drains in a single AvailableNow micro-batch
    (watermark only advances after it), so every key emits exactly once
    and the result is the deterministic key set — same oracle as the
    unbounded variant, while the physical plan carries the
    DeduplicateWithinWatermark operator with its state eviction
    (pinned by tests/test_stateful_streaming.py).
    """
    with _pinned_conf(spark, _EVENT_CONF):
        dedup = _dedup_watermarked_plan(spark, sf_dir)
        return run_stream_to_table(dedup, output_mode="append")


def _dedup_watermarked_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming plan of q_streaming_dedup_watermarked, pre-drain
    (exposed so tests can pin the operator in the plan)."""
    stream = _events_stream(spark, sf_dir)
    src = stream.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
        "ts", "1 hour"
    )
    return src.dropDuplicatesWithinWatermark(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )


ORACLE_STREAMING_DEDUP_WM = ORACLE_STREAMING_DEDUP


def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join: big orders ⋈ their lineitems shipped within
    120 days.

    Both sides are live streams; the equi-key + event-time range lets
    the watermarks evict join state (SURVEY §2.1 #6: Spark's
    stream-stream join IS the reference's 3-way join delta with
    managed, bounded state). One micro-batch drain emits every match.
    """
    with _pinned_conf(spark, {"spark.sql.session.timeZone": "UTC"}):
        o_path = table_path(sf_dir, "orders")
        l_path = table_path(sf_dir, "lineitem")
        o_schema = spark.read.parquet(o_path).schema
        l_schema = spark.read.parquet(l_path).schema
        orders = (
            spark.readStream.schema(o_schema)
            .parquet(o_path + "*")
            .where(F.col("o_totalprice") > 450000)
        )
        lineitem = spark.readStream.schema(l_schema).parquet(l_path + "*")
        cond = (
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") >= F.col("o_orderdate"))
            & (F.col("l_shipdate") <= F.col("o_orderdate") + F.expr("INTERVAL 120 DAY"))
        )
        joined = interval_join(
            orders, lineitem, "o_orderdate", "l_shipdate", cond,
            left_delay="1 day", right_delay="1 day",
        ).select(
            "o_orderkey",
            "l_linenumber",
            "o_orderpriority",
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue"),
        )
        return run_stream_to_table(joined, output_mode="append")


ORACLE_STREAMING_INTERVAL_JOIN = """
SELECT o_orderkey, l_linenumber, o_orderpriority,
       strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
       round(l_extendedprice * (1 - l_discount), 2) AS revenue
FROM orders JOIN lineitem
  ON l_orderkey = o_orderkey
 AND l_shipdate >= o_orderdate
 AND l_shipdate <= o_orderdate + INTERVAL 120 DAY
WHERE o_totalprice > 450000
"""


def q_streaming_stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running (count, value-sum) state machine over the streamed events
    table.

    The reference declines every stateful op (optimizer_rules/
    mod.rs:187); Spark's arbitrary-stateful API is the idiomatic path
    past that — per-key state lives in the (RocksDB-backed, in
    production) state store and each micro-batch touches only keys
    with new data. The fixture drains in one AvailableNow batch, so
    update-mode emission is exactly one final row per user — which the
    batch oracle reproduces. Sums are rounded portably (floor-half-up)
    on both sides; pandas' pairwise summation and DuckDB's sequential
    sum agree far inside the 2-decimal rounding.
    """
    from ..functions.text import round_portable
    from ..streaming.stateful import running_user_stats

    with _pinned_conf(spark, _EVENT_CONF):
        stream = _events_stream(spark, sf_dir)
        out = running_user_stats(stream)
        df = run_stream_to_table(out, output_mode="update")
        return df.selectExpr(
            "user_id",
            "CAST(n_events AS BIGINT) AS n_events",
            f"{round_portable('value_sum', 2)} AS value_sum",
        )


ORACLE_STREAMING_STATEFUL = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(floor(sum(value) * 1e2 + 0.5) AS DOUBLE) / 1e2 AS value_sum
FROM events GROUP BY user_id
"""


def q_streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the order stream joins a static,
    broadcast customer dimension.

    The production pattern for enriching an event stream with slowly-
    changing reference data: the static side is read once per
    micro-batch planning cycle and broadcast, the stream side keeps NO
    join state (unlike stream-stream joins) — so the join adds zero
    watermark/state management and scales with the stream alone. No
    event-time columns involved, so no timezone pin is needed.
    """
    o_path = table_path(sf_dir, "orders")
    o_schema = spark.read.parquet(o_path).schema
    orders = (
        spark.readStream.schema(o_schema)
        .parquet(o_path + "*")
        .where(F.col("o_totalprice") > 400000)
    )
    cust = F.broadcast(
        spark.read.parquet(table_path(sf_dir, "customer")).select(
            "c_custkey", "c_name", "c_mktsegment"
        )
    )
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey",
        "c_name",
        "c_mktsegment",
        F.round("o_totalprice", 2).alias("total"),
    )
    return run_stream_to_table(joined, output_mode="append")


ORACLE_STREAMING_STATIC_JOIN = """
SELECT o_orderkey, c_name, c_mktsegment, round(o_totalprice, 2) AS total
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_totalprice > 400000
"""


def q_streaming_outer_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermark-driven padding:
    big orders ⟕ their lineitems shipped within 120 days — orders
    that never see a matching lineitem emit NULL-padded, but only
    once the joint watermark PROVES no future lineitem can match
    (their join state expired). This is the streaming realization of
    the outer-join case the positive delta rewrite refuses and the
    reference silently mis-computes (mod.rs:126): padding must be
    withheld until late matches are impossible, or a late row would
    need a retraction.

    Mechanics the test rig makes explicit (production streams get
    them for free from continuous arrivals): each side's landing dir
    is staged as [data file, sentinel 2035, sentinel 2036] and read
    with ``maxFilesPerTrigger=1``. Expired state flushes during a
    batch using the watermark the PREVIOUS batch established, so two
    sentinel batches are needed: the first advances the watermark
    past every real event time, the second's batch then flushes ALL
    real left state under it — the drained table equals the batch
    LEFT JOIN the oracle runs (measured with one sentinel, the six
    newest unmatched orders stay withheld). Sentinel keys are
    negative and filtered from the result."""
    import os
    import shutil
    import tempfile
    import time

    # 8 shuffle partitions → 8 state-store partitions: the join commits
    # 4 state stores per partition per micro-batch, and this scenario
    # runs 3 file batches + the trailing flush — at the fixture's state
    # volume the store-commit fan-out IS the wall clock, so size the
    # state width to the stream (a real deployment sizes it to state
    # volume the same way)
    with _pinned_conf(
        spark,
        {
            "spark.sql.session.timeZone": "UTC",
            "spark.sql.shuffle.partitions": "8",
        },
    ):
        stage = tempfile.mkdtemp(prefix="dfdq-outer-join-")
        o_dir, l_dir = f"{stage}/orders", f"{stage}/lineitem"

        # FileStreamSource orders files by modification time, so the
        # three staged batches per side need strictly increasing
        # mtimes. Stamp them EXPLICITLY (os.utime, 2 s apart, anchored
        # in the past) instead of sleeping between writes: the prior
        # version paid two 1.1 s sleeps per run purely to outwait
        # coarse-mtime filesystems — measurement overhead, not query
        # cost (guide §1: time the computation, not the rig).
        stamped: set[str] = set()

        def _stamp_batch(d: str, t: float) -> None:
            for f in os.listdir(d):
                if f.startswith(("_", ".")):
                    continue  # metadata; the file source ignores it
                p = os.path.join(d, f)
                if p not in stamped:
                    os.utime(p, (t, t))
                    stamped.add(p)

        t0 = time.time() - 60.0
        # stage only the columns the join reads: the landing copy and
        # the join state carry 4+5 columns, not the full tables
        orders_b = (
            spark.read.parquet(table_path(sf_dir, "orders"))
            .where(F.col("o_totalprice") > 450000)
            .select(
                "o_orderkey", "o_orderdate", "o_orderpriority",
                "o_totalprice",
            )
        )
        # semi-reduce the lineitem feed to the filtered orders' keys —
        # the standard stream-side reduction when the left stream is a
        # selective subset (join_semi_reduction's streaming form): a
        # lineitem of a non-qualifying order can never match and never
        # pads, so dropping it at the landing zone changes nothing and
        # cuts the join state ~40×
        line_b = (
            spark.read.parquet(table_path(sf_dir, "lineitem"))
            .select(
                "l_orderkey", "l_linenumber", "l_shipdate",
                "l_extendedprice", "l_discount",
            )
            .join(
                F.broadcast(orders_b.select("o_orderkey")),
                F.col("l_orderkey") == F.col("o_orderkey"),
                "left_semi",
            )
        )
        orders_b.coalesce(1).write.parquet(o_dir)
        line_b.coalesce(1).write.parquet(l_dir)
        _stamp_batch(o_dir, t0)
        _stamp_batch(l_dir, t0)
        o_sent = (
            orders_b.orderBy("o_orderkey")
            .limit(1)
            .selectExpr(
                *[
                    {
                        "o_orderkey": "CAST(-1 AS BIGINT) AS o_orderkey",
                        "o_orderdate": "TIMESTAMP_NTZ'2035-01-01 00:00:00' AS o_orderdate",
                        "o_totalprice": "CAST(9e6 AS DOUBLE) AS o_totalprice",
                    }.get(c, c)
                    for c in orders_b.columns
                ]
            )
        )
        l_sent = (
            line_b.orderBy("l_orderkey", "l_linenumber")
            .limit(1)
            .selectExpr(
                *[
                    {
                        "l_orderkey": "CAST(-1 AS BIGINT) AS l_orderkey",
                        "l_shipdate": "TIMESTAMP_NTZ'2035-01-01 00:00:00' AS l_shipdate",
                    }.get(c, c)
                    for c in line_b.columns
                ]
            )
        )
        o_sent.coalesce(1).write.mode("append").parquet(o_dir)
        l_sent.coalesce(1).write.mode("append").parquet(l_dir)
        _stamp_batch(o_dir, t0 + 2.0)
        _stamp_batch(l_dir, t0 + 2.0)
        o_sent.selectExpr(
            *[
                "TIMESTAMP_NTZ'2036-01-01 00:00:00' AS o_orderdate"
                if c == "o_orderdate" else c
                for c in o_sent.columns
            ]
        ).coalesce(1).write.mode("append").parquet(o_dir)
        l_sent.selectExpr(
            *[
                "TIMESTAMP_NTZ'2036-01-01 00:00:00' AS l_shipdate" if c == "l_shipdate" else c
                for c in l_sent.columns
            ]
        ).coalesce(1).write.mode("append").parquet(l_dir)
        _stamp_batch(o_dir, t0 + 4.0)
        _stamp_batch(l_dir, t0 + 4.0)

        orders = (
            spark.readStream.schema(orders_b.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(o_dir)
        )
        lineitem = (
            spark.readStream.schema(line_b.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(l_dir)
        )
        cond = (
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") >= F.col("o_orderdate"))
            & (
                F.col("l_shipdate")
                <= F.col("o_orderdate") + F.expr("INTERVAL 120 DAY")
            )
        )
        joined = interval_join(
            orders, lineitem, "o_orderdate", "l_shipdate", cond,
            left_delay="1 day", right_delay="1 day", how="left_outer",
        ).select(
            "o_orderkey",
            "l_linenumber",
            "o_orderpriority",
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
            F.expr(
                "CAST(floor(l_extendedprice * (1 - l_discount) * 100"
                " + 0.5) AS BIGINT)"
            ).alias("revenue_cents"),
        )
        # The sentinel filter runs on the DRAINED batch, never inside
        # the streaming plan: a `o_orderkey >= 0` there is pushed
        # BELOW the EventTimeWatermark node (and constraint
        # propagation infers `l_orderkey >= 0` across the equi key,
        # filtering the right side too), so the sentinels would be
        # dropped before the watermark ever observes them and the
        # trailing unmatched orders would stay withheld — measured:
        # 147 vs 153 rows with the in-plan filter.
        out = run_stream_to_table(joined, output_mode="append").where(
            "o_orderkey >= 0"
        )
        # the memory sink holds the drained rows; the staged inputs
        # can be deleted as soon as the drain terminates
        shutil.rmtree(stage, ignore_errors=True)
        return out


ORACLE_STREAMING_OUTER_INTERVAL_JOIN = """
SELECT o_orderkey, l_linenumber, o_orderpriority,
       strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
       CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
            AS BIGINT) AS revenue_cents
FROM orders LEFT JOIN lineitem
  ON l_orderkey = o_orderkey
 AND l_shipdate >= o_orderdate
 AND l_shipdate <= o_orderdate + INTERVAL 120 DAY
WHERE o_totalprice > 450000
"""


def q_streaming_auto_loader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-Loader-style continuous file ingest: a CHECKPOINTED file
    stream drains a landing directory into the versioned CDF table
    exactly once — across restarts and late-arriving files (the
    streaming sibling of ``sql_copy_into``'s batch contract; Databricks
    ships this as cloudFiles/Auto Loader). Lifecycle exercised:

    1. Stage 4 landing files; one ``availableNow`` drain with
       ``maxFilesPerTrigger=2`` commits them through ``foreachBatch``
       as CDF insert versions, each behind the table's
       ``StateStore.apply_once`` replay guard (at-least-once
       redelivery of a batch can never double-commit).
    2. Two LATE files land; a RESTART on the same checkpoint streams
       ONLY those (the file-source checkpoint is the ingest ledger —
       O(#files) state, like COPY INTO's).
    3. A third restart finds nothing new and commits nothing.

    The returned frame summarizes the final table state; the oracle is
    plain ``orders``, so a green row certifies no row was lost or
    double-loaded through the streamed path. At 100 TB: the landing
    listing is the only driver-side work per trigger, commits are
    one write per micro-batch, and restart cost is checkpoint-read."""
    import os

    from ..sources.state import StateStore
    from ..sources.versioned import CdfVersionedTable
    from .signed_queries import _cagg_state_dir

    ws = _cagg_state_dir()
    landing = os.path.join(ws, "landing")
    ckpt = os.path.join(ws, "ckpt")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    orders.where("o_orderkey % 4 != 3").repartition(4).write.parquet(
        landing
    )
    vt = CdfVersionedTable(os.path.join(ws, "orders_stream"))
    commit_once = StateStore(spark, vt.root).foreach_batch(
        ckpt,
        lambda b: vt.write_version(
            b.withColumn("_change_type", F.lit("insert"))
        ),
    )
    schema = spark.read.parquet(landing).schema

    def drain() -> None:
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(landing)
            .writeStream.foreachBatch(commit_once)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    drain()
    v1 = len(vt.versions())
    assert v1 >= 2, vt.versions()  # maxFilesPerTrigger split the drain

    # late files land in the SAME directory; restart streams ONLY them
    orders.where("o_orderkey % 4 = 3").repartition(2).write.mode(
        "append"
    ).parquet(landing)
    drain()
    v2 = len(vt.versions())
    assert v2 > v1, (v1, vt.versions())

    drain()  # nothing new: no commit (exactly-once across restarts)
    assert len(vt.versions()) == v2, vt.versions()

    return (
        vt.snapshot(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("cents"),
        )
    )


ORACLE_STREAMING_AUTO_LOADER = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders GROUP BY o_orderstatus
"""


def queries_and_oracles():
    queries = {
        "streaming_filter_projection": q_streaming_filter_projection,
        "streaming_static_join": q_streaming_static_join,
        "streaming_outer_interval_join": q_streaming_outer_interval_join,
        "streaming_tumbling_window": q_streaming_tumbling_window,
        "streaming_session_window": q_streaming_session_window,
        "streaming_dedup_keys": q_streaming_dedup_keys,
        "streaming_dedup_watermarked": q_streaming_dedup_watermarked,
        "streaming_interval_join": q_streaming_interval_join,
        "streaming_stateful_running": q_streaming_stateful_running,
        "streaming_auto_loader": q_streaming_auto_loader,
    }
    oracles = {
        "streaming_filter_projection": ORACLE_STREAMING_FILTER,
        "streaming_static_join": ORACLE_STREAMING_STATIC_JOIN,
        "streaming_outer_interval_join": ORACLE_STREAMING_OUTER_INTERVAL_JOIN,
        "streaming_tumbling_window": ORACLE_STREAMING_WINDOW,
        "streaming_session_window": ORACLE_STREAMING_SESSION,
        "streaming_dedup_keys": ORACLE_STREAMING_DEDUP,
        "streaming_dedup_watermarked": ORACLE_STREAMING_DEDUP_WM,
        "streaming_interval_join": ORACLE_STREAMING_INTERVAL_JOIN,
        "streaming_stateful_running": ORACLE_STREAMING_STATEFUL,
        "streaming_auto_loader": ORACLE_STREAMING_AUTO_LOADER,
    }
    return queries, oracles
