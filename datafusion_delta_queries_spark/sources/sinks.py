"""Write sinks: partitioned and bucketed table layout (SURVEY §2.3 row 1).

At 100 TB, layout is the cheapest optimization you'll ever buy:

- ``write_partitioned``: directory partitioning on low-cardinality
  columns → partition pruning eliminates whole directories at scan
  time (`PartitionFilters` in the plan).
- ``write_bucketed``: pre-shuffle the table ONCE at write time into N
  buckets on the join/agg key. Two tables bucketed the same way join
  with ZERO exchange — the shuffle was paid at ingest, not per query.
  This is the co-located join the scale brief calls for; the test
  suite asserts the exchange-free plan.

Bucketed tables require the session catalog (saveAsTable) — files
alone can't carry bucket metadata.

Rewrites of an existing table write their data once, to a sibling
``*.__staging__`` dir, and rename it in: ``staged_swap`` swaps the
whole table, ``overwrite_touched_partitions`` each touched partition
directory. Maintained state reaches them through
``sources.state.StateStore.rewrite``; the pruned MERGE / UPDATE /
DELETE executors in ``plans.merge_sql`` call them directly.
"""

from __future__ import annotations

import math
import os
import shutil
import urllib.parse

from pyspark.sql import DataFrame, SparkSession


def first_part_file(d: str) -> str | None:
    """The first parquet part file directly under ``d``, or None. One
    ``df.write`` produced every part, so they share one schema."""
    for name in sorted(os.listdir(d)):
        if not name.startswith(("_", ".")) and name.endswith(".parquet"):
            return os.path.join(d, name)
    return None


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], fmt: str = "parquet"
) -> None:
    """Directory-partitioned write; readers prune on partition_cols."""
    df.write.format(fmt).mode("overwrite").partitionBy(*partition_cols).save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
) -> None:
    """Bucketed (and optionally sorted) managed table on the join key."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str
) -> DataFrame:
    """Join two same-bucketed tables — no exchange on either side."""
    return spark.table(left_table).join(spark.table(right_table), on)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int | None = None,
    fmt: str = "parquet",
) -> None:
    """Range-clustered write: global range partition + in-file sort.

    ``repartitionByRange`` splits rows into contiguous, non-overlapping
    key ranges (one per output file); ``sortWithinPartitions`` orders
    rows inside each. The result is a poor-man's clustering index:
    parquet footers carry tight, pairwise-disjoint min/max stats on the
    cluster key, so a point or range predicate prunes to O(1) files /
    row groups instead of scanning all of them. This is the
    single-dimension analog of Z-ordering — at 100 TB, run it on the
    dominant filter column of each fact table at ingest (or compaction)
    time; tests assert the disjointness from the written footers.

    ``n_files`` defaults to Spark's shuffle partition count; the range
    boundaries come from reservoir sampling (Spark's RangePartitioner),
    so file sizes stay balanced even on skewed keys.
    """
    w = df.repartitionByRange(*([n_files] if n_files else []), *cluster_cols)
    w = w.sortWithinPartitions(*cluster_cols)
    w.write.format(fmt).mode("overwrite").save(path)


def _swap_in(staged: str, target: str, retired: str) -> None:
    """Rename ``target`` (when present) to ``retired``, then ``staged``
    to ``target``, creating parent directories as needed."""
    if os.path.exists(target):
        os.makedirs(os.path.dirname(retired), exist_ok=True)
        os.rename(target, retired)
    os.makedirs(os.path.dirname(target), exist_ok=True)
    os.rename(staged, target)


def _siblings(base: str) -> tuple[str, str]:
    """The staging and retired siblings of the table at ``base``, with
    any leftovers of a crashed earlier write removed."""
    staging, retired = base + ".__staging__", base + ".__retired__"
    for leftover in (staging, retired):
        shutil.rmtree(leftover, ignore_errors=True)
    return staging, retired


def staged_swap(target_path: str, write) -> None:
    """Replace the directory ``target_path`` with the one
    ``write(staging_path)`` writes: stage to a sibling directory, rename
    the target to a retired sibling, rename the staging dir in, then
    remove the retired copy. The one whole-table rewrite of the
    package.

    An in-place ``mode("overwrite")`` deletes the target before
    writing, so a mid-write failure (or executor loss) would lose the
    table with no retry path; staging means a failed write leaves the
    original untouched. It also removes the read-while-overwrite hazard
    — a frame that reads the target is fully written before the target
    moves — and, unlike copying the staged output back through a second
    Spark write, it writes the data once and keeps the staged file
    layout. The two renames are the remaining non-transactional window:
    a crash between them leaves the table parked at
    ``*.__retired__`` (recoverable by hand) rather than lost. A
    transaction-log table format closes this window with an atomic
    metadata commit."""
    base = target_path.rstrip("/")
    staging, retired = _siblings(base)
    write(staging)
    _swap_in(staging, base, retired)
    shutil.rmtree(retired, ignore_errors=True)


# Characters Hive/Spark percent-escape when writing a partition value
# into a directory name (ExternalCatalogUtils.escapePathName): ASCII
# controls plus the path/metadata specials below.
_PATH_ESCAPE = set(chr(c) for c in range(0x20)) | set('"#%\'*/:=?\\\x7f{[]^')


def _escape_path_name(value: str) -> str:
    """Escape a partition value's string form the way Spark names its
    directory; NULL and the empty string name the default partition."""
    if value is None or value == "":
        return "__HIVE_DEFAULT_PARTITION__"
    return "".join(
        f"%{ord(ch):02X}" if ch in _PATH_ESCAPE else ch for ch in value
    )


def _partition_dirs(
    base: str, partition_cols: list[str], values: DataFrame
) -> list[str]:
    """The directories Spark writes for the partition-value tuples in
    ``values`` (collected; callers keep it small). The values are cast
    to string inside the collected plan, the cast Spark names a
    partition directory with, in the session time zone: a collected
    TIMESTAMP is a Python datetime in the Python process's zone, and
    ``str`` of it formats fractions differently from Spark."""
    from pyspark.sql import functions as F

    names = values.select(
        *[F.col(c).cast("string") for c in partition_cols]
    ).collect()
    return [
        os.path.join(
            base,
            *[
                f"{c}={_escape_path_name(v)}"
                for c, v in zip(partition_cols, r)
            ],
        )
        for r in names
    ]


def _touched_stats(
    touched_df: DataFrame, partition_cols: list[str]
) -> tuple[int, int]:
    """(n_rows, n_null_rows) of the touched-partition frame in ONE
    distributed aggregate — the driver receives a single summary row,
    never the partition list itself. Callers that forbid NULL
    partition values raise on ``n_null_rows``; an all-zero pair means
    an empty batch."""
    from pyspark.sql import functions as F

    null_pred = " OR ".join(f"{c} IS NULL" for c in partition_cols)
    row = touched_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.expr(f"CASE WHEN {null_pred} THEN 1 END")).alias(
            "n_null"
        ),
    ).first()
    return int(row["n"]), int(row["n_null"])


def prune_to_touched(
    df: DataFrame,
    touched_df: DataFrame,
    partition_cols: list[str],
    left_prefix: str = "",
) -> DataFrame:
    """Restrict ``df`` to the partition-value TUPLES in ``touched_df``
    via a broadcast left-semi join — the de-drivered replacement for a
    collected ``isin`` list: Catalyst plans a
    ``dynamicpruningexpression`` on the partitioned file scan, so only
    the touched directories are opened at runtime and the touched set
    never materializes on the driver. Tuple semantics match the old
    OR-of-ANDs filter (per-column ``isin`` would be the bounding BOX —
    touching ('eu','d1') and ('us','d2') must not drag ('eu','d2')
    into the rewrite); NULL tuple values never match, as before."""
    from pyspark.sql import functions as F

    t = touched_df.select(
        *[F.col(c).alias(f"__tp_{c}") for c in partition_cols]
    ).distinct()
    cond = None
    for c in partition_cols:
        e = F.col(f"{left_prefix}{c}") == F.col(f"__tp_{c}")
        cond = e if cond is None else cond & e
    return df.join(F.broadcast(t), cond, "left_semi")


def _partition_leaves(root: str, depth: int) -> list[str]:
    """Relative paths of the ``col=value`` directories ``depth`` levels
    under ``root`` — the partitions one partitioned write produced."""
    level = [""]
    for _ in range(depth):
        level = [
            os.path.join(rel, name)
            for rel in level
            for name in sorted(os.listdir(os.path.join(root, rel)))
            if "=" in name and os.path.isdir(os.path.join(root, rel, name))
        ]
    return level


def overwrite_touched_partitions(
    spark: SparkSession,
    target_path: str,
    merged: DataFrame,
    partition_cols: list[str],
    touched_df: DataFrame,
    fmt: str = "parquet",
) -> None:
    """Commit ``merged`` — ALL surviving rows of exactly the
    partition-value tuples in ``touched_df`` — partition by partition.
    The slice is written ONCE, partitioned, to a sibling staging dir
    (the write never scans the directories it replaces, and a failure
    while computing the merge leaves the table untouched); each staged
    partition directory is then renamed in, the way ``staged_swap``
    swaps a whole table. Untouched partition directories are never
    opened for write; touched partitions the batch emptied are removed.
    The shared write tail of every partition-pruned mutation
    (``StateStore.rewrite`` of partitioned state, the bucketed
    ``Scd2Table.apply`` among them, and the pruned MERGE / UPDATE /
    DELETE / INSERT OVERWRITE executors in ``plans.merge_sql``).
    Partition values round-trip through directory names: the emptied
    directories are named the way Spark names them on write
    (``_partition_dirs``).

    Driver-state contract: ``touched_df`` stays distributed — the only
    partition tuples collected are the EMPTIED set (touched minus
    staged, a DataFrame anti-diff), because deleting those directories
    is per-path driver filesystem work anyway, as is renaming the
    staged ones. A 100 TB table with millions of partitions costs the
    driver O(#rewritten), not O(#partitions).

    Failure window: the renames commit partition by partition, so a
    crash mid-commit can leave SOME touched partitions new and others
    old, with a replaced partition parked under ``*.__retired__``
    (untouched partitions are never at risk). That per-partition
    window is inherent to file-level tables; a lakehouse format's
    MERGE closes it with one atomic metadata commit."""
    base = target_path.rstrip("/")
    staging, retired = _siblings(base)
    merged.write.format(fmt).mode("overwrite").partitionBy(
        *partition_cols
    ).save(staging)
    # Partitions the batch emptied have no staged directory. Computed
    # as a distributed anti-diff against the staged copy (read with the
    # known schema: no inference job, and an empty slice reads as no
    # rows); only this final rm list reaches the driver. A touched tuple
    # with a NULL never matched the pruned read, so it empties nothing.
    staged = spark.read.format(fmt).schema(merged.schema).load(staging)
    emptied = _partition_dirs(
        base,
        partition_cols,
        touched_df.select(*partition_cols)
        .dropna()
        .distinct()
        .exceptAll(staged.select(*partition_cols).distinct()),
    )
    for rel in _partition_leaves(staging, len(partition_cols)):
        _swap_in(
            os.path.join(staging, rel),
            os.path.join(base, rel),
            os.path.join(retired, rel),
        )
    for d in emptied:
        if os.path.isdir(d):
            shutil.rmtree(d)
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(retired, ignore_errors=True)


def compact(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
) -> int:
    """Small-files compaction: rewrite a directory of many small files
    into ~``target_file_bytes`` files. Returns the output file count.

    The maintenance job every streaming/incremental ingest needs: each
    micro-batch appends a few small files, and a month later the table
    is a million 2 MB files whose open/footer costs dominate every
    scan. Sizing uses the source files' real on-disk bytes (metadata
    only — no data pass); the rewrite itself is one round-robin
    repartition, which also rebalances skewed input files. Run it per
    partition directory on partitioned tables so partition pruning
    metadata survives unchanged.
    """
    df = spark.read.format(fmt).load(src_path)
    total = 0
    for uri in df.inputFiles():
        # inputFiles() returns URIs (file:/path, possibly percent-encoded).
        # A size we can't resolve MUST fail loudly: silently skipping it
        # would undercount `total` and compact an arbitrarily large table
        # into one giant file — the opposite of this job's purpose.
        parsed = urllib.parse.urlparse(uri)
        if parsed.scheme not in ("", "file"):
            raise ValueError(
                f"compact() sizes files via the local filesystem; cannot "
                f"stat non-local input {uri!r} (scheme {parsed.scheme!r}). "
                "For object stores, size via the Hadoop FileSystem API."
            )
        local = urllib.parse.unquote(parsed.path or uri)
        if not os.path.exists(local):
            raise FileNotFoundError(
                f"compact() could not stat input file {uri!r} "
                f"(resolved to {local!r}); refusing to size the rewrite "
                "from an incomplete byte count"
            )
        total += os.path.getsize(local)
    n_files = max(1, math.ceil(total / target_file_bytes))
    df.repartition(n_files).write.format(fmt).mode("overwrite").save(dst_path)
    return n_files
