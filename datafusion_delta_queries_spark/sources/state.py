"""One store for every maintained state table.

Incremental maintenance only pays off when the previous result is kept
where the next refresh can read it. Every maintainer in ``operators/``
(continuous aggregates, top-k, rollup cascades, HLL and CMS sketches,
SCD2 histories, the streamed ingest ledger and the signed index
maintainers' persisted state) keeps that result in a ``StateStore``,
which owns the on-disk conventions of a state table at ``path``:

- ``<path>``: the parquet table, directory-partitioned on
  ``partition_cols`` when given;
- ``<path>.__applied__/<ns>/<batch id>``: ``apply_once`` replay
  markers, one namespace per stream (``stream_ns``);
- ``<path>.__retention__``: retention predicates a maintainer records
  (one SQL predicate per line);
- ``<path>.__staging__`` and ``<path>.__retired__``: the staged-swap
  siblings of ``sinks.staged_swap`` and
  ``sinks.overwrite_touched_partitions``.

Reads skip schema inference after the first: the schema comes from
the parquet footer when Arrow can type it, and otherwise from one
inferred read, memoized until the next ``create``. Partitioned tables
and INT96 or nanosecond timestamp columns (which Spark types
differently from the Arrow footer) take the inferred read; inferring
on every read would cost one Spark job each.

Writes come in two shapes. ``replace_touched`` merges an update frame
as "replace the touched keys" (``sinks.upsert``). ``read_touched`` and
``rewrite`` serve a maintainer that builds the new content of
everything it read in one plan (a fold of the stored rows with a
batch): the touched partitions, or the whole table, read once and
written once.

``StateStore.cached`` is the fingerprint-keyed flavour: a table built
once per (name, fingerprint) under ``cache_root()`` and read back on
every later run, across processes too.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

from . import sinks
from .versioned import _dir_schema

CACHE_KEEP = 8  # newest same-name cache dirs kept per prune
_CACHE_VERSION = "v1"


def stream_ns(checkpoint_dir: str) -> str:
    """Stable namespace for a stream's replay markers — derived from
    the checkpoint path (the analog of Delta's ``txnAppId``), so two
    streams feeding one state table can't collide on batch id 0."""
    return hashlib.sha1(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:12]


def cache_root() -> str:
    """Repo-local root of the ``cached`` tables:
    ``spark-warehouse/.stored_state`` next to the package, overridable
    via ``DFDQ_STORED_STATE_DIR``. Repo-local (not ``/tmp``) so (a)
    ``*_stored`` bench numbers survive reboots and tmp-cleaners instead
    of silently reverting to cold-build cost, and (b) the cache is
    never a world-shared path two users could collide on."""
    env = os.environ.get("DFDQ_STORED_STATE_DIR")
    if env:
        return os.path.join(env, "dfdq_stored_state")
    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    return os.path.join(
        repo, "spark-warehouse", ".stored_state", "dfdq_stored_state"
    )


class StateStore:
    """The parquet state table at ``path`` and its side files."""

    def __init__(
        self, spark: SparkSession, path: str, partition_cols=()
    ) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self.partition_cols = list(partition_cols)
        self.applied_path = self.path + ".__applied__"
        self.retention_path = self.path + ".__retention__"
        self._schema = None

    def read(self) -> DataFrame:
        """The table, read with a known schema: from the footer, or
        from the one inferred read this store has made since its last
        ``create``. The store writes every version of the table, so the
        schema cannot change under the memo."""
        if self._schema is None:
            self._schema = _dir_schema(self.path)
        if self._schema is None:
            df = self.spark.read.parquet(self.path)
            self._schema = df.schema
            return df
        return self.spark.read.schema(self._schema).parquet(self.path)

    def create(self, df: DataFrame) -> None:
        """Replace the table with ``df`` through one staged swap, and
        start a new life: replay markers and retention predicates of a
        previous table at this path are removed (stale markers would
        make a fresh stream's batch ids look like replays; stale
        predicates would drop fresh groups)."""
        shutil.rmtree(self.applied_path, ignore_errors=True)
        if os.path.exists(self.retention_path):
            os.remove(self.retention_path)
        self._schema = None

        def write(p: str) -> None:
            w = df.write.mode("overwrite")
            if self.partition_cols:
                w = w.partitionBy(*self.partition_cols)
            w.parquet(p)

        sinks.staged_swap(self.path, write)

    def replace_touched(
        self,
        updates: DataFrame,
        keys: list[str],
        touched: DataFrame | None = None,
        assume_unique_keys: bool = False,
    ) -> None:
        """The table becomes ``table ⋉̸ touched ∪ updates`` (see
        ``sinks.upsert``): only the touched partitions rewrite when the
        table is partitioned, the whole table otherwise."""
        if self.partition_cols:
            sinks.upsert_partitioned(
                self.spark, self.path, updates, keys, self.partition_cols,
                touched=touched, assume_unique_keys=assume_unique_keys,
            )
        else:
            sinks.upsert(
                self.spark, self.path, updates, keys, touched=touched,
                assume_unique_keys=assume_unique_keys,
            )

    def read_touched(self, touched: DataFrame) -> DataFrame:
        """The rows ``rewrite(df, touched)`` replaces: the partitions
        of ``touched``'s partition-column tuples (a pruned scan) when
        the table is partitioned, the whole table otherwise."""
        df = self.read()
        if self.partition_cols:
            df = sinks.prune_to_touched(df, touched, self.partition_cols)
        return df

    def rewrite(self, df: DataFrame, touched: DataFrame) -> None:
        """Replace what ``read_touched(touched)`` reads with ``df``, in
        one write: the touched partitions (``df`` holds all their rows)
        or the whole table. Both stage the write first, so one that
        fails — a guard raising inside ``df``'s plan, say — leaves the
        table as it was."""
        if self.partition_cols:
            sinks.overwrite_touched_partitions(
                self.spark, self.path, df, self.partition_cols, touched
            )
        else:
            sinks.staged_swap(
                self.path, lambda p: df.write.mode("overwrite").parquet(p)
            )

    def apply_once(self, batch_id: int, fn, ns: str = "") -> None:
        """Replay guard for NON-idempotent appliers (partial merges
        double-count; SCD chain rebuilds duplicate version rows): run
        ``fn()`` unless a marker for (``ns``, ``batch_id``) exists. The
        marker is written after ``fn``'s swap completes, so the
        remaining failure window is a crash BETWEEN swap and marker —
        the same class as the swap's own rename window, closed in
        production by a transactional table format committing data
        and txn id together."""
        marker_dir = os.path.join(self.applied_path, ns or "_default")
        marker = os.path.join(marker_dir, str(batch_id))
        if os.path.exists(marker):
            return
        fn()
        os.makedirs(marker_dir, exist_ok=True)
        with open(marker, "w") as f:
            f.write("applied")

    def foreach_batch(self, checkpoint_dir: str, fn):
        """A ``foreachBatch`` function applying ``fn(batch_df)`` to each
        non-empty micro-batch once (``apply_once`` in the checkpoint's
        ``stream_ns``): foreachBatch delivers at least once."""
        ns = stream_ns(checkpoint_dir)

        def apply(batch_df: DataFrame, batch_id: int) -> None:
            if not batch_df.isEmpty():
                self.apply_once(batch_id, lambda: fn(batch_df), ns)

        return apply

    @classmethod
    def cached(
        cls, spark: SparkSession, name: str, fingerprint: str, build
    ) -> DataFrame:
        """A PERSISTED state table built once per (name, fingerprint)
        from ``build()`` and read back on every later call — across
        processes too — the way a deployment's maintenance job reads
        the state its previous run wrote. The fingerprint ties the
        table to its exact inputs, so a regenerated fixture rebuilds
        instead of serving stale state. The build goes through the
        staged swap, so a crashed build is never visible and its
        staging dir is removed by the next build of the same key."""
        key = hashlib.md5(
            f"{name}|{fingerprint}|{_CACHE_VERSION}".encode()
        ).hexdigest()
        root = cache_root()
        store = cls(spark, os.path.join(root, f"{name}_{key}"))
        if not os.path.exists(os.path.join(store.path, "_SUCCESS")):
            os.makedirs(root, exist_ok=True)
            store.create(build())
            _prune(root, name, store.path)
        return store.read()


def _prune(root: str, name: str, keep: str) -> None:
    """Bounded keep: fingerprints churn whenever a fixture regenerates,
    so same-name tables for dead keys accumulate across sessions —
    prune to the newest ``CACHE_KEEP``, never ``keep`` (a pruned live
    table merely rebuilds). A concurrent run may prune a listed dir
    mid-sort: the tolerant mtime maps missing dirs to 0 (prunes first,
    and its rmtree is already a no-op on an absent path)."""

    def mtime(d: str) -> float:
        try:
            return os.path.getmtime(d)
        except OSError:
            return 0.0

    own = re.compile(re.escape(name) + r"_[0-9a-f]{32}")
    same = sorted(
        (os.path.join(root, d) for d in os.listdir(root) if own.fullmatch(d)),
        key=mtime,
    )
    for stale in same[: max(0, len(same) - CACHE_KEEP)]:
        if stale != keep:
            shutil.rmtree(stale, ignore_errors=True)
