"""One store for every maintained state table.

Incremental maintenance only pays off when the previous result is kept
where the next refresh can read it. Every maintainer in ``operators/``
(continuous aggregates, top-k, rollup cascades, HLL and CMS sketches,
SCD2 histories, the streamed ingest ledger and the signed index
maintainers' persisted state) keeps that result in a ``StateStore``,
which owns the on-disk conventions of a state table at ``path``:

- ``<path>``: the parquet table, directory-partitioned on
  ``partition_cols`` when given, with the schema of its last write in
  ``<path>/_state_schema.json``;
- ``<path>.__applied__/<ns>/<batch id>``: ``apply_once`` replay
  markers, one namespace per stream (``stream_ns``);
- ``<path>.__retention__``: retention predicates a maintainer records
  (one SQL predicate per line);
- ``<path>.__staging__`` and ``<path>.__retired__``: the staged-swap
  siblings of ``sinks.staged_swap`` and
  ``sinks.overwrite_touched_partitions``.

Reads skip schema inference: every write leaves the schema of the
frame it wrote in ``<path>/_state_schema.json``, and reads use it, so
partition values come back with the types they were written with (a
string ``'01'`` stays a string; path-based inference would read it as
int 1). A table written without the file (by an older version) reads
its schema from the parquet footer when Arrow can type it, and
otherwise from one inferred read, memoized.

Every refresh has one shape: build the new content of what
``read_touched`` returns in one plan, and write it once with
``rewrite``. Two builders make that plan. ``fold`` groups the touched
state and the batch's rows (and any further inputs, such as a min/max
recompute's base rows) in one aggregate by the keys, so one exchange
and no join, and folds each column (sums, register maxima, aggregate
partials). ``replace`` replaces the touched
groups: ``state ⋉̸ touched ∪ fresh``, where ``fresh`` holds their
complete new rows. Guards are ``raise_error`` inside the written
frame, so a refresh is one write action; the raised message comes
back as ``ValueError``, and the staged write leaves the table as it
was.

The groups a refresh touches travel as a key set with two
operations, ``restrict`` (keep rows of touched groups) and ``exclude``
(drop them). ``touched_keys`` makes them from a batch with one driver
collect: ``KeyHashes``, a literal set of key-tuple hashes that filters
a scan with no join and no job, or ``KeyFrames`` over the batch (semi
and anti joins) when the batch holds more than ``KEY_SET_CAP`` distinct
key tuples.

``StateStore.cached`` is the fingerprint-keyed flavour: a table built
once per (name, fingerprint) under ``cache_root()`` and read back on
every later run, across processes too.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StructType,
)

from ..plans.sql_frontend import _semi_on_keys
from . import sinks
from .versioned import _dir_schema

CACHE_KEEP = 8  # newest same-name cache dirs kept per prune
# ``touched_keys`` takes literal key-hash sets up to this many distinct
# key tuples in a batch and key frames above it: the crossover of the
# two in ``tools/key_set_crossover.py`` (median wall of four 3-tier
# cascade ``refresh_signed`` calls over 200,000 fine groups, 4-core
# host). Hash sets always start fewer jobs (10 against 15) and win on
# wall time up to 10,000 tuples (0.92 s against 1.08 s at 2,000, 0.93
# against 1.05 at 5,000, 0.97 against 1.03 at 10,000); at 20,000 they
# lose (1.14 s against 1.01 s), as analysing and shipping the IN lists
# outgrows the frames' broadcasts.
KEY_SET_CAP = 10_000
_CACHE_VERSION = "v1"
_SCHEMA_FILE = "_state_schema.json"  # Spark skips ``_``-prefixed files


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

    def schema(self) -> StructType:
        """The table's schema, without a Spark job once known: the one
        the last write left, else the footer's, else one inferred read.
        The store writes every version of the table, so the schema
        cannot change under the memo."""
        if self._schema is None:
            try:
                with open(os.path.join(self.path, _SCHEMA_FILE)) as fh:
                    self._schema = StructType.fromJson(json.load(fh))
            except FileNotFoundError:
                self._schema = (
                    _dir_schema(self.path)
                    or self.spark.read.parquet(self.path).schema
                )
        return self._schema

    def read(self) -> DataFrame:
        """The table, read with its known schema."""
        return self.spark.read.schema(self.schema()).parquet(self.path)

    def _save(self, df: DataFrame, p: str) -> None:
        w = df.write.mode("overwrite")
        if self.partition_cols:
            w = w.partitionBy(*self.partition_cols)
        w.parquet(p)
        _save_schema(df, p)

    def create(self, df: DataFrame) -> None:
        """Replace the table with ``df`` through one staged swap, and
        start a new life: replay markers and retention predicates of a
        previous table at this path are removed (stale markers would
        make a fresh stream's batch ids look like replays; stale
        predicates would drop fresh groups). A guard raised inside
        ``df``'s plan comes back as ``ValueError``."""
        shutil.rmtree(self.applied_path, ignore_errors=True)
        if os.path.exists(self.retention_path):
            os.remove(self.retention_path)
        self._schema = None
        _guarded_write(
            lambda: sinks.staged_swap(self.path, lambda p: self._save(df, p))
        )
        self._schema = df.schema

    def read_touched(self, touched: DataFrame) -> DataFrame:
        """The rows ``rewrite(df, touched)`` replaces: the partitions
        of ``touched``'s partition-column tuples (a pruned scan) when
        the table is partitioned, the whole table otherwise."""
        df = self.read()
        if self.partition_cols:
            df = sinks.prune_to_touched(df, touched, self.partition_cols)
        return df

    def rewrite(
        self, df: DataFrame, touched: DataFrame | None = None
    ) -> None:
        """Replace what ``read_touched(touched)`` reads with ``df``, in
        one write: the touched partitions (``df`` holds all their rows)
        or the whole table. Both stage the write first, so one that
        fails leaves the table as it was; a guard raised inside
        ``df``'s plan comes back as ``ValueError``. A ``df`` whose
        column set differs from the table's is rejected before any
        job: the write would drop the columns it lacks, or add ones
        every untouched row lacks. The write keeps the table's column
        order. On a partitioned table a written row with a NULL
        partition value fails the write: it would land in
        ``__HIVE_DEFAULT_PARTITION__``, which ``read_touched`` never
        reads, so the swap would replace that directory's stored rows
        instead of merging them."""
        self._check_columns(df)
        df = df.select(*self.schema().names)
        if self.partition_cols:
            df = guarded(df, [(_any_null(self.partition_cols), _NULL_PART)])
            _guarded_write(
                lambda: sinks.overwrite_touched_partitions(
                    self.spark, self.path, df, self.partition_cols, touched
                )
            )
            _save_schema(df, self.path)
        else:
            _guarded_write(
                lambda: sinks.staged_swap(
                    self.path, lambda p: self._save(df, p)
                )
            )
        self._schema = df.schema

    def _check_columns(self, df: DataFrame) -> None:
        have = self.schema().names
        if set(df.columns) != set(have):
            raise ValueError(
                f"columns {sorted(df.columns)} differ from the target's "
                f"{sorted(have)} at {self.path}; align the frame to the "
                "table schema first"
            )

    def fold(
        self,
        rows: DataFrame,
        keys: list[str],
        aggs: list[str],
        folds: list[str],
        keep=None,
        guards=(),
        exprs: list[str] | None = None,
        also=(),
    ) -> None:
        """The state becomes ``read_touched(rows) ⊎ rows`` grouped by
        ``keys``, folded, in one ``rewrite``: one aggregate, so one
        exchange on the keys and no join.

        ``exprs`` are the keys as SQL over ``rows`` (default the
        columns named ``keys``); ``rows`` may hold many rows per key.
        Per group, a stored column ``c`` outside ``keys`` is read as
        ``__s<c>``, the one stored value (NULL for a group the state
        lacks), and each of ``aggs`` (``<one aggregate call> AS
        <name>``, over ``rows``' columns) sees only ``rows`` (NULL for
        a group ``rows`` misses; ``count`` is 0). ``also`` holds more
        inputs to the same aggregate as (frame, key SQL, aggs) triples,
        each read only by its own aggs.
        ``folds`` holds one SQL expression per stored column outside
        ``keys``, as ``<expr> AS <c>``, over those columns: stored
        rows no input touches pass through and new keys enter. A
        folded row leaves when ``keep`` (a Column) is false or NULL;
        ``guards`` are (condition, message) pairs over the folded row,
        checked in order before ``keep``, and a row meeting one fails
        the refresh with its message. A guard over the keys alone runs
        on every input row instead, below the aggregate."""
        exprs = exprs or [_quoted(k) for k in keys]
        group = [f"__k{i}" for i in range(len(keys))]
        # Only a partitioned table reads and writes by touched keys.
        touched = (
            rows.select(*[F.expr(e).alias(k) for e, k in zip(exprs, keys)])
            if self.partition_cols
            else None
        )
        stored = self.read_touched(touched)
        parts = [c for c in stored.columns if c not in keys]
        union = stored.select(
            *[stored[k].alias(g) for k, g in zip(keys, group)],
            *[stored[c].alias(f"__s{c}") for c in parts],
            F.lit(0).alias("__t"),
        )
        calls = [
            F.max(F.col(_quoted(f"__s{c}"))).alias(f"__s{c}") for c in parts
        ]
        inputs = [(rows, exprs, aggs), *also]
        for t, (df, df_exprs, df_aggs) in enumerate(inputs, 1):
            union = union.unionByName(
                df.select(
                    *[F.expr(e).alias(g) for e, g in zip(df_exprs, group)],
                    "*",
                    F.lit(t).alias("__t"),
                ),
                allowMissingColumns=True,
            )
            calls += [_only(a, f"__t = {t}") for a in df_aggs]
        folded = union.groupBy(*group).agg(*calls).select(
            *[F.col(g).alias(k) for g, k in zip(group, keys)],
            *[F.expr(e) for e in folds],
        )
        # One filter per guard, in order: a guard over the keys alone
        # is pushed below the aggregate, ahead of ``rewrite``'s own.
        for cond, msg in guards:
            folded = folded.where(
                F.when(cond, F.raise_error(F.lit(msg))).otherwise(True)
            )
        if keep is not None:
            folded = folded.where(keep)
        self.rewrite(folded.select(*stored.columns), touched)

    def replace(
        self, fresh: DataFrame, touched, keys: list[str], guards=(),
    ) -> None:
        """The state becomes ``read_touched(touched) ⋉̸ touched ∪
        fresh``, in one ``rewrite``: every stored row whose values on
        ``touched``'s columns are touched leaves, and ``fresh`` is the
        complete new content of the touched groups, so a touched group
        with no fresh row leaves too. ``touched`` is a key set
        (``KeyHashes`` or ``KeyFrames``; a DataFrame is taken as a
        ``KeyFrames``), and a frame may repeat a group. ``keys`` are
        the state's key columns; ``touched``'s columns are a non-empty
        subset of them — a set over a key prefix replaces whole groups
        — and include every partition column. A value column in
        ``touched`` would match only stored rows whose value is
        unchanged, and keep the others beside their fresh rows.
        ``guards`` are (condition, message) pairs over ``fresh``'s
        rows, as in ``fold``. A partitioned store needs ``KeyFrames``:
        its pruned read and write name partitions from the frame.

        Precondition: ``fresh`` holds rows of touched groups only. A
        row of an untouched group would sit beside that group's stored
        rows; nothing checks this (it would cost a job), and every
        caller builds ``fresh`` from its touched set. A hash collision
        makes an untouched group touched; ``fresh`` must then hold its
        complete rows too, which a ``fresh`` built by ``restrict`` over
        the same set does."""
        if isinstance(touched, DataFrame):
            touched = KeyFrames(touched)
        frame = touched.frame if isinstance(touched, KeyFrames) else None
        if self.partition_cols and frame is None:
            raise ValueError(
                "a partitioned store replaces through a key frame: its "
                "pruned read and write name partitions from it"
            )
        unpruned = [
            c for c in self.partition_cols if c not in touched.columns
        ]
        if unpruned:
            raise ValueError(
                f"touched lacks partition columns {unpruned}: partition "
                "columns not part of the merge key would let a group "
                "change partition and strand its old copy in a directory "
                "the pruned rewrite never reads"
            )
        have = self.schema().names
        if set(keys) - set(have):
            raise ValueError(
                f"keys {keys} are not all columns of the state {have}"
            )
        if not touched.columns or set(touched.columns) - set(keys):
            raise ValueError(
                f"touched columns {touched.columns} must be a non-empty "
                f"subset of the merge key {keys}"
            )
        self._check_columns(fresh)
        kept = touched.exclude(self.read_touched(frame))
        self.rewrite(kept.unionByName(guarded(fresh, guards)), frame)

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


def guarded(df: DataFrame, guards, keep=None) -> DataFrame:
    """``df``'s rows where ``keep`` holds (all when None); a row
    meeting a guard's condition raises the guard's message instead.
    Conditions may be window expressions."""
    if not guards and keep is None:
        return df
    pred = F.lit(True) if keep is None else keep
    for cond, msg in reversed(guards):
        pred = F.when(cond, F.raise_error(F.lit(msg))).otherwise(pred)
    return df.withColumn("__keep", pred).where("__keep").drop("__keep")


def _quoted(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _only(agg: str, cond: str):
    """``agg`` (``<one aggregate call> AS <name>``) over the rows where
    ``cond`` holds: the call's ``FILTER`` clause, so ``count(*)`` and
    literal arguments count no other row either."""
    call, name = agg.rsplit(" AS ", 1)
    return F.expr(f"{call} FILTER (WHERE {cond})").alias(name)


def _key_hash(cols: list):
    """The hash a ``KeyHashes`` set holds for one key tuple."""
    return F.xxhash64(*cols)


# The type a key is hashed at, by the type the state stores it as:
# integral keys hash as bigint and float keys as double, so a batch or
# base that holds a key narrower or wider than the state does still
# hashes each group alike.
_WIDE = {
    ByteType: LongType(),
    ShortType: LongType(),
    IntegerType: LongType(),
    FloatType: DoubleType(),
}


def _hash_type(stored):
    """The type every side of a key set hashes a key the state stores
    as ``stored`` at: ``stored`` widened by ``_WIDE``."""
    return _WIDE.get(type(stored), stored)


def _hashed(df: DataFrame, exprs: list[str], types: list):
    """The key hash of ``exprs`` (SQL over ``df``), each cast to its
    hash type in ``types`` first. A key whose type does not up-cast
    to its hash type (``Cast.canUpCast``) raises ``ValueError``: a
    narrowing cast (a timestamp to a stored date, a double to a stored
    bigint, a string to a stored number) can merge values the state
    keeps apart or part values it merges, and so hash a touched group
    apart from its stored row and skip its recompute."""
    jvm = df.sparkSession._jvm

    def jtype(t):
        return jvm.org.apache.spark.sql.types.DataType.fromJson(t.json())

    cast = jvm.org.apache.spark.sql.catalyst.expressions.Cast
    have = df.select(*[F.expr(e) for e in exprs]).schema.fields
    for e, f, t in zip(exprs, have, types):
        if f.dataType != t and not cast.canUpCast(jtype(f.dataType), jtype(t)):
            raise ValueError(
                f"key {e} is {f.dataType.simpleString()} here but hashes "
                f"as {t.simpleString()}, and no lossless cast bridges the "
                "two: a key-set restriction could miss a touched group"
            )
    return _key_hash([F.expr(e).cast(t) for e, t in zip(exprs, types)])


class KeyHashes:
    """Touched groups as a literal set of ``_key_hash`` values of their
    key tuples (``columns``, each hashed at its type in ``types``). Its
    filters start no job and join nothing, so Catalyst pushes them to
    the scans. Hashes collide: the set may also hold an untouched
    group, which ``restrict`` then keeps and ``exclude`` drops. That is
    exact wherever every group a set holds is rebuilt from correct
    inputs, as ``StateStore.replace`` and the min/max recompute do."""

    def __init__(self, columns: list[str], types: list, hashes) -> None:
        self.columns = list(columns)
        self.types = list(types)
        self.hashes = frozenset(hashes)
        self._test = None  # the IN predicate, parsed once, on first use

    def _member(self, df: DataFrame, exprs, keep: bool) -> DataFrame:
        if not self.hashes:
            return df.where(F.lit(False)) if keep else df
        if self._test is None:
            lits = ", ".join(f"{v}L" for v in sorted(self.hashes))
            self._test = F.expr(f"__kh IN ({lits})")
        exprs = exprs or [_quoted(c) for c in self.columns]
        return (
            df.withColumn("__kh", _hashed(df, exprs, self.types))
            .where(self._test if keep else ~self._test)
            .drop("__kh")
        )

    def restrict(self, df: DataFrame, exprs=None) -> DataFrame:
        """``df``'s rows whose key tuple is in the set: ``exprs`` (SQL
        over ``df``, in ``columns`` order; default the columns
        themselves) evaluated per row."""
        return self._member(df, exprs, True)

    def exclude(self, df: DataFrame) -> DataFrame:
        """``df``'s rows whose ``columns`` tuple is not in the set."""
        return self._member(df, None, False)


class KeyFrames:
    """Touched groups as a frame of key tuples, ``columns`` its column
    names (a group may repeat): ``restrict`` is a broadcast semi join,
    ``exclude`` an anti join. The form for batches above
    ``KEY_SET_CAP`` and for callers that hold a frame already; a
    partitioned store prunes its read and write with it."""

    def __init__(self, frame: DataFrame) -> None:
        self.frame = frame
        self.columns = list(frame.columns)

    def restrict(self, df: DataFrame, exprs=None) -> DataFrame:
        exprs = exprs or [_quoted(c) for c in self.columns]
        return _semi_on_keys(df, self.frame, exprs, self.columns)

    def exclude(self, df: DataFrame) -> DataFrame:
        return df.join(self.frame, self.columns, "left_anti")


def touched_keys(batch: DataFrame, levels, flag: str | None = None) -> list:
    """The groups ``batch`` touches at each of ``levels``, from one
    driver collect: one job, whose tasks each read their partition of
    the batch and return its distinct key-hash tuples, stopping past
    ``KEY_SET_CAP`` of them.

    ``levels`` is a chain of ``(exprs, columns, types)``: level 0's SQL
    ``exprs`` evaluate on batch rows and level ``i``'s on level
    ``i - 1``'s columns cast to that level's stored key ``types``, as
    the state tiers are built. Each key is hashed at ``_hash_type``;
    one that does not up-cast to it raises ``ValueError``. With
    ``flag``, a SQL predicate over batch rows, one more set follows
    the levels' sets: level 0's groups of the rows it holds for. Each
    set is ``KeyHashes`` when the batch holds at most
    ``KEY_SET_CAP`` distinct key tuples, else ``KeyFrames`` over the
    batch (which every use then re-reads)."""
    cur = batch.withColumn("__flag", F.expr(flag)) if flag else batch
    carry = ["__flag"] if flag else []
    frames, hash_types = [], []
    for i, (exprs, columns, types) in enumerate(levels):
        hts = [_hash_type(t) for t in types]
        cur = cur.select(
            *[
                F.expr(e).cast(t).alias(n)
                for e, t, n in zip(exprs, types, columns)
            ],
            *carry,
            _hashed(cur, exprs, hts).alias(f"__h{i}"),
        )
        frames.append(cur)
        hash_types.append(hts)
        carry.append(f"__h{i}")
    cap = KEY_SET_CAP

    def distinct_upto_cap(batches):
        import pyarrow as pa

        seen = None
        for b in batches:
            t = pa.Table.from_batches([b])
            if seen is not None:
                t = pa.concat_tables([seen, t])
            seen = t.group_by(t.column_names).aggregate([])
            if seen.num_rows > cap:
                break
        if seen is not None:
            yield from seen.to_batches()

    # Each task dedupes its own partition's Arrow batches, so there is
    # no exchange (no second job) and no single task over a shuffled
    # batch's last stage.
    tuples = cur.select(*carry)
    found = tuples.mapInArrow(distinct_upto_cap, tuples.schema).collect()
    rows = set(map(tuple, found))
    sets: list = []
    if len(rows) > cap:
        for f, (_, columns, _) in zip(frames, levels):
            sets.append(KeyFrames(f.select(*map(_quoted, columns))))
        if flag:
            first = frames[0].where("__flag")
            sets.append(KeyFrames(first.select(*map(_quoted, levels[0][1]))))
        return sets
    at = len(carry) - len(levels)  # the first hash's position in a row
    for i, (_, columns, _) in enumerate(levels):
        sets.append(KeyHashes(columns, hash_types[i], {r[at + i] for r in rows}))
    if flag:
        sets.append(
            KeyHashes(
                levels[0][1], hash_types[0], {r[at] for r in rows if r[0]}
            )
        )
    return sets


_NULL_PART = (
    "NULL partition value in the written rows: NULL lands in the "
    "__HIVE_DEFAULT_PARTITION__ directory, which a pruned rewrite never "
    "reads, so its stored rows would be replaced instead of merged"
)


def _any_null(cols: list[str]):
    return F.expr(" OR ".join(f"`{c}` IS NULL" for c in cols))


def _save_schema(df: DataFrame, table_dir: str) -> None:
    with open(os.path.join(table_dir, _SCHEMA_FILE), "w") as fh:
        fh.write(df.schema.json())


def _guarded_write(write) -> None:
    """Run ``write``; a ``raise_error`` that fired inside its plan comes
    back as ``ValueError`` with the raised message."""
    try:
        write()
    except Exception as e:
        if getattr(e, "getCondition", lambda: None)() != (
            "USER_RAISED_EXCEPTION"
        ):
            raise
        msg = e.getMessageParameters()["errorMessage"]
        raise ValueError(msg) from None


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
