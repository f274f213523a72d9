"""Append-only versioned parquet tables: time travel + change feed.

Layout: one directory per committed version —

    <root>/v=00000000/*.parquet   (version 0's appended rows)
    <root>/v=00000001/*.parquet   (version 1's appended rows)
    ...

- ``snapshot(v)``   = union of version dirs <= v   (Delta ``versionAsOf``)
- ``changes(a, b)`` = union of version dirs in (a, b]  (CDF insert rows)

Both are plain multi-path parquet scans, so Catalyst still pushes
filters/pruning into them, and version selection is directory-level
partition pruning (no data files of excluded versions are opened). At
100 TB this is the poor-man's transaction log: real deployments swap
in Delta Lake (see ``delta_lake_table``) — the two read primitives and
everything above them (DeltaCatalog, compile_delta) are unchanged.

``VersionedDeltaCatalog`` plugs these reads into the delta compiler:
un-delta'd plan refs compile to ``snapshot(old)`` and PosDeltaScan
leaves to ``changes(old, new)`` — the honest versioned realization of
SURVEY §4.3 (vs. the predicate-split emulation used for the driver's
single-file fixtures).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..plans.compiler import DeltaCatalog
from ..plans.signed import SignedDeltaCatalog
from .sinks import first_part_file

_VDIR = re.compile(r"^v=(\d{8})$")
_CKPTDIR = re.compile(r"^ckpt=(\d{8})$")

# (commit dir → frozenset of _change_type tags) — commits are
# write-once, so the memo can never go stale; see _change_kinds.
_CHANGE_KINDS_BY_DIR: dict = {}

# ((commit dir, mtime_ns) → Spark StructType) — per-dir schema read
# from parquet footers on the driver; see _merged_commit_schema.
_DIR_SCHEMA_MEMO: dict = {}


def _dir_schema(d: str):
    """The Spark schema of one write-once commit dir, from the first
    part file's footer (one ``df.write`` produced every part, so they
    share a schema) — a driver-side metadata read, no Spark job. The
    memo key carries the dir mtime so a recreated table at the same
    path re-reads. Returns None when anything is unusual (caller falls
    back to an inferred read), including INT96 and nanosecond
    timestamps, which Spark's reader types differently from the Arrow
    schema (TIMESTAMP, or an error, where Arrow says NTZ)."""
    try:
        import json

        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import from_arrow_schema

        key = (d, os.stat(d).st_mtime_ns)
        s = _DIR_SCHEMA_MEMO.get(key)
        if s is not None:
            return s
        part = first_part_file(d)
        if part is None:
            return None
        pf = pq.ParquetFile(part)
        if any(
            c.physical_type == "INT96"
            or json.loads(c.logical_type.to_json()).get("timeUnit")
            == "nanoseconds"
            for c in pf.schema
        ):
            return None
        s = from_arrow_schema(pf.schema_arrow, prefer_timestamp_ntz=True)
        _DIR_SCHEMA_MEMO[key] = s
        return s
    except Exception:
        return None


def _merged_commit_schema(dirs: list[str]):
    """The additive-evolution union schema of the given commit dirs —
    the result ``mergeSchema=true`` would infer, computed from footers
    on the driver instead of a per-read Spark job (~0.4 s per read,
    and versioned lifecycles read many times). First-seen field order
    (mergeSchema's order for additive evolution); None on any type
    conflict or unreadable footer, and the caller falls back to the
    inferred ``mergeSchema`` read — behavior unchanged, just slower.
    Every field is nullable, as under ``mergeSchema``: rows of a
    commit that predates a column read it as NULL, whatever the
    footer that introduced it declares."""
    from pyspark.sql.types import StructField, StructType

    fields: list = []
    by_name: dict = {}
    for d in dirs:
        s = _dir_schema(d)
        if s is None:
            return None
        for f in s.fields:
            prev = by_name.get(f.name)
            if prev is None:
                by_name[f.name] = f
                fields.append(f)
            elif prev.dataType != f.dataType:
                return None  # non-additive evolution: let Spark decide
    if not fields:
        return None
    return StructType(
        [StructField(f.name, f.dataType, True, f.metadata) for f in fields]
    )


def _read_dirs(spark: SparkSession, paths: list[str]) -> DataFrame:
    """The commit (or checkpoint) dirs ``paths`` as one frame, under
    their additive-evolution union schema: a later commit may ADD
    columns (the lakehouse norm), and earlier rows read them as NULL.
    The schema comes from footers on the driver when possible
    (``_merged_commit_schema``; dirs are write-once, so per-dir schemas
    memoize), which skips the footer job a ``mergeSchema`` read starts
    when the frame is built; otherwise that inferred read."""
    merged = _merged_commit_schema(paths)
    if merged is not None:
        return spark.read.schema(merged).parquet(*paths)
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def _kinds_from_footers(d: str):
    """(min, max) ``_change_type`` values of every row group under the
    commit dir ``d``, read from parquet footers on the driver — no
    Spark job. Returns None (caller falls back to a scan) when any
    footer lacks usable statistics or the column carries nulls."""
    try:
        import pyarrow.parquet as pq

        kinds: set = set()
        for name in os.listdir(d):
            if name.startswith(("_", ".")) or not name.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, name)).metadata
            names = md.schema.names
            if "_change_type" not in names:
                return None
            idx = names.index("_change_type")
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if (
                    st is None
                    or not st.has_min_max
                    or (st.null_count or 0) > 0
                ):
                    return None
                kinds.add(st.min)
                kinds.add(st.max)
        return frozenset(kinds) if kinds else None
    except Exception:
        return None


class VersionedTable:
    """An append-only table whose commits are parquet version dirs."""

    def __init__(self, root: str):
        self.root = root

    def _version_dir(self, version: int) -> str:
        return os.path.join(self.root, f"v={version:08d}")

    def versions(self) -> list[int]:
        if not os.path.isdir(self.root):
            return []
        out = []
        for name in os.listdir(self.root):
            m = _VDIR.match(name)
            if m and os.path.isdir(os.path.join(self.root, name)):
                out.append(int(m.group(1)))
        return sorted(out)

    def latest_version(self) -> int:
        vs = self.versions()
        if not vs:
            raise ValueError(f"no committed versions under {self.root}")
        return vs[-1]

    def write_version(self, df: DataFrame, version: int | None = None) -> int:
        """Commit ``df``'s rows as the next (or given) version."""
        vs = self.versions()
        if version is None:
            version = (vs[-1] + 1) if vs else 0
        if version in vs:
            raise ValueError(f"version {version} already committed")
        df.write.mode("errorifexists").parquet(self._version_dir(version))
        return version

    def _read(self, spark: SparkSession, versions: list[int]) -> DataFrame:
        paths = [self._version_dir(v) for v in versions]
        if not paths:
            raise ValueError(f"no versions selected from {self.root}")
        return _read_dirs(spark, paths)

    def snapshot(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Time travel: table state as of ``version`` (default latest)."""
        if version is None:
            version = self.latest_version()
        return self._read(spark, [v for v in self.versions() if v <= version])

    def changes(self, spark: SparkSession, from_v: int, to_v: int) -> DataFrame:
        """Insert-only change feed: rows appended in (from_v, to_v]."""
        return self._read(
            spark, [v for v in self.versions() if from_v < v <= to_v]
        )


def delta_lake_table(spark: SparkSession, path: str):
    """Real Delta Lake handle when delta-spark is installed.

    Import-gated: this container ships no delta-spark, so calling this
    raises with instructions rather than pretending. With the package,
    the same two primitives are
    ``spark.read.format("delta").option("versionAsOf", v)`` and
    ``.option("readChangeFeed", "true").option("startingVersion", v+1)``
    filtered to ``_change_type = 'insert'``.
    """
    try:
        from delta.tables import DeltaTable  # noqa: F401
    except ImportError as ex:  # pragma: no cover - environment-dependent
        raise ImportError(
            "delta-spark is not installed in this environment; use "
            "VersionedTable (parquet version dirs) which provides the same "
            "snapshot/changes primitives"
        ) from ex
    return DeltaTable.forPath(spark, path)  # pragma: no cover


class DeltaLakeCatalog(DeltaCatalog):
    """DeltaCatalog over REAL Delta Lake tables (SURVEY §2.1 #2's
    primary mapping): un-delta'd plan refs read ``versionAsOf old``,
    PosDeltaScan leaves read the Change Data Feed's insert rows in
    (old, new]. Requires delta-spark + its jars on the session
    (import-gated; this container ships neither — attempted 2026-08-13,
    no package, no jar, installs unavailable — so the parquet
    version-dir ``VersionedDeltaCatalog`` is the tested realization;
    tests/test_delta_lake.py exercises THIS class whenever the package
    exists).
    """

    def __init__(
        self,
        spark: SparkSession,
        paths: dict[str, str],
        version_pins: dict[str, tuple[int, int]],
    ):
        from delta.tables import DeltaTable  # noqa: F401  (import gate)

        self.spark = spark
        self.paths = paths
        self.version_pins = version_pins

    def full(self, name: str) -> DataFrame:
        _, new = self.version_pins[name]
        return (
            self.spark.read.format("delta")
            .option("versionAsOf", new)
            .load(self.paths[name])
        )

    def snapshot(self, name: str) -> DataFrame:
        old, _ = self.version_pins[name]
        return (
            self.spark.read.format("delta")
            .option("versionAsOf", old)
            .load(self.paths[name])
        )

    def delta(self, name: str) -> DataFrame:
        old, new = self.version_pins[name]
        cols = self.full(name).columns
        if old == new:
            return self.full(name).where("1 = 0")
        return (
            self.spark.read.format("delta")
            .option("readChangeFeed", "true")
            .option("startingVersion", old + 1)
            .option("endingVersion", new)
            .load(self.paths[name])
            .where("_change_type = 'insert'")
            .select(*cols)
        )


class VersionedDeltaCatalog(DeltaCatalog):
    """DeltaCatalog over VersionedTable storage.

    ``(old, new)`` version pins per table; tables without a pin are
    read at their latest version with an empty delta. With ``sf_dir``
    set, names absent from ``tables`` fall back to the plain parquet
    fixtures as STATIC tables (current state at both pins, empty
    delta, no time travel) — the usual mixed catalog where only the
    hot tables are version-managed.
    """

    def __init__(
        self,
        spark: SparkSession,
        tables: dict[str, VersionedTable],
        version_pins: dict[str, tuple[int, int]],
        sf_dir: str | None = None,
    ):
        self.spark = spark
        self.tables = tables
        self.version_pins = version_pins
        self.sf_dir = sf_dir

    def _static(self, name: str) -> DataFrame:
        if self.sf_dir is None:
            raise KeyError(
                f"{name} has no versioned storage and this catalog has "
                f"no static fallback (pass sf_dir)"
            )
        return load_table(self.spark, self.sf_dir, name)

    def _pins(self, name: str) -> tuple[int, int]:
        if name in self.version_pins:
            return self.version_pins[name]
        latest = self.tables[name].latest_version()
        return latest, latest

    def full(self, name: str) -> DataFrame:
        if name not in self.tables:
            return self._static(name)
        _, new = self._pins(name)
        return self.tables[name].snapshot(self.spark, new)

    def snapshot(self, name: str) -> DataFrame:
        if name not in self.tables:
            return self._static(name)
        old, _ = self._pins(name)
        return self.tables[name].snapshot(self.spark, old)

    def delta(self, name: str) -> DataFrame:
        if name not in self.tables:
            return self._static(name).where("1 = 0")
        old, new = self._pins(name)
        if old == new:
            return self.full(name).where("1 = 0")
        return self.tables[name].changes(self.spark, old, new)

    def versioned(self, name: str, version: int) -> DataFrame:
        """SQL time travel: ``FROM t VERSION AS OF n`` resolves here.
        Unknown tables fail on the storage lookup; requesting a
        version later than the pinned read version would silently see
        the future, so it is refused."""
        if name not in self.tables:
            raise ValueError(
                f"{name} has no versioned storage in this catalog"
            )
        _, new = self._pins(name)
        if version > new:
            raise ValueError(
                f"{name} VERSION AS OF {version} is beyond this "
                f"catalog's read version {new}"
            )
        return self.tables[name].snapshot(self.spark, version)


class CdfVersionedTable:
    """A versioned table whose commits are CHANGE batches, not appends:
    each version dir holds CDF-shaped rows (``_change_type`` ∈ insert/
    delete/update_preimage/update_postimage) — the on-disk shape Delta
    Lake's Change Data Feed produces, stored as plain parquet.

    This is the retraction-capable sibling of ``VersionedTable``:
    where that class can only grow, a ``CdfVersionedTable`` commit can
    delete and update. Reads:

    - ``changes(a, b)``      — CDF rows committed in (a, b]
    - ``signed_changes(a,b)``— the same, normalized to ``_sign`` ∈ {±1}
    - ``snapshot(v)``        — the table STATE as of ``v``: fold every
      change ≤ v as a signed multiset (net count per distinct row,
      rows with net 0 gone, multiplicity re-expanded). A corrupt
      history (more retractions than insertions of a row) fails inside
      the fold plan via ``raise_error`` — never a silent wrong state.

    The fold is one groupBy over the changes read so far — fine for a
    change-log whose total volume is delta-sized. At 100 TB you
    checkpoint — and this class DOES (``checkpoint(v)``): the state as
    of ``v`` is materialized once (a plain parquet write, exactly a
    Delta checkpoint file), after which every ``snapshot(v')`` with
    ``v' >= v`` reads the checkpoint plus ONLY the tail commits in
    ``(v, v']`` — proven by ``inputFiles()`` audit in
    tests/test_versioned_sources.py, never by trust. ``vacuum()``
    then deletes the commit dirs a checkpoint supersedes (Delta
    ``VACUUM``): time travel to covered versions keeps working from
    the checkpoint, and reads that would need a removed commit fail
    LOUDLY on the recorded vacuum horizon instead of silently folding
    a partial history.
    """

    def __init__(self, root: str):
        self.root = root

    def _version_dir(self, version: int) -> str:
        return os.path.join(self.root, f"v={version:08d}")

    def _ckpt_dir(self, version: int) -> str:
        return os.path.join(self.root, f"ckpt={version:08d}")

    @property
    def _horizon_path(self) -> str:
        return os.path.join(self.root, "_VACUUM_HORIZON")

    def checkpoints(self) -> list[int]:
        if not os.path.isdir(self.root):
            return []
        out = []
        for name in os.listdir(self.root):
            m = _CKPTDIR.match(name)
            if m and os.path.isdir(os.path.join(self.root, name)):
                out.append(int(m.group(1)))
        return sorted(out)

    def vacuum_horizon(self) -> int | None:
        """Highest version whose commit dir was removed by ``vacuum``,
        or None if the full commit history is still on disk."""
        try:
            with open(self._horizon_path, encoding="ascii") as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return None

    def versions(self) -> list[int]:
        if not os.path.isdir(self.root):
            return []
        out = []
        for name in os.listdir(self.root):
            m = _VDIR.match(name)
            if m and os.path.isdir(os.path.join(self.root, name)):
                out.append(int(m.group(1)))
        return sorted(out)

    def latest_version(self) -> int:
        vs = self.versions()
        cks = self.checkpoints()
        if not vs and not cks:
            raise ValueError(f"no committed versions under {self.root}")
        return max(vs[-1] if vs else -1, cks[-1] if cks else -1)

    def next_version(self) -> int:
        """The version number the next ``write_version(df)`` will take.
        Exposed so write-ahead protocols (``COPY INTO``'s intent ledger)
        can record the number BEFORE committing and later reconcile."""
        vs = self.versions()
        cks = self.checkpoints()
        horizon = self.vacuum_horizon()
        # numbering floor includes checkpoints and the vacuum horizon:
        # after `vacuum` removes every commit dir, the next commit must
        # continue the history, not restart at a number a checkpoint
        # already covers.
        return max(
            vs[-1] if vs else -1,
            cks[-1] if cks else -1,
            horizon if horizon is not None else -1,
        ) + 1

    def write_version(
        self, changes_df: DataFrame, version: int | None = None
    ) -> int:
        """Commit one CDF batch as the next (or given) version."""
        if "_change_type" not in changes_df.columns:
            raise ValueError(
                "CdfVersionedTable commits carry a _change_type column "
                "(use VersionedTable for plain appends)"
            )
        vs = self.versions()
        cks = self.checkpoints()
        if version is None:
            version = self.next_version()
        horizon = self.vacuum_horizon()
        if version in vs:
            raise ValueError(f"version {version} already committed")
        if version <= (max(cks[-1] if cks else -1,
                           horizon if horizon is not None else -1)):
            raise ValueError(
                f"version {version} is covered by a checkpoint or the "
                f"vacuum horizon — history cannot be rewritten"
            )
        changes_df.write.mode("errorifexists").parquet(
            self._version_dir(version)
        )
        return version

    def _read(self, spark: SparkSession, versions: list[int]) -> DataFrame:
        paths = [self._version_dir(v) for v in versions]
        if not paths:
            raise ValueError(f"no versions selected from {self.root}")
        # Additive evolution (see _read_dirs): the signed fold then
        # groups old rows with NULL in the new columns, which is
        # exactly the evolved multiset semantics.
        return _read_dirs(spark, paths)

    def _change_kinds(self, spark: SparkSession, versions: list[int]) -> set:
        """Distinct ``_change_type`` tags across ``versions``. Memoized
        per commit dir: commits are write-once (``write_version`` is
        errorifexists), so a dir's tag set never changes. Primary
        source is the parquet FOOTER min/max statistics of the tag
        column — a driver-side metadata read costing no Spark job
        (the emulation equivalent of the per-commit operation a real
        Delta log records); a column-pruned distinct scan is the
        fallback when stats are unavailable. min/max understate a
        mixed tag set, but the only consumer asks "anything beyond
        insert?", which min/max answer exactly."""
        from ..plans.signed import CHANGE_TYPE

        out: set = set()
        for v in versions:
            d = self._version_dir(v)
            kinds = _CHANGE_KINDS_BY_DIR.get(d)
            if kinds is None:
                kinds = _kinds_from_footers(d)
                if kinds is None:
                    kinds = frozenset(
                        r[0]
                        for r in spark.read.parquet(d)
                        .select(CHANGE_TYPE)
                        .distinct()
                        .collect()
                    )
                _CHANGE_KINDS_BY_DIR[d] = kinds
            out |= kinds
        return out

    def changes(self, spark: SparkSession, from_v: int, to_v: int) -> DataFrame:
        """CDF rows committed in (from_v, to_v]."""
        horizon = self.vacuum_horizon()
        if horizon is not None and from_v < horizon:
            raise ValueError(
                f"changes({from_v}, {to_v}] needs commits <= v={horizon} "
                f"that vacuum removed (checkpointed state covers them; "
                f"row-level change feed does not survive vacuum)"
            )
        return self._read(
            spark, [v for v in self.versions() if from_v < v <= to_v]
        )

    def describe_history(self, spark: SparkSession) -> DataFrame:
        """``DESCRIBE HISTORY`` for this substrate: one row per
        SURVIVING commit with per-change-type row counts, whether a
        checkpoint covers that version, and the vacuum horizon —
        the audit surface Delta renders from its transaction log.
        Each commit dir contributes ONE distributed count aggregation
        (union of one-row frames); the driver receives |versions|
        rows, never data. Vacuumed commits are absent by definition —
        their row-level feed no longer exists (``vacuum``'s contract);
        the surviving checkpoint covers their state."""
        from pyspark.sql import functions as F

        vs = self.versions()
        if not vs and not self.checkpoints():
            raise ValueError(f"no committed versions under {self.root}")
        cks = set(self.checkpoints())
        horizon = self.vacuum_horizon()
        if not vs:
            # Every commit dir vacuumed; only checkpoints survive.
            # There is no per-commit feed left to audit — say so
            # loudly instead of tripping over an empty frame list.
            raise ValueError(
                f"no surviving commit dirs under {self.root} (vacuum "
                f"horizon v={horizon}; checkpoints {sorted(cks)} cover "
                "state but carry no per-commit change feed)"
            )
        frames = []
        for v in vs:
            df = spark.read.parquet(self._version_dir(v))

            def n_of(ct: str):
                return F.sum(
                    F.expr(
                        f"CASE WHEN _change_type = '{ct}' THEN 1 "
                        f"ELSE 0 END"
                    )
                ).cast("bigint")

            frames.append(
                df.agg(
                    n_of("insert").alias("n_insert"),
                    n_of("delete").alias("n_delete"),
                    n_of("update_postimage").alias("n_update"),
                ).select(
                    F.lit(v).cast("bigint").alias("version"),
                    "n_insert",
                    "n_delete",
                    "n_update",
                    F.lit(v in cks).alias("is_checkpoint"),
                    F.lit(horizon).cast("bigint").alias("vacuum_horizon"),
                )
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def signed_changes(
        self, spark: SparkSession, from_v: int, to_v: int
    ) -> DataFrame:
        from ..plans.signed import signed_of_cdf

        return signed_of_cdf(self.changes(spark, from_v, to_v))

    def snapshot(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Table state as of ``version``: the latest checkpoint <= it
        (each stored row re-entering the fold with sign +1) plus the
        signed fold of ONLY the tail commits after that checkpoint —
        or the full-history fold when no checkpoint covers it."""
        from pyspark.sql import functions as F

        from ..plans.signed import SIGN, signed_of_cdf

        vs = self.versions()
        cks = self.checkpoints()
        if version is None:
            if not vs and not cks:
                raise ValueError(f"no committed versions under {self.root}")
            version = max(vs[-1] if vs else -1, cks[-1] if cks else -1)
        base_ck = max((c for c in cks if c <= version), default=None)
        horizon = self.vacuum_horizon()
        if base_ck is None:
            if horizon is not None:
                raise ValueError(
                    f"snapshot({version}) predates the vacuum horizon "
                    f"v={horizon}: its commits were removed and no "
                    f"checkpoint <= {version} exists"
                )
        elif (
            horizon is not None
            and base_ck < horizon
            and version > base_ck
            and version not in cks
        ):
            # A version strictly between two checkpoints whose tail
            # commits vacuum removed: folding the surviving commits
            # alone would silently return the BASE checkpoint's state
            # labeled as `version`. Raise loudly instead, exactly as
            # for the no-checkpoint case above.
            have = set(vs)
            gone = [
                v
                for v in range(base_ck + 1, min(version, horizon) + 1)
                if v not in have
            ]
            if gone:
                raise ValueError(
                    f"snapshot({version}) needs commits {gone} between "
                    f"checkpoint v={base_ck} and the vacuum horizon "
                    f"v={horizon} that vacuum removed — only "
                    f"checkpointed versions in that range are readable"
                )
        tail = [
            v
            for v in vs
            if (base_ck if base_ck is not None else -1) < v <= version
        ]
        # Insert-only fast path: when no tail commit carries a
        # tombstone (delete / update_preimage), nothing can cancel, so
        # the fold's full-row groupBy — a shuffle of the entire table
        # payload keyed on every column — degenerates to a plain
        # multiset union of checkpoint rows and insert rows. The bulk
        # loads, COPY INTO ledgers, and auto-loader commits that
        # dominate the lifecycle queries all hit this path (guide
        # §2.4: remove shuffles outright). Kind detection is a
        # column-pruned scan of each commit's _change_type, memoized
        # per write-once commit dir (a real Delta log records the
        # operation per commit; this is the parquet-emulation
        # equivalent).
        if tail and self._change_kinds(spark, tail) <= {"insert"}:
            from ..plans.signed import CHANGE_TYPE

            ins = self._read(spark, tail).drop(CHANGE_TYPE)
            if base_ck is None:
                return ins
            ck = _read_dirs(spark, [self._ckpt_dir(base_ck)])
            return ck.unionByName(ins, allowMissingColumns=True)
        parts: list[DataFrame] = []
        if base_ck is not None:
            ck = _read_dirs(spark, [self._ckpt_dir(base_ck)])
            if not tail:
                return ck  # the checkpoint IS the state as of `version`
            parts.append(ck.withColumn(SIGN, F.lit(1)))
        if tail:
            parts.append(signed_of_cdf(self._read(spark, tail)))
        sdf = parts[0]
        for extra in parts[1:]:
            # additive schema evolution across the checkpoint boundary,
            # same semantics as _read's mergeSchema
            sdf = sdf.unionByName(extra, allowMissingColumns=True)
        data_cols = [c for c in sdf.columns if c != SIGN]
        net = sdf.groupBy(*data_cols).agg(F.sum(SIGN).alias("_net"))
        guarded = net.where(
            "CASE WHEN _net < 0 THEN CAST(raise_error("
            "'corrupt CDF history: row retracted more times than "
            "inserted') AS BOOLEAN) ELSE _net > 0 END"
        )
        return guarded.withColumn(
            "_dup", F.explode(F.expr("sequence(1, _net)"))
        ).select(*data_cols)

    def delete_where(self, spark: SparkSession, predicate: str) -> int:
        """Merge-on-read DELETE: commit delete-rows for every current
        row matching ``predicate`` — NO data file is rewritten (the
        deletion-vector economics: at 100 TB a copy-on-write delete
        rewrites every touched file; this writes only the deleted
        rows' worth of tombstones, and readers fold them). The scan
        feeding the tombstones is the usual checkpointed snapshot, so
        with a checkpoint in place it reads checkpoint + tail only.
        Returns the committed version."""
        from pyspark.sql import functions as F

        doomed = self.snapshot(spark).where(predicate)
        return self.write_version(
            doomed.withColumn("_change_type", F.lit("delete"))
        )

    def update_where(
        self, spark: SparkSession, set_exprs: dict[str, str], predicate: str
    ) -> int:
        """Merge-on-read UPDATE: commit update_preimage/update_postimage
        pairs for the matching rows — again no data-file rewrite.
        Every SET expression reads the PRE-update row (standard SQL).
        Returns the committed version."""
        from pyspark.sql import functions as F

        pre = self.snapshot(spark).where(predicate)
        unknown = [c for c in set_exprs if c not in pre.columns]
        if unknown:
            raise ValueError(f"UPDATE SET targets unknown columns {unknown}")
        post = pre.select(
            *[
                F.expr(set_exprs[c]).alias(c) if c in set_exprs else F.col(c)
                for c in pre.columns
            ]
        )
        batch = pre.withColumn(
            "_change_type", F.lit("update_preimage")
        ).unionByName(
            post.withColumn("_change_type", F.lit("update_postimage"))
        )
        return self.write_version(batch)

    def restore(self, spark: SparkSession, version: int) -> int:
        """Delta's ``RESTORE TABLE … TO VERSION AS OF n``: roll the
        table BACK by rolling FORWARD — commit the multiset difference
        between the current state and ``snapshot(version)`` as a NEW
        version, never by deleting history (time travel to the
        pre-restore state keeps working; DESCRIBE HISTORY shows the
        restore as one more commit — Delta's exact contract).

        Because the CDF fold is multiset-signed, the repair batch
        needs no key: per distinct row, multiset(current) −
        multiset(target) is exactly the NET SIGN of the commits AFTER
        ``version`` (the shared prefix cancels identically), so the
        batch is one signed fold of those tail commits — rows with
        net > 0 become that many deletes, net < 0 that many inserts.
        Neither snapshot is materialized and nothing shuffles twice;
        at 100 TB the fold runs over the drift's commits only, exactly
        the economics a real Delta log gives RESTORE (r17, guide
        §2.3/§2.4 — the previous shape paid two ``exceptAll`` passes
        over BOTH fully-folded snapshots, ~4 full-table shuffles for
        the same batch; multiset equivalence pinned by
        ``tests/test_restore_property.py`` and
        ``test_restore_tail_fold_matches_except_all``).

        When vacuum removed a tail commit, the identity has no feed —
        fall back to diffing the two (checkpoint-served) snapshots,
        still in ONE signed pass rather than two exceptAll plans.
        Zero existing files are rewritten (merge-on-read economics);
        the commit is exactly the drifted rows' worth of bytes. A
        restore to the current state commits an EMPTY batch (still a
        commit, matching Delta's no-op-restore-still-logs behavior).
        Returns the new version."""
        from pyspark.sql import functions as F

        from ..plans.signed import CHANGE_TYPE, SIGN, signed_of_cdf

        vs = self.versions()
        cks = self.checkpoints()
        latest = max(vs[-1] if vs else -1, cks[-1] if cks else -1)
        tail = [v for v in vs if version < v <= latest]
        if not tail and version >= 0 and latest <= version:
            # Restoring to (or past) the head: nothing after `version`
            # exists to undo. Validate the target the way a read would,
            # then commit the empty batch. limit(0) folds to an empty
            # LocalRelation — no job runs.
            empty = (
                self.snapshot(spark, version)
                .limit(0)
                .withColumn(CHANGE_TYPE, F.lit("insert"))
            )
            return self.write_version(empty)
        if set(tail) == set(range(version + 1, latest + 1)):
            # Every post-target commit survives: fold ONLY those.
            # Validate `version` itself is servable (checkpoint/vacuum
            # rules) exactly as the snapshot path would — the plan is
            # lazy, so this costs analysis only, never a job.
            self.snapshot(spark, version)
            sdf = signed_of_cdf(self._read(spark, tail))
        else:
            # Vacuum holes in the tail: serve both states from
            # checkpoints and diff them in one signed pass.
            sdf = (
                self.snapshot(spark)
                .withColumn(SIGN, F.lit(1))
                .unionByName(
                    self.snapshot(spark, version).withColumn(
                        SIGN, F.lit(-1)
                    ),
                    allowMissingColumns=True,
                )
            )
        data_cols = [c for c in sdf.columns if c != SIGN]
        net = (
            sdf.groupBy(*data_cols)
            .agg(F.sum(SIGN).alias("_net"))
            .where("_net != 0")
        )
        batch = (
            net.withColumn(
                "_dup", F.explode(F.expr("sequence(1, abs(_net))"))
            )
            .withColumn(
                CHANGE_TYPE,
                F.when(F.col("_net") > 0, F.lit("delete")).otherwise(
                    F.lit("insert")
                ),
            )
            .select(*data_cols, CHANGE_TYPE)
        )
        return self.write_version(batch)

    def checkpoint(self, spark: SparkSession, version: int | None = None) -> int:
        """Materialize ``snapshot(version)`` as a checkpoint (Delta's
        log checkpoint): later snapshots fold only commits after it.
        Idempotence guard: re-checkpointing a version raises."""
        if version is None:
            version = self.latest_version()
        if version in self.checkpoints():
            raise ValueError(f"version {version} already checkpointed")
        self.snapshot(spark, version).write.mode("errorifexists").parquet(
            self._ckpt_dir(version)
        )
        return version

    def vacuum(self) -> list[int]:
        """Delete the commit dirs the latest checkpoint supersedes
        (Delta ``VACUUM``): time travel to covered versions is served
        by checkpoints; reads that would need a removed commit raise
        on the recorded horizon. Returns the removed version numbers."""
        import shutil

        cks = self.checkpoints()
        if not cks:
            raise ValueError(
                f"vacuum needs a checkpoint under {self.root} — it only "
                f"removes commits whose state a checkpoint preserves"
            )
        horizon = cks[-1]
        removed = [v for v in self.versions() if v <= horizon]
        for v in removed:
            shutil.rmtree(self._version_dir(v))
        prev = self.vacuum_horizon()
        if removed and (prev is None or horizon > prev):
            with open(self._horizon_path, "w", encoding="ascii") as fh:
                fh.write(str(horizon))
        return removed


class ShallowCloneTable(CdfVersionedTable):
    """Delta's ``CREATE TABLE dst SHALLOW CLONE src [VERSION AS OF n]``
    over the CDF substrate: a ZERO-COPY fork. The clone's root holds
    only a tiny JSON manifest (source root + clone point); history up
    to the clone point resolves to the SOURCE's commit/checkpoint
    directories (``_version_dir``/``_ckpt_dir`` overrides — no data
    file is copied, asserted in tests via the absence of parquet under
    the clone root), while every commit after it lands under the
    clone's own root. Source and clone then diverge independently:
    clone DML never writes into the source, and version numbering
    continues from the clone point (the inherited versions feed the
    same floor computation write_version already runs).

    Same caveat as real Delta shallow clones: VACUUM on the SOURCE
    breaks clones that still reference the removed commits — the
    inherited vacuum horizon surfaces that loudly at read time. VACUUM
    on the CLONE only ever removes the clone's own commit dirs."""

    _MANIFEST = "_CLONE_MANIFEST.json"

    def __init__(self, root: str):
        import json

        super().__init__(root)
        with open(os.path.join(root, self._MANIFEST), encoding="ascii") as fh:
            m = json.load(fh)
        self._src = CdfVersionedTable(m["source_root"])
        self._as_of = int(m["as_of_version"])

    @classmethod
    def create(
        cls,
        src: CdfVersionedTable,
        dst_root: str,
        version: int | None = None,
    ) -> "ShallowCloneTable":
        import json

        if version is None:
            version = src.latest_version()
        available = set(src.versions()) | set(src.checkpoints())
        if version not in available:
            raise ValueError(
                f"SHALLOW CLONE VERSION AS OF {version}: source has "
                f"versions {sorted(available)}"
            )
        if os.path.exists(dst_root) and os.listdir(dst_root):
            raise ValueError(f"clone target {dst_root} is not empty")
        os.makedirs(dst_root, exist_ok=True)
        with open(
            os.path.join(dst_root, cls._MANIFEST), "w", encoding="ascii"
        ) as fh:
            json.dump(
                {
                    "source_root": src.root,
                    "as_of_version": int(version),
                },
                fh,
            )
        return cls(dst_root)

    def _version_dir(self, version: int) -> str:
        if version <= self._as_of:
            return self._src._version_dir(version)
        return super()._version_dir(version)

    def _ckpt_dir(self, version: int) -> str:
        if version <= self._as_of:
            return self._src._ckpt_dir(version)
        return super()._ckpt_dir(version)

    def versions(self) -> list[int]:
        local = super().versions()
        inherited = [v for v in self._src.versions() if v <= self._as_of]
        return sorted(set(inherited) | set(local))

    def checkpoints(self) -> list[int]:
        local = super().checkpoints()
        inherited = [
            c for c in self._src.checkpoints() if c <= self._as_of
        ]
        return sorted(set(inherited) | set(local))

    def vacuum_horizon(self) -> int | None:
        local = super().vacuum_horizon()
        src_h = self._src.vacuum_horizon()
        inherited = min(src_h, self._as_of) if src_h is not None else None
        if local is None:
            return inherited
        if inherited is None:
            return local
        return max(local, inherited)

    def vacuum(self) -> list[int]:
        """Clone-scoped VACUUM: only the clone's OWN commit dirs (v >
        clone point) are ever removed — inherited dirs belong to the
        source and other clones may still reference them."""
        import shutil

        cks = self.checkpoints()
        local_cks = [c for c in cks if c > self._as_of]
        if not local_cks:
            raise ValueError(
                f"vacuum on clone {self.root} needs a LOCAL checkpoint "
                f"(> clone point v={self._as_of}) — it only removes "
                f"the clone's own commits"
            )
        horizon = local_cks[-1]
        removed = [
            v for v in self.versions() if self._as_of < v <= horizon
        ]
        for v in removed:
            shutil.rmtree(self._version_dir(v))
        prev = super().vacuum_horizon()
        if removed and (prev is None or horizon > prev):
            with open(self._horizon_path, "w", encoding="ascii") as fh:
                fh.write(str(horizon))
        return removed


class VersionedSignedCatalog(SignedDeltaCatalog):
    """SignedDeltaCatalog over CdfVersionedTable storage: the signed
    compiler's old/new/changes reads served from a real stored change
    log instead of the predicate-split emulation. Tables without a
    CDF log are static (read from ``sf_dir``, empty change batch).

    ``version_pins[name] = (old_v, new_v)`` — the maintained version
    and the target version, exactly the two points a Delta CDF read
    (``startingVersion``/``endingVersion``) would span.
    """

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        tables: dict[str, "CdfVersionedTable"],
        version_pins: dict[str, tuple[int, int]],
    ):
        super().__init__(spark, sf_dir, specs={})
        self.tables = tables
        self.version_pins = version_pins

    def _pins(self, name: str) -> tuple[int, int]:
        if name in self.version_pins:
            return self.version_pins[name]
        latest = self.tables[name].latest_version()
        return latest, latest

    def old(self, name: str) -> DataFrame:
        if name not in self.tables:
            return self._base(name)
        return self.tables[name].snapshot(self.spark, self._pins(name)[0])

    def new(self, name: str) -> DataFrame:
        if name not in self.tables:
            return self._base(name)
        return self.tables[name].snapshot(self.spark, self._pins(name)[1])

    def cdf_changes(self, name: str) -> DataFrame:
        if name not in self.tables:
            return super().cdf_changes(name)  # static: empty batch
        old_v, new_v = self._pins(name)
        if old_v == new_v:
            empty = self.old(name).where("1 = 0")
            from pyspark.sql import functions as F

            return empty.withColumn("_change_type", F.lit("insert"))
        return self.tables[name].changes(self.spark, old_v, new_v)
