"""Continuous aggregate table: a stored GROUP BY that refreshes from
delta batches without ever rescanning history.

This closes the loop the reference's IVM idea points at but never
builds (its rewrite stops at delta *plans*, optimizer_rules/mod.rs —
no storage, no refresh cycle): ``maintain_agg_of_sql`` shows one
refresh as a plan; here the merged state actually persists, and the
NEXT refresh merges the stored state with the new batch's partial —
the snapshot side is never recomputed.

Storage layout is the *partial* representation (mergeable state), not
the finals: ``sum``/``count`` store running sums, ``min``/``max``
running extremes, ``avg`` its sum+count pair. ``read()`` derives the
finals (and applies HAVING) on the way out. That is exactly how a
partial aggregate crosses a shuffle boundary inside Spark — the table
is a durable map-side partial.

Scale posture: a refresh is one write plan. The stored state and the
delta batch's rows meet in ONE aggregate on the group keys (map-side
combine, one exchange, no join); each partial column folds
(``AggAlgebra.folded``) and the result is written back. So the input
side costs ``O(|Δ|)`` and the state is scanned once and written once:
the touched partitions with ``partition_on``, else the whole table,
which is small (one row per group), not the input. History is never
rescanned. On a lakehouse table format the write becomes ``MERGE
INTO`` and rewrites only matched files.

Insert-only batches refresh via ``refresh``; batches with deletes and
updates (Delta-CDF shape, or pre-signed rows) via ``refresh_signed`` —
sum/count/avg merge algebraically from signed partials, and min/max
(which cannot absorb a retraction) recompute from the post-change base
for the groups the batch retracts from, in the same aggregate.

Every maintainer here keeps its state in a ``sources.state.StateStore``
(schema-known reads, the initial write, replay markers, retention
predicates) and refreshes it in one write plan, through one of the
store's two builders. ``ContinuousAggregate`` and its subclasses, the
distinct-pair tables and the sketches fold: ``StateStore.fold``, as
above. The top-k view and the rollup cascade's coarse tiers replace
the touched groups: ``StateStore.replace`` makes the state ``state ⋉̸
touched ∪ fresh``, where ``fresh`` holds the complete new rows of the
touched groups. A group whose live row count reaches zero (a pair
netted to zero, a day whose hours all died, a row displaced from a
top-k) leaves without a separate delete frame: the fold's keep
predicate drops it, or it is touched and has no fresh row.

Every aggregate class here takes its expression lists from the one
aggregate algebra (``plans.sql_frontend.AggAlgebra``) the
``maintain_*_of_sql`` plans run on; only the state and the refresh
cycle are this module's.

``count(DISTINCT)`` is rejected by ``ContinuousAggregate``: its
mergeable state is the distinct (keys, value) pair set, which belongs
in its own table — ``ContinuousDistinctAggregate`` (below) stores it
exactly, and ``delta_ndv_maintenance`` carries the bounded-sketch
alternative. NULL grouping keys are rejected at refresh time: the
fold matches stored rows on key equality, and SQL NULL never equals
itself, so a NULL-key state row could never be merged into.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.sql_frontend import (
    NET_ROWS,
    ROWS,
    AggAlgebra,
    UnsupportedSQL,
    agg_pairs,
    parse_agg_sql,
)
from ..sources.state import (
    KeyFrames,
    StateStore,
    _quoted,
    guarded,
    touched_keys,
)

# The refresh guards' messages, raised inside the write plan and again
# as ValueError.
_NULL_KEY_IN_DELTA = (
    "continuous aggregate: NULL grouping key in delta batch — a NULL-key "
    "state row can never be matched by the fold (coalesce the key in the "
    "statement)"
)
_NULL_KEY_IN_CHANGES = (
    "continuous aggregate: NULL grouping key in change batch"
)
_OVER_RETRACTION = (
    "change batch retracts rows a group never had (negative live count) "
    "— refusing to corrupt the state"
)
_NO_BASE = (
    "a retraction threatens a stored top-k row (its runner-up is not in "
    "state) — pass base_new_df (the post-change base) for delta-scoped "
    "recompute"
)
_DUPLICATE_ID = (
    "top-k candidates hold one id twice in a group — a batch re-inserts "
    "a row the state already holds; retract it first"
)
_NULL_PAIR = (
    "continuous distinct aggregate: NULL grouping key or NULL DISTINCT "
    "argument in the batch — NULL pairs cannot round-trip the fold's "
    "key equality match"
)
_PAIR_OVER_RETRACTION = (
    "change batch retracts (group, value) pairs it never had — refusing "
    "to corrupt the state"
)


class ContinuousAggregate:
    """A SQL GROUP BY statement materialized as a refreshable table.

    >>> view = ContinuousAggregate(spark, path, sql)
    >>> view.initialize(base_df)        # full aggregate, once
    >>> view.refresh(delta_batch_df)    # per batch: merge partials
    >>> view.read()                     # finals, HAVING applied
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        sql: str,
        partition_on: list[str] | None = None,
    ) -> None:
        self._bind(spark, path, parse_agg_sql(sql), partition_on)

    def _bind(
        self,
        spark: SparkSession,
        path: str,
        spec: dict,
        partition_on: list[str] | None,
    ) -> None:
        """Bind the state store and the aggregate algebra of ``spec``
        (the join subclass passes its fragment-folded spec, whose keys
        and arguments are the projected ``_k{i}``/``_a{i}`` columns).

        ``partition_on`` (optional grouping-key OUTPUT names) lays the
        state table out as directory partitions on those keys, and
        every refresh reads and rewrites only the partitions its batch
        touches: with billions of groups, a batch touching a few
        partitions rewrites only those directories instead of the
        whole state table. Partition values are key values, so a group
        never moves between partitions."""
        self.spark = spark
        self.path = path
        self.spec = spec
        self.partition_on = list(partition_on or [])
        bad = [c for c in self.partition_on if c not in spec["key_names"]]
        if bad:
            raise ValueError(
                f"partition_on columns {bad} are not grouping-key "
                f"output names {spec['key_names']}"
            )
        if any(a["fn"] == "count_distinct" for a in spec["aggs"]):
            raise UnsupportedSQL(
                "count(DISTINCT) state is a distinct-pair set, not a "
                "scalar — use ContinuousDistinctAggregate (exact, stored "
                "pair tables) or delta_ndv_maintenance (sketch) instead"
            )
        self.store = StateStore(spark, path, self.partition_on)
        self.alg = AggAlgebra(spec)

    # -- plan builders -------------------------------------------------

    def _project(self, df: DataFrame) -> DataFrame:
        """Hook mapping an arriving batch (or base read) to the frame
        the aggregate expressions run over. Identity here; the join
        subclass runs the batch through the dim-join fragment."""
        return df

    def _input(self, df: DataFrame) -> DataFrame:
        """The rows the aggregate expressions read: WHERE applied,
        projected."""
        if self.spec["where"]:
            df = df.where(self.spec["where"])
        return self._project(df)

    def _partial_of(self, df: DataFrame) -> DataFrame:
        return self.alg.grouped(self._input(df), self.alg.partial)

    def _key_level(self) -> tuple:
        """The group keys as a ``touched_keys`` level: the grouping
        expressions over projected rows, named and typed as stored."""
        types = {f.name: f.dataType for f in self.store.schema().fields}
        names = self.spec["key_names"]
        return self.spec["keys"], names, [types[n] for n in names]

    def _retracting(self) -> str | None:
        """The predicate on projected signed rows that retract a
        non-NULL min/max argument (None without min/max): only their
        groups can lose a stored extremum."""
        from ..plans.signed import SIGN

        if not self.alg.minmax:
            return None
        args = " OR ".join(f"({a['arg']}) IS NOT NULL" for a in self.alg.minmax)
        return f"{SIGN} < 0 AND ({args})"

    # -- lifecycle -----------------------------------------------------

    def initialize(self, base_df: DataFrame) -> None:
        """Full aggregate of the initial data → stored partial state,
        replacing any previous table (and its replay markers and
        retention predicates) at this path."""
        self.store.create(self._partial_of(base_df))

    # -- retention (TimescaleDB drop_chunks) ----------------------------

    def _retention_predicates(self) -> list[str]:
        try:
            with open(self.store.retention_path, encoding="utf-8") as fh:
                return [ln for ln in fh.read().splitlines() if ln.strip()]
        except FileNotFoundError:
            return []

    def drop_chunks(self, where: str) -> int:
        """Retention: DELETE the state partition directories whose
        partition values match ``where`` (TimescaleDB ``drop_chunks``;
        Delta ``DELETE WHERE`` on a partition boundary). The predicate
        is recorded, and every later refresh drops contributions to
        retained-out groups — a late row for a dropped window must not
        resurrect a PARTIAL group that looks like a complete one; the
        retention policy applies to stragglers too. Requires
        partitioned state (retention on an unpartitioned table would
        be a full rewrite, not a directory drop). Returns the number
        of partitions removed."""
        import shutil

        from ..sources.sinks import _partition_dirs

        if not self.partition_on:
            raise ValueError(
                "drop_chunks needs partition_on state — retention is a "
                "directory drop, not a table rewrite"
            )
        state = self.store.read()
        # ≤ one row per live partition: driver-safe
        doomed = _partition_dirs(
            self.path,
            self.partition_on,
            state.select(*self.partition_on).distinct().where(where),
        )
        for d in doomed:
            shutil.rmtree(d)
        with open(self.store.retention_path, "a", encoding="utf-8") as fh:
            fh.write(where + "\n")
        return len(doomed)

    def _apply_retention(self, rows: DataFrame, exprs) -> DataFrame:
        """``rows`` without those of retained-out groups: each
        predicate runs over the rows' keys (``exprs``, SQL over
        ``rows``), beside the rows kept whole in a struct, so a key
        named like a raw column cannot shadow it."""
        preds = self._retention_predicates()
        if not preds:
            return rows
        keyed = rows.select(
            F.struct(*[rows[c] for c in rows.columns]).alias("__row"),
            *[
                F.expr(e).alias(n)
                for e, n in zip(exprs, self.spec["key_names"])
            ],
        )
        for pred in preds:
            keyed = keyed.where(f"NOT ({pred})")
        return keyed.select("__row.*")

    def refresh(self, delta_df: DataFrame) -> None:
        """Merge one insert batch into the stored state (``_fold``)."""
        self._fold(
            self._input(delta_df), self.alg.partial, _NULL_KEY_IN_DELTA
        )

    def refresh_signed(
        self, changes_df: DataFrame, base_new_df: DataFrame | None = None
    ) -> None:
        """Apply one retraction-capable change batch (deletes/updates
        included) to the stored state.

        ``changes_df`` is either a Delta-CDF-shaped relation
        (``_change_type`` column) or an already-signed one (``_sign``
        ∈ {±1}). sum/count/avg state merges algebraically from signed
        partials; a group whose live row count reaches zero is DELETED
        from the state table (its folded row fails the ``_rows > 0``
        filter of the write). min/max state cannot absorb an arbitrary
        retraction (the runner-up is gone from the partial), so
        statements carrying min/max require ``base_new_df`` — the
        post-change base table. A group whose stored extremum no
        retraction in the batch threatens (no retracted value ≤ the
        stored min / ≥ the stored max) keeps
        ``least/greatest(stored, batch-insert extremum)``; a threatened
        group takes its recompute from the post-change base.

        The base is read only when the batch retracts a min/max
        argument: one driver collect (``sources.state.touched_keys``)
        takes the key hashes of the retracting rows, the base filtered
        to that literal set enters the fold's one aggregate beside the
        stored rows and the batch, and the threat test then picks each
        group's value. An insert-only batch leaves the set empty, and
        the empty filter prunes the base from the plan, a
        ``CdfVersionedTable`` fold included. The filter reads no scan's
        statistics, so the base's files are still read whole; it bounds
        what is shuffled and aggregated. For the join subclass with
        DIM-side grouping keys the filter can only sit above the fact ⋈
        dim join, so that recompute costs a fact pass — lay the fact
        out partitioned/clustered on the join key to restore pruning
        there.

        A batch that retracts more rows than a group ever had is
        rejected loudly — silent negative counts would corrupt every
        later refresh.
        """
        self._merge_signed_projected(
            self._signed_batch(changes_df), base_new_df
        )

    def _signed_batch(self, changes_df: DataFrame) -> DataFrame:
        """A change batch as signed rows, WHERE applied, projected."""
        from ..plans.signed import SIGN, signed_of_cdf

        if "_change_type" in changes_df.columns:
            changes_df = signed_of_cdf(changes_df)
        if SIGN not in changes_df.columns:
            raise ValueError(
                "refresh_signed needs a _change_type (CDF) or _sign "
                "column; for plain insert batches use refresh()"
            )
        return self._input(changes_df)

    def _merge_signed_projected(
        self, df: DataFrame, base_new_df: DataFrame | None, retracted=None
    ) -> None:
        """Signed entry of ``_fold``: ``df`` is an already-projected
        signed delta of the aggregate's INPUT relation (base rows for
        the plain class; the compiled join-fragment output for the
        join subclass — whichever side of the join the signs rode in
        on), and ``base_new_df`` the post-change base the min/max
        repair recomputes from. ``retracted`` is the key set of the
        groups ``df`` retracts a min/max argument from; without it,
        ``_retracted`` makes it."""
        if self.alg.minmax and base_new_df is None:
            raise ValueError(
                "statement carries min/max: signed partials cannot "
                "retract an extremum — pass base_new_df (the "
                "post-change base) for delta-scoped recompute"
            )
        if self.alg.minmax and retracted is None:
            retracted = self._retracted(df)
        # The fold's one aggregate carries both the mergeable signed
        # partials and the min/max threat probes (_d{i}).
        self._fold(
            df,
            self.alg.signed + self.alg.probe,
            _NULL_KEY_IN_CHANGES,
            base_new_df if self.alg.minmax else None,
            retracted,
        )

    def _retracted(self, df: DataFrame):
        """The key set of the groups the projected signed batch ``df``
        retracts a min/max argument from: the ``_retracting`` rows' key
        hashes, from one collect."""
        rows = df.where(self._retracting())
        return touched_keys(rows, [self._key_level()])[0]

    def _fold(
        self,
        rows: DataFrame,
        aggs: list[str],
        null_key_msg: str,
        base_new_df: DataFrame | None = None,
        retracted=None,
        exprs: list[str] | None = None,
    ) -> None:
        """The one merge body: the state becomes ``stored ⊎ Δ`` grouped
        by the keys, folded, in one aggregate and one write
        (``StateStore.fold``).

        ``rows`` are the batch's projected rows (``exprs`` its keys,
        default the grouping expressions) and ``aggs`` their partials
        (``partial`` for inserts, ``signed`` and ``probe`` for a signed
        batch), computed in the same aggregate that reads each group's
        stored row (the touched partitions when the state is
        partitioned, else the whole table). Every partial column then
        takes ``AggAlgebra.folded``: stored rows the batch misses pass
        through, new groups enter, a group at zero live rows is
        filtered out and so leaves. With ``base_new_df`` (a signed
        batch carrying min/max), the groups in ``retracted`` (the key
        set of the groups the batch retracts an extremum argument
        from) recompute their extrema from it in the same aggregate:
        its rows are a third input, read only by the ``__r<c>``
        columns. The base is restricted by ``retracted.restrict``: a
        literal filter on the hash of the evaluated grouping keys,
        which reads no batch row and which Catalyst pushes below the
        base's own plan (a CDF snapshot's fold, say); an empty set
        prunes the base whole. A hash collision recomputes an
        untouched group too, which no threat picks, and a group only
        the base holds has no live rows and leaves. The NULL-key and
        negative-count guards are ``raise_error`` inside the written
        frame, so the refresh is one write action; a failed write
        leaves the state as it was, and the guard's message is raised
        again as ``ValueError``.

        Retention predicates filter the batch's rows first: a late row
        (or a retraction) aimed at a dropped window is covered by the
        drop, and its partition is never rewritten."""
        also, repaired = [], None
        if base_new_df is not None and self.alg.minmax:
            base = retracted.restrict(
                self._input(base_new_df), self.spec["keys"]
            )
            also = [(base, self.spec["keys"], [
                f"{m['call']} AS __r{m['col']}" for m in self.alg.minmax
            ])]
            repaired = "__r"
        keys = self.spec["key_names"]
        exprs = exprs or self.spec["keys"]
        null_key = None
        for k in keys:
            c = F.col(k).isNull()
            null_key = c if null_key is None else null_key | c
        live = F.col("_rows")
        self.store.fold(
            self._apply_retention(rows, exprs),
            keys,
            aggs,
            self.alg.folded("__s", "", repaired),
            keep=live > 0,
            guards=[(null_key, null_key_msg), (live < 0, _OVER_RETRACTION)],
            exprs=exprs,
            also=also,
        )

    def stream_into(self, source_dir: str, schema, checkpoint_dir: str):
        """Refresh this view continuously from a file-source stream.

        This is the SURVEY §7 step-5 claim made executable: Spark's
        IncrementalExecution *is* the PosDelta contract — the file
        source hands each micro-batch exactly the newly-appended rows
        (checkpointed, replay-safe), and ``foreachBatch`` applies the
        same partial-merge refresh a manual delta batch would. With
        ``availableNow`` the stream drains what exists and stops; a
        restart on the same checkpoint resumes AFTER the last committed
        batch — history is neither rescanned nor double-counted.

        Production shape is identical with a Kafka source and a
        lakehouse-table upsert; only the two endpoints change.
        """
        src = self.spark.readStream.schema(schema).parquet(source_dir)
        return (
            src.writeStream.foreachBatch(
                self.store.foreach_batch(checkpoint_dir, self.refresh)
            )
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )

    def stream_into_cdf(
        self,
        source_dir: str,
        schema,
        checkpoint_dir: str,
        base_reader=None,
    ):
        """Refresh this view continuously from a stream of CDF files.

        The retraction-capable sibling of ``stream_into``: each arriving
        file carries change rows (``_change_type`` column in
        ``schema``), and every micro-batch applies ``refresh_signed`` —
        deletes and updates maintain the stored aggregate exactly, dead
        groups leave the state table, and a checkpointed restart
        processes only newly-arrived change files. This is the shape a
        Delta CDF stream (``readChangeFeed`` streaming source) feeds
        directly.

        min/max statements need the post-change base for their
        retraction repair, which a pure change stream does not carry —
        pass ``base_reader``, a zero-arg callable returning the base
        table AS OF the batch being applied (i.e. the table the change
        feed was derived from, which the producer updates before
        emitting the change file — against Delta, a plain
        ``spark.read`` of the same table the CDF stream reads). The
        base is read for the groups a batch retracts from (see
        ``refresh_signed``), so streaming extrema costs that slice per
        batch, not a per-batch rescan. Without ``base_reader``, min/max
        statements are rejected loudly.

        CONSISTENCY PRECONDITION: ``base_reader`` must return the base
        AS OF the batch being applied. A plain-parquet reader returns
        the LATEST base, so with a BACKLOG of change files (restart
        with several pending, or a producer running ahead of the
        stream) the intermediate batches' min/max recomputes would
        read a future base and persist wrong extrema if the
        stream stops before draining. The source is therefore pinned
        to one change file per micro-batch (``maxFilesPerTrigger=1``)
        so a producer that gates file emission on stream progress gets
        exact semantics; with a versioned substrate (Delta time
        travel, ``sources/versioned.py`` snapshots) a version-pinned
        reader removes the constraint entirely.
        """
        if self.alg.minmax and base_reader is None:
            raise UnsupportedSQL(
                "min/max cannot be maintained from a pure change stream "
                "(a retraction needs the post-change base); pass "
                "base_reader (a callable returning the base as of the "
                "applied batch) or use refresh_signed(batch, "
                "base_new_df) batch-side"
            )
        if "_change_type" not in schema.fieldNames():
            raise ValueError(
                "stream_into_cdf: schema must carry the _change_type "
                "column (CDF shape); for plain appends use stream_into"
            )
        # One change file per micro-batch: aligns each applied batch
        # with one producer commit, the granularity the reader
        # consistency precondition is stated at.
        src = (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(source_dir)
        )

        def _refresh(batch_df: DataFrame) -> None:
            base = base_reader() if base_reader is not None else None
            self.refresh_signed(batch_df, base_new_df=base)

        return (
            src.writeStream.foreachBatch(
                self.store.foreach_batch(checkpoint_dir, _refresh)
            )
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )

    def read(self) -> DataFrame:
        """Finals over the stored state; HAVING applied at the end."""
        out = self.alg.finals(self.store.read())
        if self.spec["having"]:
            out = out.where(self.spec["having"])
        return out

    def read_real_time(self, tail_df: DataFrame) -> DataFrame:
        """TimescaleDB real-time aggregate: finals over the stored
        partials MERGED AT QUERY TIME with partials of the
        not-yet-materialized tail — a read beyond the refresh
        watermark is correct WITHOUT a refresh, and state on disk is
        never touched (read-only; no upsert, no markers).

        Cost shape: the tail aggregates to one partial row per
        touched group (∝ |tail|), the combine is one pass over
        state ∪ tail partials — the same single-shuffle merge a
        refresh pays, minus every write. On a partitioned state the
        scan still prunes via ``partition_on``. HAVING applies after
        the merge, exactly as a refreshed ``read()`` would."""
        stored = self.store.read()
        tail_p = self._partial_of(tail_df)
        out = self.alg.finals(self.alg.combined(
            stored.select(*tail_p.columns).unionByName(tail_p)
        ))
        if self.spec["having"]:
            out = out.where(self.spec["having"])
        return out


class ContinuousJoinAggregate(ContinuousAggregate):
    """A stored GROUP BY over a fact ⋈ dims join chain, refreshed from
    fact-side batches — the TimescaleDB-style "continuous aggregate
    over an enriched hypertable" the single-table class cannot express.

    The statement parses through the join-aggregate grammar
    (``parse_join_agg_sql``); one scanned table is declared the FACT
    (the side batches arrive on), every other scan resolves to a
    STATIC dim DataFrame supplied up front. Because the join fragment
    is linear in each input and the dims don't change,
    Δ(fact ⋈ dims) = Δfact ⋈ dims — so a refresh compiles the arriving
    batch through the same fragment (dims broadcast by AQE: the batch
    side is small) and merges partials exactly like the base class; a
    CDF batch's signs ride through the joins untouched (dims carry
    weight +1). The fact must appear exactly once in the fragment:
    with a self-join the bilinear delta has three branches and
    Δfact ⋈ dims alone is wrong, so that is rejected loudly. A dim
    change is maintained through ``refresh_dim_signed`` (the same
    linearity argument with the signed batch in the DIM's scan slot —
    slowly-changing dimensions ripple to the stored aggregate without
    re-initializing).

    min/max statements refresh with ``refresh_signed(batch,
    base_new_df=<post-change fact>)``: the retracted groups' recompute
    joins the post-change fact through the same fragment — sound here
    (unlike the general signed join-SQL path, which rejects min/max)
    precisely because only the fact side ever changes.

    At 100 TB: state is one row per group, the refresh scans only the
    batch plus the dims' join slices, and the stored table is read and
    written once per refresh (only the touched partitions with
    ``partition_on``) — history (the fact table) is never rescanned
    after ``initialize``.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        sql: str,
        fact: str,
        dims: dict[str, DataFrame],
        partition_on: list[str] | None = None,
    ) -> None:
        from ..plans.nodes import Scan
        from ..plans.sql_frontend import (
            fold_join_spec,
            parse_join_agg_sql,
            sql_to_ir,
        )

        jspec = parse_join_agg_sql(sql)
        self._ir = sql_to_ir(jspec["fragment_sql"])
        self.fact = fact
        self.dims = dict(dims)

        tables: list[str] = []

        def walk(node) -> None:
            if isinstance(node, Scan):
                tables.append(node.table)
            for c in node.children:
                walk(c)

        walk(self._ir)
        self._scan_counts = {t: tables.count(t) for t in set(tables)}
        if tables.count(fact) != 1:
            raise UnsupportedSQL(
                f"fact table {fact!r} must appear exactly once in the "
                f"join fragment (found {tables.count(fact)}): "
                "Δfact ⋈ dims is the full delta only when the batch "
                "side is unique"
            )
        missing = sorted(
            {t for t in tables if t != fact and t not in self.dims}
        )
        if missing:
            raise ValueError(
                f"join fragment scans tables with no supplied dim "
                f"DataFrame: {missing}"
            )
        self._bind(spark, path, fold_join_spec(jspec), partition_on)

    def _compile_fragment(self, scan, signed: bool) -> DataFrame:
        """The join fragment compiled with ``scan`` (table name →
        DataFrame) resolving every table; with ``signed``, the
        ``_sign`` column rides through the root projection (the
        fragment is linear in the signed table, so joins pass it
        untouched)."""
        from ..plans.compiler import _compile, scan_by_name
        from ..plans.nodes import Projection
        from ..plans.signed import SIGN, _no_delta

        ir = self._ir
        if signed:
            if not isinstance(ir, Projection):
                raise ValueError(
                    "join fragment root is not a projection; cannot "
                    "carry the _sign column through"
                )
            ir = Projection(list(ir.select_exprs) + [SIGN], ir.input)
        return _compile(ir, scan=scan_by_name(scan), delta_scan=_no_delta)

    def _project(self, df: DataFrame) -> DataFrame:
        """Compile the join fragment with the arriving batch as the
        fact scan and the static DataFrames as the dims."""
        from ..plans.signed import SIGN

        return self._compile_fragment(
            {**self.dims, self.fact: df}.__getitem__, SIGN in df.columns
        )

    def _retracted(self, df: DataFrame):
        """The retracted groups as a frame inside the write's plan: the
        keys of the batch rows that retract an extremum argument. Here
        ``df`` is the batch joined with the dims, so a collect of it
        would run that join in a job of its own."""
        return KeyFrames(
            df.where(self._retracting()).select(*self.alg.key_cols)
        )

    def _merge_signed_projected(
        self,
        df: DataFrame,
        base_new_df: DataFrame | None,
        retracted=None,
        dim_batch: bool = False,
    ) -> None:
        """With ``dim_batch``, ``df`` is the whole fact joined with a
        dim's changes, so a frame over its rows would join the fact
        once more. With min/max its rows are then aggregated to their
        signed partials first; the retracted groups are a frame over
        those partials, and the fold reads the partials, one row per
        group. (Measured on ``signed_continuous_agg_dim`` at sf0.01:
        270,011 input rows this way, 315,011 through a frame over the
        rows.)"""
        if not (dim_batch and self.alg.minmax):
            return super()._merge_signed_projected(df, base_new_df, retracted)
        keys = self.spec["key_names"]
        delta = self.alg.grouped(df, self.alg.signed + self.alg.probe)
        cond = " OR ".join(f"{a['del']} IS NOT NULL" for a in self.alg.minmax)
        parts = [c for c in delta.columns if c not in keys]
        self._fold(
            delta,
            [f"max({c}) AS {c}" for c in parts],
            _NULL_KEY_IN_CHANGES,
            base_new_df,
            KeyFrames(delta.where(cond).select(*keys)),
            [_quoted(k) for k in keys],
        )

    def refresh_dim_signed(
        self,
        dim: str,
        dim_changes_df: DataFrame,
        fact_df: DataFrame,
        dim_new_df: DataFrame,
    ) -> None:
        """Maintain the stored aggregate under a DIM-side change batch
        (the slowly-changing-dimension case ``refresh_signed`` cannot
        express — its batches arrive on the fact).

        The join fragment is linear in each scanned table, so for a
        dim ``D`` changing by signed ``ΔD`` while the fact and the
        other dims hold still, Δ(fact ⋈ … ⋈ D ⋈ …) =
        fact ⋈ … ⋈ ΔD ⋈ … — the fragment compiled with the CHANGE
        BATCH in the dim's scan slot and the signs riding the dim
        side. The join itself scopes the work: only fact rows joining
        a changed dim key survive the hash join (the build side is
        |ΔD|, broadcast), so a dim update costs one fact pass over the
        changed keys' slice, never a recompute of the whole view. A
        priority rewrite moves every joined fact row between groups
        via its ±1 pair; a dim-row delete retracts its fact rows; a
        dim-row insert brings previously-dangling fact rows into the
        view.

        ``dim_changes_df`` is CDF-shaped or pre-signed, in the dim's
        schema. ``fact_df`` is the CURRENT fact (unchanged by this
        batch). ``dim_new_df`` is the post-change dim; it replaces the
        stored static dim so later fact batches and min/max repairs
        join the right version. Statements carrying min/max use the
        same repair as ``refresh_signed``, with the
        post-change join (current fact ⋈ new dims) as the recompute
        base.

        The dim must scan exactly once in the fragment (same linearity
        argument as the fact-uniqueness check); otherwise the delta is
        bilinear and this raises.
        """
        from ..plans.signed import SIGN, signed_of_cdf

        if dim not in self.dims:
            raise ValueError(
                f"unknown dim {dim!r}; supplied dims: "
                f"{sorted(self.dims)}"
            )
        if self._scan_counts.get(dim, 0) != 1:
            raise UnsupportedSQL(
                f"dim {dim!r} scans {self._scan_counts.get(dim, 0)} "
                "times in the join fragment: the single-slot delta "
                "fact ⋈ Δdim is only exact for a linear (once-scanned) "
                "dim"
            )
        if "_change_type" in dim_changes_df.columns:
            dim_changes_df = signed_of_cdf(dim_changes_df)
        if SIGN not in dim_changes_df.columns:
            raise ValueError(
                "refresh_dim_signed needs a _change_type (CDF) or "
                "_sign column on the dim batch"
            )
        joined = self._compile_fragment(
            {**self.dims, self.fact: fact_df, dim: dim_changes_df}.__getitem__,
            signed=True,
        )
        # Install the post-change dim BEFORE the merge: the min/max
        # recompute tier projects base_new_df (the current fact)
        # through the fragment and must see the new dim. Roll the swap
        # back if the merge fails — otherwise later refreshes would
        # join against a dim the STORED state never absorbed and the
        # view would silently diverge.
        old_dim = self.dims[dim]
        self.dims[dim] = dim_new_df
        try:
            self._merge_signed_projected(joined, fact_df, dim_batch=True)
        except BaseException:
            self.dims[dim] = old_dim
            raise

    def stream_dim_cdf(
        self,
        dim: str,
        source_dir: str,
        schema,
        checkpoint_dir: str,
        fact_reader,
        dim_reader,
    ):
        """Maintain the stored join view from a stream of DIM-side CDF
        files — the slowly-changing dimension as a change feed.

        Per micro-batch: ``refresh_dim_signed(dim, batch,
        fact_reader(), dim_reader())``. ``fact_reader`` returns the
        CURRENT fact (unchanged by dim batches); ``dim_reader``
        returns the dim AS OF the applied batch — the producer
        updates the dim table before emitting the change file, so
        against Delta both are plain reads of the live tables the
        feed tracks. Checkpointed exactly like ``stream_into_cdf``:
        a restart processes only newly-arrived change files, and the
        replay marker guards the non-idempotent merge.

        The same consistency precondition as ``stream_into_cdf``'s
        ``base_reader`` applies: with a BACKLOG of pending change
        files, plain-latest readers hand intermediate batches a future
        dim/fact image. The source is pinned to one file per
        micro-batch; producers must gate emission on stream progress
        (or use version-pinned readers) for exact intermediate states.
        """
        if "_change_type" not in schema.fieldNames():
            raise ValueError(
                "stream_dim_cdf: schema must carry the _change_type "
                "column (CDF shape)"
            )
        # One change file per micro-batch: aligns each applied batch
        # with one producer commit, the granularity the reader
        # consistency precondition is stated at.
        src = (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(source_dir)
        )

        def _refresh(batch_df: DataFrame) -> None:
            self.refresh_dim_signed(dim, batch_df, fact_reader(), dim_reader())

        return (
            src.writeStream.foreachBatch(
                self.store.foreach_batch(checkpoint_dir, _refresh)
            )
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


class ContinuousDistinctAggregate:
    """A stored ``count(DISTINCT col)`` GROUP BY — the one aggregate
    class ``ContinuousAggregate`` rejects, materialized with its real
    mergeable state: the distinct (keys, value) pair set with per-pair
    multiplicities, one state table per DISTINCT aggregate.

    Scalar distinct counts don't merge; pair multiplicities do — a
    refresh folds the batch's (keys, value) pair multiplicities into
    the stored ones (``StateStore.fold``, one write per pair table),
    ``read()`` derives counts as one row-count per group
    (the state is distinct by construction), and ``count(*)`` (the
    only other aggregate allowed in the statement) falls out for free
    as the first pair table's multiplicity sum. Signed/CDF batches
    net multiplicities: a pair retracted to zero leaves the table, a
    group losing its last pair vanishes, and net-negative
    multiplicities fail the write loudly (a guard inside its plan).

    Exactness contract: the DISTINCT argument must be non-NULL on
    every WHERE-passing row (enforced at initialize/refresh — same
    loud-guard spirit as NULL grouping keys). Under that contract a
    group exists iff it owns at least one pair, which is exactly SQL
    GROUP BY liveness; NULL-tolerant counting would force sentinel
    keys through the fold's equality matching. At 100 TB the state
    is one row per live (group, value) pair — the information-
    theoretic floor for EXACT distinct counting; the HLL sketch path
    (``delta_ndv_maintenance``) remains the bounded-state alternative.
    """

    def __init__(self, spark: SparkSession, path: str, sql: str) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self.spec = parse_agg_sql(sql)
        self.cds = [
            a for a in self.spec["aggs"] if a["fn"] == "count_distinct"
        ]
        if not self.cds:
            raise UnsupportedSQL(
                "no count(DISTINCT ...) aggregate — use "
                "ContinuousAggregate for scalar-state statements"
            )
        self.counts = [
            a for a in self.spec["aggs"]
            if a["fn"] == "count" and a["arg"].strip() == "*"
        ]
        extra = [
            a for a in self.spec["aggs"]
            if a not in self.cds and a not in self.counts
        ]
        if extra:
            raise UnsupportedSQL(
                f"ContinuousDistinctAggregate maintains count(DISTINCT) "
                f"and count(*) only; {[a['fn'] for a in extra]} belong "
                "in a ContinuousAggregate over the same keys"
            )
        self._key_cols = AggAlgebra(self.spec).key_cols
        # One pair table per DISTINCT aggregate.
        self.stores = [
            StateStore(spark, os.path.join(self.path, f"cd{i}"))
            for i in range(len(self.cds))
        ]

    def _pairs_of(self, df: DataFrame, arg: str, weight: str) -> DataFrame:
        if self.spec["where"]:
            df = df.where(self.spec["where"])
        return agg_pairs(df, self._key_cols, arg, weight)

    def _null_pair(self):
        """The guard on a NULL grouping key or NULL DISTINCT argument,
        raised inside the written frame."""
        bad = None
        for n in self.spec["key_names"] + ["_v"]:
            c = F.col(n).isNull()
            bad = c if bad is None else bad | c
        return bad, _NULL_PAIR

    def initialize(self, base_df: DataFrame) -> None:
        for store, a in zip(self.stores, self.cds):
            store.create(
                guarded(
                    self._pairs_of(base_df, a["arg"], ROWS),
                    [self._null_pair()],
                )
            )

    def _merge(self, i: int, batch: DataFrame, weight: str) -> None:
        """Fold the batch's pair multiplicities under ``weight`` into
        pair table ``i``, counted in the fold's own aggregate: a pair
        netted to zero leaves it."""
        if self.spec["where"]:
            batch = batch.where(self.spec["where"])
        m = F.col("_m")
        self.stores[i].fold(
            batch,
            self.spec["key_names"] + ["_v"],
            [f"{weight} AS __d_m"],
            ["CAST(coalesce(__s_m + __d_m, __s_m, __d_m) AS BIGINT) AS _m"],
            keep=m > 0,
            guards=[self._null_pair(), (m < 0, _PAIR_OVER_RETRACTION)],
            exprs=self.spec["keys"] + [self.cds[i]["arg"]],
        )

    def refresh(self, delta_df: DataFrame) -> None:
        for i in range(len(self.cds)):
            self._merge(i, delta_df, ROWS)

    def refresh_signed(self, changes_df: DataFrame) -> None:
        from ..plans.signed import SIGN, signed_of_cdf

        if "_change_type" in changes_df.columns:
            changes_df = signed_of_cdf(changes_df)
        if SIGN not in changes_df.columns:
            raise ValueError(
                "refresh_signed needs a _change_type (CDF) or _sign "
                "column; for plain insert batches use refresh()"
            )
        for i in range(len(self.cds)):
            self._merge(i, changes_df, NET_ROWS)

    def read(self) -> DataFrame:
        keys = self.spec["key_names"]
        out = None
        for i, a in enumerate(self.cds):
            state = self.stores[i].read()
            aggs = [F.count("*").cast("bigint").alias(a["out"])]
            if i == 0:
                # count(*) = WHERE-passing row multiplicity, derivable
                # from any one pair table's _m sum.
                aggs += [
                    F.sum("_m").cast("bigint").alias(c["out"])
                    for c in self.counts
                ]
            frame = state.groupBy(
                *[state[n] for n in keys]
            ).agg(*aggs)
            out = frame if out is None else out.join(frame, keys)
        # Column order: declared statement order.
        out = out.select(
            *keys, *[a["out"] for a in self.spec["aggs"]]
        )
        if self.spec["having"]:
            out = out.where(self.spec["having"])
        return out


class ContinuousTopK:
    """A stored top-k-per-group view — the per-group leaderboard
    (``delta_topk_maintenance`` shows the refresh as a plan; this
    persists it). State = exactly the top-k rows per group, ordered by
    ``order_col`` (descending by default) with ``id_cols`` as the
    deterministic tie-break and merge key.

    Insert refreshes use the top-k absorption identity
    ``topk(T ∪ Δ) == topk(topk(T) ∪ topk(Δ))`` — only the batch is
    ranked fresh, and only touched groups' state rows re-rank.
    Signed/CDF batches are two-tier, the same discipline as the
    min/max repair: a retraction can evict a stored row whose
    replacement (the k+1-th) the state no longer holds, so a group
    recomputes from ``base_new_df`` ONLY when some retracted row
    could sit in its stored top-k (retracted value ≥ the group's
    stored k-th value, or the group holds fewer than k rows);
    insert-only groups and groups whose retractions all rank below
    the stored boundary merge algebraically with zero base access.

    At 100 TB: state is k rows per group, refreshes are batch-sized
    plus the threatened groups' base slice, and the write replaces
    only touched groups' rows (``StateStore.replace`` with the group
    columns as ``touched``, so displaced rows leave because their
    group is touched and they are not re-written). The threat test,
    the base recompute and the duplicate-id guard all sit inside the
    one write plan: a threatened group with no ``base_new_df``, or an
    id re-inserted while the state holds it, fails the write and
    leaves the state as it was.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_cols: list[str],
        order_col: str,
        k: int,
        id_cols: list[str],
        descending: bool = True,
    ) -> None:
        if k < 1:
            raise ValueError("k must be >= 1")
        if not id_cols:
            raise ValueError(
                "id_cols are the merge key and tie-break — required"
            )
        self.spark = spark
        self.path = path.rstrip("/")
        self.store = StateStore(spark, path)
        self.group_cols = list(group_cols)
        self.order_col = order_col
        self.k = k
        self.id_cols = list(id_cols)
        self.descending = descending

    def _rank(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window as W

        oc = F.col(self.order_col)
        # NULLs rank LAST in both directions: a leaderboard must never
        # let a NULL value crowd out a real one (Spark's bare asc()
        # default is nulls-FIRST, which would store NULL rows as the
        # "smallest"; SQL oracles default to NULLS LAST on ASC).
        order = [
            oc.desc_nulls_last() if self.descending else oc.asc_nulls_last()
        ] + [F.col(c).asc() for c in self.id_cols]
        w = W.partitionBy(*self.group_cols).orderBy(*order)
        return (
            df.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= self.k)
            .drop("_rk")
        )

    def initialize(self, base_df: DataFrame) -> None:
        self.store.create(self._rank(base_df))

    def _replace(self, fresh: DataFrame, touched: DataFrame) -> None:
        """Replace the touched groups with ``fresh``. ``touched`` holds
        group columns only, so rows displaced from a group's top-k are
        simply not re-written. ``fresh`` is ranked candidates, not a
        groupBy output, so an id twice in one group (a batch
        re-inserting a row the state holds) fails the write."""
        from pyspark.sql import Window as W

        ids = self.group_cols + self.id_cols
        twice = F.count(F.lit(1)).over(W.partitionBy(*ids)) > 1
        self.store.replace(
            fresh, touched, ids, guards=[(twice, _DUPLICATE_ID)]
        )

    def refresh(self, delta_df: DataFrame) -> None:
        stored = self.store.read()
        batch_top = self._rank(delta_df)
        touched = batch_top.select(*self.group_cols).distinct()
        cand = stored.join(
            F.broadcast(touched), self.group_cols, "left_semi"
        ).unionByName(batch_top.select(*stored.columns))
        self._replace(self._rank(cand), touched)

    def refresh_signed(
        self, changes_df: DataFrame, base_new_df: DataFrame | None = None
    ) -> None:
        from ..plans.signed import SIGN, signed_of_cdf

        if "_change_type" in changes_df.columns:
            changes_df = signed_of_cdf(changes_df)
        if SIGN not in changes_df.columns:
            raise ValueError(
                "refresh_signed needs a _change_type (CDF) or _sign "
                "column; for plain insert batches use refresh()"
            )
        stored = self.store.read()
        gcols = self.group_cols
        dels = changes_df.where(f"{SIGN} < 0")
        ins = changes_df.where(f"{SIGN} > 0").drop(SIGN)

        # Per touched group: the strongest retracted rank value, plus
        # whether any retraction carries a NULL order value — a stored
        # row can be NULL-ordered (row_number ranks NULLs too when the
        # group holds < k non-null rows), and NULL must never decide
        # "safe" through three-valued logic (a NULL _dv comparison
        # would drop the group from BOTH tiers, leaving the retracted
        # row in state forever).
        agg_fn = "max" if self.descending else "min"
        probe = dels.groupBy(*gcols).agg(
            F.expr(f"{agg_fn}({self.order_col})").alias("_dv"),
            F.max(F.col(self.order_col).isNull()).alias("_dnull"),
        )
        # Stored boundary: the group's k-th (weakest) stored value and
        # its stored row count (< k means no runner-up cushion at all).
        # Only groups the deletes touch are aggregated — the state is
        # never scanned whole per batch.
        bfn = "min" if self.descending else "max"
        bound = (
            stored.join(
                F.broadcast(dels.select(*gcols).distinct()),
                gcols,
                "left_semi",
            )
            .groupBy(*gcols)
            .agg(
                F.expr(f"{bfn}({self.order_col})").alias("_kth"),
                F.count("*").alias("_n"),
            )
        )
        dec = probe.join(bound, gcols, "left")
        cmp_op = ">=" if self.descending else "<="
        unsafe_cond = (
            f"_dnull OR _kth IS NULL OR _n < {self.k} OR _dv {cmp_op} _kth"
        )
        unsafe = dec.where(unsafe_cond).select(*gcols)
        # THREATENED tier: recompute from the post-change base, planned
        # beside the safe tier (a batch threatening no group reads an
        # empty semi join). With no base, a threatened group's row
        # raises inside the write.
        if base_new_df is None:
            fail = F.raise_error(F.lit(_NO_BASE))
            fresh_unsafe = unsafe.select(
                *gcols,
                *[
                    fail.cast(f.dataType).alias(f.name)
                    for f in stored.schema
                    if f.name not in gcols
                ],
            )
        else:
            fresh_unsafe = self._rank(
                base_new_df.join(F.broadcast(unsafe), gcols, "left_semi")
            )

        # SAFE tier: groups whose retractions all rank strictly below
        # the stored boundary (their rows are not in state) merge like
        # an insert batch; groups touched only by inserts likewise.
        ins_top = self._rank(ins)
        safe_touch = (
            ins_top.select(*gcols)
            .unionByName(dec.where(f"NOT ({unsafe_cond})").select(*gcols))
            .distinct()
            .join(unsafe, gcols, "left_anti")
        )
        # Both candidate components restricted to SAFE groups — an
        # unsafe group's inserts are already covered by its base
        # recompute, and letting them leak in here would emit a second
        # (stale) top-k for that group.
        safe_cand = stored.join(
            F.broadcast(safe_touch), gcols, "left_semi"
        ).unionByName(
            ins_top.select(*stored.columns).join(
                F.broadcast(safe_touch), gcols, "left_semi"
            )
        )
        self._replace(
            self._rank(safe_cand).unionByName(
                fresh_unsafe.select(*stored.columns)
            ),
            safe_touch.unionByName(unsafe),
        )

    def read(self) -> DataFrame:
        return self.store.read()


class ContinuousCube(ContinuousAggregate):
    """A CUBE (all 2^d grouping sets over ``cube_keys``) materialized
    as ONE stored continuous aggregate.

    Construction: every arriving row is expanded into its 2^d
    grouping-set contributions — rolled-up key slots carry a sentinel
    value — and the expanded frame flows through the standard
    partial/signed merge machinery via the ``_project`` hook. The
    statement's grouping columns are the cube OUTPUT names
    (e.g. ``priority_g``), so the state table is the full cube with
    margins, maintained under inserts AND retractions exactly like any
    other group: a CDF update that rewrites a cube key moves the row
    between cells, adjusting both old and new margins.

    The sentinel stands in for the grouping NULL (SQL ``GROUPING()``)
    so margin rows survive the NULL-grouping-key rejection the keyed
    fold requires; source key values must therefore be non-NULL (or
    pre-coalesced in ``cube_keys`` exprs) and never equal the
    sentinel.

    Scale: expansion multiplies each BATCH by 2^d (d = cube dims, 2-3
    in practice) before the map-side partial — the stored state stays
    one row per live cube cell, and history is never rescanned. The
    all-margins cell makes min/max retraction repair honest: a delete
    threatening the GLOBAL min recomputes the (all, …, all) slice —
    the whole base — which is the irreducible cost of an exact global
    extremum under deletion in any engine; sum/count margins merge
    algebraically with no base access.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        sql: str,
        cube_keys: dict[str, str],
        sentinel: str = "(all)",
        partition_on: list[str] | None = None,
    ) -> None:
        """``cube_keys`` maps each cube OUTPUT column name (a grouping
        key of ``sql``) to the source-row SQL expression it rolls up."""
        self.cube_keys = dict(cube_keys)
        self.sentinel = sentinel
        super().__init__(spark, path, sql, partition_on=partition_on)
        missing = [
            n for n in self.cube_keys
            if n not in self.spec["key_names"]
        ]
        if missing:
            raise ValueError(
                f"cube_keys outputs {missing} are not grouping keys of "
                f"the statement {self.spec['key_names']}"
            )

    def _project(self, df: DataFrame) -> DataFrame:
        from itertools import product as _iproduct

        names = list(self.cube_keys)
        clash = [n for n in names if n in df.columns]
        if clash:
            raise ValueError(
                f"cube output names {clash} collide with input columns "
                "— rename the cube outputs"
            )
        passthrough = [F.col(c) for c in df.columns]
        variants = []
        for mask in _iproduct((True, False), repeat=len(names)):
            fields = [
                (
                    F.expr(self.cube_keys[n]).cast("string")
                    if keep
                    else F.lit(self.sentinel)
                ).alias(n)
                for n, keep in zip(names, mask)
            ]
            variants.append(F.struct(*fields, *passthrough))
        return (
            df.select(F.explode(F.array(*variants)).alias("_gs"))
            .select("_gs.*")
        )


class ContinuousRollupCascade:
    """Hypertable-style multi-granularity continuous aggregate: a FINE
    view (e.g. hourly buckets) maintained from change batches, and a
    COARSE view (e.g. daily) maintained FROM the fine view's stored
    partials — the coarse refresh never reads the raw base table.

    This is the cascading-rollup shape TimescaleDB documents for
    continuous aggregates (hour → day → month), built on the partial
    state ``ContinuousAggregate`` already stores: fine partials are
    mergeable by construction, so each coarse tier is just the fine
    tier's ``combine`` expressions grouped by its coarser key.
    ``more_levels`` chains further tiers (day → month → …): level
    ``i+1`` refreshes from level ``i``'s stored partials, so the
    month tier's repair aggregates ≤31 day rows per touched month no
    matter how large the corpus or the batch.

    Coarse repair is replace-per-touched-group: a batch touching hour
    ``h`` re-aggregates ALL surviving fine partials of ``day(h)`` (≤24
    hourly rows per touched day) into the complete new day partial,
    and the day tier is rewritten as ``day ⋉̸ touched ∪ fresh`` in one
    write plan. A day whose every hour died is touched and has no
    fresh row, so it leaves — there is no separate dead-day frame.
    Every tier's touched groups come from one driver collect per
    refresh (``sources.state.touched_keys``): a literal set of key
    hashes, which filters the tier below (``fresh``) and the tier
    itself (``kept``) with no join, no broadcast and no re-read of the
    batch. Those filters bound what is shuffled and aggregated, not
    what is scanned: each tier's files are read whole, which costs one
    row per group, not per input row. A batch above ``KEY_SET_CAP``
    distinct key tuples restricts by key frames over the batch
    instead. Retractions need no coarse-side base access: the fine
    tier has already absorbed them (including the min/max repair),
    and re-combining correct fine partials is exact by construction —
    which is the whole point of cascading: at 100 TB the daily tier's
    refresh aggregates ``O(touched days × buckets/day)`` state rows,
    independent of both history size and batch size.

    HAVING is rejected: a threshold stated against fine buckets has no
    well-defined reading at the coarse granularity. ``count(DISTINCT)``
    is rejected by the underlying class (distinct-pair state lives in
    ``ContinuousDistinctAggregate``); its coarse tier would need the
    pair tables, not scalar partials.

    Reference parity: the reference's IVM rewrite (optimizer_rules/
    mod.rs) has no storage and therefore no rollup cascade; this is
    engine-capability beyond it, same family as the stored views
    above.
    """

    def __init__(
        self,
        spark: SparkSession,
        root_path: str,
        sql: str,
        fine_key: str,
        coarse_key: str,
        coarse_expr: str,
        partition_on: list[str] | None = None,
        more_levels: list[tuple[str, str]] | None = None,
    ) -> None:
        """``sql`` is the FINE statement (single-table GROUP BY whose
        first-tier bucket column is ``fine_key``); ``coarse_expr`` is
        a SQL expression over the fine OUTPUT columns producing the
        coarse bucket (e.g. ``date_trunc('day', bucket_h)``), named
        ``coarse_key`` in the coarse table. ``more_levels`` extends
        the cascade with further ``(key, expr)`` tiers, each ``expr``
        over the PREVIOUS level's key (e.g.
        ``[("bucket_m", "date_trunc('month', bucket_d)")]``); level
        ``i+1`` refreshes from level ``i``'s stored partials, so every
        tier's repair aggregates O(touched groups × fan-in) rows."""
        self.spark = spark
        self.root_path = root_path
        self.fine = ContinuousAggregate(
            spark, os.path.join(root_path, "fine"), sql,
            partition_on=partition_on,
        )
        if self.fine.spec["having"]:
            raise UnsupportedSQL(
                "rollup cascade: HAVING binds to the fine buckets and "
                "has no coarse-granularity reading — filter read_fine()"
            )
        names = self.fine.spec["key_names"]
        if fine_key not in names:
            raise ValueError(
                f"fine_key {fine_key!r} is not a grouping output "
                f"column of the fine statement {names}"
            )
        # Non-time dimensions carry through every tier unchanged.
        other = [k for k in names if k != fine_key]
        self.levels: list[dict] = []
        prev_key = fine_key
        for i, (key, expr) in enumerate(
            [(coarse_key, coarse_expr)] + list(more_levels or [])
        ):
            if key == prev_key or key in other:
                raise ValueError(
                    f"cascade level key {key!r} collides with an "
                    "existing grouping column"
                )
            path = os.path.join(
                root_path, "coarse" if i == 0 else f"coarse{i + 1}"
            )
            self.levels.append(
                {
                    "key": key,
                    "expr": expr,
                    "prev_key": prev_key,
                    "keys": [key] + other,
                    # the keys over the previous level's columns
                    "exprs": [expr] + [_quoted(k) for k in other],
                    "path": path,
                    "store": StateStore(spark, path),
                }
            )
            prev_key = key
        self.coarse_path = self.levels[0]["path"]

    # -- plan builders -------------------------------------------------

    def _level_of(self, prev_state: DataFrame, lvl: dict) -> DataFrame:
        """Level partials from the previous tier's partials: the fine
        ``combine`` merge grouped by this level's keys — the same
        re-aggregation a map-side partial crosses a shuffle with."""
        with_k = prev_state.withColumn(lvl["key"], F.expr(lvl["expr"]))
        return with_k.groupBy(
            *[F.col(k) for k in lvl["keys"]]
        ).agg(*[F.expr(e) for e in self.fine.alg.combine])

    def _key_levels(self) -> list[tuple]:
        """The ``touched_keys`` chain: the fine keys, then each level's
        keys over the level below's columns, typed as stored."""
        out = [self.fine._key_level()]
        for lvl in self.levels:
            types = {f.name: f.dataType for f in lvl["store"].schema().fields}
            out.append(
                (lvl["exprs"], lvl["keys"], [types[k] for k in lvl["keys"]])
            )
        return out

    def _touched(self, batch_df: DataFrame, flag: str | None = None) -> list:
        """Per-level key sets of the groups a (signed, WHERE-filtered)
        batch touches, from one collect (``touched_keys``); for CDF
        batches that includes pre- AND post-images, so a row moving
        between buckets touches both sides at every granularity. Index
        0 is the fine tier's, which its fold does not need; with
        ``flag``, the fine groups of the rows it holds for follow
        last."""
        return touched_keys(batch_df, self._key_levels(), flag)

    # -- lifecycle -----------------------------------------------------

    def initialize(self, base_df: DataFrame) -> None:
        self.fine.initialize(base_df)
        prev = self.fine.store.read()
        for lvl in self.levels:
            lvl["store"].create(self._level_of(prev, lvl))
            prev = lvl["store"].read()

    def _replace_level(self, level: int, touched) -> None:
        """Replace every group of ``touched`` (a key set on the level's
        keys) at one level from the (already refreshed) tier below, in
        one write: ``fresh`` is that tier's rows restricted to the set,
        then re-aggregated, and the level becomes ``level ⋉̸ touched ∪
        fresh`` (``StateStore.replace``), so a group whose finer rows
        all died leaves because it is touched and has no fresh row. No
        base-table and no batch scan: that is the cascade invariant the
        plan audit pins on this write."""
        lvl = self.levels[level]
        below = (
            self.fine.store if level == 0 else self.levels[level - 1]["store"]
        ).read()
        fresh = self._level_of(touched.restrict(below, lvl["exprs"]), lvl)
        lvl["store"].replace(fresh, touched, lvl["keys"])

    def _replace_levels(self, touched: list) -> None:
        for i, t in enumerate(touched):
            self._replace_level(i, t)

    def refresh(self, delta_df: DataFrame) -> None:
        df = delta_df
        if self.fine.spec["where"]:
            df = df.where(self.fine.spec["where"])
        touched = self._touched(df)
        self.fine.refresh(delta_df)
        self._replace_levels(touched[1:])

    def refresh_signed(
        self, changes_df: DataFrame, base_new_df: DataFrame | None = None
    ) -> None:
        """Retraction-capable refresh: the fine tier nets the signed
        batch (min/max repaired from ``base_new_df`` when a retraction
        threatens them); each coarser tier then re-merges its touched
        groups from the tier below — no base access above the fine
        tier ever. One collect takes every tier's key set and the
        min/max recompute's; after it the batch is read once more, by
        the fine tier's fold, whose one aggregate groups the stored
        fine rows, the batch's rows and the recompute's base rows."""
        fine = self.fine
        df = fine._signed_batch(changes_df)
        flag = fine._retracting() if base_new_df is not None else None
        touched = self._touched(df, flag)
        retracted = touched.pop() if flag else None
        fine._merge_signed_projected(df, base_new_df, retracted)
        self._replace_levels(touched[1:])

    def stream_cdf(
        self,
        source_dir: str,
        schema,
        checkpoint_dir: str,
        base_reader=None,
    ):
        """Drive BOTH tiers from a checkpointed stream of CDF files:
        each micro-batch (one change file — see ``stream_into_cdf``'s
        consistency precondition) runs the cascade ``refresh_signed``
        (fine signed merge, then the touched-day coarse re-merge)
        under the shared replay guard, so an at-least-once redelivery
        cannot double-apply either tier. ``base_reader`` as in
        ``stream_into_cdf`` — required iff the statement carries
        min/max."""
        if self.fine.alg.minmax and base_reader is None:
            raise UnsupportedSQL(
                "min/max cannot be maintained from a pure change stream "
                "(a retraction needs the post-change base); pass "
                "base_reader"
            )
        if "_change_type" not in schema.fieldNames():
            raise ValueError(
                "stream_cdf: schema must carry the _change_type column "
                "(CDF shape)"
            )
        src = (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(source_dir)
        )

        def _refresh(batch_df: DataFrame) -> None:
            base = base_reader() if base_reader is not None else None
            self.refresh_signed(batch_df, base_new_df=base)

        # The fine tier's markers guard the whole cascade: every batch
        # refreshes the fine tier first, and initialize() clears them.
        return (
            src.writeStream.foreachBatch(
                self.fine.store.foreach_batch(checkpoint_dir, _refresh)
            )
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )

    # -- reads ---------------------------------------------------------

    def read_fine(self) -> DataFrame:
        return self.fine.read()

    def read(self, level: int = 0) -> DataFrame:
        """Finals at the given cascade level (0 = first coarse tier)."""
        lvl = self.levels[level]
        state = lvl["store"].read()
        return state.select(
            *[state[k] for k in lvl["keys"]],
            *[F.expr(e) for e in self.fine.alg.final],
        )

    def read_coarsest(self) -> DataFrame:
        return self.read(len(self.levels) - 1)
