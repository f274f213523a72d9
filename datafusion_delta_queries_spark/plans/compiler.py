"""Compile the logical IR to DataFrames — full-snapshot and delta modes.

This is the layer the reference *stops short of*: its ``PosDeltaScan``
marker has no physical implementation (/root/reference/src/delta_node.rs
:63-109 defines only the logical node; SURVEY §0). We finish the job
the Spark-native way — every IR node compiles to a declarative
DataFrame op, so Catalyst/AQE own pushdown, pruning, join selection and
shuffle planning for the emitted plan.

Semantics (SURVEY §4.3, matching optimizer_rules/mod.rs:130-149):

- ``compile_plan(ir, catalog)``  — the FULL query over the *current*
  table state (old snapshot ∪ appended delta).
- ``compile_delta(ir, catalog)`` — ΔQ: the rows Q gains when the
  catalog's appended rows land. ``PosDelta(ir)`` is rewritten with the
  PosDelta rule first; its decline is ``compile_delta``'s refusal.

The rule builds the reference IR, three branches per join; the
executed plan is smaller, in one of two forms:

- **One pass** (inner-join fragments). When the query has at least one
  join and every node is an unpinned Scan, a Projection, a Filter, an
  inner Join, a CrossJoin or a Union, ΔQ runs as ONE join over each
  table's new state. On append-only inputs new⋈new = old⋈old ⊎ ΔQ, so
  ΔQ is exactly the rows of that join with at least one appended
  participant. Each leaf carries a boolean ``APPENDED`` flag
  (``DeltaCatalog.flagged``); projections carry it, joins OR their
  sides' flags, unions align it positionally, and the root keeps the
  flagged rows (``_compile_flagged``). A chain of n tables plans n−1
  joins and n scans (5 and 6 at six tables).
- **Two branches** (every other fragment: semi joins, join-free
  fragments, a bare ``*`` projection, which would carry the flag
  twice). An append-only batch is a signed change batch whose rows
  are all +1, so these run through the signed compiler's one Δ
  recursion (``signed.delta_of``), with the snapshot as the old state
  and ``full`` as the new one: a join as ``ΔL⋈R_new ⊎ L_old⋈ΔR``, and
  the positive semi rule as the recursion's insert-only case.

A plan that already holds PosDeltaScan leaves compiles literally
(Scan → the snapshot, PosDeltaScan → the appended rows), three
branches per join.

``DeltaCatalog`` models an append-only table version pair. Against the
parquet fixtures, the snapshot/delta split is a deterministic predicate
on the key column — both sides stay *filters over the same parquet
scan*, so predicate pushdown applies and no data is copied. Against a
real lakehouse table the same two methods would be ``versionAsOf`` time
travel (snapshot) and CDF insert-rows (delta); nothing above the
catalog changes. The one-pass flag is the split predicate projected
over that one scan; a catalog that overrides ``snapshot``/``delta``
gets them tagged and unioned instead, so an override is never
bypassed. The trade-off: a one-pass fragment's split predicate becomes
a projected column, not a filter pushed into a delta-side scan.

At 100 TB, one pass costs about one recompute, since every leaf is read
whole. In the two-branch form, delta batches are small relative to the
base table, so the two join branches are naturally skewed — each joins a huge state
(R_new or L_old) against a small Δ. AQE converts those to broadcast
joins at runtime (Δ under the threshold), which is exactly the physical
plan incremental maintenance wants; we deliberately do not hint.
"""

from __future__ import annotations

from functools import partial, reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .nodes import (
    CrossJoin,
    Filter,
    Join,
    Plan,
    PosDelta,
    PosDeltaScan,
    Projection,
    Scan,
    Union,
)
from .rewrite import _DELTA_SAFE_JOIN_TYPES, rewrite_pos_delta

# Deterministic append-split predicates: rows matching the predicate are
# the "appended since the last maintained version" delta batch; the rest
# are the old snapshot. Chosen so every delta query below is non-empty
# at sf0.01. The DuckDB oracles replicate these predicates verbatim.
DELTA_PREDICATES: dict[str, str] = {
    "orders": "o_orderkey % 10 = 0",
    "customer": "c_custkey % 7 = 0",
    "supplier": "s_suppkey % 5 = 0",
    "nation": "n_nationkey >= 20",
    "region": "r_regionkey = 4",
    "lineitem": "l_orderkey % 10 = 0",
    "events": "event_id % 10 = 0",
    "documents": "doc_id % 9 = 0",
}

# The appended-row flag a one-pass leaf carries (``DeltaCatalog.flagged``).
APPENDED = "__appended"


class DeltaCatalog:
    """Append-only version pair per table: old snapshot + insert delta.

    Parquet-fixture realization — predicate split over one scan. A
    Delta-Lake realization would override ``snapshot``/``delta`` with
    ``versionAsOf`` and CDF reads; the compiler is agnostic.
    """

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        delta_predicates: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        self.delta_predicates = (
            DELTA_PREDICATES if delta_predicates is None else delta_predicates
        )

    def full(self, name: str) -> DataFrame:
        """Current table state (snapshot ∪ delta) — one plain scan."""
        return load_table(self.spark, self.sf_dir, name)

    def snapshot(self, name: str) -> DataFrame:
        """Old version: everything not in the delta batch. A row whose
        split predicate is NULL is old, so snapshot ⊎ delta = full."""
        pred = self.delta_predicates.get(name)
        df = self.full(name)
        return df.where(f"NOT coalesce({pred}, false)") if pred else df

    def delta(self, name: str) -> DataFrame:
        """Appended rows only (empty for tables with no registered split)."""
        pred = self.delta_predicates.get(name)
        df = self.full(name)
        return df.where(pred) if pred else df.where(F.lit(False))

    def flagged(self, name: str) -> DataFrame:
        """Current state plus a boolean ``APPENDED`` column, true on the
        delta batch's rows: the leaf of one-pass ΔQ. With this class's
        own split it is one scan of ``full``; when a subclass overrides
        ``snapshot`` or ``delta``, those are tagged and unioned."""
        cls = type(self)
        own = (cls.snapshot, cls.delta) == (DeltaCatalog.snapshot, DeltaCatalog.delta)
        if not own:
            return tag_split(self, name)
        pred = self.delta_predicates.get(name)
        flag = F.expr(f"coalesce({pred}, false)") if pred else F.lit(False)
        return self.full(name).withColumn(APPENDED, flag)

    def versioned(self, name: str, version: int) -> DataFrame:
        """Time travel (SQL ``VERSION AS OF``). The plain parquet
        fixtures keep no version history; catalogs backed by versioned
        storage (sources/versioned.VersionedDeltaCatalog) override."""
        raise ValueError(
            f"{name} VERSION AS OF {version}: this catalog reads plain "
            f"parquet fixtures with no version history — use a "
            f"VersionedDeltaCatalog over VersionedTable storage"
        )


def tag_split(catalog, name: str) -> DataFrame:
    """``snapshot`` tagged false ⊎ ``delta`` tagged true: the flagged
    leaf of any catalog with the snapshot/delta contract."""
    return catalog.snapshot(name).withColumn(APPENDED, F.lit(False)).unionByName(
        catalog.delta(name).withColumn(APPENDED, F.lit(True))
    )


def _join(node: Join | CrossJoin, left: DataFrame, right: DataFrame) -> DataFrame:
    """``left ⋈ right`` under ``node``'s condition and join type. Sides
    are aliased ``l``/``r`` so qualified expressions above a join (SQL-
    frontend rewritten qualifiers) resolve their side."""
    left, right = left.alias("l"), right.alias("r")
    if isinstance(node, CrossJoin):
        return left.crossJoin(right)
    conds = [
        F.col(f"l.{lc}").eqNullSafe(F.col(f"r.{rc}"))
        if node.null_equals_null
        else F.col(f"l.{lc}") == F.col(f"r.{rc}")
        for lc, rc in node.on
    ]
    if node.filter:
        conds.append(F.expr(node.filter))
    if not conds:
        return left.crossJoin(right)
    how = {"semi": "left_semi", "anti": "left_anti"}.get(
        node.join_type, node.join_type
    )
    return left.join(right, reduce(lambda a, b: a & b, conds), how)


def _unpinned(scan: Scan) -> str:
    """The table of an unpinned Scan: a pinned version never changes,
    so it has no delta to compile."""
    if scan.version is not None:
        raise ValueError(
            f"{scan.table} VERSION AS OF {scan.version}: a pinned "
            f"version has no delta — maintain the current state or "
            f"query the version directly"
        )
    return scan.table


def _compile(node: Plan, scan, delta_scan) -> DataFrame:
    """Recursively compile an IR tree given leaf resolvers.

    ``scan`` receives the Scan NODE (it carries the optional pinned
    version); ``delta_scan`` receives a table name — a versioned leaf
    under a delta marker is refused before it gets there.
    """

    def rec(child: Plan) -> DataFrame:
        return _compile(child, scan, delta_scan)

    if isinstance(node, Scan):
        return scan(node)
    if isinstance(node, PosDeltaScan):
        return delta_scan(_unpinned(node.scan))
    if isinstance(node, Projection):
        return rec(node.input).selectExpr(*node.select_exprs)
    if isinstance(node, Filter):
        return rec(node.input).where(node.predicate)
    if isinstance(node, (Join, CrossJoin)):
        return _join(node, rec(node.left), rec(node.right))
    if isinstance(node, Union):
        # Positional UNION ALL — the SQL semantic the reference's
        # LogicalPlan::Union has, and the only one that works when
        # rewrite-generated join branches carry duplicate column names
        # (both join sides owning an `address` column, say).
        return reduce(lambda a, b: a.union(b), map(rec, node.inputs))
    if isinstance(node, PosDelta):
        raise ValueError(
            "PosDelta wrapper reached the compiler — run rewrite_pos_delta "
            "first (compile_delta does this for you)"
        )
    raise TypeError(f"no compilation rule for {type(node).__name__}")


def _nodes(node: Plan):
    yield node
    for child in node.children:
        yield from _nodes(child)


def _takes_one_pass(query: Plan) -> bool:
    """True when ``query`` has a join and every node has a flag rule:
    unpinned Scan, Projection without a bare ``*``, Filter, inner Join,
    CrossJoin, Union."""
    nodes = list(_nodes(query))
    return any(isinstance(n, (Join, CrossJoin)) for n in nodes) and all(
        isinstance(n, (Filter, CrossJoin, Union))
        or (isinstance(n, Scan) and n.version is None)
        or (isinstance(n, Projection) and "*" not in n.select_exprs)
        or (isinstance(n, Join) and n.join_type in _DELTA_SAFE_JOIN_TYPES)
        for n in nodes
    )


def _compile_flagged(node: Plan, leaf) -> DataFrame:
    """Compile ``node`` over new state, ``APPENDED`` its last column.

    ``leaf`` maps a table name to its flagged new state. A projection
    carries the flag, a join ORs its sides' flags (the sides are
    aliased ``l``/``r``), and a union aligns the flags positionally.
    """

    def rec(child: Plan) -> DataFrame:
        return _compile_flagged(child, leaf)

    if isinstance(node, Scan):
        return leaf(node.table)
    if isinstance(node, Projection):
        return rec(node.input).selectExpr(*node.select_exprs, APPENDED)
    if isinstance(node, Filter):
        return rec(node.input).where(node.predicate)
    if isinstance(node, (Join, CrossJoin)):
        either = F.col(f"l.{APPENDED}") | F.col(f"r.{APPENDED}")
        return (
            _join(node, rec(node.left), rec(node.right))
            .withColumn(f"{APPENDED}_or", either)
            .drop(APPENDED)
            .withColumnRenamed(f"{APPENDED}_or", APPENDED)
        )
    return reduce(lambda a, b: a.union(b), map(rec, node.inputs))


def scan_by_name(method):
    """Adapt a name-based leaf resolver to the Scan-node protocol.
    Pinned versions are refused: the caller has no versioned storage,
    and silently serving the CURRENT state for ``VERSION AS OF n``
    would be a wrong answer, not a degraded one."""

    def resolve(node: Scan) -> DataFrame:
        if node.version is not None:
            raise ValueError(
                f"{node.table} VERSION AS OF {node.version}: this "
                f"compilation path has no versioned storage"
            )
        return method(node.table)

    return resolve


def _leaf(catalog: "DeltaCatalog", method) -> "callable":
    """Scan-node resolver: current/old state via ``method``, pinned
    versions via the catalog's versioned storage (time travel)."""

    def resolve(node: Scan) -> DataFrame:
        if node.version is None:
            return method(node.table)
        return catalog.versioned(node.table, node.version)

    return resolve


def compile_plan(ir: Plan, catalog: DeltaCatalog) -> DataFrame:
    """Compile the FULL query over the current (post-append) state."""
    return _compile(ir, scan=_leaf(catalog, catalog.full), delta_scan=catalog.delta)


def compile_snapshot(ir: Plan, catalog: DeltaCatalog) -> DataFrame:
    """Compile the FULL query over the OLD (pre-append) snapshot."""
    return _compile(
        ir, scan=_leaf(catalog, catalog.snapshot), delta_scan=catalog.delta
    )


def _holds_delta_scan(node: Plan) -> bool:
    return isinstance(node, PosDeltaScan) or any(
        _holds_delta_scan(c) for c in node.children
    )


def compile_delta(ir: Plan, catalog: DeltaCatalog) -> DataFrame:
    """Rewrite to the positive-delta query and compile it.

    Accepts a bare query (wrapped in PosDelta here), a PosDelta-wrapped
    one, or an already-rewritten plan: one that holds a PosDeltaScan
    leaf compiles as it is, never rewritten a second time (that would
    return the delta of its delta). Raises ValueError when the rule
    declines (reference ``Ok(None)``, mod.rs:187) so callers never
    silently run a full query believing it incremental.

    A query with a join whose every node is an unpinned Scan, a
    Projection, a Filter, an inner Join, a CrossJoin or a Union runs in
    one pass: one join over each table's flagged new state
    (``catalog.flagged``, or ``tag_split`` for a catalog without it),
    keeping the rows with an appended participant. Every other query
    runs as two branches per join (``_branch_delta``).
    """
    if not isinstance(ir, PosDelta) and _holds_delta_scan(ir):
        # Scan leaves read the snapshot, PosDeltaScan leaves the
        # appended rows: exactly compile_snapshot's resolvers.
        return compile_snapshot(ir, catalog)
    plan = ir if isinstance(ir, PosDelta) else PosDelta(ir)
    delta_ir = rewrite_pos_delta(plan)
    if delta_ir is None:
        raise ValueError(
            f"no positive-delta derivation for {plan.input.name} "
            "(reference optimizer_rules/mod.rs:187 returns None here)"
        )
    if _takes_one_pass(plan.input):
        leaf = getattr(catalog, "flagged", None) or partial(tag_split, catalog)
        flagged = _compile_flagged(plan.input, leaf)
        return flagged.where(F.col(APPENDED)).drop(APPENDED)
    return _branch_delta(plan.input, catalog)


def _branch_delta(query: Plan, catalog: DeltaCatalog) -> DataFrame:
    """ΔQ of a bare ``query`` through the signed compiler's recursion:
    the appended rows are a change batch whose signs are all +1, the
    snapshot is the old state and ``full`` the new one."""
    from .signed import SIGN, delta_of  # signed imports this module

    plus = F.lit(1).cast("bigint")
    return delta_of(
        query,
        lambda name: catalog.delta(name).withColumn(SIGN, plus),
        old=lambda node: compile_snapshot(node, catalog),
        new=lambda node: compile_plan(node, catalog),
        insert_only=True,
    ).drop(SIGN)
