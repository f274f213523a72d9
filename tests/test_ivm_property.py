"""Property-based IVM correctness: random plans, one algebraic law.

Hypothesis generates random IR trees over the fixture tables (the
delta-safe operator subset: scan/projection/filter/inner-join/cross-
join/union) and asserts the maintenance identity

    full(T ∪ ΔT)  ==  full(T)  ⊎  delta(T, ΔT)      (multiset)

for every generated plan — far beyond the reference's five fixed
plan-shape tests, and executed on real data. Examples are bounded (Spark
round-trips cost ~1s each) but every run explores fresh shapes.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from datafusion_delta_queries_spark.plans import (
    CrossJoin,
    DeltaCatalog,
    Filter,
    Join,
    Projection,
    Scan,
    Union,
    compile_delta,
    compile_plan,
    compile_snapshot,
)

from .conftest import SF_SMALL

# Per-table: (projection columns, a couple of filter predicates, key)
TABLES = {
    "nation": (["n_nationkey", "n_name"], ["n_nationkey >= 5", "n_nationkey % 2 = 0"]),
    "region": (["r_regionkey", "r_name"], ["r_regionkey >= 1"]),
    "supplier": (["s_suppkey", "s_name", "s_nationkey"], ["s_suppkey % 2 = 0", "s_acctbal > 0"]),
    "customer": (["c_custkey", "c_name", "c_nationkey"], ["c_custkey % 3 = 0", "c_acctbal > 1000"]),
}


# Select lists with a bare *, alone and followed by a computed column.
STARS = (["*"], ["*", "c_custkey % 4 AS c_bucket"])

# The star shape at its widest, run on every pass.
STAR_JOIN = Projection(
    ["*"],
    Join(
        Projection(STARS[1], Filter("c_custkey % 3 = 0", Scan("customer"))),
        Scan("nation"),
        on=[("c_nationkey", "n_nationkey")],
    ),
)


@st.composite
def leafy(draw, table):
    cols, preds = TABLES[table]
    node = Scan(table)
    if draw(st.booleans()):
        node = Filter(draw(st.sampled_from(preds)), node)
    if draw(st.booleans()):
        node = Projection(cols, node)
    return node


@st.composite
def plans(
    draw, shapes=("simple", "join", "chain", "semi", "cross", "union", "star")
):
    shape = draw(st.sampled_from(shapes))
    if shape == "simple":
        return draw(leafy(draw(st.sampled_from(list(TABLES)))))
    if shape == "star":
        # SELECT * below a join and over it: the delta must carry its
        # bookkeeping columns once, whatever the select list expands to.
        l = Projection(draw(st.sampled_from(STARS)), draw(leafy("customer")))
        node = Join(l, draw(leafy("nation")), on=[("c_nationkey", "n_nationkey")])
        return Projection(["*"], node)
    if shape == "chain":
        # orders⋈customer⋈nation, all three with appended rows: one
        # join side is itself a join, so its delta is a nested join
        # delta (left-deep: ΔL; right-deep: ΔR).
        orders = Projection(["o_orderkey", "o_custkey"], Scan("orders"))
        if draw(st.booleans()):
            orders = Filter("o_orderkey % 3 = 0", orders)
        cust, nation = draw(leafy("customer")), draw(leafy("nation"))
        oc, cn = [("o_custkey", "c_custkey")], [("c_nationkey", "n_nationkey")]
        if draw(st.booleans()):
            node = Join(Join(orders, cust, on=oc), nation, on=cn)
        else:
            node = Join(orders, Join(cust, nation, on=cn), on=oc)
        return Projection(["o_orderkey", "c_name", "n_name"], node)
    if shape == "join":
        l = draw(leafy("customer"))
        r = draw(leafy("nation"))
        # Project post-join so both sides' columns stay disjoint.
        # null_equals_null is drawn too: on non-null fixture keys <=>
        # and = agree, so the identity must hold identically — this
        # pins the flag's path through rewrite and compile.
        node = Join(
            l, r, on=[("c_nationkey", "n_nationkey")],
            null_equals_null=draw(st.booleans()),
        )
        return Projection(["c_custkey", "c_name", "n_name"], node)
    if shape == "semi":
        # Our semi-join delta rule (beyond the reference) must satisfy
        # the same identity for arbitrary filtered/projected children.
        l = draw(leafy("customer"))
        r = draw(leafy("supplier"))
        node = Join(
            l, r, on=[("c_nationkey", "s_nationkey")], join_type="semi"
        )
        return Projection(["c_custkey", "c_name"], node)
    if shape == "cross":
        node = CrossJoin(draw(leafy("region")), draw(leafy("nation")))
        return Projection(["r_regionkey", "n_nationkey"], node)
    if shape in ("union_of_joins", "join_of_union"):
        # customer/supplier rows with their nation key, joined to nation
        # per branch (union of joins) or once above the union.
        sides = draw(
            st.lists(
                st.sampled_from(["customer", "supplier"]), min_size=2, max_size=3
            )
        )
        keyed = [
            Projection(
                [f"{TABLES[t][0][0]} AS id", f"{TABLES[t][0][2]} AS nk"],
                draw(leafy(t)),
            )
            for t in sides
        ]
        nk = [("nk", "n_nationkey")]
        if shape == "join_of_union":
            node = Join(Union(keyed), draw(leafy("nation")), on=nk)
            return Projection(["id", "n_name"], node)
        return Union(
            [
                Projection(["id", "n_name"], Join(k, draw(leafy("nation")), on=nk))
                for k in keyed
            ]
        )
    sides = draw(
        st.lists(
            st.sampled_from(["customer", "supplier"]), min_size=2, max_size=3
        )
    )
    branches = []
    for t in sides:
        cols, _ = TABLES[t]
        branches.append(
            Projection([f"{cols[0]} AS id", f"{cols[1]} AS name"], draw(leafy(t)))
        )
    return Union(branches)


def _multiset(df):
    # Counter, not sorted(): NULL-padded outer-join rows carry Nones,
    # which Python's tuple ordering cannot compare.
    from collections import Counter

    return Counter(tuple(r) for r in df.collect())


@pytest.mark.slow
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(ir=plans())
@example(ir=STAR_JOIN)
def test_ivm_identity_random_plans(spark, ir):
    cat = DeltaCatalog(spark, SF_SMALL)
    full_new = _multiset(compile_plan(ir, cat))
    full_old = _multiset(compile_snapshot(ir, cat))
    delta = _multiset(compile_delta(ir, cat))
    # Counter addition IS the multiset sum ⊎
    assert full_old + delta == full_new


# -- One-pass ΔQ = two-branch ΔQ, under every flag realization ---------
#
# compile_delta runs an inner/cross/union fragment with a join as one
# join over flagged new state; the two-branch compiler
# (``_branch_delta``, the signed Δ recursion) is the reference. Three
# catalogs build the flag three ways: DeltaCatalog's own split
# predicate, a VersionedDeltaCatalog's tagged snapshot/changes union,
# and a DeltaCatalog subclass whose snapshot/delta are a different
# slice than its (inherited) split predicates — the override must win.

from datafusion_delta_queries_spark.plans.compiler import (  # noqa: E402
    DELTA_PREDICATES,
    _branch_delta,
)

_ONE_PASS_TABLES = ("orders", "customer", "nation", "region", "supplier")

# Slices other than DELTA_PREDICATES': a catalog that flagged rows by
# its predicates instead of its overrides would flag the wrong rows.
_OTHER_SLICES = {
    "orders": "o_orderkey % 10 = 3",
    "customer": "c_custkey % 7 = 2",
    "nation": "n_nationkey < 4",
    "region": "r_regionkey = 0",
    "supplier": "s_suppkey % 5 = 1",
}


class _OtherSliceCatalog(DeltaCatalog):
    """Overrides snapshot/delta with ``_OTHER_SLICES``; its
    ``delta_predicates`` still name the default split."""

    def snapshot(self, name):
        return self.full(name).where(f"NOT ({_OTHER_SLICES[name]})")

    def delta(self, name):
        return self.full(name).where(_OTHER_SLICES[name])


@pytest.fixture(scope="module")
def versioned_catalog_tables(spark, tmp_path_factory):
    """Each table as v0 = snapshot, v1 = the appended slice."""
    from datafusion_delta_queries_spark.sources import VersionedTable

    root = tmp_path_factory.mktemp("one_pass")
    base = DeltaCatalog(spark, SF_SMALL)
    tables = {}
    for name in _ONE_PASS_TABLES:
        vt = VersionedTable(str(root / name))
        vt.write_version(base.snapshot(name))
        vt.write_version(base.delta(name))
        tables[name] = vt
    return tables


def _catalog(spark, realization, versioned_tables):
    from datafusion_delta_queries_spark.sources import VersionedDeltaCatalog

    if realization == "predicate":
        return DeltaCatalog(spark, SF_SMALL)
    if realization == "override":
        return _OtherSliceCatalog(spark, SF_SMALL, DELTA_PREDICATES)
    return VersionedDeltaCatalog(
        spark, versioned_tables, {n: (0, 1) for n in versioned_tables}
    )


@pytest.mark.slow
@pytest.mark.parametrize("realization", ["predicate", "versioned", "override"])
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    ir=plans(
        shapes=("join", "chain", "cross", "union", "union_of_joins", "join_of_union")
    )
)
def test_one_pass_equals_two_branch_random_plans(
    spark, versioned_catalog_tables, realization, ir
):
    cat = _catalog(spark, realization, versioned_catalog_tables)
    one_pass = _multiset(compile_delta(ir, cat))
    two_branch = _multiset(_branch_delta(ir, cat))
    assert one_pass == two_branch
    full_new = _multiset(compile_plan(ir, cat))
    full_old = _multiset(compile_snapshot(ir, cat))
    assert full_old + one_pass == full_new


# -- Signed (retraction) identity on random plans ----------------------
#
# The same discipline for the Z-relation algebra (plans/signed.py):
# random IR trees over tables whose CDC specs carry inserts, deletes,
# AND updates must satisfy
#
#     Q(new)  ==  Q(old) ⊎ ΔQ        (signed multiset sum)
#
# i.e. consolidate(Q(old) as +1 ∪ ΔQ) == consolidate(Q(new) as +1).

from pyspark.sql import functions as F  # noqa: E402

from datafusion_delta_queries_spark.plans.signed import (  # noqa: E402
    SIGN,
    SignedDeltaCatalog,
    compile_new,
    compile_old,
    compile_signed_delta,
    consolidate,
)

# orders/customer/events have CDC specs (changes flow); region/nation
# are static sides (empty change batches must degenerate correctly).
SIGNED_TABLES = {
    "orders": (
        ["o_orderkey", "o_orderpriority"],
        ["o_totalprice > 100000", "o_orderkey % 2 = 0"],
    ),
    "customer": (
        ["c_custkey", "c_name", "c_nationkey"],
        ["c_custkey % 3 = 0", "c_acctbal > 1000"],
    ),
    "events": (
        ["event_id", "event_type"],
        ["value > 10", "event_id % 2 = 1"],
    ),
    "nation": (["n_nationkey", "n_name"], ["n_nationkey >= 5"]),
}


@st.composite
def signed_leafy(draw, table):
    cols, preds = SIGNED_TABLES[table]
    node = Scan(table)
    if draw(st.booleans()):
        node = Filter(draw(st.sampled_from(preds)), node)
    if draw(st.booleans()):
        node = Projection(cols, node)
    return node


@st.composite
def signed_plans(draw):
    shape = draw(
        st.sampled_from(["simple", "join", "chain", "cross", "union", "star"])
    )
    if shape == "simple":
        return draw(signed_leafy(draw(st.sampled_from(list(SIGNED_TABLES)))))
    if shape == "star":
        l = Projection(draw(st.sampled_from(STARS)), draw(signed_leafy("customer")))
        node = Join(l, draw(signed_leafy("nation")), on=[("c_nationkey", "n_nationkey")])
        return Projection(["*"], node)
    if shape == "chain":
        # lineitem⋈orders⋈customer, all three with inserts, deletes and
        # updates: a nested signed join delta on the left or the right.
        items = Projection(
            ["l_orderkey", "l_linenumber", "l_extendedprice"], Scan("lineitem")
        )
        orders = Scan("orders")
        if draw(st.booleans()):
            orders = Filter(draw(st.sampled_from(SIGNED_TABLES["orders"][1])), orders)
        if draw(st.booleans()):
            orders = Projection(["o_orderkey", "o_custkey", "o_totalprice"], orders)
        cust = draw(signed_leafy("customer"))
        lo, oc = [("l_orderkey", "o_orderkey")], [("o_custkey", "c_custkey")]
        if draw(st.booleans()):
            node = Join(Join(items, orders, on=lo), cust, on=oc)
        else:
            node = Join(items, Join(orders, cust, on=oc), on=lo)
        return Projection(
            ["l_orderkey", "l_linenumber", "l_extendedprice", "o_totalprice",
             "c_name"],
            node,
        )
    if shape == "join":
        l = draw(signed_leafy("customer"))
        r = draw(signed_leafy("nation"))  # static right side
        node = Join(
            l, r, on=[("c_nationkey", "n_nationkey")],
            null_equals_null=draw(st.booleans()),
        )
        return Projection(["c_custkey", "c_name", "n_name"], node)
    if shape == "cross":
        node = CrossJoin(
            Filter("c_custkey % 9 = 0", Scan("customer")),
            draw(signed_leafy("nation")),
        )
        return Projection(["c_custkey", "n_nationkey"], node)
    branches = [
        Projection(["o_orderkey AS id", "o_orderpriority AS tag"],
                   draw(signed_leafy("orders"))),
        Projection(["c_custkey AS id", "c_mktsegment AS tag"],
                   Scan("customer")),
    ]
    return Union(branches)


@pytest.mark.slow
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(ir=signed_plans())
@example(ir=STAR_JOIN)
def test_signed_identity_random_plans(spark, ir):
    cat = SignedDeltaCatalog(spark, SF_SMALL)
    applied = consolidate(
        compile_old(ir, cat).withColumn(SIGN, F.lit(1).cast("bigint"))
        .union(compile_signed_delta(ir, cat))
    )
    target = consolidate(
        compile_new(ir, cat).withColumn(SIGN, F.lit(1).cast("bigint"))
    )
    assert _multiset(applied) == _multiset(target)


# -- delta-scoped outer/semi/anti join compiler: the same identity -----
# -- over randomized single-join fragments -----------------------------

@st.composite
def scoped_join_plans(draw):
    """Random Projection/Filter layers around ONE non-linear join of
    two (possibly filtered) scans — the shape
    compile_signed_delta_scoped_join accepts. Children keep their
    join keys; both CDC sides change (customer and orders)."""
    how = draw(st.sampled_from(
        ["left_outer", "right_outer", "full_outer", "semi", "anti"]
    ))
    left = Scan("customer")
    if draw(st.booleans()):
        left = Filter(draw(st.sampled_from(
            ["c_acctbal > 1000", "c_custkey % 3 = 0"]
        )), left)
    right = Scan("orders")
    if draw(st.booleans()):
        right = Filter(draw(st.sampled_from(
            ["o_totalprice > 100000", "o_orderkey % 2 = 0"]
        )), right)
    node = Join(
        left, right, on=[("c_custkey", "o_custkey")], join_type=how,
        null_equals_null=draw(st.booleans()),
    )
    cols = (
        ["c_custkey", "c_name"]
        if how in ("semi", "anti")
        else ["c_custkey", "c_name", "o_orderkey", "o_orderpriority"]
    )
    ir: object = Projection(cols, node)
    if how not in ("semi", "anti") and draw(st.booleans()):
        # a post-join filter layer above the projection
        ir = Filter("c_custkey % 2 = 0", ir)
    return ir


@pytest.mark.slow
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(ir=scoped_join_plans())
def test_scoped_join_identity_random_fragments(spark, ir):
    from datafusion_delta_queries_spark.plans.signed import (
        compile_signed_delta_scoped_join,
    )

    cat = SignedDeltaCatalog(spark, SF_SMALL)
    applied = consolidate(
        compile_old(ir, cat).withColumn(SIGN, F.lit(1).cast("bigint"))
        .union(compile_signed_delta_scoped_join(ir, cat))
    )
    target = consolidate(
        compile_new(ir, cat).withColumn(SIGN, F.lit(1).cast("bigint"))
    )
    assert _multiset(applied) == _multiset(target)


# -- delta-scoped star CHAIN compiler: the same identity over ----------
# -- randomized multi-join star fragments ------------------------------

@st.composite
def scoped_chain_plans(draw):
    """Random Projection/Filter layers around a star CHAIN of 2-3
    joins driven by lineitem (fact) — join types drawn from the set
    the chain compiler accepts (left/inner/semi/anti; the output must
    derive from exactly one fact row), per-side filters optional,
    every join key a fact column. CDC changes both lineitem and
    orders; part/supplier are static dims."""
    fact: object = Scan("lineitem")
    if draw(st.booleans()):
        fact = Filter(draw(st.sampled_from(
            ["l_quantity > 10", "l_orderkey % 3 = 0"]
        )), fact)
    dims = [
        ("orders", "l_orderkey", "o_orderkey", "o_orderpriority"),
        ("part", "l_partkey", "p_partkey", "p_brand"),
        ("supplier", "l_suppkey", "s_suppkey", "s_name"),
    ]
    n = draw(st.integers(min_value=2, max_value=3))
    node = fact
    picked = []
    semi_like = False
    for tbl, lk, rk, col in dims[:n]:
        how = draw(st.sampled_from(["left", "inner", "semi", "anti"]))
        right: object = Scan(tbl)
        if draw(st.booleans()):
            right = Filter(
                {
                    "orders": "o_totalprice > 50000",
                    "part": "p_partkey % 2 = 0",
                    "supplier": "s_suppkey % 2 = 0",
                }[tbl],
                right,
            )
        node = Join(node, right, on=[(lk, rk)], join_type=how,
                    null_equals_null=draw(st.booleans()))
        picked.append((how, col))
        semi_like = semi_like or how in ("semi", "anti")
    cols = ["l_orderkey", "l_linenumber"]
    for how, col in picked:
        if how in ("left", "inner"):
            cols.append(col)
    ir: object = Projection(cols, node)
    if draw(st.booleans()):
        ir = Filter("l_orderkey % 2 = 0", ir)
    return ir


@pytest.mark.slow
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(ir=scoped_chain_plans())
def test_scoped_chain_identity_random_fragments(spark, ir):
    """stored ⊎ Δ_chain == new, for random star chains: the fact-key
    confinement argument executed on randomized shapes — inserts,
    deletes, and updates flowing on the fact AND first-dim sides."""
    from datafusion_delta_queries_spark.plans.signed import (
        compile_signed_delta_scoped_chain,
    )

    cat = SignedDeltaCatalog(spark, SF_SMALL)
    applied = consolidate(
        compile_old(ir, cat).withColumn(SIGN, F.lit(1).cast("bigint"))
        .union(compile_signed_delta_scoped_chain(ir, cat))
    )
    target = consolidate(
        compile_new(ir, cat).withColumn(SIGN, F.lit(1).cast("bigint"))
    )
    assert _multiset(applied) == _multiset(target)


@st.composite
def snowflake_chain_plans(draw):
    """Random SNOWFLAKE chains: lineitem (fact) → orders (parent,
    left/inner so its columns exist for the sub-key) → customer keyed
    on o_custkey (the snowflake join — never null-safe, which the
    compiler refuses), optionally → nation keyed on c_nationkey (a
    depth-3 fold). CDC flows on lineitem, orders, AND customer;
    nation is static."""
    fact: object = Scan("lineitem")
    if draw(st.booleans()):
        fact = Filter(draw(st.sampled_from(
            ["l_quantity > 10", "l_orderkey % 3 = 0"]
        )), fact)
    cols = ["l_orderkey", "l_linenumber"]
    p_how = draw(st.sampled_from(["left", "inner"]))
    orders: object = Scan("orders")
    if draw(st.booleans()):
        orders = Filter("o_totalprice > 50000", orders)
    node: object = Join(
        fact, orders, on=[("l_orderkey", "o_orderkey")],
        join_type=p_how, null_equals_null=draw(st.booleans()),
    )
    cols.append("o_orderpriority")
    c_how = draw(st.sampled_from(["left", "inner", "semi", "anti"]))
    cust: object = Scan("customer")
    if draw(st.booleans()):
        cust = Filter("c_acctbal > 1000", cust)
    node = Join(
        node, cust, on=[("o_custkey", "c_custkey")], join_type=c_how
    )
    if c_how in ("left", "inner"):
        cols.append("c_mktsegment")
        if draw(st.booleans()):
            n_how = draw(st.sampled_from(["left", "inner", "semi"]))
            node = Join(
                node, Scan("nation"),
                on=[("c_nationkey", "n_nationkey")], join_type=n_how,
            )
            if n_how in ("left", "inner"):
                cols.append("n_name")
    ir: object = Projection(cols, node)
    if draw(st.booleans()):
        ir = Filter("l_orderkey % 2 = 0", ir)
    return ir


@pytest.mark.slow
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(ir=snowflake_chain_plans())
def test_snowflake_chain_identity_random_fragments(spark, ir):
    """stored ⊎ Δ_chain == new, for random SNOWFLAKE chains: the
    parent-row fold argument executed on randomized shapes — CDC on
    the fact, the parent dim, and the sub-dim simultaneously."""
    from datafusion_delta_queries_spark.plans.signed import (
        compile_signed_delta_scoped_chain,
    )

    cat = SignedDeltaCatalog(spark, SF_SMALL)
    applied = consolidate(
        compile_old(ir, cat).withColumn(SIGN, F.lit(1).cast("bigint"))
        .union(compile_signed_delta_scoped_chain(ir, cat))
    )
    target = consolidate(
        compile_new(ir, cat).withColumn(SIGN, F.lit(1).cast("bigint"))
    )
    assert _multiset(applied) == _multiset(target)
