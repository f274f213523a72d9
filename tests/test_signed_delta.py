"""Signed (retraction-capable) delta algebra — plans/signed.py.

The reference is insert-only (PosDelta, delta_node.rs:8-60); these
tests pin the Z-relation extension: CDF normalization, the catalog's
old ⊎ Δ == new invariant, the signed IVM identity for composite plans,
and the loud refusal of non-linear operators in the linear rewrite.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from datafusion_delta_queries_spark.plans import (
    CrossJoin,
    Filter,
    Join,
    Projection,
    Scan,
    Union,
    UnsupportedIncrementalOperator,
)
from datafusion_delta_queries_spark.plans.signed import (
    CDC_SPECS,
    SIGN,
    SignedDeltaCatalog,
    compile_new,
    compile_old,
    compile_signed_delta,
    consolidate,
    signed_of_cdf,
)

from .conftest import SF_SMALL


def _net_diff(new_df, old_df):
    """Brute-force consolidated net change new − old (multiset)."""
    a = new_df.withColumn(SIGN, F.lit(1).cast("bigint"))
    b = old_df.withColumn(SIGN, F.lit(-1).cast("bigint"))
    return consolidate(a.union(b))


def _frames_equal(a, b) -> bool:
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


# ---------------------------------------------------------------- CDF --

def test_signed_of_cdf_maps_all_four_change_types(spark):
    rows = [
        Row(k=1, _change_type="insert"),
        Row(k=2, _change_type="delete"),
        Row(k=3, _change_type="update_preimage"),
        Row(k=3, _change_type="update_postimage"),
    ]
    out = signed_of_cdf(spark.createDataFrame(rows))
    got = {(r.k, r._sign) for r in out.collect()}
    assert got == {(1, 1), (2, -1), (3, -1), (3, 1)}
    assert "_change_type" not in out.columns


def test_signed_of_cdf_rejects_unknown_change_type(spark):
    df = spark.createDataFrame([Row(k=1, _change_type="upsert")])
    with pytest.raises(Exception, match="unknown _change_type"):
        signed_of_cdf(df).collect()


# ---------------------------------------------------- catalog invariant --

@pytest.mark.parametrize("table", sorted(CDC_SPECS))
def test_old_plus_changes_equals_new(spark, table):
    """Applying the signed batch to the old state yields the new state:
    consolidate(old(+1) ⊎ Δ) == consolidate(new(+1)) — the apply
    identity that makes the batches a faithful CDF commit."""
    cat = SignedDeltaCatalog(spark, SF_SMALL)
    applied = consolidate(
        cat.old(table).withColumn(SIGN, F.lit(1).cast("bigint"))
        .unionByName(cat.signed_changes(table))
    )
    target = consolidate(
        cat.new(table).withColumn(SIGN, F.lit(1).cast("bigint"))
    )
    assert _frames_equal(applied, target)


def test_change_batch_predicates_are_disjoint(spark):
    cat = SignedDeltaCatalog(spark, SF_SMALL)
    for table, spec in CDC_SPECS.items():
        base = cat._base(table)
        overlap = base.where(
            f"(({spec.insert_pred}) AND ({spec.delete_pred})) OR "
            f"(({spec.insert_pred}) AND ({spec.update_pred})) OR "
            f"(({spec.delete_pred}) AND ({spec.update_pred}))"
        )
        assert overlap.isEmpty(), table


def test_static_table_has_empty_change_batch(spark):
    cat = SignedDeltaCatalog(spark, SF_SMALL)
    assert cat.signed_changes("part").isEmpty()
    assert _frames_equal(cat.old("part"), cat.new("part"))


# ------------------------------------------------- signed IVM identity --

_COMPOSITE_IRS = {
    "projection_filter": Projection(
        ["o_orderkey", "o_orderpriority", "round(o_totalprice, 2) AS total"],
        Filter("o_totalprice > 100000", Scan("orders")),
    ),
    "join_both_sides": Projection(
        ["o_orderkey", "c_custkey", "round(o_totalprice, 2) AS total",
         "round(c_acctbal, 2) AS bal"],
        Join(Scan("orders"), Scan("customer"),
             on=[("o_custkey", "c_custkey")]),
    ),
    "join_theta_filter": Projection(
        ["o_orderkey", "c_custkey"],
        Join(Scan("orders"), Scan("customer"),
             on=[("o_custkey", "c_custkey")],
             filter="l.o_totalprice > r.c_acctbal * 50"),
    ),
    "union_fan_in": Union(
        [
            Projection(["o_orderkey AS k", "o_totalprice AS v"],
                       Filter("o_totalprice > 200000", Scan("orders"))),
            Projection(["c_custkey AS k", "c_acctbal AS v"],
                       Scan("customer")),
        ]
    ),
    "cross_join_static_side": Projection(
        ["c_custkey", "r_regionkey"],
        CrossJoin(Filter("c_custkey % 11 = 0", Scan("customer")),
                  Scan("region")),
    ),
}


@pytest.mark.parametrize("name", sorted(_COMPOSITE_IRS))
def test_signed_identity(spark, name):
    """consolidate(ΔQ) == net(Q(new) − Q(old)) for composite plans —
    inserts, deletes, and updates all flowing through one rewrite."""
    ir = _COMPOSITE_IRS[name]
    cat = SignedDeltaCatalog(spark, SF_SMALL)
    got = consolidate(compile_signed_delta(ir, cat))
    want = _net_diff(compile_new(ir, cat), compile_old(ir, cat))
    assert _frames_equal(got, want)
    # Retractions must actually occur (deletes exist in every spec'd
    # table) — otherwise this degenerates to the positive-only case.
    if name != "cross_join_static_side":
        assert got.where(F.col(SIGN) < 0).count() > 0


# ------------------------------------------------------------ refusals --

def test_outer_join_refused_by_linear_rewrite(spark):
    ir = Join(Scan("customer"), Scan("orders"),
              on=[("c_custkey", "o_custkey")], join_type="left_outer")
    cat = SignedDeltaCatalog(spark, SF_SMALL)
    with pytest.raises(UnsupportedIncrementalOperator, match="inner/cross"):
        compile_signed_delta(ir, cat)


def test_consolidate_drops_net_zero_rows(spark):
    df = spark.createDataFrame(
        [Row(k=1, _sign=1), Row(k=1, _sign=-1), Row(k=2, _sign=1)]
    )
    out = consolidate(df).collect()
    assert [(r.k, r._sign) for r in out] == [(2, 1)]


@pytest.mark.parametrize("how", ["left_outer", "right_outer",
                                 "full_outer", "semi", "anti"])
def test_scoped_join_delta_identity(spark, how):
    """compile_signed_delta_scoped_join: for every non-linear join
    type, the delta-scoped recompute's consolidated output equals the
    brute-force new-vs-old net diff of the UNRESTRICTED query — the
    key-confinement argument executed on data, with inserts, deletes,
    and key-rewriting updates on both sides."""
    from datafusion_delta_queries_spark.plans.signed import (
        compile_signed_delta_scoped_join,
    )

    cols = (
        ["c_custkey", "c_name"]
        if how in ("semi", "anti")
        else ["c_custkey", "c_name", "o_orderkey",
              "round(o_totalprice, 2) AS total"]
    )
    ir = Projection(
        cols,
        Join(Scan("customer"), Scan("orders"),
             on=[("c_custkey", "o_custkey")], join_type=how),
    )
    cat = SignedDeltaCatalog(spark, SF_SMALL)
    got = consolidate(compile_signed_delta_scoped_join(ir, cat))
    want = _net_diff(compile_new(ir, cat), compile_old(ir, cat))
    assert _frames_equal(got, want)
    if how != "anti":
        assert got.where(F.col(SIGN) < 0).count() > 0
    # anti: the fixture's customer/orders CDC leaves the no-order set
    # unchanged, so the TRUE net change is empty — the equality above
    # then certifies the scoped recompute emits nothing spurious
    # (a mis-restricted slice would leave uncancelled ± rows).


def test_scoped_join_delta_refusals(spark):
    from datafusion_delta_queries_spark.plans.signed import (
        compile_signed_delta_scoped_join,
    )

    cat = SignedDeltaCatalog(spark, SF_SMALL)
    # inner joins belong to the linear rewrite
    with pytest.raises(UnsupportedIncrementalOperator, match="outer"):
        compile_signed_delta_scoped_join(
            Join(Scan("customer"), Scan("orders"),
                 on=[("c_custkey", "o_custkey")]),
            cat,
        )
    # a join side containing another join has no confined key slice
    with pytest.raises(
        UnsupportedIncrementalOperator, match="single-scan sides"
    ):
        compile_signed_delta_scoped_join(
            Join(
                Join(Scan("lineitem"), Scan("orders"),
                     on=[("l_orderkey", "o_orderkey")]),
                Scan("customer"),
                on=[("o_custkey", "c_custkey")],
                join_type="left_outer",
            ),
            cat,
        )


def test_cluster_maintenance_branches_agree(spark, monkeypatch):
    """The adaptive full-recompute branch and the affected-component
    branch of signed cluster maintenance consolidate to the SAME net
    change (untouched components cancel identically in the full
    diff)."""
    from datafusion_delta_queries_spark.operators import signed_queries

    monkeypatch.setattr(
        signed_queries, "_CLUSTER_FULL_RECOMPUTE_FRAC", 1.1
    )
    scoped = signed_queries.q_signed_cluster_maintenance(spark, SF_SMALL)
    scoped_rows = {tuple(r) for r in scoped.collect()}
    monkeypatch.setattr(
        signed_queries, "_CLUSTER_FULL_RECOMPUTE_FRAC", 0.0
    )
    full = signed_queries.q_signed_cluster_maintenance(spark, SF_SMALL)
    assert {tuple(r) for r in full.collect()} == scoped_rows


def test_signed_identity_three_table_chain(spark):
    """Nested bilinear expansion: Δ over (lineitem ⋈ orders) ⋈ customer
    recurses — the inner join's 3-branch signed union becomes the
    outer join's delta side, with sign products threading through.
    All three tables carry inserts, deletes, and updates."""
    ir = Projection(
        [
            "l_orderkey", "l_linenumber", "c_custkey",
            "round(l_extendedprice, 2) AS price",
            "round(o_totalprice, 2) AS total",
        ],
        Join(
            Join(Scan("lineitem"), Scan("orders"),
                 on=[("l_orderkey", "o_orderkey")]),
            Scan("customer"),
            on=[("o_custkey", "c_custkey")],
        ),
    )
    cat = SignedDeltaCatalog(spark, SF_SMALL)
    got = consolidate(compile_signed_delta(ir, cat))
    want = _net_diff(compile_new(ir, cat), compile_old(ir, cat))
    assert _frames_equal(got, want)
    assert got.where(F.col(SIGN) < 0).count() > 0


# -- delta-scoped chain compiler: star multi-join outer chains ---------

_CHAIN_TYPE_COMBOS = [
    ("left", "left"),
    ("left", "inner"),
    ("inner", "left"),
    ("left", "semi"),
    ("anti", "left"),
]


@pytest.mark.parametrize("t1,t2", _CHAIN_TYPE_COMBOS)
def test_scoped_chain_delta_identity(spark, t1, t2):
    """compile_signed_delta_scoped_chain: for star-shaped two-join
    chains (lineitem ⟕ orders ⟕ part), the fact-key-confined
    recompute's consolidated output equals the brute-force new-vs-old
    net diff of the UNRESTRICTED query — with inserts, deletes, and
    updates on the fact AND dim₁ sides (part static: its touched set
    is empty, proving an unchanged dimension adds no slice work)."""
    from datafusion_delta_queries_spark.plans.signed import (
        compile_signed_delta_scoped_chain,
    )

    cols = ["l_orderkey", "l_linenumber", "round(l_extendedprice,2) AS px"]
    if t1 in ("left", "inner"):
        cols.append("o_orderpriority")
    if t2 in ("left", "inner"):
        cols.append("p_brand")
    ir = Projection(
        cols,
        Join(
            Join(Scan("lineitem"), Scan("orders"),
                 on=[("l_orderkey", "o_orderkey")], join_type=t1),
            Scan("part"),
            on=[("l_partkey", "p_partkey")], join_type=t2,
        ),
    )
    cat = SignedDeltaCatalog(spark, SF_SMALL)
    got = consolidate(compile_signed_delta_scoped_chain(ir, cat))
    want = _net_diff(compile_new(ir, cat), compile_old(ir, cat))
    assert _frames_equal(got, want)
    if t1 != "anti":
        # retractions flow (deleted fact rows / orders losing matches)
        assert got.where(F.col(SIGN) < 0).count() > 0


def test_scoped_chain_three_joins_identity(spark):
    """Depth-3 star chain: lineitem ⟕ orders ⟕ part ⟕ supplier —
    every join key a fact column, two static dims."""
    from datafusion_delta_queries_spark.plans.signed import (
        compile_signed_delta_scoped_chain,
    )

    ir = Projection(
        ["l_orderkey", "l_linenumber", "o_orderpriority", "p_brand",
         "s_name", "round(l_extendedprice,2) AS px"],
        Join(
            Join(
                Join(Scan("lineitem"), Scan("orders"),
                     on=[("l_orderkey", "o_orderkey")], join_type="left"),
                Scan("part"),
                on=[("l_partkey", "p_partkey")], join_type="left",
            ),
            Scan("supplier"),
            on=[("l_suppkey", "s_suppkey")], join_type="left",
        ),
    )
    cat = SignedDeltaCatalog(spark, SF_SMALL)
    got = consolidate(compile_signed_delta_scoped_chain(ir, cat))
    want = _net_diff(compile_new(ir, cat), compile_old(ir, cat))
    assert _frames_equal(got, want)
    assert got.where(F.col(SIGN) < 0).count() > 0


def test_scoped_chain_refusals(spark):
    from datafusion_delta_queries_spark.plans.signed import (
        compile_signed_delta_scoped_chain,
    )

    cat = SignedDeltaCatalog(spark, SF_SMALL)
    inner2 = Join(Scan("lineitem"), Scan("orders"),
                  on=[("l_orderkey", "o_orderkey")], join_type="left")
    # FULL/RIGHT pad rows that derive from no fact row
    with pytest.raises(UnsupportedIncrementalOperator, match="pads rows"):
        compile_signed_delta_scoped_chain(
            Join(inner2, Scan("part"),
                 on=[("l_partkey", "p_partkey")], join_type="full"),
            cat,
        )
    # null-safe SNOWFLAKE: padded fact rows carry NULL sub-keys with
    # no parent row, so the parent-row fold cannot see a NULL-keyed
    # sub-dim change — must refuse (plain snowflake now compiles, see
    # test_scoped_chain_snowflake_identity)
    with pytest.raises(
        UnsupportedIncrementalOperator, match="null-safe snowflake"
    ):
        compile_signed_delta_scoped_chain(
            Join(inner2, Scan("customer"),
                 on=[("o_custkey", "c_custkey")], join_type="left",
                 null_equals_null=True),
            cat,
        )
    # snowflake keys of MIXED provenance (one from dim₁, one from the
    # fact) have no single parent to fold through
    with pytest.raises(
        UnsupportedIncrementalOperator, match="exactly one earlier"
    ):
        compile_signed_delta_scoped_chain(
            Join(inner2, Scan("customer"),
                 on=[("o_custkey", "c_custkey"),
                     ("l_suppkey", "c_nationkey")], join_type="left"),
            cat,
        )
    # single joins route through compile_signed_delta_scoped_join
    with pytest.raises(UnsupportedIncrementalOperator, match="≥2 chained"):
        compile_signed_delta_scoped_chain(
            Join(Scan("lineitem"), Scan("orders"),
                 on=[("l_orderkey", "o_orderkey")], join_type="left"),
            cat,
        )
    # keyless join in the chain
    with pytest.raises(UnsupportedIncrementalOperator, match="equi key"):
        compile_signed_delta_scoped_chain(
            Join(inner2, Scan("part"), on=[], join_type="left"),
            cat,
        )


def test_sql_frontend_routes_outer_chain(spark):
    """maintain_join_agg_of_sql_signed falls back linear → scoped
    single join → scoped chain; the chain-maintained aggregate equals
    a from-scratch run of the statement over the new state."""
    from datafusion_delta_queries_spark.operators.signed_queries import (
        q_signed_sql_outer_chain_agg,
    )

    got = q_signed_sql_outer_chain_agg(spark, SF_SMALL)
    assert set(got.columns) == {
        "o_orderpriority", "p_brand", "n_rows", "n_matched", "cents"
    }
    # dangling fact rows exist: orders deleted by CDC leave their
    # lineitems NULL-padded — the padding-retraction case
    assert got.where("o_orderpriority IS NULL").count() > 0


def test_dupspan_repair_is_scoped_and_complete(spark):
    """Duplicate-span maintenance: (a) carried ∪ recomputed equals the
    batch rebuild over the post-change corpus; (b) the repair scope is
    REAL — the affected set excludes some span-holding docs (their
    spans flow through the carried anti join untouched) while both
    branches contribute rows at this fixture."""
    from datafusion_delta_queries_spark.operators.llm_pipeline import (
        _gram_positions,
        _spans_from_positions,
    )
    from datafusion_delta_queries_spark.operators.signed_queries import (
        _dupspan_parts,
        _recompute,
    )

    p = _dupspan_parts(spark, SF_SMALL, _recompute)
    maintained = p["carried"].unionByName(p["respans"])

    cat = SignedDeltaCatalog(spark, SF_SMALL)
    gp = _gram_positions(cat.new("documents"))
    dup = gp.groupBy("g").count().where("count >= 2").select("g")
    rebuilt = _spans_from_positions(gp.join(dup, "g").select("doc_id", "i"))
    assert _frames_equal(maintained, rebuilt)

    carried_docs = {r[0] for r in p["carried"].select("doc_id").collect()}
    respan_docs = {r[0] for r in p["respans"].select("doc_id").collect()}
    affected = {r[0] for r in p["affected"].collect()}
    assert carried_docs, "carried branch must be exercised"
    assert respan_docs, "recompute branch must be exercised"
    assert carried_docs.isdisjoint(affected)
    assert respan_docs <= affected


def test_triangle_maintenance_update_only_batch_cancels(spark):
    """An update-only lineitem batch (no part movement) must cancel
    identically in the support merge: zero added/removed edges, zero
    triangle delta — the signed no-op the price-only CDC implies."""
    from datafusion_delta_queries_spark.plans.signed import CdcSpec
    from datafusion_delta_queries_spark.operators.signed_queries import (
        q_signed_triangle_maintenance,
    )

    upd_only = {
        "lineitem": CdcSpec(
            insert_pred="FALSE",
            delete_pred="FALSE",
            update_pred="(l_orderkey * 7 + l_linenumber) % 10 = 2",
            update_set={"l_extendedprice": "l_extendedprice + 100.0"},
        )
    }
    row = q_signed_triangle_maintenance(
        spark, SF_SMALL, specs=upd_only
    ).collect()[0]
    assert row["n_added_edges"] == 0
    assert row["n_removed_edges"] == 0
    assert row["tri_delta"] == 0
    assert row["n_edges_new"] > 0


def test_scoped_chain_snowflake_identity(spark):
    """Snowflake chains now compile: the Δ sub-dim fold through the
    parent dim's old ∪ new images must land on the brute-force diff
    exactly — two-level (fact→orders→customer) and with the parent
    join inner as well as left."""
    from datafusion_delta_queries_spark.plans.signed import (
        compile_signed_delta_scoped_chain,
    )

    cat = SignedDeltaCatalog(spark, SF_SMALL)
    for parent_type, leaf_type in (
        ("left", "left"), ("inner", "left"), ("left", "inner"),
    ):
        inner2 = Join(
            Scan("lineitem"), Scan("orders"),
            on=[("l_orderkey", "o_orderkey")], join_type=parent_type,
        )
        ir = Join(
            inner2, Scan("customer"),
            on=[("o_custkey", "c_custkey")], join_type=leaf_type,
        )
        delta = consolidate(compile_signed_delta_scoped_chain(ir, cat))
        brute = _net_diff(
            compile_new(ir, cat), compile_old(ir, cat)
        )
        assert _frames_equal(delta, brute), (parent_type, leaf_type)


def test_scoped_chain_snowflake_three_level(spark):
    """Depth-3 snowflake (fact→orders→customer→nation): the fold
    recurses sub-dim → parent → grandparent before reaching the
    star root."""
    from datafusion_delta_queries_spark.plans.signed import (
        compile_signed_delta_scoped_chain,
    )

    cat = SignedDeltaCatalog(spark, SF_SMALL)
    ir = Join(
        Join(
            Join(
                Scan("lineitem"), Scan("orders"),
                on=[("l_orderkey", "o_orderkey")], join_type="left",
            ),
            Scan("customer"),
            on=[("o_custkey", "c_custkey")], join_type="left",
        ),
        Scan("nation"),
        on=[("c_nationkey", "n_nationkey")], join_type="left",
    )
    delta = consolidate(compile_signed_delta_scoped_chain(ir, cat))
    brute = _net_diff(compile_new(ir, cat), compile_old(ir, cat))
    assert _frames_equal(delta, brute)
