"""Execution-level IVM correctness: full(T ∪ ΔT) == full(T) ∪ delta(T, ΔT).

The reference never executes a delta plan (all its MemTables are empty,
optimizer_rules/mod.rs:219); these tests run the identity on real data
for every delta query we ship, comparing multisets.
"""

from __future__ import annotations

import pytest

from datafusion_delta_queries_spark.operators.delta_queries import (
    _COMPOSITE_IR,
    _CROSS_IR,
    _JOIN_IR,
    _JOIN_THETA_IR,
    _PF_IR,
    _SEMI_IR,
    _UNION_IR,
)
from datafusion_delta_queries_spark.plans import (
    DeltaCatalog,
    compile_delta,
    compile_plan,
    compile_snapshot,
)

from .conftest import SF_SMALL

IRS = {
    "projection_filter": _PF_IR,
    "join": _JOIN_IR,
    "join_theta": _JOIN_THETA_IR,
    "cross_join": _CROSS_IR,
    "union": _UNION_IR,
    "composite": _COMPOSITE_IR,
    # The semi-join delta rule is the one rewrite invented beyond the
    # reference — keep its IVM identity in the deterministic set, not
    # just the Hypothesis property sweep.
    "semi_join": _SEMI_IR,
}


def _multiset(df):
    return sorted(tuple(row) for row in df.collect())


@pytest.mark.parametrize("name", sorted(IRS))
def test_ivm_identity(spark, name):
    ir = IRS[name]
    cat = DeltaCatalog(spark, SF_SMALL)
    full_new = _multiset(compile_plan(ir, cat))
    full_old = _multiset(compile_snapshot(ir, cat))
    delta = _multiset(compile_delta(ir, cat))
    assert len(delta) > 0, "vacuous: delta batch produced no new output rows"
    assert sorted(full_old + delta) == full_new


def test_compile_delta_refuses_unsupported(spark):
    from datafusion_delta_queries_spark.plans import Scan
    from datafusion_delta_queries_spark.plans.nodes import PosDelta, PosDeltaScan

    cat = DeltaCatalog(spark, SF_SMALL)
    with pytest.raises(ValueError, match="no positive-delta derivation"):
        compile_delta(PosDelta(PosDeltaScan(Scan("orders"))), cat)


def test_compile_delta_takes_a_rewritten_plan_as_is(spark):
    """A plan that already holds PosDeltaScan leaves compiles as it is:
    rewriting it again would return the delta of its delta."""
    from datafusion_delta_queries_spark.plans import rewrite_pos_delta
    from datafusion_delta_queries_spark.plans.nodes import PosDelta

    cat = DeltaCatalog(spark, SF_SMALL)
    want = _multiset(compile_delta(_JOIN_IR, cat))
    rewritten = rewrite_pos_delta(PosDelta(_JOIN_IR))
    assert _multiset(compile_delta(rewritten, cat)) == want
    assert len(want) == 365


def test_agg_maintenance_identity_any_split(spark):
    """agg(T ∪ ΔT) == merge(agg(T), agg(ΔT)) for EVERY split of the
    input, not just the fixture's — the decomposable-aggregate identity
    behind q_delta_agg_maintenance, exercised over several moduli.

    count/min/max merge exactly; the double-sum merge is compared under
    a 1e-6 relative tolerance (re-aggregation reorders float addition).
    """
    from pyspark.sql import functions as F

    from datafusion_delta_queries_spark.catalog import load_table

    orders = load_table(spark, SF_SMALL, "orders")

    def partial(df):
        return df.groupBy("o_orderpriority").agg(
            F.sum("o_totalprice").alias("p_total"),
            F.count("*").alias("p_n"),
            F.max("o_totalprice").alias("p_max"),
            F.min("o_totalprice").alias("p_min"),
        )

    def merge(*parts):
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return u.groupBy("o_orderpriority").agg(
            F.sum("p_total").alias("total"),
            F.sum("p_n").alias("n"),
            F.max("p_max").alias("mx"),
            F.min("p_min").alias("mn"),
        )

    for m in (2, 3, 7):
        old = orders.where(f"o_orderkey % {m} != 0")
        delta = orders.where(f"o_orderkey % {m} = 0")
        assert old.count() > 0 and delta.count() > 0, m
        merged = {
            r.o_orderpriority: r for r in merge(partial(old), partial(delta)).collect()
        }
        full = {r.o_orderpriority: r for r in merge(partial(orders)).collect()}
        assert set(merged) == set(full), m
        for k in full:
            a, b = merged[k], full[k]
            assert a.n == b.n and a.mx == b.mx and a.mn == b.mn, (m, k)
            assert abs(a.total - b.total) <= 1e-6 * abs(b.total), (m, k)


def test_null_split_key_is_old_in_both_flag_realizations(spark, tmp_path):
    """A row whose split predicate is NULL belongs to the old snapshot:
    snapshot ⊎ delta = full, the predicate flag and the tagged
    snapshot/delta union agree, and one-pass ΔQ is exactly
    full(new) EXCEPT ALL full(old)."""
    from collections import Counter

    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_delta_queries_spark.plans import Join, Projection, Scan
    from datafusion_delta_queries_spark.plans.compiler import tag_split

    pq.write_table(
        pa.table(
            {
                "k": pa.array([0, 1, None, 3, None, 4], pa.int64()),
                "g": pa.array([1, 1, 1, 2, 2, 3], pa.int32()),
                "v": ["a", "b", "c", "d", "e", "f"],
            }
        ),
        str(tmp_path / "items.parquet"),
    )
    pq.write_table(
        pa.table({"g": pa.array([1, 2, 3], pa.int32()), "name": ["x", "y", "z"]}),
        str(tmp_path / "groups.parquet"),
    )
    cat = DeltaCatalog(
        spark, str(tmp_path), {"items": "k % 3 = 0", "groups": "g >= 3"}
    )

    def bag(df):
        return Counter(tuple(r) for r in df.collect())

    assert bag(cat.snapshot("items")) + bag(cat.delta("items")) == bag(
        cat.full("items")
    )
    assert bag(cat.flagged("items")) == bag(tag_split(cat, "items"))
    ir = Projection(
        ["v", "name"], Join(Scan("items"), Scan("groups"), on=[("g", "g")])
    )
    new, old = bag(compile_plan(ir, cat)), bag(compile_snapshot(ir, cat))
    delta = bag(compile_delta(ir, cat))
    assert delta == new - old
    assert old + delta == new
    assert delta == Counter({("a", "x"): 1, ("d", "y"): 1, ("f", "z"): 1})
