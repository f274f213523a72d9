"""Continuous aggregate table: stored state == full recompute across
multiple refresh cycles (the end-to-end loop behind the reference's
IVM idea — maintain, persist via keyed upsert, refresh from the next
delta batch without rescanning history)."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from datafusion_delta_queries_spark.catalog import load_table
from datafusion_delta_queries_spark.operators.continuous_agg import (
    ContinuousAggregate,
)
from datafusion_delta_queries_spark.plans import UnsupportedSQL

from .conftest import SF_SMALL

SQL = (
    "SELECT o_orderpriority, count(*) AS n_orders, "
    "min(o_totalprice) AS min_price, max(o_totalprice) AS max_price, "
    "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents, "
    "avg(o_totalprice) AS mean_price "
    "FROM orders WHERE o_totalprice > 1000 GROUP BY o_orderpriority"
)


def _recompute(df):
    return (
        df.where("o_totalprice > 1000")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.sum(
                F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            ).alias("cents"),
            F.avg("o_totalprice").alias("mean_price"),
        )
    )


def _rows(df):
    out = {}
    for r in df.collect():
        d = r.asDict()
        out[d.pop("o_orderpriority")] = d
    return out


def _assert_state_equals(view, expected_df):
    got, exp = _rows(view.read()), _rows(_recompute(expected_df))
    assert set(got) == set(exp)
    for k in exp:
        for c in ("n_orders", "min_price", "max_price", "cents"):
            assert got[k][c] == exp[k][c], (k, c)
        assert abs(got[k]["mean_price"] - exp[k]["mean_price"]) < 1e-6, k


def test_refresh_cycles_equal_full_recompute(spark, tmp_path):
    """initialize + two refresh cycles: after each cycle the stored
    table equals the batch recompute over everything seen so far."""
    orders = load_table(spark, SF_SMALL, "orders")
    base = orders.where("o_orderkey % 3 = 0")
    b1 = orders.where("o_orderkey % 3 = 1")
    b2 = orders.where("o_orderkey % 3 = 2")

    view = ContinuousAggregate(spark, str(tmp_path / "state"), SQL)
    view.initialize(base)
    _assert_state_equals(view, base)

    view.refresh(b1)
    _assert_state_equals(view, base.unionByName(b1))

    view.refresh(b2)
    _assert_state_equals(view, orders)


def test_having_applies_on_read(spark, tmp_path):
    orders = load_table(spark, SF_SMALL, "orders")
    sql = (
        "SELECT o_custkey, count(*) AS n FROM orders "
        "GROUP BY o_custkey HAVING count(*) >= 5"
    )
    view = ContinuousAggregate(spark, str(tmp_path / "state"), sql)
    view.initialize(orders.where("o_orderkey % 2 = 0"))
    view.refresh(orders.where("o_orderkey % 2 = 1"))
    got = {r["o_custkey"]: r["n"] for r in view.read().collect()}
    exp = {
        r["o_custkey"]: r["n"]
        for r in orders.groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
        .where("n >= 5")
        .collect()
    }
    # A group crossing the threshold only after the second batch must
    # appear; one below it must not.
    assert got == exp and 0 < len(got)


def test_rejects_count_distinct(spark, tmp_path):
    with pytest.raises(UnsupportedSQL, match="distinct-pair"):
        ContinuousAggregate(
            spark,
            str(tmp_path / "s"),
            "SELECT a, count(DISTINCT b) AS u FROM t GROUP BY a",
        )


def test_rejects_null_grouping_key_in_batch(spark, tmp_path):
    t0 = spark.createDataFrame([("a", 1)], "k: string, v: int")
    view = ContinuousAggregate(
        spark,
        str(tmp_path / "s"),
        "SELECT k, sum(v) AS total FROM t GROUP BY k",
    )
    view.initialize(t0)
    bad = spark.createDataFrame([(None, 2)], "k: string, v: int")
    with pytest.raises(ValueError, match="NULL grouping key"):
        view.refresh(bad)
    # State unharmed by the rejected batch.
    assert [tuple(r) for r in view.read().collect()] == [("a", 1)]


# -- retraction-capable refresh (signed / CDF batches) -----------------

def _cdf(df, change_type):
    return df.withColumn("_change_type", F.lit(change_type))


def test_signed_refresh_cycles_equal_full_recompute(spark, tmp_path):
    """initialize + two CDF refresh cycles (inserts + deletes +
    updates): after each cycle the stored table equals the batch
    recompute over the post-change state — including a group-moving
    update (priority rewritten) and min/max retraction."""
    orders = load_table(spark, SF_SMALL, "orders")

    s0 = orders.where("o_orderkey % 4 IN (0, 1, 2)")  # initial state
    view = ContinuousAggregate(spark, str(tmp_path / "state"), SQL)
    view.initialize(s0)

    # Cycle 1: insert the %4=3 rows, delete the %4=0 rows, update the
    # %4=1 rows (price +50000 — moves extrema; priority rewritten —
    # moves rows BETWEEN groups).
    ins1 = orders.where("o_orderkey % 4 = 3")
    del1 = orders.where("o_orderkey % 4 = 0")
    pre1 = orders.where("o_orderkey % 4 = 1")
    post1 = pre1.withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(50000.0)
    ).withColumn("o_orderpriority", F.lit("9-MOVED"))
    batch1 = (
        _cdf(ins1, "insert")
        .unionByName(_cdf(del1, "delete"))
        .unionByName(_cdf(pre1, "update_preimage"))
        .unionByName(_cdf(post1, "update_postimage"))
    )
    s1 = orders.where("o_orderkey % 4 IN (2, 3)").unionByName(post1)
    view.refresh_signed(batch1, base_new_df=s1)
    _assert_state_equals(view, s1)

    # Cycle 2: delete every moved row — the '9-MOVED' group's count
    # reaches zero and must LEAVE the state table.
    batch2 = _cdf(post1, "delete")
    s2 = orders.where("o_orderkey % 4 IN (2, 3)")
    view.refresh_signed(batch2, base_new_df=s2)
    _assert_state_equals(view, s2)
    assert "9-MOVED" not in _rows(view.read())


def test_signed_minmax_safe_groups_never_read_the_base(spark, tmp_path):
    """Two-tier min/max repair: when no retraction threatens a stored
    extremum (deleted values strictly inside the [min, max] envelope),
    every group takes the algebraic least/greatest merge — proven by
    handing refresh_signed a POISONED base whose values would corrupt
    any recomputed extremum. The poison must never reach the state."""
    t0 = spark.createDataFrame(
        [("a", 1.0), ("a", 5.0), ("a", 9.0), ("b", 2.0), ("b", 6.0)],
        "k: string, v: double",
    )
    sql = (
        "SELECT k, count(*) AS n, min(v) AS lo, max(v) AS hi "
        "FROM t GROUP BY k"
    )
    view = ContinuousAggregate(spark, str(tmp_path / "state"), sql)
    view.initialize(t0)
    batch = _cdf(
        spark.createDataFrame([("a", 5.0)], "k: string, v: double"),
        "delete",
    ).unionByName(
        _cdf(
            spark.createDataFrame([("b", 7.0)], "k: string, v: double"),
            "insert",
        )
    )
    poisoned = t0.withColumn("v", F.lit(-999.0))
    view.refresh_signed(batch, base_new_df=poisoned)
    got = {r["k"]: (r["n"], r["lo"], r["hi"]) for r in view.read().collect()}
    assert got == {"a": (2, 1.0, 9.0), "b": (3, 2.0, 7.0)}


def test_signed_minmax_threatened_group_recomputes_runner_up(
    spark, tmp_path
):
    """Deleting the stored minimum promotes the runner-up via the
    base-slice recompute — and ONLY the threatened group recomputes:
    the untouched group's extrema survive a base in which its rows
    are poisoned."""
    t0 = spark.createDataFrame(
        [("a", 1.0), ("a", 5.0), ("a", 9.0), ("b", 2.0), ("b", 6.0)],
        "k: string, v: double",
    )
    sql = (
        "SELECT k, count(*) AS n, min(v) AS lo, max(v) AS hi "
        "FROM t GROUP BY k"
    )
    view = ContinuousAggregate(spark, str(tmp_path / "state"), sql)
    view.initialize(t0)
    # delete a's min AND touch b safely (delete 2.0? no — that's b's
    # min; insert instead) so b is in the batch but on the safe tier.
    batch = _cdf(
        spark.createDataFrame([("a", 1.0)], "k: string, v: double"),
        "delete",
    ).unionByName(
        _cdf(
            spark.createDataFrame([("b", 4.0)], "k: string, v: double"),
            "insert",
        )
    )
    # post-change base, with b's rows poisoned: a recompute of b would
    # surface -999; the safe tier must keep b's true extrema.
    base_new = spark.createDataFrame(
        [("a", 5.0), ("a", 9.0), ("b", -999.0), ("b", -999.0),
         ("b", -999.0)],
        "k: string, v: double",
    )
    view.refresh_signed(batch, base_new_df=base_new)
    got = {r["k"]: (r["n"], r["lo"], r["hi"]) for r in view.read().collect()}
    assert got == {"a": (2, 5.0, 9.0), "b": (3, 2.0, 6.0)}


def test_signed_minmax_duplicated_extremum_delete_is_exact(
    spark, tmp_path
):
    """Retracting ONE copy of a duplicated minimum forces the
    recompute tier (the value equals the stored extremum) and the
    recompute keeps the surviving copy's value — the case an
    algebraic merge could never decide."""
    t0 = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("a", 9.0)], "k: string, v: double"
    )
    sql = "SELECT k, count(*) AS n, min(v) AS lo FROM t GROUP BY k"
    view = ContinuousAggregate(spark, str(tmp_path / "state"), sql)
    view.initialize(t0)
    batch = _cdf(
        spark.createDataFrame([("a", 1.0)], "k: string, v: double"),
        "delete",
    )
    base_new = spark.createDataFrame(
        [("a", 1.0), ("a", 9.0)], "k: string, v: double"
    )
    view.refresh_signed(batch, base_new_df=base_new)
    got = {r["k"]: (r["n"], r["lo"]) for r in view.read().collect()}
    assert got == {"a": (2, 1.0)}


def test_signed_refresh_sum_count_needs_no_base(spark, tmp_path):
    """Statements without min/max merge purely from signed partials —
    no base-table handle required."""
    t0 = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 5)], "k: string, v: int"
    )
    view = ContinuousAggregate(
        spark, str(tmp_path / "s"),
        "SELECT k, count(*) AS n, sum(v) AS total FROM t GROUP BY k",
    )
    view.initialize(t0)
    batch = spark.createDataFrame(
        [("a", 2, "delete"), ("b", 5, "update_preimage"),
         ("b", 7, "update_postimage"), ("c", 9, "insert")],
        "k: string, v: int, _change_type: string",
    )
    view.refresh_signed(batch)
    got = {r["k"]: (r["n"], r["total"]) for r in view.read().collect()}
    assert got == {"a": (1, 1), "b": (1, 7), "c": (1, 9)}


def test_signed_refresh_rejects_minmax_without_base(spark, tmp_path):
    orders = load_table(spark, SF_SMALL, "orders")
    view = ContinuousAggregate(spark, str(tmp_path / "state"), SQL)
    view.initialize(orders)
    with pytest.raises(ValueError, match="min/max"):
        view.refresh_signed(_cdf(orders.limit(1), "delete"))


def test_signed_refresh_rejects_over_retraction(spark, tmp_path):
    t0 = spark.createDataFrame([("a", 1)], "k: string, v: int")
    view = ContinuousAggregate(
        spark, str(tmp_path / "s"),
        "SELECT k, sum(v) AS total FROM t GROUP BY k",
    )
    view.initialize(t0)
    bad = spark.createDataFrame(
        [("a", 1, "delete"), ("a", 1, "delete")],
        "k: string, v: int, _change_type: string",
    )
    with pytest.raises(ValueError, match="negative live count"):
        view.refresh_signed(bad)
    # State unharmed by the rejected batch.
    assert [tuple(r) for r in view.read().collect()] == [("a", 1)]


def test_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once; a replayed (batch_id, batch) must
    not double-count. The marker guard skips the second application."""
    t0 = spark.createDataFrame([("a", 1)], "k: string, v: int")
    view = ContinuousAggregate(
        spark, str(tmp_path / "s"),
        "SELECT k, sum(v) AS total, count(*) AS n FROM t GROUP BY k",
    )
    view.initialize(t0)
    batch = spark.createDataFrame([("a", 10)], "k: string, v: int")
    view._apply_once(7, lambda: view.refresh(batch))
    view._apply_once(7, lambda: view.refresh(batch))  # replay: no-op
    got = [tuple(r) for r in view.read().collect()]
    assert got == [("a", 11, 2)]
    view._apply_once(8, lambda: view.refresh(batch))  # new id applies
    assert [tuple(r) for r in view.read().collect()] == [("a", 21, 3)]


def test_signed_refresh_expression_grouping_key(spark, tmp_path):
    """Regression (review finding): the min/max scoped recompute must
    evaluate EXPRESSION grouping keys on the base — joining the raw
    base on the output alias crashed (no such column), and an alias
    shadowing a base column silently mis-restricted the recompute."""
    t0 = spark.createDataFrame(
        [("a", 1), ("a", 5), ("b", 9)], "k: string, v: int"
    )
    view = ContinuousAggregate(
        spark, str(tmp_path / "s"),
        "SELECT upper(k) AS g, min(v) AS lo, count(*) AS n "
        "FROM t GROUP BY upper(k)",
    )
    view.initialize(t0)
    batch = spark.createDataFrame(
        [("a", 1, "delete")], "k: string, v: int, _change_type: string"
    )
    new_state = spark.createDataFrame(
        [("a", 5), ("b", 9)], "k: string, v: int"
    )
    view.refresh_signed(batch, base_new_df=new_state)
    got = {r["g"]: (r["lo"], r["n"]) for r in view.read().collect()}
    assert got == {"A": (5, 1), "B": (9, 1)}  # deleted minimum promoted


def test_signed_refresh_alias_shadows_base_column(spark, tmp_path):
    """The shadowing variant: output alias equals a base column name
    with DIFFERENT values — a name-based join would silently compare
    raw k to upper(k) and drop touched groups from the recompute."""
    t0 = spark.createDataFrame(
        [("a", 1), ("a", 5)], "k: string, v: int"
    )
    view = ContinuousAggregate(
        spark, str(tmp_path / "s"),
        "SELECT upper(k) AS k, max(v) AS hi, count(*) AS n "
        "FROM t GROUP BY upper(k)",
    )
    view.initialize(t0)
    batch = spark.createDataFrame(
        [("a", 5, "delete")], "k: string, v: int, _change_type: string"
    )
    new_state = spark.createDataFrame([("a", 1)], "k: string, v: int")
    view.refresh_signed(batch, base_new_df=new_state)
    assert [tuple(r) for r in view.read().collect()] == [("A", 1, 1)]


def test_reinitialize_clears_replay_markers(spark, tmp_path):
    """Regression (review finding): markers from a previous life of the
    state path must not make a rebuilt view treat a fresh stream's
    batch 0 as a replay and silently freeze."""
    import shutil

    t0 = spark.createDataFrame([("a", 1)], "k: string, v: int")
    view = ContinuousAggregate(
        spark, str(tmp_path / "s"),
        "SELECT k, sum(v) AS total FROM t GROUP BY k",
    )
    view.initialize(t0)
    batch = spark.createDataFrame([("a", 10)], "k: string, v: int")
    view._apply_once(0, lambda: view.refresh(batch), stream_ns="ck1")
    assert [tuple(r) for r in view.read().collect()] == [("a", 11)]
    # Rebuild the view from scratch (state dir deleted, markers stale).
    shutil.rmtree(str(tmp_path / "s"))
    view.initialize(t0)
    view._apply_once(0, lambda: view.refresh(batch), stream_ns="ck1")
    assert [tuple(r) for r in view.read().collect()] == [("a", 11)]
    # Distinct stream namespaces never collide on batch ids.
    view._apply_once(0, lambda: view.refresh(batch), stream_ns="ck2")
    assert [tuple(r) for r in view.read().collect()] == [("a", 21)]


# -- stored count(DISTINCT): pair-multiplicity state -------------------


def _cd_recompute(df):
    return {
        r["o_orderpriority"]: (r["n_custs"], r["n_orders"])
        for r in df.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_custs"),
            F.count("*").alias("n_orders"),
        )
        .collect()
    }


def test_distinct_aggregate_cycles_equal_full_recompute(spark, tmp_path):
    """initialize + insert refresh + signed refresh: the stored pair
    tables equal the full count(DISTINCT)/count(*) recompute at every
    step, including updates that move pairs between groups and a
    delete that kills a (group, value) pair while the customer still
    has other orders elsewhere."""
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousDistinctAggregate,
    )

    orders = load_table(spark, SF_SMALL, "orders")
    sql = (
        "SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_custs, "
        "count(*) AS n_orders FROM orders GROUP BY o_orderpriority"
    )
    view = ContinuousDistinctAggregate(spark, str(tmp_path / "s"), sql)
    s0 = orders.where("o_orderkey % 3 = 0")
    view.initialize(s0)
    got = {r["o_orderpriority"]: (r["n_custs"], r["n_orders"])
           for r in view.read().collect()}
    assert got == _cd_recompute(s0)

    b1 = orders.where("o_orderkey % 3 = 1")
    view.refresh(b1)
    s1 = orders.where("o_orderkey % 3 IN (0, 1)")
    got = {r["o_orderpriority"]: (r["n_custs"], r["n_orders"])
           for r in view.read().collect()}
    assert got == _cd_recompute(s1)

    # Signed cycle: delete %3=0, move %3=1 into a new priority group.
    pre = orders.where("o_orderkey % 3 = 1")
    post = pre.withColumn("o_orderpriority", F.lit("9-CDMOVED"))
    batch = (
        _cdf(orders.where("o_orderkey % 3 = 0"), "delete")
        .unionByName(_cdf(pre, "update_preimage"))
        .unionByName(_cdf(post, "update_postimage"))
    )
    view.refresh_signed(batch)
    got = {r["o_orderpriority"]: (r["n_custs"], r["n_orders"])
           for r in view.read().collect()}
    assert got == _cd_recompute(post)
    assert set(got) == {"9-CDMOVED"}


def test_distinct_aggregate_having_and_rejections(spark, tmp_path):
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousDistinctAggregate,
    )

    orders = load_table(spark, SF_SMALL, "orders")
    sql = (
        "SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_custs "
        "FROM orders GROUP BY o_orderpriority "
        "HAVING count(DISTINCT o_custkey) >= 100"
    )
    view = ContinuousDistinctAggregate(spark, str(tmp_path / "h"), sql)
    view.initialize(orders)
    exp = {
        r["o_orderpriority"]: r["n_custs"]
        for r in orders.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n_custs"))
        .where("n_custs >= 100")
        .collect()
    }
    got = {r["o_orderpriority"]: r["n_custs"]
           for r in view.read().collect()}
    assert got == exp and 0 < len(got) < 6

    with pytest.raises(UnsupportedSQL, match="use ContinuousAggregate"):
        ContinuousDistinctAggregate(
            spark, str(tmp_path / "x"),
            "SELECT k, count(*) AS n FROM t GROUP BY k",
        )
    with pytest.raises(UnsupportedSQL, match="belong"):
        ContinuousDistinctAggregate(
            spark, str(tmp_path / "y"),
            "SELECT k, count(DISTINCT v) AS u, sum(v) AS s "
            "FROM t GROUP BY k",
        )


def test_distinct_aggregate_rejects_null_argument(spark, tmp_path):
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousDistinctAggregate,
    )

    t0 = spark.createDataFrame(
        [("a", 1), ("a", None)], "k: string, v: int"
    )
    view = ContinuousDistinctAggregate(
        spark, str(tmp_path / "n"),
        "SELECT k, count(DISTINCT v) AS u FROM t GROUP BY k",
    )
    with pytest.raises(ValueError, match="NULL grouping key or NULL"):
        view.initialize(t0)


def test_distinct_aggregate_rejects_over_retraction(spark, tmp_path):
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousDistinctAggregate,
    )

    t0 = spark.createDataFrame([("a", 1)], "k: string, v: int")
    view = ContinuousDistinctAggregate(
        spark, str(tmp_path / "r"),
        "SELECT k, count(DISTINCT v) AS u FROM t GROUP BY k",
    )
    view.initialize(t0)
    bad = _cdf(
        spark.createDataFrame([("a", 7)], "k: string, v: int"), "delete"
    )
    with pytest.raises(ValueError, match="never had"):
        view.refresh_signed(bad)
    # state unharmed
    assert [tuple(r) for r in view.read().collect()] == [("a", 1)]


# -- stored top-k per group ---------------------------------------------


def _topk_recompute(df, k=3):
    from pyspark.sql import Window as W

    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return {
        (r["o_orderpriority"], r["o_orderkey"])
        for r in df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .collect()
    }


def _topk_state(view):
    return {
        (r["o_orderpriority"], r["o_orderkey"])
        for r in view.read().collect()
    }


def test_topk_view_cycles_equal_full_recompute(spark, tmp_path):
    """initialize + insert refresh + signed refresh (deleting stored
    leaders so runner-ups promote from the base): the stored top-3
    equals the full window-rank recompute after each cycle."""
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousTopK,
    )

    orders = load_table(spark, SF_SMALL, "orders")
    view = ContinuousTopK(
        spark, str(tmp_path / "s"), ["o_orderpriority"],
        "o_totalprice", 3, ["o_orderkey"],
    )
    s0 = orders.where("o_orderkey % 3 = 0")
    view.initialize(s0)
    assert _topk_state(view) == _topk_recompute(s0)

    b1 = orders.where("o_orderkey % 3 = 1")
    view.refresh(b1)
    s1 = orders.where("o_orderkey % 3 IN (0, 1)")
    assert _topk_state(view) == _topk_recompute(s1)

    # Delete every current leader row (guaranteed threatening) and
    # insert the %3=2 rows in the same batch. Leader keys are
    # MATERIALIZED first: frames built over view.read() are lazy scans
    # of state files the refresh's staged swap replaces.
    leader_keys = [
        r["o_orderkey"] for r in view.read().select("o_orderkey").collect()
    ]
    leaders = s1.where(F.col("o_orderkey").isin(leader_keys))
    batch = _cdf(leaders, "delete").unionByName(
        _cdf(orders.where("o_orderkey % 3 = 2"), "insert")
    )
    s2 = (
        s1.where(~F.col("o_orderkey").isin(leader_keys))
        .unionByName(orders.where("o_orderkey % 3 = 2"))
    )
    view.refresh_signed(batch, base_new_df=s2)
    assert _topk_state(view) == _topk_recompute(s2)


def test_topk_view_safe_deletes_never_read_the_base(spark, tmp_path):
    """Retractions ranking strictly below every stored boundary take
    the algebraic tier: refresh_signed succeeds WITHOUT base_new_df,
    proving the base is not consulted."""
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousTopK,
    )

    t0 = spark.createDataFrame(
        [("g", i, float(i)) for i in range(1, 11)],
        "o_orderpriority: string, o_orderkey: bigint, o_totalprice: double",
    )
    view = ContinuousTopK(
        spark, str(tmp_path / "s"), ["o_orderpriority"],
        "o_totalprice", 3, ["o_orderkey"],
    )
    view.initialize(t0)  # top-3 = values 10, 9, 8
    batch = _cdf(
        spark.createDataFrame(
            [("g", 1, 1.0), ("g", 2, 2.0)],
            "o_orderpriority: string, o_orderkey: bigint, "
            "o_totalprice: double",
        ),
        "delete",
    ).unionByName(
        _cdf(
            spark.createDataFrame(
                [("g", 20, 9.5)],
                "o_orderpriority: string, o_orderkey: bigint, "
                "o_totalprice: double",
            ),
            "insert",
        )
    )
    view.refresh_signed(batch)  # no base handed over
    got = {(r["o_orderkey"], r["o_totalprice"])
           for r in view.read().collect()}
    assert got == {(10, 10.0), (20, 9.5), (9, 9.0)}


def test_topk_view_threatening_delete_requires_base(spark, tmp_path):
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousTopK,
    )

    t0 = spark.createDataFrame(
        [("g", i, float(i)) for i in range(1, 11)],
        "o_orderpriority: string, o_orderkey: bigint, o_totalprice: double",
    )
    view = ContinuousTopK(
        spark, str(tmp_path / "s"), ["o_orderpriority"],
        "o_totalprice", 3, ["o_orderkey"],
    )
    view.initialize(t0)
    batch = _cdf(
        spark.createDataFrame(
            [("g", 10, 10.0)],
            "o_orderpriority: string, o_orderkey: bigint, "
            "o_totalprice: double",
        ),
        "delete",
    )
    with pytest.raises(ValueError, match="runner-up is not in state"):
        view.refresh_signed(batch)
    # with the base, the runner-up (7.0) promotes
    view.refresh_signed(batch, base_new_df=t0.where("o_orderkey < 10"))
    got = {r["o_orderkey"] for r in view.read().collect()}
    assert got == {9, 8, 7}


# -- continuous aggregate over a JOIN (fact ⋈ static dims) -------------

JOIN_SQL = (
    "SELECT o.o_orderpriority, count(*) AS n_lines, "
    "sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS cents, "
    "min(l.l_extendedprice) AS min_price "
    "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
    "WHERE l.l_quantity > 10 "
    "GROUP BY o.o_orderpriority"
)


def _join_recompute(fact, orders):
    return (
        fact.where("l_quantity > 10")
        .join(orders, fact["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(
                F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
            ).alias("cents"),
            F.min("l_extendedprice").alias("min_price"),
        )
    )


def _join_rows(df):
    return {
        r["o_orderpriority"]: (r["n_lines"], r["cents"], r["min_price"])
        for r in df.collect()
    }


def test_join_view_refresh_cycles_equal_full_recompute(spark, tmp_path):
    """Fact-side insert batches through the dim join: after each
    refresh the stored table equals the full recompute over the
    accumulated fact joined to the static dim."""
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousJoinAggregate,
    )

    li = load_table(spark, SF_SMALL, "lineitem")
    orders = load_table(spark, SF_SMALL, "orders")
    view = ContinuousJoinAggregate(
        spark, str(tmp_path / "state"), JOIN_SQL,
        fact="lineitem", dims={"orders": orders},
    )
    s0 = li.where("l_orderkey % 3 = 0")
    view.initialize(s0)
    assert _join_rows(view.read()) == _join_rows(_join_recompute(s0, orders))
    for m in (1, 2):
        batch = li.where(f"l_orderkey % 3 = {m}")
        view.refresh(batch)
    assert _join_rows(view.read()) == _join_rows(_join_recompute(li, orders))


def test_join_view_signed_refresh_equals_full_recompute(spark, tmp_path):
    """A CDF batch on the FACT side (insert + delete + update moving a
    line between orders of different priorities) maintains the stored
    join aggregate exactly; min retraction repairs via the post-change
    fact handed through the same fragment."""
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousJoinAggregate,
    )

    li = load_table(spark, SF_SMALL, "lineitem")
    orders = load_table(spark, SF_SMALL, "orders")
    view = ContinuousJoinAggregate(
        spark, str(tmp_path / "state"), JOIN_SQL,
        fact="lineitem", dims={"orders": orders},
    )
    s0 = li.where("l_orderkey % 4 IN (0, 1, 2)")
    view.initialize(s0)

    ins = li.where("l_orderkey % 4 = 3")
    del_ = li.where("l_orderkey % 4 = 0")
    pre = li.where("l_orderkey % 4 = 1")
    # Update rewrites the join KEY (+1 moves the line to the next
    # order, usually a different priority group) and the price.
    post = pre.withColumn(
        "l_orderkey", F.col("l_orderkey") + F.lit(1)
    ).withColumn("l_extendedprice", F.col("l_extendedprice") + F.lit(7.0))
    batch = (
        _cdf(ins, "insert")
        .unionByName(_cdf(del_, "delete"))
        .unionByName(_cdf(pre, "update_preimage"))
        .unionByName(_cdf(post, "update_postimage"))
    )
    s1 = li.where("l_orderkey % 4 IN (2, 3)").unionByName(post)
    view.refresh_signed(batch, base_new_df=s1)
    got = _join_rows(view.read())
    exp = _join_rows(_join_recompute(s1, orders))
    assert got == exp


def test_join_view_dim_update_ripples_to_stored_aggregate(
    spark, tmp_path
):
    """A DIM-side CDF batch (slowly-changing dimension) maintains the
    stored aggregate: inserting missing orders pulls their dangling
    lines INTO the view, deleting orders retracts their lines (incl.
    a min retraction → recompute tier against the post-change join),
    and a priority reclassification moves every joined line between
    groups. Afterwards a FACT batch must join the NEW dim version."""
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousJoinAggregate,
    )

    li = load_table(spark, SF_SMALL, "lineitem")
    orders = load_table(spark, SF_SMALL, "orders")
    d0 = orders.where("o_orderkey % 5 <> 0")  # 1/5 of orders missing
    view = ContinuousJoinAggregate(
        spark, str(tmp_path / "state"), JOIN_SQL,
        fact="lineitem", dims={"orders": d0},
    )
    view.initialize(li)
    assert _join_rows(view.read()) == _join_rows(_join_recompute(li, d0))

    ins = orders.where("o_orderkey % 5 = 0")   # lines appear
    del_ = orders.where("o_orderkey % 5 = 1")  # lines retract
    pre = orders.where("o_orderkey % 5 = 2")   # lines change group
    post = pre.withColumn("o_orderpriority", F.lit("9-RECLASSIFIED"))
    batch = (
        _cdf(ins, "insert")
        .unionByName(_cdf(del_, "delete"))
        .unionByName(_cdf(pre, "update_preimage"))
        .unionByName(_cdf(post, "update_postimage"))
    )
    d1 = orders.where("o_orderkey % 5 IN (0, 3, 4)").unionByName(post)
    view.refresh_dim_signed(
        "orders", batch, fact_df=li, dim_new_df=d1
    )
    got = _join_rows(view.read())
    exp = _join_rows(_join_recompute(li, d1))
    assert got == exp and "9-RECLASSIFIED" in got

    # Later fact-side batch must compile against the NEW dim.
    fact_del = li.where("l_orderkey % 7 = 0")
    s1 = li.where("l_orderkey % 7 <> 0")
    view.refresh_signed(_cdf(fact_del, "delete"), base_new_df=s1)
    assert _join_rows(view.read()) == _join_rows(_join_recompute(s1, d1))


def test_join_view_dim_refresh_rejections(spark, tmp_path):
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousJoinAggregate,
    )

    li = load_table(spark, SF_SMALL, "lineitem")
    orders = load_table(spark, SF_SMALL, "orders")
    view = ContinuousJoinAggregate(
        spark, str(tmp_path / "state"), JOIN_SQL,
        fact="lineitem", dims={"orders": orders},
    )
    view.initialize(li.limit(100))
    with pytest.raises(ValueError, match="unknown dim"):
        view.refresh_dim_signed(
            "customer", _cdf(orders.limit(1), "insert"), li, orders
        )
    with pytest.raises(ValueError, match="_change_type .*or"):
        view.refresh_dim_signed("orders", orders.limit(1), li, orders)


def test_join_view_rejects_fact_self_join_and_missing_dim(spark, tmp_path):
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousJoinAggregate,
    )

    orders = load_table(spark, SF_SMALL, "orders")
    with pytest.raises(UnsupportedSQL, match="exactly once"):
        ContinuousJoinAggregate(
            spark, str(tmp_path / "a"),
            "SELECT a.l_orderkey AS k, count(*) AS n "
            "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey "
            "GROUP BY a.l_orderkey",
            fact="lineitem", dims={},
        )
    with pytest.raises(ValueError, match="no supplied dim"):
        ContinuousJoinAggregate(
            spark, str(tmp_path / "b"), JOIN_SQL,
            fact="lineitem", dims={},
        )
    # Unknown fact: no scan matches -> count is 0, also rejected.
    with pytest.raises(UnsupportedSQL, match="exactly once"):
        ContinuousJoinAggregate(
            spark, str(tmp_path / "c"), JOIN_SQL,
            fact="customer", dims={"orders": orders},
        )


def test_partitioned_state_prunes_untouched_groups(spark, tmp_path):
    """partition_on lays the state table out as one directory per
    grouping key and routes refreshes through the partition-pruned
    upsert: a batch touching ONE priority rewrites only that group's
    directory (other groups' files stay byte-identical), a group
    retracted to zero loses its directory, and read() equals the full
    recompute throughout."""
    import os

    orders = load_table(spark, SF_SMALL, "orders")
    sql = (
        "SELECT o_orderpriority, count(*) AS n_orders, "
        "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents "
        "FROM orders GROUP BY o_orderpriority"
    )
    path = str(tmp_path / "state")
    view = ContinuousAggregate(
        spark, path, sql, partition_on=["o_orderpriority"]
    )
    base = orders.where("o_orderkey % 2 = 0")
    view.initialize(base)

    def snap(prio):
        d = os.path.join(path, f"o_orderpriority={prio}")
        return {
            f: (os.path.getmtime(os.path.join(d, f)),
                os.path.getsize(os.path.join(d, f)))
            for f in sorted(os.listdir(d))
        }

    prios = sorted(
        r["o_orderpriority"]
        for r in base.select("o_orderpriority").distinct().collect()
    )
    target = prios[0]
    others_before = {p: snap(p) for p in prios[1:]}

    # Insert-only refresh touching ONLY the first priority.
    batch = orders.where(
        f"o_orderkey % 2 = 1 AND o_orderpriority = '{target}'"
    )
    view.refresh(batch)
    assert {p: snap(p) for p in prios[1:]} == others_before
    got = {r["o_orderpriority"]: (r["n_orders"], r["cents"])
           for r in view.read().collect()}
    s1 = base.unionByName(batch)
    exp = {r["o_orderpriority"]: (r["n_orders"], r["cents"])
           for r in s1.groupBy("o_orderpriority").agg(
               F.count("*").alias("n_orders"),
               F.sum(F.expr(
                   "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
               )).alias("cents")).collect()}
    assert got == exp

    # Signed refresh retracting the ENTIRE target group: its state
    # directory must vanish; the others remain untouched.
    dels = s1.where(f"o_orderpriority = '{target}'")
    view.refresh_signed(_cdf(dels, "delete"))
    assert not os.path.isdir(os.path.join(path, f"o_orderpriority={target}"))
    assert {p: snap(p) for p in prios[1:]} == others_before
    assert target not in {
        r["o_orderpriority"] for r in view.read().collect()
    }


def test_topk_view_null_ordered_retraction_is_repaired(spark, tmp_path):
    """A stored row can be NULL-ordered (row_number ranks NULLs when a
    group holds < k non-null rows); retracting it must route the group
    to the recompute tier — three-valued logic on the NULL comparison
    previously dropped the group from BOTH tiers, leaving the deleted
    row in state forever."""
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousTopK,
    )

    base = spark.createDataFrame(
        [("g", 1, 10.0), ("g", 2, 5.0), ("g", 3, None)],
        "o_orderpriority string, o_orderkey int, o_totalprice double",
    )
    view = ContinuousTopK(
        spark, str(tmp_path / "s"), ["o_orderpriority"],
        "o_totalprice", 3, ["o_orderkey"],
    )
    view.initialize(base)
    assert _topk_state(view) == {("g", 1), ("g", 2), ("g", 3)}

    retract = _cdf(base.where("o_orderkey = 3"), "delete")
    after = base.where("o_orderkey != 3")
    view.refresh_signed(retract, base_new_df=after)
    assert _topk_state(view) == {("g", 1), ("g", 2)}


def test_topk_view_ascending_nulls_rank_last(spark, tmp_path):
    """Leaderboard semantics in BOTH directions: with descending=False
    a NULL order value must rank LAST (Spark's bare asc() default is
    nulls-FIRST, which would store NULL rows as the "smallest" and
    crowd real values out of the top-k; SQL oracles written as ORDER
    BY ... ASC default to NULLS LAST)."""
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousTopK,
    )

    base = spark.createDataFrame(
        [("g", 1, 10.0), ("g", 2, 5.0), ("g", 3, None), ("g", 4, 7.0)],
        "o_orderpriority string, o_orderkey int, o_totalprice double",
    )
    view = ContinuousTopK(
        spark, str(tmp_path / "s"), ["o_orderpriority"],
        "o_totalprice", 2, ["o_orderkey"], descending=False,
    )
    view.initialize(base)
    # cheapest two are 5.0 and 7.0 — never the NULL row
    assert _topk_state(view) == {("g", 2), ("g", 4)}

    # insert refresh keeps the invariant: a new NULL row must not
    # displace a real value either
    more = spark.createDataFrame(
        [("g", 5, None), ("g", 6, 6.0)], base.schema
    )
    view.refresh(more)
    assert _topk_state(view) == {("g", 2), ("g", 6)}


def test_join_view_dim_swap_rolls_back_on_failed_merge(
    spark, tmp_path, monkeypatch
):
    """If the merge raises, the in-memory dim must roll back —
    otherwise later refreshes join against a dim the stored state
    never absorbed and the view silently diverges."""
    from datafusion_delta_queries_spark.operators import continuous_agg as ca

    li = load_table(spark, SF_SMALL, "lineitem")
    orders = load_table(spark, SF_SMALL, "orders")
    view = ca.ContinuousJoinAggregate(
        spark, str(tmp_path / "state"), JOIN_SQL,
        fact="lineitem", dims={"orders": orders},
    )
    view.initialize(li)
    d1 = orders.withColumn("o_orderpriority", F.lit("X"))

    def boom(*a, **kw):
        raise RuntimeError("merge failed")

    monkeypatch.setattr(view, "_merge_signed_projected", boom)
    with pytest.raises(RuntimeError, match="merge failed"):
        view.refresh_dim_signed(
            "orders", _cdf(orders.limit(1), "insert"), li, d1
        )
    assert view.dims["orders"] is orders  # rolled back


# -- stored CUBE (grouping sets with margins, signed-maintained) -------

CUBE_SQL = (
    "SELECT priority_g, status_g, count(*) AS n_orders, "
    "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents, "
    "min(o_totalprice) AS min_price "
    "FROM orders GROUP BY priority_g, status_g"
)


def _cube_recompute(df):
    return (
        df.cube(
            F.col("o_orderpriority").alias("priority_g"),
            F.col("o_orderstatus").alias("status_g"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            ).alias("cents"),
            F.min("o_totalprice").alias("min_price"),
        )
        .select(
            F.coalesce("priority_g", F.lit("(all)")).alias("priority_g"),
            F.coalesce("status_g", F.lit("(all)")).alias("status_g"),
            "n_orders", "cents", "min_price",
        )
    )


def _cube_keyed(df):
    return {(r[0], r[1]): (r[2], r[3], r[4]) for r in df.collect()}


def test_cube_view_cycles_equal_full_recompute(spark, tmp_path):
    """initialize + insert refresh + signed refresh (deletes, inserts,
    and priority rewrites that move rows between cube cells): the
    stored cube — margins included — equals Spark's own cube() over
    the post-change state after every cycle. The margin cells prove
    the expansion: a moved row leaves one (priority, status) cell but
    NOT the (all, status) margin."""
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousCube,
    )

    orders = load_table(spark, SF_SMALL, "orders")
    view = ContinuousCube(
        spark, str(tmp_path / "cube"), CUBE_SQL,
        {"priority_g": "o_orderpriority", "status_g": "o_orderstatus"},
    )
    s0 = orders.where("o_orderkey % 3 = 0")
    view.initialize(s0)
    assert _cube_keyed(view.read()) == _cube_keyed(_cube_recompute(s0))

    b1 = orders.where("o_orderkey % 3 = 1")
    view.refresh(b1)
    s1 = orders.where("o_orderkey % 3 IN (0, 1)")
    assert _cube_keyed(view.read()) == _cube_keyed(_cube_recompute(s1))

    dels = s1.where("o_orderkey % 7 = 0")
    upd_pre = s1.where("o_orderkey % 7 = 1")
    upd_post = upd_pre.withColumn("o_orderpriority", F.lit("X-MOVED"))
    batch = (
        _cdf(dels, "delete")
        .unionByName(_cdf(upd_pre, "update_preimage"))
        .unionByName(_cdf(upd_post, "update_postimage"))
    )
    s2 = s1.where("o_orderkey % 7 NOT IN (0, 1)").unionByName(upd_post)
    view.refresh_signed(batch, base_new_df=s2)
    got, exp = _cube_keyed(view.read()), _cube_keyed(_cube_recompute(s2))
    assert got == exp
    # moved rows still count in the status margins
    assert ("X-MOVED", "(all)") in got


def test_cube_view_rejections(spark, tmp_path):
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousCube,
    )

    with pytest.raises(ValueError, match="not grouping keys"):
        ContinuousCube(
            spark, str(tmp_path / "c1"), CUBE_SQL,
            {"nope_g": "o_orderpriority"},
        )
    # output name colliding with an input column is rejected at
    # projection time (initialize)
    view = ContinuousCube(
        spark, str(tmp_path / "c2"),
        "SELECT o_orderstatus, count(*) AS n FROM orders "
        "GROUP BY o_orderstatus",
        {"o_orderstatus": "o_orderstatus"},
    )
    orders = load_table(spark, SF_SMALL, "orders")
    with pytest.raises(ValueError, match="collide"):
        view.initialize(orders)


# -- cascading rollup (hour -> day from stored partials) ---------------

CASCADE_SQL = (
    "SELECT date_trunc('hour', ts) AS bucket_h, event_type, "
    "count(*) AS n_events, "
    "sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents, "
    "min(value) AS min_value, avg(value) AS mean_value "
    "FROM events GROUP BY date_trunc('hour', ts), event_type"
)


def _cascade(spark, tmp_path):
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousRollupCascade,
    )

    return ContinuousRollupCascade(
        spark, str(tmp_path / "cascade"), CASCADE_SQL,
        fine_key="bucket_h", coarse_key="bucket_d",
        coarse_expr="date_trunc('day', bucket_h)",
    )


def _daily_recompute(df):
    return (
        df.groupBy(
            F.date_trunc("day", F.col("ts")).alias("bucket_d"),
            "event_type",
        ).agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
            ).alias("cents"),
            F.min("value").alias("min_value"),
            F.avg("value").alias("mean_value"),
        )
    )


def _keyed(df, keys=("bucket_d", "event_type")):
    out = {}
    for r in df.collect():
        d = r.asDict()
        out[tuple(d.pop(k) for k in keys)] = d
    return out


def _assert_daily_equals(view, expected_df):
    got, exp = _keyed(view.read()), _keyed(_daily_recompute(expected_df))
    assert set(got) == set(exp)
    for k in exp:
        for c in ("n_events", "cents", "min_value"):
            assert got[k][c] == exp[k][c], (k, c)
        assert abs(got[k]["mean_value"] - exp[k]["mean_value"]) < 1e-6, k


def test_rollup_cascade_cycles_equal_full_recompute(spark, tmp_path):
    """initialize + insert refresh + signed refresh (deletes + value
    updates that threaten stored minima): after each cycle the DAILY
    view — maintained only from the hourly partials — equals the
    direct daily recompute over the post-change events."""
    ev = load_table(spark, SF_SMALL, "events")
    view = _cascade(spark, tmp_path)

    s0 = ev.where("event_id % 3 = 0")
    view.initialize(s0)
    _assert_daily_equals(view, s0)

    b1 = ev.where("event_id % 3 = 1")
    view.refresh(b1)
    s1 = ev.where("event_id % 3 IN (0, 1)")
    _assert_daily_equals(view, s1)

    # CDF cycle: delete the % 9 = 0 slice (guaranteed to hold some
    # stored hourly minima), insert part of the remaining third, and
    # rewrite values on % 9 = 3 (retract old value, insert new).
    dels = s1.where("event_id % 9 = 0")
    ins = ev.where("event_id % 3 = 2 AND event_id % 5 = 0")
    upd_pre = s1.where("event_id % 9 = 3")
    upd_post = upd_pre.withColumn("value", F.col("value") + 512.0)
    batch = (
        _cdf(dels, "delete")
        .unionByName(_cdf(ins, "insert"))
        .unionByName(_cdf(upd_pre, "update_preimage"))
        .unionByName(_cdf(upd_post, "update_postimage"))
    )
    s2 = (
        s1.where("event_id % 9 NOT IN (0, 3)")
        .unionByName(upd_post)
        .unionByName(ins)
    )
    view.refresh_signed(batch, base_new_df=s2)
    _assert_daily_equals(view, s2)
    # fine tier stays correct too
    hourly = {
        (r["bucket_h"], r["event_type"]): r["n_events"]
        for r in view.read_fine().collect()
    }
    expect_h = {
        (r["bucket_h"], r["event_type"]): r["n"]
        for r in s2.groupBy(
            F.date_trunc("hour", "ts").alias("bucket_h"), "event_type"
        ).agg(F.count("*").alias("n")).collect()
    }
    assert hourly == expect_h


def test_rollup_cascade_repair_is_touched_scoped(spark, tmp_path):
    """The coarse repair re-aggregates ONLY the touched days' fine
    partials: a fine-state row injected for an UNtouched day is not
    folded into that day's stored coarse row by a refresh that touches
    a different day (a global recompute would absorb it)."""
    rows = [
        ("2024-01-01 10:00:00", "a", 1.0),
        ("2024-01-01 11:00:00", "a", 2.0),
        ("2024-01-02 09:00:00", "a", 4.0),
    ]
    df = spark.createDataFrame(
        rows, "ts_s string, event_type string, value double"
    ).select(
        F.to_timestamp("ts_s").alias("ts"), "event_type", "value"
    )
    view = _cascade(spark, tmp_path)
    view.initialize(df)
    day1 = {k: v for k, v in _keyed(view.read()).items()}

    # Inject a rogue fine partial for untouched 2024-01-01 12:00
    fine_path = view.fine.path
    rogue = spark.createDataFrame(
        [("2024-01-01 12:00:00", "a", 999, 99900, 999.0, 999.0, 999, 999)],
        "b string, event_type string, _p0 long, _p1 long, _p2 double, "
        "_p3s double, _p3n long, _rows long",
    ).select(
        F.to_timestamp("b").alias("bucket_h"), "event_type",
        "_p0", "_p1", "_p2", "_p3s", "_p3n", "_rows",
    )
    # align column order/names with the stored fine schema
    stored = spark.read.parquet(fine_path)
    rogue = rogue.select(*stored.columns)
    rogue.write.mode("append").parquet(fine_path)

    # Refresh touches ONLY 2024-01-02
    batch = spark.createDataFrame(
        [("2024-01-02 15:00:00", "a", 8.0)],
        "ts_s string, event_type string, value double",
    ).select(F.to_timestamp("ts_s").alias("ts"), "event_type", "value")
    view.refresh(batch)

    got = _keyed(view.read())
    d1 = [k for k in got if str(k[0]).startswith("2024-01-01")]
    d2 = [k for k in got if str(k[0]).startswith("2024-01-02")]
    assert len(d1) == 1 and len(d2) == 1
    # untouched day: stored coarse row unchanged — the rogue fine row
    # was NOT re-aggregated (touched-scoped repair, no global rebuild)
    assert got[d1[0]] == day1[d1[0]]
    # touched day: correct re-merge of its fine partials
    assert got[d2[0]]["n_events"] == 2
    assert got[d2[0]]["cents"] == 1200


def test_rollup_cascade_day_death_deletes_coarse_row(spark, tmp_path):
    """Retracting every row of a day kills all its fine groups; the
    repair must delete the day's coarse row, not leave a zero-count
    orphan."""
    df = spark.createDataFrame(
        [
            ("2024-01-01 10:00:00", "a", 1.0),
            ("2024-01-02 09:00:00", "a", 4.0),
        ],
        "ts_s string, event_type string, value double",
    ).select(F.to_timestamp("ts_s").alias("ts"), "event_type", "value")
    view = _cascade(spark, tmp_path)
    view.initialize(df)
    assert len(view.read().collect()) == 2

    day1 = df.where("ts < '2024-01-02'")
    after = df.where("ts >= '2024-01-02'")
    view.refresh_signed(_cdf(day1, "delete"), base_new_df=after)
    out = _keyed(view.read())
    assert len(out) == 1
    assert str(next(iter(out))[0]).startswith("2024-01-02")


def test_rollup_cascade_three_levels_hour_day_month(spark, tmp_path):
    """hour → day → month: the month tier refreshes from the DAY
    tier's partials (≤31 rows per touched month), and after a signed
    refresh every tier equals its direct recompute."""
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousRollupCascade,
    )

    ev = load_table(spark, SF_SMALL, "events")
    view = ContinuousRollupCascade(
        spark, str(tmp_path / "c3"), CASCADE_SQL,
        fine_key="bucket_h", coarse_key="bucket_d",
        coarse_expr="date_trunc('day', bucket_h)",
        more_levels=[("bucket_m", "date_trunc('month', bucket_d)")],
    )
    s0 = ev.where("event_id % 3 = 0")
    view.initialize(s0)

    dels = s0.where("event_id % 9 = 0")
    ins = ev.where("event_id % 3 = 1")
    batch = _cdf(dels, "delete").unionByName(_cdf(ins, "insert"))
    s1 = s0.where("event_id % 9 <> 0").unionByName(ins)
    view.refresh_signed(batch, base_new_df=s1)

    _assert_daily_equals(view, s1)  # level 0 (day)
    monthly = {
        (r["bucket_m"], r["event_type"]): (r["n_events"], r["cents"])
        for r in view.read_coarsest().select(
            "bucket_m", "event_type", "n_events", "cents"
        ).collect()
    }
    expect_m = {
        (r["bucket_m"], r["event_type"]): (r["n"], r["c"])
        for r in s1.groupBy(
            F.date_trunc("month", "ts").alias("bucket_m"), "event_type"
        ).agg(
            F.count("*").alias("n"),
            F.sum(
                F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
            ).alias("c"),
        ).collect()
    }
    assert monthly == expect_m


def test_rollup_cascade_rejections(spark, tmp_path):
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousRollupCascade,
    )

    with pytest.raises(UnsupportedSQL, match="HAVING"):
        ContinuousRollupCascade(
            spark, str(tmp_path / "x"),
            CASCADE_SQL + " HAVING count(*) > 5",
            fine_key="bucket_h", coarse_key="bucket_d",
            coarse_expr="date_trunc('day', bucket_h)",
        )
    with pytest.raises(ValueError, match="fine_key"):
        ContinuousRollupCascade(
            spark, str(tmp_path / "y"), CASCADE_SQL,
            fine_key="nope", coarse_key="bucket_d",
            coarse_expr="date_trunc('day', bucket_h)",
        )


def test_drop_chunks_retention_lifecycle(spark, tmp_path):
    """TimescaleDB drop_chunks semantics: retained-out partitions are
    DELETED on disk (directory drop, not a rewrite), read() forgets
    them, and a later batch containing stragglers for the dropped
    window does NOT resurrect a partial-looking group — the recorded
    retention predicate filters them at merge time — while in-window
    groups merge exactly."""
    import os

    orders = load_table(spark, SF_SMALL, "orders")
    sql = (
        "SELECT date_trunc('year', o_orderdate) AS yr, "
        "count(*) AS n_orders, "
        "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents "
        "FROM orders GROUP BY date_trunc('year', o_orderdate)"
    )
    path = str(tmp_path / "state")
    view = ContinuousAggregate(spark, path, sql, partition_on=["yr"])
    base = orders.where("o_orderkey % 2 = 0")
    view.initialize(base)
    n_dirs_before = len(
        [d for d in os.listdir(path) if d.startswith("yr=")]
    )

    cut = "1998-01-01"
    dropped = view.drop_chunks(f"yr < '{cut}'")
    assert dropped > 0
    dirs_after = [d for d in os.listdir(path) if d.startswith("yr=")]
    assert len(dirs_after) == n_dirs_before - dropped
    got_years = {r["yr"] for r in view.read().select("yr").collect()}
    assert all(str(y) >= cut for y in got_years) and got_years

    # straggler batch: half in the dropped window, half in-window
    batch = orders.where("o_orderkey % 2 = 1")
    assert batch.where(f"o_orderdate < '{cut}'").count() > 0
    view.refresh(batch)

    # in-window groups == full recompute over base+batch in-window;
    # dropped-window groups stay gone
    want = {
        (r["yr"], r["n_orders"], r["cents"])
        for r in spark.sql("SELECT 1").sparkSession.createDataFrame(
            base.unionByName(batch)
            .where(f"o_orderdate >= '{cut}'")
            .collect(),
            base.schema,
        )
        .groupBy(F.date_trunc("year", "o_orderdate").alias("yr"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            ).alias("cents"),
        )
        .collect()
    }
    got = {
        (r["yr"], r["n_orders"], r["cents"]) for r in view.read().collect()
    }
    assert got == want

    # retention refuses unpartitioned state; initialize clears the policy
    flat = ContinuousAggregate(spark, str(tmp_path / "flat"), sql)
    flat.initialize(base)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="partition_on"):
        flat.drop_chunks("yr < '1998-01-01'")
    import shutil

    shutil.rmtree(path)
    view.initialize(base)  # rebirth from scratch
    assert view._retention_predicates() == []
    assert {r["yr"] for r in view.read().select("yr").collect()} > got_years


def test_read_real_time_merges_tail_without_touching_state(
    spark, tmp_path
):
    """TimescaleDB real-time aggregate: stored partials + query-time
    tail partials == full recompute over base ∪ tail; the state
    directory is byte-identical afterwards (read-only contract); a
    second refresh-then-read still agrees (the real-time read did not
    corrupt anything)."""
    import os

    orders = load_table(spark, SF_SMALL, "orders")
    base = orders.where("o_orderkey % 3 != 0")
    tail = orders.where("o_orderkey % 3 = 0")
    path = str(tmp_path / "rt")
    view = ContinuousAggregate(spark, path, SQL)
    view.initialize(base)

    def listing():
        return sorted(
            (n, os.path.getsize(os.path.join(path, n)))
            for n in os.listdir(path)
        )

    def norm(rows):
        # mean_price is a float ratio whose partial-merge summation
        # order differs from the single-pass recompute — equal to 12
        # significant digits (the oracle-compare tolerance), not ulp
        return sorted(
            tuple(
                f"{v:.12g}" if isinstance(v, float) else v for v in r
            )
            for r in rows
        )

    before = listing()
    got = norm(map(tuple, view.read_real_time(tail).collect()))
    assert listing() == before
    want = norm(map(tuple, _recompute(orders).collect()))
    assert got == want
    # stale-free follow-up: a real refresh still lands correctly
    view.refresh(tail)
    assert norm(map(tuple, view.read().collect())) == want


# -- per-refresh job budget (deterministic perf gate) ------------------


def _jobs_in(spark, label, action):
    """Spark jobs ``action`` starts, read back from the status tracker
    under a fresh job group — host speed does not move this count."""
    sc = spark.sparkContext
    gid = f"job-budget-{label}-{next(_JOB_GROUP_SEQ)}"
    sc.setJobGroup(gid, label)
    try:
        action()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(gid))


_JOB_GROUP_SEQ = itertools.count()

# Measured at SF_SMALL: a 3-tier cascade refresh and a single-tier
# refresh of the same statement (sum, count, avg and a two-tier min).
# Writing state as "replace the touched groups" took them from 81 and
# 30 jobs; a count above the budget is a regression to explain.
CASCADE3_REFRESH_JOBS = 30
AGG_REFRESH_JOBS = 23


def _events_cdf_cycle(ev):
    """(old snapshot, CDF batch, new snapshot) on events: deletes that
    hit stored minima, inserts, and value updates."""
    s0 = ev.where("event_id % 3 = 0")
    dels = s0.where("event_id % 9 = 0")
    ins = ev.where("event_id % 3 = 1 AND event_id % 5 = 0")
    upd_pre = s0.where("event_id % 9 = 3")
    upd_post = upd_pre.withColumn("value", F.col("value") + 512.0)
    batch = (
        _cdf(dels, "delete")
        .unionByName(_cdf(ins, "insert"))
        .unionByName(_cdf(upd_pre, "update_preimage"))
        .unionByName(_cdf(upd_post, "update_postimage"))
    )
    s1 = (
        s0.where("event_id % 9 NOT IN (0, 3)")
        .unionByName(upd_post)
        .unionByName(ins)
    )
    return s0, batch, s1


def test_refresh_signed_job_budget(spark, tmp_path):
    """One signed refresh of a 3-tier rollup cascade and of a plain
    continuous aggregate each stay within a pinned Spark-job budget
    (maintainers are bounded by per-job fixed cost, so the count is the
    deterministic half of any speedup claim), and both still land on
    the recompute."""
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousRollupCascade,
    )

    ev = load_table(spark, SF_SMALL, "events")
    s0, batch, s1 = _events_cdf_cycle(ev)

    cascade = ContinuousRollupCascade(
        spark, str(tmp_path / "c3"), CASCADE_SQL,
        fine_key="bucket_h", coarse_key="bucket_d",
        coarse_expr="date_trunc('day', bucket_h)",
        more_levels=[("bucket_m", "date_trunc('month', bucket_d)")],
    )
    cascade.initialize(s0)
    n_cascade = _jobs_in(
        spark, "cascade3",
        lambda: cascade.refresh_signed(batch, base_new_df=s1),
    )
    _assert_daily_equals(cascade, s1)

    agg = ContinuousAggregate(spark, str(tmp_path / "agg"), CASCADE_SQL)
    agg.initialize(s0)
    n_agg = _jobs_in(
        spark, "agg", lambda: agg.refresh_signed(batch, base_new_df=s1)
    )
    hourly = {
        (r["bucket_h"], r["event_type"]): (r["n_events"], r["min_value"])
        for r in agg.read().collect()
    }
    expect = {
        (r["bucket_h"], r["event_type"]): (r["n"], r["m"])
        for r in s1.groupBy(
            F.date_trunc("hour", "ts").alias("bucket_h"), "event_type"
        ).agg(F.count("*").alias("n"), F.min("value").alias("m")).collect()
    }
    assert hourly == expect

    assert n_cascade <= CASCADE3_REFRESH_JOBS, n_cascade
    assert n_agg <= AGG_REFRESH_JOBS, n_agg


# -- retention contract ------------------------------------------------


def test_signed_refresh_into_a_dropped_window(spark, tmp_path):
    """Retention contract for signed batches: after ``drop_chunks`` on
    partitioned state, a CDF batch whose deletes and updates fall in
    the dropped window (as well as in-window) does not trip the
    negative-count guard — the retracted rows' groups are gone by
    policy — does not recreate a dropped ``yr=`` directory, and the
    in-window groups equal a recompute over the post-change rows."""
    import os

    orders = load_table(spark, SF_SMALL, "orders")
    sql = (
        "SELECT date_trunc('year', o_orderdate) AS yr, "
        "count(*) AS n_orders, "
        "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents "
        "FROM orders GROUP BY date_trunc('year', o_orderdate)"
    )
    path = str(tmp_path / "state")
    view = ContinuousAggregate(spark, path, sql, partition_on=["yr"])
    view.initialize(orders)
    cut = "1998-01-01"
    assert view.drop_chunks(f"yr < '{cut}'") > 0
    dirs_after_drop = sorted(
        d for d in os.listdir(path) if d.startswith("yr=")
    )

    # Deletes and updates on both sides of the cut. A dropped group's
    # retraction alone would drive its (absent) count negative.
    dels = orders.where("o_orderkey % 7 = 0")
    upd_pre = orders.where("o_orderkey % 7 = 3")
    upd_post = upd_pre.withColumn(
        "o_totalprice", F.col("o_totalprice") + 100.0
    )
    assert dels.where(f"o_orderdate < '{cut}'").count() > 0
    assert upd_pre.where(f"o_orderdate < '{cut}'").count() > 0
    assert dels.where(f"o_orderdate >= '{cut}'").count() > 0
    batch = (
        _cdf(dels, "delete")
        .unionByName(_cdf(upd_pre, "update_preimage"))
        .unionByName(_cdf(upd_post, "update_postimage"))
    )
    view.refresh_signed(batch)

    assert sorted(
        d for d in os.listdir(path) if d.startswith("yr=")
    ) == dirs_after_drop
    after = (
        orders.where("o_orderkey % 7 NOT IN (0, 3)").unionByName(upd_post)
    )
    want = {
        (r["yr"], r["n_orders"], r["cents"])
        for r in after.where(f"o_orderdate >= '{cut}'")
        .groupBy(F.date_trunc("year", "o_orderdate").alias("yr"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            ).alias("cents"),
        )
        .collect()
    }
    got = {
        (r["yr"], r["n_orders"], r["cents"]) for r in view.read().collect()
    }
    assert got == want
