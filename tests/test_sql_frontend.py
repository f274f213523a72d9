"""SQL→IR frontend: the reference's five test statements round-trip.

The reference's tests all start from SQL strings handed to DataFusion
(/root/reference/src/optimizer_rules/mod.rs:223, 260, 311, 391, 472);
our frontend must (a) parse the same strings to the same plan shapes,
(b) rewrite+compile them, and (c) satisfy the executed IVM identity
full(T ∪ ΔT) == full(T) ⊎ delta(T, ΔT) on real data — the part the
reference never runs (its MemTables are empty).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_delta_queries_spark.plans import (
    CrossJoin,
    Filter,
    Join,
    PosDelta,
    PosDeltaScan,
    Projection,
    Scan,
    Union,
    UnsupportedSQL,
    compile_delta,
    compile_plan,
    compile_snapshot,
    rewrite_pos_delta,
    sql_to_ir,
)

# The five statements the reference tests feed create_logical_plan.
SQL_PROJECTION = "select id, name from public.users;"
SQL_FILTER = "select * from public.users where id = 1;"
SQL_CROSS = (
    "select users.name, homes.size from public.users cross join public.homes;"
)
SQL_JOIN = (
    "select users.name, homes.size from public.users join public.homes "
    "on users.address = homes.address;"
)
SQL_UNION = (
    "select id, name from public.users1 union all "
    "select id, name from public.users2;"
)


# ---------------------------------------------------------------- parse


def test_parse_projection():
    assert sql_to_ir(SQL_PROJECTION) == Projection(["id", "name"], Scan("users"))


def test_parse_filter():
    assert sql_to_ir(SQL_FILTER) == Filter("id = 1", Scan("users"))


def test_parse_cross_join():
    assert sql_to_ir(SQL_CROSS) == Projection(
        ["l.name", "r.size"], CrossJoin(Scan("users"), Scan("homes"))
    )


def test_parse_join():
    assert sql_to_ir(SQL_JOIN) == Projection(
        ["l.name", "r.size"],
        Join(Scan("users"), Scan("homes"), on=[("address", "address")]),
    )


def test_parse_union_all():
    assert sql_to_ir(SQL_UNION) == Union(
        [
            Projection(["id", "name"], Scan("users1")),
            Projection(["id", "name"], Scan("users2")),
        ]
    )


def test_parse_join_reversed_on_and_alias():
    ir = sql_to_ir(
        "SELECT u.name FROM public.users AS u JOIN public.homes h "
        "ON h.address = u.address WHERE u.age > 30"
    )
    assert ir == Projection(
        ["l.name"],
        Filter(
            "l.age > 30",
            Join(Scan("users"), Scan("homes"), on=[("address", "address")]),
        ),
    )


def test_parse_is_not_distinct_from():
    ir = sql_to_ir(
        "SELECT users.id FROM public.users JOIN public.homes "
        "ON users.address IS NOT DISTINCT FROM homes.address"
    )
    j = ir.input
    assert isinstance(j, Join)
    assert j.on == (("address", "address"),)
    assert j.null_equals_null is True


def test_parse_null_safe_and_theta():
    ir = sql_to_ir(
        "SELECT users.id FROM public.users JOIN public.homes "
        "ON users.address <=> homes.address AND users.age > homes.size"
    )
    j = ir.input
    assert isinstance(j, Join)
    assert j.on == (("address", "address"),)
    assert j.null_equals_null is True
    assert j.filter == "( l.age > r.size )"


def test_parse_left_semi_join():
    ir = sql_to_ir(
        "SELECT customer.c_custkey FROM customer "
        "LEFT SEMI JOIN orders ON customer.c_custkey = orders.o_custkey"
    )
    assert ir == Projection(
        ["l.c_custkey"],
        Join(
            Scan("customer"), Scan("orders"),
            on=[("c_custkey", "o_custkey")], join_type="semi",
        ),
    )


def test_parse_parenthesized_on_conjunction():
    ir = sql_to_ir(
        "SELECT u.id FROM users u JOIN homes h "
        "ON (u.address = h.address AND u.id = h.id)"
    )
    j = ir.input
    assert isinstance(j, Join)
    assert j.on == (("address", "address"), ("id", "id"))
    assert j.filter is None


def test_parse_three_way_join_left_deep():
    ir = sql_to_ir(
        "SELECT a.x FROM ta a JOIN tb b ON a.k = b.k JOIN tc c ON b.j = c.j"
    )
    top = ir.input
    assert isinstance(top, Join) and top.on == (("j", "j"),)
    inner = top.left
    assert inner == Join(Scan("ta"), Scan("tb"), on=[("k", "k")])
    assert top.right == Scan("tc")


@pytest.mark.parametrize(
    "sql,msg",
    [
        ("select id from t group by id", "GROUP"),
        ("select id from t1 union select id from t2", "UNION ALL"),
        ("select distinct id from t", "DISTINCT"),
        ("select id from t order by id", "ORDER"),
        ("select id from (select id from t) s", "subquer"),
        ("select a from t1 join t2 on x = y", "qualify"),
        # Opaque select expressions must NOT smuggle in an implicit
        # aggregate/window — the compiled "delta" would be silently
        # wrong (count over delta != delta of count).
        ("select count(*) from t", "aggregate function"),
        ("select sum(x) from t where x > 0", "aggregate function"),
        ("select id, row_number() over (order by id) from t", "window function"),
    ],
)
def test_unsupported_fragments_raise(sql, msg):
    with pytest.raises(UnsupportedSQL, match=msg):
        sql_to_ir(sql)


def test_rewrite_matches_reference_shapes():
    # The same assertions the reference makes after optimizing each SQL
    # plan (mod.rs:240-257, 279-302, 326-360, 406-440, 489-503).
    u, h = Scan("users"), Scan("homes")
    out = rewrite_pos_delta(PosDelta(sql_to_ir(SQL_JOIN)))
    assert out == Projection(
        ["l.name", "r.size"],
        Union(
            [
                Join(PosDeltaScan(u), PosDeltaScan(h), on=[("address", "address")]),
                Join(u, PosDeltaScan(h), on=[("address", "address")]),
                Join(PosDeltaScan(u), h, on=[("address", "address")]),
            ]
        ),
    )
    out = rewrite_pos_delta(PosDelta(sql_to_ir(SQL_CROSS)))
    assert out == Projection(
        ["l.name", "r.size"],
        Union(
            [
                CrossJoin(PosDeltaScan(u), PosDeltaScan(h)),
                CrossJoin(u, PosDeltaScan(h)),
                CrossJoin(PosDeltaScan(u), h),
            ]
        ),
    )


# ------------------------------------------- aggregate maintenance SQL


def test_parse_agg_sql_shape():
    from datafusion_delta_queries_spark.plans import parse_agg_sql

    spec = parse_agg_sql(
        "SELECT address, count(*) AS n, avg(age) AS mean_age, "
        "max(id) FROM public.users WHERE age > 0 GROUP BY address"
    )
    assert spec["table"] == "users"
    assert spec["keys"] == ["address"]
    assert spec["key_names"] == ["address"]
    assert spec["where"] == "age > 0"
    assert spec["aggs"] == [
        {"fn": "count", "arg": "*", "out": "n"},
        {"fn": "avg", "arg": "age", "out": "mean_age"},
        {"fn": "max", "arg": "id", "out": "max"},
    ]


def test_parse_agg_sql_expression_key_takes_select_alias():
    from datafusion_delta_queries_spark.plans import parse_agg_sql

    spec = parse_agg_sql(
        "SELECT id % 3 AS bucket, count(*) AS n FROM users GROUP BY id % 3"
    )
    assert spec["keys"] == ["id % 3"]
    assert spec["key_names"] == ["bucket"]


@pytest.mark.parametrize(
    "sql,msg",
    [
        ("SELECT a, median(b) AS m FROM t GROUP BY a", "decomposable"),
        ("SELECT a, count(*) AS n FROM t GROUP BY a ORDER BY n", "ORDER"),
        # HAVING aggregates must echo a select-list aggregate — a fresh
        # aggregate over merged partials would double-count.
        (
            "SELECT a, count(*) AS n FROM t GROUP BY a HAVING sum(b) > 1",
            "must also appear in the select list",
        ),
        ("SELECT a, count(*) AS n FROM t GROUP BY a HAVING", "empty HAVING"),
    ],
)
def test_parse_agg_sql_rejects(sql, msg):
    from datafusion_delta_queries_spark.plans import UnsupportedSQL, parse_agg_sql

    with pytest.raises(UnsupportedSQL, match=msg):
        parse_agg_sql(sql)


def test_parse_agg_sql_having_rewrites_calls_to_out_names():
    from datafusion_delta_queries_spark.plans import parse_agg_sql

    spec = parse_agg_sql(
        "SELECT address, count(*) AS n, sum(age) AS total FROM users "
        "GROUP BY address HAVING count(*) >= 3 AND sum(age) > 100"
    )
    assert spec["having"] == "n >= 3 AND total > 100"


def test_parse_agg_sql_having_maps_aliased_grouping_key():
    """A grouping key aliased in the select list must be referenced in
    HAVING by its *output* name — the merged frame only carries the
    alias (r7 advice: single-table path dropped key_map)."""
    from datafusion_delta_queries_spark.plans import parse_agg_sql

    spec = parse_agg_sql(
        "SELECT address AS addr, count(*) AS n FROM users "
        "GROUP BY address HAVING address <> 'x' AND count(*) > 1"
    )
    assert spec["key_names"] == ["addr"]
    assert spec["having"] == "addr <> 'x' AND n > 1"


def test_parse_on_clause_left_right_functions():
    """left()/right() as SQL *functions* inside ON must not terminate
    the clause (they only introduce joins when followed by JOIN/OUTER/
    SEMI/ANTI) — regression for the r6 advice item."""
    ir = sql_to_ir(
        "SELECT u.id FROM users u JOIN homes h "
        "ON u.address = h.address AND left(u.name, 1) = left(h.name, 1)"
    )
    j = ir.input
    assert isinstance(j, Join)
    assert j.on == (("address", "address"),)
    assert j.filter == "( left ( l.name , 1 ) = left ( r.name , 1 ) )"


# ------------------------------------------------------- execute (IVM)


class MemCatalog:
    """In-memory DeltaCatalog stand-in: DataFrame per table + an
    append-split predicate, same full/snapshot/delta contract."""

    def __init__(self, tables, preds):
        self.tables = tables
        self.preds = preds

    def full(self, name):
        return self.tables[name]

    def snapshot(self, name):
        return self.tables[name].where(f"NOT ({self.preds[name]})")

    def delta(self, name):
        return self.tables[name].where(self.preds[name])


@pytest.fixture()
def mem_catalog(spark):
    users = spark.createDataFrame(
        [(i, f"user{i}", 20 + i % 40, f"addr{i % 7}") for i in range(30)],
        "id: bigint, name: string, age: int, address: string",
    )
    homes = spark.createDataFrame(
        [(i, 50 + 10 * (i % 5), f"addr{i % 7}") for i in range(20)],
        "id: bigint, size: int, address: string",
    )
    users1 = users.select("id", "name")
    users2 = spark.createDataFrame(
        [(100 + i, f"u2_{i}") for i in range(10)], "id: bigint, name: string"
    )
    return MemCatalog(
        {"users": users, "homes": homes, "users1": users1, "users2": users2},
        {
            "users": "id % 2 = 1",
            "homes": "id % 3 = 0",
            "users1": "id % 2 = 1",
            "users2": "id % 3 = 0",
        },
    )


def _multiset(df):
    return sorted(tuple(row) for row in df.collect())


@pytest.mark.parametrize(
    "sql",
    [SQL_PROJECTION, SQL_FILTER, SQL_CROSS, SQL_JOIN, SQL_UNION],
    ids=["projection", "filter", "cross_join", "join", "union_all"],
)
def test_ivm_identity_for_reference_sql(spark, mem_catalog, sql):
    ir = sql_to_ir(sql)
    full_new = _multiset(compile_plan(ir, mem_catalog))
    full_old = _multiset(compile_snapshot(ir, mem_catalog))
    delta = _multiset(compile_delta(ir, mem_catalog))
    assert len(delta) > 0, "vacuous: delta batch produced no new output rows"
    assert sorted(full_old + delta) == full_new


def _random_sql(draw):
    """Random SQL within the supported fragment over the mem tables."""
    import hypothesis.strategies as st

    shape = draw(st.sampled_from(["single", "join", "cross", "union", "semi"]))
    u_pred = draw(st.sampled_from(["users.age > 30", "users.id % 3 = 0", None]))
    if shape == "single":
        where = f" WHERE {u_pred}" if u_pred else ""
        cols = draw(st.sampled_from(["id, name", "*", "id, age + 1 AS age1"]))
        return f"SELECT {cols} FROM public.users{where}"
    if shape in ("join", "semi"):
        kw = "JOIN" if shape == "join" else "LEFT SEMI JOIN"
        op = draw(st.sampled_from(["=", "<=>"])) if shape == "join" else "="
        theta = draw(st.sampled_from(["", " AND users.age > homes.size"]))
        cols = "users.id, users.name" if shape == "semi" else "users.name, homes.size"
        where = f" WHERE {u_pred}" if u_pred else ""
        return (
            f"SELECT {cols} FROM public.users {kw} public.homes "
            f"ON users.address {op} homes.address{theta}{where}"
        )
    if shape == "cross":
        return (
            "SELECT users.name, homes.size FROM public.users "
            "CROSS JOIN public.homes"
        )
    n = draw(st.integers(min_value=2, max_value=3))
    parts = ["SELECT id, name FROM public.users1", "SELECT id, name FROM public.users2"]
    return " UNION ALL ".join((parts * 2)[:n])


def test_ivm_identity_random_sql(spark, mem_catalog):
    """Random statements from the fragment grammar: every one must
    parse, compile, and satisfy the executed IVM identity."""
    from hypothesis import HealthCheck, given, settings
    import hypothesis.strategies as st

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(data=st.data())
    def prop(data):
        sql = _random_sql(data.draw)
        ir = sql_to_ir(sql)
        full_new = _multiset(compile_plan(ir, mem_catalog))
        full_old = _multiset(compile_snapshot(ir, mem_catalog))
        delta = _multiset(compile_delta(ir, mem_catalog))
        assert sorted(full_old + delta) == full_new, sql

    prop()


def test_agg_maintenance_equals_full_aggregate(spark, mem_catalog, monkeypatch):
    """maintain_agg_of_sql == the same GROUP BY over the full table:
    exact for count/min/max, tolerance-compared for the avg merge."""
    from datafusion_delta_queries_spark.plans import sql_frontend

    monkeypatch.setattr(
        sql_frontend, "DeltaCatalog", lambda spark, sf, preds=None: mem_catalog
    )
    sql = (
        "SELECT address, count(*) AS n, min(id) AS lo, max(id) AS hi, "
        "avg(age) AS mean_age FROM users WHERE id >= 2 GROUP BY address"
    )
    got = {
        r["address"]: r
        for r in sql_frontend.maintain_agg_of_sql(spark, "unused", sql).collect()
    }
    full = {
        r["address"]: r
        for r in mem_catalog.full("users")
        .where("id >= 2")
        .groupBy("address")
        .agg(
            F.count("*").alias("n"),
            F.min("id").alias("lo"),
            F.max("id").alias("hi"),
            F.avg("age").alias("mean_age"),
        )
        .collect()
    }
    assert set(got) == set(full)
    for k in full:
        a, b = got[k], full[k]
        assert (a["n"], a["lo"], a["hi"]) == (b["n"], b["lo"], b["hi"]), k
        assert abs(a["mean_age"] - b["mean_age"]) < 1e-9, k


def test_parse_count_distinct_and_having_rewrite():
    from datafusion_delta_queries_spark.plans import parse_agg_sql

    spec = parse_agg_sql(
        "SELECT address, count(DISTINCT name) AS uniq, count(*) AS n "
        "FROM users GROUP BY address HAVING count(DISTINCT name) > 1"
    )
    assert {"fn": "count_distinct", "arg": "name", "out": "uniq"} in spec["aggs"]
    assert spec["having"] == "uniq > 1"


@pytest.mark.parametrize(
    "sql, msg",
    [
        (
            "SELECT a, sum(DISTINCT b) AS s FROM t GROUP BY a",
            r"sum\(DISTINCT\) is not supported",
        ),
        (
            "SELECT a, count(DISTINCT *) AS s FROM t GROUP BY a",
            "not valid SQL",
        ),
        (
            "SELECT a, count(DISTINCT b) AS s FROM t GROUP BY a "
            "HAVING count(DISTINCT c) > 1",
            "must also appear",
        ),
    ],
)
def test_count_distinct_rejects(sql, msg):
    from datafusion_delta_queries_spark.plans import UnsupportedSQL, parse_agg_sql

    with pytest.raises(UnsupportedSQL, match=msg):
        parse_agg_sql(sql)


def test_count_distinct_maintenance_with_nulls(spark, monkeypatch):
    """Maintained count(DISTINCT) equals the full recompute, including
    NULL grouping keys (a real group) and an all-NULL-value group
    (retained with count 0)."""
    from datafusion_delta_queries_spark.plans import sql_frontend

    rows = [
        (
            i,
            None if i % 10 == 0 else f"k{i % 4}",
            None if i % 7 == 0 else f"v{i % 5}",
        )
        for i in range(40)
    ] + [(100 + j, "konly_nulls", None) for j in range(3)]
    t = spark.createDataFrame(rows, "id: bigint, k: string, v: string")
    cat = MemCatalog({"t": t}, {"t": "id % 2 = 1"})
    monkeypatch.setattr(
        sql_frontend, "DeltaCatalog", lambda spark, sf, preds=None: cat
    )
    for sql, aggs in [
        (
            "SELECT k, count(DISTINCT v) AS uniq, count(*) AS n "
            "FROM t GROUP BY k",
            [F.count_distinct("v").alias("uniq"), F.count("*").alias("n")],
        ),
        # count_distinct-only: no merge-aggregate frame to stitch onto.
        (
            "SELECT k, count(DISTINCT v) AS uniq FROM t GROUP BY k",
            [F.count_distinct("v").alias("uniq")],
        ),
    ]:
        # NULL grouping keys break plain tuple sorting — order by repr.
        def _ms(df):
            return sorted((tuple(r) for r in df.collect()), key=repr)

        got = _ms(sql_frontend.maintain_agg_of_sql(spark, "unused", sql))
        full = _ms(t.groupBy("k").agg(*aggs))
        assert got == full
        assert any(r[0] is None for r in got), "NULL-key group lost"
        assert any(r[0] == "konly_nulls" and r[1] == 0 for r in got), (
            "all-NULL-value group must survive with count 0"
        )


def test_join_agg_count_distinct_maintenance(spark, mem_catalog, monkeypatch):
    """count(DISTINCT) over a maintained join equals the full-join
    recompute — the distinct-pair state is built over (snapshot join)
    ∪ (3-branch join delta)."""
    from datafusion_delta_queries_spark.plans import sql_frontend

    monkeypatch.setattr(
        sql_frontend, "DeltaCatalog", lambda spark, sf, preds=None: mem_catalog
    )
    sql = (
        "SELECT u.address, count(DISTINCT h.size) AS uniq_sizes, "
        "count(*) AS n FROM users u JOIN homes h "
        "ON u.address = h.address GROUP BY u.address"
    )
    got = _multiset(
        sql_frontend.maintain_join_agg_of_sql(spark, "unused", sql)
    )
    users, homes = mem_catalog.full("users"), mem_catalog.full("homes")
    full = _multiset(
        users.join(homes, users["address"] == homes["address"])
        .groupBy(users["address"])
        .agg(
            F.count_distinct(homes["size"]).alias("uniq_sizes"),
            F.count("*").alias("n"),
        )
    )
    assert got == full and len(got) > 1


def test_agg_maintenance_having(spark, mem_catalog, monkeypatch):
    """HAVING filters the merged state — equals GROUP BY + HAVING over
    the full table, including groups that only qualify once the delta
    partial merges in."""
    from datafusion_delta_queries_spark.plans import sql_frontend

    monkeypatch.setattr(
        sql_frontend, "DeltaCatalog", lambda spark, sf, preds=None: mem_catalog
    )
    sql = (
        "SELECT address, count(*) AS n, max(id) AS hi FROM users "
        "GROUP BY address HAVING count(*) >= 5"
    )
    got = _multiset(sql_frontend.maintain_agg_of_sql(spark, "unused", sql))
    full = _multiset(
        mem_catalog.full("users")
        .groupBy("address")
        .agg(F.count("*").alias("n"), F.max("id").alias("hi"))
        .where("n >= 5")
    )
    assert len(got) > 0, "vacuous: HAVING filtered every group"
    assert len(got) < mem_catalog.full("users").select("address").distinct().count(), (
        "vacuous: HAVING filtered nothing"
    )
    assert got == full


def test_agg_maintenance_any_split(spark, mem_catalog, monkeypatch):
    """The maintained result must not depend on WHERE the append split
    falls — same SQL, three different delta predicates, same answer."""
    from datafusion_delta_queries_spark.plans import sql_frontend

    monkeypatch.setattr(
        sql_frontend, "DeltaCatalog", lambda spark, sf, preds=None: mem_catalog
    )
    sql = "SELECT address, count(*) AS n, max(id) AS hi FROM users GROUP BY address"
    results = []
    for m in (2, 3, 5):
        mem_catalog.preds = dict(mem_catalog.preds, users=f"id % {m} = 0")
        results.append(
            sorted(
                tuple(r)
                for r in sql_frontend.maintain_agg_of_sql(
                    spark, "unused", sql
                ).collect()
            )
        )
    assert results[0] == results[1] == results[2]


def test_agg_maintenance_expression_key(spark, mem_catalog, monkeypatch):
    """Time-bucket-style expression keys regroup by the computed
    column — the continuous-rollup maintenance shape."""
    from datafusion_delta_queries_spark.plans import sql_frontend

    monkeypatch.setattr(
        sql_frontend, "DeltaCatalog", lambda spark, sf, preds=None: mem_catalog
    )
    got = {
        (r["bucket"], r["n"])
        for r in sql_frontend.maintain_agg_of_sql(
            spark, "unused",
            "SELECT id % 3 AS bucket, count(*) AS n FROM users GROUP BY id % 3",
        ).collect()
    }
    full = {
        (r["bucket"], r["n"])
        for r in mem_catalog.full("users")
        .groupBy(F.expr("id % 3").alias("bucket"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == full


def test_parse_join_agg_sql_shape():
    from datafusion_delta_queries_spark.plans import parse_join_agg_sql

    spec = parse_join_agg_sql(
        "SELECT u.address, count(*) AS n, max(h.size) AS hi "
        "FROM users u JOIN homes h ON u.address = h.address "
        "WHERE u.age > 0 GROUP BY u.address HAVING count(*) >= 2"
    )
    assert spec["key_names"] == ["address"]
    assert spec["aggs"] == [
        {"fn": "count", "arg": "*", "out": "n"},
        {"fn": "max", "arg": "h.size", "out": "hi"},
    ]
    assert spec["having"] == "n >= 2"
    assert spec["fragment_sql"].startswith(
        "SELECT u.address AS _k0, 1 AS _a0, h.size AS _a1 FROM"
    )


def test_join_agg_maintenance_equals_full_aggregate(spark, mem_catalog, monkeypatch):
    """maintain_join_agg_of_sql == the same JOIN + GROUP BY over the
    full tables: the join delta (3-branch, nested) feeds partials that
    merge exactly with the old-join snapshot partials."""
    from datafusion_delta_queries_spark.plans import sql_frontend

    monkeypatch.setattr(
        sql_frontend, "DeltaCatalog", lambda spark, sf, preds=None: mem_catalog
    )
    sql = (
        "SELECT users.address, count(*) AS n, min(users.id) AS lo, "
        "max(homes.size) AS hi "
        "FROM users JOIN homes ON users.address = homes.address "
        "WHERE users.age > 25 GROUP BY users.address"
    )
    got = _multiset(sql_frontend.maintain_join_agg_of_sql(spark, "unused", sql))
    u, h = mem_catalog.full("users"), mem_catalog.full("homes")
    full = _multiset(
        u.where("age > 25")
        .join(h, u["address"] == h["address"])
        .groupBy(u["address"])
        .agg(
            F.count("*").alias("n"),
            F.min(u["id"]).alias("lo"),
            F.max(h["size"]).alias("hi"),
        )
    )
    assert len(got) > 0
    assert got == full


def test_parse_join_agg_key_spelling_variants():
    """SELECT and HAVING may spell a grouping key with a different
    qualifier (or case) than GROUP BY — all spellings bind to the same
    key (review finding, r7)."""
    from datafusion_delta_queries_spark.plans import parse_join_agg_sql

    spec = parse_join_agg_sql(
        "SELECT n_name, count(*) AS n FROM orders o "
        "JOIN nation ON o.o_custkey = nation.n_nationkey "
        "GROUP BY nation.n_name HAVING count(*) > 1 AND NATION.N_NAME <> 'x'"
    )
    assert spec["key_names"] == ["n_name"]
    assert spec["having"] == "n > 1 AND n_name <> 'x'"
    # Alias via the differently-qualified echo also binds.
    spec = parse_join_agg_sql(
        "SELECT nation.n_name AS nat, count(*) AS n FROM orders o "
        "JOIN nation ON o.o_custkey = nation.n_nationkey GROUP BY n_name"
    )
    assert spec["key_names"] == ["nat"]


@pytest.mark.parametrize(
    "sql,msg",
    [
        # UNION folded into the fragment would bind GROUP BY to the
        # last branch only in real SQL — must reject, not mis-maintain.
        (
            "SELECT k, sum(v) AS s FROM a JOIN b ON a.k = b.k "
            "UNION ALL SELECT k, v FROM c GROUP BY k",
            "UNION is not supported",
        ),
        # Ambiguous bare echo of two same-named keys must fail loud,
        # never bind to whichever key came last.
        (
            "SELECT address, count(*) AS n FROM u JOIN h ON u.id = h.id "
            "GROUP BY u.address, h.address",
            "neither a grouping key",
        ),
    ],
)
def test_parse_join_agg_rejects(sql, msg):
    from datafusion_delta_queries_spark.plans import (
        UnsupportedSQL,
        parse_join_agg_sql,
    )

    with pytest.raises(UnsupportedSQL, match=msg):
        parse_join_agg_sql(sql)


def test_join_agg_having_with_qualified_key_ref(spark, mem_catalog, monkeypatch):
    """HAVING mixing an aggregate call and a qualified grouping-key
    reference: the key ref must be rewritten to its bare output name
    (the merged frame carries no qualifiers)."""
    from datafusion_delta_queries_spark.plans import sql_frontend

    monkeypatch.setattr(
        sql_frontend, "DeltaCatalog", lambda spark, sf, preds=None: mem_catalog
    )
    sql = (
        "SELECT users.address, count(*) AS n "
        "FROM users JOIN homes ON users.address = homes.address "
        "GROUP BY users.address "
        "HAVING count(*) >= 2 AND users.address <> 'addr0'"
    )
    got = _multiset(sql_frontend.maintain_join_agg_of_sql(spark, "unused", sql))
    u, h = mem_catalog.full("users"), mem_catalog.full("homes")
    full = _multiset(
        u.join(h, u["address"] == h["address"])
        .groupBy(u["address"])
        .agg(F.count("*").alias("n"))
        .where("n >= 2 AND address <> 'addr0'")
    )
    assert len(got) > 0
    assert got == full


def test_join_agg_maintenance_semi_join(spark, mem_catalog, monkeypatch):
    """The sound semi-join delta rule composes with aggregate
    maintenance: GROUP BY over a LEFT SEMI JOIN fragment maintains
    exactly."""
    from datafusion_delta_queries_spark.plans import sql_frontend

    monkeypatch.setattr(
        sql_frontend, "DeltaCatalog", lambda spark, sf, preds=None: mem_catalog
    )
    sql = (
        "SELECT users.address, count(*) AS n, max(users.id) AS hi "
        "FROM users LEFT SEMI JOIN homes ON users.address = homes.address "
        "GROUP BY users.address"
    )
    got = _multiset(sql_frontend.maintain_join_agg_of_sql(spark, "unused", sql))
    u, h = mem_catalog.full("users"), mem_catalog.full("homes")
    full = _multiset(
        u.join(h, u["address"] == h["address"], "left_semi")
        .groupBy("address")
        .agg(F.count("*").alias("n"), F.max("id").alias("hi"))
    )
    assert len(got) > 0
    assert got == full


def test_join_agg_maintenance_any_split(spark, mem_catalog, monkeypatch):
    """The maintained join-aggregate must not depend on where the
    append split falls on EITHER table."""
    from datafusion_delta_queries_spark.plans import sql_frontend

    monkeypatch.setattr(
        sql_frontend, "DeltaCatalog", lambda spark, sf, preds=None: mem_catalog
    )
    sql = (
        "SELECT users.address, count(*) AS n "
        "FROM users JOIN homes ON users.address = homes.address "
        "GROUP BY users.address"
    )
    results = []
    for um, hm in ((2, 3), (3, 2), (5, 4)):
        mem_catalog.preds = dict(
            mem_catalog.preds, users=f"id % {um} = 0", homes=f"id % {hm} = 0"
        )
        results.append(
            _multiset(sql_frontend.maintain_join_agg_of_sql(spark, "unused", sql))
        )
    assert results[0] == results[1] == results[2]


def test_join_agg_maintenance_random_statements(spark, mem_catalog, monkeypatch):
    """Random join-aggregate statements from the supported grammar:
    every one must parse, maintain, and equal the full-table answer."""
    from hypothesis import HealthCheck, given, settings
    import hypothesis.strategies as st

    from datafusion_delta_queries_spark.plans import sql_frontend

    monkeypatch.setattr(
        sql_frontend, "DeltaCatalog", lambda spark, sf, preds=None: mem_catalog
    )

    @settings(
        max_examples=8, deadline=None, suppress_health_check=list(HealthCheck)
    )
    @given(data=st.data())
    def prop(data):
        kw = data.draw(st.sampled_from(["JOIN", "LEFT SEMI JOIN"]))
        aggs = data.draw(
            st.sets(
                st.sampled_from(
                    [
                        "count(*) AS n",
                        "min(users.id) AS lo",
                        "max(users.age) AS hi",
                        "sum(users.id) AS s",
                    ]
                ),
                min_size=1,
                max_size=3,
            )
        )
        where = data.draw(st.sampled_from(["", " WHERE users.age > 30"]))
        sql = (
            f"SELECT users.address, {', '.join(sorted(aggs))} "
            f"FROM users {kw} homes ON users.address = homes.address"
            f"{where} GROUP BY users.address"
        )
        got = _multiset(sql_frontend.maintain_join_agg_of_sql(spark, "unused", sql))
        u, h = mem_catalog.full("users"), mem_catalog.full("homes")
        base = u.where("age > 30") if where else u
        joined = base.join(
            h,
            base["address"] == h["address"],
            "left_semi" if kw.startswith("LEFT") else "inner",
        )
        fns = {
            "count(*) AS n": F.count("*").alias("n"),
            "min(users.id) AS lo": F.min(base["id"]).alias("lo"),
            "max(users.age) AS hi": F.max(base["age"]).alias("hi"),
            "sum(users.id) AS s": F.sum(base["id"]).alias("s"),
        }
        full = _multiset(
            joined.groupBy(base["address"]).agg(*[fns[a] for a in sorted(aggs)])
        )
        assert got == full, sql

    prop()


def test_ivm_identity_one_side_empty_delta(spark, mem_catalog):
    """A maintenance tick where one table got no appends: the identity
    must still hold (two of the three join branches are empty) — the
    100 TB steady-state where most tables are quiet per refresh."""
    mem_catalog.preds = dict(mem_catalog.preds, homes="FALSE")
    ir = sql_to_ir(SQL_JOIN)
    full_new = _multiset(compile_plan(ir, mem_catalog))
    full_old = _multiset(compile_snapshot(ir, mem_catalog))
    delta = _multiset(compile_delta(ir, mem_catalog))
    assert len(delta) > 0
    assert sorted(full_old + delta) == full_new


# -- maintain_agg_of_sql_signed: full grammar under retractions --------

from .conftest import SF_SMALL  # noqa: E402


class TestSignedAggOfSql:
    def _recompute(self, spark, sql):
        from datafusion_delta_queries_spark.plans.signed import (
            SignedDeltaCatalog,
        )

        cat = SignedDeltaCatalog(spark, SF_SMALL)
        cat.new("orders").createOrReplaceTempView("_orders_new_state")
        return spark.sql(sql.replace("FROM orders", "FROM _orders_new_state"))

    def _check(self, spark, sql):
        from datafusion_delta_queries_spark.plans.sql_frontend import (
            maintain_agg_of_sql_signed,
        )

        got = maintain_agg_of_sql_signed(spark, SF_SMALL, sql)
        want = self._recompute(spark, sql)
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
        return got

    def test_every_aggregate_class(self, spark):
        cents = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
        self._check(
            spark,
            f"SELECT o_orderpriority, count(*) AS n, sum({cents}) AS cents, "
            f"min(o_totalprice) AS lo, max(o_totalprice) AS hi, "
            f"avg({cents}) AS mean_cents, "
            f"count(DISTINCT o_custkey) AS n_custs "
            f"FROM orders GROUP BY o_orderpriority",
        )

    def test_having_crossed_by_retraction(self, spark):
        # The update moves every %10=2 order OUT of its group into
        # '0-UPDATED', so original groups shrink — a HAVING threshold
        # must be applied to the merged (post-retraction) counts.
        got = self._check(
            spark,
            "SELECT o_orderpriority, count(*) AS n FROM orders "
            "GROUP BY o_orderpriority HAVING count(*) >= 120",
        )
        assert got.count() > 0

    def test_expression_key_scoped_minmax(self, spark):
        # Time-bucket grouping key: the min/max scoped recompute must
        # evaluate the key expression for its semi-join restriction.
        self._check(
            spark,
            "SELECT date_trunc('month', o_orderdate) AS month, "
            "min(o_totalprice) AS lo, max(o_totalprice) AS hi, "
            "count(*) AS n FROM orders GROUP BY date_trunc('month', o_orderdate)",
        )

    def test_where_filters_change_batch_too(self, spark):
        # Updates move o_totalprice ACROSS the WHERE boundary
        # (+50000.0), so pre/post images must be filtered after
        # transformation semantics: preimage fails the filter, the
        # postimage passes (or vice versa) — the identity catches any
        # mishandling.
        self._check(
            spark,
            "SELECT o_orderpriority, count(*) AS n FROM orders "
            "WHERE o_totalprice > 300000 GROUP BY o_orderpriority",
        )


def test_join_on_keys_of_one_aggregate(spark):
    """Two frames cut from one aggregate carry the same attribute ids;
    the key stitch still pairs their rows, NULL key included, instead
    of failing Spark's ambiguous self-join check."""
    from pyspark.sql import functions as F

    from datafusion_delta_queries_spark.plans.sql_frontend import (
        _join_on_keys,
    )

    agg = (
        spark.createDataFrame(
            [(1, 10), (1, 20), (2, 5), (None, 7)], "k int, v int"
        )
        .groupBy("k")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    )
    out = _join_on_keys(
        agg.select("k", "lo"), agg.where("hi > 5").select("k", "hi"), ["k"]
    )
    assert out.columns == ["k", "lo", "hi"]
    assert sorted(map(tuple, out.collect()), key=str) == [
        (1, 10, 20), (None, 7, 7)
    ]


class TestSignedJoinAggOfSql:
    def test_join_agg_all_classes_vs_recompute(self, spark):
        from datafusion_delta_queries_spark.plans.sql_frontend import (
            maintain_join_agg_of_sql_signed,
        )
        from datafusion_delta_queries_spark.plans.signed import (
            SignedDeltaCatalog,
        )

        sql = (
            "SELECT o.o_orderpriority, count(*) AS n_lines, "
            "sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 "
            "+ 0.5) AS BIGINT)) AS rev_cents, "
            "avg(l.l_quantity) AS mean_qty, "
            "count(DISTINCT l.l_suppkey) AS n_supps "
            "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
            "GROUP BY o.o_orderpriority"
        )
        got = maintain_join_agg_of_sql_signed(spark, SF_SMALL, sql)
        cat = SignedDeltaCatalog(spark, SF_SMALL)
        cat.new("lineitem").createOrReplaceTempView("_li_new")
        cat.new("orders").createOrReplaceTempView("_o_new")
        want = spark.sql(sql.replace(
            "FROM lineitem l JOIN orders o", "FROM _li_new l JOIN _o_new o"
        ))
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()

    def test_rejects_minmax(self, spark):
        from datafusion_delta_queries_spark.plans import UnsupportedSQL
        from datafusion_delta_queries_spark.plans.sql_frontend import (
            maintain_join_agg_of_sql_signed,
        )

        with pytest.raises(UnsupportedSQL, match="min/max over a join"):
            maintain_join_agg_of_sql_signed(
                spark, SF_SMALL,
                "SELECT o.o_orderpriority, min(l.l_quantity) AS lo "
                "FROM lineitem l JOIN orders o "
                "ON l.l_orderkey = o.o_orderkey "
                "GROUP BY o.o_orderpriority",
            )

    def test_left_join_agg_vs_recompute(self, spark):
        """LEFT JOIN + GROUP BY maintained under retractions: the
        fragment's delta comes from the delta-scoped recompute
        compiler (the linear rewrite refuses outer joins). count(*)
        counts dangling customers' NULL-padded rows and
        count(o_orderkey) does not, so the dangling→matched
        transition (first order gained) must retract one and not the
        other — the recompute comparison certifies it."""
        from datafusion_delta_queries_spark.plans.signed import (
            SignedDeltaCatalog,
        )
        from datafusion_delta_queries_spark.plans.sql_frontend import (
            maintain_join_agg_of_sql_signed,
        )

        sql = (
            "SELECT c.c_mktsegment, count(*) AS n_rows, "
            "count(o.o_orderkey) AS n_orders, "
            "sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) "
            "AS cents, "
            "count(DISTINCT o.o_orderpriority) AS n_prios "
            "FROM customer c LEFT JOIN orders o "
            "ON c.c_custkey = o.o_custkey "
            "GROUP BY c.c_mktsegment"
        )
        got = maintain_join_agg_of_sql_signed(spark, SF_SMALL, sql)
        cat = SignedDeltaCatalog(spark, SF_SMALL)
        cat.new("customer").createOrReplaceTempView("_c_new")
        cat.new("orders").createOrReplaceTempView("_o_new")
        want = spark.sql(sql.replace(
            "FROM customer c LEFT JOIN orders o",
            "FROM _c_new c LEFT JOIN _o_new o",
        ))
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()

    def test_left_join_plain_statement_signed_delta(self, spark):
        """signed_delta_of_sql on a non-aggregate LEFT JOIN statement
        routes through the scoped compiler and equals the brute-force
        new-vs-old net diff."""
        from datafusion_delta_queries_spark.plans.signed import (
            SIGN,
            SignedDeltaCatalog,
        )
        from datafusion_delta_queries_spark.plans.sql_frontend import (
            signed_delta_of_sql,
        )
        from pyspark.sql import functions as F

        sql = (
            "SELECT c.c_custkey, c.c_name, o.o_orderkey "
            "FROM customer c LEFT JOIN orders o "
            "ON c.c_custkey = o.o_custkey"
        )
        got = signed_delta_of_sql(spark, SF_SMALL, sql)
        cat = SignedDeltaCatalog(spark, SF_SMALL)
        cat.new("customer").createOrReplaceTempView("_c_new")
        cat.new("orders").createOrReplaceTempView("_o_new")
        cat.old("customer").createOrReplaceTempView("_c_old")
        cat.old("orders").createOrReplaceTempView("_o_old")
        new_q = spark.sql(sql.replace(
            "FROM customer c LEFT JOIN orders o",
            "FROM _c_new c LEFT JOIN _o_new o",
        )).withColumn(SIGN, F.lit(1).cast("bigint"))
        old_q = spark.sql(sql.replace(
            "FROM customer c LEFT JOIN orders o",
            "FROM _c_old c LEFT JOIN _o_old o",
        )).withColumn(SIGN, F.lit(-1).cast("bigint"))
        from datafusion_delta_queries_spark.plans.signed import consolidate

        want = consolidate(new_q.unionByName(old_q))
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
        assert got.where(F.col(SIGN) < 0).count() > 0

    def test_full_join_agg_vs_recompute(self, spark):
        """FULL OUTER JOIN + GROUP BY through the same scoped
        fallback: dangling rows on BOTH sides carry NULL-padded
        contributions that retract when a match arrives."""
        from datafusion_delta_queries_spark.plans.signed import (
            SignedDeltaCatalog,
        )
        from datafusion_delta_queries_spark.plans.sql_frontend import (
            maintain_join_agg_of_sql_signed,
        )

        sql = (
            "SELECT o.o_orderstatus, count(*) AS n_rows, "
            "count(c.c_custkey) AS n_matched "
            "FROM customer c FULL JOIN orders o "
            "ON c.c_custkey = o.o_custkey "
            "GROUP BY o.o_orderstatus"
        )
        got = maintain_join_agg_of_sql_signed(spark, SF_SMALL, sql)
        cat = SignedDeltaCatalog(spark, SF_SMALL)
        cat.new("customer").createOrReplaceTempView("_c_new")
        cat.new("orders").createOrReplaceTempView("_o_new")
        want = spark.sql(sql.replace(
            "FROM customer c FULL JOIN orders o",
            "FROM _c_new c FULL JOIN _o_new o",
        ))
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()

    def test_snowflake_join_chain_maintained(self, spark):
        """A SNOWFLAKE chain (the second join keys on a dim column,
        o_custkey, not the fact) now routes through the chain
        compiler's parent-row fold (late r13): the maintained
        aggregate must equal the one-shot recompute over the
        post-change states of all three tables."""
        from datafusion_delta_queries_spark.plans.signed import (
            SignedDeltaCatalog,
        )
        from datafusion_delta_queries_spark.plans.sql_frontend import (
            maintain_join_agg_of_sql_signed,
        )

        got = maintain_join_agg_of_sql_signed(
            spark, SF_SMALL,
            "SELECT c.c_mktsegment, count(*) AS n "
            "FROM lineitem l "
            "JOIN orders o ON l.l_orderkey = o.o_orderkey "
            "LEFT JOIN customer c ON o.o_custkey = c.c_custkey "
            "GROUP BY c.c_mktsegment",
        )
        cat = SignedDeltaCatalog(spark, SF_SMALL)
        for t in ("lineitem", "orders", "customer"):
            cat.new(t).createOrReplaceTempView(f"_snow_{t}")
        want = spark.sql(
            "SELECT c.c_mktsegment, count(*) AS n "
            "FROM _snow_lineitem l "
            "JOIN _snow_orders o ON l.l_orderkey = o.o_orderkey "
            "LEFT JOIN _snow_customer c ON o.o_custkey = c.c_custkey "
            "GROUP BY c.c_mktsegment"
        )
        assert got.exceptAll(want).isEmpty() and want.exceptAll(
            got
        ).isEmpty()


def test_parse_join_using(spark, mem_catalog):
    """JOIN ... USING (c): same-named equi keys, join_constraint
    carried as 'using' — the ON-vs-USING marker the reference clones
    through its rewrite (mod.rs:127). USING compiles exactly like ON
    (both sides keep their key column; select qualified columns)."""
    ir = sql_to_ir(
        "SELECT u.name, h.size FROM public.users u "
        "JOIN public.homes h USING (address)"
    )
    assert ir == Projection(
        ["l.name", "r.size"],
        Join(
            Scan("users"),
            Scan("homes"),
            on=[("address", "address")],
            join_constraint="using",
        ),
    )
    assert ir.input.join_constraint == "using"

    # identical rows to the equivalent ON form, and the IVM identity
    # holds through the rewrite (the marker is cloned, not dropped)
    on_ir = sql_to_ir(
        "SELECT u.name, h.size FROM public.users u "
        "JOIN public.homes h ON u.address = h.address"
    )
    assert _multiset(compile_plan(ir, mem_catalog)) == _multiset(
        compile_plan(on_ir, mem_catalog)
    )
    full_new = _multiset(compile_plan(ir, mem_catalog))
    full_old = _multiset(compile_snapshot(ir, mem_catalog))
    delta = _multiset(compile_delta(ir, mem_catalog))
    assert sorted(full_old + delta) == full_new

    with pytest.raises(UnsupportedSQL):
        sql_to_ir("SELECT u.name FROM public.users u JOIN public.homes h USING ()")


def test_parse_join_using_strict_list():
    """USING list validation (ADVICE r11): missing commas and
    non-identifier tokens fail at PARSE time with a loud message, not
    as a downstream compile error; trailing commas rejected; a valid
    two-column list still parses."""
    ir = sql_to_ir(
        "SELECT u.name FROM public.users u "
        "JOIN public.homes h USING (address, name)"
    )
    assert ir.input.on == (("address", "address"), ("name", "name"))

    with pytest.raises(UnsupportedSQL, match="comma-separated"):
        sql_to_ir(
            "SELECT u.name FROM public.users u "
            "JOIN public.homes h USING (address name)"
        )
    with pytest.raises(UnsupportedSQL, match="column identifiers"):
        sql_to_ir(
            "SELECT u.name FROM public.users u "
            "JOIN public.homes h USING (42)"
        )
    with pytest.raises(UnsupportedSQL, match="column identifiers"):
        sql_to_ir(
            "SELECT u.name FROM public.users u "
            "JOIN public.homes h USING (a, +)"
        )
    with pytest.raises(UnsupportedSQL, match="trailing comma"):
        sql_to_ir(
            "SELECT u.name FROM public.users u "
            "JOIN public.homes h USING (address,)"
        )
