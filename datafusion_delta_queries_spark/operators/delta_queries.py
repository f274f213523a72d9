"""Delta (IVM) queries — the reference's core capability, executed.

Each query builds a logical IR (plans/nodes.py), runs the PosDelta
rewrite (plans/rewrite.py — reference optimizer_rules/mod.rs:8-196) and
compiles the delta plan to a DataFrame (plans/compiler.py). The result
is *only the new output rows* produced by the appended input rows.

The DuckDB oracle for every query is the brute-force IVM identity the
reference never got to execute (its tests are plan-shape only,
mod.rs:209-504):

    delta(Q)  ==  Q(T ∪ ΔT)  EXCEPT ALL  Q(T)

i.e. multiset difference of the full query over the new state vs the
old snapshot — with the snapshot/delta split being the deterministic
predicates in plans.compiler.DELTA_PREDICATES, replicated verbatim in
the SQL. Passing the order-insensitive value-hash at sf0.01 therefore
*proves* full(T∪ΔT) == full(T) ∪ delta(T, ΔT) per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import (
    CrossJoin,
    DeltaCatalog,
    Filter,
    Join,
    Projection,
    Scan,
    Union,
    compile_delta,
    maintain_agg_of_sql,
    maintain_join_agg_of_sql,
)

# Verbatim copies of plans.compiler.DELTA_PREDICATES for the SQL side.
_P_ORDERS = "o_orderkey % 10 = 0"
_P_CUSTOMER = "c_custkey % 7 = 0"
_P_SUPPLIER = "s_suppkey % 5 = 0"
_P_NATION = "n_nationkey >= 20"
_P_REGION = "r_regionkey = 4"


def _except_all(full_sql: str, old_sql: str) -> str:
    return f"SELECT * FROM ({full_sql}) EXCEPT ALL SELECT * FROM ({old_sql})"


# -- Δ(π σ Scan) — projection/filter rules (mod.rs:22-53) --------------

_PF_IR = Projection(
    [
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        "round(o_totalprice, 2) AS total",
    ],
    Filter("o_totalprice > 150000", Scan("orders")),
)


def q_delta_projection_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return compile_delta(_PF_IR, DeltaCatalog(spark, sf_dir))


_PF_BODY = (
    "SELECT o_orderkey, o_custkey, o_orderpriority, "
    "round(o_totalprice, 2) AS total FROM orders WHERE ({src}) "
    "AND o_totalprice > 150000"
)
_PF_ORACLE = _except_all(
    _PF_BODY.format(src="TRUE"), _PF_BODY.format(src=f"NOT ({_P_ORDERS})")
)


# -- Δ(R ⋈ S) — keyed-join rule (mod.rs:99-158), run in one pass -------

_JOIN_IR = Projection(
    [
        "o_orderkey",
        "c_custkey",
        "c_name",
        "c_mktsegment",
        "round(o_totalprice, 2) AS total",
    ],
    Join(
        Scan("orders"),
        Scan("customer"),
        on=[("o_custkey", "c_custkey")],
        join_type="inner",
    ),
)


def q_delta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return compile_delta(_JOIN_IR, DeltaCatalog(spark, sf_dir))


_JOIN_BODY = (
    "SELECT o_orderkey, c_custkey, c_name, c_mktsegment, "
    "round(o_totalprice, 2) AS total "
    "FROM (SELECT * FROM orders WHERE {o_src}) o "
    "JOIN (SELECT * FROM customer WHERE {c_src}) c ON o.o_custkey = c.c_custkey"
)
_JOIN_ORACLE = _except_all(
    _JOIN_BODY.format(o_src="TRUE", c_src="TRUE"),
    _JOIN_BODY.format(o_src=f"NOT ({_P_ORDERS})", c_src=f"NOT ({_P_CUSTOMER})"),
)


# -- Δ(R ⋈ S) with an extra theta filter (mod.rs:124-125 `filter`) -----

_JOIN_THETA_IR = Projection(
    ["s_suppkey", "s_name", "c_custkey", "round(c_acctbal, 2) AS cust_bal"],
    Join(
        Scan("supplier"),
        Scan("customer"),
        on=[("s_nationkey", "c_nationkey")],
        join_type="inner",
        filter="r.c_acctbal > l.s_acctbal + 4000",
    ),
)


def q_delta_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return compile_delta(_JOIN_THETA_IR, DeltaCatalog(spark, sf_dir))


_JOIN_THETA_BODY = (
    "SELECT s_suppkey, s_name, c_custkey, round(c_acctbal, 2) AS cust_bal "
    "FROM (SELECT * FROM supplier WHERE {s_src}) s "
    "JOIN (SELECT * FROM customer WHERE {c_src}) c "
    "ON s.s_nationkey = c.c_nationkey AND c.c_acctbal > s.s_acctbal + 4000"
)
_JOIN_THETA_ORACLE = _except_all(
    _JOIN_THETA_BODY.format(s_src="TRUE", c_src="TRUE"),
    _JOIN_THETA_BODY.format(
        s_src=f"NOT ({_P_SUPPLIER})", c_src=f"NOT ({_P_CUSTOMER})"
    ),
)


# -- Δ(R ⋈ S) with null-safe keys (mod.rs:128 `null_equals_null`) ------
#
# The reference clones ``null_equals_null`` through its rewrite; our IR
# Join carries the same flag and the compiler emits ``<=>``. Both sides
# derive a NULLABLE band key (NULL for negative balances) so plain ``=``
# and ``<=>`` genuinely differ: the delta must include the NULL×NULL
# pairs the appended rows create.

_NULL_SAFE_BAND_C = (
    "CASE WHEN c_acctbal >= 0 THEN CAST(floor(c_acctbal / 1000) AS BIGINT) "
    "END AS c_band"
)
_NULL_SAFE_BAND_S = (
    "CASE WHEN s_acctbal >= 0 THEN CAST(floor(s_acctbal / 1000) AS BIGINT) "
    "END AS s_band"
)

_JOIN_NULL_SAFE_IR = Projection(
    ["c_custkey", "s_suppkey", "c_band AS band"],
    Join(
        Projection(["c_custkey", _NULL_SAFE_BAND_C], Scan("customer")),
        Projection(["s_suppkey", _NULL_SAFE_BAND_S], Scan("supplier")),
        on=[("c_band", "s_band")],
        join_type="inner",
        null_equals_null=True,
    ),
)


def q_delta_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return compile_delta(_JOIN_NULL_SAFE_IR, DeltaCatalog(spark, sf_dir))


_JOIN_NULL_SAFE_BODY = (
    "SELECT c_custkey, s_suppkey, c_band AS band "
    f"FROM (SELECT c_custkey, {_NULL_SAFE_BAND_C} "
    "FROM customer WHERE {c_src}) c "
    f"JOIN (SELECT s_suppkey, {_NULL_SAFE_BAND_S} "
    "FROM supplier WHERE {s_src}) s "
    "ON c.c_band IS NOT DISTINCT FROM s.s_band"
)
_JOIN_NULL_SAFE_ORACLE = _except_all(
    _JOIN_NULL_SAFE_BODY.format(c_src="TRUE", s_src="TRUE"),
    _JOIN_NULL_SAFE_BODY.format(
        c_src=f"NOT ({_P_CUSTOMER})", s_src=f"NOT ({_P_SUPPLIER})"
    ),
)


# -- Δ(R × S) — cross-join rule (mod.rs:54-98) -------------------------

_CROSS_IR = Projection(
    ["r_regionkey", "r_name", "n_nationkey", "n_name"],
    CrossJoin(Scan("region"), Scan("nation")),
)


def q_delta_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return compile_delta(_CROSS_IR, DeltaCatalog(spark, sf_dir))


_CROSS_BODY = (
    "SELECT r_regionkey, r_name, n_nationkey, n_name "
    "FROM (SELECT * FROM region WHERE {r_src}) r "
    "CROSS JOIN (SELECT * FROM nation WHERE {n_src}) n"
)
_CROSS_ORACLE = _except_all(
    _CROSS_BODY.format(r_src="TRUE", n_src="TRUE"),
    _CROSS_BODY.format(r_src=f"NOT ({_P_REGION})", n_src=f"NOT ({_P_NATION})"),
)


# -- Δ(∪ᵢ Rᵢ) — union rule, fan-in preserved (mod.rs:159-180) ----------

_UNION_IR = Union(
    [
        Projection(
            ["c_custkey AS id", "c_name AS name", "'customer' AS side"],
            Scan("customer"),
        ),
        Projection(
            ["s_suppkey AS id", "s_name AS name", "'supplier' AS side"],
            Scan("supplier"),
        ),
        Projection(
            ["CAST(n_nationkey AS BIGINT) AS id", "n_name AS name", "'nation' AS side"],
            Scan("nation"),
        ),
    ]
)


def q_delta_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    return compile_delta(_UNION_IR, DeltaCatalog(spark, sf_dir))


_UNION_BODY = (
    "SELECT c_custkey AS id, c_name AS name, 'customer' AS side "
    "FROM customer WHERE {c_src} "
    "UNION ALL "
    "SELECT s_suppkey AS id, s_name AS name, 'supplier' AS side "
    "FROM supplier WHERE {s_src} "
    "UNION ALL "
    "SELECT CAST(n_nationkey AS BIGINT) AS id, n_name AS name, 'nation' AS side "
    "FROM nation WHERE {n_src}"
)
_UNION_ORACLE = _except_all(
    _UNION_BODY.format(c_src="TRUE", s_src="TRUE", n_src="TRUE"),
    _UNION_BODY.format(
        c_src=f"NOT ({_P_CUSTOMER})",
        s_src=f"NOT ({_P_SUPPLIER})",
        n_src=f"NOT ({_P_NATION})",
    ),
)


# -- Δ of a multi-operator composite: π σ (orders ⋈ customer) ----------

_COMPOSITE_IR = Projection(
    ["o_orderkey", "c_name", "round(o_totalprice, 2) AS total"],
    Filter(
        "o_orderpriority = '1-URGENT'",
        Join(
            Scan("orders"),
            Scan("customer"),
            on=[("o_custkey", "c_custkey")],
            join_type="inner",
        ),
    ),
)


def q_delta_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    return compile_delta(_COMPOSITE_IR, DeltaCatalog(spark, sf_dir))


_COMPOSITE_BODY = (
    "SELECT o_orderkey, c_name, round(o_totalprice, 2) AS total "
    "FROM (SELECT * FROM orders WHERE {o_src}) o "
    "JOIN (SELECT * FROM customer WHERE {c_src}) c ON o.o_custkey = c.c_custkey "
    "WHERE o_orderpriority = '1-URGENT'"
)
_COMPOSITE_ORACLE = _except_all(
    _COMPOSITE_BODY.format(o_src="TRUE", c_src="TRUE"),
    _COMPOSITE_BODY.format(
        o_src=f"NOT ({_P_ORDERS})", c_src=f"NOT ({_P_CUSTOMER})"
    ),
)


# -- SQL-string entry point (frontend → rewrite → compile) -------------
#
# The reference's tests all start from SQL handed to DataFusion
# (mod.rs:223-225 etc.); delta_of_sql is our equivalent ergonomic
# surface. These queries go SQL string → plans.sql_frontend → PosDelta
# rewrite → compiled delta, so the driver gate covers the whole path.

_SQL_FRONTEND_STMT = (
    "SELECT o_orderkey, c_name, c_mktsegment, round(o_totalprice, 2) AS total "
    "FROM orders JOIN customer ON orders.o_custkey = customer.c_custkey "
    "WHERE orders.o_totalprice > 250000"
)


def q_delta_sql_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans import delta_of_sql

    return delta_of_sql(spark, sf_dir, _SQL_FRONTEND_STMT)


_SQL_FRONTEND_BODY = (
    "SELECT o_orderkey, c_name, c_mktsegment, round(o_totalprice, 2) AS total "
    "FROM (SELECT * FROM orders WHERE {o_src}) o "
    "JOIN (SELECT * FROM customer WHERE {c_src}) c ON o.o_custkey = c.c_custkey "
    "WHERE o_totalprice > 250000"
)
_SQL_FRONTEND_ORACLE = _except_all(
    _SQL_FRONTEND_BODY.format(o_src="TRUE", c_src="TRUE"),
    _SQL_FRONTEND_BODY.format(
        o_src=f"NOT ({_P_ORDERS})", c_src=f"NOT ({_P_CUSTOMER})"
    ),
)

_SQL_SEMI_STMT = (
    "SELECT customer.c_custkey, customer.c_name FROM customer "
    "LEFT SEMI JOIN orders ON customer.c_custkey = orders.o_custkey"
)


def q_delta_sql_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI JOIN through the SQL frontend — drives the semi delta
    rule (our sound extension beyond the reference) from a SQL string."""
    from ..plans import delta_of_sql

    return delta_of_sql(spark, sf_dir, _SQL_SEMI_STMT)


_SQL_SEMI_BODY = (
    "SELECT c_custkey, c_name "
    "FROM (SELECT * FROM customer WHERE {c_src}) c "
    "WHERE EXISTS (SELECT 1 FROM (SELECT * FROM orders WHERE {o_src}) o "
    "WHERE o.o_custkey = c.c_custkey)"
)
_SQL_SEMI_ORACLE = _except_all(
    _SQL_SEMI_BODY.format(c_src="TRUE", o_src="TRUE"),
    _SQL_SEMI_BODY.format(
        c_src=f"NOT ({_P_CUSTOMER})", o_src=f"NOT ({_P_ORDERS})"
    ),
)

# Sums aggregate integer cents (TPC-H prices carry exactly 2 decimals)
# so the partial-merge total is bitwise-identical to DuckDB's
# single-pass sum — order-independent integer addition, one final
# division. A raw double `avg()` would merge in a different addition
# order than the oracle's single pass.
_SQL_AGG_STMT = (
    "SELECT o_orderpriority, count(*) AS n_orders, "
    "min(o_totalprice) AS min_price, "
    "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents "
    "FROM orders WHERE o_totalprice > 50000 GROUP BY o_orderpriority"
)


def q_delta_sql_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance from a SQL GROUP BY string —
    the aggregate case the delta fragment rejects, served by the
    partial-merge pattern instead (only the delta batch is scanned
    fresh; the snapshot partial stands in for the stored state)."""
    from ..functions.text import round_portable

    df = maintain_agg_of_sql(spark, sf_dir, _SQL_AGG_STMT)
    return df.selectExpr(
        "o_orderpriority",
        "n_orders",
        "round(min_price, 2) AS min_price",
        round_portable("cents / (100.0 * n_orders)", 4) + " AS avg_price",
    )


def _sql_agg_oracle() -> str:
    from ..functions.text import round_portable

    rp = round_portable(
        "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) "
        "/ (100.0 * count(*))",
        4,
    )
    return (
        "SELECT o_orderpriority, count(*) AS n_orders, "
        "round(min(o_totalprice), 2) AS min_price, "
        f"{rp} AS avg_price "
        "FROM orders WHERE o_totalprice > 50000 GROUP BY o_orderpriority"
    )


# Time-bucketed continuous aggregate from a SQL string — the
# expression-key path (GROUP BY a computed bucket). Values sum as
# integer hundredths: floor(value*100 + 0.5) is the same IEEE op
# sequence in Spark and DuckDB, so the merged total is bitwise equal
# to the oracle's single-pass sum.
_ROLLUP_BUCKET = "date_format(date_trunc('hour', ts), 'yyyy-MM-dd HH:00')"
_SQL_ROLLUP_STMT = (
    f"SELECT {_ROLLUP_BUCKET} AS bucket, "
    "event_type, count(*) AS n_events, "
    "sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents "
    "FROM events "
    f"GROUP BY {_ROLLUP_BUCKET}, event_type"
)


def q_delta_sql_rollup_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import round_portable

    df = maintain_agg_of_sql(spark, sf_dir, _SQL_ROLLUP_STMT)
    return df.selectExpr(
        "bucket",
        "event_type",
        "n_events",
        round_portable("cents / 100.0", 2) + " AS total_value",
    )


def _sql_rollup_oracle() -> str:
    from ..functions.text import round_portable

    rp = round_portable(
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0", 2
    )
    return (
        "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS bucket, "
        "event_type, count(*) AS n_events, "
        f"{rp} AS total_value "
        "FROM events GROUP BY 1, 2"
    )


# HAVING over the merged maintenance state (round-7 frontend
# extension): the filter runs AFTER the partial-union-merge — a group
# may cross the threshold only once its delta partial arrives, so the
# predicate cannot be pushed into either partial. Aggregate calls in
# HAVING are matched to select-list aggregates by normalized call text
# and rewritten to the merged output columns.
_SQL_HAVING_STMT = (
    "SELECT o_custkey, count(*) AS n_orders, "
    "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents "
    "FROM orders WHERE o_totalprice > 100000 GROUP BY o_custkey "
    "HAVING count(*) >= 12 "
    "AND sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) > 250000000"
)


def q_delta_sql_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL GROUP BY ... HAVING → incrementally-maintained + filtered
    aggregate (the most common statement shape users paste; the
    reference declines all aggregates, mod.rs:187)."""
    from ..functions.text import round_portable

    df = maintain_agg_of_sql(spark, sf_dir, _SQL_HAVING_STMT)
    return df.selectExpr(
        "o_custkey",
        "n_orders",
        round_portable("cents / 100.0", 2) + " AS total_price",
    )


def _sql_having_oracle() -> str:
    from ..functions.text import round_portable

    rp = round_portable(
        "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0", 2
    )
    return (
        "SELECT o_custkey, count(*) AS n_orders, "
        f"{rp} AS total_price "
        "FROM orders WHERE o_totalprice > 100000 GROUP BY o_custkey "
        "HAVING count(*) >= 12 "
        "AND sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) > 250000000"
    )


# JOIN + GROUP BY maintenance from one SQL string (round-7): the join
# fragment runs through the PosDelta rewrite (executed in one pass: one
# join over the three tables' new state),
# the aggregate through partial-union-merge. The reference has the two
# halves (join rule mod.rs:99-158; aggregates declined mod.rs:187) but
# never composes them.
_SQL_JOIN_AGG_STMT = (
    "SELECT n_name, count(*) AS n_orders, "
    "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents "
    "FROM orders JOIN customer ON orders.o_custkey = customer.c_custkey "
    "JOIN nation ON customer.c_nationkey = nation.n_nationkey "
    "WHERE o_totalprice > 50000 "
    "GROUP BY n_name"
)


def q_delta_sql_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained revenue-per-nation over a 3-table join,
    from one SQL statement."""
    from ..functions.text import round_portable

    df = maintain_join_agg_of_sql(spark, sf_dir, _SQL_JOIN_AGG_STMT)
    return df.selectExpr(
        "n_name",
        "n_orders",
        round_portable("cents / 100.0", 2) + " AS total_price",
    )


def _sql_join_agg_oracle() -> str:
    from ..functions.text import round_portable

    rp = round_portable(
        "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0", 2
    )
    return (
        "SELECT n_name, count(*) AS n_orders, "
        f"{rp} AS total_price "
        "FROM orders JOIN customer ON orders.o_custkey = customer.c_custkey "
        "JOIN nation ON customer.c_nationkey = nation.n_nationkey "
        "WHERE o_totalprice > 50000 "
        "GROUP BY n_name"
    )


# COUNT(DISTINCT) through the maintenance surface (round-8 frontend
# extension): scalar distinct counts don't merge, distinct (keys,
# value) pair sets do — the snapshot pair set is the stored auxiliary
# state, only ΔT's pairs are computed fresh, and the count is exact
# (the HLL path, delta_ndv_maintenance, remains the bounded-state
# alternative). Mixed with plain decomposable aggregates the frames
# stitch on a null-safe key join.
_SQL_CD_STMT = (
    "SELECT o_orderpriority, count(DISTINCT o_custkey) AS uniq_custs, "
    "count(*) AS n_orders, min(o_totalprice) AS min_price "
    "FROM orders WHERE o_totalprice > 50000 GROUP BY o_orderpriority"
)


def q_delta_sql_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-maintained count(DISTINCT) beside plain aggregates,
    from one SQL GROUP BY string."""
    df = maintain_agg_of_sql(spark, sf_dir, _SQL_CD_STMT)
    return df.selectExpr(
        "o_orderpriority",
        "uniq_custs",
        "n_orders",
        "round(min_price, 2) AS min_price",
    )


_SQL_CD_ORACLE = (
    "SELECT o_orderpriority, count(DISTINCT o_custkey) AS uniq_custs, "
    "count(*) AS n_orders, round(min(o_totalprice), 2) AS min_price "
    "FROM orders WHERE o_totalprice > 50000 GROUP BY o_orderpriority"
)


# count(DISTINCT) over a maintained 3-table JOIN: the join fragment
# runs through the PosDelta rewrite; the distinct-pair state
# is built over (snapshot join) ∪ (join delta) — unique customers who
# placed a qualifying order, per nation.
_SQL_JOIN_CD_STMT = (
    "SELECT n_name, count(DISTINCT o_custkey) AS uniq_custs, "
    "count(*) AS n_orders "
    "FROM orders JOIN customer ON orders.o_custkey = customer.c_custkey "
    "JOIN nation ON customer.c_nationkey = nation.n_nationkey "
    "WHERE o_totalprice > 50000 GROUP BY n_name"
)


def q_delta_sql_join_count_distinct(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return maintain_join_agg_of_sql(spark, sf_dir, _SQL_JOIN_CD_STMT)


_SQL_JOIN_CD_ORACLE = (
    "SELECT n_name, count(DISTINCT o_custkey) AS uniq_custs, "
    "count(*) AS n_orders "
    "FROM orders JOIN customer ON orders.o_custkey = customer.c_custkey "
    "JOIN nation ON customer.c_nationkey = nation.n_nationkey "
    "WHERE o_totalprice > 50000 GROUP BY n_name"
)


_SQL_UNION_STMT = (
    "SELECT c_custkey AS id, c_name AS name FROM customer "
    "UNION ALL "
    "SELECT s_suppkey AS id, s_name AS name FROM supplier"
)


def q_delta_sql_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans import delta_of_sql

    return delta_of_sql(spark, sf_dir, _SQL_UNION_STMT)


_SQL_UNION_BODY = (
    "SELECT c_custkey AS id, c_name AS name FROM customer WHERE {c_src} "
    "UNION ALL "
    "SELECT s_suppkey AS id, s_name AS name FROM supplier WHERE {s_src}"
)
_SQL_UNION_ORACLE = _except_all(
    _SQL_UNION_BODY.format(c_src="TRUE", s_src="TRUE"),
    _SQL_UNION_BODY.format(
        c_src=f"NOT ({_P_CUSTOMER})", s_src=f"NOT ({_P_SUPPLIER})"
    ),
)


# -- Incremental AGGREGATE maintenance — beyond the reference ----------
#
# The reference declines aggregates (`_ => Ok(None)`, mod.rs:187). For
# decomposable aggregates (sum/count/min/max) over append-only inputs,
# the maintained state merges with the delta batch's partial aggregate:
#     agg(T ∪ ΔT) == merge(agg(T), agg(ΔT))
# Each maintainer below is one GROUP BY statement run through
# ``maintain_agg_of_sql`` (the engine's ``AggAlgebra`` partials of the
# old snapshot and of ΔT, unioned and combined — Catalyst plans both
# levels map-side) plus the query's output projection. At 100 TB the
# old aggregate is a tiny materialized table; only ΔT is scanned.

_AGG_STMT = (
    "SELECT o_orderpriority, sum(o_totalprice) AS total, "
    "count(*) AS n_orders, max(o_totalprice) AS max_price "
    "FROM orders GROUP BY o_orderpriority"
)


def q_delta_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return maintain_agg_of_sql(spark, sf_dir, _AGG_STMT).selectExpr(
        "o_orderpriority",
        "round(total, 2) AS total",
        "n_orders",
        "round(max_price, 2) AS max_price",
    )


# Oracle: the maintained aggregate must equal the full-table aggregate.
_AGG_ORACLE = """
SELECT o_orderpriority,
       round(sum(o_totalprice), 2) AS total,
       count(*) AS n_orders,
       round(max(o_totalprice), 2) AS max_price
FROM orders GROUP BY o_orderpriority
"""

_ROLLUP_STMT = (
    f"SELECT {_ROLLUP_BUCKET} AS bucket, event_type, "
    "count(*) AS n_events, sum(value) AS total_value "
    f"FROM events GROUP BY {_ROLLUP_BUCKET}, event_type"
)


def q_delta_rollup_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: an hourly events rollup
    maintained incrementally.

    The materialized rollup (old snapshot's partials) merges with the
    delta batch's partials — only ΔT is scanned per refresh, exactly
    how a time-series continuous aggregate stays fresh. Time-bucketed
    keys mean a delta touches only the buckets its rows fall in.
    """

    return maintain_agg_of_sql(spark, sf_dir, _ROLLUP_STMT).selectExpr(
        "bucket", "event_type", "n_events",
        "round(total_value, 2) AS total_value",
    )


_ROLLUP_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS bucket,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2
"""


# -- Δ(L ⋉ R) — semi-join rule (OUR extension; the reference refuses
# every non-inner join, mod.rs:126 + SURVEY §4.3). Sound because semi
# join is monotone on append-only inputs:
#   Δ(L ⋉ R) = (ΔL ⋉ (R ∪ ΔR)) ∪ ((L ▷ R) ⋉ ΔR)

_SEMI_IR = Projection(
    ["c_custkey", "c_name", "c_mktsegment", "round(c_acctbal, 2) AS bal"],
    Join(
        Scan("customer"),
        Filter("o_totalprice > 200000", Scan("orders")),
        on=[("c_custkey", "o_custkey")],
        join_type="semi",
    ),
)


def q_delta_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return compile_delta(_SEMI_IR, DeltaCatalog(spark, sf_dir))


_SEMI_BODY = (
    "SELECT c_custkey, c_name, c_mktsegment, round(c_acctbal, 2) AS bal "
    "FROM (SELECT * FROM customer WHERE {c_src}) c "
    "WHERE EXISTS (SELECT 1 FROM (SELECT * FROM orders WHERE {o_src}) o "
    "WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)"
)
_SEMI_ORACLE = _except_all(
    _SEMI_BODY.format(c_src="TRUE", o_src="TRUE"),
    _SEMI_BODY.format(c_src=f"NOT ({_P_CUSTOMER})", o_src=f"NOT ({_P_ORDERS})"),
)


# -- Incremental dedup-index maintenance (IVM x LLM pipeline) ----------
#
# The content-hash dedup index is a decomposable aggregate
# (count -> sum of counts, min -> min of mins), so it maintains from
# partials through ``maintain_agg_of_sql``, grouped by the hash
# expression: per refresh, ONLY the appended documents are normalized
# and hashed — at 100 TB the md5-over-text pass touches the delta
# batch, never the corpus.


def q_delta_dedup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text

    content_hash = f"md5({text.norm_text('text')})"
    return maintain_agg_of_sql(
        spark,
        sf_dir,
        f"SELECT {content_hash} AS content_hash, count(*) AS n_docs, "
        f"min(doc_id) AS keep_doc_id FROM documents GROUP BY {content_hash}",
    )


# Oracle: the maintained index must equal the full-corpus dedup.
_DEDUP_MAINT_ORACLE = r"""
SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash,
       count(*) AS n_docs,
       min(doc_id) AS keep_doc_id
FROM documents
GROUP BY 1
"""


# -- Incremental NDV maintenance via mergeable HLL sketches ------------
#
# COUNT(DISTINCT) is NOT decomposable from scalar partials, so
# q_delta_agg_maintenance can't maintain it. Carried as a DataSketches
# HLL partial it merges like a sum: sketch the delta batch, union with
# the stored per-group partial, re-estimate — per refresh the raw scan
# touches ΔT only, and the merge input is group-count × ~KB regardless
# of history size. Cross-engine HLL estimates can't be oracle-compared
# directly (different implementations), so the query emits the EXACT
# per-group NDV plus a boolean pinning the merged-sketch estimate
# inside its error bound — both deterministic, both hash-checked.

_NDV_REL_TOL = 0.02  # lgK=14 → ~0.8% RSE; 2% ≈ a 2.5-sigma gate


def q_delta_ndv_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..functions import sketches

    cat = DeltaCatalog(spark, sf_dir)
    merged = sketches.ndv_merge(
        sketches.ndv_partial(cat.snapshot("events"), ["event_type"], "user_id"),
        sketches.ndv_partial(cat.delta("events"), ["event_type"], "user_id"),
    )
    exact = (
        cat.full("events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("bigint").alias("ndv_exact"))
    )
    return exact.join(merged, "event_type").selectExpr(
        "event_type",
        "ndv_exact",
        f"CAST(abs(CAST(ndv AS DOUBLE) - CAST(ndv_exact AS DOUBLE)) "
        f"<= greatest(CAST(1.0 AS DOUBLE), "
        f"CAST({_NDV_REL_TOL} AS DOUBLE) * CAST(ndv_exact AS DOUBLE)) "
        f"AS BOOLEAN) AS sketch_ok",
    )


_NDV_MAINT_ORACLE = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS ndv_exact,
       TRUE AS sketch_ok
FROM events GROUP BY event_type
"""


# -- Incremental TOP-K maintenance -------------------------------------
#
# Top-k per group is decomposable over append-only inputs:
#     topk(T ∪ ΔT) == topk(topk(T) ∪ topk(ΔT))
# so the maintained state is k rows per group, and a refresh ranks
# (stored top-k) ∪ (delta batch's top-k) — the delta is scanned once,
# history never. Ties break on the key so both engines rank identically.

_TOPK_K = 3


def q_delta_topk_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    cat = DeltaCatalog(spark, sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )

    def topk(df: DataFrame) -> DataFrame:
        return (
            df.select("o_orderpriority", "o_orderkey", "o_totalprice")
            .withColumn("rk", F.row_number().over(w))
            .where(f"rk <= {_TOPK_K}")
            .drop("rk")
        )

    merged = topk(cat.snapshot("orders")).unionByName(topk(cat.delta("orders")))
    return (
        merged.withColumn("rk", F.row_number().over(w))
        .where(f"rk <= {_TOPK_K}")
        .selectExpr(
            "o_orderpriority",
            "o_orderkey",
            "round(o_totalprice, 2) AS price",
            "CAST(rk AS BIGINT) AS rk",
        )
    )


# -- Incremental HISTOGRAM maintenance ---------------------------------
#
# Fixed-bin histograms are the decomposable form of the quantile /
# distribution sketch: per-bin counts merge by addition, so the
# maintained state is (group, bin, n) and a refresh adds the delta
# batch's bin counts (``maintain_agg_of_sql`` over a GROUP BY on the
# bin expression) — the at-scale substrate for approximate
# percentiles, drift monitors, and range-pruning stats. Binning uses
# one double division + floor (identical IEEE on both engines), so
# unlike t-digest/KLL the merged state is exactly oracle-checkable.

# One bin definition for the histogram maintainers here and in
# signed_queries.py: their statements and oracles share these numbers.
HIST_BIN_WIDTH, HIST_MAX_BIN = 25.0, 19  # events.value ∈ [0, ~490]
HIST_BIN = (
    f"CAST(least({HIST_MAX_BIN}, greatest(0, "
    f"CAST(floor(value / CAST({HIST_BIN_WIDTH} AS DOUBLE)) AS INT))) AS INT)"
)


def q_delta_histogram_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return maintain_agg_of_sql(
        spark,
        sf_dir,
        f"SELECT event_type, {HIST_BIN} AS bin, count(*) AS n_events "
        f"FROM events GROUP BY event_type, {HIST_BIN}",
    )


# Oracle: the maintained histogram must equal the full-table histogram.
_HIST_MAINT_ORACLE = f"""
SELECT event_type,
       CAST(least({HIST_MAX_BIN}, greatest(0,
         CAST(floor(value / CAST({HIST_BIN_WIDTH} AS DOUBLE)) AS INT))) AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY 1, 2
"""


# Oracle: the maintained top-k must equal the full-table top-k.
_TOPK_MAINT_ORACLE = f"""
SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS price,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
) WHERE rk <= {_TOPK_K}
"""


def q_sql_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL time travel end to end: orders stored as a 2-version
    ``VersionedTable`` (v0 = base, v1 = the deterministic append
    split), then ONE statement — ``FROM orders VERSION AS OF 0 JOIN
    customer …`` — resolves the pinned side from version storage while
    the other side reads current, through the same parser/compiler
    every delta-SQL query uses. The oracle reproduces the pin as the
    v0 predicate, so a green row certifies parse → pinned Scan →
    catalog.versioned() → join. Delta Lake syntax parity
    (``VERSION AS OF``); the reference has no SQL/storage surface at
    all (its tests hand DataFusion in-memory registrations)."""
    from ..catalog import load_table
    from ..plans.sql_frontend import full_of_sql
    from ..sources.versioned import VersionedDeltaCatalog, VersionedTable
    from .signed_queries import _cagg_state_dir

    orders = load_table(spark, sf_dir, "orders")
    vt = VersionedTable(_cagg_state_dir())
    vt.write_version(orders.where(f"NOT ({_P_ORDERS})"))
    vt.write_version(orders.where(_P_ORDERS))
    # customer has no version log: the sf_dir fallback serves it static
    vcat = VersionedDeltaCatalog(
        spark, {"orders": vt}, {"orders": (0, 1)}, sf_dir=sf_dir
    )
    return full_of_sql(
        spark,
        sf_dir,
        "SELECT o.o_orderkey, c.c_custkey, c.c_mktsegment, "
        "round(o.o_totalprice, 2) AS total "
        "FROM orders VERSION AS OF 0 o "
        "JOIN customer c ON o.o_custkey = c.c_custkey "
        "WHERE o.o_totalprice > 200000",
        catalog=vcat,
    )


_SQL_TT_ORACLE = f"""
SELECT o_orderkey, c_custkey, c_mktsegment,
       round(o_totalprice, 2) AS total
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o_totalprice > 200000 AND NOT ({_P_ORDERS})
"""


def q_sql_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Delta DML statement end to end: the old orders snapshot is
    written as a file-backed target table, then ONE ``MERGE INTO``
    (conditional DELETE, UPDATE from source columns, INSERT *) applies
    a deterministic change set through ``plans/merge_sql.execute_merge``
    — clause routing is first-match-wins, multiple source matches per
    target row raise, and the write is staged-swap. The oracle
    reproduces the merge's net state relationally, so a green row
    certifies parse → clause routing → rewrite → swap. The reference
    has no DML surface at all."""
    from pyspark.sql import functions as F

    from ..catalog import load_table
    from ..plans.merge_sql import execute_merge
    from .signed_queries import _cagg_state_dir

    orders = load_table(spark, sf_dir, "orders")
    path = _cagg_state_dir()
    orders.where(f"NOT ({_P_ORDERS})").write.parquet(path)
    source = orders.where(f"({_P_ORDERS}) OR o_orderkey % 7 = 0")
    execute_merge(
        spark,
        """
        MERGE INTO orders t USING changes s ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED AND s.o_totalprice < 50000 THEN DELETE
        WHEN MATCHED THEN UPDATE SET o_orderpriority = s.o_orderpriority,
                                     o_totalprice = s.o_totalprice + 1
        WHEN NOT MATCHED THEN INSERT *
        """,
        path,
        source,
    )
    out = spark.read.parquet(path)
    return out.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("total"),
        "o_orderdate",
        "o_orderpriority",
    )


_SQL_MERGE_ORACLE = f"""
WITH target AS (
  SELECT * FROM orders WHERE NOT ({_P_ORDERS})
),
src AS (
  SELECT * FROM orders WHERE ({_P_ORDERS}) OR o_orderkey % 7 = 0
),
survivors AS (
  SELECT * FROM target
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
),
updated AS (
  SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus,
         s.o_totalprice + 1 AS o_totalprice, t.o_orderdate,
         s.o_orderpriority
  FROM target t JOIN src s USING (o_orderkey)
  WHERE NOT (s.o_totalprice < 50000)
),
ins AS (
  SELECT * FROM src
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM target)
),
merged AS (
  SELECT * FROM survivors
  UNION ALL SELECT * FROM updated
  UNION ALL SELECT * FROM ins
)
SELECT o_orderkey, o_custkey, o_orderstatus,
       round(o_totalprice, 2) AS total, o_orderdate, o_orderpriority
FROM merged
"""


def q_sql_mv_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view query rewrite (``plans/mv_rewrite.py``): a
    stored (status, priority) aggregate ANSWERS a status-level query
    with a priority filter — count/sum/min re-aggregated from
    partials, the base table never scanned (``inputFiles``-asserted
    in-line: every file the answer plan reads is an MV file). Two
    refusal cases are asserted in the same run — ``count(DISTINCT)``
    (not derivable from partials) and a filter over a NON-key column
    (would need base rows the MV collapsed) both return ``None``
    rather than a silently-wrong rewrite.

    At 100 TB this is the read-side payoff of the continuous-
    aggregate family: the maintained partials (stored by
    `operators/continuous_agg.py`'s lifecycle) serve any derivable
    query at MV cardinality — thousands of rows instead of the fact
    table — with exactness guaranteed by the conservative matcher.
    The oracle runs the USER query verbatim over the base table, so
    a green row certifies the rewrite algebra end to end."""
    import os

    from ..plans.mv_rewrite import MaterializedView
    from .signed_queries import _cagg_state_dir

    path = os.path.join(_cagg_state_dir(), "mv_orders_status_prio")
    mv = MaterializedView(
        "orders_by_status_prio",
        "SELECT o_orderstatus, o_orderpriority, count(*) AS cnt, "
        "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents, "
        "min(o_orderdate) AS first_dt "
        "FROM orders GROUP BY o_orderstatus, o_orderpriority",
        path,
    )
    mv.build(spark, sf_dir)
    out = mv.rewrite(
        spark,
        "SELECT o_orderstatus, count(*) AS n_orders, "
        "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents, "
        "min(o_orderdate) AS first_dt "
        "FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') "
        "GROUP BY o_orderstatus",
    )
    assert out is not None, "derivable query must rewrite"
    opened = out.inputFiles()
    assert opened and all("mv_orders_status_prio" in f for f in opened), (
        "MV answer plan read outside the MV store", opened
    )
    assert (
        mv.rewrite(
            spark,
            "SELECT o_orderstatus, count(DISTINCT o_custkey) AS u "
            "FROM orders GROUP BY o_orderstatus",
        )
        is None
    ), "count(DISTINCT) must refuse"
    assert (
        mv.rewrite(
            spark,
            "SELECT o_orderstatus, count(*) AS n FROM orders "
            "WHERE o_totalprice > 100 GROUP BY o_orderstatus",
        )
        is None
    ), "non-key filter must refuse"
    return out.selectExpr(
        "o_orderstatus",
        "n_orders",
        "cents",
        "date_format(first_dt, 'yyyy-MM-dd') AS first_day",
    )


_SQL_MV_REWRITE_ORACLE = """
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS cents,
       strftime(min(o_orderdate), '%Y-%m-%d') AS first_day
FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderstatus
"""


def q_sql_mv_rewrite_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-backed materialized-view rewrite: the MV stores the
    lineitem ⋈ orders aggregate at (o_orderpriority, l_returnflag)
    grain; a candidate over the SAME join fragment (normalized
    token-for-token — ``_fragment_parts``) with a key-only filter and
    coarser grouping is answered by re-aggregating the stored
    partials, with NEITHER base table scanned (inputFiles-asserted).

    At 100 TB this is the high-value MV case: the stored join is the
    expensive fact-to-fact shuffle; a matching query reads thousands
    of MV rows instead. Edges assert inline: a REVERSED join order
    still rewrites (inner equi-join chains canonicalize — r13 verdict
    item 6; both sides canonicalized by the same deterministic rule,
    never fuzzy-matched), a join on a DIFFERENT column refuses, and a
    non-key filter refuses (the MV collapsed those rows). The oracle
    runs the user query verbatim over the base tables, certifying the
    rewrite algebra end to end.
    """
    import os

    from ..plans.mv_rewrite import MaterializedView
    from .signed_queries import _cagg_state_dir

    path = os.path.join(_cagg_state_dir(), "mv_items_prio_flag")
    mv = MaterializedView(
        "items_by_prio_flag",
        "SELECT o_orderpriority, l_returnflag, count(*) AS cnt, "
        "sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS cents "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "GROUP BY o_orderpriority, l_returnflag",
        path,
    )
    mv.build(spark, sf_dir)
    out = mv.rewrite(
        spark,
        "SELECT l_returnflag, count(*) AS n_items, "
        "sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS cents "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') "
        "GROUP BY l_returnflag",
    )
    assert out is not None, "derivable join query must rewrite"
    opened = out.inputFiles()
    assert opened and all("mv_items_prio_flag" in f for f in opened), (
        "join-MV answer plan read outside the MV store", opened
    )
    assert (
        mv.rewrite(
            spark,
            "SELECT l_returnflag, count(*) AS n FROM orders "
            "JOIN lineitem ON l_orderkey = o_orderkey "
            "GROUP BY l_returnflag",
        )
        is not None
    ), "reversed inner equi-join order must canonicalize and serve"
    assert (
        mv.rewrite(
            spark,
            "SELECT l_returnflag, count(*) AS n FROM orders "
            "JOIN lineitem ON l_partkey = o_orderkey "
            "GROUP BY l_returnflag",
        )
        is None
    ), "a genuinely different join must refuse"
    assert (
        mv.rewrite(
            spark,
            "SELECT l_returnflag, count(*) AS n "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "WHERE l_quantity > 10 GROUP BY l_returnflag",
        )
        is None
    ), "non-key filter must refuse"
    return out


_SQL_MV_REWRITE_JOIN_ORACLE = """
SELECT l_returnflag, count(*) AS n_items,
       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY l_returnflag
"""


def q_sql_mv_rewrite_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED materialized-view rewrite — conjunctive predicate
    implication: the MV stores the finished-orders slice
    (``WHERE o_orderstatus = 'F'``) at o_orderpriority grain; a
    candidate whose WHERE carries the view's conjunct TOKEN-IDENTICALLY
    plus a key-only residual is served by filtering the stored rows
    with the residual and re-aggregating — base table never scanned
    (inputFiles-asserted). Candidates that do NOT imply the view
    refuse, asserted inline on the two sharp edges: the conjunct
    missing entirely, and the same conjunct with a different literal.
    The oracle runs the user query verbatim over the base table."""
    import os

    from ..plans.mv_rewrite import MaterializedView
    from .signed_queries import _cagg_state_dir

    path = os.path.join(_cagg_state_dir(), "mv_orders_finished_prio")
    mv = MaterializedView(
        "orders_finished_by_prio",
        "SELECT o_orderpriority, count(*) AS cnt, "
        "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents "
        "FROM orders WHERE o_orderstatus = 'F' "
        "GROUP BY o_orderpriority",
        path,
    )
    mv.build(spark, sf_dir)
    out = mv.rewrite(
        spark,
        "SELECT o_orderpriority, count(*) AS n_orders, "
        "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents "
        "FROM orders WHERE o_orderstatus = 'F' "
        "AND o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM') "
        "GROUP BY o_orderpriority",
    )
    assert out is not None, "implied filtered query must rewrite"
    opened = out.inputFiles()
    assert opened and all("mv_orders_finished_prio" in f for f in opened), (
        "filtered-MV answer plan read outside the MV store", opened
    )
    assert (
        mv.rewrite(
            spark,
            "SELECT o_orderpriority, count(*) AS n FROM orders "
            "GROUP BY o_orderpriority",
        )
        is None
    ), "candidate missing the view conjunct must refuse"
    assert (
        mv.rewrite(
            spark,
            "SELECT o_orderpriority, count(*) AS n FROM orders "
            "WHERE o_orderstatus = 'O' GROUP BY o_orderpriority",
        )
        is None
    ), "different literal must refuse"
    return out


_SQL_MV_REWRITE_FILTERED_ORACLE = """
SELECT o_orderpriority, count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS cents
FROM orders WHERE o_orderstatus = 'F'
  AND o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
GROUP BY o_orderpriority
"""


def q_sql_mv_rewrite_reordered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REORDERED/ALIASED materialized-view rewrite (r13 verdict item
    6): the MV stores a 3-table inner equi-join aggregate
    (customer ⋈ orders ⋈ nation at (n_name, o_orderpriority) grain);
    the candidate writes the SAME join in a different order, under
    table aliases, with the equality sides flipped — and is still
    served from the store, base tables never scanned
    (inputFiles-asserted). Matching is deterministic canonicalization
    (``_canonical_join_signature``: table-sorted, alias-erased,
    predicate-set-sorted), never fuzzy: a join on a DIFFERENT column
    and an extra unknown table both refuse, asserted inline.

    At 100 TB join-order insensitivity is what makes a join MV
    actually fire: ad-hoc queries and BI tools emit the same join in
    arbitrary order, and a token-exact matcher would fall back to the
    fact-to-fact shuffle every time."""
    import os

    from ..plans.mv_rewrite import MaterializedView
    from .signed_queries import _cagg_state_dir

    path = os.path.join(_cagg_state_dir(), "mv_nation_prio")
    mv = MaterializedView(
        "orders_by_nation_prio",
        "SELECT n_name, o_orderpriority, count(*) AS cnt, "
        "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "GROUP BY n_name, o_orderpriority",
        path,
    )
    mv.build(spark, sf_dir)
    out = mv.rewrite(
        spark,
        "SELECT n_name, count(*) AS n_orders, "
        "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents "
        "FROM nation n JOIN customer AS c ON n_nationkey = c_nationkey "
        "JOIN orders o ON o_custkey = c_custkey "
        "GROUP BY n_name",
    )
    assert out is not None, "reordered+aliased join must canonicalize"
    opened = out.inputFiles()
    assert opened and all("mv_nation_prio" in f for f in opened), (
        "reordered-MV answer plan read outside the MV store", opened
    )
    assert (
        mv.rewrite(
            spark,
            "SELECT n_name, count(*) AS n FROM nation "
            "JOIN customer ON n_nationkey = c_custkey "
            "JOIN orders ON o_custkey = c_custkey GROUP BY n_name",
        )
        is None
    ), "different ON column must refuse"
    assert (
        mv.rewrite(
            spark,
            "SELECT n_name, count(*) AS n FROM nation "
            "JOIN customer ON n_nationkey = c_nationkey "
            "JOIN orders ON o_custkey = c_custkey "
            "JOIN region ON r_regionkey = n_regionkey GROUP BY n_name",
        )
        is None
    ), "an extra table must refuse"
    return out


_SQL_MV_REWRITE_REORDERED_ORACLE = """
SELECT n_name, count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS cents
FROM nation JOIN customer ON n_nationkey = c_nationkey
JOIN orders ON o_custkey = c_custkey
GROUP BY n_name
"""


def q_sql_mv_rewrite_between(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BETWEEN-residual materialized-view rewrite — the regression
    surface for the r13 advice bug: the conjunct splitter is
    BETWEEN-aware (``k BETWEEN a AND b`` is ONE conjunct; its AND is
    never a split point), so a candidate carrying the view's conjunct
    plus a BETWEEN residual on the MV key is served by applying the
    residual to stored rows — base table never scanned
    (inputFiles-asserted). Two sharp edges assert inline: a BETWEEN
    over a NON-key column refuses (no token-fragment collision with
    the view conjunct), and a CASE-bearing WHERE refuses by returning
    None — ``rewrite`` never raises on valid SQL."""
    import os

    from ..plans.mv_rewrite import MaterializedView
    from .signed_queries import _cagg_state_dir

    path = os.path.join(_cagg_state_dir(), "mv_finished_prio_between")
    mv = MaterializedView(
        "finished_by_prio_between",
        "SELECT o_orderpriority, count(*) AS cnt, "
        "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents, "
        "count(o_totalprice) AS c_price "
        "FROM orders WHERE o_orderstatus = 'F' "
        "GROUP BY o_orderpriority",
        path,
    )
    mv.build(spark, sf_dir)
    out = mv.rewrite(
        spark,
        "SELECT o_orderpriority, count(*) AS n_orders, "
        "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents "
        "FROM orders WHERE o_orderstatus = 'F' "
        "AND o_orderpriority BETWEEN '1-URGENT' AND '3-MEDIUM' "
        "GROUP BY o_orderpriority",
    )
    assert out is not None, "BETWEEN residual on the MV key must serve"
    opened = out.inputFiles()
    assert opened and all(
        "mv_finished_prio_between" in f for f in opened
    ), ("BETWEEN-MV answer plan read outside the MV store", opened)
    assert (
        mv.rewrite(
            spark,
            "SELECT o_orderpriority, count(*) AS n FROM orders "
            "WHERE o_totalprice BETWEEN 100 AND 200 "
            "AND o_orderstatus = 'F' GROUP BY o_orderpriority",
        )
        is None
    ), "BETWEEN over a non-key column must refuse"
    assert (
        mv.rewrite(
            spark,
            "SELECT o_orderpriority, count(*) AS n FROM orders "
            "WHERE CASE WHEN o_orderstatus = 'F' AND o_orderkey > 0 "
            "THEN 1 ELSE 0 END = 1 GROUP BY o_orderpriority",
        )
        is None
    ), "CASE-bearing WHERE must refuse without raising"
    return out


_SQL_MV_REWRITE_BETWEEN_ORACLE = """
SELECT o_orderpriority, count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS cents
FROM orders WHERE o_orderstatus = 'F'
  AND o_orderpriority BETWEEN '1-URGENT' AND '3-MEDIUM'
GROUP BY o_orderpriority
"""


def q_sql_mv_rewrite_maintained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The continuous-aggregate family's read-side payoff WIRED UP
    end to end: the MV store is a ``ContinuousAggregate`` state
    initialized from the OLD orders state and REFRESHED under the
    signed CDC batch (inserts, deletes, and updates — never rebuilt);
    its finals export to the MV path and the matcher answers a
    coarser, key-filtered query from the MAINTAINED store with the
    base table never scanned (inputFiles-asserted). The oracle runs
    the user query over the POST-CHANGE orders state, so a green row
    certifies maintenance ∘ rewrite as one composition — exactly what
    a warehouse serves at 100 TB: incremental upkeep pays the write,
    derivability matching pays every read."""
    import os

    from ..plans.mv_rewrite import MaterializedView
    from ..plans.signed import SignedDeltaCatalog
    from .continuous_agg import ContinuousAggregate
    from .signed_queries import _cagg_state_dir

    defn = (
        "SELECT o_orderstatus, o_orderpriority, count(*) AS cnt, "
        "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents "
        "FROM orders GROUP BY o_orderstatus, o_orderpriority"
    )
    state = os.path.join(_cagg_state_dir(), "cagg_mv_state")
    store = os.path.join(_cagg_state_dir(), "mv_maintained_store")
    cat = SignedDeltaCatalog(spark, sf_dir)
    view = ContinuousAggregate(spark, state, defn)
    view.initialize(cat.old("orders"))
    view.refresh_signed(cat.signed_changes("orders"))
    view.read().write.mode("overwrite").parquet(store)
    # matcher over the maintained store — build() is deliberately NOT
    # called: the store's content came from the refresh path
    mv = MaterializedView("orders_maintained", defn, store)
    out = mv.rewrite(
        spark,
        "SELECT o_orderstatus, count(*) AS n_orders, "
        "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents "
        "FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') "
        "GROUP BY o_orderstatus",
    )
    assert out is not None, "derivable query must rewrite"
    opened = out.inputFiles()
    assert opened and all("mv_maintained_store" in f for f in opened), (
        "maintained-MV answer plan read outside the store", opened
    )
    return out


def _mv_maintained_oracle() -> str:
    # lazy import: signed_queries itself imports from this package
    from .signed_queries import _new_sql

    return f"""
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS cents
FROM ({_new_sql("orders")})
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderstatus
"""


def q_sql_merge_into_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned MERGE INTO: the target is directory-partitioned
    by ``o_orderstatus`` and the change batch only carries status-'F'
    rows, so ``execute_merge(partition_cols=["o_orderstatus"])``
    rewrites exactly the F directory through the partition-level
    commit partitioned maintained state uses
    (``sinks.overwrite_touched_partitions``). The query
    AUDITS the claim in-line — every file of the untouched status
    directories is hashed before and after the merge and any byte
    difference raises — then returns the merged state for the oracle's
    relational replay. At 100 TB this is the difference between
    rewriting one date's directory and copying the table: write
    amplification O(touched partitions), not O(table)."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from ..catalog import load_table
    from ..plans.merge_sql import execute_merge
    from .signed_queries import _cagg_state_dir

    orders = load_table(spark, sf_dir, "orders")
    path = _cagg_state_dir()
    orders.where(f"NOT ({_P_ORDERS})").write.partitionBy(
        "o_orderstatus"
    ).parquet(path)
    source = orders.where(
        f"(({_P_ORDERS}) OR o_orderkey % 7 = 0) AND o_orderstatus = 'F'"
    )

    def _untouched_bytes() -> dict[str, str]:
        out = {}
        for root, _dirs, files in os.walk(path):
            rel = os.path.relpath(root, path)
            if rel.startswith("o_orderstatus=F"):
                continue
            for f in files:
                p = os.path.join(root, f)
                h = hashlib.sha256(open(p, "rb").read()).hexdigest()
                out[os.path.join(rel, f)] = h
        return out

    before = _untouched_bytes()
    execute_merge(
        spark,
        """
        MERGE INTO orders t USING changes s ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED AND s.o_totalprice < 50000 THEN DELETE
        WHEN MATCHED THEN UPDATE SET o_orderpriority = s.o_orderpriority,
                                     o_totalprice = s.o_totalprice + 1
        WHEN NOT MATCHED THEN INSERT *
        """,
        path,
        source,
        partition_cols=["o_orderstatus"],
    )
    after = _untouched_bytes()
    if before != after:
        raise RuntimeError(
            "pruned MERGE rewrote an untouched partition directory"
        )
    out = spark.read.parquet(path)
    return out.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
        F.round("o_totalprice", 2).alias("total"),
        "o_orderdate",
        "o_orderpriority",
    )


_SQL_MERGE_PRUNED_ORACLE = f"""
WITH target AS (
  SELECT * FROM orders WHERE NOT ({_P_ORDERS})
),
src AS (
  SELECT * FROM orders
  WHERE (({_P_ORDERS}) OR o_orderkey % 7 = 0) AND o_orderstatus = 'F'
),
survivors AS (
  SELECT * FROM target
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
),
updated AS (
  SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus,
         s.o_totalprice + 1 AS o_totalprice, t.o_orderdate,
         s.o_orderpriority
  FROM target t JOIN src s USING (o_orderkey)
  WHERE NOT (s.o_totalprice < 50000)
),
ins AS (
  SELECT * FROM src
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM target)
),
merged AS (
  SELECT * FROM survivors
  UNION ALL SELECT * FROM updated
  UNION ALL SELECT * FROM ins
)
SELECT o_orderkey, o_custkey, o_orderstatus,
       round(o_totalprice, 2) AS total, o_orderdate, o_orderpriority
FROM merged
"""


def q_sql_dml_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rest of the DML family in one lifecycle: DELETE FROM …
    WHERE (staged rewrite; WHERE-less truncation refused), UPDATE …
    SET … WHERE (every assignment reads the PRE-update row), and
    INSERT INTO … SELECT (the SELECT runs through the same query
    frontend as every read, and the rows APPEND — existing files'
    bytes untouched, proven in tests/test_merge_sql.py). The oracle
    replays the three statements relationally over the same inputs."""
    from pyspark.sql import functions as F

    from ..catalog import load_table
    from ..plans.merge_sql import (
        execute_delete,
        execute_insert_into,
        execute_update,
    )
    from .signed_queries import _cagg_state_dir

    orders = load_table(spark, sf_dir, "orders")
    path = _cagg_state_dir()
    orders.where(f"NOT ({_P_ORDERS})").write.parquet(path)
    execute_delete(
        spark, "DELETE FROM orders WHERE o_totalprice < 10000", path
    )
    execute_update(
        spark,
        "UPDATE orders SET o_orderpriority = '1-URGENT' "
        "WHERE o_totalprice > 400000",
        path,
    )
    execute_insert_into(
        spark,
        f"INSERT INTO orders SELECT * FROM orders WHERE {_P_ORDERS}",
        path,
        DeltaCatalog(spark, sf_dir),
    )
    return spark.read.parquet(path).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("total"),
        "o_orderdate",
        "o_orderpriority",
    )


_SQL_DML_ORACLE = f"""
WITH t0 AS (
  SELECT * FROM orders WHERE NOT ({_P_ORDERS})
),
t1 AS (
  SELECT * FROM t0 WHERE NOT (o_totalprice < 10000)
),
t2 AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         CASE WHEN o_totalprice > 400000 THEN '1-URGENT'
              ELSE o_orderpriority END AS o_orderpriority
  FROM t1
),
merged AS (
  SELECT * FROM t2
  UNION ALL SELECT * FROM orders WHERE ({_P_ORDERS})
)
SELECT o_orderkey, o_custkey, o_orderstatus,
       round(o_totalprice, 2) AS total, o_orderdate, o_orderpriority
FROM merged
"""


def q_dml_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same DELETE + UPDATE as ``sql_dml_lifecycle``, executed
    MERGE-ON-READ against the stored CDF log: each statement commits
    only tombstones / image pairs as a new version — zero data files
    rewritten (asserted inline by mtime+size snapshot; at 100 TB this
    is the deletion-vector economics, vs copy-on-write's rewrite of
    every touched file) — and the snapshot folds them. Oracle: the
    same transforms replayed relationally. Together with
    ``sql_dml_lifecycle`` this pins BOTH industry DML strategies over
    one storage layer."""
    import os

    from pyspark.sql import functions as F

    from ..catalog import load_table
    from ..sources.versioned import CdfVersionedTable
    from .signed_queries import _cagg_state_dir

    orders = load_table(spark, sf_dir, "orders")
    t = CdfVersionedTable(_cagg_state_dir())
    t.write_version(
        orders.where(f"NOT ({_P_ORDERS})").withColumn(
            "_change_type", F.lit("insert")
        )
    )

    def file_state():
        out = {}
        for d in sorted(os.listdir(t.root)):
            full = os.path.join(t.root, d)
            if os.path.isdir(full):
                for f in sorted(os.listdir(full)):
                    p = os.path.join(full, f)
                    out[f"{d}/{f}"] = (
                        os.path.getmtime(p),
                        os.path.getsize(p),
                    )
        return out

    before = file_state()
    t.delete_where(spark, "o_totalprice < 10000")
    t.update_where(
        spark, {"o_orderpriority": "'1-URGENT'"}, "o_totalprice > 400000"
    )
    after = file_state()
    assert all(after[f] == m for f, m in before.items()), (
        "merge-on-read DML rewrote an existing file"
    )
    return t.snapshot(spark).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("total"),
        "o_orderdate",
        "o_orderpriority",
    )


_MOR_DML_ORACLE = f"""
WITH t0 AS (
  SELECT * FROM orders WHERE NOT ({_P_ORDERS})
),
t1 AS (
  SELECT * FROM t0 WHERE NOT (o_totalprice < 10000)
)
SELECT o_orderkey, o_custkey, o_orderstatus,
       round(o_totalprice, 2) AS total, o_orderdate,
       CASE WHEN o_totalprice > 400000 THEN '1-URGENT'
            ELSE o_orderpriority END AS o_orderpriority
FROM t1
"""


def q_sql_optimize_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Delta table-maintenance statement end to end: lineitem's
    join keys written as 16 shuffled small files (every file spans
    ~the full key domain — the layout a month of micro-batch appends
    leaves behind), then ONE ``OPTIMIZE li ZORDER BY (l_partkey,
    l_suppkey)`` through ``plans/merge_sql.execute_optimize`` —
    byte-sized file count, z-curve clustering via
    ``layout.zorder_write``, staged-swap. Compaction (files_after <
    files_before) is asserted inline; the returned box aggregate over
    the REWRITTEN table must equal the oracle's over the raw table, so
    a green row certifies the rewrite moved every row and lost none.
    Integer-only box cuts (span*45//100) keep both engines identical.
    At 100 TB this is the nightly maintenance job, run per partition
    directory."""
    import os

    from pyspark.sql import functions as F

    from ..catalog import load_table
    from ..plans.merge_sql import execute_optimize
    from .signed_queries import _cagg_state_dir

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    root = _cagg_state_dir()
    path = os.path.join(root, "li")
    li.repartition(16).write.parquet(path)
    stats = execute_optimize(
        spark,
        "OPTIMIZE li ZORDER BY (l_partkey, l_suppkey)",
        path,
        target_file_bytes=1 << 20,
    )
    assert stats["files_after"] <= stats["files_before"], stats
    assert stats["zorder"] == ["l_partkey", "l_suppkey"], stats

    opt = spark.read.parquet(path)
    st = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey"),
    ).collect()[0]
    box = {}
    for c, (mn, mx) in (
        ("l_partkey", (st[0], st[1])),
        ("l_suppkey", (st[2], st[3])),
    ):
        span = mx - mn
        box[c] = (mn + span * 45 // 100, mn + span * 55 // 100)
    pred = " AND ".join(
        f"{c} BETWEEN {lo} AND {hi}" for c, (lo, hi) in box.items()
    )
    return opt.where(pred).groupBy(
        (F.col("l_partkey") % 8).alias("g")
    ).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"),
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"),
    )


_SQL_OPTIMIZE_ORACLE = """
WITH s AS (
  SELECT min(l_partkey) AS mn1, max(l_partkey) AS mx1,
         min(l_suppkey) AS mn2, max(l_suppkey) AS mx2
  FROM lineitem
)
SELECT l_partkey % 8 AS g,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM lineitem, s
WHERE l_partkey BETWEEN mn1 + (mx1 - mn1) * 45 // 100
                    AND mn1 + (mx1 - mn1) * 55 // 100
  AND l_suppkey BETWEEN mn2 + (mx2 - mn2) * 45 // 100
                    AND mn2 + (mx2 - mn2) * 55 // 100
GROUP BY 1
"""


def q_sql_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta's write-contract surface end to end: orders' base split
    lands in a ``ConstrainedTable`` under ``CHECK (o_totalprice > 0)``
    + ``NOT NULL o_orderkey`` (both via the ALTER TABLE DDL), then the
    lifecycle exercises every enforcement edge INLINE: an ADD
    CONSTRAINT history already violates is refused, a batch with a
    negative price is refused atomically (nothing lands), and the
    valid delta batch appends. Validation is one aggregation pass per
    write — the driver sees one counter row, never data. The oracle
    aggregates full orders: green ⇔ the two valid appends landed and
    ONLY those. The reference has no write path at all."""
    from pyspark.sql import functions as F

    from ..catalog import load_table
    from ..sources.constraints import (
        ConstrainedTable,
        ConstraintViolation,
        execute_alter_constraint,
    )
    from .signed_queries import _cagg_state_dir

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    path = _cagg_state_dir() + "/orders_ct"
    t = ConstrainedTable(spark, path)
    t.append(orders.where(f"NOT ({_P_ORDERS})"))
    execute_alter_constraint(
        spark,
        "ALTER TABLE orders_ct ADD CONSTRAINT price_pos "
        "CHECK (o_totalprice > 0)",
        path,
    )
    execute_alter_constraint(
        spark,
        "ALTER TABLE orders_ct ALTER COLUMN o_orderkey SET NOT NULL",
        path,
    )
    # history-violating constraint refused
    try:
        execute_alter_constraint(
            spark,
            "ALTER TABLE orders_ct ADD CONSTRAINT too_strict "
            "CHECK (o_totalprice > 1000000)",
            path,
        )
        raise AssertionError("history-violating constraint accepted")
    except ConstraintViolation:
        pass
    # violating batch refused atomically (reopened handle = sidecar)
    t2 = ConstrainedTable(spark, path)
    bad = orders.where(_P_ORDERS).withColumn(
        "o_totalprice", F.col("o_totalprice") - F.lit(10_000_000.0)
    )
    try:
        t2.append(bad)
        raise AssertionError("violating batch accepted")
    except ConstraintViolation:
        pass
    t2.append(orders.where(_P_ORDERS))
    return (
        t2.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


_SQL_CONSTRAINTS_ORACLE = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY o_orderpriority
"""


def q_cdf_describe_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DESCRIBE HISTORY`` over the CDF substrate: a 4-commit life
    (base insert, delta insert, merge-on-read DELETE, merge-on-read
    UPDATE) checkpointed at v1, then audited — one row per commit
    with per-change-type counts, checkpoint coverage, and the vacuum
    horizon. Every count is deterministic from the mod-class splits,
    so the oracle reproduces the ENTIRE audit table relationally: a
    green row certifies the history log itself, not just table state.
    The audit is one count-aggregation per commit dir; the driver
    receives |versions| rows."""
    from pyspark.sql import functions as F

    from ..catalog import load_table
    from ..sources.versioned import CdfVersionedTable
    from .signed_queries import _cagg_state_dir

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    vt = CdfVersionedTable(_cagg_state_dir())
    vt.write_version(
        orders.where(f"NOT ({_P_ORDERS})").withColumn(
            "_change_type", F.lit("insert")
        )
    )
    vt.write_version(
        orders.where(_P_ORDERS).withColumn("_change_type", F.lit("insert"))
    )
    vt.checkpoint(spark, 1)
    vt.delete_where(spark, "o_orderkey % 20 = 5")
    vt.update_where(
        spark,
        {"o_totalprice": "o_totalprice + 1"},
        "o_orderkey % 20 = 10",
    )
    return vt.describe_history(spark)


_CDF_HISTORY_ORACLE = f"""
SELECT CAST(0 AS BIGINT) AS version,
       CAST((SELECT count(*) FROM orders WHERE NOT ({_P_ORDERS}))
            AS BIGINT) AS n_insert,
       CAST(0 AS BIGINT) AS n_delete, CAST(0 AS BIGINT) AS n_update,
       false AS is_checkpoint, CAST(NULL AS BIGINT) AS vacuum_horizon
UNION ALL
SELECT 1, CAST((SELECT count(*) FROM orders WHERE {_P_ORDERS})
               AS BIGINT), 0, 0, true, NULL
UNION ALL
SELECT 2, 0,
       CAST((SELECT count(*) FROM orders WHERE o_orderkey % 20 = 5)
            AS BIGINT), 0, false, NULL
UNION ALL
SELECT 3, 0, 0,
       CAST((SELECT count(*) FROM orders WHERE o_orderkey % 20 = 10)
            AS BIGINT),
       false, NULL
"""


def snapshot_diff(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Anti-entropy table reconciliation: classify every key as
    added / removed / changed / unchanged between two table states.

    ONE full-outer join on the key — the irreducible cost of comparing
    two tables that don't share a change log — with everything else
    map-side: each side's rows collapse to a single fingerprint string
    (md5 over the compare columns, computed inside whole-stage
    codegen) before the join, so the shuffle carries keys + 32-char
    digests + the carried value columns, never the full row width.
    At 100 TB both sides would be bucketed on the key
    (join_bucketed_colocated) and the join plans exchange-free; skew
    is bounded because keys are unique per side.

    The fingerprint renders columns with Spark's ``cast(string)`` —
    both inputs are Spark frames so rendering is self-consistent; the
    correctness oracle classifies relationally, which also certifies
    the fingerprint produces no false positives/negatives on the
    fixture. Returns one row per non-identical key plus the
    ``unchanged`` population, with per-side values carried for
    downstream repair."""
    null_mark = F.lit("\x00")

    def fp(df: DataFrame, tag: str) -> DataFrame:
        parts = [
            F.coalesce(F.col(c).cast("string"), null_mark)
            for c in compare_cols
        ]
        cols = [F.col(k).alias(f"{tag}_{k}") for k in keys] + [
            F.md5(F.concat_ws("\x1f", *parts)).alias(f"{tag}_fp")
        ] + [F.col(c).alias(f"{tag}_{c}") for c in compare_cols]
        return df.select(*cols)

    lt = fp(left, "l")
    rt = fp(right, "r")
    cond = None
    for k in keys:
        c = F.col(f"l_{k}") == F.col(f"r_{k}")
        cond = c if cond is None else cond & c
    # shuffle_hash: both sides are already collapsed to key + digest
    # rows, so per-partition hash build is small and the full-outer
    # sort-merge's two corpus sorts are pure overhead (measured 0.71×
    # under the global preferSortMergeJoin experiment — r17, guide
    # §3.1; opted in per join, planner default stays sort-merge).
    j = lt.join(rt.hint("shuffle_hash"), cond, "full_outer")
    change = (
        F.when(F.col(f"l_{keys[0]}").isNull(), F.lit("added"))
        .when(F.col(f"r_{keys[0]}").isNull(), F.lit("removed"))
        .when(F.col("l_fp") != F.col("r_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    key_out = [
        F.coalesce(F.col(f"r_{k}"), F.col(f"l_{k}")).alias(k) for k in keys
    ]
    return j.select(
        change.alias("change_type"),
        *key_out,
        *[F.col(f"l_{c}").alias(f"from_{c}") for c in compare_cols],
        *[F.col(f"r_{c}").alias(f"to_{c}") for c in compare_cols],
    )


def q_version_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``snapshot_diff`` between two versions of a ``CdfVersionedTable``
    living a 4-commit life (base insert → DELETE → UPDATE → new-key
    insert): snapshot(0) vs snapshot(latest), classified per key and
    summarized per change_type with key checksums and the net cents
    drift. Every mod-class is deterministic, so the oracle reproduces
    the whole summary relationally — a green row certifies the
    storage fold AND the diff classification (the ``unchanged`` row
    doubles as a no-false-positive proof for the fingerprint).
    Reconciliation shape: Delta's CDF gives you changes WITHIN one
    log; snapshot_diff reconciles states that DON'T share a log
    (backfill audits, cross-region copies, engine migrations)."""
    from ..catalog import load_table
    from ..sources.versioned import CdfVersionedTable
    from .signed_queries import _cagg_state_dir

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    vt = CdfVersionedTable(_cagg_state_dir())
    vt.write_version(orders.withColumn("_change_type", F.lit("insert")))
    vt.delete_where(spark, "o_orderkey % 20 = 5")
    vt.update_where(
        spark, {"o_totalprice": "o_totalprice + 10"}, "o_orderkey % 20 = 10"
    )
    vt.write_version(
        orders.where("o_orderkey % 20 = 7")
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10000000))
        .withColumn("_change_type", F.lit("insert"))
    )
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    old = vt.snapshot(spark, 0).withColumn("cents", cents)
    new = vt.snapshot(spark).withColumn("cents", cents)
    d = snapshot_diff(
        old,
        new,
        keys=["o_orderkey"],
        compare_cols=["o_custkey", "o_orderstatus", "cents"],
    )
    return d.groupBy("change_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
        F.sum(
            F.coalesce(F.col("to_cents"), F.lit(0))
            - F.coalesce(F.col("from_cents"), F.lit(0))
        )
        .cast("bigint")
        .alias("cents_delta"),
    )


_VERSION_DIFF_ORACLE = """
WITH c AS (
  SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(floor((o_totalprice + 10) * 100 + 0.5) AS BIGINT) AS cents_upd
  FROM orders
)
SELECT 'added' AS change_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey + 10000000) AS BIGINT) AS key_checksum,
       CAST(sum(cents) AS BIGINT) AS cents_delta
FROM c WHERE o_orderkey % 20 = 7
UNION ALL
SELECT 'removed', CAST(count(*) AS BIGINT),
       CAST(sum(o_orderkey) AS BIGINT),
       CAST(-sum(cents) AS BIGINT)
FROM c WHERE o_orderkey % 20 = 5
UNION ALL
SELECT 'changed', CAST(count(*) AS BIGINT),
       CAST(sum(o_orderkey) AS BIGINT),
       CAST(sum(cents_upd - cents) AS BIGINT)
FROM c WHERE o_orderkey % 20 = 10
UNION ALL
SELECT 'unchanged', CAST(count(*) AS BIGINT),
       CAST(sum(o_orderkey) AS BIGINT), CAST(0 AS BIGINT)
FROM c WHERE o_orderkey % 20 NOT IN (5, 10)
"""


def q_sql_restore_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``RESTORE TABLE … TO VERSION AS OF 0`` over the same 4-commit
    drift the diff query uses (base insert → DELETE → UPDATE →
    new-key insert): the statement parses through
    ``run_restore_sql``, the repair lands as commit 4 (history GROWS —
    asserted inline; Delta's restore never erases versions, so time
    travel to the drifted state still works), and the returned frame
    summarizes the POST-RESTORE state. The oracle is the v0
    definition — plain orders — so a green row certifies the repair
    reverted the delete, the update (postimages removed, preimages
    back), and the insert, byte-for-byte at summary granularity."""
    from ..catalog import load_table
    from ..plans.sql_extensions import run_restore_sql
    from ..sources.versioned import CdfVersionedTable
    from .signed_queries import _cagg_state_dir

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    vt = CdfVersionedTable(_cagg_state_dir())
    vt.write_version(orders.withColumn("_change_type", F.lit("insert")))
    vt.delete_where(spark, "o_orderkey % 20 = 5")
    vt.update_where(
        spark, {"o_totalprice": "o_totalprice + 10"}, "o_orderkey % 20 = 10"
    )
    vt.write_version(
        orders.where("o_orderkey % 20 = 7")
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10000000))
        .withColumn("_change_type", F.lit("insert"))
    )
    metrics = run_restore_sql(
        spark, "RESTORE TABLE orders_v TO VERSION AS OF 0", {"orders_v": vt}
    ).collect()[0]
    assert metrics["commit_version"] == 4, metrics
    assert vt.versions()[-1] == 4  # history grew; nothing erased
    return (
        vt.snapshot(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("cents"),
        )
    )


def q_sql_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``MERGE WITH SCHEMA EVOLUTION INTO`` — Delta 3.2's automatic
    schema widening: the source batch carries a column the target has
    never seen (``o_channel``); the merge WIDENS the target schema,
    existing/survivor rows read NULL, matched rows take the update,
    new rows insert with the column populated. The evolved merge
    always runs the whole-table staged swap (a pruned rewrite would
    strand untouched directories on the old schema — raised loudly).
    The oracle reproduces the widened net state relationally."""
    from ..catalog import load_table
    from ..plans.merge_sql import execute_merge
    from .signed_queries import _cagg_state_dir

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = _cagg_state_dir()
    orders.write.parquet(path)
    matched_src = orders.where("o_orderkey % 10 = 3").select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + 5).alias("o_totalprice"),
        F.lit("web").alias("o_channel"),
    )
    new_src = orders.where("o_orderkey % 10 = 4").select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
        F.lit("api").alias("o_channel"),
    )
    execute_merge(
        spark,
        """
        MERGE WITH SCHEMA EVOLUTION INTO tgt t USING src s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice,
                                     o_channel = s.o_channel
        WHEN NOT MATCHED THEN INSERT *
        """,
        path,
        matched_src.unionByName(new_src),
    )
    out = spark.read.parquet(path)
    assert "o_channel" in out.columns  # the schema actually widened
    return out.groupBy("o_channel").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    )


_SQL_MERGE_EVOLUTION_ORACLE = """
WITH merged AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 5
              ELSE o_totalprice END AS o_totalprice,
         CASE WHEN o_orderkey % 10 = 3 THEN 'web' END AS o_channel
  FROM orders
  UNION ALL
  SELECT o_orderkey + 10000000, o_totalprice, 'api'
  FROM orders WHERE o_orderkey % 10 = 4
)
SELECT o_channel,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents
FROM merged GROUP BY o_channel
"""


def q_sql_insert_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``INSERT OVERWRITE t PARTITION (o_orderpriority = '1-URGENT')
    SELECT …`` — the nightly partition-reload statement: exactly one
    partition directory is replaced by the SELECT's rows (here the
    even-keyed half of the segment), every other directory proven
    BYTE-IDENTICAL by hashing its files before and after (the same
    audit discipline as the pruned MERGE). At 100 TB this is the
    batch-reload workhorse: write amplification = one partition, not
    the table. The oracle reproduces the net state relationally."""
    import hashlib
    import os

    from ..catalog import load_table
    from ..plans.merge_sql import execute_insert_overwrite
    from .signed_queries import _cagg_state_dir

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    path = _cagg_state_dir()
    orders.write.partitionBy("o_orderpriority").parquet(path)

    def untouched_bytes() -> dict[str, str]:
        state = {}
        for root, _, names in os.walk(path):
            if "o_orderpriority=1-URGENT" in root:
                continue
            for n in names:
                if n.endswith(".parquet"):
                    fp = os.path.join(root, n)
                    with open(fp, "rb") as fh:
                        state[fp] = hashlib.md5(fh.read()).hexdigest()
        return state

    before = untouched_bytes()
    execute_insert_overwrite(
        spark,
        "INSERT OVERWRITE orders PARTITION (o_orderpriority = '1-URGENT') "
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        "WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 2 = 0",
        path,
        DeltaCatalog(spark, sf_dir),
        partition_cols=["o_orderpriority"],
    )
    assert untouched_bytes() == before, "untouched partitions were rewritten"
    return (
        spark.read.parquet(path)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("cents"),
        )
    )


_SQL_INSERT_OVERWRITE_ORACLE = """
WITH net AS (
  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
  WHERE o_orderpriority != '1-URGENT'
  UNION ALL
  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
  WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 2 = 0
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents
FROM net GROUP BY o_orderpriority
"""


_SQL_RESTORE_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders GROUP BY o_orderstatus
"""


def q_sql_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``CREATE TABLE c SHALLOW CLONE s VERSION AS OF n`` — Delta's
    zero-copy fork — then INDEPENDENT divergence on both sides:

    source history: v0 full insert → v1 DELETE (o_orderkey%20=5) →
    [clone point] → v2 source-only UPDATE (+10 on %20=10).
    clone history: inherits v0-v1 by REFERENCE (the clone root holds
    only the JSON manifest — zero parquet copied, asserted inline;
    inherited reads resolve to the source's commit dirs, asserted via
    inputFiles), then commits its own v2 insert (+20000000 keys).

    The returned frame summarizes the CLONE's head state, so a green
    row certifies: the clone sees v0+v1 (delete applied), does NOT see
    the source's post-clone update, and DOES see its own insert —
    while the inline asserts certify the source is untouched by the
    clone's commit. Emulates delta-io SHALLOW CLONE semantics
    (delta-spark docs; the reference's PosDeltaScan assumes exactly
    this kind of versioned substrate, delta_node.rs:63-109)."""
    import os

    from ..catalog import load_table
    from ..plans.sql_extensions import run_shallow_clone_sql
    from ..sources.versioned import CdfVersionedTable
    from .signed_queries import _cagg_state_dir

    ws = _cagg_state_dir()
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    src = CdfVersionedTable(os.path.join(ws, "orders_v"))
    src.write_version(orders.withColumn("_change_type", F.lit("insert")))
    src.delete_where(spark, "o_orderkey % 20 = 5")

    tables = {"orders_v": src}
    metrics = run_shallow_clone_sql(
        spark,
        "CREATE TABLE orders_clone SHALLOW CLONE orders_v "
        "VERSION AS OF 1",
        tables,
        ws,
    ).collect()[0]
    assert metrics["copied_files_count"] == 0, metrics
    clone = tables["orders_clone"]
    # zero-copy: the clone root holds ONLY the manifest — no parquet
    clone_files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(clone.root)
        for f in fs
    ]
    assert all(not f.endswith(".parquet") for f in clone_files), clone_files
    # inherited reads resolve to the SOURCE's commit dirs
    inherited = {
        f for f in clone.snapshot(spark, 1).inputFiles() if "orders_v" in f
    }
    assert inherited, "clone snapshot read no source files"

    # diverge BOTH sides
    src.update_where(
        spark, {"o_totalprice": "o_totalprice + 10"}, "o_orderkey % 20 = 10"
    )
    src_before = src.snapshot(spark).count()
    clone.write_version(
        orders.where("o_orderkey % 20 = 7")
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(20000000))
        .withColumn("_change_type", F.lit("insert"))
    )
    # the clone's commit landed under the clone root, not the source
    assert src.versions() == [0, 1, 2], src.versions()
    assert src.snapshot(spark).count() == src_before
    assert clone.versions() == [0, 1, 2]  # v0-v1 inherited, v2 local

    return (
        clone.snapshot(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("cents"),
        )
    )


def q_sql_copy_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``COPY INTO`` — Delta's idempotent exactly-once file ingest —
    exercised through its whole contract in one lifecycle:

    1. Stage orders (o_orderkey % 4 != 3) as 4 parquet files; COPY
       INTO loads all 4 (asserted via the metrics frame).
    2. Stage 2 MORE files (the %4 = 3 slice split in two); a second
       COPY INTO loads ONLY those 2 — the first 4 are in the ledger.
    3. A third COPY INTO is a no-op: files_loaded = 0, no new commit
       (CRASH-AND-RERUN SAFETY: re-running the nightly ingest can
       never double-load; at 100 TB the ledger holds file names, not
       data — O(#files) driver metadata).

    The returned frame summarizes the final table state; the oracle
    is plain orders, so a green row certifies no row was lost or
    double-loaded across the three runs."""
    import os

    from ..catalog import load_table
    from ..plans.sql_extensions import run_copy_into_sql
    from ..sources.versioned import CdfVersionedTable
    from .signed_queries import _cagg_state_dir

    ws = _cagg_state_dir()
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    stage = os.path.join(ws, "landing")
    orders.where("o_orderkey % 4 != 3").repartition(4).write.parquet(stage)
    vt = CdfVersionedTable(os.path.join(ws, "orders_copy"))
    tables = {"orders_t": vt}

    m1 = run_copy_into_sql(
        spark, f"COPY INTO orders_t FROM '{stage}' FILEFORMAT = PARQUET",
        tables,
    ).collect()[0]
    assert m1["files_loaded"] == 4, m1

    # late-arriving files land in the SAME directory
    orders.where("o_orderkey % 4 = 3").repartition(2).write.mode(
        "append"
    ).parquet(stage)
    m2 = run_copy_into_sql(
        spark, f"COPY INTO orders_t FROM '{stage}'", tables
    ).collect()[0]
    assert m2["files_loaded"] == 2, m2

    m3 = run_copy_into_sql(
        spark, f"COPY INTO orders_t FROM '{stage}'", tables
    ).collect()[0]
    assert m3["files_loaded"] == 0 and m3["commit_version"] is None, m3
    assert vt.versions() == [0, 1]  # exactly two commits, ever

    return (
        vt.snapshot(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("cents"),
        )
    )


def q_sql_rename_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column mapping — Delta's RENAME/DROP COLUMN without rewriting
    data (``sources/colmap.py``): orders is written ONCE; then
    o_totalprice renames to order_value and o_comment-stand-in
    o_custkey drops — both metadata-only edits, asserted inline by
    byte-identical data files (same names, sizes, mtimes) across the
    ALTERs. The returned frame reads the LOGICAL schema (renamed
    column live, dropped column gone) — the oracle projects the same
    rename relationally, so a green row certifies reads see the map,
    not the physical names. At 100 TB this is the difference between
    an O(1) metadata edit and an hours-long table rewrite."""
    import os

    from ..catalog import load_table
    from ..sources.colmap import ColumnMappedTable
    from .signed_queries import _cagg_state_dir

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    root = os.path.join(_cagg_state_dir(), "orders_mapped")
    t = ColumnMappedTable.create(orders, root)

    def file_state() -> list[tuple]:
        return sorted(
            (n, os.path.getsize(os.path.join(root, n)),
             os.path.getmtime(os.path.join(root, n)))
            for n in os.listdir(root)
            if n.endswith(".parquet")
        )

    before = file_state()
    t.rename_column("o_totalprice", "order_value")
    t.drop_column("o_custkey")
    assert file_state() == before, "ALTER rewrote data files"

    df = t.read(spark)
    assert "order_value" in df.columns and "o_custkey" not in df.columns
    return df.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
        F.sum(
            F.expr("CAST(floor(order_value * 100 + 0.5) AS BIGINT)")
        ).cast("bigint").alias("value_cents"),
    )


_SQL_RENAME_COLUMN_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS value_cents
FROM orders GROUP BY o_orderstatus
"""


_SQL_COPY_INTO_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders GROUP BY o_orderstatus
"""


_SQL_SHALLOW_CLONE_ORACLE = """
WITH state AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 20 != 5
  UNION ALL
  SELECT o_orderkey + 20000000, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 20 = 7
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents
FROM state GROUP BY o_orderstatus
"""


def queries_and_oracles():
    queries = {
        "delta_projection_filter": q_delta_projection_filter,
        "delta_join": q_delta_join,
        "delta_join_theta": q_delta_join_theta,
        "delta_join_null_safe": q_delta_join_null_safe,
        "delta_sql_frontend": q_delta_sql_frontend,
        "delta_sql_semi_join": q_delta_sql_semi_join,
        "delta_sql_union": q_delta_sql_union,
        "delta_sql_agg_maintenance": q_delta_sql_agg_maintenance,
        "delta_sql_rollup_hourly": q_delta_sql_rollup_hourly,
        "delta_sql_having": q_delta_sql_having,
        "delta_sql_join_agg": q_delta_sql_join_agg,
        "delta_sql_count_distinct": q_delta_sql_count_distinct,
        "delta_sql_join_count_distinct": q_delta_sql_join_count_distinct,
        "delta_cross_join": q_delta_cross_join,
        "delta_union": q_delta_union,
        "delta_semi_join": q_delta_semi_join,
        "delta_dedup_maintenance": q_delta_dedup_maintenance,
        "delta_ndv_maintenance": q_delta_ndv_maintenance,
        "delta_topk_maintenance": q_delta_topk_maintenance,
        "delta_histogram_maintenance": q_delta_histogram_maintenance,
        "delta_composite": q_delta_composite,
        "delta_agg_maintenance": q_delta_agg_maintenance,
        "delta_rollup_hourly": q_delta_rollup_hourly,
        "sql_time_travel": q_sql_time_travel,
        "sql_merge_into": q_sql_merge_into,
        "sql_merge_into_pruned": q_sql_merge_into_pruned,
        "sql_mv_rewrite": q_sql_mv_rewrite,
        "sql_mv_rewrite_join": q_sql_mv_rewrite_join,
        "sql_mv_rewrite_filtered": q_sql_mv_rewrite_filtered,
        "sql_mv_rewrite_reordered": q_sql_mv_rewrite_reordered,
        "sql_mv_rewrite_between": q_sql_mv_rewrite_between,
        "sql_mv_rewrite_maintained": q_sql_mv_rewrite_maintained,
        "sql_dml_lifecycle": q_sql_dml_lifecycle,
        "dml_merge_on_read": q_dml_merge_on_read,
        "sql_optimize_zorder": q_sql_optimize_zorder,
        "sql_check_constraints": q_sql_check_constraints,
        "cdf_describe_history": q_cdf_describe_history,
        "version_table_diff": q_version_table_diff,
        "sql_restore_table": q_sql_restore_table,
        "sql_shallow_clone": q_sql_shallow_clone,
        "sql_copy_into": q_sql_copy_into,
        "sql_rename_column": q_sql_rename_column,
        "sql_merge_schema_evolution": q_sql_merge_schema_evolution,
        "sql_insert_overwrite": q_sql_insert_overwrite,
    }
    oracles = {
        "delta_projection_filter": _PF_ORACLE,
        "delta_join": _JOIN_ORACLE,
        "delta_join_theta": _JOIN_THETA_ORACLE,
        "delta_join_null_safe": _JOIN_NULL_SAFE_ORACLE,
        "delta_sql_frontend": _SQL_FRONTEND_ORACLE,
        "delta_sql_semi_join": _SQL_SEMI_ORACLE,
        "delta_sql_union": _SQL_UNION_ORACLE,
        "delta_sql_agg_maintenance": _sql_agg_oracle(),
        "delta_sql_rollup_hourly": _sql_rollup_oracle(),
        "delta_sql_having": _sql_having_oracle(),
        "delta_sql_join_agg": _sql_join_agg_oracle(),
        "delta_sql_count_distinct": _SQL_CD_ORACLE,
        "delta_sql_join_count_distinct": _SQL_JOIN_CD_ORACLE,
        "delta_cross_join": _CROSS_ORACLE,
        "delta_union": _UNION_ORACLE,
        "delta_semi_join": _SEMI_ORACLE,
        "delta_dedup_maintenance": _DEDUP_MAINT_ORACLE,
        "delta_ndv_maintenance": _NDV_MAINT_ORACLE,
        "delta_topk_maintenance": _TOPK_MAINT_ORACLE,
        "delta_histogram_maintenance": _HIST_MAINT_ORACLE,
        "delta_composite": _COMPOSITE_ORACLE,
        "delta_agg_maintenance": _AGG_ORACLE,
        "delta_rollup_hourly": _ROLLUP_ORACLE,
        "sql_time_travel": _SQL_TT_ORACLE,
        "sql_merge_into": _SQL_MERGE_ORACLE,
        "sql_merge_into_pruned": _SQL_MERGE_PRUNED_ORACLE,
        "sql_mv_rewrite": _SQL_MV_REWRITE_ORACLE,
        "sql_mv_rewrite_join": _SQL_MV_REWRITE_JOIN_ORACLE,
        "sql_mv_rewrite_filtered": _SQL_MV_REWRITE_FILTERED_ORACLE,
        "sql_mv_rewrite_reordered": _SQL_MV_REWRITE_REORDERED_ORACLE,
        "sql_mv_rewrite_between": _SQL_MV_REWRITE_BETWEEN_ORACLE,
        "sql_mv_rewrite_maintained": _mv_maintained_oracle(),
        "sql_dml_lifecycle": _SQL_DML_ORACLE,
        "dml_merge_on_read": _MOR_DML_ORACLE,
        "sql_optimize_zorder": _SQL_OPTIMIZE_ORACLE,
        "sql_check_constraints": _SQL_CONSTRAINTS_ORACLE,
        "cdf_describe_history": _CDF_HISTORY_ORACLE,
        "version_table_diff": _VERSION_DIFF_ORACLE,
        "sql_restore_table": _SQL_RESTORE_ORACLE,
        "sql_shallow_clone": _SQL_SHALLOW_CLONE_ORACLE,
        "sql_copy_into": _SQL_COPY_INTO_ORACLE,
        "sql_rename_column": _SQL_RENAME_COLUMN_ORACLE,
        "sql_merge_schema_evolution": _SQL_MERGE_EVOLUTION_ORACLE,
        "sql_insert_overwrite": _SQL_INSERT_OVERWRITE_ORACLE,
    }
    return queries, oracles
