"""Retraction-capable (signed) IVM queries — deletes and updates.

The reference's PosDelta machinery is insert-only (delta_node.rs:8-60;
optimizer_rules/mod.rs keeps no signs), so a delete or an update is
inexpressible — SURVEY §4.3. These queries run the signed Z-relation
algebra from ``plans/signed.py`` over deterministic CDF-style change
batches (inserts + deletes + updates per ``plans.signed.CDC_SPECS``)
and prove, per query, the signed IVM identity

    Q(new)  ==  Q(old) ⊎ ΔQ        (⊎ = signed multiset sum)

via DuckDB oracles that compute the consolidated net change
brute-force: group the UNION ALL of Q(new) (+1) and Q(old) (−1) by
every output column and keep non-zero signed sums. A green value-hash
therefore certifies both the sign algebra and the CDF normalization.

Three maintenance strategies, by operator class:

- **linear** (π, σ, inner/cross ⋈, ∪): algebraic signed rewrite —
  only the change batches and the delta-sized join slices are scanned;
- **decomposable aggregates** (SUM/COUNT/AVG, COUNT DISTINCT): stored
  partials + signed delta partials, merged group-wise; groups whose
  count reaches zero vanish, exactly as GROUP BY over the new state;
- **non-linear** (outer/semi join, MIN/MAX, per-group top-k, gap
  sessionization): *delta-scoped recompute* — old-vs-new recomputation
  restricted to the touched key/user slice, which is sound for ANY
  operator and costs O(|Δ| slice), not O(|base|); connected components
  extend this to *affected-component recompute* (whole old components
  reachable from the change, since a delete can split and an insert
  can merge clusters). Counting sketches (histograms and derived
  quantiles) and the dedup indexes (hash, LSH, ANN, winnow buckets)
  stay in the linear class via per-(key, member) multiplicity state.

At 100 TB the touched-key sets are delta-sized → broadcast semi/anti
joins; with the base table partitioned on the key, the scoped
recompute prunes to the touched partitions.

Every index maintainer (LSH, ANN, winnow, cluster, IVF, PQ, IVF-PQ,
TF-IDF, SemDeDup, BM25, inverted, phrase, dup-span, triangle,
line-dedup) is written once, as a body that takes a ``state`` source
and reads each corpus-sized state relation through it. ``_recompute``
builds the relation from the old snapshot on every run (a
corpus-proportional stand-in); ``_stored`` reads it from a persisted
``StateStore.cached`` parquet table built once per input bytes and CDC
spec, so a run pays only the O(Δ) merge — the production state-store
economics. Each registry entry binds one body to one source (and, for
the sparse variants, a CDC spec): a ``*_maintenance`` name and its
``*_stored`` twin differ only in that binding.
"""

from __future__ import annotations

from functools import partial, reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import round_portable, token_bucket
from ..plans import (
    CrossJoin,
    Filter,
    Join,
    Projection,
    Scan,
    Union,
    maintain_agg_of_sql_signed,
    maintain_join_agg_of_sql_signed,
    signed_delta_of_sql,
)
from ..plans.signed import (
    CDC_SPECS,
    SIGN,
    CdcSpec,
    SignedDeltaCatalog,
    compile_signed_delta,
    compile_signed_delta_scoped_join,
    consolidate,
)
from ..sources.state import StateStore
from .delta_queries import HIST_BIN, HIST_BIN_WIDTH, HIST_MAX_BIN

# ----------------------------------------------------------------------
# Oracle-side old/new state SQL, generated from the SAME CDC_SPECS the
# catalog uses — one source of truth, zero drift.

_COLS = {
    "orders": [
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "embedding", "label"],
    "lineitem": [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    ],
}


def _old_sql(table: str, spec=None) -> str:
    spec = CDC_SPECS[table] if spec is None else spec
    return f"SELECT * FROM {table} WHERE NOT ({spec.insert_pred})"


def _new_sql(table: str, spec=None) -> str:
    spec = CDC_SPECS[table] if spec is None else spec
    upd = spec.update_set_duckdb  # oracle side: DuckDB dialect
    sel = ", ".join(
        f"CASE WHEN {spec.update_pred} THEN ({upd[c]}) "
        f"ELSE {c} END AS {c}" if c in upd else c
        for c in _COLS[table]
    )
    return f"SELECT {sel} FROM {table} WHERE NOT ({spec.delete_pred})"


def _net_oracle(out_cols: list[str], new_q: str, old_q: str) -> str:
    """Brute-force consolidated net change of a query old→new."""
    cols = ", ".join(out_cols)
    return (
        f"SELECT {cols}, CAST(SUM(s) AS BIGINT) AS {SIGN} FROM ("
        f"SELECT {cols}, 1 AS s FROM ({new_q}) "
        f"UNION ALL SELECT {cols}, -1 AS s FROM ({old_q})"
        f") GROUP BY {cols} HAVING SUM(s) <> 0"
    )


# -- signed Δ(π σ Scan): inserts, deletes, and updates through the -----
# -- projection/filter rules (sign carried; updates move rows across ---
# -- the predicate boundary in both directions) ------------------------

_PF_IR = Projection(
    [
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        "round(o_totalprice, 2) AS total",
    ],
    Filter("o_totalprice > 150000", Scan("orders")),
)


def q_signed_projection_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = SignedDeltaCatalog(spark, sf_dir)
    return consolidate(compile_signed_delta(_PF_IR, cat))


_PF_BODY = (
    "SELECT o_orderkey, o_custkey, o_orderpriority, "
    "round(o_totalprice, 2) AS total FROM ({src}) WHERE o_totalprice > 150000"
)
_PF_ORACLE = _net_oracle(
    ["o_orderkey", "o_custkey", "o_orderpriority", "total"],
    _PF_BODY.format(src=_new_sql("orders")),
    _PF_BODY.format(src=_old_sql("orders")),
)


# -- signed Δ(R ⋈ S): the bilinear two-branch rule with signs; ---------
# -- BOTH sides carry inserts+deletes+updates --------------------------

_JOIN_IR = Projection(
    [
        "o_orderkey",
        "c_custkey",
        "c_name",
        "round(o_totalprice, 2) AS total",
        "round(c_acctbal, 2) AS bal",
    ],
    Join(
        Scan("orders"),
        Scan("customer"),
        on=[("o_custkey", "c_custkey")],
        join_type="inner",
    ),
)


def q_signed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = SignedDeltaCatalog(spark, sf_dir)
    return consolidate(compile_signed_delta(_JOIN_IR, cat))


_JOIN_BODY = (
    "SELECT o_orderkey, c_custkey, c_name, round(o_totalprice, 2) AS total, "
    "round(c_acctbal, 2) AS bal "
    "FROM ({o_src}) o JOIN ({c_src}) c ON o.o_custkey = c.c_custkey"
)
_JOIN_ORACLE = _net_oracle(
    ["o_orderkey", "c_custkey", "c_name", "total", "bal"],
    _JOIN_BODY.format(o_src=_new_sql("orders"), c_src=_new_sql("customer")),
    _JOIN_BODY.format(o_src=_old_sql("orders"), c_src=_old_sql("customer")),
)


# -- signed Δ(R × S): the bilinear rule's cross-join arm ---------------
# -- (reference mod.rs:54-98's shape, now sound under retractions) -----

_CROSS_IR = Projection(
    ["c_custkey", "c_name", "r_regionkey", "r_name",
     "round(c_acctbal, 2) AS bal"],
    # Region is the 5-row constant dim; the customer side carries
    # inserts+deletes+updates, so every retraction fans out ×5 through
    # the cross product with its sign.
    CrossJoin(
        Filter("c_custkey % 11 = 0", Scan("customer")),
        Scan("region"),
    ),
)


def q_signed_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = SignedDeltaCatalog(spark, sf_dir)
    return consolidate(compile_signed_delta(_CROSS_IR, cat))


_CROSS_BODY = (
    "SELECT c_custkey, c_name, r_regionkey, r_name, "
    "round(c_acctbal, 2) AS bal "
    "FROM ({c_src}) c CROSS JOIN region r WHERE c_custkey % 11 = 0"
)
_CROSS_ORACLE = _net_oracle(
    ["c_custkey", "c_name", "r_regionkey", "r_name", "bal"],
    _CROSS_BODY.format(c_src=_new_sql("customer")),
    _CROSS_BODY.format(c_src=_old_sql("customer")),
)


# -- signed Δ(∪ᵢRᵢ): union arm — each branch's changes flow with -------
# -- their own signs (reference mod.rs:159-180's shape) ----------------

_UNION_IR = Union(
    [
        Projection(
            ["o_orderkey AS id", "'order' AS src",
             "round(o_totalprice, 2) AS amount"],
            Filter("o_totalprice > 250000", Scan("orders")),
        ),
        Projection(
            ["c_custkey AS id", "'customer' AS src",
             "round(c_acctbal, 2) AS amount"],
            Filter("c_acctbal > 9000", Scan("customer")),
        ),
    ]
)


def q_signed_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = SignedDeltaCatalog(spark, sf_dir)
    return consolidate(compile_signed_delta(_UNION_IR, cat))


_UNION_BODY = (
    "SELECT o_orderkey AS id, 'order' AS src, "
    "round(o_totalprice, 2) AS amount FROM ({o_src}) "
    "WHERE o_totalprice > 250000 "
    "UNION ALL "
    "SELECT c_custkey AS id, 'customer' AS src, "
    "round(c_acctbal, 2) AS amount FROM ({c_src}) WHERE c_acctbal > 9000"
)
_UNION_ORACLE = _net_oracle(
    ["id", "src", "amount"],
    _UNION_BODY.format(o_src=_new_sql("orders"), c_src=_new_sql("customer")),
    _UNION_BODY.format(o_src=_old_sql("orders"), c_src=_old_sql("customer")),
)


# -- Maintained SUM/COUNT/AVG under deletes & group-moving updates -----
#
# The update rewrites o_orderpriority to '0-UPDATED', so every update
# MOVES rows between groups: the pre-image retracts from the old group,
# the post-image inserts into the new one — the case positive-only IVM
# cannot express at all. ``maintain_agg_of_sql_signed`` merges the
# change batch's sign-weighted partials into the old partials; groups
# whose row count reaches zero vanish. Sums aggregate integer cents
# (exactly-2-decimal prices) so partial-merge totals are bitwise equal
# to the oracle's single pass, mirroring delta_sql_agg_maintenance's
# technique.

_CENTS = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
_AGG_STMT = (
    f"SELECT o_orderpriority, sum({_CENTS}) AS cents, count(*) AS n_orders "
    "FROM orders GROUP BY o_orderpriority"
)


def q_signed_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return maintain_agg_of_sql_signed(spark, sf_dir, _AGG_STMT).selectExpr(
        "o_orderpriority",
        "round(cents / 100.0, 2) AS total",
        "n_orders",
        f"{round_portable('cents / 100.0 / n_orders', 2)} AS avg_price",
    )


_AGG_ORACLE = f"""
SELECT o_orderpriority,
       round(sum({_CENTS}) / 100.0, 2) AS total,
       count(*) AS n_orders,
       {round_portable(f'sum({_CENTS}) / 100.0 / count(*)', 2)} AS avg_price
FROM ({_new_sql("orders")}) GROUP BY o_orderpriority
"""


# -- Maintained COUNT(DISTINCT) under deletes and key-rewriting --------
# -- updates: two-level (group, value, multiplicity) state -------------
#
# The update rewrites user_id (+1_000_000), so a distinct value can
# both appear and disappear in one batch. The stored state keeps the
# per-(group, value) multiplicity; the signed delta adjusts it; values
# whose multiplicity reaches zero stop counting — exact, no sketch.
#
# Hand-written on purpose: through ``maintain_agg_of_sql_signed`` the
# count(*) beside the distinct count is a second partial frame, so the
# old input and the change batch are each scanned twice (scalar
# partials, then pairs) and stitched on the keys — 4 → 7 Spark jobs and
# 30,000 → 60,000 input rows at sf0.01, oracle compare included. Here
# n_events is the sum of the live pair multiplicities: one scan each.

def q_signed_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = SignedDeltaCatalog(spark, sf_dir)

    stored = cat.old("events").groupBy("event_type", "user_id").agg(
        F.count("*").alias("mult")
    )
    d = cat.signed_changes("events").groupBy("event_type", "user_id").agg(
        F.sum(SIGN).alias("mult")
    )
    live = (
        stored.unionByName(d)
        .groupBy("event_type", "user_id")
        .agg(F.sum("mult").alias("mult"))
        .where(F.col("mult") > 0)
    )
    return live.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("ndv_users"),
        F.sum("mult").cast("bigint").alias("n_events"),
    )


_CD_ORACLE = f"""
SELECT event_type,
       count(DISTINCT user_id) AS ndv_users,
       count(*) AS n_events
FROM ({_new_sql("events")}) GROUP BY event_type
"""


# -- Maintained MIN/MAX via delta-scoped recompute ---------------------
#
# MIN/MAX are not signed-decomposable (deleting the current minimum
# needs the runner-up). Strategy: groups untouched by the batch keep
# their stored extrema verbatim; touched groups recompute from the new
# state restricted to exactly those groups — a broadcast semi join, so
# at 100 TB (key-partitioned base) only touched partitions are read.
#
# Hand-written on purpose: ``maintain_agg_of_sql_signed`` scans the
# change batch once for its partials and again for the touched keys
# (column pruning gives the two branches different exchanges, so AQE
# cannot reuse one), and the old input once for the live-row counts and
# again for the untouched extrema — 5 → 8 Spark jobs and 40,000 →
# 70,000 input rows at sf0.01, oracle compare included. This body
# reads each input once.

def q_signed_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = SignedDeltaCatalog(spark, sf_dir)

    def extrema(df: DataFrame) -> DataFrame:
        # round_portable: `value` carries arbitrary decimals, and the
        # engines' round(double, n) disagree at knife-edge halves.
        return df.groupBy("event_type").agg(
            F.expr(round_portable("min(value)", 2)).alias("min_value"),
            F.expr(round_portable("max(value)", 2)).alias("max_value"),
        )

    touched = cat.signed_changes("events").select("event_type").distinct()
    stored = extrema(cat.old("events"))
    untouched = stored.join(F.broadcast(touched), "event_type", "left_anti")
    recomputed = extrema(
        cat.new("events").join(F.broadcast(touched), "event_type", "left_semi")
    )
    return untouched.unionByName(recomputed)


_MINMAX_ORACLE = f"""
SELECT event_type,
       {round_portable('min(value)', 2)} AS min_value,
       {round_portable('max(value)', 2)} AS max_value
FROM ({_new_sql("events")}) GROUP BY event_type
"""


# -- Maintained LEFT OUTER JOIN via delta-scoped recompute -------------
#
# THE retraction showcase: when a dangling customer gains its first
# order, the (customer, NULL) row must be RETRACTED and replaced by
# (customer, order) — the exact case SURVEY §4.3 shows the reference
# silently mis-computes (mod.rs:126 reuses the outer join_type in the
# positive rule). With signs it is expressible; the maintenance is
# delta-scoped (``compile_signed_delta_scoped_join``): every output
# change is confined to join keys present in either change batch
# (untouched customers keep identical rows — their orders didn't
# change), so recomputing old-vs-new on the touched-key slice and
# diffing yields the exact net change. The green oracle, which diffs
# the UNRESTRICTED query, certifies that confinement, not just the
# arithmetic.

_OUTER_IR = Projection(
    ["c_custkey", "c_name", "o_orderkey", "round(o_totalprice, 2) AS total"],
    Join(
        Scan("customer"), Scan("orders"), on=[("c_custkey", "o_custkey")],
        join_type="left",
    ),
)


def q_signed_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = SignedDeltaCatalog(spark, sf_dir)
    return consolidate(compile_signed_delta_scoped_join(_OUTER_IR, cat))


_OUTER_BODY = (
    "SELECT c_custkey, c_name, o_orderkey, round(o_totalprice, 2) AS total "
    "FROM ({c_src}) c LEFT JOIN ({o_src}) o ON c.c_custkey = o.o_custkey"
)
_OUTER_ORACLE = _net_oracle(
    ["c_custkey", "c_name", "o_orderkey", "total"],
    _OUTER_BODY.format(c_src=_new_sql("customer"), o_src=_new_sql("orders")),
    _OUTER_BODY.format(c_src=_old_sql("customer"), o_src=_old_sql("orders")),
)


# -- Maintained SEMI JOIN via delta-scoped recompute -------------------
#
# Semi join is monotone under inserts (the positive path has an
# algebraic rule, plans/rewrite.py) but NOT under retractions: deleting
# a customer's last qualifying order must retract the customer row.
# Delta-scoped recompute (``compile_signed_delta_scoped_join``) covers
# it: output changes are confined to customers whose own row or whose
# orders changed.

_SEMI_IR = Projection(
    ["c_custkey", "c_name", "round(c_acctbal, 2) AS bal"],
    Join(
        Scan("customer"),
        Filter("o_totalprice > 150000", Scan("orders")),
        on=[("c_custkey", "o_custkey")],
        join_type="semi",
    ),
)


def q_signed_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = SignedDeltaCatalog(spark, sf_dir)
    return consolidate(compile_signed_delta_scoped_join(_SEMI_IR, cat))


_SEMI_BODY = (
    "SELECT c_custkey, c_name, round(c_acctbal, 2) AS bal "
    "FROM ({c_src}) c WHERE EXISTS (SELECT 1 FROM ({o_src}) o "
    "WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)"
)
_SEMI_ORACLE = _net_oracle(
    ["c_custkey", "c_name", "bal"],
    _SEMI_BODY.format(c_src=_new_sql("customer"), o_src=_new_sql("orders")),
    _SEMI_BODY.format(c_src=_old_sql("customer"), o_src=_old_sql("orders")),
)


# -- Maintained per-group TOP-K under retractions ----------------------
#
# Top-k per group is the canonical "runner-up" operator: deleting a
# top-k row promotes the (k+1)-th, which the stored top-k no longer
# holds — same reason min/max aren't signed-decomposable. Maintenance
# is delta-scoped: groups untouched by the batch keep their stored
# top-k verbatim; touched groups re-rank from the new state restricted
# to exactly those groups. Emits the maintained top-3 orders per
# priority (the current-state answer, like the agg maintainers).

_TOPK_K = 3


def q_signed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cat = SignedDeltaCatalog(spark, sf_dir)

    def topk(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("o_orderpriority").orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderkey")
        )
        return (
            df.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= _TOPK_K)
            .selectExpr(
                "o_orderpriority", "rk", "o_orderkey",
                "round(o_totalprice, 2) AS price",
            )
        )

    touched = cat.signed_changes("orders").select("o_orderpriority").distinct()
    stored = topk(cat.old("orders"))
    untouched = stored.join(F.broadcast(touched), "o_orderpriority", "left_anti")
    recomputed = topk(
        cat.new("orders").join(
            F.broadcast(touched), "o_orderpriority", "left_semi"
        )
    )
    return untouched.unionByName(recomputed)


_TOPK_ORACLE = f"""
SELECT o_orderpriority, rk, o_orderkey, price FROM (
  SELECT o_orderpriority,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk,
         o_orderkey, round(o_totalprice, 2) AS price
  FROM ({_new_sql("orders")})
) WHERE rk <= {_TOPK_K}
"""


# -- Maintained JOIN + GROUP BY under retractions ----------------------
#
# The flagship composition: revenue per order priority over the
# biggest fact table (lineitem ⋈ orders), maintained while BOTH sides
# take inserts, deletes, AND updates, through
# ``maintain_join_agg_of_sql_signed``: the join delta flows through the
# bilinear signed rewrite, the aggregate through signed partial merge.
# Change granularity is per line item ((orderkey, linenumber)
# mod-classes), so one changed line of a multi-line order must adjust
# revenue WITHOUT re-counting the order's other lines — and deleting
# an order retracts every surviving line's contribution through the
# join. Revenue aggregates exact integer cents, so the maintained
# total is bitwise-equal to the recompute.

_REV_CENTS = (
    "CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)"
)
_JOIN_AGG_STMT = (
    f"SELECT o_orderpriority, sum({_REV_CENTS}) AS revenue_cents, "
    "count(*) AS n_lines "
    "FROM lineitem JOIN orders ON lineitem.l_orderkey = orders.o_orderkey "
    "GROUP BY o_orderpriority"
)


def q_signed_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return maintain_join_agg_of_sql_signed(spark, sf_dir, _JOIN_AGG_STMT)


_JOIN_AGG_ORACLE = f"""
SELECT o_orderpriority,
       CAST(sum({_REV_CENTS}) AS BIGINT) AS revenue_cents,
       count(*) AS n_lines
FROM ({_new_sql("lineitem")}) l
JOIN ({_new_sql("orders")}) o ON l.l_orderkey = o.o_orderkey
GROUP BY o_orderpriority
"""


# -- Full-grammar SQL aggregate maintenance under retractions ----------
#
# One SQL statement exercising EVERY aggregate class the grammar
# accepts — count/sum/avg (signed partial merge), min/max (delta-
# scoped recompute), count(DISTINCT) (multiplicity state) — plus WHERE
# and a post-merge HAVING, all maintained under inserts + deletes +
# group-moving updates via plans.sql_frontend.maintain_agg_of_sql_signed.

_SQL_AGG_STMT = (
    f"SELECT o_orderpriority, count(*) AS n_orders, "
    f"sum({_CENTS}) AS cents, "
    f"min(o_totalprice) AS min_price, max(o_totalprice) AS max_price, "
    f"avg({_CENTS}) AS avg_cents, "
    f"count(DISTINCT o_custkey) AS n_custs "
    f"FROM orders WHERE o_totalprice > 50000 GROUP BY o_orderpriority "
    f"HAVING count(*) >= 10"
)


def q_signed_sql_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return maintain_agg_of_sql_signed(spark, sf_dir, _SQL_AGG_STMT)


_SQL_AGG_ORACLE = f"""
SELECT o_orderpriority, count(*) AS n_orders,
       CAST(sum({_CENTS}) AS BIGINT) AS cents,
       min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
       avg({_CENTS}) AS avg_cents,
       count(DISTINCT o_custkey) AS n_custs
FROM ({_new_sql("orders")})
WHERE o_totalprice > 50000 GROUP BY o_orderpriority
HAVING count(*) >= 10
"""


# -- Dedup-index maintenance under document deletes/updates ------------
#
# The LLM-pipeline × retraction crossover: the exact-dedup index
# (content_hash → n_docs, keep_doc_id) maintained while documents are
# inserted, DELETED, and EDITED. A text edit moves the document
# between hash buckets (retract from the old, insert into the new);
# deleting the kept doc_id must promote the bucket's runner-up — a MIN
# under retraction, handled exactly by per-(hash, doc_id) multiplicity
# state (the pair set IS what a stored dedup index keeps). Per
# refresh, only changed documents are re-normalized and re-hashed;
# the old corpus contributes its pair set, recomputed from the old
# snapshot (this index has no stored binding).

def q_signed_dedup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text

    cat = SignedDeltaCatalog(spark, sf_dir)
    norm = text.norm_text("text")

    def pairs(df: DataFrame, weight: str) -> DataFrame:
        return (
            df.selectExpr("doc_id", f"md5({norm}) AS content_hash",
                          f"{weight} AS _w")
            .groupBy("content_hash", "doc_id")
            .agg(F.sum("_w").alias("mult"))
        )

    stored = pairs(cat.old("documents"), "1")
    d = pairs(cat.signed_changes("documents"), SIGN)
    live = (
        stored.unionByName(d)
        .groupBy("content_hash", "doc_id")
        .agg(F.sum("mult").alias("mult"))
        .where("mult > 0")
    )
    return live.groupBy("content_hash").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("doc_id").alias("keep_doc_id"),
    )


_DEDUP_ORACLE = rf"""
SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash,
       count(*) AS n_docs,
       min(doc_id) AS keep_doc_id
FROM ({_new_sql("documents")})
GROUP BY 1
"""


# -- Index state: the ``state`` source every index maintainer reads ---
#
# A maintainer body calls ``load = state(cat, table)`` and reads each
# state relation as ``load(name, build)``, where ``build`` computes it
# from ``cat``'s OLD snapshot of ``table``. A ``build`` pins its frame
# with ``_shared`` only where several actions read it (the cluster CC
# loop) or its derived frames must agree row for row (dup-span):
# readers inside one query share its exchanges already, and a pin there
# costs jobs (measured on pq, ivf, semdedup and triangle).


def _recompute(cat: SignedDeltaCatalog, table: str):
    """State source: build every state relation from the old snapshot
    on each run."""
    return lambda name, build: build()


def _stored(cat: SignedDeltaCatalog, table: str):
    """State source: read every state relation from its persisted
    ``StateStore.cached`` table, keyed on ``table``'s bytes and ``cat``'s
    CDC spec and built from the old snapshot on first use."""
    fp = _spec_fingerprint(cat.sf_dir, table, cat.specs)
    return lambda name, build: StateStore.cached(cat.spark, name, fp, build)


def _net_multiplicity(
    stored: DataFrame, delta: DataFrame, *cols: str
) -> DataFrame:
    """Live rows of a maintained multiset: stored rows (weight +1 each)
    plus sign-weighted delta rows, summed per ``cols``,
    zero-or-negative multiplicities dropped. The shared merge step of
    every index maintainer in this module; both inputs must carry a
    ``_w`` weight column."""
    return (
        stored.unionByName(delta)
        .groupBy(*cols)
        .agg(F.sum("_w").alias("m"))
        .where("m > 0")
    )


def _table_fingerprint(sf_dir: str, table: str) -> str:
    """Identity of a fixture table's bytes (path + mtime + size) — the
    stored-state cache key component that forces a rebuild whenever
    the input file is regenerated."""
    import os

    p = os.path.join(sf_dir, f"{table}.parquet")
    st = os.stat(p)
    return f"{p}:{st.st_mtime_ns}:{st.st_size}"


def _spec_fingerprint(sf_dir: str, table: str, specs=None) -> str:
    """Stored-state fingerprint that folds the WHOLE CDC spec in
    alongside the table bytes: the built state is the spec's OLD
    snapshot, so two variants sharing a state name but differing in
    spec (dense vs sparse), or an edit to ANY spec field, must never
    serve each other's cached state (the r15 sessionize ADVICE
    lesson, applied to every stored twin). The suffix iterates every
    spec attribute rather than naming three — a future
    behavior-affecting field folds in automatically (r16 ADVICE).
    Tables the spec dict omits are static under the catalog
    (``SignedDeltaCatalog.old`` returns the base table), so they get
    a constant tag instead of a KeyError."""
    spec = (CDC_SPECS if specs is None else specs).get(table)
    if spec is None:
        suffix = "static"
    else:
        suffix = "|".join(
            f"{k}={v!r}" for k, v in sorted(vars(spec).items())
        )
    return _table_fingerprint(sf_dir, table) + "|" + suffix

# -- MinHash-LSH band-index maintenance under deletes/edits ------------
#
# The fuzzy sibling of signed_dedup_maintenance: the stored LSH band
# index (band-bucket → member docs) maintained while documents are
# inserted, deleted, and edited — pre-images retract their band rows
# (an edit moves the doc between buckets exactly like the exact-dedup
# hash move), and per-(band, doc) multiplicity nets the index. The
# per-refresh cost is the md5-heavy pipeline over the CHANGE batch
# plus the merge against the (band, doc_id) state. Docs with
# no shingles (<3 words) produce NULL band keys and are excluded in
# both engines: they carry no index entries. Candidate pairs
# re-derive from the maintained index via the existing bucket-join
# machinery; this query certifies the INDEX equals the full recompute.


def _signed_lsh(spark: SparkSession, sf_dir: str, state) -> DataFrame:
    from .llm_pipeline import _band_rows, _shingled_df

    cat = SignedDeltaCatalog(spark, sf_dir)
    load = state(cat, "documents")
    stored = load(
        "lsh_bands",
        lambda: _band_rows(_shingled_df(cat.old("documents")))
        .where("band IS NOT NULL")
        .select("band", "doc_id"),
    ).withColumn("_w", F.lit(1))
    # Sign rides through the shingle/minhash chain as the weight
    # column — the change batch is hashed ONCE, not once per sign.
    delta = _band_rows(
        _shingled_df(
            cat.signed_changes("documents").withColumnRenamed(SIGN, "_w"),
            carry=("_w",),
        ),
        carry=("_w",),
    ).where("band IS NOT NULL")
    live = _net_multiplicity(stored, delta, "band", "doc_id")
    return (
        live.groupBy("band")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
        )
        .where("n_docs >= 2")
    )


q_signed_lsh_maintenance = partial(_signed_lsh, state=_recompute)
q_signed_lsh_stored = partial(_signed_lsh, state=_stored)


def _signed_lsh_oracle() -> str:
    # Reuses the SAME engine-twin CTE chain as every other LSH oracle
    # (llm_pipeline._sql_base + _sql_lsh_pairs), pointed at the
    # post-change state — one SQL copy to maintain, not three. The
    # unreferenced mcand/mpairs CTEs are never executed.
    from .llm_pipeline import _sql_base, _sql_lsh_pairs

    return f"""
WITH {_sql_base(f'({_new_sql("documents")})')},
{_sql_lsh_pairs("shing", "m")}
SELECT band, count(*) AS n_docs, min(doc_id) AS min_doc
FROM mbands WHERE band IS NOT NULL
GROUP BY band HAVING count(*) >= 2
"""


# -- Perceptual-hash band-index maintenance under document edits ------
#
# The multimodal sibling of the MinHash index: the aHash 4-band
# blocking index (band key → member docs) maintained while documents
# are inserted, deleted, and EDITED (an edit changes the payload
# bytes, so the doc's hash — and its four band keys — move). Only the
# change batch is re-hashed (one Arrow pass, sign carried as the
# weight column); per-(band, doc) multiplicity nets the index against
# the old snapshot's band rows (this index has no stored binding).

def q_signed_phash_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import multimodal

    cat = SignedDeltaCatalog(spark, sf_dir)

    def bands_of(hashes: DataFrame) -> DataFrame:
        return hashes.select(
            "doc_id",
            "_w",
            F.posexplode(F.array("b0", "b1", "b2", "b3")).alias(
                "band_idx", "band_val"
            ),
        ).selectExpr(
            "CAST(band_idx * 65536 + band_val AS BIGINT) AS band",
            "doc_id",
            "_w",
        )

    def payloads_of(docs: DataFrame, w_expr: str) -> DataFrame:
        return docs.selectExpr(
            "doc_id",
            "encode(text, 'UTF-8') AS payload",
            f"CAST({w_expr} AS INT) AS _w",
        )

    stored = bands_of(
        multimodal.perceptual_hash(
            payloads_of(cat.old("documents"), "1"), carry=("_w",)
        )
    )
    delta = bands_of(
        multimodal.perceptual_hash(
            payloads_of(cat.signed_changes("documents"), SIGN),
            carry=("_w",),
        )
    )
    live = _net_multiplicity(stored, delta, "band", "doc_id")
    return (
        live.groupBy("band")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
        )
        .where("n_docs >= 2")
    )


_SIGNED_PHASH_ORACLE = f"""
WITH g AS (
  SELECT doc_id, i,
         ascii(substr(text, (i % length(text)) + 1, 1)) AS v
  FROM ({_new_sql("documents")}) d,
       LATERAL (SELECT unnest(generate_series(0, 63)) AS i) t(i)
), m AS (
  SELECT doc_id, avg(v) AS mean FROM g GROUP BY doc_id
), bits AS (
  SELECT g.doc_id, g.i,
         CASE WHEN g.v > m.mean THEN 1 ELSE 0 END AS b
  FROM g JOIN m ON g.doc_id = m.doc_id
), bands AS (
  SELECT doc_id, i // 16 AS band_idx,
         SUM(b * (1 << (15 - (i % 16)))) AS band_val
  FROM bits GROUP BY doc_id, i // 16
)
SELECT CAST(band_idx * 65536 + band_val AS BIGINT) AS band,
       count(*) AS n_docs, min(doc_id) AS min_doc
FROM bands GROUP BY 1 HAVING count(*) >= 2
"""


# -- Sign-LSH ANN bucket-index maintenance under vector deletes/updates
#
# The vector sibling: the hyperplane bucket index (8-bit sign-pattern
# bucket → member vectors) maintained while embeddings are inserted,
# deleted, and UPDATED (the update negates the vector — an exact IEEE
# sign flip that moves it to the opposite bucket). The per-refresh
# cost is re-bucketing the CHANGE batch (8 dot products per changed
# vector) plus the merge against the (bucket, vec_id) state.
# Per-(bucket, vec) multiplicity nets the index; ANN candidate pairs
# re-derive from it by equi-join on the bucket key.


def _signed_ann(spark: SparkSession, sf_dir: str, state) -> DataFrame:
    from ..functions import similarity
    from .llm_pipeline import _PLANES

    cat = SignedDeltaCatalog(spark, sf_dir)
    load = state(cat, "embeddings")
    bucket = similarity.bucket_expr_spark(
        similarity.as_double_array("embedding"), _PLANES
    )
    stored = load(
        "ann_buckets",
        lambda: cat.old("embeddings").selectExpr(
            "vec_id", f"{bucket} AS bucket"
        ),
    ).withColumn("_w", F.lit(1))
    # Sign carried as the weight EXPRESSION — one pass over the change
    # batch (8 dot products per vector once), not a filtered scan per
    # sign.
    delta = cat.signed_changes("embeddings").selectExpr(
        "vec_id", f"{bucket} AS bucket", f"{SIGN} AS _w"
    )
    live = _net_multiplicity(stored, delta, "bucket", "vec_id")
    return live.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.min("vec_id").alias("min_vec"),
    )


q_signed_ann_maintenance = partial(_signed_ann, state=_recompute)
q_signed_ann_stored = partial(_signed_ann, state=_stored)


def _signed_ann_oracle() -> str:
    from ..functions import similarity
    from .llm_pipeline import _PLANES

    bucket = similarity.bucket_expr_duckdb("v", _PLANES)
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM ({_new_sql("embeddings")})
),
b AS (SELECT vec_id, {bucket} AS bucket FROM e)
SELECT bucket, count(*) AS n_vecs, min(vec_id) AS min_vec
FROM b GROUP BY bucket
"""


# -- Winnowing fingerprint index maintained under retractions ----------
#
# Completes the dedup-index family: exact-hash, MinHash-LSH, sign-LSH
# ANN, and now winnowing (MOSS) buckets all maintain under
# deletes/edits via the same per-(key, member) multiplicity state
# (``_net_multiplicity``). A text edit re-winnows the document:
# pre-image fingerprints leave (−1), post-image fingerprints enter
# (+1), and only buckets whose live membership lands in [2, cap] stay
# in the index. Per-refresh cost is fingerprinting the CHANGE batch
# ONCE — the sign rides through ``_winnow_fp`` as a carried weight
# column, the same one-weighted-pass shape the ANN maintainer uses —
# plus the bucket-key merge. The stored binding stays out of the
# registry: at sf0.1 it measured slower than the recompute (1.70 vs
# 1.28 s — scanning the pre-exploded (fp, doc_id) state from parquet
# costs more than the Arrow-vectorized corpus re-fingerprint; SCALE.md
# round-16 notes).


def _signed_winnow(spark: SparkSession, sf_dir: str, state) -> DataFrame:
    from .llm_pipeline import _WINNOW_BUCKET_CAP, _winnow_fp

    cat = SignedDeltaCatalog(spark, sf_dir)
    load = state(cat, "documents")
    stored = load(
        "winnow_fps",
        lambda: _winnow_fp(cat.old("documents")).select("fp", "doc_id"),
    ).withColumn("_w", F.lit(1))
    delta = _winnow_fp(
        cat.signed_changes("documents").withColumnRenamed(SIGN, "_w"),
        carry=("_w",),
    )
    live = _net_multiplicity(stored, delta, "fp", "doc_id")
    return (
        live.groupBy("fp")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
        )
        .where(f"n_docs BETWEEN 2 AND {_WINNOW_BUCKET_CAP}")
    )


q_signed_winnow_maintenance = partial(_signed_winnow, state=_recompute)
q_signed_winnow_stored = partial(_signed_winnow, state=_stored)


def _signed_winnow_oracle() -> str:
    from .llm_pipeline import (
        _SQL_WINNOW_CTES,
        _WINNOW_BUCKET_CAP,
        _sql_base,
    )

    return f"""
WITH {_sql_base(f'({_new_sql("documents")})')},
{_SQL_WINNOW_CTES}
SELECT fp, count(*) AS n_docs, min(doc_id) AS min_doc
FROM wfp GROUP BY fp
HAVING count(*) BETWEEN 2 AND {_WINNOW_BUCKET_CAP}
"""


# -- Maintained DUP-CLUSTERS under retractions: component -------------
# -- split/merge via affected-component recompute ----------------------
#
# Connected components over the near-dup pair graph is the hardest
# maintenance case in the repo: deleting a document (or editing its
# text) can SPLIT its cluster — the bridge it formed disappears — and
# an inserted/edited document can MERGE previously separate clusters.
# Neither direction is expressible by any per-row algebra; maintenance
# is *affected-component recompute*:
#
#   1. touched docs T = the change batch's doc_ids (pre+post images);
#   2. seeds = T ∪ their neighbors in the NEW pair graph (a changed
#      doc's new edges name exactly the old clusters it may merge);
#   3. affected = every OLD component containing a seed, whole;
#   4. re-run CC on the new pair graph restricted to affected ∪ T;
#      emit old affected rows (−1) and recomputed rows (+1).
#
# Soundness: an edge between two UNtouched docs is identical in both
# states (pair existence depends only on the two texts), so no new-
# graph path leaves the affected set — every merge chain alternates
# touched docs and the old components their edges name, all of which
# step 2-3 pull in; untouched components are byte-identical old→new
# and cancel in the signed net. (One caveat, impossible at fixture
# scale and documented for deployments: an LSH bucket crossing
# _LSH_BUCKET_CAP in EITHER direction changes candidate pairs between
# untouched docs — an insert pushing a bucket above the cap drops
# them, a delete shrinking an over-cap bucket back under it adds
# them. A production index tracks bucket counts and adds every
# cap-crossing bucket's members to T, both directions.)
#
# The NEW pair graph is itself reconstructed delta-sized, never
# recomputed from the full new state: untouched-untouched pairs carry
# over from the stored pair set verbatim (same-texts argument above),
# and only pairs touching the change batch are derived fresh — the
# batch's bands join the full band index under the full-index bucket
# gate, exactly the delta_lsh_maintenance refresh discipline.
#
# At 100 TB: T is delta-sized, seeds/affected are broadcast-joinable
# doc-id sets, fresh hashing is confined to the change batch, and the
# CC loop runs only on the affected subgraph — cost ∝ changed
# clusters, not the corpus. The old shingles, band rows, pair set and
# CC come through the ``state`` source.


# Touched-component fraction above which the affected-component
# machinery is dropped for a same-shape full-graph diff (same
# consolidated output). Measured crossover at the dense fixture Δ is
# well above this; sparse CDC stays far below it.
_CLUSTER_FULL_RECOMPUTE_FRAC = 0.3


def _labeled_components(comp: DataFrame, sign: int) -> DataFrame:
    sizes = comp.groupBy("component").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    return comp.join(sizes, "component").select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        "cluster_size",
        F.lit(sign).cast("bigint").alias(SIGN),
    )


def _signed_cluster(spark: SparkSession, sf_dir: str, state) -> DataFrame:
    """Affected-component net change over four state relations: the old
    shingles, the verified pair set, the old cluster assignment and the
    old banded-minhash rows. bands_new is stitched from the state's band
    rows plus a Δ-only hash instead of re-minhashing the corpus — band
    rows are a per-doc function of the shingles, so the stitched
    relation is row-identical to a recomputed one."""
    from ..functions import graph
    from .llm_pipeline import (
        _LSH_BUCKET_CAP,
        _band_rows,
        _lsh_candidates,
        _shared,
        _shingled_df,
        _verified_pairs,
    )

    cat = SignedDeltaCatalog(spark, sf_dir)
    load = state(cat, "documents")
    sh_old = load(
        "cluster_shingles",
        lambda: _shared(_shingled_df(cat.old("documents"))),
    )
    pairs_old = load(
        "cluster_pairs",
        lambda: _shared(
            _verified_pairs(_lsh_candidates(sh_old), sh_old, 0.5).select(
                "doc_a", "doc_b"
            )
        ),
    )
    comp_old = load(
        "cluster_components",
        lambda: _shared(
            graph.connected_components(pairs_old, src="doc_a", dst="doc_b")
        ),
    )
    bands_old = load(
        "cluster_bands",
        lambda: _band_rows(sh_old).where("band IS NOT NULL"),
    )

    sgn = cat.signed_changes("documents")
    # Broadcast into several separately planned frames (the pinned
    # shingles and bands, the CC loop's actions) and used only as a
    # semi/anti-join key set (seeds de-duplicate below), so no
    # distinct: each broadcast is then a scan, not a shuffle plus a
    # collect.
    touched = sgn.select("doc_id")
    t = F.broadcast(touched)

    # Delta-sized reconstruction of the NEW pair graph. Fresh hashing
    # touches only the change batch's post-images; untouched docs
    # contribute their old shingles/bands.
    sh_delta = _shingled_df(sgn.where(f"{SIGN} = 1").drop(SIGN))
    sh_unch = sh_old.join(t, sh_old["doc_id"] == touched["doc_id"], "left_anti")
    sh_new = _shared(sh_unch.unionByName(sh_delta))
    # Persisted: referenced by the bucket gate, the delta side, and the
    # index side of the candidate join — one minhash pass, not three.
    bands_unch = bands_old.join(
        t, bands_old["doc_id"] == touched["doc_id"], "left_anti"
    )
    bands_new = _shared(
        bands_unch.unionByName(_band_rows(sh_delta).where("band IS NOT NULL"))
    )
    bands_delta = bands_new.join(
        t, bands_new["doc_id"] == touched["doc_id"], "left_semi"
    )
    ok = (
        bands_new.groupBy("band")
        .count()
        .where(f"count BETWEEN 2 AND {_LSH_BUCKET_CAP}")
        .select("band")
    )
    delta_cand = (
        bands_delta.join(ok, "band")
        .selectExpr("band", "doc_id AS d_new")
        .join(bands_new.selectExpr("band", "doc_id AS d_any"), "band")
        .where("d_new != d_any")
        .selectExpr(
            "least(d_new, d_any) AS doc_a", "greatest(d_new, d_any) AS doc_b"
        )
        .distinct()
    )
    delta_pairs = _verified_pairs(delta_cand, sh_new, 0.5).select(
        "doc_a", "doc_b"
    )
    pairs_unch = pairs_old.join(
        t, pairs_old["doc_a"] == touched["doc_id"], "left_anti"
    ).join(t, pairs_old["doc_b"] == touched["doc_id"], "left_anti")
    pairs_new = _shared(pairs_unch.unionByName(delta_pairs))

    # Seeds: touched docs plus their new-graph neighbors.
    nbr = (
        pairs_new.join(t, pairs_new["doc_a"] == touched["doc_id"], "left_semi")
        .select(F.col("doc_b").alias("doc_id"))
        .union(
            pairs_new.join(
                t, pairs_new["doc_b"] == touched["doc_id"], "left_semi"
            ).select(F.col("doc_a").alias("doc_id"))
        )
    )
    seeds = touched.union(nbr).distinct()

    # Whole old components containing any seed, then their members.
    aff_comps = (
        comp_old.join(
            F.broadcast(seeds), comp_old["node"] == seeds["doc_id"], "left_semi"
        )
        .select("component")
        .distinct()
    )
    # Adaptive switch: when the change batch touches MOST of the
    # cluster graph, the affected-component machinery (seed expansion,
    # two semi-restrictions, subgraph CC barely smaller than the full
    # one) costs more than it saves — measured ~30% slower than a
    # same-shape full recompute at this fixture's dense Δ (SCALE.md).
    # Both inputs to the decision (comp_old, aff_comps via pairs_new)
    # are persisted frames either path needs, so the two counts are
    # cheap. Above the threshold: diff full-graph CC old vs new —
    # identical consolidated net change (untouched components cancel),
    # identical oracle. Sparse Δ (the 100 TB regime) keeps the
    # delta-scoped path.
    n_comp = comp_old.select("component").distinct().count()
    n_aff = aff_comps.count()
    if n_comp and n_aff / n_comp > _CLUSTER_FULL_RECOMPUTE_FRAC:
        comp_new_full = graph.connected_components(
            pairs_new, src="doc_a", dst="doc_b"
        )
        return consolidate(
            _labeled_components(comp_old, -1).union(
                _labeled_components(comp_new_full, 1)
            )
        )
    # Seeds union, not just touched: a seed that is an old-graph
    # SINGLETON (no old pairs, hence no comp_old row) still needs its
    # new edges in the recompute — e.g. an untouched loner first paired
    # by an inserted near-duplicate.
    aff_docs = (
        comp_old.join(F.broadcast(aff_comps), "component", "left_semi")
        .select(F.col("node").alias("doc_id"))
        .union(seeds)
        .distinct()
    )
    a = F.broadcast(aff_docs)

    sub_new = pairs_new.join(
        a, pairs_new["doc_a"] == aff_docs["doc_id"], "left_semi"
    ).join(a, pairs_new["doc_b"] == aff_docs["doc_id"], "left_semi")
    comp_new = graph.connected_components(sub_new, src="doc_a", dst="doc_b")

    old_aff = comp_old.join(a, comp_old["node"] == aff_docs["doc_id"], "left_semi")
    return consolidate(
        _labeled_components(old_aff, -1).union(
            _labeled_components(comp_new, 1)
        )
    )


q_signed_cluster_maintenance = partial(_signed_cluster, state=_recompute)
q_signed_cluster_stored = partial(_signed_cluster, state=_stored)


def _signed_cluster_oracle() -> str:
    from .llm_pipeline import _sql_clusters

    return _net_oracle(
        ["doc_id", "cluster_id", "cluster_size"],
        _sql_clusters(f'({_new_sql("documents")})'),
        _sql_clusters(f'({_old_sql("documents")})'),
    )


# -- JOIN + GROUP BY from one SQL statement, under retractions ---------

_SQL_JOIN_AGG_STMT = (
    "SELECT o.o_orderpriority, count(*) AS n_lines, "
    "sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) "
    "AS BIGINT)) AS rev_cents, "
    "count(DISTINCT l.l_suppkey) AS n_supps "
    "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
    "GROUP BY o.o_orderpriority HAVING count(*) >= 10"
)


def q_signed_sql_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """maintain_join_agg_of_sql_signed: the join fragment through the
    bilinear signed rewrite, the aggregate through sign-weighted
    partial merge, count(DISTINCT) via multiplicity state over the
    join output — one SQL statement, both fact sides changing."""
    return maintain_join_agg_of_sql_signed(spark, sf_dir, _SQL_JOIN_AGG_STMT)


_SQL_JOIN_AGG_ORACLE = f"""
SELECT o_orderpriority, count(*) AS n_lines,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                AS BIGINT)) AS BIGINT) AS rev_cents,
       count(DISTINCT l_suppkey) AS n_supps
FROM ({_new_sql("lineitem")}) l
JOIN ({_new_sql("orders")}) o ON l.l_orderkey = o.o_orderkey
GROUP BY o_orderpriority HAVING count(*) >= 10
"""


# -- LEFT JOIN + GROUP BY from one SQL statement, under retractions ----
#
# The SQL surface for the signed_outer_join algebra: the
# fragment's signed delta comes from compile_signed_delta_scoped_join
# (old-vs-new diff on the broadcast touched-key slice — the linear
# rewrite refuses outer joins, and the reference silently mis-computes
# them, mod.rs:126). count(*) counts dangling customers' NULL-padded
# rows, count(o_orderkey) does not — so a dangling customer gaining
# its first order must retract a (+1 n_rows, +0 n_orders) contribution
# and assert (+1, +1): exactly the case the oracle certifies.

_SQL_OUTER_AGG_STMT = (
    "SELECT c.c_mktsegment, count(*) AS n_rows, "
    "count(o.o_orderkey) AS n_orders, "
    "sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS cents "
    "FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey "
    "GROUP BY c.c_mktsegment"
)


def q_signed_sql_outer_join_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return maintain_join_agg_of_sql_signed(
        spark, sf_dir, _SQL_OUTER_AGG_STMT
    )


_SQL_OUTER_AGG_ORACLE = f"""
SELECT c.c_mktsegment, count(*) AS n_rows,
       count(o.o_orderkey) AS n_orders,
       CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS cents
FROM ({_new_sql("customer")}) c
LEFT JOIN ({_new_sql("orders")}) o ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
"""


# -- MULTI-join outer chain + GROUP BY, under retractions --------------
#
# The r12 verdict's last visible signed-layer edge: a star-shaped
# fact LEFT JOIN dim₁ LEFT JOIN dim₂ GROUP BY under CDC on the fact
# AND a dim. The fragment's signed delta comes from
# compile_signed_delta_scoped_chain (old-vs-new recompute confined to
# the union of touched fact key-classes — |Δ|-sized, broadcast as
# marker joins); the aggregate maintains by sign-weighted partial
# merge as everywhere else. The CDC batch deletes orders, so fact
# rows LOSE their dim₁ match mid-stream: their (priority, brand)
# contribution must move to the NULL-priority group — padding
# retraction across a 2-join chain, the case the reference silently
# mis-computes for even one join (mod.rs:126). `part` is static: its
# touched-key set is empty and contributes no slice work, exactly the
# 100 TB posture (an unchanged dimension costs nothing).

_SQL_OUTER_CHAIN_STMT = (
    "SELECT o.o_orderpriority, p.p_brand, count(*) AS n_rows, "
    "count(o.o_orderkey) AS n_matched, "
    "sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS cents "
    "FROM lineitem l "
    "LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey "
    "LEFT JOIN part p ON l.l_partkey = p.p_partkey "
    "GROUP BY o.o_orderpriority, p.p_brand"
)


def q_signed_sql_outer_chain_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return maintain_join_agg_of_sql_signed(
        spark, sf_dir, _SQL_OUTER_CHAIN_STMT
    )


_SQL_OUTER_CHAIN_ORACLE = f"""
SELECT o.o_orderpriority, p.p_brand, count(*) AS n_rows,
       count(o.o_orderkey) AS n_matched,
       CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS cents
FROM ({_new_sql("lineitem")}) l
LEFT JOIN ({_new_sql("orders")}) o ON l.l_orderkey = o.o_orderkey
LEFT JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY o.o_orderpriority, p.p_brand
"""


_SQL_SNOWFLAKE_CHAIN_STMT = (
    "SELECT c.c_mktsegment, count(*) AS n_rows, "
    "count(c.c_custkey) AS n_matched, "
    "sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS cents "
    "FROM lineitem l "
    "JOIN orders o ON l.l_orderkey = o.o_orderkey "
    "LEFT JOIN customer c ON o.o_custkey = c.c_custkey "
    "GROUP BY c.c_mktsegment"
)


def q_signed_sql_snowflake_chain_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SNOWFLAKE multi-join chain (customer keyed on orders'
    o_custkey, not the fact) maintained under retractions on ALL
    THREE tables: the chain compiler's parent-row fold (late r13)
    maps Δcustomer keys through orders' old ∪ new images to the
    fact's l_orderkey classes, so the recompute slice stays
    batch-proportional even though the changed dim never touches the
    fact directly. LEFT customer join keeps the padded (NULL segment)
    group live under CDC; null-safe snowflake joins refuse instead
    (plans/signed.py)."""
    return maintain_join_agg_of_sql_signed(
        spark, sf_dir, _SQL_SNOWFLAKE_CHAIN_STMT
    )


_SQL_SNOWFLAKE_CHAIN_ORACLE = f"""
SELECT c.c_mktsegment, count(*) AS n_rows,
       count(c.c_custkey) AS n_matched,
       CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS cents
FROM ({_new_sql("lineitem")}) l
JOIN ({_new_sql("orders")}) o ON l.l_orderkey = o.o_orderkey
LEFT JOIN ({_new_sql("customer")}) c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


# -- Signed deltas from the SQL frontend -------------------------------

_SQL_STMT = (
    "SELECT o.o_orderkey, c.c_name, c.c_mktsegment, "
    "round(o.o_totalprice, 2) AS total "
    "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
    "WHERE o.o_totalprice > 250000"
)


def q_signed_sql_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same SQL string the positive path runs (delta_sql_frontend),
    now maintained under deletes/updates: parse → signed rewrite →
    consolidated net change, via the one-call entry point."""
    return signed_delta_of_sql(spark, sf_dir, _SQL_STMT)


_SQL_BODY = (
    "SELECT o.o_orderkey, c.c_name, c.c_mktsegment, "
    "round(o.o_totalprice, 2) AS total "
    "FROM ({o_src}) o JOIN ({c_src}) c ON o.o_custkey = c.c_custkey "
    "WHERE o.o_totalprice > 250000"
)
_SQL_ORACLE = _net_oracle(
    ["o_orderkey", "c_name", "c_mktsegment", "total"],
    _SQL_BODY.format(o_src=_new_sql("orders"), c_src=_new_sql("customer")),
    _SQL_BODY.format(o_src=_old_sql("orders"), c_src=_old_sql("customer")),
)


# -- Maintained HISTOGRAM under retractions: sketches are linear -------
#
# Fixed-bin histograms are counting sketches, and counts are linear in
# the signed algebra: a delete subtracts from its bin exactly as an
# insert adds. The maintainer therefore needs NO delta-scoped
# recompute — ``maintain_agg_of_sql_signed`` merges the stored per-bin
# partials with the signed delta partials group-wise (the bin
# definition is delta_queries.HIST_BIN), and only bins whose count
# reaches zero vanish. The
# events update moves rows between bins (value + 64.0 crosses the
# 25-wide bin boundary), so pre-image (−1, old bin) and post-image
# (+1, new bin) both fire — the case a positive-only histogram
# maintainer (delta_queries.q_delta_histogram_maintenance) cannot
# express. Scale: both sides are map-side-combinable group-bys; state
# is O(types × bins), never O(rows).

_SH_STMT = (
    f"SELECT event_type, {HIST_BIN} AS bin, count(*) AS n_events "
    f"FROM events GROUP BY event_type, {HIST_BIN}"
)


def q_signed_histogram_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return maintain_agg_of_sql_signed(spark, sf_dir, _SH_STMT)


# The maintained histogram must equal the new-state histogram exactly.
_SH_ORACLE = f"""
SELECT event_type,
       CAST(least({HIST_MAX_BIN}, greatest(0,
         CAST(floor(value / CAST({HIST_BIN_WIDTH} AS DOUBLE)) AS INT))) AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n_events
FROM ({_new_sql("events")}) GROUP BY 1, 2 HAVING count(*) > 0
"""


# -- Maintained APPROXIMATE QUANTILES under retractions ----------------
#
# p50/p95 derived from the maintained histogram — the sketch→answer
# composition a monitoring pipeline actually serves. The quantile rank
# tests use pure integer arithmetic (2·cum ≥ total for p50,
# 20·cum ≥ 19·total for p95) so Spark and DuckDB agree bit-for-bit —
# no float rank × count products. The answer is the upper bound of the
# first bin whose cumulative count reaches the rank, i.e. exact to one
# bin width (the standard equi-width-histogram quantile guarantee).
# Maintenance cost is the histogram merge (linear, measured flat at
# 10×) plus a window over O(types × bins) rows — driver-negligible.


def q_signed_quantile_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    hist = q_signed_histogram_maintenance(spark, sf_dir)
    cum = hist.select(
        "event_type",
        "bin",
        F.sum("n_events")
        .over(
            W.partitionBy("event_type").orderBy("bin")
            .rowsBetween(W.unboundedPreceding, 0)
        )
        .alias("cum"),
        F.sum("n_events").over(W.partitionBy("event_type")).alias("total"),
    )
    return (
        cum.groupBy("event_type")
        .agg(
            F.min(F.when(F.expr("2 * cum >= total"), F.col("bin"))).alias("b50"),
            F.min(F.when(F.expr("20 * cum >= 19 * total"), F.col("bin"))).alias("b95"),
            F.max("total").cast("bigint").alias("n_events"),
        )
        .selectExpr(
            "event_type",
            f"CAST((b50 + 1) * {HIST_BIN_WIDTH} AS DOUBLE) AS p50_ub",
            f"CAST((b95 + 1) * {HIST_BIN_WIDTH} AS DOUBLE) AS p95_ub",
            "n_events",
        )
    )


# Oracle: identical derivation from the new-state histogram.
_SQ_ORACLE = f"""
WITH hist AS (
  SELECT event_type,
         CAST(least({HIST_MAX_BIN}, greatest(0,
           CAST(floor(value / CAST({HIST_BIN_WIDTH} AS DOUBLE)) AS INT))) AS INT) AS bin,
         count(*) AS n
  FROM ({_new_sql("events")}) GROUP BY 1, 2
), cum AS (
  SELECT event_type, bin,
         sum(n) OVER (PARTITION BY event_type ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(n) OVER (PARTITION BY event_type) AS total
  FROM hist
)
SELECT event_type,
       CAST((min(CASE WHEN 2 * cum >= total THEN bin END) + 1)
            * {HIST_BIN_WIDTH} AS DOUBLE) AS p50_ub,
       CAST((min(CASE WHEN 20 * cum >= 19 * total THEN bin END) + 1)
            * {HIST_BIN_WIDTH} AS DOUBLE) AS p95_ub,
       CAST(max(total) AS BIGINT) AS n_events
FROM cum GROUP BY event_type
"""


# -- Maintained SESSIONIZATION under retractions: delta-scoped ---------
# -- recompute of a stateful/windowed operator -------------------------
#
# Gap-based sessionization is the canonical stateful operator with no
# algebraic delta: deleting one event can MERGE two sessions (the gap
# it bridged reappears), inserting one can SPLIT a session, and the
# events update rewrites user_id (+1_000_000), moving an event to a
# DIFFERENT user — both the donor's and the receiver's session
# structure change. No signed-linear rule covers any of that; the
# delta-scoped recompute does: sessionization is per-user
# (windows partition by user_id), so output changes are confined to
# users owning at least one changed row — pre-images carry the donor
# user, post-images the receiver, so the touched set includes both.
# Untouched users' sessions are byte-identical old→new and cancel in
# the signed diff; the emitted rows are the exact session-level net
# change (retracted old sessions, asserted new ones).
#
# Scale: |touched users| is delta-sized → broadcast semi-join prunes
# both state scans before the per-user window sort; with the events
# table partitioned by user_id the scoped recompute prunes to touched
# partitions. Cost O(events of touched users), never O(base).


def _sessions_of(ev: DataFrame) -> DataFrame:
    """Gap-based (30 min) sessionization of an event slice — the
    session table unit shared by the delta-scoped net maintainer and
    the stored-table twin."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wsess = w.rowsBetween(W.unboundedPreceding, 0)
    gapped = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(
            (F.unix_timestamp(F.col("ts"))
             - F.unix_timestamp(F.lag("ts", 1).over(w))) > 1800,
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    ).select(
        "user_id", "ts", "value",
        F.sum("new_session").over(wsess).alias("session_id"),
    )
    return (
        gapped.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select(
            "user_id",
            F.col("session_id").cast("long").alias("session_id"),
            "n_events",
            "session_value",
            "session_start",
            "session_end",
        )
    )


def _sessionize_net(
    spark: SparkSession, sf_dir: str, specs: dict | None = None
) -> DataFrame:

    cat = SignedDeltaCatalog(spark, sf_dir, specs)

    touched = (
        cat.signed_changes("events").select("user_id").distinct()
    )

    def sessions(ev: DataFrame) -> DataFrame:
        return _sessions_of(
            ev.join(F.broadcast(touched), "user_id", "left_semi")
        )

    new_slice = sessions(cat.new("events")).withColumn(
        SIGN, F.lit(1).cast("bigint")
    )
    old_slice = sessions(cat.old("events")).withColumn(
        SIGN, F.lit(-1).cast("bigint")
    )
    return consolidate(new_slice.union(old_slice))


def q_signed_sessionize_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _sessionize_net(spark, sf_dir)


# Sparse CDC spec: the dense events spec above touches ~all users
# (event_id mod classes hit every user), which makes the scoped
# recompute degenerate to ~two full sessionizations at fixture scale
# (honestly measured 7.1× at 10×, SCALE.md). Realistic CDC touches a
# small user fraction; this spec gates every change class on
# user_id % 128 = 0 (12 of 1,500 base users ≈ 0.8%) and keeps the
# user-moving update (receiver = user_id + 1,000,000 — both donor and
# receiver enter the touched set). The `user_id < 100000000` bound
# pins the SAME change batch under the replica-offset 10× fixture
# (replicas live at user_id + k·10⁸), giving the fixed-Δ
# Experiment-B measurement the dense spec cannot express.
_SPARSE_EVENTS_SPECS = {
    "events": CdcSpec(
        insert_pred=(
            "user_id % 128 = 0 AND user_id < 100000000 "
            "AND event_id % 10 = 0"
        ),
        delete_pred=(
            "user_id % 128 = 0 AND user_id < 100000000 "
            "AND event_id % 10 = 1"
        ),
        update_pred=(
            "user_id % 128 = 0 AND user_id < 100000000 "
            "AND event_id % 10 = 2"
        ),
        update_set={
            "value": "value + 64.0",
            "user_id": "user_id + 1000000",
        },
    ),
}


def q_signed_sessionize_sparse(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The sparse-Δ regime of sessionization maintenance: ≤1% of
    users change, the touched-user broadcast semi join prunes both
    state scans to those users' events before the per-user window
    sort, and the refresh cost is the touched slice — near-flat as
    the base grows with the batch held fixed (SCALE.md records the
    measured decade). Same delta-scoped algebra as
    ``signed_sessionize_maintenance``; only the CDC spec differs."""
    return _sessionize_net(spark, sf_dir, _SPARSE_EVENTS_SPECS)


def q_signed_sessionize_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full maintained session TABLE against a PERSISTED state
    store, under the sparse CDC spec (≈0.8% of users): the stored
    session table is READ from a parquet table a previous refresh
    wrote (built once per fixture by ``StateStore.cached``); per-run work
    is re-sessionizing the TOUCHED users' new events (broadcast semi
    join prunes the event scan) and anti-joining every other user's
    stored sessions through untouched — the repair cost is the touched
    slice, never a corpus re-sessionization. Unlike the net-diff
    maintainers this emits the maintained STATE (per-user_id%64 bucket
    summary), so the oracle is simply sessionization of the post-CDC
    corpus. Checksums use durations (end − start), never absolute
    epochs, so a session-timezone shift cannot leak in."""
    cat = SignedDeltaCatalog(spark, sf_dir, _SPARSE_EVENTS_SPECS)
    # the built state depends on the CDC spec (old = base minus the
    # spec's inserts plus its delete/update pre-images), so the spec
    # folds into the fingerprint — a spec edit or a future
    # dense/sparse variant sharing the state name can never serve
    # stale state from a warm cache
    fp = _spec_fingerprint(sf_dir, "events", _SPARSE_EVENTS_SPECS)
    stored = StateStore.cached(
        spark, "sessions_tbl", fp,
        lambda: _sessions_of(cat.old("events")),
    )
    touched = (
        cat.signed_changes("events")
        .select("user_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    repaired = _sessions_of(
        cat.new("events").join(F.broadcast(touched), "user_id", "left_semi")
    )
    untouched = stored.join(F.broadcast(touched), "user_id", "left_anti")
    live = untouched.unionByName(repaired)
    return live.groupBy(
        F.expr("CAST(user_id % 64 AS BIGINT)").alias("bucket")
    ).agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.sum(
            F.expr("CAST(floor(session_value * 100 + 0.5) AS BIGINT)")
        ).cast("bigint").alias("value_cents"),
        F.sum(
            F.unix_timestamp("session_end")
            - F.unix_timestamp("session_start")
        ).cast("bigint").alias("duration_sec"),
    )


def _sessionize_stored_oracle() -> str:
    inner = _sessionize_sql(
        _new_sql("events", _SPARSE_EVENTS_SPECS["events"])
    )
    return f"""
WITH s AS ({inner})
SELECT CAST(user_id % 64 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(session_value * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS value_cents,
       CAST(sum(CAST(floor(epoch(session_end)) AS BIGINT)
                - CAST(floor(epoch(session_start)) AS BIGINT))
            AS BIGINT) AS duration_sec
FROM s GROUP BY bucket
"""


def _sessionize_sql(src: str) -> str:
    """Session-level stats over a state subquery — the DuckDB twin of
    ``sessions`` above, minus the touched-user restriction (untouched
    users produce identical rows in both states and cancel in the
    signed net, so the brute-force oracle may run over ALL users)."""
    return f"""
WITH gapped AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch(ts) - epoch(lag(ts, 1) OVER (
                PARTITION BY user_id ORDER BY ts, event_id)) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM ({src})
), sess AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM gapped
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       count(*) AS n_events,
       round(sum(value), 2) AS session_value,
       min(ts) AS session_start,
       max(ts) AS session_end
FROM sess GROUP BY user_id, session_id
"""


_SESS_ORACLE = _net_oracle(
    ["user_id", "session_id", "n_events", "session_value",
     "session_start", "session_end"],
    _sessionize_sql(_new_sql("events")),
    _sessionize_sql(_old_sql("events")),
)

_SESS_SPARSE_ORACLE = _net_oracle(
    ["user_id", "session_id", "n_events", "session_value",
     "session_start", "session_end"],
    _sessionize_sql(_new_sql("events", _SPARSE_EVENTS_SPECS["events"])),
    _sessionize_sql(_old_sql("events", _SPARSE_EVENTS_SPECS["events"])),
)


# -- TF-IDF index maintained under retractions: a GLOBAL corpus --------
# -- statistic whose changes ripple, maintained linearly ---------------
#
# TF-IDF is the first maintained object here with a *global* input:
# every score depends on the corpus-wide document frequency of its
# term and on the corpus size N. Both are linear, so the INDEX
# maintains incrementally — df is a signed sum of per-(doc, term)
# presence changes (an edit retracts the pre-image's terms and asserts
# the post-image's; a term's df moves only when a changed doc gains or
# loses it outright), and ΔN is the plain signed row count of the
# change batch (an update's ±1 pair cancels). The *scored view*,
# however, ripples: a df or N change re-scores every document
# containing an affected term, so no delta-sized output of the full
# ranking exists. The honest maintained deliverable — emitted here —
# is the re-scored top-5 ranking of the ARRIVING documents (inserts +
# update post-images) against the maintained df/N state; widening to
# all affected holders is the same scoring join restricted by a
# semi-join on the Δdf term set instead.
#
# Per refresh only the change batch is tokenized; the per-term df
# counts and the N scalar come through the ``state`` source. Scale: Δdf
# and the arriving-doc tf are delta-sized; the scoring join keys on
# token with the maintained df index on the build side.


def _signed_tfidf(spark: SparkSession, sf_dir: str, state) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions import text
    from .llm_pipeline import _norm_df

    cat = SignedDeltaCatalog(spark, sf_dir)
    load = state(cat, "documents")

    def toks(df: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
        return _norm_df(df, carry).selectExpr(
            "doc_id", f"explode({text.words('norm')}) AS token", *carry
        )

    stored_df = load(
        "tfidf_df",
        lambda: toks(cat.old("documents"))
        .select("doc_id", "token")
        .distinct()
        .groupBy("token")
        .agg(F.count("*").alias("m")),
    )
    meta = load(
        "tfidf_meta",
        lambda: cat.old("documents").agg(F.count("*").alias("n_old")),
    )
    sgn = cat.signed_changes("documents")
    # Δdf: net per-(doc, token) PRESENCE change. Within one doc version
    # tokens dedupe; an updated doc contributes (pre, −1) and (post, +1)
    # rows whose shared tokens cancel in the per-token sum.
    presence = (
        toks(sgn.withColumnRenamed(SIGN, "_w"), carry=("_w",))
        .select("doc_id", "token", "_w")
        .distinct()
    )
    df_delta = presence.groupBy("token").agg(F.sum("_w").alias("m"))
    new_df = (
        stored_df.unionByName(df_delta)
        .groupBy("token")
        .agg(F.sum("m").cast("bigint").alias("df"))
        .where("df > 0")
    )
    # N: stored scalar + signed row count of the change batch.
    dn = sgn.agg(F.coalesce(F.sum(SIGN), F.lit(0)).alias("dn"))
    n_new = meta.crossJoin(F.broadcast(dn)).selectExpr(
        "CAST(n_old + dn AS DOUBLE) AS n_docs_total"
    )
    arriving = sgn.where(F.col(SIGN) == 1)  # inserts + update post-images
    tf = toks(arriving).groupBy("doc_id", "token").agg(
        F.count("*").alias("tf")
    )
    scored = tf.join(new_df, "token").crossJoin(F.broadcast(n_new)).selectExpr(
        "doc_id",
        "token",
        "CAST(tf AS BIGINT) AS tf",
        "df",
        f"{round_portable('tf * ln(CAST(n_docs_total AS DOUBLE) / df)', 6)}"
        " AS tfidf",
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where("rnk <= 5")
        .select("doc_id", "token", "tf", "df", "tfidf", "rnk")
    )


q_signed_tfidf_maintenance = partial(_signed_tfidf, state=_recompute)
q_signed_tfidf_stored = partial(_signed_tfidf, state=_stored)


def _signed_tfidf_oracle() -> str:
    # Batch TF-IDF over the post-change corpus (df/N therefore equal
    # the maintained index), ranking restricted to the arriving docs.
    spec = CDC_SPECS["documents"]
    return rf"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
  FROM ({_new_sql("documents")})
),
toks AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS token FROM norm),
tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM ({_new_sql("documents")})),
scored AS (
  SELECT doc_id, tf.token,
         CAST(tf AS BIGINT) AS tf,
         CAST(df AS BIGINT) AS df,
         CAST(floor((tf * ln(CAST(n_docs AS DOUBLE) / df)) * 1e6 + 0.5)
              AS DOUBLE) / 1e6 AS tfidf
  FROM tf JOIN df ON tf.token = df.token, n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, token) AS rnk
  FROM scored
)
SELECT doc_id, token, tf, df, tfidf, rnk FROM ranked
WHERE rnk <= 5 AND (({spec.insert_pred}) OR ({spec.update_pred}))
"""


# -- IVF cell-index maintenance under vector deletes/updates -----------
#
# The coarse-quantizer sibling of signed_ann_maintenance: an IVF index
# refresh re-buckets only the CHANGE batch against the FROZEN stored
# centroids (production retrains the quantizer out-of-band when drift
# warrants; a refresh never moves cells — exactly how FAISS-style IVF
# deployments separate train from add/remove). Centroids are trained
# on the old corpus via the bitwise-reproducible seeded build
# (functions/similarity.ivf_index), the update's vector negation moves
# it to a far cell, and per-(cell, vec) multiplicity nets the stored
# membership lists. Per-refresh cost: n_cells dot products per CHANGED
# vector plus the delta-sized merge.


def _signed_ivf(spark: SparkSession, sf_dir: str, state) -> DataFrame:
    from ..functions import similarity

    cat = SignedDeltaCatalog(spark, sf_dir)
    cents, assign = _ivf_state(cat, state(cat, "embeddings"))
    stored = assign.withColumn("_w", F.lit(1))
    v = (
        cat.signed_changes("embeddings")
        .selectExpr(
            "vec_id",
            f"{similarity.as_double_array('embedding')} AS v",
            f"{SIGN} AS _w",
        )
        .selectExpr("vec_id", "v", "_w", f"{similarity.norm('v')} AS nv")
    )
    delta = similarity._best_cell(v, cents, "v", "nv").select(
        "cell", "vec_id", "_w"
    )
    live = _net_multiplicity(stored, delta, "cell", "vec_id")
    return live.groupBy("cell").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.min("vec_id").alias("min_vec"),
    )


q_signed_ivf_maintenance = partial(_signed_ivf, state=_recompute)
q_signed_ivf_stored = partial(_signed_ivf, state=_stored)


def _signed_ivf_oracle() -> str:
    from .llm_pipeline import _IVF_CELLS, _IVF_COS

    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM ({_old_sql("embeddings")})
),
seeds AS (
  SELECT CAST(vec_id AS INT) AS cell, v AS c FROM v
  WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT {_IVF_CELLS})
),
a1 AS (
  SELECT vec_id, v, cell FROM (
    SELECT v.vec_id, v.v, s.cell,
           {_IVF_COS.format(a='v.v', b='s.c')} AS sim
    FROM v CROSS JOIN seeds s
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) = 1
),
ex AS (SELECT cell, unnest(v) AS x, unnest(generate_series(1, len(v))) AS d FROM a1),
cm AS (
  SELECT cell, d,
         CAST(sum(CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
           / (1e6 * count(*)) AS m
  FROM ex GROUP BY cell, d
),
cents AS (SELECT cell, list(m ORDER BY d) AS c FROM cm GROUP BY cell),
vnew AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM ({_new_sql("embeddings")})
),
idx AS (
  SELECT vec_id, cell FROM (
    SELECT vnew.vec_id, ct.cell,
           {_IVF_COS.format(a='vnew.v', b='ct.c')} AS sim
    FROM vnew CROSS JOIN cents ct
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) = 1
)
SELECT cell, count(*) AS n_vecs, min(vec_id) AS min_vec
FROM idx GROUP BY cell
"""


def _ivf_state(cat: SignedDeltaCatalog, load):
    """The coarse-quantizer half of the maintained IVF(-PQ) index:
    (centroid table, (cell, vec_id) assignment) of the OLD snapshot.
    Shared — same state names, same builders — by the IVF and IVF-PQ
    bodies, so the stored composed index reads the very tables the
    plain one maintains and adds no second corpus-sized build."""
    from ..functions import similarity
    from .llm_pipeline import _IVF_CELLS

    cents = load(
        "ivf_cents",
        lambda: similarity.ivf_index(
            cat.old("embeddings"), id_col="vec_id", vec_col="embedding",
            n_cells=_IVF_CELLS,
        )[1],
    )

    def build_assign():
        v_old = cat.old("embeddings").selectExpr(
            "vec_id",
            f"{similarity.as_double_array('embedding')} AS v",
        ).selectExpr("vec_id", "v", f"{similarity.norm('v')} AS nv")
        return similarity._best_cell(v_old, cents, "v", "nv").select(
            "cell", "vec_id"
        )

    return cents, load("ivf_assign", build_assign)


def _signed_pq(spark: SparkSession, sf_dir: str, state) -> DataFrame:
    """PQ code tables maintained under embedding CDC — the maintenance
    leg of the IVF-PQ lifecycle (``llm_embedding_pq_adc`` builds,
    ``llm_embedding_ivf_pq`` serves, this maintains): per-subspace
    codebooks are FROZEN from the old state (the production cadence —
    codebooks retrain on a slow schedule, per-batch maintenance
    re-encodes only the change batch against the frozen set), and the
    (subspace, code, vec_id) membership is a signed multiplicity —
    pre-images (−1, old vector → old code) and post-images (+1, new
    vector → new code) move vectors between codes; the fixture's
    negation update deterministically relocates them. Per-batch work
    is |Δ| broadcast-argmin encodes + an index-sized merge; the corpus
    is never re-encoded. Summary certifies every (subspace, code)
    bucket with a count + id-checksum."""
    from ..functions import similarity
    from .curation import _km_assign
    from .llm_pipeline import _PQ_M, _PQ_SUBDIM

    cat = SignedDeltaCatalog(spark, sf_dir)
    arr = similarity.as_double_array("embedding")
    cbs, codes = _pq_state(cat, state(cat, "embeddings"))

    sgn = cat.signed_changes("embeddings").selectExpr(
        "vec_id", f"{arr} AS v", SIGN
    )
    outs = []
    for m in range(_PQ_M):
        s = m * _PQ_SUBDIM + 1
        cb_m = cbs.where(F.col("subspace") == m).select("cell", "c")
        stored = (
            codes.where(F.col("subspace") == m)
            .select("code", "vec_id")
            .withColumn("_w", F.lit(1))
        )
        # the Δ images encoded against the SAME frozen codebook, each
        # weighted by its CDC sign
        d_base = sgn.selectExpr(
            "vec_id", f"slice(v, {s}, {_PQ_SUBDIM}) AS v", SIGN
        )
        plus = (
            _km_assign(d_base.where(f"{SIGN} > 0").select("vec_id", "v"), cb_m)
            .selectExpr("cell AS code", "vec_id")
            .withColumn("_w", F.lit(1))
        )
        minus = (
            _km_assign(d_base.where(f"{SIGN} < 0").select("vec_id", "v"), cb_m)
            .selectExpr("cell AS code", "vec_id")
            .withColumn("_w", F.lit(-1))
        )
        live = _net_multiplicity(
            stored, plus.unionByName(minus), "code", "vec_id"
        )
        outs.append(
            live.groupBy("code").agg(
                F.count("*").cast("bigint").alias("n_vecs"),
                F.sum("vec_id").cast("bigint").alias("vec_checksum"),
            ).selectExpr(
                f"CAST({m} AS INT) AS subspace",
                "CAST(code AS INT) AS code",
                "n_vecs",
                "vec_checksum",
            )
        )
    return reduce(lambda a, b: a.unionByName(b), outs)


q_signed_pq_maintenance = partial(_signed_pq, state=_recompute)
q_signed_pq_stored = partial(_signed_pq, state=_stored)


def _signed_pq_oracle() -> str:
    from .llm_pipeline import _PQ_K, _PQ_M, _PQ_SUBDIM

    d2 = (
        "list_dot_product({v}, {v}) - 2 * list_dot_product({v}, {c})"
        " + list_dot_product({c}, {c})"
    )
    blocks = []
    selects = []
    for m in range(_PQ_M):
        s = m * _PQ_SUBDIM + 1
        e = s + _PQ_SUBDIM - 1
        blocks.append(f"""vo{m} AS (SELECT vec_id, v[{s}:{e}] AS v FROM vold),
seeds{m} AS (
  SELECT CAST(vec_id AS INT) AS cell, v AS c FROM vo{m}
  WHERE vec_id < {_PQ_K}
),
a1_{m} AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell, {d2.format(v="v", c="c")} AS d2
    FROM vo{m} CROSS JOIN seeds{m}
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) = 1
),
ex{m} AS (
  SELECT cell, unnest(v) AS x, unnest(generate_series(1, len(v))) AS d
  FROM a1_{m}
),
cq{m} AS (
  SELECT cell, d,
         CAST(sum(CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
           / (1e6 * count(*)) AS mn
  FROM ex{m} GROUP BY cell, d
),
cents{m} AS (SELECT cell, list(mn ORDER BY d) AS c FROM cq{m} GROUP BY cell),
code{m} AS (
  SELECT vec_id, cell AS code FROM (
    SELECT q.vec_id, ct.cell, {d2.format(v="q.v", c="ct.c")} AS d2
    FROM (SELECT vec_id, v[{s}:{e}] AS v FROM vnew) q
    CROSS JOIN cents{m} ct
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) = 1
)""")
        selects.append(
            f"SELECT CAST({m} AS INT) AS subspace, CAST(code AS INT) AS code,"
            f" CAST(count(*) AS BIGINT) AS n_vecs,"
            f" CAST(sum(vec_id) AS BIGINT) AS vec_checksum"
            f" FROM code{m} GROUP BY code"
        )
    union = "\nUNION ALL\n".join(selects)
    return f"""
WITH vold AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM ({_old_sql("embeddings")})
),
vnew AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM ({_new_sql("embeddings")})
),
{",".join(blocks)}
{union}
"""


def _pq_subspaces(frame):
    """(m, 16-dim slice) views of a (vec_id, v) frame — the shared
    subspace split of every PQ consumer in this module."""
    from .llm_pipeline import _PQ_M, _PQ_SUBDIM

    for m in range(_PQ_M):
        yield m, frame.selectExpr(
            "vec_id", f"slice(v, {m * _PQ_SUBDIM + 1}, {_PQ_SUBDIM}) AS v"
        )


def _pq_state(cat: SignedDeltaCatalog, load):
    """The compression half of the maintained (IVF-)PQ index:
    (per-subspace codebooks, (subspace, code, vec_id) code table) of
    the OLD snapshot. Shared — same state names, same builders — by the
    PQ and IVF-PQ bodies."""
    from ..functions import similarity
    from .curation import _km_assign, _km_centroids
    from .llm_pipeline import _PQ_K

    arr = similarity.as_double_array("embedding")
    old_v = cat.old("embeddings").selectExpr("vec_id", f"{arr} AS v")

    def build_codebooks():
        outs = [
            _km_centroids(sub, _PQ_K).selectExpr(
                f"CAST({m} AS INT) AS subspace", "cell", "c"
            )
            for m, sub in _pq_subspaces(old_v)
        ]
        return reduce(lambda a, b: a.unionByName(b), outs)

    cbs = load("pq_codebooks", build_codebooks)

    def build_codes():
        outs = [
            _km_assign(
                sub, cbs.where(F.col("subspace") == m).select("cell", "c")
            ).selectExpr(
                f"CAST({m} AS INT) AS subspace", "cell AS code", "vec_id"
            )
            for m, sub in _pq_subspaces(old_v)
        ]
        return reduce(lambda a, b: a.unionByName(b), outs)

    return cbs, load("pq_codes", build_codes)


# -- Stored IVF-PQ composed index maintained under embedding CDC -------


def _signed_ivfpq(spark: SparkSession, sf_dir: str, state) -> DataFrame:
    """The COMPOSED IVF-PQ index — the structure the serving query
    ``llm_embedding_ivf_pq`` reads (cells prune the scan, codes
    compress it) — maintained under embedding CDC; the registry binds
    it to the stored state source only. This closes the one index family whose maintained
    composition wasn't a registered row: the coarse-quantizer half
    (centroids + (cell, vec_id) assignment) and the compression half
    (per-subspace codebooks + (subspace, code, vec_id) code table)
    are the SAME state relations ``_ivf_state`` and ``_pq_state``
    give the IVF and PQ maintainers — identical state names and
    builders, so the stored composition adds NO new corpus-sized
    build; a warm cache serves all four tables from disk.

    Maintained relation: the composed membership
    (cell, subspace, code, vec_id) — M rows per live vector, i.e. the
    posting a cell-pruned ADC scan actually touches. Per-run cost:
    encode the CDC batch's pre/post images against BOTH frozen halves
    (Δ-sized broadcast argmax for the cell, broadcast argmin per
    subspace for the code — pre-images re-encode to the OLD location
    and retract with −1, post-images insert at the new one with +1,
    so an update relocates its M rows exactly), then one signed
    multiplicity merge against the stored join and an index-sized
    summary per (cell, subspace, code) bucket with a count and
    id-checksum.

    Scale shape: both frozen halves are broadcast-sized (n_cells and
    M·K rows); the stored join is co-partitionable on vec_id (at
    100 TB both state tables bucket by vec_id, making the compose a
    local zipper); the merge groups index-sized data, never raw
    vectors — the corpus is not rescanned and the summary is
    n_cells · M · K rows. Frozen-index semantics (centroids and
    codebooks retrain on a slow schedule) are the production cadence,
    same as the IVF and PQ maintainers."""
    from ..functions import similarity
    from .curation import _km_assign

    cat = SignedDeltaCatalog(spark, sf_dir)
    arr = similarity.as_double_array("embedding")
    load = state(cat, "embeddings")
    cents, assign = _ivf_state(cat, load)
    cbs, codes = _pq_state(cat, load)

    # stored composed membership: (cell, subspace, code, vec_id), one
    # equi join of the two state tables — index-sized, no vectors
    stored = (
        assign.join(codes, "vec_id")
        .select("cell", "subspace", "code", "vec_id")
        .withColumn("_w", F.lit(1))
    )

    def _composed_images(img: DataFrame, w: int) -> DataFrame:
        """(cell, subspace, code, vec_id, ±1) rows of one image class
        (pre or post), both halves encoded from the SAME image — the
        per-class split keeps a pre-image's old cell from pairing
        with its post-image's new codes."""
        withn = img.selectExpr(
            "vec_id", "v", f"{similarity.norm('v')} AS nv"
        )
        cell = similarity._best_cell(withn, cents, "v", "nv").select(
            "vec_id", "cell"
        )
        code_parts = [
            _km_assign(
                sub, cbs.where(F.col("subspace") == m).select("cell", "c")
            ).selectExpr(
                "vec_id", f"CAST({m} AS INT) AS subspace", "cell AS code"
            )
            for m, sub in _pq_subspaces(img)
        ]
        code_all = reduce(lambda a, b: a.unionByName(b), code_parts)
        return (
            cell.join(code_all, "vec_id")
            .select("cell", "subspace", "code", "vec_id")
            .withColumn("_w", F.lit(w))
        )

    sgn = cat.signed_changes("embeddings").selectExpr(
        "vec_id", f"{arr} AS v", SIGN
    )
    plus = _composed_images(
        sgn.where(f"{SIGN} > 0").select("vec_id", "v"), 1
    )
    minus = _composed_images(
        sgn.where(f"{SIGN} < 0").select("vec_id", "v"), -1
    )

    live = _net_multiplicity(
        stored, plus.unionByName(minus), "cell", "subspace", "code", "vec_id"
    )
    return live.groupBy("cell", "subspace", "code").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum("vec_id").cast("bigint").alias("vec_checksum"),
    )


q_signed_ivfpq_stored = partial(_signed_ivfpq, state=_stored)


def _signed_ivfpq_oracle() -> str:
    """Exact NEW-state recomputation of the composed index: IVF
    centroids (seeded assignment → quantized means) and per-subspace
    PQ codebooks both trained on the OLD snapshot — frozen-index
    semantics — then the NEW snapshot assigned to cells and codes and
    summarized per composed bucket. The cell recipe is shared with
    ``_signed_ivf_oracle``, the codebook blocks with
    ``_signed_pq_oracle``."""
    from .llm_pipeline import _IVF_CELLS, _IVF_COS, _PQ_K, _PQ_M, _PQ_SUBDIM

    d2 = (
        "list_dot_product({v}, {v}) - 2 * list_dot_product({v}, {c})"
        " + list_dot_product({c}, {c})"
    )
    blocks = []
    code_selects = []
    for m in range(_PQ_M):
        s = m * _PQ_SUBDIM + 1
        e = s + _PQ_SUBDIM - 1
        blocks.append(f"""vo{m} AS (SELECT vec_id, v[{s}:{e}] AS v FROM vold),
seeds{m} AS (
  SELECT CAST(vec_id AS INT) AS cell, v AS c FROM vo{m}
  WHERE vec_id < {_PQ_K}
),
a1_{m} AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell, {d2.format(v="v", c="c")} AS d2
    FROM vo{m} CROSS JOIN seeds{m}
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) = 1
),
ex{m} AS (
  SELECT cell, unnest(v) AS x, unnest(generate_series(1, len(v))) AS d
  FROM a1_{m}
),
cq{m} AS (
  SELECT cell, d,
         CAST(sum(CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
           / (1e6 * count(*)) AS mn
  FROM ex{m} GROUP BY cell, d
),
cents{m} AS (SELECT cell, list(mn ORDER BY d) AS c FROM cq{m} GROUP BY cell),
code{m} AS (
  SELECT vec_id, cell AS code FROM (
    SELECT q.vec_id, ct.cell, {d2.format(v="q.v", c="ct.c")} AS d2
    FROM (SELECT vec_id, v[{s}:{e}] AS v FROM vnew) q
    CROSS JOIN cents{m} ct
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) = 1
)""")
        code_selects.append(
            f"SELECT vec_id, CAST({m} AS INT) AS subspace,"
            f" CAST(code AS INT) AS code FROM code{m}"
        )
    code_union = "\nUNION ALL\n".join(code_selects)
    return f"""
WITH vold AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM ({_old_sql("embeddings")})
),
vnew AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM ({_new_sql("embeddings")})
),
iseeds AS (
  SELECT CAST(vec_id AS INT) AS cell, v AS c FROM vold
  WHERE vec_id IN (SELECT vec_id FROM vold ORDER BY vec_id LIMIT {_IVF_CELLS})
),
ia1 AS (
  SELECT vec_id, v, cell FROM (
    SELECT vold.vec_id, vold.v, s.cell,
           {_IVF_COS.format(a='vold.v', b='s.c')} AS sim
    FROM vold CROSS JOIN iseeds s
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) = 1
),
iex AS (SELECT cell, unnest(v) AS x, unnest(generate_series(1, len(v))) AS d FROM ia1),
icm AS (
  SELECT cell, d,
         CAST(sum(CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
           / (1e6 * count(*)) AS m
  FROM iex GROUP BY cell, d
),
icents AS (SELECT cell, list(m ORDER BY d) AS c FROM icm GROUP BY cell),
idx AS (
  SELECT vec_id, cell FROM (
    SELECT vnew.vec_id, ct.cell,
           {_IVF_COS.format(a='vnew.v', b='ct.c')} AS sim
    FROM vnew CROSS JOIN icents ct
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) = 1
),
{",".join(blocks)},
codeall AS ({code_union})
SELECT i.cell, ca.subspace, ca.code,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(ca.vec_id) AS BIGINT) AS vec_checksum
FROM idx i JOIN codeall ca ON i.vec_id = ca.vec_id
GROUP BY i.cell, ca.subspace, ca.code
"""


# -- Stored SemDeDup ledger maintained under embedding CDC -------------
#
# The r12 registration llm_dedup_semantic is batch-only; this gives
# SemDeDup the signed lifecycle every other stored dedup index here
# has (r12 verdict item 5). Centroids are FROZEN from the stored
# (old) state — the production cadence: centroids refresh on a slow
# schedule, per-batch maintenance assigns changes against the frozen
# set. State is per-(cell, vec_id) membership multiplicity; the CDC
# batch's pre-images (−1, OLD embedding → old cell) and post-images
# (+1, NEW embedding → new cell) move vectors between cells (the
# fixture update negates embeddings, deterministically relocating
# them), and the dedup LEDGER (lowest-id-keeper drop rule) is
# repaired for TOUCHED cells only — untouched cells' stored rows pass
# through an anti join byte-identical, so repair work is
# O(|Δ| · cluster_size), never a corpus rescan.


def _signed_semdedup(
    spark: SparkSession, sf_dir: str, state, specs=None, k: int | None = None
) -> DataFrame:
    """``k`` frozen cells (default ``curation._KMEANS_K``); the state
    names carry it, so two cell counts never share stored state."""
    from ..functions import similarity
    from .curation import _KMEANS_K, _km_assign, _km_centroids, _ledger_of

    k = _KMEANS_K if k is None else k
    cat = SignedDeltaCatalog(spark, sf_dir, specs)
    load = state(cat, "embeddings")
    arr = similarity.as_double_array("embedding")
    old_v = cat.old("embeddings").selectExpr("vec_id", f"{arr} AS v")
    cents = load(  # FROZEN, k rows
        f"semdedup_cents_k{k}", lambda: _km_centroids(old_v, k)
    )
    # the old vectors' frozen-centroid assignment feeds two state
    # relations: (vec_id, cell) — all a deployment stores; vectors live
    # in the base table — and the per-cluster keeper ledger
    assign_old = load(
        f"semdedup_assign_k{k}",
        lambda: _km_assign(old_v, cents).select("vec_id", "cell"),
    )
    ledger_old = load(
        f"semdedup_ledger_k{k}",
        lambda: _ledger_of(
            _km_assign(old_v, cents).selectExpr(
                "vec_id", "cell", "v", f"{similarity.norm('v')} AS nrm"
            )
        ),
    )
    stored = assign_old.select("cell", "vec_id").withColumn(
        "_w", F.lit(1)
    )
    sgn = cat.signed_changes("embeddings").selectExpr(
        "vec_id", f"{arr} AS v", SIGN
    )
    # pre- and post-images assign independently (an update's two rows
    # share vec_id but carry different vectors → different cells)
    plus = _km_assign(
        sgn.where(f"{SIGN} > 0").select("vec_id", "v"), cents
    ).select("cell", "vec_id").withColumn("_w", F.lit(1))
    minus = _km_assign(
        sgn.where(f"{SIGN} < 0").select("vec_id", "v"), cents
    ).select("cell", "vec_id").withColumn("_w", F.lit(-1))
    delta = plus.unionByName(minus)
    # Δ-sized; eager localCheckpoint breaks the shared-cents lineage
    # before it joins frames derived from the same parents (the r12
    # same-lineage ambiguity trap)
    touched = delta.select("cell").distinct().localCheckpoint(eager=True)

    live = _net_multiplicity(stored, delta, "cell", "vec_id")
    new_v = cat.new("embeddings").selectExpr("vec_id", f"{arr} AS v")
    repaired = _ledger_of(
        live.join(F.broadcast(touched), "cell", "left_semi")
        .select("cell", "vec_id")
        .join(new_v, "vec_id")
        .selectExpr(
            "vec_id", "cell", "v", f"{similarity.norm('v')} AS nrm"
        )
    )
    untouched = ledger_old.join(
        F.broadcast(
            touched.selectExpr("CAST(cell AS INT) AS cluster_id")
        ),
        "cluster_id",
        "left_anti",
    )
    return untouched.unionByName(repaired)


def _signed_semdedup_oracle(k: int | None = None, spec=None) -> str:
    from .curation import _KMEANS_K, _SEMDEDUP_TAU

    if k is None:
        k = _KMEANS_K
    d2 = (
        "list_dot_product({v}, {v}) - 2 * list_dot_product({v}, {c})"
        " + list_dot_product({c}, {c})"
    )
    return f"""
WITH vold AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM ({_old_sql("embeddings", spec)})
),
seeds AS (
  SELECT CAST(vec_id AS INT) AS cell, v AS c FROM vold
  WHERE vec_id < {k}
),
a1 AS (
  SELECT vec_id, v, cell, d2 FROM (
    SELECT vec_id, v, cell, {d2.format(v="v", c="c")} AS d2
    FROM vold CROSS JOIN seeds
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) = 1
),
ex AS (
  SELECT cell, unnest(v) AS x, unnest(generate_series(1, len(v))) AS d
  FROM a1
),
cm AS (
  SELECT cell, d,
         CAST(sum(CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
           / (1e6 * count(*)) AS m
  FROM ex GROUP BY cell, d
),
cents AS (SELECT cell, list(m ORDER BY d) AS c FROM cm GROUP BY cell),
vnew AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM ({_new_sql("embeddings", spec)})
),
a2 AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell, {d2.format(v="v", c="c")} AS d2
    FROM vnew CROSS JOIN cents
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) = 1
),
n AS (
  SELECT a2.vec_id, a2.cell, vnew.v,
         sqrt(list_dot_product(vnew.v, vnew.v)) AS nrm
  FROM a2 JOIN vnew USING (vec_id)
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE CAST(floor((list_dot_product(a.v, b.v) / (a.nrm * b.nrm)) * 1e6
             + 0.5) AS DOUBLE) / 1e6 >= {_SEMDEDUP_TAU}
)
SELECT CAST(n.cell AS INT) AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(count(d.vec_id) AS BIGINT) AS n_dropped,
       CAST(coalesce(sum(CASE WHEN d.vec_id IS NULL THEN n.vec_id END), 0)
            AS BIGINT) AS survivor_checksum,
       CAST(coalesce(sum(CASE WHEN d.vec_id IS NOT NULL THEN n.vec_id END),
            0) AS BIGINT) AS dropped_checksum
FROM n LEFT JOIN dropped d ON n.vec_id = d.vec_id
GROUP BY n.cell
"""


# SPARSE regime for SemDeDup confinement (the r14 verdict's honest
# caveat on the stored row: the registered embeddings spec relocates
# ~30% of vectors, so with K=8 cells EVERY cell is touched and the
# anti-join pass-through carries nothing — "the sparse win needs
# K ≫ touched"). This spec changes ~0.3% of vectors (mod-1024
# classes) against K=64 frozen cells, so the touched set is a small
# fraction of the cells and the untouched ledger genuinely passes
# through the anti join — the 100 TB confinement, finally measurable
# on the fixture.
_SPARSE_EMB_SPECS = {
    "embeddings": CDC_SPECS["embeddings"].__class__(
        insert_pred="vec_id % 1024 = 0",
        delete_pred="vec_id % 1024 = 1",
        update_pred="vec_id % 1024 = 2",
        update_set=CDC_SPECS["embeddings"].update_set,
        update_set_duckdb=CDC_SPECS["embeddings"].update_set_duckdb,
    ),
}
_SEMDEDUP_SPARSE_K = 64

q_signed_semdedup_maintenance = partial(_signed_semdedup, state=_recompute)
q_signed_semdedup_stored = partial(_signed_semdedup, state=_stored)
# The sparse regime: ~0.3% of vectors change against K=64 frozen cells,
# so the touched-cell semi join confines the intra-cluster pair repair
# to a small cell fraction and the stored ledger's anti-join
# pass-through carries the rest. Own sparse exact oracle.
q_signed_semdedup_sparse = partial(
    _signed_semdedup, state=_stored, specs=_SPARSE_EMB_SPECS,
    k=_SEMDEDUP_SPARSE_K,
)


# -- Stored BM25 index maintained under document CDC -------------------
#
# The ranked-retrieval sibling of the boolean inverted-index
# maintainer: BM25 state is (token, doc_id) TERM-FREQUENCY
# multiplicity plus a per-doc length relation — both maintain by pure
# sign-weighted integer merges. An updated document contributes
# (pre-image tokens, −tf) and (post-image tokens, +tf); tokens whose
# frequency is unchanged cancel in the net sum, so the merge touches
# only postings that actually changed — O(|Δ| postings). Corpus stats
# (N, avgdl) and per-term df re-derive from the MAINTAINED relations
# (index-sized aggregates, never a corpus re-tokenize), and the
# top-20 ranking replays the exact quantized scoring of
# llm_bm25_search over them.


def _signed_bm25(spark: SparkSession, sf_dir: str, state) -> DataFrame:
    from ..functions import text as _text
    from .llm_pipeline import _BM25_NTERMS, _BM25_TOPK, _bm25_rank, _bm25_tf

    cat = SignedDeltaCatalog(spark, sf_dir)
    load = state(cat, "documents")
    # state: tf postings + doc lengths of the old corpus
    stored_tf = load("bm25_tf", lambda: _bm25_tf(cat.old("documents")))
    stored_dl = load(
        "bm25_dl",
        lambda: stored_tf.groupBy("doc_id").agg(
            F.sum("tf").cast("bigint").alias("w_dl")
        ),
    )
    sgn_docs = cat.signed_changes("documents")
    # per-image tokenize: an update's pre and post rows share doc_id
    # but tokenize separately, each token occurrence weighted by its
    # image's sign — net tf per (token, doc) after the merge is
    # exactly the new state's tf
    norm = _text.norm_text("text")
    d_tf = (
        sgn_docs.selectExpr(
            "doc_id", f"explode(split({norm}, ' ')) AS token", SIGN
        )
        .where("length(token) >= 3")
        .groupBy("doc_id", "token")
        .agg(F.sum(SIGN).cast("bigint").alias("w_tf"))
    )
    live_tf = (
        stored_tf.selectExpr("doc_id", "token", "tf AS w_tf")
        .unionByName(d_tf)
        .groupBy("doc_id", "token")
        .agg(F.sum("w_tf").cast("bigint").alias("tf"))
        .where("tf > 0")
    )
    d_dl = d_tf.groupBy("doc_id").agg(
        F.sum("w_tf").cast("bigint").alias("w_dl")
    )
    live_dl = (
        stored_dl.unionByName(d_dl)
        .groupBy("doc_id")
        .agg(F.sum("w_dl").cast("bigint").alias("dl"))
        .where("dl > 0")
    )
    # query planning against the MAINTAINED index: top-df terms
    # (bounded 3-row driver decision, as in the batch query)
    terms = [
        r["token"]
        for r in live_tf.groupBy("token")
        .count()
        .orderBy(F.desc("count"), F.asc("token"))
        .limit(_BM25_NTERMS)
        .collect()
    ]
    lists = live_tf.where(F.col("token").isin(terms)).select(
        "token", "doc_id", "tf"
    )
    return _bm25_rank(lists, live_dl, _BM25_TOPK)


q_signed_bm25_maintenance = partial(_signed_bm25, state=_recompute)
q_signed_bm25_stored = partial(_signed_bm25, state=_stored)


def _signed_bm25_oracle() -> str:
    from .llm_pipeline import _bm25_oracle

    return _bm25_oracle(f"({_new_sql('documents')})")


# -- Stored inverted-index maintenance under document CDC --------------
#
# The posting-list index q_text_inverted_index_search STORES (distinct
# (token, doc_id) postings, bucket-partitioned by md5(token) % 16)
# maintained under the documents CDC batch instead of rebuilt: the
# same per-(token, doc) multiplicity pattern as every other stored
# index here. An updated doc contributes (pre, −1) and (post, +1)
# posting rows; tokens shared by both versions cancel in the net sum,
# so the merge touches only postings that actually changed — O(|Δ|
# postings), never the corpus. This was the one stored index without
# a signed twin (r10 verdict gap #3).


def _signed_inverted_index(
    spark: SparkSession, sf_dir: str, state
) -> DataFrame:
    from ..functions import text
    from .llm_pipeline import _norm_df

    cat = SignedDeltaCatalog(spark, sf_dir)
    load = state(cat, "documents")

    def postings(df: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
        return (
            _norm_df(df, carry)
            .selectExpr(
                "doc_id", f"explode({text.words('norm')}) AS token", *carry
            )
            .where("length(token) >= 3")
        )

    stored = load(
        "inv_postings",
        lambda: postings(cat.old("documents"))
        .select("token", "doc_id")
        .distinct(),
    ).withColumn("_w", F.lit(1))
    sgn = cat.signed_changes("documents")
    delta = (  # net per-(token, doc) PRESENCE change of the batch
        postings(sgn.withColumnRenamed(SIGN, "_w"), carry=("_w",))
        .select("token", "doc_id", "_w")
        .distinct()
    )
    live = _net_multiplicity(stored, delta, "token", "doc_id")
    # Summarize per storage bucket — the same parameterized md5
    # partitioning (fixture 16) the stored index is laid out in, so a
    # green row certifies every bucket directory's post-maintenance
    # content.
    return (
        live.withColumn("bucket", F.expr(token_bucket("token")))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_postings"),
            F.countDistinct("token").cast("bigint").alias("n_tokens"),
            F.sum("doc_id").cast("bigint").alias("doc_checksum"),
        )
    )


q_signed_inverted_index_maintenance = partial(
    _signed_inverted_index, state=_recompute
)
q_signed_inverted_stored = partial(_signed_inverted_index, state=_stored)


def _signed_inverted_index_oracle() -> str:
    # Brute-force index rebuild over the post-change corpus.
    return rf"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
  FROM ({_new_sql("documents")})
),
tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(norm, ' ')) AS token FROM norm
),
tok3 AS (SELECT * FROM tok WHERE length(token) >= 3),
b AS (
  SELECT token, doc_id,
         ((strpos('0123456789abcdef', substring(md5(token), 1, 1)) - 1) * 16
          + strpos('0123456789abcdef', substring(md5(token), 2, 1)) - 1)
           % 16 AS bucket
  FROM tok3
)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_postings,
       CAST(count(DISTINCT token) AS BIGINT) AS n_tokens,
       CAST(sum(doc_id) AS BIGINT) AS doc_checksum
FROM b GROUP BY bucket
"""




# -- Positional (phrase) index maintenance under document CDC ----------
#
# The signed twin of llm_pipeline.q_text_phrase_search's stored
# positional index: per-(token, doc, pos) multiplicity. An edit's
# unchanged PREFIX cancels exactly (same token at the same position in
# pre and post images); only the shifted tail survives the net sum —
# so the merge is O(|Δ| tokens), and the stored side never rescans.


def _signed_phrase_index(
    spark: SparkSession, sf_dir: str, state
) -> DataFrame:
    from ..functions import text
    from .llm_pipeline import _norm_df

    cat = SignedDeltaCatalog(spark, sf_dir)
    load = state(cat, "documents")

    def pos_postings(df: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
        # text.words, not an inline split: tokenization stays
        # single-sourced with the batch-side index builders
        return (
            _norm_df(df, carry)
            .selectExpr("doc_id", f"{text.words('norm')} AS w", *carry)
            .selectExpr("doc_id", "posexplode(w) AS (pos0, token)", *carry)
            .selectExpr(
                "doc_id", "token",
                "CAST(pos0 + 1 AS BIGINT) AS pos", *carry,
            )
            .where("length(token) >= 3")
        )

    stored = load(
        "phrase_postings",
        lambda: pos_postings(cat.old("documents")).select(
            "token", "doc_id", "pos"
        ),
    ).withColumn("_w", F.lit(1))
    sgn = cat.signed_changes("documents")
    delta = pos_postings(
        sgn.withColumnRenamed(SIGN, "_w"), carry=("_w",)
    ).select("token", "doc_id", "pos", "_w")
    # (doc_id, pos) is unique within one doc version, so no distinct:
    # pre(-1)/post(+1) rows at identical (token, pos) cancel directly.
    live = _net_multiplicity(stored, delta, "token", "doc_id", "pos")
    return (
        live.withColumn("bucket", F.expr(token_bucket("token")))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_postings"),
            F.countDistinct("token").cast("bigint").alias("n_tokens"),
            F.sum("doc_id").cast("bigint").alias("doc_checksum"),
            F.sum("pos").cast("bigint").alias("pos_checksum"),
        )
    )


q_signed_phrase_index_maintenance = partial(
    _signed_phrase_index, state=_recompute
)
q_signed_phrase_stored = partial(_signed_phrase_index, state=_stored)


def _signed_phrase_index_oracle() -> str:
    return rf"""
WITH norm AS (
  SELECT doc_id, string_split(
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM ({_new_sql("documents")})
),
pos AS (
  SELECT doc_id, w[i] AS token, CAST(i AS BIGINT) AS pos
  FROM norm, unnest(generate_series(1, len(w))) AS g(i)
  WHERE length(w[i]) >= 3
),
b AS (
  SELECT token, doc_id, pos,
         ((strpos('0123456789abcdef', substring(md5(token), 1, 1)) - 1) * 16
          + strpos('0123456789abcdef', substring(md5(token), 2, 1)) - 1)
           % 16 AS bucket
  FROM pos
)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_postings,
       CAST(count(DISTINCT token) AS BIGINT) AS n_tokens,
       CAST(sum(doc_id) AS BIGINT) AS doc_checksum,
       CAST(sum(pos) AS BIGINT) AS pos_checksum
FROM b GROUP BY bucket
"""




# -- Duplicate-SPAN table maintained under document CDC ----------------
#
# The maintenance twin of llm_pipeline.q_llm_dedup_substring: the
# stored state is (a) the gram-position relation GP(doc_id, i, g) and
# (b) the per-gram occurrence count C(g) it derives — both maintain by
# sign-weighted integer merges (an edit's unchanged PREFIX cancels
# exactly: same gram at the same position in pre and post images), so
# the merge is O(|Δ| grams). The span table itself is NOT signed-linear
# (a gram crossing the >= 2 occurrence threshold re-islands every doc
# that holds it), so the repair is delta-SCOPED: spans are recomputed
# only for the AFFECTED docs — the CDC batch's docs plus live holders
# of a gram whose duplicated-status flipped — and every other doc's
# stored spans carry over through an anti join. Affected-set size is
# bounded by the change batch's gram fan-out, never the corpus.


def _dupspan_parts(
    spark: SparkSession, sf_dir: str, state, specs=None
) -> dict[str, DataFrame]:
    from .llm_pipeline import (
        _gram_positions,
        _shared,
        _spans_from_positions,
    )

    cat = SignedDeltaCatalog(spark, sf_dir, specs)
    load = state(cat, "documents")

    # single-sourced tokenization: the maintainer MUST gram exactly
    # like the batch detector (llm_pipeline._gram_positions) or the
    # maintained state silently desynchronizes from the oracle
    gram_pos = _gram_positions

    # state: gram positions, per-gram counts, and the span table of the
    # old corpus. The recompute binding pins the gram positions, which
    # the counts, the spans and both scoped merges below all derive
    # from: unpinned, the spans still match the DuckDB oracle, but
    # comparing them with a same-session rebuild
    # (test_dupspan_repair_is_scoped_and_complete) fails — the
    # same-lineage hazard described at the line-dedup maintainer
    gp_old = load(
        "dupspan_gp", lambda: _shared(gram_pos(cat.old("documents")))
    )
    stored_gp = gp_old.withColumn("_w", F.lit(1))
    old_cnt = load(
        "dupspan_cnt",
        lambda: gp_old.groupBy("g").agg(
            F.count("*").cast("bigint").alias("c_old")
        ),
    )
    old_spans = load(
        "dupspan_spans",
        lambda: _spans_from_positions(
            gp_old.join(old_cnt.where("c_old >= 2").select("g"), "g")
            .select("doc_id", "i")
        ),
    )

    sgn = cat.signed_changes("documents")
    d_gp = _shared(
        gram_pos(sgn.withColumnRenamed(SIGN, "_w"), carry=("_w",))
    )
    # count maintenance: index-sized merge of the stored counts with
    # the batch's net per-gram weight — never a corpus re-scan
    d_cnt = d_gp.groupBy("g").agg(F.sum("_w").cast("bigint").alias("dc"))
    new_cnt = (
        old_cnt.join(d_cnt, "g", "full_outer")
        .selectExpr(
            "g",
            "coalesce(c_old, 0) AS c_old",
            "coalesce(c_old, 0) + coalesce(dc, 0) AS c_new",
        )
    )
    flipped = new_cnt.where("(c_old >= 2) != (c_new >= 2)").select("g")
    touched = sgn.select("doc_id").distinct()
    live_dup = new_cnt.where("c_new >= 2").select("g")

    # SCOPED merges: the global (doc_id, i, g) groupBy commutes with
    # restriction, so the two consumers each net-sum only the rows they
    # need — flipped grams' holders (shuffle volume = the flipped
    # grams' posting mass) and affected docs' grams (shuffle volume =
    # the affected docs' token mass). (doc_id, i) is unique within one
    # doc version → pre(-1)/post(+1) rows at identical (i, g) cancel
    # directly, no distinct needed. The stored gp scan stays
    # corpus-sized (a deployment would bucket the table by md5(g) for
    # pruned reads, like the inverted index); what this plan removes is
    # the corpus-sized (doc, i, g) SHUFFLE — even under the dense
    # registered spec (~1/3 of docs touched) the restricted merges
    # shuffle less than the full corpus merge did.
    hf_live = _net_multiplicity(
        stored_gp.join(flipped, "g", "left_semi"),
        d_gp.join(flipped, "g", "left_semi"),
        "doc_id", "i", "g",
    )
    affected = _shared(
        touched.unionByName(hf_live.select("doc_id")).distinct()
    )
    live_aff = _net_multiplicity(
        stored_gp.join(affected, "doc_id", "left_semi"),
        d_gp.join(affected, "doc_id", "left_semi"),
        "doc_id", "i", "g",
    )
    # scoped repair: re-island ONLY affected docs against the
    # maintained dup-gram set; everyone else's spans carry over
    respans = _spans_from_positions(
        live_aff.join(live_dup, "g").select("doc_id", "i")
    )
    carried = old_spans.join(affected, "doc_id", "left_anti")
    return {
        "affected": affected,
        "carried": carried,
        "respans": respans,
        "old_spans": old_spans,
    }


def _signed_dupspan(
    spark: SparkSession, sf_dir: str, state, specs=None
) -> DataFrame:
    p = _dupspan_parts(spark, sf_dir, state, specs)
    return p["carried"].unionByName(p["respans"])


# Sparse-CDC regime for the stored dup-span maintainer (~3% of docs
# instead of the registered spec's third): the dense fixture flips
# gram thresholds replica-wide, making the affected set — and so any
# repair — corpus-proportional BY CONSTRUCTION, which hides what the
# stored + scoped plan buys. The 100 TB case is a bounded batch; this
# spec pins those economics with its own exact oracle, the same
# pattern as signed_triangle_sparse / signed_sessionize_sparse.
_DUPSPAN_SPARSE_SPECS = {
    "documents": CdcSpec(
        insert_pred="doc_id % 100 = 0",
        delete_pred="doc_id % 100 = 1",
        update_pred="doc_id % 100 = 2",
        update_set={"text": "concat(text, ' r8')"},
    )
}

q_signed_dupspan_maintenance = partial(_signed_dupspan, state=_recompute)
# The production shape: stored state under the sparse spec, so the
# per-run cost tracks the batch's gram fan-out, never the corpus.
# Exact oracle over the sparse-spec post-state.
q_signed_dupspan_stored = partial(
    _signed_dupspan, state=_stored, specs=_DUPSPAN_SPARSE_SPECS
)


def _signed_dupspan_oracle() -> str:
    from .llm_pipeline import _substring_span_oracle

    return _substring_span_oracle(f"({_new_sql('documents')})")


def _signed_dupspan_stored_oracle() -> str:
    from .llm_pipeline import _substring_span_oracle

    return _substring_span_oracle(
        f"({_new_sql('documents', _DUPSPAN_SPARSE_SPECS['documents'])})"
    )


# -- Triangle count maintained under lineitem CDC ----------------------
#
# Incremental graph analytics in the signed layer: the co-purchase
# graph of relational.q_graph_triangle_count is DERIVED (an edge (u,v)
# exists while >= 1 order contains both parts), so the maintained
# state is the per-edge SUPPORT multiplicity — the house signed
# pattern — and the distinct-edge graph changes only when a support
# count crosses zero. The triangle delta then uses the exact
# inclusion-exclusion identity
#
#   tri(G_new) − tri(G_old) = T_{G_new}(A) − T_{G_old}(R)
#
# where A/R are the added/removed edge sets and T_G(D) counts DISTINCT
# triangles of G containing >= 1 edge of D (a triangle with edges in
# both A and R exists in neither graph and drops out of both terms;
# untouched triangles cancel). Both T terms anchor their wedge
# enumeration ON THE DELTA EDGES — candidate volume is
# Σ_{(u,v)∈Δ} |N(u) ∩ N(v)|, batch-proportional, never a full
# triangle recount. The CDC spec's updates change only
# l_extendedprice, so their pair contributions cancel identically in
# the support merge — only genuine line inserts/deletes can flip an
# edge.


def _copurchase_pairs(li: DataFrame) -> DataFrame:
    """Distinct (order, u < v) part pairs of a lineitem slice — the
    edge-support generator shared by the recompute and stored-state
    triangle maintainers (and bounded per order by C(lines, 2)).

    One grouped pass, not a self-join: collect each order's distinct
    part set (map-side partial aggregation, rows-in = the slice, rows
    shuffled = one narrow row per order) and expand the sorted set to
    its C(n, 2) pairs row-locally. The previous self-join +
    ``distinct`` shape paid a broadcast build of the whole slice plus
    a pair-sized (ok, u, v) exchange to dedupe — ~3× the shuffle bytes
    for the same output (guide §2.3/§2.4; row-identical, verified
    against the join form at sf0.001/0.01)."""
    return (
        li.groupBy("l_orderkey")
        .agg(F.expr("array_sort(collect_set(l_partkey))").alias("ps"))
        .select(
            F.col("l_orderkey").alias("ok"),
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "y -> struct(x AS u, y AS v))))"
                )
            ).alias("p"),
        )
        .select("ok", "p.u", "p.v")
    )


def _tri_touching(edges: DataFrame, delta: DataFrame) -> DataFrame:
    """1-row count of DISTINCT triangles of ``edges`` containing
    >= 1 ``delta`` edge — wedges anchored on the delta edge, the
    candidate volume Σ_{(u,v)∈Δ} |N(u) ∩ N(v)|; the full graph is
    never re-enumerated.

    r18 shape: the common-neighbor step is a row-local
    ``array_intersect`` of the two endpoints' grouped neighbor
    lists instead of the r17 wedge hash join keyed on (x, n).
    That join built a hash over the WHOLE symmetrized adjacency
    (2|E| entries) and pushed Σ_{(u,v)∈Δ} deg(u) probe rows
    through an exchange per T-term; with the registered 30%-churn
    spec that intermediate dominated the query (probe: 113 s CPU
    across the family). Grouping the adjacency once per T-term
    (one node-keyed exchange, payload 2|E| ints) and intersecting
    per delta edge emits only the CLOSED wedges — the Σ deg(u)
    stream never exists. Row-identical by construction: the old
    plan's (a, b, c) rows are exactly (u, v, n) with n a common
    neighbor, which is what the sorted-set intersection yields
    (pinned by test_tri_touching_matches_wedge_join). shuffle_hash
    on the two endpoint joins as in r17 — the neighbor-list
    relation grows with the graph, so broadcast is not the
    100 TB shape. (The r17 endpoint semi-reduction negative still
    stands and stays out.)"""
    from .llm_pipeline import _shared

    adj = edges.selectExpr("u AS x", "v AS n").unionAll(
        edges.selectExpr("v AS x", "u AS n")
    )
    # persisted: referenced by BOTH endpoint joins — without the
    # pin the groupBy subtree plans twice and whether it executes
    # once is an exchange-reuse lottery (the r17 prefix-filter
    # finding).
    nbrs = _shared(
        adj.groupBy("x").agg(
            F.expr("array_sort(collect_set(n))").alias("ns")
        )
    )
    cand = (
        delta.alias("d")
        .hint("shuffle_hash")
        .join(
            nbrs.selectExpr("x AS xu", "ns AS nsu").hint(
                "shuffle_hash"
            ),
            F.col("d.u") == F.col("xu"),
        )
        .join(
            nbrs.selectExpr("x AS xv", "ns AS nsv").hint(
                "shuffle_hash"
            ),
            F.col("d.v") == F.col("xv"),
        )
        .select(
            F.col("d.u").alias("a"),
            F.col("d.v").alias("b"),
            F.explode(F.expr("array_intersect(nsu, nsv)")).alias(
                "c"
            ),
        )
    )
    tri = cand.selectExpr(
        "least(a, least(b, c)) AS t1",
        "CAST(a AS BIGINT) + b + c - least(a, least(b, c)) "
        "- greatest(a, greatest(b, c)) AS t2",
        "greatest(a, greatest(b, c)) AS t3",
    ).distinct()
    return tri.agg(F.count("*").cast("bigint").alias("n"))


def _signed_triangle(
    spark: SparkSession, sf_dir: str, state, specs=None
) -> DataFrame:
    """``specs`` (optional dict of CdcSpec) lets the test suite pin
    the cancellation property under alternative change batches."""
    from .llm_pipeline import _shared

    cat = SignedDeltaCatalog(spark, sf_dir, specs)
    li_old = cat.old("lineitem").select("l_orderkey", "l_partkey")
    li_new = cat.new("lineitem").select("l_orderkey", "l_partkey")
    touched = (
        cat.signed_changes("lineitem").select("l_orderkey").distinct()
    )

    pairs = _copurchase_pairs

    # state: the per-edge support of the old graph
    sup_old = state(cat, "lineitem")(
        "tri_support",
        lambda: pairs(li_old).groupBy("u", "v").agg(F.count("*").alias("s")),
    )
    # scoped support delta: pair sets of TOUCHED orders only, old and
    # new images sign-weighted — a changed line pairs with its order's
    # unchanged lines, so the slice is the touched orders' full line
    # sets (semi join), still batch-proportional
    po = pairs(
        li_old.join(touched, "l_orderkey", "left_semi")
    ).withColumn("_w", F.lit(-1))
    pn = pairs(
        li_new.join(touched, "l_orderkey", "left_semi")
    ).withColumn("_w", F.lit(1))
    dsup = (
        po.unionByName(pn)
        .groupBy("u", "v")
        .agg(F.sum("_w").alias("ds"))
        .where("ds != 0")
    )
    merged = _shared(
        sup_old.join(dsup, ["u", "v"], "full_outer").selectExpr(
            "u",
            "v",
            "coalesce(s, 0) AS s_old",
            "coalesce(s, 0) + coalesce(ds, 0) AS s_new",
        )
    )
    added = merged.where("s_old = 0 AND s_new > 0").select("u", "v")
    removed = merged.where("s_old > 0 AND s_new = 0").select("u", "v")
    e_old = merged.where("s_old > 0").select("u", "v")
    e_new = merged.where("s_new > 0").select("u", "v")

    return (
        e_new.agg(F.count("*").cast("bigint").alias("n_edges_new"))
        .crossJoin(
            added.agg(F.count("*").cast("bigint").alias("n_added_edges"))
        )
        .crossJoin(
            removed.agg(
                F.count("*").cast("bigint").alias("n_removed_edges")
            )
        )
        .crossJoin(
            _tri_touching(e_new, added).selectExpr("n AS _ta")
        )
        .crossJoin(
            _tri_touching(e_old, removed).selectExpr("n AS _tr")
        )
        .selectExpr(
            "n_edges_new",
            "n_added_edges",
            "n_removed_edges",
            "_ta - _tr AS tri_delta",
        )
    )

# Brute force: two full triangle counts (old and new states) plus the
# edge-set diff — the identity the incremental path must land on.
_SIGNED_TRIANGLE_ORACLE_TMPL = """
WITH li_old AS (SELECT l_orderkey, l_partkey FROM ({old_q})),
li_new AS (SELECT l_orderkey, l_partkey FROM ({new_q})),
e_old AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li_old a JOIN li_old b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
e_new AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li_new a JOIN li_new b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
t_old AS (SELECT count(*) AS n FROM e_old e1
          JOIN e_old e2 ON e2.u = e1.u AND e2.v > e1.v
          JOIN e_old e3 ON e3.u = e1.v AND e3.v = e2.v),
t_new AS (SELECT count(*) AS n FROM e_new e1
          JOIN e_new e2 ON e2.u = e1.u AND e2.v > e1.v
          JOIN e_new e3 ON e3.u = e1.v AND e3.v = e2.v)
SELECT CAST((SELECT count(*) FROM e_new) AS BIGINT) AS n_edges_new,
       CAST((SELECT count(*) FROM (SELECT u, v FROM e_new EXCEPT
                                   SELECT u, v FROM e_old)) AS BIGINT)
         AS n_added_edges,
       CAST((SELECT count(*) FROM (SELECT u, v FROM e_old EXCEPT
                                   SELECT u, v FROM e_new)) AS BIGINT)
         AS n_removed_edges,
       CAST((SELECT n FROM t_new) - (SELECT n FROM t_old) AS BIGINT)
         AS tri_delta
"""


def _signed_triangle_oracle() -> str:
    return _SIGNED_TRIANGLE_ORACLE_TMPL.format(
        old_q=_old_sql("lineitem"), new_q=_new_sql("lineitem")
    )


# Sparse-CDC regime (the 100 TB case): ~2% of lines touched instead
# of the registered spec's 30% — the delta-anchored T-terms then cost
# a small fraction of a recount while the identity stays exact. Same
# pattern as signed_sessionize_sparse: the REGISTERED dense spec
# stresses correctness under heavy churn; this row pins the scoped
# economics a bounded batch buys (SCALE.md decade rows for both).
_TRI_SPARSE_SPECS = {
    "lineitem": CdcSpec(
        insert_pred="(l_orderkey * 7 + l_linenumber) % 100 = 0",
        delete_pred="(l_orderkey * 7 + l_linenumber) % 100 = 1",
        update_pred="(l_orderkey * 7 + l_linenumber) % 100 = 2",
        update_set={"l_extendedprice": "l_extendedprice + 100.0"},
    )
}




def _signed_triangle_sparse_oracle() -> str:
    spec = _TRI_SPARSE_SPECS["lineitem"]
    return _SIGNED_TRIANGLE_ORACLE_TMPL.format(
        old_q=_old_sql("lineitem", spec), new_q=_new_sql("lineitem", spec)
    )


q_signed_triangle_maintenance = partial(_signed_triangle, state=_recompute)
q_signed_triangle_sparse = partial(
    _signed_triangle, state=_recompute, specs=_TRI_SPARSE_SPECS
)
# The production configuration: the sparse batch against stored
# support. Under the DENSE spec the T-terms approach a recount by
# construction and the state source is noise; under the sparse one the
# old-support recompute is the dominant cost (SCALE.md r13), so with
# the support on disk every run pays only the stored scan, the
# batch-proportional support delta and the delta-anchored T-terms.
q_signed_triangle_stored = partial(
    _signed_triangle, state=_stored, specs=_TRI_SPARSE_SPECS
)


# -- Line-frequency (boilerplate) state maintained under doc CDC -------
#
# llm_pipeline.q_llm_dedup_lines strips lines appearing in >= _LINE_DF
# distinct documents. The decision state behind that rule — per-(line,
# doc) presence plus the derived per-line distinct-doc count — is a
# stored table in production; this query maintains it under the
# documents CDC batch instead of rebuilding. The interesting part
# beyond the other index twins is the THRESHOLD CROSSING repair: only
# lines whose presence actually changed (net per-(line, doc) weight
# != 0 — an edit's unchanged lines cancel exactly) can enter or leave
# the boilerplate set, so the stored boilerplate COUNT updates by pure
# integer arithmetic (old − left + entered) with O(|Δ| lines) work —
# never a corpus rescan. The full-scan terms below (the presence state,
# old boilerplate count) come through the ``state`` source.


def _signed_line_dedup(
    spark: SparkSession, sf_dir: str, state, specs=None
) -> DataFrame:
    """``specs`` (optional dict of CdcSpec) lets the property suite
    drive the same repair logic under random CDC batches; the
    registered query uses the fixture specs."""
    from .llm_pipeline import _LINE_DF, _line_presence

    cat = SignedDeltaCatalog(spark, sf_dir, specs=specs)
    stored = state(cat, "documents")(
        "linededup_presence", lambda: _line_presence(cat.old("documents"))
    ).withColumn("_w", F.lit(1))
    delta = _line_presence(
        cat.signed_changes("documents").withColumnRenamed(SIGN, "_w"),
        carry=("_w",),
    )
    live = _net_multiplicity(stored, delta, "line", "doc_id")
    # EVERY synopsis frame below is eagerly materialized before any
    # join that combines two of them: all of them descend from the
    # same `stored`/`delta` parents, so their plans carry IDENTICAL
    # attribute ids — and Spark resolves joins between same-lineage
    # derivatives ambiguously (the join key can unify to one
    # attribute, silently inflating counts; observed live in this
    # query's first draft: live_postings 7,227 vs the true 6,442).
    # Checkpointed leaves have fresh attribute ids, so every
    # downstream join is unambiguous by construction. Each frame is
    # Δ-sized or 1 row, so materialization costs ~nothing; at 100 TB
    # these are the stored repair-scope synopses a maintenance job
    # would persist anyway.
    touched = (  # net presence change only (cancelled pairs drop out)
        delta.groupBy("line", "doc_id")
        .agg(F.sum("_w").alias("dw"))
        .where("dw != 0")
        .select("line")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # ONE grouped pass over the stored state serves both consumers
    # (per-touched-line old counts AND the old boilerplate total) —
    # the stored side is the expensive side at scale, never read
    # twice. persist (not checkpoint): the frame is vocabulary-sized,
    # and its two consumers join only LEAF frames (touched, and the
    # 1-row crossJoin factors are themselves checkpointed), so the
    # same-lineage ambiguity cannot arise here.
    from .llm_pipeline import _shared

    old_counts = _shared(
        stored.groupBy("line").agg(F.count("*").alias("ndo"))
    )
    old_nd = old_counts.join(touched, "line")
    new_nd = (
        live.join(touched, "line")
        .groupBy("line")
        .agg(F.count("*").alias("ndn"))
        .localCheckpoint(eager=True)
    )
    x = (
        old_nd.join(new_nd, "line", "full")
        .selectExpr(
            "coalesce(ndo, 0) AS ndo", "coalesce(ndn, 0) AS ndn"
        )
    )
    crossing = x.agg(
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("ndo") < _LINE_DF) & (F.col("ndn") >= _LINE_DF), 1
                )
            ),
            F.lit(0),
        ).alias("entered"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("ndn") < _LINE_DF) & (F.col("ndo") >= _LINE_DF), 1
                )
            ),
            F.lit(0),
        ).alias("left_boiler"),
    ).localCheckpoint(eager=True)
    old_boiler = (
        old_counts.where(f"ndo >= {_LINE_DF}")
        .agg(F.count("*").alias("n_boiler_old"))
        .localCheckpoint(eager=True)
    )
    live_stats = live.agg(
        F.count("*").alias("live_postings")
    ).localCheckpoint(eager=True)
    touched_stats = touched.agg(F.count("*").alias("touched_lines"))
    # every factor is a 1-row materialized frame — crossJoin-safe
    return (
        old_boiler.crossJoin(crossing)
        .crossJoin(live_stats)
        .crossJoin(touched_stats)
        .selectExpr(
            "CAST(n_boiler_old - left_boiler + entered AS BIGINT)"
            " AS n_boiler",
            "CAST(entered AS BIGINT) AS entered",
            "CAST(left_boiler AS BIGINT) AS left_boiler",
            "CAST(touched_lines AS BIGINT) AS touched_lines",
            "CAST(live_postings AS BIGINT) AS live_postings",
        )
    )


def _signed_line_dedup_oracle() -> str:
    from .llm_pipeline import _LINE_DF, _LINE_W

    def lines(src: str) -> str:
        return rf"""SELECT DISTINCT doc_id,
         array_to_string(w[i * {_LINE_W} + 1 : i * {_LINE_W} + {_LINE_W}], ' ')
           AS line
  FROM (SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                            ' ') AS w
        FROM ({src})) ,
       unnest(generate_series(0, (len(w) - 1) // {_LINE_W})) AS g(i)"""

    return f"""
WITH ol AS ({lines(_old_sql("documents"))}),
nl AS ({lines(_new_sql("documents"))}),
tch AS (
  SELECT DISTINCT line FROM (
    (SELECT line, doc_id FROM ol EXCEPT SELECT line, doc_id FROM nl)
    UNION
    (SELECT line, doc_id FROM nl EXCEPT SELECT line, doc_id FROM ol)
  )
),
ond AS (SELECT line, count(*) AS ndo FROM ol GROUP BY line),
nnd AS (SELECT line, count(*) AS ndn FROM nl GROUP BY line),
x AS (
  SELECT coalesce(o.ndo, 0) AS ndo, coalesce(n.ndn, 0) AS ndn
  FROM ond o FULL JOIN nnd n USING (line)
  WHERE line IN (SELECT line FROM tch)
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM nnd WHERE ndn >= {_LINE_DF})
         AS n_boiler,
       CAST(coalesce(sum(CASE WHEN ndo < {_LINE_DF} AND ndn >= {_LINE_DF}
                          THEN 1 END), 0) AS BIGINT) AS entered,
       CAST(coalesce(sum(CASE WHEN ndn < {_LINE_DF} AND ndo >= {_LINE_DF}
                          THEN 1 END), 0) AS BIGINT) AS left_boiler,
       (SELECT CAST(count(*) AS BIGINT) FROM tch) AS touched_lines,
       (SELECT CAST(count(*) AS BIGINT) FROM nl) AS live_postings
FROM x
"""


q_signed_line_dedup_maintenance = partial(
    _signed_line_dedup, state=_recompute
)
q_signed_line_dedup_stored = partial(_signed_line_dedup, state=_stored)


# -- Curation-funnel report maintained under retractions ---------------
#
# The nightly corpus report (operators/curation.q_llm_corpus_funnel)
# maintained instead of recomputed: five of its six counters are
# signed sums of per-row indicators (lang gate, quality gate, both,
# surviving token budget, N) — pure linear partial merge, so a refresh
# scores ONLY the change batch and adds signed partials to the stored
# report row. The sixth, distinct surviving content-hashes, is the
# COUNT DISTINCT case: per-hash multiplicity state among gate-passers,
# netted by the signed batch (an edit moves its hash; deleting the
# last copy of a duplicated text retires the hash). Stored sides are
# recomputed from the old snapshot (this report has no stored binding).


def q_signed_funnel_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text
    from .curation import _NORM, _QUALITY_EXPR_SPARK
    from .llm_pipeline import _DE, _EN, _ES

    cat = SignedDeltaCatalog(spark, sf_dir)

    def scored(df: DataFrame, w_expr: str) -> DataFrame:
        return (
            df.selectExpr(
                "doc_id", "n_chars", f"{_NORM} AS norm",
                f"CAST({w_expr} AS BIGINT) AS _w",
            )
            .selectExpr(
                "doc_id", "n_chars", "norm", "_w",
                f"{text.words('norm')} AS w",
            )
            .selectExpr(
                "norm",
                "_w",
                f"CAST(size(filter(w, x -> x IN {_EN})) AS BIGINT) AS en_hits",
                f"CAST(size(filter(w, x -> x IN {_DE})) AS BIGINT) AS de_hits",
                f"CAST(size(filter(w, x -> x IN {_ES})) AS BIGINT) AS es_hits",
                f"{round_portable(_QUALITY_EXPR_SPARK, 4)} AS q",
                f"CAST(size({text.bpe_tokens('norm')}) AS BIGINT) AS n_bpe",
            )
            .selectExpr(
                "norm",
                "_w",
                "n_bpe",
                "CAST(CASE WHEN en_hits >= de_hits AND en_hits >= es_hits"
                " AND en_hits > 0 THEN 1 ELSE 0 END AS INT) AS lang_ok",
                "CAST(CASE WHEN q >= 0.45 THEN 1 ELSE 0 END AS INT)"
                " AS quality_ok",
            )
        )

    def lin(df: DataFrame) -> DataFrame:
        # The five linear counters as one signed partial row.
        return df.selectExpr(
            "CAST(coalesce(sum(_w), 0) AS BIGINT) AS n_total",
            "CAST(coalesce(sum(lang_ok * _w), 0) AS BIGINT) AS n_lang_pass",
            "CAST(coalesce(sum(quality_ok * _w), 0) AS BIGINT)"
            " AS n_quality_pass",
            "CAST(coalesce(sum(lang_ok * quality_ok * _w), 0) AS BIGINT)"
            " AS n_pass_both",
            "CAST(coalesce(sum(CASE WHEN lang_ok * quality_ok = 1"
            " THEN n_bpe * _w ELSE CAST(0 AS BIGINT) END), 0) AS BIGINT)"
            " AS n_tokens_pass",
        )

    def hashes(df: DataFrame) -> DataFrame:
        return (
            df.where("lang_ok * quality_ok = 1")
            .selectExpr("md5(norm) AS h", "_w")
            .groupBy("h")
            .agg(F.sum("_w").alias("m"))
        )

    old_scored = scored(cat.old("documents"), "1")  # = the stored state
    d_scored = scored(cat.signed_changes("documents"), SIGN)
    merged = (
        lin(old_scored)
        .unionByName(lin(d_scored))
        .selectExpr(
            "CAST(sum(n_total) AS BIGINT) AS n_total",
            "CAST(sum(n_lang_pass) AS BIGINT) AS n_lang_pass",
            "CAST(sum(n_quality_pass) AS BIGINT) AS n_quality_pass",
            "CAST(sum(n_pass_both) AS BIGINT) AS n_pass_both",
            "CAST(sum(n_tokens_pass) AS BIGINT) AS n_tokens_pass",
        )
    )
    live_hashes = (
        hashes(old_scored)
        .unionByName(hashes(d_scored))
        .groupBy("h")
        .agg(F.sum("m").alias("m"))
        .where("m > 0")
    )
    uniq = live_hashes.agg(
        F.count("*").cast("bigint").alias("n_unique_pass")
    )
    return merged.crossJoin(F.broadcast(uniq)).select(
        "n_total", "n_lang_pass", "n_quality_pass", "n_pass_both",
        "n_unique_pass", "n_tokens_pass",
    )


def _signed_funnel_oracle() -> str:
    from .curation import _oracle_corpus_funnel

    return _oracle_corpus_funnel(f'({_new_sql("documents")})')


# -- The STORED maintenance loop as a driver query ---------------------
#
# Everything above emits a maintenance PLAN; this query runs the full
# stored lifecycle — initialize a ContinuousJoinAggregate state table
# (lineitem ⋈ orders, orders static), apply one Delta-CDF change batch
# on the fact side (inserts + deletes + per-line price updates) via
# the signed refresh incl. the delta-scoped min repair, and return
# read() from the PERSISTED state. The oracle is the plain GROUP BY
# over the post-change join, so a green row certifies the whole loop:
# parse → fragment compile → signed partial fold → one state write →
# final derivation. A fresh temp state dir per invocation keeps the
# query idempotent (the driver may run it repeatedly); all state dirs
# live under ONE atexit-cleaned root, and each call prunes all but
# the most recent few, so repeated runs never accumulate state on the
# host while a harness that BUILDS several stored-lifecycle
# DataFrames lazily before collecting them still finds every live
# query's state on disk.

_CAGG_TMP_ROOT: list[str] = []
_CAGG_KEEP = 8  # > number of stored-lifecycle driver queries


def _cagg_state_dir() -> str:
    import atexit
    import os
    import shutil
    import tempfile
    import uuid

    if not _CAGG_TMP_ROOT:
        root = tempfile.mkdtemp(prefix="dfdq_cagg_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _CAGG_TMP_ROOT.append(root)
    root = _CAGG_TMP_ROOT[0]
    prev = sorted(
        (os.path.join(root, d) for d in os.listdir(root)),
        key=os.path.getmtime,
    )
    for stale in prev[: max(0, len(prev) - (_CAGG_KEEP - 1))]:
        shutil.rmtree(stale, ignore_errors=True)
    return os.path.join(root, uuid.uuid4().hex, "state")

_CAGG_SQL = (
    "SELECT o.o_orderpriority, count(*) AS n_lines, "
    "sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS cents, "
    "min(l.l_extendedprice) AS min_price "
    "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
    "WHERE l.l_quantity > 5 "
    "GROUP BY o.o_orderpriority"
)


def q_signed_continuous_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table
    from .continuous_agg import ContinuousJoinAggregate

    cat = SignedDeltaCatalog(spark, sf_dir)
    view = ContinuousJoinAggregate(
        spark,
        _cagg_state_dir(),
        _CAGG_SQL,
        fact="lineitem",
        dims={"orders": load_table(spark, sf_dir, "orders")},
    )
    view.initialize(cat.old("lineitem"))
    view.refresh_signed(
        cat.cdf_changes("lineitem"), base_new_df=cat.new("lineitem")
    )
    return view.read()


_CAGG_ORACLE = f"""
SELECT o.o_orderpriority, count(*) AS n_lines,
       CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS cents,
       min(l.l_extendedprice) AS min_price
FROM ({_new_sql("lineitem")}) l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_quantity > 5
GROUP BY o.o_orderpriority
"""


def q_signed_continuous_count_distinct(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The stored count(DISTINCT) lifecycle: initialize the pair-
    multiplicity state from the old snapshot, apply ONE CDF batch
    (order inserts/deletes plus updates that rewrite the grouping key
    — pairs MOVE between groups), read from the persisted tables. The
    oracle is the plain GROUP BY over the post-change state, so a
    green row certifies pair netting, pair/group death, and the
    derived count(*)."""
    from .continuous_agg import ContinuousDistinctAggregate

    cat = SignedDeltaCatalog(spark, sf_dir)
    view = ContinuousDistinctAggregate(
        spark,
        _cagg_state_dir(),
        "SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_custs, "
        "count(*) AS n_orders FROM orders GROUP BY o_orderpriority",
    )
    view.initialize(cat.old("orders"))
    view.refresh_signed(cat.cdf_changes("orders"))
    return view.read()


_CCD_ORACLE = f"""
SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_custs,
       count(*) AS n_orders
FROM ({_new_sql("orders")})
GROUP BY o_orderpriority
"""


def q_signed_continuous_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored top-k lifecycle: initialize the per-priority top-3
    leaderboard from the old snapshot, apply ONE CDF batch (inserts +
    deletes + price/priority updates — deletes evict stored leaders
    whose runner-ups only the base still holds; priority rewrites move
    rows between leaderboards), read from the persisted state. Oracle:
    window-ranked top-3 over the post-change snapshot with the same
    deterministic tie-break."""
    from .continuous_agg import ContinuousTopK

    cat = SignedDeltaCatalog(spark, sf_dir)
    view = ContinuousTopK(
        spark,
        _cagg_state_dir(),
        ["o_orderpriority"],
        "o_totalprice",
        3,
        ["o_orderkey"],
    )
    view.initialize(cat.old("orders"))
    view.refresh_signed(
        cat.cdf_changes("orders"), base_new_df=cat.new("orders")
    )
    return view.read().selectExpr(
        "o_orderpriority",
        "o_orderkey",
        "round(o_totalprice, 2) AS total",
    )


_CTOPK_ORACLE = f"""
SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS total
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM ({_new_sql("orders")})
) WHERE rk <= 3
"""


def q_signed_continuous_agg_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The slowly-changing-dimension lifecycle: the stored join view
    initializes with the OLD orders dim and the full (static) lineitem
    fact, then ONE dim-side CDF batch (order inserts + deletes +
    updates, incl. priority rewrites that move every joined line
    between groups) ripples through ``refresh_dim_signed`` —
    Δ(fact ⋈ dims) = fact ⋈ Δdim, signs riding the dim side, min
    repaired two-tier against the post-change join. The oracle is the
    plain GROUP BY over lineitem ⋈ post-change orders, so a green row
    certifies the maintained path end-to-end."""
    from ..catalog import load_table
    from .continuous_agg import ContinuousJoinAggregate

    cat = SignedDeltaCatalog(spark, sf_dir)
    fact = load_table(spark, sf_dir, "lineitem")
    view = ContinuousJoinAggregate(
        spark,
        _cagg_state_dir(),
        _CAGG_SQL,
        fact="lineitem",
        dims={"orders": cat.old("orders")},
    )
    view.initialize(fact)
    view.refresh_dim_signed(
        "orders",
        cat.cdf_changes("orders"),
        fact_df=fact,
        dim_new_df=cat.new("orders"),
    )
    return view.read()


_CAGG_DIM_ORACLE = f"""
SELECT o.o_orderpriority, count(*) AS n_lines,
       CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS cents,
       min(l.l_extendedprice) AS min_price
FROM lineitem l
JOIN ({_new_sql("orders")}) o ON l.l_orderkey = o.o_orderkey
WHERE l.l_quantity > 5
GROUP BY o.o_orderpriority
"""


_CASCADE_SQL = (
    "SELECT date_trunc('hour', ts) AS bucket_h, event_type, "
    "count(*) AS n_events, "
    "sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS value_cents, "
    "min(value) AS min_value "
    "FROM events GROUP BY date_trunc('hour', ts), event_type"
)


def q_continuous_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cascading-rollup lifecycle (hypertable hour → day): an
    HOURLY continuous aggregate maintained from one events CDF batch
    (inserts + deletes + value updates, min repaired two-tier), and a
    DAILY view maintained FROM the hourly view's stored partials —
    the daily refresh re-merges only the touched days' hourly rows and
    never reads raw events. The oracle is the direct daily GROUP BY
    over the post-change events, so a green row certifies the whole
    two-tier chain: signed hourly merge → touched-day re-aggregation →
    touched-day replace → finals."""
    from .continuous_agg import ContinuousRollupCascade

    cat = SignedDeltaCatalog(spark, sf_dir)
    view = ContinuousRollupCascade(
        spark,
        _cagg_state_dir(),
        _CASCADE_SQL,
        fine_key="bucket_h",
        coarse_key="bucket_d",
        coarse_expr="date_trunc('day', bucket_h)",
    )
    view.initialize(cat.old("events"))
    view.refresh_signed(
        cat.cdf_changes("events"), base_new_df=cat.new("events")
    )
    return view.read()


_CASCADE_ORACLE = f"""
SELECT date_trunc('day', ts) AS bucket_d, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS value_cents,
       min(value) AS min_value
FROM ({_new_sql("events")})
GROUP BY 1, 2
"""


def q_continuous_rollup_cascade3(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The THREE-level cascade (hypertable hour → day → month): the
    month tier refreshes from the DAY tier's stored partials — ≤31
    day rows per touched month, never the day count × 24 hourly rows
    and never raw events — so each extra tier costs O(touched groups
    × fan-in) regardless of corpus size. One events CDF batch
    (inserts + deletes + updates, min repaired two-tier at the fine
    tier only) propagates hour → day → month; the oracle is the
    direct MONTHLY GROUP BY over the post-change events, so a green
    row certifies the whole chain including the second re-merge."""
    from .continuous_agg import ContinuousRollupCascade

    cat = SignedDeltaCatalog(spark, sf_dir)
    view = ContinuousRollupCascade(
        spark,
        _cagg_state_dir(),
        _CASCADE_SQL,
        fine_key="bucket_h",
        coarse_key="bucket_d",
        coarse_expr="date_trunc('day', bucket_h)",
        more_levels=[("bucket_m", "date_trunc('month', bucket_d)")],
    )
    view.initialize(cat.old("events"))
    view.refresh_signed(
        cat.cdf_changes("events"), base_new_df=cat.new("events")
    )
    return view.read_coarsest()


_CASCADE3_ORACLE = f"""
SELECT date_trunc('month', ts) AS bucket_m, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS value_cents,
       min(value) AS min_value
FROM ({_new_sql("events")})
GROUP BY 1, 2
"""


_CUBE_SQL = (
    "SELECT priority_g, status_g, count(*) AS n_orders, "
    "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents, "
    "min(o_totalprice) AS min_price "
    "FROM orders GROUP BY priority_g, status_g"
)


def q_signed_continuous_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored-CUBE lifecycle: one state table holding all four
    grouping sets over (priority, status) — margins included — built
    by expanding each row into its grouping-set contributions through
    the ``_project`` hook, then maintained by ONE orders CDF batch
    (inserts + deletes + priority rewrites that move rows between cube
    cells AND adjust both margins; min repaired two-tier, the
    threatened global margin recomputing from the post-change base).
    Oracle: DuckDB ``GROUP BY CUBE`` over the post-change snapshot
    with the same sentinel coalescing."""
    from .continuous_agg import ContinuousCube

    cat = SignedDeltaCatalog(spark, sf_dir)
    view = ContinuousCube(
        spark,
        _cagg_state_dir(),
        _CUBE_SQL,
        {"priority_g": "o_orderpriority", "status_g": "o_orderstatus"},
    )
    view.initialize(cat.old("orders"))
    view.refresh_signed(
        cat.cdf_changes("orders"), base_new_df=cat.new("orders")
    )
    return view.read()


_CUBE_ORACLE = f"""
SELECT coalesce(o_orderpriority, '(all)') AS priority_g,
       coalesce(o_orderstatus, '(all)') AS status_g,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS cents,
       min(o_totalprice) AS min_price
FROM ({_new_sql("orders")})
GROUP BY CUBE(o_orderpriority, o_orderstatus)
"""


def q_cdf_checkpoint_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full checkpoint + vacuum lifecycle over a stored CDF log
    (``sources/versioned.CdfVersionedTable``): commit v0 = the old
    orders snapshot as inserts, v1 = the deterministic CDC batch
    (inserts + deletes + updates per ``plans.signed.CDC_SPECS``);
    CHECKPOINT v0 (materialize its state — a Delta log checkpoint),
    VACUUM (the v0 commit dir is deleted; its state now lives only in
    the checkpoint), then time-travel to v1. The snapshot therefore
    folds checkpoint + ONLY the tail commit — the 100 TB log-folding
    discipline — and the oracle is the post-change orders state
    computed independently, so a green row certifies checkpoint
    materialization, vacuum safety, and the tail-only signed fold in
    one pass. Reference parity: delta_node.rs:63-109 marks CDF scans
    logically but stores nothing; this is the stored realization."""
    from ..sources.versioned import CdfVersionedTable

    cat = SignedDeltaCatalog(spark, sf_dir)
    t = CdfVersionedTable(_cagg_state_dir())
    t.write_version(
        cat.old("orders").withColumn("_change_type", F.lit("insert"))
    )
    t.write_version(cat.cdf_changes("orders"))
    t.checkpoint(spark, 0)
    t.vacuum()  # removes the v0 commit; state survives in the checkpoint
    snap = t.snapshot(spark, 1)
    assert all("v=00000000" not in f for f in snap.inputFiles())
    return snap.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("total"),
        "o_orderdate",
        "o_orderpriority",
    )


_CDF_CKPT_ORACLE = f"""
SELECT o_orderkey, o_custkey, o_orderstatus,
       round(o_totalprice, 2) AS total, o_orderdate, o_orderpriority
FROM ({_new_sql("orders")})
"""


_RETENTION_CUT = "1998-01-01"


def q_continuous_agg_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retention lifecycle (TimescaleDB ``drop_chunks``): a stored
    per-year aggregate partitioned on the year key initializes from
    the old snapshot, DROPS the pre-{cut} partitions (directory
    deletes, recorded policy), then absorbs one signed CDF batch —
    whose straggler rows for dropped years are filtered at merge time
    instead of resurrecting partial groups — and reads back from disk.
    The oracle aggregates the post-change state restricted to the
    retention window, so a green row certifies the drop, the recorded
    policy, and the in-window signed merge in one pass."""
    from .continuous_agg import ContinuousAggregate

    cat = SignedDeltaCatalog(spark, sf_dir)
    sql = (
        "SELECT date_trunc('year', o_orderdate) AS yr, "
        "count(*) AS n_orders, "
        "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents "
        "FROM orders GROUP BY date_trunc('year', o_orderdate)"
    )
    view = ContinuousAggregate(
        spark, _cagg_state_dir(), sql, partition_on=["yr"]
    )
    view.initialize(cat.old("orders"))
    view.drop_chunks(f"yr < '{_RETENTION_CUT}'")
    view.refresh_signed(cat.cdf_changes("orders"))
    return view.read().select(
        F.date_format("yr", "yyyy").alias("yr"),
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("cents").cast("bigint").alias("cents"),
    )


q_continuous_agg_retention.__doc__ = q_continuous_agg_retention.__doc__.format(
    cut=_RETENTION_CUT
)

_RETENTION_ORACLE = f"""
SELECT strftime(date_trunc('year', o_orderdate), '%Y') AS yr,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS cents
FROM ({_new_sql("orders")})
WHERE o_orderdate >= '{_RETENTION_CUT}'
GROUP BY 1
"""


_RT_CAGG_SQL = (
    "SELECT event_type, count(*) AS n_events, "
    "sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents, "
    "min(value) AS min_value "
    "FROM events "
    "GROUP BY event_type"
)


def q_continuous_agg_realtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimescaleDB REAL-TIME aggregate: the materialized view answers
    a query that is AHEAD of its refresh watermark by merging stored
    partials with partials of the un-materialized tail at read time —
    no refresh, no write. Lifecycle inline: initialize on the base
    split (event_id % 10 != 0), then ``read_real_time(tail)`` with
    the held-out 10%% tail; the state directory's (name, size, mtime)
    listing is snapshotted around the read and asserted byte-for-byte
    unchanged, so a green row certifies both the merged answer (the
    oracle aggregates the WHOLE table) and the read-only contract.
    At 100 TB this is the always-fresh dashboard read: one partial
    aggregation over the tail (∝ tail size) + one combine pass over
    state, zero write amplification."""
    import os

    from ..catalog import load_table
    from .continuous_agg import ContinuousAggregate

    ev = load_table(spark, sf_dir, "events")
    path = _cagg_state_dir()
    view = ContinuousAggregate(spark, path, _RT_CAGG_SQL)
    view.initialize(ev.where("event_id % 10 != 0"))

    def listing() -> list[tuple]:
        return sorted(
            (n, os.path.getsize(os.path.join(path, n)),
             os.path.getmtime(os.path.join(path, n)))
            for n in os.listdir(path)
        )

    before = listing()
    out = view.read_real_time(ev.where("event_id % 10 = 0"))
    out.count()  # force one execution inside the read-only audit
    assert listing() == before, "real-time read must not touch state"
    return out


_RT_CAGG_ORACLE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents,
       min(value) AS min_value
FROM events GROUP BY event_type
"""


_FORGET_SQL = (
    "SELECT event_type, count(*) AS n_events, "
    "sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents, "
    "min(value) AS min_value, max(value) AS max_value "
    "FROM events "
    "GROUP BY event_type"
)

# Deterministic "data subject" cohort: ~1% of users.
_FORGET_PRED = "user_id % 97 = 0"


def q_pipeline_forget_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten through the signed layer: a stored
    aggregate (count/sum/min/max per event type) is initialized over
    the FULL events history, then ONE CDF delete batch — every row of
    the ~1%% user cohort — propagates through ``refresh_signed``.
    count/sum retract algebraically; min/max ride the two-tier
    repair: the groups the cohort retracts from recompute from their
    post-change base slice, and only where the cohort held the stored
    extremum does the recompute replace it. The oracle aggregates
    events WITHOUT the cohort: a green row certifies the erasure is
    COMPLETE in the derived state (the compliance property — no
    residue of the subject's rows in any group), not just that some
    rows vanished. At 100 TB this is the GDPR erasure job: work ∝
    |subject's rows| + the base slices of the groups they touch, never a
    full recompute of the view."""
    from ..catalog import load_table
    from .continuous_agg import ContinuousAggregate

    ev = load_table(spark, sf_dir, "events")
    view = ContinuousAggregate(spark, _cagg_state_dir(), _FORGET_SQL)
    view.initialize(ev)
    erase = ev.where(_FORGET_PRED).withColumn(
        "_change_type", F.lit("delete")
    )
    view.refresh_signed(
        erase, base_new_df=ev.where(f"NOT ({_FORGET_PRED})")
    )
    return view.read()


_FORGET_ORACLE = f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents,
       min(value) AS min_value, max(value) AS max_value
FROM events WHERE NOT ({_FORGET_PRED}) GROUP BY event_type
"""


# -- Maintained train/valid/test split ledger under retractions --------
#
# The training-export bookkeeping (curation.q_llm_split_train_holdout)
# as a STORED aggregate maintained under document CDC: per-(lang,
# split) doc counts and text mass. The split is a pure hash of doc_id,
# so a document's split NEVER changes across updates — updates cancel
# in the count (pre −1 / post +1, same group) and net only the text
# mass (the CDC appends ' r8'); inserts and deletes move both. The
# signed merge therefore repairs the ledger touching only the groups
# the batch actually hit — at 100 TB, O(|Δ|), never a corpus rescan.


def q_signed_split_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .curation import _split_case_spark

    cat = SignedDeltaCatalog(spark, sf_dir)
    stored = (
        cat.old("documents")
        .withColumn("split", _split_case_spark())
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("p_n"),
            F.sum(F.length("text")).alias("p_chars"),
        )
    )
    d = (
        cat.signed_changes("documents")
        .withColumn("split", _split_case_spark())
        .groupBy("lang", "split")
        .agg(
            F.sum(SIGN).alias("p_n"),
            F.sum(F.length("text") * F.col(SIGN)).alias("p_chars"),
        )
    )
    return (
        stored.unionByName(d)
        .groupBy("lang", "split")
        .agg(
            F.sum("p_n").cast("bigint").alias("n_docs"),
            F.sum("p_chars").cast("bigint").alias("text_chars"),
        )
        .where(F.col("n_docs") > 0)
    )


def _signed_split_oracle() -> str:
    from .curation import _duck_u16

    u16 = _duck_u16("split:", "doc_id")
    return f"""
WITH post AS (
  SELECT lang, text,
         CASE WHEN ({u16}) < 52429 THEN 'train'
              WHEN ({u16}) < 58982 THEN 'valid'
              ELSE 'test' END AS split
  FROM ({_new_sql("documents")})
)
SELECT lang, split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS text_chars
FROM post GROUP BY lang, split
"""


def queries_and_oracles():
    queries = {
        "signed_projection_filter": q_signed_projection_filter,
        "signed_join": q_signed_join,
        "signed_agg_maintenance": q_signed_agg_maintenance,
        "signed_count_distinct": q_signed_count_distinct,
        "signed_minmax": q_signed_minmax,
        "signed_outer_join": q_signed_outer_join,
        "signed_sql_frontend": q_signed_sql_frontend,
        "signed_semi_join": q_signed_semi_join,
        "signed_topk": q_signed_topk,
        "signed_join_agg": q_signed_join_agg,
        "signed_sql_agg": q_signed_sql_agg,
        "signed_sql_join_agg": q_signed_sql_join_agg,
        "signed_sql_outer_join_agg": q_signed_sql_outer_join_agg,
        "signed_sql_outer_chain_agg": q_signed_sql_outer_chain_agg,
        "signed_sql_snowflake_chain_agg": q_signed_sql_snowflake_chain_agg,
        "signed_dedup_maintenance": q_signed_dedup_maintenance,
        "signed_cross_join": q_signed_cross_join,
        "signed_union": q_signed_union,
        "signed_lsh_maintenance": q_signed_lsh_maintenance,
        # the round-16 stored twins, registered r17 (window slots in
        # the rotation ledger). signed_winnow_stored is deliberately
        # ABSENT: the quiet sf0.1 A/B measured it slower than its
        # recompute sibling (1.70 vs 1.28 s — scanning the
        # pre-exploded (fp, doc_id) state from parquet costs more
        # than the Arrow-vectorized corpus re-fingerprint; SCALE.md
        # round-16 notes), so it stays a tested negative per the
        # triangle-indexed precedent (tests/test_pending_parity.py).
        "signed_lsh_stored": q_signed_lsh_stored,
        "signed_ann_stored": q_signed_ann_stored,
        "signed_cluster_stored": q_signed_cluster_stored,
        "signed_ivf_stored": q_signed_ivf_stored,
        "signed_phash_maintenance": q_signed_phash_maintenance,
        "signed_ann_maintenance": q_signed_ann_maintenance,
        "signed_cluster_maintenance": q_signed_cluster_maintenance,
        "signed_winnow_maintenance": q_signed_winnow_maintenance,
        "signed_histogram_maintenance": q_signed_histogram_maintenance,
        "signed_split_maintenance": q_signed_split_maintenance,
        "signed_quantile_maintenance": q_signed_quantile_maintenance,
        "signed_sessionize_maintenance": q_signed_sessionize_maintenance,
        "signed_sessionize_sparse": q_signed_sessionize_sparse,
        "signed_sessionize_stored": q_signed_sessionize_stored,
        "signed_tfidf_maintenance": q_signed_tfidf_maintenance,
        "signed_tfidf_stored": q_signed_tfidf_stored,
        "signed_ivf_maintenance": q_signed_ivf_maintenance,
        "signed_semdedup_maintenance": q_signed_semdedup_maintenance,
        "signed_semdedup_stored": q_signed_semdedup_stored,
        "signed_semdedup_sparse": q_signed_semdedup_sparse,
        "signed_pq_maintenance": q_signed_pq_maintenance,
        "signed_pq_stored": q_signed_pq_stored,
        "signed_ivfpq_stored": q_signed_ivfpq_stored,
        "signed_bm25_stored": q_signed_bm25_stored,
        "signed_dupspan_stored": q_signed_dupspan_stored,
        "signed_bm25_maintenance": q_signed_bm25_maintenance,
        "signed_inverted_index_maintenance": q_signed_inverted_index_maintenance,
        "signed_inverted_stored": q_signed_inverted_stored,
        "signed_phrase_index_maintenance": q_signed_phrase_index_maintenance,
        "signed_phrase_stored": q_signed_phrase_stored,
        "signed_dupspan_maintenance": q_signed_dupspan_maintenance,
        "signed_triangle_maintenance": q_signed_triangle_maintenance,
        "signed_triangle_sparse": q_signed_triangle_sparse,
        "signed_triangle_stored": q_signed_triangle_stored,
        "signed_line_dedup_maintenance": q_signed_line_dedup_maintenance,
        "signed_line_dedup_stored": q_signed_line_dedup_stored,
        "signed_funnel_maintenance": q_signed_funnel_maintenance,
        "signed_continuous_agg": q_signed_continuous_agg,
        "continuous_agg_realtime": q_continuous_agg_realtime,
        "pipeline_forget_user": q_pipeline_forget_user,
        "signed_continuous_agg_dim": q_signed_continuous_agg_dim,
        "signed_continuous_count_distinct": q_signed_continuous_count_distinct,
        "signed_continuous_topk": q_signed_continuous_topk,
        "continuous_rollup_cascade": q_continuous_rollup_cascade,
        "continuous_rollup_cascade3": q_continuous_rollup_cascade3,
        "signed_continuous_cube": q_signed_continuous_cube,
        "cdf_checkpoint_snapshot": q_cdf_checkpoint_snapshot,
        "continuous_agg_retention": q_continuous_agg_retention,
    }
    oracles = {
        "signed_projection_filter": _PF_ORACLE,
        "signed_join": _JOIN_ORACLE,
        "signed_agg_maintenance": _AGG_ORACLE,
        "signed_count_distinct": _CD_ORACLE,
        "signed_minmax": _MINMAX_ORACLE,
        "signed_outer_join": _OUTER_ORACLE,
        "signed_sql_frontend": _SQL_ORACLE,
        "signed_semi_join": _SEMI_ORACLE,
        "signed_topk": _TOPK_ORACLE,
        "signed_join_agg": _JOIN_AGG_ORACLE,
        "signed_sql_agg": _SQL_AGG_ORACLE,
        "signed_sql_join_agg": _SQL_JOIN_AGG_ORACLE,
        "signed_sql_outer_join_agg": _SQL_OUTER_AGG_ORACLE,
        "signed_sql_outer_chain_agg": _SQL_OUTER_CHAIN_ORACLE,
        "signed_sql_snowflake_chain_agg": _SQL_SNOWFLAKE_CHAIN_ORACLE,
        "signed_dedup_maintenance": _DEDUP_ORACLE,
        "signed_cross_join": _CROSS_ORACLE,
        "signed_union": _UNION_ORACLE,
        "signed_lsh_maintenance": _signed_lsh_oracle(),
        "signed_lsh_stored": _signed_lsh_oracle(),
        "signed_ann_stored": _signed_ann_oracle(),
        "signed_cluster_stored": _signed_cluster_oracle(),
        "signed_ivf_stored": _signed_ivf_oracle(),
        "signed_phash_maintenance": _SIGNED_PHASH_ORACLE,
        "signed_ann_maintenance": _signed_ann_oracle(),
        "signed_cluster_maintenance": _signed_cluster_oracle(),
        "signed_winnow_maintenance": _signed_winnow_oracle(),
        "signed_histogram_maintenance": _SH_ORACLE,
        "signed_split_maintenance": _signed_split_oracle(),
        "signed_quantile_maintenance": _SQ_ORACLE,
        "signed_sessionize_maintenance": _SESS_ORACLE,
        "signed_sessionize_sparse": _SESS_SPARSE_ORACLE,
        "signed_sessionize_stored": _sessionize_stored_oracle(),
        "signed_tfidf_maintenance": _signed_tfidf_oracle(),
        "signed_tfidf_stored": _signed_tfidf_oracle(),
        "signed_ivf_maintenance": _signed_ivf_oracle(),
        "signed_semdedup_maintenance": _signed_semdedup_oracle(),
        "signed_semdedup_stored": _signed_semdedup_oracle(),
        "signed_semdedup_sparse": _signed_semdedup_oracle(
            _SEMDEDUP_SPARSE_K, _SPARSE_EMB_SPECS["embeddings"]
        ),
        "signed_pq_maintenance": _signed_pq_oracle(),
        "signed_pq_stored": _signed_pq_oracle(),
        "signed_ivfpq_stored": _signed_ivfpq_oracle(),
        "signed_bm25_stored": _signed_bm25_oracle(),
        "signed_dupspan_stored": _signed_dupspan_stored_oracle(),
        "signed_bm25_maintenance": _signed_bm25_oracle(),
        "signed_inverted_index_maintenance": _signed_inverted_index_oracle(),
        "signed_inverted_stored": _signed_inverted_index_oracle(),
        "signed_phrase_index_maintenance": _signed_phrase_index_oracle(),
        "signed_phrase_stored": _signed_phrase_index_oracle(),
        "signed_dupspan_maintenance": _signed_dupspan_oracle(),
        "signed_triangle_maintenance": _signed_triangle_oracle(),
        "signed_triangle_sparse": _signed_triangle_sparse_oracle(),
        "signed_triangle_stored": _signed_triangle_sparse_oracle(),
        "signed_line_dedup_maintenance": _signed_line_dedup_oracle(),
        "signed_line_dedup_stored": _signed_line_dedup_oracle(),
        "signed_funnel_maintenance": _signed_funnel_oracle(),
        "signed_continuous_agg": _CAGG_ORACLE,
        "continuous_agg_realtime": _RT_CAGG_ORACLE,
        "pipeline_forget_user": _FORGET_ORACLE,
        "signed_continuous_agg_dim": _CAGG_DIM_ORACLE,
        "signed_continuous_count_distinct": _CCD_ORACLE,
        "signed_continuous_topk": _CTOPK_ORACLE,
        "continuous_rollup_cascade": _CASCADE_ORACLE,
        "continuous_rollup_cascade3": _CASCADE3_ORACLE,
        "signed_continuous_cube": _CUBE_ORACLE,
        "cdf_checkpoint_snapshot": _CDF_CKPT_ORACLE,
        "continuous_agg_retention": _RETENTION_ORACLE,
    }
    return queries, oracles
