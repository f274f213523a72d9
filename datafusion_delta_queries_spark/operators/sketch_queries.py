"""Oracle-exact approximate NDV: the portable register-level HLL.

Closes the one approximate-aggregate gap in the driver surface: the
DataSketches HLL path (functions/sketches.py, ``ndv_partial``/
``ndv_merge``) has implementation-defined register state, so its
estimates can never be checked against another engine. The portable
realization (``hll_portable_registers``) derives registers from md5
hex strings with pure-SQL string ops — identical in Spark and DuckDB —
so the register table and its integer summaries are exact driver
oracle rows, while estimator QUALITY is gated by error-bound tests
(tests/test_sketches.py), the same split as IVF ANN.

Reference parity: the reference has no approximate aggregates at all
(its expression surface is the DataFusion built-ins reachable from
optimizer_rules/mod.rs); this extends the engine the way SURVEY §2.3's
"beyond the reference" rows do.

100 TB posture:
- Register build is one narrow groupBy(group, bucket) with map-side
  combine: the shuffle carries at most 256 rows per group regardless
  of input row count, and every expression is a JVM built-in.
- Maintenance state is the register table itself — ≤ 256 rows/group,
  max-mergeable, so a refresh hashes ONLY the delta batch and merges
  ≤ 2×256 rows/group (``q_delta_hll_maintenance``). History is never
  rescanned; this is the fixed-size-state alternative to the exact
  pair-multiplicity tables in operators/continuous_agg.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.sketches import (
    hll_merge_registers,
    hll_portable_registers,
    hll_summary,
)
from ..sources.state import StateStore

_GROUP = "o_orderpriority"
_VALUE = "o_custkey"
_SPLIT = "1999-01-01"

# DuckDB rendition of the identical register computation. `strpos` on a
# 16-char alphabet replaces Spark's conv(); the rho CASE mirrors
# functions/sketches.py bit for bit (md5 hex is lowercase in both).
_ORACLE_SUMMARY_CTE = f"""
hashed AS (
  SELECT {_GROUP}, md5(CAST({_VALUE} AS VARCHAR)) AS h FROM orders{{where}}
),
parts AS (
  SELECT {_GROUP},
         (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS bucket,
         substr(h, 3, 14) AS suffix,
         length(regexp_extract(substr(h, 3, 14), '^(0*)', 1)) AS zchars
  FROM hashed
),
rhos AS (
  SELECT {_GROUP}, bucket,
         least(CASE WHEN zchars = 14 THEN 57
               ELSE zchars * 4
                    + (CASE WHEN substr(suffix, zchars + 1, 1)
                              IN ('8','9','a','b','c','d','e','f') THEN 0
                            WHEN substr(suffix, zchars + 1, 1)
                              IN ('4','5','6','7') THEN 1
                            WHEN substr(suffix, zchars + 1, 1)
                              IN ('2','3') THEN 2
                            ELSE 3 END) + 1 END, 41) AS rho
  FROM parts
),
registers AS (
  SELECT {_GROUP}, bucket, max(rho) AS rho FROM rhos GROUP BY 1, 2
),
summ AS (
  SELECT {_GROUP},
         CAST(count(*) AS BIGINT) AS n_set,
         CAST(sum(rho) AS BIGINT) AS sum_rho,
         CAST(max(rho) AS INT) AS max_rho,
         CAST(sum(CAST(pow(2, 41 - rho) AS BIGINT))
              + (256 - count(*)) * 2199023255552 AS BIGINT) AS s_scaled
  FROM registers GROUP BY 1
)
"""


def q_sketch_hll_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority portable-HLL summary over order customers, joined
    with the exact NDV (context column; the estimator's error against
    it is bounded in tests/test_sketches.py)."""
    orders = load_table(spark, sf_dir, "orders")
    regs = hll_portable_registers(orders, [_GROUP], _VALUE)
    summ = hll_summary(regs, [_GROUP])
    exact = orders.groupBy(_GROUP).agg(
        F.countDistinct(_VALUE).cast("bigint").alias("exact_ndv")
    )
    return summ.join(exact, _GROUP)


ORACLE_SKETCH_HLL_NDV = (
    "WITH "
    + _ORACLE_SUMMARY_CTE.format(where="")
    + f"""
SELECT s.{_GROUP}, n_set, sum_rho, max_rho, s_scaled, e.exact_ndv
FROM summ s
JOIN (
  SELECT {_GROUP}, CAST(count(DISTINCT {_VALUE}) AS BIGINT) AS exact_ndv
  FROM orders GROUP BY 1
) e USING ({_GROUP})
"""
)


def q_delta_hll_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NDV-sketch refresh: registers built from the old
    snapshot (orders before {split}) are max-merged with registers of
    just the delta batch; the oracle computes the summary over the FULL
    table, so the green row proves merge == rebuild exactly.

    Only the batch is hashed at refresh time; the state read is ≤ 256
    rows per group whatever the history size.
    """
    orders = load_table(spark, sf_dir, "orders")
    base = orders.where(F.col("o_orderdate") < _SPLIT)
    batch = orders.where(F.col("o_orderdate") >= _SPLIT)
    state = hll_portable_registers(base, [_GROUP], _VALUE)
    delta = hll_portable_registers(batch, [_GROUP], _VALUE)
    return hll_summary(hll_merge_registers(state, delta), [_GROUP])


q_delta_hll_maintenance.__doc__ = q_delta_hll_maintenance.__doc__.format(
    split=_SPLIT
)

ORACLE_DELTA_HLL_MAINTENANCE = (
    "WITH "
    + _ORACLE_SUMMARY_CTE.format(where="")
    + "SELECT * FROM summ"
)


def q_sketch_hll_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window NDV from MERGED daily HLL partials — the
    monitoring pattern sketches exist for: "distinct users over the
    trailing 7 days, per day" answered by register-wise MAX over the
    window's stored daily register tables, never by rescanning the
    raw events. The merge is a bounded range join (|days| × ≤256
    registers/day — synopsis-sized at ANY corpus size; at 100 TB the
    daily partials come from the continuous-agg state store and this
    query never touches the base at all). Register math is the
    portable md5 realization, so the integer summary (n_set, sum_rho,
    max_rho, s_scaled — the terms that fully determine the estimate)
    is engine-exact; the exact trailing-window NDV rides along as
    context via the same range join over distinct (user, day) pairs."""
    from ..functions.sketches import HLL_M, HLL_RHO_CAP

    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.datediff(
            F.to_date(F.date_format("ts", "yyyy-MM-dd")),
            F.to_date(F.lit("2024-01-01")),
        )
        .cast("int")
        .alias("day_num"),
        "user_id",
    )
    regs = hll_portable_registers(daily, ["day", "day_num"], "user_id")
    days = daily.select("day", "day_num").distinct().alias("d")
    r = regs.alias("r")
    merged = (
        days.join(
            r,
            (F.col("r.day_num") >= F.col("d.day_num") - 6)
            & (F.col("r.day_num") <= F.col("d.day_num")),
        )
        .groupBy(F.col("d.day").alias("day"), "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    per_set = F.expr(f"CAST(pow(2, {HLL_RHO_CAP} - rho) AS BIGINT)")
    summ = merged.groupBy("day").agg(
        F.count("*").cast("bigint").alias("n_set"),
        F.sum("rho").cast("bigint").alias("sum_rho"),
        F.max("rho").cast("int").alias("max_rho"),
        (
            F.sum(per_set)
            + (F.lit(HLL_M) - F.count("*")) * F.lit(2**HLL_RHO_CAP)
        )
        .cast("bigint")
        .alias("s_scaled"),
    )
    mem = daily.select("day_num", "user_id").distinct().alias("m")
    exact = (
        days.join(
            mem,
            (F.col("m.day_num") >= F.col("d.day_num") - 6)
            & (F.col("m.day_num") <= F.col("d.day_num")),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.countDistinct("user_id").cast("bigint").alias("exact_ndv"))
    )
    return summ.join(exact, "day")


ORACLE_SKETCH_HLL_SLIDING = """
WITH daily AS (
  SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT)
           AS day_num,
         user_id,
         md5(CAST(user_id AS VARCHAR)) AS h
  FROM events
),
parts AS (
  SELECT day, day_num,
         (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS bucket,
         substr(h, 3, 14) AS suffix,
         length(regexp_extract(substr(h, 3, 14), '^(0*)', 1)) AS zchars
  FROM daily
),
rhos AS (
  SELECT day, day_num, bucket,
         least(CASE WHEN zchars = 14 THEN 57
               ELSE zchars * 4
                    + (CASE WHEN substr(suffix, zchars + 1, 1)
                              IN ('8','9','a','b','c','d','e','f') THEN 0
                            WHEN substr(suffix, zchars + 1, 1)
                              IN ('4','5','6','7') THEN 1
                            WHEN substr(suffix, zchars + 1, 1)
                              IN ('2','3') THEN 2
                            ELSE 3 END) + 1 END, 41) AS rho
  FROM parts
),
regs AS (
  SELECT day, day_num, bucket, max(rho) AS rho FROM rhos GROUP BY 1, 2, 3
),
days AS (SELECT DISTINCT day, day_num FROM daily),
merged AS (
  SELECT d.day, r.bucket, max(r.rho) AS rho
  FROM days d JOIN regs r
    ON r.day_num BETWEEN d.day_num - 6 AND d.day_num
  GROUP BY d.day, r.bucket
),
summ AS (
  SELECT day,
         CAST(count(*) AS BIGINT) AS n_set,
         CAST(sum(rho) AS BIGINT) AS sum_rho,
         CAST(max(rho) AS INT) AS max_rho,
         CAST(sum(CAST(pow(2, 41 - rho) AS BIGINT))
              + (256 - count(*)) * CAST(pow(2, 41) AS BIGINT)
              AS BIGINT) AS s_scaled
  FROM merged GROUP BY day
),
exact AS (
  SELECT d.day,
         CAST(count(DISTINCT m.user_id) AS BIGINT) AS exact_ndv
  FROM days d JOIN (SELECT DISTINCT day_num, user_id FROM daily) m
    ON m.day_num BETWEEN d.day_num - 6 AND d.day_num
  GROUP BY d.day
)
SELECT s.day, s.n_set, s.sum_rho, s.max_rho, s.s_scaled, e.exact_ndv
FROM summ s JOIN exact e ON s.day = e.day
"""


def queries_and_oracles():
    queries = {
        "sketch_hll_ndv": q_sketch_hll_ndv,
        "delta_hll_maintenance": q_delta_hll_maintenance,
        "sketch_kmv_overlap": q_sketch_kmv_overlap,
        "continuous_hll_ndv": q_continuous_hll_ndv,
        "sketch_cms_heavy_hitters": q_sketch_cms_heavy_hitters,
        "signed_cms_maintenance": q_signed_cms_maintenance,
        "signed_continuous_cms": q_signed_continuous_cms,
        "sketch_hll_sliding_window": q_sketch_hll_sliding_window,
    }
    oracles = {
        "sketch_hll_ndv": ORACLE_SKETCH_HLL_NDV,
        "delta_hll_maintenance": ORACLE_DELTA_HLL_MAINTENANCE,
        "sketch_kmv_overlap": ORACLE_SKETCH_KMV_OVERLAP,
        # stored lifecycle must land on the full rebuild exactly
        "continuous_hll_ndv": ORACLE_CONTINUOUS_HLL_NDV,
        "sketch_cms_heavy_hitters": ORACLE_SKETCH_CMS_HEAVY_HITTERS,
        # signed merge must land on the post-change rebuild exactly
        "signed_cms_maintenance": _signed_cms_oracle(),
        # the stored loop (the batch's counters folded in) lands there too
        "signed_continuous_cms": _signed_cms_oracle(),
        "sketch_hll_sliding_window": ORACLE_SKETCH_HLL_SLIDING,
    }
    return queries, oracles


# ---------------------------------------------------------------------------
# KMV (bottom-k) overlap: distinct-set intersections, which HLL cannot
# estimate. Group = order year, value = customer key — the partial
# final year gives genuinely asymmetric overlaps.
# ---------------------------------------------------------------------------


def q_sketch_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise customer-set overlap between order years from KMV
    signatures (k=256 smallest md5 hashes per year, string-ranked so
    every engine agrees bit for bit), joined with the exact pairwise
    intersection as context. inter_bottomk/k_used is the KMV Jaccard
    estimator; its error is bounded in tests/test_sketches.py."""
    from ..functions.sketches import kmv_pair_overlap, kmv_signature

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.year("o_orderdate").alias("yr"), "o_custkey"
    )
    stats = kmv_pair_overlap(kmv_signature(base, ["yr"], "o_custkey"), "yr")
    mem = base.distinct()
    exact = (
        mem.alias("a")
        .join(
            mem.alias("b"),
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.yr") < F.col("b.yr")),
        )
        .groupBy(
            F.col("a.yr").alias("g1"), F.col("b.yr").alias("g2")
        )
        .agg(F.count("*").cast("bigint").alias("exact_inter"))
    )
    return stats.join(exact, ["g1", "g2"], "left").withColumn(
        "exact_inter", F.coalesce("exact_inter", F.lit(0).cast("bigint"))
    )


ORACLE_SKETCH_KMV_OVERLAP = """
WITH base AS (
  SELECT DISTINCT CAST(year(o_orderdate) AS INT) AS yr, o_custkey,
         md5(CAST(o_custkey AS VARCHAR)) AS h
  FROM orders
),
sig AS (
  SELECT yr, h FROM (
    SELECT yr, h, row_number() OVER (PARTITION BY yr ORDER BY h) AS rk
    FROM (SELECT DISTINCT yr, h FROM base)
  ) WHERE rk <= 256
),
pairs AS (
  SELECT a.yr AS g1, b.yr AS g2
  FROM (SELECT DISTINCT yr FROM base) a
  JOIN (SELECT DISTINCT yr FROM base) b ON a.yr < b.yr
),
member AS (
  SELECT g1, g2, h, yr FROM sig JOIN pairs ON yr = g1 OR yr = g2
),
per_hash AS (
  SELECT g1, g2, h, count(DISTINCT yr) AS n_groups
  FROM member GROUP BY 1, 2, 3
),
ub AS (
  SELECT * FROM (
    SELECT g1, g2, h, n_groups,
           row_number() OVER (PARTITION BY g1, g2 ORDER BY h) AS rk
    FROM per_hash
  ) WHERE rk <= 256
),
stats AS (
  SELECT g1, g2, CAST(count(*) AS BIGINT) AS k_used,
         CAST(sum(CASE WHEN n_groups = 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS inter_bottomk,
         max(h) AS kth_hash
  FROM ub GROUP BY 1, 2
),
exact AS (
  SELECT a.yr AS g1, b.yr AS g2, CAST(count(*) AS BIGINT) AS exact_inter
  FROM (SELECT DISTINCT yr, o_custkey FROM base) a
  JOIN (SELECT DISTINCT yr, o_custkey FROM base) b
    ON a.o_custkey = b.o_custkey AND a.yr < b.yr
  GROUP BY 1, 2
)
SELECT s.g1, s.g2, k_used, inter_bottomk, kth_hash,
       coalesce(exact_inter, 0) AS exact_inter
FROM stats s LEFT JOIN exact USING (g1, g2)
"""


# ---------------------------------------------------------------------------
# Stored continuous HLL: the register table as on-disk state, refreshed
# by folding the batch's registers in with ``greatest``.
# ---------------------------------------------------------------------------


class ContinuousHllNdv:
    """A stored approximate-NDV view: state is the portable register
    table (≤ 256 rows per group at any scale), a refresh hashes ONLY
    the delta batch and folds its registers into the state with
    ``greatest`` in one write (``StateStore.fold``; max is monotone,
    so a register the batch does not raise keeps its value), and
    ``read_summary()`` derives the oracle-exact integer summary. A
    batch that raises no register skips the write: the state files
    stay byte-identical.

    The sketch sibling of ``operators/continuous_agg.ContinuousAggregate``:
    same state-table discipline, but the partial is a fixed-size
    synopsis instead of per-group scalars. Insert-only by design —
    register max has no inverse, so retraction-capable NDV stays with
    the exact pair-multiplicity state
    (``continuous_agg.ContinuousDistinctAggregate``); this is the
    bounded-state alternative for append-only feeds.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        group_cols: list[str],
        value_col: str,
    ) -> None:
        self.spark = spark
        self.state_path = state_path
        self.group_cols = group_cols
        self.value_col = value_col
        self.store = StateStore(spark, state_path)

    def initialize(self, df: DataFrame) -> None:
        self.store.create(
            hll_portable_registers(df, self.group_cols, self.value_col)
        )

    def refresh(self, batch: DataFrame) -> None:
        batch_regs = hll_portable_registers(
            batch, self.group_cols, self.value_col
        )
        on = [*self.group_cols, "bucket"]
        # A batch that raises no register leaves the state files as
        # they are: one probe on the batch side, no write.
        state = self.store.read().withColumnRenamed("rho", "_s")
        if batch_regs.join(state, on, "left").where(
            "_s IS NULL OR rho > _s"
        ).isEmpty():
            return
        self.store.fold(
            batch_regs,
            on,
            ["max(rho) AS __drho"],
            ["greatest(__srho, __drho) AS rho"],
        )

    def read_summary(self) -> DataFrame:
        return hll_summary(self.store.read(), self.group_cols)


def q_continuous_hll_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored-lifecycle sibling of ``delta_hll_maintenance``:
    initialize the register state table from the old snapshot, fold
    the delta batch's registers into it (one write), read the summary
    back from disk. The oracle computes the full-table summary — the
    green row proves the stored lifecycle lands on the rebuild
    exactly."""
    import os

    from .signed_queries import _cagg_state_dir

    orders = load_table(spark, sf_dir, "orders")
    base = orders.where(F.col("o_orderdate") < _SPLIT)
    batch = orders.where(F.col("o_orderdate") >= _SPLIT)
    state = os.path.join(os.path.dirname(_cagg_state_dir()), "hll_state")
    view = ContinuousHllNdv(spark, state, [_GROUP], _VALUE)
    view.initialize(base)
    view.refresh(batch)
    return view.read_summary()


ORACLE_CONTINUOUS_HLL_NDV = ORACLE_DELTA_HLL_MAINTENANCE


# ---------------------------------------------------------------------------
# Count-Min sketch: point-frequency estimates, and the ONLY portable
# synopsis here that is maintainable under RETRACTION (linear counters;
# HLL registers and KMV signatures are max/min state with no inverse).
# ---------------------------------------------------------------------------

_CMS_HEX = "0123456789abcdef"
_CMS_BELOW_ZERO = "corrupt CMS history: counter retracted below zero"


def _cms_bucket_sql(j_expr: str, v_expr: str) -> str:
    """DuckDB rendition of functions/sketches._cms_bucket: the first
    md5 byte of 'j:value', via the same strpos-on-hex trick as the
    portable-HLL oracle."""
    h = f"md5(CAST({j_expr} AS VARCHAR) || ':' || {v_expr})"
    return (
        f"(strpos('{_CMS_HEX}', substr({h}, 1, 1)) - 1) * 16"
        f" + (strpos('{_CMS_HEX}', substr({h}, 2, 1)) - 1)"
    )


def q_sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-frequency estimates for the 10 heaviest order customers
    from a Count-Min sketch (CMS_D x CMS_W portable counters over ALL
    orders), joined with the exact counts. CMS guarantees est >= exact
    with overcount <= eps*N w.h.p. — the bound is gated in
    tests/test_sketches.py; THIS row is integer-exact because both
    engines compute the identical md5 counter math."""
    from ..functions.sketches import cms_counters, cms_point_estimate

    orders = load_table(spark, sf_dir, "orders")
    counters = cms_counters(orders, [], "o_custkey")
    top = (
        orders.groupBy("o_custkey")
        .agg(F.count("*").cast("bigint").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("o_custkey"))
        .limit(10)
    )
    est = cms_point_estimate(counters, top, [], "o_custkey")
    return top.join(est, "o_custkey").select(
        "o_custkey", "exact_cnt", F.col("est").alias("est_cnt")
    )


ORACLE_SKETCH_CMS_HEAVY_HITTERS = f"""
WITH vals AS (
  SELECT CAST(o_custkey AS VARCHAR) AS v FROM orders
  WHERE o_custkey IS NOT NULL
),
counters AS (
  SELECT j, {_cms_bucket_sql('j', 'v')} AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM vals, (SELECT unnest([0, 1, 2, 3]) AS j)
  GROUP BY 1, 2
),
top AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM orders GROUP BY 1
  ORDER BY exact_cnt DESC, o_custkey LIMIT 10
),
probes AS (
  SELECT t.o_custkey, t.exact_cnt, j,
         {_cms_bucket_sql('j', 'CAST(t.o_custkey AS VARCHAR)')} AS bucket
  FROM top t, (SELECT unnest([0, 1, 2, 3]) AS j)
)
SELECT p.o_custkey, p.exact_cnt,
       CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est_cnt
FROM probes p
LEFT JOIN counters c ON c.j = p.j AND c.bucket = p.bucket
GROUP BY 1, 2
"""


def q_signed_cms_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retraction-capable sketch refresh: CMS counters built from
    the OLD orders snapshot are sum-merged with SIGNED counter deltas
    of just the CDF batch (inserts +1, deletes -1, updates moving
    weight between buckets), and the oracle builds the counters over
    the post-change table directly — the green row proves
    merge(state, signed delta) == rebuild, counter for counter. Only
    the batch is hashed at refresh time; the state is the fixed
    CMS_D x CMS_W counter table whatever the history size. HLL/KMV
    cannot do this (max/min state has no inverse); linearity is why
    CMS is the sketch a CDC feed maintains."""
    from ..functions.sketches import cms_counters, cms_merge
    from ..plans.signed import SIGN, SignedDeltaCatalog, signed_of_cdf

    cat = SignedDeltaCatalog(spark, sf_dir)
    state = cms_counters(cat.old("orders"), [], "o_custkey")
    batch = signed_of_cdf(cat.cdf_changes("orders"))
    delta = cms_counters(batch, [], "o_custkey", weight=F.col(SIGN))
    return cms_merge(state, delta)


def _signed_cms_oracle() -> str:
    from .signed_queries import _new_sql

    return f"""
WITH vals AS (
  SELECT CAST(o_custkey AS VARCHAR) AS v FROM ({_new_sql("orders")})
  WHERE o_custkey IS NOT NULL
)
SELECT j AS row, {_cms_bucket_sql('j', 'v')} AS bucket,
       CAST(count(*) AS BIGINT) AS cnt
FROM vals, (SELECT unnest([0, 1, 2, 3]) AS j)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Stored continuous CMS: the counter table as on-disk state, refreshed
# by folding SIGNED counter deltas in — the retraction-capable sibling
# of ContinuousHllNdv (whose max-registers can only grow).
# ---------------------------------------------------------------------------


class ContinuousCms:
    """A stored frequency-sketch view: state is the CMS counter table
    (≤ CMS_D × CMS_W rows per group at any scale), a signed refresh
    hashes ONLY the change batch and folds its signed (row, bucket)
    counters into the state by sum in one write (``StateStore.fold``)
    — counters netting to zero LEAVE the table, a counter driven
    negative fails inside the plan and leaves the state as it was,
    and an empty batch writes nothing.
    Insert-only feeds degenerate to pure counter adds; CDC feeds with
    deletes/updates stay exact because counters are linear — the
    property the HLL lifecycle structurally lacks.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        group_cols: list[str],
        value_col: str,
    ) -> None:
        self.spark = spark
        self.state_path = state_path
        self.group_cols = group_cols
        self.value_col = value_col
        self._keys = [*group_cols, "row", "bucket"]
        self.store = StateStore(spark, state_path)

    def initialize(self, df: DataFrame) -> None:
        from ..functions.sketches import cms_counters

        self.store.create(
            cms_counters(df, self.group_cols, self.value_col)
        )

    def refresh_signed(self, signed_batch: DataFrame) -> None:
        """``signed_batch`` carries the CDF rows normalized to ``_sign``
        ∈ {±1} (``plans.signed.signed_of_cdf``)."""
        from pyspark.sql import functions as F

        from ..functions.sketches import cms_counters
        from ..plans.signed import SIGN

        delta = cms_counters(
            signed_batch, self.group_cols, self.value_col, weight=F.col(SIGN)
        )
        # An empty batch leaves the state files as they are.
        if delta.isEmpty():
            return
        cnt = F.col("cnt")
        self.store.fold(
            delta,
            self._keys,
            ["sum(cnt) AS __dcnt"],
            [
                "CAST(coalesce(__scnt + __dcnt, __scnt, __dcnt) AS BIGINT)"
                " AS cnt"
            ],
            keep=cnt != 0,
            guards=[(cnt < 0, _CMS_BELOW_ZERO)],
        )

    def read_counters(self) -> DataFrame:
        return self.store.read()

    def point_estimates(self, keys: DataFrame, key_col: str) -> DataFrame:
        from ..functions.sketches import cms_point_estimate

        return cms_point_estimate(
            self.read_counters(), keys, self.group_cols, key_col
        )


def q_signed_continuous_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored-lifecycle sibling of ``signed_cms_maintenance``:
    initialize the counter state table from the old orders snapshot,
    fold ONE signed CDF batch's counters into it (zero-netting
    counters deleted), read the counters back from disk. The oracle builds the counters over the
    post-change table — a green row certifies the whole stored loop
    lands on the rebuild exactly."""
    import os

    from ..plans.signed import SignedDeltaCatalog, signed_of_cdf
    from .signed_queries import _cagg_state_dir

    cat = SignedDeltaCatalog(spark, sf_dir)
    state = os.path.join(os.path.dirname(_cagg_state_dir()), "cms_state")
    view = ContinuousCms(spark, state, [], "o_custkey")
    view.initialize(cat.old("orders"))
    view.refresh_signed(signed_of_cdf(cat.cdf_changes("orders")))
    return view.read_counters()
