"""Seeded inputs for the benchmark: fixture tables, delta slices, CDC batches.

Everything here is a pure function of the workload seed and runs without
Spark (numpy + pyarrow + DuckDB), so the self-test can pin determinism
cheaply. The same seed gives byte-identical tables, predicates, batches
and oracle checksums; another seed gives different slices of exactly the
same sizes.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixture sizes. Every delta slice is `(key * a + b) % m = 0` over keys
# 0..n-1 with gcd(a, m) = 1 and n % m = 0, so each slice holds exactly
# n / m rows whatever the seed.
N_ORDERS = 4000
LINES_PER_ORDER = 4
N_CUSTOMER = 400
N_SUPPLIER = 40
N_NATION = 25
N_REGION = 5
SLICE_MOD = {
    "orders": 10,
    "lineitem": 10,
    "customer": 10,
    "supplier": 10,
    "nation": 5,
    "region": 5,
}
KEY_COLUMN = {
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "nation": "n_nationkey",
    "region": "r_regionkey",
}

N_EVENTS = 40_000
EVENTS_BASE_SHARE = 0.8  # v0 holds this share; the rest feeds inserts
EVENT_TYPES = ("click", "view", "purchase", "signup", "logout")
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_HOURS = 24 * 150
# Per-commit change mix, as shares of N_EVENTS.
INSERT_SHARE = 0.005
DELETE_SHARE = 0.003
UPDATE_SHARE = 0.003

# Order-insensitive, engine-portable checksum: count plus two sums of a
# polynomial row hash. Spark and DuckDB evaluate the same SQL text to
# the same integers, so every timed op is checked against DuckDB.
_HASH_MODS = (2147483647, 1000000007)


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, stream)) * 1_000_003 + len(stream)])


# -- delta_chain ---------------------------------------------------------

CHAIN = (
    ("lineitem", None, ("l_orderkey", "l_linenumber")),
    ("orders", "lineitem.l_orderkey = orders.o_orderkey", ("o_custkey",)),
    ("customer", "orders.o_custkey = customer.c_custkey", ("c_nationkey",)),
    ("nation", "customer.c_nationkey = nation.n_nationkey", ("n_regionkey",)),
    ("region", "nation.n_regionkey = region.r_regionkey", ("r_regionkey",)),
    ("supplier", "lineitem.l_suppkey = supplier.s_suppkey", ("s_suppkey", "s_nationkey")),
)
DEPTHS = (2, 3, 4, 5, 6)
PRICE_CENTS = "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"


def view_columns(depth: int) -> list[str]:
    cols = [c for _, _, own in CHAIN[:depth] for c in own]
    return cols + ["price_cents"]


def view_sql(depth: int, sources: dict[str, str] | None = None) -> str:
    """The depth-N inner-join chain with its projection.

    ``sources`` maps a table to a replacement relation (a parenthesized
    subquery) for the DuckDB oracle; the Spark side passes none."""
    sources = sources or {}
    sel = [c for _, _, own in CHAIN[:depth] for c in own]
    sql = f"SELECT {', '.join(sel)}, {PRICE_CENTS} AS price_cents FROM "
    first = CHAIN[0][0]
    sql += f"{sources[first]} {first}" if first in sources else first
    for table, on, _ in CHAIN[1:depth]:
        src = f"{sources[table]} {table}" if table in sources else table
        sql += f" JOIN {src} ON {on}"
    return sql


def checksum_exprs(columns: list[str], seed: int) -> list[str]:
    """SQL aggregate expressions (count + two row-hash sums) valid in
    both Spark (ANSI) and DuckDB for non-negative integer columns."""
    rng = _rng(seed, "checksum")
    out = ["count(*)"]
    for mod in _HASH_MODS:
        mults = rng.integers(3, 999_983, size=len(columns))
        poly = " + ".join(
            f"CAST({c} AS BIGINT) * {int(m)}" for c, m in zip(columns, mults)
        )
        out.append(f"sum(({poly}) % {mod})")
    return out


def delta_predicates(seed: int) -> dict[str, str]:
    """One seeded append slice per chain table (``delta_predicates`` of
    ``DeltaCatalog``). lineitem shares orders' slice so appended lines
    belong to appended orders."""
    rng = _rng(seed, "slices")
    preds = {}
    for table in ("orders", "customer", "supplier", "nation", "region"):
        m = SLICE_MOD[table]
        while True:
            a = int(rng.integers(1, 10 * m))
            if math.gcd(a, m) == 1:
                break
        b = int(rng.integers(0, m))
        preds[table] = f"({KEY_COLUMN[table]} * {a} + {b}) % {m} = 0"
    preds["lineitem"] = preds["orders"].replace("o_orderkey", "l_orderkey")
    return preds


def _ts(rng: np.random.Generator, n: int, span_hours: int) -> np.ndarray:
    offs = rng.integers(0, span_hours * 3600, size=n).astype("timedelta64[s]")
    return EVENTS_START + offs.astype("timedelta64[us]")


def chain_tables(seed: int) -> dict[str, pa.Table]:
    rng = _rng(seed, "chain")
    n_line = N_ORDERS * LINES_PER_ORDER
    region = pa.table({
        "r_regionkey": pa.array(np.arange(N_REGION, dtype=np.int32)),
        "r_name": [f"REGION{i}" for i in range(N_REGION)],
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(N_NATION, dtype=np.int32)),
        "n_name": [f"NATION{i:02d}" for i in range(N_NATION)],
        "n_regionkey": pa.array(rng.integers(0, N_REGION, N_NATION).astype(np.int32)),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER, dtype=np.int64)),
        "c_name": [f"Customer#{i:06d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, N_NATION, N_CUSTOMER).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999, 9999, N_CUSTOMER), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY"], N_CUSTOMER),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER, dtype=np.int64)),
        "s_name": [f"Supplier#{i:06d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, N_NATION, N_SUPPLIER).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999, 9999, N_SUPPLIER), 2),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS)),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": np.round(rng.uniform(900, 500_000, N_ORDERS), 2),
        "o_orderdate": pa.array(_ts(rng, N_ORDERS, 24 * 365 * 3), pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(N_ORDERS, dtype=np.int64), LINES_PER_ORDER)),
        "l_partkey": pa.array(rng.integers(0, 2000, n_line)),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n_line)),
        "l_linenumber": pa.array(np.tile(np.arange(1, LINES_PER_ORDER + 1, dtype=np.int32), N_ORDERS)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n_line), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(_ts(rng, n_line, 24 * 365 * 3), pa.timestamp("us")),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "orders": orders, "lineitem": lineitem,
    }


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    """Write fixture tables as ``<sf_dir>/<name>.parquet``."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


def _duck(tables: dict[str, pa.Table]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name, table in tables.items():
        con.register(name, table)
    return con


def chain_oracle_sql(depth: int, preds: dict[str, str]) -> str:
    """``new EXCEPT ALL old`` for the depth-N view (the ΔQ definition on
    append-only inputs)."""
    old = {t: f"(SELECT * FROM {t} WHERE NOT ({p}))" for t, p in preds.items()}
    return f"{view_sql(depth)} EXCEPT ALL {view_sql(depth, old)}"


def chain_expected(
    tables: dict[str, pa.Table], preds: dict[str, str], seed: int, full: bool = False
) -> dict[int, tuple[int, ...]]:
    """DuckDB checksum of each depth's ΔQ (``new EXCEPT ALL old``), or
    with ``full`` of the whole view over the new state."""
    con = _duck(tables)
    try:
        out = {}
        for d in DEPTHS:
            aggs = ", ".join(checksum_exprs(view_columns(d), seed))
            src = view_sql(d) if full else chain_oracle_sql(d, preds)
            row = con.sql(f"SELECT {aggs} FROM ({src})").fetchone()
            out[d] = tuple(int(v or 0) for v in row)
        return out
    finally:
        con.close()


def chain_oracle_frame(tables, preds, depth: int):
    con = _duck(tables)
    try:
        return con.sql(chain_oracle_sql(depth, preds)).df()
    finally:
        con.close()


# -- cdc_rollup ----------------------------------------------------------

@dataclass
class CdcPlan:
    """The events fixture split into v0 and per-commit change batches.

    Row sets are disjoint across commits: each inserted row comes from
    the held-out pool, and each deleted or updated row is a base row no
    earlier commit touched, so no row is retracted twice."""

    seed: int
    events: pa.Table  # every row, base and held-out pool
    base_ids: np.ndarray
    pool_ids: np.ndarray
    touch_order: np.ndarray  # base ids in the order commits retract them
    n_insert: int
    n_delete: int
    n_update: int

    @property
    def max_commits(self) -> int:
        by_pool = len(self.pool_ids) // self.n_insert
        by_base = len(self.touch_order) // (self.n_delete + self.n_update)
        return min(by_pool, by_base)

    def batch(self, k: int) -> pa.Table:
        """Commit k (1-based): inserts, deletes, update pre/post images."""
        if not 1 <= k <= self.max_commits:
            raise ValueError(f"commit {k} outside 1..{self.max_commits}")
        ins = self.pool_ids[(k - 1) * self.n_insert:k * self.n_insert]
        per = self.n_delete + self.n_update
        touched = self.touch_order[(k - 1) * per:k * per]
        dels, upds = touched[:self.n_delete], touched[self.n_delete:]
        ev = self.events
        pre = ev.take(pa.array(upds))
        rng = _rng(self.seed, f"update{k}")
        post = pre.set_column(
            pre.schema.get_field_index("value"), "value",
            pa.array(np.round(rng.uniform(0, 500, len(upds)), 2)),
        )
        shift = rng.integers(-48, 49, len(upds)).astype("timedelta64[h]")
        new_ts = pre.column("ts").to_numpy() + shift.astype("timedelta64[us]")
        post = post.set_column(
            post.schema.get_field_index("ts"), "ts",
            pa.array(new_ts, pa.timestamp("us")),
        )
        parts = [
            (ev.take(pa.array(ins)), "insert"),
            (ev.take(pa.array(dels)), "delete"),
            (pre, "update_preimage"),
            (post, "update_postimage"),
        ]
        return pa.concat_tables([
            t.append_column("_change_type", pa.array([tag] * t.num_rows))
            for t, tag in parts
        ])

    def base(self) -> pa.Table:
        b = self.events.take(pa.array(self.base_ids))
        return b.append_column("_change_type", pa.array(["insert"] * b.num_rows))


def cdc_plan(seed: int) -> CdcPlan:
    rng = _rng(seed, "events")
    n = N_EVENTS
    events = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(_ts(rng, n, EVENTS_SPAN_HOURS), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 2000, n)),
        "event_type": rng.choice(list(EVENT_TYPES), n),
        "value": np.round(rng.uniform(0, 500, n), 2),
        "props": [f'{{"k":{i % 17}}}' for i in range(n)],
    })
    perm = rng.permutation(n)
    n_base = int(n * EVENTS_BASE_SHARE)
    base_ids = np.sort(perm[:n_base])
    pool_ids = perm[n_base:]
    return CdcPlan(
        seed=seed,
        events=events,
        base_ids=base_ids,
        pool_ids=pool_ids,
        touch_order=rng.permutation(base_ids),
        n_insert=int(n * INSERT_SHARE),
        n_delete=int(n * DELETE_SHARE),
        n_update=int(n * UPDATE_SHARE),
    )


# Monthly rollup of the live events: the direct GROUP BY the three-tier
# cascade must equal (same shape as the registry's cascade3 oracle).
ROLLUP_ORACLE = """
SELECT date_trunc('month', ts) AS bucket_m, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS value_cents,
       min(value) AS min_value
FROM live GROUP BY 1, 2
"""
ROLLUP_CHECKSUM = (
    "count(*)",
    "sum(n_events)",
    "sum(value_cents)",
    "sum(CAST(floor(min_value * 100 + 0.5) AS BIGINT))",
    "sum((CAST(month(bucket_m) AS BIGINT) * 7919 + length(event_type) * 104729"
    " + n_events * 31) % 1000000007)",
)


class LiveEvents:
    """Expected table state, replayed from the same batches the
    benchmark commits (the oracle side of cdc_rollup)."""

    def __init__(self, plan: CdcPlan):
        self._rows = {int(i): None for i in plan.base_ids}
        self._plan = plan
        self._updates: dict[int, tuple] = {}

    def apply(self, batch: pa.Table) -> None:
        ids = batch.column("event_id").to_pylist()
        kinds = batch.column("_change_type").to_pylist()
        ts = batch.column("ts").to_pylist()
        vals = batch.column("value").to_pylist()
        for i, kind, t, v in zip(ids, kinds, ts, vals):
            if kind in ("delete", "update_preimage"):
                del self._rows[i]
                self._updates.pop(i, None)
            else:
                self._rows[i] = None
                if kind == "update_postimage":
                    self._updates[i] = (t, v)

    def table(self) -> pa.Table:
        ids = np.fromiter(sorted(self._rows), dtype=np.int64)
        live = self._plan.events.take(pa.array(ids))
        if self._updates:
            ts = live.column("ts").to_numpy().copy()
            vals = live.column("value").to_numpy().copy()
            pos = {int(e): j for j, e in enumerate(ids)}
            for i, (t, v) in self._updates.items():
                ts[pos[i]] = np.datetime64(t, "us")
                vals[pos[i]] = v
            live = live.set_column(1, "ts", pa.array(ts, pa.timestamp("us")))
            live = live.set_column(4, "value", pa.array(vals))
        return live

    def rollup(self):
        con = duckdb.connect()
        try:
            con.register("live", self.table())
            return con.sql(ROLLUP_ORACLE).df()
        finally:
            con.close()

    def checksum(self) -> tuple[int, ...]:
        con = duckdb.connect()
        try:
            con.register("live", self.table())
            row = con.sql(
                f"SELECT {', '.join(ROLLUP_CHECKSUM)} FROM ({ROLLUP_ORACLE})"
            ).fetchone()
            return tuple(int(v or 0) for v in row)
        finally:
            con.close()
