"""SCD Type-2 apply + point-in-time join semantics on hand-checked frames.

The registered queries (operators/scd.py) exercise the operators at
fixture scale against DuckDB; these tests pin the interval algebra on
inputs small enough to verify by hand — chained same-batch changes,
deletes, re-inserts after delete, brand-new keys, and the untouched-
key passthrough.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from datafusion_delta_queries_spark.operators.scd import (
    point_in_time_join,
    scd2_apply,
    scd2_initialize,
)


def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


def _mk_dim(spark):
    return spark.createDataFrame(
        [(1, "gold"), (2, "silver"), (3, "bronze")], "k int, tier string"
    )


def _mk_changes(spark, rows):
    return spark.createDataFrame(
        [(k, t, _ts(ts), op) for k, t, ts, op in rows],
        "k int, tier string, effective_ts timestamp, op string",
    )


def _hist_map(hist):
    out = {}
    for r in hist.collect():
        out.setdefault(r.k, []).append(
            (r.tier, str(r.valid_from)[:10], str(r.valid_to)[:10], r.is_current)
        )
    return {k: sorted(v, key=lambda x: x[1]) for k, v in out.items()}


def test_apply_chain_delete_insert_and_passthrough(spark):
    hist0 = scd2_initialize(_mk_dim(spark), ["k"], ["tier"], "2020-01-01")
    changes = _mk_changes(
        spark,
        [
            # key 1: two chained changes in ONE batch
            (1, "plat", "2021-01-01", "upsert"),
            (1, "diamond", "2022-01-01", "upsert"),
            # key 2: delete, then re-insert after a coverage gap
            (2, None, "2021-06-01", "delete"),
            (2, "silver2", "2023-01-01", "upsert"),
            # key 4: brand new key (no prior history)
            (4, "new", "2021-03-01", "upsert"),
        ],
    )
    hist = scd2_apply(hist0, changes, ["k"], ["tier"])
    m = _hist_map(hist)

    assert m[1] == [
        ("gold", "2020-01-01", "2021-01-01", False),
        ("plat", "2021-01-01", "2022-01-01", False),
        ("diamond", "2022-01-01", "9999-12-31", True),
    ]
    # the tombstone closes 'silver' but never survives; re-insert opens
    # fresh coverage after the gap
    assert m[2] == [
        ("silver", "2020-01-01", "2021-06-01", False),
        ("silver2", "2023-01-01", "9999-12-31", True),
    ]
    # untouched key passes through byte-identical
    assert m[3] == [("bronze", "2020-01-01", "9999-12-31", True)]
    assert m[4] == [("new", "2021-03-01", "9999-12-31", True)]


def test_second_batch_composes(spark):
    hist0 = scd2_initialize(_mk_dim(spark), ["k"], ["tier"], "2020-01-01")
    b1 = _mk_changes(spark, [(1, "plat", "2021-01-01", "upsert")])
    b2 = _mk_changes(spark, [(1, "diamond", "2022-01-01", "upsert")])
    once = scd2_apply(
        scd2_apply(hist0, b1, ["k"], ["tier"]), b2, ["k"], ["tier"]
    )
    both = scd2_apply(
        hist0, b1.unionByName(b2), ["k"], ["tier"]
    )
    assert _hist_map(once) == _hist_map(both)


def test_point_in_time_join_picks_in_effect_version(spark):
    hist0 = scd2_initialize(_mk_dim(spark), ["k"], ["tier"], "2020-01-01")
    changes = _mk_changes(
        spark,
        [
            (1, "plat", "2021-01-01", "upsert"),
            (2, None, "2021-06-01", "delete"),
        ],
    )
    hist = scd2_apply(hist0, changes, ["k"], ["tier"])
    facts = spark.createDataFrame(
        [
            (100, 1, _ts("2020-06-01")),  # before key 1's change -> gold
            (101, 1, _ts("2021-01-01")),  # boundary is inclusive -> plat
            (102, 2, _ts("2021-05-31")),  # just before delete -> silver
            (103, 2, _ts("2021-06-01")),  # at/after delete -> dropped
            (104, 9, _ts("2021-01-01")),  # unknown key -> dropped
        ],
        "fid int, fk int, ts timestamp",
    )
    got = {
        r.fid: r.tier
        for r in point_in_time_join(
            facts, hist, [("fk", "k")], "ts"
        ).collect()
    }
    assert got == {100: "gold", 101: "plat", 102: "silver"}


def test_untouched_side_is_broadcast_anti_join(spark):
    """The big history side must cross the anti join without a
    shuffle: touched keys are the broadcast side."""
    hist0 = scd2_initialize(_mk_dim(spark), ["k"], ["tier"], "2020-01-01")
    changes = _mk_changes(spark, [(1, "plat", "2021-01-01", "upsert")])
    out = scd2_apply(hist0, changes, ["k"], ["tier"])
    text = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in text and "LeftAnti" in text


def test_enrich_maintenance_row_level_identity_and_scoping(spark):
    """The maintained enriched table equals a full PIT re-join row for
    row — including dropped coverage — and unaffected rows are kept
    verbatim (never re-joined)."""
    from datafusion_delta_queries_spark.operators.scd import (
        scd2_enrich_maintenance,
    )

    hist0 = scd2_initialize(_mk_dim(spark), ["k"], ["tier"], "2020-01-01")
    b1 = _mk_changes(spark, [(1, "plat", "2021-01-01", "upsert")])
    old_hist = scd2_apply(hist0, b1, ["k"], ["tier"])
    facts = spark.createDataFrame(
        [
            (100, 1, _ts("2020-06-01")),
            (101, 1, _ts("2021-07-01")),
            (102, 2, _ts("2021-05-31")),
            (103, 2, _ts("2021-07-01")),
            (104, 3, _ts("2022-01-01")),
        ],
        "fid int, fk int, ts timestamp",
    )
    enriched_old = point_in_time_join(facts, old_hist, [("fk", "k")], "ts").select(
        "fid", "fk", "ts", "tier"
    )
    b2 = _mk_changes(
        spark,
        [
            (1, "diamond", "2021-06-01", "upsert"),
            (2, None, "2021-06-01", "delete"),
        ],
    )
    new_hist = scd2_apply(old_hist, b2, ["k"], ["tier"])
    refreshed = scd2_enrich_maintenance(
        facts, enriched_old, new_hist, b2, [("fk", "k")], "ts"
    )
    got = {r.fid: r.tier for r in refreshed.collect()}
    # 101 re-enriched to diamond; 103 dropped (deleted coverage);
    # 100/102 (pre-change) and 104 (untouched key) kept as-is
    assert got == {100: "gold", 101: "diamond", 102: "silver", 104: "bronze"}
    full = point_in_time_join(facts, new_hist, [("fk", "k")], "ts")
    assert got == {r.fid: r.tier for r in full.collect()}


def test_scd2_table_streamed_equals_batch(spark, tmp_path):
    """Scd2Table.stream_cdc: checkpointed drain applies each CDC file
    exactly once; a re-run on the same checkpoint with nothing new
    changes nothing; cross-batch chains compose to the batch answer."""
    from datafusion_delta_queries_spark.operators.scd import Scd2Table

    state = str(tmp_path / "state")
    cdc = str(tmp_path / "cdc")
    ckpt = str(tmp_path / "ckpt")
    dim = _mk_dim(spark)
    b1 = _mk_changes(spark, [(1, "plat", "2021-01-01", "upsert")])
    b2 = _mk_changes(
        spark,
        [
            (1, "diamond", "2022-01-01", "upsert"),
            (2, None, "2021-06-01", "delete"),
        ],
    )

    table = Scd2Table(spark, state, ["k"], ["tier"])
    table.initialize(dim, "2020-01-01")
    b1.coalesce(1).write.mode("append").parquet(cdc)
    table.stream_cdc(cdc, b1.schema, ckpt).awaitTermination()
    after_b1 = _hist_map(table.read())
    assert after_b1[1][-1][0] == "plat"

    # nothing new: a restart on the same checkpoint must be a no-op
    table.stream_cdc(cdc, b1.schema, ckpt).awaitTermination()
    assert _hist_map(table.read()) == after_b1

    b2.coalesce(1).write.mode("append").parquet(cdc)
    table.stream_cdc(cdc, b1.schema, ckpt).awaitTermination()

    hist0 = scd2_initialize(dim, ["k"], ["tier"], "2020-01-01")
    batch = scd2_apply(
        scd2_apply(hist0, b1, ["k"], ["tier"]), b2, ["k"], ["tier"]
    )
    assert _hist_map(table.read()) == _hist_map(batch)


def test_scd2_table_bucketed_rewrites_only_touched_dirs(spark, tmp_path):
    """Bucket-partitioned state: a CDC batch must leave every
    untouched bucket directory byte-identical (only touched buckets
    rewrite), and the table must read back equal to the flat apply."""
    import os

    from datafusion_delta_queries_spark.operators.scd import Scd2Table

    state = str(tmp_path / "state")
    dim = spark.createDataFrame(
        [(k, f"v{k}") for k in range(1, 41)], "k int, tier string"
    )
    table = Scd2Table(spark, state, ["k"], ["tier"], n_buckets=8)
    table.initialize(dim, "2020-01-01")

    def dir_bytes():
        out = {}
        for kb in os.listdir(state):
            if not kb.startswith("_kb="):
                continue
            files = {}
            d = os.path.join(state, kb)
            for f in sorted(os.listdir(d)):
                if f.endswith(".parquet"):
                    files[f] = open(os.path.join(d, f), "rb").read()
            out[kb] = files
        return out

    before = dir_bytes()
    changes = _mk_changes(
        spark,
        [(1, "gold", "2021-01-01", "upsert"), (2, None, "2021-06-01", "delete")],
    )
    table.apply(changes)
    after = dir_bytes()

    from pyspark.sql import functions as F

    touched = {
        f"_kb={r[0]}"
        for r in changes.select(
            F.pmod(F.hash("k"), F.lit(8)).alias("kb")
        ).distinct().collect()
    }
    untouched = set(before) - touched
    assert untouched, "fixture must leave some buckets untouched"
    for kb in untouched:
        assert after[kb] == before[kb], f"untouched bucket {kb} rewritten"
    for kb in touched:
        assert after.get(kb) != before.get(kb)

    # content equals the flat (unpartitioned) apply
    hist0 = scd2_initialize(dim, ["k"], ["tier"], "2020-01-01")
    flat = scd2_apply(hist0, changes, ["k"], ["tier"])
    assert _hist_map(table.read()) == _hist_map(flat)


def test_scd2_table_bucketed_streams_too(spark, tmp_path):
    """stream_cdc over bucketed state: same drain/restart semantics."""
    from datafusion_delta_queries_spark.operators.scd import Scd2Table

    state = str(tmp_path / "state")
    cdc = str(tmp_path / "cdc")
    ckpt = str(tmp_path / "ckpt")
    dim = _mk_dim(spark)
    table = Scd2Table(spark, state, ["k"], ["tier"], n_buckets=4)
    table.initialize(dim, "2020-01-01")
    b1 = _mk_changes(spark, [(1, "plat", "2021-01-01", "upsert")])
    b1.coalesce(1).write.mode("append").parquet(cdc)
    table.stream_cdc(cdc, b1.schema, ckpt).awaitTermination()
    table.stream_cdc(cdc, b1.schema, ckpt).awaitTermination()  # no-op
    hist0 = scd2_initialize(dim, ["k"], ["tier"], "2020-01-01")
    assert _hist_map(table.read()) == _hist_map(
        scd2_apply(hist0, b1, ["k"], ["tier"])
    )


def test_scd2_composite_keys(spark):
    """Composite business keys: the chain partitions on ALL key
    columns; same-(k1) different-(k2) rows are independent keys."""
    dim = spark.createDataFrame(
        [(1, "us", "gold"), (1, "eu", "silver"), (2, "us", "bronze")],
        "k1 int, k2 string, tier string",
    )
    hist0 = scd2_initialize(dim, ["k1", "k2"], ["tier"], "2020-01-01")
    changes = spark.createDataFrame(
        [(1, "us", "plat", _ts("2021-01-01"), "upsert")],
        "k1 int, k2 string, tier string, effective_ts timestamp, op string",
    )
    hist = scd2_apply(hist0, changes, ["k1", "k2"], ["tier"])
    rows = {
        (r.k1, r.k2): sorted(
            [(x.tier, x.is_current) for x in hist.collect()
             if (x.k1, x.k2) == (r.k1, r.k2)]
        )
        for r in hist.select("k1", "k2").distinct().collect()
    }
    assert rows[(1, "us")] == [("gold", False), ("plat", True)]
    assert rows[(1, "eu")] == [("silver", True)]
    assert rows[(2, "us")] == [("bronze", True)]

    facts = spark.createDataFrame(
        [(10, 1, "us", _ts("2021-06-01")), (11, 1, "eu", _ts("2021-06-01"))],
        "fid int, fk1 int, fk2 string, ts timestamp",
    )
    got = {
        r.fid: r.tier
        for r in point_in_time_join(
            facts, hist, [("fk1", "k1"), ("fk2", "k2")], "ts"
        ).collect()
    }
    assert got == {10: "plat", 11: "silver"}


def test_same_instant_upsert_supersedes_deterministically(spark):
    """A change effective at the exact instant an existing version
    starts replaces it: no zero-width phantom rows, the change's
    attributes win, version counts stay stable."""
    hist0 = scd2_initialize(_mk_dim(spark), ["k"], ["tier"], "2020-01-01")
    b1 = _mk_changes(spark, [(1, "plat", "2021-01-01", "upsert")])
    h1 = scd2_apply(hist0, b1, ["k"], ["tier"])
    b2 = _mk_changes(spark, [(1, "plat2", "2021-01-01", "upsert")])
    h2 = scd2_apply(h1, b2, ["k"], ["tier"])
    m = _hist_map(h2)
    assert m[1] == [
        ("gold", "2020-01-01", "2021-01-01", False),
        ("plat2", "2021-01-01", "9999-12-31", True),
    ]


def test_duplicate_change_rows_deterministic_and_rejected_at_table(
    spark, tmp_path
):
    """Pure scd2_apply resolves a malformed duplicate batch
    deterministically (tracked-attribute order breaks the tie — 'b'
    sorts last and wins); the Scd2Table ingestion boundary rejects it
    loudly."""
    import pytest as _pytest

    from datafusion_delta_queries_spark.operators.scd import Scd2Table

    hist0 = scd2_initialize(_mk_dim(spark), ["k"], ["tier"], "2020-01-01")
    dup = _mk_changes(
        spark,
        [(1, "a", "2021-01-01", "upsert"), (1, "b", "2021-01-01", "upsert")],
    )
    for _ in range(3):
        m = _hist_map(scd2_apply(hist0, dup, ["k"], ["tier"]))
        assert m[1] == [
            ("gold", "2020-01-01", "2021-01-01", False),
            ("b", "2021-01-01", "9999-12-31", True),
        ]

    table = Scd2Table(spark, str(tmp_path / "s"), ["k"], ["tier"])
    table.initialize(_mk_dim(spark), "2020-01-01")
    with _pytest.raises(ValueError, match="duplicate"):
        table.apply(dup)


def test_bucketed_tombstone_only_batch_for_absent_keys_is_noop(spark, tmp_path):
    from datafusion_delta_queries_spark.operators.scd import Scd2Table

    state = str(tmp_path / "state")
    table = Scd2Table(spark, state, ["k"], ["tier"], n_buckets=4)
    table.initialize(_mk_dim(spark), "2020-01-01")
    before = _hist_map(table.read())
    # keys 7/8 have no history; replayed tombstones must no-op (and
    # must not crash on the empty staged rebuild)
    table.apply(
        _mk_changes(
            spark,
            [(7, None, "2021-01-01", "delete"), (8, None, "2021-01-01", "delete")],
        )
    )
    assert _hist_map(table.read()) == before


def test_chained_apply_plan_grows_linearly(spark):
    """Chaining ``scd2_apply`` calls grows the logical plan by the same
    number of lines per call: each call's output references its input
    history once. When the touched slice stayed lazy the output held
    the input's plan three times, and 7 chained calls reached 45,908
    plan lines."""
    hist = scd2_initialize(_mk_dim(spark), ["k"], ["tier"], "2020-01-01")
    sizes = []
    for i in range(10):
        changes = _mk_changes(
            spark, [(1 + i % 3, f"t{i}", f"{2021 + i}-01-01", "upsert")]
        )
        hist = scd2_apply(hist, changes, ["k"], ["tier"])
        sizes.append(
            len(hist._jdf.queryExecution().logical().toString().splitlines())
        )
        if i >= 2:
            assert sizes[i] - sizes[i - 1] == sizes[1] - sizes[0], sizes
    m = _hist_map(hist)
    # 10 upserts over 3 keys: every key keeps its seed version plus one
    # version per upsert, and only the last of each chain is current
    assert {k: len(v) for k, v in m.items()} == {1: 5, 2: 4, 3: 4}
    assert [v[-1] for v in (m[1], m[2], m[3])] == [
        ("t9", "2030-01-01", "9999-12-31", True),
        ("t7", "2028-01-01", "9999-12-31", True),
        ("t8", "2029-01-01", "9999-12-31", True),
    ]
