"""Versioned-table sources: time travel, change feed, and the delta
compiler running over real versioned storage (SURVEY §4.3's "old
snapshot = versionAsOf, PosDeltaScan = CDF inserts")."""

from __future__ import annotations

import os

import pytest

from datafusion_delta_queries_spark.catalog import load_table
from datafusion_delta_queries_spark.plans import (
    Filter,
    Join,
    Projection,
    Scan,
    compile_delta,
    compile_plan,
    compile_snapshot,
)
from datafusion_delta_queries_spark.sources import (
    VersionedDeltaCatalog,
    VersionedTable,
)

from .conftest import SF_SMALL


def _multiset(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def versioned_tables(spark, tmp_path):
    """orders/customer as 2-version tables (v0 base, v1 appends)."""
    out = {}
    for name, pred in (
        ("orders", "o_orderkey % 10 = 0"),
        ("customer", "c_custkey % 7 = 0"),
    ):
        df = load_table(spark, SF_SMALL, name)
        vt = VersionedTable(str(tmp_path / name))
        vt.write_version(df.where(f"NOT ({pred})"))
        vt.write_version(df.where(pred))
        out[name] = vt
    return out


def test_time_travel_and_changes(spark, versioned_tables):
    vt = versioned_tables["orders"]
    assert vt.versions() == [0, 1]
    full = load_table(spark, SF_SMALL, "orders")
    n_all = full.count()
    n_v0 = vt.snapshot(spark, 0).count()
    n_chg = vt.changes(spark, 0, 1).count()
    assert n_v0 + n_chg == n_all
    assert vt.snapshot(spark).count() == n_all  # latest = everything
    assert _multiset(vt.changes(spark, 0, 1)) == _multiset(
        full.where("o_orderkey % 10 = 0")
    )


def test_version_collision_refused(spark, versioned_tables):
    vt = versioned_tables["orders"]
    with pytest.raises(ValueError, match="already committed"):
        vt.write_version(vt.snapshot(spark, 0).limit(1), version=1)


def test_delta_compiler_over_versioned_storage(spark, versioned_tables):
    """full(v1) == full(v0) ∪ delta — with snapshots/changes from disk."""
    cat = VersionedDeltaCatalog(
        spark,
        versioned_tables,
        version_pins={"orders": (0, 1), "customer": (0, 1)},
    )
    ir = Projection(
        ["o_orderkey", "c_custkey", "c_name", "round(o_totalprice, 2) AS total"],
        Filter(
            "o_totalprice > 100000",
            Join(Scan("orders"), Scan("customer"), on=[("o_custkey", "c_custkey")]),
        ),
    )
    full_new = _multiset(compile_plan(ir, cat))
    full_old = _multiset(compile_snapshot(ir, cat))
    delta = _multiset(compile_delta(ir, cat))
    assert len(delta) > 0
    assert sorted(full_old + delta) == full_new


def test_unpinned_table_reads_latest_with_empty_delta(spark, versioned_tables):
    cat = VersionedDeltaCatalog(spark, versioned_tables, version_pins={})
    assert cat.delta("orders").count() == 0
    assert cat.full("orders").count() == load_table(spark, SF_SMALL, "orders").count()


def test_delta_lake_gate():
    from datafusion_delta_queries_spark.sources.versioned import delta_lake_table

    with pytest.raises(ImportError, match="delta-spark is not installed"):
        delta_lake_table(None, "/nonexistent")


# -- CDF-versioned storage: retraction-capable change log --------------

from pyspark.sql import functions as F  # noqa: E402

from datafusion_delta_queries_spark.plans import (  # noqa: E402
    SIGN,
    SignedDeltaCatalog,
    compile_signed_delta,
    consolidate,
)
from datafusion_delta_queries_spark.sources import (  # noqa: E402
    CdfVersionedTable,
    VersionedSignedCatalog,
)


@pytest.fixture()
def orders_cdf(spark, tmp_path):
    """An orders CDF log: v0 = initial state (all inserts), v1 = the
    deterministic CDC batch (inserts + deletes + updates). Built from
    the same CDC_SPECS the emulation catalog uses, so the emulation's
    old()/new() are the ground truth for the log's snapshots."""
    emu = SignedDeltaCatalog(spark, SF_SMALL)
    t = CdfVersionedTable(str(tmp_path / "orders_cdf"))
    t.write_version(
        emu.old("orders").withColumn("_change_type", F.lit("insert"))
    )
    t.write_version(emu.cdf_changes("orders"))
    return emu, t


def test_cdf_snapshot_folds_to_exact_states(spark, orders_cdf):
    emu, t = orders_cdf
    assert _multiset(t.snapshot(spark, 0)) == _multiset(emu.old("orders"))
    assert _multiset(t.snapshot(spark, 1)) == _multiset(emu.new("orders"))


def test_signed_compile_over_cdf_log_matches_emulation(spark, orders_cdf):
    """The signed rewrite produces identical net changes whether the
    catalog is the predicate-split emulation or a real stored change
    log — nothing above the catalog knows the difference."""
    emu, t = orders_cdf
    ir = Projection(
        ["o_orderkey", "o_orderpriority", "round(o_totalprice, 2) AS total"],
        Filter("o_totalprice > 150000", Scan("orders")),
    )
    vcat = VersionedSignedCatalog(
        spark, SF_SMALL, {"orders": t}, {"orders": (0, 1)}
    )
    got = consolidate(compile_signed_delta(ir, vcat))
    want = consolidate(compile_signed_delta(ir, SignedDeltaCatalog(spark, SF_SMALL)))
    assert _multiset(got) == _multiset(want)
    assert got.where(F.col(SIGN) < 0).count() > 0  # retractions flow


def test_signed_join_over_cdf_log_with_static_side(spark, orders_cdf):
    """Join a CDF-logged table against a static one: the static side
    reads from sf_dir with an empty change batch, and the bilinear
    rewrite degenerates to the correct single-sided delta."""
    emu, t = orders_cdf
    ir = Projection(
        ["o_orderkey", "c_custkey", "round(o_totalprice, 2) AS total"],
        Join(Scan("orders"), Scan("customer"), on=[("o_custkey", "c_custkey")]),
    )
    vcat = VersionedSignedCatalog(
        spark, SF_SMALL, {"orders": t}, {"orders": (0, 1)}
    )
    got = consolidate(compile_signed_delta(ir, vcat))
    cust = load_table(spark, SF_SMALL, "customer")
    def q(orders_df):
        j = orders_df.alias("o").join(
            cust.alias("c"),
            F.col("o.o_custkey") == F.col("c.c_custkey"),
        )
        return j.selectExpr(
            "o_orderkey", "c_custkey", "round(o_totalprice, 2) AS total"
        )
    want = consolidate(
        q(t.snapshot(spark, 1)).withColumn(SIGN, F.lit(1).cast("bigint"))
        .union(q(t.snapshot(spark, 0)).withColumn(SIGN, F.lit(-1).cast("bigint")))
    )
    assert _multiset(got) == _multiset(want)


def test_cdf_corrupt_history_fails_loudly(spark, tmp_path):
    t = CdfVersionedTable(str(tmp_path / "bad"))
    t.write_version(
        spark.createDataFrame(
            [("a", 1, "insert")], "k: string, v: int, _change_type: string"
        )
    )
    t.write_version(
        spark.createDataFrame(
            [("b", 2, "delete")], "k: string, v: int, _change_type: string"
        )
    )
    with pytest.raises(Exception, match="corrupt CDF history"):
        t.snapshot(spark, 1).collect()


def test_cdf_commit_requires_change_type(spark, tmp_path):
    t = CdfVersionedTable(str(tmp_path / "t"))
    with pytest.raises(ValueError, match="_change_type"):
        t.write_version(spark.createDataFrame([(1,)], "k: int"))


def test_cdf_snapshot_preserves_multiplicity(spark, tmp_path):
    """Duplicate rows are a multiset: two inserts of the same tuple
    survive one delete of it."""
    t = CdfVersionedTable(str(tmp_path / "m"))
    t.write_version(
        spark.createDataFrame(
            [("a", 1, "insert"), ("a", 1, "insert"), ("b", 2, "insert")],
            "k: string, v: int, _change_type: string",
        )
    )
    t.write_version(
        spark.createDataFrame(
            [("a", 1, "delete")], "k: string, v: int, _change_type: string"
        )
    )
    assert _multiset(t.snapshot(spark, 1)) == [("a", 1), ("b", 2)]


def test_cdf_log_successive_refresh_cycles(spark, tmp_path):
    """Three-version log driven as two successive maintenance cycles:
    pins (0,1) then (1,2). Each cycle's net change applied to the
    running state reproduces the next snapshot exactly — the loop a
    real maintained view runs against a growing CDF log."""
    t = CdfVersionedTable(str(tmp_path / "log"))
    mk = lambda rows: spark.createDataFrame(
        rows, "k: string, v: int, _change_type: string"
    )
    t.write_version(mk([("a", 1, "insert"), ("b", 2, "insert")]))
    t.write_version(mk([("a", 1, "delete"), ("c", 3, "insert")]))
    t.write_version(mk([
        ("b", 2, "update_preimage"), ("b", 9, "update_postimage"),
        ("c", 3, "delete"),
    ]))

    ir = Scan("t")
    state = t.snapshot(spark, 0)
    for old_v, new_v in ((0, 1), (1, 2)):
        vcat = VersionedSignedCatalog(
            spark, SF_SMALL, {"t": t}, {"t": (old_v, new_v)}
        )
        net = consolidate(compile_signed_delta(ir, vcat))
        applied = consolidate(
            state.withColumn(SIGN, F.lit(1).cast("bigint")).unionByName(net)
        )
        # every net row count is +1 here, so dropping SIGN re-expands
        state = applied.where(F.col(SIGN) > 0).drop(SIGN)
        assert _multiset(state) == _multiset(t.snapshot(spark, new_v))
    assert sorted(tuple(r) for r in state.collect()) == [("b", 9)]


def test_additive_schema_evolution_across_versions(spark, tmp_path):
    """A later commit may add a column: time travel before the change
    sees the old schema's data (NULL-free), snapshots after it carry
    the union schema with NULLs for pre-evolution rows — on both the
    append-only and the CDF-versioned table."""
    vt = VersionedTable(str(tmp_path / "plain"))
    vt.write_version(spark.createDataFrame([(1, "x")], "id: int, a: string"))
    vt.write_version(spark.createDataFrame(
        [(2, "y", 7.5)], "id: int, a: string, score: double"
    ))
    s1 = vt.snapshot(spark, 1)
    assert set(s1.columns) == {"id", "a", "score"}
    rows = {r["id"]: r["score"] for r in s1.collect()}
    assert rows == {1: None, 2: 7.5}

    ct = CdfVersionedTable(str(tmp_path / "cdf"))
    ct.write_version(spark.createDataFrame(
        [(1, "x", "insert")], "id: int, a: string, _change_type: string"
    ))
    ct.write_version(spark.createDataFrame(
        [(1, "x", None, "delete"), (2, "y", 7.5, "insert")],
        "id: int, a: string, score: double, _change_type: string",
    ))
    s = ct.snapshot(spark, 1)
    assert set(s.columns) == {"id", "a", "score"}
    # The delete of (1, x) retracts the pre-evolution row: its NULL
    # score groups with the delete row's NULL, so the fold nets to 0.
    assert [tuple(r) for r in s.collect()] == [(2, "y", 7.5)]


def test_added_non_nullable_column_reads_as_nullable(spark, tmp_path):
    """A commit whose footer declares an added column REQUIRED (written
    by a non-Spark writer) must not make the union schema non-nullable:
    the older commit's rows carry NULL there, as under mergeSchema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_delta_queries_spark.sources.versioned import (
        _merged_commit_schema,
    )

    vt = VersionedTable(str(tmp_path / "t"))
    vt.write_version(spark.createDataFrame([(1,)], "id: int"))
    os.makedirs(vt._version_dir(1))
    pq.write_table(
        pa.table(
            {"id": [2], "score": [7.5]},
            schema=pa.schema([
                pa.field("id", pa.int32()),
                pa.field("score", pa.float64(), nullable=False),
            ]),
        ),
        os.path.join(vt._version_dir(1), "part-00000.parquet"),
    )
    merged = _merged_commit_schema([vt._version_dir(v) for v in (0, 1)])
    assert merged["score"].nullable
    s = vt.snapshot(spark, 1)
    assert s.schema["score"].nullable
    assert s.filter("score IS NULL").count() == 1
    assert sorted(tuple(r) for r in s.collect()) == [(1, None), (2, 7.5)]


def test_int96_commit_reads_as_spark_infers(spark, tmp_path):
    """An INT96 timestamp column (a legacy writer's encoding) must read
    with the type Spark itself infers for it, not the NTZ type its
    Arrow schema maps to."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    vt = VersionedTable(str(tmp_path / "t"))
    os.makedirs(vt._version_dir(0))
    pq.write_table(
        pa.table({"id": [1], "ts": [datetime.datetime(2024, 1, 2, 3, 4, 5)]}),
        os.path.join(vt._version_dir(0), "part-00000.parquet"),
        use_deprecated_int96_timestamps=True,
    )
    inferred = spark.read.parquet(vt._version_dir(0))
    s = vt.snapshot(spark, 0)
    assert s.schema == inferred.schema
    assert s.collect() == inferred.collect()


# -- Checkpoint + vacuum: the 100 TB log-folding discipline ------------


def _mk_cdf(spark, rows):
    return spark.createDataFrame(
        rows, "k: string, v: int, _change_type: string"
    )


@pytest.fixture()
def three_version_log(spark, tmp_path):
    t = CdfVersionedTable(str(tmp_path / "log"))
    t.write_version(_mk_cdf(spark, [("a", 1, "insert"), ("b", 2, "insert")]))
    t.write_version(_mk_cdf(spark, [("a", 1, "delete"), ("c", 3, "insert")]))
    t.write_version(_mk_cdf(spark, [
        ("b", 2, "update_preimage"), ("b", 9, "update_postimage"),
        ("c", 3, "delete"),
    ]))
    return t


def test_checkpoint_preserves_every_snapshot(spark, three_version_log):
    """Snapshots at EVERY version are byte-identical before and after
    a mid-history checkpoint — folding from the checkpoint is an
    optimization, never a semantic change."""
    t = three_version_log
    want = {v: _multiset(t.snapshot(spark, v)) for v in (0, 1, 2)}
    assert t.checkpoint(spark, 1) == 1
    assert t.checkpoints() == [1]
    for v in (0, 1, 2):
        assert _multiset(t.snapshot(spark, v)) == want[v]


def test_checkpointed_snapshot_reads_only_checkpoint_plus_tail(
    spark, three_version_log
):
    """Plan-level proof of the fold-only-the-tail claim: after a
    checkpoint at v1, snapshot(2)'s input files are exactly the
    checkpoint dir + the v2 commit — v0/v1 commit files never open."""
    t = three_version_log
    t.checkpoint(spark, 1)
    files = t.snapshot(spark, 2).inputFiles()
    assert files, "snapshot must expose its input files"
    for f in files:
        assert ("ckpt=00000001" in f) or ("v=00000002" in f), f
    # exact-version snapshot with no tail is a plain checkpoint read
    files1 = t.snapshot(spark, 1).inputFiles()
    assert files1 and all("ckpt=00000001" in f for f in files1)


def test_checkpointed_snapshot_frame_builds_without_a_job(
    spark, three_version_log
):
    """The checkpoint is read under its footer schema: building the
    snapshot frame of a checkpointed version starts no Spark job (a
    mergeSchema read infers the schema with one)."""
    from .test_state_store import _jobs

    t = three_version_log
    t.checkpoint(spark, 1)
    frames = []
    assert _jobs(spark, lambda: frames.append(t.snapshot(spark, 1))) == 0
    assert _multiset(frames[0]) == [("b", 2), ("c", 3)]


def test_vacuum_removes_covered_commits_and_guards_reads(
    spark, three_version_log
):
    t = three_version_log
    t.checkpoint(spark, 1)
    assert t.vacuum() == [0, 1]
    assert t.versions() == [2]
    assert t.vacuum_horizon() == 1
    # covered time travel still works, from the checkpoint
    assert _multiset(t.snapshot(spark, 1)) == [("b", 2), ("c", 3)]
    assert _multiset(t.snapshot(spark, 2)) == [("b", 9)]
    # pre-checkpoint state is gone: loud, named failure
    with pytest.raises(ValueError, match="vacuum horizon"):
        t.snapshot(spark, 0)
    # change feeds spanning removed commits refuse too; intact ranges work
    with pytest.raises(ValueError, match="vacuum removed"):
        t.changes(spark, 0, 2)
    assert t.changes(spark, 1, 2).count() == 3


def test_vacuum_requires_a_checkpoint(spark, three_version_log):
    with pytest.raises(ValueError, match="checkpoint"):
        three_version_log.vacuum()


def test_commit_numbering_survives_full_vacuum(spark, three_version_log):
    """Checkpoint the head, vacuum everything, keep committing: the
    next version continues the history (no renumbering into the range
    a checkpoint covers), and snapshots keep folding from the
    checkpoint."""
    t = three_version_log
    t.checkpoint(spark, 2)
    assert t.vacuum() == [0, 1, 2]
    assert t.versions() == []
    assert t.latest_version() == 2
    v = t.write_version(_mk_cdf(spark, [("d", 4, "insert")]))
    assert v == 3
    assert _multiset(t.snapshot(spark)) == [("b", 9), ("d", 4)]
    with pytest.raises(ValueError, match="history cannot be rewritten"):
        t.write_version(_mk_cdf(spark, [("x", 0, "insert")]), version=1)


def test_checkpoint_of_checkpoint_folds_from_the_previous_one(
    spark, three_version_log
):
    """A second checkpoint builds from the first + tail (inputFiles
    audit), and re-checkpointing an already-covered version raises."""
    t = three_version_log
    t.checkpoint(spark, 0)
    # building ckpt@2 must read ckpt@0 + v1 + v2, never v0
    snap = t.snapshot(spark, 2)
    assert all("v=00000000" not in f for f in snap.inputFiles())
    t.checkpoint(spark, 2)
    assert t.checkpoints() == [0, 2]
    with pytest.raises(ValueError, match="already checkpointed"):
        t.checkpoint(spark, 2)
    files = t.snapshot(spark, 2).inputFiles()
    assert files and all("ckpt=00000002" in f for f in files)


def test_corrupt_history_still_fails_loudly_across_a_checkpoint(
    spark, tmp_path
):
    """The net-negative guard survives checkpointing: a tail that
    retracts a row the checkpointed state never held fails inside the
    fold plan, exactly as the un-checkpointed fold does."""
    t = CdfVersionedTable(str(tmp_path / "bad"))
    t.write_version(_mk_cdf(spark, [("a", 1, "insert")]))
    t.checkpoint(spark, 0)
    t.write_version(_mk_cdf(spark, [("z", 9, "delete")]))
    with pytest.raises(Exception, match="corrupt CDF history"):
        t.snapshot(spark, 1).collect()


# -- SQL time travel: FROM t VERSION AS OF n ----------------------------

from datafusion_delta_queries_spark.plans.nodes import Scan as _Scan  # noqa: E402
from datafusion_delta_queries_spark.plans.sql_frontend import (  # noqa: E402
    UnsupportedSQL,
    full_of_sql,
    parse_agg_sql,
    sql_to_ir,
)


def test_version_as_of_parses_to_pinned_scan():
    ir = sql_to_ir("SELECT * FROM orders VERSION AS OF 3")
    assert ir == _Scan("orders", version=3)
    ir = sql_to_ir("SELECT * FROM orders FOR VERSION AS OF 0 o")
    assert ir == _Scan("orders", version=0)
    # an alias literally named `version` keeps meaning an alias
    ir = sql_to_ir("SELECT version.o_orderkey FROM orders version")
    assert isinstance(ir.input, _Scan) and ir.input.version is None
    with pytest.raises(UnsupportedSQL, match="integer literal"):
        sql_to_ir("SELECT * FROM orders VERSION AS OF '2024-01-01'")


def test_sql_time_travel_reads_the_pinned_snapshot(spark, versioned_tables):
    """The full SQL surface over versioned storage: the same statement
    pinned at v0 and unpinned (current) returns exactly the two stored
    snapshots, and a join may pin one side while the other reads
    current."""
    tables = versioned_tables
    vcat = VersionedDeltaCatalog(
        spark, tables, {n: (0, 1) for n in tables}
    )
    old = full_of_sql(
        spark, SF_SMALL,
        "SELECT o_orderkey, o_custkey FROM orders VERSION AS OF 0",
        catalog=vcat,
    )
    assert _multiset(old) == _multiset(
        tables["orders"].snapshot(spark, 0).select("o_orderkey", "o_custkey")
    )
    cur = full_of_sql(
        spark, SF_SMALL,
        "SELECT o_orderkey, o_custkey FROM orders",
        catalog=vcat,
    )
    assert _multiset(cur) == _multiset(
        tables["orders"].snapshot(spark, 1).select("o_orderkey", "o_custkey")
    )
    mixed = full_of_sql(
        spark, SF_SMALL,
        "SELECT o.o_orderkey, c.c_custkey FROM orders VERSION AS OF 0 o "
        "JOIN customer c ON o.o_custkey = c.c_custkey",
        catalog=vcat,
    )
    o0 = tables["orders"].snapshot(spark, 0)
    c1 = tables["customer"].snapshot(spark, 1)
    want = o0.join(c1, o0.o_custkey == c1.c_custkey).select(
        "o_orderkey", "c_custkey"
    )
    assert _multiset(mixed) == _multiset(want)


def test_time_travel_guards_fail_loudly(spark, versioned_tables):
    tables = versioned_tables
    vcat = VersionedDeltaCatalog(spark, tables, {n: (0, 1) for n in tables})
    # beyond the catalog's read version: the future is not visible
    with pytest.raises(ValueError, match="beyond"):
        full_of_sql(
            spark, SF_SMALL,
            "SELECT * FROM orders VERSION AS OF 9", catalog=vcat,
        ).collect()
    # the plain fixture catalog has no history at all
    with pytest.raises(ValueError, match="no version history"):
        full_of_sql(
            spark, SF_SMALL, "SELECT * FROM orders VERSION AS OF 0"
        )
    # maintenance of a pinned version is a contradiction
    with pytest.raises(UnsupportedSQL, match="contradiction"):
        parse_agg_sql(
            "SELECT o_orderpriority, count(*) AS n FROM orders "
            "VERSION AS OF 0 GROUP BY o_orderpriority"
        )
    # and the delta compiler refuses a pinned leaf
    from datafusion_delta_queries_spark.plans import compile_delta

    with pytest.raises(ValueError, match="no delta"):
        compile_delta(
            _Scan("orders", version=0),
            VersionedDeltaCatalog(spark, tables, {n: (0, 1) for n in tables}),
        )


# -- Merge-on-read DML: DELETE/UPDATE as CDF commits --------------------


def test_mor_delete_and_update_rewrite_no_files(spark, tmp_path):
    """delete_where/update_where commit tombstones and image pairs as
    NEW versions; every existing data file's bytes stay untouched
    (deletion-vector economics), the snapshot folds them, and time
    travel still sees the pre-DML state."""
    import os

    t = CdfVersionedTable(str(tmp_path / "t"))
    t.write_version(_mk_cdf(spark, [
        ("a", 1, "insert"), ("b", 2, "insert"), ("c", 30, "insert"),
    ]))

    def files():
        out = {}
        for d in sorted(os.listdir(t.root)):
            full = os.path.join(t.root, d)
            if os.path.isdir(full):
                for f in sorted(os.listdir(full)):
                    p = os.path.join(full, f)
                    out[f"{d}/{f}"] = (os.path.getmtime(p), os.path.getsize(p))
        return out

    before = files()
    v1 = t.delete_where(spark, "v >= 30")
    assert v1 == 1
    v2 = t.update_where(spark, {"v": "v + 100"}, "k = 'a'")
    assert v2 == 2
    after = files()
    assert all(after[f] == m for f, m in before.items()), (
        "merge-on-read DML must not rewrite existing files"
    )
    assert _multiset(t.snapshot(spark)) == [("a", 101), ("b", 2)]
    # time travel: the pre-DML state is intact
    assert _multiset(t.snapshot(spark, 0)) == [("a", 1), ("b", 2), ("c", 30)]
    # unknown SET column refused
    with pytest.raises(ValueError, match="unknown columns"):
        t.update_where(spark, {"nope": "1"}, "TRUE")


def test_mor_dml_over_a_checkpoint_folds_tail_only(spark, tmp_path):
    """With a checkpoint in place, the DML's snapshot scan and the
    post-DML reads fold checkpoint + tail — the v0 commit never
    opens."""
    t = CdfVersionedTable(str(tmp_path / "t"))
    t.write_version(_mk_cdf(spark, [("a", 1, "insert"), ("b", 2, "insert")]))
    t.checkpoint(spark, 0)
    t.delete_where(spark, "k = 'b'")
    snap = t.snapshot(spark)
    assert all("v=00000000" not in f for f in snap.inputFiles())
    assert _multiset(snap) == [("a", 1)]


def test_vacuum_guards_snapshot_between_two_checkpoints(
    spark, three_version_log
):
    """Checkpoints at v0 and v2, vacuum (horizon=2) removes commits
    0-2. snapshot(1) sits strictly BETWEEN the checkpoints: its base
    checkpoint (v0) survives but the v1 commit is gone, so folding the
    surviving commits would silently return v0's state labeled v1.
    Must raise loudly instead; the checkpointed endpoints still read."""
    t = three_version_log
    want0 = _multiset(t.snapshot(spark, 0))
    want2 = _multiset(t.snapshot(spark, 2))
    t.checkpoint(spark, 0)
    t.checkpoint(spark, 2)
    assert t.vacuum() == [0, 1, 2]
    assert _multiset(t.snapshot(spark, 0)) == want0
    assert _multiset(t.snapshot(spark, 2)) == want2
    with pytest.raises(ValueError, match="vacuum removed"):
        t.snapshot(spark, 1)
    # post-vacuum commits fold fine on top of the latest checkpoint
    t.write_version(_mk_cdf(spark, [("z", 7, "insert")]))
    assert _multiset(t.snapshot(spark, 3)) == sorted(want2 + [("z", 7)])


def test_snapshot_diff_classification(spark):
    """snapshot_diff: composite keys, NULL compare columns (NULL→NULL
    is unchanged, NULL→value is changed), and per-side value carry."""
    from datafusion_delta_queries_spark.operators.delta_queries import (
        snapshot_diff,
    )

    left = spark.createDataFrame(
        [(1, "a", 10, None), (1, "b", 20, "x"), (2, "a", 30, None)],
        "k1 int, k2 string, v int, w string",
    )
    right = spark.createDataFrame(
        [(1, "a", 10, None), (1, "b", 25, "x"), (3, "c", 99, "y"),
         (2, "a", 30, "now-set")],
        "k1 int, k2 string, v int, w string",
    )
    d = snapshot_diff(left, right, keys=["k1", "k2"], compare_cols=["v", "w"])
    got = {(r["k1"], r["k2"]): r["change_type"] for r in d.collect()}
    assert got == {
        (1, "a"): "unchanged",
        (1, "b"): "changed",
        (2, "a"): "changed",
        (3, "c"): "added",
    }
    carried = {r["change_type"]: (r["from_v"], r["to_v"]) for r in d.collect()}
    assert carried["added"] == (None, 99)


def test_restore_rolls_forward_and_preserves_history(spark):
    """RESTORE commits a repair, never erases: post-restore state ==
    target version, the drifted state stays time-travelable, a no-op
    restore still logs an (empty) commit, and the parser rejects
    malformed statements."""
    import pytest

    from datafusion_delta_queries_spark.plans.sql_extensions import (
        run_restore_sql,
    )
    from datafusion_delta_queries_spark.plans.sql_frontend import (
        UnsupportedSQL,
    )
    from datafusion_delta_queries_spark.sources.versioned import (
        CdfVersionedTable,
    )

    import tempfile

    vt = CdfVersionedTable(tempfile.mkdtemp(prefix="restore_t_"))
    F = __import__("pyspark.sql.functions", fromlist=["lit"])
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    vt.write_version(base.withColumn("_change_type", F.lit("insert")))
    vt.delete_where(spark, "k = 2")
    vt.update_where(spark, {"v": "upper(v)"}, "k = 3")

    out = run_restore_sql(
        spark, "RESTORE TABLE t TO VERSION AS OF 0", {"t": vt}
    ).collect()[0]
    assert (out["restored_to_version"], out["commit_version"]) == (0, 3)
    assert sorted(map(tuple, vt.snapshot(spark).collect())) == [
        (1, "a"), (2, "b"), (3, "c")
    ]
    # the drifted state (v2) is still reachable — history preserved
    assert sorted(map(tuple, vt.snapshot(spark, 2).collect())) == [
        (1, "a"), (3, "C")
    ]
    # no-op restore: state already == v0 → empty batch, still a commit
    run_restore_sql(spark, "RESTORE TABLE t TO VERSION AS OF 0", {"t": vt})
    assert vt.versions()[-1] == 4
    assert sorted(map(tuple, vt.snapshot(spark).collect())) == [
        (1, "a"), (2, "b"), (3, "c")
    ]
    with pytest.raises(UnsupportedSQL, match="unknown versioned table"):
        run_restore_sql(spark, "RESTORE TABLE zz TO VERSION AS OF 0", {"t": vt})
    with pytest.raises(UnsupportedSQL, match="RESTORE"):
        run_restore_sql(spark, "RESTORE TABLE t TO VERSION 0", {"t": vt})


def test_restore_tail_fold_matches_except_all(spark):
    """r17 optimization pin: ``restore`` now derives the repair batch
    from the signed fold of ONLY the commits after the target version
    (the shared prefix of the two snapshots cancels identically), and
    falls back to a one-pass snapshot diff when vacuum removed a tail
    commit. Both paths must commit the exact multiset the original
    two-``exceptAll`` formulation produced — duplicates included."""
    import tempfile

    from pyspark.sql import functions as F

    from datafusion_delta_queries_spark.sources.versioned import (
        CdfVersionedTable,
    )

    def batch_of(vt, v):
        # the committed repair batch, as a sorted multiset
        return sorted(
            map(tuple, spark.read.parquet(vt._version_dir(v)).collect())
        )

    def expected(vt, target):
        cur, tgt = vt.snapshot(spark), vt.snapshot(spark, target)
        exp = cur.exceptAll(tgt).withColumn(
            "_change_type", F.lit("delete")
        ).unionByName(
            tgt.exceptAll(cur).withColumn("_change_type", F.lit("insert"))
        )
        return sorted(map(tuple, exp.collect()))

    # duplicate rows on purpose: (1, 'x') twice in v0, one copy deleted
    # in v1 — the multiset (not set) semantics must survive the rewrite
    vt = CdfVersionedTable(tempfile.mkdtemp(prefix="restore_fold_"))
    base = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "y"), (3, "z")], "k int, v string"
    )
    vt.write_version(base.withColumn("_change_type", F.lit("insert")))
    one_copy = spark.createDataFrame([(1, "x")], "k int, v string")
    vt.write_version(one_copy.withColumn("_change_type", F.lit("delete")))
    vt.update_where(spark, {"v": "upper(v)"}, "k = 3")
    vt.write_version(
        spark.createDataFrame([(2, "y")], "k int, v string").withColumn(
            "_change_type", F.lit("insert")
        )
    )  # (2,'y') now has multiplicity 2
    want = expected(vt, 0)
    v = vt.restore(spark, 0)
    assert batch_of(vt, v) == want
    assert sorted(map(tuple, vt.snapshot(spark).select("k", "v").collect())) == [
        (1, "x"), (1, "x"), (2, "y"), (3, "z")
    ]

    # surviving-tail path after a vacuum: commits 5.. all survive, so
    # the fold still feeds from them even though 0..4 are gone
    vt.checkpoint(spark)  # checkpoints v4 (the restore commit)
    vt.vacuum()           # removes commit dirs 0..4
    vt.delete_where(spark, "k = 2")  # v5: two delete rows
    want = expected(vt, 4)
    v = vt.restore(spark, 4)
    assert batch_of(vt, v) == want
    assert sorted(map(tuple, vt.snapshot(spark).select("k", "v").collect())) == [
        (1, "x"), (1, "x"), (2, "y"), (3, "z")
    ]

    # vacuum FALLBACK: a tail commit is gone (v7 vacuumed away), so
    # the tail identity has no feed — the one-pass snapshot diff must
    # serve both states from checkpoints instead.
    vt.checkpoint(spark)  # checkpoints v6 (the restore-to-4 commit)
    vt.vacuum()           # removes commit dirs 5..6
    vt.delete_where(spark, "k = 1")          # v7: two delete rows
    vt.checkpoint(spark)  # checkpoints v7
    vt.vacuum()           # removes commit dir 7
    vt.update_where(spark, {"v": "upper(v)"}, "k = 3")  # v8
    want = expected(vt, 6)
    v = vt.restore(spark, 6)  # needs v7+v8; v7 is gone → fallback
    assert batch_of(vt, v) == want
    assert sorted(map(tuple, vt.snapshot(spark).select("k", "v").collect())) == [
        (1, "x"), (1, "x"), (2, "y"), (3, "z")
    ]

    # no-op restore: empty batch, still a commit
    before = vt.latest_version()
    v = vt.restore(spark, before)
    assert v == before + 1
    assert batch_of(vt, v) == []


def test_describe_history_after_full_vacuum_raises_loudly(spark):
    import tempfile

    import pytest
    from pyspark.sql import functions as F

    from datafusion_delta_queries_spark.sources.versioned import (
        CdfVersionedTable,
    )

    vt = CdfVersionedTable(tempfile.mkdtemp(prefix="dh_vac_"))
    vt.write_version(
        spark.createDataFrame([(1, "a")], "k int, v string").withColumn(
            "_change_type", F.lit("insert")
        )
    )
    vt.checkpoint(spark)
    vt.vacuum()
    with pytest.raises(ValueError, match="no surviving commit dirs"):
        vt.describe_history(spark)


# -- SHALLOW CLONE ------------------------------------------------------


def test_shallow_clone_zero_copy_and_divergence(spark, tmp_path):
    import os

    from datafusion_delta_queries_spark.sources.versioned import (
        CdfVersionedTable,
        ShallowCloneTable,
    )

    src = CdfVersionedTable(str(tmp_path / "src"))
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(20)], "k int, v int"
    )
    src.write_version(base.withColumn("_change_type", F.lit("insert")))
    src.delete_where(spark, "k % 5 = 0")  # v1

    clone = ShallowCloneTable.create(src, str(tmp_path / "clone"), 1)
    # zero copy: manifest only
    files = [f for _, _, fs in os.walk(str(tmp_path / "clone")) for f in fs]
    assert files == ["_CLONE_MANIFEST.json"]
    # same state as the source at the clone point
    assert sorted(r["k"] for r in clone.snapshot(spark).collect()) == sorted(
        r["k"] for r in src.snapshot(spark, 1).collect()
    )
    # time travel INTO pre-clone history works (v0 = full base)
    assert clone.snapshot(spark, 0).count() == 20

    # divergence: clone delete does not touch the source
    clone.delete_where(spark, "k % 5 = 1")  # clone v2
    src.update_where(spark, {"v": "v + 1"}, "k = 2")  # source v2
    assert clone.snapshot(spark).where("k % 5 = 1").count() == 0
    assert src.snapshot(spark).where("k % 5 = 1").count() == 4
    assert clone.snapshot(spark).where("k = 2 AND v = 21").count() == 0
    assert src.snapshot(spark).where("k = 2 AND v = 21").count() == 1
    # version numbering continues from the clone point on both sides
    assert clone.versions() == [0, 1, 2]
    assert src.versions() == [0, 1, 2]

    # reopening by root re-reads the manifest
    reopened = ShallowCloneTable(str(tmp_path / "clone"))
    assert reopened.snapshot(spark).count() == clone.snapshot(spark).count()


def test_shallow_clone_guards(spark, tmp_path):
    import pytest as _pytest

    from datafusion_delta_queries_spark.sources.versioned import (
        CdfVersionedTable,
        ShallowCloneTable,
    )

    src = CdfVersionedTable(str(tmp_path / "src"))
    base = spark.createDataFrame([(1, 1)], "k int, v int")
    src.write_version(base.withColumn("_change_type", F.lit("insert")))

    with _pytest.raises(ValueError, match="versions"):
        ShallowCloneTable.create(src, str(tmp_path / "c1"), 99)

    clone = ShallowCloneTable.create(src, str(tmp_path / "c2"))
    with _pytest.raises(ValueError, match="not empty"):
        ShallowCloneTable.create(src, str(tmp_path / "c2"))

    # clone vacuum never removes inherited (source) commits
    with _pytest.raises(ValueError, match="LOCAL checkpoint"):
        clone.vacuum()
    clone.write_version(
        spark.createDataFrame([(2, 2)], "k int, v int").withColumn(
            "_change_type", F.lit("insert")
        )
    )
    clone.checkpoint(spark)  # local ckpt at v1
    removed = clone.vacuum()
    assert removed == [1]  # only the clone's own commit dir
    assert src.versions() == [0]  # source commit dirs untouched
    assert clone.snapshot(spark).count() == 2

    # source vacuum breaks clones that reference removed commits —
    # surfaced loudly through the inherited horizon
    src2 = CdfVersionedTable(str(tmp_path / "src2"))
    src2.write_version(base.withColumn("_change_type", F.lit("insert")))
    src2.write_version(
        spark.createDataFrame([(3, 3)], "k int, v int").withColumn(
            "_change_type", F.lit("insert")
        )
    )
    c3 = ShallowCloneTable.create(src2, str(tmp_path / "c3"), 1)
    src2.checkpoint(spark)
    src2.vacuum()
    with _pytest.raises(ValueError, match="vacuum"):
        c3.snapshot(spark, 0)


def test_insert_only_snapshot_skips_the_fold(spark, tmp_path):
    """The r17 insert-only fast path: when no tail commit carries a
    tombstone, snapshot() must return the plain multiset union (no
    groupBy Exchange in the plan) and stay row-identical to the signed
    fold — including duplicate rows, whose multiplicity the fold
    reproduces via explode(sequence(1, net))."""
    from pyspark.sql import functions as F

    from datafusion_delta_queries_spark.catalog import load_table
    from datafusion_delta_queries_spark.sources.versioned import (
        CdfVersionedTable,
    )

    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    dup = orders.limit(3)  # duplicate rows: multiset semantics pinned
    t = CdfVersionedTable(str(tmp_path / "t"))
    t.write_version(orders.withColumn("_change_type", F.lit("insert")))
    t.write_version(dup.withColumn("_change_type", F.lit("insert")))

    snap = t.snapshot(spark)
    plan = snap._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert snap.count() == orders.count() + 3

    # once a tombstone lands, the fold path must engage again
    t.delete_where(spark, "o_orderkey % 2 = 0")
    snap2 = t.snapshot(spark)
    want = orders.unionAll(dup).where("o_orderkey % 2 != 0")
    assert snap2.exceptAll(want).count() == 0
    assert want.exceptAll(snap2).count() == 0
