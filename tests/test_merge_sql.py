"""MERGE INTO: Delta DML semantics — first-match-wins clause routing,
the multiple-source-match error, staged-swap safety."""

from __future__ import annotations

import pytest

from datafusion_delta_queries_spark.plans.merge_sql import (
    execute_merge,
    parse_merge,
)
from datafusion_delta_queries_spark.plans.sql_frontend import UnsupportedSQL


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k: int, v: string, amt: int")


def _state(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


@pytest.fixture()
def target(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30)]).write.parquet(path)
    return path


def test_merge_update_delete_insert(spark, target):
    """One statement exercising every clause kind: k=1 deleted (first
    clause wins), k=2 updated from the source, k=3 untouched (matched
    by no clause condition path: passes through unchanged via the
    update's residual), k=9 inserted."""
    src = _mk(spark, [(1, "x", 0), (2, "y", 99), (9, "z", 90)])
    execute_merge(
        spark,
        """
        MERGE INTO t USING s ON t.k = s.k
        WHEN MATCHED AND s.amt = 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = s.v, amt = s.amt + 1
        WHEN NOT MATCHED THEN INSERT *
        """,
        target,
        src,
    )
    assert _state(spark, target) == [
        (2, "y", 100),
        (3, "c", 30),
        (9, "z", 90),
    ]


def test_merge_first_match_wins_and_passthrough(spark, target):
    """A matched row hitting the FIRST clause never reaches the
    second; a matched row hitting neither passes through unchanged."""
    src = _mk(spark, [(1, "p", 100), (2, "q", 5)])
    execute_merge(
        spark,
        """
        MERGE INTO t USING s ON t.k = s.k
        WHEN MATCHED AND s.amt > 50 THEN UPDATE SET v = 'big'
        WHEN MATCHED AND s.amt > 50 THEN DELETE
        WHEN MATCHED AND s.amt < 0 THEN DELETE
        """,
        target,
        src,
    )
    # k=1: first clause (update) wins; k=2 matched but no clause → kept
    assert _state(spark, target) == [
        (1, "big", 10),
        (2, "b", 20),
        (3, "c", 30),
    ]


def test_merge_insert_columns_with_null_fill(spark, target):
    src = _mk(spark, [(7, "n", 70)])
    execute_merge(
        spark,
        """
        MERGE INTO t USING s ON t.k = s.k
        WHEN NOT MATCHED THEN INSERT (k, amt) VALUES (s.k, s.amt * 2)
        """,
        target,
        src,
    )
    assert (7, None, 140) in _state(spark, target)


def test_merge_multiple_source_matches_refused(spark, target):
    src = _mk(spark, [(1, "x", 1), (1, "y", 2)])
    before = _state(spark, target)
    with pytest.raises(ValueError, match="multiple source rows"):
        execute_merge(
            spark,
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v",
            target,
            src,
        )
    assert _state(spark, target) == before  # untouched on failure


def test_merge_guards(spark, target):
    src = _mk(spark, [(9, "z", 9)])
    with pytest.raises(UnsupportedSQL, match="unknown columns"):
        execute_merge(
            spark,
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET nope = 1",
            target,
            src,
        )
    with pytest.raises(UnsupportedSQL, match="WHEN clause"):
        parse_merge("MERGE INTO t USING s ON t.k = s.k")
    with pytest.raises(UnsupportedSQL, match="ON condition"):
        parse_merge("MERGE INTO t USING s ON WHEN MATCHED THEN DELETE")
    spec = parse_merge(
        "MERGE INTO a.t AS x USING b.s AS y ON x.k = y.k "
        "WHEN MATCHED THEN DELETE"
    )
    assert (spec["target"], spec["t_alias"]) == ("t", "x")
    assert (spec["source"], spec["s_alias"]) == ("s", "y")


# -- UPDATE / DELETE / INSERT INTO --------------------------------------

from datafusion_delta_queries_spark.plans.merge_sql import (  # noqa: E402
    execute_delete,
    execute_insert_into,
    execute_update,
)


def test_delete_where(spark, target):
    execute_delete(spark, "DELETE FROM t WHERE amt >= 20", target)
    assert _state(spark, target) == [(1, "a", 10)]
    with pytest.raises(UnsupportedSQL, match="truncate"):
        execute_delete(spark, "DELETE FROM t", target)


def test_update_reads_old_row_for_every_assignment(spark, target):
    """Standard SQL: all SET expressions see the PRE-update row — a
    swap (v from amt, amt from old amt) must not chain."""
    execute_update(
        spark,
        "UPDATE t SET v = CAST(amt AS STRING), amt = amt + 100 "
        "WHERE k <= 2",
        target,
    )
    assert _state(spark, target) == [
        (1, "10", 110),
        (2, "20", 120),
        (3, "c", 30),
    ]
    with pytest.raises(UnsupportedSQL, match="unknown columns"):
        execute_update(spark, "UPDATE t SET nope = 1", target)


def test_insert_into_select_appends_without_rewrite(spark, target, tmp_path):
    """INSERT INTO ... SELECT appends files; existing files' bytes are
    untouched (the lakehouse cheap path)."""
    import os

    from datafusion_delta_queries_spark.plans.compiler import DeltaCatalog

    src_dir = str(tmp_path / "srctbl")
    _mk(spark, [(8, "h", 80), (9, "i", 5)]).write.parquet(src_dir)

    class Cat(DeltaCatalog):
        def __init__(self):
            self.delta_predicates = {}

        def full(self, name):
            assert name == "extra"
            return spark.read.parquet(src_dir)

    before = {
        f: os.path.getmtime(os.path.join(target, f))
        for f in os.listdir(target)
        if f.endswith(".parquet")
    }
    execute_insert_into(
        spark,
        "INSERT INTO t SELECT * FROM extra WHERE amt > 10",
        target,
        Cat(),
    )
    after = {
        f: os.path.getmtime(os.path.join(target, f))
        for f in os.listdir(target)
        if f.endswith(".parquet")
    }
    assert set(before) < set(after)
    assert all(after[f] == m for f, m in before.items())
    assert (8, "h", 80) in _state(spark, target)
    assert (9, "i", 5) not in _state(spark, target)


def test_merge_null_clause_condition_falls_through(spark, target):
    """Delta treats a NULL clause condition as NOT satisfied: a
    matched row whose condition evaluates NULL must fall to the next
    clause (or pass through unchanged), never silently vanish from
    both the hit and the remainder branch."""
    # k=1: s.amt NULL → `s.amt = 0` is NULL → DELETE clause skipped,
    # no further matched clause → row passes through UNCHANGED.
    src = spark.createDataFrame(
        [(1, "x", None)], "k: int, v: string, amt: int"
    )
    execute_merge(
        spark,
        """
        MERGE INTO t USING s ON t.k = s.k
        WHEN MATCHED AND s.amt = 0 THEN DELETE
        """,
        target,
        src,
    )
    assert _state(spark, target) == [(1, "a", 10), (2, "b", 20), (3, "c", 30)]


def test_merge_null_not_matched_condition_falls_to_insert_star(spark, target):
    """A NOT-MATCHED source row whose first clause condition evaluates
    NULL must stay visible to the trailing INSERT *."""
    src = spark.createDataFrame(
        [(8, "h", None)], "k: int, v: string, amt: int"
    )
    execute_merge(
        spark,
        """
        MERGE INTO t USING s ON t.k = s.k
        WHEN NOT MATCHED AND s.amt > 100 THEN INSERT (k, v, amt)
            VALUES (s.k, 'huge', s.amt)
        WHEN NOT MATCHED THEN INSERT *
        """,
        target,
        src,
    )
    assert _state(spark, target) == [
        (1, "a", 10),
        (2, "b", 20),
        (3, "c", 30),
        (8, "h", None),
    ]


def test_merge_identical_target_rows_not_a_multiple_match(spark, tmp_path):
    """Two fully identical target rows each matched by ONE source row
    are a deterministic merge — the guard counts per target-row
    identity, not per distinct column tuple."""
    path = str(tmp_path / "dup_t")
    _mk(spark, [(1, "a", 10), (1, "a", 10)]).write.parquet(path)
    src = _mk(spark, [(1, "z", 99)])
    execute_merge(
        spark,
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v",
        path,
        src,
    )
    assert _state(spark, path) == [(1, "z", 10), (1, "z", 10)]


# ---------------------------------------------------------------------------
# Partition-pruned DML: untouched partition directories are BYTE-
# IDENTICAL after the mutation (the discipline test_sinks.py applies
# to partitioned state replaces, applied to MERGE / DELETE / UPDATE).
# ---------------------------------------------------------------------------

import hashlib
import os


def _dir_bytes(base):
    """{relpath: sha256} for every data file under base."""
    out = {}
    for root, _dirs, files in os.walk(base):
        for f in files:
            p = os.path.join(root, f)
            rel = os.path.relpath(p, base)
            out[rel] = hashlib.sha256(open(p, "rb").read()).hexdigest()
    return out


def _mk_part(spark, tmp_path, name):
    path = str(tmp_path / name)
    spark.createDataFrame(
        [(1, "2024-01-01", "a", 10), (2, "2024-01-01", "b", 20),
         (3, "2024-01-02", "c", 30), (4, "2024-01-03", "d", 40)],
        "k: int, day: string, v: string, amt: int",
    ).repartition(1).write.partitionBy("day").parquet(path)
    return path


def _untouched(snap_before, snap_after, prefix):
    before = {k: v for k, v in snap_before.items() if k.startswith(prefix)}
    after = {k: v for k, v in snap_after.items() if k.startswith(prefix)}
    return before, after


def test_merge_pruned_rewrites_only_touched_partitions(spark, tmp_path):
    path = _mk_part(spark, tmp_path, "pm")
    before = _dir_bytes(path)
    src = spark.createDataFrame(
        [(1, "2024-01-01", "z", 99), (9, "2024-01-09", "n", 90)],
        "k: int, day: string, v: string, amt: int",
    )
    execute_merge(
        spark,
        """
        MERGE INTO t USING s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v, amt = s.amt
        WHEN NOT MATCHED THEN INSERT *
        """,
        path,
        src,
        partition_cols=["day"],
    )
    after = _dir_bytes(path)
    # untouched days: byte-identical files, not merely equal rows
    for day in ("day=2024-01-02", "day=2024-01-03"):
        b, a = _untouched(before, after, day)
        assert b == a, f"{day} was rewritten"
    assert any(k.startswith("day=2024-01-09") for k in after)  # insert landed
    assert sorted(
        tuple(r) for r in spark.read.parquet(path)
        .selectExpr("k", "cast(day as string) day", "v", "amt").collect()
    ) == [
        (1, "2024-01-01", "z", 99), (2, "2024-01-01", "b", 20),
        (3, "2024-01-02", "c", 30), (4, "2024-01-03", "d", 40),
        (9, "2024-01-09", "n", 90),
    ]


def test_delete_pruned_only_touches_matching_partitions(spark, tmp_path):
    from datafusion_delta_queries_spark.plans.merge_sql import execute_delete

    path = _mk_part(spark, tmp_path, "pd")
    before = _dir_bytes(path)
    execute_delete(
        spark, "DELETE FROM t WHERE amt = 10", path, partition_cols=["day"]
    )
    after = _dir_bytes(path)
    for day in ("day=2024-01-02", "day=2024-01-03"):
        b, a = _untouched(before, after, day)
        assert b == a, f"{day} was rewritten"
    assert sorted(
        tuple(r) for r in spark.read.parquet(path)
        .selectExpr("k", "cast(day as string) day").collect()
    ) == [(2, "2024-01-01"), (3, "2024-01-02"), (4, "2024-01-03")]


def test_delete_pruned_removes_emptied_partition_dir(spark, tmp_path):
    from datafusion_delta_queries_spark.plans.merge_sql import execute_delete

    path = _mk_part(spark, tmp_path, "pe")
    execute_delete(
        spark, "DELETE FROM t WHERE day = '2024-01-02'", path,
        partition_cols=["day"],
    )
    assert not os.path.isdir(os.path.join(path, "day=2024-01-02"))
    assert spark.read.parquet(path).count() == 3


def test_update_pruned_moves_row_across_partitions(spark, tmp_path):
    from datafusion_delta_queries_spark.plans.merge_sql import execute_update

    path = _mk_part(spark, tmp_path, "pu")
    before = _dir_bytes(path)
    # k=3 moves from day 01-02 into day 01-03: BOTH are touched, the
    # 01-01 partition must stay byte-identical.
    execute_update(
        spark,
        "UPDATE t SET day = '2024-01-03', amt = amt + 1 WHERE k = 3",
        path,
        partition_cols=["day"],
    )
    after = _dir_bytes(path)
    b, a = _untouched(before, after, "day=2024-01-01")
    assert b == a, "day=2024-01-01 was rewritten"
    assert not os.path.isdir(os.path.join(path, "day=2024-01-02"))
    assert sorted(
        tuple(r) for r in spark.read.parquet(path)
        .selectExpr("k", "cast(day as string) day", "amt").collect()
    ) == [
        (1, "2024-01-01", 10), (2, "2024-01-01", 20),
        (3, "2024-01-03", 31), (4, "2024-01-03", 40),
    ]


def test_delete_null_predicate_rows_survive(spark, tmp_path):
    """SQL three-valued logic: DELETE removes rows where the predicate
    IS TRUE; a NULL predicate row survives."""
    from datafusion_delta_queries_spark.plans.merge_sql import execute_delete

    path = str(tmp_path / "nd")
    spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "k: int, amt: int"
    ).write.parquet(path)
    execute_delete(spark, "DELETE FROM t WHERE amt > 15", path)
    assert sorted(
        (r.k, r.amt) for r in spark.read.parquet(path).collect()
    ) == [(1, 10), (2, None)]


# -- OPTIMIZE [ZORDER BY] ----------------------------------------------


def test_optimize_compacts_small_files(spark, tmp_path):
    from datafusion_delta_queries_spark.plans.merge_sql import (
        execute_optimize,
    )

    path = str(tmp_path / "many")
    df = spark.range(0, 20_000).selectExpr(
        "id AS k", "id % 97 AS a", "id % 89 AS b"
    )
    df.repartition(24).write.parquet(path)
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    stats = execute_optimize(spark, "OPTIMIZE many", path)
    assert stats["files_before"] == 24
    assert stats["files_after"] == 1  # tiny table -> one target file
    assert stats["zorder"] is None
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert before == after


def test_optimize_zorder_rewrites_clustered(spark, tmp_path):
    from datafusion_delta_queries_spark.plans.merge_sql import (
        execute_optimize,
    )
    from datafusion_delta_queries_spark.sources.zonemap import ZoneMapIndex

    path = str(tmp_path / "zt")
    # shuffled layout: every file spans ~the full [0, 256) range on
    # both keys before OPTIMIZE
    df = spark.range(0, 40_000).selectExpr(
        "CAST(hash(id) % 256 + 256 AS BIGINT) % 256 AS a",
        "CAST(hash(id + 1) % 256 + 256 AS BIGINT) % 256 AS b",
        "id AS payload",
    )
    df.repartition(16).write.parquet(path)
    before = sorted(
        tuple(r) for r in spark.read.parquet(path).collect()
    )
    stats = execute_optimize(
        spark,
        "OPTIMIZE zt ZORDER BY (a, b)",
        path,
        target_file_bytes=64 * 1024,
    )
    assert stats["zorder"] == ["a", "b"]
    assert stats["files_after"] >= 4
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert before == after
    # the payoff: a zone map over the optimized layout prunes a small
    # box to a strict subset of files
    zm = ZoneMapIndex(spark, str(tmp_path / "zm"), path, ["a", "b"])
    n = zm.build()
    picked = zm.select_files({"a": (10, 40), "b": (10, 40)})
    assert 0 < len(picked) < n


def test_optimize_parse_rejections(spark, tmp_path):
    from datafusion_delta_queries_spark.plans.merge_sql import (
        execute_optimize,
        parse_optimize,
    )

    with pytest.raises(UnsupportedSQL):
        parse_optimize("OPTIMIZE t ZORDER BY (a)")  # one col = sort
    with pytest.raises(UnsupportedSQL):
        parse_optimize("OPTIMIZE t ZORDER BY (a, b) EXTRA")
    path = str(tmp_path / "t2")
    spark.range(5).selectExpr("id AS x", "id AS y").write.parquet(path)
    with pytest.raises(UnsupportedSQL, match="unknown columns"):
        execute_optimize(spark, "OPTIMIZE t2 ZORDER BY (x, nope)", path)


def test_optimize_where_rewrites_only_matching_partitions(
    spark, tmp_path
):
    from datafusion_delta_queries_spark.plans.merge_sql import (
        execute_optimize,
    )

    path = str(tmp_path / "pt")
    df = spark.range(0, 12_000).selectExpr(
        "id % 3 AS part", "id AS k", "id % 101 AS v"
    )
    # many small files inside each partition dir
    df.repartition(8).write.partitionBy("part").parquet(path)
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    snap = _dir_bytes(path)

    stats = execute_optimize(
        spark,
        "OPTIMIZE pt WHERE part = 1",
        path,
        partition_cols=["part"],
    )
    assert stats["partitions"] == 1
    assert stats["files_after"] < stats["files_before"]
    after_snap = _dir_bytes(path)
    # untouched partition dirs byte-identical
    untouched = {
        k: v for k, v in snap.items() if "/part=1/" not in k and "part=1" not in k
    }
    for k, v in untouched.items():
        assert after_snap.get(k) == v, k
    # content globally unchanged
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert before == after


def test_optimize_skips_fileless_partition_dirs(spark, tmp_path):
    """A partition dir that exists but holds no data files (left
    behind by a prior rewrite) must compact as a (0, 0) no-op, not
    fail the whole OPTIMIZE (r14 ADVICE item)."""
    import os

    from datafusion_delta_queries_spark.plans.merge_sql import (
        execute_optimize,
    )

    path = str(tmp_path / "pt2")
    df = spark.range(0, 600).selectExpr("id % 2 AS part", "id AS k")
    df.repartition(4).write.partitionBy("part").parquet(path)
    # an empty leftover partition dir the walk will list
    os.makedirs(os.path.join(path, "part=7"))
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    stats = execute_optimize(
        spark, "OPTIMIZE pt2", path, partition_cols=["part"]
    )
    assert stats["partitions"] == 3  # part=0, part=1, and the empty dir
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert before == after


def test_optimize_where_requires_partition_layout(spark, tmp_path):
    from datafusion_delta_queries_spark.plans.merge_sql import (
        execute_optimize,
    )

    path = str(tmp_path / "flat")
    spark.range(10).selectExpr("id AS x").write.parquet(path)
    with pytest.raises(UnsupportedSQL, match="partition"):
        execute_optimize(spark, "OPTIMIZE flat WHERE x > 1", path)


def test_merge_schema_evolution_widens_and_guards(spark, tmp_path):
    """WITH SCHEMA EVOLUTION: source-only columns widen the target
    (survivors read NULL), the evolved merge refuses the pruned
    rewrite, and WITHOUT the keyword a new source column still raises
    (no silent evolution)."""
    import pytest
    from pyspark.sql import functions as F

    from datafusion_delta_queries_spark.plans.merge_sql import execute_merge
    from datafusion_delta_queries_spark.plans.sql_frontend import (
        UnsupportedSQL,
    )

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "k bigint, v double"
    ).write.parquet(path)
    src = spark.createDataFrame(
        [(2, 25.0, "web"), (3, 30.0, "api")], "k bigint, v double, ch string"
    )
    sql = """
        MERGE WITH SCHEMA EVOLUTION INTO t USING s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v, ch = s.ch
        WHEN NOT MATCHED THEN INSERT (k, v, ch) VALUES (s.k, s.v, s.ch)
    """
    execute_merge(spark, sql, path, src)
    got = {r["k"]: (r["v"], r["ch"]) for r in spark.read.parquet(path).collect()}
    assert got == {1: (10.0, None), 2: (25.0, "web"), 3: (30.0, "api")}

    with pytest.raises(UnsupportedSQL, match="whole-table"):
        execute_merge(spark, sql, path, src, partition_cols=["k"])

    path2 = str(tmp_path / "t2")
    spark.createDataFrame([(1, 10.0)], "k bigint, v double").write.parquet(path2)
    with pytest.raises(UnsupportedSQL, match="unknown columns"):
        execute_merge(
            spark,
            """MERGE INTO t USING s ON t.k = s.k
               WHEN MATCHED THEN UPDATE SET ch = s.ch""",
            path2,
            src,
        )


def test_insert_overwrite_static_dynamic_and_errors(spark, tmp_path):
    """INSERT OVERWRITE: static spec replaces exactly the named
    partition; dynamic mode replaces only partitions present in the
    SELECT; whole-table mode swaps everything; malformed shapes
    raise."""
    import pytest

    from datafusion_delta_queries_spark.plans.merge_sql import (
        execute_insert_overwrite,
    )
    from datafusion_delta_queries_spark.plans.sql_frontend import (
        UnsupportedSQL,
    )

    class _Cat:
        """Temp-view realization of the compiler catalog protocol."""

        def __init__(self, spark):
            self.spark = spark

        def full(self, name):
            return self.spark.table(name)

        def delta(self, name):
            from pyspark.sql import functions as F

            return self.spark.table(name).where(F.lit(False))

    spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)], "k long, p string, v long"
    ).createOrReplaceTempView("src_all")
    path = str(tmp_path / "t")
    spark.table("src_all").write.partitionBy("p").parquet(path)

    # static: replace p='a' with a single row (k=9); p='b' untouched
    spark.createDataFrame([(9, 90)], "k long, v long").createOrReplaceTempView(
        "src_new"
    )
    execute_insert_overwrite(
        spark,
        "INSERT OVERWRITE t PARTITION (p = 'a') SELECT k, v FROM src_new",
        path,
        _Cat(spark),
        partition_cols=["p"],
    )
    got = sorted(map(tuple, spark.read.parquet(path).select("k", "v", "p").collect()))
    assert got == [(3, 30, "b"), (9, 90, "a")]

    # dynamic: SELECT carries p — only p='b' present, so 'a' survives
    spark.createDataFrame(
        [(7, "b", 70)], "k long, p string, v long"
    ).createOrReplaceTempView("src_dyn")
    execute_insert_overwrite(
        spark,
        "INSERT OVERWRITE t SELECT k, p, v FROM src_dyn",
        path,
        _Cat(spark),
        partition_cols=["p"],
    )
    got = sorted(map(tuple, spark.read.parquet(path).select("k", "v", "p").collect()))
    assert got == [(7, 70, "b"), (9, 90, "a")]

    with pytest.raises(UnsupportedSQL, match="partition columns"):
        execute_insert_overwrite(
            spark,
            "INSERT OVERWRITE t PARTITION (zz = 'a') SELECT k, v FROM src_new",
            path,
            _Cat(spark),
            partition_cols=["p"],
        )
    with pytest.raises(UnsupportedSQL, match="SELECT"):
        execute_insert_overwrite(
            spark, "INSERT OVERWRITE t", path, _Cat(spark)
        )


def test_pruned_dml_multicol_partitions_exact_tuples(spark, tmp_path):
    """The touched-partition filter must be the exact TUPLE set, not
    the per-column bounding box: touching ('eu','d1') and ('us','d2')
    must leave ('eu','d2') and ('us','d1') directories byte-identical."""
    import hashlib
    import os

    from datafusion_delta_queries_spark.plans.merge_sql import (
        execute_delete,
    )

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "eu", "d1", 10), (2, "eu", "d2", 20),
         (3, "us", "d1", 30), (4, "us", "d2", 40)],
        "k long, region string, day string, v long",
    ).write.partitionBy("region", "day").parquet(path)

    def tree_state(skip: set[str]) -> dict[str, str]:
        out = {}
        for root, _, names in os.walk(path):
            rel = os.path.relpath(root, path)
            if any(s in rel for s in skip):
                continue
            for n in names:
                if n.endswith(".parquet"):
                    fp = os.path.join(root, n)
                    with open(fp, "rb") as fh:
                        out[fp] = hashlib.md5(fh.read()).hexdigest()
        return out

    untouched = tree_state(
        {"region=eu/day=d1", "region=us/day=d2"}
    )
    # deletes rows in exactly ('eu','d1') and ('us','d2')
    execute_delete(
        spark,
        "DELETE FROM t WHERE k IN (1, 4)",
        path,
        partition_cols=["region", "day"],
    )
    assert tree_state({"region=eu/day=d1", "region=us/day=d2"}) == untouched, (
        "cross-product partitions were rewritten"
    )
    got = sorted(r["k"] for r in spark.read.parquet(path).collect())
    assert got == [2, 3]


def test_bare_optimize_partitioned_layout(spark, tmp_path):
    """Bare OPTIMIZE must not flatten a hive layout: without
    partition_cols it refuses; with partition_cols it compacts every
    directory in place and the layout (and rows) survive."""
    import glob
    import pytest

    from datafusion_delta_queries_spark.plans.merge_sql import (
        execute_optimize,
    )
    from datafusion_delta_queries_spark.plans.sql_frontend import (
        UnsupportedSQL,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", i * 10) for i in range(20)],
        "k long, p string, v long",
    )
    df.repartition(4).write.partitionBy("p").parquet(path)
    with pytest.raises(UnsupportedSQL, match="partition_cols"):
        execute_optimize(spark, "OPTIMIZE t", path)
    stats = execute_optimize(
        spark, "OPTIMIZE t", path, partition_cols=["p"]
    )
    assert stats["partitions"] == 2
    assert sorted(glob.glob(path + "/p=*")) == [path + "/p=a", path + "/p=b"]
    got = sorted(map(tuple, spark.read.parquet(path).select("k", "v", "p").collect()))
    assert got == sorted((i, i * 10, "a" if i % 2 else "b") for i in range(20))


def test_optimize_where_rejects_data_column_predicate(spark, tmp_path):
    """Delta Lake restricts OPTIMIZE ... WHERE to PARTITION columns; a
    data-column predicate would silently rewrite every directory that
    holds one matching row (write amplification, not scoping). We
    enforce the same contract loudly."""
    from datafusion_delta_queries_spark.plans.merge_sql import (
        execute_optimize,
    )
    from datafusion_delta_queries_spark.plans.sql_frontend import (
        UnsupportedSQL,
    )

    path = str(tmp_path / "part_t")
    spark.range(0, 1_000).selectExpr(
        "id AS k", "id % 3 AS p", "id * 2 AS price"
    ).write.partitionBy("p").parquet(path)

    with pytest.raises(UnsupportedSQL, match="partition columns"):
        execute_optimize(
            spark, "OPTIMIZE t WHERE price > 100", path,
            partition_cols=["p"],
        )
    # qualified data refs are caught too
    with pytest.raises(UnsupportedSQL, match="partition columns"):
        execute_optimize(
            spark, "OPTIMIZE t WHERE t.price > 100 AND p = 1", path,
            partition_cols=["p"],
        )
    # a pure partition predicate still works and scopes the rewrite
    stats = execute_optimize(
        spark, "OPTIMIZE t WHERE p = 1", path, partition_cols=["p"]
    )
    assert stats["partitions"] == 1
