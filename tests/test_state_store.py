"""sources.state.StateStore: the one owner of maintained state tables.

Three contracts are pinned here. Every state-owning maintainer reads
its table without a Spark job once the store knows the schema (the one
its last write left, or, for a table written without it, the parquet
footer or one inferred read). Partitioned state reads its key columns
back with the types it wrote. And no module under
``operators/`` re-forks the store: state-layout side paths, renames
and schema memos live in ``sources/state.py`` and ``sources/sinks.py``
only."""

from __future__ import annotations

import ast
import datetime
import itertools
import pathlib

import pytest

from datafusion_delta_queries_spark.sources.versioned import _dir_schema

_SEQ = itertools.count()


def _jobs(spark, action) -> int:
    """Spark jobs ``action`` starts, read from the status tracker under
    a fresh job group."""
    sc = spark.sparkContext
    gid = f"state-store-{next(_SEQ)}"
    sc.setJobGroup(gid, gid)
    try:
        action()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k string, id int, v int")


def _continuous_agg(spark, path):
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousAggregate,
    )

    view = ContinuousAggregate(
        spark, path, "SELECT k, sum(v) AS total, count(*) AS n FROM t GROUP BY k"
    )
    view.initialize(_kv(spark, [("a", 1, 1), ("b", 2, 2)]))
    view.refresh(_kv(spark, [("a", 3, 5)]))
    return view.read


def _continuous_agg_partitioned(spark, path):
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousAggregate,
    )

    view = ContinuousAggregate(
        spark, path, "SELECT k, sum(v) AS total FROM t GROUP BY k",
        partition_on=["k"],
    )
    view.initialize(_kv(spark, [("a", 1, 1), ("b", 2, 2)]))
    view.refresh(_kv(spark, [("a", 3, 5), ("c", 4, 1)]))
    return view.read


def _continuous_join_agg(spark, path):
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousJoinAggregate,
    )

    dim = spark.createDataFrame([(1, "x"), (2, "y")], "d int, name string")
    view = ContinuousJoinAggregate(
        spark, path,
        "SELECT m.name, sum(f.v) AS total FROM fact f "
        "JOIN dim m ON f.d = m.d GROUP BY m.name",
        fact="fact", dims={"dim": dim},
    )
    fact = "d int, v int"
    view.initialize(spark.createDataFrame([(1, 10), (2, 20)], fact))
    view.refresh(spark.createDataFrame([(1, 5)], fact))
    return view.read


def _continuous_cube(spark, path):
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousCube,
    )

    view = ContinuousCube(
        spark, path, "SELECT k_g, sum(v) AS total FROM t GROUP BY k_g",
        {"k_g": "k"},
    )
    view.initialize(_kv(spark, [("a", 1, 1), ("b", 2, 2)]))
    view.refresh(_kv(spark, [("a", 3, 5)]))
    return view.read


def _distinct_agg(spark, path):
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousDistinctAggregate,
    )

    view = ContinuousDistinctAggregate(
        spark, path, "SELECT k, count(DISTINCT v) AS nd FROM t GROUP BY k"
    )
    view.initialize(_kv(spark, [("a", 1, 1), ("b", 2, 2)]))
    view.refresh(_kv(spark, [("a", 3, 5)]))
    return view.read


def _topk(spark, path):
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousTopK,
    )

    view = ContinuousTopK(spark, path, ["k"], "v", 1, ["id"])
    view.initialize(_kv(spark, [("a", 1, 1), ("b", 2, 2)]))
    view.refresh(_kv(spark, [("a", 3, 5)]))
    return view.read


def _cascade(spark, path):
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousRollupCascade,
    )

    ts = datetime.datetime.fromisoformat
    schema = "ts timestamp, v int"
    view = ContinuousRollupCascade(
        spark, path,
        "SELECT date_trunc('hour', ts) AS bucket_h, sum(v) AS total "
        "FROM t GROUP BY date_trunc('hour', ts)",
        fine_key="bucket_h", coarse_key="bucket_d",
        coarse_expr="date_trunc('day', bucket_h)",
    )
    view.initialize(
        spark.createDataFrame([(ts("2024-01-01 01:10"), 1)], schema)
    )
    view.refresh(spark.createDataFrame([(ts("2024-01-02 03:00"), 2)], schema))
    # The pitfall this pins: Spark writes TIMESTAMP as INT96, which the
    # footer cannot type, so the store must infer once and memoize.
    assert _dir_schema(view.coarse_path) is None
    return view.read


def _hll(spark, path):
    from datafusion_delta_queries_spark.operators.sketch_queries import (
        ContinuousHllNdv,
    )

    view = ContinuousHllNdv(spark, path, ["k"], "v")
    view.initialize(_kv(spark, [("a", 1, 1), ("b", 2, 2)]))
    view.refresh(_kv(spark, [("a", 3, 5)]))
    return view.read_summary


def _cms(spark, path):
    from datafusion_delta_queries_spark.operators.sketch_queries import (
        ContinuousCms,
    )

    view = ContinuousCms(spark, path, ["k"], "v")
    view.initialize(_kv(spark, [("a", 1, 1), ("b", 2, 2)]))
    view.refresh_signed(
        spark.createDataFrame(
            [("a", 3, 5, 1), ("b", 2, 2, -1)], "k string, id int, v int, _sign int"
        )
    )
    return view.read_counters


def _scd(n_buckets):
    def make(spark, path):
        from datafusion_delta_queries_spark.operators.scd import Scd2Table

        table = Scd2Table(spark, path, ["k"], ["tier"], n_buckets=n_buckets)
        table.initialize(
            spark.createDataFrame([(1, "gold"), (2, "silver")], "k int, tier string"),
            "2020-01-01",
        )
        table.apply(
            spark.createDataFrame(
                [(1, "plat", datetime.datetime(2021, 1, 1), "upsert")],
                "k int, tier string, effective_ts timestamp, op string",
            )
        )
        assert _dir_schema(path) is None  # INT96 or partitioned: inferred
        return table.read

    return make


_OWNERS = {
    "ContinuousAggregate": _continuous_agg,
    "ContinuousAggregate-partitioned": _continuous_agg_partitioned,
    "ContinuousJoinAggregate": _continuous_join_agg,
    "ContinuousCube": _continuous_cube,
    "ContinuousDistinctAggregate": _distinct_agg,
    "ContinuousTopK": _topk,
    "ContinuousRollupCascade": _cascade,
    "ContinuousHllNdv": _hll,
    "ContinuousCms": _cms,
    "Scd2Table": _scd(None),
    "Scd2Table-bucketed": _scd(4),
}


@pytest.mark.parametrize("owner", sorted(_OWNERS))
def test_state_reads_after_the_first_make_no_job(spark, tmp_path, owner):
    """create, refresh, then read twice: the second read knows its
    schema and starts no Spark job (an inferred read costs one)."""
    read = _OWNERS[owner](spark, str(tmp_path / "state"))
    _jobs(spark, read)
    assert _jobs(spark, read) == 0
    assert read().count() > 0


# -- partitioned state keeps the key types it wrote --------------------


@pytest.mark.parametrize(
    "keys",
    [
        ["01", "02", "10"],  # numeric-looking strings
        ["a:b", "c/d", "e=f"],  # percent-escaped in directory names
        [datetime.date(2024, 1, d) for d in (1, 2, 10)],
    ],
    ids=["numeric-strings", "escaped", "dates"],
)
def test_partitioned_state_round_trips_key_types(spark, tmp_path, keys):
    """Partition values go through directory names; the store reads
    them back with the types it wrote, in the same store and in a new
    one, so a refresh folds into the right group instead of writing a
    second copy under an inferred type (``seg=01`` beside ``seg=1``)."""
    import os

    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousAggregate,
    )

    a, b, c = keys
    kind = "date" if isinstance(a, datetime.date) else "string"
    sql = "SELECT seg, sum(v) AS s, count(*) AS n FROM t GROUP BY seg"
    path = str(tmp_path / "state")
    view = ContinuousAggregate(spark, path, sql, partition_on=["seg"])
    view.initialize(
        spark.createDataFrame([(a, 1), (b, 2), (c, 3)], f"seg {kind}, v int")
    )
    view.refresh(spark.createDataFrame([(a, 10)], f"seg {kind}, v int"))
    want = {(a, 11, 2), (b, 2, 1), (c, 3, 1)}
    for v in (view, ContinuousAggregate(spark, path, sql, partition_on=["seg"])):
        got = v.read()
        assert got.schema["seg"].dataType.typeName() == kind
        assert {tuple(r) for r in got.collect()} == want
    fresh = ContinuousAggregate(spark, path, sql, partition_on=["seg"])
    fresh.refresh(spark.createDataFrame([(b, 5)], f"seg {kind}, v int"))
    want = {(a, 11, 2), (b, 7, 2), (c, 3, 1)}
    assert {tuple(r) for r in fresh.read().collect()} == want
    assert len([d for d in os.listdir(path) if d.startswith("seg=")]) == 3


def test_state_without_a_schema_file_still_refreshes(spark, tmp_path):
    """A table written before the store kept its schema file (no
    ``_state_schema.json``) reads its schema from the footer or one
    inferred read, refreshes, and has the file afterwards."""
    import os

    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousAggregate,
    )

    sql = "SELECT k, sum(v) AS total, count(*) AS n FROM t GROUP BY k"
    for part in (None, ["k"]):
        path = str(tmp_path / f"state_{bool(part)}")
        ContinuousAggregate(spark, path, sql, partition_on=part).initialize(
            _kv(spark, [("a", 1, 1), ("b", 2, 2)])
        )
        os.remove(os.path.join(path, "_state_schema.json"))
        view = ContinuousAggregate(spark, path, sql, partition_on=part)
        view.refresh(_kv(spark, [("a", 3, 5), ("c", 4, 1)]))
        assert sorted(tuple(r) for r in view.read().collect()) == [
            ("a", 6, 2), ("b", 2, 1), ("c", 1, 1)
        ]
        assert os.path.exists(os.path.join(path, "_state_schema.json"))


def test_replace_keeps_the_column_order(spark, tmp_path):
    """A refresh writes the table in its own column order: the top-k
    view's anti join on the group columns moves them first, and the
    view must still read back as it was initialized."""
    from datafusion_delta_queries_spark.operators.continuous_agg import (
        ContinuousTopK,
    )

    view = ContinuousTopK(spark, str(tmp_path / "state"), ["k"], "v", 1, ["id"])
    view.initialize(_kv(spark, [("a", 1, 1), ("b", 2, 2)]).select("id", "v", "k"))
    view.refresh(_kv(spark, [("a", 3, 5)]))
    got = view.read()
    assert got.columns == ["id", "v", "k"]
    assert sorted(tuple(r) for r in got.collect()) == [(2, 2, "b"), (3, 5, "a")]


# -- re-fork guard -----------------------------------------------------

_OPERATORS = (
    pathlib.Path(__file__).resolve().parent.parent
    / "datafusion_delta_queries_spark"
    / "operators"
)
_SIDE_PATHS = ("__applied__", "__retention__", "__staging__", "__retired__")


def _docstrings(tree) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if (
            isinstance(body, list)
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
        ):
            out.add(id(body[0].value))
    return out


def _stores_a_schema(fn) -> bool:
    """``fn`` saves a ``<frame>.schema`` into an attribute or a mapping
    — the memo half of a hand-rolled schema-memo reader."""
    for node in ast.walk(fn):
        if (
            isinstance(node, ast.Assign)
            and isinstance(node.value, ast.Attribute)
            and node.value.attr == "schema"
            and any(
                isinstance(t, (ast.Attribute, ast.Subscript))
                for t in node.targets
            )
        ):
            return True
    return False


def _reads_parquet(fn) -> bool:
    return any(
        isinstance(node, ast.Attribute) and node.attr in ("parquet", "load")
        for node in ast.walk(fn)
    )


def _state_forks(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text())
    docs = _docstrings(tree)
    found = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docs
        ):
            found += [
                f"{path.name}:{node.lineno} builds a {p} path"
                for p in _SIDE_PATHS
                if p in node.value
            ]
        if (
            isinstance(node, ast.Attribute)
            and node.attr == "replace"
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ):
            found.append(f"{path.name}:{node.lineno} calls os.replace")
        if (
            isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and _stores_a_schema(node)
            and _reads_parquet(node)
        ):
            found.append(
                f"{path.name}:{node.lineno} {node.name} memoizes a "
                "state schema"
            )
    return found


def test_operators_do_not_refork_the_state_store(tmp_path):
    """State side paths (replay markers, retention, staging, retired
    copies), rename swaps and schema memos belong to
    ``sources/state.py`` and ``sources/sinks.py``; a maintainer that
    builds its own fails here."""
    forked = tmp_path / "forked.py"
    forked.write_text(
        "import os\n"
        "def marker(p):\n"
        "    return p + '.__applied__'\n"
        "def swap(a, b):\n"
        "    os.replace(a, b)\n"
        "def read(spark, path, memo):\n"
        "    df = spark.read.parquet(path)\n"
        "    memo[path] = df.schema\n"
        "    return df\n"
    )
    assert len(_state_forks(forked)) == 3, "the guard must see each fork"
    found = [
        f
        for path in sorted(_OPERATORS.glob("*.py"))
        for f in _state_forks(path)
    ]
    assert not found, found
