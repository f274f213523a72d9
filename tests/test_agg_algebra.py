"""plans.sql_frontend.AggAlgebra: the one decomposable-aggregate algebra.

Every maintained GROUP BY — the four ``maintain_*_of_sql`` plans and
the stored views in ``operators/continuous_agg.py`` — takes its
partial, combine, final and signed expressions from ``AggAlgebra``.
Three contracts are pinned here: each entry point hands its frames to
exactly one shared merge body, the stored views build their expression
lists through the algebra, and no module under ``plans/`` or
``operators/`` re-forks the algebra's strings."""

from __future__ import annotations

import ast
import pathlib

from datafusion_delta_queries_spark.operators import continuous_agg
from datafusion_delta_queries_spark.plans import sql_frontend

_PKG = pathlib.Path(sql_frontend.__file__).resolve().parent.parent

# Where the algebra's strings may be built: the algebra itself and the
# module-level pair weights beside it.
_HOME = {
    ("sql_frontend.py", "AggAlgebra.__init__"),
    ("sql_frontend.py", "<module>"),
}

# Lower-cased fragments of the algebra's strings: the liveness column,
# the signed count and the sign-weighted sum.
_ALGEBRA_TEXT = ("count(*) as _rows", "is not null then _sign", "sum(_sign")
# Literal text that, followed by an interpolated ``SIGN``, builds a
# signed partial or probe (``sum({SIGN} * …)``, ``THEN {SIGN}``,
# ``CASE WHEN {SIGN} > 0``).
_BEFORE_SIGN = ("sum(", "then", "when")


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


def _is_fork(node, docs: set[int]) -> str | None:
    """What ``node`` builds of the algebra, or None."""
    if (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and id(node) not in docs
    ):
        text = node.value.lower()
        for frag in _ALGEBRA_TEXT:
            if frag in text:
                return f"the string {frag!r}"
    if isinstance(node, ast.JoinedStr):
        for before, value in zip(node.values, node.values[1:]):
            if (
                isinstance(before, ast.Constant)
                and before.value.lower().rstrip().endswith(_BEFORE_SIGN)
                and isinstance(value, ast.FormattedValue)
                and isinstance(value.value, ast.Name)
                and value.value.id == "SIGN"
            ):
                return "a signed partial over {SIGN}"
    if (
        isinstance(node, ast.Subscript)
        and isinstance(node.value, ast.Name)
        and node.value.id == "_DECOMPOSABLE"
    ):
        return "a _DECOMPOSABLE lookup"
    return None


def _algebra_forks(path: pathlib.Path) -> list[tuple[str, str, str]]:
    """(module, enclosing qualname, what) for every place ``path``
    builds the aggregate algebra's strings."""
    tree = ast.parse(path.read_text())
    docs = _docstrings(tree)
    found = []

    def visit(node, scope: list[str]) -> None:
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            scope = scope + [node.name]
        what = _is_fork(node, docs)
        if what:
            found.append(
                (path.name, ".".join(scope) or "<module>", what)
            )
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(tree, [])
    return found


def _calls(fn: ast.FunctionDef) -> list[str]:
    return [
        n.func.id
        for n in ast.walk(fn)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
    ]


def test_maintain_entry_points_call_one_shared_body():
    """Each ``maintain_*`` entry point only sources its frames and
    calls one merge body: the positive body for append-only deltas, the
    signed body for change batches."""
    tree = ast.parse(pathlib.Path(sql_frontend.__file__).read_text())
    fns = {
        n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)
    }
    want = {
        "maintain_agg_of_sql": "_merge_positive",
        "maintain_join_agg_of_sql": "_merge_positive",
        "maintain_agg_of_sql_signed": "_merge_signed",
        "maintain_join_agg_of_sql_signed": "_merge_signed",
    }
    for name, body in want.items():
        calls = _calls(fns[name])
        bodies = [c for c in calls if c in ("_merge_positive", "_merge_signed")]
        assert bodies == [body], (name, bodies)
        assert "AggAlgebra" not in calls and "agg_pairs" not in calls, name


def test_continuous_views_take_the_shared_algebra(spark, tmp_path, monkeypatch):
    """The stored views build no expression list of their own: each
    constructs one ``AggAlgebra`` from its spec and keeps it."""
    built = []

    class Spy(sql_frontend.AggAlgebra):
        def __init__(self, spec):
            super().__init__(spec)
            built.append(self)

    monkeypatch.setattr(continuous_agg, "AggAlgebra", Spy)
    sql = (
        "SELECT k, count(*) AS n, sum(v) AS s, avg(v) AS a, min(v) AS lo "
        "FROM t GROUP BY k"
    )
    views = [
        continuous_agg.ContinuousAggregate(spark, str(tmp_path / "a"), sql),
        continuous_agg.ContinuousCube(
            spark, str(tmp_path / "c"),
            "SELECT k_g, count(*) AS n FROM t GROUP BY k_g", {"k_g": "k"},
        ),
        continuous_agg.ContinuousJoinAggregate(
            spark, str(tmp_path / "j"),
            "SELECT d.k, sum(f.v) AS s FROM f JOIN d ON f.id = d.id "
            "GROUP BY d.k",
            fact="f", dims={"d": None},
        ),
    ]
    assert len(built) == len(views)
    for view, alg in zip(views, built):
        assert view.alg is alg
        fresh = sql_frontend.AggAlgebra(view.spec)
        for field in (
            "partial", "combine", "final", "merge", "signed", "probe"
        ):
            assert getattr(alg, field) == getattr(fresh, field), field
    assert built[0].partial[-1] == "count(*) AS _rows"
    assert [m["col"] for m in built[0].minmax] == ["_p3"]
    stale = [
        f"{type(v).__name__}.{attr}"
        for v in views
        for attr in ("_partial", "_combine", "_final", "_signed_partial")
        if hasattr(v, attr)
    ]
    assert not stale, stale


def test_nothing_reforks_the_aggregate_algebra(tmp_path):
    """The liveness column, the signed count/sum/probe strings and
    ``_DECOMPOSABLE`` lookups are built by ``AggAlgebra`` only; a
    module under ``plans/`` or ``operators/`` that builds its own fails
    here."""
    forked = tmp_path / "forked.py"
    forked.write_text(
        "SIGN = '_sign'\n"
        "def partials(arg):\n"
        "    return [\n"
        "        'count(*) AS _rows',\n"
        "        f'sum(CASE WHEN ({arg}) IS NOT NULL THEN {SIGN} END)',\n"
        "        f'sum({SIGN} * ({arg})) AS _p0',\n"
        "        _DECOMPOSABLE['min'][0],\n"
        "    ]\n"
    )
    assert len(_algebra_forks(forked)) == 4, "the guard must see each fork"
    found = [
        f
        for sub in ("plans", "operators")
        for path in sorted((_PKG / sub).glob("*.py"))
        for f in _algebra_forks(path)
        if f[:2] not in _HOME
    ]
    assert not found, found
    # The exemptions still name the algebra's real home.
    seen = {
        f[:2]
        for sub in ("plans", "operators")
        for path in sorted((_PKG / sub).glob("*.py"))
        for f in _algebra_forks(path)
    }
    assert _HOME <= seen, _HOME - seen
