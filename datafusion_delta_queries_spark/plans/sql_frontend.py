"""SQL-string → delta-IR frontend.

The reference gets SQL→plan for free from DataFusion — every one of its
tests starts from a SQL string
(``ctx.state().create_logical_plan(sql)``, /root/reference/src/
optimizer_rules/mod.rs:223-225, 260-262, 311-313, 391-393, 471-474) and
then wraps the plan in ``PosDeltaNode``. Our batch surface has
``spark.sql`` for that, but the incremental path consumes the hand-built
IR in ``plans/nodes.py`` — this module closes the ergonomic gap with a
parser for exactly the fragment the reference's tested surface uses:

    SELECT <exprs | *> FROM t [AS a]
      [ {CROSS JOIN | [INNER|LEFT SEMI|LEFT ANTI|...] JOIN u ON conds} ... ]
      [ WHERE predicate ]
    [ UNION ALL <select> ... ]

Qualified table names (``public.users``) resolve to their last segment
(the catalog is flat, like the reference's in-memory registrations).
Scalar expressions pass through *opaquely* — the reference likewise
clones ``Vec<Expr>`` without inspection (mod.rs:33-36) — except that
table qualifiers are re-written to the compiler's join-side aliases
(``l.``/``r.``) or stripped, since the IR compiler names join sides,
not source tables.

Deliberately NOT supported (raise ``UnsupportedSQL``): GROUP BY /
ORDER BY / LIMIT / HAVING / DISTINCT, subqueries, and bare ``UNION``
(distinct) — none have a positive-delta derivation in the reference
(``_ => Ok(None)``, mod.rs:187), so a frontend that accepted them would
only move the failure later.  Outer joins parse (the IR expresses them
for batch) and are rejected by the rewrite, matching SURVEY §4.3.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .compiler import (
    DeltaCatalog,
    compile_delta,
    compile_plan,
    compile_snapshot,
)
from .nodes import CrossJoin, Filter, Join, Plan, Projection, Scan, Union
from .signed import SIGN


class UnsupportedSQL(ValueError):
    """The statement falls outside the supported delta fragment."""


_TOKEN_RE = re.compile(
    r"""(?P<ws>\s+)
      | (?P<str>'(?:[^']|'')*')
      | (?P<num>\d+(?:\.\d+)?)
      | (?P<qident>"(?:[^"]|"")*")
      | (?P<ident>[A-Za-z_][A-Za-z_0-9]*)
      | (?P<op><=>|<>|!=|<=|>=|\|\|)
      | (?P<sym>[(),.;*=<>+\-/%])
    """,
    re.X,
)

# Idents that terminate an expression span / cannot be an implicit alias.
_KEYWORDS = {
    "select", "from", "where", "join", "cross", "inner", "left", "right",
    "full", "outer", "semi", "anti", "on", "and", "or", "as", "union",
    "all", "group", "order", "limit", "having", "distinct", "not",
    "between", "in", "is", "null", "like", "case", "when", "then",
    "else", "end", "cast",
}

_REJECTED_TOPLEVEL = {"group", "order", "limit", "having"}

# Join-family ident → follower tokens that make it introduce a join.
# Empty set = always a join introducer. Anything else (``left(x, 1)``,
# a column named ``cross``) is an ordinary expression token.
_JOIN_INTRODUCERS: dict[str, set[str]] = {
    "join": set(),
    "inner": {"join"},
    "cross": {"join"},
    "left": {"join", "outer", "semi", "anti"},
    "right": {"join", "outer", "semi", "anti"},
    "full": {"join", "outer"},
    "semi": {"join"},
    "anti": {"join"},
}

# Aggregate functions that would make a select item an implicit
# LogicalPlan::Aggregate. Our IR has no aggregate node (the reference
# declines aggregates, mod.rs:187) — but because select expressions are
# opaque strings, `SELECT count(*) FROM t` would otherwise compile to a
# full aggregate and the delta rewrite would SILENTLY mis-incrementalize
# it (count over ΔT is not Δ of count over T). Reject loudly instead.
_AGG_FNS = {
    "count", "sum", "avg", "mean", "min", "max", "stddev", "stddev_pop",
    "stddev_samp", "variance", "var_pop", "var_samp", "collect_list",
    "collect_set", "first", "last", "any_value", "approx_count_distinct",
    "percentile", "percentile_approx", "median", "mode", "corr",
    "covar_pop", "covar_samp", "bool_and", "bool_or", "count_if",
}


def _tokenize(sql: str) -> list[str]:
    out: list[str] = []
    pos = 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if not m:
            raise UnsupportedSQL(f"cannot tokenize SQL at: {sql[pos:pos+20]!r}")
        pos = m.end()
        if m.lastgroup != "ws":
            out.append(m.group())
    # Merge dotted references (a . b . c → "a.b.c") so qualified names
    # are single tokens for the qualifier-rewrite and FROM-name passes.
    merged: list[str] = []
    i = 0
    while i < len(out):
        t = out[i]
        if re.fullmatch(r"[A-Za-z_][A-Za-z_0-9]*", t):
            while i + 2 < len(out) and out[i + 1] == "." and re.fullmatch(
                r"[A-Za-z_][A-Za-z_0-9]*", out[i + 2]
            ):
                t = f"{t}.{out[i + 2]}"
                i += 2
        merged.append(t)
        i += 1
    while merged and merged[-1] == ";":
        merged.pop()
    return merged


def _is_kw(tok: str, kw: str) -> bool:
    return tok.lower() == kw


def _qualified(tok: str) -> tuple[str, str] | None:
    """'q.col' → (qualifier, col); None for anything else."""
    parts = tok.split(".")
    if len(parts) == 2 and all(
        re.fullmatch(r"[A-Za-z_][A-Za-z_0-9]*", p) for p in parts
    ):
        return parts[0], parts[1]
    return None


def _rewrite_quals(tokens: list[str], mapping: dict[str, str]) -> list[str]:
    """Map each table-qualified column ref per ``mapping`` (alias →
    'l'/'r' prefix, or '' to strip). Unknown qualifiers are left alone
    so genuinely nested references still resolve or fail loudly in
    Spark's analyzer rather than silently rebinding."""
    out = []
    for t in tokens:
        q = _qualified(t)
        if q and q[0] in mapping:
            side = mapping[q[0]]
            out.append(f"{side}.{q[1]}" if side else q[1])
        else:
            out.append(t)
    return out


def _expr_text(tokens: list[str]) -> str:
    return " ".join(tokens)


class _Parser:
    def __init__(self, tokens: list[str]):
        self.toks = tokens
        self.i = 0

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        t = self.peek()
        if t is None:
            raise UnsupportedSQL("unexpected end of SQL")
        self.i += 1
        return t

    def expect_kw(self, kw: str) -> None:
        t = self.next()
        if not _is_kw(t, kw):
            raise UnsupportedSQL(f"expected {kw.upper()}, got {t!r}")

    def at_kw(self, *kws: str) -> bool:
        t = self.peek()
        return t is not None and t.lower() in kws

    def take_until_toplevel(self, stop_kws: set[str]) -> list[str]:
        """Collect tokens until a paren-depth-0 stop keyword or EOF."""
        out: list[str] = []
        depth = 0
        while (t := self.peek()) is not None:
            tl = t.lower()
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            elif depth == 0 and tl in stop_kws:
                break
            out.append(self.next())
        return out

    def take_join_expr(self, also_stop: set[str]) -> list[str]:
        """Collect an ON-clause expression.

        Join-family idents (``left``/``right``/``cross``/``semi``/
        ``anti``/…) terminate the span only when they actually
        introduce the next join — i.e. the following token is JOIN (or
        OUTER/SEMI/ANTI for outer kinds). ``ON left(u.name, 1) =
        right(h.name, 1)`` therefore parses as an expression call, not
        a truncated clause.
        """
        out: list[str] = []
        depth = 0
        while (t := self.peek()) is not None:
            tl = t.lower()
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            elif depth == 0:
                if tl in also_stop:
                    break
                follow = _JOIN_INTRODUCERS.get(tl)
                if follow is not None:
                    nxt = (
                        self.toks[self.i + 1].lower()
                        if self.i + 1 < len(self.toks)
                        else None
                    )
                    if not follow or nxt in follow:
                        break
            out.append(self.next())
        return out


def _split_toplevel(tokens: list[str], sep_kw: str) -> list[list[str]]:
    parts: list[list[str]] = [[]]
    depth = 0
    for t in tokens:
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        if depth == 0 and (t == sep_kw or _is_kw(t, sep_kw)):
            parts.append([])
        else:
            parts[-1].append(t)
    return parts


def sql_to_ir(sql: str) -> Plan:
    """Parse the supported fragment into the delta IR.

    Mirrors the entry shape of the reference's tests: the same five
    statements it feeds DataFusion (mod.rs:223, 260, 311, 391, 472)
    round-trip through here → ``rewrite_pos_delta`` → ``compile_delta``.
    """
    tokens = _tokenize(sql)
    if not tokens:
        raise UnsupportedSQL("empty SQL")
    # UNION [ALL] split at top level, arbitrary fan-in (mod.rs:159-180).
    selects: list[list[str]] = [[]]
    depth = 0
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        if depth == 0 and _is_kw(t, "union"):
            if i + 1 < len(tokens) and _is_kw(tokens[i + 1], "all"):
                selects.append([])
                i += 2
                continue
            raise UnsupportedSQL(
                "UNION (distinct) has no positive-delta derivation; "
                "only UNION ALL is supported (reference mod.rs:159-180 "
                "matches LogicalPlan::Union, which DataFusion builds "
                "from UNION ALL)"
            )
        selects[-1].append(t)
        i += 1
    if len(selects) > 1:
        return Union([_parse_select(s) for s in selects])
    return _parse_select(selects[0])


def _parse_select(tokens: list[str]) -> Plan:
    p = _Parser(tokens)
    p.expect_kw("select")
    if p.at_kw("distinct"):
        raise UnsupportedSQL("SELECT DISTINCT has no positive-delta derivation")
    sel_tokens = p.take_until_toplevel({"from"})
    p.expect_kw("from")

    # base table
    table, alias, version = _parse_table_ref(p)
    node: Plan = Scan(table, version=version)
    left_aliases = {alias}
    last_right_alias: str | None = None

    join_kws = {"cross", "join", "inner", "left", "right", "full", "semi", "anti"}
    while p.at_kw(*join_kws):
        kind = p.next().lower()
        join_type = "inner"
        if kind == "cross":
            p.expect_kw("join")
            t2, a2, v2 = _parse_table_ref(p)
            node = CrossJoin(node, Scan(t2, version=v2))
            left_aliases.add(a2)
            last_right_alias = a2
            continue
        if kind != "join":
            mods = [kind]
            while p.at_kw("outer", "semi", "anti"):
                mods.append(p.next().lower())
            p.expect_kw("join")
            if "semi" in mods:
                join_type = "semi"
            elif "anti" in mods:
                join_type = "anti"
            elif mods[0] in {"left", "right", "full"}:
                join_type = mods[0]
            # bare INNER handled by default
        t2, a2, v2 = _parse_table_ref(p)
        if p.at_kw("using"):
            # JOIN ... USING (c1, c2): same-named equi keys on both
            # sides — carried as join_constraint="using", the
            # ON-vs-USING marker the reference clones through its
            # rewrite (mod.rs:127).
            p.next()
            if p.next() != "(":
                raise UnsupportedSQL("expected ( after USING")
            # strict identifier list: comma-separated, every token a
            # bare identifier — a missing comma or a literal/operator
            # must fail HERE, not as a confusing downstream compile
            # error
            using_cols: list[str] = []
            expect_col = True
            while True:
                tok = p.next()
                if tok == ")":
                    break
                if expect_col:
                    if not re.fullmatch(r"[A-Za-z_][A-Za-z_0-9]*", tok):
                        raise UnsupportedSQL(
                            f"USING expects column identifiers, got "
                            f"{tok!r}"
                        )
                    using_cols.append(tok)
                elif tok != ",":
                    raise UnsupportedSQL(
                        f"USING columns must be comma-separated, got "
                        f"{tok!r}"
                    )
                expect_col = not expect_col
            if expect_col and using_cols:
                raise UnsupportedSQL(
                    "trailing comma in USING column list"
                )
            if not using_cols:
                raise UnsupportedSQL("empty USING column list")
            on_pairs = [(c, c) for c in using_cols]
            theta, null_safe, constraint = None, False, "using"
        else:
            p.expect_kw("on")
            on_tokens = p.take_join_expr({"where"} | _REJECTED_TOPLEVEL)
            on_pairs, theta, null_safe = _parse_on(
                on_tokens, left_aliases, a2
            )
            constraint = "on"
        node = Join(
            node, Scan(t2, version=v2), on=on_pairs, join_type=join_type,
            filter=theta, null_equals_null=null_safe,
            join_constraint=constraint,
        )
        left_aliases.add(a2)
        last_right_alias = a2

    where_tokens: list[str] | None = None
    if p.at_kw("where"):
        p.next()
        where_tokens = p.take_until_toplevel(_REJECTED_TOPLEVEL)

    if (t := p.peek()) is not None:
        raise UnsupportedSQL(
            f"{t.upper()} is not in the supported delta fragment "
            "(no positive-delta derivation — reference mod.rs:187)"
        )

    # Qualifier mapping for expressions ABOVE the top node: join sides
    # are aliased l/r by the compiler; single-table scans are unaliased.
    if isinstance(node, (Join, CrossJoin)):
        mapping = {
            a: ("r" if a == last_right_alias else "l") for a in left_aliases
        }
    else:
        mapping = {a: "" for a in left_aliases}

    if where_tokens:
        node = Filter(_expr_text(_rewrite_quals(where_tokens, mapping)), node)

    _reject_implicit_aggregate(sel_tokens)
    items = _split_toplevel(sel_tokens, ",")
    if len(items) == 1 and items[0] == ["*"]:
        return node  # SELECT * — identity projection elided
    exprs = [_expr_text(_rewrite_quals(item, mapping)) for item in items]
    return Projection(exprs, node)


def _reject_implicit_aggregate(sel_tokens: list[str]) -> None:
    for i, t in enumerate(sel_tokens):
        tl = t.lower()
        nxt = sel_tokens[i + 1] if i + 1 < len(sel_tokens) else None
        if tl in _AGG_FNS and nxt == "(":
            raise UnsupportedSQL(
                f"aggregate function {t}() in the select list has no "
                "positive-delta derivation (reference mod.rs:187 declines "
                "aggregates); use the delta_*_maintenance operators for "
                "incremental aggregate maintenance"
            )
        if tl == "over" and nxt == "(":
            raise UnsupportedSQL(
                "window functions have no positive-delta derivation "
                "(reference mod.rs:187)"
            )


def _parse_table_ref(p: _Parser) -> tuple[str, str, int | None]:
    t = p.next()
    if t == "(":
        raise UnsupportedSQL("subqueries in FROM are not supported")
    name = t.split(".")[-1]  # public.users → users (flat catalog)
    version: int | None = None
    # Delta SQL time travel: t [FOR] VERSION AS OF <n> [alias].
    # Lookahead for the full VERSION AS OF spelling before consuming —
    # `FROM orders version` must keep meaning "alias the table version".
    def _ahead(k: int) -> str:
        j = p.i + k
        return p.toks[j].lower() if j < len(p.toks) else ""

    probe = (p.peek() or "").lower()
    is_tt = (probe == "version" and _ahead(1) == "as" and _ahead(2) == "of") or (
        probe == "for"
        and _ahead(1) == "version"
        and _ahead(2) == "as"
        and _ahead(3) == "of"
    )
    if is_tt:
        if probe == "for":
            p.next()
        p.next()  # VERSION
        p.expect_kw("as")
        p.expect_kw("of")
        vtok = p.next()
        if not re.fullmatch(r"\d+", vtok):
            raise UnsupportedSQL(
                f"VERSION AS OF needs an integer literal, got {vtok!r} "
                f"(timestamp time travel is not supported)"
            )
        version = int(vtok)
    alias = name
    if p.at_kw("as"):
        p.next()
        alias = p.next()
    elif (nxt := p.peek()) is not None and re.fullmatch(
        r"[A-Za-z_][A-Za-z_0-9]*", nxt
    ) and nxt.lower() not in _KEYWORDS:
        alias = p.next()
    return name, alias, version


def _parse_on(
    on_tokens: list[str], left_aliases: set[str], right_alias: str
) -> tuple[list[tuple[str, str]], str | None, bool]:
    """ON conjunction → (equi pairs, theta-filter SQL or None, null_safe).

    Each top-level AND conjunct of the form ``qa.ca <op> qb.cb`` with
    ``op`` ∈ {=, <=>} and qualifiers on opposite sides becomes an equi
    pair (ordered left, right). Everything else becomes part of the
    theta filter, qualifiers rewritten to the compiler's l/r aliases.
    Mixing = and <=> keeps the <=> pairs as null-safe equi keys and
    demotes the = conjuncts to theta filters (the IR's flag is
    join-level, mirroring the reference's single bool, mod.rs:128).
    """
    on_tokens = _strip_outer_parens(on_tokens)
    if any(_is_kw(t, "or") for t in _split_or_probe(on_tokens)):
        # OR at top level → the whole condition is one theta filter.
        conjuncts = [on_tokens]
    else:
        conjuncts = [
            _strip_outer_parens(c) for c in _split_toplevel(on_tokens, "and")
        ]
    mapping = {a: "l" for a in left_aliases} | {right_alias: "r"}

    def classify(c: list[str]) -> tuple[str, str, bool] | None:
        # ``a IS NOT DISTINCT FROM b`` is the SQL-standard spelling of
        # null-safe equality — normalize to the <=> form.
        if (
            len(c) == 6
            and _is_kw(c[1], "is")
            and _is_kw(c[2], "not")
            and _is_kw(c[3], "distinct")
            and _is_kw(c[4], "from")
        ):
            c = [c[0], "<=>", c[5]]
        if len(c) != 3 or c[1] not in {"=", "<=>"}:
            return None
        qa, qb = _qualified(c[0]), _qualified(c[2])
        if not qa or not qb:
            return None
        a_side = "l" if qa[0] in left_aliases else "r" if qa[0] == right_alias else None
        b_side = "l" if qb[0] in left_aliases else "r" if qb[0] == right_alias else None
        if a_side == "l" and b_side == "r":
            return qa[1], qb[1], c[1] == "<=>"
        if a_side == "r" and b_side == "l":
            return qb[1], qa[1], c[1] == "<=>"
        return None

    classified = [(c, classify(c)) for c in conjuncts]
    null_safe = any(k and k[2] for _, k in classified)
    pairs: list[tuple[str, str]] = []
    theta_parts: list[str] = []
    for c, k in classified:
        if k and (k[2] == null_safe):
            pairs.append((k[0], k[1]))
        else:
            theta_parts.append(_expr_text(_rewrite_quals(c, mapping)))
    if not pairs:
        raise UnsupportedSQL(
            "ON clause has no table-qualified equi condition between the "
            "two sides — qualify the key columns (e.g. users.address = "
            "homes.address)"
        )
    theta = " AND ".join(f"( {t} )" for t in theta_parts) if theta_parts else None
    return pairs, theta, null_safe


def _strip_outer_parens(tokens: list[str]) -> list[str]:
    """``( expr )`` → ``expr`` when the parens span the whole token run
    (``ON (a.x = b.x AND a.y = b.y)`` must still split into equi pairs)."""
    while len(tokens) >= 2 and tokens[0] == "(" and tokens[-1] == ")":
        depth = 0
        for i, t in enumerate(tokens):
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
                if depth == 0 and i != len(tokens) - 1:
                    return tokens  # first paren closes early — not outer
        tokens = tokens[1:-1]
    return tokens


def _split_or_probe(tokens: list[str]) -> list[str]:
    """Top-level tokens only (parenthesized ORs belong to sub-exprs)."""
    out, depth = [], 0
    for t in tokens:
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0:
            out.append(t)
    return out


def delta_of_sql(
    spark: SparkSession,
    sf_dir: str,
    sql: str,
    delta_predicates: dict[str, str] | None = None,
) -> DataFrame:
    """SQL string → positive-delta DataFrame, one call.

    The user-facing entry the reference implies but never ships: parse,
    wrap in PosDelta, rewrite, compile against the catalog's
    snapshot/delta split.
    """
    cat = DeltaCatalog(spark, sf_dir, delta_predicates)
    return compile_delta(sql_to_ir(sql), cat)


def signed_delta_of_sql(
    spark: SparkSession,
    sf_dir: str,
    sql: str,
    specs: dict | None = None,
    consolidated: bool = True,
) -> DataFrame:
    """SQL string → retraction-capable signed delta, one call.

    The signed sibling of ``delta_of_sql``: parse the same fragment,
    compile through the bilinear signed rewrite against the catalog's
    CDC change batches — or, for a single outer/semi/anti equi-join
    statement the linear rewrite refuses, through the delta-scoped
    recompute compiler (same fallback as the join-aggregate
    maintenance path). Rows carry ``_sign`` ∈ {±1}; with
    ``consolidated`` (default) the net change per distinct tuple is
    returned, zero-weight rows dropped.
    """
    from .signed import (
        SignedDeltaCatalog,
        UnsupportedIncrementalOperator,
        compile_signed_delta,
        compile_signed_delta_scoped_join,
        consolidate,
    )

    cat = SignedDeltaCatalog(spark, sf_dir, specs)
    ir = sql_to_ir(sql)
    try:
        out = compile_signed_delta(ir, cat)
    except UnsupportedIncrementalOperator:
        out = compile_signed_delta_scoped_join(ir, cat)
    return consolidate(out) if consolidated else out


def full_of_sql(
    spark: SparkSession,
    sf_dir: str,
    sql: str,
    delta_predicates: dict[str, str] | None = None,
    catalog: DeltaCatalog | None = None,
) -> DataFrame:
    """Same parse, compiled over the full current state (for the IVM
    identity full(new) == full(old) ⊎ delta).

    Pass ``catalog`` (e.g. a ``VersionedDeltaCatalog``) to resolve
    ``FROM t VERSION AS OF n`` time travel; the default parquet-fixture
    catalog has no version history and refuses pinned scans loudly."""
    cat = catalog or DeltaCatalog(spark, sf_dir, delta_predicates)
    return compile_plan(sql_to_ir(sql), cat)


# ------------------------------------------------------------------
# SQL surface for incremental AGGREGATE maintenance — the case the
# delta fragment rejects. The reference declines aggregates outright
# (mod.rs:187). Every maintained GROUP BY here and in
# operators/continuous_agg.py runs on ONE decomposable-aggregate
# algebra, ``AggAlgebra``, built from a parsed spec:
#     agg(T ∪ ΔT) == combine(partial(T), partial(ΔT))
# and under retractions the change batch's sign-weighted partials merge
# into the same partial columns. Two merge bodies consume it:
# ``_merge_positive`` (append-only deltas) and ``_merge_signed``
# (deletes and updates). The maintain_*_of_sql entry points only source
# their frames — catalog reads for one table, the compiled join
# fragment (on the same spec shape via ``fold_join_spec``) for joins —
# and call a body. The snapshot side stands in for the stored state;
# only the delta is scanned fresh per refresh.
# ------------------------------------------------------------------

# fn → (partial fn over the raw argument, combine fn over the partial)
_DECOMPOSABLE = {
    "count": ("count", "sum"),
    "sum": ("sum", "sum"),
    "min": ("min", "min"),
    "max": ("max", "max"),
}

# Pair multiplicity weights for ``agg_pairs``: a batch of rows counts
# each row once, a signed batch nets its signs.
ROWS = "count(*)"
NET_ROWS = f"sum({SIGN})"


class AggAlgebra:
    """The expression sets of one GROUP BY spec, over ``_p{i}`` partial
    columns (``_p{i}s``/``_p{i}n``, the sum and its non-NULL argument
    count, for sum and avg) plus ``_rows``, the
    WHERE-passing row multiplicity per group (a group at zero has left
    the aggregate):

    - ``partial``: input rows → partial columns;
    - ``combine``: partials ∪ partials → partials (same shape);
    - ``final``: partial columns → the declared output names;
    - ``merge``: ``combine`` and ``final`` in one aggregate, for a plan
      that stores no state (a HAVING filter then plans above it);
    - ``signed``: rows carrying ``_sign`` ∈ {±1} → the same partial
      columns. min/max have no signed form (a retraction needs the
      runner-up): their slots hold the inserted rows' extremum, exact
      unless a retraction threatens the stored one;
    - ``probe``: per min/max over a signed batch, the most threatening
      retracted value ``_d{i}`` (for min the smallest: a retraction can
      only change a stored min it is ≤ to);
    - ``minmax``: per min/max, its state column, argument, aggregate
      call (the positive partial), probe column and the repair's
      threat operator;
    - ``folded``: one stored partial row and one batch partial row of
      a group → partials, the binary form of ``combine`` (see there).

    ``distinct`` lists the count(DISTINCT) aggregates, which have no
    scalar partial (their state is ``agg_pairs``). ``key_cols``
    evaluates the grouping keys under their output names, so expression
    keys (``GROUP BY date_trunc('hour', ts)``) regroup by the computed
    column after the partial stage.
    """

    def __init__(self, spec: dict) -> None:
        self.key_names = list(spec["key_names"])
        self.key_cols = [
            F.expr(k).alias(n) for k, n in zip(spec["keys"], self.key_names)
        ]
        self.distinct = [
            a for a in spec["aggs"] if a["fn"] == "count_distinct"
        ]
        self.partial: list[str] = []
        self.combine: list[str] = []
        self.final: list[str] = []
        self.merge: list[str] = []
        self.signed: list[str] = []
        self.probe: list[str] = []
        self.minmax: list[dict] = []
        # (partial column, its combine function) for ``folded``.
        self._fold: list[tuple[str, str]] = []
        for i, a in enumerate(spec["aggs"]):
            fn, arg, out, p = a["fn"], a["arg"], a["out"], f"_p{i}"
            if fn == "count_distinct":
                continue
            # A row's signed contribution to count(arg): count(*) counts
            # every row, count(col) only non-NULL values.
            live = (
                SIGN if arg == "*"
                else f"CASE WHEN ({arg}) IS NOT NULL THEN {SIGN} ELSE 0 END"
            )
            if fn in ("sum", "avg"):
                # The sum beside its non-NULL argument count: a group
                # whose non-NULL arguments were all retracted has a NULL
                # sum and avg, not the 0 its signed partials net to.
                self.partial += [
                    f"sum({arg}) AS {p}s", f"count({arg}) AS {p}n"
                ]
                self.combine += [f"sum({p}s) AS {p}s", f"sum({p}n) AS {p}n"]
                self._fold += [(f"{p}s", "sum"), (f"{p}n", "sum")]
                self.signed += [
                    f"sum({SIGN} * ({arg})) AS {p}s", f"sum({live}) AS {p}n"
                ]
                if fn == "avg":
                    self.final.append(f"{p}s / nullif({p}n, 0) AS {out}")
                    self.merge.append(
                        f"sum({p}s) / nullif(sum({p}n), 0) AS {out}"
                    )
                else:
                    self.final.append(
                        f"CASE WHEN {p}n > 0 THEN {p}s END AS {out}"
                    )
                    self.merge.append(
                        f"CASE WHEN sum({p}n) > 0 THEN sum({p}s) END AS {out}"
                    )
                continue
            pfn, cfn = _DECOMPOSABLE[fn]
            self.partial.append(f"{pfn}({arg}) AS {p}")
            self.combine.append(f"{cfn}({p}) AS {p}")
            self._fold.append((p, cfn))
            self.final.append(f"{p} AS {out}")
            self.merge.append(f"{cfn}({p}) AS {out}")
            if fn == "count":
                self.signed.append(f"sum({live}) AS {p}")
            else:
                self.signed.append(
                    f"{pfn}(CASE WHEN {SIGN} > 0 THEN ({arg}) END) AS {p}"
                )
                self.probe.append(
                    f"{pfn}(CASE WHEN {SIGN} < 0 THEN ({arg}) END) AS _d{i}"
                )
                self.minmax.append({
                    "col": p,
                    "arg": arg,
                    "call": f"{pfn}({arg})",
                    "del": f"_d{i}",
                    "threat_op": "<=" if fn == "min" else ">=",
                })
        self.partial.append("count(*) AS _rows")
        self.combine.append("sum(_rows) AS _rows")
        self.signed.append(f"sum({SIGN}) AS _rows")
        self._fold.append(("_rows", "sum"))

    def grouped(self, df: DataFrame, exprs: list[str]) -> DataFrame:
        """``exprs`` aggregated per group of ``df``'s evaluated keys."""
        return df.groupBy(*self.key_cols).agg(*[F.expr(e) for e in exprs])

    def combined(
        self, df: DataFrame, exprs: list[str] | None = None
    ) -> DataFrame:
        """``exprs`` (default ``combine``) aggregated per group of a
        partials frame."""
        # df[n] is an exact-name lookup — expression-derived key names
        # (parens, quotes) must not go through string re-parsing.
        return df.groupBy(*[df[n] for n in self.key_names]).agg(
            *[F.expr(e) for e in exprs or self.combine]
        )

    def folded(
        self, left: str, right: str, repaired: str | None = None
    ) -> list[str]:
        """Per partial column ``c``: ``{left}c`` folded with
        ``{right}c`` into ``c`` — ``combine`` for one row of each side,
        as ``StateStore.fold``'s one aggregate yields them per group
        (the side without the group is NULL). Sums and counts add
        null-aware (a NULL side adds nothing, as ``sum`` skips NULL);
        min/max take ``least``/``greatest``, which skip NULL already.

        With ``repaired``, ``left`` is stored state and ``right`` a
        signed batch carrying the ``probe`` columns: a min/max whose
        stored value a retraction threatens (``_d{i}`` at or past it,
        or no stored value to compare) takes ``{repaired}c``, its
        recompute from the post-change input; every other group keeps
        the fold, which the threat test proves exact."""
        threats = {m["col"]: m for m in self.minmax}
        out = []
        for c, fn in self._fold:
            a, b = left + c, right + c
            if fn == "sum":
                e = f"coalesce({a} + {b}, {a}, {b})"
            else:
                e = f"{'least' if fn == 'min' else 'greatest'}({a}, {b})"
            if repaired is not None and c in threats:
                d, op = threats[c]["del"], threats[c]["threat_op"]
                e = (
                    f"CASE WHEN {d} IS NOT NULL AND ({a} IS NULL OR "
                    f"{d} {op} {a}) THEN {repaired}{c} ELSE {e} END"
                )
            out.append(f"{e} AS {c}")
        return out

    def finals(self, state: DataFrame) -> DataFrame:
        return state.select(
            *[state[n] for n in self.key_names],
            *[F.expr(e) for e in self.final],
        )


def agg_pairs(
    df: DataFrame, key_cols: list, arg: str, weight: str
) -> DataFrame:
    """The count(DISTINCT ``arg``) partial of ``df``: its (keys, value)
    pairs, value ``_v``, each with its multiplicity ``_m`` under
    ``weight`` (``ROWS`` or ``NET_ROWS``).

    Scalar distinct counts don't merge; pair multiplicities do — sum
    them per pair, keep ``_m > 0``, count the values per group. That is
    the standard exact IVM construction for distinct counts; the stored
    form is ``ContinuousDistinctAggregate``'s pair tables, and the
    bounded-state alternative is ``delta_ndv_maintenance``'s mergeable
    HLL partials. NULL values stay pairs, so every group stays present
    (count() then skips them, matching SQL)."""
    return df.groupBy(*key_cols, F.expr(arg).alias("_v")).agg(
        F.expr(weight).cast("bigint").alias("_m")
    )


def parse_agg_sql(sql: str) -> dict:
    """Parse a single-table GROUP BY statement into an agg spec.

    Supported: ``SELECT k1, ..., fn(col) AS alias, ... FROM t
    [WHERE pred] GROUP BY k1, ... [HAVING pred]`` with fn ∈
    count/sum/min/max/avg (count(*) included; avg decomposes into
    sum+count partials) plus ``count(DISTINCT col)``, which is
    maintained exactly through distinct-(keys, value)-pair partials
    (scalar distinct counts don't merge, pair sets do; the HLL-sketch
    operator remains the bounded-state alternative). HAVING filters
    the *merged* state (a group may cross the
    threshold only once the delta arrives, so it cannot be pushed into
    the partials); its aggregate calls must echo select-list aggregates.
    """
    toks = _tokenize(sql)
    p = _Parser(toks)
    p.expect_kw("select")
    sel = p.take_until_toplevel({"from"})
    p.expect_kw("from")
    table, alias, version = _parse_table_ref(p)
    if version is not None:
        raise UnsupportedSQL(
            f"{table} VERSION AS OF {version}: a maintained aggregate "
            f"of a PINNED version is a contradiction (its delta is "
            f"empty by definition) — maintain the current state or "
            f"query the version directly"
        )
    where = None
    if p.at_kw("where"):
        p.next()
        where = _expr_text(
            _rewrite_quals(p.take_until_toplevel({"group"}), {alias: ""})
        )
    p.expect_kw("group")
    p.expect_kw("by")
    group_toks = p.take_until_toplevel(_REJECTED_TOPLEVEL | {"where"})
    having_toks: list[str] | None = None
    if p.at_kw("having"):
        p.next()
        having_toks = _rewrite_quals(
            p.take_until_toplevel(_REJECTED_TOPLEVEL | {"where"}),
            {alias: ""},
        )
        if not having_toks:
            raise UnsupportedSQL("empty HAVING clause")
    if (t := p.peek()) is not None:
        raise UnsupportedSQL(f"{t.upper()} not supported after GROUP BY")
    keys = [
        _expr_text(_rewrite_quals(g, {alias: ""}))
        for g in _split_toplevel(group_toks, ",")
    ]
    # Output names for the keys: the select-list alias when the key
    # expression is echoed with one (``date_trunc(...) AS bucket ...
    # GROUP BY date_trunc(...)``), else the expression itself.
    key_names = {k: k for k in keys}
    aggs: list[dict] = []
    for item in _split_toplevel(sel, ","):
        item = _rewrite_quals(item, {alias: ""})
        out = None
        if len(item) >= 3 and _is_kw(item[-2], "as"):
            out = item[-1]
            item = item[:-2]
        expr_text = _expr_text(item)
        if expr_text in key_names:
            if out:
                key_names[expr_text] = out
            continue  # grouping key echoed in the select list
        aggs.append(_parse_agg_call(item, out))
    if not aggs:
        raise UnsupportedSQL("no aggregate select items found")
    having = (
        _rewrite_having(having_toks, aggs, key_map=key_names)
        if having_toks
        else None
    )
    return {
        "table": table,
        "where": where,
        "keys": keys,
        "key_names": [key_names[k] for k in keys],
        "aggs": aggs,
        "having": having,
    }


def _parse_agg_call(item: list[str], out: str | None) -> dict:
    """``fn ( args )`` select-item tokens → agg spec entry (shared by
    the single-table and join entry points so their accepted grammar
    and error wording never drift)."""
    fn = item[0].lower()
    if fn not in _DECOMPOSABLE and fn != "avg":
        raise UnsupportedSQL(
            f"select item {_expr_text(item)!r} is neither a grouping key "
            f"nor a decomposable aggregate (count/sum/min/max/avg)"
        )
    if len(item) < 3 or item[1] != "(" or item[-1] != ")":
        raise UnsupportedSQL(f"cannot parse aggregate call {_expr_text(item)!r}")
    arg_toks = item[2:-1]
    if arg_toks and _is_kw(arg_toks[0], "distinct"):
        if fn != "count":
            raise UnsupportedSQL(
                f"{fn}(DISTINCT) is not supported — only "
                "count(DISTINCT col) has an exact maintenance rule"
            )
        inner = arg_toks[1:]
        if not inner or _expr_text(inner) == "*":
            raise UnsupportedSQL("count(DISTINCT *) is not valid SQL")
        return {
            "fn": "count_distinct",
            "arg": _expr_text(inner),
            "out": out or "count_distinct",
        }
    if any(_is_kw(t, "distinct") for t in arg_toks):
        raise UnsupportedSQL(
            "DISTINCT is only supported as the leading count(DISTINCT col)"
        )
    return {"fn": fn, "arg": _expr_text(arg_toks), "out": out or fn}


def _bare_ident(text: str) -> str | None:
    """'users.address' → 'address', 'N_NAME' → 'n_name'; None for
    non-identifier expressions. SQL identifiers compare
    case-insensitively and a HAVING/SELECT reference may qualify (or
    not) a grouping key differently than the GROUP BY clause spelled
    it."""
    if re.fullmatch(r"[A-Za-z_][A-Za-z_0-9.]*", text):
        return text.split(".")[-1].lower()
    return None


def _rewrite_having(
    toks: list[str],
    aggs: list[dict],
    key_map: dict[str, str] | None = None,
) -> str:
    """HAVING tokens → predicate over the merged-output columns.

    Each aggregate call ``fn ( args )`` is replaced by the output name
    of the select-list aggregate with the same normalized call text, so
    the predicate can run as a plain filter *after* the merge
    aggregate. Calls with no select-list twin are rejected (silently
    aggregating fresh over merged partials would double-count).
    ``key_map`` additionally maps single-token grouping-key references
    (possibly qualified: ``users.address``) to their bare output names
    — the merged frame carries only those. Matching falls back to the
    case-insensitive bare column (``nation.n_name`` matches a key
    spelled ``n_name`` and vice versa); ambiguity is impossible because
    duplicate bare output names are rejected at parse time.
    """
    call_map = {(a["fn"], a["arg"]): a["out"] for a in aggs}
    key_map = key_map or {}
    bare_counts: dict[str, int] = {}
    for k in key_map:
        if (b := _bare_ident(k)) is not None:
            bare_counts[b] = bare_counts.get(b, 0) + 1
    bare_map = {
        b: name
        for k, name in key_map.items()
        if (b := _bare_ident(k)) is not None and bare_counts[b] == 1
    }
    out: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        tl = t.lower()
        if not (i + 1 < len(toks) and toks[i + 1] == "("):
            if t in key_map:
                out.append(key_map[t])
                i += 1
                continue
            b = _bare_ident(t)
            if b is not None and b in bare_map:
                out.append(bare_map[b])
                i += 1
                continue
        if tl in _AGG_FNS and i + 1 < len(toks) and toks[i + 1] == "(":
            depth, j = 0, i + 1
            while j < len(toks):
                if toks[j] == "(":
                    depth += 1
                elif toks[j] == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if depth != 0:
                raise UnsupportedSQL("unbalanced parentheses in HAVING")
            call_toks = toks[i + 2 : j]
            if call_toks and _is_kw(call_toks[0], "distinct"):
                fn_key = tl + "_distinct"
                arg = _expr_text(call_toks[1:])
                shown = f"{tl}(DISTINCT {arg})"
            else:
                fn_key, arg = tl, _expr_text(call_toks)
                shown = f"{tl}({arg})"
            name = call_map.get((fn_key, arg))
            if name is None:
                raise UnsupportedSQL(
                    f"HAVING aggregate {shown} must also appear in "
                    "the select list — the merged maintenance state only "
                    "carries the selected aggregates"
                )
            out.append(name)
            i = j + 1
            continue
        out.append(t)
        i += 1
    return _expr_text(out)


def _side_col(side: str, name: str):
    return F.col(f"{side}.`{name.replace('`', '``')}`")


def _keys_match(key_names: list[str]):
    """Null-safe equality of every key between the sides aliased
    ``_l`` and ``_r``. Naming each column through its side's alias lets
    two frames derived from one aggregate (same attribute ids) join like
    any other two, without Spark's trivially-true self-join rewrite."""
    cond = None
    for n in key_names:
        c = _side_col("_l", n).eqNullSafe(_side_col("_r", n))
        cond = c if cond is None else cond & c
    return cond


def _join_on_keys(
    left: DataFrame, right: DataFrame, key_names: list[str]
) -> DataFrame:
    """Null-safe inner equi-join on the grouping keys (groupBy treats
    NULL as a regular group, so the stitch between the merge-aggregate
    frame and a count-distinct frame must too)."""
    return (
        left.alias("_l")
        .join(right.alias("_r"), _keys_match(key_names), "inner")
        .select(
            *[_side_col("_l", c) for c in left.columns],
            *[_side_col("_r", c) for c in right.columns if c not in key_names],
        )
    )


def _merge_positive(spec: dict, old: DataFrame, delta: DataFrame) -> DataFrame:
    """Append-only maintenance of ``spec``: partials of ``old`` (the
    snapshot, standing in for the stored state) and of ``delta`` union
    and combine — Catalyst plans both levels map-side-combinable, and
    only the delta is scanned fresh. Exact for count/min/max (and avg's
    count); double sums merge in a different addition order than a
    single-pass aggregate, same as any distributed re-aggregation."""
    alg = AggAlgebra(spec)
    result = None
    if alg.merge:
        result = alg.combined(
            alg.grouped(old, alg.partial).unionByName(
                alg.grouped(delta, alg.partial)
            ),
            alg.merge,
        )
    return _finish(spec, alg, result, old, delta, ROWS)


def _merge_signed(
    spec: dict,
    old: DataFrame,
    signed: DataFrame,
    new: DataFrame | None = None,
) -> DataFrame:
    """Maintenance of ``spec`` under deletes and updates: ``old`` is the
    pre-change input (standing in for the stored state), ``signed`` its
    change batch carrying ``_sign``. Sign-weighted partials merge into
    the old partials, and a group whose live row count reaches zero
    leaves, as GROUP BY over the new state does. min/max cannot absorb a
    retraction, so they recompute from ``new`` (the post-change input)
    restricted to the touched groups; untouched groups keep their old
    extremum, and statements carrying min/max require ``new``."""
    alg = AggAlgebra(spec)
    keys = alg.key_names
    d = alg.grouped(signed, alg.signed)
    partials = alg.grouped(old, alg.partial)
    merged = alg.combined(partials.unionByName(d)).where("_rows > 0")
    if alg.minmax:
        if new is None:
            raise ValueError(
                "statement carries min/max: signed partials cannot "
                "retract an extremum — pass the post-change input for "
                "delta-scoped recompute"
            )
        # ONE extrema frame for every min/max output: the old extrema
        # of untouched groups (read off the old partials) beside the
        # touched groups' recompute.
        cols = [m["col"] for m in alg.minmax]
        touched = d.select(*keys)
        untouched = _anti_on_keys(partials.select(*keys, *cols), touched, keys)
        recomputed = alg.grouped(
            _semi_on_keys(new, touched, spec["keys"], keys),
            [f"{m['call']} AS {m['col']}" for m in alg.minmax],
        )
        merged = _join_on_keys(
            merged.drop(*cols), untouched.unionByName(recomputed), keys
        )
    return _finish(spec, alg, alg.finals(merged), old, signed, NET_ROWS)


def _finish(
    spec: dict,
    alg: AggAlgebra,
    result: DataFrame | None,
    old: DataFrame,
    delta: DataFrame,
    weight: str,
) -> DataFrame:
    """Stitch each count(DISTINCT) onto the scalar ``result`` (pairs of
    ``old`` and of ``delta`` under ``weight``, netted, values counted per
    group), apply HAVING and restore the declared column order."""
    keys = alg.key_names
    for a in alg.distinct:
        pairs = agg_pairs(old, alg.key_cols, a["arg"], ROWS).unionByName(
            agg_pairs(delta, alg.key_cols, a["arg"], weight)
        )
        live = (
            pairs.groupBy(*[pairs[n] for n in keys], pairs["_v"])
            .agg(F.sum("_m").alias("_m"))
            .where("_m > 0")
        )
        frame = live.groupBy(*[live[n] for n in keys]).agg(
            F.count("_v").alias(a["out"])
        )
        # Both frames carry exactly the live groups (the pair stage
        # keeps NULL values), so the null-safe inner join loses nothing.
        result = (
            frame if result is None else _join_on_keys(result, frame, keys)
        )
    if spec["having"]:
        # HAVING over the merged totals — after the merge, never inside
        # the partials (a group may qualify only once ΔT arrives).
        result = result.where(spec["having"])
    return result.select(
        *[result[n] for n in keys],
        *[result[a["out"]] for a in spec["aggs"]],
    )


def _table_inputs(spec: dict, *reads) -> list[DataFrame]:
    """The spec's table through each catalog read, WHERE applied."""
    frames = [read(spec["table"]) for read in reads]
    return [f.where(spec["where"]) if spec["where"] else f for f in frames]


def maintain_agg_of_sql(
    spark: SparkSession,
    sf_dir: str,
    sql: str,
    delta_predicates: dict[str, str] | None = None,
) -> DataFrame:
    """SQL GROUP BY → incrementally-maintained aggregate DataFrame: the
    old snapshot's partials (standing in for the stored state) merged
    with the delta batch's (``_merge_positive``)."""
    spec = parse_agg_sql(sql)
    cat = DeltaCatalog(spark, sf_dir, delta_predicates)
    return _merge_positive(spec, *_table_inputs(spec, cat.snapshot, cat.delta))


# ------------------------------------------------------------------
# JOIN + GROUP BY maintenance — the composition of the two halves the
# reference implies but never connects: its join Δ-rule (mod.rs:99-158)
# produces the delta *rows* of a join, and aggregates it declines
# outright (mod.rs:187). For decomposable aggregates over an
# append-only join,
#     agg(J ∪ ΔJ) == merge(agg(J), agg(ΔJ))       where ΔJ = Δ(A ⋈ B)
# so the maintained aggregate is: partial over the old join snapshot
# (standing in for the stored state) merged with a partial over the
# join delta (three branches in the IR, executed in one pass: one join
# over A_new and B_new keeping the rows with an appended participant).
# ------------------------------------------------------------------


def parse_join_agg_sql(sql: str) -> dict:
    """Parse ``SELECT keys+aggs FROM a JOIN b ON ... [WHERE] GROUP BY
    keys [HAVING]`` into (agg spec, join-fragment statement).

    The FROM/JOIN/WHERE part is re-emitted verbatim as a projection
    statement over the needed expressions (keys + agg args, aliased
    ``_k{i}``/``_a{i}``) and handed to ``sql_to_ir`` — qualifier
    rewriting, join parsing, and the delta rewrite are all reused.
    """
    toks = _tokenize(sql)
    p = _Parser(toks)
    p.expect_kw("select")
    sel = p.take_until_toplevel({"from"})
    # Everything from FROM up to GROUP BY is the join fragment. UNION
    # must stop the span: in SQL a trailing GROUP BY binds to the last
    # SELECT only, so silently folding a union into the maintained
    # aggregate would compute something else entirely.
    frag = p.take_until_toplevel({"group", "union"})
    if p.at_kw("union"):
        raise UnsupportedSQL(
            "UNION is not supported in join-aggregate maintenance "
            "statements (GROUP BY would bind to the last branch only)"
        )
    if not frag or not _is_kw(frag[0], "from"):
        raise UnsupportedSQL("expected FROM in join-aggregate statement")
    p.expect_kw("group")
    p.expect_kw("by")
    group_toks = p.take_until_toplevel(_REJECTED_TOPLEVEL | {"where"})
    having_toks: list[str] | None = None
    if p.at_kw("having"):
        p.next()
        having_toks = p.take_until_toplevel(_REJECTED_TOPLEVEL | {"where"})
        if not having_toks:
            raise UnsupportedSQL("empty HAVING clause")
    if (t := p.peek()) is not None:
        raise UnsupportedSQL(f"{t.upper()} not supported after GROUP BY")

    keys = []
    key_names: dict[str, str] = {}
    for g in _split_toplevel(group_toks, ","):
        k = _expr_text(g)
        keys.append(k)
        # SQL output naming: a plain (possibly qualified) column ref
        # yields the bare column name; expressions default to their
        # text until a select-list alias overrides.
        if len(g) == 1 and _bare_ident(g[0]) is not None:
            key_names[k] = g[0].split(".")[-1]
        else:
            key_names[k] = k
    # Bare-name lookup excludes ambiguous bares (GROUP BY u.address,
    # h.address): an unqualified echo of those must fail loud below,
    # never bind to whichever key came last.
    bares = [(_bare_ident(k), k) for k in keys]
    counts: dict[str, int] = {}
    for b, _ in bares:
        if b is not None:
            counts[b] = counts.get(b, 0) + 1
    key_by_bare = {b: k for b, k in bares if b is not None and counts[b] == 1}

    def match_key(expr_text: str) -> str | None:
        """Key matched by exact text, else by case-insensitive bare
        column (``n_name`` echoes ``nation.n_name`` and vice versa)."""
        if expr_text in key_names:
            return expr_text
        b = _bare_ident(expr_text)
        return key_by_bare.get(b) if b is not None else None

    aggs: list[dict] = []
    for item in _split_toplevel(sel, ","):
        out = None
        if len(item) >= 3 and _is_kw(item[-2], "as"):
            out = item[-1]
            item = item[:-2]
        matched = match_key(_expr_text(item))
        if matched is not None:
            if out:
                key_names[matched] = out
            continue
        aggs.append(_parse_agg_call(item, out))
    if not aggs:
        raise UnsupportedSQL("no aggregate select items found")
    names = [key_names[k] for k in keys]
    if len(set(names)) != len(names):
        raise UnsupportedSQL(
            f"grouping keys produce duplicate output names {names}; "
            "alias them in the select list"
        )

    # Rebuild the join fragment as a plain projection statement: the
    # keys and agg args become the select list (count(*) needs no
    # column — project a constant instead).
    proj_items = [
        f"{k} AS _k{i}" for i, k in enumerate(keys)
    ] + [
        (f"1 AS _a{i}" if a["arg"] == "*" else f"{a['arg']} AS _a{i}")
        for i, a in enumerate(aggs)
    ]
    fragment_sql = f"SELECT {', '.join(proj_items)} {_expr_text(frag)}"
    having = (
        _rewrite_having(having_toks, aggs, key_map=key_names)
        if having_toks
        else None
    )
    return {
        "fragment_sql": fragment_sql,
        "keys": keys,
        "key_names": [key_names[k] for k in keys],
        "aggs": aggs,
        "having": having,
    }


def fold_join_spec(jspec: dict) -> dict:
    """A ``parse_join_agg_sql`` spec on the single-table spec shape,
    over the join fragment's output: keys and arguments become the
    projected ``_k{i}``/``_a{i}`` columns, WHERE lives inside the
    fragment, and count(*) keeps ``*`` (row-count semantics survive the
    projection)."""
    return {
        "keys": [f"_k{i}" for i in range(len(jspec["keys"]))],
        "key_names": list(jspec["key_names"]),
        "aggs": [
            {**a, "arg": "*" if a["arg"] == "*" else f"_a{i}"}
            for i, a in enumerate(jspec["aggs"])
        ],
        "where": None,
        "having": jspec["having"],
    }


def maintain_join_agg_of_sql(
    spark: SparkSession,
    sf_dir: str,
    sql: str,
    delta_predicates: dict[str, str] | None = None,
) -> DataFrame:
    """SQL GROUP BY over a JOIN → incrementally-maintained aggregate.

    The join fragment goes through the same IR + PosDelta rewrite as
    ``delta_of_sql`` (join delta executed in one pass over new state);
    the aggregate is maintained by partial-union-merge over (old-join
    snapshot partial) ∪ (join-delta partial). Exact for count/min/max
    and integer sums; HAVING filters the merged state.
    """
    jspec = parse_join_agg_sql(sql)
    ir = sql_to_ir(jspec["fragment_sql"])
    cat = DeltaCatalog(spark, sf_dir, delta_predicates)
    old, delta = compile_snapshot(ir, cat), compile_delta(ir, cat)
    return _merge_positive(fold_join_spec(jspec), old, delta)


# ------------------------------------------------------------------
# Retraction-capable SQL aggregate maintenance: the signed siblings of
# the entry points above. The change batch carries deletes and updates
# (plans/signed.py CDC shape) and ``_merge_signed`` maintains every
# aggregate class the grammar accepts on the shared algebra:
#   sum/count/avg      — sign-weighted partials merged into the old
#                        partials; groups whose live row count reaches
#                        zero vanish, as GROUP BY over the new state;
#   count(DISTINCT x)  — ``agg_pairs`` multiplicities netted by signed
#                        counts; values at zero stop counting;
#   min/max            — no signed form (a retraction needs the
#                        runner-up): delta-scoped recompute over the
#                        post-change state, touched groups only.
# ------------------------------------------------------------------


def maintain_agg_of_sql_signed(
    spark: SparkSession,
    sf_dir: str,
    sql: str,
    specs: dict | None = None,
) -> DataFrame:
    """SQL GROUP BY → aggregate maintained under deletes AND updates.

    Returns the post-change aggregate (finals, HAVING applied) built
    from the old state's partials plus the signed change batch — the
    plan-level form of ``ContinuousAggregate.refresh_signed`` with the
    full grammar (count-distinct and min/max included, since the
    catalog can serve the post-change base for scoped recompute).
    """
    from .signed import SignedDeltaCatalog

    spec = parse_agg_sql(sql)
    cat = SignedDeltaCatalog(spark, sf_dir, specs)
    return _merge_signed(
        spec, *_table_inputs(spec, cat.old, cat.signed_changes, cat.new)
    )


def _anti_on_keys(left: DataFrame, keys_df: DataFrame,
                  key_names: list[str]) -> DataFrame:
    return left.alias("_l").join(
        F.broadcast(keys_df).alias("_r"), _keys_match(key_names), "left_anti"
    )


def _semi_on_keys(df: DataFrame, keys_df: DataFrame, keys: list[str],
                  key_names: list[str]) -> DataFrame:
    """Keep ``df`` rows whose evaluated grouping-key tuple appears in
    ``keys_df`` — the delta-scoped restriction for expression keys
    (time buckets etc.): evaluate the key expressions as helper
    columns, broadcast-semi-join on them, drop the helpers.

    The broadcast hint assumes the touched-key set is delta-sized
    (distinct group keys of ONE change batch). For a pathological
    batch touching millions of groups, drop the hint and let AQE pick
    the strategy — the restriction stays correct either way."""
    helper_names = [f"_k_{n}" for n in key_names]
    tagged = df.select(
        "*", *[F.expr(k).alias(h) for k, h in zip(keys, helper_names)]
    )
    cond = None
    for h, n in zip(helper_names, key_names):
        c = tagged[h].eqNullSafe(keys_df[n])
        cond = c if cond is None else cond & c
    return tagged.join(F.broadcast(keys_df), cond, "left_semi").drop(
        *helper_names
    )


def maintain_join_agg_of_sql_signed(
    spark: SparkSession,
    sf_dir: str,
    sql: str,
    specs: dict | None = None,
) -> DataFrame:
    """SQL GROUP BY over a JOIN, maintained under deletes AND updates.

    INNER/CROSS join fragments run through the bilinear signed rewrite
    (``compile_signed_delta`` — sound for retractions, unlike the
    positive rule); a single LEFT/RIGHT/FULL OUTER (or
    SEMI/ANTI) equi-join fragment routes through the delta-scoped
    recompute compiler instead
    (``compile_signed_delta_scoped_join`` — old-vs-new diff on the
    touched-key slice, the compiler the ``signed_outer_join``
    maintainer runs), so ``SELECT … FROM a LEFT
    JOIN b ON … GROUP BY`` statements are maintained under
    retractions too — a dangling left row gaining its first match has
    its NULL-padded contribution retracted from its group. STAR-shaped
    multi-join chains (``fact LEFT JOIN dim₁ … LEFT JOIN dimₙ``, every
    join key a fact column) route further to
    ``compile_signed_delta_scoped_chain`` — recompute confined to the
    union of touched fact key-classes — closing the multi-join outer
    case the single-join compiler declines. Either
    way, the aggregate maintains by sign-weighted partial merge;
    groups whose live row count reaches zero vanish. count(DISTINCT)
    maintains via per-(keys, value) multiplicity over the join
    output. min/max are rejected: under retractions their repair
    needs a delta-scoped recompute whose touched-GROUP analysis spans
    the join — use the single-table ``maintain_agg_of_sql_signed`` or
    ``ContinuousJoinAggregate`` (two-tier repair) instead.
    """
    from .signed import (
        SignedDeltaCatalog,
        UnsupportedIncrementalOperator,
        compile_old,
        compile_signed_delta,
        compile_signed_delta_scoped_chain,
        compile_signed_delta_scoped_join,
    )

    jspec = parse_join_agg_sql(sql)
    if any(a["fn"] in ("min", "max") for a in jspec["aggs"]):
        raise UnsupportedSQL(
            "min/max over a join cannot be maintained from signed "
            "partials (a retraction needs the runner-up) — use "
            "maintain_agg_of_sql_signed on a single table or recompute "
            "the touched slice explicitly"
        )
    ir = sql_to_ir(jspec["fragment_sql"])
    cat = SignedDeltaCatalog(spark, sf_dir, specs)
    old_j = compile_old(ir, cat)
    try:
        sgn_j = compile_signed_delta(ir, cat)  # carries _sign
    except UnsupportedIncrementalOperator:
        # non-linear join type: single-join fragments fall back to the
        # delta-scoped recompute; star-shaped multi-join chains
        # (fact LEFT JOIN dim₁ … LEFT JOIN dimₙ) to the chain variant
        # (each raises for shapes it cannot confine)
        try:
            sgn_j = compile_signed_delta_scoped_join(ir, cat)
        except UnsupportedIncrementalOperator:
            sgn_j = compile_signed_delta_scoped_chain(ir, cat)
    return _merge_signed(fold_join_spec(jspec), old_j, sgn_j)
