"""The PosDelta rewrite: Q wrapped in PosDelta → ΔQ.

Faithful re-derivation of the reference's single optimizer rule
(/root/reference/src/optimizer_rules/mod.rs:8-196), case by case:

- Projection  (mod.rs:22-37):  Δπ_e(R)   = π_e(ΔR)
- Filter      (mod.rs:38-53):  Δσ_p(R)   = σ_p(ΔR)
- CrossJoin   (mod.rs:54-98):  Δ(R×S)    = (ΔR×ΔS) ∪ (R×ΔS) ∪ (ΔR×S)
- Join        (mod.rs:99-158): Δ(R⋈S)    = (ΔR⋈ΔS) ∪ (R⋈ΔS) ∪ (ΔR⋈S)
- Union       (mod.rs:159-180): Δ(∪ᵢRᵢ)  = ∪ᵢ ΔRᵢ (arbitrary fan-in)
- TableScan   (mod.rs:181-186): ΔScan(T) = PosDeltaScan(T)
- anything else → None          (mod.rs:187: ``_ => Ok(None)``)

Union branch order matches the reference exactly:
[delta⋈delta, left⋈delta_right, delta_left⋈right]
(mod.rs:90-97 cross, :150-157 keyed — its tests assert this shape,
mod.rs:326-360, 406-440).

Like the reference, recursion is internal to the rule: each child is
re-wrapped in PosDelta and the rule re-applied directly, with
``unwrap_or(child)`` keeping the original child when the recursion
declines (mod.rs:23-32). The un-delta'd join sides (``join.left.clone()``)
compile to the *old snapshot* — see compiler.py and SURVEY §4.3.

This rule builds the reference IR, three branches per join, and
``compile_delta`` always runs it first: its decline is the compiler's
refusal. The executed plan is smaller and never compiles this IR. An
inner/cross/union fragment with a join runs in one pass over each
table's flagged new state (compiler.py); everything else runs through
the signed compiler's Δ recursion (``signed.delta_of``) with every
appended row signed +1, two branches per join, the semi rule below
its insert-only case. Only a caller that passes an already-rewritten
plan gets this IR compiled literally.

Two deliberate divergences (SURVEY §4.3): the reference clones
``join_type`` verbatim (mod.rs:126), silently mis-incrementalizing
outer/semi/anti joins (a no-longer-dangling left row would need its
null-padded output *retracted*, impossible with positive deltas only).
We (1) raise UnsupportedIncrementalOperator for outer/anti joins, and
(2) support semi joins with a sound rule of our own — semi join is
monotone on append-only inputs:
    Δ(L ⋉ R) = (ΔL ⋉ (R ∪ ΔR)) ∪ ((L ▷ R) ⋉ ΔR)
Batch mode supports every join type.
"""

from __future__ import annotations

from .nodes import (
    CrossJoin,
    Filter,
    Join,
    Plan,
    PosDelta,
    PosDeltaScan,
    Projection,
    Scan,
    Union,
    UnsupportedIncrementalOperator,
)

_DELTA_SAFE_JOIN_TYPES = {"inner", "cross"}


def _delta_or_self(node: Plan) -> Plan:
    # mod.rs:23-32: recurse with re-wrap; keep original on decline.
    return rewrite_pos_delta(PosDelta(node)) or node


def rewrite_pos_delta(plan: Plan) -> Plan | None:
    """Apply the PosDelta rule to ``plan``.

    Returns the delta plan, or None if ``plan`` is not a PosDelta
    wrapper / wraps an operator with no delta derivation — the exact
    contract of the reference's ``try_optimize`` (mod.rs:14-195).
    """
    if not isinstance(plan, PosDelta):
        return None  # mod.rs:189-194: non-PosDelta root → no rewrite
    child = plan.input

    if isinstance(child, Projection):
        return Projection(child.select_exprs, _delta_or_self(child.input))

    if isinstance(child, Filter):
        return Filter(child.predicate, _delta_or_self(child.input))

    if isinstance(child, CrossJoin):
        dl, dr = _delta_or_self(child.left), _delta_or_self(child.right)
        return Union(
            [
                CrossJoin(dl, dr),
                CrossJoin(child.left, dr),
                CrossJoin(dl, child.right),
            ]
        )

    if isinstance(child, Join):
        if child.join_type == "semi":
            # Beyond the reference (it refuses everything non-inner):
            # semi join IS monotone in both inputs on append-only
            # tables, so a sound positive delta exists:
            #   Δ(L ⋉ R) = (ΔL ⋉ (R ∪ ΔR)) ∪ ((L ▷ R) ⋉ ΔR)
            # branch 1: new left rows matching the NEW right state;
            # branch 2: old left rows that matched nothing before but
            # match the delta (▷ = anti join). Branches are disjoint
            # (rows from ΔL vs L), so UNION ALL is multiset-exact.
            # Anti/outer joins stay unsupported: a previously-matched
            # (resp. dangling) row would need its output *retracted*,
            # impossible with positive deltas (see below).
            dl, dr = _delta_or_self(child.left), _delta_or_self(child.right)
            r_new = Union([child.right, dr])
            nen = child.null_equals_null
            jc = child.join_constraint
            missed = Join(
                child.left, child.right, child.on, "anti", child.filter,
                nen, jc,
            )
            return Union(
                [
                    Join(dl, r_new, child.on, "semi", child.filter, nen, jc),
                    Join(missed, dr, child.on, "semi", child.filter, nen, jc),
                ]
            )
        if child.join_type not in _DELTA_SAFE_JOIN_TYPES:
            raise UnsupportedIncrementalOperator(
                f"positive-delta rewrite is only sound for inner/cross/semi "
                f"joins; got join_type={child.join_type!r} (see SURVEY §4.3)"
            )
        dl, dr = _delta_or_self(child.left), _delta_or_self(child.right)
        # mod.rs:120-129 clones every join field through the rewrite —
        # null_equals_null (mod.rs:128) and join_constraint (mod.rs:127)
        # included, on all three branches.
        mk = lambda l, r: Join(
            l, r, child.on, child.join_type, child.filter,
            child.null_equals_null, child.join_constraint,
        )
        return Union(
            [
                mk(dl, dr),
                mk(child.left, dr),
                mk(dl, child.right),
            ]
        )

    if isinstance(child, Union):
        return Union([_delta_or_self(i) for i in child.inputs])

    if isinstance(child, Scan):
        return PosDeltaScan(child)  # mod.rs:181-186

    return None  # mod.rs:187: unsupported operator (agg/sort/limit/...)
