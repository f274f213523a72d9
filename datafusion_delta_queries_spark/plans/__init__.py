"""Python logical IR + positive-delta rewrite + DataFrame compilers.

This is the custom heart of the engine — the one capability the
reference implements itself (incremental view maintenance by rewriting
a query into its positive-delta form). Everything else is delegated to
Catalyst, exactly as the reference delegates to stock DataFusion.

- ``nodes``   : plan node dataclasses mirroring the reference's shapes
- ``rewrite`` : the PosDelta rule (reference optimizer_rules/mod.rs:8-196)
- ``compiler``: full-snapshot and delta compilation to DataFrames
- ``signed``  : retraction-capable (signed / Z-relation) deltas over
  CDF-style change batches — deletes and updates, beyond the
  reference's insert-only PosDelta — and ``delta_of``, the Δ recursion
  the positive compiler runs too, with every appended row signed +1
"""

from .compiler import (
    DELTA_PREDICATES,
    DeltaCatalog,
    compile_delta,
    compile_plan,
    compile_snapshot,
)
from .nodes import (
    CrossJoin,
    Filter,
    Join,
    PosDelta,
    PosDeltaScan,
    Projection,
    Scan,
    Union,
    UnsupportedIncrementalOperator,
)
from .rewrite import rewrite_pos_delta
from .signed import (
    CDC_SPECS,
    SIGN,
    SignedDeltaCatalog,
    compile_new,
    compile_old,
    compile_signed_delta,
    consolidate,
    signed_of_cdf,
)
from .sql_frontend import (
    UnsupportedSQL,
    delta_of_sql,
    full_of_sql,
    maintain_agg_of_sql,
    maintain_agg_of_sql_signed,
    maintain_join_agg_of_sql,
    maintain_join_agg_of_sql_signed,
    parse_agg_sql,
    parse_join_agg_sql,
    signed_delta_of_sql,
    sql_to_ir,
)

__all__ = [
    "sql_to_ir",
    "delta_of_sql",
    "signed_delta_of_sql",
    "full_of_sql",
    "maintain_agg_of_sql",
    "maintain_agg_of_sql_signed",
    "maintain_join_agg_of_sql",
    "maintain_join_agg_of_sql_signed",
    "parse_agg_sql",
    "parse_join_agg_sql",
    "UnsupportedSQL",
    "Scan",
    "Projection",
    "Filter",
    "Join",
    "CrossJoin",
    "Union",
    "PosDelta",
    "PosDeltaScan",
    "UnsupportedIncrementalOperator",
    "rewrite_pos_delta",
    "DeltaCatalog",
    "DELTA_PREDICATES",
    "compile_plan",
    "compile_snapshot",
    "compile_delta",
    "SIGN",
    "CDC_SPECS",
    "SignedDeltaCatalog",
    "compile_signed_delta",
    "compile_old",
    "compile_new",
    "consolidate",
    "signed_of_cdf",
]
