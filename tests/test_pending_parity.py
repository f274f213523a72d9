"""Round-17 registration gate for the round-16 stored-twin tranche.

The four candidates (signed_cluster_stored / signed_ivf_stored /
signed_ann_stored / signed_lsh_stored) were built, oracled, and
tested in round 16 but held OUT of the registry until the r17 window
had room (registering ahead of window room would have broken the
never-driver-checked = 0 invariant). They are registered now — the
guard below flips from "stays out" to "is in".

``signed_winnow_stored`` is the deliberate exception: the quiet
sf0.1 A/B measured it SLOWER than its recompute sibling (1.70 vs
1.28 s — scanning the pre-exploded (fp, doc_id) state from parquet
costs more than the Arrow-vectorized corpus re-fingerprint; SCALE.md
round-16 notes), so it stays a tested NEGATIVE outside the registry
per the triangle-indexed precedent. Like every stored twin it is the
recompute sibling's maintainer body bound to the stored ``state``
source, not a copy of it. Its oracle parity is pinned here; its
state-store contract, its one-body binding and its row-identity vs
the recompute sibling are pinned in test_stored_state.py.
"""

from __future__ import annotations

import pytest

from datafusion_delta_queries_spark.operators import registry
from datafusion_delta_queries_spark.operators.signed_queries import (
    _signed_winnow_oracle,
    q_signed_winnow_stored,
)
from datafusion_delta_queries_spark.oracle import compare, run_oracle

from .conftest import SF_SMALL

STORED_TWINS = (
    "signed_cluster_stored",
    "signed_ivf_stored",
    "signed_ann_stored",
    "signed_lsh_stored",
)


def test_r16_tranche_is_registered_and_oracled():
    """The flip of r16's "stays out of the registry" guard: all four
    candidates are registered with oracles; the measured loser is
    not."""
    queries, oracles = registry()
    for name in STORED_TWINS:
        assert name in queries, name
        assert name in oracles, name
    assert "signed_winnow_stored" not in queries


def test_winnow_stored_negative_matches_oracle(spark):
    """The unregistered negative still has to be CORRECT — it is kept
    out for economics, not semantics."""
    df = q_signed_winnow_stored(spark, SF_SMALL)
    oracle = run_oracle(_signed_winnow_oracle(), SF_SMALL)
    ok, msg = compare(df, oracle)
    assert ok, msg
