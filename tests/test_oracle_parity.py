"""Local replica of the driver's correctness gate.

Every queries() entry that declares an oracle_sql() must match it at
sf0.001 (column names, row count, order-insensitive values). This is
the same comparison the driver runs at sf0.01.
"""

from __future__ import annotations

import pytest

from datafusion_delta_queries_spark.operators import registry
from datafusion_delta_queries_spark.oracle import compare, run_oracle

from .conftest import SF_SMALL

QUERIES, ORACLES = registry()
ORACLED = sorted(set(QUERIES) & set(ORACLES))


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, name):
    df = QUERIES[name](spark, SF_SMALL)
    oracle = run_oracle(ORACLES[name], SF_SMALL)
    ok, msg = compare(df, oracle)
    assert ok, f"{name}: {msg}"


def test_every_query_runs(spark):
    """Queries without oracles must still execute and return a schema.

    Oracled queries are excluded: the parametrized parity test above
    already EXECUTES and compares every one of them, so re-running all
    305 here was pure duplication (~290 s of the suite wall, r18
    profile) with zero added coverage. This guard exists for any
    future registration that lacks an oracle — today that set is
    empty and the registry window test pins the 305/305 pairing.

    This test executes only what the oracle set leaves over, so it is
    coverage only together with ``test_query_matches_oracle``: select
    and ship the two together. The ORACLED check keeps a selection of
    this test alone from passing over an empty parity set."""
    assert ORACLED, "no oracled queries: test_query_matches_oracle runs nothing"
    for name, fn in QUERIES.items():
        if name in ORACLES:
            continue
        df = fn(spark, SF_SMALL)
        assert df.columns, f"{name} returned no columns"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
