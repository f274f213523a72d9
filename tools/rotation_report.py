"""Rotation-ledger report: latest driver-check round per query.

The driver checks the first 50 entries of ``queries()`` each round and
records them as ``CORRECTNESS_r{N}.json``. ``registry()`` computes that
window from the recorded series (``operators.correctness_window``):
never-checked queries first, then the stalest latest check, ties in
registration order, then one pass that keeps every major family
(``llm_ delta_ streaming_ signed_ events_``) in the window. Writing the
next CORRECTNESS file moves the window; no code edit is needed.

This report prints, from the same series:

- latest-check distribution (how stale is each query's newest green row)
- never-driver-checked queries (registered but no row yet)
- any query whose LATEST row failed (must be zero)
- the computed window's staleness mix

Usage: python tools/rotation_report.py [--no-spark]
(--no-spark skips building the registry and reports on the series only.)
"""

from __future__ import annotations

import os
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from datafusion_delta_queries_spark.operators import (  # noqa: E402
    WINDOW_SIZE,
    latest_checks,
    registry,
)


def main() -> int:
    latest = latest_checks()
    dist = Counter(rnd for rnd, _ in latest.values())
    print("latest-check distribution:", dict(sorted(dist.items())))
    failures = sorted(n for n, (_, ok) in latest.items() if not ok)
    print(f"latest-check failures: {len(failures)}", failures or "")

    if "--no-spark" in sys.argv:
        return 1 if failures else 0

    # registry() needs no SparkSession — it only merges dicts
    queries, oracles = registry()
    never = sorted(set(queries) - set(latest))
    print(f"registered: {len(queries)}; oracled: {len(oracles)}; "
          f"never driver-checked: {len(never)}", never or "")
    window = list(queries)[:WINDOW_SIZE]
    stale = sorted(
        (latest[n][0], n) for n in latest if n in queries
    )[: 15]
    print("stalest 15:", stale)
    ann = Counter(
        "never" if n not in latest else f"r{latest[n][0]}" for n in window
    )
    print("window staleness mix:", dict(sorted(ann.items())))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
