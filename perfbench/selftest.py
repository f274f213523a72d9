"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py           # seeds, BENCHMARK.json, bare checkout
    python3 perfbench/selftest.py --spark   # also the planted-defect runs

Checks that inputs are a pure function of the seed (same seed: identical
predicates, batches and oracle checksums; another seed: different slices
of the same sizes), that BENCHMARK.json lists exactly the metrics
``run.py`` prints, that a checkout without the engine fails without a
result, and (with ``--spark``) that planted defects make the correctness
gate fail: the run reports failed ops and exits non-zero.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pyarrow.compute as pc

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import fixtures as fx  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402

FAILURES: list[str] = []


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        FAILURES.append(what)


def slice_sizes(seed: int) -> dict[str, int]:
    tables = fx.chain_tables(seed)
    con = duckdb.connect()
    try:
        for name, t in tables.items():
            con.register(name, t)
        return {
            t: con.sql(f"SELECT count(*) FROM {t} WHERE {p}").fetchone()[0]
            for t, p in fx.delta_predicates(seed).items()
        }
    finally:
        con.close()


def batch_shape(batch) -> dict[str, int]:
    kinds = batch.column("_change_type").to_pylist()
    return {k: kinds.count(k) for k in sorted(set(kinds))}


def test_seeds() -> None:
    a, b = 101, 202
    check(fx.delta_predicates(a) == fx.delta_predicates(a), "same seed: same predicates")
    check(fx.delta_predicates(a) != fx.delta_predicates(b), "other seed: other predicates")
    sa, sb = slice_sizes(a), slice_sizes(b)
    check(sa == sb, f"other seed: same slice sizes {sa}")
    check(all(n > 0 for n in sa.values()), "no delta slice is empty")
    ta, tb = fx.chain_tables(a), fx.chain_tables(b)
    check(all(ta[t].equals(fx.chain_tables(a)[t]) for t in ta), "same seed: same tables")
    ea = fx.chain_expected(ta, fx.delta_predicates(a), a)
    check(ea == fx.chain_expected(ta, fx.delta_predicates(a), a), "same seed: same ΔQ checksums")
    check(ea != fx.chain_expected(tb, fx.delta_predicates(b), b), "other seed: other ΔQ checksums")

    pa_, pb_ = fx.cdc_plan(a), fx.cdc_plan(b)
    check(pa_.batch(1).equals(fx.cdc_plan(a).batch(1)), "same seed: same CDC batch")
    check(not pa_.batch(1).equals(pb_.batch(1)), "other seed: other CDC batch")
    check(
        batch_shape(pa_.batch(3)) == batch_shape(pb_.batch(3)),
        f"other seed: same CDC batch shape {batch_shape(pa_.batch(3))}",
    )
    touched = [
        set(pa_.batch(k).filter(
            pc.not_equal(pa_.batch(k).column("_change_type"), "insert")
        ).column("event_id").to_pylist())
        for k in range(1, pa_.max_commits + 1)
    ]
    check(
        sum(map(len, touched)) == len(set().union(*touched)),
        "no row is retracted by two commits",
    )
    live_a, live_b = fx.LiveEvents(pa_), fx.LiveEvents(fx.cdc_plan(a))
    for k in (1, 2):
        live_a.apply(pa_.batch(k))
        live_b.apply(fx.cdc_plan(a).batch(k))
    check(live_a.checksum() == live_b.checksum(), "same seed: same rollup checksums")


def test_benchmark_json() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    check(e2e == END_TO_END, "BENCHMARK.json end_to_end matches run.py")
    check(layer == PER_LAYER, "BENCHMARK.json per_layer matches run.py")


def test_bare_checkout() -> None:
    """Only BENCHMARK.json and perfbench/: the run must fail, printing
    no result."""
    bare = os.path.join(HERE, "_run", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("_run", "_out", "__pycache__"))
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "delta_chain",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=170,
        )
        check(p.returncode != 0 and '"metrics"' not in p.stdout,
              f"bare checkout: exit {p.returncode}, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def planted(workload: str, plant: str) -> None:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", "0", "--plant", plant],
        cwd=ROOT, capture_output=True, text=True, timeout=175,
    )
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    ratio = result.get("failed", 0) / max(result.get("attempted", 1), 1)
    check(
        p.returncode != 0 and ratio > 0 and result.get("correct") is False,
        f"planted {plant}: exit {p.returncode}, op_fail_ratio {ratio:.2f}",
    )


def main() -> int:
    test_seeds()
    test_benchmark_json()
    test_bare_checkout()
    if "--spark" in sys.argv:
        planted("delta_chain", "bad_predicates")
        planted("cdc_rollup", "skip_refresh")
    print(f"{len(FAILURES)} failure(s)")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
