"""Pin the policy that picks the driver's 50-slot correctness window.

The driver checks exactly ``list(queries())[:50]`` each round and
records the result as ``CORRECTNESS_r{N}.json``.
``operators.correctness_window`` computes that window from the
recorded series: never-checked queries first, then the stalest latest
check, ties in registration order, then one pass that keeps every
major family in the window. These tests pin the policy, not one
round's names, so recording a round needs no code edit.

``test_window_is_not_an_already_executed_one`` is the standing
tripwire: it fails the suite if the window equals, as a set, a window
that a committed CORRECTNESS file records as executed.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

from datafusion_delta_queries_spark.operators import (
    MAJOR_FAMILIES,
    correctness_window,
    latest_checks,
    registry,
)

QUERIES, ORACLES = registry()
WINDOW = list(QUERIES)[:50]
_ROOT = os.path.join(os.path.dirname(__file__), "..")


def test_priority_names_resolve():
    """Every window slot is a registered query with an oracle."""
    assert set(WINDOW) <= set(ORACLES) <= set(QUERIES)


def test_priority_is_duplicate_free():
    assert len(WINDOW) == len(set(WINDOW)) == 50


def test_window_takes_the_stalest_rows():
    """No oracled query outside the window is staler than one inside
    it, except where the family pass swapped in a family's only
    in-window member."""
    latest = latest_checks()

    def rank(n):
        return latest[n][0] if n in latest else -1

    in_window = set(WINDOW)
    floor = min(rank(n) for n in ORACLES if n not in in_window)
    for n in WINDOW:
        fam = next((f for f in MAJOR_FAMILIES if n.startswith(f)), None)
        sole = fam is not None and sum(w.startswith(fam) for w in WINDOW) == 1
        assert sole or rank(n) <= floor, (n, rank(n), floor)


def test_window_is_not_a_recorded_one():
    """No CORRECTNESS file in the working tree, committed or just
    written by the driver, holds the window that comes next."""
    for f in sorted(os.listdir(_ROOT)):
        if f.startswith("CORRECTNESS_r") and f.endswith(".json"):
            with open(os.path.join(_ROOT, f)) as fh:
                assert set(json.load(fh)) != set(WINDOW), f


def test_same_inputs_give_the_same_window_without_spark():
    names = [n for n in QUERIES if n in ORACLES]
    latest = latest_checks()
    assert correctness_window(names, latest) == correctness_window(
        list(names), dict(latest)
    )
    # a fresh interpreter computes the same window and starts no JVM
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import json\n"
            "from pyspark import SparkContext\n"
            "from datafusion_delta_queries_spark.operators import registry\n"
            "q, _ = registry()\n"
            "assert SparkContext._active_spark_context is None\n"
            "print(json.dumps(list(q)[:50]))\n",
        ],
        cwd=_ROOT, capture_output=True, text=True, check=True,
    ).stdout
    assert json.loads(out) == WINDOW


def test_recording_the_window_moves_it():
    """Once the driver records this window green as round N+1, the next
    window differs and still covers every major family."""
    latest = latest_checks()
    nxt = max(rnd for rnd, _ in latest.values()) + 1
    recorded = {**latest, **{n: (nxt, True) for n in WINDOW}}
    moved = correctness_window([n for n in QUERIES if n in ORACLES], recorded)
    assert len(moved) == len(set(moved)) == 50
    assert set(moved) != set(WINDOW)
    for fam in MAJOR_FAMILIES:
        assert any(n.startswith(fam) for n in moved), fam


def test_window_policy_on_synthetic_series(tmp_path):
    # no recorded rounds: registry order
    assert latest_checks(str(tmp_path)) == {}
    assert correctness_window(["a", "delta_x", "llm_z", "b"], {}, size=3) == [
        "a", "delta_x", "llm_z",
    ]
    # never-checked first, then stalest; ties keep registration order
    latest = {"a": (2, True), "b": (1, True), "d": (1, True)}
    assert correctness_window(["a", "b", "c", "d"], latest, size=3) == [
        "c", "b", "d",
    ]
    # llm_z takes delta_y's slot (delta_x keeps delta_ present); signed_q
    # then passes over the sole llm_ and delta_ members and takes b's
    names = ["a", "b", "delta_x", "delta_y", "c", "llm_z", "signed_q"]
    assert correctness_window(names, {}, size=4) == [
        "a", "signed_q", "delta_x", "llm_z",
    ]


def _rotation_report():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "rotation_report",
        os.path.join(_ROOT, "tools", "rotation_report.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_window_covers_major_families():
    """Every major family must have at least one query in the driver
    window each round, so a family-wide regression is always visible
    to the external gate."""
    families = ("llm_", "delta_", "streaming_", "signed_", "events_")
    in_window = set(WINDOW)
    for fam in families:
        assert any(
            q.startswith(fam) for q in in_window
        ), f"no in-window query for family {fam!r}"


def _committed_correctness_windows() -> dict[str, set[str]]:
    """Checked-name sets of every CORRECTNESS file COMMITTED at HEAD.

    Committed content only (``git show HEAD:...``), never the working
    tree: the driver writes the round's CORRECTNESS file before the
    round-close commit, and judging runs against that working tree —
    the tripwire below must not fire on the round's own freshly
    written (not yet committed) file, only on a file a PREVIOUS
    round-close commit sealed.

    Outside a git checkout (an exported source tree, where ``git
    ls-tree`` fails) the working tree's files are the committed ones,
    so they are read instead.
    """
    listing = subprocess.run(
        ["git", "ls-tree", "--name-only", "HEAD"],
        cwd=_ROOT, capture_output=True, text=True,
    )
    out: dict[str, set[str]] = {}
    if listing.returncode != 0:
        for p in glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json")):
            with open(p, encoding="utf-8") as fh:
                out[os.path.basename(p)] = set(json.load(fh))
        return out
    names = listing.stdout.split()
    for n in names:
        if n.startswith("CORRECTNESS_r") and n.endswith(".json"):
            blob = subprocess.run(
                ["git", "show", f"HEAD:{n}"],
                cwd=_ROOT, capture_output=True, text=True, check=True,
            ).stdout
            out[n] = set(json.loads(blob))
    return out


def test_window_is_not_an_already_executed_one():
    """STANDING TRIPWIRE — do not weaken, do not delete: the window
    may never equal, as a set, a window that an already-committed
    CORRECTNESS file records as executed. A red here means the driver
    has already driven exactly this window in a prior round, so the
    window policy in operators/__init__.py has stopped rotating — fix
    the policy, not this test."""
    cur = set(WINDOW)
    already = sorted(
        f for f, s in _committed_correctness_windows().items() if s == cur
    )
    assert not already, (
        f"the window equals the executed window of {already}: this "
        "window is SPENT. operators.correctness_window must rotate it "
        "(tools/rotation_report.py prints the staleness ledger)."
    )


def test_rotation_ledger_has_no_latest_check_failures():
    """Every query's NEWEST driver row must be green — the
    seventeen-round zero-failure record is an invariant, not an
    accident. (Recomputed from the committed CORRECTNESS series;
    tools/rotation_report.py prints the full ledger.)"""
    latest = _rotation_report().latest_checks()
    assert latest, "no CORRECTNESS series found"
    bad = sorted(n for n, (_, ok) in latest.items() if not ok)
    assert not bad, bad
