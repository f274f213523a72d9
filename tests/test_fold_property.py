"""Property: a continuous aggregate's fold equals the GROUP BY of the
post-change rows.

``StateStore.fold`` groups the stored partials, the batch's rows and
the min/max recompute's base rows in one aggregate, each input read
only by its own columns. The batches here retract and insert NULL
sum/min/max arguments (so some groups hold only NULLs), empty a group
and refill it in the same batch, and run with real key hashes or with
every key hashing alike. One statement groups by a key named like the
raw column it reads; the other names its key after a raw column that
its aggregates read."""

from __future__ import annotations

import itertools

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from datafusion_delta_queries_spark.operators.continuous_agg import (
    ContinuousAggregate,
)
from datafusion_delta_queries_spark.sources import state

# The key is the raw column ``event_type``, which ``max`` reads too.
RAW_KEY_SQL = (
    "SELECT event_type, count(*) AS n, count(value) AS nv, "
    "sum(value) AS s, min(value) AS lo, max(value) AS hi, "
    "avg(value) AS av, max(event_type) AS top "
    "FROM t WHERE event_type IS NOT NULL GROUP BY event_type"
)
# The key ``k`` is named ``event_type``, shadowing the raw column the
# aggregates read.
SHADOW_SQL = (
    "SELECT k AS event_type, count(*) AS n, count(event_type) AS ne, "
    "min(event_type) AS lo, sum(value) AS s FROM t GROUP BY k"
)
_SCHEMA = "k string, event_type string, value double"
_SEQ = itertools.count()

_row = st.tuples(
    st.sampled_from(["a", "b", "c"]),
    st.sampled_from([None, "x", "y"]),
    st.sampled_from([None, 0.0, 1.0, 4.0]),
)


def _raw_key_expected(rows):
    out = {}
    for _, et, v in rows:
        if et is not None:
            out.setdefault(et, []).append(v)
    got = {}
    for et, vs in out.items():
        nn = [v for v in vs if v is not None]
        s = sum(nn) if nn else None
        got[et] = (
            len(vs), len(nn), s, min(nn, default=None), max(nn, default=None),
            s / len(nn) if nn else None, et,
        )
    return got


def _shadow_expected(rows):
    out = {}
    for k, et, v in rows:
        out.setdefault(k, []).append((et, v))
    got = {}
    for k, pairs in out.items():
        ets = [e for e, _ in pairs if e is not None]
        vs = [v for _, v in pairs if v is not None]
        got[k] = (
            len(pairs), len(ets), min(ets, default=None),
            sum(vs) if vs else None,
        )
    return got


def _read(view, cols):
    return {
        r["event_type"]: tuple(r[c] for c in cols)
        for r in view.read().collect()
    }


def _frame(spark, rows, change_type=None):
    df = spark.createDataFrame(list(rows), _SCHEMA)
    if change_type:
        df = df.withColumn("_change_type", F.lit(change_type))
    return df


def _batch(data, rows, next_id):
    """One CDF batch over ``rows`` (id → row): deletes, updates, an
    emptied-and-refilled key ``k`` and inserts. Returns the (row,
    change type) list and the post-change rows."""
    new = dict(rows)
    changes = []
    if new and data.draw(st.booleans(), label="empty and refill"):
        k = data.draw(st.sampled_from(sorted({r[0] for r in new.values()})))
        for i in [i for i in sorted(new) if new[i][0] == k]:
            changes.append((new.pop(i), "delete"))
        for _, et, v in data.draw(st.lists(_row, min_size=1, max_size=2)):
            new[next(next_id)] = (k, et, v)
            changes.append(((k, et, v), "insert"))
    ids = sorted(new)
    if ids:
        for i in data.draw(st.lists(st.sampled_from(ids), unique=True, max_size=2)):
            changes.append((new.pop(i), "delete"))
    ids = sorted(new)
    if ids:
        for i in data.draw(st.lists(st.sampled_from(ids), unique=True, max_size=2)):
            changes.append((new[i], "update_preimage"))
            new[i] = data.draw(_row)
            changes.append((new[i], "update_postimage"))
    for r in data.draw(st.lists(_row, max_size=3)):
        new[next(next_id)] = r
        changes.append((r, "insert"))
    return changes, new


def _cdf(spark, changes):
    out = None
    for kind in ("delete", "insert", "update_preimage", "update_postimage"):
        part = _frame(spark, [r for r, k in changes if k == kind], kind)
        out = part if out is None else out.unionByName(part)
    return out


@pytest.mark.slow
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    base=st.lists(_row, min_size=1, max_size=8),
    collide=st.booleans(),
    data=st.data(),
)
def test_fold_equals_group_by(spark, tmp_path, base, collide, data):
    root = str(tmp_path / f"ex{next(_SEQ)}")
    views = [
        (
            ContinuousAggregate(spark, root + "/raw", RAW_KEY_SQL),
            ["n", "nv", "s", "lo", "hi", "av", "top"],
            _raw_key_expected,
        ),
        (
            ContinuousAggregate(spark, root + "/shadow", SHADOW_SQL),
            ["n", "ne", "lo", "s"],
            _shadow_expected,
        ),
    ]
    rows = dict(enumerate(base))
    next_id = itertools.count(len(rows))
    with pytest.MonkeyPatch.context() as mp:
        if collide:
            mp.setattr(state, "_key_hash", lambda cols: F.lit(0).cast("bigint"))
        for view, _, _ in views:
            view.initialize(_frame(spark, rows.values()))
        for _ in range(2):
            changes, rows = _batch(data, rows, next_id)
            batch, new = _cdf(spark, changes), _frame(spark, rows.values())
            for view, cols, expected in views:
                view.refresh_signed(batch, base_new_df=new)
                assert _read(view, cols) == expected(rows.values())
        ins = data.draw(st.lists(_row, min_size=1, max_size=3), label="inserts")
        for r in ins:
            rows[next(next_id)] = r
        for view, cols, expected in views:
            view.refresh(_frame(spark, ins))
            assert _read(view, cols) == expected(rows.values())
