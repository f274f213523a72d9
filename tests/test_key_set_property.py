"""Property: maintained min/max aggregates and rollup cascades equal
the GROUP BY of the post-change rows after random CDF batches.

The refreshes restrict their min/max recompute and every cascade tier
by literal key-hash sets collected from the batch
(``sources.state.touched_keys``). The batches here mix inserts,
deletes, updates that move rows between hours, days and months, and
deletes that empty a whole day, so the sets cover groups that grow,
shrink, move and leave."""

from __future__ import annotations

import itertools
from datetime import datetime, timezone

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from datafusion_delta_queries_spark.operators.continuous_agg import (
    ContinuousAggregate,
    ContinuousRollupCascade,
)

SQL = (
    "SELECT date_trunc('hour', ts) AS bucket_h, event_type, "
    "count(*) AS n, min(value) AS lo, max(value) AS hi, sum(value) AS s "
    "FROM events GROUP BY date_trunc('hour', ts), event_type"
)
# 2024-01-28 00:00 UTC: the drawn days cross the February and March
# month boundaries.
_T0 = 1706400000
_DAYS = [0, 1, 4, 5, 33]
_HOURS = [0, 7, 23]
_SEQ = itertools.count()


def _sec(day, hour):
    return _T0 + day * 86400 + hour * 3600


def _bucket(sec, unit):
    if unit == "hour":
        return sec - sec % 3600
    if unit == "day":
        return sec - sec % 86400
    d = datetime.fromtimestamp(sec, timezone.utc)
    return int(datetime(d.year, d.month, 1, tzinfo=timezone.utc).timestamp())


def _expected(rows, unit):
    out = {}
    for sec, kind, value in rows.values():
        k = (_bucket(sec, unit), kind)
        n, lo, hi, s = out.get(k, (0, value, value, 0.0))
        out[k] = (n + 1, min(lo, value), max(hi, value), s + value)
    return out


def _got(df, key):
    return {
        (r["b"], r["event_type"]): (r["n"], r["lo"], r["hi"], r["s"])
        for r in df.select(
            F.col(key).cast("bigint").alias("b"), "event_type", "n", "lo",
            "hi", "s",
        ).collect()
    }


def _frame(spark, rows, change_type=None):
    df = spark.createDataFrame(
        list(rows), "sec bigint, event_type string, value double"
    ).select(F.timestamp_seconds("sec").alias("ts"), "event_type", "value")
    if change_type:
        df = df.withColumn("_change_type", F.lit(change_type))
    return df


_row = st.tuples(
    st.sampled_from(_DAYS), st.sampled_from(_HOURS),
    st.sampled_from(["a", "b"]), st.integers(0, 9).map(float),
)


def _batch(data, rows, next_id):
    """One CDF batch over ``rows`` (id → (sec, type, value)): returns
    its (rows, change type) list and the post-change rows."""
    new = dict(rows)
    changes = []
    ids = sorted(new)
    if ids and data.draw(st.booleans(), label="empty a day"):
        day = data.draw(st.sampled_from(sorted({new[i][0] // 86400 for i in ids})))
        for i in [i for i in ids if new[i][0] // 86400 == day]:
            changes.append((new.pop(i), "delete"))
    ids = sorted(new)
    if ids:
        for i in data.draw(st.lists(st.sampled_from(ids), unique=True, max_size=3)):
            changes.append((new.pop(i), "delete"))
    ids = sorted(new)
    if ids:
        for i in data.draw(st.lists(st.sampled_from(ids), unique=True, max_size=3)):
            day, hour, kind, value = data.draw(_row)
            changes.append((new[i], "update_preimage"))
            new[i] = (_sec(day, hour), kind, value)
            changes.append((new[i], "update_postimage"))
    for day, hour, kind, value in data.draw(st.lists(_row, max_size=4)):
        i = next(next_id)
        new[i] = (_sec(day, hour), kind, value)
        changes.append((new[i], "insert"))
    return changes, new


def _cdf(spark, changes):
    out = None
    for kind in ("delete", "insert", "update_preimage", "update_postimage"):
        part = _frame(spark, [r for r, k in changes if k == kind], kind)
        out = part if out is None else out.unionByName(part)
    return out


@pytest.mark.slow
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(base=st.lists(_row, min_size=1, max_size=10), data=st.data())
def test_keyed_refreshes_equal_group_by(spark, tmp_path, base, data):
    root = str(tmp_path / f"ex{next(_SEQ)}")
    rows = {i: (_sec(d, h), k, v) for i, (d, h, k, v) in enumerate(base)}
    next_id = itertools.count(len(rows))
    agg = ContinuousAggregate(spark, root + "/agg", SQL)
    cascade = ContinuousRollupCascade(
        spark, root + "/cascade", SQL,
        fine_key="bucket_h", coarse_key="bucket_d",
        coarse_expr="date_trunc('day', bucket_h)",
        more_levels=[("bucket_m", "date_trunc('month', bucket_d)")],
    )
    agg.initialize(_frame(spark, rows.values()))
    cascade.initialize(_frame(spark, rows.values()))
    for _ in range(2):
        changes, rows = _batch(data, rows, next_id)
        batch, new = _cdf(spark, changes), _frame(spark, rows.values())
        agg.refresh_signed(batch, base_new_df=new)
        cascade.refresh_signed(batch, base_new_df=new)
        assert _got(agg.read(), "bucket_h") == _expected(rows, "hour")
        assert _got(cascade.read_fine(), "bucket_h") == _expected(rows, "hour")
        assert _got(cascade.read(0), "bucket_d") == _expected(rows, "day")
        assert _got(cascade.read(1), "bucket_m") == _expected(rows, "month")
