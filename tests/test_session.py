"""SPARK_GRAFT_SPARK_CONF overrides must not be dropped silently."""

from __future__ import annotations

from datafusion_delta_queries_spark.session import get_spark


def test_static_conf_on_a_live_session_warns(spark, monkeypatch, capsys):
    """getOrCreate on a running session applies runtime SQL confs only:
    a static override is reported on stderr, a runtime one is not."""
    monkeypatch.setenv(
        "SPARK_GRAFT_SPARK_CONF",
        "spark.sql.session.timeZone=UTC;"
        " spark.sql.warehouse.dir=/nonexistent/other-warehouse",
    )
    assert get_spark("dfdq-tests") is spark
    err = capsys.readouterr().err
    assert (
        "spark.sql.warehouse.dir=/nonexistent/other-warehouse did not take effect"
        in err
    ), err
    assert "spark.sql.session.timeZone" not in err
    assert spark.conf.get("spark.sql.warehouse.dir") != "/nonexistent/other-warehouse"
