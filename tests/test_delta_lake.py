"""Real Delta Lake substrate (when delta-spark is installed).

This environment has no network and ships neither the delta-spark
package nor the Delta jars, so ``import delta`` fails here.
These tests SKIP here and the parquet version-dir substrate
(test_versioned_sources.py) is the exercised realization. On any
installation that has delta-spark, they run for real: write a Delta
table with CDF enabled, append a version, and prove the IVM identity
through DeltaLakeCatalog (versionAsOf snapshots + change-feed insert
rows feeding the same compile_delta used everywhere else).
"""

from __future__ import annotations

import pytest

delta = pytest.importorskip(
    "delta",
    reason="delta-spark not installed in this container (no package, no "
    "jars, installs unavailable); parquet version-dirs are the tested "
    "substrate — see sources/versioned.py",
)

from datafusion_delta_queries_spark.plans import (  # noqa: E402
    Filter,
    Projection,
    Scan,
    compile_delta,
    compile_plan,
    compile_snapshot,
)
from datafusion_delta_queries_spark.sources.versioned import (  # noqa: E402
    DeltaLakeCatalog,
)


@pytest.fixture(scope="module")
def delta_spark():
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension")
        .config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    )
    spark = delta.configure_spark_with_delta_pip(builder).getOrCreate()
    yield spark
    spark.stop()


def test_ivm_identity_over_delta_cdf(delta_spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("dl") / "orders")
    v0 = delta_spark.createDataFrame(
        [(1, 100.0, "HIGH"), (2, 250.0, "LOW"), (3, 90.0, "HIGH")],
        "o_orderkey: bigint, o_totalprice: double, o_orderpriority: string",
    )
    (
        v0.write.format("delta")
        .option("delta.enableChangeDataFeed", "true")
        .save(path)
    )
    v1 = delta_spark.createDataFrame(
        [(4, 300.0, "HIGH"), (5, 80.0, "LOW")], v0.schema
    )
    v1.write.format("delta").mode("append").save(path)

    ir = Projection(
        ["o_orderkey", "o_orderpriority"],
        Filter("o_totalprice > 95", Scan("orders")),
    )
    cat = DeltaLakeCatalog(delta_spark, {"orders": path}, {"orders": (0, 1)})
    full_new = sorted(tuple(r) for r in compile_plan(ir, cat).collect())
    full_old = sorted(tuple(r) for r in compile_snapshot(ir, cat).collect())
    delta_rows = sorted(tuple(r) for r in compile_delta(ir, cat).collect())
    assert delta_rows, "delta batch must be non-vacuous"
    assert sorted(full_old + delta_rows) == full_new
