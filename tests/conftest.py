from __future__ import annotations

import pytest

from datafusion_delta_queries_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("dfdq-tests")
    yield spark
    spark.stop()
