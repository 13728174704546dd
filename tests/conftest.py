from __future__ import annotations

import pytest

from database_query_processor_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="dqps-tests")
    yield s
    s.stop()  # orderly JVM/temp-dir teardown instead of interpreter exit
