import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_stream_kudu_spark.session import get_spark  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_SF_SMOKE", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("engine-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE


@pytest.fixture(scope="session")
def registry_plans(spark, sf_smoke):
    """name -> (formatted plan, executed-plan string) for every
    registered query at the smoke scale. Building a query runs every
    streaming e2e query to completion, so the registry-wide plan sweeps
    share this one build pass and keep only the plan text."""
    from spark_stream_kudu_spark.plans.checks import formatted_plan
    from spark_stream_kudu_spark.registry import load_all

    plans = {}
    for name, spec in sorted(load_all().items()):
        df = spec.builder(spark, sf_smoke)
        plans[name] = (
            formatted_plan(df),
            df._jdf.queryExecution().executedPlan().toString(),
        )
    return plans
