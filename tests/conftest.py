import re

import pytest

from sylph_spark.session import build_spark


@pytest.fixture(scope="session")
def spark():
    s = build_spark(app_name="sylph_spark_tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def plan_ops():
    """``df`` → how many of each shuffle-shaping operator the executed
    plan of ``df`` holds."""

    def count(df) -> dict[str, int]:
        plan = df._jdf.queryExecution().executedPlan().toString()
        return {op: len(re.findall(rf"\b{op}\b", plan)) for op in ("Exchange", "Sort", "Window", "Expand")}

    return count
