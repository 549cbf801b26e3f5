from __future__ import annotations

import pytest

from logstash_filter_jdbc_static_spark.session import get_spark


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "theta_shuffle_join_back: patch THETA_TUPLE_BROADCAST_LIMIT to 0 "
        "so every theta-parameterized subquery frame joins back with a "
        "shuffle (see plan_conditions.py)",
    )
    config.addinivalue_line(
        "markers",
        "static_plan: run with spark.sql.adaptive.enabled=false so the "
        "planned joins run as planned (see plan_conditions.py)",
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _plan_condition(request, monkeypatch):
    if request.node.get_closest_marker("theta_shuffle_join_back"):
        from logstash_filter_jdbc_static_spark.operators import lookup

        monkeypatch.setattr(lookup, "THETA_TUPLE_BROADCAST_LIMIT", 0)
    if request.node.get_closest_marker("static_plan"):
        spark = request.getfixturevalue("spark")
        key = "spark.sql.adaptive.enabled"
        prev = spark.conf.get(key)
        spark.conf.set(key, "false")
        yield
        spark.conf.set(key, prev)
    else:
        yield
