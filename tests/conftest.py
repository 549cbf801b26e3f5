from __future__ import annotations

import pytest

from logstash_filter_jdbc_static_spark.session import get_spark


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: a long-running property or fuzz test"
    )
    config.addinivalue_line(
        "markers",
        "adaptive_off: run with spark.sql.adaptive.enabled=false so the "
        "planned joins run as planned (see plan_conditions.py)",
    )
    config.addinivalue_line(
        "markers",
        "no_auto_broadcast: run with "
        "spark.sql.autoBroadcastJoinThreshold=-1 so only explicit "
        "broadcast hints broadcast (see plan_conditions.py)",
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


_CONDITION_CONF = {
    "adaptive_off": ("spark.sql.adaptive.enabled", "false"),
    "no_auto_broadcast": ("spark.sql.autoBroadcastJoinThreshold", "-1"),
}


@pytest.fixture(autouse=True)
def _plan_condition(request):
    confs = [
        kv for mark, kv in _CONDITION_CONF.items()
        if request.node.get_closest_marker(mark)
    ]
    if not confs:
        yield
        return
    spark = request.getfixturevalue("spark")
    prev = [(key, spark.conf.get(key)) for key, _ in confs]
    for key, value in confs:
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, value in prev:
            spark.conf.set(key, value)
