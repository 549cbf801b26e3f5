"""Plan conditions every parametrized lookup case runs under.

A lookup takes no plan option and makes no plan choice from the data:
every map-back, theta-parameterized subquery frames included, joins
with an explicit broadcast. Its rows must not depend on how Spark
plans the joins it is left to choose, so the shared ``kw`` matrix (the
lookup constructor kwargs, always empty) runs each case three times:

- ``kw0``: the session's default plan;
- ``kw1``: adaptive execution off, so the planned joins run as planned
  and nothing is re-planned from run-time sizes;
- ``kw2``: the same with ``spark.sql.autoBroadcastJoinThreshold`` at
  -1, so Spark broadcasts no side by its own size estimate: only the
  engine's broadcast hints broadcast, and every other join runs as a
  sort-merge join.

The marks are applied by the autouse ``_plan_condition`` fixture in
``conftest.py``."""

from __future__ import annotations

import pytest

ADAPTIVE_OFF = pytest.mark.adaptive_off
NO_AUTO_BROADCAST = pytest.mark.no_auto_broadcast

PLAN_CONDITIONS = [
    {},
    pytest.param({}, marks=ADAPTIVE_OFF),
    pytest.param({}, marks=[ADAPTIVE_OFF, NO_AUTO_BROADCAST]),
]
