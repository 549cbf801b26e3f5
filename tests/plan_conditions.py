"""Plan conditions every parametrized lookup case runs under.

A lookup takes no plan option, but one plan choice is still made from
the data: ``_ThetaParamFrame.build`` joins its per-tuple frame back
with a broadcast up to ``THETA_TUPLE_BROADCAST_LIMIT`` distinct
parameter tuples and with a shuffle join past it. The shared ``kw``
matrix (the lookup constructor kwargs, always empty) therefore runs
each case three times:

- ``kw0``: the default plan;
- ``kw1``: the limit patched to 0, so every theta frame takes the
  shuffle join-back (adaptive execution may still turn it into a
  broadcast at run time);
- ``kw2``: the same with adaptive execution off, so the planned
  sort-merge join-back is what runs.

A case without a theta frame must give the same rows under all three.
The marks are applied by the autouse ``_plan_condition`` fixture in
``conftest.py``."""

from __future__ import annotations

import pytest

THETA_SHUFFLE = pytest.mark.theta_shuffle_join_back
STATIC_PLAN = pytest.mark.static_plan

PLAN_CONDITIONS = [
    {},
    pytest.param({}, marks=THETA_SHUFFLE),
    pytest.param({}, marks=[THETA_SHUFFLE, STATIC_PLAN]),
]
