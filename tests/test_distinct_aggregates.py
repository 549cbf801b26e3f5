"""DISTINCT under every set function (round-5 final): the reference
hands lookup SQL verbatim to Derby (lookup.rb:131-147), which accepts
``SUM/AVG/MIN/MAX(DISTINCT col)`` alongside ``COUNT(DISTINCT col)``.
Compile: ``sum_distinct`` -> F.sum_distinct; ``avg(DISTINCT x)`` =
sum(DISTINCT x)/count(DISTINCT x) (the distinct multiset's mean —
long/long division is double, matching avg's type for integral
inputs); MIN/MAX(DISTINCT) parse to plain min/max (a SQL no-op). Every golden
cross-checks the row oracle."""

from __future__ import annotations

import pytest

from logstash_filter_jdbc_static_spark import oracle
from logstash_filter_jdbc_static_spark.operators.processor import LookupEnricher
from logstash_filter_jdbc_static_spark.spec import PipelineSpec, ValidationError

from plan_conditions import PLAN_CONDITIONS

# duplicate prices/qtys so DISTINCT actually bites
PLANS = [
    ("t1", "basic", 10, 3),
    ("t1", "pro", 7, 2),
    ("t1", "dup", 10, 2),
    ("t2", "basic", 2, 1),
    ("t2", "gold", 99, 5),
    ("t2", "dup2", 2, 5),
]
SCHEMA = "tool: string, plan: string, price: int, qty: int"

# Lookup constructor kwargs per case (always empty), one case per
# plan condition (plan_conditions.py).
ENGINES = PLAN_CONDITIONS


def _dims(spark):
    return {"plans": spark.createDataFrame(PLANS, SCHEMA)}


def _tables():
    return {
        "plans": [
            {"tool": t, "plan": p, "price": pr, "qty": q}
            for t, p, pr, q in PLANS
        ]
    }


def _run(spark, query, kw):
    lookup = {"id": "u", "query": query, "parameters": {"tool": "tool"}}
    facts = spark.createDataFrame(
        [("t1",), ("t2",), ("t9",)], "tool: string"
    )
    out = LookupEnricher(
        PipelineSpec(lookups=[dict(lookup)]), _dims(spark), **kw
    ).apply(facts)
    got = {
        r["tool"]: (
            None
            if r["u"] is None
            else [tuple(d.asDict().values()) for d in r["u"]]
        )
        for r in out.collect()
    }
    for tool in ("t1", "t2", "t9"):
        ev = {"tool": tool}
        oracle.enhance(ev, PipelineSpec(lookups=[dict(lookup)]), _tables())
        u = ev.get("u")
        exp = None if u is None else [tuple(d.values()) for d in u]
        assert got[tool] == exp, f"{tool}: spark={got[tool]} oracle={exp}"
    return got


class TestDistinctAggregates:
    @pytest.mark.parametrize("kw", ENGINES)
    def test_grouped_projection(self, spark, kw):
        got = _run(
            spark,
            "SELECT tool AS tool, sum(DISTINCT price) AS sd, "
            "avg(DISTINCT qty) AS ad, max(DISTINCT price) AS mx "
            "FROM plans WHERE tool = :tool GROUP BY tool",
            kw,
        )
        # t1: prices {10,7} sum 17; qtys {3,2} avg 2.5; max 10
        assert got["t1"] == [("t1", 17, 2.5, 10)]
        # t2: prices {2,99} sum 101; qtys {1,5} avg 3.0
        assert got["t2"] == [("t2", 101, 3.0, 99)]
        assert got["t9"] == []

    @pytest.mark.parametrize("kw", ENGINES)
    def test_global_aggregate(self, spark, kw):
        # GLOBAL (no GROUP BY): the one aggregate row; empty match
        # set -> sum NULL, count 0
        got = _run(
            spark,
            "SELECT sum(DISTINCT price) AS sd, "
            "count(DISTINCT qty) AS cd FROM plans WHERE tool = :tool",
            kw,
        )
        assert got["t1"] == [(17, 2)]
        assert got["t2"] == [(101, 2)]
        assert got["t9"] == [(None, 0)]

    @pytest.mark.parametrize("kw", ENGINES)
    def test_distinct_over_expression(self, spark, kw):
        got = _run(
            spark,
            "SELECT sum(DISTINCT price * 2) AS s2 FROM plans "
            "WHERE tool = :tool",
            kw,
        )
        assert got["t1"] == [(34,)]

    @pytest.mark.parametrize("kw", ENGINES)
    def test_subquery_comparand(self, spark, kw):
        # sum(DISTINCT) inside a scalar subquery comparand
        got = _run(
            spark,
            "SELECT plan AS plan FROM plans WHERE tool = :tool "
            "AND price <= (SELECT avg(DISTINCT price) FROM plans p2 "
            "WHERE p2.tool = :tool)",
            kw,
        )
        # t1: avg{10,7}=8.5 -> pro(7) only
        assert got["t1"] == [("pro",)]
        # t2: avg{2,99}=50.5 -> basic(2), dup2(2)
        assert got["t2"] == [("basic",), ("dup2",)]

    @pytest.mark.parametrize("kw", ENGINES)
    def test_having_over_distinct_aggregate(self, spark, kw):
        # HAVING spells the aggregate call again — the token-level
        # rewrite must match the DISTINCT spelling
        got = _run(
            spark,
            "SELECT tool AS tool, sum(DISTINCT price) AS sd "
            "FROM plans GROUP BY tool "
            "HAVING sum(DISTINCT price) > 20",
            kw,
        )
        assert got["t1"] == [("t2", 101)]  # same payload per event

    def test_distinct_star_rejected(self, spark):
        with pytest.raises(ValidationError, match="DISTINCT"):
            LookupEnricher(
                PipelineSpec(lookups=[{
                    "id": "u",
                    "query": (
                        "SELECT count(DISTINCT *) AS n FROM plans "
                        "WHERE tool = :tool"
                    ),
                    "parameters": {"tool": "tool"},
                }]),
                _dims(spark),
            )
