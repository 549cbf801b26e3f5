"""Quantified subquery comparisons (round-5 latest):
``<op> ALL | ANY | SOME ( SELECT col FROM t [WHERE ...] )`` — Derby
executes them verbatim per event (lookup.rb:131-147). Spark-first
compile: an UNCORRELATED set collects once per refresh snapshot and the
comparison folds over literal terms (Spark's ``&``/``|`` are Kleene, so
SQL's three-valued ALL/ANY semantics — NULL set values and NULL lhs
both degrade to UNKNOWN, the empty set decides vacuously — fall out);
a CORRELATED set rides the same per-group set/had-null/count dim
columns as correlated IN, with higher-order ``forall``/``exists`` doing
the per-element comparison. Every physical path keeps its plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F, types as T

from logstash_filter_jdbc_static_spark import oracle
from logstash_filter_jdbc_static_spark.operators.lookup import (
    parse_lookup_query,
)
from logstash_filter_jdbc_static_spark.operators.processor import LookupEnricher
from logstash_filter_jdbc_static_spark.spec import PipelineSpec, ValidationError

from plan_conditions import PLAN_CONDITIONS

FACT = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("tool", T.StringType(), True),
    ]
)
PLANS = [("t1", "basic", 10), ("t1", "pro", 7), ("t1", None, 4),
         ("t2", "gold", 99), ("t3", "x", None)]
REF = [("t1", 8), ("t2", 5), ("t3", None)]

# Lookup constructor kwargs per case (always empty), one case per
# plan condition (plan_conditions.py).
ENGINES = PLAN_CONDITIONS


class TestParser:
    def test_quantified_ops_parse(self):
        q = parse_lookup_query(
            "SELECT plan FROM plans WHERE price > ALL "
            "(SELECT cutoff FROM ref)"
        )
        p = q.disjuncts[0][0]
        assert p.op == "> all"
        assert p.terms[0].value.func == "__values"

    def test_some_is_any(self):
        q = parse_lookup_query(
            "SELECT plan FROM plans WHERE price = SOME "
            "(SELECT cutoff FROM ref WHERE cutoff > 3)"
        )
        assert q.disjuncts[0][0].op == "= any"

    def test_not_pushdown_flips_quantifier_and_op(self):
        # NOT (x < ANY S) == x >= ALL S under Kleene logic
        q = parse_lookup_query(
            "SELECT plan FROM plans WHERE NOT price < ANY "
            "(SELECT cutoff FROM ref)"
        )
        assert q.disjuncts[0][0].op == ">= all"

    def test_correlated_quantifier(self):
        q = parse_lookup_query(
            "SELECT plan FROM plans p WHERE price >= ALL "
            "(SELECT p2.price FROM plans p2 WHERE p2.tool = p.tool)"
        )
        p = q.disjuncts[0][0]
        assert p.op == ">= all"
        assert p.terms[0].value.corr == (("tool", "tool"),)

    def test_all_as_plain_column_name_still_parses(self):
        # 'all' not followed by (SELECT stays an ordinary rhs column
        q = parse_lookup_query("SELECT plan FROM plans WHERE price > all")
        p = q.disjuncts[0][0]
        assert p.op == ">" and p.terms[0].kind == "column"


class TestGolden:
    """Spark-vs-row-oracle agreement on every physical path, pinning
    the three-valued corners: NULL in the value set, NULL lhs, empty
    sets (vacuous ALL / false ANY), empty correlated groups."""

    def _dims(self, spark):
        return {
            "plans": spark.createDataFrame(
                PLANS, "tool string, plan string, price int"
            ),
            "ref": spark.createDataFrame(REF, "tool string, cutoff int"),
        }

    def _tables(self):
        return {
            "plans": [
                {"tool": t, "plan": p, "price": pr} for t, p, pr in PLANS
            ],
            "ref": [{"tool": t, "cutoff": c} for t, c in REF],
        }

    def _run(self, spark, query, kw):
        facts = [("c0", 0, "t1"), ("c1", 1, "t2"), ("c2", 2, "t3"),
                 ("c3", 3, "t9")]
        lookup = {"id": "u", "query": query, "parameters": {"tool": "tool"}}
        spec = PipelineSpec(lookups=[lookup])
        out = LookupEnricher(spec, self._dims(spark), **kw).apply(
            spark.createDataFrame(facts, FACT)
        )

        def norm(rows):
            if rows is None:
                return None
            return sorted(
                (tuple(d.asDict().values()) for d in rows),
                key=lambda t: [(v is not None, v) for v in t],
            )

        got = {
            r["turn_idx"]: (norm(r["u"]), r["matched"])
            for r in out.collect()
        }
        spec2 = PipelineSpec(lookups=[dict(lookup)])
        for conv_id, turn_idx, tool in facts:
            event = {"conv_id": conv_id, "turn_idx": turn_idx, "tool": tool}
            oracle.enhance(event, spec2, self._tables())
            v = event.get("u")
            exp = (
                None if v is None else sorted(
                    (tuple(d.values()) for d in v),
                    key=lambda t: [(x is not None, x) for x in t],
                ),
                event["matched"],
            )
            assert got[turn_idx] == exp, (turn_idx, got[turn_idx], exp)
        return got

    @pytest.mark.parametrize("kw", ENGINES)
    def test_all_with_null_in_set_never_matches(self, spark, kw):
        # cutoff set {8, 5, NULL}: TRUE degrades to UNKNOWN, only
        # FALSE decides — no row can satisfy > ALL
        got = self._run(
            spark,
            "SELECT plan AS plan, price AS price FROM plans "
            "WHERE tool = :tool AND price > ALL (SELECT cutoff FROM ref)",
            kw,
        )
        assert all(v == ([], True) for v in got.values())

    @pytest.mark.parametrize("kw", ENGINES)
    def test_all_over_non_null_set(self, spark, kw):
        got = self._run(
            spark,
            "SELECT plan AS plan, price AS price FROM plans "
            "WHERE tool = :tool AND price > ALL "
            "(SELECT cutoff FROM ref WHERE cutoff IS NOT NULL)",
            kw,
        )
        assert got[0] == ([("basic", 10)], True)
        assert got[1] == ([("gold", 99)], True)

    @pytest.mark.parametrize("kw", ENGINES)
    def test_any_matches_when_one_comparison_holds(self, spark, kw):
        got = self._run(
            spark,
            "SELECT plan AS plan, price AS price FROM plans "
            "WHERE tool = :tool AND price <= ANY (SELECT cutoff FROM ref)",
            kw,
        )
        assert got[0] == ([(None, 4), ("pro", 7)], True)
        assert got[1] == ([], True)

    def test_empty_set_all_vacuous_any_false(self, spark):
        got = self._run(
            spark,
            "SELECT plan AS plan FROM plans WHERE tool = :tool AND "
            "price < ALL (SELECT cutoff FROM ref WHERE tool = 'x')",
            {},
        )
        # vacuous TRUE — even the NULL-price t3 row survives (no
        # comparisons happen)
        assert got[2] == ([("x",)], True)
        got = self._run(
            spark,
            "SELECT plan AS plan FROM plans WHERE tool = :tool AND "
            "price = SOME (SELECT cutoff FROM ref WHERE tool = 'x')",
            {},
        )
        assert all(v == ([], True) for v in got.values())

    @pytest.mark.parametrize("kw", ENGINES)
    def test_correlated_all_per_group_max(self, spark, kw):
        got = self._run(
            spark,
            "SELECT plan AS plan, price AS price FROM plans p "
            "WHERE tool = :tool AND price >= ALL "
            "(SELECT p2.price FROM plans p2 WHERE p2.tool = p.tool)",
            kw,
        )
        assert got[0] == ([("basic", 10)], True)
        # t3's only group value is NULL -> UNKNOWN -> dropped
        assert got[2] == ([], True)

    def test_correlated_empty_group_vacuous(self, spark):
        # the static sub-filter empties t3's group: ALL is vacuously
        # TRUE for its rows (NULL lhs included)
        got = self._run(
            spark,
            "SELECT plan AS plan, price AS price FROM plans p "
            "WHERE tool = :tool AND price >= ALL "
            "(SELECT p2.price FROM plans p2 "
            "WHERE p2.tool = p.tool AND p2.price IS NOT NULL)",
            {},
        )
        assert got[2] == ([("x", None)], True)

    def test_uncorrelated_quantified_in_having(self, spark):
        # HAVING comparand: uncorrelated quantified resolves to
        # snapshot literals like scalar subqueries do
        got = self._run(
            spark,
            "SELECT plan AS plan, count(*) AS n FROM plans "
            "WHERE tool = :tool GROUP BY plan "
            "HAVING count(*) <= ALL "
            "(SELECT cutoff FROM ref WHERE cutoff IS NOT NULL)",
            {},
        )
        assert got[0] == (
            [(None, 1), ("basic", 1), ("pro", 1)], True
        )


class TestValidation:
    def _enricher(self, spark, query):
        dims = {
            "plans": spark.createDataFrame(
                PLANS, "tool string, plan string, price int"
            ),
        }
        return LookupEnricher(
            PipelineSpec(
                lookups=[{"id": "u", "query": query,
                          "parameters": {"tool": "tool"}}]
            ),
            dims,
        )

    def test_correlated_quantified_in_having_accepted(self, spark):
        # round-5 latest: correlated quantified subqueries in HAVING
        # compile via hidden max carriers when correlated on GROUP BY
        # keys (TestCorrelatedSetHavingSubquery in test_lookup_rhs.py)
        self._enricher(  # compiles without raising
            spark,
            "SELECT plan AS plan, count(*) AS n FROM plans p "
            "WHERE tool = :tool GROUP BY plan "
            "HAVING count(*) > ALL (SELECT p2.price FROM plans p2 "
            "WHERE p2.plan = p.plan)",
        )

    def test_non_key_quantified_in_having_rejected(self, spark):
        with pytest.raises(ValidationError, match="GROUP BY keys"):
            self._enricher(
                spark,
                "SELECT plan AS plan, count(*) AS n FROM plans p "
                "WHERE tool = :tool GROUP BY plan "
                "HAVING count(*) > ALL (SELECT p2.price FROM plans p2 "
                "WHERE p2.tool = p.tool)",
            ).apply  # construction raises


class TestPlans:
    def test_correlated_quantified_keeps_fact_side_shuffle_free(self, spark):
        from tests.test_plan_quality import _plan

        dim = spark.createDataFrame(
            PLANS, "tool string, plan string, price int"
        )
        spec = PipelineSpec(
            lookups=[{
                "id": "q",
                "query": (
                    "SELECT plan FROM plans p WHERE tool = :t AND "
                    "price >= ALL (SELECT p2.price FROM plans p2 "
                    "WHERE p2.tool = p.tool)"
                ),
                "parameters": {"t": "t"},
            }]
        )
        fact = spark.range(1000).select(
            F.lit("c").alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("t"),
        )
        out = LookupEnricher(spec, {"plans": dim}).apply(fact)
        plan = _plan(out, "simple")
        # the per-group set columns are built dim-side once per
        # snapshot: the fact stream sees one broadcast hash probe
        assert "Subquery" not in plan, plan
        assert "NestedLoop" not in plan, plan
        assert "SortMergeJoin" not in plan, plan
        fact_side = plan.split("BroadcastHashJoin")[0]
        assert "HashAggregate" not in fact_side, plan
        assert "collect_set" not in fact_side, plan
        assert "Exchange" not in fact_side.replace("BroadcastExchange", ""), plan
