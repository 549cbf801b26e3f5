"""[NOT] EXISTS and correlated [NOT] IN lookup subqueries (round-4
verdict #2 for round 5): the largest remaining residue of the
reference's execute-anything contract (lookup.rb:131-147). A correlated
EXISTS compiles to a semi-join flag column built once per refresh
snapshot; a correlated IN to per-group value-set columns and the
``in_set`` op — the fact side keeps its single broadcast-hash plan on
every physical path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F, types as T

from logstash_filter_jdbc_static_spark.operators import sqlexpr
from logstash_filter_jdbc_static_spark.operators.lookup import (
    parse_lookup_query,
)
from logstash_filter_jdbc_static_spark.operators.processor import LookupEnricher
from logstash_filter_jdbc_static_spark.spec import PipelineSpec, ValidationError

from plan_conditions import PLAN_CONDITIONS

PLAN_ROWS = [
    ("t0", 10, 3, "basic"),
    ("t0", 5, 4, None),
    ("t1", 7, 2, "pro"),
    ("t2", 2, 9, "basic"),
    ("t2", 8, 1, "pro"),
    ("t3", 8, 8, None),
    ("t4", 1, 5, "trial"),
]
PLAN_SCHEMA = T.StructType(
    [
        T.StructField("tool", T.StringType(), False),
        T.StructField("price", T.IntegerType(), False),
        T.StructField("qty", T.IntegerType(), False),
        T.StructField("plan", T.StringType(), True),
    ]
)

# Lookup constructor kwargs per case (always empty), one case per
# plan condition (plan_conditions.py).
ENGINES = PLAN_CONDITIONS


class TestParser:
    def test_correlated_exists(self):
        q = parse_lookup_query(
            "SELECT price FROM t WHERE tool = :tool AND EXISTS "
            "(SELECT 1 FROM t p2 WHERE p2.plan = t.plan AND p2.price > 6)"
        )
        pred = q.disjuncts[0][1]
        assert pred.op == "exists"
        sq = pred.terms[0].value
        assert sq.func == "__exists" and sq.corr == (("plan", "plan"),)

    def test_not_exists_negates_via_op_complement(self):
        q = parse_lookup_query(
            "SELECT price FROM t WHERE NOT EXISTS "
            "(SELECT * FROM b WHERE b.lo = t.price)"
        )
        assert q.disjuncts[0][0].op == "not exists"

    def test_uncorrelated_exists(self):
        q = parse_lookup_query(
            "SELECT price FROM t WHERE EXISTS "
            "(SELECT 1 FROM b WHERE b.lo >= 5)"
        )
        sq = q.disjuncts[0][0].terms[0].value
        assert sq.corr == ()

    def test_correlated_in_subquery(self):
        q = parse_lookup_query(
            "SELECT price FROM t WHERE price IN "
            "(SELECT p2.price FROM t p2 WHERE p2.plan = t.plan)"
        )
        pred = q.disjuncts[0][0]
        assert pred.op == "in"
        assert pred.terms[0].value.corr == (("plan", "plan"),)

    def test_exists_accepted_in_having(self):
        # round-5 latest: [NOT] EXISTS parses in HAVING — resolve
        # validates its correlated columns are GROUP BY keys and rides
        # the group-constant flag as a hidden max aggregate
        q = parse_lookup_query(
            "SELECT plan, count(*) AS n FROM t GROUP BY plan "
            "HAVING EXISTS (SELECT 1 FROM b)"
        )
        (p,) = q.having[0]
        assert p.op == "exists"
        assert p.terms[0].value.func == "__exists"

    def test_exists_accepted_nested_in_subquery(self):
        # round-5 latest: EXISTS may nest inside another subquery's
        # WHERE — it compiles as a semi-join flag on the ENCLOSING
        # sub frame (TestNestedSetSubqueries in test_lookup_rhs.py)
        q = parse_lookup_query(
            "SELECT price FROM t WHERE price >= "
            "(SELECT min(price) FROM t p2 WHERE EXISTS "
            "(SELECT 1 FROM b))"
        )
        (p1,) = q.disjuncts[0]
        (sub,) = (t.value for t in p1.terms if t.kind == "subquery")
        (nested,) = (
            p for d in sub.where for p in d if p.op == "exists"
        )
        assert nested.terms[0].value.func == "__exists"

    def test_join_correlation_keeps_qualified_spelling(self):
        # round-5: correlated subqueries in JOIN queries — the outer
        # reference keeps its "alias.col" spelling for build_join_dim
        # to map onto the derived dim's flat names; correlations may
        # target ANY joined relation (here both p and b)
        q = parse_lookup_query(
            "SELECT p.price AS price FROM t p JOIN u b ON p.k = b.k "
            "WHERE EXISTS (SELECT 1 FROM v "
            "WHERE v.plan = p.plan AND v.qty > b.lo)"
        )
        sq = q.disjuncts[0][0].terms[0].value
        assert sq.corr == (("plan", "p.plan"),)
        assert sq.ineq == (("qty", ">", "b.lo"),)

    def test_join_unknown_outer_qualifier_rejected(self):
        with pytest.raises(ValidationError, match="unknown relation"):
            parse_lookup_query(
                "SELECT a.x AS x FROM t a JOIN u b ON a.k = b.k "
                "WHERE EXISTS (SELECT 1 FROM v WHERE v.c = zz.x)"
            )


class TestValidation:
    def test_correlated_in_group_cap(self, spark, monkeypatch):
        from logstash_filter_jdbc_static_spark.operators import lookup as L

        monkeypatch.setattr(L, "_IN_SUBQUERY_CAP", 1)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "x",
                    "query": (
                        "SELECT price FROM tool_plans WHERE tool = :tool "
                        "AND price IN (SELECT p2.price FROM tool_plans p2 "
                        "WHERE p2.plan = tool_plans.plan)"
                    ),
                    "parameters": {"tool": "tool"},
                }
            ]
        )
        dims = {"tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)}
        with pytest.raises(ValidationError, match="correlation group"):
            LookupEnricher(spec, dims)


@pytest.mark.parametrize("kw", ENGINES)
class TestGolden:
    """Hand-verified expectations over the 7-row plan dim (plan groups:
    basic {10, 2}, pro {7, 8}, trial {1}; NULL plans correlate to
    nothing — SQL: NULL = NULL is not true)."""

    def _run(self, spark, kw, query):
        spec = PipelineSpec(
            lookups=[{"id": "x", "query": query,
                      "parameters": {"tool": "tool"}}]
        )
        dim = spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)
        facts = spark.createDataFrame(
            [(f"t{i}",) for i in range(6)], "tool: string"
        )
        enr = LookupEnricher(spec, {"tool_plans": dim}, **kw)
        out = enr.apply(facts).select("tool", "x").collect()
        return {
            r["tool"]: sorted(d["price"] for d in r["x"]) for r in out
        }

    def test_correlated_exists(self, spark, kw):
        got = self._run(
            spark, kw,
            "SELECT price FROM tool_plans WHERE tool = :tool AND EXISTS "
            "(SELECT 1 FROM tool_plans p2 "
            "WHERE p2.plan = tool_plans.plan AND p2.price > 6)",
        )
        assert got == {
            "t0": [10], "t1": [7], "t2": [2, 8],
            "t3": [], "t4": [], "t5": [],
        }

    def test_correlated_not_exists(self, spark, kw):
        got = self._run(
            spark, kw,
            "SELECT price FROM tool_plans WHERE tool = :tool AND NOT EXISTS "
            "(SELECT 1 FROM tool_plans p2 "
            "WHERE p2.plan = tool_plans.plan AND p2.price > 6)",
        )
        # NULL-plan rows (5, 8) correlate to nothing: NOT EXISTS is TRUE
        assert got == {
            "t0": [5], "t1": [], "t2": [],
            "t3": [8], "t4": [1], "t5": [],
        }

    def test_uncorrelated_exists_folds_to_constant(self, spark, kw):
        got = self._run(
            spark, kw,
            "SELECT price FROM tool_plans WHERE tool = :tool AND EXISTS "
            "(SELECT 1 FROM tool_plans WHERE price > 100)",
        )
        assert got == {f"t{i}": [] for i in range(6)}

    def test_correlated_in(self, spark, kw):
        # same-plan prices among qty<=4 rows: basic {10}, pro {7, 8}
        got = self._run(
            spark, kw,
            "SELECT price FROM tool_plans WHERE tool = :tool AND price IN "
            "(SELECT p2.price FROM tool_plans p2 "
            "WHERE p2.plan = tool_plans.plan AND p2.qty <= 4)",
        )
        assert got == {
            "t0": [10], "t1": [7], "t2": [8],
            "t3": [], "t4": [], "t5": [],
        }

    def test_correlated_not_in_empty_group_is_true(self, spark, kw):
        got = self._run(
            spark, kw,
            "SELECT price FROM tool_plans WHERE tool = :tool "
            "AND price NOT IN (SELECT p2.price FROM tool_plans p2 "
            "WHERE p2.plan = tool_plans.plan AND p2.qty <= 4)",
        )
        # NULL-plan rows and trial (empty groups) pass vacuously;
        # basic's 2 is not in {10}
        assert got == {
            "t0": [5], "t1": [], "t2": [2],
            "t3": [8], "t4": [1], "t5": [],
        }

    def test_correlated_not_in_null_in_group_never_matches(self, spark, kw):
        # groups keyed by price: 8 -> plans {pro, NULL}; NULL poisons
        # NOT IN (x <> NULL is unknown) so both price-8 rows drop; every
        # other row is its own group member, so NOT IN is FALSE — except
        # nothing: all rows either match themselves or hit a NULL
        got = self._run(
            spark, kw,
            "SELECT price FROM tool_plans WHERE tool = :tool "
            "AND plan NOT IN (SELECT p2.plan FROM tool_plans p2 "
            "WHERE p2.price = tool_plans.price)",
        )
        assert got == {f"t{i}": [] for i in range(6)}

    def test_correlated_in_with_expression_head(self, spark, kw):
        # the IN-subquery projects an EXPRESSION: per-plan qty*3 sets
        # are basic {9, 27}, pro {6, 3}, trial {15} — only basic's
        # (2, qty 9) row is a member of its own group's set
        got = self._run(
            spark, kw,
            "SELECT price FROM tool_plans WHERE tool = :tool AND qty IN "
            "(SELECT p2.qty * 3 FROM tool_plans p2 "
            "WHERE p2.plan = tool_plans.plan)",
        )
        assert got == {
            "t0": [], "t1": [], "t2": [2], "t3": [], "t4": [], "t5": [],
        }


class TestPlans:
    def _plan_for(self, spark, query):
        from tests.test_plan_quality import _plan

        dim = spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)
        spec = PipelineSpec(
            lookups=[{"id": "hit", "query": query,
                      "parameters": {"tool": "t"}}]
        )
        fact = spark.range(1000).select(
            F.lit("c").alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("t"),
        )
        out = LookupEnricher(spec, {"tool_plans": dim}).apply(fact)
        return _plan(out, "simple")

    def test_exists_keeps_fact_side_shuffle_free(self, spark):
        plan = self._plan_for(
            spark,
            "SELECT price FROM tool_plans WHERE tool = :tool AND EXISTS "
            "(SELECT 1 FROM tool_plans p2 "
            "WHERE p2.plan = tool_plans.plan AND p2.price > 6)",
        )
        # flag built dim-side once per snapshot: the fact stream sees
        # one broadcast hash probe, no subquery node, no nested loop
        assert "Subquery" not in plan, plan
        assert "NestedLoop" not in plan, plan
        assert "SortMergeJoin" not in plan, plan
        fact_side = plan.split("BroadcastHashJoin")[0]
        assert "HashAggregate" not in fact_side, plan
        assert "Exchange" not in fact_side.replace("BroadcastExchange", ""), plan

    def test_correlated_in_keeps_fact_side_shuffle_free(self, spark):
        plan = self._plan_for(
            spark,
            "SELECT price FROM tool_plans WHERE tool = :tool AND price IN "
            "(SELECT p2.price FROM tool_plans p2 "
            "WHERE p2.plan = tool_plans.plan)",
        )
        assert "Subquery" not in plan, plan
        assert "NestedLoop" not in plan, plan
        assert "SortMergeJoin" not in plan, plan
        fact_side = plan.split("BroadcastHashJoin")[0]
        assert "HashAggregate" not in fact_side, plan
        assert "collect_set" not in fact_side, plan
        assert "Exchange" not in fact_side.replace("BroadcastExchange", ""), plan


class TestCastFuncsParser:
    def test_cast_shapes(self):
        q = parse_lookup_query(
            "SELECT cast(price AS varchar(8)) AS p, "
            "cast(qty AS decimal(6,2)) AS d FROM t"
        )
        (n1, a1), (n2, a2) = q.computed
        assert a1 == sqlexpr.Cast(sqlexpr.Col("price"), "varchar(8)")
        assert a2 == sqlexpr.Cast(sqlexpr.Col("qty"), "decimal(6,2)")

    def test_double_precision_folds(self):
        q = parse_lookup_query(
            "SELECT cast(price AS double precision) AS p FROM t"
        )
        (_, ast) = q.computed[0]
        assert ast == sqlexpr.Cast(sqlexpr.Col("price"), "double")

    def test_derby_native_aliases_normalize(self):
        # Derby's canonical spellings map onto the shared
        # implementations at parse time (UCASE/LCASE/CHAR_LENGTH/
        # CHARACTER_LENGTH/LOCATE — Derby ref manual names)
        q = parse_lookup_query(
            "SELECT ucase(name) AS u, lcase(name) AS l, "
            "char_length(name) AS n, locate('x', name) AS pos FROM t"
        )
        asts = [a for _, a in q.computed]
        assert asts[0] == sqlexpr.Func("upper", (sqlexpr.Col("name"),))
        assert asts[1] == sqlexpr.Func("lower", (sqlexpr.Col("name"),))
        assert asts[2] == sqlexpr.Func("length", (sqlexpr.Col("name"),))
        # LOCATE(sub, s) == INSTR(s, sub): args swap
        assert asts[3] == sqlexpr.Func(
            "instr", (sqlexpr.Col("name"), sqlexpr.Lit("x"))
        )

    def test_ucase_keyed_lookup_keeps_equi_path(self):
        q = parse_lookup_query("SELECT name FROM t WHERE ucase(name) = :n")
        assert q.is_pure_equi

    @pytest.mark.parametrize(
        "bad, msg",
        [
            ("cast(price AS blob)", "CAST to"),
            ("cast(price AS int(5))", "takes no parameters"),
            ("cast(price AS varchar(1,2))", "too many parameters"),
            ("cast(price AS varchar(x))", "must be an integer"),
            ("nullif(price)", "2 argument"),
            ("replace(name, 'a')", "3 argument"),
            ("instr(name, 'a', 'b')", "2 argument"),
        ],
    )
    def test_malformed_raise(self, bad, msg):
        with pytest.raises(ValidationError, match=msg):
            parse_lookup_query(f"SELECT {bad} AS x FROM t")


class TestUnionBranches:
    def test_exists_inside_a_union_branch(self, spark):
        """Each UNION branch resolves its subqueries independently; an
        EXISTS branch gets its flag column on ITS dim only."""
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "u",
                    "query": (
                        "SELECT price AS v FROM tool_plans "
                        "WHERE tool = :tool AND EXISTS "
                        "(SELECT 1 FROM tool_plans p2 "
                        "WHERE p2.plan = tool_plans.plan AND p2.price > 6) "
                        "UNION ALL "
                        "SELECT qty FROM tool_plans WHERE tool = :tool "
                        "AND plan IS NULL"
                    ),
                    "parameters": {"tool": "tool"},
                }
            ]
        )
        dim = spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)
        facts = spark.createDataFrame(
            [(f"t{i}",) for i in range(5)], "tool: string"
        )
        out = LookupEnricher(spec, {"tool_plans": dim}).apply(facts)
        got = {
            r["tool"]: sorted(d["v"] for d in r["u"])
            for r in out.select("tool", "u").collect()
        }
        # branch 1 (exists): t0 [10], t1 [7], t2 [2, 8]; branch 2
        # (NULL plan qtys): t0 [4], t3 [8]
        assert got == {
            "t0": [4, 10], "t1": [7], "t2": [2, 8], "t3": [8], "t4": [],
        }


class TestIneqCorrelation:
    """Round-5b: a single plain inequality correlation in EXISTS,
    decorrelated to the per-group extremum (``a row with sub_col >
    outer exists iff max(sub_col) > outer``)."""

    def test_parser_extracts_ineq(self):
        q = parse_lookup_query(
            "SELECT price FROM t WHERE EXISTS (SELECT 1 FROM t p2 "
            "WHERE p2.plan = t.plan AND p2.price > t.price)"
        )
        sq = q.disjuncts[0][0].terms[0].value
        assert sq.corr == (("plan", "plan"),)
        assert sq.ineq == (("price", ">", "price"),)

    def test_parser_swaps_outer_lhs(self):
        # outer.col < sub_col normalizes to sub_col > outer.col
        q = parse_lookup_query(
            "SELECT price FROM t WHERE EXISTS (SELECT 1 FROM t p2 "
            "WHERE t.price < p2.price)"
        )
        sq = q.disjuncts[0][0].terms[0].value
        assert sq.ineq == (("price", ">", "price"),)

    def test_two_inequalities_accepted(self):
        # round-5 latest: SEVERAL inequality correlations are accepted
        # — no single extremum can witness two at once, so the EXISTS
        # flag counts witnesses per distinct outer correlation tuple
        q = parse_lookup_query(
            "SELECT price FROM t WHERE EXISTS (SELECT 1 FROM t p2 "
            "WHERE p2.price > t.price AND p2.qty < t.qty)"
        )
        sq = q.disjuncts[0][0].terms[0].value
        assert sq.ineq == (
            ("price", ">", "price"), ("qty", "<", "qty"),
        )

    def test_ineq_accepted_in_scalar_subquery(self):
        # round-5 late: a single inequality correlation in a scalar
        # aggregate subquery decorrelates via a snapshot-time theta
        # join (per-row-id aggregation) — no longer rejected
        q = parse_lookup_query(
            "SELECT price FROM t WHERE price >= (SELECT avg(p2.price) "
            "FROM t p2 WHERE p2.price > t.price)"
        )
        sq = q.disjuncts[0][0].terms[0].value
        assert sq.func == "avg"
        assert sq.ineq == (("price", ">", "price"),)

    def test_ineq_accepted_in_in_subquery(self):
        # round-5 latest: inequality correlations are ACCEPTED in set
        # subqueries — value sets per distinct outer correlation tuple
        # (TestIneqSetGolden)
        q = parse_lookup_query(
            "SELECT price FROM t WHERE price IN (SELECT p2.price "
            "FROM t p2 WHERE p2.qty > t.qty)"
        )
        sq = q.predicates[0].terms[0].value
        assert sq.ineq == (("qty", ">", "qty"),)


@pytest.mark.parametrize("kw", ENGINES)
class TestIneqGolden:
    _run = TestGolden._run

    def test_exists_strictly_greater_sibling(self, spark, kw):
        # per-plan max prices: basic 10, pro 8, trial 1 — a row matches
        # iff its plan's max is strictly above its own price
        got = self._run(
            spark, kw,
            "SELECT price FROM tool_plans WHERE tool = :tool AND EXISTS "
            "(SELECT 1 FROM tool_plans p2 "
            "WHERE p2.plan = tool_plans.plan AND p2.price > tool_plans.price)",
        )
        assert got == {
            "t0": [], "t1": [7], "t2": [2], "t3": [], "t4": [], "t5": [],
        }

    def test_not_exists_is_the_group_max(self, spark, kw):
        got = self._run(
            spark, kw,
            "SELECT price FROM tool_plans WHERE tool = :tool AND NOT EXISTS "
            "(SELECT 1 FROM tool_plans p2 "
            "WHERE p2.plan = tool_plans.plan AND p2.price > tool_plans.price)",
        )
        # NULL-plan rows (5, 8) correlate to nothing -> NOT EXISTS TRUE
        assert got == {
            "t0": [5, 10], "t1": [], "t2": [8], "t3": [8],
            "t4": [1], "t5": [],
        }

    def test_global_ineq_without_equality_keys(self, spark, kw):
        # no equality correlation: the extremum is ONE global scalar —
        # prices among qty>=4 rows are {5, 2, 8, 1}, max 8
        got = self._run(
            spark, kw,
            "SELECT price FROM tool_plans WHERE tool = :tool AND EXISTS "
            "(SELECT 1 FROM tool_plans p2 "
            "WHERE p2.qty >= 4 AND p2.price > tool_plans.price)",
        )
        assert got == {
            "t0": [5], "t1": [7], "t2": [2], "t3": [], "t4": [1], "t5": [],
        }

    def test_less_than_uses_group_min(self, spark, kw):
        # per-plan min prices: basic 2, pro 7, trial 1
        got = self._run(
            spark, kw,
            "SELECT price FROM tool_plans WHERE tool = :tool AND EXISTS "
            "(SELECT 1 FROM tool_plans p2 "
            "WHERE p2.plan = tool_plans.plan AND p2.price < tool_plans.price)",
        )
        assert got == {
            "t0": [10], "t1": [], "t2": [8], "t3": [], "t4": [], "t5": [],
        }

    def test_two_inequalities_dominance(self, spark, kw):
        # round-5 latest: TWO inequality correlations — "a row that
        # strictly dominates mine on price AND qty exists" (a witness
        # count per correlation tuple; an extremum rewrite cannot
        # express this: the max-price row need not be the max-qty
        # row). Dominated rows
        # across the whole dim: (5,4)<(8,8), (7,2)<(10,3),
        # (8,1)<(10,3), (1,5)<(8,8).
        got = self._run(
            spark, kw,
            "SELECT price FROM tool_plans WHERE tool = :tool AND EXISTS "
            "(SELECT 1 FROM tool_plans p2 "
            "WHERE p2.price > tool_plans.price "
            "AND p2.qty > tool_plans.qty)",
        )
        assert got == {
            "t0": [5], "t1": [7], "t2": [8], "t3": [], "t4": [1], "t5": [],
        }

    def test_two_inequalities_pareto_frontier(self, spark, kw):
        # NOT EXISTS over the same two inequalities = the pareto
        # frontier (flag coalesces FALSE on theta-join misses)
        got = self._run(
            spark, kw,
            "SELECT price FROM tool_plans WHERE tool = :tool "
            "AND NOT EXISTS (SELECT 1 FROM tool_plans p2 "
            "WHERE p2.price > tool_plans.price "
            "AND p2.qty > tool_plans.qty)",
        )
        assert got == {
            "t0": [10], "t1": [], "t2": [2], "t3": [8], "t4": [], "t5": [],
        }

    def test_scalar_with_two_inequalities(self, spark, kw):
        # the per-tuple scalar aggregate takes several inequalities
        # too: count of strict dominators, compared against 0
        got = self._run(
            spark, kw,
            "SELECT price FROM tool_plans WHERE tool = :tool AND 0 < "
            "(SELECT count(*) FROM tool_plans p2 "
            "WHERE p2.price > tool_plans.price "
            "AND p2.qty > tool_plans.qty)",
        )
        assert got == {
            "t0": [5], "t1": [7], "t2": [8], "t3": [], "t4": [1], "t5": [],
        }

    def test_equality_plus_two_inequalities(self, spark, kw):
        # equality keys hash-join first, inequalities post-filter: a
        # same-PLAN strict dominator — no plan group contains one
        # ((10,3)/(2,9) basic and (7,2)/(8,1) pro trade off), so every
        # payload is empty
        got = self._run(
            spark, kw,
            "SELECT price FROM tool_plans WHERE tool = :tool AND EXISTS "
            "(SELECT 1 FROM tool_plans p2 "
            "WHERE p2.plan = tool_plans.plan "
            "AND p2.price > tool_plans.price "
            "AND p2.qty > tool_plans.qty)",
        )
        assert got == {
            "t0": [], "t1": [], "t2": [], "t3": [], "t4": [], "t5": [],
        }


class TestHavingExists:
    """Round-5 latest: ``[NOT] EXISTS`` in HAVING, correlated on GROUP
    BY keys (Derby-legal, pinned natively) — the group-constant flag
    rides into the payload as a hidden ``max(__sq_exists*)`` aggregate,
    the same ``__hsq`` mechanism as correlated scalar comparands.
    Every run cross-checks the row oracle."""

    def _tables(self):
        return {
            "tool_plans": [
                {"tool": t, "price": p, "qty": q, "plan": pl}
                for t, p, q, pl in PLAN_ROWS
            ]
        }

    def _run(self, spark, kw, query):
        from logstash_filter_jdbc_static_spark import oracle

        lookup = {"id": "u", "query": query, "parameters": {"tool": "tool"}}
        facts = spark.createDataFrame(
            [(f"t{i}",) for i in range(6)], "tool: string"
        )
        out = LookupEnricher(
            PipelineSpec(lookups=[dict(lookup)]),
            {"tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)},
            **kw,
        ).apply(facts)
        got = {
            r["tool"]: [tuple(d.asDict().values()) for d in r["u"]]
            for r in out.collect()
        }
        for tool in got:
            ev = {"tool": tool}
            oracle.enhance(
                ev, PipelineSpec(lookups=[dict(lookup)]), self._tables()
            )
            exp = [tuple(d.values()) for d in ev["u"]]
            assert got[tool] == exp, f"{tool}: {got[tool]} != {exp}"
        return got

    @pytest.mark.parametrize("kw", ENGINES)
    def test_having_exists_on_group_key(self, spark, kw):
        # plans with a qty>=4 sibling anywhere: basic (2,9), trial
        # (1,5); NULL-plan groups correlate to nothing -> EXISTS false
        got = self._run(
            spark, kw,
            "SELECT plan AS plan, count(*) AS n FROM tool_plans "
            "WHERE tool = :tool GROUP BY plan "
            "HAVING EXISTS (SELECT 1 FROM tool_plans p2 "
            "WHERE p2.plan = tool_plans.plan AND p2.qty >= 4)",
        )
        assert got == {
            "t0": [("basic", 1)], "t1": [], "t2": [("basic", 1)],
            "t3": [], "t4": [("trial", 1)], "t5": [],
        }

    @pytest.mark.parametrize("kw", ENGINES)
    def test_having_not_exists_combines_with_predicates(self, spark, kw):
        # NOT EXISTS flips: NULL-plan groups pass (flag coalesces
        # FALSE); the n >= 1 conjunct exercises mixing with ordinary
        # HAVING predicates
        got = self._run(
            spark, kw,
            "SELECT plan AS plan, count(*) AS n FROM tool_plans "
            "WHERE tool = :tool GROUP BY plan "
            "HAVING n >= 1 AND NOT EXISTS "
            "(SELECT 1 FROM tool_plans p2 "
            "WHERE p2.plan = tool_plans.plan AND p2.qty >= 4)",
        )
        assert got == {
            "t0": [(None, 1)], "t1": [("pro", 1)], "t2": [("pro", 1)],
            "t3": [(None, 1)], "t4": [], "t5": [],
        }

    @pytest.mark.parametrize("kw", ENGINES[:1])
    def test_having_exists_uncorrelated_is_a_constant_gate(self, spark, kw):
        got = self._run(
            spark, kw,
            "SELECT plan AS plan, count(*) AS n FROM tool_plans "
            "WHERE tool = :tool GROUP BY plan "
            "HAVING EXISTS (SELECT 1 FROM tool_plans p2 "
            "WHERE p2.price >= 10)",
        )
        assert got["t0"] == [(None, 1), ("basic", 1)]  # gate TRUE

    def test_correlation_on_non_group_key_rejected(self, spark):
        with pytest.raises(ValidationError, match="GROUP BY keys"):
            LookupEnricher(
                PipelineSpec(lookups=[{
                    "id": "u",
                    "query": (
                        "SELECT plan AS plan, count(*) AS n "
                        "FROM tool_plans WHERE tool = :tool "
                        "GROUP BY plan HAVING EXISTS "
                        "(SELECT 1 FROM tool_plans p2 "
                        "WHERE p2.qty = tool_plans.qty)"
                    ),
                    "parameters": {"tool": "tool"},
                }]),
                {
                    "tool_plans": spark.createDataFrame(
                        PLAN_ROWS, PLAN_SCHEMA
                    )
                },
            )


BAND_ROWS = [(0, 5, "low"), (5, 9, "mid")]
BAND_SCHEMA = T.StructType(
    [
        T.StructField("lo", T.IntegerType(), False),
        T.StructField("hi", T.IntegerType(), False),
        T.StructField("band", T.StringType(), False),
    ]
)


@pytest.mark.parametrize("kw", ENGINES)
class TestJoinModeGolden:
    """Round-5 widening: correlated subqueries inside multi-table JOIN
    lookup queries. build_join_dim flat-rewrites first, so the
    per-group aggregate/flag left-joins onto the DERIVED dim and the
    correlation may target ANY joined relation's column (b.lo / b.hi).

    Joined rows (price in a band): t0/5/NULL-plan mid, t1/7/pro mid,
    t2/2/basic low, t2/8/pro mid, t3/8/NULL mid, t4/1/trial low;
    t0's price-10 row falls outside every band. Plan groups:
    basic {(10,qty3), (2,qty9)}, pro {(7,2), (8,1)}, trial {(1,5)}."""

    BASE = (
        "SELECT p.price AS price FROM tool_plans p "
        "JOIN bands b ON p.price >= b.lo AND p.price < b.hi "
        "WHERE p.tool = :tool AND "
    )

    def _run(self, spark, kw, query):
        spec = PipelineSpec(
            lookups=[{"id": "x", "query": query,
                      "parameters": {"tool": "tool"}}]
        )
        dims = {
            "tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA),
            "bands": spark.createDataFrame(BAND_ROWS, BAND_SCHEMA),
        }
        facts = spark.createDataFrame(
            [(f"t{i}",) for i in range(6)], "tool: string"
        )
        out = LookupEnricher(spec, dims, **kw).apply(facts)
        return {
            r["tool"]: sorted(d["price"] for d in r["x"])
            for r in out.select("tool", "x").collect()
        }

    def test_exists_correlated_on_joined_relation(self, spark, kw):
        # equality corr on p.plan, inequality corr on b.lo: a same-plan
        # sibling with qty > the row's band floor. Group max qty:
        # basic 9, pro 2, trial 5; NULL plans correlate to nothing.
        got = self._run(
            spark, kw,
            self.BASE + "EXISTS (SELECT 1 FROM tool_plans p2 "
            "WHERE p2.plan = p.plan AND p2.qty > b.lo)",
        )
        assert got == {
            "t0": [], "t1": [], "t2": [2], "t3": [], "t4": [1], "t5": [],
        }

    def test_correlated_scalar_subquery(self, spark, kw):
        # per-plan avg prices: basic 6, pro 7.5, trial 1; NULL-plan
        # rows left-join to no group -> NULL avg -> unknown -> drop
        got = self._run(
            spark, kw,
            self.BASE + "p.price <= (SELECT avg(p3.price) "
            "FROM tool_plans p3 WHERE p3.plan = p.plan)",
        )
        assert got == {
            "t0": [], "t1": [7], "t2": [2], "t3": [], "t4": [1], "t5": [],
        }

    def test_correlated_not_in_on_joined_column(self, spark, kw):
        # per-plan qty sets: basic {3,9}, pro {2,1}, trial {5}; the
        # band CEILING is the probe value — only t4's (hi 5, trial
        # {5}) is a member, so NOT IN drops exactly that row; empty
        # groups (NULL plans) pass vacuously
        got = self._run(
            spark, kw,
            self.BASE + "b.hi NOT IN (SELECT p2.qty FROM tool_plans p2 "
            "WHERE p2.plan = p.plan)",
        )
        assert got == {
            "t0": [5], "t1": [7], "t2": [2, 8], "t3": [8],
            "t4": [], "t5": [],
        }

    def test_uncorrelated_exists_folds_to_constant(self, spark, kw):
        # no outer reference: one emptiness probe per refresh snapshot
        # (this shape was rejected before round-5's join support)
        got = self._run(
            spark, kw,
            self.BASE + "EXISTS (SELECT 1 FROM tool_plans WHERE "
            "price > 100)",
        )
        assert got == {f"t{i}": [] for i in range(6)}

    def test_sub_alias_shadows_outer_alias(self, spark, kw):
        # the subquery aliases its relation "b", hiding the joined
        # bands alias (standard SQL scoping): b.plan/b.price resolve
        # INNER. Plans with a sibling priced over 6: basic, pro.
        got = self._run(
            spark, kw,
            self.BASE + "EXISTS (SELECT 1 FROM tool_plans b "
            "WHERE b.plan = p.plan AND b.price > 6)",
        )
        assert got == {
            "t0": [], "t1": [7], "t2": [2, 8], "t3": [], "t4": [], "t5": [],
        }


class TestJoinModePlan:
    def test_join_exists_keeps_fact_side_shuffle_free(self, spark):
        from tests.test_plan_quality import _plan

        spec = PipelineSpec(
            lookups=[{
                "id": "hit",
                "query": (
                    "SELECT p.price AS price FROM tool_plans p "
                    "JOIN bands b ON p.price >= b.lo AND p.price < b.hi "
                    "WHERE p.tool = :tool AND EXISTS "
                    "(SELECT 1 FROM tool_plans p2 "
                    "WHERE p2.plan = p.plan AND p2.qty > b.lo) "
                    "AND p.price <= (SELECT avg(p3.price) "
                    "FROM tool_plans p3 WHERE p3.plan = p.plan)"
                ),
                "parameters": {"tool": "t"},
            }]
        )
        dims = {
            "tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA),
            "bands": spark.createDataFrame(BAND_ROWS, BAND_SCHEMA),
        }
        fact = spark.range(1000).select(
            F.lit("c").alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("t"),
        )
        plan = _plan(LookupEnricher(spec, dims).apply(fact), "simple")
        # flag + per-group aggregate built on the DERIVED dim once per
        # snapshot: the fact stream sees one broadcast hash probe
        assert "Subquery" not in plan, plan
        assert "NestedLoop" not in plan, plan
        assert "SortMergeJoin" not in plan, plan
        fact_side = plan.split("BroadcastHashJoin")[0]
        assert "HashAggregate" not in fact_side, plan
        assert "Exchange" not in fact_side.replace("BroadcastExchange", ""), plan


JOIN_SQ_TEMPLATES = [
    # EXISTS: equality corr on the base relation, inequality corr on
    # the JOINED relation's column
    "EXISTS (SELECT 1 FROM tool_plans p2 "
    "WHERE p2.plan = p.plan AND p2.qty > b.lo)",
    # NOT EXISTS correlated ONLY against the joined relation
    "NOT EXISTS (SELECT 1 FROM tool_plans p2 WHERE p2.qty = b.hi)",
    # correlated scalar aggregate keyed on the base relation
    "p.price <= (SELECT avg(p3.price) FROM tool_plans p3 "
    "WHERE p3.plan = p.plan)",
    # correlated scalar aggregate keyed on the JOINED relation
    "b.lo < (SELECT max(p3.qty) FROM tool_plans p3 "
    "WHERE p3.price = b.hi)",
    # correlated [NOT] IN probing a joined-relation column
    "b.hi IN (SELECT p2.qty FROM tool_plans p2 WHERE p2.plan = p.plan)",
    "b.hi NOT IN (SELECT p2.qty FROM tool_plans p2 "
    "WHERE p2.plan = p.plan)",
    # mixed: uncorrelated + correlated in one conjunction
    "p.qty >= (SELECT min(qty) FROM tool_plans) AND EXISTS "
    "(SELECT 1 FROM tool_plans p2 WHERE p2.plan = p.plan)",
]


@pytest.mark.parametrize("kw", ENGINES)
@pytest.mark.parametrize("template", JOIN_SQ_TEMPLATES)
class TestJoinModeRowOracle:
    """Spark vs the independent row-at-a-time oracle on every join-mode
    correlated-subquery template, on all three physical paths."""

    def test_agrees_with_row_oracle(self, spark, kw, template):
        from logstash_filter_jdbc_static_spark import oracle

        query = (
            "SELECT p.price AS price, b.band AS band FROM tool_plans p "
            "JOIN bands b ON p.price >= b.lo AND p.price < b.hi "
            f"WHERE p.tool = :tool AND {template}"
        )
        spec = PipelineSpec(
            lookups=[{"id": "x", "query": query,
                      "parameters": {"tool": "tool"}}]
        )
        dims = {
            "tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA),
            "bands": spark.createDataFrame(BAND_ROWS, BAND_SCHEMA),
        }
        facts = spark.createDataFrame(
            [(f"t{i}",) for i in range(6)], "tool: string"
        )
        out = LookupEnricher(spec, dims, **kw).apply(facts)
        got = {
            r["tool"]: sorted((d["price"], d["band"]) for d in r["x"])
            for r in out.select("tool", "x").collect()
        }
        tables = {
            "tool_plans": [
                dict(zip(("tool", "price", "qty", "plan"), r))
                for r in PLAN_ROWS
            ],
            "bands": [
                dict(zip(("lo", "hi", "band"), r)) for r in BAND_ROWS
            ],
        }
        exp = {}
        for i in range(6):
            event = {"tool": f"t{i}"}
            oracle.enhance(event, PipelineSpec(
                lookups=[{"id": "x", "query": query,
                          "parameters": {"tool": "tool"}}]
            ), tables)
            exp[f"t{i}"] = sorted(
                (d["price"], d["band"]) for d in event["x"]
            )
        assert got == exp


@pytest.mark.parametrize("kw", ENGINES)
class TestIneqScalarGolden:
    """Round-5 late: ONE inequality correlation in scalar aggregate
    subqueries (WHERE comparands and PROJECTION items) — aggregated
    per distinct outer correlation tuple through the theta
    distinct-tuple frame, broadcast-joined back (dim-sized; with
    equality keys Spark hash-joins and post-filters the inequality).
    Hand-verified over PLAN_ROWS (plan groups: basic {10, 2}, pro
    {7, 8}, trial {1}; NULL plans correlate to nothing)."""

    _run = TestGolden._run

    def _run_pairs(self, spark, kw, query, fields):
        spec = PipelineSpec(
            lookups=[{"id": "x", "query": query,
                      "parameters": {"tool": "tool"}}]
        )
        dim = spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)
        facts = spark.createDataFrame(
            [(f"t{i}",) for i in range(6)], "tool: string"
        )
        enr = LookupEnricher(spec, {"tool_plans": dim}, **kw)
        out = enr.apply(facts).select("tool", "x").collect()
        return {
            r["tool"]: sorted(
                tuple(d[f] for f in fields) for d in r["x"]
            )
            for r in out
        }

    def test_rank_count_projection_subquery(self, spark, kw):
        got = self._run_pairs(
            spark, kw,
            "SELECT price AS price, "
            "(SELECT count(*) FROM tool_plans p2 "
            "WHERE p2.plan = tool_plans.plan "
            "AND p2.price < tool_plans.price) AS nc "
            "FROM tool_plans WHERE tool = :tool",
            ("price", "nc"),
        )
        # empty correlated group counts 0 (NULL-plan rows, group minima)
        assert got == {
            "t0": [(5, 0), (10, 1)], "t1": [(7, 0)],
            "t2": [(2, 0), (8, 1)], "t3": [(8, 0)],
            "t4": [(1, 0)], "t5": [],
        }

    def test_running_sum_comparand(self, spark, kw):
        got = self._run(
            spark, kw,
            "SELECT price FROM tool_plans WHERE tool = :tool AND "
            "price >= (SELECT sum(p2.price) FROM tool_plans p2 "
            "WHERE p2.plan = tool_plans.plan "
            "AND p2.price < tool_plans.price)",
        )
        # sum over an EMPTY group is NULL -> comparison unknown -> out
        assert got == {
            "t0": [10], "t1": [], "t2": [8], "t3": [], "t4": [], "t5": [],
        }

    def test_global_inequality_without_equality_keys(self, spark, kw):
        # no equality correlation: dim-sized nested loop, one scalar
        # per row — avg of ALL dim prices strictly below the row's
        got = self._run(
            spark, kw,
            "SELECT price FROM tool_plans WHERE tool = :tool AND "
            "price > (SELECT avg(p2.price) FROM tool_plans p2 "
            "WHERE p2.price < tool_plans.price)",
        )
        assert got == {
            "t0": [5, 10], "t1": [7], "t2": [2, 8], "t3": [8],
            "t4": [], "t5": [],
        }

    def test_matches_row_oracle(self, spark, kw):
        from logstash_filter_jdbc_static_spark import oracle

        q = (
            "SELECT price AS price, "
            "(SELECT count(*) FROM tool_plans p2 "
            "WHERE p2.plan = tool_plans.plan "
            "AND p2.price <= tool_plans.price) AS rk "
            "FROM tool_plans WHERE tool = :tool AND "
            "price > (SELECT min(p2.price) FROM tool_plans p2 "
            "WHERE p2.price < tool_plans.price)"
        )
        got = self._run_pairs(spark, kw, q, ("price", "rk"))
        tables = {
            "tool_plans": [
                dict(zip(("tool", "price", "qty", "plan"), r))
                for r in PLAN_ROWS
            ]
        }
        for i in range(6):
            ev = {"tool": f"t{i}"}
            oracle.enhance(
                ev,
                PipelineSpec(lookups=[{
                    "id": "x", "query": q, "parameters": {"tool": "tool"},
                }]),
                tables,
            )
            exp = sorted((d["price"], d["rk"]) for d in ev["x"])
            assert got[f"t{i}"] == exp, (i, got[f"t{i}"], exp)


@pytest.mark.parametrize("kw", ENGINES)
class TestIneqSetGolden:
    """Round-5 latest: INEQUALITY correlations in [NOT] IN and
    quantified set subqueries (``plan IN (SELECT p2.plan FROM t p2
    WHERE p2.price < t.price)``) — the value set is per outer
    correlation TUPLE, so in_group_cols_of decorrelates through the
    same theta distinct-tuple frame as scalar aggregates, collecting
    per-tuple (set, had-NULL, count) columns; the predicate compiles
    as the unchanged ``in_set`` / ``{cmp} {quant}_set`` ops.
    Hand-verified over PLAN_ROWS (by price: 1 trial, 2 basic, 5 NULL,
    7 pro, 8 pro, 8 NULL, 10 basic)."""

    _run = TestGolden._run

    def test_in_with_inequality_only(self, spark, kw):
        got = self._run(
            spark, kw,
            "SELECT price FROM tool_plans WHERE tool = :tool AND "
            "plan IN (SELECT p2.plan FROM tool_plans p2 "
            "WHERE p2.price < tool_plans.price)",
        )
        # (10,basic): cheaper plans include basic -> TRUE; (7,pro):
        # cheaper = {trial,basic,NULL} -> UNKNOWN (NULL in set);
        # (2,basic): {trial} -> FALSE; (1,trial): empty -> IN () FALSE;
        # NULL-plan lhs rows always drop
        assert got == {
            "t0": [10], "t1": [], "t2": [8],
            "t3": [], "t4": [], "t5": [],
        }

    def test_not_in_with_inequality_only(self, spark, kw):
        got = self._run(
            spark, kw,
            "SELECT price FROM tool_plans WHERE tool = :tool AND "
            "plan NOT IN (SELECT p2.plan FROM tool_plans p2 "
            "WHERE p2.price < tool_plans.price)",
        )
        # (2,basic): cheaper = {trial}, no NULL, no match -> TRUE;
        # (1,trial): empty set -> NOT IN () TRUE; NULL in the set or a
        # member -> dropped
        assert got == {
            "t0": [], "t1": [], "t2": [2],
            "t3": [], "t4": [1], "t5": [],
        }

    def test_quantified_mixed_eq_and_ineq(self, spark, kw):
        got = self._run(
            spark, kw,
            "SELECT price FROM tool_plans WHERE tool = :tool AND "
            "price > ALL (SELECT p2.price FROM tool_plans p2 "
            "WHERE p2.plan = tool_plans.plan "
            "AND p2.qty >= tool_plans.qty)",
        )
        # every same-plan row with qty >= this row's qty includes the
        # row ITSELF -> price > price is FALSE everywhere; NULL-plan
        # rows correlate to nothing -> > ALL () vacuously TRUE
        assert got == {
            "t0": [5], "t1": [], "t2": [],
            "t3": [8], "t4": [], "t5": [],
        }

    def test_quantified_any_inequality_only(self, spark, kw):
        got = self._run(
            spark, kw,
            "SELECT price FROM tool_plans WHERE tool = :tool AND "
            "price < ANY (SELECT p2.price FROM tool_plans p2 "
            "WHERE p2.price > tool_plans.price)",
        )
        # TRUE iff some strictly-greater price exists (the set is
        # exactly the greater prices) — only the global max (10) fails
        assert got == {
            "t0": [5], "t1": [7], "t2": [2, 8],
            "t3": [8], "t4": [1], "t5": [],
        }

    def test_matches_row_oracle(self, spark, kw):
        from logstash_filter_jdbc_static_spark import oracle

        q = (
            "SELECT price FROM tool_plans WHERE tool = :tool AND "
            "qty IN (SELECT p2.qty FROM tool_plans p2 "
            "WHERE p2.plan = tool_plans.plan "
            "AND p2.price <= tool_plans.price)"
        )
        got = self._run(spark, kw, q)
        tables = {
            "tool_plans": [
                dict(zip(("tool", "price", "qty", "plan"), r))
                for r in PLAN_ROWS
            ]
        }
        for i in range(6):
            ev = {"tool": f"t{i}"}
            oracle.enhance(
                ev,
                PipelineSpec(lookups=[{
                    "id": "x", "query": q, "parameters": {"tool": "tool"},
                }]),
                tables,
            )
            exp = sorted(d["price"] for d in ev["x"])
            assert got[f"t{i}"] == exp, (i, got[f"t{i}"], exp)


class TestIneqSetValidation:
    def _compile(self, spark, query):
        LookupEnricher(
            PipelineSpec(lookups=[{
                "id": "x", "query": query,
                "parameters": {"tool": "tool"},
            }]),
            {"tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)},
        )

    def test_parser_extracts_set_ineq(self):
        q = parse_lookup_query(
            "SELECT price FROM tool_plans WHERE plan IN "
            "(SELECT p2.plan FROM tool_plans p2 "
            "WHERE p2.price < tool_plans.price)"
        )
        sq = q.predicates[0].terms[0].value
        assert sq.func == "__values"
        assert sq.ineq == (("price", "<", "price"),)

    def test_param_plus_ineq_rejected(self, spark):
        with pytest.raises(ValidationError, match="BOTH correlated"):
            self._compile(
                spark,
                "SELECT price FROM tool_plans WHERE plan IN "
                "(SELECT p2.plan FROM tool_plans p2 "
                "WHERE p2.price < tool_plans.price "
                "AND p2.tool = :tool)",
            )

    def test_ineq_in_still_rejected_in_having(self, spark):
        with pytest.raises(ValidationError, match="HAVING"):
            self._compile(
                spark,
                "SELECT plan AS plan, count(*) AS n FROM tool_plans "
                "GROUP BY plan HAVING plan IN "
                "(SELECT p2.plan FROM tool_plans p2 "
                "WHERE p2.price < tool_plans.price)",
            )

    @pytest.mark.parametrize(
        "query",
        [
            "SELECT price FROM tool_plans WHERE tool = :tool AND "
            "plan NOT IN (SELECT p2.plan FROM tool_plans p2 "
            "WHERE p2.price < tool_plans.price)",
            "SELECT price FROM tool_plans WHERE tool = :tool AND "
            "price >= ALL (SELECT p2.price FROM tool_plans p2 "
            "WHERE p2.qty < tool_plans.qty)",
            "SELECT price FROM tool_plans WHERE tool = :tool AND EXISTS "
            "(SELECT 1 FROM tool_plans p2 WHERE p2.plan = tool_plans.plan "
            "AND p2.qty IN (SELECT p3.qty FROM tool_plans p3 "
            "WHERE p3.price > p2.price))",
        ],
        ids=["not_in", "quantified", "nested_in"],
    )
    def test_ineq_set_group_cap(self, spark, monkeypatch, query):
        # the per-correlation-tuple value set honors _IN_SUBQUERY_CAP
        # like an equality-correlated group (TestValidation), top-level
        # and nested alike
        from logstash_filter_jdbc_static_spark.operators import lookup as L

        monkeypatch.setattr(L, "_IN_SUBQUERY_CAP", 1)
        with pytest.raises(ValidationError, match="correlation group"):
            self._compile(spark, query)


class TestIneqCorrelationLaziness:
    """Building a lookup whose subqueries correlate to the outer row by
    inequalities starts no Spark job: the per-correlation-tuple frame
    is a lazy plan, joined back with a broadcast, and nothing is
    checkpointed or collected before the first apply()."""

    @pytest.mark.parametrize(
        "query",
        [
            # rank count (TestIneqScalarGolden)
            "SELECT price AS price, "
            "(SELECT count(*) FROM tool_plans p2 "
            "WHERE p2.plan = tool_plans.plan "
            "AND p2.price < tool_plans.price) AS nc "
            "FROM tool_plans WHERE tool = :tool",
            # pareto frontier: two inequalities under NOT EXISTS
            "SELECT price FROM tool_plans WHERE tool = :tool "
            "AND NOT EXISTS (SELECT 1 FROM tool_plans p2 "
            "WHERE p2.price > tool_plans.price "
            "AND p2.qty > tool_plans.qty)",
            # nested inequality scalar and EXISTS inside an
            # equality-correlated scalar (TestNestedIneqCorrelations)
            "SELECT price FROM tool_plans WHERE tool = :tool AND price <= "
            "(SELECT sum(p2.price) FROM tool_plans p2 "
            "WHERE p2.plan = tool_plans.plan "
            "AND NOT EXISTS (SELECT 1 FROM tool_plans p3 "
            "WHERE p3.price > p2.price AND p3.qty > p2.qty) "
            "AND p2.qty > (SELECT min(p4.qty) FROM tool_plans p4 "
            "WHERE p4.price < p2.price))",
        ],
        ids=["rank_count", "pareto_not_exists", "nested_scalar"],
    )
    def test_construction_starts_no_job(self, spark, query):
        spec = PipelineSpec(
            lookups=[{"id": "x", "query": query,
                      "parameters": {"tool": "tool"}}]
        )
        dims = {"tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)}
        tracker = spark.sparkContext.statusTracker()
        before = tracker.getJobIdsForGroup(None)
        LookupEnricher(spec, dims)
        after = tracker.getJobIdsForGroup(None)
        assert len(after) == len(before), "lookup construction ran a Spark job"


# NULL in the inequality columns: the two "n0" rows share one outer
# correlation tuple (basic, NULL, NULL), which compares unknown against
# every sub row and so reads as the EMPTY group.
NULL_ROWS = [
    ("n0", None, None, "basic"),
    ("n0", None, None, "basic"),
    ("n1", 4, 5, "basic"),
    ("n1", 9, 1, "basic"),
    ("n2", 6, 2, "pro"),
]
NULL_SCHEMA = T.StructType(
    [
        T.StructField("tool", T.StringType(), False),
        T.StructField("price", T.IntegerType(), True),
        T.StructField("qty", T.IntegerType(), True),
        T.StructField("plan", T.StringType(), True),
    ]
)


@pytest.mark.parametrize("kw", ENGINES)
class TestIneqNullOuterGolden:
    """A NULL outer column under an inequality correlation, checked row
    by row against the oracle: count 0, sum NULL, EXISTS FALSE and
    NOT IN TRUE for each of the two rows of the shared NULL tuple."""

    def _run(self, spark, kw, query):
        from logstash_filter_jdbc_static_spark import oracle

        lookup = {"id": "x", "query": query, "parameters": {"tool": "tool"}}
        tools = ("n0", "n1", "n2")
        facts = spark.createDataFrame([(t,) for t in tools], "tool: string")
        out = LookupEnricher(
            PipelineSpec(lookups=[dict(lookup)]),
            {"tool_plans": spark.createDataFrame(NULL_ROWS, NULL_SCHEMA)},
            **kw,
        ).apply(facts)
        got = {
            r["tool"]: sorted(
                (tuple(d.asDict().values()) for d in r["x"]), key=repr
            )
            for r in out.collect()
        }
        tables = {
            "tool_plans": [
                dict(zip(("tool", "price", "qty", "plan"), r))
                for r in NULL_ROWS
            ]
        }
        for tool in tools:
            ev = {"tool": tool}
            oracle.enhance(
                ev, PipelineSpec(lookups=[dict(lookup)]), tables
            )
            exp = sorted((tuple(d.values()) for d in ev["x"]), key=repr)
            assert got[tool] == exp, f"{tool}: {got[tool]} != {exp}"
        return got

    def test_scalar_count_zero_and_sum_null(self, spark, kw):
        got = self._run(
            spark, kw,
            "SELECT price AS price, "
            "(SELECT count(*) FROM tool_plans p2 "
            "WHERE p2.plan = tool_plans.plan "
            "AND p2.price < tool_plans.price) AS nc, "
            "(SELECT sum(p2.price) FROM tool_plans p2 "
            "WHERE p2.plan = tool_plans.plan "
            "AND p2.price < tool_plans.price) AS sm "
            "FROM tool_plans WHERE tool = :tool",
        )
        assert got["n0"] == [(None, 0, None), (None, 0, None)]
        assert got["n1"] == [(4, 0, None), (9, 1, 4)]

    def test_two_inequality_exists_false(self, spark, kw):
        q = (
            "SELECT price AS price FROM tool_plans WHERE tool = :tool "
            "AND {} (SELECT 1 FROM tool_plans p2 "
            "WHERE p2.price > tool_plans.price "
            "AND p2.qty > tool_plans.qty)"
        )
        got = self._run(spark, kw, q.format("EXISTS"))
        assert got["n0"] == []
        # FALSE, not UNKNOWN: NOT EXISTS keeps both rows
        got = self._run(spark, kw, q.format("NOT EXISTS"))
        assert got["n0"] == [(None,), (None,)]

    def test_not_in_empty_set_true(self, spark, kw):
        got = self._run(
            spark, kw,
            "SELECT price AS price FROM tool_plans WHERE tool = :tool "
            "AND plan NOT IN (SELECT p2.plan FROM tool_plans p2 "
            "WHERE p2.price < tool_plans.price)",
        )
        assert got["n0"] == [(None,), (None,)]
