"""Round-4 widening of the lookup-SQL surface (round-3 verdict item 2's
residue): static dim-side column/expression comparands on the predicate
RIGHT-hand side (``WHERE a = b + 1``), and uncorrelated scalar
subqueries (``WHERE price >= (SELECT avg(price) FROM t)``), resolved
once per refresh snapshot. The reference executes both verbatim in
Derby (lib/logstash/filters/jdbc/lookup.rb:131-147); here they compile
dim-side so every physical path keeps its plan shape.

Golden e2e cases live here; randomized Spark-vs-row-oracle equivalence
for the same shapes is in test_property_oracle.py's WIDE_TEMPLATES.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F, types as T

from logstash_filter_jdbc_static_spark.operators.lookup import (
    CompiledLookup,
    has_subqueries,
    parse_lookup_query,
    resolve_subqueries_with_dim,
)
from logstash_filter_jdbc_static_spark.operators.processor import LookupEnricher
from logstash_filter_jdbc_static_spark.spec import (
    LookupSpec,
    PipelineSpec,
    ValidationError,
)

from plan_conditions import PLAN_CONDITIONS

FACT = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("tool", T.StringType(), True),
    ]
)
PLANS = T.StructType(
    [
        T.StructField("tool", T.StringType(), False),
        T.StructField("price", T.IntegerType(), False),
        T.StructField("qty", T.IntegerType(), False),
    ]
)
PLAN_ROWS = [
    ("t1", 10, 3),
    ("t1", 2, 9),
    ("t2", 7, 7),
    ("t3", 1, 5),
    ("t3", 8, 8),
]

# Lookup constructor kwargs per case (always empty), one case per
# plan condition (plan_conditions.py).
ENGINES = PLAN_CONDITIONS


class TestParseColumnRhs:
    def test_bare_column_rhs(self):
        (p,) = parse_lookup_query(
            "SELECT tool FROM plans WHERE price = qty"
        ).disjuncts[0]
        assert [(t.kind, t.value) for t in p.terms] == [("column", "qty")]
        assert p.is_static

    def test_expression_rhs_registers_computed(self):
        q = parse_lookup_query(
            "SELECT tool FROM plans WHERE price > qty * 2"
        )
        (p,) = q.disjuncts[0]
        assert p.terms[0].kind == "column"
        assert p.terms[0].value.startswith("__expr")
        assert any(n == p.terms[0].value for n, _ in q.computed)

    def test_constant_expression_folds_to_literal(self):
        (p,) = parse_lookup_query(
            "SELECT tool FROM plans WHERE price = (2 + 3)"
        ).disjuncts[0]
        assert (p.terms[0].kind, p.terms[0].value) == ("literal", 5)
        (p,) = parse_lookup_query(
            "SELECT tool FROM plans WHERE tool = 'a' || 'b'"
        ).disjuncts[0]
        assert (p.terms[0].kind, p.terms[0].value) == ("literal", "ab")

    def test_between_and_in_take_column_terms(self):
        (p,) = parse_lookup_query(
            "SELECT tool FROM plans WHERE price BETWEEN qty AND qty + 10"
        ).disjuncts[0]
        assert p.op == "between"
        assert p.terms[0] == ("column", "qty") or (
            p.terms[0].kind,
            p.terms[0].value,
        ) == ("column", "qty")
        assert p.terms[1].kind == "column"
        (p,) = parse_lookup_query(
            "SELECT tool FROM plans WHERE price IN (qty, 7, :x)"
        ).disjuncts[0]
        assert [t.kind for t in p.terms] == ["column", "literal", "param"]

    def test_param_expression_rhs_accepted(self):
        # round-5 latest: params + literals on the rhs compile
        # fact-side (TestParamExpressions covers execution; expressions
        # MIXING dim columns with params stay rejected there)
        (p,) = parse_lookup_query(
            "SELECT tool FROM plans WHERE price = :k + 1"
        ).disjuncts[0]
        assert p.terms[0].kind == "param_expr"
        assert p.param_names == ["k"]

    def test_pure_equi_preserved_with_static_column_pred(self):
        q = parse_lookup_query(
            "SELECT tool FROM plans WHERE tool = :tool AND price > qty"
        )
        assert q.is_pure_equi  # static comparand rides the dim filter


class TestParseSubquery:
    def test_scalar_subquery_term(self):
        q = parse_lookup_query(
            "SELECT tool FROM plans WHERE price >= "
            "(SELECT avg(price) FROM plans)"
        )
        assert has_subqueries(q)
        (p,) = q.disjuncts[0]
        sq = p.terms[0].value
        assert (sq.func, sq.col, sq.table) == ("avg", "price", "plans")
        assert p.is_static

    def test_subquery_with_where_and_nesting(self):
        q = parse_lookup_query(
            "SELECT tool FROM plans WHERE price >= (SELECT max(price) "
            "FROM plans WHERE qty > (SELECT avg(qty) FROM plans))"
        )
        sq = q.disjuncts[0][0].terms[0].value
        inner = sq.where[0][0].terms[0].value
        assert (inner.func, inner.col) == ("avg", "qty")

    def test_subquery_expression_aggregate_arg(self):
        q = parse_lookup_query(
            "SELECT tool FROM plans WHERE price = "
            "(SELECT max(price * qty) FROM plans)"
        )
        sq = q.disjuncts[0][0].terms[0].value
        assert sq.col.startswith("__sq_expr")
        assert len(sq.computed) == 1

    def test_parameterized_subquery_accepted(self):
        # round-5 latest: an equality :param inside a subquery WHERE is
        # ACCEPTED — it compiles as a per-group aggregate frame
        # broadcast-joined onto the FACT by the bound param (the
        # set-at-a-time hoist of Derby re-executing the prepared
        # subquery per event); the param correlation rides the term
        q = parse_lookup_query(
            "SELECT tool FROM plans WHERE price >= "
            "(SELECT avg(price) FROM plans WHERE tool = :tool)"
        )
        (p,) = q.disjuncts[0]
        (t,) = p.terms
        assert t.kind == "subquery"
        assert t.value.param_corr and t.value.param_corr[0][0] == "tool"
        assert p.param_names == ["tool"]

    def test_parameterized_subquery_non_equality_accepted(self):
        # round-5 final: non-equality param predicates take the THETA
        # path — the whole sub-WHERE rides into a probe-time
        # distinct-tuple frame (goldens in test_lookup_theta_param.py)
        q = parse_lookup_query(
            "SELECT tool FROM plans WHERE price >= "
            "(SELECT avg(price) FROM plans WHERE price > :lim)"
        )
        sq = q.disjuncts[0][0].terms[0].value
        assert sq.param_theta and not sq.param_corr and not sq.where

    def test_parameterized_plus_correlated_rejected(self):
        with pytest.raises(ValidationError, match="BOTH correlated"):
            parse_lookup_query(
                "SELECT tool FROM plans p WHERE price >= "
                "(SELECT avg(price) FROM plans p2 "
                "WHERE p2.tool = p.tool AND p2.plan = :plan)"
            )

    def test_non_aggregate_subquery_rejected(self):
        with pytest.raises(ValidationError, match="scalar subqueries"):
            parse_lookup_query(
                "SELECT tool FROM plans WHERE price = "
                "(SELECT price FROM plans)"
            )

    def test_count_distinct_and_count_star(self):
        q = parse_lookup_query(
            "SELECT tool FROM plans WHERE qty = "
            "(SELECT count(DISTINCT tool) FROM plans) "
            "OR qty = (SELECT count(*) FROM plans)"
        )
        s1 = q.disjuncts[0][0].terms[0].value
        s2 = q.disjuncts[1][0].terms[0].value
        assert (s1.func, s1.col) == ("count_distinct", "tool")
        assert (s2.func, s2.col) == ("count", None)


class TestValidation:
    def test_unknown_comparand_column(self, spark):
        dim = spark.createDataFrame(PLAN_ROWS, PLANS)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "x",
                    "query": "SELECT tool FROM plans WHERE price = nope",
                    "parameters": {},
                }
            ]
        )
        with pytest.raises(ValidationError, match="comparand column 'nope'"):
            LookupEnricher(spec, {"plans": dim})

    def test_subquery_unknown_table(self, spark):
        dim = spark.createDataFrame(PLAN_ROWS, PLANS)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "x",
                    "query": (
                        "SELECT tool FROM plans WHERE price >= "
                        "(SELECT avg(price) FROM nothere)"
                    ),
                    "parameters": {},
                }
            ]
        )
        with pytest.raises(ValidationError, match="unknown local table"):
            LookupEnricher(spec, {"plans": dim})

    def test_having_unknown_alias_comparand(self):
        with pytest.raises(ValidationError, match="comparand 'zz'"):
            parse_lookup_query(
                "SELECT tool, count(*) AS n FROM plans "
                "GROUP BY tool HAVING n > zz"
            )


def _apply(spark, query, engines_kw, dims=None, params=None):
    facts = [("c0", 0, "t1"), ("c1", 1, "t2"), ("c2", 2, "t3"), ("c3", 3, None)]
    fact_df = spark.createDataFrame(facts, FACT)
    if dims is None:
        dims = {"plans": spark.createDataFrame(PLAN_ROWS, PLANS)}
    spec = PipelineSpec(
        lookups=[
            {
                "id": "hit",
                "query": query,
                "parameters": params if params is not None else {"tool": "tool"},
            }
        ]
    )
    out = LookupEnricher(spec, dims, **engines_kw).apply(fact_df)
    return {
        r["turn_idx"]: (
            None
            if r["hit"] is None
            else sorted(tuple(d.asDict().items()) for d in r["hit"])
        )
        for r in out.collect()
    }


class TestGoldenColumnRhs:
    @pytest.mark.parametrize("kw", ENGINES)
    def test_arith_comparand_all_paths(self, spark, kw):
        # price > qty * 2 matches (t1,10,3) and (t3 has 1>10 F, 8>16 F)
        got = _apply(
            spark,
            "SELECT price, qty FROM plans "
            "WHERE tool = :tool AND price > qty * 2",
            kw,
        )
        assert got[0] == [(("price", 10), ("qty", 3))]
        assert got[1] == []  # 7 > 14 false: valid-but-empty
        assert got[2] == []
        assert got[3] is None  # invalid param

    @pytest.mark.parametrize("kw", ENGINES)
    def test_subquery_threshold_all_paths(self, spark, kw):
        # avg(price) = 28/5 = 5.6 -> rows with price >= 5.6: 10, 7, 8
        got = _apply(
            spark,
            "SELECT price FROM plans WHERE tool = :tool "
            "AND price >= (SELECT avg(price) FROM plans)",
            kw,
        )
        assert got[0] == [(("price", 10),)]
        assert got[1] == [(("price", 7),)]
        assert got[2] == [(("price", 8),)]

    @pytest.mark.parametrize("kw", ENGINES)
    def test_cross_table_subquery(self, spark, kw):
        # subquery aggregates a DIFFERENT dim than the probed one
        caps = spark.createDataFrame(
            [("a", 7)], T.StructType(
                [
                    T.StructField("cat", T.StringType(), False),
                    T.StructField("hi", T.IntegerType(), False),
                ]
            )
        )
        dims = {
            "plans": spark.createDataFrame(PLAN_ROWS, PLANS),
            "caps": caps,
        }
        got = _apply(
            spark,
            "SELECT price FROM plans WHERE tool = :tool "
            "AND price > (SELECT max(hi) FROM caps)",
            kw,
            dims=dims,
        )
        assert got[0] == [(("price", 10),)]
        assert got[1] == []
        assert got[2] == [(("price", 8),)]


class TestSnapshotSemantics:
    def test_subquery_value_follows_the_snapshot(self, spark):
        """The scalar is evaluated per compile (refresh snapshot), so a
        reloaded dim recomputes it — the reference's re-execute-per-event
        semantics collapsed to once-per-snapshot."""
        spec = LookupSpec(
            {
                "id": "hit",
                "query": (
                    "SELECT price FROM plans "
                    "WHERE price >= (SELECT max(price) FROM plans)"
                ),
                "parameters": {},
            }
        )
        dim1 = spark.createDataFrame(PLAN_ROWS, PLANS)
        dim2 = spark.createDataFrame(
            [("t9", 100, 1)] + PLAN_ROWS, PLANS
        )
        facts = spark.createDataFrame([("c0", 0, "t1")], FACT)
        r1 = CompiledLookup(spec, dim1).apply(facts).collect()[0]
        r2 = CompiledLookup(spec, dim2).apply(facts).collect()[0]
        assert [d["price"] for d in r1["hit"]] == [10]
        assert [d["price"] for d in r2["hit"]] == [100]

    def test_resolve_subqueries_is_noop_without_subqueries(self):
        q = parse_lookup_query("SELECT tool FROM plans WHERE price = qty")
        out, dim = resolve_subqueries_with_dim(q, {}, None)
        assert out is q and dim is None


class TestTailExpressions:
    """Round-4: expressions (and expression aliases) in GROUP BY and
    ORDER BY — materialized as synthetic dim columns shared with
    structurally-equal projection/predicate expressions."""

    def test_group_by_alias_of_expression(self):
        q = parse_lookup_query(
            "SELECT substr(ip,1,3) AS pre, count(*) AS n FROM t "
            "WHERE k = :k GROUP BY pre"
        )
        assert q.group_by == ("__expr0",)
        assert q.projection == [("__expr0", "pre")]

    def test_group_by_expression_shares_projection_column(self):
        q = parse_lookup_query(
            "SELECT substr(ip,1,3) AS pre, count(*) AS n FROM t "
            "GROUP BY substr(ip,1,3)"
        )
        assert q.group_by == ("__expr0",)
        assert len(q.computed) == 1

    def test_order_by_expression(self):
        q = parse_lookup_query(
            "SELECT name FROM t WHERE k = :k "
            "ORDER BY length(name) DESC, name"
        )
        assert q.order_by == (("__expr0", False), ("name", True))

    def test_order_by_ordinal_rejected(self):
        with pytest.raises(ValidationError, match="constant/ordinal"):
            parse_lookup_query("SELECT name FROM t ORDER BY 1")

    def test_plain_alias_not_resolved_in_group_by(self):
        # Derby rule: GROUP BY names source columns; only synthetic
        # expression aliases resolve
        q = parse_lookup_query(
            "SELECT cat AS c2, count(*) AS n FROM t GROUP BY cat"
        )
        assert q.group_by == ("cat",)

    @pytest.mark.parametrize("kw", ENGINES)
    def test_group_by_expression_all_paths(self, spark, kw):
        got = _apply(
            spark,
            "SELECT CASE WHEN price >= 5 THEN 'hi' ELSE 'lo' END AS band, "
            "count(*) AS n FROM plans WHERE tool = :tool GROUP BY band",
            kw,
        )
        # t1: prices 10,2 -> hi:1, lo:1
        assert got[0] == [(("band", "hi"), ("n", 1)), (("band", "lo"), ("n", 1))]
        # t3: prices 1,8 -> hi:1, lo:1
        assert got[2] == [(("band", "hi"), ("n", 1)), (("band", "lo"), ("n", 1))]

    @pytest.mark.parametrize("kw", ENGINES)
    def test_order_by_expression_all_paths(self, spark, kw):
        got = _apply(
            spark,
            "SELECT price, qty FROM plans WHERE tool = :tool "
            "ORDER BY price * qty DESC LIMIT 1",
            kw,
        )
        # t1: 10*3=30 vs 2*9=18 -> keep (10,3)
        assert got[0] == [(("price", 10), ("qty", 3))]
        # t3: 1*5=5 vs 8*8=64 -> keep (8,8)
        assert got[2] == [(("price", 8), ("qty", 8))]


class TestAggregateExpressions:
    """Round-4: aggregates over scalar expressions — sum(price*qty),
    max(length(c)), count(DISTINCT upper(c)) — the argument
    materializes as a synthetic dim column the aggregate runs over."""

    def test_parse_agg_expr(self):
        q = parse_lookup_query(
            "SELECT sum(price*qty) AS rev FROM t WHERE k = :k"
        )
        assert q.aggregates == (("sum", "__expr0", "rev"),)
        assert len(q.computed) == 1

    def test_count_distinct_expression(self):
        q = parse_lookup_query(
            "SELECT count(DISTINCT upper(name)) AS n FROM t"
        )
        assert q.aggregates[0][0] == "count_distinct"

    def test_having_matches_expression_spelling_variants(self):
        q = parse_lookup_query(
            "SELECT cat, sum(price*qty) AS rev FROM t GROUP BY cat "
            "HAVING sum( price * qty ) > 20"
        )
        (p,) = q.having[0]
        assert p.dim_column == "rev"

    def test_having_unmatched_expression_raises(self):
        with pytest.raises(ValidationError, match="does not match any"):
            parse_lookup_query(
                "SELECT cat, sum(price*qty) AS rev FROM t GROUP BY cat "
                "HAVING sum(price + qty) > 20"
            )

    def test_distinct_under_non_count_accepted(self):
        # round-5 final: DISTINCT under every set function — over an
        # expression too (goldens in test_distinct_aggregates.py)
        q = parse_lookup_query("SELECT avg(DISTINCT price*2) AS a FROM t")
        ((func, _col, alias),) = q.aggregates
        assert (func, alias) == ("avg_distinct", "a")

    @pytest.mark.parametrize("kw", ENGINES)
    def test_sum_product_all_paths(self, spark, kw):
        got = _apply(
            spark,
            "SELECT sum(price*qty) AS rev, count(*) AS n FROM plans "
            "WHERE tool = :tool",
            kw,
        )
        # t1: 10*3 + 2*9 = 48 over 2 rows
        assert got[0] == [(("rev", 48), ("n", 2))]
        # t2: 7*7 = 49
        assert got[1] == [(("rev", 49), ("n", 1))]
        # invalid param -> None
        assert got[3] is None

    @pytest.mark.parametrize("kw", ENGINES)
    def test_grouped_agg_expr_with_having(self, spark, kw):
        got = _apply(
            spark,
            "SELECT tool, sum(price*qty) AS rev FROM plans "
            "WHERE tool = :tool GROUP BY tool "
            "HAVING sum(price * qty) >= 49",
            kw,
        )
        assert got[0] == []  # t1 rev 48 filtered out
        assert got[1] == [(("tool", "t2"), ("rev", 49))]


class TestCorrelatedSubquery:
    """Round-4: correlated scalar subqueries — ``WHERE price >
    (SELECT avg(p2.price) FROM plans p2 WHERE p2.cat = plans.cat)``.
    Derby nests the execution per outer row; here the sub-aggregation
    runs ONCE per refresh snapshot grouped by its correlation keys and
    left-joins onto the dim, so the predicate compiles as a static
    column comparand on every physical path."""

    CAT_PLANS = T.StructType(
        [
            T.StructField("tool", T.StringType(), False),
            T.StructField("cat", T.StringType(), False),
            T.StructField("price", T.IntegerType(), False),
        ]
    )
    CAT_ROWS = [
        ("t1", "a", 10),
        ("t1", "a", 2),
        ("t2", "b", 7),
        ("t3", "c", 8),
        ("t3", "c", 1),
        ("t2", "b", 3),
    ]

    def test_parse_extracts_correlation(self):
        q = parse_lookup_query(
            "SELECT name FROM t WHERE num > "
            "(SELECT avg(num) FROM u WHERE u.cat = t.cat AND u.x = 1)"
        )
        sq = q.disjuncts[0][0].terms[0].value
        assert sq.corr == (("cat", "cat"),)
        assert len(sq.where) == 1  # the static residue u.x = 1

    def test_non_equi_correlation_accepted(self):
        # round-5 late: plain inequality correlations are accepted in
        # scalar subqueries (theta-join decorrelation); SEVERAL at
        # once too, since round-5 latest — the per-tuple theta frame
        # takes the whole conjunction
        q = parse_lookup_query(
            "SELECT name FROM t WHERE num > "
            "(SELECT avg(num) FROM u WHERE u.cat > t.cat)"
        )
        sq = q.disjuncts[0][0].terms[0].value
        assert sq.ineq == (("cat", ">", "cat"),)
        q = parse_lookup_query(
            "SELECT name FROM t WHERE num > "
            "(SELECT avg(num) FROM u "
            "WHERE u.cat > t.cat AND u.x < t.num)"
        )
        sq = q.disjuncts[0][0].terms[0].value
        assert sq.ineq == (("cat", ">", "cat"), ("x", "<", "num"))

    def test_or_around_correlation_rejected(self):
        with pytest.raises(ValidationError, match="pure AND"):
            parse_lookup_query(
                "SELECT name FROM t WHERE num > "
                "(SELECT avg(num) FROM u WHERE u.cat = t.cat OR u.x = 1)"
            )

    def test_join_mode_correlation_keeps_qualified_outer(self):
        # round-5: correlated scalar subqueries are legal in JOIN
        # lookups — the outer reference keeps its "alias.col" spelling
        # for build_join_dim to map onto the derived dim's flat names
        q = parse_lookup_query(
            "SELECT a.name AS name FROM t a JOIN v b ON a.k = b.k "
            "WHERE a.num > (SELECT avg(num) FROM u WHERE u.cat = a.cat)"
        )
        sq = q.disjuncts[0][0].terms[0].value
        assert sq.corr == (("cat", "a.cat"),)

    def _run(self, spark, query, kw):
        facts = [("c0", 0, "t1"), ("c1", 1, "t2"), ("c2", 2, "t3"), ("c3", 3, None)]
        dims = {"plans": spark.createDataFrame(self.CAT_ROWS, self.CAT_PLANS)}
        spec = PipelineSpec(
            lookups=[
                {"id": "u", "query": query, "parameters": {"tool": "tool"}}
            ]
        )
        out = LookupEnricher(spec, dims, **kw).apply(
            spark.createDataFrame(facts, FACT)
        )
        return {
            r["turn_idx"]: (
                None
                if r["u"] is None
                else sorted(tuple(d.asDict().items()) for d in r["u"])
            )
            for r in out.collect()
        }

    @pytest.mark.parametrize("kw", ENGINES)
    def test_same_table_per_group_average(self, spark, kw):
        got = self._run(
            spark,
            "SELECT price FROM plans WHERE tool = :tool AND price > "
            "(SELECT avg(p2.price) FROM plans p2 WHERE p2.cat = plans.cat)",
            kw,
        )
        # cat a avg 6 -> keeps 10; cat b avg 5 -> keeps 7; cat c avg 4.5 -> keeps 8
        assert got[0] == [(("price", 10),)]
        assert got[1] == [(("price", 7),)]
        assert got[2] == [(("price", 8),)]
        assert got[3] is None

    @pytest.mark.parametrize("kw", ENGINES)
    def test_count_of_empty_group_is_zero(self, spark, kw):
        # correlate against a second dim with NO rows for cat c: the
        # count must be 0 (not NULL), so "price > count" still evaluates
        caps = spark.createDataFrame(
            [("a", 1), ("b", 2)], "cat string, x int"
        )
        facts = [("c0", 0, "t1"), ("c2", 2, "t3")]
        dims = {
            "plans": spark.createDataFrame(self.CAT_ROWS, self.CAT_PLANS),
            "caps": caps,
        }
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "u",
                    "query": (
                        "SELECT price FROM plans WHERE tool = :tool AND "
                        "price > (SELECT count(*) FROM caps "
                        "WHERE caps.cat = plans.cat)"
                    ),
                    "parameters": {"tool": "tool"},
                }
            ]
        )
        out = LookupEnricher(spec, dims, **kw).apply(
            spark.createDataFrame(facts, FACT)
        )
        got = {
            r["turn_idx"]: sorted(d["price"] for d in r["u"])
            for r in out.collect()
        }
        # t1 cat a count 1 -> 10,2 > 1 keeps both; t3 cat c count 0 -> 8,1 > 0 keeps both
        assert got[0] == [2, 10]
        assert got[2] == [1, 8]

    def test_select_star_excludes_correlation_column(self, spark):
        got = self._run(
            spark,
            "SELECT * FROM plans WHERE tool = :tool AND price > "
            "(SELECT avg(p2.price) FROM plans p2 WHERE p2.cat = plans.cat)",
            {},
        )
        (payload,) = got[1]
        assert [k for k, _ in payload] == ["tool", "cat", "price"]


class TestInSubquery:
    """Round-4: [NOT] IN (SELECT col FROM t [WHERE static]) — the value
    set collects once per refresh snapshot (distinct, size-capped) and
    expands into a literal IN list; empty sets follow SQL (IN () FALSE,
    NOT IN () TRUE, decided even for NULL lhs)."""

    ALLOW = T.StructType(
        [
            T.StructField("cat", T.StringType(), False),
            T.StructField("ok", T.IntegerType(), False),
        ]
    )
    CAT_PLANS = TestCorrelatedSubquery.CAT_PLANS
    CAT_ROWS = TestCorrelatedSubquery.CAT_ROWS

    def test_parse_in_subquery(self):
        q = parse_lookup_query(
            "SELECT name FROM t WHERE cat IN "
            "(SELECT cat FROM allow WHERE ok = 1) AND k = :k"
        )
        p = q.disjuncts[0][0]
        assert p.op == "in"
        sq = p.terms[0].value
        assert (sq.func, sq.col, sq.table) == ("__values", "cat", "allow")
        assert q.is_pure_equi  # the IN-set rides as a dim-side filter

    def test_correlated_in_subquery_accepted_since_round5(self):
        # round 4 rejected this; round 5 compiles it to per-group
        # value-set columns + the static in_set op
        # (tests/test_lookup_exists.py has the golden/plan coverage)
        q = parse_lookup_query(
            "SELECT name FROM t WHERE cat IN "
            "(SELECT u2.cat FROM u u2 WHERE u2.k = t.k)"
        )
        (pred,) = q.disjuncts[0]
        assert pred.op == "in"
        assert pred.terms[0].value.corr == (("k", "k"),)

    def test_nested_in_subquery_accepted(self, spark):
        # round-5 latest: an uncorrelated IN nested inside another
        # subquery expands to a literal list at resolution
        # (TestNestedSetSubqueries covers the correlated forms)
        dims = {
            "plans": spark.createDataFrame(self.CAT_ROWS, self.CAT_PLANS),
            "allow": spark.createDataFrame([("a", 1)], self.ALLOW),
        }
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "u",
                    "query": (
                        "SELECT price FROM plans WHERE price > "
                        "(SELECT max(price) FROM plans WHERE cat IN "
                        "(SELECT cat FROM allow))"
                    ),
                    "parameters": {},
                }
            ]
        )
        LookupEnricher(spec, dims)  # compiles without raising

    @pytest.mark.parametrize("kw", ENGINES)
    @pytest.mark.parametrize("neg", ["", "NOT "])
    def test_in_subquery_all_paths(self, spark, kw, neg):
        facts = [("c0", 0, "t1"), ("c1", 1, "t2"), ("c2", 2, "t3")]
        dims = {
            "plans": spark.createDataFrame(self.CAT_ROWS, self.CAT_PLANS),
            "allow": spark.createDataFrame(
                [("a", 1), ("b", 0), ("d", 1)], self.ALLOW
            ),
        }
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "u",
                    "query": (
                        f"SELECT price FROM plans WHERE tool = :tool AND "
                        f"cat {neg}IN (SELECT cat FROM allow WHERE ok = 1)"
                    ),
                    "parameters": {"tool": "tool"},
                }
            ]
        )
        out = LookupEnricher(spec, dims, **kw).apply(
            spark.createDataFrame(facts, FACT)
        )
        got = {
            r["turn_idx"]: sorted(d["price"] for d in r["u"])
            for r in out.collect()
        }
        if neg:
            # cat b/c not in {a, d}
            assert got == {0: [], 1: [3, 7], 2: [1, 8]}
        else:
            assert got == {0: [2, 10], 1: [], 2: []}

    @pytest.mark.parametrize("neg,expect", [("", []), ("NOT ", [2, 10])])
    def test_empty_set_semantics(self, spark, neg, expect):
        facts = [("c0", 0, "t1")]
        dims = {
            "plans": spark.createDataFrame(self.CAT_ROWS, self.CAT_PLANS),
            "allow": spark.createDataFrame([("a", 1)], self.ALLOW),
        }
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "u",
                    "query": (
                        f"SELECT price FROM plans WHERE tool = :tool AND "
                        f"cat {neg}IN (SELECT cat FROM allow WHERE ok = 9)"
                    ),
                    "parameters": {"tool": "tool"},
                }
            ]
        )
        out = LookupEnricher(spec, dims).apply(
            spark.createDataFrame(facts, FACT)
        )
        (row,) = out.collect()
        assert sorted(d["price"] for d in row["u"]) == expect


class TestHavingSubquery:
    """Round-5 widening: UNCORRELATED scalar / row-set subqueries as
    HAVING comparands (Derby runs them verbatim, lookup.rb:131-147).
    They resolve to literals once per refresh snapshot, so the HAVING
    filter over the aggregated payload rows compiles unchanged.
    Correlated subqueries stay rejected — HAVING runs over payload
    fields, not dim rows."""

    PLANS3 = T.StructType(
        [
            T.StructField("tool", T.StringType(), False),
            T.StructField("plan", T.StringType(), True),
            T.StructField("price", T.IntegerType(), False),
        ]
    )
    ROWS3 = [
        ("t1", "basic", 10),
        ("t1", "basic", 2),
        ("t1", "pro", 7),
        ("t2", "pro", 8),
        ("t2", "trial", 1),
    ]

    def test_parse_inner_aggregate_not_rewritten(self):
        # the HAVING rewriter maps SELECTed aggregate calls to their
        # aliases; a subquery's own count(*) must stay the SUBQUERY's
        q = parse_lookup_query(
            "SELECT plan AS plan, count(*) AS n FROM t WHERE a = :a "
            "GROUP BY plan HAVING n > (SELECT count(*) FROM u WHERE x = 1)"
        )
        sq = q.having[0][0].terms[0].value
        assert (sq.func, sq.col, sq.table) == ("count", None, "u")
        assert sq.where[0][0].dim_column == "x"

    def test_parse_sub_qualifiers_stay_sub_scoped(self):
        q = parse_lookup_query(
            "SELECT plan AS plan, sum(price) AS total FROM t "
            "WHERE a = :a GROUP BY plan "
            "HAVING total >= (SELECT avg(u2.price) FROM u u2 "
            "WHERE u2.x = 1)"
        )
        sq = q.having[0][0].terms[0].value
        assert (sq.func, sq.col) == ("avg", "price")

    def test_correlated_having_subquery_parses(self):
        # round-5 latest: correlated HAVING subqueries PARSE (the
        # group-key rule is enforced at resolution —
        # TestCorrelatedHavingSubquery); unknown qualifiers still raise
        q = parse_lookup_query(
            "SELECT plan AS plan, count(*) AS n FROM t WHERE a = :a "
            "GROUP BY plan "
            "HAVING n > (SELECT count(*) FROM u WHERE u.x = t.plan)"
        )
        ((p,),) = q.having
        sq = p.terms[0].value
        assert sq.corr == (("x", "plan"),)
        with pytest.raises(ValidationError, match="unknown qualifier"):
            parse_lookup_query(
                "SELECT plan AS plan, count(*) AS n FROM t WHERE a = :a "
                "GROUP BY plan "
                "HAVING n > (SELECT count(*) FROM u WHERE u.x = zz.plan)"
            )

    def _run(self, spark, having, kw=None):
        q = (
            "SELECT plan AS plan, sum(price) AS total FROM plans "
            "WHERE tool = :tool GROUP BY plan HAVING " + having
        )
        spec = PipelineSpec(
            lookups=[{"id": "h", "query": q, "parameters": {"tool": "tool"}}]
        )
        dims = {"plans": spark.createDataFrame(self.ROWS3, self.PLANS3)}
        facts = spark.createDataFrame(
            [("t1",), ("t2",), ("t9",)], "tool: string"
        )
        out = LookupEnricher(spec, dims, **(kw or {})).apply(facts)
        return {
            r["tool"]: sorted((d["plan"], d["total"]) for d in r["h"])
            for r in out.select("tool", "h").collect()
        }

    @pytest.mark.parametrize("kw", ENGINES)
    def test_scalar_subquery_comparand(self, spark, kw):
        # overall avg price = 28/5 = 5.6; groups: t1 basic 12, pro 7;
        # t2 pro 8, trial 1 — trial drops
        got = self._run(
            spark, "total >= (SELECT avg(price) FROM plans)", kw
        )
        assert got == {
            "t1": [("basic", 12), ("pro", 7)],
            "t2": [("pro", 8)],
            "t9": [],
        }

    def test_row_set_subquery_comparand(self, spark):
        # per-tool totals IN the price set {10,2,7,8,1}: t1 pro 7 and
        # t2 pro 8 match; 12 and 1... trial total 1 IS in the set
        got = self._run(
            spark, "total IN (SELECT price FROM plans)"
        )
        assert got == {
            "t1": [("pro", 7)],
            "t2": [("pro", 8), ("trial", 1)],
            "t9": [],
        }

    def test_matches_row_oracle(self, spark):
        from logstash_filter_jdbc_static_spark import oracle

        q = (
            "SELECT plan AS plan, count(*) AS n FROM plans "
            "WHERE tool = :tool GROUP BY plan "
            "HAVING n >= (SELECT count(*) FROM plans WHERE price > 7)"
        )
        spec = PipelineSpec(
            lookups=[{"id": "h", "query": q, "parameters": {"tool": "tool"}}]
        )
        dims = {"plans": spark.createDataFrame(self.ROWS3, self.PLANS3)}
        facts = spark.createDataFrame(
            [("t1",), ("t2",), ("t9",)], "tool: string"
        )
        got = {
            r["tool"]: sorted((d["plan"], d["n"]) for d in r["h"])
            for r in LookupEnricher(spec, dims).apply(facts).collect()
        }
        tables = {
            "plans": [
                {"tool": t, "plan": p, "price": pr}
                for t, p, pr in self.ROWS3
            ]
        }
        exp = {}
        for tool in ("t1", "t2", "t9"):
            ev = {"tool": tool}
            oracle.enhance(
                ev,
                PipelineSpec(lookups=[{
                    "id": "h", "query": q, "parameters": {"tool": "tool"}
                }]),
                tables,
            )
            exp[tool] = sorted((d["plan"], d["n"]) for d in ev["h"])
        assert got == exp


class TestGroupedTail:
    """Round-5 latest: ORDER BY + LIMIT/OFFSET/FETCH combined with
    GROUP BY or an aggregate projection — Derby's single-SELECT
    top-N-per-key shape (the reference executes it verbatim,
    lib/logstash/filters/jdbc/lookup.rb:131-147; legality pinned
    natively in test_jdbc_derby.py::TestDerbyGrammarLegality). The
    sort runs over the AGGREGATED payload rows, so ORDER BY items name
    SELECT output aliases (or the source spelling of a projected group
    key); Derby result-order semantics (NULL largest) with the
    all-payload-field tiebreak keep the slice deterministic."""

    GPLANS = T.StructType(
        [
            T.StructField("tool", T.StringType(), False),
            T.StructField("price", T.IntegerType(), False),
            T.StructField("qty", T.IntegerType(), False),
            T.StructField("plan", T.StringType(), True),
        ]
    )
    GPLAN_ROWS = [
        ("t1", 10, 1, "basic"),
        ("t1", 4, 1, "basic"),   # basic: tot 14
        ("t1", 5, 1, None),      # NULL:  tot 5
        ("t1", 3, 1, "pro"),
        ("t1", 3, 1, "pro"),     # pro:   tot 6
        ("t2", 7, 1, "pro"),
        ("t3", 6, 1, "a"),       # equal tots: tiebreak on plan
        ("t3", 6, 1, "b"),
    ]

    def _apply_ordered(self, spark, query, engines_kw, default=None):
        """Like module-level _apply but PRESERVES payload row order —
        the whole point of the grouped tail."""
        facts = [
            ("c0", 0, "t1"), ("c1", 1, "t2"), ("c2", 2, "t3"),
            ("c3", 3, "t9"), ("c4", 4, None),
        ]
        fact_df = spark.createDataFrame(facts, FACT)
        lk = {"id": "hit", "query": query, "parameters": {"tool": "tool"}}
        if default is not None:
            lk["default_hash"] = default
        spec = PipelineSpec(lookups=[lk])
        dims = {"gplans": spark.createDataFrame(self.GPLAN_ROWS, self.GPLANS)}
        out = LookupEnricher(spec, dims, **engines_kw).apply(fact_df)
        return {
            r["turn_idx"]: (
                None
                if r["hit"] is None
                else [tuple(d.asDict().items()) for d in r["hit"]]
            )
            for r in out.collect()
        }

    @pytest.mark.parametrize("kw", ENGINES)
    def test_topn_per_group_all_paths(self, spark, kw):
        got = self._apply_ordered(
            spark,
            "SELECT plan AS plan, sum(price) AS tot FROM gplans "
            "WHERE tool = :tool GROUP BY plan "
            "ORDER BY tot DESC FETCH FIRST 2 ROWS ONLY",
            kw,
        )
        # t1 groups basic:14, pro:6, NULL:5 -> top-2 IN ORDER
        assert got[0] == [
            (("plan", "basic"), ("tot", 14)),
            (("plan", "pro"), ("tot", 6)),
        ]
        assert got[1] == [(("plan", "pro"), ("tot", 7))]
        assert got[3] == []       # valid-but-empty: zero groups
        assert got[4] is None     # invalid param

    @pytest.mark.parametrize("kw", ENGINES)
    def test_offset_skips_top_group(self, spark, kw):
        got = self._apply_ordered(
            spark,
            "SELECT plan AS plan, sum(price) AS tot FROM gplans "
            "WHERE tool = :tool GROUP BY plan "
            "ORDER BY tot DESC OFFSET 1 ROWS",
            kw,
        )
        assert got[0] == [
            (("plan", "pro"), ("tot", 6)),
            (("plan", None), ("tot", 5)),
        ]
        assert got[1] == []  # single group, offset past end

    @pytest.mark.parametrize("kw", ENGINES)
    def test_null_group_key_sorts_largest(self, spark, kw):
        asc = self._apply_ordered(
            spark,
            "SELECT plan AS plan, count(*) AS n FROM gplans "
            "WHERE tool = :tool GROUP BY plan ORDER BY plan LIMIT 3",
            kw,
        )
        # Derby result order: NULL is the LARGEST value (nulls last ASC)
        assert [dict(r)["plan"] for r in asc[0]] == ["basic", "pro", None]
        desc = self._apply_ordered(
            spark,
            "SELECT plan AS plan, count(*) AS n FROM gplans "
            "WHERE tool = :tool GROUP BY plan ORDER BY plan DESC LIMIT 1",
            kw,
        )
        assert [dict(r)["plan"] for r in desc[0]] == [None]

    @pytest.mark.parametrize("kw", ENGINES)
    def test_equal_keys_tiebreak_on_payload_fields(self, spark, kw):
        got = self._apply_ordered(
            spark,
            "SELECT plan AS plan, sum(price) AS tot FROM gplans "
            "WHERE tool = :tool GROUP BY plan ORDER BY tot DESC LIMIT 2",
            kw,
        )
        # t3: both groups tot=6 -> deterministic payload-field
        # tiebreak (plan ASC, null-largest convention)
        assert got[2] == [
            (("plan", "a"), ("tot", 6)),
            (("plan", "b"), ("tot", 6)),
        ]

    @pytest.mark.parametrize("kw", ENGINES)
    def test_offset_empties_grouped_result_fires_default(self, spark, kw):
        got = self._apply_ordered(
            spark,
            "SELECT plan AS plan, sum(price) AS tot FROM gplans "
            "WHERE tool = :tool GROUP BY plan "
            "ORDER BY tot DESC OFFSET 5 ROWS",
            kw,
            default={"plan": "dflt", "tot": -1},
        )
        # Derby returns zero rows once OFFSET passes the end -> the
        # default fires, exactly like an empty match set
        assert got[0] == [(("plan", "dflt"), ("tot", -1))]
        assert got[1] == [(("plan", "dflt"), ("tot", -1))]
        assert got[3] == [(("plan", "dflt"), ("tot", -1))]

    @pytest.mark.parametrize("kw", ENGINES)
    def test_ungrouped_aggregate_offset_can_empty(self, spark, kw):
        # ORDER BY over the single aggregate row is a validated no-op;
        # OFFSET 1 skips it -> zero rows -> default fires even though
        # an aggregate over an empty set normally always yields a row
        got = self._apply_ordered(
            spark,
            "SELECT count(*) AS n FROM gplans WHERE tool = :tool "
            "ORDER BY n OFFSET 1 ROWS",
            kw,
            default={"n": -1},
        )
        assert got[0] == [(("n", -1),)]
        assert got[4] is None  # invalid param still wins
        kept = self._apply_ordered(
            spark,
            "SELECT count(*) AS n FROM gplans WHERE tool = :tool "
            "ORDER BY n DESC LIMIT 1",
            kw,
        )
        assert kept[0] == [(("n", 5),)]
        assert kept[3] == [(("n", 0),)]  # empty set: one row, n=0

    @pytest.mark.parametrize("kw", ENGINES)
    def test_join_mode_grouped_tail(self, spark, kw):
        tiers = spark.createDataFrame(
            [("basic", 1), ("pro", 2)], "plan: string, tier: int"
        )
        facts = [("c0", 0, "t1"), ("c1", 1, "t2"), ("c3", 3, "t9")]
        fact_df = spark.createDataFrame(facts, FACT)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "hit",
                    "query": (
                        "SELECT p.plan AS plan, sum(p.price * t.tier) "
                        "AS wtot FROM gplans p JOIN tiers t "
                        "ON p.plan = t.plan WHERE p.tool = :tool "
                        "GROUP BY p.plan "
                        "ORDER BY wtot DESC FETCH FIRST 1 ROWS ONLY"
                    ),
                    "parameters": {"tool": "tool"},
                }
            ]
        )
        dims = {
            "gplans": spark.createDataFrame(self.GPLAN_ROWS, self.GPLANS),
            "tiers": tiers,
        }
        out = LookupEnricher(spec, dims, **kw).apply(fact_df)
        got = {
            r["turn_idx"]: (
                None if r["hit"] is None
                else [tuple(d.asDict().items()) for d in r["hit"]]
            )
            for r in out.collect()
        }
        # t1: basic 14*1=14, pro 6*2=12 (NULL plan drops in the join)
        assert got[0] == [(("plan", "basic"), ("wtot", 14))]
        assert got[1] == [(("plan", "pro"), ("wtot", 14))]
        assert got[3] == []

    def test_order_by_source_spelling_resolves_to_alias(self):
        q = parse_lookup_query(
            "SELECT plan AS p, count(*) AS n FROM gplans "
            "GROUP BY plan ORDER BY plan DESC LIMIT 1"
        )
        assert q.order_by == (("p", False),)
        qj = parse_lookup_query(
            "SELECT g.plan AS p, count(*) AS n FROM gplans g "
            "GROUP BY g.plan ORDER BY g.plan LIMIT 1"
        )
        assert qj.order_by == (("p", True),)

    def test_order_by_expression_on_grouped_rejected(self):
        # an aggregate spelled in ORDER BY is caught by the scalar
        # expression layer (aggregates are whole projection items) ...
        with pytest.raises(ValidationError, match="aggregate"):
            parse_lookup_query(
                "SELECT plan, sum(price) AS tot FROM gplans "
                "GROUP BY plan ORDER BY sum(price) LIMIT 1"
            )
        # ... and a scalar expression over the grouped payload is
        # directed to alias it in the SELECT list
        with pytest.raises(ValidationError, match="alias the"):
            parse_lookup_query(
                "SELECT plan, sum(price) AS tot FROM gplans "
                "GROUP BY plan ORDER BY plan || 'x' LIMIT 1"
            )

    def test_order_by_unselected_column_rejected(self):
        with pytest.raises(ValidationError, match="not a selected"):
            parse_lookup_query(
                "SELECT plan, count(*) AS n FROM gplans "
                "GROUP BY plan ORDER BY qty LIMIT 1"
            )

    def test_distinct_with_group_by_still_rejected(self):
        with pytest.raises(ValidationError, match="DISTINCT"):
            parse_lookup_query(
                "SELECT DISTINCT plan FROM gplans GROUP BY plan"
            )


class TestParamExpressions:
    """Round-5 latest: expressions over :name/? params + literals on
    the predicate RIGHT-hand side (``price > :lim * 2``,
    ``name LIKE 'srv-' || :suffix || '%'``). Derby binds and evaluates
    these per event (lookup.rb:131-147; legality re-proven via prepared
    statements in test_jdbc_derby.py); Spark-first they compile to
    FACT-side Columns — the bound event Columns substituted into the
    expression AST — so every physical path keeps its plan shape, and
    a param-expression equality even works as the broadcast-hash equi
    KEY. Expressions MIXING dim columns with params are accepted too
    (round-5 latest, TestMixedExpressions) — they compile inside the
    theta probe condition instead."""

    PDIM = T.StructType(
        [
            T.StructField("tool", T.StringType(), False),
            T.StructField("price", T.IntegerType(), False),
            T.StructField("name", T.StringType(), False),
        ]
    )
    PDIM_ROWS = [
        ("t1", 10, "srv-a"),
        ("t1", 4, "srv-b"),
        ("t2", 7, "box-a"),
        ("t2", 20, "srv-c"),
        ("t3", 2, "srv-a1"),
    ]
    PFACT = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("tool", T.StringType(), True),
            T.StructField("lim", T.IntegerType(), True),
            T.StructField("suffix", T.StringType(), True),
        ]
    )
    PFACTS = [
        ("c0", 0, "t1", 3, "a"),
        ("c1", 1, "t2", 9, "c"),
        ("c2", 2, "t3", 1, "z"),
        ("c3", 3, "t1", None, "b"),   # NULL numeric param
        ("c4", 4, None, 3, "a"),      # NULL string param
    ]

    def _apply(self, spark, query, kw, binds=None, prepared=None):
        lk: dict = {"id": "x", "query": query}
        if prepared is not None:
            lk["prepared_parameters"] = prepared
        else:
            lk["parameters"] = binds or {
                "tool": "tool", "lim": "lim", "suffix": "suffix"
            }
        spec = PipelineSpec(lookups=[lk])
        out = LookupEnricher(
            spec,
            {"dim": spark.createDataFrame(self.PDIM_ROWS, self.PDIM)},
            **kw,
        ).apply(spark.createDataFrame(self.PFACTS, self.PFACT))
        return {
            r["turn_idx"]: (
                None
                if r["x"] is None
                else sorted(tuple(d.asDict().items()) for d in r["x"])
            )
            for r in out.collect()
        }

    @pytest.mark.parametrize("kw", ENGINES)
    def test_arith_rhs_inequality(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT price FROM dim WHERE tool = :tool "
            "AND price > :lim * 2",
            kw,
        )
        assert got[0] == [(("price", 10),)]          # 10 > 6, 4 is not
        assert got[1] == [(("price", 20),)]          # 20 > 18, 7 is not
        # t3 lim=1 -> price > 2: dim t3 has price 2 only -> []
        assert got[2] == []
        assert got[3] is None                        # NULL param -> invalid
        assert got[4] is None

    @pytest.mark.parametrize("kw", ENGINES)
    def test_param_expr_as_equi_key(self, spark, kw):
        # only the used param is declared: EVERY declared parameter
        # must bind (reference semantics — lookup.rb fails the event
        # when any declared parameter is nil), so c3's NULL lim would
        # otherwise invalidate a row this query never reads lim for
        got = self._apply(
            spark,
            "SELECT price FROM dim WHERE name = 'srv-' || :suffix",
            kw,
            binds={"suffix": "suffix"},
        )
        assert got[0] == [(("price", 10),)]          # srv-a
        assert got[1] == [(("price", 20),)]          # srv-c
        assert got[2] == []                          # srv-z: miss
        assert got[3] == [(("price", 4),)]           # srv-b
        assert got[4] == [(("price", 10),)]          # suffix 'a' again

    @pytest.mark.parametrize("kw", ENGINES)
    def test_between_param_expr_bounds(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT name FROM dim WHERE tool = :tool "
            "AND price BETWEEN :lim - 2 AND :lim + 5",
            kw,
        )
        assert got[0] == [(("name", "srv-b"),)]      # 1..8 hits 4
        assert got[1] == [(("name", "box-a"),)]      # 7..14 hits 7
        assert got[2] == [(("name", "srv-a1"),)]     # -1..6 hits 2
        assert got[3] is None

    @pytest.mark.parametrize("kw", ENGINES)
    def test_like_computed_pattern(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT price FROM dim "
            "WHERE name LIKE 'srv-' || :suffix || '%'",
            kw,
        )
        assert got[0] == [(("price", 2),), (("price", 10),)]  # srv-a, srv-a1
        assert got[1] == [(("price", 20),)]
        assert got[2] == []
        assert got[4] is None

    @pytest.mark.parametrize("kw", ENGINES)
    def test_in_list_param_exprs(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT name FROM dim WHERE price IN (:lim * 2, :lim + 1, 20)",
            kw,
        )
        # lim=3 -> {6, 4, 20}: srv-b(4), srv-c(20)
        assert got[0] == [(("name", "srv-b"),), (("name", "srv-c"),)]
        # lim=9 -> {18, 10, 20}: srv-a(10), srv-c(20)
        assert got[1] == [(("name", "srv-a"),), (("name", "srv-c"),)]
        assert got[3] is None

    @pytest.mark.parametrize("kw", ENGINES)
    def test_prepared_positional_in_expression(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT price FROM dim WHERE tool = ? AND price > ? * 2",
            kw,
            prepared=["tool", "lim"],
        )
        assert got[0] == [(("price", 10),)]
        assert got[1] == [(("price", 20),)]
        assert got[3] is None

    def test_parse_kinds_and_positional_order(self):
        q = parse_lookup_query(
            "SELECT price FROM dim WHERE tool = ? AND price > ? * 2 + ?"
        )
        p_eq, p_gt = q.disjuncts[0]
        assert p_eq.terms[0].kind == "param"
        assert p_eq.terms[0].value == "p0"
        assert p_gt.terms[0].kind == "param_expr"
        assert p_gt.param_names == ["p1", "p2"]

    def test_mixed_dim_and_param_parses_as_mixed_term(self):
        # round-5 latest: no longer rejected — the mix compiles inside
        # the theta probe (TestMixedExpressions); here just pin the
        # parse representation
        q = parse_lookup_query(
            "SELECT price FROM dim WHERE price = qty + :k"
        )
        (preds,) = q.disjuncts
        assert [t.kind for p in preds for t in p.terms] == ["mixed_expr"]

    def test_param_expr_inside_subquery_accepted(self):
        # round-5 final: a param EXPRESSION in a non-equality subquery
        # predicate takes the THETA path
        q = parse_lookup_query(
            "SELECT price FROM dim WHERE price > "
            "(SELECT avg(price) FROM dim WHERE price > :k * 2)"
        )
        sq = q.disjuncts[0][0].terms[0].value
        assert sq.param_theta

    def test_param_in_lhs_expression_rejected(self):
        with pytest.raises(ValidationError):
            parse_lookup_query(
                "SELECT price FROM dim WHERE price + :k > 10"
            )

    def test_equi_key_plan_stays_broadcast_hash(self, spark):
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "x",
                    "query": (
                        "SELECT price FROM dim "
                        "WHERE name = 'srv-' || :suffix"
                    ),
                    "parameters": {"suffix": "suffix"},
                }
            ]
        )
        out = LookupEnricher(
            spec,
            {"dim": spark.createDataFrame(self.PDIM_ROWS, self.PDIM)},
        ).apply(spark.createDataFrame(self.PFACTS, self.PFACT))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        # the FACT side must not shuffle: any non-broadcast Exchange is
        # the snapshot-time dim-side groupBy, carrying only dim/key
        # columns — never a fact column
        import re as _re

        sigs = _re.findall(
            r"(?<!Broadcast)Exchange hashpartitioning\(([^)]*)\)", plan
        )
        for sig in sigs:
            for fact_col in ("conv_id", "turn_idx", "lim", "suffix"):
                assert fact_col not in sig, (sig, plan)


class TestCorrelatedHavingSubquery:
    """Round-5 latest: CORRELATED scalar subqueries as HAVING
    comparands (``GROUP BY plan HAVING total > (SELECT avg(price)
    FROM t p2 WHERE p2.plan = t.plan)``) — Derby-legal when the
    correlated column is a grouping column (pinned natively in
    test_jdbc_derby.py). Spark-first: the per-group subquery value
    joins onto the dim once per snapshot (__sq_corrN, existing
    machinery) and rides INTO the payload via a hidden
    ``max(__sq_corrN) AS __hsq{k}`` aggregate — exact, since the
    correlation key is a group key — read by the HAVING filter and
    stripped from the payload afterward (_shape_raw)."""

    CDIM = T.StructType(
        [
            T.StructField("tool", T.StringType(), False),
            T.StructField("price", T.IntegerType(), False),
            T.StructField("plan", T.StringType(), True),
        ]
    )
    CDIM_ROWS = [
        ("t1", 10, "basic"),
        ("t1", 4, "basic"),
        ("t1", 7, "pro"),
        ("t1", 5, None),       # NULL plan: correlates to nothing
        ("t2", 20, "basic"),
        ("t2", 2, "pro"),
    ]

    def _apply(self, spark, query, kw):
        facts = [("c0", 0, "t1"), ("c1", 1, "t2"), ("c2", 2, "t9")]
        fact_df = spark.createDataFrame(facts, FACT)
        spec = PipelineSpec(
            lookups=[
                {"id": "h", "query": query,
                 "parameters": {"tool": "tool"}}
            ]
        )
        dims = {"dim": spark.createDataFrame(self.CDIM_ROWS, self.CDIM)}
        out = LookupEnricher(spec, dims, **kw).apply(fact_df)

        def key(t):  # None-safe sort over (field, value) tuples
            return [(k, v is not None, v) for k, v in t]

        return {
            r["turn_idx"]: (
                None
                if r["h"] is None
                else sorted(
                    (tuple(d.asDict().items()) for d in r["h"]), key=key
                )
            )
            for r in out.collect()
        }

    @pytest.mark.parametrize("kw", ENGINES)
    def test_corr_avg_comparand(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT plan AS plan, sum(price) AS total FROM dim "
            "WHERE tool = :tool GROUP BY plan "
            "HAVING total > (SELECT avg(p2.price) FROM dim p2 "
            "WHERE p2.plan = dim.plan)",
            kw,
        )
        # t1: basic 14 > avg(10,4,20)=11.33 keep; pro 7 > avg(7,2)=4.5
        # keep; NULL-plan 5 > avg(empty)=NULL -> unknown -> dropped
        assert got[0] == [
            (("plan", "basic"), ("total", 14)),
            (("plan", "pro"), ("total", 7)),
        ]
        # t2: basic 20 > 11.33 keep; pro 2 > 4.5 drop
        assert got[1] == [(("plan", "basic"), ("total", 20))]
        assert got[2] == []

    @pytest.mark.parametrize("kw", ENGINES)
    def test_count_zero_on_empty_correlated_group(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT plan AS plan, count(*) AS n FROM dim "
            "WHERE tool = :tool GROUP BY plan "
            "HAVING n >= (SELECT count(*) FROM dim p2 "
            "WHERE p2.plan = dim.plan AND p2.price > 15)",
            kw,
        )
        # NULL-plan group: correlated count over nothing = 0 -> kept
        assert got[0] == [
            (("plan", None), ("n", 1)),
            (("plan", "basic"), ("n", 2)),
            (("plan", "pro"), ("n", 1)),
        ]

    @pytest.mark.parametrize("kw", ENGINES)
    def test_composes_with_grouped_tail(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT plan AS plan, sum(price) AS total FROM dim "
            "WHERE tool = :tool GROUP BY plan "
            "HAVING total >= (SELECT min(price) FROM dim p2 "
            "WHERE p2.plan = dim.plan) "
            "ORDER BY total DESC FETCH FIRST 1 ROWS ONLY",
            kw,
        )
        assert got[0] == [(("plan", "basic"), ("total", 14))]
        assert got[1] == [(("plan", "basic"), ("total", 20))]

    def test_hidden_carrier_not_in_payload(self, spark):
        got = self._apply(
            spark,
            "SELECT plan AS plan, sum(price) AS total FROM dim "
            "WHERE tool = :tool GROUP BY plan "
            "HAVING total > (SELECT avg(p2.price) FROM dim p2 "
            "WHERE p2.plan = dim.plan)",
            {},
        )
        for rows in got.values():
            for r in rows or []:
                assert [k for k, _ in r] == ["plan", "total"]

    def test_non_group_key_correlation_rejected(self, spark):
        with pytest.raises(ValidationError, match="GROUP BY keys"):
            self._apply(
                spark,
                "SELECT plan AS plan, count(*) AS n FROM dim "
                "WHERE tool = :tool GROUP BY plan "
                "HAVING n > (SELECT count(*) FROM dim p2 "
                "WHERE p2.price = dim.price)",
                {},
            )

    def test_non_key_ineq_correlation_in_having_rejected(self, spark):
        # round-5 latest: inequality correlations ARE legal in HAVING,
        # but only on GROUP BY keys — `price` is not one here
        with pytest.raises(ValidationError, match="GROUP BY keys"):
            self._apply(
                spark,
                "SELECT plan AS plan, sum(price) AS total FROM dim "
                "WHERE tool = :tool GROUP BY plan "
                "HAVING total > (SELECT count(*) FROM dim p2 "
                "WHERE p2.plan = dim.plan AND p2.price < dim.price)",
                {},
            )

    @pytest.mark.parametrize("kw", ENGINES)
    def test_ineq_correlation_on_group_key_accepted(self, spark, kw):
        # round-5 latest: an inequality correlation whose outer column
        # IS the group key — per-tuple theta values coincide within
        # a group, so the hidden max carrier is exact (Derby-pinned)
        got = self._apply(
            spark,
            "SELECT plan AS plan, count(*) AS n FROM dim "
            "WHERE tool = :tool GROUP BY plan "
            "HAVING n <= (SELECT count(*) FROM dim p2 "
            "WHERE p2.plan <= dim.plan)",
            kw,
        )
        # whole-dim counts: plans <= 'basic' -> 3, <= 'pro' -> 5; the
        # NULL-plan group compares unknown -> count 0 -> 1 <= 0 drops
        assert got[0] == [
            (("plan", "basic"), ("n", 2)),
            (("plan", "pro"), ("n", 1)),
        ]
        assert got[1] == [
            (("plan", "basic"), ("n", 1)),
            (("plan", "pro"), ("n", 1)),
        ]
        assert got[2] == []


class TestCorrelatedSetHavingSubquery:
    """Round-5 latest: CORRELATED [NOT] IN and quantified subqueries
    in HAVING (``GROUP BY plan HAVING mx IN (SELECT p2.price FROM t
    p2 WHERE p2.plan = t.plan)``) — Derby-legal when every correlated
    column (equality or inequality) is a grouping column (pinned
    natively in test_jdbc_derby.py). Spark-first: the per-group
    (set, had-NULL, count) dim columns (in_group_cols_of — the
    per-tuple theta frame for inequality correlations) ride into the
    payload as
    hidden ``max(...) AS __hsq{k}`` carriers — exact, since the
    correlation keys are group keys — read by the HAVING filter's
    ``in_set`` / ``{cmp} {quant}_set`` ops and stripped afterward.
    Dim: t1 (10,basic) (4,basic) (7,pro) (5,NULL); t2 (20,basic)
    (2,pro)."""

    CDIM = TestCorrelatedHavingSubquery.CDIM
    CDIM_ROWS = TestCorrelatedHavingSubquery.CDIM_ROWS
    _apply = TestCorrelatedHavingSubquery._apply

    @pytest.mark.parametrize("kw", ENGINES)
    def test_corr_in_having(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT plan AS plan, max(price) AS mx FROM dim "
            "WHERE tool = :tool GROUP BY plan "
            "HAVING mx IN (SELECT p2.price FROM dim p2 "
            "WHERE p2.plan = dim.plan)",
            kw,
        )
        # per-plan sets over the WHOLE dim: basic {10,4,20}, pro
        # {7,2}; the NULL-plan group correlates to nothing -> IN over
        # the empty set is FALSE -> dropped
        assert got[0] == [
            (("plan", "basic"), ("mx", 10)),
            (("plan", "pro"), ("mx", 7)),
        ]
        assert got[1] == [
            (("plan", "basic"), ("mx", 20)),
            (("plan", "pro"), ("mx", 2)),
        ]
        assert got[2] == []

    @pytest.mark.parametrize("kw", ENGINES)
    def test_corr_not_in_having_empty_group(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT plan AS plan, max(price) AS mx FROM dim "
            "WHERE tool = :tool GROUP BY plan "
            "HAVING mx NOT IN (SELECT p2.price FROM dim p2 "
            "WHERE p2.plan = dim.plan AND p2.price > 15)",
            kw,
        )
        # sets: basic {20}, pro {} (vacuous NOT IN -> TRUE), NULL
        # group {} -> TRUE; t2 basic 20 NOT IN {20} -> FALSE
        assert got[0] == [
            (("plan", None), ("mx", 5)),
            (("plan", "basic"), ("mx", 10)),
            (("plan", "pro"), ("mx", 7)),
        ]
        assert got[1] == [(("plan", "pro"), ("mx", 2))]

    @pytest.mark.parametrize("kw", ENGINES)
    def test_corr_quantified_having(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT plan AS plan, sum(price) AS total FROM dim "
            "WHERE tool = :tool GROUP BY plan "
            "HAVING total >= ALL (SELECT p2.price FROM dim p2 "
            "WHERE p2.plan = dim.plan)",
            kw,
        )
        # basic 14 >= ALL {10,4,20} fails; pro 7 >= ALL {7,2} keeps;
        # NULL group: >= ALL over the empty set is vacuously TRUE
        assert got[0] == [
            (("plan", None), ("total", 5)),
            (("plan", "pro"), ("total", 7)),
        ]
        assert got[1] == [(("plan", "basic"), ("total", 20))]
        assert got[2] == []

    @pytest.mark.parametrize("kw", ENGINES)
    def test_ineq_corr_quantified_having(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT plan AS plan, max(price) AS mx FROM dim "
            "WHERE tool = :tool GROUP BY plan "
            "HAVING mx >= ANY (SELECT p2.price FROM dim p2 "
            "WHERE p2.plan < dim.plan)",
            kw,
        )
        # INEQUALITY correlation on the group key (per-tuple theta):
        # basic -> plans < 'basic' = {} -> ANY FALSE; pro -> basic's
        # prices {10,4,20}, 7 >= 4 keeps; t2 pro mx 2 matches none
        assert got[0] == [(("plan", "pro"), ("mx", 7))]
        assert got[1] == []
        assert got[2] == []

    def test_hidden_carriers_not_in_payload(self, spark):
        got = self._apply(
            spark,
            "SELECT plan AS plan, max(price) AS mx FROM dim "
            "WHERE tool = :tool GROUP BY plan "
            "HAVING mx IN (SELECT p2.price FROM dim p2 "
            "WHERE p2.plan = dim.plan)",
            {},
        )
        for rows in got.values():
            for r in rows or []:
                assert [k for k, _ in r] == ["plan", "mx"]

    def test_non_group_key_set_correlation_rejected(self, spark):
        with pytest.raises(ValidationError, match="GROUP BY keys"):
            self._apply(
                spark,
                "SELECT plan AS plan, max(price) AS mx FROM dim "
                "WHERE tool = :tool GROUP BY plan "
                "HAVING mx IN (SELECT p2.price FROM dim p2 "
                "WHERE p2.price = dim.price)",
                {},
            )

    @pytest.mark.parametrize("kw", ENGINES)
    def test_matches_row_oracle(self, spark, kw):
        from logstash_filter_jdbc_static_spark import oracle

        q = (
            "SELECT plan AS plan, max(price) AS mx FROM dim "
            "WHERE tool = :tool GROUP BY plan "
            "HAVING mx NOT IN (SELECT p2.price FROM dim p2 "
            "WHERE p2.plan = dim.plan AND p2.price > 15) "
            "AND mx <= ALL (SELECT p3.price + 15 FROM dim p3 "
            "WHERE p3.plan = dim.plan)"
        )
        got = self._apply(spark, q, kw)
        tables = {
            "dim": [
                dict(zip(("tool", "price", "plan"), r))
                for r in self.CDIM_ROWS
            ]
        }

        def key(t):
            return [(k, v is not None, v) for k, v in t]

        for i, tool in enumerate(("t1", "t2", "t9")):
            ev = {"conv_id": f"c{i}", "turn_idx": i, "tool": tool}
            oracle.enhance(
                ev,
                PipelineSpec(lookups=[{
                    "id": "h", "query": q, "parameters": {"tool": "tool"},
                }]),
                tables,
            )
            exp = sorted(
                (tuple(d.items()) for d in ev["h"]), key=key
            )
            assert got[i] == exp, (tool, got[i], exp)


class TestHavingExpressionLhs:
    """Round-5 latest: EXPRESSION left-hand sides in HAVING
    (``HAVING total * 2 > n + 12``, ``HAVING length(plan) > 3``) —
    Derby runs them verbatim (pinned natively in test_jdbc_derby.py).
    Each lhs registers as a payload-level expression over SELECT
    aliases (``ParsedQuery.having_exprs``; aggregate calls rewritten
    to their aliases first) and every evaluator computes it over the
    group row at filter time — the compiled HAVING filter via
    subst_columns -> getField, the row oracle via eval_expr, derived
    tables via a materialize-filter-drop. Dim: t1 (10,basic)
    (4,basic) (7,pro) (5,NULL); t2 (20,basic) (2,pro)."""

    CDIM = TestCorrelatedHavingSubquery.CDIM
    CDIM_ROWS = TestCorrelatedHavingSubquery.CDIM_ROWS
    _apply = TestCorrelatedHavingSubquery._apply

    @pytest.mark.parametrize("kw", ENGINES)
    def test_arith_lhs(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT plan AS plan, sum(price) AS total, count(*) AS n "
            "FROM dim WHERE tool = :tool GROUP BY plan "
            "HAVING total * 2 > n + 12",
            kw,
        )
        # t1: basic 28>14 keep, pro 14>13 keep, NULL 10>13 drop
        assert got[0] == [
            (("plan", "basic"), ("total", 14), ("n", 2)),
            (("plan", "pro"), ("total", 7), ("n", 1)),
        ]
        assert got[1] == [(("plan", "basic"), ("total", 20), ("n", 1))]
        assert got[2] == []

    @pytest.mark.parametrize("kw", ENGINES)
    def test_func_wrapped_lhs(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT plan AS plan, count(*) AS n FROM dim "
            "WHERE tool = :tool GROUP BY plan "
            "HAVING length(plan) > 3",
            kw,
        )
        # length('basic')=5 keeps; 'pro'=3 drops; NULL -> unknown
        assert got[0] == [(("plan", "basic"), ("n", 2))]
        assert got[1] == [(("plan", "basic"), ("n", 1))]

    @pytest.mark.parametrize("kw", ENGINES)
    def test_coalesce_concat_lhs(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT plan AS plan, count(*) AS n FROM dim "
            "WHERE tool = :tool GROUP BY plan "
            "HAVING coalesce(plan, 'zz') || '!' = 'zz!'",
            kw,
        )
        # only the NULL-plan group survives
        assert got[0] == [(("plan", None), ("n", 1))]
        assert got[1] == []

    @pytest.mark.parametrize("kw", ENGINES)
    def test_expr_lhs_with_subquery_comparand(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT plan AS plan, sum(price) AS total FROM dim "
            "WHERE tool = :tool GROUP BY plan "
            "HAVING total - 1 >= (SELECT avg(p2.price) FROM dim p2 "
            "WHERE p2.plan = dim.plan)",
            kw,
        )
        # basic avg 11.33: 13 >= keep; pro avg 4.5: 6 >= keep; NULL
        # group: avg NULL -> unknown -> drop
        assert got[0] == [
            (("plan", "basic"), ("total", 14)),
            (("plan", "pro"), ("total", 7)),
        ]
        assert got[1] == [(("plan", "basic"), ("total", 20))]

    @pytest.mark.parametrize("kw", ENGINES)
    def test_matches_row_oracle(self, spark, kw):
        from logstash_filter_jdbc_static_spark import oracle

        q = (
            "SELECT plan AS plan, sum(price) AS total, count(*) AS n "
            "FROM dim WHERE tool = :tool GROUP BY plan "
            "HAVING total + n > 8 AND length(coalesce(plan, 'xx')) "
            "* 2 >= n + 5"
        )
        got = self._apply(spark, q, kw)
        tables = {
            "dim": [
                dict(zip(("tool", "price", "plan"), r))
                for r in self.CDIM_ROWS
            ]
        }

        def key(t):
            return [(k, v is not None, v) for k, v in t]

        for i, tool in enumerate(("t1", "t2", "t9")):
            ev = {"conv_id": f"c{i}", "turn_idx": i, "tool": tool}
            oracle.enhance(
                ev,
                PipelineSpec(lookups=[{
                    "id": "h", "query": q, "parameters": {"tool": "tool"},
                }]),
                tables,
            )
            exp = sorted((tuple(d.items()) for d in ev["h"]), key=key)
            assert got[i] == exp, (tool, got[i], exp)

    def test_unknown_alias_in_expr_rejected(self, spark):
        with pytest.raises(ValidationError, match="references"):
            self._apply(
                spark,
                "SELECT plan AS plan, count(*) AS n FROM dim "
                "WHERE tool = :tool GROUP BY plan "
                "HAVING zz * 2 > 1",
                {},
            )

    def test_expr_not_in_payload(self, spark):
        got = self._apply(
            spark,
            "SELECT plan AS plan, sum(price) AS total, count(*) AS n "
            "FROM dim WHERE tool = :tool GROUP BY plan "
            "HAVING total * 2 > n + 12",
            {},
        )
        for rows in got.values():
            for r in rows or []:
                assert [k for k, _ in r] == ["plan", "total", "n"]


class TestExpressionCorrelations:
    """Round-5 latest: EXPRESSIONS on either side of a correlation
    equality (``substr(p2.plan,1,2) = t.plan``, ``p2.plan =
    upper(t.plan)``) — Derby executes them verbatim per outer row
    (lookup.rb:131-147; pinned natively in test_jdbc_derby.py).
    Spark-first: sub-side expressions ride as sub computed columns
    (groupBy keys of the per-group aggregation), outer-side ones
    materialize once per snapshot as ``__sq_oexpr*`` dim columns the
    correlation joins on — the per-event plan stays the broadcast
    probe. Expressions MIXING the two scopes stay rejected."""

    EDIM = T.StructType(
        [
            T.StructField("tool", T.StringType(), False),
            T.StructField("price", T.IntegerType(), False),
            T.StructField("plan", T.StringType(), True),
        ]
    )
    EDIM_ROWS = [
        ("t1", 10, "BA"),
        ("t1", 4, "ba"),
        ("t1", 7, "pro"),
        ("t2", 20, "BA"),
        ("t2", 2, "PRO"),
    ]

    def _apply(self, spark, query, kw):
        facts = [("c0", 0, "t1"), ("c1", 1, "t2"), ("c2", 2, "t9")]
        spec = PipelineSpec(
            lookups=[
                {"id": "x", "query": query,
                 "parameters": {"tool": "tool"}}
            ]
        )
        out = LookupEnricher(
            spec,
            {"dim": spark.createDataFrame(self.EDIM_ROWS, self.EDIM)},
            **kw,
        ).apply(spark.createDataFrame(facts, FACT))
        return {
            r["turn_idx"]: (
                None if r["x"] is None
                else sorted(d["price"] for d in r["x"])
            )
            for r in out.collect()
        }

    @pytest.mark.parametrize("kw", ENGINES)
    def test_outer_side_expression(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT price FROM dim WHERE tool = :tool AND price >= "
            "(SELECT avg(p2.price) FROM dim p2 "
            "WHERE p2.plan = upper(dim.plan))",
            kw,
        )
        # t1: BA(10) vs avg(BA)=15 no; ba(4) vs 15 no; pro(7) vs
        # avg(PRO)=2 yes
        assert got[0] == [7]
        assert got[1] == [2, 20]
        assert got[2] == []

    @pytest.mark.parametrize("kw", ENGINES)
    def test_sub_side_single_func(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT price FROM dim WHERE tool = :tool AND price <= "
            "(SELECT max(p2.price) FROM dim p2 "
            "WHERE upper(p2.plan) = dim.plan)",
            kw,
        )
        # upper(sub plan) groups: BA -> max 20; PRO -> max 7... wait
        # upper('pro')='PRO', upper('PRO')='PRO' -> max(7,2)=7.
        # Outer rows: BA(10)<=20 yes; ba(4): no 'ba' group; pro(7): no
        assert got[0] == [10]
        assert got[1] == [2, 20]

    @pytest.mark.parametrize("kw", ENGINES)
    def test_expressions_both_sides(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT price FROM dim WHERE tool = :tool AND price > "
            "(SELECT min(p2.price) FROM dim p2 "
            "WHERE lower(p2.plan) = lower(dim.plan))",
            kw,
        )
        # lower groups: ba -> min 4; pro -> min 2
        assert got[0] == [7, 10]
        assert got[1] == [20]

    @pytest.mark.parametrize("kw", ENGINES)
    def test_outer_expr_in_exists_and_in(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT price FROM dim WHERE tool = :tool AND EXISTS "
            "(SELECT 1 FROM dim p2 WHERE p2.plan = upper(dim.plan) "
            "AND p2.price > 5)",
            kw,
        )
        assert got[0] == [4, 10]   # BA group has 10,20 > 5; PRO max 2*
        got2 = self._apply(
            spark,
            "SELECT price FROM dim WHERE tool = :tool AND price IN "
            "(SELECT p2.price FROM dim p2 "
            "WHERE p2.plan = upper(dim.plan))",
            kw,
        )
        assert got2[0] == [10]
        assert got2[1] == [2, 20]

    def test_mixed_scope_expression_rejected(self):
        with pytest.raises(ValidationError, match="mixing"):
            parse_lookup_query(
                "SELECT price FROM dim WHERE price > "
                "(SELECT avg(p2.price) FROM dim p2 "
                "WHERE p2.plan = upper(dim.plan) || p2.plan)"
            )

    def test_outer_expression_outside_equality_rejected(self):
        # an outer expression is only stageable as a correlation
        # EQUALITY's side — a non-equality use raises
        with pytest.raises(ValidationError, match="unsupported correlated"):
            parse_lookup_query(
                "SELECT price FROM dim WHERE price > "
                "(SELECT avg(p2.price) FROM dim p2 "
                "WHERE upper(dim.plan) > 'A')"
            )

    def test_ineq_with_outer_expression_rejected(self):
        with pytest.raises(ValidationError):
            parse_lookup_query(
                "SELECT price FROM dim WHERE EXISTS "
                "(SELECT 1 FROM dim p2 "
                "WHERE p2.plan = dim.plan AND p2.price < length(dim.plan))"
            )

    def test_parse_shapes(self):
        q = parse_lookup_query(
            "SELECT price FROM dim WHERE price > "
            "(SELECT avg(p2.price) FROM dim p2 "
            "WHERE p2.plan = upper(dim.plan))"
        )
        sq = q.disjuncts[0][0].terms[0].value
        assert sq.corr == (("plan", "__sq_oexpr0"),)
        ((name, ast),) = sq.outer_exprs
        assert name == "__sq_oexpr0"
        import logstash_filter_jdbc_static_spark.operators.sqlexpr as X
        assert ast == X.Func("upper", (X.Col("plan"),))


class TestNestedCorrelatedSubqueries:
    """Round-5 latest: a scalar subquery NESTED inside another
    subquery's WHERE may correlate to its ENCLOSING subquery's scope
    (``... WHERE p2.plan = t.plan AND p2.qty > (SELECT min(p3.qty)
    FROM t p3 WHERE p3.plan = p2.plan)``) — Derby executes the whole
    chain per outer row (lookup.rb:131-147; pinned natively in
    test_jdbc_derby.py). Spark-first the inner per-group aggregate
    left-joins onto the SUB frame as a ``__nsq*`` column once per
    snapshot (recursive over the depth bound); nested IN/EXISTS live
    in TestNestedSetSubqueries, nested INEQUALITY correlations in
    TestNestedIneqCorrelations (round-5 latest)."""

    NDIM = T.StructType(
        [
            T.StructField("tool", T.StringType(), False),
            T.StructField("price", T.IntegerType(), False),
            T.StructField("qty", T.IntegerType(), False),
            T.StructField("plan", T.StringType(), True),
        ]
    )
    NDIM_ROWS = [
        ("t1", 10, 3, "basic"),
        ("t1", 4, 9, "basic"),
        ("t1", 7, 2, "pro"),
        ("t1", 5, 4, None),
        ("t2", 20, 1, "basic"),
        ("t2", 2, 5, "pro"),
    ]

    def _apply(self, spark, query, kw):
        facts = [("c0", 0, "t1"), ("c1", 1, "t2"), ("c2", 2, "t9")]
        spec = PipelineSpec(
            lookups=[
                {"id": "x", "query": query,
                 "parameters": {"tool": "tool"}}
            ]
        )
        out = LookupEnricher(
            spec,
            {"dim": spark.createDataFrame(self.NDIM_ROWS, self.NDIM)},
            **kw,
        ).apply(spark.createDataFrame(facts, FACT))
        return {
            r["turn_idx"]: (
                None if r["x"] is None
                else sorted(d["price"] for d in r["x"])
            )
            for r in out.collect()
        }

    @pytest.mark.parametrize("kw", ENGINES)
    def test_nested_in_correlated_scalar(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT price FROM dim WHERE tool = :tool AND price > "
            "(SELECT avg(p2.price) FROM dim p2 WHERE p2.plan = dim.plan "
            "AND p2.qty >= (SELECT min(p3.qty) FROM dim p3 "
            "WHERE p3.plan = p2.plan))",
            kw,
        )
        assert got[0] == [7]
        assert got[1] == [20]
        assert got[2] == []

    @pytest.mark.parametrize("kw", ENGINES)
    def test_nested_in_correlated_exists_and_in(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT price FROM dim WHERE tool = :tool AND EXISTS "
            "(SELECT 1 FROM dim p2 WHERE p2.plan = dim.plan AND "
            "p2.qty > (SELECT avg(p3.qty) FROM dim p3 "
            "WHERE p3.plan = p2.plan))",
            kw,
        )
        assert got[0] == [4, 7, 10]
        assert got[1] == [2, 20]
        got2 = self._apply(
            spark,
            "SELECT price FROM dim WHERE tool = :tool AND price IN "
            "(SELECT p2.price FROM dim p2 WHERE p2.plan = dim.plan AND "
            "p2.qty <= (SELECT max(p3.qty) FROM dim p3 "
            "WHERE p3.plan = p2.plan AND p3.price > 3))",
            kw,
        )
        assert got2[0] == [4, 7, 10]
        assert got2[1] == [20]

    def test_nested_correlated_in_accepted(self, spark):
        # round-5 latest: a correlated IN nested inside another
        # subquery's WHERE is ACCEPTED — per-group set columns join
        # onto the ENCLOSING sub frame (TestNestedSetSubqueries)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "x",
                    "query": (
                        "SELECT price FROM dim WHERE price > "
                        "(SELECT max(p2.price) FROM dim p2 "
                        "WHERE p2.plan IN (SELECT p3.plan FROM dim p3 "
                        "WHERE p3.qty = p2.qty))"
                    ),
                    "parameters": {},
                }
            ]
        )
        LookupEnricher(  # compiles without raising
            spec,
            {"dim": spark.createDataFrame(self.NDIM_ROWS, self.NDIM)},
        )

    def test_nested_ineq_correlation_accepted(self, spark):
        # round-5 latest: nested INEQUALITY correlations compile via
        # the per-tuple theta frame (TestNestedIneqCorrelations has
        # the value-level coverage)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "x",
                    "query": (
                        "SELECT price FROM dim WHERE price > "
                        "(SELECT max(p2.price) FROM dim p2 "
                        "WHERE p2.qty > (SELECT min(p3.qty) FROM dim p3 "
                        "WHERE p3.qty < p2.qty))"
                    ),
                    "parameters": {},
                }
            ]
        )
        LookupEnricher(  # compiles without raising
            spec,
            {"dim": spark.createDataFrame(self.NDIM_ROWS, self.NDIM)},
        )


class TestNestedSetSubqueries:
    """Round-5 latest: [NOT] EXISTS and correlated [NOT] IN /
    quantified subqueries NESTED inside another subquery's WHERE —
    Derby nests arbitrarily (standard SQL); Spark-first the nested
    EXISTS becomes a semi-join flag and the nested IN per-group
    (set, had-NULL, count) columns, each joined onto the ENCLOSING
    sub frame once per snapshot (fix_nested_pred). Nested INEQUALITY
    correlations stay rejected. Dim: t1 (10,3,basic) (4,9,basic)
    (7,2,pro) (5,4,NULL); t2 (20,1,basic) (2,5,pro)."""

    NDIM = TestNestedCorrelatedSubqueries.NDIM
    NDIM_ROWS = TestNestedCorrelatedSubqueries.NDIM_ROWS
    _apply = TestNestedCorrelatedSubqueries._apply

    @pytest.mark.parametrize("kw", ENGINES)
    def test_nested_not_exists(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT price FROM dim WHERE tool = :tool AND price <= "
            "(SELECT max(p2.price) FROM dim p2 WHERE NOT EXISTS "
            "(SELECT 1 FROM dim p3 WHERE p3.plan = p2.plan "
            "AND p3.qty >= 5))",
            kw,
        )
        # plans lacking a qty>=5 row: only the NULL plan (correlates
        # to nothing, NOT EXISTS vacuously TRUE) -> max price 5
        assert got[0] == [4, 5]
        assert got[1] == [2]
        assert got[2] == []

    @pytest.mark.parametrize("kw", ENGINES)
    def test_nested_exists_inside_exists(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT price FROM dim WHERE tool = :tool AND EXISTS "
            "(SELECT 1 FROM dim p2 WHERE p2.plan = dim.plan AND EXISTS "
            "(SELECT 1 FROM dim p3 WHERE p3.qty = p2.qty "
            "AND p3.price < 5))",
            kw,
        )
        # qtys with a sub-5-price row: 9 (price 4) and 5 (price 2) ->
        # p2 rows (4,9,basic) and (2,5,pro); NULL-plan outer rows
        # correlate to nothing
        assert got[0] == [4, 7, 10]
        assert got[1] == [2, 20]

    @pytest.mark.parametrize("kw", ENGINES)
    def test_nested_correlated_in_inside_exists(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT price FROM dim WHERE tool = :tool AND EXISTS "
            "(SELECT 1 FROM dim p2 WHERE p2.plan = dim.plan AND "
            "p2.price IN (SELECT p3.price FROM dim p3 "
            "WHERE p3.qty = p2.qty))",
            kw,
        )
        # every row's price is in its own qty group -> EXISTS is TRUE
        # exactly when the outer plan correlates to anything (NULL
        # plans never do)
        assert got[0] == [4, 7, 10]
        assert got[1] == [2, 20]

    @pytest.mark.parametrize("kw", ENGINES)
    def test_nested_quantified_in_scalar_host(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT price FROM dim WHERE tool = :tool AND price > "
            "(SELECT count(*) FROM dim p2 WHERE p2.price >= ALL "
            "(SELECT p3.price FROM dim p3 WHERE p3.plan = p2.plan))",
            kw,
        )
        # per-plan maxima: (20,basic), (7,pro), and the NULL-plan row
        # (vacuous >= ALL ()) -> count 3 -> price > 3
        assert got[0] == [4, 5, 7, 10]
        assert got[1] == [20]

    @pytest.mark.parametrize("kw", ENGINES)
    def test_nested_uncorrelated_in_expands(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT price FROM dim WHERE tool = :tool AND price >= "
            "(SELECT max(p2.price) FROM dim p2 WHERE p2.plan IN "
            "(SELECT p3.plan FROM dim p3 WHERE p3.qty >= 5))",
            kw,
        )
        # plans with a qty>=5 row: {basic, pro} -> max price 20
        assert got[0] == []
        assert got[1] == [20]

    @pytest.mark.parametrize("kw", ENGINES)
    def test_matches_row_oracle(self, spark, kw):
        from logstash_filter_jdbc_static_spark import oracle

        q = (
            "SELECT price FROM dim WHERE tool = :tool AND price <= "
            "(SELECT sum(p2.price) FROM dim p2 WHERE p2.qty IN "
            "(SELECT p3.qty FROM dim p3 WHERE p3.plan = p2.plan "
            "AND p3.price > 3) AND NOT EXISTS "
            "(SELECT 1 FROM dim p4 WHERE p4.plan = p2.plan "
            "AND p4.price >= 20))"
        )
        got = self._apply(spark, q, kw)
        tables = {
            "dim": [
                dict(zip(("tool", "price", "qty", "plan"), r))
                for r in self.NDIM_ROWS
            ]
        }
        for i, tool in enumerate(("t1", "t2", "t9")):
            ev = {"conv_id": f"c{i}", "turn_idx": i, "tool": tool}
            oracle.enhance(
                ev,
                PipelineSpec(lookups=[{
                    "id": "x", "query": q, "parameters": {"tool": "tool"},
                }]),
                tables,
            )
            exp = sorted(d["price"] for d in ev["x"])
            assert got[i] == exp, (tool, got[i], exp)

class TestNestedIneqCorrelations:
    """Round-5 latest: INEQUALITY correlations inside NESTED
    subqueries — ``p3.qty > p2.qty`` one level down, against the
    ENCLOSING subquery's relation. Derby evaluates the chain per
    outer row (lookup.rb:131-147); Spark-first each flavor
    decorrelates through the theta distinct-tuple frame
    (_join_outer_theta): the enclosing sub frame's distinct
    correlation tuples pair with matching inner rows (hash join on any
    eq keys, inequality post-filter; dim-sized nested loop without),
    aggregate per tuple — scalar -> per-tuple aggregate, EXISTS ->
    witness count > 0, IN/quantified -> per-tuple (set, had-NULL,
    count) — then broadcast-join back. All dim-sized lazy plans; the
    per-event plan stays the single
    broadcast-hash probe. Dim: t1 (10,3,basic) (4,9,basic) (7,2,pro)
    (5,4,NULL); t2 (20,1,basic) (2,5,pro)."""

    NDIM = TestNestedCorrelatedSubqueries.NDIM
    NDIM_ROWS = TestNestedCorrelatedSubqueries.NDIM_ROWS
    _apply = TestNestedCorrelatedSubqueries._apply

    @pytest.mark.parametrize("kw", ENGINES)
    def test_nested_scalar_ineq(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT price FROM dim WHERE tool = :tool AND price >= "
            "(SELECT max(p2.price) FROM dim p2 WHERE p2.qty > "
            "(SELECT avg(p3.qty) FROM dim p3 WHERE p3.price > p2.price))",
            kw,
        )
        # per p2, avg qty of strictly-pricier rows: (10,3)->1, (4,9)
        # ->2.5, (7,2)->2, (5,4)->2, (20,1)->NULL (empty, 1>NULL
        # unknown), (2,5)->3.8 -> qualifying prices {10,4,5,2}, max 10
        assert got[0] == [10]
        assert got[1] == [20]
        assert got[2] == []

    @pytest.mark.parametrize("kw", ENGINES)
    def test_nested_exists_two_ineq(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT price FROM dim WHERE tool = :tool AND EXISTS "
            "(SELECT 1 FROM dim p2 WHERE p2.plan = dim.plan AND EXISTS "
            "(SELECT 1 FROM dim p3 WHERE p3.price > p2.price "
            "AND p3.qty > p2.qty))",
            kw,
        )
        # rows strictly dominated on BOTH axes: (2,5)<(4,9) and
        # (7,2)<(10,3) -> plans {pro}; NULL plans correlate to nothing
        assert got[0] == [7]
        assert got[1] == [2]
        assert got[2] == []

    @pytest.mark.parametrize("kw", ENGINES)
    def test_nested_in_ineq(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT price FROM dim WHERE tool = :tool AND EXISTS "
            "(SELECT 1 FROM dim p2 WHERE p2.plan = dim.plan AND "
            "p2.qty IN (SELECT p3.qty - 1 FROM dim p3 "
            "WHERE p3.price > p2.price))",
            kw,
        )
        # only p2=(7,2,pro): pricier rows {(10,3),(20,1)} -> {2,0},
        # qty 2 in the set -> plan pro
        assert got[0] == [7]
        assert got[1] == [2]
        assert got[2] == []

    @pytest.mark.parametrize("kw", ENGINES)
    def test_nested_quantified_ineq(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT price FROM dim WHERE tool = :tool AND EXISTS "
            "(SELECT 1 FROM dim p2 WHERE p2.plan = dim.plan AND "
            "p2.price >= ALL (SELECT p3.price FROM dim p3 "
            "WHERE p3.qty <= p2.qty))",
            kw,
        )
        # p2 qualifies iff its price tops every row with qty <= its
        # own: only (20,1,basic) -> plan basic
        assert got[0] == [4, 10]
        assert got[1] == [20]
        assert got[2] == []

    @pytest.mark.parametrize("kw", ENGINES)
    def test_matches_row_oracle(self, spark, kw):
        from logstash_filter_jdbc_static_spark import oracle

        q = (
            "SELECT price FROM dim WHERE tool = :tool AND price <= "
            "(SELECT sum(p2.price) FROM dim p2 WHERE p2.plan = dim.plan "
            "AND NOT EXISTS (SELECT 1 FROM dim p3 "
            "WHERE p3.price > p2.price AND p3.qty > p2.qty) "
            "AND p2.qty > (SELECT min(p4.qty) FROM dim p4 "
            "WHERE p4.price < p2.price))"
        )
        got = self._apply(spark, q, kw)
        tables = {
            "dim": [
                dict(zip(("tool", "price", "qty", "plan"), r))
                for r in self.NDIM_ROWS
            ]
        }
        for i, tool in enumerate(("t1", "t2", "t9")):
            ev = {"conv_id": f"c{i}", "turn_idx": i, "tool": tool}
            oracle.enhance(
                ev,
                PipelineSpec(lookups=[{
                    "id": "x", "query": q, "parameters": {"tool": "tool"},
                }]),
                tables,
            )
            exp = sorted(d["price"] for d in ev["x"])
            assert got[i] == exp, (tool, got[i], exp)


class TestMixedExpressions:
    """Round-5 latest: predicate-rhs expressions MIXING dim columns
    with :name/? params (``price = base + :k``, ``name LIKE pfx ||
    :sfx || '%'``). Derby evaluates these per (row, binding) when the
    config hands them over verbatim (lookup.rb:131-147); Spark-first
    they compile INSIDE the theta probe condition — params substitute
    to the tuple/event Columns, dim columns to the array element's or
    broadcast dim struct's fields — so the fact side stays
    shuffle-free on the broadcast paths. A mixed equality cannot be a
    broadcast-hash KEY (its value depends on the dim row), so the
    query routes off the pure-equi path; subquery-WHERE and HAVING
    contexts keep the rejection (no per-row dual scope there)."""

    MDIM = T.StructType(
        [
            T.StructField("tool", T.StringType(), False),
            T.StructField("price", T.IntegerType(), False),
            T.StructField("base", T.IntegerType(), False),
            T.StructField("pfx", T.StringType(), False),
            T.StructField("name", T.StringType(), False),
        ]
    )
    MDIM_ROWS = [
        ("t1", 10, 3, "srv-", "srv-a"),
        ("t1", 4, 1, "srv-", "srv-b"),
        ("t2", 7, 9, "box-", "box-a"),
        ("t2", 20, 5, "srv-", "srv-c"),
        ("t3", 2, 0, "srv-", "srv-a1"),
    ]
    MFACT = T.StructType(
        [
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("tool", T.StringType(), True),
            T.StructField("k", T.IntegerType(), True),
            T.StructField("sfx", T.StringType(), True),
        ]
    )
    MFACTS = [
        (0, "t1", 7, "a"),
        (1, "t2", 2, "c"),
        (2, "t1", 3, "b"),
        (3, "t3", None, "z"),   # NULL numeric param
        (4, None, 1, "a"),      # NULL string param
    ]

    def _apply(self, spark, query, kw, binds=None, prepared=None):
        lk: dict = {"id": "x", "query": query}
        if prepared is not None:
            lk["prepared_parameters"] = prepared
        else:
            lk["parameters"] = binds or {"tool": "tool", "k": "k"}
        spec = PipelineSpec(lookups=[lk])
        out = LookupEnricher(
            spec,
            {"dim": spark.createDataFrame(self.MDIM_ROWS, self.MDIM)},
            **kw,
        ).apply(spark.createDataFrame(self.MFACTS, self.MFACT))
        return {
            r["turn_idx"]: (
                None
                if r["x"] is None
                else sorted(d["name"] for d in r["x"])
            )
            for r in out.collect()
        }

    @pytest.mark.parametrize("kw", ENGINES)
    def test_mixed_equality(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT name FROM dim WHERE tool = :tool "
            "AND price = base + :k",
            kw,
        )
        assert got[0] == ["srv-a"]       # 10 = 3+7
        assert got[1] == []              # 7 != 9+2, 20 != 5+2
        assert got[2] == ["srv-b"]       # 4 = 1+3
        assert got[3] is None            # NULL param -> invalid
        assert got[4] is None

    @pytest.mark.parametrize("kw", ENGINES)
    def test_mixed_inequality(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT name FROM dim WHERE tool = :tool "
            "AND price > base * :k",
            kw,
        )
        assert got[0] == []                      # 10>21, 4>7: no
        assert got[1] == ["srv-c"]               # 20 > 10
        assert got[2] == ["srv-a", "srv-b"]      # 10>9, 4>3
        assert got[3] is None

    @pytest.mark.parametrize("kw", ENGINES)
    def test_mixed_between_bound(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT name FROM dim WHERE tool = :tool "
            "AND price BETWEEN base AND base + :k",
            kw,
        )
        assert got[0] == ["srv-a", "srv-b"]      # 10 in [3,10], 4 in [1,8]
        assert got[1] == []                      # 7 in [9,11]? no; 20 in [5,7]? no
        assert got[2] == ["srv-b"]               # 10 in [3,6]? no; 4 in [1,4]
        assert got[3] is None

    @pytest.mark.parametrize("kw", ENGINES)
    def test_mixed_in_item(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT name FROM dim WHERE tool = :tool "
            "AND price IN (base + :k, 999)",
            kw,
        )
        assert got[0] == ["srv-a"]
        assert got[1] == []
        assert got[2] == ["srv-b"]
        assert got[3] is None

    @pytest.mark.parametrize("kw", ENGINES)
    def test_mixed_like_pattern(self, spark, kw):
        # the pattern itself mixes a dim column with the param: its
        # regex derives per (tuple, dim) pair, like a column pattern
        got = self._apply(
            spark,
            "SELECT name FROM dim WHERE name LIKE pfx || :sfx || '%'",
            kw,
            binds={"sfx": "sfx"},
        )
        assert got[0] == ["box-a", "srv-a", "srv-a1"]
        assert got[1] == ["srv-c"]
        assert got[2] == ["srv-b"]
        assert got[3] == []            # 'srv-z%' etc: no match (sfx bound)
        assert got[4] == ["box-a", "srv-a", "srv-a1"]

    @pytest.mark.parametrize("kw", ENGINES)
    def test_mixed_prepared_positional(self, spark, kw):
        got = self._apply(
            spark,
            "SELECT name FROM dim WHERE tool = ? AND price = base + ?",
            kw,
            prepared=["tool", "k"],
        )
        assert got[0] == ["srv-a"]
        assert got[1] == []
        assert got[2] == ["srv-b"]
        assert got[3] is None

    def test_mixed_equality_is_not_pure_equi(self):
        q = parse_lookup_query(
            "SELECT name FROM dim WHERE tool = :tool AND price = base + :k"
        )
        assert not q.is_pure_equi
        (preds,) = q.disjuncts
        kinds = {p.dim_column: [t.kind for t in p.terms] for p in preds}
        assert kinds["tool"] == ["param"]
        assert kinds["price"] == ["mixed_expr"]

    def test_mixed_accepted_in_subquery_where(self):
        # round-5 final: a mixed sub-column+param expression takes the
        # THETA path (evaluated per (tuple, sub row) pair)
        q = parse_lookup_query(
            "SELECT name FROM dim WHERE price > "
            "(SELECT max(p2.price) FROM dim p2 "
            "WHERE p2.price = p2.base + :k)"
        )
        sq = q.disjuncts[0][0].terms[0].value
        assert sq.param_theta

    def test_mixed_accepted_in_having(self):
        # round-5 final: a mixed alias+param HAVING comparand parses —
        # the fact-side HAVING filter has both payload aliases and
        # bound params in scope (goldens below)
        q = parse_lookup_query(
            "SELECT tool, sum(price) AS s, max(base) AS m FROM dim "
            "GROUP BY tool HAVING s > m + :k"
        )
        (p0,) = q.having[0]
        assert p0.terms[0].kind == "mixed_expr"

    def test_mixed_having_unknown_alias_rejected(self):
        with pytest.raises(ValidationError, match="not selected"):
            parse_lookup_query(
                "SELECT tool, sum(price) AS s FROM dim "
                "GROUP BY tool HAVING s > nosuch + :k"
            )

    @pytest.mark.parametrize("kw", ENGINES)
    def test_mixed_having_golden(self, spark, kw):
        # HAVING s >= m * :k — evaluated per (group row, event): the
        # group supplies the aliases, the event the param; row-oracle
        # cross-checked for every event incl. the NULL-param failure
        from logstash_filter_jdbc_static_spark import oracle as _oracle

        lk = {
            "id": "x",
            "query": (
                "SELECT tool AS tool, sum(price) AS s, max(base) AS m "
                "FROM dim WHERE tool = :tool "
                "GROUP BY tool HAVING s >= m * :k"
            ),
            "parameters": {"tool": "tool", "k": "k"},
        }
        out = LookupEnricher(
            PipelineSpec(lookups=[dict(lk)]),
            {"dim": spark.createDataFrame(self.MDIM_ROWS, self.MDIM)},
            **kw,
        ).apply(spark.createDataFrame(self.MFACTS, self.MFACT))
        got = {
            r["turn_idx"]: (
                None
                if r["x"] is None
                else [tuple(d.asDict().values()) for d in r["x"]]
            )
            for r in out.collect()
        }
        tables = {
            "dim": [
                dict(zip(("tool", "price", "base", "pfx", "name"), row))
                for row in self.MDIM_ROWS
            ]
        }
        for ti, tool, k, _sfx in self.MFACTS:
            ev = {"turn_idx": ti}
            if tool is not None:
                ev["tool"] = tool
            if k is not None:
                ev["k"] = k
            _oracle.enhance(
                ev, PipelineSpec(lookups=[dict(lk)]), tables
            )
            u = ev.get("x")
            exp = None if u is None else [tuple(d.values()) for d in u]
            assert got[ti] == exp, (ti, got[ti], exp)
        # t1: s=14, m=3 -> k=7: 14 >= 21 F -> []; k=3: 14 >= 9 T
        assert got[0] == []
        assert got[2] == [("t1", 14, 3)]
        assert got[3] is None  # NULL param -> invalid binding

    def test_param_in_having_lhs_parses(self):
        # round-5 final: the HAVING LHS expression may carry :params
        # too (``HAVING n * :k > 10``) — it registers as a payload-
        # level hx entry with Param leaves, substituted at filter time
        q = parse_lookup_query(
            "SELECT tool, count(*) AS n FROM dim "
            "GROUP BY tool HAVING n * :k > 10"
        )
        assert q.having_exprs  # the LHS registered as an expression

    @pytest.mark.parametrize("kw", ENGINES)
    def test_param_having_lhs_golden(self, spark, kw):
        # HAVING s - :k >= 0 per (group row, event) — row-oracle
        # cross-checked incl. the NULL-param failure
        from logstash_filter_jdbc_static_spark import oracle as _oracle

        lk = {
            "id": "x",
            "query": (
                "SELECT tool AS tool, sum(price) AS s FROM dim "
                "WHERE tool = :tool GROUP BY tool "
                "HAVING s - :k >= 0"
            ),
            "parameters": {"tool": "tool", "k": "k"},
        }
        out = LookupEnricher(
            PipelineSpec(lookups=[dict(lk)]),
            {"dim": spark.createDataFrame(self.MDIM_ROWS, self.MDIM)},
            **kw,
        ).apply(spark.createDataFrame(self.MFACTS, self.MFACT))
        got = {
            r["turn_idx"]: (
                None
                if r["x"] is None
                else [tuple(d.asDict().values()) for d in r["x"]]
            )
            for r in out.collect()
        }
        tables = {
            "dim": [
                dict(zip(("tool", "price", "base", "pfx", "name"), row))
                for row in self.MDIM_ROWS
            ]
        }
        for ti, tool, k, _sfx in self.MFACTS:
            ev = {"turn_idx": ti}
            if tool is not None:
                ev["tool"] = tool
            if k is not None:
                ev["k"] = k
            _oracle.enhance(
                ev, PipelineSpec(lookups=[dict(lk)]), tables
            )
            u = ev.get("x")
            exp = None if u is None else [tuple(d.values()) for d in u]
            assert got[ti] == exp, (ti, got[ti], exp)
        assert got[0] == [("t1", 14)]  # 14 - 7 >= 0
        assert got[3] is None  # NULL param -> invalid binding

    def test_param_having_lhs_in_derived_rejected(self, spark):
        with pytest.raises(ValidationError, match="derived"):
            LookupEnricher(
                PipelineSpec(lookups=[{
                    "id": "x",
                    "query": (
                        "SELECT d.n AS n FROM (SELECT tool AS tool, "
                        "count(*) AS n FROM dim GROUP BY tool "
                        "HAVING n * :k > 1) d WHERE d.n = 2"
                    ),
                    "parameters": {"k": "k"},
                }]),
                {"dim": spark.createDataFrame(self.MDIM_ROWS, self.MDIM)},
            )
