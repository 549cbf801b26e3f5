"""Round-5 widening: scalar subqueries in the lookup PROJECTION
(``SELECT name, (SELECT max(x) FROM t2 WHERE t2.k = s.k) AS mx``).
Derby evaluates the sub-SELECT per output row (the reference hands the
query verbatim, lib/logstash/filters/jdbc/lookup.rb:131-147); here it
resolves once per refresh snapshot — uncorrelated to one TYPED literal
column, correlated to the per-group aggregate left-joined onto the
(possibly derived) dim — and the projection references the synthetic
``__psq{n}`` column, so every physical probe path works unchanged.

The clause split this forced (`_split_select`) is also pinned here: a
regex SELECT/FROM/WHERE split truncates the projection at the
subquery's inner FROM.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from logstash_filter_jdbc_static_spark.operators.lookup import (
    has_subqueries,
    parse_lookup_query,
)
from logstash_filter_jdbc_static_spark.operators.processor import LookupEnricher
from logstash_filter_jdbc_static_spark.spec import (
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
        T.StructField("plan", T.StringType(), True),
        T.StructField("price", T.IntegerType(), False),
    ]
)
PLAN_ROWS = [
    ("t1", "basic", 10),
    ("t1", "basic", 2),
    ("t2", "pro", 7),
    ("t3", None, 8),
    ("t4", "trial", 1),
]

# Lookup constructor kwargs per case (always empty), one case per
# plan condition (plan_conditions.py).
ENGINES = PLAN_CONDITIONS


class TestParser:
    def test_projection_subquery_parsed(self):
        q = parse_lookup_query(
            "SELECT price AS price, (SELECT avg(p2.price) FROM plans p2 "
            "WHERE p2.plan = plans.plan) AS pa FROM plans WHERE tool = :t"
        )
        assert has_subqueries(q)
        ((name, sq),) = q.proj_subqueries
        assert name.startswith("__psq")
        assert (sq.func, sq.col, sq.table) == ("avg", "price", "plans")
        assert sq.corr == (("plan", "plan"),)
        assert q.projection == [("price", "price"), (name, "pa")]

    def test_inner_from_does_not_truncate_projection(self):
        # the regex split this replaced cut the projection at the
        # subquery's inner FROM; the depth-0 scan must not
        q = parse_lookup_query(
            "SELECT a AS a, (SELECT count(*) FROM u) AS n, b AS b "
            "FROM t WHERE a = :a"
        )
        assert [al for _, al in q.projection] == ["a", "n", "b"]
        assert q.table == "t"
        assert q.disjuncts[0][0].dim_column == "a"

    def test_keyword_inside_string_literal_ignored(self):
        q = parse_lookup_query(
            "SELECT a AS a, (SELECT count(*) FROM u WHERE "
            "note = ' from where ') AS n FROM t WHERE a = :a"
        )
        assert q.table == "t"
        sq = q.proj_subqueries[0][1]
        assert sq.where[0][0].terms[0].value == " from where "

    def test_identical_subqueries_share_one_column(self):
        q = parse_lookup_query(
            "SELECT (SELECT count(*) FROM u) AS n1, "
            "(SELECT count(*) FROM u) AS n2 FROM t WHERE a = :a"
        )
        assert len(q.proj_subqueries) == 1
        (name, _), = q.proj_subqueries
        assert q.projection == [(name, "n1"), (name, "n2")]

    def test_alias_required(self):
        with pytest.raises(ValidationError, match="AS alias"):
            parse_lookup_query(
                "SELECT a AS a, (SELECT count(*) FROM u) FROM t "
                "WHERE a = :a"
            )

    def test_non_aggregate_head_rejected(self):
        with pytest.raises(ValidationError, match="scalar subqueries"):
            parse_lookup_query(
                "SELECT (SELECT price FROM u) AS p FROM t WHERE a = :a"
            )

    def test_global_aggregate_converts_psq_to_hidden_max(self):
        # round-5 latest: an UNCORRELATED projected subquery combines
        # with a GLOBAL aggregate — parsed into a hidden max(__psq)
        # aggregate at its SELECT position; the empty-set row later
        # substitutes the resolved literal (TestGlobalAggregate)
        q = parse_lookup_query(
            "SELECT count(*) AS n, (SELECT max(x) FROM u) AS m, "
            "sum(p) AS s FROM t WHERE a = :a"
        )
        assert q.projection == []
        assert [(f, a) for f, _c, a in q.aggregates] == [
            ("count", "n"), ("max", "m"), ("sum", "s")
        ]
        assert q.aggregates[1][1].startswith("__psq")
        assert not q.select_interleaved

    def test_correlated_with_global_aggregate_rejected(self):
        # a correlated subquery's value is per-ROW — with no groups,
        # no single aggregate row can carry it
        with pytest.raises(ValidationError, match="CORRELATED"):
            parse_lookup_query(
                "SELECT count(*) AS n, (SELECT max(u.x) FROM u "
                "WHERE u.k = t.k) AS m FROM t WHERE a = :a"
            )

    def test_group_by_folds_psq_into_grouping(self):
        # round-5 latest: a projected subquery under GROUP BY is
        # group-constant (uncorrelated, or correlated on GROUP BY
        # keys) and folds into the grouping columns
        q = parse_lookup_query(
            "SELECT plan AS plan, (SELECT max(x) FROM u) AS m, "
            "count(*) AS n FROM t WHERE a = :a GROUP BY plan"
        )
        ((name, _),) = q.proj_subqueries
        assert q.group_by == ("plan", name)
        assert q.projection == [("plan", "plan"), (name, "m")]

    def test_group_by_correlation_must_be_group_key(self):
        with pytest.raises(ValidationError, match="GROUP BY keys"):
            parse_lookup_query(
                "SELECT plan AS plan, (SELECT max(u.x) FROM u "
                "WHERE u.k = t.other) AS m, count(*) AS n "
                "FROM t WHERE a = :a GROUP BY plan"
            )

    def test_group_by_ineq_correlation_rejected(self):
        with pytest.raises(ValidationError, match="per-ROW"):
            parse_lookup_query(
                "SELECT plan AS plan, (SELECT count(*) FROM u "
                "WHERE u.x < t.plan) AS m, count(*) AS n "
                "FROM t WHERE a = :a GROUP BY plan"
            )

    def test_group_by_expression_correlation_rejected(self):
        with pytest.raises(ValidationError, match="expression-correlated"):
            parse_lookup_query(
                "SELECT plan AS plan, (SELECT max(u.x) FROM u "
                "WHERE upper(u.k) = upper(t.plan)) AS m, "
                "count(*) AS n FROM t WHERE a = :a GROUP BY plan"
            )

    def test_join_mode_correlation_keeps_qualified_spelling(self):
        q = parse_lookup_query(
            "SELECT p.price AS price, (SELECT max(u.x) FROM u "
            "WHERE u.k = b.k) AS mx FROM t p JOIN v b ON p.k = b.k "
            "WHERE p.a = :a"
        )
        ((_, sq),) = q.proj_subqueries
        assert sq.corr == (("k", "b.k"),)

    def test_trailing_tokens_rejected(self):
        with pytest.raises(ValidationError, match="trailing tokens"):
            parse_lookup_query(
                "SELECT (SELECT max(x) FROM u) + 1 AS m FROM t "
                "WHERE a = :a"
            )


@pytest.mark.parametrize("kw", ENGINES)
class TestGolden:
    """Hand-computed results on PLAN_ROWS: per-plan avg price —
    basic 6.0, pro 7.0, trial 1.0; the NULL-plan row correlates to no
    group (NULL avg). count(*) over plans = 5."""

    def _run(self, spark, query, kw, extra_dims=None):
        dims = {"plans": spark.createDataFrame(PLAN_ROWS, PLANS)}
        if extra_dims:
            dims.update(extra_dims)
        spec = PipelineSpec(
            lookups=[{"id": "u", "query": query,
                      "parameters": {"tool": "tool"}}]
        )
        facts = spark.createDataFrame(
            [(f"c{i}", i, f"t{i}") for i in range(5)], FACT
        )
        out = LookupEnricher(spec, dims, **kw).apply(facts)
        return {
            r["tool"]: sorted(
                tuple(d.asDict().values()) for d in r["u"]
            )
            for r in out.select("tool", "u").collect()
        }

    def test_correlated_and_uncorrelated(self, spark, kw):
        got = self._run(
            spark,
            "SELECT p.price AS price, "
            "(SELECT avg(p2.price) FROM plans p2 "
            "WHERE p2.plan = p.plan) AS pa, "
            "(SELECT count(*) FROM plans) AS n "
            "FROM plans p WHERE p.tool = :tool",
            kw,
        )
        assert got == {
            "t0": [],
            "t1": [(2, 6.0, 5), (10, 6.0, 5)],
            "t2": [(7, 7.0, 5)],
            "t3": [(8, None, 5)],
            "t4": [(1, 1.0, 5)],
        }

    def test_empty_table_yields_typed_null(self, spark, kw):
        empty = spark.createDataFrame([], "x: int")
        got = self._run(
            spark,
            "SELECT price AS price, (SELECT max(x) FROM empty) AS mx "
            "FROM plans WHERE tool = :tool",
            kw,
            extra_dims={"empty": empty},
        )
        assert got["t1"] == [(2, None), (10, None)]

    def test_subquery_used_in_where_and_projection(self, spark, kw):
        # the shared cache must give WHERE term and projection column
        # the same snapshot value
        got = self._run(
            spark,
            "SELECT price AS price, "
            "(SELECT avg(price) FROM plans) AS overall "
            "FROM plans WHERE tool = :tool "
            "AND price > (SELECT avg(price) FROM plans)",
            kw,
        )
        # overall avg = (10+2+7+8+1)/5 = 5.6 -> prices above: 10, 7, 8
        assert got == {
            "t0": [],
            "t1": [(10, 5.6)],
            "t2": [(7, 5.6)],
            "t3": [(8, 5.6)],
            "t4": [],
        }

    def test_join_mode_correlated_on_joined_relation(self, spark, kw):
        bands = spark.createDataFrame(
            [(0, 5, "low"), (5, 9, "mid")], "lo: int, hi: int, band: string"
        )
        got = self._run(
            spark,
            "SELECT p.price AS price, b.band AS band, "
            "(SELECT count(*) FROM plans p2 WHERE p2.plan = p.plan) "
            "AS sibs FROM plans p JOIN bands b "
            "ON p.price >= b.lo AND p.price < b.hi "
            "WHERE p.tool = :tool",
            kw,
            extra_dims={"bands": bands},
        )
        # price 10 falls outside every band; count over the NULL-plan
        # group coalesces to 0 (SQL: COUNT of an empty set)
        assert got == {
            "t0": [],
            "t1": [(2, "low", 2)],
            "t2": [(7, "mid", 1)],
            "t3": [(8, "mid", 0)],
            "t4": [(1, "low", 1)],
        }

    def test_order_by_subquery_alias(self, spark, kw):
        got = self._run(
            spark,
            "SELECT price AS price, "
            "(SELECT avg(p2.price) FROM plans p2 "
            "WHERE p2.plan = plans.plan) AS pa "
            "FROM plans WHERE tool = :tool ORDER BY price DESC",
            kw,
        )
        # payload order is pinned by ORDER BY; compare unsorted
        dims = {"plans": spark.createDataFrame(PLAN_ROWS, PLANS)}
        spec = PipelineSpec(
            lookups=[{
                "id": "u",
                "query": (
                    "SELECT price AS price, "
                    "(SELECT avg(p2.price) FROM plans p2 "
                    "WHERE p2.plan = plans.plan) AS pa "
                    "FROM plans WHERE tool = :tool ORDER BY price DESC"
                ),
                "parameters": {"tool": "tool"},
            }]
        )
        facts = spark.createDataFrame([("c1", 1, "t1")], FACT)
        (row,) = LookupEnricher(spec, dims, **kw).apply(facts).collect()
        assert [(d["price"], d["pa"]) for d in row["u"]] == [
            (10, 6.0), (2, 6.0),
        ]
        assert got["t1"] == [(2, 6.0), (10, 6.0)]


class TestValidation:
    def test_unknown_sub_table(self, spark):
        spec = PipelineSpec(
            lookups=[{
                "id": "x",
                "query": ("SELECT price AS p, (SELECT max(x) FROM nope) "
                          "AS m FROM plans WHERE tool = :tool"),
                "parameters": {"tool": "tool"},
            }]
        )
        dims = {"plans": spark.createDataFrame(PLAN_ROWS, PLANS)}
        with pytest.raises(ValidationError, match="unknown local table"):
            LookupEnricher(spec, dims)

    def test_unknown_outer_column(self, spark):
        spec = PipelineSpec(
            lookups=[{
                "id": "x",
                "query": ("SELECT price AS p, (SELECT max(p2.price) FROM "
                          "plans p2 WHERE p2.plan = plans.nope) AS m "
                          "FROM plans WHERE tool = :tool"),
                "parameters": {"tool": "tool"},
            }]
        )
        dims = {"plans": spark.createDataFrame(PLAN_ROWS, PLANS)}
        with pytest.raises(ValidationError, match="outer column"):
            LookupEnricher(spec, dims)


class TestPlan:
    def test_fact_side_stays_shuffle_free(self, spark):
        from tests.test_plan_quality import _plan

        spec = PipelineSpec(
            lookups=[{
                "id": "u",
                "query": ("SELECT p.price AS price, "
                          "(SELECT avg(p2.price) FROM plans p2 "
                          "WHERE p2.plan = p.plan) AS pa "
                          "FROM plans p WHERE p.tool = :tool"),
                "parameters": {"tool": "tool"},
            }]
        )
        dims = {"plans": spark.createDataFrame(PLAN_ROWS, PLANS)}
        facts = spark.createDataFrame(
            [(f"c{i}", i, f"t{i % 4}") for i in range(64)], FACT
        )
        out = LookupEnricher(spec, dims).apply(facts)
        plan = _plan(out)
        assert "BroadcastHashJoin" in plan
        # the per-group aggregate's exchange is dim-side (snapshot
        # time); the fact lineage must stay exchange-free — no
        # shuffle of the 64-row fact frame
        fact_section = plan.split("BroadcastHashJoin")[0]
        assert "Exchange" not in fact_section


class TestUnionBranches:
    """Projection subqueries inside UNION branches: each branch is its
    own CompiledLookup over its own dim, so the psq resolves against
    the BRANCH's tables; the payload-type contract still applies."""

    def _dims(self, spark):
        return {
            "plans": spark.createDataFrame(
                [("t1", "basic", 10), ("t1", "basic", 2), ("t2", "pro", 7)],
                PLANS,
            ),
            "extras": spark.createDataFrame(
                [("t1", "gold", 99)], PLANS
            ),
        }

    def test_psq_per_branch(self, spark):
        from logstash_filter_jdbc_static_spark import oracle

        q = (
            "SELECT price AS price, "
            "(SELECT min(price) FROM plans) AS m "
            "FROM plans WHERE tool = :tool "
            "UNION ALL "
            "SELECT price AS price, "
            "(SELECT max(price) FROM extras) AS m "
            "FROM extras WHERE tool = :tool"
        )
        spec = PipelineSpec(
            lookups=[{"id": "u", "query": q, "parameters": {"tool": "tool"}}]
        )
        dims = self._dims(spark)
        facts = spark.createDataFrame([("t1",), ("t2",)], "tool: string")
        out = LookupEnricher(spec, dims).apply(facts)
        got = {
            r["tool"]: sorted((d["price"], d["m"]) for d in r["u"])
            for r in out.collect()
        }
        assert got == {
            "t1": [(2, 2), (10, 2), (99, 99)],
            "t2": [(7, 2)],
        }
        # row-at-a-time oracle agrees
        tables = {
            name: [
                {"tool": t, "plan": p, "price": pr}
                for t, p, pr in df.collect()
            ]
            for name, df in dims.items()
        }
        for tool, exp in got.items():
            ev = {"tool": tool}
            oracle.enhance(
                ev,
                PipelineSpec(lookups=[{
                    "id": "u", "query": q, "parameters": {"tool": "tool"}
                }]),
                tables,
            )
            assert sorted((d["price"], d["m"]) for d in ev["u"]) == exp

    def test_branch_type_mismatch_still_rejected(self, spark):
        # avg -> double vs max -> int: the payload contract names it
        spec = PipelineSpec(
            lookups=[{
                "id": "u",
                "query": (
                    "SELECT price AS price, "
                    "(SELECT avg(price) FROM plans) AS m "
                    "FROM plans WHERE tool = :tool "
                    "UNION ALL "
                    "SELECT price AS price, "
                    "(SELECT max(price) FROM extras) AS m "
                    "FROM extras WHERE tool = :tool"
                ),
                "parameters": {"tool": "tool"},
            }]
        )
        with pytest.raises(ValidationError, match="does not match"):
            LookupEnricher(spec, self._dims(spark))


@pytest.mark.parametrize("kw", ENGINES)
class TestGroupedProjection:
    """Round-5 latest: projection subqueries combined with GROUP BY.
    The ``__psq{n}`` column is group-constant (uncorrelated, or
    correlated on GROUP BY keys — the standard-SQL grouped-projection
    rule), so it folds into the grouping columns at parse and every
    physical path groups by it unchanged. A documented EXTENSION over
    Derby, which rejects ANY scalar subquery in a grouped SELECT list
    (ERROR 42Y30, pinned natively in test_jdbc_derby.py)."""

    def _run(self, spark, query, kw, tools=("t1", "t2", "t3", "t9")):
        dims = {"plans": spark.createDataFrame(PLAN_ROWS, PLANS)}
        spec = PipelineSpec(
            lookups=[{"id": "u", "query": query,
                      "parameters": {"tool": "tool"}}]
        )
        facts = spark.createDataFrame(
            [(f"c{i}", i, t) for i, t in enumerate(tools)], FACT
        )
        out = LookupEnricher(spec, dims, **kw).apply(facts)
        got = {
            r["tool"]: sorted(
                tuple(d.asDict().values()) for d in r["u"]
            )
            for r in out.select("tool", "u").collect()
        }
        # row-at-a-time oracle agreement on the same shapes
        from logstash_filter_jdbc_static_spark import oracle

        tables = {
            "plans": [
                {"tool": t, "plan": p, "price": pr}
                for t, p, pr in PLAN_ROWS
            ]
        }
        for tool, exp in got.items():
            ev = {"tool": tool}
            oracle.enhance(ev, spec, tables)
            assert sorted(
                tuple(d.values()) for d in ev["u"]
            ) == exp, f"oracle disagrees for {tool!r}"
        return got

    def test_uncorrelated_with_group_and_count(self, spark, kw):
        got = self._run(
            spark,
            "SELECT plan AS plan, (SELECT max(price) FROM plans) AS mx, "
            "count(*) AS n FROM plans WHERE tool = :tool GROUP BY plan",
            kw,
        )
        assert got == {
            "t1": [("basic", 10, 2)],
            "t2": [("pro", 10, 1)],
            "t3": [(None, 10, 1)],
            "t9": [],
        }

    def test_correlated_on_group_key(self, spark, kw):
        got = self._run(
            spark,
            "SELECT plan AS plan, (SELECT sum(p2.price) FROM plans p2 "
            "WHERE p2.plan = plans.plan) AS tot, count(*) AS n "
            "FROM plans WHERE tool = :tool GROUP BY plan",
            kw,
        )
        # the NULL plan correlates to nothing: sum over empty -> NULL
        assert got == {
            "t1": [("basic", 12, 2)],
            "t2": [("pro", 7, 1)],
            "t3": [(None, None, 1)],
            "t9": [],
        }

    def test_group_by_without_aggregates(self, spark, kw):
        got = self._run(
            spark,
            "SELECT plan AS plan, (SELECT count(*) FROM plans) AS n "
            "FROM plans WHERE tool = :tool GROUP BY plan",
            kw,
        )
        assert got == {
            "t1": [("basic", 5)],
            "t2": [("pro", 5)],
            "t3": [(None, 5)],
            "t9": [],
        }

    def test_having_over_psq_alias(self, spark, kw):
        got = self._run(
            spark,
            "SELECT plan AS plan, (SELECT sum(p2.price) FROM plans p2 "
            "WHERE p2.plan = plans.plan) AS tot, count(*) AS n "
            "FROM plans WHERE tool = :tool GROUP BY plan "
            "HAVING count(*) >= 1 AND tot > 8",
            kw,
        )
        assert got == {
            "t1": [("basic", 12, 2)],
            "t2": [],
            "t3": [],
            "t9": [],
        }

    def test_join_mode_grouped_psq(self, spark, kw):
        dims = {
            "plans": spark.createDataFrame(PLAN_ROWS, PLANS),
            "bands": spark.createDataFrame(
                [(0, 6, "low"), (6, 11, "high")],
                "lo: int, hi: int, band: string",
            ),
        }
        spec = PipelineSpec(
            lookups=[{
                "id": "u",
                "query": (
                    "SELECT b.band AS band, "
                    "(SELECT count(*) FROM plans p2) AS total, "
                    "count(*) AS n "
                    "FROM plans p JOIN bands b "
                    "ON p.price >= b.lo AND p.price < b.hi "
                    "WHERE p.tool = :tool GROUP BY b.band"
                ),
                "parameters": {"tool": "tool"},
            }]
        )
        facts = spark.createDataFrame([("c1", 1, "t1")], FACT)
        (row,) = LookupEnricher(spec, dims, **kw).apply(facts).collect()
        # t1 prices 10 (high) and 2 (low)
        assert sorted((d["band"], d["total"], d["n"]) for d in row["u"]) == [
            ("high", 5, 1), ("low", 5, 1),
        ]

    def test_grouped_tail_orders_by_psq_alias(self, spark, kw):
        dims = {"plans": spark.createDataFrame(PLAN_ROWS, PLANS)}
        spec = PipelineSpec(
            lookups=[{
                "id": "u",
                "query": (
                    "SELECT plan AS plan, (SELECT sum(p2.price) FROM "
                    "plans p2 WHERE p2.plan = plans.plan) AS tot, "
                    "count(*) AS n FROM plans GROUP BY plan "
                    "ORDER BY tot DESC FETCH FIRST 2 ROWS ONLY"
                ),
                "parameters": {},
            }]
        )
        facts = spark.createDataFrame([("c1", 1, "t1")], FACT)
        (row,) = LookupEnricher(spec, dims, **kw).apply(facts).collect()
        # groups: basic tot 12, pro 7, trial 1, NULL-plan tot NULL;
        # DESC puts NULLs first (Derby order), then 12
        assert [(d["plan"], d["tot"], d["n"]) for d in row["u"]] == [
            (None, None, 1), ("basic", 12, 2),
        ]


@pytest.mark.parametrize("kw", ENGINES)
class TestGlobalAggregate:
    """Round-5 latest: UNCORRELATED projection subqueries combined with
    a GLOBAL aggregate (no GROUP BY) — the subquery becomes a hidden
    ``max(__psq)`` aggregate at its SELECT position, and the one
    empty-set aggregate row substitutes the snapshot-resolved literal
    (SQL evaluates the subquery even over zero matched rows). A
    documented standard-SQL EXTENSION: Derby rejects ANY scalar
    subquery in a non-grouped aggregate SELECT list (42Y35, pinned
    natively in test_jdbc_derby.py)."""

    def _run(self, spark, query, kw, extra_dims=None):
        dims = {"plans": spark.createDataFrame(PLAN_ROWS, PLANS)}
        if extra_dims:
            dims.update(extra_dims)
        spec = PipelineSpec(
            lookups=[{"id": "u", "query": query,
                      "parameters": {"tool": "tool"}}]
        )
        facts = spark.createDataFrame(
            [(f"c{i}", i, f"t{i}") for i in range(5)], FACT
        )
        out = LookupEnricher(spec, dims, **kw).apply(facts)
        return {
            r["tool"]: (
                None if r["u"] is None
                else [tuple(d.asDict().values()) for d in r["u"]]
            )
            for r in out.select("tool", "u").collect()
        }

    def test_literal_carried_through_empty_set(self, spark, kw):
        got = self._run(
            spark,
            "SELECT (SELECT max(price) FROM plans) AS mx, "
            "count(*) AS n, sum(price) AS s "
            "FROM plans WHERE tool = :tool",
            kw,
        )
        # t0 matches nothing: the empty-set row still carries mx=10
        assert got == {
            "t0": [(10, 0, None)],
            "t1": [(10, 2, 12)],
            "t2": [(10, 1, 7)],
            "t3": [(10, 1, 8)],
            "t4": [(10, 1, 1)],
        }

    def test_null_subquery_value_stays_null(self, spark, kw):
        empty = spark.createDataFrame([], "x: int")
        got = self._run(
            spark,
            "SELECT (SELECT max(x) FROM empty) AS mx, count(*) AS n "
            "FROM plans WHERE tool = :tool",
            kw,
            extra_dims={"empty": empty},
        )
        assert got["t0"] == [(None, 0)]
        assert got["t1"] == [(None, 2)]

    def test_select_order_preserved(self, spark, kw):
        got = self._run(
            spark,
            "SELECT count(*) AS n, (SELECT min(price) FROM plans) AS mn "
            "FROM plans WHERE tool = :tool",
            kw,
        )
        assert got["t1"] == [(2, 1)]     # (n, mn) — written order
        assert got["t0"] == [(0, 1)]

    def test_literal_carried_through_non_equi_empty_set(self, spark, kw):
        # a theta predicate takes the map-probe path, whose
        # aggregate over an empty match set is computed, not substituted
        got = self._run(
            spark,
            "SELECT count(*) AS n, (SELECT max(price) FROM plans) AS mx "
            "FROM plans WHERE tool <> :tool AND price > 9",
            kw,
        )
        assert got["t1"] == [(0, 10)]   # the one price > 9 row is t1's
        assert got["t0"] == [(1, 10)]

    def test_union_branches_each_carry_their_literal(self, spark, kw):
        got = self._run(
            spark,
            "SELECT (SELECT max(price) FROM plans) AS mx, count(*) AS n "
            "FROM plans WHERE tool = :tool "
            "UNION ALL SELECT (SELECT min(price) FROM plans) AS mn, "
            "count(*) AS n2 FROM plans WHERE tool = :tool",
            kw,
        )
        # both branches yield their one row even on the t0 miss
        assert sorted(got["t0"]) == [(1, 0), (10, 0)]
        assert sorted(got["t1"]) == [(1, 2), (10, 2)]

    def test_offset_past_the_row_fires_default(self, spark, kw):
        dims = {"plans": spark.createDataFrame(PLAN_ROWS, PLANS)}
        spec = PipelineSpec(
            lookups=[{
                "id": "u",
                "query": (
                    "SELECT (SELECT max(price) FROM plans) AS mx, "
                    "count(*) AS n FROM plans WHERE tool = :tool "
                    "ORDER BY n OFFSET 1 ROWS"
                ),
                "parameters": {"tool": "tool"},
                "default_hash": {"mx": -1, "n": -1},
            }]
        )
        facts = spark.createDataFrame([("c1", 1, "t1")], FACT)
        (row,) = LookupEnricher(spec, dims, **kw).apply(facts).collect()
        assert [(d["mx"], d["n"]) for d in row["u"]] == [(-1, -1)]

    def test_matches_row_oracle(self, spark, kw):
        from logstash_filter_jdbc_static_spark import oracle

        query = (
            "SELECT (SELECT max(price) FROM plans WHERE plan = 'basic') "
            "AS mb, count(*) AS n FROM plans WHERE tool = :tool"
        )
        got = self._run(spark, query, kw)
        tables = {
            "plans": [
                dict(zip(("tool", "plan", "price"), r)) for r in PLAN_ROWS
            ]
        }
        for i in range(5):
            ev = {"conv_id": f"c{i}", "turn_idx": i, "tool": f"t{i}"}
            oracle.enhance(
                ev,
                PipelineSpec(lookups=[{"id": "u", "query": query,
                                       "parameters": {"tool": "tool"}}]),
                tables,
            )
            assert [tuple(d.values()) for d in ev["u"]] == got[f"t{i}"]


FACT_OTHER = T.StructType(
    FACT.fields + [T.StructField("other", T.StringType(), True)]
)


@pytest.mark.parametrize("kw", ENGINES)
class TestParamProjection:
    """Round-5 latest: PARAMETERIZED projection subqueries
    (``SELECT plan, (SELECT sum(price) FROM p2 WHERE p2.tool = :tool)
    AS tot ...``) — the per-event value rides the predicate param-
    subquery machinery (snapshot per-param-group aggregate frame,
    broadcast-joined onto the FACT) and is OVERLAID into the payload
    field post-stage; the dim carries a typed NULL placeholder so
    every physical path keeps its snapshot-typed payload struct.
    Derby runs the shape natively as a prepared statement
    (lookup.rb:131-147) — e2e in test_jdbc_derby.py."""

    def _run(self, spark, query, kw, params=None, rows=None):
        dims = {"plans": spark.createDataFrame(PLAN_ROWS, PLANS)}
        spec = PipelineSpec(
            lookups=[{"id": "u", "query": query,
                      "parameters": params or {"tool": "tool"}}]
        )
        facts = spark.createDataFrame(
            rows if rows is not None
            else [(f"c{i}", i, f"t{i}") for i in range(5)],
            FACT if rows is None else FACT_OTHER,
        )
        out = LookupEnricher(spec, dims, **kw).apply(facts)
        return {
            r["tool"]: (
                None if r["u"] is None
                else sorted(
                    (tuple(d.asDict().values()) for d in r["u"]),
                    key=lambda t: tuple(
                        (v is not None, v) for v in t
                    ),
                )
            )
            for r in out.select("tool", "u").collect()
        }

    def test_plain_projection_per_event_value(self, spark, kw):
        got = self._run(
            spark,
            "SELECT plan, (SELECT sum(price) FROM plans p2 "
            "WHERE p2.tool = :tool) AS tot "
            "FROM plans WHERE tool = :tool",
            kw,
        )
        assert got == {
            "t0": [],
            "t1": [("basic", 12), ("basic", 12)],
            "t2": [("pro", 7)],
            "t3": [(None, 8)],
            "t4": [("trial", 1)],
        }

    def test_count_over_empty_param_group_is_zero(self, spark, kw):
        got = self._run(
            spark,
            "SELECT plan, (SELECT count(*) FROM plans p2 "
            "WHERE p2.tool = :other) AS c "
            "FROM plans WHERE tool = :tool",
            kw,
            params={"tool": "tool", "other": "other"},
            rows=[("c1", 1, "t1", "t9"), ("c2", 2, "t2", "t3")],
        )
        # t9 matches no sub group: SQL count over the empty set is 0;
        # t3 matches one row
        assert got == {
            "t1": [("basic", 0), ("basic", 0)],
            "t2": [("pro", 1)],
        }

    def test_non_count_over_empty_param_group_is_null(self, spark, kw):
        got = self._run(
            spark,
            "SELECT plan, (SELECT max(price) FROM plans p2 "
            "WHERE p2.tool = :other) AS m "
            "FROM plans WHERE tool = :tool",
            kw,
            params={"tool": "tool", "other": "other"},
            rows=[("c1", 1, "t1", "t9")],
        )
        assert got == {"t1": [("basic", None), ("basic", None)]}

    def test_group_by_combination(self, spark, kw):
        got = self._run(
            spark,
            "SELECT plan, (SELECT count(*) FROM plans p2 "
            "WHERE p2.tool = :tool) AS c, sum(price) AS s "
            "FROM plans WHERE tool = :tool GROUP BY plan",
            kw,
        )
        assert got == {
            "t0": [],
            "t1": [("basic", 2, 12)],
            "t2": [("pro", 1, 7)],
            "t3": [(None, 1, 8)],
            "t4": [("trial", 1, 1)],
        }

    def test_union_branches_each_overlay_their_value(self, spark, kw):
        got = self._run(
            spark,
            "SELECT plan, (SELECT max(price) FROM plans p2 "
            "WHERE p2.tool = :tool) AS v "
            "FROM plans WHERE tool = :tool "
            "UNION ALL SELECT plan AS plan, price AS v "
            "FROM plans WHERE tool = 't4'",
            kw,
        )
        assert got["t1"] == [("basic", 10), ("basic", 10), ("trial", 1)]
        assert got["t2"] == [("pro", 7), ("trial", 1)]
        # miss on the parameterized branch still unions the static one
        assert got["t0"] == [("trial", 1)]

    def test_probe_miss_fires_default(self, spark, kw):
        dims = {"plans": spark.createDataFrame(PLAN_ROWS, PLANS)}
        spec = PipelineSpec(
            lookups=[{
                "id": "u",
                "query": (
                    "SELECT plan, (SELECT max(price) FROM plans p2 "
                    "WHERE p2.tool = :tool) AS m "
                    "FROM plans WHERE tool = :tool"
                ),
                "parameters": {"tool": "tool"},
                "default_hash": {"plan": "none", "m": -1},
            }]
        )
        facts = spark.createDataFrame([("c0", 0, "t0")], FACT)
        (row,) = LookupEnricher(spec, dims, **kw).apply(facts).collect()
        assert [(d["plan"], d["m"]) for d in row["u"]] == [("none", -1)]

    def test_matches_row_oracle(self, spark, kw):
        from logstash_filter_jdbc_static_spark import oracle

        query = (
            "SELECT plan, (SELECT sum(price) FROM plans p2 "
            "WHERE p2.tool = :tool) AS tot, price "
            "FROM plans WHERE tool = :tool"
        )
        got = self._run(spark, query, kw)
        tables = {
            "plans": [
                dict(zip(("tool", "plan", "price"), r)) for r in PLAN_ROWS
            ]
        }
        for i in range(5):
            ev = {"conv_id": f"c{i}", "turn_idx": i, "tool": f"t{i}"}
            oracle.enhance(
                ev,
                PipelineSpec(lookups=[{"id": "u", "query": query,
                                       "parameters": {"tool": "tool"}}]),
                tables,
            )
            assert sorted(
                (tuple(d.values()) for d in ev["u"]),
                key=lambda t: tuple((v is not None, v) for v in t),
            ) == got[f"t{i}"]


class TestParamProjectionGlobalAgg:
    """Round-5 latest: a PARAMETERIZED projection subquery combined
    with a GLOBAL aggregate (no GROUP BY) — the hidden ``max(__psq)``
    aggregate reads a typed NULL placeholder and the per-event value
    overlays the payload field; the EMPTY-set aggregate row
    substitutes INSIDE the payload stage, while the broadcast-joined
    per-event columns are still in scope, so it too carries the
    event's value (a standard-SQL extension over Derby, which rejects
    any scalar subquery in an aggregate SELECT list — 42Y35,
    pinned)."""

    _run = TestParamProjection._run

    @pytest.mark.parametrize("kw", ENGINES)
    def test_global_agg_with_param_psq(self, spark, kw):
        got = self._run(
            spark,
            "SELECT count(*) AS n, (SELECT sum(price) FROM plans p2 "
            "WHERE p2.tool = :tool) AS tot "
            "FROM plans WHERE tool = :tool",
            kw,
        )
        # t0: EMPTY match set -> the one empty-set row still carries
        # the per-event subquery value (NULL: empty t0 group)
        assert got == {
            "t0": [(0, None)],
            "t1": [(2, 12)],
            "t2": [(1, 7)],
            "t3": [(1, 8)],
            "t4": [(1, 1)],
        }

    @pytest.mark.parametrize("kw", ENGINES)
    def test_empty_set_row_carries_event_value(self, spark, kw):
        got = self._run(
            spark,
            "SELECT count(*) AS n, (SELECT count(*) FROM plans p2 "
            "WHERE p2.tool = :tool) AS c "
            "FROM plans WHERE price > 50",
            kw,
        )
        # no dim row has price > 50 -> every event takes the
        # empty-set row; the subquery count still binds per event
        assert got == {
            "t0": [(0, 0)],
            "t1": [(0, 2)],
            "t2": [(0, 1)],
            "t3": [(0, 1)],
            "t4": [(0, 1)],
        }


class TestParamProjectionValidation:

    def test_rejected_when_also_correlated(self):
        with pytest.raises(ValidationError, match="BOTH correlated"):
            parse_lookup_query(
                "SELECT (SELECT max(u.x) FROM u WHERE u.k = t.k "
                "AND u.p = :p) AS m FROM t WHERE a = :a"
            )

    def test_rejected_inside_derived_table(self, spark):
        from logstash_filter_jdbc_static_spark.operators.lookup import (
            materialize_derived,
        )

        dims = {"plans": spark.createDataFrame(PLAN_ROWS, PLANS)}
        with pytest.raises(ValidationError, match="derived"):
            materialize_derived(
                "SELECT plan, (SELECT max(price) FROM plans p2 "
                "WHERE p2.tool = :tool) AS m FROM plans",
                dims,
                "derived table 'd'",
            )

    def test_missing_binding_detected(self, spark):
        dims = {"plans": spark.createDataFrame(PLAN_ROWS, PLANS)}
        spec = PipelineSpec(
            lookups=[{
                "id": "u",
                "query": (
                    "SELECT plan, (SELECT max(price) FROM plans p2 "
                    "WHERE p2.tool = :missing) AS m "
                    "FROM plans WHERE tool = :tool"
                ),
                "parameters": {"tool": "tool"},
            }]
        )
        facts = spark.createDataFrame([("c0", 0, "t0")], FACT)
        with pytest.raises(ValidationError, match="missing"):
            LookupEnricher(spec, dims).apply(facts)
