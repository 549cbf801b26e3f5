"""Derived tables in lookup FROM clauses (round-5 late):
``SELECT ... FROM (SELECT ...) alias`` — Derby executes them verbatim
per event (lookup.rb:131-147). Here each inner select materializes
ONCE per refresh snapshot as its own dimension
(``materialize_derived``, dim-sized work) and the outer query compiles
over the synthetic table name on the unchanged machinery, so the
per-event plan is identical to a plain-table lookup (plan-asserted).
Spark-vs-row-oracle equivalence on every accepted shape; targeted
rejections for the per-event-rebinding shapes (params inside,
set ops, ORDER BY/LIMIT)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from logstash_filter_jdbc_static_spark import oracle
from logstash_filter_jdbc_static_spark.operators.lookup import (
    extract_derived_tables,
)
from logstash_filter_jdbc_static_spark.operators.processor import LookupEnricher
from logstash_filter_jdbc_static_spark.spec import PipelineSpec, ValidationError

from plan_conditions import PLAN_CONDITIONS

ROWS = [
    ("t1", "basic", 10, 3),
    ("t1", "pro", 7, 2),
    ("t1", None, 4, 5),
    ("t2", "basic", 2, 9),
    ("t3", "solo", 8, 1),
]
CATS = [("basic", "core"), ("pro", "paid")]

# Lookup constructor kwargs per case (always empty), one case per
# plan condition (plan_conditions.py).
ENGINES = PLAN_CONDITIONS


def _dims(spark):
    return {
        "tool_plans": spark.createDataFrame(
            ROWS, "tool string, plan string, price int, qty int"
        ),
        "plan_cats": spark.createDataFrame(CATS, "plan string, cat string"),
    }


def _tables():
    return {
        "tool_plans": [
            dict(zip(("tool", "plan", "price", "qty"), r)) for r in ROWS
        ],
        "plan_cats": [dict(zip(("plan", "cat"), r)) for r in CATS],
    }


def _run(spark, query, kw=None, default=None):
    lookup = {"id": "dt", "query": query, "parameters": {"tool": "tool"}}
    if default is not None:
        lookup["default_hash"] = default
    facts = spark.createDataFrame(
        [("t1",), ("t2",), ("t9",)], "tool: string"
    )
    out = LookupEnricher(
        PipelineSpec(lookups=[dict(lookup)]), _dims(spark), **(kw or {})
    ).apply(facts)
    got = {
        r["tool"]: [tuple(d.asDict().items()) for d in r["dt"]]
        for r in out.collect()
    }
    for tool in ("t1", "t2", "t9"):
        ev = {"tool": tool}
        oracle.enhance(
            ev, PipelineSpec(lookups=[dict(lookup)]), _tables()
        )
        exp = [tuple(d.items()) for d in ev["dt"]]
        assert got[tool] == exp, f"{tool}: spark {got[tool]} != oracle {exp}"
    return got


class TestExtractor:
    def test_plain_query_untouched(self):
        q = "SELECT a FROM t WHERE x = :x AND s = 'from (select'"
        new_q, derived = extract_derived_tables(q)
        assert new_q == q and derived == ()

    def test_from_and_join_derived(self):
        q = (
            "SELECT d.a, e.b FROM (SELECT a FROM t) d "
            "JOIN (SELECT b FROM u WHERE c > 1) AS e ON d.a = e.b"
        )
        new_q, derived = extract_derived_tables(q)
        assert [n for n, _, _ in derived] == ["__dt0", "__dt1"]
        assert derived[0][1] == "SELECT a FROM t"
        assert derived[1][1] == "SELECT b FROM u WHERE c > 1"
        assert "FROM __dt0 d" in new_q and "JOIN __dt1 AS e" in new_q

    def test_values_with_column_list(self):
        q = (
            "SELECT v.label AS label FROM "
            "(VALUES ('a', 1), ('b', -2.5), (NULL, 3)) AS v (label, w) "
            "WHERE v.w > :min"
        )
        new_q, derived = extract_derived_tables(q)
        (name, inner, cols) = derived[0]
        assert name == "__dt0" and cols == ("label", "w")
        assert inner.lower().startswith("values")
        assert "FROM __dt0 AS v WHERE" in new_q and "(label, w)" not in new_q

    def test_subquery_parens_do_not_match(self):
        q = (
            "SELECT a FROM t WHERE n = (SELECT max(n) FROM u) "
            "AND m IN (SELECT m FROM v)"
        )
        new_q, derived = extract_derived_tables(q)
        assert new_q == q and derived == ()

    def test_missing_alias_rejected(self):
        with pytest.raises(ValidationError, match="requires an alias"):
            extract_derived_tables("SELECT a FROM (SELECT a FROM t) WHERE x = :x")


class TestGoldenDerived:
    @pytest.mark.parametrize("kw", ENGINES)
    def test_expression_projection_and_outer_param(self, spark, kw):
        got = _run(
            spark,
            "SELECT plan AS plan, total AS total FROM "
            "(SELECT tool AS tool, plan AS plan, price * qty AS total "
            "FROM tool_plans WHERE qty >= 2) d "
            "WHERE d.tool = :tool AND d.total > 10",
            kw,
        )
        assert got["t1"] == [
            (("plan", None), ("total", 20)),
            (("plan", "basic"), ("total", 30)),
            (("plan", "pro"), ("total", 14)),
        ]
        assert got["t2"] == [(("plan", "basic"), ("total", 18))]
        assert got["t9"] == []

    def test_static_having_inside(self, spark):
        got = _run(
            spark,
            "SELECT n AS n, mx AS mx FROM "
            "(SELECT tool AS tool, count(*) AS n, max(price) AS mx "
            "FROM tool_plans GROUP BY tool "
            "HAVING count(*) > 1 AND max(price) >= 8) g "
            "WHERE g.tool = :tool",
        )
        assert got["t1"] == [(("n", 3), ("mx", 10))]
        assert got["t2"] == []  # count 1 fails HAVING
        assert got["t9"] == []

    def test_having_expression_lhs_inside(self, spark):
        # round-5 latest: expression LHS in a derived table's HAVING —
        # materialized over the aggregated frame for the filter,
        # dropped after it
        got = _run(
            spark,
            "SELECT n AS n, mx AS mx FROM "
            "(SELECT tool AS tool, count(*) AS n, max(price) AS mx "
            "FROM tool_plans GROUP BY tool "
            "HAVING n * 10 > mx + 15) g "
            "WHERE g.tool = :tool",
        )
        # t1: n=3 mx=10 -> 30 > 25 keep; t2: n=1 mx=9? -> check data:
        # t2 has one row (price 8) -> 10 > 23 drop
        assert got["t1"] == [(("n", 3), ("mx", 10))]
        assert got["t2"] == []
        assert got["t9"] == []

    @pytest.mark.parametrize("kw", ENGINES)
    def test_group_by_aggregate_inside(self, spark, kw):
        got = _run(
            spark,
            "SELECT n AS n, mx AS mx FROM "
            "(SELECT tool AS tool, count(*) AS n, max(price) AS mx "
            "FROM tool_plans GROUP BY tool) g WHERE g.tool = :tool",
            kw,
        )
        assert got["t1"] == [(("n", 3), ("mx", 10))]
        assert got["t2"] == [(("n", 1), ("mx", 2))]

    def test_distinct_inside(self, spark):
        got = _run(
            spark,
            "SELECT plan AS plan FROM "
            "(SELECT DISTINCT tool AS tool, plan AS plan FROM tool_plans) d "
            "WHERE d.tool = :tool",
        )
        assert got["t1"] == [(("plan", None),), (("plan", "basic"),),
                             (("plan", "pro"),)]

    def test_derived_joined_with_real_table(self, spark):
        got = _run(
            spark,
            "SELECT c.cat AS cat, d.total AS total "
            "FROM (SELECT tool AS tool, plan AS plan, "
            "price * qty AS total FROM tool_plans) d "
            "JOIN plan_cats c ON d.plan = c.plan "
            "WHERE d.tool = :tool",
        )
        assert got["t1"] == [(("cat", "core"), ("total", 30)),
                             (("cat", "paid"), ("total", 14))]

    def test_join_inside_derived(self, spark):
        got = _run(
            spark,
            "SELECT pc AS pc FROM "
            "(SELECT p.tool AS tool, p.plan || '/' || c.cat AS pc "
            "FROM tool_plans p JOIN plan_cats c ON p.plan = c.plan) d "
            "WHERE d.tool = :tool",
        )
        assert got["t1"] == [(("pc", "basic/core"),), (("pc", "pro/paid"),)]

    def test_nested_derived(self, spark):
        got = _run(
            spark,
            "SELECT total AS total FROM "
            "(SELECT tool AS tool, total AS total FROM "
            "(SELECT tool AS tool, price * qty AS total "
            "FROM tool_plans WHERE price > 2) i "
            "WHERE i.total >= 14) o WHERE o.tool = :tool",
        )
        assert got["t1"] == [(("total", 14),), (("total", 20),),
                             (("total", 30),)]
        assert got["t2"] == []

    def test_derived_in_union_branch(self, spark):
        got = _run(
            spark,
            "SELECT plan AS p FROM tool_plans WHERE tool = :tool "
            "AND price > 9 "
            "UNION ALL "
            "SELECT plan AS p FROM "
            "(SELECT tool AS tool, plan AS plan FROM tool_plans "
            "WHERE qty >= 5) d WHERE d.tool = :tool",
        )
        assert got["t1"] == [((("p", None)),), (("p", "basic"),)]
        assert got["t2"] == [(("p", "basic"),)]

    def test_empty_derived_match_fires_default(self, spark):
        got = _run(
            spark,
            "SELECT plan AS plan FROM "
            "(SELECT tool AS tool, plan AS plan FROM tool_plans "
            "WHERE price > 99) d WHERE d.tool = :tool",
            default={"plan": "none"},
        )
        assert got["t1"] == [(("plan", "none"),)]


class TestDerivedPlan:
    def test_equi_probe_stays_single_broadcast_join(self, spark):
        """The per-event plan over a derived dim is the same
        key-grouped broadcast hash join as a plain-table lookup: the
        fact side has NO exchange (the derived table's groupBy shuffles
        dim-sized data once per snapshot, never the fact)."""
        from tests.test_plan_quality import _plan

        spec = PipelineSpec(
            lookups=[
                {
                    "id": "dt",
                    "query": (
                        "SELECT n AS n FROM "
                        "(SELECT tool AS tool, count(*) AS n "
                        "FROM tool_plans GROUP BY tool) g "
                        "WHERE g.tool = :tool"
                    ),
                    "parameters": {"tool": "tool"},
                }
            ]
        )
        fact = spark.range(5000).select(
            F.concat(F.lit("t"), (F.col("id") % 5).cast("string")).alias("tool"),
            F.col("id").alias("turn_idx"),
        )
        out = LookupEnricher(spec, _dims(spark)).apply(fact)
        plan = _plan(out, "simple")
        assert "BroadcastHashJoin" in plan
        sigs = re.findall(
            r"(?<!Broadcast)Exchange hashpartitioning\(([^)]*)\)", plan
        )
        # dim-side shuffles only: the snapshot groupBy keys on the dim
        # column, never on a fact column
        for s in sigs:
            assert "tool#" in s and "turn_idx" not in s, (s, plan)
        assert "id#" not in " ".join(sigs), sigs


class TestDerivedRejections:
    @pytest.mark.parametrize(
        "query,msg",
        [
            ("SELECT plan AS plan FROM (SELECT tool AS tool, plan AS plan "
             "FROM tool_plans WHERE tool = :tool) d WHERE d.tool = :tool",
             "placeholders inside a derived table"),
            ("SELECT plan AS plan FROM (SELECT tool AS tool, plan AS plan "
             "FROM tool_plans LIMIT 2) d WHERE d.tool = :tool",
             "requires an ORDER BY"),
            ("SELECT plan AS plan FROM (SELECT tool AS tool, plan AS plan "
             "FROM tool_plans ORDER BY price LIMIT 2) d WHERE d.tool = :tool",
             "not in .* derived output"),
            ("SELECT n AS n FROM (SELECT tool AS tool, count(*) AS n "
             "FROM tool_plans GROUP BY tool HAVING count(*) > :tool) g "
             "WHERE g.tool = :tool",
             "placeholders inside a derived table"),
            # set ops inside a derived table are ACCEPTED since
            # round-5 latest (TestDerivedSetOps); the residual
            # rejections are the per-branch shape rules:
            ("SELECT p AS p FROM (SELECT tool AS tool, plan AS p "
             "FROM tool_plans ORDER BY p UNION SELECT tool AS tool, "
             "plan AS p FROM tool_plans) d WHERE d.tool = :tool",
             "needs the branch parenthesized"),
            ("SELECT p AS p FROM (SELECT tool AS tool, plan AS p "
             "FROM tool_plans UNION SELECT tool AS tool "
             "FROM tool_plans) d WHERE d.tool = :tool",
             "branches align positionally"),
            ("SELECT p AS p FROM (SELECT tool AS tool, plan AS p "
             "FROM tool_plans UNION SELECT tool AS tool, plan AS p "
             "FROM tool_plans LIMIT 2) d WHERE d.tool = :tool",
             "requires an ORDER BY"),
            ("SELECT p AS p FROM ((VALUES ('t1', 'x')) UNION "
             "SELECT tool AS tool, plan AS p FROM tool_plans) d "
             "WHERE d.tool = :tool",
             "VALUES first branch needs a column list"),
            ("SELECT p AS p FROM (SELECT tool AS tool, plan AS p "
             "FROM tool_plans WHERE tool = :tool UNION "
             "SELECT tool AS tool, plan AS p FROM tool_plans) d "
             "WHERE d.tool = :tool",
             "placeholders inside a derived table"),
        ],
    )
    def test_rejections(self, spark, query, msg):
        with pytest.raises(ValidationError, match=msg):
            LookupEnricher(
                PipelineSpec(lookups=[{
                    "id": "dt", "query": query,
                    "parameters": {"tool": "tool"},
                }]),
                _dims(spark),
            )


class TestValuesTables:
    """Inline ``(VALUES ...) AS t (cols)`` derived tables — Derby's
    table-value constructor, legal lookup SQL there. Materializes as a
    literal DataFrame per snapshot; lets a config inline a small
    mapping without declaring a local table."""

    def test_values_lookup_matches_oracle(self, spark):
        got = _run(
            spark,
            "SELECT v.tier AS tier FROM "
            "(VALUES ('t1', 'gold'), ('t2', 'basic'), ('t3', 'gold')) "
            "AS v (tool, tier) WHERE v.tool = :tool",
        )
        assert got["t1"] == [(("tier", "gold"),)]
        assert got["t2"] == [(("tier", "basic"),)]
        assert got["t9"] == []

    def test_values_joined_with_real_table(self, spark):
        got = _run(
            spark,
            "SELECT p.plan AS plan, v.mult AS mult "
            "FROM tool_plans p JOIN "
            "(VALUES ('basic', 2), ('pro', 10)) AS v (plan, mult) "
            "ON p.plan = v.plan WHERE p.tool = :tool",
        )
        assert got["t1"] == [(("plan", "basic"), ("mult", 2)),
                             (("plan", "pro"), ("mult", 10))]

    def test_values_with_nulls_and_negative(self, spark):
        got = _run(
            spark,
            "SELECT v.w AS w FROM "
            "(VALUES ('t1', -2.5), ('t1', NULL), ('t2', 3)) AS v (tool, w) "
            "WHERE v.tool = :tool",
        )
        assert got["t1"] == [(("w", None),), (("w", -2.5),)]
        assert got["t2"] == [(("w", 3.0),)]

    def test_column_list_renames_select_derived(self, spark):
        got = _run(
            spark,
            "SELECT d.t2 AS t2 FROM "
            "(SELECT tool AS a, plan AS b FROM tool_plans) AS d (t1, t2) "
            "WHERE d.t1 = :tool AND d.t2 IS NOT NULL",
        )
        assert got["t2"] == [(("t2", "basic"),)]

    def test_values_without_column_list_rejected(self, spark):
        with pytest.raises(ValidationError, match="needs a column list"):
            LookupEnricher(
                PipelineSpec(lookups=[{
                    "id": "dt",
                    "query": "SELECT x AS x FROM (VALUES (1)) v "
                             "WHERE v.x = :tool",
                    "parameters": {"tool": "tool"},
                }]),
                _dims(spark),
            )

    def test_values_expression_rejected(self, spark):
        with pytest.raises(ValidationError, match="VALUES table"):
            LookupEnricher(
                PipelineSpec(lookups=[{
                    "id": "dt",
                    "query": "SELECT x AS x FROM (VALUES (1 + 2)) "
                             "AS v (x) WHERE v.x = :tool",
                    "parameters": {"tool": "tool"},
                }]),
                _dims(spark),
            )

    def test_values_all_null_column_rejected(self, spark):
        with pytest.raises(ValidationError, match="all NULL"):
            LookupEnricher(
                PipelineSpec(lookups=[{
                    "id": "dt",
                    "query": "SELECT x AS x FROM "
                             "(VALUES (NULL, 1), (NULL, 2)) AS v (x, y) "
                             "WHERE v.y = :tool",
                    "parameters": {"tool": "tool"},
                }]),
                _dims(spark),
            )


class TestSubqueriesInsideDerived:
    """Round-5 late: subqueries INSIDE a derived table — everything is
    snapshot-time there, so uncorrelated ones fold to literals and
    correlated/EXISTS ones join their per-group columns onto the inner
    relation, exactly as on a probed dim. Spark-vs-row-oracle via the
    shared _run harness."""

    def test_uncorrelated_comparand_inside(self, spark):
        # avg price over the whole dim = (10+7+4+2+8)/5 = 6.2
        got = _run(
            spark,
            "SELECT plan AS plan FROM "
            "(SELECT tool AS tool, plan AS plan FROM tool_plans "
            "WHERE price > (SELECT avg(price) FROM tool_plans)) d "
            "WHERE d.tool = :tool",
        )
        assert got["t1"] == [(("plan", "basic"),), (("plan", "pro"),)]
        assert got["t2"] == []

    def test_correlated_exists_inside(self, spark):
        # keep rows whose plan has a same-plan sibling priced above 5:
        # basic {10, 2} yes; pro {7} yes(7>5); solo {8} yes; NULL no
        got = _run(
            spark,
            "SELECT plan AS plan, price AS price FROM "
            "(SELECT tool AS tool, plan AS plan, price AS price "
            "FROM tool_plans t WHERE EXISTS "
            "(SELECT 1 FROM tool_plans p2 "
            "WHERE p2.plan = t.plan AND p2.price > 5)) d "
            "WHERE d.tool = :tool",
        )
        assert got["t1"] == [(("plan", "basic"), ("price", 10)),
                             (("plan", "pro"), ("price", 7))]
        assert got["t2"] == [(("plan", "basic"), ("price", 2))]

    def test_projection_subquery_inside(self, spark):
        got = _run(
            spark,
            "SELECT plan AS plan, nmx AS nmx FROM "
            "(SELECT tool AS tool, plan AS plan, "
            "(SELECT max(p2.price) FROM tool_plans p2 "
            "WHERE p2.plan = t.plan) AS nmx "
            "FROM tool_plans t) d WHERE d.tool = :tool",
        )
        assert got["t1"] == [(("plan", None), ("nmx", None)),
                             (("plan", "basic"), ("nmx", 10)),
                             (("plan", "pro"), ("nmx", 7))]

    def test_ineq_correlated_inside(self, spark):
        got = _run(
            spark,
            "SELECT price AS price, nc AS nc FROM "
            "(SELECT tool AS tool, price AS price, "
            "(SELECT count(*) FROM tool_plans p2 "
            "WHERE p2.price < t.price) AS nc "
            "FROM tool_plans t) d WHERE d.tool = :tool",
        )
        assert got["t1"] == [(("price", 4), ("nc", 1)),
                             (("price", 7), ("nc", 2)),
                             (("price", 10), ("nc", 4))]


class TestOrderedDerived:
    """Round-5 late: ordered top-N derived tables — ``ORDER BY ...
    FETCH FIRST n`` inside FROM selects WHICH dim rows exist. Keys in
    Derby result order (ASC nulls last / DESC nulls first) with the
    all-columns NULL-first tiebreak pinning tie selection (Derby
    leaves it unspecified), so the row set is deterministic and
    oracle-comparable. A bare ORDER BY without LIMIT/OFFSET is a no-op
    (unordered relation); LIMIT without ORDER BY rejects."""

    def test_top2_by_price(self, spark):
        got = _run(
            spark,
            "SELECT plan AS plan, price AS price FROM "
            "(SELECT tool AS tool, plan AS plan, price AS price "
            "FROM tool_plans ORDER BY price DESC "
            "FETCH FIRST 3 ROWS ONLY) d WHERE d.tool = :tool",
        )
        # global top-3 prices: 10 (t1), 8 (t3), 7 (t1)
        assert got["t1"] == [(("plan", "basic"), ("price", 10)),
                             (("plan", "pro"), ("price", 7))]
        assert got["t2"] == []

    def test_offset_and_limit(self, spark):
        got = _run(
            spark,
            "SELECT price AS price FROM "
            "(SELECT tool AS tool, price AS price FROM tool_plans "
            "ORDER BY price OFFSET 1 ROWS "
            "FETCH FIRST 3 ROWS ONLY) d WHERE d.tool = :tool",
        )
        # prices asc: 2,4,7,8,10 -> offset 1, take 3 -> {4,7,8}
        assert got["t1"] == [(("price", 4),), (("price", 7),)]
        assert got["t2"] == []  # its only price (2) fell to the offset

    def test_topn_groups_in_one_select(self, spark):
        # GROUP BY + ORDER BY + FETCH in ONE inner select: the
        # aggregate materializes first, then the ordered top-N selects
        # among the groups (alias-resolved keys) — same result as the
        # nested spelling below
        got = _run(
            spark,
            "SELECT mx AS mx FROM "
            "(SELECT tool AS tool, max(price) AS mx FROM tool_plans "
            "GROUP BY tool ORDER BY mx DESC "
            "FETCH FIRST 2 ROWS ONLY) g WHERE g.tool = :tool",
        )
        assert got["t1"] == [(("mx", 10),)]
        assert got["t2"] == []

    def test_topn_groups_via_nesting(self, spark):
        # the equivalent nested spelling: a derived table OVER the
        # aggregate one
        got = _run(
            spark,
            "SELECT mx AS mx FROM "
            "(SELECT tool AS tool, mx AS mx FROM "
            "(SELECT tool AS tool, max(price) AS mx FROM tool_plans "
            "GROUP BY tool) i ORDER BY mx DESC "
            "FETCH FIRST 2 ROWS ONLY) g WHERE g.tool = :tool",
        )
        # per-tool maxima: t1 10, t3 8, t2 2 -> top-2 keeps t1, t3
        assert got["t1"] == [(("mx", 10),)]
        assert got["t2"] == []

    def test_bare_order_by_is_noop(self, spark):
        got = _run(
            spark,
            "SELECT plan AS plan FROM "
            "(SELECT tool AS tool, plan AS plan FROM tool_plans "
            "ORDER BY plan DESC) d WHERE d.tool = :tool",
        )
        assert got["t2"] == [(("plan", "basic"),)]


class TestDerivedSetOps:
    """Set ops INSIDE a derived table (round-5 latest): Derby executes
    the full query-expression surface verbatim (lookup.rb:131-147) and
    a derived table materializes once per snapshot as a DataFrame, so
    — unlike the per-event top-level compile, which combines payload
    ARRAYS and restricts to homogeneous distinct joints — the full
    surface maps onto exact built-ins: UNION [ALL], EXCEPT [ALL]
    (subtract/exceptAll), INTERSECT [ALL] (intersect/intersectAll),
    mixed under SQL precedence (INTERSECT binds tighter), NULL not
    distinct from NULL throughout. Spark-vs-row-oracle on every shape
    via the shared _run harness; Derby legality pinned natively in
    test_jdbc_derby.py::TestDerbyGrammarLegality."""

    def test_union_distinct_dedupes_with_null_keys(self, spark):
        # branch 2 re-selects the same rows: UNION dedupes, and the
        # NULL-plan row collapses too (NULL not distinct from NULL)
        got = _run(
            spark,
            "SELECT d.plan AS plan FROM "
            "(SELECT tool AS tool, plan AS plan FROM tool_plans "
            "UNION SELECT tool AS tool, plan AS plan FROM tool_plans) d "
            "WHERE d.tool = :tool",
        )
        assert got["t1"] == [(("plan", None),), (("plan", "basic"),),
                             (("plan", "pro"),)]

    def test_union_all_keeps_duplicates(self, spark):
        got = _run(
            spark,
            "SELECT d.plan AS plan FROM "
            "(SELECT tool AS tool, plan AS plan FROM tool_plans "
            "WHERE price > 5 UNION ALL SELECT tool AS tool, "
            "plan AS plan FROM tool_plans WHERE qty < 4) d "
            "WHERE d.tool = :tool",
        )
        # t1: price>5 gives {basic, pro}; qty<4 gives {basic, pro} —
        # UNION ALL keeps all four
        assert got["t1"] == [(("plan", "basic"),), (("plan", "basic"),),
                             (("plan", "pro"),), (("plan", "pro"),)]

    def test_except_distinct_and_null_semantics(self, spark):
        # EXCEPT removes the NULL-plan row via NULL-not-distinct match
        got = _run(
            spark,
            "SELECT d.plan AS plan FROM "
            "(SELECT tool AS tool, plan AS plan FROM tool_plans "
            "EXCEPT SELECT tool AS tool, plan AS plan FROM tool_plans "
            "WHERE price < 8) d WHERE d.tool = :tool",
        )
        # t1 rows: basic(10) pro(7) NULL(4); right side (price<8):
        # (t1,pro),(t1,NULL),(t2,basic) -> t1 keeps only basic
        assert got["t1"] == [(("plan", "basic"),)]
        assert got["t2"] == []

    def test_except_all_multiset(self, spark):
        # doubled left side minus single right side leaves ONE copy of
        # each right-matched row (multiset difference), two of others
        got = _run(
            spark,
            "SELECT d.plan AS plan FROM "
            "(SELECT tool AS tool, plan AS plan FROM tool_plans "
            "UNION ALL SELECT tool AS tool, plan AS plan "
            "FROM tool_plans EXCEPT ALL SELECT tool AS tool, "
            "plan AS plan FROM tool_plans WHERE price < 8) d "
            "WHERE d.tool = :tool",
        )
        # t1 doubled: 2x basic, 2x pro, 2x NULL; right removes one pro,
        # one NULL -> basic x2, pro x1, NULL x1
        assert got["t1"] == [(("plan", None),), (("plan", "basic"),),
                             (("plan", "basic"),), (("plan", "pro"),)]

    def test_intersect_all_multiset(self, spark):
        # parenthesized so the union happens FIRST (bare, INTERSECT
        # would bind tighter): doubled ∩all single = single (min count)
        got = _run(
            spark,
            "SELECT d.plan AS plan FROM "
            "((SELECT tool AS tool, plan AS plan FROM tool_plans "
            "UNION ALL SELECT tool AS tool, plan AS plan "
            "FROM tool_plans) INTERSECT ALL (SELECT tool AS tool, "
            "plan AS plan FROM tool_plans)) d WHERE d.tool = :tool",
        )
        assert got["t1"] == [(("plan", None),), (("plan", "basic"),),
                             (("plan", "pro"),)]

    def test_intersect_all_precedence_unparenthesized(self, spark):
        # bare A UNION ALL A INTERSECT ALL A = A UNION ALL (A ∩all A)
        # = A doubled — INTERSECT binds tighter
        got = _run(
            spark,
            "SELECT d.plan AS plan FROM "
            "(SELECT tool AS tool, plan AS plan FROM tool_plans "
            "UNION ALL SELECT tool AS tool, plan AS plan "
            "FROM tool_plans INTERSECT ALL SELECT tool AS tool, "
            "plan AS plan FROM tool_plans) d WHERE d.tool = :tool",
        )
        assert got["t1"] == [(("plan", None),), (("plan", None),),
                             (("plan", "basic"),), (("plan", "basic"),),
                             (("plan", "pro"),), (("plan", "pro"),)]

    def test_mixed_precedence_intersect_binds_tighter(self, spark):
        # A UNION B INTERSECT C == A UNION (B INTERSECT C)
        got = _run(
            spark,
            "SELECT d.plan AS plan FROM "
            "(SELECT tool AS tool, plan AS plan FROM tool_plans "
            "WHERE price > 9 "
            "UNION SELECT tool AS tool, plan AS plan FROM tool_plans "
            "WHERE price > 5 "
            "INTERSECT SELECT tool AS tool, plan AS plan "
            "FROM tool_plans WHERE qty < 3) d WHERE d.tool = :tool",
        )
        # B∩C for t1: price>5 {basic,pro} ∩ qty<3 {pro} = {pro};
        # A adds basic(10) -> {basic, pro}
        assert got["t1"] == [(("plan", "basic"),), (("plan", "pro"),)]

    def test_parenthesized_group_overrides_precedence(self, spark):
        # ((A UNION B) INTERSECT C) forces the union first
        got = _run(
            spark,
            "SELECT d.plan AS plan FROM "
            "(((SELECT tool AS tool, plan AS plan FROM tool_plans "
            "WHERE price > 9) "
            "UNION (SELECT tool AS tool, plan AS plan FROM tool_plans "
            "WHERE price > 5)) "
            "INTERSECT (SELECT tool AS tool, plan AS plan "
            "FROM tool_plans WHERE qty < 3)) d WHERE d.tool = :tool",
        )
        # (A∪B) for t1 = {basic,pro}; ∩ qty<3 {pro} = {pro}
        assert got["t1"] == [(("plan", "pro"),)]

    def test_trailing_tail_shapes_whole_setop(self, spark):
        got = _run(
            spark,
            "SELECT d.price AS price FROM "
            "(SELECT tool AS tool, price AS price FROM tool_plans "
            "WHERE qty > 1 UNION ALL SELECT tool AS tool, "
            "price AS price FROM tool_plans WHERE price > 7 "
            "ORDER BY price DESC FETCH FIRST 3 ROWS ONLY) d "
            "WHERE d.tool = :tool",
        )
        # combined: qty>1 {10,7,4,2} + price>7 {10,8} -> top-3 by
        # price {10,10,8}: two t1 rows, one t3
        assert got["t1"] == [(("price", 10),), (("price", 10),)]
        assert got["t2"] == []

    def test_parenthesized_branch_own_tail_and_values_branch(self, spark):
        got = _run(
            spark,
            "SELECT d.plan AS plan, d.price AS price FROM "
            "((SELECT tool AS tool, plan AS plan, price AS price "
            "FROM tool_plans ORDER BY price DESC "
            "FETCH FIRST 2 ROWS ONLY) "
            "UNION ALL (VALUES ('t9', 'zz', 0))) d WHERE d.tool = :tool",
        )
        # branch 1 top-2 by price: (t1,basic,10), (t3,solo,8)
        assert got["t1"] == [(("plan", "basic"), ("price", 10))]
        assert got["t9"] == [(("plan", "zz"), ("price", 0))]

    def test_setop_derived_joined_with_values_derived(self, spark):
        got = _run(
            spark,
            "SELECT d.plan AS plan, c.cat AS cat FROM "
            "(SELECT tool AS tool, plan AS plan FROM tool_plans "
            "WHERE price > 3 EXCEPT SELECT tool AS tool, plan AS plan "
            "FROM tool_plans WHERE qty > 4) d "
            "JOIN (VALUES ('basic', 'core'), ('pro', 'paid')) "
            "AS c (plan, cat) ON d.plan = c.plan WHERE d.tool = :tool",
        )
        assert got["t1"] == [(("plan", "basic"), ("cat", "core")),
                             (("plan", "pro"), ("cat", "paid"))]

    def test_bare_values_branch(self, spark):
        # Derby's own spelling: VALUES is a query PRIMARY, legal as an
        # unparenthesized branch (pinned natively in
        # test_jdbc_derby.py::test_setops_inside_derived_table)
        got = _run(
            spark,
            "SELECT d.b AS b FROM "
            "(SELECT tool AS tool, plan AS plan FROM tool_plans "
            "UNION ALL VALUES ('t9', 'zz')) AS d (a, b) "
            "WHERE d.a = :tool",
        )
        assert got["t9"] == [(("b", "zz"),)]
        assert got["t2"] == [(("b", "basic"),)]

    def test_column_list_renames_setop_output(self, spark):
        got = _run(
            spark,
            "SELECT d.b AS b FROM "
            "(SELECT tool AS tool, plan AS plan FROM tool_plans "
            "UNION ALL (VALUES ('t9', 'zz'))) AS d (a, b) "
            "WHERE d.a = :tool",
        )
        assert got["t9"] == [(("b", "zz"),)]

    def test_aggregate_branches_combine(self, spark):
        # per-branch GROUP BY aggregates, then set-combined
        got = _run(
            spark,
            "SELECT d.n AS n FROM "
            "(SELECT tool AS tool, count(*) AS n FROM tool_plans "
            "GROUP BY tool EXCEPT ALL SELECT tool AS tool, "
            "max(qty) AS n FROM tool_plans GROUP BY tool) d "
            "WHERE d.tool = :tool",
        )
        # counts: t1 3, t2 1, t3 1; max qty: t1 5, t2 9, t3 1 ->
        # except all removes (t3,1); keeps (t1,3),(t2,1)
        assert got["t1"] == [(("n", 3),)]
        assert got["t2"] == [(("n", 1),)]

    def test_widened_type_alignment(self, spark):
        # int count vs bigint-typed VALUES literal: Spark widens the
        # union sides exactly as Derby does
        got = _run(
            spark,
            "SELECT d.n AS n FROM "
            "(SELECT tool AS tool, count(*) AS n FROM tool_plans "
            "GROUP BY tool UNION ALL (VALUES ('t9', 42))) d "
            "WHERE d.tool = :tool",
        )
        assert got["t1"] == [(("n", 3),)]
        assert got["t9"] == [(("n", 42),)]
