"""PARAMETERIZED lookup subqueries (round-5 latest): ``:param``
equalities inside a scalar subquery's WHERE — the reference re-executes
the prepared subquery per event against Derby
(lib/logstash/filters/jdbc/lookup.rb:131-147); here the subquery
compiles ONCE per refresh snapshot into a per-group aggregate frame
keyed by its param-correlated columns, broadcast-joined onto the FACT
at probe time (CompiledLookup._attach_param_subs), and the term rides
every physical path as an ordinary bound param. Every golden run
cross-checks the row-at-a-time oracle."""

from __future__ import annotations

import pytest

from logstash_filter_jdbc_static_spark import oracle
from logstash_filter_jdbc_static_spark.operators.processor import LookupEnricher
from logstash_filter_jdbc_static_spark.spec import PipelineSpec, ValidationError

from plan_conditions import PLAN_CONDITIONS

PLANS = [
    ("t1", "basic", 10, 3),
    ("t1", "pro", 7, 2),
    ("t1", None, 4, 9),
    ("t2", "basic", 2, 1),
    ("t2", "gold", 99, 5),
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


def _run(spark, query, kw, default=None, parameters=None, prepared=None):
    """Enrich four fact rows (two live tools, a miss, a NULL) and
    assert Spark == row oracle on every one; returns {tool: payload}."""
    lookup: dict = {"id": "u", "query": query}
    if prepared is not None:
        lookup["prepared_parameters"] = prepared
    else:
        lookup["parameters"] = parameters or {"tool": "tool"}
    if default is not None:
        lookup["default_hash"] = default
    facts = spark.createDataFrame(
        [("t1",), ("t2",), ("t9",), (None,)], "tool: string"
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
    for tool in ("t1", "t2", "t9", None):
        ev = {} if tool is None else {"tool": tool}
        oracle.enhance(ev, PipelineSpec(lookups=[dict(lookup)]), _tables())
        u = ev.get("u")
        exp = None if u is None else [tuple(d.values()) for d in u]
        assert got[tool] == exp, (
            f"{tool!r}: spark={got[tool]} oracle={exp}"
        )
    return got


class TestGoldenParamSubquery:
    @pytest.mark.parametrize("kw", ENGINES)
    def test_avg_keyed_by_param(self, spark, kw):
        # t1 avg(price)=7.0 -> basic(10), pro(7); t2 avg=50.5 -> gold;
        # t9 has no group -> avg NULL -> comparison unknown -> default
        got = _run(
            spark,
            "SELECT plan AS plan, price AS price FROM plans "
            "WHERE tool = :tool AND price >= "
            "(SELECT avg(price) FROM plans WHERE tool = :tool)",
            kw,
            default={"plan": "dflt", "price": -1},
        )
        assert got["t1"] == [("basic", 10), ("pro", 7)]
        assert got["t2"] == [("gold", 99)]
        assert got["t9"] == [("dflt", -1)]
        assert got[None] is None  # invalid param binding

    @pytest.mark.parametrize("kw", ENGINES)
    def test_count_misses_coalesce_to_zero(self, spark, kw):
        # count over a missing group is 0, not NULL (SQL): qty < 0 is
        # FALSE, so t9 gets a clean empty payload, not a failure
        got = _run(
            spark,
            "SELECT plan AS plan, qty AS qty FROM plans "
            "WHERE tool = :tool AND qty < "
            "(SELECT count(*) FROM plans WHERE tool = :tool)",
            kw,
        )
        assert got["t1"] == [("pro", 2)]
        assert got["t2"] == [("basic", 1)]
        assert got["t9"] == []

    @pytest.mark.parametrize("kw", ENGINES)
    def test_subquery_as_equi_key(self, spark, kw):
        # the subquery value participates in an EQUALITY -> it becomes
        # part of the broadcast-hash equi probe key on the default path
        got = _run(
            spark,
            "SELECT plan AS plan, price AS price FROM plans "
            "WHERE tool = :tool AND qty = "
            "(SELECT min(qty) FROM plans WHERE tool = :tool)",
            kw,
        )
        assert got["t1"] == [("pro", 7)]
        assert got["t2"] == [("basic", 2)]

    @pytest.mark.parametrize("kw", ENGINES)
    def test_static_filter_and_param_expr_key(self, spark, kw):
        # the sub-WHERE keeps its static predicates, and the param key
        # may be an expression over params + literals ('' || :tool)
        got = _run(
            spark,
            "SELECT plan AS plan, price AS price FROM plans "
            "WHERE tool = :tool AND price > "
            "(SELECT min(price) FROM plans "
            "WHERE qty >= 2 AND tool = '' || :tool)",
            kw,
        )
        # t1: min(price | qty>=2) = 4 -> basic, pro; t2: min = 99 -> none
        assert got["t1"] == [("basic", 10), ("pro", 7)]
        assert got["t2"] == []

    @pytest.mark.parametrize("kw", ENGINES)
    def test_func_wrapped_key(self, spark, kw):
        # func(sub_col) = :param desugars to a computed sub column
        got = _run(
            spark,
            "SELECT plan AS plan, price AS price FROM plans "
            "WHERE tool = :tool AND price >= "
            "(SELECT avg(price) FROM plans WHERE upper(tool) = :utool)",
            kw,
            parameters={"tool": "tool", "utool": "utool"},
        )
        # utool binds a missing event field -> every row invalid
        assert all(v is None for v in got.values())

    @pytest.mark.parametrize("kw", ENGINES)
    def test_prepared_positional_param_in_subquery(self, spark, kw):
        got = _run(
            spark,
            "SELECT plan AS plan, price AS price FROM plans "
            "WHERE tool = ? AND price >= "
            "(SELECT avg(price) FROM plans WHERE tool = ?)",
            kw,
            prepared=["tool", "tool"],
        )
        assert got["t1"] == [("basic", 10), ("pro", 7)]
        assert got["t2"] == [("gold", 99)]

    @pytest.mark.parametrize("kw", ENGINES)
    def test_params_only_exists_rewrites_to_count(self, spark, kw):
        # round-5 latest: a params-only [NOT] EXISTS rewrites at parse
        # to 0 < (SELECT count(*) ...) on the parameterized-scalar
        # machinery — a per-event boolean gate over the whole payload
        got = _run(
            spark,
            "SELECT plan AS plan, price AS price FROM plans "
            "WHERE EXISTS (SELECT 1 FROM plans p2 "
            "WHERE p2.tool = :tool AND p2.price >= 99)",
            kw,
        )
        assert got["t1"] == []  # no t1 row reaches 99
        assert len(got["t2"]) == len(PLANS)  # gate TRUE -> whole dim
        assert got["t9"] == []  # missing group: count 0 -> FALSE

    @pytest.mark.parametrize("kw", ENGINES)
    def test_params_only_not_exists(self, spark, kw):
        got = _run(
            spark,
            "SELECT plan AS plan, price AS price FROM plans "
            "WHERE tool = :tool AND NOT EXISTS "
            "(SELECT 1 FROM plans p2 "
            "WHERE p2.tool = :tool AND p2.price >= 99)",
            kw,
        )
        assert len(got["t1"]) == 3  # t1 has no 99-row: gate TRUE
        assert got["t2"] == []  # gold 99 exists: gate FALSE
        assert got["t9"] == []  # gate TRUE but no t9 dim rows

    @pytest.mark.parametrize("kw", ENGINES)
    def test_inside_union_branch(self, spark, kw):
        got = _run(
            spark,
            "SELECT plan AS plan, price AS price FROM plans "
            "WHERE tool = :tool AND price >= "
            "(SELECT avg(price) FROM plans WHERE tool = :tool) "
            "UNION ALL "
            "SELECT plan AS plan, price AS price FROM plans "
            "WHERE tool = :tool AND qty = "
            "(SELECT max(qty) FROM plans WHERE tool = :tool)",
            kw,
        )
        # t1: branch1 basic,pro; branch2 max qty 9 -> (None,4)
        assert got["t1"] == [(None, 4), ("basic", 10), ("pro", 7)]


class TestParamSubqueryPlan:
    def test_fact_side_stays_exchange_free(self, spark):
        """The param-subquery frame rides a broadcast hash join onto
        the fact — the FACT lineage must stay shuffle-free (the 100 TB
        contract). The only shuffle exchange allowed is the dim-sized
        per-group aggregation that BUILDS the frame once per snapshot
        (partial_avg over the tiny dim). The fact column is named
        distinctively so the exchange-signature check cannot be fooled
        by the dim's same-named key."""
        import re

        from pyspark.sql import functions as F

        facts = spark.createDataFrame(
            [(f"t{i % 3 + 1}",) for i in range(64)], "ftool: string"
        )
        out = LookupEnricher(
            PipelineSpec(lookups=[{
                "id": "u",
                "query": (
                    "SELECT plan AS plan, price AS price FROM plans "
                    "WHERE tool = :tool AND price >= "
                    "(SELECT avg(price) FROM plans WHERE tool = :tool)"
                ),
                "parameters": {"tool": "ftool"},
            }]),
            _dims(spark),
        ).apply(facts)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        sigs = re.findall(
            r"(?<!Broadcast)Exchange hashpartitioning\(([^)]*)\)", plan
        )
        for sig in sigs:
            assert "ftool" not in sig, (sig, plan)  # never the fact
        assert "Exchange rangepartitioning" not in plan
        # and it actually runs
        assert out.agg(F.count(F.lit(1))).collect()[0][0] == 64


class TestParamSubqueryRejections:
    def _compile(self, spark, query, parameters=None):
        LookupEnricher(
            PipelineSpec(lookups=[{
                "id": "u", "query": query,
                "parameters": parameters or {"tool": "tool"},
            }]),
            _dims(spark),
        )

    def test_exists_correlated_and_parameterized_rejected(self, spark):
        with pytest.raises(ValidationError, match="BOTH correlated"):
            self._compile(
                spark,
                "SELECT plan FROM plans WHERE EXISTS "
                "(SELECT 1 FROM plans p2 WHERE p2.plan = plans.plan "
                "AND p2.tool = :tool)",
            )

    def test_in_subquery_param_accepted(self, spark):
        # round-5 latest: params-only [NOT] IN subqueries are accepted
        # (per-param-group set columns; see TestParamSetSubqueries) —
        # this pins that the old rejection is gone
        LookupEnricher(
            PipelineSpec(lookups=[{
                "id": "u",
                "query": (
                    "SELECT plan FROM plans WHERE plan IN "
                    "(SELECT plan FROM plans p2 WHERE p2.tool = :tool)"
                ),
                "parameters": {"tool": "tool"},
            }]),
            _dims(spark),
        )

    def test_or_around_param_accepted(self, spark):
        # round-5 final: OR around a parameter predicate is ACCEPTED —
        # the subquery takes the THETA path (probe-time distinct-tuple
        # frame; goldens in test_lookup_theta_param.py). This pins
        # that the old "pure AND conjunctions" rejection is gone.
        self._compile(  # compiles without raising
            spark,
            "SELECT plan FROM plans WHERE price >= "
            "(SELECT avg(price) FROM plans "
            "WHERE tool = :tool OR qty > 5)",
        )

    def test_having_param_subquery_accepted(self, spark):
        # round-5 latest: SCALAR param subqueries in HAVING are
        # ACCEPTED — the per-event value rides a hidden overlaid
        # carrier (TestParamHavingSubquery); set-shaped ones ride the
        # same overlay (TestParamSetHavingSubquery)
        self._compile(  # compiles without raising
            spark,
            "SELECT tool AS tool, count(*) AS n FROM plans "
            "WHERE price > 0 GROUP BY tool HAVING n >= "
            "(SELECT count(*) FROM plans WHERE tool = :tool)",
        )

    def test_projection_param_subquery_accepted(self, spark):
        # round-5 latest: PROJECTION param subqueries are ACCEPTED —
        # the per-event value overlays a typed NULL placeholder
        # (TestParamProjection in test_lookup_proj_subquery.py),
        # including the GLOBAL-aggregate combination (round-5 latest,
        # TestParamProjectionGlobalAgg)
        self._compile(  # compiles without raising
            spark,
            "SELECT plan AS plan, (SELECT avg(price) FROM plans "
            "WHERE tool = :tool) AS ap FROM plans WHERE tool = :tool",
        )
        self._compile(  # compiles without raising
            spark,
            "SELECT count(*) AS n, (SELECT avg(price) FROM plans "
            "WHERE tool = :tool) AS ap FROM plans "
            "WHERE tool = :tool",
        )

    @pytest.mark.parametrize("kw", ENGINES)
    def test_global_agg_param_psq_matches_oracle(self, spark, kw):
        # round-5 latest: GLOBAL aggregate + parameterized projection
        # subquery, cross-checked against the row oracle (incl. the
        # empty-set row carrying the per-event value)
        got = _run(
            spark,
            "SELECT count(*) AS n, (SELECT max(price) FROM plans p2 "
            "WHERE p2.tool = :tool) AS m FROM plans "
            "WHERE plan = 'basic' AND price > 5",
            kw,
        )
        # basic rows with price>5: only (t1, basic, 10) -> n=1 for
        # every valid event; m binds per event (t9 -> NULL)
        assert got["t1"] == [(1, 10)]
        assert got["t2"] == [(1, 99)]
        assert got["t9"] == [(1, None)]
        assert got[None] is None  # invalid binding

    def test_nested_param_subquery_accepted(self, spark):
        # round-5 final: a parameterized subquery may NEST inside
        # another subquery's WHERE — the enclosing takes the THETA
        # path and the nested per-tuple value joins onto the
        # distinct-tuple frame (goldens in
        # test_lookup_theta_param.py::TestThetaNested). This pins
        # that the old NESTED rejection is gone.
        self._compile(  # compiles without raising
            spark,
            "SELECT plan FROM plans WHERE price >= "
            "(SELECT avg(price) FROM plans WHERE qty > "
            "(SELECT min(qty) FROM plans WHERE tool = :tool))",
        )


class TestParamSetSubqueries:
    """PARAMETERIZED [NOT] IN and quantified subqueries (round-5
    latest): the per-param-group (sorted value set, had-NULL, count)
    columns broadcast-join onto the FACT and the predicate compiles as
    the same ``in_set`` / ``{cmp} {quant}_set`` ops the correlated
    machinery uses. Every run cross-checks the row oracle on all three
    physical paths."""

    ROWS = [
        ("t1", "basic", 10, 3), ("t1", "pro", 7, 2), ("t1", None, 4, 9),
        ("t2", "basic", 2, 1), ("t2", "gold", 99, 5), ("t2", None, 3, 2),
    ]

    def _run(self, spark, query, kw):
        dims = {
            "p": spark.createDataFrame(
                self.ROWS, "tool string, plan string, price int, qty int"
            )
        }
        tables = {
            "p": [
                {"tool": t, "plan": pl, "price": pr, "qty": q}
                for t, pl, pr, q in self.ROWS
            ]
        }
        lookup = {"id": "u", "query": query, "parameters": {"tool": "tool"}}
        facts = spark.createDataFrame(
            [("t1",), ("t2",), ("t9",)], "tool: string"
        )
        out = LookupEnricher(
            PipelineSpec(lookups=[dict(lookup)]), dims, **kw
        ).apply(facts)

        def key(t):
            return tuple((v is None, v) for v in t)

        got = {
            r["tool"]: sorted((tuple(d) for d in r["u"]), key=key)
            for r in out.collect()
        }
        for tool in ("t1", "t2", "t9"):
            ev = {"tool": tool}
            oracle.enhance(
                ev, PipelineSpec(lookups=[dict(lookup)]), tables
            )
            exp = sorted((tuple(d.values()) for d in ev["u"]), key=key)
            assert got[tool] == exp, (query, tool, got[tool], exp)
        return {k: len(v) for k, v in got.items()}

    @pytest.mark.parametrize("kw", ENGINES)
    def test_param_in_subquery(self, spark, kw):
        n = self._run(
            spark,
            "SELECT plan AS plan, price AS price FROM p "
            "WHERE price IN (SELECT price FROM p WHERE tool = :tool)",
            kw,
        )
        # t9: empty param group -> IN () FALSE
        assert n == {"t1": 3, "t2": 3, "t9": 0}

    @pytest.mark.parametrize("kw", ENGINES)
    def test_param_not_in_with_null_in_group(self, spark, kw):
        # both live groups contain a NULL plan -> NOT IN never TRUE
        # (3VL); the EMPTY t9 group is vacuously TRUE for every row
        n = self._run(
            spark,
            "SELECT tool AS tool, price AS price FROM p "
            "WHERE plan NOT IN (SELECT plan FROM p WHERE tool = :tool)",
            kw,
        )
        assert n == {"t1": 0, "t2": 0, "t9": 6}

    @pytest.mark.parametrize("kw", ENGINES)
    def test_param_quantified_all_and_any(self, spark, kw):
        n = self._run(
            spark,
            "SELECT plan AS plan, price AS price FROM p "
            "WHERE price >= ALL (SELECT qty FROM p WHERE tool = :tool)",
            kw,
        )
        # t9: ALL over the empty group is vacuously TRUE
        assert n == {"t1": 2, "t2": 3, "t9": 6}
        n = self._run(
            spark,
            "SELECT plan AS plan, price AS price FROM p "
            "WHERE price < ANY (SELECT price FROM p WHERE tool = :tool)",
            kw,
        )
        assert n == {"t1": 4, "t2": 5, "t9": 0}

    def test_param_in_combined_with_other_predicates(self, spark):
        n = self._run(
            spark,
            "SELECT plan AS plan, price AS price FROM p "
            "WHERE qty >= 2 AND price IN "
            "(SELECT price FROM p WHERE tool = :tool) "
            "AND plan IS NOT NULL",
            {},
        )
        assert n == {"t1": 2, "t2": 1, "t9": 0}

    def test_correlated_and_parameterized_in_rejected(self, spark):
        with pytest.raises(ValidationError, match="BOTH correlated"):
            LookupEnricher(
                PipelineSpec(lookups=[{
                    "id": "u",
                    "query": (
                        "SELECT plan FROM p WHERE price IN "
                        "(SELECT p2.price FROM p p2 "
                        "WHERE p2.plan = p.plan AND p2.tool = :tool)"
                    ),
                    "parameters": {"tool": "tool"},
                }]),
                {
                    "p": spark.createDataFrame(
                        self.ROWS,
                        "tool string, plan string, price int, qty int",
                    )
                },
            )


@pytest.mark.parametrize("kw", ENGINES)
class TestParamHavingSubquery:
    """Round-5 latest: SCALAR parameterized subqueries as HAVING
    comparands (``HAVING sum(price) >= (SELECT max(price) FROM t WHERE
    tool = :tool)``) — the HAVING filter reads aggregated PAYLOAD
    fields, so the per-event value rides INTO the payload as a hidden
    ``max(__hsq*)`` carrier over a typed NULL dim placeholder, overlaid
    with the broadcast-joined value inside the payload stage and
    stripped post-filter (the same machinery as correlated HAVING
    subqueries + parameterized projection subqueries). Derby runs the
    shape natively as a prepared statement. Set-shaped parameterized
    subqueries (EXISTS / IN / quantified) are accepted too since
    round-5 latest — TestParamSetHavingSubquery."""

    def test_max_comparand_null_on_empty_group(self, spark, kw):
        # ORDER BY pins the payload order for the exact compare in _run
        got = _run(
            spark,
            "SELECT plan AS plan, sum(price) AS s FROM plans "
            "WHERE price > 0 GROUP BY plan "
            "HAVING sum(price) >= "
            "(SELECT max(price) FROM plans p2 WHERE p2.tool = :tool) "
            "ORDER BY plan",
            kw,
        )
        # t1: max=10 -> groups with s>=10 (basic 12, gold 99);
        # t2: max=99 -> gold only; t9/NULL: empty group -> max NULL ->
        # comparison UNKNOWN -> zero rows survive ([] payload)
        assert got["t1"] == [("basic", 12), ("gold", 99)]
        assert got["t2"] == [("gold", 99)]
        assert got["t9"] == []

    def test_count_comparand_zero_on_empty_group(self, spark, kw):
        got = _run(
            spark,
            "SELECT plan AS plan, count(*) AS n FROM plans "
            "GROUP BY plan "
            "HAVING count(*) > "
            "(SELECT count(*) FROM plans p2 "
            "WHERE p2.tool = :tool AND p2.plan = 'gold') "
            "ORDER BY plan",
            kw,
        )
        # t2 has one gold row -> only groups with n>1 survive (none:
        # every plan group here has exactly 1-2 rows; basic has 2)
        assert got["t2"] == [("basic", 2)]
        # t1/t9: subquery count is 0 -> every group survives
        assert got["t1"] == [
            ("basic", 2), ("gold", 1), ("pro", 1), (None, 1)
        ]
        assert got["t9"] == got["t1"]

    def test_default_fires_when_having_empties(self, spark, kw):
        got = _run(
            spark,
            "SELECT plan AS plan, sum(price) AS s FROM plans "
            "GROUP BY plan "
            "HAVING sum(price) >= "
            "(SELECT max(price) FROM plans p2 WHERE p2.tool = :tool)",
            kw,
            default={"plan": "none", "s": -1},
        )
        assert got["t9"] == [("none", -1)]

    def test_subquery_on_both_comparison_sides_of_having(self, spark, kw):
        # two DISTINCT parameterized subqueries in one HAVING clause —
        # each gets its own hidden carrier and frame
        got = _run(
            spark,
            "SELECT plan AS plan, sum(price) AS s FROM plans "
            "GROUP BY plan "
            "HAVING sum(price) >= "
            "(SELECT min(price) FROM plans p2 WHERE p2.tool = :tool) "
            "AND sum(price) <= "
            "(SELECT max(price) FROM plans p2 WHERE p2.tool = :tool) "
            "ORDER BY plan",
            kw,
        )
        # t1: min=4, max=10 -> groups with 4<=s<=10 (pro 7, NULL 4)
        assert got["t1"] == [("pro", 7), (None, 4)]
        assert got["t9"] == []

    def test_combines_with_where_param_subquery(self, spark, kw):
        # the same parameterized frame machinery serves WHERE and
        # HAVING at once (distinct subqueries -> distinct frames)
        got = _run(
            spark,
            "SELECT plan AS plan, sum(price) AS s FROM plans "
            "WHERE price <= "
            "(SELECT max(price) FROM plans p2 WHERE p2.tool = :tool) "
            "GROUP BY plan "
            "HAVING sum(price) > "
            "(SELECT min(price) FROM plans p2 WHERE p2.tool = :tool) "
            "ORDER BY plan",
            kw,
        )
        # t1: WHERE price<=10 keeps (10,7,4,2); groups basic 12, pro 7,
        # NULL 4, then HAVING s>4 -> basic, pro
        assert got["t1"] == [("basic", 12), ("pro", 7)]


class TestParamSetHavingSubquery:
    """Round-5 latest: SET-shaped parameterized subqueries in HAVING —
    ``[NOT] IN``, quantified, and ``[NOT] EXISTS``, all param-keyed
    per event (Derby runs each natively as a prepared statement,
    pinned in test_jdbc_derby.py). The HAVING filter reads aggregated
    PAYLOAD fields, so the per-event values ride INTO the payload via
    the same hidden-carrier overlay the scalar shapes use
    (``having_param_carrier``): IN/quantified carry their three
    per-param-group (set, had-NULL, count) columns as three carriers
    read by the ``in_set`` / ``{cmp} {quant}_set`` 3VL ops; EXISTS
    rewrites at resolution to a per-event count carrier compared
    against 0 (misses coalesce to 0). Every run cross-checks the
    row-at-a-time oracle (_run)."""

    @pytest.mark.parametrize("kw", ENGINES)
    def test_param_in_having(self, spark, kw):
        got = _run(
            spark,
            "SELECT plan AS plan, max(price) AS m FROM plans "
            "GROUP BY plan HAVING max(price) IN "
            "(SELECT p2.price FROM plans p2 WHERE p2.tool = :tool) "
            "ORDER BY plan",
            kw,
        )
        # per-event sets: t1 {10,7,4}, t2 {2,99}, t9/NULL {} (IN ()
        # FALSE); groups basic m10, gold m99, pro m7, NULL m4
        assert got["t1"] == [("basic", 10), ("pro", 7), (None, 4)]
        assert got["t2"] == [("gold", 99)]
        assert got["t9"] == []

    @pytest.mark.parametrize("kw", ENGINES)
    def test_param_not_in_having_empty_set(self, spark, kw):
        got = _run(
            spark,
            "SELECT plan AS plan, max(price) AS m FROM plans "
            "GROUP BY plan HAVING max(price) NOT IN "
            "(SELECT p2.price FROM plans p2 "
            "WHERE p2.tool = :tool AND p2.price > 50) "
            "ORDER BY plan",
            kw,
        )
        # t1 set {} -> NOT IN () vacuously TRUE for every group;
        # t2 set {99} drops gold only
        assert got["t1"] == [
            ("basic", 10), ("gold", 99), ("pro", 7), (None, 4)
        ]
        assert got["t2"] == [("basic", 10), ("pro", 7), (None, 4)]
        assert got["t9"] == got["t1"]

    @pytest.mark.parametrize("kw", ENGINES)
    def test_param_quantified_having(self, spark, kw):
        got = _run(
            spark,
            "SELECT plan AS plan, sum(price) AS s FROM plans "
            "GROUP BY plan HAVING sum(price) >= ALL "
            "(SELECT p2.price FROM plans p2 WHERE p2.tool = :tool) "
            "ORDER BY plan",
            kw,
        )
        # sums: basic 12, gold 99, pro 7, NULL 4. t1 needs >= 10;
        # t2 needs >= 99; t9 empty set -> vacuously TRUE
        assert got["t1"] == [("basic", 12), ("gold", 99)]
        assert got["t2"] == [("gold", 99)]
        assert got["t9"] == [
            ("basic", 12), ("gold", 99), ("pro", 7), (None, 4)
        ]

    @pytest.mark.parametrize("kw", ENGINES)
    def test_param_exists_having(self, spark, kw):
        got = _run(
            spark,
            "SELECT plan AS plan, count(*) AS n FROM plans "
            "GROUP BY plan HAVING EXISTS "
            "(SELECT 1 FROM plans p2 "
            "WHERE p2.tool = :tool AND p2.price > 50) "
            "ORDER BY plan",
            kw,
        )
        # a per-event boolean gate: only t2 has a >50 row
        assert got["t1"] == []
        assert got["t2"] == [
            ("basic", 2), ("gold", 1), ("pro", 1), (None, 1)
        ]
        assert got["t9"] == []

    @pytest.mark.parametrize("kw", ENGINES)
    def test_param_not_exists_having(self, spark, kw):
        got = _run(
            spark,
            "SELECT plan AS plan, count(*) AS n FROM plans "
            "GROUP BY plan HAVING NOT EXISTS "
            "(SELECT 1 FROM plans p2 "
            "WHERE p2.tool = :tool AND p2.price > 50) "
            "ORDER BY plan",
            kw,
        )
        assert got["t1"] == [
            ("basic", 2), ("gold", 1), ("pro", 1), (None, 1)
        ]
        assert got["t2"] == []
        assert got["t9"] == got["t1"]

    def test_hidden_carriers_not_in_payload(self, spark):
        got = _run(
            spark,
            "SELECT plan AS plan, max(price) AS m FROM plans "
            "GROUP BY plan HAVING max(price) IN "
            "(SELECT p2.price FROM plans p2 WHERE p2.tool = :tool) "
            "ORDER BY plan",
            {},
        )
        for rows in got.values():
            for r in rows or []:
                assert len(r) == 2  # (plan, m) only


class TestParamHavingRejections:
    def _compile(self, spark, query):
        LookupEnricher(
            PipelineSpec(lookups=[{
                "id": "u", "query": query,
                "parameters": {"tool": "tool"},
            }]),
            _dims(spark),
        )

    def test_prepared_positional_still_rejected_in_having(self, spark):
        # pre-existing HAVING rule: '?' placeholders are WHERE-only
        with pytest.raises(ValidationError, match="positional"):
            LookupEnricher(
                PipelineSpec(lookups=[{
                    "id": "u",
                    "query": (
                        "SELECT plan AS plan, sum(price) AS s "
                        "FROM plans WHERE tool = ? GROUP BY plan "
                        "HAVING sum(price) >= (SELECT max(price) "
                        "FROM plans p2 WHERE p2.tool = ?)"
                    ),
                    "prepared_parameters": ["tool", "tool"],
                }]),
                _dims(spark),
            )
