"""THETA-parameterized lookup subqueries (round-5 final): parameter
predicates inside a subquery WHERE that are NOT plain equalities —
``price > :lim``, BETWEEN/IN/LIKE params, OR around a param predicate,
and expressions mixing SUB columns with params. The reference
re-executes the prepared subquery per event against Derby
(lib/logstash/filters/jdbc/lookup.rb:131-147); here the aggregate frame
is built AT PROBE TIME from the fact's distinct bound-param tuples
(the LIKE map-probe's lazy distinct-tuple design), theta-joined
against the dim-sized sub frame, aggregated per tuple, and always
broadcast-joined back onto the FACT (_ThetaParamFrame); a scalar
shape's apply() runs no Spark job. Every golden run cross-checks the
row-at-a-time oracle on every event."""

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

# events carry a numeric threshold and a LIKE pattern alongside the
# tool key; the NULL-threshold and NULL-tool rows pin SQL's
# empty-group / invalid-binding semantics
FACTS = [
    ("t1", 8, "b%"),
    ("t2", 3, "%old"),
    ("t9", 99, "%"),
    ("t1", 1000, "zz%"),  # valid param, EMPTY theta group
    ("t1", None, None),  # NULL params -> invalid binding (A8), u None
]
FACT_SCHEMA = "tool: string, lim: int, pat: string"


def _dims(spark):
    return {"plans": spark.createDataFrame(PLANS, SCHEMA)}


def _tables():
    return {
        "plans": [
            {"tool": t, "plan": p, "price": pr, "qty": q}
            for t, p, pr, q in PLANS
        ]
    }


def _run(spark, query, kw, default=None, parameters=None):
    """Enrich the four fact rows and assert Spark == row oracle on
    every one; returns {(tool, lim): payload}."""
    lookup: dict = {
        "id": "u",
        "query": query,
        "parameters": parameters
        or {"tool": "tool", "lim": "lim", "pat": "pat"},
    }
    if default is not None:
        lookup["default_hash"] = default
    facts = spark.createDataFrame(FACTS, FACT_SCHEMA)
    out = LookupEnricher(
        PipelineSpec(lookups=[dict(lookup)]), _dims(spark), **kw
    ).apply(facts)
    got = {
        (r["tool"], r["lim"]): (
            None
            if r["u"] is None
            else [tuple(d.asDict().values()) for d in r["u"]]
        )
        for r in out.collect()
    }
    for tool, lim, pat in FACTS:
        ev = {}
        if tool is not None:
            ev["tool"] = tool
        if lim is not None:
            ev["lim"] = lim
        if pat is not None:
            ev["pat"] = pat
        oracle.enhance(ev, PipelineSpec(lookups=[dict(lookup)]), _tables())
        u = ev.get("u")
        exp = None if u is None else [tuple(d.values()) for d in u]
        assert got[(tool, lim)] == exp, (
            f"{(tool, lim)}: spark={got[(tool, lim)]} oracle={exp}"
        )
    return got


class TestThetaScalar:
    @pytest.mark.parametrize("kw", ENGINES)
    def test_inequality_param(self, spark, kw):
        # per-event max(price) over prices strictly below the event's
        # lim: t1/8 -> max({7,4,2})=7 -> plans priced <=7; t2/3 ->
        # max({2})=2; t9/99 -> max(all but 99... <99)=10; NULL lim ->
        # empty -> NULL -> unknown -> default
        got = _run(
            spark,
            "SELECT plan AS plan, price AS price FROM plans "
            "WHERE tool = :tool AND price <= "
            "(SELECT max(price) FROM plans WHERE price < :lim)",
            kw,
            default={"plan": "dflt", "price": -1},
        )
        assert got[("t1", 8)] == [(None, 4), ("pro", 7)]
        assert got[("t2", 3)] == [("basic", 2)]
        assert got[("t9", 99)] == [("dflt", -1)]  # no t9 rows at all
        # empty theta group -> max NULL -> comparison unknown -> default
        assert got[("t1", 1000)] == [(None, 4), ("basic", 10), ("pro", 7)]
        assert got[("t1", None)] is None  # invalid binding -> failed

    @pytest.mark.parametrize("kw", ENGINES)
    def test_count_empty_group_is_zero(self, spark, kw):
        # count over an empty theta group is 0, not NULL (SQL): for
        # the NULL-lim event every comparison is UNKNOWN -> count 0 ->
        # qty < 0 FALSE -> clean empty payload
        got = _run(
            spark,
            "SELECT plan AS plan, qty AS qty FROM plans "
            "WHERE tool = :tool AND qty < "
            "(SELECT count(*) FROM plans WHERE price >= :lim)",
            kw,
        )
        # t1/8: count(price>=8)=2 ({10,99}) -> qty<2: none of t1's
        # qtys (3,2,9)
        assert got[("t1", 8)] == []
        # t2/3: count(price>=3)=4 ({10,7,4,99}) -> qty<4: basic(1)
        assert got[("t2", 3)] == [("basic", 1)]
        # EMPTY theta group counts 0, not NULL: qty<0 FALSE, clean []
        assert got[("t1", 1000)] == []
        assert got[("t1", None)] is None  # invalid binding -> failed

    @pytest.mark.parametrize("kw", ENGINES)
    def test_or_around_param(self, spark, kw):
        # OR mixing a param predicate with a static one — the whole
        # DNF evaluates in the theta join
        got = _run(
            spark,
            "SELECT plan AS plan, price AS price FROM plans "
            "WHERE tool = :tool AND price >= "
            "(SELECT avg(price) FROM plans WHERE price > :lim OR qty > 5)",
            kw,
            default={"plan": "dflt", "price": -1},
        )
        # t1/8: {10,99,4(qty 9)} avg=37.67 -> none of t1's rows ->
        # empty payload -> default
        assert got[("t1", 8)] == [("dflt", -1)]
        # t2/3: {10,7,4,99} avg=30 -> gold(99)
        assert got[("t2", 3)] == [("gold", 99)]
        # lim=1000: price>1000 never, qty>5 matches {4} -> avg=4 ->
        # every t1 row >=4 (the OR's static leg still applies)
        assert got[("t1", 1000)] == [(None, 4), ("basic", 10), ("pro", 7)]
        assert got[("t1", None)] is None  # invalid binding -> failed

    @pytest.mark.parametrize("kw", ENGINES)
    def test_mixed_sub_column_param_expr(self, spark, kw):
        # expression mixing a SUB column with a param: price > qty + :lim
        got = _run(
            spark,
            "SELECT plan AS plan FROM plans "
            "WHERE tool = :tool AND 0 < "
            "(SELECT count(*) FROM plans p2 WHERE p2.price > p2.qty + :lim)",
            kw,
        )
        # lim=8: price > qty+8 -> only 99>13 -> count 1 -> all t1
        # plans pass
        assert got[("t1", 8)] == [(None,), ("basic",), ("pro",)]
        # lim=1000: price > qty+1000 never -> count 0 -> 0<0 FALSE
        assert got[("t1", 1000)] == []
        assert got[("t1", None)] is None  # invalid binding -> failed

    @pytest.mark.parametrize("kw", ENGINES)
    def test_between_params(self, spark, kw):
        got = _run(
            spark,
            "SELECT plan AS plan, price AS price FROM plans "
            "WHERE tool = :tool AND price >= "
            "(SELECT sum(price) FROM plans WHERE price BETWEEN 0 AND :lim)",
            kw,
            default={"plan": "dflt", "price": -1},
        )
        # t1/8: sum({2,4,7}<=8 ... prices 0..8: {7,4,2})=13 -> no t1
        # price >=13 -> empty -> default
        assert got[("t1", 8)] == [("dflt", -1)]
        # t2/3: sum({2})=2 -> t2 prices >=2: basic(2), gold(99)
        assert got[("t2", 3)] == [("basic", 2), ("gold", 99)]
        # lim=1000: sum(ALL)=122 -> none -> default
        assert got[("t1", 1000)] == [("dflt", -1)]
        assert got[("t1", None)] is None  # invalid binding -> failed

    @pytest.mark.parametrize("kw", ENGINES)
    def test_like_param_pattern(self, spark, kw):
        # a per-event LIKE pattern inside the subquery WHERE
        got = _run(
            spark,
            "SELECT plan AS plan, qty AS qty FROM plans "
            "WHERE tool = :tool AND qty <= "
            "(SELECT max(qty) FROM plans WHERE plan LIKE :pat)",
            kw,
        )
        # t1 pat 'b%': max(qty of basic rows)=max(3,1)=3 -> qty<=3:
        # basic(3), pro(2)
        assert got[("t1", 8)] == [("basic", 3), ("pro", 2)]
        # t2 pat '%old': max(qty of gold)=5 -> both t2 rows
        assert got[("t2", 3)] == [("basic", 1), ("gold", 5)]
        # pat 'zz%' matches nothing -> max NULL -> unknown -> []
        assert got[("t1", 1000)] == []
        assert got[("t1", None)] is None  # invalid binding -> failed


class TestThetaSetShapes:
    @pytest.mark.parametrize("kw", ENGINES)
    def test_in_theta_subquery(self, spark, kw):
        got = _run(
            spark,
            "SELECT plan AS plan, price AS price FROM plans "
            "WHERE tool = :tool AND plan IN "
            "(SELECT plan FROM plans p2 WHERE p2.price > :lim)",
            kw,
        )
        # t1/8: plans with price>8: basic(10), gold(99) -> t1's basic
        assert got[("t1", 8)] == [("basic", 10)]
        # t2/3: price>3: basic, pro, gold -> t2 basic + gold
        assert got[("t2", 3)] == [("basic", 2), ("gold", 99)]
        # lim=1000: EMPTY per-event set -> IN () FALSE for every row
        assert got[("t1", 1000)] == []
        assert got[("t1", None)] is None  # invalid binding -> failed

    @pytest.mark.parametrize("kw", ENGINES)
    def test_not_in_empty_theta_set_is_true(self, spark, kw):
        # NOT IN over an EMPTY per-event set is TRUE for every row —
        # the NULL-lim event must keep its full payload
        got = _run(
            spark,
            "SELECT plan AS plan FROM plans "
            "WHERE tool = :tool AND plan NOT IN "
            "(SELECT plan FROM plans p2 WHERE p2.price > :lim "
            "AND p2.plan IS NOT NULL)",
            kw,
        )
        # t1/8: set {basic, gold} -> NULL plan unknown, pro stays
        assert got[("t1", 8)] == [("pro",)]
        # lim=1000: EMPTY per-event set -> NOT IN () TRUE for every
        # row, NULL plan included (no comparison happens)
        assert got[("t1", 1000)] == [(None,), ("basic",), ("pro",)]
        assert got[("t1", None)] is None  # invalid binding -> failed

    @pytest.mark.parametrize("kw", ENGINES)
    def test_quantified_theta(self, spark, kw):
        got = _run(
            spark,
            "SELECT plan AS plan, price AS price FROM plans "
            "WHERE tool = :tool AND price > ALL "
            "(SELECT price FROM plans p2 WHERE p2.qty < :lim)",
            kw,
        )
        # t1/8: qty<8 -> prices {10,7,2,99} -> price > all -> none
        assert got[("t1", 8)] == []
        # t2/3: qty<3 -> prices {7,2} -> >7: t2 gold(99)
        assert got[("t2", 3)] == [("gold", 99)]
        # lim=1000: qty<1000 -> ALL prices -> nothing beats max
        assert got[("t1", 1000)] == []
        assert got[("t1", None)] is None  # invalid binding -> failed


class TestThetaExists:
    @pytest.mark.parametrize("kw", ENGINES)
    def test_exists_theta(self, spark, kw):
        # EXISTS with a non-equality param rewrites to 0 < count(*)
        # on the theta frame at parse
        got = _run(
            spark,
            "SELECT plan AS plan FROM plans "
            "WHERE tool = :tool AND EXISTS "
            "(SELECT 1 FROM plans p2 WHERE p2.price > :lim AND "
            "p2.qty > 4)",
            kw,
        )
        # price>8 AND qty>4: gold(99, qty 5) -> TRUE for lim=8
        assert got[("t1", 8)] == [(None,), ("basic",), ("pro",)]
        # lim=3: also TRUE (the {4,9} row: price 4 qty 9)
        assert got[("t2", 3)] == [("basic",), ("gold",)]
        # lim=1000: no witness -> EXISTS FALSE -> []
        assert got[("t1", 1000)] == []
        assert got[("t1", None)] is None  # invalid binding -> failed

    @pytest.mark.parametrize("kw", ENGINES)
    def test_not_exists_theta(self, spark, kw):
        got = _run(
            spark,
            "SELECT plan AS plan FROM plans "
            "WHERE tool = :tool AND NOT EXISTS "
            "(SELECT 1 FROM plans p2 WHERE p2.price > :lim AND "
            "p2.qty > 4)",
            kw,
        )
        assert got[("t1", 8)] == []
        # lim=1000: empty group -> NOT EXISTS TRUE -> full payload
        assert got[("t1", 1000)] == [(None,), ("basic",), ("pro",)]
        assert got[("t1", None)] is None  # invalid binding -> failed


class TestThetaAsEquiKey:
    @pytest.mark.parametrize("kw", ENGINES)
    def test_theta_value_as_equi_key(self, spark, kw):
        # the theta subquery value participates in an EQUALITY — it
        # joins the broadcast-hash equi probe key on the default path
        got = _run(
            spark,
            "SELECT plan AS plan, qty AS qty FROM plans "
            "WHERE tool = :tool AND qty = "
            "(SELECT min(qty) FROM plans WHERE price >= :lim)",
            kw,
        )
        # t1/8: min(qty | price>=8) = min(3,5) = 3 -> basic
        assert got[("t1", 8)] == [("basic", 3)]
        # t2/3: min(qty | price>=3)=min(3,2,9,5)=2 -> no t2 row has 2
        assert got[("t2", 3)] == []
        # lim=1000: empty -> min NULL -> equality unknown -> []
        assert got[("t1", 1000)] == []
        assert got[("t1", None)] is None  # invalid binding -> failed


class TestThetaRejections:
    def _compile(self, spark, query, parameters=None):
        LookupEnricher(
            PipelineSpec(lookups=[{
                "id": "u",
                "query": query,
                "parameters": parameters or {"tool": "tool", "lim": "lim"},
            }]),
            _dims(spark),
        )

    def test_outer_corr_plus_theta_rejected(self, spark):
        with pytest.raises(ValidationError, match="outer column"):
            self._compile(
                spark,
                "SELECT plan FROM plans t WHERE price >= "
                "(SELECT avg(price) FROM plans p2 "
                "WHERE p2.tool = t.tool AND p2.price > :lim)",
            )

    def test_nested_static_subquery_plus_theta_accepted(self, spark):
        # round-5 final: a param-free nested subquery inside a theta
        # WHERE folds to a snapshot literal (goldens in
        # TestThetaNested; parameterized nesting joins per-tuple
        # values onto the distinct-tuple frame)
        self._compile(  # compiles without raising
            spark,
            "SELECT plan FROM plans WHERE price >= "
            "(SELECT avg(price) FROM plans p2 WHERE p2.price > :lim "
            "AND p2.qty < (SELECT max(qty) FROM plans))",
        )

    def test_theta_inside_nested_subquery_accepted(self, spark):
        # round-5 final: a theta-parameterized subquery may nest
        # INSIDE another subquery's WHERE — the inner frame builds
        # recursively over the distinct-tuple frame (goldens in
        # TestThetaNested.test_nested_theta_param)
        self._compile(  # compiles without raising
            spark,
            "SELECT plan FROM plans WHERE price >= "
            "(SELECT avg(price) FROM plans p2 WHERE p2.qty < "
            "(SELECT max(qty) FROM plans p3 WHERE p3.price > :lim))",
        )

    def test_theta_set_parameter_group_cap(self, spark, monkeypatch):
        """A theta [NOT] IN subquery's per-tuple value set honors
        _IN_SUBQUERY_CAP: apply() fails on the largest group (lim 8
        keeps prices {10, 99})."""
        from logstash_filter_jdbc_static_spark.operators import lookup as L

        monkeypatch.setattr(L, "_IN_SUBQUERY_CAP", 1)
        enr = LookupEnricher(
            PipelineSpec(lookups=[{
                "id": "u",
                "query": (
                    "SELECT plan AS plan FROM plans WHERE tool = :tool "
                    "AND price NOT IN "
                    "(SELECT price FROM plans WHERE price > :lim)"
                ),
                "parameters": {"tool": "tool", "lim": "lim"},
            }]),
            _dims(spark),
        )
        with pytest.raises(ValidationError, match="parameter group"):
            enr.apply(spark.createDataFrame(FACTS, FACT_SCHEMA))


class TestThetaNested:
    """Round-5 final: PARAMETERIZED subqueries NESTED inside another
    subquery's WHERE — the enclosing classifies as THETA and the
    nested per-tuple value joins onto the distinct-tuple frame as a
    pseudo-param column (plain-equality inner shapes via their
    snapshot groupBy frame, theta inner shapes via a recursive build
    over the tuple frame)."""

    @pytest.mark.parametrize("kw", ENGINES)
    def test_nested_plain_param(self, spark, kw):
        got = _run(
            spark,
            "SELECT plan AS plan FROM plans WHERE tool = :tool "
            "AND price >= (SELECT avg(price) FROM plans p2 "
            "WHERE p2.qty > (SELECT min(qty) FROM plans p3 "
            "WHERE p3.tool = :tool))",
            kw,
        )
        # t2/3: inner min(qty|t2)=1 -> qty>1 rows avg=30 -> gold only
        assert got[("t2", 3)] == [("gold",)]
        # t9: inner empty -> NULL -> unknown all the way up
        assert got[("t9", 99)] == []
        assert got[("t1", None)] is None

    @pytest.mark.parametrize("kw", ENGINES)
    def test_nested_theta_param(self, spark, kw):
        # the INNER subquery itself carries a non-equality param —
        # its frame builds recursively over the tuple frame
        got = _run(
            spark,
            "SELECT plan AS plan FROM plans WHERE tool = :tool "
            "AND price >= (SELECT avg(price) FROM plans p2 "
            "WHERE p2.qty > (SELECT min(qty) FROM plans p3 "
            "WHERE p3.price < :lim))",
            kw,
        )
        assert got[("t2", 3)] == [("gold",)]
        assert got[("t1", 8)] == []
        assert got[("t1", 1000)] == []
        assert got[("t1", None)] is None

    @pytest.mark.parametrize("kw", ENGINES)
    def test_equality_enclosing_with_nested_param(self, spark, kw):
        # the enclosing predicate is an EQUALITY — the nested params
        # still force the theta path (no per-event aggregate key
        # exists for a value that depends on the event)
        got = _run(
            spark,
            "SELECT plan AS plan FROM plans WHERE tool = :tool "
            "AND qty = (SELECT min(qty) FROM plans p2 "
            "WHERE p2.price >= (SELECT avg(price) FROM plans p3 "
            "WHERE p3.price < :lim))",
            kw,
        )
        assert got[("t1", 8)] == [("pro",)]
        assert got[("t2", 3)] == [("basic",)]
        assert got[("t1", 1000)] == []
        assert got[("t1", None)] is None

    def test_correlated_nested_param_rejected(self, spark):
        with pytest.raises(ValidationError, match="CORRELATED nested"):
            LookupEnricher(
                PipelineSpec(lookups=[{
                    "id": "u",
                    "query": (
                        "SELECT plan FROM plans WHERE price >= "
                        "(SELECT avg(price) FROM plans p2 "
                        "WHERE p2.price > :lim AND p2.qty < "
                        "(SELECT max(qty) FROM plans p3 "
                        "WHERE p3.plan = p2.plan))"
                    ),
                    "parameters": {"lim": "lim"},
                }]),
                _dims(spark),
            )


class TestThetaHaving:
    """Round-5 final: theta shapes in HAVING comparands ride the same
    hidden-carrier overlay as the plain-equality param shapes — the
    typed NULL placeholder's dtype comes from the builder's
    schema-only aggregate (_ThetaParamFrame.dtypes)."""

    @pytest.mark.parametrize("kw", ENGINES)
    def test_having_scalar_theta(self, spark, kw):
        got = _run(
            spark,
            "SELECT tool AS tool, count(*) AS n FROM plans "
            "GROUP BY tool HAVING n >= "
            "(SELECT count(*) FROM plans WHERE price > :lim)",
            kw,
        )
        # lim=8: count(price>8)=2 -> groups t1(3), t2(2) both >=2
        assert got[("t1", 8)] == [("t1", 3), ("t2", 2)]
        # lim=3: count=4 -> no group reaches 4
        assert got[("t2", 3)] == []
        # lim=1000: count 0 -> every group passes
        assert got[("t1", 1000)] == [("t1", 3), ("t2", 2)]
        assert got[("t1", None)] is None  # invalid binding -> failed

    @pytest.mark.parametrize("kw", ENGINES)
    def test_having_exists_theta(self, spark, kw):
        # EXISTS whose witness mixes a sub column with the param
        got = _run(
            spark,
            "SELECT tool AS tool, count(*) AS n FROM plans "
            "GROUP BY tool HAVING EXISTS "
            "(SELECT 1 FROM plans p2 WHERE p2.price > p2.qty + :lim)",
            kw,
        )
        assert got[("t1", 8)] == [("t1", 3), ("t2", 2)]  # 99>5+8
        assert got[("t9", 99)] == []  # no witness -> every group out
        assert got[("t1", None)] is None

    @pytest.mark.parametrize("kw", ENGINES)
    def test_having_not_in_theta(self, spark, kw):
        got = _run(
            spark,
            "SELECT plan AS plan, count(*) AS n FROM plans "
            "GROUP BY plan HAVING plan NOT IN "
            "(SELECT plan FROM plans p2 "
            "WHERE p2.price > :lim AND p2.plan IS NOT NULL)",
            kw,
        )
        # lim=8: set {basic, gold} -> pro stays; NULL group unknown
        assert got[("t1", 8)] == [("pro", 1)]
        # lim=1000: EMPTY set -> NOT IN () TRUE for every group,
        # the NULL-plan group included
        assert got[("t1", 1000)] == [
            (None, 1), ("basic", 2), ("gold", 1), ("pro", 1)
        ]
        assert got[("t1", None)] is None


class TestThetaProjection:
    """Round-5 final: theta projection subqueries overlay the per-event
    value into the typed NULL placeholder payload field, including the
    GLOBAL-aggregate combination (the empty-set aggregate row carries
    the event's value)."""

    @pytest.mark.parametrize("kw", ENGINES)
    def test_projection_theta(self, spark, kw):
        got = _run(
            spark,
            "SELECT plan AS plan, (SELECT max(price) FROM plans "
            "WHERE price < :lim) AS mx FROM plans WHERE tool = :tool",
            kw,
        )
        # per-event max(price < lim) rides every payload row
        assert got[("t1", 8)] == [(None, 7), ("basic", 7), ("pro", 7)]
        assert got[("t2", 3)] == [("basic", 2), ("gold", 2)]
        assert got[("t9", 99)] == []  # no t9 rows
        assert got[("t1", 1000)] == [(None, 99), ("basic", 99), ("pro", 99)]
        assert got[("t1", None)] is None

    @pytest.mark.parametrize("kw", ENGINES)
    def test_projection_theta_global_agg(self, spark, kw):
        # GLOBAL aggregate + theta projection subquery: the EMPTY-set
        # aggregate row (t9) must still carry the per-event value
        got = _run(
            spark,
            "SELECT count(*) AS n, (SELECT max(price) FROM plans "
            "WHERE price < :lim) AS mx FROM plans WHERE tool = :tool",
            kw,
        )
        assert got[("t1", 8)] == [(3, 7)]
        assert got[("t2", 3)] == [(2, 2)]
        assert got[("t9", 99)] == [(0, 10)]  # empty-set row, live value
        assert got[("t1", 1000)] == [(3, 99)]
        assert got[("t1", None)] is None


class TestThetaPlan:
    def test_fact_side_stays_exchange_free(self, spark):
        """The theta frame rides a broadcast hash join onto the fact —
        the FACT lineage must stay shuffle-free (the 100 TB contract).
        The allowed exchanges are the distinct over the fact's
        parameter tuples and the per-TUPLE aggregation that builds the
        frame, which key on the synthetic ``__psub*_k*`` columns, never
        a fact column. Fact columns are named distinctively so the
        exchange-signature check cannot be fooled."""
        import re

        from pyspark.sql import functions as F

        facts = spark.createDataFrame(
            [(f"t{i % 3 + 1}", i % 7 + 3) for i in range(64)],
            "ftool: string, flim: int",
        )
        out = LookupEnricher(
            PipelineSpec(lookups=[{
                "id": "u",
                "query": (
                    "SELECT plan AS plan FROM plans "
                    "WHERE tool = :tool AND price <= "
                    "(SELECT max(price) FROM plans WHERE price < :lim)"
                ),
                "parameters": {"tool": "ftool", "lim": "flim"},
            }]),
            _dims(spark),
        ).apply(facts)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        sigs = re.findall(
            r"(?<!Broadcast)Exchange hashpartitioning\(([^)]*)\)", plan
        )
        for sig in sigs:
            assert "ftool" not in sig and "flim" not in sig, (sig, plan)
        assert "Exchange rangepartitioning" not in plan
        # and it actually runs
        assert out.agg(F.count(F.lit(1))).collect()[0][0] == 64

    def test_scalar_apply_runs_no_job(self, spark):
        """apply() of a scalar theta-parameterized lookup only builds
        the plan: the distinct-tuple frame stays lazy, so no Spark job
        runs until the result is read."""
        enr = LookupEnricher(
            PipelineSpec(lookups=[{
                "id": "u",
                "query": (
                    "SELECT plan AS plan FROM plans "
                    "WHERE tool = :tool AND price <= "
                    "(SELECT max(price) FROM plans WHERE price < :lim)"
                ),
                "parameters": {"tool": "tool", "lim": "lim"},
            }]),
            _dims(spark),
        )
        facts = spark.createDataFrame(FACTS, FACT_SCHEMA)
        tracker = spark.sparkContext.statusTracker()
        before = tracker.getJobIdsForGroup(None)
        enr.apply(facts)
        after = tracker.getJobIdsForGroup(None)
        assert len(after) == len(before), "theta apply() ran a Spark job"

    def test_nested_join_back_broadcasts(self, spark):
        """A nested theta subquery's frame joins onto the enclosing
        frame's distinct-tuple frame by its ``__psub0_n0_k*`` keys with
        a broadcast hash join; the rows equal the row oracle's."""
        query = (
            "SELECT plan AS plan FROM plans WHERE tool = :tool "
            "AND price >= (SELECT avg(price) FROM plans p2 "
            "WHERE p2.qty > (SELECT min(qty) FROM plans p3 "
            "WHERE p3.price < :lim))"
        )
        got = _run(spark, query, {})
        assert got[("t2", 3)] == [("gold",)]
        out = LookupEnricher(
            PipelineSpec(lookups=[{
                "id": "u",
                "query": query,
                "parameters": {"tool": "tool", "lim": "lim"},
            }]),
            _dims(spark),
        ).apply(spark.createDataFrame(FACTS, FACT_SCHEMA))
        plan = out._jdf.queryExecution().executedPlan().toString()
        joins = [
            ln for ln in plan.splitlines()
            if "Join [" in ln and "__psub0_n0_k" in ln
        ]
        assert joins, plan
        assert all("BroadcastHashJoin" in ln for ln in joins), plan
