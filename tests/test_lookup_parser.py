"""Unit tests for the widened lookup-SQL parser (round-2 verdict #1) and
golden e2e coverage of the new WHERE shapes on every physical path,
plus the docs' two-field Sprintfier template (docs/index.asciidoc:580)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F, types as T

from logstash_filter_jdbc_static_spark.operators.lookup import (
    parse_lookup_query,
)
from logstash_filter_jdbc_static_spark.operators.processor import LookupEnricher
from logstash_filter_jdbc_static_spark.spec import PipelineSpec, ValidationError

from plan_conditions import PLAN_CONDITIONS


def preds(q, d=0):
    return parse_lookup_query(q).disjuncts[d]


class TestWhereParser:
    def test_simple_conjunction_unchanged(self):
        q = parse_lookup_query(
            "SELECT name FROM servers WHERE ip = :ip AND os LIKE :os"
        )
        assert len(q.disjuncts) == 1
        p1, p2 = q.disjuncts[0]
        assert (p1.dim_column, p1.op, p1.param) == ("ip", "=", "ip")
        assert (p2.dim_column, p2.op, p2.param) == ("os", "like", "os")

    def test_or_top_level(self):
        q = parse_lookup_query(
            "SELECT name FROM s WHERE ip = :ip OR location LIKE :loc"
        )
        assert len(q.disjuncts) == 2
        assert q.disjuncts[0][0].op == "="
        assert q.disjuncts[1][0].op == "like"
        assert not q.is_pure_equi

    def test_parenthesized_distribution(self):
        # a AND (b OR c) -> [a,b] | [a,c]
        q = parse_lookup_query(
            "SELECT x FROM t WHERE a = :a AND (b = :b OR c = :c)"
        )
        assert [[p.dim_column for p in d] for d in q.disjuncts] == [
            ["a", "b"], ["a", "c"],
        ]

    def test_in_list_mixing_params_literals_positionals(self):
        q = parse_lookup_query(
            "SELECT x FROM t WHERE k IN (:a, 'lit''eral', ?, 42)"
        )
        (p,) = q.disjuncts[0]
        assert p.op == "in"
        assert [(t.kind, t.value) for t in p.terms] == [
            ("param", "a"), ("literal", "lit'eral"), ("param", "p0"),
            ("literal", 42),
        ]

    def test_between_inner_and_binds_to_predicate(self):
        q = parse_lookup_query(
            "SELECT x FROM t WHERE k BETWEEN :lo AND :hi AND n = :n"
        )
        p1, p2 = q.disjuncts[0]
        assert p1.op == "between" and [t.value for t in p1.terms] == ["lo", "hi"]
        assert p2.op == "=" and p2.param == "n"

    def test_is_null_variants_and_not_forms(self):
        q = parse_lookup_query(
            "SELECT x FROM t WHERE a IS NULL AND b IS NOT NULL "
            "AND c NOT LIKE 'x%' AND d NOT IN (1, 2) AND e NOT BETWEEN 1 AND 9"
        )
        ops = [p.op for p in q.disjuncts[0]]
        assert ops == ["is null", "is not null", "not like", "not in", "not between"]
        assert q.disjuncts[0][0].is_static  # no params anywhere
        assert q.predicates[3].literal == 1

    def test_not_parenthesized_demorgan(self):
        # NOT (a = :a OR b LIKE :b) -> one conjunction [a <> :a, b NOT LIKE :b]
        q = parse_lookup_query(
            "SELECT x FROM t WHERE NOT (a = :a OR b LIKE :b)"
        )
        assert len(q.disjuncts) == 1
        p1, p2 = q.disjuncts[0]
        assert (p1.dim_column, p1.op) == ("a", "<>")
        assert (p2.dim_column, p2.op) == ("b", "not like")

    def test_not_conjunction_becomes_disjunction(self):
        # NOT (a = 1 AND b IS NULL) -> a <> 1 | b IS NOT NULL
        q = parse_lookup_query(
            "SELECT x FROM t WHERE NOT (a = 1 AND b IS NULL)"
        )
        assert [[(p.dim_column, p.op) for p in d] for d in q.disjuncts] == [
            [("a", "<>")], [("b", "is not null")],
        ]

    def test_not_single_predicate_and_double_not(self):
        (p,) = preds("SELECT x FROM t WHERE NOT a < :a")
        assert (p.dim_column, p.op) == ("a", ">=")
        (p,) = preds("SELECT x FROM t WHERE NOT NOT a = :a")
        assert (p.dim_column, p.op) == ("a", "=")

    def test_not_over_in_and_between(self):
        (p,) = preds("SELECT x FROM t WHERE NOT k IN (:a, 7)")
        assert p.op == "not in"
        (p,) = preds("SELECT x FROM t WHERE NOT k NOT BETWEEN :lo AND :hi")
        assert p.op == "between"

    def test_positional_numbering_in_textual_order(self):
        q = parse_lookup_query(
            "SELECT x FROM t WHERE a = ? OR b IN (?, ?) OR c BETWEEN ? AND ?"
        )
        names = [t.value for d in q.disjuncts for p in d for t in p.terms]
        assert names == ["p0", "p1", "p2", "p3", "p4"]

    def test_numeric_literals_typed(self):
        q = parse_lookup_query("SELECT x FROM t WHERE a = 5 AND b < 2.5")
        p1, p2 = q.disjuncts[0]
        assert p1.literal == 5 and isinstance(p1.literal, int)
        assert p2.literal == 2.5 and isinstance(p2.literal, float)

    def test_negative_and_exponent_literals(self):
        # legal Derby SQL the round-3 review found rejected
        q = parse_lookup_query(
            "SELECT x FROM t WHERE a > -5 AND b < 1e3 AND c <> -2.5e-1"
        )
        p1, p2, p3 = q.disjuncts[0]
        assert p1.literal == -5 and isinstance(p1.literal, int)
        assert p2.literal == 1000.0 and isinstance(p2.literal, float)
        assert p3.literal == -0.25

    def test_pure_equi_with_static_riders(self):
        q = parse_lookup_query(
            "SELECT x FROM t WHERE k = :k AND status IS NOT NULL AND n > 3"
        )
        assert q.is_pure_equi  # static predicates ride the dim filter

    def test_or_breaks_pure_equi(self):
        assert not parse_lookup_query(
            "SELECT x FROM t WHERE k = :k OR j = :j"
        ).is_pure_equi

    @pytest.mark.parametrize(
        "bad",
        [
            "SELECT x FROM t WHERE k ==",
            "SELECT x FROM t WHERE k IN :a",
            "SELECT x FROM t WHERE k BETWEEN :a",
            "SELECT x FROM t WHERE k IS BANANA",
            "SELECT x FROM t WHERE (k = :a",
            "SELECT x FROM t WHERE k = :a extra",
            # NOTE: "k = unquoted" is no longer malformed — a bare word
            # rhs is a static dim-side column comparand since round 4
            # (existence checked at compile; test_lookup_rhs.py)
            "SELECT x FROM t WHERE k = 'a' extra",
        ],
    )
    def test_malformed_where_raises(self, bad):
        with pytest.raises(ValidationError, match="unsupported lookup predicate"):
            parse_lookup_query(bad)

    def test_disjunct_explosion_falls_back_to_tree(self):
        # 2^8 = 256 disjuncts > _MAX_DISJUNCTS: instead of raising, the
        # parser keeps the un-normalized boolean tree for the theta
        # paths to evaluate directly (round-3 verdict #4)
        clause = " AND ".join(f"(a{i} = :x OR b{i} = :x)" for i in range(8))
        q = parse_lookup_query(f"SELECT x FROM t WHERE {clause}")
        assert q.where_tree is not None and q.disjuncts == []
        assert len(q.predicates) == 16
        assert not q.is_pure_equi

    def test_disjunct_explosion_still_raises_for_joins(self):
        # the join flat-rewrite needs DNF, so the bound stays a hard
        # error there
        clause = " AND ".join(f"(a.c{i} = :x OR b.d{i} = :x)" for i in range(8))
        with pytest.raises(ValidationError, match="OR-branches"):
            parse_lookup_query(
                f"SELECT a.x FROM a JOIN b ON a.k = b.k WHERE {clause}"
            )


FACT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("k", T.StringType(), True),
        T.StructField("lo", T.IntegerType(), True),
        T.StructField("hi", T.IntegerType(), True),
    ]
)
DIM_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), True),
        T.StructField("num", T.IntegerType(), True),
        T.StructField("name", T.StringType(), False),
    ]
)
DIM_ROWS = [
    ("a", 1, "row-a1"),
    ("b", 2, "row-b2"),
    ("c", None, "row-c-null"),
    (None, 7, "row-null7"),
]


def _enrich(spark, query, facts, **kw):
    spec = PipelineSpec(
        lookups=[{"id": "hit", "query": query, "parameters": {"k": "k", "lo": "lo", "hi": "hi"}}]
    )
    dim = spark.createDataFrame(DIM_ROWS, DIM_SCHEMA)
    out = LookupEnricher(spec, {"dim": dim}, **kw).apply(
        spark.createDataFrame(facts, FACT_SCHEMA)
    )
    return {
        r["turn_idx"]: None if r["hit"] is None else sorted(
            x["name"] for x in r["hit"]
        )
        for r in out.collect()
    }


# Lookup constructor kwargs per case (always empty), one case per
# plan condition (plan_conditions.py).
PATH_KWARGS = PLAN_CONDITIONS


@pytest.mark.parametrize("kw", PATH_KWARGS)
class TestWidenedShapesGolden:
    FACTS = [("c", 1, "a", 1, 2), ("c", 2, "zz", 5, 9), ("c", 3, None, None, None)]

    def test_in_list(self, spark, kw):
        got = _enrich(
            spark, "SELECT name FROM dim WHERE key IN (:k, 'b')", self.FACTS, **kw
        )
        assert got == {1: ["row-a1", "row-b2"], 2: ["row-b2"], 3: None}

    def test_or_disjunction(self, spark, kw):
        got = _enrich(
            spark,
            "SELECT name FROM dim WHERE key = :k OR num BETWEEN :lo AND :hi",
            self.FACTS,
            **kw,
        )
        # turn 1: key=a matches row-a1; num in [1,2] matches a1+b2 (a1 once)
        assert got == {1: ["row-a1", "row-b2"], 2: ["row-null7"], 3: None}

    def test_null_tests_and_not_in(self, spark, kw):
        got = _enrich(
            spark,
            "SELECT name FROM dim WHERE num IS NOT NULL AND key NOT IN (:k)",
            self.FACTS,
            **kw,
        )
        # NOT IN never matches NULL keys (row-null7 excluded)
        assert got == {1: ["row-b2"], 2: ["row-a1", "row-b2"], 3: None}

    def test_static_only_disjunct(self, spark, kw):
        got = _enrich(
            spark,
            "SELECT name FROM dim WHERE key = :k OR num > 5",
            self.FACTS,
            **kw,
        )
        assert got == {1: ["row-a1", "row-null7"], 2: ["row-null7"], 3: None}


class TestEquiPathWithStaticRiders:
    def test_static_predicates_stay_on_broadcast_hash_path(self, spark):
        """k = :k AND num IS NOT NULL must compile to the key-grouped
        broadcast equi-join (dim filtered), not the theta path."""
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "hit",
                    "query": "SELECT name FROM dim WHERE key = :k AND num IS NOT NULL",
                    "parameters": {"k": "k"},
                }
            ]
        )
        dim = spark.createDataFrame(DIM_ROWS, DIM_SCHEMA)
        out = LookupEnricher(spec, {"dim": dim}).apply(
            spark.createDataFrame(
                [("c", 1, "a", None, None), ("c", 2, "c", None, None)], FACT_SCHEMA
            )
        )
        plan = out._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
        assert "BroadcastHashJoin" in plan
        assert "BroadcastNestedLoopJoin" not in plan
        got = {
            r["turn_idx"]: None if r["hit"] is None else [x["name"] for x in r["hit"]]
            for r in out.collect()
        }
        # row-c-null has num NULL -> filtered out of the dim
        assert got == {1: ["row-a1"], 2: []}


class TestTwoFieldSprintfier:
    def test_docs_id_loc_template(self, spark):
        """docs/index.asciidoc:580: parameters => {"id" => "%{[id]}-%{[loc_id]}"}
        — two fields interpolated into ONE template, bound as the join key."""
        fact_schema = T.StructType(
            [
                T.StructField("conv_id", T.StringType(), False),
                T.StructField("turn_idx", T.IntegerType(), False),
                T.StructField("id", T.StringType(), True),
                T.StructField("loc_id", T.StringType(), True),
            ]
        )
        dim = spark.createDataFrame(
            [("u1-l7", "alice"), ("u2-l9", "bob")],
            T.StructType(
                [
                    T.StructField("fid", T.StringType(), False),
                    T.StructField("who", T.StringType(), False),
                ]
            ),
        )
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "person",
                    "query": "SELECT who FROM people WHERE fid = :fid",
                    "parameters": {"fid": "%{[id]}-%{[loc_id]}"},
                }
            ]
        )
        out = LookupEnricher(spec, {"people": dim}).apply(
            spark.createDataFrame(
                [
                    ("c", 1, "u1", "l7"),   # hit
                    ("c", 2, "u2", "l1"),   # miss
                    ("c", 3, None, "l7"),   # one field null => invalid => failed
                ],
                fact_schema,
            )
        )
        rows = {r["turn_idx"]: r for r in out.collect()}
        assert [x["who"] for x in rows[1]["person"]] == ["alice"]
        assert rows[1]["matched"] is True
        assert list(rows[2]["person"]) == []
        assert rows[3]["person"] is None
        assert rows[3]["tags"] == ["_jdbcstaticfailure"]
        assert rows[3]["matched"] is False


class TestFuncWrappedColumns:
    def test_parse_func_lhs(self):
        q = parse_lookup_query(
            "SELECT x FROM t WHERE lower(ip) = :ip AND length(name) > 3"
        )
        p1, p2 = q.disjuncts[0]
        assert (p1.func, p1.dim_column, p1.op) == ("lower", "ip", "=")
        assert (p2.func, p2.dim_column, p2.op) == ("length", "name", ">")
        assert q.is_pure_equi  # computed key still hash-joinable

    def test_unknown_function_raises(self):
        with pytest.raises(ValidationError, match="unknown function"):
            parse_lookup_query("SELECT x FROM t WHERE soundex(ip) = :ip")
        with pytest.raises(ValidationError, match="unclosed"):
            parse_lookup_query("SELECT x FROM t WHERE lower(ip = :ip")

    def test_golden_case_fold_equi_stays_broadcast_hash(self, spark):
        dim = spark.createDataFrame(
            [("Alpha", "a-payload"), ("BETA", "b-payload")],
            T.StructType(
                [
                    T.StructField("key", T.StringType(), False),
                    T.StructField("name", T.StringType(), False),
                ]
            ),
        )
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "hit",
                    "query": "SELECT name FROM dim WHERE lower(key) = :k",
                    "parameters": {"k": "k"},
                }
            ]
        )
        out = LookupEnricher(spec, {"dim": dim}).apply(
            spark.createDataFrame(
                [("c", 1, "alpha", None, None), ("c", 2, "beta", None, None),
                 ("c", 3, "Alpha", None, None)],
                FACT_SCHEMA,
            )
        )
        plan = out._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
        assert "BroadcastHashJoin" in plan
        assert "NestedLoop" not in plan
        got = {
            r["turn_idx"]: [x["name"] for x in r["hit"]] for r in out.collect()
        }
        # the fact side binds the RAW field; only the dim column is folded
        assert got == {1: ["a-payload"], 2: ["b-payload"], 3: []}

    @pytest.mark.parametrize("kw", PATH_KWARGS)
    def test_func_on_theta_paths(self, spark, kw):
        # all bound params must be valid (A8), so every row carries lo/hi
        facts = [("c", 1, "ROW-A1", 100, 200), ("c", 2, "x", 2, 7)]
        got = _enrich(
            spark,
            "SELECT name FROM dim WHERE upper(name) = :k OR abs(num) BETWEEN :lo AND :hi",
            facts,
            **kw,
        )
        assert got == {1: ["row-a1"], 2: ["row-b2", "row-null7"]}


class TestQualifiedColumns:
    def test_table_qualifier_accepted_and_stripped(self):
        q = parse_lookup_query(
            "SELECT servers.name, servers.ip AS addr FROM servers "
            "WHERE servers.ip = :ip AND lower(servers.name) LIKE :pat"
        )
        assert q.projection == [("name", "name"), ("ip", "addr")]
        p1, p2 = q.disjuncts[0]
        assert p1.dim_column == "ip"
        assert (p2.func, p2.dim_column) == ("lower", "name")

    def test_wrong_qualifier_raises(self):
        with pytest.raises(ValidationError, match="unknown table qualifier"):
            parse_lookup_query(
                "SELECT name FROM servers WHERE other.ip = :ip"
            )

    def test_wrong_projection_qualifier_raises(self):
        with pytest.raises(ValidationError, match="unknown table qualifier"):
            parse_lookup_query("SELECT other.name FROM servers WHERE ip = :ip")


class TestSingleTableAlias:
    """``FROM servers s`` with no join: Derby scopes the alias like the
    table name, and the round-3 review found we accepted the alias in
    FROM but rejected every ``s.``-qualified reference after it."""

    def test_alias_qualified_refs_accepted_and_stripped(self):
        q = parse_lookup_query(
            "SELECT s.name, s.ip AS addr FROM servers s "
            "WHERE s.ip = :ip AND lower(s.name) LIKE :pat"
        )
        assert q.projection == [("name", "name"), ("ip", "addr")]
        p1, p2 = q.disjuncts[0]
        assert p1.dim_column == "ip"
        assert (p2.func, p2.dim_column) == ("lower", "name")

    def test_as_alias_and_table_name_both_in_scope(self):
        q = parse_lookup_query(
            "SELECT servers.name FROM servers AS s WHERE s.ip = :ip"
        )
        assert q.projection == [("name", "name")]
        assert q.disjuncts[0][0].dim_column == "ip"

    def test_unknown_qualifier_still_raises_with_alias(self):
        with pytest.raises(ValidationError, match="unknown table qualifier"):
            parse_lookup_query(
                "SELECT s.name FROM servers s WHERE z.ip = :ip"
            )

    def test_aliased_single_table_enriches(self, spark):
        got = _enrich(
            spark,
            "SELECT d.name FROM dim d WHERE d.key = :k",
            [("c", 1, "a", 1, 2), ("c", 2, "zz", 1, 2)],
        )
        assert got == {1: ["row-a1"], 2: []}


class TestProbeTupleDedup:
    def test_repeated_param_keyed_once(self, spark):
        """DNF normalization duplicates conjoined predicates into every
        disjunct; the map-probe's parameter tuple must carry one column
        per placeholder, not one per occurrence (round-3 review)."""
        import re as _re

        spec = PipelineSpec(
            lookups=[
                {
                    "id": "hit",
                    "query": (
                        "SELECT name FROM dim "
                        "WHERE (key = :k OR name = :k) AND name LIKE :k"
                    ),
                    "parameters": {"k": "k"},
                }
            ]
        )
        dim = spark.createDataFrame(DIM_ROWS, DIM_SCHEMA)
        fact = spark.createDataFrame(
            [("c", 1, "row-a1", None, None)], FACT_SCHEMA
        )
        out = LookupEnricher(spec, {"dim": dim}).apply(fact)
        plan = out._jdf.queryExecution().analyzed().toString()
        # one tuple column for :k — NOT one per flat predicate
        # occurrence (which would be 4 here)
        assert set(_re.findall(r"__mk_hit_\d+", plan)) == {"__mk_hit_0"}
        (row,) = out.collect()
        assert [x["name"] for x in row["hit"]] == ["row-a1"]


class TestWidenedConfigEndToEnd:
    """A user-facing JSON config using every round-3 WHERE widening
    (examples/pipeline_widened.json) compiles through
    PipelineSpec.from_json and enriches correctly — validated against
    the row-at-a-time oracle, not hand-written expectations."""

    def test_example_config_runs_and_matches_oracle(self, spark):
        import os

        from logstash_filter_jdbc_static_spark import oracle
        from logstash_filter_jdbc_static_spark.sources.transcripts import (
            SERVERS_ROWS,
            TOOL_CATALOG_ROWS,
        )

        cfg = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "examples", "pipeline_widened.json",
        )
        spec = PipelineSpec.from_json(cfg)
        spec2 = PipelineSpec.from_json(cfg)

        fact_schema = T.StructType(
            [
                T.StructField("conv_id", T.StringType(), False),
                T.StructField("turn_idx", T.IntegerType(), False),
                T.StructField("from_ip", T.StringType(), True),
                T.StructField("octet", T.StringType(), True),
                T.StructField("tool_uc", T.StringType(), True),
            ]
        )
        facts = [
            ("c", 1, "10.3.1.1", "3", "TOOL_2"),   # both lookups hit
            ("c", 2, "10.9.9.9", "2", "TOOL_5"),   # OR via location LIKE %2%
            ("c", 3, "10.9.9.9", "7", "TOOL_9"),   # server default; tool_0 only
            ("c", 4, None, None, "TOOL_1"),        # server params invalid
        ]
        dims = {
            "servers": spark.createDataFrame(
                SERVERS_ROWS, "ip string, name string, location string"
            ),
            "tool_catalog": spark.createDataFrame(
                TOOL_CATALOG_ROWS,
                "tool string, category string, owner string, risk_level int",
            ),
        }
        out = LookupEnricher(spec, dims).apply(
            spark.createDataFrame(facts, fact_schema)
        )
        got = {
            r["turn_idx"]: (
                None if r["server"] is None else sorted(
                    (x["name"], x["location"]) for x in r["server"]
                ),
                None if r["toolinfo"] is None else sorted(
                    (x["category"], x["owner"]) for x in r["toolinfo"]
                ),
                sorted(r["tags"]),
                r["matched"],
            )
            for r in out.collect()
        }

        tables = {
            "servers": [
                {"ip": i, "name": n, "location": l} for i, n, l in SERVERS_ROWS
            ],
            "tool_catalog": [
                {"tool": t, "category": c, "owner": o, "risk_level": rl}
                for t, c, o, rl in TOOL_CATALOG_ROWS
            ],
        }
        exp = {}
        for conv_id, turn_idx, from_ip, octet, tool_uc in facts:
            event = {"conv_id": conv_id, "turn_idx": turn_idx}
            for k, v in (("from_ip", from_ip), ("octet", octet), ("tool_uc", tool_uc)):
                if v is not None:
                    event[k] = v
            oracle.enhance(event, spec2, tables)
            exp[turn_idx] = (
                None if event.get("server") is None else sorted(
                    (d["name"], d["location"]) for d in event["server"]
                ),
                None if event.get("toolinfo") is None else sorted(
                    (d["category"], d["owner"]) for d in event["toolinfo"]
                ),
                sorted(event["tags"]),
                event["matched"],
            )
        assert got == exp
        # sanity on the interesting rows, beyond oracle agreement:
        # octet '3' also matches LDN-2-3-4 via the OR's LIKE branch
        assert got[1][0] == [
            ("ldn-server-1", "LDN-2-3-4"), ("mv-serv'r-1", "MV-9-6-4"),
        ]
        assert got[3][0] == [("unknown", "NOWHERE")]  # default path
        assert got[4][0] is None and got[4][3] is False


class TestOrderByLimitParser:
    def test_order_by_and_limit(self):
        q = parse_lookup_query(
            "SELECT name FROM servers WHERE ip = :ip ORDER BY name DESC, ip LIMIT 2"
        )
        assert q.order_by == (("name", False), ("ip", True))
        assert q.limit == 2
        assert q.is_pure_equi  # ORDER BY must not break the equi path

    def test_fetch_first_rows_only(self):
        q = parse_lookup_query(
            "SELECT name FROM servers ORDER BY ip FETCH FIRST 3 ROWS ONLY"
        )
        assert q.order_by == (("ip", True),) and q.limit == 3
        q = parse_lookup_query("SELECT name FROM servers FETCH FIRST ROW ONLY")
        assert q.order_by == () and q.limit == 1

    def test_order_without_where_or_limit(self):
        q = parse_lookup_query("SELECT name FROM servers ORDER BY name")
        assert q.order_by == (("name", True),) and q.limit is None
        assert q.disjuncts == []

    def test_projection_alias_resolves_to_source(self):
        q = parse_lookup_query("SELECT ip AS addr FROM servers ORDER BY addr")
        assert q.order_by == (("ip", True),)

    def test_qualified_order_col_stripped(self):
        q = parse_lookup_query(
            "SELECT s.name FROM servers s WHERE s.ip = :ip ORDER BY s.ip DESC"
        )
        assert q.order_by == (("ip", False),)

    def test_like_literal_containing_keywords_not_split(self):
        q = parse_lookup_query(
            "SELECT name FROM servers WHERE os LIKE '%order by limit%' ORDER BY name"
        )
        assert q.order_by == (("name", True),)
        assert q.disjuncts[0][0].literal == "%order by limit%"

    @pytest.mark.parametrize(
        "bad",
        [
            "SELECT name FROM servers ORDER BY",
            "SELECT name FROM servers LIMIT",
            "SELECT name FROM servers LIMIT 0",
            "SELECT name FROM servers LIMIT x",
            "SELECT name FROM servers ORDER BY name ASC DESC",
            "SELECT name FROM servers FETCH FIRST 2 ONLY",
            "SELECT name FROM servers LIMIT 2 trailing",
            "SELECT name FROM servers ORDER BY z.name",
        ],
    )
    def test_malformed_raises(self, bad):
        with pytest.raises(ValidationError):
            parse_lookup_query(bad)

    def test_unknown_order_column_rejected_at_compile(self, spark):
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "hit",
                    "query": "SELECT name FROM dim WHERE key = :k ORDER BY missing",
                    "parameters": {"k": "k"},
                }
            ]
        )
        dim = spark.createDataFrame(DIM_ROWS, DIM_SCHEMA)
        with pytest.raises(ValidationError, match="ORDER BY column"):
            LookupEnricher(spec, {"dim": dim})


ORDER_DIM_ROWS = [
    ("a", 3, "r1"),
    ("a", 1, "r2"),
    ("a", None, "r3"),
    ("a", 2, "r4"),
    ("b", 9, "r5"),
]


def _order_enrich(spark, query, **kw):
    spec = PipelineSpec(
        lookups=[{"id": "hit", "query": query, "parameters": {"k": "k"}}]
    )
    dim = spark.createDataFrame(ORDER_DIM_ROWS, "key string, num int, name string")
    facts = [("c", 1, "a"), ("c", 2, "b"), ("c", 3, "z")]
    out = LookupEnricher(spec, {"dim": dim}, **kw).apply(
        spark.createDataFrame(facts, "conv_id string, turn_idx int, k string")
    )
    return {
        r["turn_idx"]: None if r["hit"] is None else [
            x["name"] for x in r["hit"]
        ]
        for r in out.collect()
    }


@pytest.mark.parametrize("kw", PATH_KWARGS)
class TestOrderByLimitGolden:
    def test_equi_order_desc_nulls_first_limit(self, spark, kw):
        # Derby result order: NULL is the LARGEST value, so num DESC
        # puts the NULL row first; LIMIT 3 then slices
        got = _order_enrich(
            spark,
            "SELECT name FROM dim WHERE key = :k ORDER BY num DESC LIMIT 3",
            **kw,
        )
        assert got == {1: ["r3", "r1", "r4"], 2: ["r5"], 3: []}

    def test_theta_order_asc_non_projected_key(self, spark, kw):
        # key <= :k keeps this off the equi path on every engine config;
        # num ASC puts the NULL row LAST
        got = _order_enrich(
            spark,
            "SELECT name FROM dim WHERE key <= :k ORDER BY num",
            **kw,
        )
        assert got == {
            1: ["r2", "r4", "r1", "r3"],
            2: ["r2", "r4", "r1", "r5", "r3"],
            3: ["r2", "r4", "r1", "r5", "r3"],
        }

    def test_bare_limit_keeps_default_sort(self, spark, kw):
        # no ORDER BY: legacy deterministic payload sort, then slice
        got = _order_enrich(
            spark,
            "SELECT name FROM dim WHERE key = :k LIMIT 2",
            **kw,
        )
        assert got == {1: ["r1", "r2"], 2: ["r5"], 3: []}


class TestSelectDistinct:
    def test_distinct_parses(self):
        q = parse_lookup_query(
            "SELECT DISTINCT tool FROM hosts WHERE ip LIKE :p ORDER BY tool LIMIT 3"
        )
        assert q.distinct and q.order_by == (("tool", True),) and q.limit == 3

    def test_distinct_star_allowed(self):
        assert parse_lookup_query("SELECT DISTINCT * FROM hosts").distinct

    def test_distinct_order_key_must_be_selected(self):
        # Derby rejects ORDER BY over a non-selected column under DISTINCT
        with pytest.raises(ValidationError, match="must appear in the"):
            parse_lookup_query("SELECT DISTINCT tool FROM hosts ORDER BY ip")

    def test_non_distinct_unchanged(self):
        assert not parse_lookup_query("SELECT tool FROM hosts").distinct


@pytest.mark.parametrize("kw", PATH_KWARGS)
class TestSelectDistinctGolden:
    DIM = [
        ("t0", "10.1.1.1"),
        ("t0", "10.3.1.1"),
        ("t2", "10.1.1.1"),
        ("t2", "10.2.1.1"),
        ("t1", "10.2.1.1"),
    ]

    def _run(self, spark, query, facts, **kw):
        spec = PipelineSpec(
            lookups=[{"id": "hit", "query": query, "parameters": {"p": "p"}}]
        )
        dim = spark.createDataFrame(self.DIM, "tool string, ip string")
        out = LookupEnricher(spec, {"hosts": dim}, **kw).apply(
            spark.createDataFrame(facts, "conv_id string, turn_idx int, p string")
        )
        first_field = out.schema["hit"].dataType.elementType.fields[0].name
        return {
            r["turn_idx"]: [x[first_field] for x in (r["hit"] or [])]
            for r in out.collect()
        }

    def test_theta_distinct_ordered(self, spark, kw):
        got = self._run(
            spark,
            "SELECT DISTINCT tool FROM hosts WHERE ip LIKE :p ORDER BY tool DESC",
            [("c", 1, "%.1.1"), ("c", 2, "%.9.9")],
            **kw,
        )
        assert got == {1: ["t2", "t1", "t0"], 2: []}

    def test_distinct_default_sort_and_limit(self, spark, kw):
        got = self._run(
            spark,
            "SELECT DISTINCT tool FROM hosts WHERE ip LIKE :p LIMIT 2",
            [("c", 1, "%.1.1")],
            **kw,
        )
        assert got == {1: ["t0", "t1"]}

    def test_equi_distinct(self, spark, kw):
        got = self._run(
            spark,
            "SELECT DISTINCT ip FROM hosts WHERE tool = :p",
            [("c", 1, "t0"), ("c", 2, "zz")],
            **kw,
        )
        assert got == {1: ["10.1.1.1", "10.3.1.1"], 2: []}


class TestAggregateParser:
    def test_aggregates_parse(self):
        q = parse_lookup_query(
            "SELECT count(*) AS n, max(ip) AS mx, avg(num) AS a "
            "FROM hosts WHERE tool = :t"
        )
        assert q.aggregates == (
            ("count", None, "n"), ("max", "ip", "mx"), ("avg", "num", "a"),
        )
        assert q.projection == [] and q.is_pure_equi

    def test_qualified_agg_arg_stripped(self):
        q = parse_lookup_query(
            "SELECT count(h.ip) AS n FROM hosts h WHERE h.tool = :t"
        )
        assert q.aggregates == (("count", "ip", "n"),)

    @pytest.mark.parametrize(
        "bad",
        [
            "SELECT count(*) FROM hosts",                       # no alias
            "SELECT count(*) AS n, ip FROM hosts",              # mixed
            "SELECT sum(*) AS s FROM hosts",                    # sum(*)
            "SELECT DISTINCT count(*) AS n FROM hosts",         # distinct
        ],
    )
    def test_malformed_aggregates_raise(self, bad):
        with pytest.raises(ValidationError):
            parse_lookup_query(bad)

    def test_aggregate_tail_accepted(self):
        # round-5 latest: ORDER BY (validated no-op over the single
        # row) and LIMIT/OFFSET combine with an aggregate projection
        q = parse_lookup_query(
            "SELECT count(*) AS n FROM hosts ORDER BY n LIMIT 1"
        )
        assert q.order_by == (("n", True),) and q.limit == 1
        with pytest.raises(ValidationError, match="not a selected"):
            parse_lookup_query(
                "SELECT count(*) AS n FROM hosts ORDER BY ip"
            )

    def test_sum_requires_numeric_column(self, spark):
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "hit",
                    "query": "SELECT sum(name) AS s FROM dim WHERE key = :k",
                    "parameters": {"k": "k"},
                }
            ]
        )
        dim = spark.createDataFrame(DIM_ROWS, DIM_SCHEMA)
        with pytest.raises(ValidationError, match="integer or floating-point"):
            LookupEnricher(spec, {"dim": dim})


@pytest.mark.parametrize("kw", PATH_KWARGS)
class TestAggregateGolden:
    DIM = [
        ("t0", 3, "10.1.1.1"),
        ("t0", None, "10.3.1.1"),
        ("t2", 5, "10.1.1.1"),
        ("t1", 7, None),
    ]

    def _run(self, spark, query, facts, **kw):
        spec = PipelineSpec(
            lookups=[{"id": "hit", "query": query, "parameters": {"t": "t"}}]
        )
        dim = spark.createDataFrame(self.DIM, "tool string, num int, ip string")
        out = LookupEnricher(spec, {"hosts": dim}, **kw).apply(
            spark.createDataFrame(facts, "conv_id string, turn_idx int, t string")
        )
        return {
            r["turn_idx"]: (
                None if r["hit"] is None else [tuple(x) for x in r["hit"]]
            )
            for r in out.collect()
        }

    def test_equi_aggregates_incl_empty_set_row(self, spark, kw):
        got = self._run(
            spark,
            "SELECT count(*) AS n, count(ip) AS nip, max(ip) AS mx, "
            "sum(num) AS s, avg(num) AS a FROM hosts WHERE tool = :t",
            [("c", 1, "t0"), ("c", 2, "t1"), ("c", 3, "zz"), ("c", 4, None)],
            **kw,
        )
        assert got == {
            1: [(2, 2, "10.3.1.1", 3, 3.0)],   # NULL num skipped by sum/avg
            2: [(1, 0, None, 7, 7.0)],         # NULL ip: count(ip) 0, max NULL
            3: [(0, 0, None, None, None)],     # key miss: one row, count 0
            4: None,                           # invalid param: failed lookup
        }

    def test_theta_aggregates(self, spark, kw):
        got = self._run(
            spark,
            "SELECT count(*) AS n, min(num) AS mn FROM hosts WHERE ip LIKE :t",
            [("c", 1, "%.1.1"), ("c", 2, "%.9")],
            **kw,
        )
        assert got == {1: [(3, 3)], 2: [(0, None)]}


class TestRound3ReviewRegressions:
    @pytest.mark.parametrize(
        "bad",
        [
            # a truncated WHERE must not silently match everything
            "SELECT name FROM servers WHERE ORDER BY name",
            "SELECT name FROM servers WHERE LIMIT 2",
        ],
    )
    def test_empty_where_before_tail_raises(self, bad):
        with pytest.raises(ValidationError, match="WHERE clause is empty"):
            parse_lookup_query(bad)

    def test_distinct_join_order_key_selected_via_qualifier(self):
        # 'name' is selected bare (unambiguous) and ordered qualified —
        # Derby accepts this; the membership check must compare flat
        # names, not mixed spellings (round-3 review finding)
        q = parse_lookup_query(
            "SELECT DISTINCT a.name AS name FROM t1 a JOIN t2 b "
            "ON a.fk = b.pk WHERE a.k = :k ORDER BY a.name"
        )
        assert q.distinct and q.order_by == (("a.name", True),)


class TestOffsetAndCountDistinct:
    def test_offset_fetch_standard_order(self):
        q = parse_lookup_query(
            "SELECT name FROM t ORDER BY name OFFSET 2 ROWS FETCH NEXT 3 ROWS ONLY"
        )
        assert (q.limit, q.offset) == (3, 2)

    def test_limit_offset_dialect_order(self):
        q = parse_lookup_query("SELECT name FROM t ORDER BY name LIMIT 3 OFFSET 2")
        assert (q.limit, q.offset) == (3, 2)

    def test_offset_alone(self):
        q = parse_lookup_query("SELECT name FROM t ORDER BY name OFFSET 4 ROWS")
        assert (q.limit, q.offset) == (None, 4)

    def test_count_distinct_parses(self):
        q = parse_lookup_query(
            "SELECT count(DISTINCT ip) AS n FROM t WHERE tool = :t"
        )
        assert q.aggregates == (("count_distinct", "ip", "n"),)

    @pytest.mark.parametrize(
        "bad",
        [
            # (max(DISTINCT ip) is accepted since the round-5-final
            # DISTINCT-under-every-set-function widening)
            "SELECT count(DISTINCT *) AS n FROM t",
            # (aggregate + OFFSET is accepted since the grouped-tail
            # round-5 widening: it can empty the single-row result)
            "SELECT name FROM t OFFSET x ROWS",
        ],
    )
    def test_malformed_raise(self, bad):
        with pytest.raises(ValidationError):
            parse_lookup_query(bad)

    @pytest.mark.parametrize("kw", PATH_KWARGS)
    def test_golden_offset_and_count_distinct(self, spark, kw):
        dim = spark.createDataFrame(
            [("t0", "a"), ("t0", "b"), ("t0", "c"), ("t0", "d"), ("t0", "a"),
             ("t1", "z")],
            "tool string, v string",
        )
        facts = spark.createDataFrame(
            [("c", 1, "t0"), ("c", 2, "t1"), ("c", 3, "zz")],
            "conv_id string, turn_idx int, t string",
        )
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "hit",
                    "query": "SELECT v FROM hosts WHERE tool = :t "
                             "ORDER BY v OFFSET 1 ROWS FETCH NEXT 2 ROWS ONLY",
                    "parameters": {"t": "t"},
                }
            ]
        )
        out = LookupEnricher(spec, {"hosts": dim}, **kw).apply(facts)
        got = {
            r["turn_idx"]: [x["v"] for x in (r["hit"] or [])]
            for r in out.collect()
        }
        # ordered [a,a,b,c,d] -> skip 1, take 2
        assert got == {1: ["a", "b"], 2: [], 3: []}
        spec2 = PipelineSpec(
            lookups=[
                {
                    "id": "hit",
                    "query": "SELECT count(DISTINCT v) AS n FROM hosts "
                             "WHERE tool = :t",
                    "parameters": {"t": "t"},
                }
            ]
        )
        out2 = LookupEnricher(spec2, {"hosts": dim}, **kw).apply(facts)
        got2 = {
            r["turn_idx"]: [x["n"] for x in (r["hit"] or [])]
            for r in out2.collect()
        }
        assert got2 == {1: [4], 2: [1], 3: [0]}


class TestOffsetReviewRegressions:
    def test_offset_only_tail_parses(self):
        # valid Derby SQL; _find_tail must recognize an OFFSET-led tail
        q = parse_lookup_query(
            "SELECT name FROM servers WHERE ip = :ip OFFSET 2 ROWS"
        )
        assert (q.limit, q.offset) == (None, 2)
        q = parse_lookup_query("SELECT name FROM servers OFFSET 3 ROWS")
        assert (q.limit, q.offset) == (None, 3)

    def test_double_offset_raises(self):
        with pytest.raises(ValidationError, match="OFFSET specified twice"):
            parse_lookup_query(
                "SELECT name FROM t ORDER BY name OFFSET 1 ROWS LIMIT 2 OFFSET 5"
            )

    @pytest.mark.parametrize("kw", PATH_KWARGS)
    def test_offset_past_matches_fires_default(self, spark, kw):
        """An OFFSET that empties a non-empty match set must fire
        default_hash + tag (Derby returns the post-offset result set,
        so its empty?-branch runs) — engine and row oracle agree."""
        from logstash_filter_jdbc_static_spark import oracle

        dim_rows = [("a", "n1"), ("a", "n2")]
        lookup = {
            "id": "hit",
            "query": "SELECT name FROM hosts WHERE key = :k "
                     "ORDER BY name OFFSET 5 ROWS",
            "parameters": {"k": "k"},
            "default_hash": {"name": "dflt"},
            "tag_on_default_use": ["used_default"],
        }
        spec = PipelineSpec(lookups=[dict(lookup)])
        dim = spark.createDataFrame(dim_rows, "key string, name string")
        out = LookupEnricher(spec, {"hosts": dim}, **kw).apply(
            spark.createDataFrame(
                [("c", 1, "a")], "conv_id string, turn_idx int, k string"
            )
        )
        (r,) = out.collect()
        assert [x["name"] for x in r["hit"]] == ["dflt"]
        assert "used_default" in list(r["tags"])
        event = {"conv_id": "c", "turn_idx": 1, "k": "a"}
        oracle.enhance(
            event,
            PipelineSpec(lookups=[dict(lookup)]),
            {"hosts": [{"key": k, "name": n} for k, n in dim_rows]},
        )
        assert [x["name"] for x in event["hit"]] == ["dflt"]
        assert "used_default" in event["tags"]


class TestGroupByParser:
    def test_group_with_aggregates_parses(self):
        q = parse_lookup_query(
            "SELECT ip, count(*) AS n FROM hosts WHERE tool <= :t GROUP BY ip"
        )
        assert q.group_by == ("ip",)
        assert q.aggregates == (("count", None, "n"),)
        assert q.projection == [("ip", "ip")]

    def test_group_keys_only(self):
        q = parse_lookup_query("SELECT ip FROM hosts WHERE tool = :t GROUP BY ip")
        assert q.group_by == ("ip",) and q.aggregates == ()

    def test_qualified_group_col_stripped(self):
        q = parse_lookup_query(
            "SELECT h.ip FROM hosts h WHERE h.tool = :t GROUP BY h.ip"
        )
        assert q.group_by == ("ip",)

    @pytest.mark.parametrize(
        "bad",
        [
            # projected non-key, non-aggregated column
            "SELECT ip, num FROM hosts GROUP BY ip",
            # (GROUP BY + ORDER BY/LIMIT is accepted since the
            # round-5 grouped-tail widening — TestGroupedTail)
            # SELECT * cannot be grouped
            "SELECT * FROM hosts GROUP BY ip",
            # GROUP not followed by BY
            "SELECT ip FROM hosts GROUP ip",
        ],
    )
    def test_malformed_group_raises(self, bad):
        with pytest.raises(ValidationError):
            parse_lookup_query(bad)

    def test_unknown_group_column_rejected_at_compile(self, spark):
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "hit",
                    "query": "SELECT missing FROM dim WHERE key = :k "
                             "GROUP BY missing",
                    "parameters": {"k": "k"},
                }
            ]
        )
        dim = spark.createDataFrame(DIM_ROWS, DIM_SCHEMA)
        with pytest.raises(ValidationError, match="GROUP BY column"):
            LookupEnricher(spec, {"dim": dim})


@pytest.mark.parametrize("kw", PATH_KWARGS)
class TestGroupByGolden:
    DIM = [
        ("t0", "x", 1),
        ("t0", "x", 2),
        ("t0", "y", 5),
        ("t1", "x", 7),
        ("t1", None, 9),
    ]

    def _run(self, spark, query, facts, **kw):
        spec = PipelineSpec(
            lookups=[{"id": "hit", "query": query, "parameters": {"t": "t"}}]
        )
        dim = spark.createDataFrame(self.DIM, "tool string, cat string, num int")
        out = LookupEnricher(spec, {"hosts": dim}, **kw).apply(
            spark.createDataFrame(facts, "conv_id string, turn_idx int, t string")
        )
        return {
            r["turn_idx"]: (
                None if r["hit"] is None else [tuple(x) for x in r["hit"]]
            )
            for r in out.collect()
        }

    def test_equi_grouped_aggregates(self, spark, kw):
        got = self._run(
            spark,
            "SELECT cat, count(*) AS n, sum(num) AS s FROM hosts "
            "WHERE tool = :t GROUP BY cat",
            [("c", 1, "t0"), ("c", 2, "t1"), ("c", 3, "zz")],
            **kw,
        )
        # NULL group key sorts FIRST (Spark struct ordering); a key
        # miss yields ZERO groups -> []
        assert got == {
            1: [("x", 2, 3), ("y", 1, 5)],
            2: [(None, 1, 9), ("x", 1, 7)],
            3: [],
        }

    def test_theta_grouped(self, spark, kw):
        got = self._run(
            spark,
            "SELECT cat, count(*) AS n FROM hosts WHERE tool LIKE :t GROUP BY cat",
            [("c", 1, "t%"), ("c", 2, "q%")],
            **kw,
        )
        assert got == {
            1: [(None, 1), ("x", 3), ("y", 1)],
            2: [],
        }

    def test_group_keys_only_acts_as_distinct(self, spark, kw):
        got = self._run(
            spark,
            "SELECT cat FROM hosts WHERE tool = :t GROUP BY cat",
            [("c", 1, "t0")],
            **kw,
        )
        assert got == {1: [("x",), ("y",)]}


class TestHavingParser:
    def test_agg_expr_rewritten_to_alias(self):
        q = parse_lookup_query(
            "SELECT cat, count(*) AS n FROM hosts WHERE tool = :t "
            "GROUP BY cat HAVING count(*) > 1"
        )
        ((p,),) = q.having
        assert (p.dim_column, p.op, p.literal) == ("n", ">", 1)

    def test_alias_and_key_predicates_with_param(self):
        q = parse_lookup_query(
            "SELECT cat, count(*) AS n FROM hosts GROUP BY cat "
            "HAVING n >= :min AND cat IS NOT NULL"
        )
        assert [(p.dim_column, p.op) for d in q.having for p in d] == [
            ("n", ">="), ("cat", "is not null"),
        ]

    @pytest.mark.parametrize(
        "bad",
        [
            "SELECT cat FROM hosts HAVING cat = 'x'",             # no GROUP BY
            # aggregate not in the SELECT list
            "SELECT cat, count(*) AS n FROM hosts GROUP BY cat HAVING sum(num) > 3",
            # unknown field
            "SELECT cat, count(*) AS n FROM hosts GROUP BY cat HAVING zz > 3",
            # positional placeholder
            "SELECT cat, count(*) AS n FROM hosts GROUP BY cat HAVING n > ?",
        ],
    )
    def test_malformed_having_raises(self, bad):
        with pytest.raises(ValidationError):
            parse_lookup_query(bad)


@pytest.mark.parametrize("kw", PATH_KWARGS)
class TestHavingGolden:
    def test_having_filters_groups_and_default_fires(self, spark, kw):
        dim = spark.createDataFrame(
            [("t0", "x"), ("t0", "x"), ("t0", "y"), ("t1", "z")],
            "tool string, cat string",
        )
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "hit",
                    "query": "SELECT cat, count(*) AS n FROM hosts "
                             "WHERE tool = :t GROUP BY cat HAVING count(*) > 1",
                    "parameters": {"t": "t"},
                    "default_hash": {"cat": "none"},
                    "tag_on_default_use": ["dflt"],
                }
            ]
        )
        out = LookupEnricher(spec, {"hosts": dim}, **kw).apply(
            spark.createDataFrame(
                [("c", 1, "t0"), ("c", 2, "t1")],
                "conv_id string, turn_idx int, t string",
            )
        )
        got = {
            r["turn_idx"]: (
                [tuple(x) for x in r["hit"]], "dflt" in list(r["tags"])
            )
            for r in out.collect()
        }
        # t0: only cat=x survives HAVING; t1: its one group is filtered
        # out -> empty post-HAVING payload -> default fires (Derby
        # returns the post-HAVING result set)
        assert got == {
            1: ([("x", 2)], False),
            2: ([("none", None)], True),
        }


class TestHavingReviewRegressions:
    def test_qualified_aggregate_resolves_under_group_by(self, spark):
        q = parse_lookup_query(
            "SELECT h.cat, sum(h.num) AS s FROM hosts h "
            "WHERE h.tool = :t GROUP BY h.cat"
        )
        assert q.aggregates == (("sum", "num", "s"),)
        dim = spark.createDataFrame(
            [("t0", "x", 3), ("t0", "x", 4)], "tool string, cat string, num int"
        )
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "hit",
                    "query": "SELECT h.cat, sum(h.num) AS s FROM hosts h "
                             "WHERE h.tool = :t GROUP BY h.cat",
                    "parameters": {"t": "t"},
                }
            ]
        )
        out = LookupEnricher(spec, {"hosts": dim}).apply(
            spark.createDataFrame(
                [("c", 1, "t0")], "conv_id string, turn_idx int, t string"
            )
        )
        assert [tuple(x) for x in out.collect()[0]["hit"]] == [("x", 7)]
        from logstash_filter_jdbc_static_spark import oracle

        event = {"conv_id": "c", "turn_idx": 1, "t": "t0"}
        oracle.enhance(
            event, spec,
            {"hosts": [{"tool": "t0", "cat": "x", "num": 3},
                       {"tool": "t0", "cat": "x", "num": 4}]},
        )
        assert event["hit"] == [{"cat": "x", "s": 7}]

    def test_oracle_join_group_mixed_spellings(self):
        from logstash_filter_jdbc_static_spark import oracle

        spec = PipelineSpec(
            lookups=[
                {
                    "id": "x",
                    "query": (
                        "SELECT s.name, count(*) AS n FROM servers s "
                        "JOIN owners o ON o.ip = s.ip WHERE o.team = :t "
                        "GROUP BY name"
                    ),
                    "parameters": {"t": "t"},
                }
            ]
        )
        event = {"conv_id": "c", "turn_idx": 1, "t": "a"}
        oracle.enhance(
            event, spec,
            {
                "servers": [{"ip": "1", "name": "n1"}, {"ip": "2", "name": "n1"}],
                "owners": [{"ip": "1", "team": "a"}, {"ip": "2", "team": "a"}],
            },
        )
        assert event["x"] == [{"name": "n1", "n": 2}]

    def test_having_whitespace_and_qualifier_spellings_match(self):
        # token-level rewrite: `sum( hosts.num )` in HAVING resolves
        # against `sum(num)` in SELECT (round-3 verdict #3)
        q = parse_lookup_query(
            "SELECT cat, sum(num) AS total FROM hosts GROUP BY cat "
            "HAVING sum( hosts.num ) > 3"
        )
        ((p,),) = q.having
        assert (p.dim_column, p.op, p.literal) == ("total", ">", 3)

    def test_having_alias_qualifier_spelling_matches(self):
        q = parse_lookup_query(
            "SELECT h.cat, count( * ) AS n FROM hosts h GROUP BY h.cat "
            "HAVING count(*) >= 2 AND h.cat <> 'z'"
        )
        assert [(p.dim_column, p.op) for d in q.having for p in d] == [
            ("n", ">="), ("cat", "<>"),
        ]

    def test_having_count_distinct_spelling_matches(self):
        q = parse_lookup_query(
            "SELECT cat, count(distinct num) AS u FROM hosts GROUP BY cat "
            "HAVING count( DISTINCT hosts.num ) > 1"
        )
        ((p,),) = q.having
        assert (p.dim_column, p.op, p.literal) == ("u", ">", 1)

    def test_having_checksum_not_mangled(self):
        # `checksum(` must not be rewritten via its `sum(` substring
        # (round-3 ADVICE #3); it fails as an unknown payload field /
        # unsupported shape, never as a mangled alias
        with pytest.raises(ValidationError) as ei:
            parse_lookup_query(
                "SELECT cat, sum(num) AS total FROM hosts GROUP BY cat "
                "HAVING checksum(num) > 3"
            )
        assert "checktotal" not in str(ei.value)

    def test_having_unselected_agg_points_at_select_list(self):
        with pytest.raises(ValidationError, match="not in\\s+the SELECT list"):
            parse_lookup_query(
                "SELECT cat, count(*) AS n FROM hosts GROUP BY cat "
                "HAVING avg(num) > 3"
            )

    def test_having_string_literal_not_rewritten(self):
        q = parse_lookup_query(
            "SELECT cat, count(*) AS n FROM hosts GROUP BY cat "
            "HAVING cat = 'count(*)'"
        )
        ((p,),) = q.having
        assert (p.dim_column, p.literal) == ("cat", "count(*)")

    def test_having_then_order_names_the_right_clause(self):
        # round-5 latest: this shape is ACCEPTED (grouped top-N tail);
        # the regression guarded here is clause ROUTING — the ORDER BY
        # after HAVING must land in the tail (resolved to the projected
        # group key) with the HAVING filter intact, not be swallowed
        # into the HAVING comparand
        q = parse_lookup_query(
            "SELECT cat, count(*) AS n FROM hosts WHERE tool = :t "
            "GROUP BY cat HAVING count(*) > 1 ORDER BY cat"
        )
        assert q.order_by == (("cat", True),)
        assert q.having and q.group_by == ("cat",)

    def test_having_param_not_in_probe_tuple(self, spark):
        """A HAVING-only :param must not widen the map-probe's distinct
        tuple key — the filter runs fact-side after the map-back."""
        dim = spark.createDataFrame(
            [("t0", "x"), ("t0", "x"), ("t0", "y")], "tool string, cat string"
        )
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "hit",
                    "query": "SELECT cat, count(*) AS n FROM hosts "
                             "WHERE tool LIKE :t GROUP BY cat HAVING n >= :min",
                    "parameters": {"t": "t", "min": "min"},
                }
            ]
        )
        fact = spark.createDataFrame(
            [("c", 1, "t%", 1), ("c", 2, "t%", 2), ("c", 3, "q%", 1)],
            "conv_id string, turn_idx int, t string, min int",
        )
        out = LookupEnricher(spec, {"hosts": dim}).apply(fact)
        plan = out._jdf.queryExecution().analyzed().toString()
        assert "__fk_hit_0" in plan
        assert "__fk_hit_1" not in plan, "HAVING param leaked into the probe tuple"
        got = {
            r["turn_idx"]: [tuple(x) for x in (r["hit"] or [])]
            for r in out.collect()
        }
        # same WHERE tuple (t%), different :min per row -> different filters
        assert got == {1: [("x", 2), ("y", 1)], 2: [("x", 2)], 3: []}


class TestRound5ConfigEndToEnd:
    """A user-facing JSON config using the round-5 SQL surface
    (examples/pipeline_round5_sql.json: derived tables, VALUES, EXCEPT,
    inequality-correlated subqueries) compiles through
    PipelineSpec.from_json and enriches correctly — validated against
    the row-at-a-time oracle, not hand-written expectations."""

    def test_example_config_runs_and_matches_oracle(self, spark):
        import os

        from logstash_filter_jdbc_static_spark import oracle
        from logstash_filter_jdbc_static_spark.sources.transcripts import (
            SERVERS_ROWS,
        )

        cfg = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "examples", "pipeline_round5_sql.json",
        )
        spec = PipelineSpec.from_json(cfg)
        spec2 = PipelineSpec.from_json(cfg)

        fact_schema = T.StructType(
            [
                T.StructField("conv_id", T.StringType(), False),
                T.StructField("turn_idx", T.IntegerType(), False),
                T.StructField("from_ip", T.StringType(), True),
                T.StructField("tool", T.StringType(), True),
            ]
        )
        ips = [r[0] for r in SERVERS_ROWS]
        facts = [
            ("c", 1, ips[0], "tool_0"),
            ("c", 2, ips[-1], "tool_1"),
            ("c", 3, "9.9.9.9", "tool_9"),
            ("c", 4, None, None),
        ]
        dims = {
            "servers": spark.createDataFrame(
                SERVERS_ROWS, "ip string, name string, location string"
            ),
        }
        out = LookupEnricher(spec, dims).apply(
            spark.createDataFrame(facts, fact_schema)
        )
        targets = (
            "server_derived", "not_a_location", "mixed_multiset",
            "tool_tier", "ip_rank", "at_least_mine",
            # round-5 final: theta params, nested params, DISTINCT
            # aggregates + mixed HAVING from plain JSON config
            "cheaper_than_my_threshold", "nested_param_rank",
            "distinct_rollup",
        )

        def norm(v):
            if v is None:
                return None
            return sorted(
                tuple(sorted(d.asDict().items() if hasattr(d, "asDict")
                             else d.items()))
                for d in v
            )

        got = {
            r["turn_idx"]: tuple(norm(r[t]) for t in targets)
            + (sorted(r["tags"]), r["matched"])
            for r in out.collect()
        }
        tables = {
            "servers": [
                dict(zip(("ip", "name", "location"), r)) for r in SERVERS_ROWS
            ]
        }
        for conv_id, turn_idx, from_ip, tool in facts:
            ev = {"conv_id": conv_id, "turn_idx": turn_idx}
            if from_ip is not None:
                ev["from_ip"] = from_ip
            if tool is not None:
                ev["tool"] = tool
            oracle.enhance(ev, spec2, tables)
            exp = tuple(norm(ev.get(t)) for t in targets) + (
                sorted(ev["tags"]), ev["matched"],
            )
            assert got[turn_idx] == exp, (turn_idx, got[turn_idx], exp)


class TestLikeEscape:
    """``[NOT] LIKE ... ESCAPE 'c'`` (round-5 latest, Derby-legal —
    pinned natively in test_jdbc_derby.py): escaped ``%``/``_``/escape
    chars match literally. Compiled by hiding escaped occurrences
    behind NUL sentinels before the wildcard rewrite; the row oracle
    translates with an escape-aware scanner — every run cross-checks
    both."""

    ROWS = [
        ("k1", "100%"), ("k1", "100x"), ("k2", "a_b"),
        ("k2", "axb"), ("k3", "e!e"), ("k3", "!raw"),
    ]

    def _run(self, spark, query, kw=None):
        from logstash_filter_jdbc_static_spark import oracle

        dims = {
            "s": spark.createDataFrame(self.ROWS, "ip string, v string")
        }
        tables = {"s": [{"ip": i, "v": v} for i, v in self.ROWS]}
        lookup = {"id": "u", "query": query, "parameters": {"ip": "ip"}}
        facts = spark.createDataFrame(
            [("k1",), ("k2",), ("k3",)], "ip: string"
        )
        out = LookupEnricher(
            PipelineSpec(lookups=[dict(lookup)]), dims, **(kw or {})
        ).apply(facts)
        got = {
            r["ip"]: sorted(d["v"] for d in r["u"]) for r in out.collect()
        }
        for ip in ("k1", "k2", "k3"):
            ev = {"ip": ip}
            oracle.enhance(
                ev, PipelineSpec(lookups=[dict(lookup)]), tables
            )
            exp = sorted(d["v"] for d in ev["u"])
            assert got[ip] == exp, (query, ip, got[ip], exp)
        return got

    @pytest.mark.parametrize("kw", PATH_KWARGS)
    def test_escaped_wildcards_match_literally(self, spark, kw):
        # %!%% ESCAPE ! == contains a literal percent
        got = self._run(
            spark,
            "SELECT v AS v FROM s WHERE ip = :ip "
            "AND v LIKE '%!%%' ESCAPE '!'",
            kw,
        )
        assert got == {"k1": ["100%"], "k2": [], "k3": []}
        # a!_b ESCAPE ! == the literal string a_b (not a-any-b)
        got = self._run(
            spark,
            "SELECT v AS v FROM s WHERE ip = :ip "
            "AND v LIKE 'a!_b' ESCAPE '!'",
            kw,
        )
        assert got == {"k1": [], "k2": ["a_b"], "k3": []}

    def test_doubled_escape_and_not_like(self, spark):
        # e!!e ESCAPE ! == the literal e!e
        got = self._run(
            spark,
            "SELECT v AS v FROM s WHERE ip = :ip "
            "AND v LIKE 'e!!e' ESCAPE '!'",
        )
        assert got == {"k1": [], "k2": [], "k3": ["e!e"]}
        got = self._run(
            spark,
            "SELECT v AS v FROM s WHERE ip = :ip "
            "AND v NOT LIKE '%!%%' ESCAPE '!'",
        )
        assert got == {
            "k1": ["100x"], "k2": ["a_b", "axb"], "k3": ["!raw", "e!e"],
        }

    def test_param_pattern_with_escape(self, spark):
        # the ESCAPE applies to a BOUND pattern too (regex built at
        # runtime from the param column)
        from logstash_filter_jdbc_static_spark import oracle

        dims = {
            "s": spark.createDataFrame(self.ROWS, "ip string, v string")
        }
        tables = {"s": [{"ip": i, "v": v} for i, v in self.ROWS]}
        lookup = {
            "id": "u",
            "query": "SELECT v AS v FROM s WHERE v LIKE :pat ESCAPE '!'",
            "parameters": {"pat": "pat"},
        }
        facts = spark.createDataFrame(
            [("%!%%",), ("a!_b",), ("e!!e",)], "pat: string"
        )
        out = LookupEnricher(
            PipelineSpec(lookups=[dict(lookup)]), dims
        ).apply(facts)
        got = {
            r["pat"]: sorted(d["v"] for d in r["u"])
            for r in out.collect()
        }
        for pat in ("%!%%", "a!_b", "e!!e"):
            ev = {"pat": pat}
            oracle.enhance(
                ev, PipelineSpec(lookups=[dict(lookup)]), tables
            )
            assert got[pat] == sorted(d["v"] for d in ev["u"])
        assert got["%!%%"] == ["100%"]

    def test_escape_validation(self):
        from logstash_filter_jdbc_static_spark.operators.lookup import (
            parse_lookup_query,
        )

        q = parse_lookup_query(
            "SELECT v FROM s WHERE v LIKE 'x!%' ESCAPE '!'"
        )
        (p,) = q.disjuncts[0]
        assert p.like_escape == "!"
        with pytest.raises(ValidationError, match="single character"):
            parse_lookup_query(
                "SELECT v FROM s WHERE v LIKE 'x' ESCAPE '!!'"
            )
        with pytest.raises(ValidationError, match="single character"):
            parse_lookup_query(
                "SELECT v FROM s WHERE v LIKE 'x' ESCAPE '%'"
            )
