"""Property-based equivalence: the set-oriented Spark enricher vs the
row-at-a-time pure-Python oracle (oracle.py), over randomized facts,
dims and lookup specs (hypothesis). This is the reference's per-event
semantics checked against our whole-table plan on arbitrary inputs."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from logstash_filter_jdbc_static_spark import oracle
from logstash_filter_jdbc_static_spark.operators.processor import LookupEnricher
from logstash_filter_jdbc_static_spark.spec import PipelineSpec

KEYS = ["k1", "k2", "k3", None]
VALS = ["v1", "v2", "v3"]

FACT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("ip", T.StringType(), True),
    ]
)
DIM_SCHEMA = T.StructType(
    [
        T.StructField("ip", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
    ]
)

fact_rows = st.lists(
    st.tuples(st.sampled_from(KEYS)), min_size=1, max_size=12
)
dim_rows = st.lists(
    st.tuples(st.sampled_from([k for k in KEYS if k]), st.sampled_from(VALS)),
    min_size=0,
    max_size=8,
)
use_default = st.booleans()
use_prepared = st.booleans()
use_like = st.booleans()


@pytest.mark.slow
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(facts=fact_rows, dims=dim_rows, default=use_default,
       prepared=use_prepared, like=use_like)
def test_spark_matches_row_at_a_time_oracle(
    spark, facts, dims, default, prepared, like
):
    op = "LIKE" if like else "="
    lookup: dict = {"id": "server"}
    if prepared:
        lookup["query"] = f"SELECT name FROM servers WHERE ip {op} ?"
        lookup["prepared_parameters"] = ["ip"]
    else:
        lookup["query"] = f"SELECT name FROM servers WHERE ip {op} :ip"
        lookup["parameters"] = {"ip": "ip"}
    if default:
        lookup["default_hash"] = {"name": "dflt"}
    spec = PipelineSpec(lookups=[lookup])
    spec2 = PipelineSpec(lookups=[dict(lookup)])

    fact_data = [(f"c{i}", i, k[0]) for i, k in enumerate(facts)]
    fact_df = spark.createDataFrame(fact_data, FACT_SCHEMA)
    dim_df = spark.createDataFrame(dims, DIM_SCHEMA)

    enricher = LookupEnricher(spec, {"servers": dim_df})
    got = {
        r["turn_idx"]: (
            None if r["server"] is None else [d.asDict() for d in r["server"]],
            list(r["tags"]),
            r["matched"],
        )
        for r in enricher.apply(fact_df).collect()
    }

    tables = {"servers": [{"ip": ip, "name": nm} for ip, nm in dims]}
    exp = {}
    for conv_id, turn_idx, ip in fact_data:
        event = {"conv_id": conv_id, "turn_idx": turn_idx}
        if ip is not None:
            event["ip"] = ip
        oracle.enhance(event, spec2, tables)
        exp[turn_idx] = (event.get("server"), event["tags"], event["matched"])

    assert got == exp


# Widened WHERE surface (round-2 verdict #1): randomized facts/dims
# against each new shape — Spark vs the row-at-a-time oracle.
WIDE_TEMPLATES = [
    "ip = :ip OR name = 'v1'",
    "ip IN (:ip, 'k2')",
    "ip NOT IN (:ip, 'k9')",
    "ip BETWEEN :ip AND 'k3'",
    "ip NOT BETWEEN 'k2' AND :ip",
    "ip IS NOT NULL AND name NOT LIKE :ip",
    "(ip = :ip OR name LIKE :ip) AND ip IS NOT NULL",
    "trim(ip) = :ip OR lower(name) = 'v1'",
    # 2^7 = 128 disjuncts > _MAX_DISJUNCTS: exercises the DNF-overflow
    # fallback that evaluates the un-normalized tree on the theta paths
    " AND ".join(f"(ip = :ip OR name <> 'w{i}')" for i in range(7)),
    # round-4: static dim-side column/expression comparands — both
    # operands come from the dim row, riding every physical path
    "ip = name",
    "ip < name OR ip = :ip",
    "ip LIKE name OR ip = :ip",
    "substr(name, 2, 1) = substr(ip, 2, 1) AND ip = :ip",
    "ip NOT BETWEEN name AND 'zz' AND ip IS NOT NULL",
    "ip IN (name, :ip)",
    # round-4: uncorrelated scalar subqueries, resolved once per
    # compile against the dim snapshot
    "ip >= (SELECT min(ip) FROM servers) AND ip = :ip",
    "length(ip) <= (SELECT count(*) FROM servers WHERE name <> 'v1')",
    "ip = :ip AND length(name) = (SELECT max(length(name)) FROM servers)",
    # round-4: CORRELATED subqueries (same-table via alias; count-0
    # semantics on empty correlated groups)
    "ip = :ip AND ip >= (SELECT min(s2.ip) FROM servers s2 "
    "WHERE s2.name = servers.name)",
    "length(ip) >= (SELECT count(*) FROM servers s2 "
    "WHERE s2.name = servers.name AND s2.ip <> 'k9')",
    # round-4: row-set [NOT] IN subqueries (incl. the sometimes-empty
    # set -> IN () FALSE / NOT IN () TRUE)
    "ip IN (SELECT ip FROM servers WHERE name = 'v1') OR ip = :ip",
    "ip = :ip AND ip NOT IN (SELECT ip FROM servers WHERE name = 'v9')",
    # round-5 late: INEQUALITY correlations in scalar subqueries —
    # aggregated per distinct outer correlation tuple
    "length(ip) > (SELECT count(*) FROM servers s2 "
    "WHERE s2.ip < servers.ip)",
    "ip = :ip AND length(name) >= (SELECT count(*) FROM servers s2 "
    "WHERE s2.name = servers.name AND s2.ip <= servers.ip)",
    "ip >= (SELECT max(s2.ip) FROM servers s2 "
    "WHERE s2.ip < servers.ip) AND ip = :ip",
    # round-5 latest: quantified subquery comparisons — ALL/ANY/SOME
    # with the empty-set, NULL-value and correlated-group corners
    "ip = :ip AND ip >= ALL (SELECT ip FROM servers WHERE name = 'v1')",
    "ip < ANY (SELECT ip FROM servers WHERE name <> 'v2') OR ip = :ip",
    "ip = ANY (SELECT ip FROM servers WHERE name = 'v9') OR ip = :ip",
    "ip = :ip AND NOT ip < ALL (SELECT ip FROM servers WHERE name = 'v1')",
    "ip <= ALL (SELECT s2.ip FROM servers s2 "
    "WHERE s2.name = servers.name) AND ip = :ip",
    "ip <> ALL (SELECT s2.ip FROM servers s2 "
    "WHERE s2.name = servers.name AND s2.ip < 'k3') OR ip = :ip",
    # round-5 latest: NESTED correlated scalar subqueries (the inner
    # one correlates to the ENCLOSING subquery's relation)
    "ip = :ip AND length(ip) > (SELECT count(*) FROM servers s2 "
    "WHERE s2.name = servers.name AND s2.ip <= (SELECT max(s3.ip) "
    "FROM servers s3 WHERE s3.name = s2.name))",
    "EXISTS (SELECT 1 FROM servers s2 WHERE s2.name = servers.name "
    "AND length(s2.ip) >= (SELECT min(length(s3.ip)) FROM servers s3 "
    "WHERE s3.name = s2.name)) AND ip = :ip",
    # round-5 latest: EXPRESSION correlations — sub-side computed,
    # sub-side single-func, outer-side expression, and both at once
    "ip = :ip AND length(ip) >= (SELECT count(*) FROM servers s2 "
    "WHERE upper(s2.name) = upper(servers.name))",
    "length(name) > (SELECT count(*) FROM servers s2 "
    "WHERE s2.ip = substr(servers.ip, 1, 2)) OR ip = :ip",
    "ip = :ip AND EXISTS (SELECT 1 FROM servers s2 "
    "WHERE s2.name = lower(servers.name) AND s2.ip <> 'k9')",
    "ip IN (SELECT s2.ip FROM servers s2 "
    "WHERE substr(s2.name, 1, 1) = substr(servers.name, 1, 1)) "
    "OR ip = :ip",
    # round-5 latest: Derby conversion functions (function-spelled
    # CASTs), dim-side and folded-constant
    "VARCHAR(length(name)) = '2' OR ip = :ip",
    "length(ip) >= INTEGER('2') AND ip = :ip",
    # round-5 latest: param EXPRESSIONS on the predicate rhs — over
    # params + literals only, compiled fact-side per event (incl. as
    # the equi KEY, as a computed LIKE pattern, and in IN/BETWEEN)
    "ip = :ip || ''",
    "name LIKE :ip || '%' OR ip = :ip",
    "ip BETWEEN substr(:ip, 1, 1) AND :ip || 'z'",
    "ip IN (:ip || '', upper(:ip))",
    "ip >= lower(:ip) AND ip = :ip",
    # round-5 latest: MIXED dim+param expressions on the rhs — dim
    # columns and params in ONE expression, evaluated inside the theta
    # probe (incl. as a LIKE pattern, an IN item, a BETWEEN bound)
    "ip = substr(name, 1, 1) || substr(:ip, 2, 2)",
    "length(ip) > length(name) - length(:ip) OR ip = :ip",
    "name LIKE substr(name, 1, 1) || substr(:ip, 2, 1) || '%' OR ip = :ip",
    "ip IN (lower(name), :ip || substr(name, 9, 1))",
    "ip BETWEEN substr(name, 2, 1) AND :ip || name",
    "name = CASE WHEN ip = :ip THEN 'v1' ELSE name END AND ip IS NOT NULL",
    # round-5 latest: INEQUALITY correlations in [NOT] IN / quantified
    # set subqueries — value sets per distinct outer correlation tuple
    # (incl. the empty-set, NULL-in-set and mixed eq+ineq corners)
    "ip IN (SELECT s2.ip FROM servers s2 WHERE s2.name < servers.name) "
    "OR ip = :ip",
    "ip = :ip AND name NOT IN (SELECT s2.name FROM servers s2 "
    "WHERE s2.ip < servers.ip)",
    "ip >= ALL (SELECT s2.ip FROM servers s2 "
    "WHERE s2.name = servers.name AND s2.ip <= servers.ip) AND ip = :ip",
    "ip < ANY (SELECT s2.ip FROM servers s2 "
    "WHERE s2.ip > servers.ip) OR ip = :ip",
    # round-5 latest: NESTED set subqueries — EXISTS / correlated IN /
    # quantified inside another subquery's WHERE (semi-join flag /
    # per-group set columns on the ENCLOSING sub frame)
    "ip = :ip AND ip <= (SELECT max(s2.ip) FROM servers s2 "
    "WHERE EXISTS (SELECT 1 FROM servers s3 WHERE s3.name = s2.name))",
    "length(ip) >= (SELECT count(*) FROM servers s2 "
    "WHERE s2.ip IN (SELECT s3.ip FROM servers s3 "
    "WHERE s3.name = s2.name)) OR ip = :ip",
    "ip = :ip AND ip >= (SELECT min(s2.ip) FROM servers s2 "
    "WHERE NOT EXISTS (SELECT 1 FROM servers s3 "
    "WHERE s3.name = s2.name AND s3.ip < 'k2'))",
    "length(name) > (SELECT count(*) FROM servers s2 "
    "WHERE s2.ip >= ALL (SELECT s3.ip FROM servers s3 "
    "WHERE s3.name = s2.name)) OR ip = :ip",
    # round-5 latest: nested INEQUALITY correlations — per enclosing
    # correlation tuple (scalar / EXISTS / IN flavors)
    "ip = :ip AND ip <= (SELECT max(s2.ip) FROM servers s2 "
    "WHERE s2.ip >= (SELECT min(s3.ip) FROM servers s3 "
    "WHERE s3.ip < s2.ip))",
    "ip = :ip AND ip >= (SELECT min(s2.ip) FROM servers s2 "
    "WHERE EXISTS (SELECT 1 FROM servers s3 "
    "WHERE s3.ip < s2.ip AND s3.name <= s2.name))",
    "length(ip) >= (SELECT count(*) FROM servers s2 "
    "WHERE s2.ip IN (SELECT s3.ip FROM servers s3 "
    "WHERE s3.ip <= s2.ip AND s3.name = s2.name)) OR ip = :ip",
]


@pytest.mark.slow
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    facts=fact_rows,
    dims=dim_rows,
    default=use_default,
    template=st.sampled_from(WIDE_TEMPLATES),
)
def test_widened_where_matches_row_at_a_time_oracle(
    spark, facts, dims, default, template
):
    lookup: dict = {
        "id": "server",
        "query": f"SELECT name FROM servers WHERE {template}",
        "parameters": {"ip": "ip"},
    }
    if default:
        lookup["default_hash"] = {"name": "dflt"}
    spec = PipelineSpec(lookups=[lookup])
    spec2 = PipelineSpec(lookups=[dict(lookup)])

    fact_data = [(f"c{i}", i, k[0]) for i, k in enumerate(facts)]
    fact_df = spark.createDataFrame(fact_data, FACT_SCHEMA)
    dim_df = spark.createDataFrame(dims, DIM_SCHEMA)

    enricher = LookupEnricher(spec, {"servers": dim_df})
    got = {
        r["turn_idx"]: (
            None if r["server"] is None else sorted(
                d["name"] for d in r["server"]
            ),
            list(r["tags"]),
            r["matched"],
        )
        for r in enricher.apply(fact_df).collect()
    }

    tables = {"servers": [{"ip": ip, "name": nm} for ip, nm in dims]}
    exp = {}
    for conv_id, turn_idx, ip in fact_data:
        event = {"conv_id": conv_id, "turn_idx": turn_idx}
        if ip is not None:
            event["ip"] = ip
        oracle.enhance(event, spec2, tables)
        exp[turn_idx] = (
            None if event.get("server") is None else sorted(
                d["name"] for d in event["server"]
            ),
            event["tags"],
            event["matched"],
        )
    assert got == exp


DIM2_SCHEMA = T.StructType(
    [
        T.StructField("tool", T.StringType(), False),
        T.StructField("owner", T.StringType(), False),
    ]
)

suffixes = st.lists(
    st.sampled_from(["1", "2", "3", "x", None]), min_size=1, max_size=10
)
dim_ips = st.lists(
    st.tuples(st.sampled_from(["a1", "b2", "a3", "c1", "d22"]),
              st.sampled_from(VALS)),
    min_size=0, max_size=6,
)
dim_tools = st.lists(
    st.tuples(st.sampled_from(["t1", "t2"]), st.sampled_from(["o1", "o2"])),
    min_size=0, max_size=4,
)
tools = st.lists(st.sampled_from(["t1", "t2", "t9", None]), min_size=1, max_size=10)


@pytest.mark.slow
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(sufs=suffixes, dims=dim_ips, dtools=dim_tools, ftools=tools)
def test_multilookup_sprintf_wildcards_match_oracle(spark, sufs, dims, dtools, ftools):
    """Two chained lookups — a Sprintfier suffix-LIKE ("%%{[ip]}") and a
    plain equi on a second dim — against the row-at-a-time oracle:
    wildcard matching, fan-out payloads, per-lookup tags and the
    all-lookups matched gate on arbitrary inputs."""
    spec_dict = [
        {
            "id": "server",
            "query": "SELECT name FROM servers WHERE ip LIKE :ip",
            "parameters": {"ip": "%%{[ip]}"},
        },
        {
            "id": "toolinfo",
            "query": "SELECT owner FROM tools WHERE tool = :tool",
            "parameters": {"tool": "tool"},
            "default_hash": {"owner": "nobody"},
        },
    ]
    spec = PipelineSpec(lookups=[dict(d) for d in spec_dict])
    spec2 = PipelineSpec(lookups=[dict(d) for d in spec_dict])

    n = max(len(sufs), len(ftools))
    fact_data = [
        (f"c{i}", i, sufs[i % len(sufs)], ftools[i % len(ftools)])
        for i in range(n)
    ]
    fact_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("ip", T.StringType(), True),
            T.StructField("tool", T.StringType(), True),
        ]
    )
    fact_df = spark.createDataFrame(fact_data, fact_schema)
    enricher = LookupEnricher(
        spec,
        {
            "servers": spark.createDataFrame(dims, DIM_SCHEMA),
            "tools": spark.createDataFrame(dtools, DIM2_SCHEMA),
        },
    )
    got = {
        r["turn_idx"]: (
            None if r["server"] is None else sorted(
                d.asDict()["name"] for d in r["server"]
            ),
            None if r["toolinfo"] is None else sorted(
                d.asDict()["owner"] for d in r["toolinfo"]
            ),
            sorted(r["tags"]),
            r["matched"],
        )
        for r in enricher.apply(fact_df).collect()
    }

    tables = {
        "servers": [{"ip": ip, "name": nm} for ip, nm in dims],
        "tools": [{"tool": t, "owner": o} for t, o in dtools],
    }
    exp = {}
    for conv_id, turn_idx, ip, tool in fact_data:
        event = {"conv_id": conv_id, "turn_idx": turn_idx}
        if ip is not None:
            event["ip"] = ip
        if tool is not None:
            event["tool"] = tool
        oracle.enhance(event, spec2, tables)
        exp[turn_idx] = (
            None if event.get("server") is None else sorted(
                d["name"] for d in event["server"]
            ),
            None if event.get("toolinfo") is None else sorted(
                d["owner"] for d in event["toolinfo"]
            ),
            sorted(event["tags"]),
            event["matched"],
        )
    assert got == exp


class TestOracleNegatedCoercion:
    """Failed numeric-string coercion must stay NULL through negated ops
    (<>, NOT IN, NOT BETWEEN) — Spark's failed cast yields NULL, the
    comparison is NULL, and the dim row is dropped. The old oracle
    collapsed the failed coercion to False and then negated it into a
    spurious match (round-3 review finding)."""

    def _run(self, where, event_fields, dim_rows):
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "x",
                    "query": f"SELECT name FROM servers WHERE {where}",
                    "parameters": {k: k for k in event_fields},
                }
            ]
        )
        event = {"conv_id": "c", "turn_idx": 1, **event_fields}
        oracle.enhance(event, spec, {"servers": dim_rows})
        return sorted(r["name"] for r in (event.get("x") or []))

    DIM = [{"ip": "abc", "name": "n1"}, {"ip": "7", "name": "n7"}]

    def test_neq_failed_coercion_is_no_match(self):
        # 'abc' <> 5 is NULL in SQL (cast fails), not TRUE
        assert self._run("ip <> :p", {"p": 5}, self.DIM) == ["n7"]

    def test_neq_real_difference_still_matches(self):
        assert self._run("ip <> :p", {"p": "zzz"}, self.DIM) == ["n1", "n7"]

    def test_not_in_failed_coercion_is_no_match(self):
        assert self._run("ip NOT IN (:p, 99)", {"p": 5}, self.DIM) == ["n7"]

    def test_not_between_failed_coercion_is_no_match(self):
        # both bound comparisons NULL for 'abc' -> predicate NULL -> drop
        assert self._run(
            "ip NOT BETWEEN :lo AND :hi", {"lo": 1, "hi": 9}, self.DIM
        ) == []

    def test_not_between_decided_by_one_bound(self):
        # 'abc' >= 'x' is FALSE (string compare), so NOT BETWEEN is TRUE
        # regardless of the numeric hi comparison being NULL; '7' < 'x'
        # lexically too, so both rows match
        assert self._run(
            "ip NOT BETWEEN :lo AND :hi", {"lo": "x", "hi": 9}, self.DIM
        ) == ["n1", "n7"]


ORDER_TEMPLATES = [
    ("ip = :ip", "ORDER BY name DESC LIMIT 2"),          # equi path
    ("ip LIKE :ip", "ORDER BY name DESC, ip"),
    ("ip <= :ip", "ORDER BY ip DESC FETCH FIRST 3 ROWS ONLY"),
    ("ip BETWEEN :ip AND 'k3'", "LIMIT 1"),              # bare LIMIT
]


@pytest.mark.slow
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    facts=fact_rows,
    dims=dim_rows,
    template=st.sampled_from(ORDER_TEMPLATES),
)
def test_order_limit_matches_row_at_a_time_oracle(
    spark, facts, dims, template
):
    """ORDER BY / LIMIT result order, compared ORDER-SENSITIVELY (lists,
    not sorted sets) between the Spark enricher and the row-at-a-time
    oracle on every physical path."""
    where, tail = template
    lookup = {
        "id": "server",
        "query": f"SELECT name FROM servers WHERE {where} {tail}",
        "parameters": {"ip": "ip"},
    }
    spec = PipelineSpec(lookups=[lookup])
    spec2 = PipelineSpec(lookups=[dict(lookup)])

    fact_data = [(f"c{i}", i, k[0]) for i, k in enumerate(facts)]
    fact_df = spark.createDataFrame(fact_data, FACT_SCHEMA)
    dim_df = spark.createDataFrame(dims, DIM_SCHEMA)

    enricher = LookupEnricher(spec, {"servers": dim_df})
    got = {
        r["turn_idx"]: (
            None if r["server"] is None else [d["name"] for d in r["server"]]
        )
        for r in enricher.apply(fact_df).collect()
    }

    tables = {"servers": [{"ip": ip, "name": nm} for ip, nm in dims]}
    exp = {}
    for conv_id, turn_idx, ip in fact_data:
        event = {"conv_id": conv_id, "turn_idx": turn_idx}
        if ip is not None:
            event["ip"] = ip
        oracle.enhance(event, spec2, tables)
        exp[turn_idx] = (
            None if event.get("server") is None
            else [d["name"] for d in event["server"]]
        )
    assert got == exp


SHAPE_QUERIES = [
    "SELECT DISTINCT name FROM servers WHERE ip LIKE :ip ORDER BY name",
    "SELECT DISTINCT name FROM servers WHERE ip <= :ip",
    "SELECT name FROM servers WHERE ip >= :ip ORDER BY name OFFSET 1 ROWS",
    "SELECT name FROM servers WHERE ip = :ip OR name = 'v2' "
    "ORDER BY name DESC LIMIT 2 OFFSET 1",
    "SELECT count(*) AS n, count(DISTINCT name) AS nd, max(name) AS mx "
    "FROM servers WHERE ip LIKE :ip",
    "SELECT count(*) AS n FROM servers WHERE ip = :ip",
    "SELECT name, count(*) AS n FROM servers WHERE ip <= :ip GROUP BY name",
    "SELECT ip, count(DISTINCT name) AS nd FROM servers WHERE ip LIKE :ip "
    "GROUP BY ip",
    "SELECT name, count(*) AS n FROM servers WHERE ip <= :ip "
    "GROUP BY name HAVING count(*) > 1",
]


@pytest.mark.slow
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    facts=fact_rows,
    dims=dim_rows,
    query=st.sampled_from(SHAPE_QUERIES),
)
def test_result_shapes_match_row_at_a_time_oracle(
    spark, facts, dims, query
):
    """DISTINCT / OFFSET / aggregate result shapes, order-sensitively
    compared between the Spark enricher and the row-at-a-time oracle on
    every physical path. Aggregate rows compare as value tuples."""
    lookup = {"id": "server", "query": query, "parameters": {"ip": "ip"}}
    spec = PipelineSpec(lookups=[lookup])
    spec2 = PipelineSpec(lookups=[dict(lookup)])

    fact_data = [(f"c{i}", i, k[0]) for i, k in enumerate(facts)]
    fact_df = spark.createDataFrame(fact_data, FACT_SCHEMA)
    dim_df = spark.createDataFrame(dims, DIM_SCHEMA)

    enricher = LookupEnricher(spec, {"servers": dim_df})
    got = {
        r["turn_idx"]: (
            None if r["server"] is None else [tuple(d) for d in r["server"]]
        )
        for r in enricher.apply(fact_df).collect()
    }

    tables = {"servers": [{"ip": ip, "name": nm} for ip, nm in dims]}
    exp = {}
    for conv_id, turn_idx, ip in fact_data:
        event = {"conv_id": conv_id, "turn_idx": turn_idx}
        if ip is not None:
            event["ip"] = ip
        oracle.enhance(event, spec2, tables)
        exp[turn_idx] = (
            None if event.get("server") is None
            else [tuple(d.values()) for d in event["server"]]
        )
    assert got == exp


# round-5 late: FULL-QUERY templates — set ops (EXCEPT/INTERSECT,
# parenthesized branches, union-level tails) and derived tables in
# FROM (expressions, aggregates + GROUP BY + static HAVING, joins,
# nesting) — randomized facts/dims, generic payload-dict compare.
# (template, full-coverage default_hash): the reference uses the
# default_hash AS-IS (lookup.rb:239-245) while the typed Spark payload
# NULL-fills unnamed fields, so an oracle-comparable default must name
# every projected field — same convention as the golden suites.
FULLQ_TEMPLATES = [
    ("SELECT name AS name FROM servers WHERE ip = :ip "
     "EXCEPT SELECT name AS name FROM servers WHERE name = 'v1'",
     {"name": "dflt"}),
    ("SELECT name AS name FROM servers WHERE ip = :ip "
     "INTERSECT SELECT name AS name FROM servers WHERE name <> 'v2'",
     {"name": "dflt"}),
    ("(SELECT name AS name FROM servers WHERE ip = :ip) "
     "UNION (SELECT name AS name FROM servers WHERE name = 'v1') "
     "ORDER BY name DESC FETCH FIRST 2 ROWS ONLY",
     {"name": "dflt"}),
    ("SELECT nm AS nm FROM (SELECT ip AS ip2, upper(name) AS nm "
     "FROM servers WHERE name <> 'v9') d WHERE d.ip2 = :ip",
     {"nm": "dflt"}),
    # round-5 latest: set ops INSIDE a derived table — mixed joints
    # under SQL precedence (INTERSECT binds tighter) and the EXCEPT
    # ALL multiset variant
    ("SELECT d.nm AS nm FROM (SELECT ip AS ip, name AS nm "
     "FROM servers UNION SELECT ip AS ip, name AS nm FROM servers "
     "WHERE name <> 'v1' INTERSECT SELECT ip AS ip, name AS nm "
     "FROM servers WHERE name <> 'v2') d WHERE d.ip = :ip",
     {"nm": "dflt"}),
    ("SELECT d.nm AS nm FROM (SELECT ip AS ip, name AS nm "
     "FROM servers UNION ALL SELECT ip AS ip, name AS nm FROM servers "
     "EXCEPT ALL SELECT ip AS ip, name AS nm FROM servers "
     "WHERE name = 'v1') d WHERE d.ip = :ip",
     {"nm": "dflt"}),
    ("SELECT c AS c FROM (SELECT ip AS ip, count(*) AS c "
     "FROM servers GROUP BY ip) g WHERE g.ip = :ip",
     {"c": -1}),
    ("SELECT c AS c FROM (SELECT ip AS ip, count(*) AS c "
     "FROM servers GROUP BY ip HAVING count(*) > 1) g WHERE g.ip = :ip",
     {"c": -1}),
    ("SELECT nm AS nm FROM (SELECT ip2 AS ip2, nm AS nm FROM "
     "(SELECT ip AS ip2, name || '!' AS nm FROM servers) i "
     "WHERE i.nm <> 'v1!') o WHERE o.ip2 = :ip",
     {"nm": "dflt"}),
    ("SELECT s.name AS nm, d.c AS c FROM servers s "
     "JOIN (SELECT ip AS ip, count(*) AS c FROM servers GROUP BY ip) d "
     "ON s.ip = d.ip WHERE s.ip = :ip",
     {"nm": "dflt", "c": -1}),
    ("SELECT name AS name FROM servers WHERE ip = :ip "
     "UNION ALL SELECT nm AS nm FROM "
     "(SELECT ip AS ip2, lower(name) AS nm FROM servers) d "
     "WHERE d.ip2 = :ip",
     {"name": "dflt"}),
    # round-5 latest: aggregates / GROUP BY / HAVING / DISTINCT inside
    # UNION branches (each branch is a full query specification, as in
    # Derby); an agg branch with no GROUP BY always yields one row so
    # the default never fires on the first template
    ("SELECT count(*) AS c FROM servers WHERE ip = :ip "
     "UNION ALL SELECT count(*) AS c2 FROM servers WHERE name = 'v1'",
     {"c": -1}),
    ("SELECT name AS nm, count(*) AS n FROM servers WHERE ip <= :ip "
     "GROUP BY name HAVING count(*) > 1 "
     "UNION SELECT name AS x, count(*) AS y FROM servers "
     "WHERE ip = :ip GROUP BY name",
     {"nm": "dflt", "n": -1}),
    ("SELECT DISTINCT name AS name FROM servers WHERE ip LIKE :ip "
     "UNION ALL SELECT name AS name FROM servers WHERE ip = :ip",
     {"name": "dflt"}),
    # round-5 latest: ORDER BY + FETCH/OFFSET over the GROUPED payload
    # (Derby's top-N-per-key); the slice membership is order-dependent,
    # so these validate the payload sort even though norm() re-sorts
    ("SELECT name AS nm, count(*) AS n FROM servers WHERE ip <= :ip "
     "GROUP BY name ORDER BY n DESC, nm FETCH FIRST 2 ROWS ONLY",
     {"nm": "dflt", "n": -1}),
    ("SELECT name AS nm, count(*) AS n FROM servers WHERE ip LIKE :ip "
     "GROUP BY name ORDER BY nm OFFSET 1 ROWS",
     {"nm": "dflt", "n": -1}),
    # OFFSET past the ungrouped aggregate's single row empties the
    # result set, so the default CAN fire on an aggregate lookup
    ("SELECT count(*) AS c FROM servers WHERE ip = :ip "
     "ORDER BY c OFFSET 1 ROWS",
     {"c": -1}),
    # round-5 latest: CORRELATED scalar subqueries as HAVING comparands
    # (correlated column must be a GROUP BY key — Derby's rule)
    ("SELECT name AS nm, count(*) AS n FROM servers WHERE ip <= :ip "
     "GROUP BY name HAVING n >= (SELECT count(*) FROM servers s2 "
     "WHERE s2.name = servers.name AND s2.ip = 'k1')",
     {"nm": "dflt", "n": -1}),
    ("SELECT name AS nm, count(*) AS n FROM servers WHERE ip LIKE :ip "
     "GROUP BY name HAVING n >= (SELECT count(*) FROM servers s2 "
     "WHERE s2.name = servers.name AND s2.ip <> 'k9') "
     "ORDER BY n DESC, nm FETCH FIRST 2 ROWS ONLY",
     {"nm": "dflt", "n": -1}),
    # round-5 latest: correlated [NOT] IN / quantified subqueries in
    # HAVING (per-group set columns ride as hidden max carriers;
    # correlated columns must be GROUP BY keys)
    ("SELECT name AS nm, max(ip) AS mx FROM servers WHERE ip <= :ip "
     "GROUP BY name HAVING mx IN (SELECT s2.ip FROM servers s2 "
     "WHERE s2.name = servers.name)",
     {"nm": "dflt", "mx": "dflt"}),
    ("SELECT name AS nm, min(ip) AS mn FROM servers WHERE ip LIKE :ip "
     "GROUP BY name HAVING mn NOT IN (SELECT s2.ip FROM servers s2 "
     "WHERE s2.name = servers.name AND s2.ip > 'k5')",
     {"nm": "dflt", "mn": "dflt"}),
    ("SELECT name AS nm, max(ip) AS mx FROM servers WHERE ip <= :ip "
     "GROUP BY name HAVING mx >= ALL (SELECT s2.ip FROM servers s2 "
     "WHERE s2.name <= servers.name)",
     {"nm": "dflt", "mx": "dflt"}),
    # round-5 latest: inequality-correlated SCALAR subquery as a
    # HAVING comparand (outer column a GROUP BY key)
    ("SELECT name AS nm, count(*) AS n FROM servers WHERE ip <= :ip "
     "GROUP BY name HAVING n <= (SELECT count(*) FROM servers s2 "
     "WHERE s2.name <= servers.name)",
     {"nm": "dflt", "n": -1}),
    # round-5 latest: expression LEFT-HAND SIDES in HAVING (payload-
    # level expressions over SELECT aliases, both comparison sides)
    ("SELECT name AS nm, count(*) AS n, max(ip) AS mx FROM servers "
     "WHERE ip LIKE :ip GROUP BY name "
     "HAVING n * 2 >= length(mx) - 3 AND length(nm) + n > 2",
     {"nm": "dflt", "n": -1, "mx": "dflt"}),
    # round-5 latest: projection scalar subqueries combined with GROUP
    # BY (the __psq column folds into the grouping; correlation keys
    # must be GROUP BY keys — Derby's projection rule)
    ("SELECT name AS nm, (SELECT max(s2.ip) FROM servers s2 "
     "WHERE s2.name = servers.name) AS mx, count(*) AS n "
     "FROM servers WHERE ip <= :ip GROUP BY name",
     {"nm": "dflt", "mx": "dflt", "n": -1}),
    ("SELECT name AS nm, (SELECT count(*) FROM servers s2 "
     "WHERE s2.ip = 'k1') AS k1s, count(*) AS n "
     "FROM servers WHERE ip LIKE :ip GROUP BY name "
     "ORDER BY n DESC, nm FETCH FIRST 2 ROWS ONLY",
     {"nm": "dflt", "k1s": -1, "n": -1}),
    # round-5 latest: PARENTHESIZED set-op branches carrying their own
    # ORDER BY/FETCH/OFFSET tails (shaped before the set op combines)
    ("(SELECT name AS name FROM servers WHERE ip <= :ip "
     "ORDER BY name DESC FETCH FIRST 2 ROWS ONLY) "
     "UNION ALL (SELECT name AS name FROM servers WHERE ip = :ip "
     "ORDER BY name OFFSET 1 ROWS)",
     {"name": "dflt"}),
    ("(SELECT name AS nm, count(*) AS n FROM servers WHERE ip LIKE :ip "
     "GROUP BY name ORDER BY n DESC, nm FETCH FIRST 1 ROWS ONLY) "
     "UNION (SELECT name AS nm, count(*) AS n FROM servers "
     "WHERE ip = :ip GROUP BY name) "
     "ORDER BY n DESC, nm LIMIT 2",
     {"nm": "dflt", "n": -1}),
    ("(SELECT name AS name FROM servers WHERE ip >= :ip "
     "ORDER BY name FETCH FIRST 2 ROWS ONLY) "
     "EXCEPT SELECT name AS name FROM servers WHERE name = 'v1'",
     {"name": "dflt"}),
    # round-5 latest: TOP-LEVEL multiset ALL variants, mixed joints
    # under SQL precedence (INTERSECT binds tighter, then left-to-
    # right), and parenthesized groups with their own tails — the
    # per-event payload-array fold twin of the derived-table surface
    ("SELECT name AS name FROM servers WHERE ip <= :ip "
     "EXCEPT ALL SELECT name AS name FROM servers WHERE name = 'v1'",
     {"name": "dflt"}),
    ("SELECT name AS name FROM servers WHERE ip <= :ip "
     "INTERSECT ALL SELECT name AS name FROM servers WHERE ip >= :ip",
     {"name": "dflt"}),
    ("SELECT name AS name FROM servers WHERE ip = :ip "
     "UNION ALL SELECT name AS name FROM servers WHERE ip <= :ip "
     "INTERSECT SELECT name AS name FROM servers WHERE name <> 'v1'",
     {"name": "dflt"}),
    ("(SELECT name AS name FROM servers WHERE ip <= :ip "
     "UNION ALL SELECT name AS name FROM servers "
     "ORDER BY name FETCH FIRST 3 ROWS ONLY) "
     "EXCEPT ALL SELECT name AS name FROM servers WHERE name = 'v1'",
     {"name": "dflt"}),
    ("SELECT name AS name FROM servers WHERE ip <= :ip "
     "UNION SELECT name AS name FROM servers WHERE name = 'v1' "
     "UNION ALL SELECT name AS name FROM servers WHERE ip = :ip",
     {"name": "dflt"}),
    # round-5 latest: projection scalar subqueries combined with a
    # GLOBAL aggregate (no GROUP BY) — the subquery becomes a hidden
    # max(__psq) aggregate and the empty-set row carries its literal
    ("SELECT (SELECT max(name) FROM servers) AS mx, count(*) AS n "
     "FROM servers WHERE ip = :ip",
     {"mx": "dflt", "n": -1}),
    ("SELECT count(*) AS n, "
     "(SELECT min(ip) FROM servers WHERE name = 'v1') AS mn "
     "FROM servers WHERE ip = :ip "
     "UNION ALL SELECT count(*) AS n2, "
     "(SELECT max(ip) FROM servers) AS mx2 FROM servers "
     "WHERE name = 'v2'",
     {"n": -1, "mn": "dflt"}),
    ("SELECT (SELECT min(name) FROM servers) AS mn, count(*) AS c "
     "FROM servers WHERE ip = :ip ORDER BY c OFFSET 1 ROWS",
     {"mn": "dflt", "c": -1}),
    # round-5 latest: PARAMETERIZED subqueries — the :param equality
    # inside the sub-WHERE keys a per-event aggregate broadcast-joined
    # onto the fact (Derby re-executes the prepared subquery per
    # event, lookup.rb:131-147)
    ("SELECT name AS name FROM servers WHERE ip >= "
     "(SELECT min(ip) FROM servers WHERE ip = :ip)",
     {"name": "dflt"}),
    ("SELECT name AS name FROM servers WHERE ip = :ip AND name <= "
     "(SELECT max(name) FROM servers WHERE ip = :ip)",
     {"name": "dflt"}),
    ("SELECT name AS name FROM servers WHERE ip = :ip "
     "UNION ALL SELECT name AS name FROM servers WHERE name >= "
     "(SELECT max(name) FROM servers WHERE ip = :ip)",
     {"name": "dflt"}),
    # round-5 latest: SEVERAL inequality correlations (pareto
    # dominance via a per-tuple witness count) in EXISTS and scalar shapes
    ("SELECT name AS name FROM servers WHERE ip <= :ip AND NOT EXISTS "
     "(SELECT 1 FROM servers s2 WHERE s2.ip > servers.ip "
     "AND s2.name > servers.name)",
     {"name": "dflt"}),
    ("SELECT name AS name FROM servers WHERE ip = :ip AND 0 < "
     "(SELECT count(*) FROM servers s2 WHERE s2.ip >= servers.ip "
     "AND s2.name >= servers.name)",
     {"name": "dflt"}),
    # round-5 latest: PARAMETERIZED projection subqueries — the
    # per-event value broadcast-joins onto the fact and overlays the
    # payload field post-stage (typed NULL placeholder on the dim)
    ("SELECT name, (SELECT count(*) FROM servers s2 "
     "WHERE s2.ip = :ip) AS c FROM servers WHERE ip = :ip",
     {"name": "dflt", "c": -1}),
    ("SELECT name, (SELECT min(s2.name) FROM servers s2 "
     "WHERE s2.ip = :ip) AS mn, count(*) AS n "
     "FROM servers WHERE ip >= :ip GROUP BY name",
     {"name": "dflt", "mn": "d2", "n": -1}),
    ("SELECT name, (SELECT max(s2.name) FROM servers s2 "
     "WHERE s2.ip = :ip) AS v FROM servers WHERE ip = :ip "
     "UNION ALL SELECT name AS name, name AS v FROM servers "
     "WHERE name = 'v1'",
     {"name": "dflt", "v": "d2"}),
    # round-5 latest: PARAMETERIZED scalar subquery as a HAVING
    # comparand (hidden overlaid carrier read post-aggregation)
    ("SELECT name, count(*) AS n FROM servers GROUP BY name "
     "HAVING count(*) >= "
     "(SELECT count(*) FROM servers s2 WHERE s2.ip = :ip)",
     {"name": "dflt", "n": -1}),
    # round-5 final: THETA-parameterized subqueries — non-equality
    # param predicates, OR around them, mixed sub-column+param
    # expressions, set/EXISTS/quantified shapes; the frame builds at
    # probe time from the fact's distinct bound tuples
    ("SELECT name AS name FROM servers WHERE name >= "
     "(SELECT max(name) FROM servers WHERE ip < :ip)",
     {"name": "dflt"}),
    ("SELECT name AS name FROM servers WHERE 0 < "
     "(SELECT count(*) FROM servers WHERE ip > :ip OR name = 'v1')",
     {"name": "dflt"}),
    ("SELECT name AS name FROM servers WHERE name NOT IN "
     "(SELECT name FROM servers s2 WHERE s2.ip >= :ip)",
     {"name": "dflt"}),
    ("SELECT name AS name FROM servers WHERE ip = :ip AND EXISTS "
     "(SELECT 1 FROM servers s2 WHERE s2.name > s2.ip || :ip)",
     {"name": "dflt"}),
    ("SELECT name AS name FROM servers WHERE name > ANY "
     "(SELECT name FROM servers s2 WHERE s2.ip <> :ip)",
     {"name": "dflt"}),
    # round-5 final: theta shapes in HAVING comparands and projection
    # subqueries (hidden-carrier overlay; dtype from the builder's
    # schema-only aggregate)
    ("SELECT name, count(*) AS n FROM servers GROUP BY name "
     "HAVING count(*) >= "
     "(SELECT count(*) FROM servers s2 WHERE s2.ip > :ip)",
     {"name": "dflt", "n": -1}),
    ("SELECT name, (SELECT max(s2.name) FROM servers s2 "
     "WHERE s2.ip <> :ip) AS mx FROM servers WHERE ip = :ip",
     {"name": "dflt", "mx": "d2"}),
    ("SELECT count(*) AS n, (SELECT min(s2.name) FROM servers s2 "
     "WHERE s2.ip >= :ip OR s2.name = 'v1') AS mn "
     "FROM servers WHERE ip = :ip",
     {"n": -1, "mn": "dflt"}),
    # round-5 final: PARAMETERIZED subqueries NESTED inside another
    # subquery's WHERE (plain-equality inner + theta inner) — the
    # nested per-tuple value joins onto the distinct-tuple frame
    ("SELECT name AS name FROM servers WHERE name >= "
     "(SELECT min(s2.name) FROM servers s2 WHERE s2.ip <= "
     "(SELECT max(s3.ip) FROM servers s3 WHERE s3.ip = :ip))",
     {"name": "dflt"}),
    ("SELECT name AS name FROM servers WHERE 0 < "
     "(SELECT count(*) FROM servers s2 WHERE length(s2.name) >= "
     "(SELECT count(*) FROM servers s3 WHERE s3.ip < :ip))",
     {"name": "dflt"}),
]


@pytest.mark.slow
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    facts=fact_rows,
    dims=dim_rows,
    default=use_default,
    template=st.sampled_from(FULLQ_TEMPLATES),
)
def test_setops_and_derived_match_row_at_a_time_oracle(
    spark, facts, dims, default, template
):
    template, default_hash = template
    lookup: dict = {
        "id": "server",
        "query": template,
        "parameters": {"ip": "ip"},
    }
    if default:
        lookup["default_hash"] = default_hash
    spec = PipelineSpec(lookups=[lookup])
    spec2 = PipelineSpec(lookups=[dict(lookup)])

    fact_data = [(f"c{i}", i, k[0]) for i, k in enumerate(facts)]
    fact_df = spark.createDataFrame(fact_data, FACT_SCHEMA)
    dim_df = spark.createDataFrame(dims, DIM_SCHEMA)

    enricher = LookupEnricher(spec, {"servers": dim_df})

    def norm(payload):
        if payload is None:
            return None
        # key=repr: a field may hold NULL in one row and a value in
        # another, which plain tuple comparison cannot order
        return sorted(
            (tuple(sorted(d.items())) for d in payload), key=repr
        )

    got = {
        r["turn_idx"]: (
            norm(
                None if r["server"] is None
                else [x.asDict() for x in r["server"]]
            ),
            list(r["tags"]),
            r["matched"],
        )
        for r in enricher.apply(fact_df).collect()
    }

    tables = {"servers": [{"ip": ip, "name": nm} for ip, nm in dims]}
    exp = {}
    for conv_id, turn_idx, ip in fact_data:
        event = {"conv_id": conv_id, "turn_idx": turn_idx}
        if ip is not None:
            event["ip"] = ip
        oracle.enhance(event, spec2, tables)
        exp[turn_idx] = (
            norm(event.get("server")),
            event["tags"],
            event["matched"],
        )
    assert got == exp
