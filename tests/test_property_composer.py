"""Compositional property test: RANDOMLY COMPOSED lookup queries —
predicates drawn from every round-5 feature family (params, param
expressions, uncorrelated / correlated / PARAMETERIZED subqueries,
[NOT] EXISTS incl. multi-inequality and params-only forms, correlated
IN, LIKE/BETWEEN), combined under random AND/OR/NOT trees, then joined
into random set-op chains (mixed joints, ALL variants, parenthesized
groups, trailing tails) — executed by the Spark engine and the
row-at-a-time oracle side by side. The single-feature suites pin each
shape's semantics; this one hunts INTERACTION bugs between them, which
is where a compiler with many special-cased paths actually breaks.

The reference executes any such SQL verbatim against Derby
(lib/logstash/filters/jdbc/lookup.rb:131-147), so every composition
here is a legal config there."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from logstash_filter_jdbc_static_spark import oracle
from logstash_filter_jdbc_static_spark.operators.processor import LookupEnricher
from logstash_filter_jdbc_static_spark.spec import PipelineSpec

# every predicate is boolean over servers(ip, name) with the single
# bound param :ip — composable in any AND/OR/NOT arrangement
PREDICATES = [
    "ip = :ip",
    "ip <= :ip",
    "ip = '' || :ip",  # param expression as the comparand
    "name <> 'v1'",
    "length(name) >= 2",
    "name LIKE 'v%'",
    "ip BETWEEN 'k0' AND :ip",
    "name <= (SELECT max(name) FROM servers)",
    "name <= (SELECT max(s2.name) FROM servers s2 WHERE s2.ip = servers.ip)",
    "ip >= (SELECT min(ip) FROM servers WHERE ip = :ip)",
    "EXISTS (SELECT 1 FROM servers s2 WHERE s2.name = servers.name "
    "AND s2.ip <> 'zz')",
    "NOT EXISTS (SELECT 1 FROM servers s2 WHERE s2.ip > servers.ip "
    "AND s2.name > servers.name)",
    "EXISTS (SELECT 1 FROM servers s2 WHERE s2.ip = :ip)",
    "name IN (SELECT s2.name FROM servers s2 WHERE s2.ip = servers.ip)",
    "name NOT IN (SELECT name FROM servers WHERE ip = 'k1')",
    "0 < (SELECT count(*) FROM servers WHERE ip = :ip)",
    "TRIM(LEADING 'v' FROM name) <> name",
    "name NOT LIKE 'v!_%' ESCAPE '!'",
    "name BETWEEN (SELECT min(name) FROM servers) AND "
    "(SELECT max(name) FROM servers WHERE ip = :ip)",
    "ip IN ('k0', :ip, 'k9')",
    "name IN (SELECT s2.name FROM servers s2 WHERE s2.ip = :ip)",
    "name <= ALL (SELECT s2.name FROM servers s2 WHERE s2.ip = :ip)",
    # round-5 latest: NESTED set subqueries and nested inequality
    # correlations inside another subquery's WHERE
    "ip <= (SELECT max(s2.ip) FROM servers s2 WHERE EXISTS "
    "(SELECT 1 FROM servers s3 WHERE s3.name = s2.name))",
    "length(ip) >= (SELECT count(*) FROM servers s2 WHERE s2.ip IN "
    "(SELECT s3.ip FROM servers s3 WHERE s3.name = s2.name))",
    "ip >= (SELECT min(s2.ip) FROM servers s2 WHERE EXISTS "
    "(SELECT 1 FROM servers s3 WHERE s3.ip < s2.ip))",
    # round-5 final: THETA-parameterized subqueries — non-equality /
    # OR'd / mixed param predicates in the sub-WHERE, built as
    # probe-time distinct-tuple frames
    "name >= (SELECT max(name) FROM servers WHERE ip < :ip)",
    "0 < (SELECT count(*) FROM servers WHERE ip > :ip OR name = 'v1')",
    "name NOT IN (SELECT s2.name FROM servers s2 WHERE s2.ip >= :ip)",
    "EXISTS (SELECT 1 FROM servers s2 WHERE s2.name > s2.ip || :ip)",
    "name > ANY (SELECT s2.name FROM servers s2 WHERE s2.ip <> :ip)",
    # round-5 final: parameterized subqueries NESTED inside another
    # subquery's WHERE (plain inner key + theta inner)
    "name >= (SELECT min(s2.name) FROM servers s2 WHERE s2.ip <= "
    "(SELECT max(s3.ip) FROM servers s3 WHERE s3.ip = :ip))",
    "length(ip) >= (SELECT count(*) FROM servers s2 WHERE s2.name > "
    "(SELECT min(s3.name) FROM servers s3 WHERE s3.ip < :ip))",
]

JOINTS = [
    "UNION", "UNION ALL", "EXCEPT", "EXCEPT ALL",
    "INTERSECT", "INTERSECT ALL",
]

TAG_ROWS = [("k0", "hot"), ("k1", "hot"), ("k1", "cold"), ("k3", "x")]


@st.composite
def where_tree(draw, depth: int = 0):
    """A random boolean tree over the predicate pool, rendered to SQL."""
    if depth >= 2 or draw(st.booleans()):
        leaf = draw(st.sampled_from(PREDICATES))
        if draw(st.integers(0, 3)) == 0 and not leaf.startswith("NOT "):
            return f"NOT ({leaf})"
        return leaf
    op = draw(st.sampled_from(["AND", "OR"]))
    left = draw(where_tree(depth + 1))
    right = draw(where_tree(depth + 1))
    return f"({left}) {op} ({right})"


# alternative branch bodies: JOIN mode (correlations/expressions map
# through the flat rewrite), derived tables (incl. set ops inside),
# and a bare VALUES branch — all projecting one string column so
# set-op alignment always holds
ALT_BRANCHES = [
    "SELECT s.name AS name FROM servers s "
    "JOIN tags g ON s.ip = g.ip WHERE s.ip = :ip",
    "SELECT s.name AS name FROM servers s "
    "LEFT JOIN tags g ON s.ip = g.ip AND g.tag = 'hot' "
    "WHERE s.ip <= :ip AND length(s.name) >= 1",
    "SELECT d.nm AS name FROM "
    "(SELECT ip AS ip2, upper(name) AS nm FROM servers "
    "WHERE name <> 'zz') d WHERE d.ip2 = :ip",
    "SELECT d.nm AS name FROM "
    "(SELECT ip AS ip, name AS nm FROM servers "
    "UNION ALL SELECT ip AS ip, tag AS nm FROM tags "
    "EXCEPT ALL SELECT ip AS ip, tag AS nm FROM tags "
    "WHERE tag = 'hot') d WHERE d.ip = :ip",
    "SELECT v.nm AS name FROM (VALUES ('k1', 'vv'), ('k2', 'ww')) "
    "AS v (ip, nm) WHERE v.ip = :ip",
]


@st.composite
def lookup_query(draw):
    """1-3 SELECT branches over random WHERE trees — or JOIN / derived
    / VALUES bodies — chained with random set-op joints; sometimes an
    explicit parenthesized group and/or a trailing ordered top-N
    tail."""
    n_branches = draw(st.integers(1, 3))
    branches = [
        draw(st.sampled_from(ALT_BRANCHES))
        if draw(st.integers(0, 3)) == 0
        else (
            f"SELECT name AS name FROM servers "
            f"WHERE {draw(where_tree())}"
        )
        for _ in range(n_branches)
    ]
    if n_branches == 1:
        return branches[0]
    joints = [
        draw(st.sampled_from(JOINTS)) for _ in range(n_branches - 1)
    ]
    if n_branches == 3 and draw(st.booleans()):
        # explicit grouping of the first two branches, optionally with
        # the group's own ordered top-N tail (shapes before the joint)
        group = f"({branches[0]} {joints[0]} {branches[1]}"
        if draw(st.booleans()):
            group += " ORDER BY name DESC FETCH FIRST 2 ROWS ONLY"
        group += ")"
        q = f"{group} {joints[1]} {branches[2]}"
    else:
        q = branches[0]
        for j, b in zip(joints, branches[1:]):
            q += f" {j} {b}"
    if draw(st.integers(0, 2)) == 0:
        asc = draw(st.booleans())
        q += f" ORDER BY name {'ASC' if asc else 'DESC'} LIMIT 2"
    return q


# HAVING-side pool: payload fields (nm, n), uncorrelated / correlated
# scalar comparands, and [NOT] EXISTS correlated on the group key
HAVING_PREDICATES = [
    "n >= 1",
    "nm <> 'v1'",
    "n > (SELECT count(*) FROM servers WHERE ip = 'k1')",
    "n >= (SELECT count(*) FROM servers s2 WHERE s2.name = servers.name "
    "AND s2.ip <> 'k9')",
    "EXISTS (SELECT 1 FROM servers s2 WHERE s2.name = servers.name "
    "AND s2.ip = 'k1')",
    "NOT EXISTS (SELECT 1 FROM servers s2 WHERE s2.name = servers.name "
    "AND s2.ip = 'k9')",
    # round-5 latest: correlated / parameterized set subqueries and
    # expression LHS in HAVING
    "nm IN (SELECT s2.name FROM servers s2 "
    "WHERE s2.name <= servers.name)",
    "nm >= ALL (SELECT s2.name FROM servers s2 "
    "WHERE s2.name = servers.name)",
    "nm NOT IN (SELECT s2.name FROM servers s2 WHERE s2.ip = :ip)",
    "EXISTS (SELECT 1 FROM servers s2 WHERE s2.ip = :ip)",
    "n * 2 >= length(nm) - 1",
    "length(nm) + n > 2",
    # round-5 final: THETA-parameterized shapes in HAVING — the
    # hidden-carrier overlay over probe-time distinct-tuple frames
    "n >= (SELECT count(*) FROM servers s2 WHERE s2.ip > :ip)",
    # round-5 final: mixed alias+param comparand (group row supplies
    # the alias, the event the param — both scopes on one fact row)
    "nm > substr(nm, 1, 1) || :ip",
    "n >= length(nm || :ip) - 3",
    # round-5 final: param-bearing HAVING LHS expressions
    "n * length(:ip) >= n",
    "nm || :ip <> 'v9k9'",
    "nm NOT IN (SELECT s2.name FROM servers s2 WHERE s2.ip >= :ip)",
    "EXISTS (SELECT 1 FROM servers s2 WHERE s2.ip > :ip "
    "OR s2.name = 'v1')",
]


@st.composite
def grouped_query(draw):
    """A grouped aggregate lookup with a random WHERE tree, a random
    HAVING conjunction over the pool, and sometimes the grouped
    ordered top-N tail."""
    q = (
        f"SELECT name AS nm, count(*) AS n FROM servers "
        f"WHERE {draw(where_tree())} GROUP BY name"
    )
    hs = draw(st.lists(st.sampled_from(HAVING_PREDICATES), max_size=2))
    if hs:
        q += " HAVING " + " AND ".join(hs)
    if draw(st.booleans()):
        q += " ORDER BY n DESC, nm FETCH FIRST 2 ROWS ONLY"
    return q


fact_ips = st.lists(
    st.one_of(st.sampled_from(["k0", "k1", "k2", "k9"]), st.none()),
    min_size=1,
    max_size=4,
)
dim_rows = st.lists(
    st.tuples(
        st.sampled_from(["k0", "k1", "k2", "k3"]),
        st.sampled_from(["v1", "v2", "w1", "x"]),
    ),
    min_size=0,
    max_size=8,
)


@pytest.mark.slow
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    query=lookup_query(),
    ips=fact_ips,
    rows=dim_rows,
    default=st.booleans(),
)
def test_composed_queries_match_row_oracle(
    spark, query, ips, rows, default
):
    lookup: dict = {
        "id": "server",
        "query": query,
        "parameters": {"ip": "ip"},
    }
    if default:
        lookup["default_hash"] = {"name": "dflt"}
    dims = {
        "servers": spark.createDataFrame(
            rows or [("zz", "zz")], "ip string, name string"
        ),
        "tags": spark.createDataFrame(TAG_ROWS, "ip string, tag string"),
    }
    tables = {
        "servers": [
            {"ip": i, "name": n} for i, n in (rows or [("zz", "zz")])
        ],
        "tags": [{"ip": i, "tag": t} for i, t in TAG_ROWS],
    }
    facts = spark.createDataFrame(
        [(f"c{i}", i, ip) for i, ip in enumerate(ips)],
        "conv_id string, turn_idx int, ip string",
    )
    spec = PipelineSpec(lookups=[dict(lookup)])
    out = LookupEnricher(spec, dims).apply(facts)
    got = {
        r["turn_idx"]: (
            None
            if r["server"] is None
            else [tuple(d.asDict().values()) for d in r["server"]],
            r["matched"],
        )
        for r in out.collect()
    }
    for i, ip in enumerate(ips):
        ev = {"conv_id": f"c{i}", "turn_idx": i}
        if ip is not None:
            ev["ip"] = ip
        oracle.enhance(ev, PipelineSpec(lookups=[dict(lookup)]), tables)
        exp = (
            None
            if ev.get("server") is None
            else [tuple(d.values()) for d in ev["server"]],
            ev["matched"],
        )
        assert got[i] == exp, (
            f"turn {i} (ip={ip!r}):\n  query: {query}\n"
            f"  spark:  {got[i]}\n  oracle: {exp}"
        )


@pytest.mark.slow
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    query=grouped_query(),
    ips=fact_ips,
    rows=dim_rows,
    default=st.booleans(),
)
def test_composed_grouped_queries_match_row_oracle(
    spark, query, ips, rows, default
):
    lookup: dict = {
        "id": "g",
        "query": query,
        "parameters": {"ip": "ip"},
    }
    if default:
        lookup["default_hash"] = {"nm": "dflt", "n": -1}
    dims = {
        "servers": spark.createDataFrame(
            rows or [("zz", "zz")], "ip string, name string"
        )
    }
    tables = {
        "servers": [
            {"ip": i, "name": n} for i, n in (rows or [("zz", "zz")])
        ]
    }
    facts = spark.createDataFrame(
        [(f"c{i}", i, ip) for i, ip in enumerate(ips)],
        "conv_id string, turn_idx int, ip string",
    )
    spec = PipelineSpec(lookups=[dict(lookup)])
    out = LookupEnricher(spec, dims).apply(facts)
    got = {
        r["turn_idx"]: (
            None
            if r["g"] is None
            else [tuple(d.asDict().values()) for d in r["g"]],
            r["matched"],
        )
        for r in out.collect()
    }
    for i, ip in enumerate(ips):
        ev = {"conv_id": f"c{i}", "turn_idx": i}
        if ip is not None:
            ev["ip"] = ip
        oracle.enhance(ev, PipelineSpec(lookups=[dict(lookup)]), tables)
        exp = (
            None
            if ev.get("g") is None
            else [tuple(d.values()) for d in ev["g"]],
            ev["matched"],
        )
        assert got[i] == exp, (
            f"turn {i} (ip={ip!r}):\n  query: {query}\n"
            f"  spark:  {got[i]}\n  oracle: {exp}"
        )
