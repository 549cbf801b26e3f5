"""UNION [ALL] lookup queries (round-4): Derby executes them verbatim
per event (lookup.rb:131-147); here each branch compiles as its own
CompiledLookup over its own dim and the combined payload is the
concatenation (ALL) / set-union (plain) of the branch payloads under
the default deterministic sort. Randomized Spark-vs-oracle equivalence
for the single-branch shapes lives in test_property_oracle.py; these
are the union-specific goldens + validation."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from logstash_filter_jdbc_static_spark import oracle
from logstash_filter_jdbc_static_spark.operators.lookup import (
    parse_setop_tree,
)

from plan_conditions import PLAN_CONDITIONS


def split_top_level_union(text):
    """Leaf-splitting shim for the splitter tests below: (leaf texts,
    dedupe-at-root) from the round-5-latest set-op tree parser."""
    leaves, tree = parse_setop_tree(text)
    dedupe = bool(tree and all(
        op == "union" and not all_ for op, all_ in tree.joints
    ))
    return leaves, dedupe
from logstash_filter_jdbc_static_spark.operators.processor import LookupEnricher
from logstash_filter_jdbc_static_spark.spec import PipelineSpec, ValidationError

FACT = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("ip", T.StringType(), True),
    ]
)
DIM = "ip string, name string"
S1 = [("k1", "v1"), ("k2", "k2"), ("k1", "v2")]
S2 = [("k1", "w1"), ("k3", "v1"), ("k1", "v1")]

# Lookup constructor kwargs per case (always empty), one case per
# plan condition (plan_conditions.py).
ENGINES = PLAN_CONDITIONS


class TestSplitter:
    def test_plain_query_is_one_part(self):
        parts, dedupe = split_top_level_union("SELECT a FROM t WHERE x = :x")
        assert len(parts) == 1 and dedupe is False

    def test_union_all_and_plain(self):
        parts, dedupe = split_top_level_union(
            "SELECT a FROM t UNION ALL SELECT a FROM u"
        )
        assert len(parts) == 2 and dedupe is False
        parts, dedupe = split_top_level_union(
            "SELECT a FROM t UNION SELECT a FROM u UNION SELECT a FROM v"
        )
        assert len(parts) == 3 and dedupe is True

    def test_union_inside_string_or_parens_does_not_split(self):
        parts, _ = split_top_level_union(
            "SELECT a FROM t WHERE s = 'x union all y'"
        )
        assert len(parts) == 1
        parts, _ = split_top_level_union(
            "SELECT a FROM t WHERE n = (SELECT count(*) FROM u) "
            "UNION ALL SELECT a FROM v"
        )
        assert len(parts) == 2
        assert "(SELECT count(*) FROM u)" in parts[0]

    def test_mixed_union_kinds_accepted(self):
        # round-5 latest: mixed UNION / UNION ALL is legal SQL — the
        # joints apply node-wise, left-to-right
        leaves, tree = parse_setop_tree(
            "SELECT a FROM t UNION SELECT a FROM u "
            "UNION ALL SELECT a FROM v"
        )
        assert len(leaves) == 3
        assert tree.joints == [("union", False), ("union", True)]


def _run(spark, query, kw, default=None):
    facts = [("c0", 0, "k1"), ("c1", 1, "k2"), ("c2", 2, None), ("c3", 3, "k9")]
    dims = {
        "s1": spark.createDataFrame(S1, DIM),
        "s2": spark.createDataFrame(S2, DIM),
    }
    lookup = {"id": "u", "query": query, "parameters": {"ip": "ip"}}
    if default is not None:
        lookup["default_hash"] = default
    spec = PipelineSpec(lookups=[lookup])
    out = LookupEnricher(spec, dims, **kw).apply(
        spark.createDataFrame(facts, FACT)
    )
    return {
        r["turn_idx"]: (
            None if r["u"] is None else [tuple(d.asDict().values()) for d in r["u"]],
            r["matched"],
        )
        for r in out.collect()
    }


class TestGoldenUnion:
    @pytest.mark.parametrize("kw", ENGINES)
    def test_union_all_concatenates_and_sorts(self, spark, kw):
        got = _run(
            spark,
            "SELECT name FROM s1 WHERE ip = :ip "
            "UNION ALL SELECT name FROM s2 WHERE ip = :ip",
            kw,
        )
        # k1: s1 gives v1,v2; s2 gives w1,v1 -> sorted concat keeps dup v1
        assert got[0] == ([("v1",), ("v1",), ("v2",), ("w1",)], True)
        assert got[1] == ([("k2",)], True)  # only s1 matches k2
        assert got[2] == (None, False)  # invalid param
        assert got[3] == ([], True)  # valid, no match either side

    @pytest.mark.parametrize("kw", ENGINES)
    def test_plain_union_dedupes(self, spark, kw):
        got = _run(
            spark,
            "SELECT name FROM s1 WHERE ip = :ip "
            "UNION SELECT name FROM s2 WHERE ip = :ip",
            kw,
        )
        assert got[0] == ([("v1",), ("v2",), ("w1",)], True)

    @pytest.mark.parametrize("kw", ENGINES)
    def test_positional_alias_alignment(self, spark, kw):
        # branch 2 projects ip under branch 1's alias nm (SQL rule)
        got = _run(
            spark,
            "SELECT name AS nm FROM s1 WHERE ip = :ip "
            "UNION ALL SELECT ip FROM s2 WHERE name = 'v1'",
            kw,
        )
        # k2 matches s1 (k2) plus the static branch (k3, k1 from name=v1)
        assert got[1] == ([("k1",), ("k2",), ("k3",)], True)

    def test_default_fires_only_when_both_branches_empty(self, spark):
        got = _run(
            spark,
            "SELECT name FROM s1 WHERE ip = :ip "
            "UNION ALL SELECT name FROM s2 WHERE ip = :ip",
            {},
            default={"name": "dflt"},
        )
        assert got[3] == ([("dflt",)], True)
        assert got[1] == ([("k2",)], True)

    def test_union_matches_row_oracle_including_join_branch(self, spark):
        t3 = [("k1", "j1"), ("k2", "j2")]
        dims = {
            "s1": spark.createDataFrame(S1, DIM),
            "s2": spark.createDataFrame(S2, DIM),
            "s3": spark.createDataFrame(t3, "ip string, label string"),
        }
        tables = {
            "s1": [{"ip": a, "name": b} for a, b in S1],
            "s2": [{"ip": a, "name": b} for a, b in S2],
            "s3": [{"ip": a, "label": b} for a, b in t3],
        }
        q = (
            "SELECT a.name AS nm FROM s1 a JOIN s3 b ON a.ip = b.ip "
            "WHERE a.ip = :ip "
            "UNION ALL SELECT name FROM s2 WHERE ip = :ip"
        )
        lookup = {"id": "u", "query": q, "parameters": {"ip": "ip"}}
        spec = PipelineSpec(lookups=[lookup])
        spec2 = PipelineSpec(lookups=[dict(lookup)])
        facts = [("c0", 0, "k1"), ("c1", 1, "k3"), ("c2", 2, None)]
        got = {
            r["turn_idx"]: (
                None if r["u"] is None else [d["nm"] for d in r["u"]],
                r["matched"],
            )
            for r in LookupEnricher(spec, dims)
            .apply(spark.createDataFrame(facts, FACT))
            .collect()
        }
        for conv_id, turn_idx, ip in facts:
            event = {"conv_id": conv_id, "turn_idx": turn_idx}
            if ip is not None:
                event["ip"] = ip
            oracle.enhance(event, spec2, tables)
            v = event.get("u")
            exp = (None if v is None else [d["nm"] for d in v], event["matched"])
            assert got[turn_idx] == exp, turn_idx


class TestUnionValidation:
    def _spec(self, query):
        return PipelineSpec(
            lookups=[{"id": "u", "query": query, "parameters": {"ip": "ip"}}]
        )

    def _dims(self, spark):
        return {
            "s1": spark.createDataFrame(S1, DIM),
            "s2": spark.createDataFrame(S2, DIM),
            "nums": spark.createDataFrame([("k1", 5)], "ip string, n int"),
        }

    def test_select_star_branch_rejected(self, spark):
        with pytest.raises(ValidationError, match="SELECT \\*"):
            LookupEnricher(
                self._spec(
                    "SELECT * FROM s1 WHERE ip = :ip "
                    "UNION ALL SELECT * FROM s2"
                ),
                self._dims(spark),
            )

    def test_branch_order_by_rejected(self, spark):
        # Derby itself rejects a BARE ORDER BY inside a branch: the
        # tail after the LAST branch shapes the whole union; a
        # parenthesized branch may carry its own (TestBranchTails)
        with pytest.raises(ValidationError, match="parenthesized"):
            LookupEnricher(
                self._spec(
                    "SELECT name FROM s1 WHERE ip = :ip ORDER BY name "
                    "UNION ALL SELECT name FROM s2"
                ),
                self._dims(spark),
            )

    def test_interleaved_select_list_rejected(self, spark):
        # payload order is group keys then aggregates regardless of
        # SELECT order, so positional alignment can't honor a written
        # order that interleaves them
        with pytest.raises(ValidationError, match="follows an aggregate"):
            LookupEnricher(
                self._spec(
                    "SELECT count(*) AS c, name AS nm FROM s1 "
                    "WHERE ip = :ip GROUP BY name "
                    "UNION ALL SELECT count(*) AS c2, name AS n2 "
                    "FROM s2 GROUP BY name"
                ),
                self._dims(spark),
            )

    def test_arity_mismatch_rejected(self, spark):
        with pytest.raises(ValidationError, match="align positionally"):
            LookupEnricher(
                self._spec(
                    "SELECT name, ip FROM s1 WHERE ip = :ip "
                    "UNION ALL SELECT name FROM s2"
                ),
                self._dims(spark),
            )

    def test_type_mismatch_rejected(self, spark):
        with pytest.raises(ValidationError, match="payload .*type"):
            LookupEnricher(
                self._spec(
                    "SELECT name FROM s1 WHERE ip = :ip "
                    "UNION ALL SELECT n FROM nums"
                ),
                self._dims(spark),
            )


class TestUnionBranchAggregates:
    """Round-5 late: aggregates / GROUP BY / HAVING / DISTINCT inside
    UNION branches — Derby's own branch rules allow them (a query
    expression body is a full <query specification> per branch). An
    aggregate branch with no GROUP BY always contributes its one row
    (SQL aggregates over the empty set), so the union is never empty
    and default_hash never fires. Branch-2+ aliases rename positionally
    to branch 1's (SQL rule) with HAVING references remapped through
    the rename."""

    _S1 = [("k1", "v1", 3), ("k2", "k2", 5), ("k1", "v2", 7)]
    _S2 = [("k1", "w1", 1), ("k3", "v1", 2), ("k1", "v1", 9)]
    _DIM = "ip string, name string, n int"

    def _dims(self, spark):
        return {
            "s1": spark.createDataFrame(self._S1, self._DIM),
            "s2": spark.createDataFrame(self._S2, self._DIM),
        }

    def _tables(self):
        return {
            t: [{"ip": a, "name": b, "n": c} for a, b, c in rows]
            for t, rows in (("s1", self._S1), ("s2", self._S2))
        }

    def _run(self, spark, query, kw, default=None):
        facts = [("c0", 0, "k1"), ("c1", 1, "k2"), ("c2", 2, None),
                 ("c3", 3, "k9")]
        lookup = {"id": "u", "query": query, "parameters": {"ip": "ip"}}
        if default is not None:
            lookup["default_hash"] = default
        spec = PipelineSpec(lookups=[lookup])
        out = LookupEnricher(spec, self._dims(spark), **kw).apply(
            spark.createDataFrame(facts, FACT)
        )
        got = {
            r["turn_idx"]: (
                None if r["u"] is None
                else [tuple(d.asDict().values()) for d in r["u"]],
                r["matched"],
            )
            for r in out.collect()
        }
        # row-at-a-time oracle agreement on every shape
        spec2 = PipelineSpec(lookups=[dict(lookup)])
        for conv_id, turn_idx, ip in facts:
            event = {"conv_id": conv_id, "turn_idx": turn_idx}
            if ip is not None:
                event["ip"] = ip
            oracle.enhance(event, spec2, self._tables())
            v = event.get("u")
            exp = (
                None if v is None else [tuple(d.values()) for d in v],
                event["matched"],
            )
            assert got[turn_idx] == exp, turn_idx
        return got

    @pytest.mark.parametrize("kw", ENGINES)
    def test_agg_branches_always_one_row_each(self, spark, kw):
        got = self._run(
            spark,
            "SELECT count(*) AS c FROM s1 WHERE ip = :ip "
            "UNION ALL SELECT count(*) AS c2 FROM s2 WHERE ip = :ip",
            kw,
        )
        assert got[0] == ([(2,), (2,)], True)
        assert got[1] == ([(0,), (1,)], True)
        assert got[2] == (None, False)
        # no match either side: two empty-set count rows, NOT the default
        assert got[3] == ([(0,), (0,)], True)

    def test_agg_branch_never_fires_default(self, spark):
        got = self._run(
            spark,
            "SELECT count(*) AS c FROM s1 WHERE ip = :ip "
            "UNION ALL SELECT count(*) AS c2 FROM s2 WHERE ip = :ip",
            {},
            default={"c": -1},
        )
        assert got[3] == ([(0,), (0,)], True)

    @pytest.mark.parametrize("kw", ENGINES)
    def test_group_by_having_and_alias_remap(self, spark, kw):
        # branch 2's HAVING references its own agg alias t2; positional
        # alignment renames t2 -> total and the HAVING must follow
        got = self._run(
            spark,
            "SELECT name AS nm, sum(n) AS total FROM s1 "
            "WHERE ip = :ip GROUP BY name "
            "UNION ALL SELECT name AS n2, sum(n) AS t2 FROM s2 "
            "GROUP BY name HAVING sum(n) > 2",
            kw,
        )
        # k1: s1 groups v1:3, v2:7; s2 static groups w1:1, v1:11 -> HAVING
        # keeps v1:11 only
        assert got[0] == ([("v1", 3), ("v1", 11), ("v2", 7)], True)
        assert got[1] == ([("k2", 5), ("v1", 11)], True)
        assert got[3] == ([("v1", 11)], True)

    def test_distinct_branch_and_plain_union(self, spark):
        # DISTINCT inside branch 1; plain UNION dedupes across branches
        got = self._run(
            spark,
            "SELECT DISTINCT name FROM s1 WHERE ip = :ip "
            "UNION SELECT name FROM s2 WHERE ip = :ip",
            {},
        )
        assert got[0] == ([("v1",), ("v2",), ("w1",)], True)

    def test_empty_group_by_branch_can_default(self, spark):
        # GROUP BY branches yield zero groups on empty match sets, so
        # with both branches grouped the default CAN still fire
        got = self._run(
            spark,
            "SELECT name AS nm, count(*) AS c FROM s1 "
            "WHERE ip = :ip GROUP BY name "
            "UNION ALL SELECT name AS n2, count(*) AS c2 FROM s2 "
            "WHERE ip = :ip GROUP BY name",
            {},
            default={"nm": "dflt", "c": -1},
        )
        assert got[3] == ([("dflt", -1)], True)
        # k2 matches only s1 (one group); branch 2 contributes none
        assert got[1] == ([("k2", 1)], True)


class TestUnionLevelTail:
    """Round-5: UNION-LEVEL result shaping — SQL attaches a trailing
    ORDER BY / LIMIT / OFFSET / FETCH FIRST to the WHOLE union (Derby
    included). Compiled as a comparator array_sort (named keys in
    Derby result order, NULL largest; the default payload contract
    breaks ties so the result is total) + slice on the combined
    payload; branch-LEVEL shaping stays rejected."""

    def _dims(self, spark):
        plans = spark.createDataFrame(
            [("t1", "basic", 10), ("t1", "basic", 2), ("t1", "pro", 7),
             ("t1", None, 4)],
            "tool: string, plan: string, price: int",
        )
        extras = spark.createDataFrame(
            [("t1", "gold", 99), ("t1", "gold", 2)],
            "tool: string, plan: string, price: int",
        )
        return {"plans": plans, "extras": extras}

    def _tables(self):
        return {
            "plans": [
                {"tool": t, "plan": p, "price": pr}
                for t, p, pr in [("t1", "basic", 10), ("t1", "basic", 2),
                                 ("t1", "pro", 7), ("t1", None, 4)]
            ],
            "extras": [
                {"tool": t, "plan": p, "price": pr}
                for t, p, pr in [("t1", "gold", 99), ("t1", "gold", 2)]
            ],
        }

    def _run(self, spark, query):
        spec = PipelineSpec(
            lookups=[{"id": "u", "query": query,
                      "parameters": {"tool": "tool"}}]
        )
        facts = spark.createDataFrame([("t1",), ("t2",)], "tool: string")
        out = LookupEnricher(spec, self._dims(spark)).apply(facts)
        got = {
            r["tool"]: [(d["plan"], d["price"]) for d in r["u"]]
            for r in out.collect()
        }
        exp = {}
        for tool in ("t1", "t2"):
            ev = {"tool": tool}
            oracle.enhance(
                ev,
                PipelineSpec(lookups=[{
                    "id": "u", "query": query,
                    "parameters": {"tool": "tool"},
                }]),
                self._tables(),
            )
            exp[tool] = [(d["plan"], d["price"]) for d in ev["u"]]
        assert got == exp, f"spark {got} != oracle {exp}"
        return got

    BASE = (
        "SELECT plan AS plan, price AS price FROM plans "
        "WHERE tool = :tool UNION ALL "
        "SELECT plan AS plan, price AS price FROM extras "
        "WHERE tool = :tool "
    )

    def test_order_desc_fetch_first(self, spark):
        got = self._run(
            spark,
            self.BASE + "ORDER BY price DESC FETCH FIRST 3 ROWS ONLY",
        )
        assert got["t1"] == [("gold", 99), ("basic", 10), ("pro", 7)]
        assert got["t2"] == []

    def test_plain_union_order_by_null_largest_offset(self, spark):
        q = self.BASE.replace("UNION ALL", "UNION") + "ORDER BY plan OFFSET 1 ROWS"
        got = self._run(spark, q)
        # dedupe -> sort plan ASC (NULL LAST, Derby) with the default
        # contract breaking the basic/gold ties -> drop the first row
        assert got["t1"] == [
            ("basic", 10), ("gold", 2), ("gold", 99), ("pro", 7), (None, 4),
        ]

    def test_limit_without_order_uses_default_contract(self, spark):
        got = self._run(spark, self.BASE + "LIMIT 2")
        # default contract: NULL smallest -> the NULL-plan row first
        assert got["t1"] == [(None, 4), ("basic", 2)]

    def test_offset_past_end_fires_default(self, spark):
        spec = PipelineSpec(
            lookups=[{
                "id": "u",
                "query": self.BASE + "ORDER BY price OFFSET 50 ROWS",
                "parameters": {"tool": "tool"},
                "default_hash": {"plan": "dflt", "price": 0},
            }]
        )
        facts = spark.createDataFrame([("t1",)], "tool: string")
        (row,) = LookupEnricher(spec, self._dims(spark)).apply(facts).collect()
        assert [(d["plan"], d["price"]) for d in row["u"]] == [("dflt", 0)]

    def test_unknown_order_alias_rejected(self, spark):
        with pytest.raises(ValidationError, match="not branch-1 output"):
            LookupEnricher(
                PipelineSpec(lookups=[{
                    "id": "u",
                    "query": self.BASE + "ORDER BY zz",
                    "parameters": {"tool": "tool"},
                }]),
                self._dims(spark),
            )

    def test_trailing_group_by_binds_to_last_branch(self, spark):
        # union-level GROUP BY does not exist in SQL: a trailing GROUP
        # BY belongs to the LAST BRANCH, so here the branch parser
        # rejects the ungrouped price column — not the tail scanner
        with pytest.raises(ValidationError, match="GROUP BY list"):
            LookupEnricher(
                PipelineSpec(lookups=[{
                    "id": "u",
                    "query": self.BASE + "GROUP BY plan",
                    "parameters": {"tool": "tool"},
                }]),
                self._dims(spark),
            )

    def test_group_by_inside_union_tail_rejected(self, spark):
        # a GROUP BY written after the union-level ORDER BY tail is
        # nonsense in any scope
        with pytest.raises(ValidationError, match="trailing tokens"):
            LookupEnricher(
                PipelineSpec(lookups=[{
                    "id": "u",
                    "query": self.BASE + "ORDER BY plan GROUP BY plan",
                    "parameters": {"tool": "tool"},
                }]),
                self._dims(spark),
            )

    def test_order_expression_rejected(self, spark):
        with pytest.raises(ValidationError, match="plain output aliases"):
            LookupEnricher(
                PipelineSpec(lookups=[{
                    "id": "u",
                    "query": self.BASE + "ORDER BY price * 2",
                    "parameters": {"tool": "tool"},
                }]),
                self._dims(spark),
            )

    def test_mid_branch_shaping_still_rejected(self, spark):
        # unparenthesized mid-branch tails stay rejected (Derby rule)
        with pytest.raises(ValidationError, match="parenthesized"):
            LookupEnricher(
                PipelineSpec(lookups=[{
                    "id": "u",
                    "query": (
                        "SELECT plan AS plan, price AS price FROM plans "
                        "WHERE tool = :tool ORDER BY price "
                        "UNION ALL SELECT plan AS plan, price AS price "
                        "FROM extras WHERE tool = :tool"
                    ),
                    "parameters": {"tool": "tool"},
                }]),
                self._dims(spark),
            )


class TestSetOps:
    """Round-5: ``EXCEPT`` / ``INTERSECT`` lookup queries — Derby
    executes them verbatim (lookup.rb:131-147). Compiled on the UNION
    machinery: per-branch payload arrays folded with
    ``array_except`` / ``array_intersect`` (SQL set semantics —
    distinct result, NULL is not distinct from NULL, EXCEPT is
    left-associative). Round-5 latest: the ALL variants (exact
    multisets), mixed joints under SQL precedence (INTERSECT binds
    tighter, then left-to-right), and parenthesized groups with their
    own tails are accepted too; every run cross-checks the row
    oracle."""

    _A = [("t1", "basic", 10), ("t1", "basic", 10), ("t1", "pro", 7),
          ("t1", None, 4)]
    _B = [("t1", "basic", 10), ("t1", None, 4), ("t1", "gold", 99)]
    _C = [("t1", "pro", 7)]

    def _dims(self, spark):
        schema = "tool: string, plan: string, price: int"
        return {
            "a": spark.createDataFrame(self._A, schema),
            "b": spark.createDataFrame(self._B, schema),
            "c": spark.createDataFrame(self._C, schema),
        }

    def _tables(self):
        return {
            n: [{"tool": t, "plan": p, "price": pr} for t, p, pr in rows]
            for n, rows in (("a", self._A), ("b", self._B), ("c", self._C))
        }

    BRANCH = "SELECT plan AS plan, price AS price FROM {t} WHERE tool = :tool"

    def _run(self, spark, query, default=None):
        lookup = {"id": "u", "query": query, "parameters": {"tool": "tool"}}
        if default is not None:
            lookup["default_hash"] = default
        facts = spark.createDataFrame([("t1",), ("t2",)], "tool: string")
        out = LookupEnricher(
            PipelineSpec(lookups=[dict(lookup)]), self._dims(spark)
        ).apply(facts)
        got = {
            r["tool"]: [(d["plan"], d["price"]) for d in r["u"]]
            for r in out.collect()
        }
        for tool in ("t1", "t2"):
            ev = {"tool": tool}
            oracle.enhance(
                ev, PipelineSpec(lookups=[dict(lookup)]), self._tables()
            )
            exp = [(d["plan"], d["price"]) for d in ev["u"]]
            assert got[tool] == exp, f"{tool}: spark {got[tool]} != {exp}"
        return got

    def test_tree_parser_returns_joints(self):
        leaves, tree = parse_setop_tree(
            "SELECT a FROM t EXCEPT SELECT a FROM u"
        )
        assert len(leaves) == 2
        assert tree.joints == [("except", False)]
        leaves, tree = parse_setop_tree(
            "SELECT a FROM t INTERSECT SELECT a FROM u "
            "INTERSECT ALL SELECT a FROM v"
        )
        assert len(leaves) == 3
        assert tree.joints == [("intersect", False), ("intersect", True)]
        leaves, tree = parse_setop_tree(
            "SELECT a FROM t WHERE s = 'x except y'"
        )
        assert len(leaves) == 1 and tree is None

    def test_tree_parser_nested_groups(self):
        leaves, tree = parse_setop_tree(
            "(SELECT a FROM t UNION SELECT a FROM u) "
            "EXCEPT ALL SELECT a FROM v"
        )
        assert len(leaves) == 3
        assert tree.joints == [("except", True)]
        inner = tree.children[0]
        assert not isinstance(inner, int)
        assert inner.joints == [("union", False)]
        assert inner.children == [0, 1] and tree.children[1] == 2
        # a group tail stays on the GROUP, the root tail on the root
        leaves, tree = parse_setop_tree(
            "(SELECT a FROM t UNION SELECT a FROM u "
            "ORDER BY a FETCH FIRST 2 ROWS ONLY) "
            "INTERSECT SELECT a FROM v ORDER BY a DESC"
        )
        inner = tree.children[0]
        assert inner.order_by == (("a", True),) and inner.limit == 2
        assert tree.order_by == (("a", False),)

    def test_except_distinct_and_null_equality(self, spark):
        got = self._run(
            spark,
            self.BRANCH.format(t="a") + " EXCEPT "
            + self.BRANCH.format(t="b"),
        )
        # distinct(A) minus B: the dup (basic,10) collapses AND is
        # removed; (None,4) is removed — NULL is not distinct from NULL
        assert got["t1"] == [("pro", 7)]
        assert got["t2"] == []

    def test_intersect_with_null_field(self, spark):
        got = self._run(
            spark,
            self.BRANCH.format(t="a") + " INTERSECT "
            + self.BRANCH.format(t="b"),
        )
        assert got["t1"] == [(None, 4), ("basic", 10)]

    def test_except_left_associative(self, spark):
        got = self._run(
            spark,
            self.BRANCH.format(t="a") + " EXCEPT "
            + self.BRANCH.format(t="b") + " EXCEPT "
            + self.BRANCH.format(t="c"),
        )
        assert got["t1"] == []

    def test_setop_with_trailing_tail(self, spark):
        got = self._run(
            spark,
            self.BRANCH.format(t="a") + " INTERSECT "
            + self.BRANCH.format(t="b")
            + " ORDER BY price DESC FETCH FIRST 1 ROWS ONLY",
        )
        assert got["t1"] == [("basic", 10)]

    def test_empty_except_fires_default(self, spark):
        got = self._run(
            spark,
            self.BRANCH.format(t="c") + " EXCEPT "
            + self.BRANCH.format(t="a"),
            default={"plan": "none", "price": -1},
        )
        assert got["t1"] == [("none", -1)]
        assert got["t2"] == [("none", -1)]

    def test_except_all_multiset(self, spark):
        # round-5 latest: EXCEPT ALL is an exact multiset — the
        # duplicate (basic,10) in A loses ONE occurrence to B's single
        # copy and keeps the other; (None,4) cancels (NULL not
        # distinct from NULL); (pro,7) survives
        got = self._run(
            spark,
            self.BRANCH.format(t="a") + " EXCEPT ALL "
            + self.BRANCH.format(t="b"),
        )
        assert got["t1"] == [("basic", 10), ("pro", 7)]
        assert got["t2"] == []

    def test_intersect_all_multiset(self, spark):
        # INTERSECT ALL keeps min(cntA, cntB) occurrences: one
        # (basic,10) (B has one) and one (None,4)
        got = self._run(
            spark,
            self.BRANCH.format(t="a") + " INTERSECT ALL "
            + self.BRANCH.format(t="b"),
        )
        assert got["t1"] == [(None, 4), ("basic", 10)]

    def test_mixed_joints_sql_precedence(self, spark):
        # A UNION ALL B INTERSECT C = A UNION ALL (B INTERSECT C):
        # INTERSECT binds tighter (pinned natively on Derby). B∩C = {}
        # (C = [(pro,7)], B has none) → the result is A verbatim
        got = self._run(
            spark,
            self.BRANCH.format(t="a") + " UNION ALL "
            + self.BRANCH.format(t="b") + " INTERSECT "
            + self.BRANCH.format(t="c"),
        )
        assert got["t1"] == [(None, 4), ("basic", 10),
                             ("basic", 10), ("pro", 7)]

    def test_mixed_union_then_except(self, spark):
        # left-to-right at the UNION/EXCEPT level:
        # (A UNION B) EXCEPT C — distinct(A∪B) minus C's (pro,7)
        got = self._run(
            spark,
            self.BRANCH.format(t="a") + " UNION "
            + self.BRANCH.format(t="b") + " EXCEPT "
            + self.BRANCH.format(t="c"),
        )
        assert got["t1"] == [(None, 4), ("basic", 10), ("gold", 99)]

    def test_parenthesized_group_overrides_precedence(self, spark):
        # explicit grouping beats precedence: (A EXCEPT B) INTERSECT A
        # — without the parens, B INTERSECT A would reduce first
        got = self._run(
            spark,
            "(" + self.BRANCH.format(t="a") + " EXCEPT "
            + self.BRANCH.format(t="b") + ") INTERSECT "
            + self.BRANCH.format(t="a"),
        )
        assert got["t1"] == [("pro", 7)]

    def test_group_with_own_tail(self, spark):
        # a parenthesized GROUP may carry its own ordered top-N tail,
        # shaped before the enclosing joint combines it: top-2 by
        # price desc of distinct(A∪B) = [(gold,99),(basic,10)], then
        # EXCEPT ALL C removes nothing (C = [(pro,7)])
        got = self._run(
            spark,
            "(" + self.BRANCH.format(t="a") + " UNION "
            + self.BRANCH.format(t="b")
            + " ORDER BY price DESC FETCH FIRST 2 ROWS ONLY) "
            "EXCEPT ALL " + self.BRANCH.format(t="c"),
        )
        assert got["t1"] == [("basic", 10), ("gold", 99)]


class TestParenthesizedBranches:
    """Round-5 late: ``(SELECT ...) UNION (SELECT ...)`` — the common
    SQL spelling, accepted by Derby. Branch texts strip their balanced
    outer parens before the branch parser; a trailing tail after the
    last close paren still shapes the whole set-op result."""

    def test_strip_outer_parens(self):
        from logstash_filter_jdbc_static_spark.operators.lookup import (
            strip_outer_parens,
        )

        assert strip_outer_parens(" (SELECT a FROM t) ") == "SELECT a FROM t"
        assert strip_outer_parens("((SELECT a FROM t))") == "SELECT a FROM t"
        # NOT strippable: the first paren closes mid-text
        assert (
            strip_outer_parens("(SELECT a FROM t) x (y)")
            == "(SELECT a FROM t) x (y)"
        )
        # quote-aware: a quoted paren never counts
        assert (
            strip_outer_parens("(SELECT a FROM t WHERE s = ')')")
            == "SELECT a FROM t WHERE s = ')'"
        )

    def test_parenthesized_union_with_tail(self, spark):
        got = _run(
            spark,
            "(SELECT name FROM s1 WHERE ip = :ip) "
            "UNION ALL (SELECT name FROM s2 WHERE ip = :ip) "
            "ORDER BY name DESC FETCH FIRST 2 ROWS ONLY",
            {},
        )
        # k1: all rows v1,v1,v2,w1 -> DESC w1,v2 -> first 2
        assert got[0] == ([("w1",), ("v2",)], True)

    def test_parenthesized_except(self, spark):
        got = _run(
            spark,
            "(SELECT name FROM s1 WHERE ip = :ip) "
            "EXCEPT (SELECT name FROM s2 WHERE ip = :ip)",
            {},
        )
        # k1: distinct{v1,v2} - {w1,v1} = {v2}
        assert got[0] == ([("v2",)], True)

    def test_parenthesized_matches_row_oracle(self, spark):
        q = (
            "(SELECT name FROM s1 WHERE ip = :ip) "
            "UNION (SELECT name FROM s2 WHERE ip = :ip) "
            "ORDER BY name FETCH FIRST 2 ROWS ONLY"
        )
        lookup = {"id": "u", "query": q, "parameters": {"ip": "ip"}}
        got = _run(spark, q, {})
        tables = {
            "s1": [{"ip": a, "name": b} for a, b in S1],
            "s2": [{"ip": a, "name": b} for a, b in S2],
        }
        for turn_idx, ip in ((0, "k1"), (1, "k2"), (3, "k9")):
            ev = {"conv_id": "c", "turn_idx": turn_idx, "ip": ip}
            oracle.enhance(
                ev, PipelineSpec(lookups=[dict(lookup)]), tables
            )
            exp = [(d["name"],) for d in ev["u"]]
            assert got[turn_idx][0] == exp, (turn_idx, got[turn_idx], exp)


class TestBranchTails:
    """Round-5 latest: a PARENTHESIZED set-op branch may carry its own
    ORDER BY / LIMIT / OFFSET / FETCH tail — Derby-legal (pinned
    natively in test_jdbc_derby.py::TestDerbyGrammarLegality): the
    branch's ordered top-N shapes BEFORE the set operation combines
    payloads. Unparenthesized branch tails stay rejected (Derby rule —
    a bare trailing tail binds to the whole union). Each branch reuses
    the single-query tail machinery (_assemble_payload for plain rows,
    _shape_raw for grouped/aggregate payloads)."""

    @pytest.mark.parametrize("kw", ENGINES)
    def test_topn_per_branch(self, spark, kw):
        got = _run(
            spark,
            "(SELECT name FROM s1 WHERE ip = :ip "
            "ORDER BY name DESC FETCH FIRST 1 ROWS ONLY) "
            "UNION ALL "
            "(SELECT name FROM s2 WHERE ip = :ip "
            "ORDER BY name ASC FETCH FIRST 1 ROWS ONLY)",
            kw,
        )
        # k1: s1 desc top-1 = v2; s2 asc top-1 = v1; default-sorted
        assert got[0] == ([("v1",), ("v2",)], True)
        assert got[1] == ([("k2",)], True)   # s2 branch empty
        assert got[3] == ([], True)
        assert got[2] == (None, False)

    @pytest.mark.parametrize("kw", ENGINES)
    def test_grouped_branch_tail(self, spark, kw):
        got = _run(
            spark,
            "(SELECT name AS name, count(*) AS n FROM s1 WHERE ip = :ip "
            "GROUP BY name ORDER BY n DESC, name FETCH FIRST 1 ROWS ONLY) "
            "UNION ALL "
            "(SELECT name AS name, count(*) AS n FROM s2 WHERE ip = :ip "
            "GROUP BY name ORDER BY name OFFSET 1 ROWS)",
            kw,
        )
        # k1: s1 groups v1:1,v2:1 -> (v1,1); s2 groups v1:1,w1:1
        # ordered by name, skip 1 -> (w1,1)
        assert got[0] == ([("v1", 1), ("w1", 1)], True)
        assert got[1] == ([("k2", 1)], True)
        assert got[3] == ([], True)

    @pytest.mark.parametrize("kw", ENGINES)
    def test_sliced_left_branch_of_except(self, spark, kw):
        got = _run(
            spark,
            "(SELECT name FROM s1 WHERE ip = :ip "
            "ORDER BY name FETCH FIRST 2 ROWS ONLY) "
            "EXCEPT SELECT name FROM s2 WHERE ip = :ip",
            kw,
        )
        # k1: sliced left {v1, v2} minus {w1, v1} = {v2}
        assert got[0] == ([("v2",)], True)

    @pytest.mark.parametrize("kw", ENGINES)
    def test_aggregate_branch_offset_empties(self, spark, kw):
        got = _run(
            spark,
            "(SELECT count(*) AS c FROM s1 WHERE ip = :ip "
            "ORDER BY c OFFSET 1 ROWS) "
            "UNION ALL SELECT count(*) AS c FROM s2 WHERE ip = :ip",
            kw,
        )
        # the offset skips the aggregate's single row: only branch 2
        # contributes (incl. its count-0 row on a miss)
        assert got[0] == ([(2,)], True)
        assert got[3] == ([(0,)], True)

    @pytest.mark.parametrize("kw", ENGINES)
    def test_branch_tail_composes_with_union_tail(self, spark, kw):
        got = _run(
            spark,
            "(SELECT name FROM s1 WHERE ip = :ip "
            "ORDER BY name FETCH FIRST 2 ROWS ONLY) "
            "UNION (SELECT name FROM s2 WHERE ip = :ip) "
            "ORDER BY name DESC LIMIT 2",
            kw,
        )
        # k1: branch1 {v1,v2}; branch2 {w1,v1}; union {v1,v2,w1};
        # whole-union DESC limit 2 -> [w1, v2]
        assert got[0] == ([("w1",), ("v2",)], True)

    def test_matches_row_oracle(self, spark):
        q = (
            "(SELECT name AS name, count(*) AS n FROM s1 WHERE ip <= :ip "
            "GROUP BY name ORDER BY n DESC, name FETCH FIRST 2 ROWS ONLY) "
            "UNION "
            "(SELECT name AS name, count(*) AS n FROM s2 WHERE ip = :ip "
            "GROUP BY name ORDER BY name OFFSET 1 ROWS)"
        )
        lookup = {"id": "u", "query": q, "parameters": {"ip": "ip"}}
        got = _run(spark, q, {})
        tables = {
            "s1": [{"ip": a, "name": b} for a, b in S1],
            "s2": [{"ip": a, "name": b} for a, b in S2],
        }
        for turn_idx, ip in ((0, "k1"), (1, "k2"), (3, "k9")):
            ev = {"conv_id": "c", "turn_idx": turn_idx, "ip": ip}
            oracle.enhance(
                ev, PipelineSpec(lookups=[dict(lookup)]), tables
            )
            exp = [tuple(d.values()) for d in ev["u"]]
            assert got[turn_idx][0] == exp, (turn_idx, got[turn_idx], exp)
