"""Multi-table (JOIN) lookup queries: FROM-clause parser, derived-dim
build, physical-plan shape, and row-at-a-time oracle agreement.

Reference parity target: lookup SQL is executed verbatim by Derby
(lookup.rb:131-147), so joins of local db_objects are legal configs
there; here they pre-join into a derived dim once per snapshot."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logstash_filter_jdbc_static_spark.operators.lookup import (
    build_join_dim,
    parse_lookup_query,
)
from logstash_filter_jdbc_static_spark.operators.processor import LookupEnricher
from logstash_filter_jdbc_static_spark.spec import PipelineSpec, ValidationError

from plan_conditions import PLAN_CONDITIONS

_GEO_Q = (
    "SELECT n.n_name AS nation, r.r_name AS region FROM nation n "
    "JOIN region r ON n.n_regionkey = r.r_regionkey "
    "WHERE n.n_nationkey = :k"
)


class TestFromParser:
    def test_inner_join_with_aliases(self):
        q = parse_lookup_query(_GEO_Q)
        assert q.table == "nation" and q.base_alias == "n"
        (j,) = q.joins
        assert (j.table, j.alias, j.how) == ("region", "r", "inner")
        assert j.on == (("n", "n_regionkey", "=", "r", "r_regionkey"),)
        assert q.projection == [("n.n_name", "nation"), ("r.r_name", "region")]
        (p,) = q.predicates
        assert (p.dim_column, p.op, p.param) == ("n.n_nationkey", "=", "k")

    def test_left_outer_and_as_alias(self):
        q = parse_lookup_query(
            "SELECT a.x AS x FROM t1 AS a LEFT OUTER JOIN t2 AS b "
            "ON a.k = b.k WHERE a.x = :x"
        )
        (j,) = q.joins
        assert (j.table, j.alias, j.how) == ("t2", "b", "left")

    def test_multi_condition_on_and_chained_joins(self):
        q = parse_lookup_query(
            "SELECT a.x AS x FROM t1 a JOIN t2 b ON a.k = b.k AND a.k2 = b.k2 "
            "JOIN t3 c ON b.j = c.j WHERE a.x = :x"
        )
        assert len(q.joins) == 2
        assert q.joins[0].on == (("a", "k", "=", "b", "k"), ("a", "k2", "=", "b", "k2"))
        assert q.joins[1].on == (("b", "j", "=", "c", "j"),)

    def test_no_alias_uses_table_name(self):
        q = parse_lookup_query(
            "SELECT nation.n_name AS nm FROM nation JOIN region "
            "ON nation.n_regionkey = region.r_regionkey "
            "WHERE nation.n_nationkey = :k"
        )
        assert q.base_alias == "nation"
        assert q.joins[0].alias == "region"

    @pytest.mark.parametrize(
        "bad",
        [
            # SELECT * is ambiguous across relations
            "SELECT * FROM t1 a JOIN t2 b ON a.k = b.k WHERE a.x = :x",
            # an ON condition needs at least one column (round-5 allows
            # ONE literal operand; two literals reference no relation)
            "SELECT a.x AS x FROM t1 a JOIN t2 b ON 1 = 2 WHERE a.x = :x",
            # unqualified ON column
            "SELECT a.x AS x FROM t1 a JOIN t2 b ON k = b.k WHERE a.x = :x",
            # unknown qualifier in WHERE
            "SELECT a.x AS x FROM t1 a JOIN t2 b ON a.k = b.k WHERE z.x = :x",
            # unknown qualifier in projection
            "SELECT z.x AS x FROM t1 a JOIN t2 b ON a.k = b.k WHERE a.x = :x",
            # duplicate alias
            "SELECT a.x AS x FROM t1 a JOIN t2 a ON a.k = a.k WHERE a.x = :x",
            # dangling join
            "SELECT a.x AS x FROM t1 a JOIN WHERE a.x = :x",
        ],
    )
    def test_malformed_join_raises(self, bad):
        with pytest.raises(ValidationError):
            parse_lookup_query(bad)

    def test_single_table_unchanged(self):
        q = parse_lookup_query("SELECT name FROM servers WHERE ip = :ip")
        assert q.joins == () and q.table == "servers"


class TestBuildJoinDim:
    def _dims(self, spark):
        t1 = spark.createDataFrame(
            [(1, "a1", 10), (2, "a2", 20), (3, "a3", 99)], "k: long, name: string, fk: long"
        )
        t2 = spark.createDataFrame(
            [(10, "b10"), (20, "b20")], "pk: long, name: string"
        )
        return {"t1": t1, "t2": t2}

    def test_flat_name_collision_disambiguated(self, spark):
        q = parse_lookup_query(
            "SELECT a.name AS lname, b.name AS rname FROM t1 a "
            "JOIN t2 b ON a.fk = b.pk WHERE a.k = :k"
        )
        dim, rw = build_join_dim(q, self._dims(spark))
        assert set(dim.columns) == {"a_name", "b_name", "k"}
        assert rw.projection == [("a_name", "lname"), ("b_name", "rname")]
        assert rw.predicates[0].dim_column == "k"

    def test_flat_name_collision_with_bare_column(self, spark):
        """The <alias>_<col> disambiguation can itself collide with a
        referenced column whose bare name IS '<alias>_<col>' (a.x vs
        b.a_x) — flat names must be globally unique or the derived dim
        carries duplicate column names (round-3 review finding)."""
        t1 = spark.createDataFrame(
            [(1, "ax1", 10)], "k: long, x: string, fk: long"
        )
        t2 = spark.createDataFrame(
            [(10, "bx10", "bax10")], "pk: long, x: string, a_x: string"
        )
        q = parse_lookup_query(
            "SELECT a.x AS p, b.x AS q, b.a_x AS r FROM t1 a "
            "JOIN t2 b ON a.fk = b.pk WHERE a.k = :k"
        )
        dim, rw = build_join_dim(q, {"t1": t1, "t2": t2})
        assert len(set(dim.columns)) == len(dim.columns), dim.columns
        (row,) = dim.collect()
        got = {
            alias: row[src] for src, alias in rw.projection
        }
        assert got == {"p": "ax1", "q": "bx10", "r": "bax10"}

    def test_ambiguous_bare_column_raises(self, spark):
        q = parse_lookup_query(
            "SELECT name AS nm FROM t1 a JOIN t2 b ON a.fk = b.pk WHERE a.k = :k"
        )
        with pytest.raises(ValidationError, match="ambiguous"):
            build_join_dim(q, self._dims(spark))

    def test_unknown_table_raises(self, spark):
        q = parse_lookup_query(
            "SELECT a.name AS nm FROM t1 a JOIN missing b ON a.fk = b.pk "
            "WHERE a.k = :k"
        )
        with pytest.raises(ValidationError, match="unknown local table"):
            build_join_dim(q, self._dims(spark))

    def test_left_join_keeps_unmatched_dim_rows(self, spark):
        q = parse_lookup_query(
            "SELECT a.name AS nm, b.name AS bn FROM t1 a "
            "LEFT JOIN t2 b ON a.fk = b.pk WHERE a.k = :k"
        )
        dim, _ = build_join_dim(q, self._dims(spark))
        rows = {r["a_name"]: r["b_name"] for r in dim.collect()}
        assert rows == {"a1": "b10", "a2": "b20", "a3": None}


class TestJoinGoldenE2E:
    def test_inner_join_lookup_with_misses(self, spark, sf_dir):
        nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        fact = spark.createDataFrame(
            [(f"c{i}", i, i) for i in range(30)],
            "conv_id: string, turn_idx: long, nkey: long",
        )
        spec = PipelineSpec(
            lookups=[{"id": "geo", "query": _GEO_Q, "parameters": {"k": "nkey"}}]
        )
        out = LookupEnricher(spec, {"nation": nation, "region": region}).apply(fact)
        rows = {
            r["nkey"]: (r["n"], r["nation"])
            for r in out.select(
                "nkey",
                F.size("geo").alias("n"),
                F.get(F.col("geo"), 0).getField("nation").alias("nation"),
            ).collect()
        }
        assert rows[0] == (1, "NATION_0")
        assert rows[24] == (1, "NATION_24")
        # nkeys 25..29 miss the 25-nation dim: valid-but-empty payload
        for k in range(25, 30):
            assert rows[k] == (0, None)

    def test_broadcast_hash_plan(self, spark, sf_dir):
        nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        fact = spark.createDataFrame(
            [("c0", 0, 0)], "conv_id: string, turn_idx: long, nkey: long"
        )
        spec = PipelineSpec(
            lookups=[{"id": "geo", "query": _GEO_Q, "parameters": {"k": "nkey"}}]
        )
        enr = LookupEnricher(spec, {"nation": nation, "region": region})
        out = enr.apply(fact)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # fact⋈dim probes the key-grouped dim pinned on the first apply;
        # dim⋈dim runs inside that grouping, once per snapshot
        assert plan.count("BroadcastHashJoin") == 1
        assert "SortMergeJoin" not in plan
        grouped, _ = enr.compiled[0]._build_grouped_dim()
        dim_plan = grouped._jdf.queryExecution().executedPlan().toString()
        assert dim_plan.count("BroadcastHashJoin") == 1
        assert "SortMergeJoin" not in dim_plan


class TestJoinRowOracle:
    def test_join_rows_agrees_with_spark(self, spark):
        from logstash_filter_jdbc_static_spark.oracle import enhance

        t1 = [
            {"k": 1, "name": "a1", "fk": 10},
            {"k": 2, "name": "a2", "fk": 20},
            {"k": 3, "name": "a3", "fk": 99},
        ]
        t2 = [{"pk": 10, "label": "b10"}, {"pk": 20, "label": "b20"}]
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "x",
                    "query": (
                        "SELECT a.name AS nm, b.label AS lb FROM t1 a "
                        "LEFT JOIN t2 b ON a.fk = b.pk WHERE a.k = :k"
                    ),
                    "parameters": {"k": "key"},
                }
            ]
        )
        dims = {
            "t1": spark.createDataFrame(
                [tuple(r.values()) for r in t1], "k: long, name: string, fk: long"
            ),
            "t2": spark.createDataFrame(
                [tuple(r.values()) for r in t2], "pk: long, label: string"
            ),
        }
        fact = spark.createDataFrame(
            [(f"c{i}", i, i) for i in range(1, 5)],
            "conv_id: string, turn_idx: long, key: long",
        )
        got = {
            r["key"]: sorted(
                [(x["nm"], x["lb"]) for x in (r["x"] or [])]
            )
            for r in LookupEnricher(spec, dims).apply(fact).collect()
        }
        for i in range(1, 5):
            event = {"conv_id": f"c{i}", "turn_idx": i, "key": i}
            enhance(event, spec, {"t1": t1, "t2": t2})
            oracle_rows = sorted(
                [(x["nm"], x["lb"]) for x in (event.get("x") or [])]
            )
            assert got[i] == oracle_rows, f"key={i}"


class TestJoinOrderLimit:
    def test_order_by_non_projected_join_col(self, spark):
        """ORDER BY over a joined relation's NON-projected column: the
        derived dim must carry it (build_join_dim refs) and the payload
        must come back in that order, LIMIT-sliced."""
        t1 = spark.createDataFrame(
            [(1, "x1", 10), (1, "x2", 20), (1, "x3", 99)],
            "k: long, name: string, fk: long",
        )
        t2 = spark.createDataFrame(
            [(10, 5, "b10"), (20, 9, "b20"), (99, 1, "b99")],
            "pk: long, prio: long, label: string",
        )
        q = parse_lookup_query(
            "SELECT b.label AS lb FROM t1 a JOIN t2 b ON a.fk = b.pk "
            "WHERE a.k = :k ORDER BY b.prio DESC LIMIT 2"
        )
        dim, rw = build_join_dim(q, {"t1": t1, "t2": t2})
        assert "prio" in dim.columns  # non-projected order key carried
        assert rw.order_by == (("prio", False),) and rw.limit == 2
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "x",
                    "query": (
                        "SELECT b.label AS lb FROM t1 a JOIN t2 b "
                        "ON a.fk = b.pk WHERE a.k = :k "
                        "ORDER BY b.prio DESC LIMIT 2"
                    ),
                    "parameters": {"k": "key"},
                }
            ]
        )
        fact = spark.createDataFrame(
            [("c1", 1, 1), ("c2", 2, 7)], "conv_id: string, turn_idx: long, key: long"
        )
        out = LookupEnricher(spec, {"t1": t1, "t2": t2}).apply(fact)
        got = {
            r["key"]: None if r["x"] is None else [e["lb"] for e in r["x"]]
            for r in out.collect()
        }
        assert got == {1: ["b20", "b10"], 7: []}


class TestJoinDistinctOrderCheck:
    def test_qualified_order_key_matches_bare_projection(self, spark):
        t1 = spark.createDataFrame([(1, "n1", 10)], "k: long, name: string, fk: long")
        t2 = spark.createDataFrame([(10, "lb")], "pk: long, label: string")
        q = parse_lookup_query(
            "SELECT DISTINCT a.name AS name FROM t1 a JOIN t2 b "
            "ON a.fk = b.pk WHERE a.k = :k ORDER BY a.name"
        )
        dim, rw = build_join_dim(q, {"t1": t1, "t2": t2})
        assert rw.order_by == (("name", True),)  # flat, selected

    def test_unselected_order_key_under_distinct_raises(self, spark):
        t1 = spark.createDataFrame([(1, "n1", 10)], "k: long, name: string, fk: long")
        t2 = spark.createDataFrame([(10, "lb")], "pk: long, label: string")
        q = parse_lookup_query(
            "SELECT DISTINCT a.name AS name FROM t1 a JOIN t2 b "
            "ON a.fk = b.pk WHERE a.k = :k ORDER BY b.label"
        )
        with pytest.raises(ValidationError, match="must appear in the"):
            build_join_dim(q, {"t1": t1, "t2": t2})


class TestNonEquiOn:
    """Round-4: non-equi ON conditions (``ON a.lo < b.hi``). The LEFT
    variant is the semantic reason ON-level support exists at all —
    an unmatched left row SURVIVES with NULL right columns, which a
    WHERE-level filter could not express."""

    def test_parse_non_equi_ops(self):
        q = parse_lookup_query(
            "SELECT a.name FROM t1 a JOIN t2 b "
            "ON a.k = b.k AND a.lo < b.hi WHERE a.k = :k"
        )
        assert q.joins[0].on == (
            ("a", "k", "=", "b", "k"), ("a", "lo", "<", "b", "hi"),
        )
        q = parse_lookup_query(
            "SELECT a.name FROM t1 a JOIN t2 b ON a.x != b.y "
            "WHERE a.k = :k"
        )
        assert q.joins[0].on == (("a", "x", "<>", "b", "y"),)

    def _fixture(self, spark):
        t1 = [
            {"k": 1, "name": "a1", "lo": 5},
            {"k": 2, "name": "a2", "lo": 15},
            {"k": 3, "name": "a3", "lo": 50},
        ]
        t2 = [{"cat": "x", "hi": 10}, {"cat": "y", "hi": 20}]
        dims = {
            "t1": spark.createDataFrame(
                [tuple(r.values()) for r in t1],
                "k: long, name: string, lo: long",
            ),
            "t2": spark.createDataFrame(
                [tuple(r.values()) for r in t2], "cat: string, hi: long"
            ),
        }
        return t1, t2, dims

    @pytest.mark.parametrize("how", ["JOIN", "LEFT JOIN"])
    def test_non_equi_on_agrees_with_oracle(self, spark, how):
        from logstash_filter_jdbc_static_spark.oracle import enhance

        t1, t2, dims = self._fixture(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "x",
                    "query": (
                        f"SELECT a.name AS nm, b.cat AS ct FROM t1 a "
                        f"{how} t2 b ON a.lo < b.hi WHERE a.k = :k"
                    ),
                    "parameters": {"k": "key"},
                }
            ]
        )
        fact = spark.createDataFrame(
            [(f"c{i}", i, i) for i in range(1, 5)],
            "conv_id: string, turn_idx: long, key: long",
        )
        got = {
            r["key"]: sorted(
                [(x["nm"], x["ct"]) for x in (r["x"] or [])]
            )
            for r in LookupEnricher(spec, dims).apply(fact).collect()
        }
        for i in range(1, 5):
            event = {"conv_id": f"c{i}", "turn_idx": i, "key": i}
            enhance(event, spec, {"t1": t1, "t2": t2})
            exp = sorted([(x["nm"], x["ct"]) for x in (event.get("x") or [])])
            assert got[i] == exp, f"key={i} {how}"
        # the LEFT non-equi join must keep a3 (lo=50 beats every hi)
        # with a NULL cat; INNER must drop it
        if how == "LEFT JOIN":
            assert got.get(3) == [("a3", None)]
        else:
            assert got.get(3) == []


class TestJoinExpressions:
    """Round-5: scalar expressions in multi-table (JOIN) lookup queries
    — projections, predicates (both sides), aggregate arguments and
    GROUP BY items. build_join_dim maps the expressions' qualified
    columns onto the derived dim's flat names; CompiledLookup then
    materializes them there exactly like single-table computed columns,
    so the per-event probe stays the broadcast-hash plan."""

    PLANS = [
        ("t0", 10, 3, "basic"),
        ("t0", 5, 4, None),
        ("t1", 7, 2, "pro"),
        ("t2", 2, 9, "basic"),
    ]
    BANDS = [(0, 15, "low"), (15, 99, "high")]

    def _dims(self, spark):
        return {
            "tool_plans": spark.createDataFrame(
                self.PLANS, "tool string, price int, qty int, plan string"
            ),
            "price_bands": spark.createDataFrame(
                self.BANDS, "lo int, hi int, band string"
            ),
        }

    def _run(self, spark, query, target, kw=None):
        spec = PipelineSpec(
            lookups=[{"id": target, "query": query,
                      "parameters": {"tool": "tool"}}]
        )
        enr = LookupEnricher(spec, self._dims(spark), **(kw or {}))
        fact = spark.createDataFrame(
            [(f"t{i}",) for i in range(3)], "tool: string"
        )
        return {
            r["tool"]: sorted(tuple(d) for d in r[target])
            for r in enr.apply(fact).select("tool", target).collect()
        }

    @pytest.mark.parametrize("kw", PLAN_CONDITIONS)
    def test_expression_projection_and_predicate(self, spark, kw):
        got = self._run(
            spark,
            "SELECT p.price * p.qty AS total, upper(b.band) AS ub "
            "FROM tool_plans p "
            "JOIN price_bands b ON p.price >= b.lo AND p.price < b.hi "
            "WHERE p.tool = :tool AND p.price + b.lo < 20",
            "e1", kw,
        )
        assert got == {
            "t0": [(20, "LOW"), (30, "LOW")],
            "t1": [(14, "LOW")],
            "t2": [(18, "LOW")],
        }

    def test_aggregate_over_cross_relation_expression(self, spark):
        got = self._run(
            spark,
            "SELECT sum(p.price * p.qty) AS s, coalesce(p.plan, '?') AS pl "
            "FROM tool_plans p "
            "JOIN price_bands b ON p.price >= b.lo AND p.price < b.hi "
            "WHERE p.tool = :tool GROUP BY coalesce(p.plan, '?')",
            "e2",
        )
        assert got == {
            "t0": [("?", 20), ("basic", 30)],
            "t1": [("pro", 14)],
            "t2": [("basic", 18)],
        }

    def test_bare_ambiguous_column_in_expression_raises(self, spark):
        t1 = spark.createDataFrame([(1, 2)], "k: int, x: int")
        t2 = spark.createDataFrame([(1, 3)], "k: int, x: int")
        spec = PipelineSpec(
            lookups=[{
                "id": "u",
                "query": ("SELECT a.x + x AS d FROM t1 a "
                          "JOIN t2 b ON a.k = b.k WHERE a.k = :k"),
                "parameters": {"k": "k"},
            }]
        )
        with pytest.raises(ValidationError, match="ambiguous"):
            LookupEnricher(spec, {"t1": t1, "t2": t2}).apply(
                spark.createDataFrame([(1,)], "k: int")
            )

    def test_join_expression_matches_row_oracle(self, spark):
        from logstash_filter_jdbc_static_spark import oracle

        query = (
            "SELECT p.price * p.qty AS total, lower(b.band) AS lb "
            "FROM tool_plans p "
            "JOIN price_bands b ON p.price >= b.lo AND p.price < b.hi "
            "WHERE p.tool = :tool AND length(coalesce(p.plan, '')) > 2"
        )
        got = self._run(spark, query, "jx")
        spec = PipelineSpec(
            lookups=[{"id": "jx", "query": query,
                      "parameters": {"tool": "tool"}}]
        )
        tables = {
            "tool_plans": [
                dict(zip(("tool", "price", "qty", "plan"), r))
                for r in self.PLANS
            ],
            "price_bands": [
                dict(zip(("lo", "hi", "band"), r)) for r in self.BANDS
            ],
        }
        exp = {}
        for i in range(3):
            event = {"tool": f"t{i}"}
            oracle.enhance(event, spec, tables)
            exp[f"t{i}"] = sorted(
                (d["total"], d["lb"]) for d in event["jx"]
            )
        assert got == exp

    @pytest.mark.parametrize("kw", PLAN_CONDITIONS)
    def test_mixed_dim_param_expression_across_relations(self, spark, kw):
        # round-5 latest: a mixed dim+param rhs whose dim columns span
        # BOTH joined relations — build_join_dim flat-rewrites the AST's
        # qualified references, then the theta probe evaluates it with
        # the tuple's param columns substituted in
        spec = PipelineSpec(
            lookups=[{
                "id": "mx",
                "query": (
                    "SELECT coalesce(p.plan, '?') AS plan "
                    "FROM tool_plans p "
                    "JOIN price_bands b "
                    "ON p.price >= b.lo AND p.price < b.hi "
                    "WHERE p.tool = :tool AND p.price > b.lo + p.qty * :k"
                ),
                "parameters": {"tool": "tool", "k": "k"},
            }]
        )
        enr = LookupEnricher(spec, self._dims(spark), **kw)
        fact = spark.createDataFrame(
            [("t0", 2), ("t1", 1), ("t2", 0)], "tool string, k int"
        )
        got = {
            r["tool"]: sorted(d["plan"] for d in r["mx"])
            for r in enr.apply(fact).select("tool", "mx").collect()
        }
        # all plans fall in the low band (lo=0): price > qty * k
        assert got == {
            "t0": ["basic"],        # 10 > 6; 5 > 8 fails
            "t1": ["pro"],          # 7 > 2
            "t2": ["basic"],        # 2 > 0
        }


class TestOnLiterals:
    """Round-5 late widening: literal ON operands. Derby accepts them
    verbatim (lookup.rb:131-147); with a LEFT join a right-side literal
    in ON is NOT WHERE-expressible — the unmatched left row survives
    with NULLs — so this is a semantic gap, not sugar."""

    PLANS = [
        ("t0", 10, 3, "basic"),
        ("t0", 5, 4, None),
        ("t1", 7, 2, "pro"),
        ("t2", 2, 9, "basic"),
        ("t2", 8, 1, "pro"),
    ]
    BANDS = [(0, 5, "low"), (5, 9, "mid")]

    def _dims(self, spark):
        return {
            "tool_plans": spark.createDataFrame(
                self.PLANS, "tool string, price int, qty int, plan string"
            ),
            "price_bands": spark.createDataFrame(
                self.BANDS, "lo int, hi int, band string"
            ),
        }

    def _run(self, spark, query, kw=None):
        spec = PipelineSpec(
            lookups=[{"id": "x", "query": query,
                      "parameters": {"tool": "tool"}}]
        )
        enr = LookupEnricher(spec, self._dims(spark), **(kw or {}))
        fact = spark.createDataFrame(
            [(f"t{i}",) for i in range(3)], "tool: string"
        )
        return {
            r["tool"]: sorted(tuple(d) for d in r["x"])
            for r in enr.apply(fact).select("tool", "x").collect()
        }

    def test_parse_literal_operands(self):
        q = parse_lookup_query(
            "SELECT p.price AS price FROM tool_plans p "
            "JOIN price_bands b ON p.price >= b.lo AND b.band <> 'low' "
            "AND -1 < p.qty WHERE p.tool = :tool"
        )
        on = q.joins[0].on
        assert on[0] == ("p", "price", ">=", "b", "lo")
        assert on[1] == ("b", "band", "<>", None, "low")
        assert on[2] == (None, -1, "<", "p", "qty")

    def test_two_literals_rejected(self):
        with pytest.raises(ValidationError, match="two literals"):
            parse_lookup_query(
                "SELECT p.price AS price FROM tool_plans p "
                "JOIN price_bands b ON 1 = 1 WHERE p.tool = :tool"
            )

    @pytest.mark.parametrize("kw", PLAN_CONDITIONS)
    def test_left_join_on_literal_keeps_unmatched_rows(self, spark, kw):
        # ON ... AND b.band <> 'low': low-band prices (2) and
        # out-of-band prices (10) keep their row with a NULL band —
        # a WHERE filter would have dropped them entirely
        got = self._run(
            spark,
            "SELECT p.price AS price, coalesce(b.band, '-') AS band "
            "FROM tool_plans p LEFT JOIN price_bands b "
            "ON p.price >= b.lo AND p.price < b.hi AND b.band <> 'low' "
            "WHERE p.tool = :tool",
            kw,
        )
        assert got == {
            "t0": [(5, "mid"), (10, "-")],
            "t1": [(7, "mid")],
            "t2": [(2, "-"), (8, "mid")],
        }

    def test_inner_join_on_literal_equals_where(self, spark):
        on_lit = self._run(
            spark,
            "SELECT p.price AS price, b.band AS band FROM tool_plans p "
            "JOIN price_bands b ON p.price >= b.lo AND p.price < b.hi "
            "AND b.band = 'mid' WHERE p.tool = :tool",
        )
        where = self._run(
            spark,
            "SELECT p.price AS price, b.band AS band FROM tool_plans p "
            "JOIN price_bands b ON p.price >= b.lo AND p.price < b.hi "
            "WHERE p.tool = :tool AND b.band = 'mid'",
        )
        assert on_lit == where == {
            "t0": [(5, "mid")], "t1": [(7, "mid")], "t2": [(8, "mid")],
        }

    def test_on_literal_matches_row_oracle(self, spark):
        from logstash_filter_jdbc_static_spark import oracle

        query = (
            "SELECT p.price AS price, coalesce(b.band, '-') AS band "
            "FROM tool_plans p LEFT JOIN price_bands b "
            "ON p.price >= b.lo AND p.price < b.hi AND b.band <> 'low' "
            "WHERE p.tool = :tool"
        )
        got = self._run(spark, query)
        spec = PipelineSpec(
            lookups=[{"id": "x", "query": query,
                      "parameters": {"tool": "tool"}}]
        )
        tables = {
            "tool_plans": [
                dict(zip(("tool", "price", "qty", "plan"), r))
                for r in self.PLANS
            ],
            "price_bands": [
                dict(zip(("lo", "hi", "band"), r)) for r in self.BANDS
            ],
        }
        exp = {}
        for i in range(3):
            event = {"tool": f"t{i}"}
            oracle.enhance(event, spec, tables)
            exp[f"t{i}"] = sorted(
                (d["price"], d["band"]) for d in event["x"]
            )
        assert got == exp
