"""Plan-quality regression tests: the physical plans we designed for —
broadcast joins on lookups, pruned scans, bounded shuffles — asserted on
the actual Catalyst output so regressions fail loudly."""

from __future__ import annotations

import re

import pytest

from logstash_filter_jdbc_static_spark.plans.pipeline import run_pipeline
from logstash_filter_jdbc_static_spark.sources.transcripts import load_transcripts


def _plan(df, mode="formatted") -> str:
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def _node_col(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def _hash_exchange_keys(plan: str) -> list[list[str]]:
    """Key columns (expression ids stripped) of every non-broadcast hash
    exchange in a simple-mode plan, skipping the subtrees of cached
    relations: a cached input's own staging shuffle is paid once per
    session, not per lookup."""
    kept: list[str] = []
    cache_col = None
    for line in plan.splitlines():
        if cache_col is not None and _node_col(line) > cache_col:
            continue
        cache_col = _node_col(line) if "InMemoryRelation" in line else None
        kept.append(line)
    sigs = re.findall(
        r"(?<!Broadcast)Exchange hashpartitioning\(([^)]*)\)", "\n".join(kept)
    )
    # the last argument is the partition count
    return [[k.split("#")[0] for k in sig.split(", ")[:-1]] for sig in sigs]


def _assert_map_probe(plan: str, sid: str, fact_cols: tuple[str, ...]) -> None:
    """The theta map-probe shape: the one shuffle is the distinct() over
    the slim ``__mk_*`` parameter-tuple columns, the probe is a single
    broadcast nested-loop join, and the map returns by broadcast hash
    join — no fact column is ever a shuffle key."""
    exchanges = _hash_exchange_keys(plan)
    assert len(exchanges) == 1, (exchanges, plan)
    (keys,) = exchanges
    assert keys and all(k.startswith(f"__mk_{sid}_") for k in keys), keys
    assert not set(fact_cols) & set(keys), keys
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "EvalPython" not in plan, plan


@pytest.fixture(scope="module")
def counts_plan(spark, sf_dir):
    t = load_transcripts(spark, sf_dir)
    _, counts = run_pipeline(t, spark)
    # simple mode: each node appears once (formatted repeats nodes in the
    # detail section)
    return _plan(counts, "simple")


@pytest.fixture(scope="module")
def counts_plan_formatted(spark, sf_dir):
    t = load_transcripts(spark, sf_dir)
    _, counts = run_pipeline(t, spark)
    return _plan(counts, "formatted")


class TestFlagshipPlan:
    def test_lookups_are_broadcast_hash_joins(self, counts_plan):
        assert counts_plan.count("BroadcastHashJoin") == 2
        assert "SortMergeJoin" not in counts_plan
        assert "BroadcastNestedLoopJoin" not in counts_plan

    def test_fact_side_exchanges_bounded(self, counts_plan):
        # Exchanges (excluding BroadcastExchange): 2 tiny dim-side
        # groupings + 1 final count shuffle + 1 turn-order window inside
        # the cached derivation (staging, paid once per session). The
        # enrich chain itself (parse -> joins -> route) must not shuffle.
        # Count DISTINCT partitioning signatures: a materialized cached
        # relation prints its AQE plan twice (Final + Initial), which
        # would double-count the same exchange by raw text matching.
        sigs = set(
            re.findall(r"(?<!Broadcast)Exchange (hashpartitioning\([^)]*\))", counts_plan)
        )
        assert len(sigs) <= 4, (sigs, counts_plan)

    def test_scan_is_column_pruned(self, counts_plan_formatted):
        m = re.search(r"ReadSchema: struct<([^>]*)>", counts_plan_formatted)
        assert m, "no parquet scan found"
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        # value/props are never referenced: pruning must reach the scan
        # even through the cached derivation
        assert "value" not in cols and "props" not in cols, cols
        assert {"event_id", "user_id", "event_type"} <= cols, cols


class TestRoutedRowsPlan:
    def test_no_python_udfs_in_hot_path(self, spark, sf_dir):
        t = load_transcripts(spark, sf_dir)
        routed, _ = run_pipeline(t, spark)
        plan = _plan(routed)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


class TestThetaLookupMapProbe:
    """Large-dim LIKE/theta lookups must not shuffle the fact: the only
    Exchange allowed is the distinct() over the slim parameter-tuple
    projection (``__mk_*`` columns), the theta probe runs per distinct
    tuple against the broadcast dim, and the tuple->payload map comes
    back via a broadcast hash join. A regroup that shuffles every fact
    column here was the one scale-killer flagged in round 1."""

    def _enriched(self, spark):
        from pyspark.sql import functions as F

        from logstash_filter_jdbc_static_spark.operators.processor import (
            LookupEnricher,
        )
        from logstash_filter_jdbc_static_spark.spec import PipelineSpec

        dim = spark.range(3000).select(
            F.concat(
                F.lit("10.1."),
                (F.col("id") % 50).cast("string"),
                F.lit("."),
                F.col("id").cast("string"),
            ).alias("ip"),
            F.concat(F.lit("srv-"), F.col("id").cast("string")).alias("name"),
        )
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "server",
                    "query": "SELECT name FROM servers WHERE ip LIKE :pat",
                    "parameters": {"pat": "%{tool}%"},
                }
            ]
        )
        fact = spark.range(10000).select(
            F.concat(F.lit("c"), (F.col("id") % 100).cast("string")).alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.lit("user").alias("role"),
            F.lit("text").alias("text"),
            F.concat(F.lit("10.1."), (F.col("id") % 50).cast("string")).alias("tool"),
            F.current_timestamp().alias("ts"),
        )
        return LookupEnricher(spec, {"servers": dim}).apply(fact)

    def test_fact_never_shuffles_only_slim_tuple_exchange(self, spark):
        plan = _plan(self._enriched(spark), "simple")
        _assert_map_probe(plan, "server", ("conv_id", "turn_idx", "text", "ts"))
        # fan-out-regroup artifacts gone
        assert "first(" not in plan

    @staticmethod
    def _small_like_case(spark):
        """A LIKE lookup over a 50-row dim: (spec, dims, fact)."""
        from pyspark.sql import functions as F

        from logstash_filter_jdbc_static_spark.spec import PipelineSpec

        dim = spark.range(50).select(
            F.col("id").cast("string").alias("ip"),
            F.concat(F.lit("s"), F.col("id").cast("string")).alias("name"),
        )
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "server",
                    "query": "SELECT name FROM servers WHERE ip LIKE :pat",
                    "parameters": {"pat": "%{tool}%"},
                }
            ]
        )
        fact = spark.range(100).select(
            F.lit("c").alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.col("id").cast("string").alias("tool"),
        )
        return spec, {"servers": dim}, fact

    def test_small_dim_like_apply_runs_no_job(self, spark):
        """A LIKE lookup over a small dim, built without a row-count
        hint, compiles and applies (twice, as a micro-batch loop would)
        without a single Spark job: no eager dim count() or collect()
        decides its physical path."""
        from logstash_filter_jdbc_static_spark.operators.processor import (
            LookupEnricher,
        )

        spec, dims, fact = self._small_like_case(spark)
        tracker = spark.sparkContext.statusTracker()
        before = tracker.getJobIdsForGroup(None)
        enr = LookupEnricher(spec, dims)
        first = enr.apply(fact)  # plan construction only
        second = enr.apply(fact)
        after = tracker.getJobIdsForGroup(None)
        assert len(after) == len(before), "small-dim lookup ran a Spark job"
        _assert_map_probe(_plan(first, "simple"), "server", ("conv_id", "turn_idx"))
        assert sorted(map(str, first.collect())) == sorted(map(str, second.collect()))

    def test_dim_rows_hint_is_accepted_and_ignored(self, spark):
        """Callers that still pass ``dim_rows=`` get the same lazy
        map-probe plan and the same rows as callers that do not."""
        from logstash_filter_jdbc_static_spark.operators.processor import (
            LookupEnricher,
        )

        spec, dims, fact = self._small_like_case(spark)
        tracker = spark.sparkContext.statusTracker()
        before = tracker.getJobIdsForGroup(None)
        hinted = LookupEnricher(spec, dims, dim_rows={"servers": 50}).apply(fact)
        after = tracker.getJobIdsForGroup(None)
        assert len(after) == len(before), "dim_rows hint ran a Spark job"
        _assert_map_probe(_plan(hinted, "simple"), "server", ("conv_id", "turn_idx"))
        plain = LookupEnricher(spec, dims).apply(fact)
        assert sorted(map(str, hinted.collect())) == sorted(map(str, plain.collect()))


class TestRelationalPushdown:
    """Filters and projections must reach the parquet scan: at 100 TB the
    difference between scanning 3 columns with a pushed range filter and
    scanning the whole table IS the query time."""

    def _formatted(self, spark, name, sf_dir):
        from logstash_filter_jdbc_static_spark.queries import queries

        df = queries()[name](spark, sf_dir)
        return _plan(df, "formatted")

    def test_pricing_filter_pushed_and_pruned(self, spark, sf_dir):
        plan = self._formatted(spark, "relational_agg_pricing", sf_dir)
        assert "LessThanOrEqual(l_shipdate" in plan, plan
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert "l_comment" not in cols and "l_orderkey" not in cols, cols

    def test_join_filter_pushed_and_dims_broadcast(self, spark, sf_dir):
        from logstash_filter_jdbc_static_spark.queries import queries

        plan = self._formatted(spark, "relational_join_nation_region", sf_dir)
        assert "Not(EqualTo(o_orderstatus,F))" in plan, plan
        # count joins in simple mode (formatted prints each node twice:
        # once in the tree, once as a detail-section header)
        simple = _plan(
            queries()["relational_join_nation_region"](spark, sf_dir), "simple"
        )
        # all three dims broadcast; the orders fact side never shuffles
        assert simple.count("BroadcastHashJoin") == 3, simple
        assert "SortMergeJoin" not in simple

    def test_topk_is_take_ordered_not_global_sort(self, spark, sf_dir):
        """ORDER BY + LIMIT must plan TakeOrderedAndProject (per-partition
        heap + driver merge of k rows) — a global Sort+Exchange of the
        whole fact is the 100 TB failure mode."""
        from logstash_filter_jdbc_static_spark.queries_relational import (
            relational_topk_orders,
        )

        plan = _plan(relational_topk_orders(spark, sf_dir), "simple")
        assert "TakeOrderedAndProject" in plan, plan
        assert "Exchange" not in plan, plan

    def test_window_running_is_single_exchange(self, spark, sf_dir):
        """row_number + running sum over the SAME window spec must share
        one partitioning: exactly one shuffle on o_custkey, one Window."""
        from logstash_filter_jdbc_static_spark.queries_relational import (
            relational_window_running,
        )

        plan = _plan(relational_window_running(spark, sf_dir), "simple")
        assert plan.count("Window") == 1, plan
        assert plan.count("Exchange") == 1, plan
        assert "hashpartitioning(o_custkey" in plan, plan

    def test_events_rollup_partial_agg_and_pruned_scan(self, spark, sf_dir):
        """groupBy rollup: map-side partial HashAggregate before the one
        shuffle, and the scan reads only the 3 referenced columns."""
        from logstash_filter_jdbc_static_spark.queries_relational import (
            events_rollup,
        )

        df = events_rollup(spark, sf_dir)
        simple = _plan(df, "simple")
        assert simple.count("HashAggregate") == 2, simple  # partial + final
        assert simple.count("Exchange") == 1, simple
        formatted = _plan(df, "formatted")
        m = re.search(r"ReadSchema: struct<([^>]*)>", formatted)
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert cols == {"user_id", "event_type", "value"}, cols

    def test_global_shuffle_is_single_exchange_window(self, spark, sf_dir):
        """Seeded global shuffle: one hash exchange on shard + one Window
        for pos; no extra sort-merge machinery, scan pruned to doc_id."""
        from logstash_filter_jdbc_static_spark.queries_pipeline6 import (
            documents_global_shuffle,
        )

        df = documents_global_shuffle(spark, sf_dir)
        simple = _plan(df, "simple")
        # exactly one HASH exchange (on shard); the round-robin staging
        # repartition from load_table_split is input spreading, not a
        # data-dependent shuffle
        assert simple.count("Exchange hashpartitioning") == 1, simple
        assert "hashpartitioning(shard" in simple, simple
        assert simple.count("Window") == 1, simple
        assert "EvalPython" not in simple
        formatted = _plan(df, "formatted")
        m = re.search(r"ReadSchema: struct<([^>]*)>", formatted)
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert cols == {"doc_id"}, cols


class TestWidenedLookupPlans:
    """Round-3 widened WHERE shapes must not degrade the physical story:
    IN/OR against small dims and a param-bound BETWEEN all take the
    map-probe path with the fact exchange-free (only the slim tuple
    distinct() shuffles, beyond the shared transcript staging)."""

    def test_in_and_or_shapes_compile_to_map_probe(self, spark, sf_dir):
        from logstash_filter_jdbc_static_spark.queries_pipeline5 import (
            lookup_in_list,
            lookup_or_disjunction,
        )

        for query, sid in (
            (lookup_in_list, "toolhits"),
            (lookup_or_disjunction, "server"),
        ):
            plan = _plan(query(spark, sf_dir), "simple")
            _assert_map_probe(
                plan, sid, ("conv_id", "turn_idx", "text", "tool", "from_ip")
            )

    def test_between_map_probe_keeps_fact_exchange_free(self, spark):
        from pyspark.sql import functions as F

        from logstash_filter_jdbc_static_spark.operators.processor import (
            LookupEnricher,
        )
        from logstash_filter_jdbc_static_spark.spec import PipelineSpec

        dim = spark.range(5000).select(
            F.col("id").alias("k"),
            F.concat(F.lit("n"), F.col("id").cast("string")).alias("name"),
        )
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "rng",
                    "query": "SELECT name FROM dim WHERE k BETWEEN :lo AND :hi "
                             "AND name IS NOT NULL",
                    "parameters": {"lo": "lo", "hi": "hi"},
                }
            ]
        )
        fact = spark.range(20000).select(
            F.lit("c").alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            (F.col("id") % 40 * 100).alias("lo"),
            (F.col("id") % 40 * 100 + 3).alias("hi"),
        )
        enr = LookupEnricher(spec, {"dim": dim})
        plan = _plan(enr.apply(fact), "simple")
        _assert_map_probe(plan, "rng", ("conv_id", "turn_idx", "lo", "hi"))


class TestResultShapePlans:
    """ORDER BY / LIMIT / DISTINCT / aggregate lookups must keep the
    physical story: the equi path stays ONE broadcast hash join with all
    sorting/aggregation on the dim side (once per snapshot), and a theta
    lookup keeps the fact exchange-free on the map-probe path."""

    def _plan_for(self, spark, query):
        from pyspark.sql import functions as F

        from logstash_filter_jdbc_static_spark.operators.processor import (
            LookupEnricher,
        )
        from logstash_filter_jdbc_static_spark.spec import PipelineSpec

        dim = spark.createDataFrame(
            [("t0", 3, "10.1.1.1"), ("t0", 1, "10.3.1.1"), ("t1", 7, "10.2.1.1")],
            "tool string, num int, ip string",
        )
        spec = PipelineSpec(
            lookups=[{"id": "hit", "query": query, "parameters": {"t": "t"}}]
        )
        fact = spark.range(1000).select(
            F.lit("c").alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("t"),
        )
        out = LookupEnricher(spec, {"hosts": dim}).apply(fact)
        return _plan(out, "simple")

    def test_equi_order_limit_stays_single_broadcast_join(self, spark):
        plan = self._plan_for(
            spark,
            "SELECT ip FROM hosts WHERE tool = :t ORDER BY num DESC LIMIT 2",
        )
        assert plan.count("BroadcastHashJoin") == 1, plan
        assert "SortMergeJoin" not in plan
        assert "NestedLoop" not in plan
        assert "EvalPython" not in plan
        # the ORDER BY is an array_sort INSIDE the dim aggregation — it
        # must not become a fact-side global Sort
        fact_side = plan.split("BroadcastHashJoin")[0]
        assert "Sort " not in fact_side, plan

    def test_equi_aggregate_stays_single_broadcast_join(self, spark):
        plan = self._plan_for(
            spark,
            "SELECT count(*) AS n, max(ip) AS mx FROM hosts WHERE tool = :t",
        )
        assert plan.count("BroadcastHashJoin") == 1, plan
        assert "SortMergeJoin" not in plan
        assert "NestedLoop" not in plan
        # dim-side HashAggregate, not a fact-side one: the join's stream
        # side must carry no aggregate
        fact_side = plan.split("BroadcastHashJoin")[0]
        assert "HashAggregate" not in fact_side, plan

    def test_theta_distinct_order_is_map_probe(self, spark):
        plan = self._plan_for(
            spark,
            "SELECT DISTINCT ip FROM hosts WHERE ip LIKE :t ORDER BY ip",
        )
        _assert_map_probe(plan, "hit", ("conv_id", "turn_idx", "t"))


class TestExprLookupPlans:
    """Round-4 widened SQL keeps the physical story: a static
    column/expression comparand rides the dim as a load-time filter
    (the probe stays ONE broadcast hash join), and a scalar subquery
    is resolved to a literal BEFORE compile — no subquery node, no
    extra join in the per-event plan."""

    def _plan_for(self, spark, query):
        from pyspark.sql import functions as F

        from logstash_filter_jdbc_static_spark.operators.processor import (
            LookupEnricher,
        )
        from logstash_filter_jdbc_static_spark.spec import PipelineSpec

        dim = spark.createDataFrame(
            [("t0", 3, "10.1.1.1"), ("t0", 1, "10.3.1.1"), ("t1", 7, "10.2.1.1")],
            "tool string, num int, ip string",
        )
        spec = PipelineSpec(
            lookups=[{"id": "hit", "query": query, "parameters": {"t": "t"}}]
        )
        fact = spark.range(1000).select(
            F.lit("c").alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("t"),
        )
        out = LookupEnricher(spec, {"hosts": dim}).apply(fact)
        return _plan(out, "simple")

    def test_column_comparand_keeps_broadcast_hash(self, spark):
        plan = self._plan_for(
            spark,
            "SELECT ip FROM hosts WHERE tool = :t AND num > length(ip) - 8",
        )
        assert plan.count("BroadcastHashJoin") == 1, plan
        assert "SortMergeJoin" not in plan
        assert "NestedLoop" not in plan
        assert "EvalPython" not in plan
        # the static expression filter must run on the dim (build) side,
        # never on the fact stream side
        fact_side = plan.split("BroadcastHashJoin")[0]
        assert "length" not in fact_side, plan

    def test_subquery_resolves_to_literal_before_compile(self, spark):
        plan = self._plan_for(
            spark,
            "SELECT ip FROM hosts WHERE tool = :t "
            "AND num >= (SELECT min(num) FROM hosts)",
        )
        assert plan.count("BroadcastHashJoin") == 1, plan
        assert "Subquery" not in plan, plan
        assert "NestedLoop" not in plan
        # resolved per snapshot: the literal 1 (min(num)) is already
        # folded into the dim-side filter
        fact_side = plan.split("BroadcastHashJoin")[0]
        assert "min(" not in fact_side, plan

    def test_correlated_subquery_stays_dim_side(self, spark):
        plan = self._plan_for(
            spark,
            "SELECT ip FROM hosts WHERE tool = :t AND num >= "
            "(SELECT avg(h2.num) FROM hosts h2 WHERE h2.tool = hosts.tool)",
        )
        # the per-group aggregate joins the DIM once per snapshot: the
        # fact still sees exactly one broadcast hash join and no
        # per-event subquery machinery
        assert plan.count("BroadcastHashJoin") <= 2, plan
        assert "Subquery" not in plan, plan
        assert "NestedLoop" not in plan
        fact_side = plan.split("BroadcastHashJoin")[0]
        assert "avg(" not in fact_side, plan
        assert "HashAggregate" not in fact_side, plan

    def test_nested_ineq_uncorrelated_host_folds_to_literal(self, spark):
        # round-5 latest: a nested INEQUALITY correlation under an
        # UNCORRELATED top subquery still folds the whole chain to a
        # snapshot literal — the nested per-tuple theta frame runs in the
        # driver-side _eval_subquery, never in the per-event plan
        plan = self._plan_for(
            spark,
            "SELECT ip FROM hosts WHERE tool = :t AND num >= "
            "(SELECT max(h2.num) FROM hosts h2 WHERE h2.num > "
            "(SELECT avg(h3.num) FROM hosts h3 WHERE h3.num < h2.num))",
        )
        assert plan.count("BroadcastHashJoin") == 1, plan
        assert "Subquery" not in plan, plan
        assert "NestedLoop" not in plan, plan

    def test_nested_ineq_under_correlated_host_keeps_fact_clean(self, spark):
        # round-5 latest: under a CORRELATED top subquery the nested
        # theta join rides the dim BUILD side (snapshot-time, dim-
        # sized; without eq keys it is a broadcast nested loop there)
        # — the fact side stays exchange- and aggregate-free
        plan = self._plan_for(
            spark,
            "SELECT ip FROM hosts WHERE tool = :t AND num >= "
            "(SELECT avg(h2.num) FROM hosts h2 "
            "WHERE h2.tool = hosts.tool AND h2.num > "
            "(SELECT min(h3.num) FROM hosts h3 WHERE h3.num < h2.num))",
        )
        assert "Subquery" not in plan, plan
        fact_side = plan.split("BroadcastHashJoin")[0]
        assert "NestedLoop" not in fact_side, plan
        assert "HashAggregate" not in fact_side, plan
        assert "avg(" not in fact_side, plan


class TestGroupedLookupPlan:
    def test_equi_group_by_stays_single_broadcast_join(self, spark):
        from pyspark.sql import functions as F

        from logstash_filter_jdbc_static_spark.operators.processor import (
            LookupEnricher,
        )
        from logstash_filter_jdbc_static_spark.spec import PipelineSpec

        dim = spark.createDataFrame(
            [("t0", "x", 1), ("t0", "y", 2), ("t1", "x", 3)],
            "tool string, cat string, num int",
        )
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "grp",
                    "query": "SELECT cat, count(*) AS n, sum(num) AS s "
                             "FROM hosts WHERE tool = :t GROUP BY cat "
                             "HAVING count(*) >= 1",
                    "parameters": {"t": "t"},
                }
            ]
        )
        fact = spark.range(1000).select(
            F.lit("c").alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("t"),
        )
        out = LookupEnricher(spec, {"hosts": dim}).apply(fact)
        plan = _plan(out, "simple")
        assert plan.count("BroadcastHashJoin") == 1, plan
        assert "SortMergeJoin" not in plan
        assert "NestedLoop" not in plan
        assert "EvalPython" not in plan
        # both aggregation levels live on the dim (build) side
        fact_side = plan.split("BroadcastHashJoin")[0]
        assert "HashAggregate" not in fact_side, plan


class TestUnionLookupPlan:
    def test_union_is_n_broadcast_probes_no_fact_shuffle(self, spark):
        from pyspark.sql import functions as F

        from logstash_filter_jdbc_static_spark.operators.processor import (
            LookupEnricher,
        )
        from logstash_filter_jdbc_static_spark.spec import PipelineSpec

        d1 = spark.createDataFrame(
            [("t0", "a"), ("t1", "b")], "tool string, v string"
        )
        d2 = spark.createDataFrame(
            [("t0", "x"), ("t2", "y")], "tool string, w string"
        )
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "hit",
                    "query": (
                        "SELECT v AS val FROM d1 WHERE tool = :t "
                        "UNION ALL SELECT w FROM d2 WHERE tool = :t"
                    ),
                    "parameters": {"t": "t"},
                }
            ]
        )
        fact = spark.range(1000).select(
            F.lit("c").alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("t"),
        )
        out = LookupEnricher(spec, {"d1": d1, "d2": d2}).apply(fact)
        plan = _plan(out, "simple")
        # one broadcast probe per branch, nothing else: no sort-merge,
        # no nested-loop, no fact-side exchange (the only allowed
        # shuffles are each branch's tiny DIM-side key-grouping, keyed
        # by the dim join column)
        assert plan.count("BroadcastHashJoin") == 2, plan
        assert "SortMergeJoin" not in plan
        assert "NestedLoop" not in plan
        assert "EvalPython" not in plan
        import re as _re

        sigs = _re.findall(
            r"(?<!Broadcast)Exchange hashpartitioning\(([^)]*)\)", plan
        )
        assert len(sigs) <= 2, plan
        for s in sigs:
            assert s.startswith("tool#"), (s, plan)
            for fact_col in ("conv_id", "turn_idx", "t#"):
                assert fact_col not in s, (s, plan)


class TestSnapshotPin:
    """A compiled lookup prepares its dim side once per snapshot: the
    equi path's key-grouped dim is pinned on the first apply, so every
    later apply (each streaming micro-batch until the next reload) only
    probes.
    """

    @staticmethod
    def _jobs(spark) -> int:
        return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))

    @staticmethod
    def _parsed_fact(spark):
        from logstash_filter_jdbc_static_spark.operators.parse import GrokParser
        from logstash_filter_jdbc_static_spark.plans.pipeline import (
            TRANSCRIPT_GROK,
        )

        rows = [
            ("c1", 0, "user", "call from_ip=10.1.1.1", "tool_0"),
            ("c1", 1, "tool", "call from_ip=10.9.9.9", "tool_ghost"),
            ("c2", 0, "assistant", "no address here", "tool_1"),
        ]
        fact = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string, tool string"
        )
        return GrokParser(TRANSCRIPT_GROK, required=["from_ip"]).apply(fact)

    def test_second_equi_apply_reads_pinned_grouping(self, spark):
        from logstash_filter_jdbc_static_spark.plans.pipeline import build_enricher

        enricher = build_enricher(spark)
        fact = self._parsed_fact(spark)
        first = enricher.apply(fact)
        want = sorted(
            (r["conv_id"], r["turn_idx"], str(r["server"]), str(r["toolinfo"]))
            for r in first.collect()
        )
        before = self._jobs(spark)
        second = enricher.apply(fact)
        assert self._jobs(spark) == before, "second apply ran a Spark job"
        plan = _plan(second, "simple")
        assert plan.count("BroadcastHashJoin") == 2, plan
        # the fact here never shuffles, so any hash exchange would be a
        # dim regrouping
        assert not re.search(r"(?<!Broadcast)Exchange hashpartitioning", plan), plan
        got = sorted(
            (r["conv_id"], r["turn_idx"], str(r["server"]), str(r["toolinfo"]))
            for r in second.collect()
        )
        assert got == want

    def test_pin_is_per_snapshot(self, spark):
        from logstash_filter_jdbc_static_spark.operators.processor import (
            LookupEnricher,
        )
        from logstash_filter_jdbc_static_spark.plans.refresh import DimensionStore
        from logstash_filter_jdbc_static_spark.sources.transcripts import (
            SERVERS_SCHEMA,
        )
        from logstash_filter_jdbc_static_spark.spec import (
            LoaderSpec,
            LocalDbObject,
            PipelineSpec,
        )

        calls = {"n": 0}

        def fetch():
            calls["n"] += 1
            return spark.createDataFrame(
                [("10.1.1.1", f"v{calls['n']}", "L")], SERVERS_SCHEMA
            )

        store = DimensionStore(
            spark,
            [LocalDbObject({"name": "servers",
                            "columns": [["ip", "varchar(64)"],
                                        ["name", "varchar(64)"],
                                        ["location", "varchar(64)"]]})],
            [(LoaderSpec({"local_table": "servers", "query": "q"}), fetch)],
        )
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "server",
                    "query": "SELECT name FROM servers WHERE ip = :ip",
                    "parameters": {"ip": "from_ip"},
                }
            ]
        )
        fact = self._parsed_fact(spark)

        def names(enricher):
            return {
                r["server"][0]["name"]
                for r in enricher.apply(fact).collect()
                if r["server"]
            }

        store.initial_load()
        a = LookupEnricher(spec, store.dims())
        assert names(a) == {"v1"}
        store.refresh()
        b = LookupEnricher(spec, store.dims())
        assert [names(a), names(b), names(a), names(b)] == [
            {"v1"}, {"v2"}, {"v1"}, {"v2"},
        ]
        # both snapshots are served from pins, not by regrouping
        for enricher in (a, b):
            plan = _plan(enricher.apply(fact), "simple")
            assert not re.search(
                r"(?<!Broadcast)Exchange hashpartitioning", plan
            ), plan
