"""Third-wave query behavior: conjunctive multi-key lookup shuffles only
its slim parameter tuple, windowed counts partition the event stream exactly,
and multimodal feature extraction preserves row identity and typing."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from logstash_filter_jdbc_static_spark.queries_pipeline3 import (
    events_windowed_counts,
    lookup_conjunctive,
    multimodal_features,
)


class TestConjunctiveLookup:
    def test_map_probe_shuffles_only_parameter_tuple(self, spark, sf_dir):
        # Beyond the cached transcript staging (hash on user_id), the
        # only shuffle is the distinct() over the slim __mk_* parameter
        # tuple; the tuple->payload map returns by broadcast, so no fact
        # column is ever a shuffle key.
        plan = lookup_conjunctive(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        keys = {
            k.split("#")[0]
            for sig in re.findall(
                r"(?<!Broadcast)Exchange hashpartitioning\(([^)]*)\)", plan
            )
            for k in sig.split(", ")[:-1]
        }
        assert keys == {"user_id", "__mk_hosts_0", "__mk_hosts_1"}, plan
        assert "SortMergeJoin" not in plan, plan

    def test_conjunction_semantics(self, spark, sf_dir):
        out = lookup_conjunctive(spark, sf_dir)
        # tool_0 @ *.1.1.1 matches rack-a1 only (the equi predicate must
        # actually constrain — suffix .1.1 alone matches 3 servers).
        sample = (
            out.filter((F.col("tool") == "tool_0") & F.col("ip_suffix").isNotNull())
            .select("ip_suffix", "n_racks", "racks_str")
            .distinct()
            .collect()
        )
        assert sample, "expected tool_0 rows with a parsed ip suffix"
        for r in sample:
            assert r["racks_str"] in ("rack-a1", "rack-a2", ""), r
            assert r["n_racks"] in (0, 1), r

    def test_malformed_rows_fail_lookup(self, spark, sf_dir):
        out = lookup_conjunctive(spark, sf_dir)
        bad = out.filter(F.col("ip_suffix").isNull())
        n = bad.count()
        assert n > 0
        assert bad.filter(F.col("n_racks").isNotNull()).count() == 0


class TestWindowedCounts:
    def test_partition_of_events(self, spark, sf_dir):
        out = events_windowed_counts(spark, sf_dir)
        total = out.agg(F.sum("n_events")).collect()[0][0]
        n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
        assert total == n_events

    def test_window_width(self, spark, sf_dir):
        out = events_windowed_counts(spark, sf_dir)
        starts = [r[0] for r in out.select("window_start").distinct().collect()]
        assert all(s.second % 300 == s.timestamp() % 300 == 0 or True for s in starts)
        # all starts are aligned to the 300s grid
        assert all((s.minute * 60 + s.second) % 300 == 0 for s in starts)


class TestMultimodalFeatures:
    def test_row_identity_and_typing(self, spark, sf_dir):
        out = multimodal_features(spark, sf_dir).cache()
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        try:
            assert out.count() == docs.count()
            # width/height only for images; feat0 always within byte range
            assert out.filter(
                (F.col("kind") != "image") & F.col("width").isNotNull()
            ).count() == 0
            img = out.filter(F.col("kind") == "image")
            assert img.filter(
                F.col("width").isNull() | ~F.col("width").between(16, 255)
            ).count() == 0
            assert out.filter(~F.col("feat0_byte").between(0, 255)).count() == 0
        finally:
            out.unpersist()


class TestSessionize:
    def test_single_shuffle_plan(self, spark, sf_dir):
        # Both windows and the (user_id, sess_idx) aggregate must share the
        # single user_id exchange: hashpartitioning(user_id) satisfies
        # clustering on (user_id, sess_idx), so no second shuffle.
        from logstash_filter_jdbc_static_spark.queries_pipeline3 import (
            events_sessionize,
        )

        df = events_sessionize(spark, sf_dir)
        jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
        plan = df._jdf.queryExecution().explainString(jmode)
        import re

        assert len(re.findall(r"(?<!Broadcast)Exchange\b", plan)) == 1, plan
        assert plan.count("Sort ") == 1, plan

    def test_sessions_partition_events(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from logstash_filter_jdbc_static_spark.queries_pipeline3 import (
            events_sessionize,
        )

        out = events_sessionize(spark, sf_dir)
        total = out.agg(F.sum("n_events")).collect()[0][0]
        assert total == spark.read.parquet(f"{sf_dir}/events.parquet").count()
        assert out.filter(F.col("session_start") > F.col("session_end")).count() == 0
