"""Tier-2 golden e2e cases (FIXTURES.md §4), mirroring
spec/filters/jdbc_static_spec.rb and lookup_spec.rb behavior specs."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F, types as T

from logstash_filter_jdbc_static_spark.operators.processor import LookupEnricher
from logstash_filter_jdbc_static_spark.sources.transcripts import (
    SERVERS_ROWS,
    SERVERS_SCHEMA,
    servers_df,
    tool_catalog_df,
)
from logstash_filter_jdbc_static_spark.spec import PipelineSpec

FACT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("ip", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
    ]
)


def fact(spark, rows):
    return spark.createDataFrame(rows, FACT_SCHEMA)


def one_row(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0]


class TestCanonicalSuffixLike:
    """spec/filters/jdbc_static_spec.rb:90-96: event ip '.3.1.1', pattern
    '%%{[ip]}' => server == [{ip: 10.3.1.1, name: mv-serv'r-1, ...}]."""

    def test_hit(self, spark):
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "server",
                    "query": "SELECT * FROM servers WHERE ip LIKE :ip",
                    "parameters": {"ip": "%%{[ip]}"},
                }
            ]
        )
        enricher = LookupEnricher(spec, {"servers": servers_df(spark)})
        out = enricher.apply(fact(spark, [("c1", 1, ".3.1.1", None)]))
        row = one_row(out)
        assert row["server"] == [
            Row(ip="10.3.1.1", name="mv-serv'r-1", location="MV-9-6-4")
        ]
        assert row["tags"] == []
        assert row["matched"] is True

    def test_empty_loader_result(self, spark):
        # spec/filters/jdbc_static_spec.rb:98-105: no rows loaded => target []
        empty = spark.createDataFrame([], SERVERS_SCHEMA)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "server",
                    "query": "SELECT * FROM servers WHERE ip LIKE :ip",
                    "parameters": {"ip": "%%{[ip]}"},
                }
            ]
        )
        enricher = LookupEnricher(spec, {"servers": empty})
        row = one_row(enricher.apply(fact(spark, [("c1", 1, ".3.1.1", None)])))
        assert row["server"] == []
        assert row["tags"] == []
        assert row["matched"] is True


class TestLargeDim:
    """spec/filters/jdbc_static_spec.rb:107-125: 65,536-row dim, exact-key
    lookup of the last row (10.4.254.255)."""

    def test_65k_exact_hit(self, spark):
        rows = [
            (f"10.4.{o3}.{o4}", f"server-{o3}-{o4}", f"MV-10-{o3}-{o4}")
            for o3 in range(256)
            for o4 in range(256)
        ]
        dim = spark.createDataFrame(rows, SERVERS_SCHEMA)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "server",
                    "query": "SELECT * FROM servers WHERE ip = :ip",
                    "parameters": {"ip": "ip"},
                }
            ]
        )
        enricher = LookupEnricher(spec, {"servers": dim})
        row = one_row(enricher.apply(fact(spark, [("c1", 1, "10.4.254.255", None)])))
        assert row["server"] == [
            Row(ip="10.4.254.255", name="server-254-255", location="MV-10-254-255")
        ]


class TestDefaultOnMiss:
    def test_default_hash_and_tag(self, spark):
        # lookup.rb:93-99, 239-245 + jdbc_static.rb:91-92
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "server",
                    "query": "SELECT name, location FROM servers WHERE ip = :ip",
                    "parameters": {"ip": "ip"},
                    "default_hash": {"name": "unknown", "location": "nowhere"},
                }
            ]
        )
        enricher = LookupEnricher(spec, {"servers": servers_df(spark)})
        row = one_row(enricher.apply(fact(spark, [("c1", 1, "9.9.9.9", None)])))
        assert row["server"] == [Row(name="unknown", location="nowhere")]
        assert row["tags"] == ["_jdbcstaticdefaultsused"]
        assert row["matched"] is True  # default use still counts as matched

    def test_custom_default_tag(self, spark):
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "server",
                    "query": "SELECT name FROM servers WHERE ip = :ip",
                    "parameters": {"ip": "ip"},
                    "default_hash": {"name": "unknown"},
                    "tag_on_default_use": ["has_default"],
                }
            ]
        )
        enricher = LookupEnricher(spec, {"servers": servers_df(spark)})
        row = one_row(enricher.apply(fact(spark, [("c1", 1, "9.9.9.9", None)])))
        assert row["tags"] == ["has_default"]


class TestInvalidParameter:
    """lookup_spec.rb:107-111 + lookup.rb:28-35: nil field => failure tags,
    target untouched, lookup returns false => not matched."""

    def test_null_field(self, spark):
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "server",
                    "query": "SELECT name FROM servers WHERE ip = :ip",
                    "parameters": {"ip": "ip"},
                }
            ]
        )
        enricher = LookupEnricher(spec, {"servers": servers_df(spark)})
        row = one_row(enricher.apply(fact(spark, [("c1", 1, None, None)])))
        assert row["server"] is None
        assert row["tags"] == ["_jdbcstaticfailure"]
        assert row["matched"] is False

    def test_missing_field_in_sprintf(self, spark):
        # Sprintfier found no field (lookup.rb:14-21) => invalid
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "server",
                    "query": "SELECT name FROM servers WHERE ip LIKE :ip",
                    "parameters": {"ip": "%%{[nonexistent]}"},
                    "tag_on_failure": ["lookup_failed"],
                }
            ]
        )
        enricher = LookupEnricher(spec, {"servers": servers_df(spark)})
        row = one_row(enricher.apply(fact(spark, [("c1", 1, "10.1.1.1", None)])))
        assert row["server"] is None
        assert row["tags"] == ["lookup_failed"]
        assert row["matched"] is False


class TestPreparedPositional:
    """lookup_spec.rb:149-224: ? positional params behave like named."""

    def test_single_param(self, spark):
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "server",
                    "query": "SELECT name FROM servers WHERE ip = ?",
                    "prepared_parameters": ["ip"],
                }
            ]
        )
        enricher = LookupEnricher(spec, {"servers": servers_df(spark)})
        row = one_row(enricher.apply(fact(spark, [("c1", 1, "10.2.1.1", None)])))
        assert row["server"] == [Row(name="nyc-server-1")]

    def test_multi_param_conjunction(self, spark):
        # docs/index.asciidoc:122: WHERE userid = ? AND country = ?
        dim = spark.createDataFrame(
            [("10.1.1.1", "ldn-server-1", "LDN-2-3-4"),
             ("10.1.1.1", "ldn-server-2", "LDN-9-9-9")],
            SERVERS_SCHEMA,
        )
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "server",
                    "query": "SELECT name FROM servers WHERE ip = ? AND location = ?",
                    "prepared_parameters": ["ip", "tool"],
                }
            ]
        )
        enricher = LookupEnricher(spec, {"servers": dim})
        row = one_row(
            enricher.apply(fact(spark, [("c1", 1, "10.1.1.1", "LDN-9-9-9")]))
        )
        assert row["server"] == [Row(name="ldn-server-2")]


class TestMultiLookup:
    """lookup_processor.rb:46-48 + jdbc_static.rb:156: all lookups run;
    matched only when every lookup returned true."""

    def _spec(self):
        return PipelineSpec(
            lookups=[
                {
                    "id": "server",
                    "query": "SELECT name FROM servers WHERE ip = :ip",
                    "parameters": {"ip": "ip"},
                },
                {
                    "id": "toolinfo",
                    "query": "SELECT category FROM tool_catalog WHERE tool = :tool",
                    "parameters": {"tool": "tool"},
                    "default_hash": {"category": "unknown"},
                },
            ]
        )

    def test_both_hit(self, spark):
        enricher = LookupEnricher(
            self._spec(),
            {"servers": servers_df(spark), "tool_catalog": tool_catalog_df(spark)},
        )
        row = one_row(enricher.apply(fact(spark, [("c1", 1, "10.1.1.1", "tool_0")])))
        assert row["server"] == [Row(name="ldn-server-1")]
        assert row["toolinfo"] == [Row(category="search")]
        assert row["matched"] is True
        assert row["tags"] == []

    def test_one_failed_gates_matched(self, spark):
        enricher = LookupEnricher(
            self._spec(),
            {"servers": servers_df(spark), "tool_catalog": tool_catalog_df(spark)},
        )
        row = one_row(enricher.apply(fact(spark, [("c1", 1, None, "ghost")])))
        assert row["server"] is None
        assert row["toolinfo"] == [Row(category="unknown")]
        assert row["matched"] is False
        # failure tag first (lookup 1), then default tag (lookup 2)
        assert row["tags"] == ["_jdbcstaticfailure", "_jdbcstaticdefaultsused"]


class TestMultiRowFanIn:
    def test_duplicate_key_dim(self, spark):
        dim = spark.createDataFrame(
            [("10.1.1.1", "b-server", "X"), ("10.1.1.1", "a-server", "Y")],
            SERVERS_SCHEMA,
        )
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "server",
                    "query": "SELECT name FROM servers WHERE ip = :ip",
                    "parameters": {"ip": "ip"},
                }
            ]
        )
        enricher = LookupEnricher(spec, {"servers": dim})
        out = enricher.apply(
            fact(spark, [("c1", 1, "10.1.1.1", None), ("c1", 2, "9.9.9.9", None)])
        )
        rows = {r["turn_idx"]: r for r in out.collect()}
        # deterministic sorted array, one output row per input row
        assert rows[1]["server"] == [Row(name="a-server"), Row(name="b-server")]
        assert rows[2]["server"] == []
        assert out.count() == 2


class TestConjunctiveLike:
    """lookup_spec.rb:191-192: WHERE ip LIKE ? AND os LIKE ? (theta
    conjunction) on the per-distinct-tuple map-probe path."""

    def _spec(self):
        return PipelineSpec(
            lookups=[
                {
                    "id": "server",
                    "query": "SELECT name FROM servers WHERE ip LIKE ? AND location LIKE ?",
                    "prepared_parameters": ["ip", "tool"],
                }
            ]
        )

    def _dim(self, spark):
        return spark.createDataFrame(
            [("10.1.1.1", "ldn-server-1", "LDN-2-3-4"),
             ("10.1.1.2", "ldn-server-2", "NYC-9-9-9"),
             ("10.2.1.1", "nyc-server-1", "LDN-5-5-5")],
            SERVERS_SCHEMA,
        )

    def test_single_turn_match(self, spark):
        from logstash_filter_jdbc_static_spark.operators.processor import (
            LookupEnricher as LE,
        )

        enricher = LE(self._spec(), {"servers": self._dim(spark)})
        row = one_row(enricher.apply(fact(spark, [("c1", 1, "10.1.%", "LDN%")])))
        assert row["server"] == [Row(name="ldn-server-1")]

    def test_bnlj_regroup_path(self, spark):
        from logstash_filter_jdbc_static_spark.operators.processor import (
            LookupEnricher as LE,
        )

        enricher = LE(self._spec(), {"servers": self._dim(spark)})
        out = enricher.apply(
            fact(spark, [("c1", 1, "10.%", "LDN%"), ("c1", 2, "9.%", "X%")])
        )
        rows = {r["turn_idx"]: r for r in out.collect()}
        assert rows[1]["server"] == [Row(name="ldn-server-1"), Row(name="nyc-server-1")]
        assert rows[2]["server"] == []
        assert out.count() == 2  # fan-out regrouped to one row per turn
