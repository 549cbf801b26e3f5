"""The flagship parse -> enrich -> route -> aggregate pipeline
(north_rule), wired with the reference's lookup semantics.

One Catalyst plan end-to-end: native regexp parse (codegen), two
broadcast lookups (servers by parsed ip, tool_catalog by tool), tag
accumulation, route labeling, and per-sink aggregation. The fact side
never shuffles before the final (tiny, bounded-cardinality) aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from logstash_filter_jdbc_static_spark.operators.aggregate import sink_counts
from logstash_filter_jdbc_static_spark.operators.parse import GrokParser
from logstash_filter_jdbc_static_spark.operators.processor import LookupEnricher
from logstash_filter_jdbc_static_spark.operators.route import with_route
from logstash_filter_jdbc_static_spark.sources.transcripts import (
    servers_df,
    tool_catalog_df,
)
from logstash_filter_jdbc_static_spark.spec import PipelineSpec

# Grok pattern for the transcript text shape; from_ip is the lookup key.
TRANSCRIPT_GROK = r"from_ip=%{IPV4:from_ip}"

SERVER_DEFAULT = {"ip": "0.0.0.0", "name": "unknown-server", "location": "NOWHERE"}
TOOL_DEFAULT = {"category": "uncataloged", "owner": "nobody", "risk_level": 9}


def flagship_spec() -> PipelineSpec:
    """Two chained lookups, both with default_hash (miss => miss sink),
    invalid parse (missing from_ip) => failure tag => malformed sink."""
    return PipelineSpec(
        lookups=[
            {
                "id": "server",
                "query": "SELECT ip, name, location FROM servers WHERE ip = :ip",
                "parameters": {"ip": "from_ip"},
                "default_hash": SERVER_DEFAULT,
            },
            {
                "id": "toolinfo",
                "query": "SELECT category, owner, risk_level FROM tool_catalog "
                         "WHERE tool = :tool",
                "parameters": {"tool": "tool"},
                "default_hash": TOOL_DEFAULT,
            },
        ]
    )


def build_enricher(spark: SparkSession, spec: PipelineSpec | None = None) -> LookupEnricher:
    dims = {"servers": servers_df(spark), "tool_catalog": tool_catalog_df(spark)}
    return LookupEnricher(spec or flagship_spec(), dims)


def enrich_and_route(
    transcripts: DataFrame,
    enricher: LookupEnricher,
    parser: GrokParser | None = None,
) -> DataFrame:
    """parse -> enrich -> tags -> route, no aggregation. Routing reads
    the tags the enricher's lookups were configured to add, so a config
    with its own ``tag_on_failure`` / ``tag_on_default_use`` routes the
    same as one with the reference defaults."""
    parser = parser or GrokParser(TRANSCRIPT_GROK, required=["from_ip"])
    parsed = parser.apply(transcripts)
    enriched = enricher.apply(parsed)
    lookups = enricher.spec.lookups
    return with_route(
        enriched,
        failure_tags=list(dict.fromkeys(t for lk in lookups for t in lk.tag_on_failure)),
        default_tags=list(dict.fromkeys(t for lk in lookups for t in lk.tag_on_default_use)),
    )


def run_pipeline(
    transcripts: DataFrame, spark: SparkSession, spec: PipelineSpec | None = None
) -> tuple[DataFrame, DataFrame]:
    """Returns (routed_rows, per_sink_counts)."""
    enricher = build_enricher(spark, spec)
    routed = enrich_and_route(transcripts, enricher)
    return routed, sink_counts(routed)


def routed_projection(routed: DataFrame) -> DataFrame:
    """Canonical scalar projection of the routed rows for cross-engine
    equality checks (arrays/structs stringified deterministically)."""
    return routed.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "text",
        "route",
        F.get(F.col("server"), 0).getField("name").alias("server_name"),
        F.get(F.col("server"), 0).getField("location").alias("server_location"),
        F.get(F.col("toolinfo"), 0).getField("category").alias("tool_category"),
        F.get(F.col("toolinfo"), 0).getField("owner").alias("tool_owner"),
        F.get(F.col("toolinfo"), 0).getField("risk_level").alias("tool_risk"),
        F.array_join(F.col("tags"), ",").alias("tags_str"),
        F.col("matched"),
    )
