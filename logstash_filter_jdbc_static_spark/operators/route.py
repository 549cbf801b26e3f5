"""Route stage: tag-driven fan-out to hit / miss (default-used) /
malformed sinks.

Tag semantics from the reference drive the routing (SURVEY 2C):
``_jdbcstaticfailure`` (jdbc_static.rb:87-89) => malformed sink,
``_jdbcstaticdefaultsused`` (jdbc_static.rb:91-92) => miss sink,
untagged => hit sink. Precedence failure > default > hit
(a row that both failed one lookup and defaulted another is malformed).

Physically: one ``route`` label column computed with when/otherwise; the
sinks are the partitions of that column. ``job.run_job`` writes them in
one pass with ``partitionBy("batch", "route")`` (one shuffle-free
dynamic-partition write, no per-sink rescan) and streaming's
``foreachBatch`` appends the same way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from logstash_filter_jdbc_static_spark.spec import (
    DEFAULT_TAG_ON_DEFAULT_USE,
    DEFAULT_TAG_ON_FAILURE,
)

ROUTE_COL = "route"
ROUTE_HIT = "hit"
ROUTE_MISS = "miss"
ROUTE_MALFORMED = "malformed"


def route_label(
    failure_tags: list[str] | None = None,
    default_tags: list[str] | None = None,
) -> Column:
    """Route label from the tags column (failure ≻ default ≻ hit)."""
    failure_tags = failure_tags or DEFAULT_TAG_ON_FAILURE
    default_tags = default_tags or DEFAULT_TAG_ON_DEFAULT_USE
    has_failure = F.arrays_overlap(
        F.col("tags"), F.array(*[F.lit(t) for t in failure_tags])
    )
    has_default = F.arrays_overlap(
        F.col("tags"), F.array(*[F.lit(t) for t in default_tags])
    )
    return (
        F.when(has_failure, F.lit(ROUTE_MALFORMED))
        .when(has_default, F.lit(ROUTE_MISS))
        .otherwise(F.lit(ROUTE_HIT))
    )


def with_route(df: DataFrame, **kwargs) -> DataFrame:
    return df.withColumn(ROUTE_COL, route_label(**kwargs))
