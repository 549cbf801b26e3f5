"""Eighth wave of gated queries: scalar expressions in lookup SQL
(round-3 verdict #2) — arithmetic in WHERE/projection and
CASE/COALESCE projections. The reference hands lookup SQL verbatim to
Derby (lib/logstash/filters/jdbc/lookup.rb:131-147), so these are
legal lookup configs there; our parser compiles them to synthetic
dim-side columns (operators/sqlexpr.py) so every physical path stays
the plan it was.

``lookup_arith`` — ``WHERE price * qty >= :lim AND tool = :tool`` with
the arithmetic also projected (``price * qty AS total``): a mixed
range+equi probe whose computed column is evaluated ONCE on the 7-row
dim, never per fact row. Physical path: per-distinct-tuple map-probe
with a broadcast map-back, so the fact side never shuffles.

``lookup_case_projection`` — ``COALESCE``/``CASE`` projections on a
pure-equi lookup: the computed payload fields ride the key-grouped
broadcast dim, so the fact side still takes a single BroadcastHashJoin
and never shuffles — the 100 TB plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from logstash_filter_jdbc_static_spark.operators.processor import LookupEnricher
from logstash_filter_jdbc_static_spark.queries import register
from logstash_filter_jdbc_static_spark.sources.transcripts import (
    TRANSCRIPTS_CTE,
    load_transcripts,
    values_cte,
    with_ctes,
)
from logstash_filter_jdbc_static_spark.spec import PipelineSpec

PLAN_ROWS = [
    ("tool_0", 10, 3, "basic"),
    ("tool_0", 5, 4, None),
    ("tool_1", 7, 2, "pro"),
    ("tool_2", 2, 9, "basic"),
    ("tool_2", 8, 1, "pro"),
    ("tool_3", 8, 8, None),
    ("tool_4", 1, 5, "trial"),
    # no tool_5 row: valid-but-empty payload; tool_ghost: same
]
PLAN_SCHEMA = T.StructType(
    [
        T.StructField("tool", T.StringType(), False),
        T.StructField("price", T.IntegerType(), False),
        T.StructField("qty", T.IntegerType(), False),
        T.StructField("plan", T.StringType(), True),
    ]
)
_PLANS_CTE = values_cte(
    "tool_plans", PLAN_ROWS, ["tool", "price", "qty", "plan"],
    casts={"price": "INTEGER", "qty": "INTEGER"},
)


@register(
    "lookup_arith",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        proj AS (
          SELECT tool, price * qty AS total FROM tool_plans
        )
        """,
        """
        f AS (
          SELECT conv_id, turn_idx, tool,
                 CAST(turn_idx % 40 AS INTEGER) AS lim
          FROM transcripts
        )
        """,
        body="""
        SELECT f.conv_id, f.turn_idx, f.tool, f.lim,
               CAST(count(p.total) AS BIGINT) AS n_plans,
               coalesce(
                 array_to_string(
                   list(CAST(p.total AS VARCHAR) ORDER BY p.total)
                     FILTER (WHERE p.total IS NOT NULL),
                   ','),
                 '') AS totals_str
        FROM f
        LEFT JOIN proj p ON p.tool = f.tool AND p.total >= f.lim
        GROUP BY 1, 2, 3, 4
        """,
    ),
)
def lookup_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_transcripts(spark, sf_dir).withColumn(
        "lim", (F.col("turn_idx") % 40).cast("int")
    )
    spec = PipelineSpec(
        lookups=[
            {
                "id": "plans",
                "query": (
                    "SELECT price * qty AS total FROM tool_plans "
                    "WHERE price * qty >= :lim AND tool = :tool"
                ),
                "parameters": {"lim": "lim", "tool": "tool"},
            }
        ]
    )
    enricher = LookupEnricher(
        spec, {"tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)}
    )
    out = enricher.apply(t)
    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        "lim",
        F.size("plans").cast("long").alias("n_plans"),
        F.array_join(
            F.transform(
                F.col("plans"), lambda r: r.getField("total").cast("string")
            ),
            ",",
        ).alias("totals_str"),
    )


@register(
    "lookup_case_projection",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        proj AS (
          SELECT tool,
                 coalesce(plan, 'none') AS plan_name,
                 CASE WHEN price >= 5 THEN 'hi' ELSE 'lo' END AS band
          FROM tool_plans
        )
        """,
        """
        agg AS (
          SELECT tool,
                 CAST(count(*) AS BIGINT) AS n_plans,
                 array_to_string(
                   list(plan_name || ':' || band ORDER BY plan_name, band),
                   '|') AS plans_str
          FROM proj
          GROUP BY tool
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               coalesce(a.n_plans, CAST(0 AS BIGINT)) AS n_plans,
               coalesce(a.plans_str, '') AS plans_str
        FROM transcripts t
        LEFT JOIN agg a ON a.tool = t.tool
        """,
    ),
)
def lookup_case_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "plans",
                "query": (
                    "SELECT coalesce(plan, 'none') AS plan_name, "
                    "CASE WHEN price >= 5 THEN 'hi' ELSE 'lo' END AS band "
                    "FROM tool_plans WHERE tool = :tool"
                ),
                "parameters": {"tool": "tool"},
            }
        ]
    )
    enricher = LookupEnricher(
        spec, {"tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)}
    )
    out = enricher.apply(t)
    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size("plans").cast("long").alias("n_plans"),
        F.array_join(
            F.transform(
                F.col("plans"),
                lambda r: F.concat(
                    r.getField("plan_name"), F.lit(":"), r.getField("band")
                ),
            ),
            "|",
        ).alias("plans_str"),
    )


@register(
    "lookup_col_rhs",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        m AS (
          SELECT tool, price, qty FROM tool_plans WHERE price >= qty * 2
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CAST(count(m.price) AS BIGINT) AS n_plans,
               coalesce(
                 array_to_string(
                   list(CAST(m.price AS VARCHAR) || ':' || CAST(m.qty AS VARCHAR)
                        ORDER BY m.price, m.qty),
                   ','),
                 '') AS pairs_str
        FROM transcripts t
        LEFT JOIN m ON m.tool = t.tool
        GROUP BY 1, 2, 3
        """,
    ),
)
def lookup_col_rhs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4 lookup-SQL widening: a static dim-side column/expression
    COMPARAND — ``price >= qty * 2`` compares two columns of the SAME
    dim row (the reference runs it verbatim in Derby, lookup.rb:131-147).
    The comparand compiles to a synthetic dim column, the predicate has
    no params, so it rides the dim as a load-time filter and the fact
    side keeps the single broadcast-hash equi plan — the 100 TB shape."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "plans",
                "query": (
                    "SELECT price, qty FROM tool_plans "
                    "WHERE tool = :tool AND price >= qty * 2"
                ),
                "parameters": {"tool": "tool"},
            }
        ]
    )
    enricher = LookupEnricher(
        spec, {"tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)}
    )
    out = enricher.apply(t)
    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size("plans").cast("long").alias("n_plans"),
        F.array_join(
            F.transform(
                F.col("plans"),
                lambda r: F.concat(
                    r.getField("price").cast("string"),
                    F.lit(":"),
                    r.getField("qty").cast("string"),
                ),
            ),
            ",",
        ).alias("pairs_str"),
    )


@register(
    "lookup_subquery",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        m AS (
          SELECT tool, price FROM tool_plans
          WHERE price >= (SELECT avg(price) FROM tool_plans
                          WHERE plan IS NOT NULL)
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CAST(count(m.price) AS BIGINT) AS n_hits,
               coalesce(
                 array_to_string(
                   list(CAST(m.price AS VARCHAR) ORDER BY m.price),
                   ','),
                 '') AS prices_str
        FROM transcripts t
        LEFT JOIN m ON m.tool = t.tool
        GROUP BY 1, 2, 3
        """,
    ),
)
def lookup_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4 lookup-SQL widening: an uncorrelated scalar subquery
    comparand with its own WHERE. Derby evaluates it per event
    (lookup.rb:131-147); the Spark-first hoist evaluates it ONCE per
    refresh snapshot (a dim-sized aggregation) and substitutes the
    scalar before compile, so the per-event plan is unchanged
    broadcast-hash equi."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "plans",
                "query": (
                    "SELECT price FROM tool_plans WHERE tool = :tool "
                    "AND price >= (SELECT avg(price) FROM tool_plans "
                    "WHERE plan IS NOT NULL)"
                ),
                "parameters": {"tool": "tool"},
            }
        ]
    )
    enricher = LookupEnricher(
        spec, {"tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)}
    )
    out = enricher.apply(t)
    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size("plans").cast("long").alias("n_hits"),
        F.array_join(
            F.transform(
                F.col("plans"), lambda r: r.getField("price").cast("string")
            ),
            ",",
        ).alias("prices_str"),
    )


BAND_ROWS = [(0, 5, "low"), (5, 9, "mid")]  # price 10 falls outside: NULL band
BAND_SCHEMA = T.StructType(
    [
        T.StructField("lo", T.IntegerType(), False),
        T.StructField("hi", T.IntegerType(), False),
        T.StructField("band", T.StringType(), False),
    ]
)
_BANDS_CTE = values_cte(
    "price_bands", BAND_ROWS, ["lo", "hi", "band"],
    casts={"lo": "INTEGER", "hi": "INTEGER"},
)


@register(
    "lookup_join_range",
    with_ctes(
        _PLANS_CTE,
        _BANDS_CTE,
        TRANSCRIPTS_CTE,
        """
        j AS (
          SELECT p.tool, p.price, b.band
          FROM tool_plans p
          LEFT JOIN price_bands b ON p.price >= b.lo AND p.price < b.hi
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CAST(count(j.price) AS BIGINT) AS n_rows,
               coalesce(
                 array_to_string(
                   list(CAST(j.price AS VARCHAR) || ':' || coalesce(j.band, '-')
                        ORDER BY j.price, j.band),
                   ','),
                 '') AS bands_str
        FROM transcripts t
        LEFT JOIN j ON j.tool = t.tool
        GROUP BY 1, 2, 3
        """,
    ),
)
def lookup_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4: a RANGE (non-equi) join inside a multi-table lookup —
    ``LEFT JOIN price_bands b ON p.price >= b.lo AND p.price < b.hi``.
    Derby executes the range join per event (lookup.rb:131-147); the
    Spark-first hoist builds the banded derived dim ONCE per refresh
    snapshot (dim-sized nested-loop, broadcastable like any dim), so
    the per-event plan stays a single broadcast-hash equi probe —
    the 100 TB shape. The LEFT keeps out-of-band prices with a NULL
    band, which a WHERE-level comparand could not express."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "bands",
                "query": (
                    "SELECT p.price AS price, b.band AS band "
                    "FROM tool_plans p "
                    "LEFT JOIN price_bands b "
                    "ON p.price >= b.lo AND p.price < b.hi "
                    "WHERE p.tool = :tool"
                ),
                "parameters": {"tool": "tool"},
            }
        ]
    )
    enricher = LookupEnricher(
        spec,
        {
            "tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA),
            "price_bands": spark.createDataFrame(BAND_ROWS, BAND_SCHEMA),
        },
    )
    out = enricher.apply(t)
    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size("bands").cast("long").alias("n_rows"),
        F.array_join(
            F.transform(
                F.col("bands"),
                lambda r: F.concat(
                    r.getField("price").cast("string"),
                    F.lit(":"),
                    F.coalesce(r.getField("band"), F.lit("-")),
                ),
            ),
            ",",
        ).alias("bands_str"),
    )


@register(
    "lookup_union",
    with_ctes(
        _PLANS_CTE,
        _BANDS_CTE,
        TRANSCRIPTS_CTE,
        """
        u1 AS (
          SELECT tool, 'p' || plan AS tag FROM tool_plans
          WHERE plan IS NOT NULL
        )
        """,
        """
        u2 AS (
          SELECT 'b' || band AS tag FROM price_bands WHERE lo <= 5
        )
        """,
        """
        combined AS (
          SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
                 t.tool AS tool, u1.tag AS tag
          FROM transcripts t JOIN u1 ON u1.tool = t.tool
          UNION ALL
          SELECT t.conv_id, t.turn_idx, t.tool, u2.tag
          FROM transcripts t CROSS JOIN u2
        )
        """,
        body="""
        SELECT c.conv_id, c.turn_idx, c.tool,
               CAST(count(*) AS BIGINT) AS n_tags,
               array_to_string(list(c.tag ORDER BY c.tag), ',') AS tags_str
        FROM combined c
        GROUP BY 1, 2, 3
        """,
    ),
)
def lookup_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4: a UNION ALL lookup — an equi-keyed branch over
    tool_plans plus a static branch over a DIFFERENT dim
    (price_bands), exactly the shape Derby runs verbatim
    (lookup.rb:131-147). Each branch keeps its own broadcast plan;
    the payloads concatenate and re-sort, no new shuffle."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "tags2",
                "query": (
                    "SELECT 'p' || plan AS tag FROM tool_plans "
                    "WHERE tool = :tool AND plan IS NOT NULL "
                    "UNION ALL "
                    "SELECT 'b' || band AS tag FROM price_bands "
                    "WHERE lo <= 5"
                ),
                "parameters": {"tool": "tool"},
            }
        ]
    )
    enricher = LookupEnricher(
        spec,
        {
            "tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA),
            "price_bands": spark.createDataFrame(BAND_ROWS, BAND_SCHEMA),
        },
    )
    out = enricher.apply(t)
    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size("tags2").cast("long").alias("n_tags"),
        F.array_join(
            F.transform(F.col("tags2"), lambda r: r.getField("tag")), ","
        ).alias("tags_str"),
    )


@register(
    "lookup_corr_subquery",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        m AS (
          SELECT t.tool, t.price FROM tool_plans t
          WHERE t.price >= (SELECT avg(p2.price) FROM tool_plans p2
                            WHERE p2.plan = t.plan)
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CAST(count(m.price) AS BIGINT) AS n_corr,
               coalesce(
                 array_to_string(
                   list(CAST(m.price AS VARCHAR) ORDER BY m.price),
                   ','),
                 '') AS corr_prices
        FROM transcripts t
        LEFT JOIN m ON m.tool = t.tool
        GROUP BY 1, 2, 3
        """,
    ),
)
def lookup_corr_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4: a CORRELATED scalar subquery — price at or above the
    per-plan average (``WHERE p2.plan = tool_plans.plan``). Derby nests
    the execution per outer row (lookup.rb:131-147); the Spark-first
    hoist aggregates per correlation key ONCE per refresh snapshot and
    left-joins the value onto the dim, so the per-event plan stays the
    single broadcast-hash equi probe. NULL-plan rows correlate to
    nothing (SQL: NULL = NULL is not true) and drop, on both engines."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "corr",
                "query": (
                    "SELECT price FROM tool_plans WHERE tool = :tool "
                    "AND price >= (SELECT avg(p2.price) FROM tool_plans "
                    "p2 WHERE p2.plan = tool_plans.plan)"
                ),
                "parameters": {"tool": "tool"},
            }
        ]
    )
    enricher = LookupEnricher(
        spec, {"tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)}
    )
    out = enricher.apply(t)
    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size("corr").cast("long").alias("n_corr"),
        F.array_join(
            F.transform(
                F.col("corr"), lambda r: r.getField("price").cast("string")
            ),
            ",",
        ).alias("corr_prices"),
    )


@register(
    "lookup_in_subquery",
    with_ctes(
        _PLANS_CTE,
        _BANDS_CTE,
        TRANSCRIPTS_CTE,
        """
        m AS (
          SELECT tool, price FROM tool_plans
          WHERE price NOT IN (SELECT hi FROM price_bands WHERE lo >= 0)
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CAST(count(m.price) AS BIGINT) AS n_in,
               coalesce(
                 array_to_string(
                   list(CAST(m.price AS VARCHAR) ORDER BY m.price),
                   ','),
                 '') AS in_prices
        FROM transcripts t
        LEFT JOIN m ON m.tool = t.tool
        GROUP BY 1, 2, 3
        """,
    ),
)
def lookup_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4: a row-SET subquery — ``price NOT IN (SELECT hi FROM
    price_bands WHERE lo >= 0)``. The value set collects once per
    refresh snapshot (distinct, 65536-cap) and expands to a literal
    NOT-IN list, so the predicate rides the dim as a static filter and
    the per-event plan stays the broadcast-hash equi probe."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "inq",
                "query": (
                    "SELECT price FROM tool_plans WHERE tool = :tool "
                    "AND price NOT IN (SELECT hi FROM price_bands "
                    "WHERE lo >= 0)"
                ),
                "parameters": {"tool": "tool"},
            }
        ]
    )
    enricher = LookupEnricher(
        spec,
        {
            "tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA),
            "price_bands": spark.createDataFrame(BAND_ROWS, BAND_SCHEMA),
        },
    )
    out = enricher.apply(t)
    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size("inq").cast("long").alias("n_in"),
        F.array_join(
            F.transform(
                F.col("inq"), lambda r: r.getField("price").cast("string")
            ),
            ",",
        ).alias("in_prices"),
    )
