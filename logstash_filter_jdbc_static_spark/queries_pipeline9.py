"""Ninth wave of gated queries: the round-5 lookup-SQL widening —
``[NOT] EXISTS`` subqueries, correlated ``[NOT] IN`` subqueries, and
``CAST``/``nullif``/``replace``/``instr`` scalar expressions. The
reference hands lookup SQL verbatim to Derby
(lib/logstash/filters/jdbc/lookup.rb:131-147), so all three are legal
lookup configs there; the docs explicitly tell users to CAST remote
columns so they match local schemas (docs/index.asciidoc:455-458).

Spark-first compilation (operators/lookup.py, operators/sqlexpr.py):
a correlated EXISTS becomes a semi-join boolean flag column built ONCE
per refresh snapshot (broadcast-hinted, dim-sized); a correlated IN
becomes per-group value-set columns plus the static ``in_set`` op;
CAST and the scalar functions are synthetic dim columns. The per-event
plan stays the single broadcast-hash equi probe on every shape — the
100 TB plan (plan-asserted in tests/test_lookup_exists.py).

All of this wave — including the round-5-late parts: correlated
subqueries and literal ON operands in JOIN lookups
(``lookup_join_subquery``/``lookup_join_onlit``) and scalar subqueries
in the PROJECTION (``lookup_proj_subquery``) — folds into the
``lookup_expr_shapes`` merged gate row (queries_merged.py), so the
driver registry stays at 50 entries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from logstash_filter_jdbc_static_spark.operators.processor import LookupEnricher
from logstash_filter_jdbc_static_spark.queries import register
from logstash_filter_jdbc_static_spark.queries_pipeline8 import (
    PLAN_ROWS,
    PLAN_SCHEMA,
    _BANDS_CTE,
    _PLANS_CTE,
)
from logstash_filter_jdbc_static_spark.sources.transcripts import (
    TRANSCRIPTS_CTE,
    load_transcripts,
    values_cte,
    with_ctes,
)
from logstash_filter_jdbc_static_spark.spec import PipelineSpec


def _payload_agg(spark, sf_dir, query, alias, value_field):
    """Shared fact-side shape of this wave: enrich, then flatten the
    payload to a count + sorted CSV string per turn."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[{"id": alias, "query": query, "parameters": {"tool": "tool"}}]
    )
    enricher = LookupEnricher(
        spec, {"tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)}
    )
    return enricher.apply(t), alias, value_field


@register(
    "lookup_exists",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        m AS (
          SELECT t.tool, t.price FROM tool_plans t
          WHERE NOT EXISTS (SELECT 1 FROM tool_plans p2
                            WHERE p2.plan = t.plan AND p2.price > 6)
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CAST(count(m.price) AS BIGINT) AS n_nx,
               coalesce(
                 array_to_string(
                   list(CAST(m.price AS VARCHAR) ORDER BY m.price),
                   ','),
                 '') AS nx_prices
        FROM transcripts t
        LEFT JOIN m ON m.tool = t.tool
        GROUP BY 1, 2, 3
        """,
    ),
)
def lookup_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5: a correlated ``NOT EXISTS`` — plans with no same-plan
    sibling priced above 6. Derby nests the existence probe per outer
    row (lookup.rb:131-147); the Spark-first hoist builds a semi-join
    TRUE-flag per correlation key once per refresh snapshot
    (broadcast-hinted), coalesces misses to FALSE (EXISTS is
    two-valued), and compiles the predicate as a static boolean
    equality — the per-event plan stays one broadcast-hash probe.
    NULL-plan rows correlate to nothing, so NOT EXISTS keeps them."""
    out, alias, vf = _payload_agg(
        spark, sf_dir,
        "SELECT price FROM tool_plans WHERE tool = :tool AND NOT EXISTS "
        "(SELECT 1 FROM tool_plans p2 "
        "WHERE p2.plan = tool_plans.plan AND p2.price > 6)",
        "nx", "price",
    )
    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size(alias).cast("long").alias("n_nx"),
        F.array_join(
            F.transform(
                F.col(alias), lambda r: r.getField(vf).cast("string")
            ),
            ",",
        ).alias("nx_prices"),
    )


@register(
    "lookup_corr_in",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        m AS (
          SELECT t.tool, t.price FROM tool_plans t
          WHERE t.price NOT IN (SELECT p2.price FROM tool_plans p2
                                WHERE p2.plan = t.plan AND p2.qty <= 4)
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CAST(count(m.price) AS BIGINT) AS n_ci,
               coalesce(
                 array_to_string(
                   list(CAST(m.price AS VARCHAR) ORDER BY m.price),
                   ','),
                 '') AS ci_prices
        FROM transcripts t
        LEFT JOIN m ON m.tool = t.tool
        GROUP BY 1, 2, 3
        """,
    ),
)
def lookup_corr_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5: a correlated ``NOT IN`` — prices outside their own
    plan's low-qty price set. The per-group value sets (plus had-NULL
    and row-count markers, for exact 3-valued NOT IN semantics: an
    EMPTY group is vacuously TRUE, a NULL in the set never matches)
    aggregate once per refresh snapshot and left-join onto the dim
    broadcast-hinted; the predicate compiles as the static ``in_set``
    op, so the fact side stays the one broadcast-hash probe."""
    out, alias, vf = _payload_agg(
        spark, sf_dir,
        "SELECT price FROM tool_plans WHERE tool = :tool AND price NOT IN "
        "(SELECT p2.price FROM tool_plans p2 "
        "WHERE p2.plan = tool_plans.plan AND p2.qty <= 4)",
        "ci", "price",
    )
    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size(alias).cast("long").alias("n_ci"),
        F.array_join(
            F.transform(
                F.col(alias), lambda r: r.getField(vf).cast("string")
            ),
            ",",
        ).alias("ci_prices"),
    )


@register(
    "lookup_ineq_set",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        mis AS (
          SELECT t.tool, t.price FROM tool_plans t
          WHERE t.plan IN (SELECT p2.plan FROM tool_plans p2
                           WHERE p2.price < t.price)
        )
        """,
        """
        mqs AS (
          SELECT t.tool, t.price FROM tool_plans t
          WHERE t.price > ALL (SELECT p2.price FROM tool_plans p2
                               WHERE p2.plan = t.plan
                               AND p2.qty >= t.qty)
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CAST(count(DISTINCT mis.price) AS BIGINT) AS n_is,
               coalesce(
                 array_to_string(
                   list(DISTINCT CAST(mis.price AS VARCHAR)
                        ORDER BY CAST(mis.price AS VARCHAR)),
                   ','),
                 '') AS is_prices,
               CAST(count(DISTINCT mqs.price) AS BIGINT) AS n_qs,
               coalesce(
                 array_to_string(
                   list(DISTINCT CAST(mqs.price AS VARCHAR)
                        ORDER BY CAST(mqs.price AS VARCHAR)),
                   ','),
                 '') AS qs_prices
        FROM transcripts t
        LEFT JOIN mis ON mis.tool = t.tool
        LEFT JOIN mqs ON mqs.tool = t.tool
        GROUP BY 1, 2, 3
        """,
    ),
)
def lookup_ineq_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 latest: INEQUALITY correlations in set subqueries —
    ``plan IN (SELECT p2.plan ... WHERE p2.price < t.price)`` (the
    per-row value set via the snapshot rid THETA JOIN) and a mixed
    eq+ineq quantified comparison ``price > ALL (...)``. Both
    decorrelate once per refresh snapshot into per-rid (set, had-NULL,
    count) columns; the predicates compile as the unchanged ``in_set``
    / ``> all_set`` ops, so the fact side keeps its single
    broadcast-hash probe. DISTINCT value strings make the flattened
    CSV independent of the two oracles' join multiplicities."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "mis",
                "query": (
                    "SELECT price FROM tool_plans WHERE tool = :tool "
                    "AND plan IN (SELECT p2.plan FROM tool_plans p2 "
                    "WHERE p2.price < tool_plans.price)"
                ),
                "parameters": {"tool": "tool"},
            },
            {
                "id": "mqs",
                "query": (
                    "SELECT price FROM tool_plans WHERE tool = :tool "
                    "AND price > ALL (SELECT p2.price FROM tool_plans "
                    "p2 WHERE p2.plan = tool_plans.plan "
                    "AND p2.qty >= tool_plans.qty)"
                ),
                "parameters": {"tool": "tool"},
            },
        ]
    )
    enricher = LookupEnricher(
        spec, {"tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)}
    )
    out = enricher.apply(t)

    def _csv(col):
        return F.array_join(
            F.array_sort(
                F.array_distinct(
                    F.transform(
                        F.col(col),
                        lambda r: r.getField("price").cast("string"),
                    )
                )
            ),
            ",",
        )

    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size(F.array_distinct("mis")).cast("long").alias("n_is"),
        _csv("mis").alias("is_prices"),
        F.size(F.array_distinct("mqs")).cast("long").alias("n_qs"),
        _csv("mqs").alias("qs_prices"),
    )


@register(
    "lookup_cast_funcs",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        m AS (
          SELECT tool,
                 CAST(price * qty AS VARCHAR) AS total_s,
                 nullif(plan, 'basic') AS nb,
                 CAST(instr(coalesce(plan, ''), 'r') AS INTEGER) AS rpos
          FROM tool_plans
          WHERE replace(coalesce(plan, 'x'), 'ic', '') <> 'bas'
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CAST(count(m.total_s) AS BIGINT) AS n_cf,
               coalesce(
                 array_to_string(
                   list(m.total_s || ':' || coalesce(m.nb, '-') || ':'
                        || CAST(m.rpos AS VARCHAR)
                        ORDER BY m.total_s, m.nb, m.rpos),
                   ','),
                 '') AS cf_rows
        FROM transcripts t
        LEFT JOIN m ON m.tool = t.tool
        GROUP BY 1, 2, 3
        """,
    ),
)
def lookup_cast_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5: ``CAST`` plus the nullif/replace/instr scalar functions
    (round-4 verdict #3; docs/index.asciidoc:455-458 recommends CAST in
    lookup SQL). All compile to synthetic dim columns through the same
    sqlexpr pipeline as arithmetic/CASE — parameter-free, so the
    replace() predicate rides the dim as a load-time filter and the
    fact side keeps the single broadcast-hash equi plan. Documented
    divergence honored by construction: int->varchar CAST is identical
    on Spark/Derby/DuckDB (float->int would not be — Spark truncates,
    DuckDB rounds — so gated queries avoid it)."""
    out, alias, _ = _payload_agg(
        spark, sf_dir,
        "SELECT cast(price * qty AS varchar(16)) AS total_s, "
        "nullif(plan, 'basic') AS nb, "
        "instr(coalesce(plan, ''), 'r') AS rpos "
        "FROM tool_plans WHERE tool = :tool "
        "AND replace(coalesce(plan, 'x'), 'ic', '') <> 'bas'",
        "cf", "total_s",
    )
    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size(alias).cast("long").alias("n_cf"),
        F.array_join(
            F.transform(
                F.col(alias),
                lambda r: F.concat(
                    r.getField("total_s"),
                    F.lit(":"),
                    F.coalesce(r.getField("nb"), F.lit("-")),
                    F.lit(":"),
                    r.getField("rpos").cast("string"),
                ),
            ),
            ",",
        ).alias("cf_rows"),
    )


@register(
    "events_windowed_counts_stream",
    # the ground truth for the STREAMING run is the same batch SQL the
    # batch twin is gated on: Structured Streaming over a finite file
    # source with Trigger.AvailableNow + complete mode must produce
    # exactly the batch aggregation
    """
    SELECT time_bucket(INTERVAL '300 seconds', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_windowed_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 (round-4 verdict #7): the REAL Structured Streaming path
    driver-gated, not just its batch twin. readStream over the events
    parquet (file source), the same tumbling-window aggregation the
    batch twin runs, Trigger.AvailableNow (process everything, then
    stop — the deterministic finite-source mode), complete-mode memory
    sink. At scale the same plan runs unbounded with the watermark
    variant (streaming/stream_pipeline.py, tested in
    test_multimodal_streaming.py); complete mode here makes the final
    sink contents exactly the batch aggregation, which is what the
    DuckDB oracle pins."""
    import os
    import tempfile
    import uuid

    src = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(src).schema
    # Spark's streaming file source lists a DIRECTORY; the testdata
    # tables are single parquet files, so stage a symlink dir (zero
    # copy — on a real deployment the events land in a directory and
    # this staging disappears)
    stream_dir = src
    if os.path.isfile(src):
        stream_dir = tempfile.mkdtemp(prefix="ewc_stream_src_")
        os.symlink(os.path.abspath(src),
                   os.path.join(stream_dir, "events.parquet"))
    ev = spark.readStream.schema(schema).parquet(stream_dir)
    agg = (
        ev.groupBy(F.window("ts", "300 seconds").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    name = f"ewc_stream_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@register(
    "lookup_exists_range",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        m AS (
          SELECT t.tool, t.price FROM tool_plans t
          WHERE EXISTS (SELECT 1 FROM tool_plans p2
                        WHERE p2.plan = t.plan AND p2.price > t.price)
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CAST(count(m.price) AS BIGINT) AS n_xr,
               coalesce(
                 array_to_string(
                   list(CAST(m.price AS VARCHAR) ORDER BY m.price),
                   ','),
                 '') AS xr_prices
        FROM transcripts t
        LEFT JOIN m ON m.tool = t.tool
        GROUP BY 1, 2, 3
        """,
    ),
)
def lookup_exists_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5b: an EXISTS with an INEQUALITY correlation — "a strictly
    more expensive same-plan sibling exists". Derby nests the probe per
    outer row (lookup.rb:131-147); the Spark-first decorrelation
    rewrites it to the per-plan price MAX (one row with price > x
    exists iff max(price) > x), aggregated once per refresh snapshot
    and compared dim-side — the fact plan stays one broadcast probe."""
    out, alias, vf = _payload_agg(
        spark, sf_dir,
        "SELECT price FROM tool_plans WHERE tool = :tool AND EXISTS "
        "(SELECT 1 FROM tool_plans p2 "
        "WHERE p2.plan = tool_plans.plan AND p2.price > tool_plans.price)",
        "xr", "price",
    )
    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size(alias).cast("long").alias("n_xr"),
        F.array_join(
            F.transform(
                F.col(alias), lambda r: r.getField(vf).cast("string")
            ),
            ",",
        ).alias("xr_prices"),
    )


@register(
    "lookup_join_expr",
    with_ctes(
        _PLANS_CTE,
        _BANDS_CTE,
        TRANSCRIPTS_CTE,
        """
        m AS (
          SELECT p.tool, p.price * p.qty AS total, upper(b.band) AS ub
          FROM tool_plans p
          JOIN price_bands b ON p.price >= b.lo AND p.price < b.hi
          WHERE p.price + b.lo < 20
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CAST(count(m.total) AS BIGINT) AS n_jx,
               coalesce(
                 array_to_string(
                   list(CAST(m.total AS VARCHAR) || ':' || m.ub
                        ORDER BY m.total, m.ub),
                   ','),
                 '') AS jx_rows
        FROM transcripts t
        LEFT JOIN m ON m.tool = t.tool
        GROUP BY 1, 2, 3
        """,
    ),
)
def lookup_join_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5: scalar expressions inside a multi-table JOIN lookup —
    a cross-relation arithmetic projection (``p.price * p.qty``), a
    function projection over the joined relation (``upper(b.band)``)
    and a cross-relation expression predicate (``p.price + b.lo <
    20``). Derby executes the join + expressions per event
    (lookup.rb:131-147); build_join_dim pre-joins the dims once per
    refresh snapshot and maps the expressions onto the derived dim's
    flat columns, so the per-event plan stays one broadcast-hash
    probe."""
    from logstash_filter_jdbc_static_spark.queries_pipeline8 import (
        BAND_ROWS,
        BAND_SCHEMA,
    )

    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "jx",
                "query": (
                    "SELECT p.price * p.qty AS total, upper(b.band) AS ub "
                    "FROM tool_plans p "
                    "JOIN price_bands b ON p.price >= b.lo AND p.price < b.hi "
                    "WHERE p.tool = :tool AND p.price + b.lo < 20"
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
        F.size("jx").cast("long").alias("n_jx"),
        F.array_join(
            F.transform(
                F.col("jx"),
                lambda r: F.concat(
                    r.getField("total").cast("string"),
                    F.lit(":"),
                    r.getField("ub"),
                ),
            ),
            ",",
        ).alias("jx_rows"),
    )


@register(
    "lookup_join_subquery",
    with_ctes(
        _PLANS_CTE,
        _BANDS_CTE,
        TRANSCRIPTS_CTE,
        """
        m AS (
          SELECT p.tool, p.plan, p.price, b.band
          FROM tool_plans p
          JOIN price_bands b ON p.price >= b.lo AND p.price < b.hi
          WHERE EXISTS (SELECT 1 FROM tool_plans p2
                        WHERE p2.plan = p.plan AND p2.qty > b.lo)
            AND p.price <= (SELECT avg(p3.price) FROM tool_plans p3
                            WHERE p3.plan = p.plan)
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CAST(count(m.price) AS BIGINT) AS n_js,
               coalesce(
                 array_to_string(
                   list(m.plan || ':' || CAST(m.price AS VARCHAR)
                        || ':' || m.band
                        ORDER BY m.plan, m.price, m.band),
                   ','),
                 '') AS js_rows
        FROM transcripts t
        LEFT JOIN m ON m.tool = t.tool
        GROUP BY 1, 2, 3
        """,
    ),
)
def lookup_join_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 late widening: CORRELATED subqueries inside a
    multi-table JOIN lookup. The EXISTS correlates against BOTH joined
    relations (equality on ``p.plan``, inequality on ``b.lo`` — the
    band floor), and a correlated scalar subquery compares against the
    per-plan average price. Derby nests both probes per outer row
    (lookup.rb:131-147); Spark-first, build_join_dim flat-rewrites the
    join once per refresh snapshot and the correlation machinery
    left-joins the per-group flag/aggregate onto the DERIVED dim — the
    per-event plan stays one broadcast-hash probe
    (tests/test_lookup_exists.py::TestJoinModePlan)."""
    from logstash_filter_jdbc_static_spark.queries_pipeline8 import (
        BAND_ROWS,
        BAND_SCHEMA,
    )

    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "js",
                "query": (
                    "SELECT p.plan AS plan, p.price AS price, "
                    "b.band AS band "
                    "FROM tool_plans p "
                    "JOIN price_bands b ON p.price >= b.lo "
                    "AND p.price < b.hi "
                    "WHERE p.tool = :tool AND EXISTS "
                    "(SELECT 1 FROM tool_plans p2 "
                    "WHERE p2.plan = p.plan AND p2.qty > b.lo) "
                    "AND p.price <= (SELECT avg(p3.price) "
                    "FROM tool_plans p3 WHERE p3.plan = p.plan)"
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
        F.size("js").cast("long").alias("n_js"),
        F.array_join(
            F.transform(
                F.col("js"),
                lambda r: F.concat(
                    r.getField("plan"),
                    F.lit(":"),
                    r.getField("price").cast("string"),
                    F.lit(":"),
                    r.getField("band"),
                ),
            ),
            ",",
        ).alias("js_rows"),
    )


@register(
    "lookup_join_onlit",
    with_ctes(
        _PLANS_CTE,
        _BANDS_CTE,
        TRANSCRIPTS_CTE,
        """
        m AS (
          SELECT p.tool, p.price, coalesce(b.band, '-') AS band
          FROM tool_plans p
          LEFT JOIN price_bands b ON p.price >= b.lo AND p.price < b.hi
                                  AND b.band <> 'low'
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CAST(count(m.price) AS BIGINT) AS n_ol,
               coalesce(
                 array_to_string(
                   list(CAST(m.price AS VARCHAR) || ':' || m.band
                        ORDER BY m.price, m.band),
                   ','),
                 '') AS ol_rows
        FROM transcripts t
        LEFT JOIN m ON m.tool = t.tool
        GROUP BY 1, 2, 3
        """,
    ),
)
def lookup_join_onlit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 late widening: a LITERAL operand inside a LEFT JOIN's
    ON (``AND b.band <> 'low'``) — Derby-legal (lookup.rb:131-147) and
    NOT WHERE-expressible: the low-band and out-of-band plan rows
    survive with a NULL band instead of dropping. The literal rides
    the snapshot-time join condition in build_join_dim; the per-event
    plan stays one broadcast-hash probe."""
    from logstash_filter_jdbc_static_spark.queries_pipeline8 import (
        BAND_ROWS,
        BAND_SCHEMA,
    )

    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "ol",
                "query": (
                    "SELECT p.price AS price, "
                    "coalesce(b.band, '-') AS band "
                    "FROM tool_plans p LEFT JOIN price_bands b "
                    "ON p.price >= b.lo AND p.price < b.hi "
                    "AND b.band <> 'low' "
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
        F.size("ol").cast("long").alias("n_ol"),
        F.array_join(
            F.transform(
                F.col("ol"),
                lambda r: F.concat(
                    r.getField("price").cast("string"),
                    F.lit(":"),
                    r.getField("band"),
                ),
            ),
            ",",
        ).alias("ol_rows"),
    )


@register(
    "lookup_proj_subquery",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        m AS (
          SELECT p.tool, p.price,
                 (SELECT avg(p2.price) FROM tool_plans p2
                  WHERE p2.plan = p.plan) AS plan_avg,
                 (SELECT count(*) FROM tool_plans) AS n_all
          FROM tool_plans p
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CAST(count(m.price) AS BIGINT) AS n_ps,
               coalesce(
                 array_to_string(
                   list(CAST(m.price AS VARCHAR) ORDER BY m.price),
                   ','),
                 '') AS ps_prices,
               sum(m.plan_avg) AS ps_avg_sum,
               CAST(coalesce(max(m.n_all), 0) AS BIGINT) AS ps_nplans
        FROM transcripts t
        LEFT JOIN m ON m.tool = t.tool
        GROUP BY 1, 2, 3
        """,
    ),
)
def lookup_proj_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 widening: scalar subqueries in the lookup PROJECTION —
    a correlated per-plan average and an uncorrelated count(*), both
    attached as payload fields. Derby evaluates the sub-SELECTs per
    output row (lookup.rb:131-147); Spark-first they resolve once per
    refresh snapshot into synthetic dim columns (correlated -> the
    per-group aggregate left-joined by its correlation keys,
    uncorrelated -> one typed literal), so the per-event plan stays
    the single broadcast-hash probe
    (tests/test_lookup_proj_subquery.py::TestPlan)."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "ps",
                "query": (
                    "SELECT p.price AS price, "
                    "(SELECT avg(p2.price) FROM tool_plans p2 "
                    "WHERE p2.plan = p.plan) AS plan_avg, "
                    "(SELECT count(*) FROM tool_plans) AS n_all "
                    "FROM tool_plans p WHERE p.tool = :tool"
                ),
                "parameters": {"tool": "tool"},
            }
        ]
    )
    enricher = LookupEnricher(
        spec, {"tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)}
    )
    out = enricher.apply(t)
    nonnull = F.filter(
        F.col("ps"), lambda r: r.getField("plan_avg").isNotNull()
    )
    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size("ps").cast("long").alias("n_ps"),
        F.array_join(
            F.transform(
                F.col("ps"), lambda r: r.getField("price").cast("string")
            ),
            ",",
        ).alias("ps_prices"),
        # SQL SUM: NULLs skipped, empty/all-NULL -> NULL (the payload
        # array is price-ascending by the default contract, matching
        # the oracle's ORDER BY; <=3 exact dyadic doubles, so FP
        # association cannot diverge)
        F.when(F.size(nonnull) == 0, F.lit(None).cast("double"))
        .otherwise(
            F.aggregate(
                nonnull,
                F.lit(0.0),
                lambda acc, r: acc + r.getField("plan_avg"),
            )
        )
        .alias("ps_avg_sum"),
        F.when(
            F.size("ps") > 0, F.element_at("ps", 1).getField("n_all")
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("ps_nplans"),
    )


@register(
    "lookup_having_subquery",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        m AS (
          SELECT p.tool, p.plan, CAST(sum(p.price) AS BIGINT) AS total
          FROM tool_plans p
          GROUP BY 1, 2
          HAVING CAST(sum(p.price) AS BIGINT)
                 >= (SELECT avg(price) FROM tool_plans)
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CAST(count(m.total) AS BIGINT) AS n_hs,
               coalesce(
                 array_to_string(
                   list(coalesce(m.plan, '~N') || '='
                        || CAST(m.total AS VARCHAR)
                        ORDER BY m.plan NULLS FIRST, m.total),
                   '|'),
                 '') AS hs_rows
        FROM transcripts t
        LEFT JOIN m ON m.tool = t.tool
        GROUP BY 1, 2, 3
        """,
    ),
)
def lookup_having_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 widening: an UNCORRELATED scalar subquery as a HAVING
    comparand (Derby executes it verbatim per event,
    lookup.rb:131-147). Spark-first it resolves to one literal per
    refresh snapshot, so the HAVING filter over the aggregated payload
    rows compiles unchanged and the per-event plan stays the single
    broadcast-hash probe. The NULL-plan group exercises the payload
    contract's null-first ordering against DuckDB's NULLS FIRST."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "hs",
                "query": (
                    "SELECT plan AS plan, sum(price) AS total "
                    "FROM tool_plans WHERE tool = :tool GROUP BY plan "
                    "HAVING total >= (SELECT avg(price) FROM tool_plans)"
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
        F.size("hs").cast("long").alias("n_hs"),
        F.array_join(
            F.transform(
                F.col("hs"),
                lambda r: F.concat(
                    F.coalesce(r.getField("plan"), F.lit("~N")),
                    F.lit("="),
                    r.getField("total").cast("string"),
                ),
            ),
            "|",
        ).alias("hs_rows"),
    )


@register(
    "lookup_union_order",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        m AS (
          SELECT tool, plan, price FROM (
            SELECT u.*,
                   row_number() OVER (PARTITION BY tool
                                      ORDER BY price DESC) AS rn
            FROM (
              SELECT tool, plan, price FROM tool_plans WHERE price >= 5
              UNION ALL
              SELECT tool, plan, price FROM tool_plans WHERE price < 5
            ) u
          ) WHERE rn <= 2
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CAST(count(m.price) AS BIGINT) AS n_uo,
               coalesce(
                 array_to_string(
                   list(coalesce(m.plan, '~N') || ':'
                        || CAST(m.price AS VARCHAR)
                        ORDER BY m.price DESC),
                   ','),
                 '') AS uo_rows
        FROM transcripts t
        LEFT JOIN m ON m.tool = t.tool
        GROUP BY 1, 2, 3
        """,
    ),
)
def lookup_union_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 widening: UNION-LEVEL result shaping — a trailing
    ``ORDER BY price DESC FETCH FIRST 2 ROWS ONLY`` applies to the
    WHOLE union (SQL / Derby clause rules; the reference executes it
    verbatim, lookup.rb:131-147). Compiled as a comparator array_sort
    over the combined branch payloads (Derby result order, NULL
    largest, default-contract tiebreak) plus a slice — still N
    broadcast probes, zero fact shuffle. Prices are unique per tool,
    so the DuckDB window-rank oracle is order-exact."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "uo",
                "query": (
                    "SELECT plan AS plan, price AS price FROM tool_plans "
                    "WHERE tool = :tool AND price >= 5 "
                    "UNION ALL "
                    "SELECT plan AS plan, price AS price FROM tool_plans "
                    "WHERE tool = :tool AND price < 5 "
                    "ORDER BY price DESC FETCH FIRST 2 ROWS ONLY"
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
        F.size("uo").cast("long").alias("n_uo"),
        F.array_join(
            F.transform(
                F.col("uo"),
                lambda r: F.concat(
                    F.coalesce(r.getField("plan"), F.lit("~N")),
                    F.lit(":"),
                    r.getField("price").cast("string"),
                ),
            ),
            ",",
        ).alias("uo_rows"),
    )


@register(
    "lookup_math_funcs",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        m AS (
          SELECT tool,
                 sqrt(CAST(price * qty AS DOUBLE)) AS rt,
                 round(degrees(atan2(CAST(qty AS DOUBLE),
                                     CAST(price AS DOUBLE))), 6) AS ang,
                 CAST(sign(price - qty) AS DOUBLE) AS sg
          FROM tool_plans
          WHERE ln(CAST(price AS DOUBLE)) >= 0
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CAST(count(m.rt) AS BIGINT) AS n_mf,
               sum(m.rt) AS mf_rt_sum,
               sum(m.ang) AS mf_ang_sum,
               sum(m.sg) AS mf_sg_sum
        FROM transcripts t
        LEFT JOIN m ON m.tool = t.tool
        GROUP BY 1, 2, 3
        """,
    ),
)
def lookup_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5: Derby's numeric built-ins (sqrt/ln/atan2/degrees/sign)
    in lookup SQL — projections and a predicate. Spark-side they are
    synthetic dim columns through the same sqlexpr pipeline; SQRT is
    IEEE-exact on every engine, the transcendentals are round()ed per
    the contract (JVM vs C libm final-ulp), SIGN is cast DOUBLE
    (Spark's type; Derby returns INTEGER — documented divergence like
    division). ln(price) >= 0 keeps every price >= 1 row, exercising
    the predicate path."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "mf",
                "query": (
                    "SELECT sqrt(price * qty) AS rt, "
                    "round(degrees(atan2(qty, price)), 6) AS ang, "
                    "sign(price - qty) AS sg "
                    "FROM tool_plans WHERE tool = :tool "
                    "AND ln(price) >= 0"
                ),
                "parameters": {"tool": "tool"},
            }
        ]
    )
    enricher = LookupEnricher(
        spec, {"tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)}
    )
    out = enricher.apply(t)
    agg = {}

    # F.transform dispatches on lambda arity (a 2-arg callable receives
    # (element, index)), so a default-arg capture would be handed the
    # index Column — bind the field name through a closure instead.
    def _getter(f):
        return lambda r: r.getField(f)

    for field, alias in (("rt", "mf_rt_sum"), ("ang", "mf_ang_sum"),
                         ("sg", "mf_sg_sum")):
        arr = F.transform(F.col("mf"), _getter(field))
        agg[alias] = (
            F.when(F.size("mf") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)
            )
            .alias(alias)
        )
    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size("mf").cast("long").alias("n_mf"),
        agg["mf_rt_sum"],
        agg["mf_ang_sum"],
        agg["mf_sg_sum"],
    )


@register(
    "lookup_setops",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        mse AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS n_se,
                 array_to_string(
                   list(coalesce(plan, '~N') || ':'
                        || CAST(price AS VARCHAR)
                        ORDER BY plan NULLS FIRST, price),
                   ',') AS se_rows
          FROM (
            SELECT tool, plan, price FROM tool_plans WHERE price >= 5
            EXCEPT
            SELECT tool, plan, price FROM tool_plans WHERE qty >= 4
          ) GROUP BY tool
        )
        """,
        """
        msi AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS n_si,
                 array_to_string(
                   list(coalesce(plan, '~N') || ':'
                        || CAST(price AS VARCHAR)
                        ORDER BY plan NULLS FIRST, price),
                   ',') AS si_rows
          FROM (
            SELECT tool, plan, price FROM tool_plans WHERE price >= 5
            INTERSECT
            SELECT tool, plan, price FROM tool_plans WHERE qty >= 3
          ) GROUP BY tool
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               coalesce(mse.n_se, 0) AS n_se,
               coalesce(mse.se_rows, '') AS se_rows,
               coalesce(msi.n_si, 0) AS n_si,
               coalesce(msi.si_rows, '') AS si_rows
        FROM transcripts t
        LEFT JOIN mse ON mse.tool = t.tool
        LEFT JOIN msi ON msi.tool = t.tool
        """,
    ),
)
def lookup_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 widening: ``EXCEPT`` / ``INTERSECT`` lookup SQL — Derby
    executes both verbatim (lookup.rb:131-147). Compiled on the UNION
    machinery as per-branch payload arrays folded with
    ``array_except`` / ``array_intersect`` (SQL set semantics: distinct
    result, NULL not distinct from NULL — tool_3's (NULL, 8) row
    cancels/matches itself across branches); still N broadcast probes,
    zero fact shuffle. The per-tool grouping is exact because the
    DuckDB twin carries the tool key through both set-op sides.

    CAUTION (fan-out trap): the oracle LEFT JOINs two independent
    per-tool row sets, which would cross-multiply counts/lists — each
    set-op side pre-aggregates to ONE row per tool before the join."""
    t = load_transcripts(spark, sf_dir)
    branch = (
        "SELECT plan AS plan, price AS price FROM tool_plans "
        "WHERE tool = :tool AND {pred}"
    )
    spec = PipelineSpec(
        lookups=[
            {
                "id": "se",
                "query": (
                    branch.format(pred="price >= 5")
                    + " EXCEPT "
                    + branch.format(pred="qty >= 4")
                ),
                "parameters": {"tool": "tool"},
            },
            {
                "id": "si",
                "query": (
                    branch.format(pred="price >= 5")
                    + " INTERSECT "
                    + branch.format(pred="qty >= 3")
                ),
                "parameters": {"tool": "tool"},
            },
        ]
    )
    enricher = LookupEnricher(
        spec, {"tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)}
    )
    out = enricher.apply(t)

    def _rows(col):
        return F.array_join(
            F.transform(
                F.col(col),
                lambda r: F.concat(
                    F.coalesce(r.getField("plan"), F.lit("~N")),
                    F.lit(":"),
                    r.getField("price").cast("string"),
                ),
            ),
            ",",
        )

    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size("se").cast("long").alias("n_se"),
        _rows("se").alias("se_rows"),
        F.size("si").cast("long").alias("n_si"),
        _rows("si").alias("si_rows"),
    )


@register(
    "lookup_setops_all",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        mxa AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS n_xa,
                 array_to_string(
                   list(coalesce(plan, '~N') || ':'
                        || CAST(price AS VARCHAR)
                        ORDER BY plan NULLS FIRST, price),
                   ',') AS xa_rows
          FROM (
            SELECT tool, plan, price FROM tool_plans
            UNION ALL
            SELECT tool, plan, price FROM tool_plans WHERE qty >= 3
            EXCEPT ALL
            SELECT tool, plan, price FROM tool_plans WHERE price >= 8
          ) GROUP BY tool
        )
        """,
        """
        mgi AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS n_gi,
                 array_to_string(
                   list(coalesce(plan, '~N') || ':'
                        || CAST(price AS VARCHAR)
                        ORDER BY plan NULLS FIRST, price),
                   ',') AS gi_rows
          FROM (
            SELECT g.tool, g.plan, g.price FROM (
              SELECT u.*, row_number() OVER (
                PARTITION BY tool
                ORDER BY price DESC, plan NULLS FIRST
              ) AS rn
              FROM (
                SELECT tool, plan, price FROM tool_plans
                UNION ALL
                SELECT tool, plan, price FROM tool_plans WHERE price >= 5
              ) u
            ) g WHERE g.rn <= 3
            INTERSECT ALL
            SELECT tool, plan, price FROM tool_plans
          ) GROUP BY tool
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               coalesce(mxa.n_xa, 0) AS n_xa,
               coalesce(mxa.xa_rows, '') AS xa_rows,
               coalesce(mgi.n_gi, 0) AS n_gi,
               coalesce(mgi.gi_rows, '') AS gi_rows
        FROM transcripts t
        LEFT JOIN mxa ON mxa.tool = t.tool
        LEFT JOIN mgi ON mgi.tool = t.tool
        """,
    ),
)
def lookup_setops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 latest widening: the FULL top-level set-op surface —
    mixed joints under SQL precedence (left-to-right at the UNION/
    EXCEPT level), the multiset ``EXCEPT ALL`` / ``INTERSECT ALL``
    variants (Derby-legal, pinned natively in test_jdbc_derby.py), and
    a parenthesized GROUP carrying its own ordered top-N tail (a
    standard-SQL extension — Derby's own attempt dies in an internal
    NPE). Compiled as N broadcast probes whose per-event payload
    arrays fold through the joint tree with array built-ins; the
    multiset counts are nested higher-order functions over the
    (dim-fan-in-sized) arrays — zero fact shuffle, zero Python.

    The ``xa`` lookup is ``(A UNION ALL B) EXCEPT ALL C`` — duplicate
    payload rows survive the union and lose exactly one occurrence per
    right-side row; ``gi`` is ``(A UNION ALL B ORDER BY price DESC
    FETCH FIRST 3) INTERSECT ALL A`` — the group's top-3 shapes before
    the multiset intersection keeps min-count occurrences. The DuckDB
    twin carries the tool key through every branch and computes the
    group tail as a per-tool row_number window (ties at the cut are
    between IDENTICAL rows by construction, so the pick is
    multiset-stable)."""
    t = load_transcripts(spark, sf_dir)
    branch = (
        "SELECT plan AS plan, price AS price FROM tool_plans "
        "WHERE tool = :tool{pred}"
    )
    spec = PipelineSpec(
        lookups=[
            {
                "id": "xa",
                "query": (
                    branch.format(pred="")
                    + " UNION ALL "
                    + branch.format(pred=" AND qty >= 3")
                    + " EXCEPT ALL "
                    + branch.format(pred=" AND price >= 8")
                ),
                "parameters": {"tool": "tool"},
            },
            {
                "id": "gi",
                "query": (
                    "(" + branch.format(pred="")
                    + " UNION ALL "
                    + branch.format(pred=" AND price >= 5")
                    + " ORDER BY price DESC FETCH FIRST 3 ROWS ONLY)"
                    + " INTERSECT ALL "
                    + branch.format(pred="")
                ),
                "parameters": {"tool": "tool"},
            },
        ]
    )
    enricher = LookupEnricher(
        spec, {"tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)}
    )
    out = enricher.apply(t)

    def _rows(col):
        return F.array_join(
            F.transform(
                F.col(col),
                lambda r: F.concat(
                    F.coalesce(r.getField("plan"), F.lit("~N")),
                    F.lit(":"),
                    r.getField("price").cast("string"),
                ),
            ),
            ",",
        )

    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size("xa").cast("long").alias("n_xa"),
        _rows("xa").alias("xa_rows"),
        F.size("gi").cast("long").alias("n_gi"),
        _rows("gi").alias("gi_rows"),
    )


@register(
    "lookup_param_subquery",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        mps AS (
          SELECT p.tool, CAST(count(*) AS BIGINT) AS n_ps,
                 array_to_string(
                   list(coalesce(p.plan, '~N') || ':'
                        || CAST(p.price AS VARCHAR)
                        ORDER BY p.plan NULLS FIRST, p.price),
                   ',') AS ps_rows
          FROM tool_plans p
          JOIN (SELECT tool, avg(price) AS a FROM tool_plans
                GROUP BY tool) g ON g.tool = p.tool
          WHERE p.price >= g.a
          GROUP BY p.tool
        )
        """,
        """
        mpc AS (
          SELECT p.tool, CAST(count(*) AS BIGINT) AS n_pc,
                 array_to_string(
                   list(coalesce(p.plan, '~N') || ':'
                        || CAST(p.qty AS VARCHAR)
                        ORDER BY p.plan NULLS FIRST, p.qty),
                   ',') AS pc_rows
          FROM tool_plans p
          JOIN (SELECT tool, count(*) AS c FROM tool_plans
                GROUP BY tool) g ON g.tool = p.tool
          WHERE p.qty < g.c
          GROUP BY p.tool
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               coalesce(mps.n_ps, 0) AS n_ps,
               coalesce(mps.ps_rows, '') AS ps_rows,
               coalesce(mpc.n_pc, 0) AS n_pc,
               coalesce(mpc.pc_rows, '') AS pc_rows
        FROM transcripts t
        LEFT JOIN mps ON mps.tool = t.tool
        LEFT JOIN mpc ON mpc.tool = t.tool
        """,
    ),
)
def lookup_param_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 latest widening: PARAMETERIZED scalar subqueries —
    ``:param`` equalities inside a subquery's WHERE, the last big
    residue of the reference's execute-anything contract (it re-binds
    and re-executes the prepared subquery per event,
    lookup.rb:131-147). Spark-first compile: the subquery becomes a
    per-group aggregate frame built ONCE per refresh snapshot
    (dim-sized groupBy), broadcast-joined onto the FACT by the bound
    event param (CompiledLookup._attach_param_subs); the term then
    rides every physical path as an ordinary bound param — one extra
    exchange-free broadcast hash join on the fact, zero shuffles,
    zero Python.

    ``ps`` compares against the per-tool avg (a join miss leaves the
    scalar NULL — SQL's empty subquery — so unknown tools get clean
    empty payloads); ``pc`` uses count(*), whose miss coalesces to 0
    (SQL: a count over an empty group is 0, pinned in
    tests/test_lookup_param_subquery.py and on live Derby in
    test_jdbc_derby.py)."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "ps",
                "query": (
                    "SELECT plan AS plan, price AS price FROM tool_plans "
                    "WHERE tool = :tool AND price >= "
                    "(SELECT avg(price) FROM tool_plans WHERE tool = :tool)"
                ),
                "parameters": {"tool": "tool"},
            },
            {
                "id": "pc",
                "query": (
                    "SELECT plan AS plan, qty AS qty FROM tool_plans "
                    "WHERE tool = :tool AND qty < "
                    "(SELECT count(*) FROM tool_plans WHERE tool = :tool)"
                ),
                "parameters": {"tool": "tool"},
            },
        ]
    )
    enricher = LookupEnricher(
        spec, {"tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)}
    )
    out = enricher.apply(t)

    def _rows(col, vf):
        return F.array_join(
            F.transform(
                F.col(col),
                lambda r: F.concat(
                    F.coalesce(r.getField("plan"), F.lit("~N")),
                    F.lit(":"),
                    r.getField(vf).cast("string"),
                ),
            ),
            ",",
        )

    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size("ps").cast("long").alias("n_ps"),
        _rows("ps", "price").alias("ps_rows"),
        F.size("pc").cast("long").alias("n_pc"),
        _rows("pc", "qty").alias("pc_rows"),
    )


def _sub_rows():
    """Subscription dim for the date-function part: (tool, since DATE,
    seen TIMESTAMP) with a leap day, a pre-epoch row (filtered by the
    day()<>13 predicate), a NULL timestamp and a NULL date."""
    import datetime as _dt

    return [
        ("tool_0", _dt.date(2024, 2, 29),
         _dt.datetime(2024, 3, 1, 15, 30, 45)),
        ("tool_1", _dt.date(2023, 12, 31),
         _dt.datetime(2023, 12, 31, 23, 59, 59)),
        ("tool_2", _dt.date(2001, 1, 1), None),
        ("tool_2", _dt.date(2001, 6, 15),
         _dt.datetime(2001, 6, 15, 0, 0, 0)),
        ("tool_3", _dt.date(1969, 7, 13),
         _dt.datetime(1969, 7, 20, 20, 17, 40)),
        ("tool_4", None, _dt.datetime(1999, 1, 2, 3, 4, 5)),
    ]


_SUBS_CTE = values_cte(
    "tool_subs",
    [
        (t, None if d is None else d.isoformat(),
         None if ts is None else ts.isoformat(sep=" "))
        for t, d, ts in _sub_rows()
    ],
    ["tool", "since", "seen"],
    casts={"since": "DATE", "seen": "TIMESTAMP"},
)


@register(
    "lookup_date_funcs",
    with_ctes(
        _SUBS_CTE,
        TRANSCRIPTS_CTE,
        """
        m AS (
          SELECT tool,
                 CAST(count(*) AS BIGINT) AS n_df,
                 array_to_string(
                   list(
                     CAST(year(since) AS VARCHAR) || '-'
                     || CAST(month(since) AS VARCHAR) || '-'
                     || CAST(day(since) AS VARCHAR) || ' '
                     || coalesce(CAST(hour(seen) AS VARCHAR), '~') || ':'
                     || coalesce(CAST(minute(seen) AS VARCHAR), '~') || ':'
                     || coalesce(CAST(second(seen) AS VARCHAR), '~')
                     ORDER BY since
                   ), ',') AS df_rows
          FROM tool_subs
          WHERE day(since) <> 13
          GROUP BY tool
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               coalesce(m.n_df, 0) AS n_df,
               coalesce(m.df_rows, '') AS df_rows
        FROM transcripts t
        LEFT JOIN m ON m.tool = t.tool
        """,
    ),
)
def lookup_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 late: Derby's date/time extraction built-ins
    (YEAR/MONTH/DAY/HOUR/MINUTE/SECOND — Derby has no EXTRACT) in
    lookup projections AND a predicate (``day(since) <> 13`` drops the
    pre-epoch row; ``day(NULL)`` is NULL → unknown → filtered on both
    engines). Spark-first: synthetic dim columns through sqlexpr, the
    per-event plan stays the broadcast-hash equi probe. The payload's
    default sort (y, mo, dd, ...) coincides with ORDER BY since within
    a tool, so the DuckDB list() order is exact."""
    import datetime  # noqa: F401  (dim rows carry date/datetime)

    from pyspark.sql import types as T

    t = load_transcripts(spark, sf_dir)
    schema = T.StructType([
        T.StructField("tool", T.StringType(), False),
        T.StructField("since", T.DateType(), True),
        T.StructField("seen", T.TimestampType(), True),
    ])
    spec = PipelineSpec(
        lookups=[
            {
                "id": "df",
                "query": (
                    "SELECT year(since) AS y, month(since) AS mo, "
                    "day(since) AS dd, hour(seen) AS hh, "
                    "minute(seen) AS mi, second(seen) AS ss "
                    "FROM tool_subs WHERE tool = :tool "
                    "AND day(since) <> 13"
                ),
                "parameters": {"tool": "tool"},
            }
        ]
    )
    enricher = LookupEnricher(
        spec, {"tool_subs": spark.createDataFrame(_sub_rows(), schema)}
    )
    out = enricher.apply(t)

    def _s(r, f):
        return F.coalesce(r.getField(f).cast("string"), F.lit("~"))

    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size("df").cast("long").alias("n_df"),
        F.array_join(
            F.transform(
                F.col("df"),
                lambda r: F.concat(
                    r.getField("y").cast("string"), F.lit("-"),
                    r.getField("mo").cast("string"), F.lit("-"),
                    r.getField("dd").cast("string"), F.lit(" "),
                    _s(r, "hh"), F.lit(":"),
                    _s(r, "mi"), F.lit(":"),
                    _s(r, "ss"),
                ),
            ),
            ",",
        ).alias("df_rows"),
    )


@register(
    "lookup_derived",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        md AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS n_d1,
                 array_to_string(
                   list(coalesce(plan, '~N') || ':'
                        || CAST(total AS VARCHAR)
                        ORDER BY plan NULLS FIRST, total),
                   ',') AS d1_rows
          FROM (
            SELECT tool, plan, price * qty AS total
            FROM tool_plans WHERE qty >= 2
          )
          WHERE total > 6
          GROUP BY tool
        )
        """,
        """
        mg AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS n, max(price) AS mx
          FROM tool_plans GROUP BY tool
        )
        """,
        """
        mo AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS n_o,
                 array_to_string(
                   list(CAST(price AS VARCHAR) ORDER BY price),
                   ',') AS o_rows
          FROM (
            SELECT tool, price FROM tool_plans
            ORDER BY price DESC, tool NULLS FIRST LIMIT 3
          )
          GROUP BY tool
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               coalesce(md.n_d1, 0) AS n_d1,
               coalesce(md.d1_rows, '') AS d1_rows,
               coalesce(mg.n, 0) AS g_n,
               mg.mx AS g_mx,
               coalesce(mo.n_o, 0) AS n_o,
               coalesce(mo.o_rows, '') AS o_rows
        FROM transcripts t
        LEFT JOIN md ON md.tool = t.tool
        LEFT JOIN mg ON mg.tool = t.tool
        LEFT JOIN mo ON mo.tool = t.tool
        """,
    ),
)
def lookup_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 late: DERIVED TABLES in lookup FROM clauses — Derby
    executes ``FROM (SELECT ...) d`` verbatim (lookup.rb:131-147). Two
    lookups: (1) an expression-projection derived table with an outer
    param + static outer predicate, (2) a GROUP BY aggregate derived
    table probed by key. Each inner select materializes ONCE per
    refresh snapshot (dim-sized; the GROUP BY shuffles dim rows only)
    and the per-event plan stays the key-grouped broadcast hash probe
    (plan-asserted in tests/test_lookup_derived.py::TestDerivedPlan).
    Both oracle CTEs are one-row-per-tool, so the double LEFT JOIN
    cannot fan out."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "d1",
                "query": (
                    "SELECT plan AS plan, total AS total FROM "
                    "(SELECT tool AS tool, plan AS plan, "
                    "price * qty AS total FROM tool_plans "
                    "WHERE qty >= 2) d "
                    "WHERE d.tool = :tool AND d.total > 6"
                ),
                "parameters": {"tool": "tool"},
            },
            {
                "id": "g1",
                "query": (
                    "SELECT n AS n, mx AS mx FROM "
                    "(SELECT tool AS tool, count(*) AS n, "
                    "max(price) AS mx FROM tool_plans GROUP BY tool) g "
                    "WHERE g.tool = :tool"
                ),
                "parameters": {"tool": "tool"},
            },
            {
                # ordered top-N derived dim (round-5 late): the
                # pinned tie rule (keys, then all other output columns
                # NULL-first ASC — here: tool) is what the oracle's
                # explicit "price DESC, tool" ORDER BY mirrors
                "id": "o1",
                "query": (
                    "SELECT price AS price FROM "
                    "(SELECT tool AS tool, price AS price "
                    "FROM tool_plans ORDER BY price DESC "
                    "FETCH FIRST 3 ROWS ONLY) d WHERE d.tool = :tool"
                ),
                "parameters": {"tool": "tool"},
            },
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
        F.size("d1").cast("long").alias("n_d1"),
        F.array_join(
            F.transform(
                F.col("d1"),
                lambda r: F.concat(
                    F.coalesce(r.getField("plan"), F.lit("~N")),
                    F.lit(":"),
                    r.getField("total").cast("string"),
                ),
            ),
            ",",
        ).alias("d1_rows"),
        F.coalesce(
            F.get(F.col("g1"), 0).getField("n"), F.lit(0).cast("long")
        ).alias("g_n"),
        F.get(F.col("g1"), 0).getField("mx").alias("g_mx"),
        F.size("o1").cast("long").alias("n_o"),
        F.array_join(
            F.transform(
                F.col("o1"), lambda r: r.getField("price").cast("string")
            ),
            ",",
        ).alias("o_rows"),
    )


@register(
    "lookup_ineq_subquery",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        m AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS n_iq,
                 array_to_string(
                   list(CAST(price AS VARCHAR) || ':'
                        || CAST(nc AS VARCHAR)
                        ORDER BY price),
                   ',') AS iq_rows
          FROM (
            SELECT tool, price,
                   (SELECT CAST(count(*) AS BIGINT) FROM tool_plans p2
                    WHERE p2.plan = t.plan AND p2.price < t.price) AS nc
            FROM tool_plans t
            WHERE t.price > (SELECT min(p2.price) FROM tool_plans p2
                             WHERE p2.price < t.price)
          ) GROUP BY tool
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               coalesce(m.n_iq, 0) AS n_iq,
               coalesce(m.iq_rows, '') AS iq_rows
        FROM transcripts t
        LEFT JOIN m ON m.tool = t.tool
        """,
    ),
)
def lookup_ineq_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 late: INEQUALITY correlations in scalar aggregate
    subqueries — Derby nests them per outer row (lookup.rb:131-147);
    the Spark-first decorrelation is a snapshot-time THETA JOIN
    aggregated per pinned dim row id and left-joined back (dim-sized,
    like a non-equi ON join; with equality keys Spark hash-joins and
    post-filters the inequality). Two shapes in one query: a
    rank-style count in the PROJECTION (eq + ineq correlation) and a
    global min comparand in the WHERE (ineq only — nested-loop)."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "iq",
                "query": (
                    "SELECT price AS price, "
                    "(SELECT count(*) FROM tool_plans p2 "
                    "WHERE p2.plan = tool_plans.plan "
                    "AND p2.price < tool_plans.price) AS nc "
                    "FROM tool_plans WHERE tool = :tool AND "
                    "price > (SELECT min(p2.price) FROM tool_plans p2 "
                    "WHERE p2.price < tool_plans.price)"
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
        F.size("iq").cast("long").alias("n_iq"),
        F.array_join(
            F.transform(
                F.col("iq"),
                lambda r: F.concat(
                    r.getField("price").cast("string"),
                    F.lit(":"),
                    r.getField("nc").cast("string"),
                ),
            ),
            ",",
        ).alias("iq_rows"),
    )


@register(
    "lookup_union_agg",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        tools AS (SELECT DISTINCT tool FROM transcripts),
        b1 AS (
          SELECT tool, plan, CAST(sum(price) AS BIGINT) AS v
          FROM tool_plans GROUP BY tool, plan HAVING sum(price) > 4
        ),
        b2 AS (
          SELECT tool, plan, CAST(sum(qty) AS BIGINT) AS v
          FROM tool_plans GROUP BY tool, plan HAVING sum(qty) >= 4
        ),
        b3 AS (
          SELECT t.tool, max(p.plan) AS plan,
                 CAST(count(p.tool) AS BIGINT) AS v
          FROM tools t LEFT JOIN tool_plans p ON p.tool = t.tool
          GROUP BY t.tool
        ),
        b4 AS (
          SELECT DISTINCT tool, plan, CAST(price AS BIGINT) AS v
          FROM tool_plans WHERE qty >= 3
        ),
        m AS (
          SELECT * FROM b1 UNION ALL SELECT * FROM b2
          UNION ALL SELECT * FROM b3 UNION ALL SELECT * FROM b4
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CAST(count(m.tool) AS BIGINT) AS n_ua,
               coalesce(
                 array_to_string(
                   list(coalesce(m.plan, '~N') || ':'
                        || coalesce(CAST(m.v AS VARCHAR), '~N')
                        ORDER BY coalesce(m.plan, '~N') || ':'
                        || coalesce(CAST(m.v AS VARCHAR), '~N')),
                   ','),
                 '') AS ua_rows
        FROM transcripts t
        LEFT JOIN m ON m.tool = t.tool
        GROUP BY 1, 2, 3
        """,
    ),
)
def lookup_union_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 latest widening: aggregates / GROUP BY / HAVING /
    DISTINCT INSIDE UNION branches — each branch is a full query
    specification, as Derby executes them verbatim (lookup.rb:131-147;
    Derby-legality pinned natively in
    tests/test_jdbc_derby.py::TestDerbyGrammarLegality). Branch 2's
    aliases rename positionally to branch 1's with its HAVING
    references remapped through the rename; branch 3 is a pure
    aggregate branch that contributes its one empty-set row even for
    tools with no plans (so the union never fires the default); branch
    4 exercises per-branch DISTINCT over a CAST projection. Physically
    still N broadcast probes over one shared fact scan — no fact-side
    shuffle. Payload rows are compared order-insensitively (sorted
    row-string join) because only the default contract orders the
    combined union payload."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "ua",
                "query": (
                    "SELECT plan AS plan, sum(price) AS tot "
                    "FROM tool_plans WHERE tool = :tool "
                    "GROUP BY plan HAVING sum(price) > 4 "
                    "UNION ALL "
                    "SELECT plan AS p2, sum(qty) AS q2 "
                    "FROM tool_plans WHERE tool = :tool "
                    "GROUP BY plan HAVING sum(qty) >= 4 "
                    "UNION ALL "
                    "SELECT max(plan) AS mp, count(*) AS c3 "
                    "FROM tool_plans WHERE tool = :tool "
                    "UNION ALL "
                    "SELECT DISTINCT plan AS p4, CAST(price AS BIGINT) "
                    "AS pr4 FROM tool_plans "
                    "WHERE tool = :tool AND qty >= 3"
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
        F.size("ua").cast("long").alias("n_ua"),
        F.array_join(
            F.array_sort(
                F.transform(
                    F.col("ua"),
                    lambda r: F.concat(
                        F.coalesce(r.getField("plan"), F.lit("~N")),
                        F.lit(":"),
                        F.coalesce(
                            r.getField("tot").cast("string"), F.lit("~N")
                        ),
                    ),
                )
            ),
            ",",
        ).alias("ua_rows"),
    )


@register(
    "lookup_quantified",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        m AS (
          SELECT tool, plan, price FROM tool_plans t
          WHERE price >= ALL (SELECT p2.price FROM tool_plans p2
                              WHERE p2.tool = t.tool)
            AND price > ANY (SELECT qty FROM tool_plans
                             WHERE plan IS NOT NULL)
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CAST(count(m.tool) AS BIGINT) AS n_qf,
               coalesce(
                 array_to_string(
                   list(coalesce(m.plan, '~N') || ':'
                        || CAST(m.price AS VARCHAR)
                        ORDER BY coalesce(m.plan, '~N') || ':'
                        || CAST(m.price AS VARCHAR)),
                   ','),
                 '') AS qf_rows
        FROM transcripts t
        LEFT JOIN m ON m.tool = t.tool
        GROUP BY 1, 2, 3
        """,
    ),
)
def lookup_quantified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 latest widening: quantified subquery comparisons —
    ``price >= ALL (SELECT ... correlated)`` AND ``price > ANY
    (SELECT ... uncorrelated)`` in one lookup WHERE. Derby runs these
    verbatim (lookup.rb:131-147; legality pinned natively in
    tests/test_jdbc_derby.py::TestDerbyGrammarLegality). Spark-first:
    the correlated set rides the same per-group set/had-null/count dim
    columns as correlated IN (built once per refresh snapshot,
    broadcast-joined dim-side) with higher-order forall doing the
    per-element comparison; the uncorrelated set collects once per
    snapshot and folds over literal Kleene conjunctions/disjunctions —
    the per-event plan stays the single broadcast-hash equi probe
    (plan-asserted in tests/test_lookup_quantified.py)."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "qf",
                "query": (
                    "SELECT plan AS plan, price AS price FROM tool_plans "
                    "WHERE tool = :tool "
                    "AND price >= ALL (SELECT p2.price FROM tool_plans p2 "
                    "WHERE p2.tool = tool_plans.tool) "
                    "AND price > ANY (SELECT qty FROM tool_plans "
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
        F.size("qf").cast("long").alias("n_qf"),
        F.array_join(
            F.array_sort(
                F.transform(
                    F.col("qf"),
                    lambda r: F.concat(
                        F.coalesce(r.getField("plan"), F.lit("~N")),
                        F.lit(":"),
                        r.getField("price").cast("string"),
                    ),
                )
            ),
            ",",
        ).alias("qf_rows"),
    )


@register(
    "lookup_grouped_tail",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        g AS (
          SELECT tool, plan,
                 CAST(sum(price) AS BIGINT) AS tot,
                 CAST(count(*) AS BIGINT) AS n
          FROM tool_plans GROUP BY 1, 2
        )
        """,
        """
        r1 AS (
          SELECT tool, plan, tot,
                 row_number() OVER (
                   PARTITION BY tool
                   ORDER BY tot DESC NULLS FIRST,
                            plan ASC NULLS LAST, tot ASC NULLS LAST
                 ) AS rn
          FROM g
        )
        """,
        """
        m1 AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS n1,
                 array_to_string(
                   list(coalesce(plan, '~N') || '='
                        || CAST(tot AS VARCHAR) ORDER BY rn),
                   '|') AS s1
          FROM r1 WHERE rn <= 2 GROUP BY 1
        )
        """,
        """
        r2 AS (
          SELECT tool, plan, n,
                 row_number() OVER (
                   PARTITION BY tool
                   ORDER BY plan ASC NULLS LAST,
                            plan ASC NULLS LAST, n ASC NULLS LAST
                 ) AS rn
          FROM g
        )
        """,
        """
        m2 AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS n2,
                 array_to_string(
                   list(coalesce(plan, '~N') || '='
                        || CAST(n AS VARCHAR) ORDER BY rn),
                   '|') AS s2
          FROM r2 WHERE rn >= 2 GROUP BY 1
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CAST(coalesce(m1.n1, 0) AS BIGINT) AS n_gt,
               coalesce(m1.s1, '') AS gt_rows,
               CAST(coalesce(m2.n2, 0) AS BIGINT) AS n_go,
               coalesce(m2.s2, '') AS go_rows
        FROM transcripts t
        LEFT JOIN m1 ON m1.tool = t.tool
        LEFT JOIN m2 ON m2.tool = t.tool
        """,
    ),
)
def lookup_grouped_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 latest widening: ORDER BY + LIMIT/OFFSET/FETCH combined
    with GROUP BY — Derby's single-SELECT top-N-per-key lookup (the
    reference executes it verbatim, lookup.rb:131-147; legality pinned
    natively in test_jdbc_derby.py::TestDerbyGrammarLegality). The sort
    runs over the AGGREGATED payload rows, so ORDER BY items name
    SELECT output aliases; Derby result-order semantics (NULL largest)
    plus the all-payload-field tiebreak keep the slice deterministic,
    and the payload array PRESERVES the sorted order (asserted via the
    order-sensitive ``array_join``s below against the oracle's
    ``ORDER BY rn`` lists). Spark-first the sort+slice compile to
    ``array_sort``+``slice`` over the per-key payload built once per
    refresh snapshot — the per-event plan stays the single
    broadcast-hash probe (tests/test_lookup_rhs.py::TestGroupedTail)."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "g1",
                "query": (
                    "SELECT plan AS plan, sum(price) AS tot "
                    "FROM tool_plans WHERE tool = :tool GROUP BY plan "
                    "ORDER BY tot DESC FETCH FIRST 2 ROWS ONLY"
                ),
                "parameters": {"tool": "tool"},
            },
            {
                "id": "g2",
                "query": (
                    "SELECT plan AS plan, count(*) AS n "
                    "FROM tool_plans WHERE tool = :tool GROUP BY plan "
                    "ORDER BY plan OFFSET 1 ROWS"
                ),
                "parameters": {"tool": "tool"},
            },
        ]
    )
    enricher = LookupEnricher(
        spec, {"tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)}
    )
    out = enricher.apply(t)

    def rows(col, vf):
        # order-SENSITIVE join: the payload array order IS the gated
        # contract here (ORDER BY tot DESC / plan ASC, then slice)
        return F.array_join(
            F.transform(
                F.col(col),
                lambda r: F.concat(
                    F.coalesce(r.getField("plan"), F.lit("~N")),
                    F.lit("="),
                    r.getField(vf).cast("string"),
                ),
            ),
            "|",
        )

    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size("g1").cast("long").alias("n_gt"),
        rows("g1", "tot").alias("gt_rows"),
        F.size("g2").cast("long").alias("n_go"),
        rows("g2", "n").alias("go_rows"),
    )


CAP_ROWS = (
    [(f"k-tool_{i}-a", 10 + i) for i in range(6)]
    + [(f"k-tool_{i}-b", 40 + i) for i in range(6)]
    + [("x-tool_0-a", 99)]  # decoy: prefix mismatch on every probe
)
CAP_SCHEMA = T.StructType(
    [
        T.StructField("tkey", T.StringType(), False),
        T.StructField("cap", T.IntegerType(), False),
    ]
)
_CAPS_CTE = values_cte(
    "tool_caps", CAP_ROWS, ["tkey", "cap"], casts={"cap": "INTEGER"}
)


@register(
    "lookup_param_expr",
    with_ctes(
        _CAPS_CTE,
        TRANSCRIPTS_CTE,
        # each lookup aggregates SEPARATELY before the final join —
        # two LEFT JOINs in one aggregate would cross-multiply their
        # match sets (the oracle fan-out trap)
        """
        ma AS (
          SELECT t.conv_id, t.turn_idx, t.tool,
                 CAST(count(a.cap) AS BIGINT) AS n_pe,
                 coalesce(
                   array_to_string(
                     list(CAST(a.cap AS VARCHAR) ORDER BY a.cap), ','),
                   '') AS pe_rows
          FROM transcripts t
          LEFT JOIN tool_caps a
            ON a.tkey = 'k-' || t.tool || '-a'
           AND a.cap > t.turn_idx * 2 - 20
          GROUP BY 1, 2, 3
        )
        """,
        """
        ml AS (
          SELECT t.conv_id, t.turn_idx,
                 CAST(count(l.cap) AS BIGINT) AS n_pl,
                 coalesce(
                   array_to_string(
                     list(CAST(l.cap AS VARCHAR) ORDER BY l.cap), ','),
                   '') AS pl_rows
          FROM transcripts t
          LEFT JOIN tool_caps l
            ON l.tkey LIKE 'k-' || t.tool || '-%'
          GROUP BY 1, 2
        )
        """,
        body="""
        SELECT ma.conv_id, ma.turn_idx, ma.tool,
               ma.n_pe, ma.pe_rows, ml.n_pl, ml.pl_rows
        FROM ma
        JOIN ml ON ml.conv_id = ma.conv_id AND ml.turn_idx = ma.turn_idx
        """,
    ),
)
def lookup_param_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 latest widening: expressions over ``:name`` params +
    literals on the predicate RIGHT-hand side — as the equi KEY
    (``tkey = 'k-' || :tool || '-a'``), as an arithmetic comparand
    (``cap > :ti * 2 - 20``), and as a computed LIKE pattern. Derby
    binds and evaluates these per event (lookup.rb:131-147; prepared-
    statement legality pinned in test_jdbc_derby.py); Spark-first the
    bound event Columns substitute into the expression AST
    (sqlexpr.subst_params) so the expression compiles FACT-side and
    each physical path keeps its plan — the concat key stays a single
    broadcast-hash probe (tests/test_lookup_rhs.py::
    TestParamExpressions::test_equi_key_plan_stays_broadcast_hash)."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "pe",
                "query": (
                    "SELECT cap FROM tool_caps "
                    "WHERE tkey = 'k-' || :tool || '-a' "
                    "AND cap > :ti * 2 - 20"
                ),
                "parameters": {"tool": "tool", "ti": "turn_idx"},
            },
            {
                "id": "pl",
                "query": (
                    "SELECT cap FROM tool_caps "
                    "WHERE tkey LIKE 'k-' || :tool || '-%'"
                ),
                "parameters": {"tool": "tool"},
            },
        ]
    )
    enricher = LookupEnricher(
        spec, {"tool_caps": spark.createDataFrame(CAP_ROWS, CAP_SCHEMA)}
    )
    out = enricher.apply(t)

    def rows(col):
        return F.array_join(
            F.transform(
                F.col(col), lambda r: r.getField("cap").cast("string")
            ),
            ",",
        )

    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size("pe").cast("long").alias("n_pe"),
        rows("pe").alias("pe_rows"),
        F.size("pl").cast("long").alias("n_pl"),
        rows("pl").alias("pl_rows"),
    )


@register(
    "lookup_branch_tail",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        g AS (
          SELECT tool, plan, CAST(sum(price) AS BIGINT) AS v
          FROM tool_plans GROUP BY 1, 2
        )
        """,
        """
        r1 AS (
          SELECT tool, plan, v,
                 row_number() OVER (
                   PARTITION BY tool
                   ORDER BY v DESC NULLS FIRST,
                            plan ASC NULLS LAST, v ASC NULLS LAST
                 ) AS rn
          FROM g
        )
        """,
        """
        r2 AS (
          SELECT tool, plan, CAST(price AS BIGINT) AS v,
                 row_number() OVER (
                   PARTITION BY tool
                   ORDER BY price DESC NULLS FIRST,
                            plan ASC NULLS LAST,
                            CAST(price AS BIGINT) ASC NULLS LAST
                 ) AS rn
          FROM tool_plans
        )
        """,
        """
        ub AS (
          SELECT tool, plan, v FROM r1 WHERE rn = 1
          UNION ALL
          SELECT tool, plan, v FROM r2 WHERE rn >= 2
        )
        """,
        """
        m AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS n,
                 array_to_string(
                   list(coalesce(plan, '~N') || '='
                        || CAST(v AS VARCHAR)
                        ORDER BY plan NULLS FIRST, v NULLS FIRST),
                   '|') AS s
          FROM ub GROUP BY 1
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CAST(coalesce(m.n, 0) AS BIGINT) AS n_bt,
               coalesce(m.s, '') AS bt_rows
        FROM transcripts t
        LEFT JOIN m ON m.tool = t.tool
        """,
    ),
)
def lookup_branch_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 latest widening: PARENTHESIZED set-op branches carrying
    their own ORDER BY + FETCH/OFFSET tails — branch 1 is a grouped
    top-1 (sum per plan, highest total), branch 2 an all-but-highest
    plain slice — combined with UNION ALL under the default payload
    contract. Derby computes each parenthesized branch's ordered top-N
    before the set op (legality pinned natively in test_jdbc_derby.py);
    Spark-first each branch keeps its own broadcast probe and the tail
    shapes its payload array (plain rows inside ``_assemble_payload``,
    grouped rows via ``_shape_raw``) — still N broadcast probes, no
    fact shuffle."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "bt",
                "query": (
                    "(SELECT plan AS plan, sum(price) AS v "
                    "FROM tool_plans WHERE tool = :tool GROUP BY plan "
                    "ORDER BY v DESC FETCH FIRST 1 ROWS ONLY) "
                    "UNION ALL "
                    "(SELECT plan AS plan, CAST(price AS BIGINT) AS v "
                    "FROM tool_plans WHERE tool = :tool "
                    "ORDER BY price DESC OFFSET 1 ROWS)"
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
        F.size("bt").cast("long").alias("n_bt"),
        F.array_join(
            F.transform(
                F.col("bt"),
                lambda r: F.concat(
                    F.coalesce(r.getField("plan"), F.lit("~N")),
                    F.lit("="),
                    r.getField("v").cast("string"),
                ),
            ),
            "|",
        ).alias("bt_rows"),
    )


@register(
    "lookup_corr_having",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        pa AS (
          SELECT plan, avg(price) AS pavg FROM tool_plans
          WHERE plan IS NOT NULL GROUP BY 1
        )
        """,
        """
        g AS (
          SELECT t.tool, t.plan, CAST(sum(t.price) AS BIGINT) AS total
          FROM tool_plans t GROUP BY 1, 2
        )
        """,
        """
        k AS (
          SELECT g.* FROM g LEFT JOIN pa ON pa.plan = g.plan
          WHERE g.total >= pa.pavg
        )
        """,
        """
        m AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS n,
                 array_to_string(
                   list(coalesce(plan, '~N') || '='
                        || CAST(total AS VARCHAR)
                        ORDER BY plan NULLS FIRST, total NULLS FIRST),
                   '|') AS s
          FROM k GROUP BY 1
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CAST(coalesce(m.n, 0) AS BIGINT) AS n_ch,
               coalesce(m.s, '') AS ch_rows
        FROM transcripts t
        LEFT JOIN m ON m.tool = t.tool
        """,
    ),
)
def lookup_corr_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 latest widening: a CORRELATED scalar subquery as a
    HAVING comparand — each per-tool plan group survives only when its
    total meets the GLOBAL per-plan average (``HAVING total >= (SELECT
    avg(price) FROM tool_plans p2 WHERE p2.plan = tool_plans.plan)``).
    Derby-legal when the correlated column is a grouping column (pinned
    natively in test_jdbc_derby.py). Spark-first the per-group value
    joins onto the dim once per snapshot and rides into the payload
    via a hidden ``max(__sq_corrN)`` aggregate, read by the HAVING
    filter and stripped afterward — the per-event plan stays the
    single broadcast-hash probe. A NULL-plan group correlates to
    nothing (avg NULL -> dropped, SQL 3VL) on both engines."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "ch",
                "query": (
                    "SELECT plan AS plan, sum(price) AS total "
                    "FROM tool_plans WHERE tool = :tool GROUP BY plan "
                    "HAVING total >= (SELECT avg(p2.price) "
                    "FROM tool_plans p2 WHERE p2.plan = tool_plans.plan)"
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
        F.size("ch").cast("long").alias("n_ch"),
        F.array_join(
            F.transform(
                F.col("ch"),
                lambda r: F.concat(
                    F.coalesce(r.getField("plan"), F.lit("~N")),
                    F.lit("="),
                    r.getField("total").cast("string"),
                ),
            ),
            "|",
        ).alias("ch_rows"),
    )


@register(
    "lookup_having_set",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        g1 AS (
          SELECT t.tool, t.plan, CAST(max(t.price) AS BIGINT) AS mx
          FROM tool_plans t GROUP BY 1, 2
        )
        """,
        """
        k1 AS (
          SELECT g1.* FROM g1
          WHERE g1.mx NOT IN (SELECT p2.price FROM tool_plans p2
                              WHERE p2.plan = g1.plan AND p2.price > 7)
        )
        """,
        """
        m1 AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS n,
                 array_to_string(
                   list(coalesce(plan, '~N') || '='
                        || CAST(mx AS VARCHAR)
                        ORDER BY plan NULLS FIRST),
                   '|') AS s
          FROM k1 GROUP BY 1
        )
        """,
        """
        g2 AS (
          SELECT t.tool, t.plan, CAST(sum(t.price) AS BIGINT) AS total
          FROM tool_plans t GROUP BY 1, 2
        )
        """,
        """
        k2 AS (
          SELECT g2.* FROM g2
          WHERE g2.total >= ALL (SELECT p2.price FROM tool_plans p2
                                 WHERE p2.plan = g2.plan)
        )
        """,
        """
        m2 AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS n,
                 array_to_string(
                   list(coalesce(plan, '~N') || '='
                        || CAST(total AS VARCHAR)
                        ORDER BY plan NULLS FIRST),
                   '|') AS s
          FROM k2 GROUP BY 1
        )
        """,
        """
        g4 AS (
          SELECT tool, plan, CAST(sum(price) AS BIGINT) AS total,
                 CAST(count(*) AS BIGINT) AS n
          FROM tool_plans GROUP BY 1, 2
        )
        """,
        """
        k4 AS (SELECT * FROM g4 WHERE total * 2 > n + 12)
        """,
        """
        m4 AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS n,
                 array_to_string(
                   list(coalesce(plan, '~N') || '='
                        || CAST(total AS VARCHAR)
                        ORDER BY plan NULLS FIRST),
                   '|') AS s
          FROM k4 GROUP BY 1
        )
        """,
        """
        g3 AS (
          SELECT plan, CAST(max(price) AS BIGINT) AS m
          FROM tool_plans GROUP BY 1
        )
        """,
        """
        k3 AS (
          SELECT tt.tool, g3.plan, g3.m
          FROM (SELECT DISTINCT tool FROM transcripts) tt, g3
          WHERE g3.m IN (SELECT p2.price FROM tool_plans p2
                         WHERE p2.tool = tt.tool)
        )
        """,
        """
        m3 AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS n,
                 array_to_string(
                   list(coalesce(plan, '~N') || '='
                        || CAST(m AS VARCHAR)
                        ORDER BY plan NULLS LAST),
                   '|') AS s
          FROM k3 GROUP BY 1
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CAST(coalesce(m1.n, 0) AS BIGINT) AS n_hi,
               coalesce(m1.s, '') AS hi_rows,
               CAST(coalesce(m2.n, 0) AS BIGINT) AS n_hq,
               coalesce(m2.s, '') AS hq_rows,
               CAST(coalesce(m3.n, 0) AS BIGINT) AS n_hp,
               coalesce(m3.s, '') AS hp_rows,
               CAST(coalesce(m4.n, 0) AS BIGINT) AS n_he,
               coalesce(m4.s, '') AS he_rows
        FROM transcripts t
        LEFT JOIN m1 ON m1.tool = t.tool
        LEFT JOIN m2 ON m2.tool = t.tool
        LEFT JOIN m3 ON m3.tool = t.tool
        LEFT JOIN m4 ON m4.tool = t.tool
        """,
    ),
)
def lookup_having_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 latest widening: CORRELATED set subqueries in HAVING —
    ``hi`` a correlated ``NOT IN`` (empty correlated group vacuously
    TRUE; a NULL-plan group correlates to nothing), ``hq`` a
    correlated ``>= ALL`` quantified comparison. Derby runs both
    natively when the correlated column is a grouping column (pinned
    in test_jdbc_derby.py). Spark-first the per-group (set, had-NULL,
    count) dim columns ride into the payload as hidden ``max(...)
    AS __hsq*`` carriers — exact, group-constant by the GROUP BY-key
    validation — read by the HAVING filter's ``in_set`` /
    ``{cmp} {quant}_set`` 3VL ops and stripped afterward; the
    per-event plan stays the single broadcast-hash probe."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "hi",
                "query": (
                    "SELECT plan AS plan, max(price) AS mx "
                    "FROM tool_plans WHERE tool = :tool GROUP BY plan "
                    "HAVING mx NOT IN (SELECT p2.price FROM "
                    "tool_plans p2 WHERE p2.plan = tool_plans.plan "
                    "AND p2.price > 7)"
                ),
                "parameters": {"tool": "tool"},
            },
            {
                "id": "hq",
                "query": (
                    "SELECT plan AS plan, sum(price) AS total "
                    "FROM tool_plans WHERE tool = :tool GROUP BY plan "
                    "HAVING total >= ALL (SELECT p2.price FROM "
                    "tool_plans p2 WHERE p2.plan = tool_plans.plan)"
                ),
                "parameters": {"tool": "tool"},
            },
            {
                # expression LEFT-HAND SIDES in HAVING (round-5
                # latest): payload-level expressions over SELECT
                # aliases on BOTH comparison sides, evaluated over the
                # group row at filter time
                "id": "he",
                "query": (
                    "SELECT plan AS plan, sum(price) AS total, "
                    "count(*) AS n FROM tool_plans "
                    "WHERE tool = :tool GROUP BY plan "
                    "HAVING total * 2 > n + 12"
                ),
                "parameters": {"tool": "tool"},
            },
            {
                # PARAMETERIZED IN in HAVING (round-5 latest): the
                # per-event set rides the hidden-carrier overlay;
                # ORDER BY pins the payload order (Derby null-largest)
                "id": "hp",
                "query": (
                    "SELECT plan AS plan, max(price) AS m "
                    "FROM tool_plans GROUP BY plan "
                    "HAVING m IN (SELECT p2.price FROM tool_plans p2 "
                    "WHERE p2.tool = :tool) ORDER BY plan"
                ),
                "parameters": {"tool": "tool"},
            },
        ]
    )
    enricher = LookupEnricher(
        spec, {"tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)}
    )
    out = enricher.apply(t)

    def rows(col, val):
        return F.array_join(
            F.transform(
                F.col(col),
                lambda r: F.concat(
                    F.coalesce(r.getField("plan"), F.lit("~N")),
                    F.lit("="),
                    r.getField(val).cast("string"),
                ),
            ),
            "|",
        )

    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size("hi").cast("long").alias("n_hi"),
        rows("hi", "mx").alias("hi_rows"),
        F.size("hq").cast("long").alias("n_hq"),
        rows("hq", "total").alias("hq_rows"),
        F.size("hp").cast("long").alias("n_hp"),
        rows("hp", "m").alias("hp_rows"),
        F.size("he").cast("long").alias("n_he"),
        rows("he", "total").alias("he_rows"),
    )


@register(
    "lookup_having_exists",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        hg AS (
          SELECT tool, plan, CAST(count(*) AS BIGINT) AS n
          FROM tool_plans GROUP BY 1, 2
        )
        """,
        """
        hkx AS (
          SELECT hg.* FROM hg WHERE EXISTS (
            SELECT 1 FROM tool_plans p2
            WHERE p2.plan = hg.plan AND p2.qty >= 4)
        )
        """,
        """
        hknx AS (
          SELECT hg.* FROM hg WHERE hg.n >= 1 AND NOT EXISTS (
            SELECT 1 FROM tool_plans p2
            WHERE p2.plan = hg.plan AND p2.qty >= 4)
        )
        """,
        """
        mhx AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS n_hx,
                 array_to_string(
                   list(coalesce(plan, '~N') || '='
                        || CAST(n AS VARCHAR)
                        ORDER BY plan NULLS FIRST), '|') AS hx_rows
          FROM hkx GROUP BY 1
        )
        """,
        """
        mhnx AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS n_hnx,
                 array_to_string(
                   list(coalesce(plan, '~N') || '='
                        || CAST(n AS VARCHAR)
                        ORDER BY plan NULLS FIRST), '|') AS hnx_rows
          FROM hknx GROUP BY 1
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CAST(coalesce(mhx.n_hx, 0) AS BIGINT) AS n_hx,
               coalesce(mhx.hx_rows, '') AS hx_rows,
               CAST(coalesce(mhnx.n_hnx, 0) AS BIGINT) AS n_hnx,
               coalesce(mhnx.hnx_rows, '') AS hnx_rows
        FROM transcripts t
        LEFT JOIN mhx ON mhx.tool = t.tool
        LEFT JOIN mhnx ON mhnx.tool = t.tool
        """,
    ),
)
def lookup_having_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 latest widening: ``[NOT] EXISTS`` subqueries in HAVING,
    correlated on GROUP BY keys — Derby-legal (pinned natively in
    test_jdbc_derby.py); the reference would hand the whole statement
    to Derby verbatim (lookup.rb:131-147). Spark-first the
    group-constant EXISTS flag resolves once per refresh snapshot as a
    boolean dim column and rides into the payload as a hidden
    ``max(__sq_exists*)`` aggregate read by the HAVING filter and
    stripped afterward — the same ``__hsq`` mechanism as correlated
    scalar HAVING comparands; the per-event plan stays the single
    broadcast-hash probe. A NULL-plan group correlates to nothing:
    EXISTS false, NOT EXISTS true, 3VL on both engines. The DuckDB
    twin states the HAVING as a literal correlated EXISTS over the
    grouped rows — an independent derivation."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "hx",
                "query": (
                    "SELECT plan AS plan, count(*) AS n FROM tool_plans "
                    "WHERE tool = :tool GROUP BY plan "
                    "HAVING EXISTS (SELECT 1 FROM tool_plans p2 "
                    "WHERE p2.plan = tool_plans.plan AND p2.qty >= 4)"
                ),
                "parameters": {"tool": "tool"},
            },
            {
                "id": "hnx",
                "query": (
                    "SELECT plan AS plan, count(*) AS n FROM tool_plans "
                    "WHERE tool = :tool GROUP BY plan "
                    "HAVING n >= 1 AND NOT EXISTS "
                    "(SELECT 1 FROM tool_plans p2 "
                    "WHERE p2.plan = tool_plans.plan AND p2.qty >= 4)"
                ),
                "parameters": {"tool": "tool"},
            },
        ]
    )
    enricher = LookupEnricher(
        spec, {"tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)}
    )
    out = enricher.apply(t)

    def _rows(col):
        return F.array_join(
            F.transform(
                F.col(col),
                lambda r: F.concat(
                    F.coalesce(r.getField("plan"), F.lit("~N")),
                    F.lit("="),
                    r.getField("n").cast("string"),
                ),
            ),
            "|",
        )

    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size("hx").cast("long").alias("n_hx"),
        _rows("hx").alias("hx_rows"),
        F.size("hnx").cast("long").alias("n_hnx"),
        _rows("hnx").alias("hnx_rows"),
    )


@register(
    "lookup_expr_corr",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        ga AS (
          SELECT upper(plan) AS up, avg(price) AS a
          FROM tool_plans WHERE plan IS NOT NULL GROUP BY 1
        )
        """,
        """
        m AS (
          SELECT t.tool, t.price
          FROM tool_plans t
          JOIN ga ON ga.up = upper(t.plan)
          WHERE t.price >= ga.a
        )
        """,
        body="""
        SELECT tr.conv_id, tr.turn_idx, tr.tool,
               CAST(count(m.price) AS BIGINT) AS n_xc,
               coalesce(
                 array_to_string(
                   list(CAST(m.price AS VARCHAR) ORDER BY m.price), ','),
                 '') AS xc_rows
        FROM transcripts tr
        LEFT JOIN m ON m.tool = tr.tool
        GROUP BY 1, 2, 3
        """,
    ),
)
def lookup_expr_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 latest widening: EXPRESSIONS on both sides of a
    correlation equality — plans priced at or above the average of
    their case-folded plan family (``price >= (SELECT avg(p2.price)
    FROM tool_plans p2 WHERE upper(p2.plan) = upper(tool_plans.plan))``).
    Derby nests the probe per outer row (lookup.rb:131-147; legality
    pinned natively in test_jdbc_derby.py). Spark-first the sub-side
    expression becomes the per-group aggregation's groupBy key and the
    outer-side expression materializes once per snapshot as a
    ``__sq_oexpr*`` dim column the correlation joins on — the per-event
    plan stays the single broadcast-hash probe. A NULL plan correlates
    to nothing on both engines (upper(NULL) never equals, avg NULL ->
    dropped, SQL 3VL)."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "xc",
                "query": (
                    "SELECT price FROM tool_plans WHERE tool = :tool "
                    "AND price >= (SELECT avg(p2.price) FROM tool_plans "
                    "p2 WHERE upper(p2.plan) = upper(tool_plans.plan))"
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
        F.size("xc").cast("long").alias("n_xc"),
        F.array_join(
            F.transform(
                F.col("xc"), lambda r: r.getField("price").cast("string")
            ),
            ",",
        ).alias("xc_rows"),
    )


@register(
    "lookup_nested_corr",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        qa AS (
          SELECT plan, avg(qty) AS aq FROM tool_plans
          WHERE plan IS NOT NULL GROUP BY 1
        )
        """,
        """
        ok_plans AS (
          SELECT DISTINCT p2.plan
          FROM tool_plans p2 JOIN qa ON qa.plan = p2.plan
          WHERE p2.qty >= qa.aq
        )
        """,
        """
        m AS (
          SELECT t.tool, t.price
          FROM tool_plans t JOIN ok_plans k ON k.plan = t.plan
        )
        """,
        body="""
        SELECT tr.conv_id, tr.turn_idx, tr.tool,
               CAST(count(m.price) AS BIGINT) AS n_nc,
               coalesce(
                 array_to_string(
                   list(CAST(m.price AS VARCHAR) ORDER BY m.price), ','),
                 '') AS nc_rows
        FROM transcripts tr
        LEFT JOIN m ON m.tool = tr.tool
        GROUP BY 1, 2, 3
        """,
    ),
)
def lookup_nested_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 latest widening: NESTED correlated scalar subqueries —
    an EXISTS whose sub-WHERE compares against an inner per-plan
    average (``EXISTS (SELECT 1 FROM tool_plans p2 WHERE p2.plan =
    tool_plans.plan AND p2.qty >= (SELECT avg(p3.qty) FROM tool_plans
    p3 WHERE p3.plan = p2.plan))``). Derby executes the whole chain per
    outer row (lookup.rb:131-147; pinned natively in
    test_jdbc_derby.py). Spark-first the INNER per-group aggregate
    left-joins onto the SUB frame as a ``__nsq*`` column once per
    snapshot (recursive hoist), then the EXISTS flag builds as usual —
    the per-event plan stays the single broadcast-hash probe. A NULL
    plan correlates to nothing at both levels."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "nc",
                "query": (
                    "SELECT price FROM tool_plans WHERE tool = :tool "
                    "AND EXISTS (SELECT 1 FROM tool_plans p2 "
                    "WHERE p2.plan = tool_plans.plan AND p2.qty >= "
                    "(SELECT avg(p3.qty) FROM tool_plans p3 "
                    "WHERE p3.plan = p2.plan))"
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
        F.size("nc").cast("long").alias("n_nc"),
        F.array_join(
            F.transform(
                F.col("nc"), lambda r: r.getField("price").cast("string")
            ),
            ",",
        ).alias("nc_rows"),
    )


@register(
    "lookup_psq_group",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        ps AS (
          SELECT plan, CAST(sum(price) AS BIGINT) AS tot
          FROM tool_plans WHERE plan IS NOT NULL GROUP BY 1
        )
        """,
        """
        g AS (
          SELECT t.tool, t.plan, CAST(count(*) AS BIGINT) AS n
          FROM tool_plans t GROUP BY 1, 2
        )
        """,
        """
        k AS (
          SELECT g.tool, g.plan, ps.tot, g.n
          FROM g LEFT JOIN ps ON ps.plan = g.plan
        )
        """,
        """
        m AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS cnt,
                 array_to_string(
                   list(coalesce(plan, '~N') || '='
                        || coalesce(CAST(tot AS VARCHAR), '~N') || '#'
                        || CAST(n AS VARCHAR)
                        ORDER BY plan NULLS FIRST),
                   '|') AS s
          FROM k GROUP BY 1
        )
        """,
        """
        ga AS (
          SELECT tr.conv_id, tr.turn_idx,
                 CAST(count(p.tool) AS BIGINT) AS n_ga,
                 CAST(sum(p.price) AS BIGINT) AS s_ga
          FROM transcripts tr
          LEFT JOIN tool_plans p ON p.tool = tr.tool
          GROUP BY 1, 2
        )
        """,
        """
        pq AS (
          SELECT tool, CAST(sum(qty) AS BIGINT) AS tq
          FROM tool_plans GROUP BY 1
        )
        """,
        """
        pps AS (
          SELECT k.tool,
                 coalesce(k.plan, '~N') || ':'
                 || CAST(k.price AS VARCHAR) || '='
                 || CAST(pq.tq AS VARCHAR) AS s
          FROM tool_plans k JOIN pq ON pq.tool = k.tool
        )
        """,
        """
        pp AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS n_pp,
                 array_to_string(list(s ORDER BY s), '|') AS s_pp
          FROM pps GROUP BY 1
        )
        """,
        """
        tc AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS c
          FROM tool_plans GROUP BY 1
        )
        """,
        """
        pgrp AS (
          SELECT coalesce(plan, '~N') || '#'
                 || CAST(count(*) AS VARCHAR) AS s,
                 CAST(count(*) AS BIGINT) AS n
          FROM tool_plans GROUP BY plan
        )
        """,
        """
        ph AS (
          SELECT tt.tool,
                 CAST(count(pgrp.s) AS BIGINT) AS n_ph,
                 coalesce(array_to_string(
                   list(pgrp.s ORDER BY pgrp.s)
                     FILTER (WHERE pgrp.s IS NOT NULL), '|'), '') AS s_ph
          FROM (SELECT DISTINCT tool FROM transcripts) tt
          LEFT JOIN tc ON tc.tool = tt.tool
          LEFT JOIN pgrp ON pgrp.n > coalesce(tc.c, 0)
          GROUP BY tt.tool
        )
        """,
        body="""
        SELECT tr.conv_id, tr.turn_idx, tr.tool,
               CAST(coalesce(m.cnt, 0) AS BIGINT) AS n_pg,
               coalesce(m.s, '') AS pg_rows,
               (SELECT max(price) FROM tool_plans) AS mx_ga,
               ga.n_ga, ga.s_ga,
               CAST(coalesce(pp.n_pp, 0) AS BIGINT) AS n_pp,
               coalesce(pp.s_pp, '') AS pp_rows,
               ph.n_ph, ph.s_ph AS ph_rows
        FROM transcripts tr
        LEFT JOIN m ON m.tool = tr.tool
        JOIN ga ON ga.conv_id = tr.conv_id AND ga.turn_idx = tr.turn_idx
        LEFT JOIN pp ON pp.tool = tr.tool
        JOIN ph ON ph.tool = tr.tool
        """,
    ),
)
def lookup_psq_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 latest widening: a projection scalar subquery combined
    with GROUP BY — each per-tool plan group carries the GLOBAL
    per-plan price total next to its own count (``SELECT plan, (SELECT
    sum(p2.price) FROM tool_plans p2 WHERE p2.plan = tool_plans.plan)
    AS tot, count(*) AS n ... GROUP BY plan``). This is a documented
    standard-SQL EXTENSION over Derby, which rejects ANY scalar
    subquery in a grouped SELECT list (ERROR 42Y30, pinned natively
    in test_jdbc_derby.py) — accepted here because the correlation
    keys are GROUP BY keys, so the value is group-constant and no
    Derby-semantics conflict is possible. Spark-first the ``__psq0``
    per-group
    aggregate left-joins onto the dim once per snapshot and FOLDS INTO
    the grouping columns (it is a function of the group keys, so the
    groups are unchanged) — the per-event plan stays the single
    broadcast-hash probe. The NULL-plan group correlates to nothing
    (tot NULL) on both engines."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "pg",
                "query": (
                    "SELECT plan AS plan, "
                    "(SELECT sum(p2.price) FROM tool_plans p2 "
                    "WHERE p2.plan = tool_plans.plan) AS tot, "
                    "count(*) AS n "
                    "FROM tool_plans WHERE tool = :tool GROUP BY plan"
                ),
                "parameters": {"tool": "tool"},
            },
            {
                # round-5 latest: the GLOBAL-aggregate combination —
                # the projected subquery becomes a hidden max(__psq0)
                # aggregate and the empty-set row (tool_ghost probes)
                # still carries the snapshot literal, as SQL requires
                # (Derby rejects the shape outright: 42Y35, pinned)
                "id": "pga",
                "query": (
                    "SELECT (SELECT max(price) FROM tool_plans) AS mx, "
                    "count(*) AS n, sum(price) AS s "
                    "FROM tool_plans WHERE tool = :tool"
                ),
                "parameters": {"tool": "tool"},
            },
            {
                # round-5 latest: a PARAMETERIZED projection subquery
                # — the per-event per-tool qty total rides next to
                # each plan row (Derby-native prepared shape, e2e in
                # test_jdbc_derby.py); the snapshot per-tool aggregate
                # frame broadcast-joins onto the fact and the value
                # overlays the typed NULL placeholder post-stage
                "id": "ppp",
                "query": (
                    "SELECT plan AS plan, price AS price, "
                    "(SELECT sum(qty) FROM tool_plans p2 "
                    "WHERE p2.tool = :tool) AS tq "
                    "FROM tool_plans WHERE tool = :tool"
                ),
                "parameters": {"tool": "tool"},
            },
            {
                # round-5 latest: a PARAMETERIZED scalar subquery as a
                # HAVING comparand — the per-event value rides into the
                # aggregated payload as a hidden overlaid carrier and
                # the HAVING filter reads it post-aggregation (Derby-
                # native prepared shape, e2e in test_jdbc_derby.py)
                "id": "phv",
                "query": (
                    "SELECT plan AS plan, count(*) AS n "
                    "FROM tool_plans GROUP BY plan "
                    "HAVING count(*) > (SELECT count(*) "
                    "FROM tool_plans p2 WHERE p2.tool = :tool)"
                ),
                "parameters": {"tool": "tool"},
            },
        ]
    )
    enricher = LookupEnricher(
        spec, {"tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)}
    )
    out = enricher.apply(t)
    ga = F.get(F.col("pga"), 0)  # a global aggregate always yields 1 row
    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size("pg").cast("long").alias("n_pg"),
        F.array_join(
            F.transform(
                F.col("pg"),
                lambda r: F.concat(
                    F.coalesce(r.getField("plan"), F.lit("~N")),
                    F.lit("="),
                    F.coalesce(
                        r.getField("tot").cast("string"), F.lit("~N")
                    ),
                    F.lit("#"),
                    r.getField("n").cast("string"),
                ),
            ),
            "|",
        ).alias("pg_rows"),
        ga.getField("mx").alias("mx_ga"),
        ga.getField("n").cast("long").alias("n_ga"),
        ga.getField("s").cast("long").alias("s_ga"),
        F.size("ppp").cast("long").alias("n_pp"),
        F.array_join(
            F.array_sort(
                F.transform(
                    F.col("ppp"),
                    lambda r: F.concat(
                        F.coalesce(r.getField("plan"), F.lit("~N")),
                        F.lit(":"),
                        r.getField("price").cast("string"),
                        F.lit("="),
                        r.getField("tq").cast("string"),
                    ),
                )
            ),
            "|",
        ).alias("pp_rows"),
        F.size("phv").cast("long").alias("n_ph"),
        F.array_join(
            F.array_sort(
                F.transform(
                    F.col("phv"),
                    lambda r: F.concat(
                        F.coalesce(r.getField("plan"), F.lit("~N")),
                        F.lit("#"),
                        r.getField("n").cast("string"),
                    ),
                )
            ),
            "|",
        ).alias("ph_rows"),
    )


@register(
    "lookup_derived_setop",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        s1 AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS n1,
                 array_to_string(
                   list(coalesce(plan, '~N') || ':'
                        || CAST(price AS VARCHAR)
                        ORDER BY plan NULLS FIRST, price),
                   ',') AS r1
          FROM (
            SELECT tool, plan, price FROM tool_plans WHERE qty >= 2
            UNION ALL
            SELECT tool, plan, price FROM tool_plans WHERE price > 6
            EXCEPT ALL
            SELECT tool, plan, price FROM tool_plans WHERE plan = 'pro'
          ) d GROUP BY tool
        )
        """,
        """
        s2 AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS n2,
                 array_to_string(
                   list(coalesce(plan, '~N') ORDER BY plan NULLS FIRST),
                   ',') AS r2
          FROM (
            SELECT tool, plan FROM tool_plans WHERE price >= 8
            UNION
            SELECT tool, plan FROM tool_plans WHERE qty >= 3
            INTERSECT
            SELECT tool, plan FROM tool_plans WHERE plan IS NOT NULL
          ) d GROUP BY tool
        )
        """,
        """
        s3 AS (
          SELECT tl AS tool, CAST(count(*) AS BIGINT) AS n3,
                 array_to_string(
                   list(CAST(p AS VARCHAR) ORDER BY p), ',') AS r3
          FROM (
            SELECT tool, price FROM tool_plans WHERE qty <= 4
            UNION ALL
            VALUES ('tool_5', 42)
            ORDER BY price DESC, tool LIMIT 4
          ) AS d (tl, p)
          GROUP BY tl
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               coalesce(s1.n1, 0) AS n_s1,
               coalesce(s1.r1, '') AS s1_rows,
               coalesce(s2.n2, 0) AS n_s2,
               coalesce(s2.r2, '') AS s2_rows,
               coalesce(s3.n3, 0) AS n_s3,
               coalesce(s3.r3, '') AS s3_rows
        FROM transcripts t
        LEFT JOIN s1 ON s1.tool = t.tool
        LEFT JOIN s2 ON s2.tool = t.tool
        LEFT JOIN s3 ON s3.tool = t.tool
        """,
    ),
)
def lookup_derived_setop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 latest widening: SET OPS inside derived tables — Derby
    executes the full query expression verbatim inside ``FROM (...)``
    (lookup.rb:131-147; mixed ALL joints + bare VALUES branches pinned
    natively in test_jdbc_derby.py::test_setops_inside_derived_table).
    Three lookups: (1) mixed ``UNION ALL`` then ``EXCEPT ALL`` —
    multiset semantics via exceptAll; (2) ``UNION`` with an
    ``INTERSECT`` that binds TIGHTER (SQL precedence: A UNION (B
    INTERSECT C)); (3) a bare ``VALUES`` branch with a trailing
    ordered top-N over the WHOLE set-op result plus a positional
    column list. Each combination materializes ONCE per refresh
    snapshot (dim-sized exceptAll/intersect shuffles; the fact side
    keeps its broadcast-hash probe). NULL plans exercise
    NULL-not-distinct set semantics on both engines."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "s1",
                "query": (
                    "SELECT d.plan AS plan, d.price AS price FROM "
                    "(SELECT tool AS tool, plan AS plan, price AS price "
                    "FROM tool_plans WHERE qty >= 2 "
                    "UNION ALL SELECT tool AS tool, plan AS plan, "
                    "price AS price FROM tool_plans WHERE price > 6 "
                    "EXCEPT ALL SELECT tool AS tool, plan AS plan, "
                    "price AS price FROM tool_plans WHERE plan = 'pro') d "
                    "WHERE d.tool = :tool"
                ),
                "parameters": {"tool": "tool"},
            },
            {
                "id": "s2",
                "query": (
                    "SELECT d.plan AS plan FROM "
                    "(SELECT tool AS tool, plan AS plan FROM tool_plans "
                    "WHERE price >= 8 "
                    "UNION SELECT tool AS tool, plan AS plan "
                    "FROM tool_plans WHERE qty >= 3 "
                    "INTERSECT SELECT tool AS tool, plan AS plan "
                    "FROM tool_plans WHERE plan IS NOT NULL) d "
                    "WHERE d.tool = :tool"
                ),
                "parameters": {"tool": "tool"},
            },
            {
                "id": "s3",
                "query": (
                    "SELECT d.p AS p FROM "
                    "(SELECT tool AS tool, price AS price FROM tool_plans "
                    "WHERE qty <= 4 "
                    "UNION ALL VALUES ('tool_5', 42) "
                    "ORDER BY price DESC "
                    "FETCH FIRST 4 ROWS ONLY) AS d (tl, p) "
                    "WHERE d.tl = :tool"
                ),
                "parameters": {"tool": "tool"},
            },
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
        F.size("s1").cast("long").alias("n_s1"),
        F.array_join(
            F.transform(
                F.col("s1"),
                lambda r: F.concat(
                    F.coalesce(r.getField("plan"), F.lit("~N")),
                    F.lit(":"),
                    r.getField("price").cast("string"),
                ),
            ),
            ",",
        ).alias("s1_rows"),
        F.size("s2").cast("long").alias("n_s2"),
        F.array_join(
            F.transform(
                F.col("s2"),
                lambda r: F.coalesce(r.getField("plan"), F.lit("~N")),
            ),
            ",",
        ).alias("s2_rows"),
        F.size("s3").cast("long").alias("n_s3"),
        F.array_join(
            F.transform(
                F.col("s3"), lambda r: r.getField("p").cast("string")
            ),
            ",",
        ).alias("s3_rows"),
    )


@register(
    "lookup_mixed_expr",
    with_ctes(
        _CAPS_CTE,
        TRANSCRIPTS_CTE,
        """
        ma AS (
          SELECT t.conv_id, t.turn_idx,
                 CAST(count(a.cap) AS BIGINT) AS n_mx,
                 coalesce(
                   array_to_string(
                     list(CAST(a.cap AS VARCHAR) ORDER BY a.cap), ','),
                   '') AS mx_rows
          FROM transcripts t
          LEFT JOIN tool_caps a
            ON a.tkey = 'k-' || t.tool || '-a'
           AND a.cap > length(a.tkey) + t.turn_idx
          GROUP BY 1, 2
        )
        """,
        """
        ml AS (
          SELECT t.conv_id, t.turn_idx,
                 CAST(count(l.cap) AS BIGINT) AS n_ml,
                 coalesce(
                   array_to_string(
                     list(CAST(l.cap AS VARCHAR) ORDER BY l.cap), ','),
                   '') AS ml_rows
          FROM transcripts t
          LEFT JOIN tool_caps l
            ON l.tkey LIKE substr(l.tkey, 1, 2) || t.tool || '-%'
          GROUP BY 1, 2
        )
        """,
        """
        mi AS (
          SELECT t.conv_id, t.turn_idx,
                 CAST(count(i.cap) AS BIGINT) AS n_mi,
                 coalesce(
                   array_to_string(
                     list(CAST(i.cap AS VARCHAR) ORDER BY i.cap), ','),
                   '') AS mi_rows
          FROM transcripts t
          LEFT JOIN tool_caps i
            ON i.tkey LIKE 'k-%'
           AND i.cap IN (length(i.tkey) * t.turn_idx, 42)
          GROUP BY 1, 2
        )
        """,
        body="""
        SELECT ma.conv_id, ma.turn_idx, ma.n_mx, ma.mx_rows,
               ml.n_ml, ml.ml_rows, mi.n_mi, mi.mi_rows
        FROM ma
        JOIN ml ON ml.conv_id = ma.conv_id AND ml.turn_idx = ma.turn_idx
        JOIN mi ON mi.conv_id = ma.conv_id AND mi.turn_idx = ma.turn_idx
        """,
    ),
)
def lookup_mixed_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 latest widening: predicate-rhs expressions MIXING dim
    columns with :params (``cap > length(tkey) + :ti``), including a
    mixed LIKE pattern (``tkey LIKE substr(tkey, 1, 2) || :tool ||
    '-%'`` — the decoy 'x-' row matches only its own prefix) and a
    mixed IN item. Derby evaluates these per (row, binding)
    (lookup.rb:131-147; prepared-statement legality pinned in
    test_jdbc_derby.py); Spark-first the expression compiles INSIDE
    the theta probe condition — params substitute to the distinct
    tuple's columns, dim columns to the broadcast dim struct — so a
    mixed equality routes OFF the pure-equi path and the fact side
    stays shuffle-free on the broadcast paths
    (tests/test_lookup_rhs.py::TestMixedExpressions)."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "mx",
                "query": (
                    "SELECT cap FROM tool_caps "
                    "WHERE tkey = 'k-' || :tool || '-a' "
                    "AND cap > length(tkey) + :ti"
                ),
                "parameters": {"tool": "tool", "ti": "turn_idx"},
            },
            {
                "id": "ml",
                "query": (
                    "SELECT cap FROM tool_caps "
                    "WHERE tkey LIKE substr(tkey, 1, 2) || :tool || '-%'"
                ),
                "parameters": {"tool": "tool"},
            },
            {
                "id": "mi",
                "query": (
                    "SELECT cap FROM tool_caps WHERE tkey LIKE 'k-%' "
                    "AND cap IN (length(tkey) * :ti, 42)"
                ),
                "parameters": {"ti": "turn_idx"},
            },
        ]
    )
    enricher = LookupEnricher(
        spec, {"tool_caps": spark.createDataFrame(CAP_ROWS, CAP_SCHEMA)}
    )
    out = enricher.apply(t)

    def rows(col):
        return F.array_join(
            F.transform(
                F.col(col), lambda r: r.getField("cap").cast("string")
            ),
            ",",
        )

    return out.select(
        "conv_id",
        "turn_idx",
        F.size("mx").cast("long").alias("n_mx"),
        rows("mx").alias("mx_rows"),
        F.size("ml").cast("long").alias("n_ml"),
        rows("ml").alias("ml_rows"),
        F.size("mi").cast("long").alias("n_mi"),
        rows("mi").alias("mi_rows"),
    )


@register(
    "lookup_nested_set",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        ok AS (
          SELECT DISTINCT p2.plan FROM tool_plans p2
          WHERE p2.plan IS NOT NULL
            AND p2.qty IN (SELECT p3.qty FROM tool_plans p3
                           WHERE p3.plan = p2.plan AND p3.price > 4)
            AND NOT EXISTS (SELECT 1 FROM tool_plans p4
                            WHERE p4.plan = p2.plan AND p4.price >= 10)
        )
        """,
        """
        m AS (
          SELECT t.tool, t.price
          FROM tool_plans t JOIN ok ON ok.plan = t.plan
        )
        """,
        """
        pa AS (
          SELECT p2.price, p2.qty,
                 (SELECT avg(p3.qty) FROM tool_plans p3
                  WHERE p3.price > p2.price) AS aq
          FROM tool_plans p2
        )
        """,
        """
        mx AS (SELECT max(price) AS mp FROM pa WHERE qty > aq)
        """,
        """
        mni AS (
          SELECT t.tool, t.price FROM tool_plans t, mx
          WHERE t.price >= mx.mp
        )
        """,
        """
        ma AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS n,
                 array_to_string(
                   list(CAST(price AS VARCHAR) ORDER BY price), ',') AS s
          FROM m GROUP BY 1
        )
        """,
        """
        mnia AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS n,
                 array_to_string(
                   list(CAST(price AS VARCHAR) ORDER BY price), ',') AS s
          FROM mni GROUP BY 1
        )
        """,
        body="""
        SELECT tr.conv_id, tr.turn_idx, tr.tool,
               coalesce(ma.n, 0) AS n_ns,
               coalesce(ma.s, '') AS ns_rows,
               coalesce(mnia.n, 0) AS n_ni,
               coalesce(mnia.s, '') AS ni_rows
        FROM transcripts tr
        LEFT JOIN ma ON ma.tool = tr.tool
        LEFT JOIN mnia ON mnia.tool = tr.tool
        """,
    ),
)
def lookup_nested_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 latest widening: SET subqueries NESTED inside another
    subquery's WHERE — a correlated ``IN`` and a ``NOT EXISTS`` both
    one level down, inside the sub-WHERE of a top-level ``EXISTS``.
    Derby evaluates the whole chain per outer row (lookup.rb:131-147;
    grammar-pinned natively in test_jdbc_derby.py). Spark-first each
    nested set subquery joins onto the ENCLOSING sub frame once per
    refresh snapshot (``fix_nested_pred``): the nested NOT EXISTS as a
    broadcast semi-join boolean flag (misses coalesce FALSE — EXISTS
    is two-valued), the nested correlated IN as per-group (value set,
    had-NULL, count) columns riding the same ``in_set`` 3VL op the
    top-level machinery uses — then the top-level EXISTS flag builds
    as usual, so the per-event plan stays the single broadcast-hash
    probe with zero fact-side shuffle. NULL outer plans correlate to
    nothing at every level (SQL 3VL on both engines). The second
    lookup (``ni``) adds a nested INEQUALITY correlation —
    ``p3.price > p2.price`` one level down — decorrelated via the
    nested rid THETA JOIN (``_nested_theta_pairs``): pin the enclosing
    sub frame with a row id, pair with matching inner rows, aggregate
    per rid, broadcast-join back; dim-sized snapshot work."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "ns",
                "query": (
                    "SELECT price FROM tool_plans WHERE tool = :tool "
                    "AND EXISTS (SELECT 1 FROM tool_plans p2 "
                    "WHERE p2.plan = tool_plans.plan AND p2.qty IN "
                    "(SELECT p3.qty FROM tool_plans p3 "
                    "WHERE p3.plan = p2.plan AND p3.price > 4) "
                    "AND NOT EXISTS (SELECT 1 FROM tool_plans p4 "
                    "WHERE p4.plan = p2.plan AND p4.price >= 10))"
                ),
                "parameters": {"tool": "tool"},
            },
            {
                "id": "ni",
                "query": (
                    "SELECT price FROM tool_plans WHERE tool = :tool "
                    "AND price >= (SELECT max(p2.price) FROM "
                    "tool_plans p2 WHERE p2.qty > "
                    "(SELECT avg(p3.qty) FROM tool_plans p3 "
                    "WHERE p3.price > p2.price))"
                ),
                "parameters": {"tool": "tool"},
            },
        ]
    )
    enricher = LookupEnricher(
        spec, {"tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)}
    )
    out = enricher.apply(t)

    def rows(col):
        return F.array_join(
            F.transform(
                F.col(col), lambda r: r.getField("price").cast("string")
            ),
            ",",
        )

    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size("ns").cast("long").alias("n_ns"),
        rows("ns").alias("ns_rows"),
        F.size("ni").cast("long").alias("n_ni"),
        rows("ni").alias("ni_rows"),
    )


@register(
    "lookup_theta_subquery",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        pth AS (
          SELECT t.conv_id, t.turn_idx, p.plan, p.price
          FROM transcripts t JOIN tool_plans p ON p.tool = t.tool
          WHERE p.price >= (SELECT avg(q.price) FROM tool_plans q
                            WHERE q.qty > t.turn_idx
                               OR q.price <= t.turn_idx)
        )
        """,
        """
        mth AS (
          SELECT conv_id, turn_idx, CAST(count(*) AS BIGINT) AS n_th,
                 array_to_string(
                   list(coalesce(plan, '~N') || ':'
                        || CAST(price AS VARCHAR)
                        ORDER BY plan NULLS FIRST, price),
                   ',') AS th_rows
          FROM pth GROUP BY conv_id, turn_idx
        )
        """,
        """
        pts AS (
          SELECT t.conv_id, t.turn_idx, p.plan
          FROM transcripts t JOIN tool_plans p ON p.tool = t.tool
          WHERE p.plan NOT IN (SELECT q.plan FROM tool_plans q
                               WHERE q.price > t.turn_idx
                                 AND q.plan IS NOT NULL)
        )
        """,
        """
        mts AS (
          SELECT conv_id, turn_idx, CAST(count(*) AS BIGINT) AS n_ts,
                 array_to_string(
                   list(coalesce(plan, '~N')
                        ORDER BY plan NULLS FIRST),
                   ',') AS ts_rows
          FROM pts GROUP BY conv_id, turn_idx
        )
        """,
        """
        ptx AS (
          SELECT t.conv_id, t.turn_idx, p.plan, p.qty
          FROM transcripts t JOIN tool_plans p ON p.tool = t.tool
          WHERE EXISTS (SELECT 1 FROM tool_plans q
                        WHERE q.price > q.qty + t.turn_idx)
        )
        """,
        """
        mtx AS (
          SELECT conv_id, turn_idx, CAST(count(*) AS BIGINT) AS n_tx,
                 array_to_string(
                   list(coalesce(plan, '~N') || ':'
                        || CAST(qty AS VARCHAR)
                        ORDER BY plan NULLS FIRST, qty),
                   ',') AS tx_rows
          FROM ptx GROUP BY conv_id, turn_idx
        )
        """,
        """
        ptp AS (
          SELECT t.conv_id, t.turn_idx, p.plan,
                 (SELECT max(q.price) FROM tool_plans q
                  WHERE q.price <= t.turn_idx) AS mx
          FROM transcripts t JOIN tool_plans p ON p.tool = t.tool
        )
        """,
        """
        mtp AS (
          SELECT conv_id, turn_idx, CAST(count(*) AS BIGINT) AS n_tp,
                 array_to_string(
                   list(coalesce(plan, '~N') || ':'
                        || coalesce(CAST(mx AS VARCHAR), '~')
                        ORDER BY plan NULLS FIRST),
                   ',') AS tp_rows
          FROM ptp GROUP BY conv_id, turn_idx
        )
        """,
        """
        ptg AS (
          SELECT t.conv_id, t.turn_idx, p.plan,
                 CAST(count(*) AS BIGINT) AS n
          FROM transcripts t JOIN tool_plans p ON p.tool = t.tool
          GROUP BY t.conv_id, t.turn_idx, p.plan
          HAVING count(*) >= (SELECT count(*) FROM tool_plans q
                              WHERE q.price > t.turn_idx)
        )
        """,
        """
        mtg AS (
          SELECT conv_id, turn_idx, CAST(count(*) AS BIGINT) AS n_tg,
                 array_to_string(
                   list(coalesce(plan, '~N') || ':'
                        || CAST(n AS VARCHAR)
                        ORDER BY plan NULLS FIRST, n),
                   ',') AS tg_rows
          FROM ptg GROUP BY conv_id, turn_idx
        )
        """,
        """
        ptn AS (
          SELECT t.conv_id, t.turn_idx, p.plan
          FROM transcripts t JOIN tool_plans p ON p.tool = t.tool
          WHERE p.price >= (SELECT avg(q.price) FROM tool_plans q
                            WHERE q.qty > (SELECT min(q3.qty)
                                           FROM tool_plans q3
                                           WHERE q3.price < t.turn_idx))
        )
        """,
        """
        mtn AS (
          SELECT conv_id, turn_idx, CAST(count(*) AS BIGINT) AS n_tn,
                 array_to_string(
                   list(coalesce(plan, '~N')
                        ORDER BY plan NULLS FIRST),
                   ',') AS tn_rows
          FROM ptn GROUP BY conv_id, turn_idx
        )
        """,
        """
        ptm AS (
          SELECT t.conv_id, t.turn_idx, p.plan,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(p.price) AS BIGINT) AS s
          FROM transcripts t JOIN tool_plans p ON p.tool = t.tool
          GROUP BY t.conv_id, t.turn_idx, p.plan
          HAVING sum(p.price) >= count(*) * t.turn_idx
        )
        """,
        """
        mtm AS (
          SELECT conv_id, turn_idx, CAST(count(*) AS BIGINT) AS n_tm,
                 array_to_string(
                   list(coalesce(plan, '~N') || ':'
                        || CAST(n AS VARCHAR) || ':'
                        || CAST(s AS VARCHAR)
                        ORDER BY plan NULLS FIRST, n, s),
                   ',') AS tm_rows
          FROM ptm GROUP BY conv_id, turn_idx
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               coalesce(mth.n_th, 0) AS n_th,
               coalesce(mth.th_rows, '') AS th_rows,
               coalesce(mts.n_ts, 0) AS n_ts,
               coalesce(mts.ts_rows, '') AS ts_rows,
               coalesce(mtx.n_tx, 0) AS n_tx,
               coalesce(mtx.tx_rows, '') AS tx_rows,
               coalesce(mtp.n_tp, 0) AS n_tp,
               coalesce(mtp.tp_rows, '') AS tp_rows,
               coalesce(mtg.n_tg, 0) AS n_tg,
               coalesce(mtg.tg_rows, '') AS tg_rows,
               coalesce(mtm.n_tm, 0) AS n_tm,
               coalesce(mtm.tm_rows, '') AS tm_rows,
               coalesce(mtn.n_tn, 0) AS n_tn,
               coalesce(mtn.tn_rows, '') AS tn_rows
        FROM transcripts t
        LEFT JOIN mth ON mth.conv_id = t.conv_id
                     AND mth.turn_idx = t.turn_idx
        LEFT JOIN mts ON mts.conv_id = t.conv_id
                     AND mts.turn_idx = t.turn_idx
        LEFT JOIN mtx ON mtx.conv_id = t.conv_id
                     AND mtx.turn_idx = t.turn_idx
        LEFT JOIN mtp ON mtp.conv_id = t.conv_id
                     AND mtp.turn_idx = t.turn_idx
        LEFT JOIN mtg ON mtg.conv_id = t.conv_id
                     AND mtg.turn_idx = t.turn_idx
        LEFT JOIN mtm ON mtm.conv_id = t.conv_id
                     AND mtm.turn_idx = t.turn_idx
        LEFT JOIN mtn ON mtn.conv_id = t.conv_id
                     AND mtn.turn_idx = t.turn_idx
        """,
    ),
)
def lookup_theta_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 final widening: THETA-parameterized subqueries — the
    sub-WHERE's param predicates are NOT plain equalities, closing the
    last parameterized residue of the reference's execute-anything
    contract (it re-binds and re-executes the prepared subquery per
    event, lookup.rb:131-147). Spark-first compile
    (operators/lookup.py::_ThetaParamFrame): the fact's DISTINCT bound
    param tuples (a lazy slim select + distinct, the LIKE map-probe
    design) theta-join the dim-sized sub frame on the full DNF —
    params substitute to tuple columns — aggregate per tuple, and
    broadcast-join back onto the fact; cost is |tuples| x |sub|,
    constant in fact count.

    ``th``: scalar avg with an OR mixing a param inequality and a
    param comparison (``qty > :ti OR price <= :ti``). ``ts``: NOT IN
    over a per-event value set (``price > :ti``) — empty sets keep
    every row, NULL plans go UNKNOWN against non-empty sets. ``tx``:
    EXISTS whose witness mixes a sub column with the param
    (``price > qty + :ti``), parse-rewritten to ``0 < count(*)`` on
    the same frame. Goldens: tests/test_lookup_theta_param.py; Derby
    e2e + prepared legality: test_jdbc_derby.py."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "th",
                "query": (
                    "SELECT plan AS plan, price AS price FROM tool_plans "
                    "WHERE tool = :tool AND price >= "
                    "(SELECT avg(price) FROM tool_plans "
                    "WHERE qty > :ti OR price <= :ti)"
                ),
                "parameters": {"tool": "tool", "ti": "turn_idx"},
            },
            {
                "id": "ts",
                "query": (
                    "SELECT plan AS plan FROM tool_plans "
                    "WHERE tool = :tool AND plan NOT IN "
                    "(SELECT plan FROM tool_plans p2 "
                    "WHERE p2.price > :ti AND p2.plan IS NOT NULL)"
                ),
                "parameters": {"tool": "tool", "ti": "turn_idx"},
            },
            {
                "id": "tx",
                "query": (
                    "SELECT plan AS plan, qty AS qty FROM tool_plans "
                    "WHERE tool = :tool AND EXISTS "
                    "(SELECT 1 FROM tool_plans p2 "
                    "WHERE p2.price > p2.qty + :ti)"
                ),
                "parameters": {"tool": "tool", "ti": "turn_idx"},
            },
            {
                # round-5 final: THETA projection subquery — the
                # per-event value overlays the typed NULL placeholder
                # (dtype from the builder's schema-only aggregate)
                "id": "tp",
                "query": (
                    "SELECT plan AS plan, (SELECT max(price) "
                    "FROM tool_plans WHERE price <= :ti) AS mx "
                    "FROM tool_plans WHERE tool = :tool"
                ),
                "parameters": {"tool": "tool", "ti": "turn_idx"},
            },
            {
                # round-5 final: NESTED theta-parameterized subquery —
                # the inner per-tuple value joins onto the
                # distinct-tuple frame recursively
                "id": "tn",
                "query": (
                    "SELECT plan AS plan FROM tool_plans "
                    "WHERE tool = :tool AND price >= "
                    "(SELECT avg(price) FROM tool_plans p2 "
                    "WHERE p2.qty > (SELECT min(qty) FROM tool_plans "
                    "p3 WHERE p3.price < :ti))"
                ),
                "parameters": {"tool": "tool", "ti": "turn_idx"},
            },
            {
                # round-5 final: MIXED alias+param HAVING comparand —
                # the group row supplies the aliases, the event the
                # param, both scopes on one fact row
                "id": "tm",
                "query": (
                    "SELECT plan AS plan, count(*) AS n, "
                    "sum(price) AS s FROM tool_plans "
                    "WHERE tool = :tool GROUP BY plan "
                    "HAVING s >= n * :ti"
                ),
                "parameters": {"tool": "tool", "ti": "turn_idx"},
            },
            {
                # round-5 final: THETA scalar as a HAVING comparand —
                # the hidden-carrier overlay post-aggregation
                "id": "tg",
                "query": (
                    "SELECT plan AS plan, count(*) AS n FROM tool_plans "
                    "WHERE tool = :tool GROUP BY plan HAVING n >= "
                    "(SELECT count(*) FROM tool_plans "
                    "WHERE price > :ti)"
                ),
                "parameters": {"tool": "tool", "ti": "turn_idx"},
            },
        ]
    )
    enricher = LookupEnricher(
        spec, {"tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)}
    )
    out = enricher.apply(t)

    def rows2(col, vf):
        return F.array_join(
            F.transform(
                F.col(col),
                lambda r: F.concat(
                    F.coalesce(r.getField("plan"), F.lit("~N")),
                    F.lit(":"),
                    r.getField(vf).cast("string"),
                ),
            ),
            ",",
        )

    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size("th").cast("long").alias("n_th"),
        rows2("th", "price").alias("th_rows"),
        F.size("ts").cast("long").alias("n_ts"),
        F.array_join(
            F.transform(
                F.col("ts"),
                lambda r: F.coalesce(r.getField("plan"), F.lit("~N")),
            ),
            ",",
        ).alias("ts_rows"),
        F.size("tx").cast("long").alias("n_tx"),
        rows2("tx", "qty").alias("tx_rows"),
        F.size("tp").cast("long").alias("n_tp"),
        F.array_join(
            F.transform(
                F.col("tp"),
                lambda r: F.concat(
                    F.coalesce(r.getField("plan"), F.lit("~N")),
                    F.lit(":"),
                    F.coalesce(
                        r.getField("mx").cast("string"), F.lit("~")
                    ),
                ),
            ),
            ",",
        ).alias("tp_rows"),
        F.size("tg").cast("long").alias("n_tg"),
        rows2("tg", "n").alias("tg_rows"),
        F.size("tm").cast("long").alias("n_tm"),
        F.array_join(
            F.transform(
                F.col("tm"),
                lambda r: F.concat(
                    F.coalesce(r.getField("plan"), F.lit("~N")),
                    F.lit(":"),
                    r.getField("n").cast("string"),
                    F.lit(":"),
                    r.getField("s").cast("string"),
                ),
            ),
            ",",
        ).alias("tm_rows"),
        F.size("tn").cast("long").alias("n_tn"),
        F.array_join(
            F.transform(
                F.col("tn"),
                lambda r: F.coalesce(r.getField("plan"), F.lit("~N")),
            ),
            ",",
        ).alias("tn_rows"),
    )


@register(
    "lookup_distinct_aggs",
    with_ctes(
        _PLANS_CTE,
        TRANSCRIPTS_CTE,
        """
        mda AS (
          SELECT tool,
                 CAST(sum(DISTINCT price) AS BIGINT) AS sd,
                 avg(DISTINCT qty) AS ad,
                 CAST(count(DISTINCT plan) AS BIGINT) AS cd
          FROM tool_plans GROUP BY tool
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               mda.sd AS da_sd,
               mda.ad AS da_ad,
               coalesce(mda.cd, 0) AS da_cd
        FROM transcripts t
        LEFT JOIN mda ON mda.tool = t.tool
        """,
    ),
)
def lookup_distinct_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 final widening: DISTINCT under every set function —
    ``sum(DISTINCT price)``, ``avg(DISTINCT qty)`` (= the distinct
    multiset's mean, compiled as sum_distinct/count_distinct),
    ``count(DISTINCT plan)`` — in ONE query, a documented SUPERSET of
    Derby, which allows only one DISTINCT aggregate per SELECT
    (pinned natively in test_jdbc_derby.py). The avg column is
    emitted NUMERIC (never stringified — HALF_UP/HALF_EVEN float
    formatting divergence, COVERAGE.md); sum/avg over int inputs are
    exact IEEE ops on both engines."""
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "da",
                "query": (
                    "SELECT sum(DISTINCT price) AS sd, "
                    "avg(DISTINCT qty) AS ad, "
                    "count(DISTINCT plan) AS cd "
                    "FROM tool_plans WHERE tool = :tool"
                ),
                "parameters": {"tool": "tool"},
            },
        ]
    )
    enricher = LookupEnricher(
        spec, {"tool_plans": spark.createDataFrame(PLAN_ROWS, PLAN_SCHEMA)}
    )
    out = enricher.apply(t)
    row = F.get(F.col("da"), 0)
    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        row.getField("sd").alias("da_sd"),
        row.getField("ad").alias("da_ad"),
        row.getField("cd").alias("da_cd"),
    )
