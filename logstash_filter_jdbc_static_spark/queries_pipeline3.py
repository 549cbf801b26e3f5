"""Third wave of gated queries: conjunctive multi-key lookup (equi +
LIKE in one lookup query — SURVEY 2B "Conjunctive multi-key",
spec/filters/jdbc/lookup_spec.rb:191-192), tumbling-window event counts
(the batch twin of the streaming windowed aggregation), and the
multimodal feature-extraction path made oracle-checkable by deriving
binary payloads deterministically from the documents table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from logstash_filter_jdbc_static_spark.operators.multimodal import extract_features
from logstash_filter_jdbc_static_spark.operators.processor import LookupEnricher
from logstash_filter_jdbc_static_spark.queries import _PARSED_CTE, register
from logstash_filter_jdbc_static_spark.sources.registry import load_table_split
from logstash_filter_jdbc_static_spark.sources.transcripts import (
    TRANSCRIPTS_CTE,
    load_transcripts,
    values_cte,
    with_ctes,
)
from logstash_filter_jdbc_static_spark.spec import PipelineSpec

# ------------------------------------------------------------------
# 1. Conjunctive multi-key lookup: `WHERE tool = :tool AND ip LIKE :ip`
#    — one lookup, mixed equi + pattern predicate (lookup_spec.rb:191-192
#    exercises the two-LIKE conjunction; docs/index.asciidoc:122 the
#    two-equi one). Physical path: per-distinct-tuple map-probe
#    against the broadcast 8-row dim; only the slim tuple projection
#    shuffles.
# ------------------------------------------------------------------

HOST_ROWS = [
    ("tool_0", "10.1.1.1", "rack-a1"),
    ("tool_0", "10.3.1.1", "rack-a2"),
    ("tool_1", "10.2.1.1", "rack-b1"),
    ("tool_2", "10.1.1.1", "rack-c1"),
    ("tool_2", "10.2.1.1", "rack-c2"),
    ("tool_3", "10.3.1.1", "rack-d1"),
    ("tool_4", "10.4.1.1", "rack-e1"),
    ("tool_5", "10.1.1.1", "rack-f1"),
]
HOST_SCHEMA = T.StructType(
    [
        T.StructField("tool", T.StringType(), False),
        T.StructField("ip", T.StringType(), False),
        T.StructField("rack", T.StringType(), False),
    ]
)
_HOSTS_CTE = values_cte("host_assignments", HOST_ROWS, ["tool", "ip", "rack"])

_SUFFIXED_CTE = r"""
suffixed AS (
  SELECT p.*, nullif(regexp_extract(text, 'from_ip=\d+((?:\.\d+)+)', 1), '') AS ip_suffix
  FROM parsed p
)
"""


@register(
    "lookup_conjunctive",
    with_ctes(
        _HOSTS_CTE,
        TRANSCRIPTS_CTE,
        _PARSED_CTE,
        _SUFFIXED_CTE,
        body="""
        SELECT x.conv_id, x.turn_idx, x.tool, x.ip_suffix,
               CASE WHEN x.ip_suffix IS NULL THEN NULL ELSE count(h.rack) END AS n_racks,
               CASE WHEN x.ip_suffix IS NULL THEN NULL
                    ELSE coalesce(array_to_string(list_sort(list(h.rack) FILTER (WHERE h.rack IS NOT NULL)), ','), '')
               END AS racks_str
        FROM suffixed x
        LEFT JOIN host_assignments h
          ON h.tool = x.tool AND h.ip LIKE '%' || x.ip_suffix
        GROUP BY 1, 2, 3, 4
        """,
    ),
)
def lookup_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_transcripts(spark, sf_dir)
    parsed = t.withColumn(
        "ip_suffix",
        F.nullif(
            F.regexp_extract(F.col("text"), r"from_ip=\d+((?:\.\d+)+)", 1), F.lit("")
        ),
    )
    spec = PipelineSpec(
        lookups=[
            {
                "id": "hosts",
                "query": "SELECT rack FROM host_assignments "
                         "WHERE tool = :tool AND ip LIKE :ip",
                "parameters": {"tool": "tool", "ip": "%%{[ip_suffix]}"},
            }
        ]
    )
    enricher = LookupEnricher(
        spec, {"host_assignments": spark.createDataFrame(HOST_ROWS, HOST_SCHEMA)}
    )
    out = enricher.apply(parsed)
    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        "ip_suffix",
        F.size("hosts").cast("long").alias("n_racks"),
        F.when(
            F.col("hosts").isNotNull(),
            F.array_join(
                F.array_sort(F.transform(F.col("hosts"), lambda r: r.getField("rack"))),
                ",",
            ),
        ).alias("racks_str"),
    )


# ------------------------------------------------------------------
# 2. Tumbling-window counts over events — the batch twin of the
#    streaming `windowed_route_counts` (same F.window operator the
#    readStream path uses, oracle-checked here; Spark's window origin
#    and DuckDB's time_bucket origin are both epoch-divisible by the
#    300s width, so buckets align engine-to-engine).
# ------------------------------------------------------------------


@register(
    "events_windowed_counts",
    """
    SELECT time_bucket(INTERVAL '300 seconds', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
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


# ------------------------------------------------------------------
# 3. Multimodal feature extraction, oracle-checked: binary payloads are
#    derived deterministically from documents.text (payload =
#    utf-8 bytes), pushed through the real mapInPandas Arrow path
#    (operators/multimodal.py), and the oracle recomputes the same
#    content-hash features in SQL. The codec seam stays a stub; the
#    Spark-side plumbing (binary column, Arrow batches, typed feature
#    schema) is what is being verified.
# ------------------------------------------------------------------


def _hex_byte_sql(col: str, k: int) -> str:
    """SQL for byte k (0-based) of a lowercase hex digest string."""
    d1 = f"(instr('0123456789abcdef', substr({col}, {2 * k + 1}, 1)) - 1)"
    d2 = f"(instr('0123456789abcdef', substr({col}, {2 * k + 2}, 1)) - 1)"
    return f"(16 * {d1} + {d2})"


_MEDIA_SQL = f"""
    WITH m AS (
      SELECT doc_id AS media_id,
             CASE CAST(doc_id % 3 AS INTEGER)
               WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             sha256(text) AS h,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents)
    SELECT media_id, kind, n_bytes,
           substr(h, 1, 12) AS sha_prefix,
           CASE WHEN kind = 'image'
                THEN CAST(16 + {_hex_byte_sql('h', 0)} % 240 AS INTEGER) END AS width,
           CASE WHEN kind = 'image'
                THEN CAST(16 + {_hex_byte_sql('h', 1)} % 240 AS INTEGER) END AS height,
           CAST({_hex_byte_sql('h', 0)} AS INTEGER) AS feat0_byte
    FROM m
"""


@register("multimodal_features", _MEDIA_SQL)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_split(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.lit(None).cast("string").alias("mime"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.create_map().cast(T.MapType(T.StringType(), T.StringType())).alias("meta"),
    )
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        "sha_prefix",
        "width",
        "height",
        F.round(F.element_at(F.col("feature"), 1) * 255)
        .cast("int")
        .alias("feat0_byte"),
    )


# ------------------------------------------------------------------
# 4. Prefix-LIKE lookup: Sprintfier "%{[x]}%" (the other attested
#    wildcard shape, jdbc_static.rb:58-59) — inline no-join path with
#    the pattern compiled once per row.
# ------------------------------------------------------------------

_PREFIXED_CTE = r"""
prefixed AS (
  SELECT p.*, nullif(regexp_extract(text, 'from_ip=(\d+\.\d+)', 1), '') AS ip_prefix
  FROM parsed p
)
"""


@register(
    "lookup_like_prefix",
    with_ctes(
        "servers(ip, name, location) AS (SELECT * FROM (VALUES "
        "('10.1.1.1', 'ldn-server-1', 'LDN-2-3-4'), "
        "('10.2.1.1', 'nyc-server-1', 'NYC-5-2-8'), "
        "('10.3.1.1', 'mv-serv''r-1', 'MV-9-6-4')) AS t(ip, name, location))",
        TRANSCRIPTS_CTE,
        _PARSED_CTE,
        _PREFIXED_CTE,
        body="""
        SELECT x.conv_id, x.turn_idx, x.ip_prefix,
               CASE WHEN x.ip_prefix IS NULL THEN NULL ELSE coalesce(s.name, '') END AS server_name
        FROM prefixed x
        LEFT JOIN servers s ON s.ip LIKE x.ip_prefix || '%'
        """,
    ),
)
def lookup_like_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logstash_filter_jdbc_static_spark.sources.transcripts import servers_df

    t = load_transcripts(spark, sf_dir)
    parsed = t.withColumn(
        "ip_prefix",
        F.nullif(F.regexp_extract(F.col("text"), r"from_ip=(\d+\.\d+)", 1), F.lit("")),
    )
    spec = PipelineSpec(
        lookups=[
            {
                "id": "server",
                "query": "SELECT name FROM servers WHERE ip LIKE :ip",
                "parameters": {"ip": "%{[ip_prefix]}%"},
            }
        ]
    )
    enricher = LookupEnricher(spec, {"servers": servers_df(spark)})
    out = enricher.apply(parsed)
    return out.select(
        "conv_id",
        "turn_idx",
        "ip_prefix",
        F.coalesce(
            F.get(F.col("server"), 0).getField("name"),
            F.when(F.col("server").isNotNull(), F.lit("")),
        ).alias("server_name"),
    )


# ------------------------------------------------------------------
# 5. Gap-based batch sessionization over events — the batch twin of the
#    stateful streaming sessionizer (streaming/stateful.py): a new
#    session starts after a >30 min silence per user. Two stacked
#    windows over the same (user_id | ts, event_id) partitioning =>
#    ONE shuffle; the aggregate reuses the partitioning.
# ------------------------------------------------------------------


@register(
    "events_sessionize",
    """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess_idx
      FROM g
    )
    SELECT user_id, CAST(sess_idx AS BIGINT) AS sess_idx,
           count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM s
    GROUP BY 1, 2
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = (
        F.when(
            F.col("ts") > F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTES"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_sess")
    )
    g = ev.select("user_id", "ts", "event_id", new_sess)
    s = g.select(
        "user_id", "ts", F.sum("new_sess").over(w).alias("sess_idx")
    )
    return s.groupBy("user_id", "sess_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# ------------------------------------------------------------------
# 6. Deterministic stratified sampling — per-source sampling rates, the
#    mixture-weighting step of a training-data pipeline. Keep decision is
#    a pure projection (zero shuffle): uniform draw = 4-hex-char md5
#    prefix of the doc id compared lexicographically against the
#    stratum's threshold, so an independent engine reproduces the exact
#    sample (no RNG, no seed plumbing).
# ------------------------------------------------------------------

# stratum = source index % 4 -> keep rate 1.0 / 0.5 / 0.25 / ~0.1
_STRATA_THRESHOLDS = ["zzzz", "8000", "4000", "1999"]
_THRESH_SQL = (
    "CASE CAST(substr(source, 4) AS INTEGER) % 4 "
    + " ".join(f"WHEN {i} THEN '{t}'" for i, t in enumerate(_STRATA_THRESHOLDS))
    + " END"
)


@register(
    "documents_stratified_sample",
    f"""
    WITH drawn AS (
      SELECT doc_id, source,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS u,
             {_THRESH_SQL} AS threshold
      FROM documents)
    SELECT doc_id, source, u
    FROM drawn
    WHERE u < threshold
    """,
)
def documents_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stratum = F.substring(F.col("source"), 4, 10).cast("int") % 4
    threshold = F.element_at(
        F.array(*[F.lit(t) for t in _STRATA_THRESHOLDS]), stratum.cast("int") + 1
    )
    u = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    return (
        docs.select("doc_id", "source", u.alias("u"), threshold.alias("__t"))
        .filter(F.col("u") < F.col("__t"))
        .drop("__t")
    )
