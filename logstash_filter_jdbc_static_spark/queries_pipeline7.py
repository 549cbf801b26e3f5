"""Seventh wave of gated queries: the lookup result-shape surface
(ORDER BY / LIMIT / SELECT DISTINCT).

``lookup_order_limit`` — a lookup whose SQL carries ``ORDER BY`` over a
NON-projected dim column plus ``LIMIT`` (Derby executes both verbatim,
lookup.rb:131-147; docs/index.asciidoc:116-122 shows only unordered
shapes, so this is the generality surface a real config hits first when
it wants "the newest/top-n matching rows"). The payload array order is
user-visible (A11 writes rows in result order), so the driver gate
hashes an ORDER-PRESERVING join of the payload — not the sorted join
the unordered lookups use.

Physical path: the query is pure-equi (``tool = :tool``), so this pins
the key-grouped broadcast-hash path's ordered branch: the dim groups
collect slim (rack, ip) structs, comparator-sort them by ``ip DESC``
(Derby null-largest semantics), project to the payload, and slice to
the LIMIT — all dim-side, once per refresh snapshot; the fact side
still never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from logstash_filter_jdbc_static_spark.operators.processor import LookupEnricher
from logstash_filter_jdbc_static_spark.queries import register
from logstash_filter_jdbc_static_spark.queries_pipeline3 import (
    HOST_ROWS,
    HOST_SCHEMA,
    _HOSTS_CTE,
)
from logstash_filter_jdbc_static_spark.sources.transcripts import (
    TRANSCRIPTS_CTE,
    load_transcripts,
    with_ctes,
)
from logstash_filter_jdbc_static_spark.spec import PipelineSpec


@register(
    "lookup_order_limit",
    with_ctes(
        _HOSTS_CTE,
        TRANSCRIPTS_CTE,
        """
        ranked AS (
          SELECT tool, rack,
                 row_number() OVER (PARTITION BY tool ORDER BY ip DESC) AS rn
          FROM host_assignments
        )
        """,
        """
        agg AS (
          SELECT tool,
                 CAST(count(*) AS BIGINT) AS n_hosts,
                 array_to_string(list(rack ORDER BY rn), '|') AS racks_str
          FROM ranked
          WHERE rn <= 2
          GROUP BY tool
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               coalesce(a.n_hosts, CAST(0 AS BIGINT)) AS n_hosts,
               coalesce(a.racks_str, '') AS racks_str
        FROM transcripts t
        LEFT JOIN agg a ON a.tool = t.tool
        """,
    ),
)
def lookup_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "hosts",
                "query": (
                    "SELECT rack FROM host_assignments "
                    "WHERE tool = :tool ORDER BY ip DESC LIMIT 2"
                ),
                "parameters": {"tool": "tool"},
            }
        ]
    )
    enricher = LookupEnricher(
        spec, {"host_assignments": spark.createDataFrame(HOST_ROWS, HOST_SCHEMA)}
    )
    out = enricher.apply(t)
    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size("hosts").cast("long").alias("n_hosts"),
        # ORDER-preserving join: the payload order IS the contract here
        F.array_join(
            F.transform(F.col("hosts"), lambda r: r.getField("rack")), "|"
        ).alias("racks_str"),
    )


# ------------------------------------------------------------------
# 2. SELECT DISTINCT lookup: patterns spanning several dim rows that
#    share a tool must yield each tool ONCE, in ORDER BY order (Derby
#    enforces DISTINCT's ORDER BY keys to be selected — so does the
#    parser). Theta path (LIKE): per-distinct-tuple map-probe with
#    array_distinct on the assembled payload.
# ------------------------------------------------------------------

_PAT_SQL = (
    "CASE CAST(turn_idx % 3 AS INTEGER) WHEN 0 THEN '%.1.1' "
    "WHEN 1 THEN '10.1.%' ELSE '10.9.%' END"
)


@register(
    "lookup_distinct",
    with_ctes(
        _HOSTS_CTE,
        TRANSCRIPTS_CTE,
        f"""
        pats AS (
          SELECT conv_id, turn_idx, {_PAT_SQL} AS ip_pat
          FROM transcripts
        )
        """,
        """
        matches AS (
          SELECT DISTINCT p.conv_id, p.turn_idx, h.tool
          FROM pats p JOIN host_assignments h ON h.ip LIKE p.ip_pat
        )
        """,
        """
        agg AS (
          SELECT conv_id, turn_idx,
                 CAST(count(*) AS BIGINT) AS n_tools,
                 array_to_string(list(tool ORDER BY tool), '|') AS tools_str
          FROM matches
          GROUP BY 1, 2
        )
        """,
        body="""
        SELECT p.conv_id, p.turn_idx, p.ip_pat,
               coalesce(a.n_tools, CAST(0 AS BIGINT)) AS n_tools,
               coalesce(a.tools_str, '') AS tools_str
        FROM pats p
        LEFT JOIN agg a ON a.conv_id = p.conv_id AND a.turn_idx = p.turn_idx
        """,
    ),
)
def lookup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_transcripts(spark, sf_dir).withColumn(
        "ip_pat",
        F.when(F.col("turn_idx") % 3 == 0, F.lit("%.1.1"))
        .when(F.col("turn_idx") % 3 == 1, F.lit("10.1.%"))
        .otherwise(F.lit("10.9.%")),
    )
    spec = PipelineSpec(
        lookups=[
            {
                "id": "tools",
                "query": (
                    "SELECT DISTINCT tool FROM host_assignments "
                    "WHERE ip LIKE :pat ORDER BY tool"
                ),
                "parameters": {"pat": "ip_pat"},
            }
        ]
    )
    enricher = LookupEnricher(
        spec, {"host_assignments": spark.createDataFrame(HOST_ROWS, HOST_SCHEMA)}
    )
    out = enricher.apply(t)
    return out.select(
        "conv_id",
        "turn_idx",
        "ip_pat",
        F.size("tools").cast("long").alias("n_tools"),
        F.array_join(
            F.transform(F.col("tools"), lambda r: r.getField("tool")), "|"
        ).alias("tools_str"),
    )


# ------------------------------------------------------------------
# 3. Aggregate lookup: `SELECT count(*) AS n, max(ip) AS mx` — Derby
#    runs aggregate lookup SQL verbatim; the payload is exactly ONE row
#    per event, even for a key that matches nothing (SQL aggregates
#    over an empty set still return a row: count 0, max NULL). Equi
#    path: a real dim-side groupBy aggregation per key, once per
#    snapshot.
# ------------------------------------------------------------------


@register(
    "lookup_agg_stats",
    with_ctes(
        _HOSTS_CTE,
        TRANSCRIPTS_CTE,
        """
        agg AS (
          SELECT tool, CAST(count(*) AS BIGINT) AS n_hosts,
                 max(ip) AS max_ip
          FROM host_assignments
          GROUP BY tool
        )
        """,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               coalesce(a.n_hosts, CAST(0 AS BIGINT)) AS n_hosts,
               a.max_ip AS max_ip
        FROM transcripts t
        LEFT JOIN agg a ON a.tool = t.tool
        """,
    ),
)
def lookup_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "stats",
                "query": (
                    "SELECT count(*) AS n_hosts, max(ip) AS max_ip "
                    "FROM host_assignments WHERE tool = :tool"
                ),
                "parameters": {"tool": "tool"},
            }
        ]
    )
    enricher = LookupEnricher(
        spec, {"host_assignments": spark.createDataFrame(HOST_ROWS, HOST_SCHEMA)}
    )
    out = enricher.apply(t)
    row = F.get(F.col("stats"), 0)
    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        row.getField("n_hosts").alias("n_hosts"),
        row.getField("max_ip").alias("max_ip"),
    )


# ------------------------------------------------------------------
# 4. Per-document keyword extraction (tf × rarity top-k) — the topic
#    tagging / quality-signal step of a curation pipeline. Ranking is
#    INTEGER-ONLY (tf DESC, then document-frequency ASC — the tf-idf
#    order without materializing the float score, which would risk
#    cross-engine ln() ulp flips in the hash gate; production can swap
#    the ORDER BY for tf*ln(N/df) in one line). Scale shape: explode is
#    narrow; three bounded shuffles — tf on (doc_id, token), df on
#    token (vocab-bounded, AQE may broadcast it back), top-k window on
#    doc_id. No driver-side state.
# ------------------------------------------------------------------


@register(
    "documents_keywords",
    """
    WITH toks AS (
      SELECT doc_id, tok
      FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
        FROM documents
      )
      WHERE length(tok) >= 3
    ),
    tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2
    ),
    df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    ranked AS (
      SELECT t.doc_id, t.tok, t.tf,
             row_number() OVER (
               PARTITION BY t.doc_id
               ORDER BY t.tf DESC, d.df ASC, t.tok
             ) AS rn
      FROM tf t JOIN df d ON d.tok = t.tok
    )
    SELECT doc_id,
           array_to_string(list(tok ORDER BY rn), '|') AS kw_str,
           CAST(max(CASE WHEN rn = 1 THEN tf END) AS BIGINT) AS top_tf
    FROM ranked
    WHERE rn <= 3
    GROUP BY doc_id
    """,
)
def documents_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from logstash_filter_jdbc_static_spark.sources.registry import (
        load_table_split,
    )

    docs = load_table_split(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("tok"),
    ).filter(F.length("tok") >= 3)
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = tf.join(df, "tok").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(
                F.col("tf").desc(), F.col("df").asc(), F.col("tok")
            )
        ),
    )
    return (
        ranked.filter(F.col("rn") <= 3)
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "tok"))),
                    lambda s: s.getField("tok"),
                ),
                "|",
            ).alias("kw_str"),
            F.max(F.when(F.col("rn") == 1, F.col("tf"))).alias("top_tf"),
        )
    )


# ------------------------------------------------------------------
# 5. GROUP BY lookup: one payload row per group among the matching dim
#    rows (`SELECT ip, count(*) AS n ... GROUP BY ip`) — Derby runs
#    grouped lookup SQL verbatim. Zero groups on an empty match set
#    (unlike the ungrouped aggregate, SQL returns no rows), so misses
#    yield []. Theta path here: the per-distinct-tuple probe aggregates
#    twice dim-side — (tuple, group) then tuple — before the broadcast
#    map-back; the fact side still never shuffles.
# ------------------------------------------------------------------


@register(
    "lookup_group_count",
    with_ctes(
        _HOSTS_CTE,
        TRANSCRIPTS_CTE,
        f"""
        pats AS (
          SELECT conv_id, turn_idx, {_PAT_SQL} AS ip_pat
          FROM transcripts
        )
        """,
        """
        m AS (
          SELECT p.conv_id, p.turn_idx, h.ip, CAST(count(*) AS BIGINT) AS n
          FROM pats p JOIN host_assignments h ON h.ip LIKE p.ip_pat
          GROUP BY 1, 2, 3
        )
        """,
        """
        agg AS (
          SELECT conv_id, turn_idx,
                 CAST(count(*) AS BIGINT) AS n_groups,
                 array_to_string(
                   list(ip || '=' || CAST(n AS VARCHAR) ORDER BY ip), '|'
                 ) AS groups_str
          FROM m
          GROUP BY 1, 2
        )
        """,
        body="""
        SELECT p.conv_id, p.turn_idx, p.ip_pat,
               coalesce(a.n_groups, CAST(0 AS BIGINT)) AS n_groups,
               coalesce(a.groups_str, '') AS groups_str
        FROM pats p
        LEFT JOIN agg a ON a.conv_id = p.conv_id AND a.turn_idx = p.turn_idx
        """,
    ),
)
def lookup_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_transcripts(spark, sf_dir).withColumn(
        "ip_pat",
        F.when(F.col("turn_idx") % 3 == 0, F.lit("%.1.1"))
        .when(F.col("turn_idx") % 3 == 1, F.lit("10.1.%"))
        .otherwise(F.lit("10.9.%")),
    )
    spec = PipelineSpec(
        lookups=[
            {
                "id": "grp",
                "query": (
                    "SELECT ip, count(*) AS n FROM host_assignments "
                    "WHERE ip LIKE :pat GROUP BY ip"
                ),
                "parameters": {"pat": "ip_pat"},
            }
        ]
    )
    enricher = LookupEnricher(
        spec, {"host_assignments": spark.createDataFrame(HOST_ROWS, HOST_SCHEMA)}
    )
    out = enricher.apply(t)
    return out.select(
        "conv_id",
        "turn_idx",
        "ip_pat",
        F.size("grp").cast("long").alias("n_groups"),
        F.array_join(
            F.transform(
                F.col("grp"),
                lambda r: F.concat(
                    r.getField("ip"), F.lit("="), r.getField("n").cast("string")
                ),
            ),
            "|",
        ).alias("groups_str"),
    )


# ------------------------------------------------------------------
# 6. GROUP BY + HAVING lookup — the canonical "find duplicate keys"
#    shape (`HAVING count(*) > 1`). The HAVING compiles to a filter
#    over the aggregated payload rows, after the per-group aggregation
#    and before the empty-payload/default branch (Derby returns the
#    post-HAVING result set).
# ------------------------------------------------------------------


@register(
    "lookup_group_having",
    with_ctes(
        _HOSTS_CTE,
        TRANSCRIPTS_CTE,
        f"""
        pats AS (
          SELECT conv_id, turn_idx, {_PAT_SQL} AS ip_pat
          FROM transcripts
        )
        """,
        """
        m AS (
          SELECT p.conv_id, p.turn_idx, h.ip, CAST(count(*) AS BIGINT) AS n
          FROM pats p JOIN host_assignments h ON h.ip LIKE p.ip_pat
          GROUP BY 1, 2, 3
          HAVING count(*) > 1
        )
        """,
        """
        agg AS (
          SELECT conv_id, turn_idx,
                 CAST(count(*) AS BIGINT) AS n_groups,
                 array_to_string(
                   list(ip || '=' || CAST(n AS VARCHAR) ORDER BY ip), '|'
                 ) AS groups_str
          FROM m
          GROUP BY 1, 2
        )
        """,
        body="""
        SELECT p.conv_id, p.turn_idx, p.ip_pat,
               coalesce(a.n_groups, CAST(0 AS BIGINT)) AS n_groups,
               coalesce(a.groups_str, '') AS groups_str
        FROM pats p
        LEFT JOIN agg a ON a.conv_id = p.conv_id AND a.turn_idx = p.turn_idx
        """,
    ),
)
def lookup_group_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_transcripts(spark, sf_dir).withColumn(
        "ip_pat",
        F.when(F.col("turn_idx") % 3 == 0, F.lit("%.1.1"))
        .when(F.col("turn_idx") % 3 == 1, F.lit("10.1.%"))
        .otherwise(F.lit("10.9.%")),
    )
    spec = PipelineSpec(
        lookups=[
            {
                "id": "grp",
                "query": (
                    "SELECT ip, count(*) AS n FROM host_assignments "
                    "WHERE ip LIKE :pat GROUP BY ip HAVING count(*) > 1"
                ),
                "parameters": {"pat": "ip_pat"},
            }
        ]
    )
    enricher = LookupEnricher(
        spec, {"host_assignments": spark.createDataFrame(HOST_ROWS, HOST_SCHEMA)}
    )
    out = enricher.apply(t)
    return out.select(
        "conv_id",
        "turn_idx",
        "ip_pat",
        F.size("grp").cast("long").alias("n_groups"),
        F.array_join(
            F.transform(
                F.col("grp"),
                lambda r: F.concat(
                    r.getField("ip"), F.lit("="), r.getField("n").cast("string")
                ),
            ),
            "|",
        ).alias("groups_str"),
    )
