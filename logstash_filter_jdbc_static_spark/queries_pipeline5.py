"""Fifth wave of gated queries: the widened lookup WHERE surface
(round-2 verdict #1) under the driver's rows+schema+hash gate.

The reference hands lookup SQL verbatim to Derby (lookup.rb:131-147), so
disjunctions, IN-lists, BETWEEN ranges and NULL tests are all legal
configs there; parse_lookup_query now compiles them (DNF) onto the same
two physical paths. Each query below pins one new shape end-to-end:

1. ``lookup_in_list``       — IN (:param, 'literal') fan-out, map-probe path
2. ``lookup_or_disjunction``— equality OR pattern-LIKE, map-probe path
3. ``lookup_between``       — BETWEEN :lo AND :hi + static numeric/null
                              predicates, map-probe path
4. ``lookup_shuffle_map``   — the broadcast tuple->payload map-back
                              under the driver gate with a
                              conversation-derived high-cardinality
                              tuple (1,000 distinct values)
5. ``conv_minhash_dedup``   — conversation-level NEAR-dup via MinHash+LSH
                              over per-conversation documents (verdict #6)
6. ``lookup_func_column``   — function-wrapped lookup key
                              (``upper(tool) = :t``) on the broadcast-hash
                              path
7. ``documents_unigram_logprob`` — CCNet-style corpus-frequency
                              surprisal scoring (quality-filter pass)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from logstash_filter_jdbc_static_spark.operators.processor import LookupEnricher
from logstash_filter_jdbc_static_spark.queries import _PARSED_CTE, register
from logstash_filter_jdbc_static_spark.sources.registry import load_table_split
from logstash_filter_jdbc_static_spark.sources.transcripts import (
    SERVERS_CTE,
    TOOL_CATALOG_CTE,
    TRANSCRIPTS_CTE,
    load_transcripts,
    servers_df,
    tool_catalog_df,
    with_ctes,
)
from logstash_filter_jdbc_static_spark.spec import PipelineSpec

# ------------------------------------------------------------------
# 1. IN-list lookup: placeholder + literal members, multi-row fan-in.
#    tool_0 always matches; the event's own tool adds a second row when
#    it exists in the catalog (and differs from tool_0).
# ------------------------------------------------------------------


@register(
    "lookup_in_list",
    with_ctes(
        TOOL_CATALOG_CTE,
        TRANSCRIPTS_CTE,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CAST(count(tc.tool) AS BIGINT) AS n_matches,
               coalesce(array_to_string(
                 list_sort(list(tc.category || ':' || tc.owner)
                           FILTER (WHERE tc.tool IS NOT NULL)), ','), '') AS hits_str
        FROM transcripts t
        LEFT JOIN tool_catalog tc ON tc.tool IN (t.tool, 'tool_0')
        GROUP BY 1, 2, 3
        """,
    ),
)
def lookup_in_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_transcripts(spark, sf_dir)
    spec = PipelineSpec(
        lookups=[
            {
                "id": "toolhits",
                "query": "SELECT category, owner FROM tool_catalog "
                         "WHERE tool IN (:tool, 'tool_0')",
                "parameters": {"tool": "tool"},
            }
        ]
    )
    out = LookupEnricher(spec, {"tool_catalog": tool_catalog_df(spark)}).apply(t)
    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size("toolhits").cast("long").alias("n_matches"),
        F.array_join(
            F.array_sort(
                F.transform(
                    F.col("toolhits"),
                    lambda r: F.concat(r.getField("category"), F.lit(":"),
                                       r.getField("owner")),
                )
            ),
            ",",
        ).alias("hits_str"),
    )


# ------------------------------------------------------------------
# 2. OR-disjunction lookup: equality on one column OR pattern-LIKE on
#    another — a dim row satisfying BOTH branches still yields one
#    payload row (plain SQL join semantics). Malformed turns have both
#    params invalid => failed, payload NULL.
# ------------------------------------------------------------------

_OCTET2_CTE = r"""
octeted AS (
  SELECT p.*, nullif(regexp_extract(text, 'from_ip=\d+\.(\d+)\.', 1), '') AS octet
  FROM parsed p
)
"""


@register(
    "lookup_or_disjunction",
    with_ctes(
        SERVERS_CTE,
        TRANSCRIPTS_CTE,
        _PARSED_CTE,
        _OCTET2_CTE,
        body="""
        SELECT x.conv_id, x.turn_idx, x.from_ip, x.octet,
               CASE WHEN x.from_ip IS NULL THEN NULL
                    ELSE CAST(count(s.name) AS BIGINT) END AS n_matches,
               CASE WHEN x.from_ip IS NULL THEN NULL
                    ELSE coalesce(array_to_string(
                      list_sort(list(s.name) FILTER (WHERE s.name IS NOT NULL)), ','), '')
               END AS names_str
        FROM octeted x
        LEFT JOIN servers s
          ON s.ip = x.from_ip OR s.location LIKE '%' || x.octet || '%'
        GROUP BY 1, 2, 3, 4
        """,
    ),
)
def lookup_or_disjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_transcripts(spark, sf_dir)
    parsed = t.withColumn(
        "from_ip",
        F.nullif(
            F.regexp_extract(F.col("text"), r"from_ip=((?:\d{1,3}\.){3}\d{1,3})", 1),
            F.lit(""),
        ),
    ).withColumn(
        "octet",
        F.nullif(F.regexp_extract(F.col("text"), r"from_ip=\d+\.(\d+)\.", 1), F.lit("")),
    )
    spec = PipelineSpec(
        lookups=[
            {
                "id": "server",
                "query": "SELECT name FROM servers "
                         "WHERE ip = :ip OR location LIKE :loc",
                "parameters": {"ip": "from_ip", "loc": "%%{[octet]}%"},
            }
        ]
    )
    out = LookupEnricher(spec, {"servers": servers_df(spark)}).apply(parsed)
    return out.select(
        "conv_id",
        "turn_idx",
        "from_ip",
        "octet",
        F.size("server").cast("long").alias("n_matches"),
        F.when(
            F.col("server").isNotNull(),
            F.array_join(
                F.array_sort(F.transform(F.col("server"), lambda r: r.getField("name"))),
                ",",
            ),
        ).alias("names_str"),
    )


# ------------------------------------------------------------------
# 3. BETWEEN range lookup with static guards: a 3-key window over the
#    customer dim, plus a literal numeric comparison and an IS NOT NULL
#    — both static predicates ride the probe condition (dim-side), the
#    bound range drives the per-distinct-tuple map-probe.
# ------------------------------------------------------------------


@register(
    "lookup_between",
    with_ctes(
        TRANSCRIPTS_CTE,
        body="""
        SELECT t.conv_id, t.turn_idx, t.lo_key,
               CAST(count(c.c_custkey) AS BIGINT) AS n_matches,
               coalesce(string_agg(c.c_name, ',' ORDER BY c.c_custkey), '') AS names
        FROM (SELECT conv_id, turn_idx,
                     CAST((turn_idx % 40) * 25 + 1 AS BIGINT) AS lo_key
              FROM transcripts) t
        LEFT JOIN customer c
          ON c.c_custkey BETWEEN t.lo_key AND t.lo_key + 2
         AND c.c_custkey > 0 AND c.c_name IS NOT NULL
        GROUP BY 1, 2, 3
        """,
    ),
)
def lookup_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = (
        load_transcripts(spark, sf_dir)
        .withColumn("lo_key", ((F.col("turn_idx") % 40) * 25 + 1).cast("long"))
        .withColumn("hi_key", (F.col("lo_key") + 2).cast("long"))
    )
    spec = PipelineSpec(
        lookups=[
            {
                "id": "cust",
                "query": "SELECT c_custkey, c_name FROM customer "
                         "WHERE c_custkey BETWEEN :lo AND :hi "
                         "AND c_custkey > 0 AND c_name IS NOT NULL",
                "parameters": {"lo": "lo_key", "hi": "hi_key"},
            }
        ]
    )
    dim = load_table_split(spark, sf_dir, "customer").select("c_custkey", "c_name")
    out = LookupEnricher(spec, {"customer": dim}).apply(t)
    return out.select(
        "conv_id",
        "turn_idx",
        "lo_key",
        F.size("cust").cast("long").alias("n_matches"),
        F.array_join(
            F.transform(F.col("cust"), lambda r: r.getField("c_name")), ","
        ).alias("names"),
    )


# ------------------------------------------------------------------
# 4. high-cardinality map-back under the driver gate: a
#    conversation-derived parameter tuple (up to 1,000 distinct 3-digit
#    suffixes) probed against the customer dim, the tuple->payload map
#    broadcast back onto the fact. The registry id predates the removal
#    of the shuffle map-back and is kept so the registry is unchanged.
# ------------------------------------------------------------------


@register(
    "lookup_shuffle_map",
    with_ctes(
        TRANSCRIPTS_CTE,
        body="""
        SELECT t.conv_id, t.turn_idx, t.digit3,
               CAST(count(c.c_custkey) AS BIGINT) AS n_matches,
               coalesce(string_agg(c.c_name, ',' ORDER BY c.c_custkey), '') AS names
        FROM (SELECT conv_id, turn_idx,
                     lpad(CAST((CAST(substr(conv_id, 6) AS INTEGER) * 7 + turn_idx) % 1000
                               AS VARCHAR), 3, '0') AS digit3
              FROM transcripts) t
        LEFT JOIN customer c ON c.c_name LIKE '%' || t.digit3
        GROUP BY t.conv_id, t.turn_idx, t.digit3
        """,
    ),
)
def lookup_shuffle_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_transcripts(spark, sf_dir).withColumn(
        "digit3",
        F.lpad(
            ((F.substring("conv_id", 6, 10).cast("int") * 7 + F.col("turn_idx")) % 1000)
            .cast("string"),
            3,
            "0",
        ),
    )
    spec = PipelineSpec(
        lookups=[
            {
                "id": "cust",
                "query": "SELECT c_custkey, c_name FROM customer "
                         "WHERE c_name LIKE :pat",
                "parameters": {"pat": "%%{digit3}"},
            }
        ]
    )
    dim = load_table_split(spark, sf_dir, "customer").select("c_custkey", "c_name")
    enricher = LookupEnricher(spec, {"customer": dim})
    out = enricher.apply(t)
    return out.select(
        "conv_id",
        "turn_idx",
        "digit3",
        F.size("cust").cast("long").alias("n_matches"),
        F.array_join(
            F.transform(F.col("cust"), lambda x: x.getField("c_name")), ","
        ).alias("names"),
    )


# ------------------------------------------------------------------
# 5. Conversation-level NEAR-dup (round-2 verdict #6): re-ingested
#    conversations with minor edits — the realistic transcript dup mode
#    that exact conv fingerprints (conv_exact_dedup) miss. A
#    conversation document = its turn texts concatenated in turn order;
#    near-dup = the documents MinHash+LSH pipeline (operators/dedup.py)
#    over those documents, verified by shingle Jaccard. The injected
#    edit drops each mirrored conversation's final turn, so the pair
#    (conv, dup-conv) survives the 0.7 Jaccard gate while staying
#    inexact. Scale shape: one bounded groupBy to form conv docs, then
#    the standard signature->band->bucket-join (no all-pairs).
# ------------------------------------------------------------------

from pyspark.sql.window import Window  # noqa: E402

from logstash_filter_jdbc_static_spark.operators import dedup as D  # noqa: E402
from logstash_filter_jdbc_static_spark.queries_data import (  # noqa: E402
    _shingles_cte,
)

_CONV_ND_THRESH = 0.7


def _conv_near_dup_sql() -> str:
    corpus_cte = """
conv_corpus AS (
  SELECT conv_id, turn_idx, text FROM transcripts
  UNION ALL
  SELECT 'dup-' || conv_id AS conv_id, turn_idx, text FROM (
    SELECT conv_id, turn_idx, text,
           max(turn_idx) OVER (PARTITION BY conv_id) AS mx
    FROM transcripts
    WHERE CAST(substr(conv_id, 6) AS INTEGER) % 10 = 0)
  WHERE turn_idx < mx
)
""", """
conv_docs AS (
  SELECT conv_id AS doc_id,
         string_agg(text, chr(10) ORDER BY turn_idx) AS text
  FROM conv_corpus
  GROUP BY conv_id
)
"""
    from logstash_filter_jdbc_static_spark.queries_data import (
        _jaccard_pair_select,
        _lsh_pair_ctes,
    )

    return with_ctes(
        TRANSCRIPTS_CTE, corpus_cte[0], corpus_cte[1],
        _shingles_cte("conv_docs"), *_lsh_pair_ctes(),
        body=_jaccard_pair_select("conv_a", "conv_b"),
    )


def conv_near_dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text): one document per conversation (turn texts joined
    in turn order), plus every 10th conversation mirrored under a
    'dup-' id with its final turn dropped."""
    t = load_transcripts(spark, sf_dir).select("conv_id", "turn_idx", "text")
    w = Window.partitionBy("conv_id")
    dups = (
        t.filter(F.substring("conv_id", 6, 10).cast("int") % 10 == 0)
        .withColumn("__mx", F.max("turn_idx").over(w))
        .filter(F.col("turn_idx") < F.col("__mx"))
        .select(
            F.concat(F.lit("dup-"), F.col("conv_id")).alias("conv_id"),
            "turn_idx",
            "text",
        )
    )
    corpus = t.unionAll(dups)
    return corpus.groupBy("conv_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("turn_idx", "text"))),
                lambda s: s.getField("text"),
            ),
            "\n",
        ).alias("text")
    ).select(F.col("conv_id").alias("doc_id"), "text")


@register("conv_minhash_dedup", _conv_near_dup_sql())
def conv_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = conv_near_dup_corpus(spark, sf_dir)
    out = D.minhash_lsh_dedup(
        docs, threshold=_CONV_ND_THRESH, n_perm=8, band_rows=2, shingle_k=3
    )
    return out.select(
        F.col("id_a").alias("conv_a"),
        F.col("id_b").alias("conv_b"),
        "jaccard",
    )


# ------------------------------------------------------------------
# 6. Function-wrapped lookup column (round-2 verdict "what's missing"
#    #1 tail): `upper(tool) = :t` — the case-fold shape real configs
#    wrap lookup keys in. The computed key still compiles to the
#    key-grouped BROADCAST HASH join (the dim is grouped by the
#    function result), plan-asserted in test_plan_quality.
# ------------------------------------------------------------------


@register(
    "lookup_func_column",
    with_ctes(
        TOOL_CATALOG_CTE,
        TRANSCRIPTS_CTE,
        body="""
        SELECT t.conv_id, t.turn_idx, t.tool,
               CASE WHEN tc.tool IS NULL THEN 0 ELSE 1 END AS n_matches,
               tc.category AS category
        FROM transcripts t
        LEFT JOIN tool_catalog tc ON upper(tc.tool) = upper(t.tool)
        """,
    ),
)
def lookup_func_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_transcripts(spark, sf_dir).withColumn("tool_uc", F.upper("tool"))
    spec = PipelineSpec(
        lookups=[
            {
                "id": "toolinfo",
                "query": "SELECT category FROM tool_catalog WHERE upper(tool) = :t",
                "parameters": {"t": "tool_uc"},
            }
        ]
    )
    out = LookupEnricher(spec, {"tool_catalog": tool_catalog_df(spark)}).apply(t)
    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.size("toolinfo").cast("int").alias("n_matches"),
        F.get(F.col("toolinfo"), 0).getField("category").alias("category"),
    )


# ------------------------------------------------------------------
# 7. Unigram log-probability scoring (the CCNet-style quality filter):
#    build a corpus frequency model (min_count floor), score each doc
#    by its mean token surprisal. Scale shape: one shuffle for the
#    frequency aggregation, the (min_count-pruned) model broadcast onto
#    the exploded tokens, one partial-aggregated shuffle for the
#    per-doc mean — the standard two-pass corpus-scoring pipeline. At
#    100 TB raise min_count (or swap the model broadcast for a shuffle
#    join) to bound the model size.
# ------------------------------------------------------------------

_LP_MIN_COUNT = 2

_UNIGRAM_SQL = f"""
WITH tok AS (
  SELECT doc_id, t FROM (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
    FROM documents) WHERE t <> ''
),
freq AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM freq),
model AS (SELECT t, c FROM freq WHERE c >= {_LP_MIN_COUNT})
SELECT tok.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN m.c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       avg(ln(coalesce(m.c, 1) / tot.n)) AS avg_logprob
FROM tok LEFT JOIN model m ON m.t = tok.t CROSS JOIN tot
GROUP BY tok.doc_id
"""


@register("documents_unigram_logprob", _UNIGRAM_SQL)
def documents_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logstash_filter_jdbc_static_spark.operators.text import tokens

    docs = load_table_split(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(tokens("text")).alias("t")
    ).filter(F.col("t") != "")
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").cast("double").alias("n"))
    model = freq.filter(F.col("c") >= _LP_MIN_COUNT)
    scored = (
        tok.join(F.broadcast(model), "t", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.log(F.coalesce(F.col("c"), F.lit(1)) / F.col("n")).alias("lp"),
            F.col("c").isNull().cast("int").alias("oov"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("oov").cast("long").alias("n_oov"),
        F.avg("lp").alias("avg_logprob"),
    )
