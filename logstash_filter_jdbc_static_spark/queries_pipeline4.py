"""Fourth wave of gated queries.

1. ``documents_curation_pipeline`` — the end-to-end training-data
   curation chain (analyze -> quality/language filter -> exact dedup by
   fingerprint): the composition a 100 TB corpus actually runs, as one
   Catalyst plan with a single shuffle (the fingerprint dedup window).
2. ``token_digit_histogram`` — corpus token-length distribution with a
   fully engine-portable binning (decimal-digit bins, no float log).
3. ``events_asof_last_error`` — an as-of join (most recent prior error
   per user at each purchase), the canonical "operator Spark lacks"
   expressed as a composition of existing DataFrame ops: a running
   ``last(..., ignorenulls)`` over a rows-window — no join at all, one
   shuffle on the partition key, O(n) per partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from logstash_filter_jdbc_static_spark.operators import text as X
from logstash_filter_jdbc_static_spark.queries import _PARSED_CTE, register
from logstash_filter_jdbc_static_spark.queries_data import (
    _PUNCT_CLASS,
    _STOP_PAT,
    _sql_lang_case,
    _sql_score,
    _LANGS,
)
from logstash_filter_jdbc_static_spark.sources.registry import load_table_split

# ------------------------------------------------------------------
# 1. Curation pipeline: analyze -> filter(quality, lang, token band) ->
#    exact-dedup (first doc_id per fingerprint wins). The kept rows are
#    returned (row-level oracle compare, stronger than counts).
# ------------------------------------------------------------------

_CURATION_SQL = f"""
WITH scored AS (
  SELECT doc_id, source, text,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tok,
         {", ".join(f"{_sql_score(l)} AS s_{l}" for l in _LANGS)}
  FROM documents
),
analyzed AS (
  SELECT doc_id, source,
         CAST(n_tok AS BIGINT) AS n_tokens,
         {_sql_lang_case()} AS detected_lang,
         ((CASE WHEN n_tok BETWEEN 10 AND 10000 THEN 1 ELSE 0 END)
          + (CASE WHEN length(regexp_replace(text, '{_PUNCT_CLASS}', '', 'g'))
                       / greatest(length(text), 1) <= 0.2 THEN 1 ELSE 0 END)
          + (CASE WHEN len(regexp_extract_all(lower(text), '{_STOP_PAT}', 0))
                       / greatest(n_tok, 1) >= 0.01 THEN 1 ELSE 0 END)
          + (CASE WHEN length(regexp_replace(text, '\\s+', '', 'g')) / greatest(n_tok, 1)
                       BETWEEN 2.0 AND 12.0 THEN 1 ELSE 0 END)) / 4.0 AS quality_score,
         substr(md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))), 1, 16) AS fingerprint
  FROM scored
),
filtered AS (
  SELECT * FROM analyzed
  WHERE quality_score >= 0.5 AND detected_lang <> 'und' AND n_tokens >= 5
)
SELECT doc_id, source, n_tokens, detected_lang, quality_score, fingerprint
FROM filtered
QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
"""


@register("documents_curation_pipeline", _CURATION_SQL)
def documents_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logstash_filter_jdbc_static_spark.queries_data import analyzed_documents

    analyzed = analyzed_documents(spark, sf_dir).select(
        "doc_id", "source", "n_tokens", "detected_lang", "quality_score",
        "fingerprint",
    )
    kept = analyzed.filter(
        (F.col("quality_score") >= 0.5)
        & (F.col("detected_lang") != "und")
        & (F.col("n_tokens") >= 5)
    )
    # Exact dedup: the ONLY shuffle in the whole pipeline (hash on
    # fingerprint). At 100 TB this is the canonical dedup shuffle; the
    # analyze/filter stages above it are shuffle-free scans, so filter
    # selectivity shrinks the shuffle input before it happens.
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        kept.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ------------------------------------------------------------------
# 2. Token-length histogram, decimal-digit bins: bin = number of digits
#    of n_tokens (1 -> 1..9 tokens, 2 -> 10..99, ...). length(cast) is
#    bit-portable across engines; float log2 binning is not guaranteed
#    to round identically at bin edges.
# ------------------------------------------------------------------

_HISTOGRAM_SQL = """
WITH t AS (
  SELECT CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tok
  FROM documents
)
SELECT CAST(length(CAST(n_tok AS VARCHAR)) AS INTEGER) AS digits_bin,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens_total,
       CAST(min(n_tok) AS BIGINT) AS min_tokens,
       CAST(max(n_tok) AS BIGINT) AS max_tokens
FROM t
GROUP BY 1
"""


@register("token_digit_histogram", _HISTOGRAM_SQL)
def token_digit_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_split(spark, sf_dir, "documents")
    n_tok = X.token_count("text")
    return (
        docs.select(n_tok.alias("n_tok"))
        .groupBy(
            F.length(F.col("n_tok").cast("string")).cast("int").alias("digits_bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens_total"),
            F.min("n_tok").alias("min_tokens"),
            F.max("n_tok").alias("max_tokens"),
        )
    )


# ------------------------------------------------------------------
# 3. As-of join: for every purchase event, the most recent PRIOR error
#    event of the same user (ts and value), plus the gap in seconds.
#    Composition form (SURVEY task: custom operator as existing-op
#    composition): running last(when(error), ignorenulls) over
#    rows-between(unbounded, -1) — strictly prior, same-row excluded.
# ------------------------------------------------------------------

_ASOF_SQL = """
WITH marked AS (
  SELECT user_id, event_id, ts, event_type,
         last_value(CASE WHEN event_type = 'error' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_error_ts,
         last_value(CASE WHEN event_type = 'error' THEN value END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_error_value
  FROM events
)
SELECT user_id, event_id, ts, last_error_ts,
       round(last_error_value, 4) AS last_error_value,
       CAST(date_diff('second', last_error_ts, ts) AS BIGINT) AS secs_since_error
FROM marked
WHERE event_type = 'purchase'
"""


@register("events_asof_last_error", _ASOF_SQL)
def events_asof_last_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    err_ts = F.last(
        F.when(F.col("event_type") == "error", F.col("ts")), ignorenulls=True
    ).over(w)
    err_val = F.last(
        F.when(F.col("event_type") == "error", F.col("value")), ignorenulls=True
    ).over(w)
    marked = ev.select(
        "user_id", "event_id", "ts", "event_type",
        err_ts.alias("last_error_ts"),
        err_val.alias("last_error_value"),
    )
    return marked.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "last_error_ts",
        F.round("last_error_value", 4).alias("last_error_value"),
        (
            F.unix_timestamp("ts") - F.unix_timestamp("last_error_ts")
        ).alias("secs_since_error"),
    )


# ------------------------------------------------------------------
# 4. Typed (non-string) parameter binding: an INTEGER param derived from
#    the event's TIMESTAMP (the reference unwraps Logstash Timestamps to
#    raw time before binding, lookup.rb:190-196; params keep their value
#    type through the bind). Dim covers hours 6..21 only, so night turns
#    take the default_hash path — type fidelity on both hit and miss.
# ------------------------------------------------------------------

SHIFT_ROWS = [
    (h, "early" if h < 10 else ("core" if h < 18 else "late"))
    for h in range(6, 22)
]
_SHIFTS_CTE = (
    "oncall_shifts(hour_start, shift) AS (SELECT CAST(hour_start AS INTEGER), shift "
    "FROM (VALUES "
    + ", ".join(f"({h}, '{s}')" for h, s in SHIFT_ROWS)
    + ") AS t(hour_start, shift))"
)

from logstash_filter_jdbc_static_spark.operators.processor import LookupEnricher  # noqa: E402
from logstash_filter_jdbc_static_spark.sources.transcripts import (  # noqa: E402
    TRANSCRIPTS_CTE,
    load_transcripts,
    with_ctes,
)
from logstash_filter_jdbc_static_spark.spec import PipelineSpec  # noqa: E402
from pyspark.sql import types as T  # noqa: E402


@register(
    "lookup_int_ts_param",
    with_ctes(
        _SHIFTS_CTE,
        TRANSCRIPTS_CTE,
        body="""
        SELECT t.conv_id, t.turn_idx,
               CAST(hour(t.ts) AS INTEGER) AS ts_hour,
               coalesce(s.shift, 'night-skeleton') AS shift
        FROM transcripts t
        LEFT JOIN oncall_shifts s ON s.hour_start = CAST(hour(t.ts) AS INTEGER)
        """,
    ),
)
def lookup_int_ts_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_transcripts(spark, sf_dir)
    parsed = t.withColumn("ts_hour", F.hour("ts").cast("int"))
    spec = PipelineSpec(
        lookups=[
            {
                "id": "oncall",
                "query": "SELECT shift FROM oncall_shifts WHERE hour_start = :h",
                "parameters": {"h": "ts_hour"},
                "default_hash": {"shift": "night-skeleton"},
            }
        ]
    )
    dim = spark.createDataFrame(
        SHIFT_ROWS,
        T.StructType(
            [
                T.StructField("hour_start", T.IntegerType(), False),
                T.StructField("shift", T.StringType(), False),
            ]
        ),
    )
    out = LookupEnricher(spec, {"oncall_shifts": dim}).apply(parsed)
    return out.select(
        "conv_id",
        "turn_idx",
        "ts_hour",
        F.get(F.col("oncall"), 0).getField("shift").alias("shift"),
    )


# ------------------------------------------------------------------
# 5. Trained vector quantization: Lloyd k-means over the embeddings
#    table (spherical, deterministic init/tiebreaks). Round 3 closes the
#    last no-oracle cell (round-2 verdict #2): with seeds, tiebreaks and
#    the iteration count pinned, a FIXED number of Lloyd iterations is
#    expressible as chained SQL CTEs — assign_i (argmax cosine, ties by
#    centroid id) -> update_i (per-dimension mean; empty clusters keep
#    the previous centroid via the LEFT JOIN coalesce) -> final assign.
#    The compared output is the integer ASSIGNMENT, so float means only
#    matter at decision boundaries; both engines average the identical
#    float32-widened-to-double values (order-dependent error ~1e-16
#    relative). The partition-order determinism caveat stays documented
#    in kmeans_lloyd; invariants remain in tests/test_wave4_queries.py.
# ------------------------------------------------------------------

from logstash_filter_jdbc_static_spark.operators import similarity as S  # noqa: E402

_KM_K, _KM_ITERS, _KM_DIM = 8, 3, 64


def _kmeans_oracle_sql(k: int = _KM_K, iters: int = _KM_ITERS,
                       dim: int = _KM_DIM) -> str:
    """DuckDB twin of kmeans_lloyd(emb, k, n_iters): one CTE pair per
    pinned iteration, generated (not hand-unrolled) so k/iters stay in
    one place with the Spark call."""
    def cos(a: str, b: str) -> str:
        return (
            f"list_dot_product({a}, {b}) / "
            f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
        )

    parts = [
        "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)",
        f"cen0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, vec "
        f"FROM (SELECT vec_id, vec FROM v ORDER BY vec_id LIMIT {k}))",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"a{i} AS (SELECT vec_id, cid, vec FROM ("
            f"SELECT v.vec_id, c.cid, v.vec, row_number() OVER (PARTITION BY v.vec_id "
            f"ORDER BY {cos('v.vec', 'c.vec')} DESC, c.cid) AS rn "
            f"FROM v CROSS JOIN cen{i - 1} c) WHERE rn = 1)"
        )
        parts.append(
            f"u{i} AS (SELECT cid, list(m ORDER BY pos) AS vec FROM ("
            f"SELECT a.cid, t.i AS pos, avg(a.vec[t.i]) AS m "
            f"FROM a{i} a CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS i) t "
            f"GROUP BY 1, 2) GROUP BY cid)"
        )
        parts.append(
            f"cen{i} AS (SELECT c.cid, coalesce(u.vec, c.vec) AS vec "
            f"FROM cen{i - 1} c LEFT JOIN u{i} u ON u.cid = c.cid)"
        )
    parts.append(
        f"final AS (SELECT vec_id, cid FROM ("
        f"SELECT v.vec_id, c.cid, row_number() OVER (PARTITION BY v.vec_id "
        f"ORDER BY {cos('v.vec', 'c.vec')} DESC, c.cid) AS rn "
        f"FROM v CROSS JOIN cen{iters} c) WHERE rn = 1)"
    )
    return ",\n".join(parts) + "\nSELECT vec_id, cid AS centroid_id FROM final"


@register("embeddings_kmeans", _kmeans_oracle_sql())
def embeddings_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assigned, _cents, _hist = S.kmeans_lloyd(emb, k=_KM_K, n_iters=_KM_ITERS)
    return assigned


# The assignment step given FIXED centroids is one ivf_assign pass —
# pure relational argmax-cosine, oracle-checkable exactly like
# ann_ivf_topk. Gating it shrinks the no-oracle surface of k-means to
# just the float-mean iteration (which stays under invariant tests).
_KM_ASSIGN_MOD = 61  # deterministic centroid subset: vec_id % 61 == 0

_KM_ASSIGN_SQL = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
cen AS (SELECT vec_id AS centroid_id, vec AS c_vec FROM v WHERE vec_id % {_KM_ASSIGN_MOD} = 0)
SELECT vec_id, centroid_id FROM (
  SELECT v.vec_id, cen.centroid_id,
         row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY list_dot_product(v.vec, cen.c_vec)
                    / (sqrt(list_dot_product(v.vec, v.vec)) * sqrt(list_dot_product(cen.c_vec, cen.c_vec)))
                    DESC, cen.centroid_id) AS rn
  FROM v CROSS JOIN cen) t
WHERE rn = 1
"""


@register("embeddings_kmeans_assign", _KM_ASSIGN_SQL)
def embeddings_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_split(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    centroids = emb.filter(F.col("vec_id") % _KM_ASSIGN_MOD == 0)
    return S.ivf_assign(emb, centroids).select("vec_id", "centroid_id")


# ------------------------------------------------------------------
# 6. Skew-robust turn ordering, oracle-checked: the two-phase
#    range-bucketed row_number (operators/skew.py) vs the oracle's plain
#    window — bit-identical ranks by construction (BENCH.md measures the
#    2.9x win once the hot key outgrows one task's sort).
# ------------------------------------------------------------------


@register(
    "conv_turn_order_robust",
    """
    SELECT user_id, event_id,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id)
                AS BIGINT) AS rn
    FROM events
    """,
)
def conv_turn_order_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logstash_filter_jdbc_static_spark.operators.skew import (
        skew_robust_row_number,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_id"
    )
    return skew_robust_row_number(
        ev, "user_id", "event_id", bucket_width=2_000
    ).select("user_id", "event_id", "rn")


# ------------------------------------------------------------------
# 7. Multi-field grok extraction: one pattern, three named captures
#    (WORD/IPV4/WORD), aggregated — the dynamic-event-field production
#    path with more than one field per pattern (2C grok; parse.py
#    compiles named captures to positional groups of ONE regex).
# ------------------------------------------------------------------


@register(
    "parse_multi_field_grok",
    with_ctes(
        TRANSCRIPTS_CTE,
        body=r"""
        SELECT nullif(regexp_extract(text, 'call tool=(\w+) from_ip=((?:\d{1,3}\.){3}\d{1,3}) type=(\w+)', 1), '') AS g_tool,
               nullif(regexp_extract(text, 'call tool=(\w+) from_ip=((?:\d{1,3}\.){3}\d{1,3}) type=(\w+)', 2), '') AS g_ip,
               nullif(regexp_extract(text, 'call tool=(\w+) from_ip=((?:\d{1,3}\.){3}\d{1,3}) type=(\w+)', 3), '') AS g_type,
               count(*) AS n_turns
        FROM transcripts
        GROUP BY 1, 2, 3
        """,
    ),
)
def parse_multi_field_grok(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logstash_filter_jdbc_static_spark.operators.parse import GrokParser

    t = load_transcripts(spark, sf_dir)
    parser = GrokParser(
        "call tool=%{WORD:g_tool} from_ip=%{IPV4:g_ip} type=%{WORD:g_type}"
    )
    return (
        parser.apply(t)
        .groupBy("g_tool", "g_ip", "g_type")
        .agg(F.count(F.lit(1)).alias("n_turns"))
    )


# ------------------------------------------------------------------
# 8. Contains-LIKE lookup ("%x%"): the third wildcard shape after the
#    attested suffix/prefix ones — matches any server whose ip contains
#    the parsed second octet fragment.
# ------------------------------------------------------------------

_OCTET_CTE = r"""
octeted AS (
  SELECT p.*, nullif(regexp_extract(text, 'from_ip=\d+\.(\d+)\.', 1), '') AS octet
  FROM parsed p
)
"""


@register(
    "lookup_like_contains",
    with_ctes(
        "servers(ip, name, location) AS (SELECT * FROM (VALUES "
        "('10.1.1.1', 'ldn-server-1', 'LDN-2-3-4'), "
        "('10.2.1.1', 'nyc-server-1', 'NYC-5-2-8'), "
        "('10.3.1.1', 'mv-serv''r-1', 'MV-9-6-4')) AS t(ip, name, location))",
        TRANSCRIPTS_CTE,
        _PARSED_CTE,
        _OCTET_CTE,
        body="""
        SELECT x.conv_id, x.turn_idx, x.octet,
               CASE WHEN x.octet IS NULL THEN NULL ELSE count(s.name) END AS n_servers,
               CASE WHEN x.octet IS NULL THEN NULL
                    ELSE coalesce(array_to_string(list_sort(list(s.name) FILTER (WHERE s.name IS NOT NULL)), ','), '')
               END AS names_str
        FROM octeted x
        LEFT JOIN servers s ON s.ip LIKE '%' || x.octet || '%'
        GROUP BY 1, 2, 3
        """,
    ),
)
def lookup_like_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logstash_filter_jdbc_static_spark.sources.transcripts import servers_df

    t = load_transcripts(spark, sf_dir)
    parsed = t.withColumn(
        "octet",
        F.nullif(F.regexp_extract(F.col("text"), r"from_ip=\d+\.(\d+)\.", 1), F.lit("")),
    )
    spec = PipelineSpec(
        lookups=[
            {
                "id": "server",
                "query": "SELECT name FROM servers WHERE ip LIKE :ip",
                "parameters": {"ip": "%%{[octet]}%"},
            }
        ]
    )
    enricher = LookupEnricher(spec, {"servers": servers_df(spark)})
    out = enricher.apply(parsed)
    return out.select(
        "conv_id",
        "turn_idx",
        "octet",
        F.size("server").cast("long").alias("n_servers"),
        F.when(
            F.col("server").isNotNull(),
            F.array_join(
                F.array_sort(F.transform(F.col("server"), lambda r: r.getField("name"))),
                ",",
            ),
        ).alias("names_str"),
    )


# ------------------------------------------------------------------
# 9. Winnowing overlap pairs (Schleimer et al.) over the dedup corpus —
#    partial-overlap / decontamination detection: the injected
#    truncated near-dups share long word runs with their originals and
#    must surface as high-n_shared pairs. One shuffle; df-capped.
# ------------------------------------------------------------------

from logstash_filter_jdbc_static_spark.operators.dedup import winnow_overlap_pairs  # noqa: E402
from logstash_filter_jdbc_static_spark.queries_data import _CORPUS_CTE, dedup_corpus  # noqa: E402

_WINNOW_SQL = (
    "WITH "
    + _CORPUS_CTE.strip().rstrip()
    + r""",
tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM corpus
),
g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 5 THEN
           list_transform(generate_series(1, len(toks) - 4),
             i -> substr(md5(array_to_string(toks[i:i+4], ' ')), 1, 8))
         ELSE CAST([] AS VARCHAR[]) END AS grams
  FROM tok
),
f AS (
  SELECT doc_id,
         CASE WHEN len(grams) = 0 THEN CAST([] AS VARCHAR[])
              WHEN len(grams) < 4 THEN [list_aggregate(grams, 'min')]
              ELSE list_transform(generate_series(1, len(grams) - 3),
                     j -> list_aggregate(grams[j:j+3], 'min'))
         END AS fps
  FROM g
),
e AS (SELECT doc_id, unnest(list_distinct(fps)) AS fingerprint FROM f),
rare AS (
  SELECT doc_id, fingerprint FROM (
    SELECT doc_id, fingerprint,
           count(*) OVER (PARTITION BY fingerprint) AS dfc
    FROM e) WHERE dfc <= 20
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM rare a JOIN rare b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 3
"""
)


@register("documents_winnow_overlap", _WINNOW_SQL)
def documents_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = dedup_corpus(spark, sf_dir)
    return winnow_overlap_pairs(
        corpus, k=5, window=4, min_shared=3, df_cap=20
    )


# ------------------------------------------------------------------
# 10. Sequence packing (applyInPandas): greedy token-budget bins per
#     deterministic shard. Sequential-within-shard — but greedy
#     first-fit over a fixed (shard, doc_id) order IS expressible as a
#     recursive CTE carrying (fill, pack) state row by row, so the
#     operator is fully oracle-gated: the query uses a portable shard
#     (doc_id % 16) and the DuckDB oracle recurses per shard in the
#     identical fill order. (A plain cumulative-sum/floor bin is NOT
#     first-fit — it splits a doc across the boundary greedy closes —
#     hence the recursion.) Budget/determinism/coverage invariants stay
#     pinned in tests for the xxhash64-shard production default.
# ------------------------------------------------------------------

_PACK_BUDGET, _PACK_SHARDS = 512, 16

_PACK_SQL = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
         CAST(doc_id % {_PACK_SHARDS} AS INT) AS shard
  FROM documents
),
ordered AS (
  SELECT doc_id, n_tokens, shard,
         row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn,
         least(n_tokens, {_PACK_BUDGET}) AS tok
  FROM toks
),
packed AS (
  SELECT shard, doc_id, n_tokens, rn, tok,
         CAST(0 AS BIGINT) AS pack_local, tok AS fill
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.doc_id, o.n_tokens, o.rn, o.tok,
         CASE WHEN p.fill + o.tok > {_PACK_BUDGET}
              THEN p.pack_local + 1 ELSE p.pack_local END,
         CASE WHEN p.fill + o.tok > {_PACK_BUDGET}
              THEN o.tok ELSE p.fill + o.tok END
  FROM ordered o JOIN packed p ON o.shard = p.shard AND o.rn = p.rn + 1
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       shard,
       CAST(shard * 4294967296 + pack_local AS BIGINT) AS pack_id
FROM packed
"""


@register("documents_pack_sequences", _PACK_SQL)
def documents_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logstash_filter_jdbc_static_spark.operators.pack import pack_documents

    docs = load_table_split(spark, sf_dir, "documents").select(
        "doc_id",
        X.token_count("text").alias("n_tokens"),
        (F.col("doc_id") % _PACK_SHARDS).cast("int").alias("shard"),
    )
    return pack_documents(
        docs, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS, shard_col="shard"
    )


# ------------------------------------------------------------------
# 12. Large-dim theta lookup, oracle-gated: the per-distinct-tuple
#     map-probe path (_apply_bnlj) against a >1024-row dimension (the
#     customer table), where the other gated LIKE lookups probe small
#     dims.
# ------------------------------------------------------------------


@register(
    "lookup_like_large_dim",
    with_ctes(
        TRANSCRIPTS_CTE,
        body="""
        SELECT t.conv_id, t.turn_idx, t.digit2,
               CAST(count(c.c_custkey) AS BIGINT) AS n_matches,
               coalesce(string_agg(c.c_name, ',' ORDER BY c.c_custkey), '') AS names
        FROM (SELECT conv_id, turn_idx,
                     lpad(CAST(turn_idx % 100 AS VARCHAR), 2, '0') AS digit2
              FROM transcripts) t
        LEFT JOIN customer c ON c.c_name LIKE '%0' || t.digit2
        GROUP BY t.conv_id, t.turn_idx, t.digit2
        """,
    ),
)
def lookup_like_large_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_transcripts(spark, sf_dir).withColumn(
        "digit2", F.lpad((F.col("turn_idx") % 100).cast("string"), 2, "0")
    )
    spec = PipelineSpec(
        lookups=[
            {
                "id": "cust",
                "query": "SELECT c_custkey, c_name FROM customer WHERE c_name LIKE :pat",
                "parameters": {"pat": "%0%{digit2}"},
            }
        ]
    )
    dim = load_table_split(spark, sf_dir, "customer").select("c_custkey", "c_name")
    enricher = LookupEnricher(spec, {"customer": dim})
    out = enricher.apply(t)
    return out.select(
        "conv_id",
        "turn_idx",
        "digit2",
        F.size("cust").cast("long").alias("n_matches"),
        F.array_join(
            F.transform(F.col("cust"), lambda x: x.getField("c_name")), ","
        ).alias("names"),
    )


# ------------------------------------------------------------------
# 13. Conversation-level exact dedup: the transcript-domain counterpart
#     of document dedup — at 10^12 turns, re-ingested or mirrored
#     conversations are the dominant duplication mode. A conversation's
#     identity is the md5 over its turn texts in turn order; dedup is
#     two bounded-cardinality shuffles (conv_id, then fingerprint).
#     The driver data has no duplicate conversations, so (same
#     convention as the documents dedup corpus) every 10th conversation
#     is re-appended under a 'dup-' id — the oracle injects identically.
# ------------------------------------------------------------------

_CONV_DEDUP_SQL_BODY = """
SELECT conv_fp,
       min(conv_id) AS canonical_conv,
       CAST(count(*) AS BIGINT) AS n_convs,
       CAST(min(n_turns) AS BIGINT) AS n_turns
FROM conv_docs
GROUP BY conv_fp
HAVING count(*) > 1
"""

_CONV_CORPUS_CTE = """
conv_corpus AS (
  SELECT conv_id, turn_idx, text FROM transcripts
  UNION ALL
  SELECT 'dup-' || conv_id, turn_idx, text FROM transcripts
  WHERE CAST(substr(conv_id, 6) AS INTEGER) % 10 = 0
)
"""

_CONV_DOCS_CTE = """
conv_docs AS (
  SELECT conv_id,
         md5(string_agg(text, chr(10) ORDER BY turn_idx)) AS conv_fp,
         count(*) AS n_turns
  FROM conv_corpus
  GROUP BY conv_id
)
"""


@register(
    "conv_exact_dedup",
    with_ctes(
        TRANSCRIPTS_CTE, _CONV_CORPUS_CTE, _CONV_DOCS_CTE,
        body=_CONV_DEDUP_SQL_BODY,
    ),
)
def conv_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_transcripts(spark, sf_dir).select("conv_id", "turn_idx", "text")
    dups = t.filter(
        F.substring("conv_id", 6, 10).cast("int") % 10 == 0
    ).withColumn("conv_id", F.concat(F.lit("dup-"), F.col("conv_id")))
    corpus = t.unionAll(dups)
    conv_docs = corpus.groupBy("conv_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("turn_idx", "text"))),
                    lambda s: s.getField("text"),
                ),
                "\n",
            )
        ).alias("conv_fp"),
        F.count(F.lit(1)).alias("n_turns"),
    )
    return (
        conv_docs.groupBy("conv_fp")
        .agg(
            F.min("conv_id").alias("canonical_conv"),
            F.count(F.lit(1)).alias("n_convs"),
            F.min("n_turns").alias("n_turns"),
        )
        .filter(F.col("n_convs") > 1)
    )
