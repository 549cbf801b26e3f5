"""Deterministic transcripts fact table (input_hint shape) derived from
the driver's ``events`` parquet, in two dialects: a Spark DataFrame and
the byte-identical DuckDB SQL CTE.

Why derive instead of synthesize: the correctness gate replays every
query in DuckDB against the same parquet inputs, so the fact table itself
must be reproducible by the oracle. All expressions below were chosen to
be engine-portable (no float->string casts — Spark rounds HALF_UP,
DuckDB HALF_EVEN; md5/lpad/row_number are identical).

Shape (BASELINE.json input_hint):
    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

Controlled routing fractions baked into the derivation:
- malformed (no extractable from_ip):   event_id % 20 == 7   (~5%)
- server-miss (ip 10.4.*, not in dim):  user_id % 4 == 0     (~25%)
- tool-miss (tool_ghost not in dim):    event_id % 7 == 3    (~14%)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.window import Window

# ---------------------------------------------------------------- dims

# Canonical 3-row servers dim — exact transposition of the rspec fixture
# (spec/filters/jdbc_static_spec.rb:61-63), embedded quote included.
SERVERS_ROWS = [
    ("10.1.1.1", "ldn-server-1", "LDN-2-3-4"),
    ("10.2.1.1", "nyc-server-1", "NYC-5-2-8"),
    ("10.3.1.1", "mv-serv'r-1", "MV-9-6-4"),
]
SERVERS_SCHEMA = T.StructType(
    [
        T.StructField("ip", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("location", T.StringType(), False),
    ]
)

TOOL_CATALOG_ROWS = [
    (f"tool_{i}", cat, owner, risk)
    for i, (cat, owner, risk) in enumerate(
        [
            ("search", "team-web", 1),
            ("code", "team-dev", 2),
            ("browser", "team-web", 3),
            ("shell", "team-infra", 4),
            ("db", "team-data", 3),
            ("mail", "team-comms", 2),
        ]
    )
]
TOOL_CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("tool", T.StringType(), False),
        T.StructField("category", T.StringType(), False),
        T.StructField("owner", T.StringType(), False),
        T.StructField("risk_level", T.IntegerType(), False),
    ]
)


def servers_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(SERVERS_ROWS, SERVERS_SCHEMA)


def tool_catalog_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(TOOL_CATALOG_ROWS, TOOL_CATALOG_SCHEMA)


def _sql_quote(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def values_cte(name: str, rows: list[tuple], columns: list[str], casts: dict[str, str] | None = None) -> str:
    """``name(col, ...) AS (VALUES ...)`` fragment for the DuckDB oracle."""
    casts = casts or {}
    body = ", ".join(
        "(" + ", ".join(_sql_quote(v) for v in row) + ")" for row in rows
    )
    sel_cols = ", ".join(
        f"CAST({c} AS {casts[c]}) AS {c}" if c in casts else c for c in columns
    )
    return (
        f"{name}({', '.join(columns)}) AS (SELECT {sel_cols} FROM (VALUES {body}) "
        f"AS t({', '.join(columns)}))"
    )


SERVERS_CTE = values_cte("servers", SERVERS_ROWS, ["ip", "name", "location"])
TOOL_CATALOG_CTE = values_cte(
    "tool_catalog",
    TOOL_CATALOG_ROWS,
    ["tool", "category", "owner", "risk_level"],
    casts={"risk_level": "INTEGER"},
)

# ---------------------------------------------------- fact derivation

# The same derivation, twice, independently expressed. The DuckDB text is
# the oracle; the Spark version is the engine under test.
TRANSCRIPTS_CTE = """
transcripts AS (
  SELECT
    'conv-' || lpad(CAST(user_id AS VARCHAR), 4, '0') AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INTEGER) AS turn_idx,
    CASE event_type
      WHEN 'error' THEN 'tool'
      WHEN 'signup' THEN 'system'
      WHEN 'purchase' THEN 'assistant'
      ELSE 'user'
    END AS role,
    CASE WHEN event_id % 20 = 7
      THEN 'status=degraded detail=none'
      ELSE 'call tool=' || (CASE WHEN event_id % 7 = 3 THEN 'tool_ghost' ELSE 'tool_' || CAST(event_id % 6 AS VARCHAR) END)
           || ' from_ip=10.' || CAST(user_id % 4 + 1 AS VARCHAR) || '.1.1'
           || ' type=' || event_type
    END AS text,
    CASE WHEN event_id % 7 = 3 THEN 'tool_ghost'
         ELSE 'tool_' || CAST(event_id % 6 AS VARCHAR) END AS tool,
    ts
  FROM events
)
"""


def derive_transcripts(events: DataFrame) -> DataFrame:
    """Spark-side twin of TRANSCRIPTS_CTE."""
    w = Window.partitionBy("user_id").orderBy("event_id")
    tool = F.when(F.col("event_id") % 7 == 3, F.lit("tool_ghost")).otherwise(
        F.concat(F.lit("tool_"), (F.col("event_id") % 6).cast("string"))
    )
    text = F.when(
        F.col("event_id") % 20 == 7, F.lit("status=degraded detail=none")
    ).otherwise(
        F.concat(
            F.lit("call tool="),
            tool,
            F.lit(" from_ip=10."),
            (F.col("user_id") % 4 + 1).cast("string"),
            F.lit(".1.1 type="),
            F.col("event_type"),
        )
    )
    role = (
        F.when(F.col("event_type") == "error", F.lit("tool"))
        .when(F.col("event_type") == "signup", F.lit("system"))
        .when(F.col("event_type") == "purchase", F.lit("assistant"))
        .otherwise(F.lit("user"))
    )
    return events.select(
        F.concat(
            F.lit("conv-"), F.lpad(F.col("user_id").cast("string"), 4, "0")
        ).alias("conv_id"),
        F.row_number().over(w).cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.col("ts"),
    )


_TRANSCRIPT_CACHE: dict[tuple[str, str], DataFrame] = {}


def load_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived fact table, memoized per (session, sf_dir): the turn-order
    window + parquet scan is shared staging for every downstream query
    (one cached InMemoryRelation instead of a re-shuffle per query).
    Keyed on applicationId (stable, unique per context — id() is
    reusable after GC). Eviction unpersists (non-blocking): the JVM
    CacheManager pins every .cache()d plan, so dropping the Python
    reference alone leaks the blocks; a caller still holding the
    evicted frame stays correct and recomputes."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _TRANSCRIPT_CACHE:
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        _TRANSCRIPT_CACHE[key] = derive_transcripts(events).cache()
        if len(_TRANSCRIPT_CACHE) > 4:  # bound: tests hop across sf dirs
            evicted = _TRANSCRIPT_CACHE.pop(next(iter(_TRANSCRIPT_CACHE)))
            try:  # the entry may belong to an already-stopped session
                evicted.unpersist(False)
            except Exception:
                pass
    return _TRANSCRIPT_CACHE[key]


def synth_transcripts(spark: SparkSession, n_turns: int) -> DataFrame:
    """Deterministic generated transcripts of ``n_turns`` turns, 200 per
    conversation, with the same routing mix as the derived table (for
    ``job.py --input synth:N`` and the scaling bench). No window or
    shuffle: a scaling run must measure the pipeline, not the generator."""
    # 4x tasks per core: smooths stragglers on a noisy shared host and
    # mirrors the real-cluster guidance of 2-4 tasks per executor core
    n_parts = 4 * int(spark.sparkContext.defaultParallelism)
    turns_per_conv = 200
    df = spark.range(0, n_turns, numPartitions=n_parts)
    return df.select(
        F.concat(
            F.lit("conv-"),
            F.lpad((F.col("id") / turns_per_conv).cast("long").cast("string"), 7, "0"),
        ).alias("conv_id"),
        (F.col("id") % turns_per_conv).cast("int").alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool"), F.lit("system")),
            (F.col("id") % 4 + 1).cast("int"),
        ).alias("role"),
        F.when(F.col("id") % 20 == 7, F.lit("status=degraded detail=none"))
        .otherwise(
            F.concat(
                F.lit("call tool="),
                F.when(F.col("id") % 7 == 3, F.lit("tool_ghost")).otherwise(
                    F.concat(F.lit("tool_"), (F.col("id") % 6).cast("string"))
                ),
                F.lit(" from_ip=10."),
                (F.col("id") % 4 + 1).cast("string"),
                F.lit(".1.1 type=batch"),
            )
        )
        .alias("text"),
        F.when(F.col("id") % 7 == 3, F.lit("tool_ghost"))
        .otherwise(F.concat(F.lit("tool_"), (F.col("id") % 6).cast("string")))
        .alias("tool"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") % 86400).alias("ts"),
    )


def with_ctes(*ctes: str, body: str) -> str:
    """Assemble a WITH query for the DuckDB oracle."""
    return "WITH " + ",\n".join(c.strip() for c in ctes) + "\n" + body
