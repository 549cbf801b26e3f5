"""Streaming flavor of parse -> enrich -> route.

The reference is a pull-based per-event filter (jdbc_static.rb:154-157),
so batch is the honest default; this module is the Structured Streaming
wrapper for continuous ingestion:

- file/rate source -> the SAME stateless enrichment transformation (one
  shared code path with batch: `enrich_and_route`) -> foreachBatch sink
  fan-out (per-route parquet/Iceberg appends).
- Dimension refresh (A14/A15) is the ``refresh_dims`` seam, asked once
  per micro-batch inside foreachBatch for the current enricher: it
  returns the same compiled ``LookupEnricher`` until a reload swaps the
  snapshot (``scheduled_refresh_seam``), the streaming equivalent of the
  cron reload with the same atomic-swap semantics (each batch sees one
  consistent snapshot). Without a seam the dims are static and one
  enricher serves the whole query. Either way an unchanged snapshot's
  equi lookups keep their key-grouped dim pinned from the first batch
  that applied them, so later batches only probe it.
- Watermarked per-sink counts show the event-time aggregation path
  (the reference has no event-time semantics — SURVEY 2B "not present" —
  so this is additive, not parity-bound).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from logstash_filter_jdbc_static_spark.operators.route import ROUTE_COL
from logstash_filter_jdbc_static_spark.plans.pipeline import (
    build_enricher,
    enrich_and_route,
)
from logstash_filter_jdbc_static_spark.schema import TRANSCRIPT_SCHEMA


def read_transcript_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def start_pipeline_stream(
    spark: SparkSession,
    source_path: str,
    sink_path: str,
    checkpoint_path: str,
    refresh_dims=None,
    trigger: dict | None = None,
) -> StreamingQuery:
    """foreachBatch: enrich with the current dim snapshot, fan out by
    route partition. ``refresh_dims``: optional () -> LookupEnricher,
    called per batch (the scheduled-reload seam, A14/A15); without it
    the flagship enricher is built once, here, and serves every batch.
    ``trigger``: writeStream.trigger kwargs — default drains available
    data and stops; pass {"processingTime": "..."} for a live stream."""
    stream = read_transcript_stream(spark, source_path)
    if refresh_dims is None:
        # static dims: one enricher for the whole query, so every batch
        # reuses its compiled lookups and their pinned grouped dims
        enricher = build_enricher(spark)

        def refresh_dims():
            return enricher

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        routed = enrich_and_route(batch_df, refresh_dims())
        (
            routed.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .partitionBy(ROUTE_COL)
            .parquet(sink_path)
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def scheduled_refresh_seam(store, spec):
    """Compose a DimensionStore with the spec's ``loader_schedule`` into
    the ``refresh_dims`` seam: a RepeatingLoadRunner ticks the store on
    the cron line in the background (A15), and every micro-batch
    enriches with a LookupEnricher compiled against the store's latest
    snapshot (recompiled only after a swap) — the
    streaming equivalent of the reference's scheduler-driven
    RepeatingLoadRunner (jdbc_static.rb:189-204). Returns
    (refresh_dims, runner); call runner.stop() on shutdown.

    The runner's start() performs the strict initial load, so a dead
    remote fails fast here, before the stream starts (loader.rb:17-19);
    later reload failures keep the previous snapshot serving."""
    from logstash_filter_jdbc_static_spark.operators.processor import (
        LookupEnricher,
    )
    from logstash_filter_jdbc_static_spark.plans.schedule import (
        RepeatingLoadRunner,
    )
    from logstash_filter_jdbc_static_spark.spec import ValidationError

    if getattr(spec, "loader_schedule", None) is None:
        raise ValidationError(
            ["scheduled_refresh_seam requires a spec with 'loader_schedule' "
             "set; for a static dimension build the enricher once with "
             "LookupEnricher and pass refresh_dims=None"]
        )
    runner = RepeatingLoadRunner(store, spec.loader_schedule)
    runner.start()

    # Rebuild the enricher only when a reload actually swapped the
    # snapshot: recompiling per micro-batch re-ran index-coverage
    # warnings (log spam at streaming cadence) and rebuilt identical
    # plans for nothing. reload_count is the snapshot generation.
    state: dict = {"gen": None, "enricher": None}

    def refresh_dims() -> LookupEnricher:
        gen = store.reload_count
        if state["enricher"] is None or gen != state["gen"]:
            state["enricher"] = LookupEnricher(spec, store.dims())
            # re-read: a swap may have landed between the gen read and
            # the snapshot read — next batch rebuilds against it
            state["gen"] = gen
        return state["enricher"]

    return refresh_dims, runner


def windowed_route_counts(
    routed_stream: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time windowed per-sink counts with late-data handling."""
    return (
        routed_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col(ROUTE_COL), F.col("role"))
        .agg(F.count(F.lit(1)).alias("n_turns"))
    )
