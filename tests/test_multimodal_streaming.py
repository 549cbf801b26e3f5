"""Multimodal plumbing + Structured Streaming pipeline tests."""

from __future__ import annotations

from logstash_filter_jdbc_static_spark.operators.multimodal import (
    FEATURE_DIM,
    extract_features,
    frame_sample_plan,
    synth_media,
)
from logstash_filter_jdbc_static_spark.sources.transcripts import load_transcripts
from logstash_filter_jdbc_static_spark.streaming.stream_pipeline import (
    start_pipeline_stream,
)


class TestMultimodal:
    def test_feature_extraction_shapes(self, spark):
        media = synth_media(spark, 30)
        feats = extract_features(media).collect()
        assert len(feats) == 30
        for r in feats:
            assert r["n_bytes"] >= 64
            assert len(r["sha_prefix"]) == 12
            assert len(r["feature"]) == FEATURE_DIM
            if r["kind"] == "image":
                assert 16 <= r["width"] <= 255 and 16 <= r["height"] <= 255
            else:
                assert r["width"] is None

    def test_feature_extraction_deterministic(self, spark):
        media = synth_media(spark, 10)
        a = {r["media_id"]: r["sha_prefix"] for r in extract_features(media).collect()}
        b = {r["media_id"]: r["sha_prefix"] for r in extract_features(media).collect()}
        assert a == b

    def test_frame_sampling(self, spark):
        media = synth_media(spark, 30)
        frames = frame_sample_plan(media, every_n=10).collect()
        assert frames, "videos should produce sampled frames"
        by_media = {}
        for r in frames:
            by_media.setdefault(r["media_id"], []).append(r["frame_idx"])
        for idxs in by_media.values():
            assert idxs == sorted(idxs)
            assert all(i % 10 == 0 for i in idxs)


class TestStreaming:
    def test_stream_matches_batch(self, spark, sf_dir, tmp_path):
        """The streaming pipeline over the same input produces the same
        per-route totals as batch (shared transformation code path)."""
        src = str(tmp_path / "src")
        sink = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")
        t = load_transcripts(spark, sf_dir)
        t.write.mode("overwrite").parquet(src)

        q = start_pipeline_stream(spark, src, sink, ckpt)
        q.awaitTermination(120)

        got = {
            r["route"]: r["count"]
            for r in spark.read.parquet(sink).groupBy("route").count().collect()
        }
        assert got == {"hit": 650, "miss": 300, "malformed": 50}

    def test_stream_resume_is_incremental(self, spark, sf_dir, tmp_path):
        """Restarting from the same checkpoint does not reprocess files."""
        src = str(tmp_path / "src")
        sink = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")
        t = load_transcripts(spark, sf_dir)
        t.write.mode("overwrite").parquet(src)

        q = start_pipeline_stream(spark, src, sink, ckpt)
        q.awaitTermination(120)
        n1 = spark.read.parquet(sink).count()
        # second start, same checkpoint: nothing new to process
        q2 = start_pipeline_stream(spark, src, sink, ckpt)
        q2.awaitTermination(120)
        assert spark.read.parquet(sink).count() == n1 == 1000

    def test_default_path_builds_enricher_once(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        """Without a refresh seam the dims are static: one enricher
        serves every micro-batch of the query, and the sink holds the
        same per-route counts as the batch path over the same files."""
        from logstash_filter_jdbc_static_spark.plans.pipeline import (
            build_enricher,
            enrich_and_route,
        )
        from logstash_filter_jdbc_static_spark.streaming import stream_pipeline

        src = str(tmp_path / "src4")
        sink = str(tmp_path / "sink4")
        ckpt = str(tmp_path / "ckpt4")
        # 10 files at the default 8 files per trigger: two micro-batches
        load_transcripts(spark, sf_dir).repartition(10).write.parquet(src)
        calls = {"n": 0}

        def counting_build_enricher(*args, **kwargs):
            calls["n"] += 1
            return build_enricher(*args, **kwargs)

        monkeypatch.setattr(
            stream_pipeline, "build_enricher", counting_build_enricher
        )
        q = start_pipeline_stream(spark, src, sink, ckpt)
        q.awaitTermination(120)
        out = spark.read.parquet(sink)
        assert out.select("batch_id").distinct().count() >= 2
        assert calls["n"] == 1
        got = {r["route"]: r["count"] for r in out.groupBy("route").count().collect()}
        batch = enrich_and_route(spark.read.parquet(src), build_enricher(spark))
        want = {r["route"]: r["count"] for r in batch.groupBy("route").count().collect()}
        assert got == want

    def test_scheduled_refresh_seam_sees_reloaded_dim(self, spark, sf_dir, tmp_path):
        """loader_schedule drives a background reload between micro-batch
        runs; the second stream run enriches with the RELOADED snapshot
        (the streaming analogue of jdbc_static_spec.rb:141-158)."""
        import time as _time

        from logstash_filter_jdbc_static_spark.plans.refresh import DimensionStore
        from logstash_filter_jdbc_static_spark.spec import (
            LoaderSpec,
            LocalDbObject,
            PipelineSpec,
        )
        from logstash_filter_jdbc_static_spark.streaming.stream_pipeline import (
            scheduled_refresh_seam,
        )

        state = {"v": "before"}

        def fetch():
            return spark.createDataFrame(
                [("10.1.1.1", state["v"], "LDN")],
                "ip string, name string, location string",
            )

        spec = PipelineSpec(
            lookups=[
                {
                    "id": "server",
                    "query": "SELECT name FROM servers WHERE ip = :ip",
                    "parameters": {"ip": "from_ip"},
                    "default_hash": {"name": "unknown"},
                }
            ],
            db_objects=[
                {"name": "servers",
                 "columns": [["ip", "varchar(64)"], ["name", "varchar(64)"],
                             ["location", "varchar(64)"]],
                 "index_columns": ["ip"]}
            ],
            loaders=[{"local_table": "servers", "query": "q"}],
            loader_schedule="* * * * * *",  # every second
        )
        store = DimensionStore(
            spark, spec.db_objects,
            [(spec.loaders[0], fetch)],
        )
        refresh_dims, runner = scheduled_refresh_seam(store, spec)
        try:
            src = str(tmp_path / "src3")
            sink = str(tmp_path / "sink3")
            ckpt = str(tmp_path / "ckpt3")
            t = load_transcripts(spark, sf_dir)
            t.write.mode("overwrite").parquet(src)
            q = start_pipeline_stream(spark, src, sink, ckpt,
                                      refresh_dims=refresh_dims)
            q.awaitTermination(120)
            # remote changes; the cron runner reloads in the background.
            # Wait for TWO increments: a refresh already in flight at the
            # flip may have fetched the old value and bump the counter
            # after it — only the second tick is guaranteed post-flip.
            state["v"] = "after"
            n0 = runner.reload_count
            deadline = _time.time() + 30
            while runner.reload_count < n0 + 2 and _time.time() < deadline:
                _time.sleep(0.2)
            assert runner.reload_count >= n0 + 2
            # new files arrive; the next run's batches see the new snapshot
            t.write.mode("append").parquet(src)
            q2 = start_pipeline_stream(spark, src, sink, ckpt,
                                       refresh_dims=refresh_dims)
            q2.awaitTermination(120)
        finally:
            runner.stop()
        from pyspark.sql import functions as F

        names = {
            r["name"]
            for r in spark.read.parquet(sink)
            .filter(F.col("route") == "hit")
            .select(F.explode("server").alias("s"))
            .select(F.col("s.name").alias("name"))
            .distinct()
            .collect()
        }
        assert "before" in names and "after" in names


class TestStatefulSessionize:
    def test_session_summaries(self, spark, sf_dir, tmp_path):
        from logstash_filter_jdbc_static_spark.streaming.stateful import sessionize

        src = str(tmp_path / "src2")
        out = str(tmp_path / "sessions")
        ckpt = str(tmp_path / "ckpt2")
        from pyspark.sql import functions as F

        t = load_transcripts(spark, sf_dir).filter(
            F.col("conv_id") < "conv-0003"  # small slice: state op spins
        )                                    # a python worker per partition
        t.write.mode("overwrite").parquet(src)

        from logstash_filter_jdbc_static_spark.schema import TRANSCRIPT_SCHEMA

        stream = (
            spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
        )
        def save(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            sessionize(stream)
            .writeStream.foreachBatch(save)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        # ProcessingTimeTimeout keeps the query alive to fire expirations;
        # wait for the data batch then stop explicitly.
        q.awaitTermination(30)
        q.stop()
        got = spark.read.parquet(out)
        rows = {r["conv_id"]: r for r in got.collect()}
        # one summary per conversation; totals match the batch input
        batch = {
            r["conv_id"]: r["count"]
            for r in t.groupBy("conv_id").count().collect()
        }
        assert {k: v["n_turns"] for k, v in rows.items()} == batch
        assert all(v["first_ts"] <= v["last_ts"] for v in rows.values())


class TestWatermarkLateData:
    """Event-time watermark semantics of windowed_route_counts: a row
    arriving AFTER the watermark passed its window is dropped; the
    watermark survives a checkpoint restart (two availableNow runs)."""

    @staticmethod
    def _turns(ts_list, conv="conv-w"):
        import datetime

        base = datetime.datetime(2024, 1, 1, 10, 0, 0)
        return [
            (
                conv,
                i,
                "user",
                "call tool=tool_0 from_ip=10.1.1.1 type=x",
                "tool_0",
                base + datetime.timedelta(minutes=m),
            )
            for i, m in enumerate(ts_list)
        ]

    def _start(self, spark, src, sink, ckpt):
        from pyspark.sql import functions as F

        from logstash_filter_jdbc_static_spark.operators.route import with_route
        from logstash_filter_jdbc_static_spark.streaming.stream_pipeline import (
            read_transcript_stream,
            windowed_route_counts,
        )

        stream = read_transcript_stream(spark, src)
        # Stateless route labeling on the stream (hit: tags empty).
        routed = with_route(stream.withColumn("tags", F.array().cast("array<string>")))
        counts = windowed_route_counts(routed, window="10 minutes", watermark="30 minutes")
        return (
            counts.select(
                F.col("window.start").alias("w_start"), "route", "role", "n_turns"
            )
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", sink)
            .start()
        )

    def test_late_row_beyond_watermark_is_dropped(self, spark, tmp_path):
        from logstash_filter_jdbc_static_spark.schema import TRANSCRIPT_SCHEMA

        src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))
        # Run 1: 3 rows in window 10:00-10:10, then a row at 11:00 that
        # advances the watermark to 10:30 (> window end) => the 10:00
        # window becomes final and is emitted.
        spark.createDataFrame(
            self._turns([0, 3, 7, 60]), TRANSCRIPT_SCHEMA
        ).write.mode("append").parquet(src)
        self._start(spark, src, sink, ckpt).awaitTermination(120)
        got = {
            r["w_start"].minute: r["n_turns"]
            for r in spark.read.parquet(sink).collect()
        }
        assert got.get(0) == 3  # the finalized 10:00 window

        # Run 2 (same checkpoint): a LATE row at 10:05 — its window's
        # end (10:10) is behind the persisted watermark (10:30) => must
        # be dropped, not double-counted.
        spark.createDataFrame(self._turns([5]), TRANSCRIPT_SCHEMA).write.mode(
            "append"
        ).parquet(src)
        self._start(spark, src, sink, ckpt).awaitTermination(120)
        got2 = {
            r["w_start"].minute: r["n_turns"]
            for r in spark.read.parquet(sink).collect()
        }
        assert got2.get(0) == 3  # unchanged: late row dropped


class TestResize:
    def test_resize_contract(self, spark):
        from logstash_filter_jdbc_static_spark.operators.multimodal import (
            resize_images,
            synth_media,
        )

        media = synth_media(spark, 30)
        out = resize_images(media, width=32, height=16)
        rows = {r["media_id"]: r for r in out.collect()}
        assert len(rows) == 30
        for r in rows.values():
            if r["kind"] == "image":
                assert r["dst_width"] == 32 and r["dst_height"] == 16
                assert r["payload"] is not None and len(r["payload"]) == 32 * 16
                assert 16 <= r["src_width"] <= 255
            else:
                assert r["payload"] is None and r["src_width"] is None

    def test_resize_deterministic(self, spark):
        from logstash_filter_jdbc_static_spark.operators.multimodal import (
            resize_images,
            synth_media,
        )

        a = resize_images(synth_media(spark, 10), 8, 8)
        b = resize_images(synth_media(spark, 10), 8, 8)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


class TestLiveCronRefreshStream:
    def _spec_store(self, spark, state, schedule="* * * * * *"):
        from logstash_filter_jdbc_static_spark.plans.refresh import DimensionStore
        from logstash_filter_jdbc_static_spark.spec import PipelineSpec

        def fetch():
            return spark.createDataFrame(
                [("10.1.1.1", state["v"], "LDN")],
                "ip string, name string, location string",
            )

        spec = PipelineSpec(
            lookups=[
                {
                    "id": "server",
                    "query": "SELECT name FROM servers WHERE ip = :ip",
                    "parameters": {"ip": "from_ip"},
                    "default_hash": {"name": "unknown"},
                }
            ],
            db_objects=[
                {"name": "servers",
                 "columns": [["ip", "varchar(64)"], ["name", "varchar(64)"],
                             ["location", "varchar(64)"]],
                 "index_columns": ["ip"]}
            ],
            loaders=[{"local_table": "servers", "query": "q"}],
            loader_schedule=schedule,
        )
        store = DimensionStore(spark, spec.db_objects, [(spec.loaders[0], fetch)])
        return spec, store

    def test_live_stream_observes_cron_reload_mid_stream(
        self, spark, sf_dir, tmp_path
    ):
        """Verdict #7: ONE live foreachBatch stream (processingTime
        trigger, never restarted) observes a dim change driven by the
        cron runner while it runs — post-reload batches carry the new
        dim values and reload_count > 1 (the rspec :141-158 contract,
        live)."""
        import time as _time

        from pyspark.sql import functions as F

        from logstash_filter_jdbc_static_spark.streaming.stream_pipeline import (
            scheduled_refresh_seam,
            start_pipeline_stream,
        )

        state = {"v": "before"}
        spec, store = self._spec_store(spark, state)
        refresh_dims, runner = scheduled_refresh_seam(store, spec)
        src = str(tmp_path / "live_src")
        sink = str(tmp_path / "live_sink")
        ckpt = str(tmp_path / "live_ckpt")
        t = load_transcripts(spark, sf_dir)
        t.write.mode("overwrite").parquet(src)
        q = start_pipeline_stream(
            spark, src, sink, ckpt, refresh_dims=refresh_dims,
            trigger={"processingTime": "500 milliseconds"},
        )

        def hit_names() -> set:
            import glob as _glob

            if not _glob.glob(f"{sink}/route=hit/*.parquet"):
                return set()
            return {
                r["name"]
                for r in spark.read.parquet(sink)
                .filter(F.col("route") == "hit")
                .select(F.explode("server").alias("s"))
                .select(F.col("s.name").alias("name"))
                .distinct()
                .collect()
            }

        try:
            deadline = _time.time() + 60
            while "before" not in hit_names() and _time.time() < deadline:
                _time.sleep(0.5)
            assert "before" in hit_names()
            # flip the remote; wait two full reload ticks (one may have
            # been mid-flight at the flip)
            state["v"] = "after"
            n0 = runner.reload_count
            deadline = _time.time() + 30
            while runner.reload_count < n0 + 2 and _time.time() < deadline:
                _time.sleep(0.2)
            assert runner.reload_count > 1
            # new files arrive on the SAME running stream
            t.write.mode("append").parquet(src)
            deadline = _time.time() + 60
            while "after" not in hit_names() and _time.time() < deadline:
                _time.sleep(0.5)
            assert "after" in hit_names()
        finally:
            q.stop()
            runner.stop()

    def test_seam_requires_loader_schedule(self, spark):
        import pytest

        from logstash_filter_jdbc_static_spark.spec import ValidationError
        from logstash_filter_jdbc_static_spark.streaming.stream_pipeline import (
            scheduled_refresh_seam,
        )

        state = {"v": "x"}
        spec, store = self._spec_store(spark, state)
        spec.loader_schedule = None
        with pytest.raises(ValidationError, match="loader_schedule"):
            scheduled_refresh_seam(store, spec)

    def test_seam_caches_enricher_until_reload(self, spark):
        """Round-2 ADVICE item 4: the enricher (and its index-coverage
        warning pass) must not be rebuilt per micro-batch — only when a
        reload swapped the snapshot."""
        from logstash_filter_jdbc_static_spark.streaming.stream_pipeline import (
            scheduled_refresh_seam,
        )

        state = {"v": "x"}
        spec, store = self._spec_store(spark, state, schedule="1h")
        refresh_dims, runner = scheduled_refresh_seam(store, spec)
        try:
            e1 = refresh_dims()
            e2 = refresh_dims()
            assert e1 is e2  # same generation -> same compiled enricher
            store.refresh()
            e3 = refresh_dims()
            assert e3 is not e1
            assert refresh_dims() is e3
        finally:
            runner.stop()
