"""The benchmark's workloads. Each is a closed loop with one client: the
next operation starts when the previous one completes.

A workload provides
- ``params``: the generated data set it runs on;
- ``setup(b)``: program set-up after the session is up (timed into
  ``setup_s``);
- ``op(b, warm)``: one timed unit of work, returning an ``OpResult``
  whose ``check`` runs after the clock stops. ``warm`` marks the untimed
  warm-up, which a workload may run over a slice of its input.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field
from typing import Callable

import gen
import probe

HERE = os.path.dirname(os.path.abspath(__file__))


def pipeline_config(name: str, db_url: str) -> dict:
    with open(os.path.join(HERE, "pipelines", f"{name}.json")) as fh:
        cfg = json.load(fh)
    cfg["jdbc_connection_string"] = db_url
    return cfg


@dataclass
class OpResult:
    """One timed unit of work. ``samples`` holds (latency_s, reloaded)
    per operation inside it (a job is one operation, a stream drain is
    one per micro-batch); ``check`` returns one
    (ok, why) per operation."""

    turns: int
    check: Callable[[], list[tuple[bool, str]]]
    samples: list[tuple[float, bool]] = field(default_factory=list)
    sink_files: int = 0
    sink_bytes: int = 0
    spark_jobs: int = 0
    spark_tasks: int = 0


def route_role_tool(rows) -> dict[tuple[str, str, str], int]:
    out: Counter = Counter()
    for r in rows:
        out[(r["route"], r["role"], r["tool"])] += int(r["n"])
    return dict(out)


def check_counts(expected: dict, got: dict) -> tuple[bool, str]:
    from stats import count_diff

    diff = count_diff(expected, got)
    return (not diff, diff)


class JobWrite:
    """Repeated ``job.run_job(..., batches=8, pipeline=flagship)`` calls,
    each into a fresh output directory: routed-sink writes, the stats
    re-read and the lineage log beside the per-row layers."""

    name = "job_write"
    params = gen.Params(n_turns=40_000, n_servers=50_000, n_files=8)
    warmups = 1
    warm_files = 1

    def __init__(self):
        self.n = 0

    def setup(self, b) -> None:
        from logstash_filter_jdbc_static_spark.job import (
            build_configured_pipeline,
            submit_session,
        )

        submit_session()
        self.cfg = pipeline_config("flagship", b.db_url)
        build_configured_pipeline(b.spark, self.cfg)

    def op(self, b, warm: bool = False) -> OpResult:
        from logstash_filter_jdbc_static_spark.job import run_job

        out = os.path.join(b.work, "job_out", f"run-{self.n}")
        self.n += 1
        shutil.rmtree(out, ignore_errors=True)
        source = b.ds.slice_dir(self.warm_files) if warm else b.ds.transcripts
        summary = run_job(b.spark, source, out, batches=8, pipeline=self.cfg)
        files, size = probe.dir_bytes(os.path.join(out, "routed"))
        expected = b.ds.expected(list(range(self.warm_files)) if warm else None)

        def check() -> list[tuple[bool, str]]:
            from pyspark.sql import functions as F

            want_routes = Counter()
            for (route, _, _), n in expected.items():
                want_routes[route] += n
            ok, why = check_counts(dict(want_routes), summary["route_totals"])
            if ok:
                rows = (b.spark.read.parquet(os.path.join(out, "sink_counts"))
                        .groupBy("route", "role", "tool")
                        .agg(F.sum("n_turns").alias("n")).collect())
                ok, why = check_counts(expected, route_role_tool(rows))
            shutil.rmtree(out, ignore_errors=True)
            return [(ok, why)]

        return OpResult(turns=sum(expected.values()), check=check,
                        sink_files=files, sink_bytes=size)


class MicrobatchReload:
    """``start_pipeline_stream`` over a backlog of equal-size files (8 files
    per trigger, ``availableNow``). Its ``refresh_dims`` hook reloads the
    servers dimension (``DimensionStore.refresh``) and rebuilds the
    ``LookupEnricher`` on every 4th micro-batch. One timed unit is one
    drain of the whole backlog (4 micro-batches) into a fresh sink and
    checkpoint. Warm-up is a full drain too: a slice was measured to leave
    the timed batches unsteady."""

    name = "microbatch_reload"
    params = gen.Params(n_turns=48_000, n_servers=50_000, n_files=32)
    files_per_trigger = 8  # the program's default maxFilesPerTrigger
    reload_every = 4
    warmups = 1
    ops_per_unit = 4  # micro-batches per drain: n_files / files_per_trigger

    def __init__(self):
        self.n = 0

    def setup(self, b) -> None:
        from logstash_filter_jdbc_static_spark.plans.refresh import DimensionStore
        from logstash_filter_jdbc_static_spark.sources.jdbc import make_fetcher
        from logstash_filter_jdbc_static_spark.spec import PipelineSpec

        self.spec = PipelineSpec.from_json(pipeline_config("flagship", b.db_url))
        self.store = DimensionStore(
            b.spark, self.spec.db_objects,
            [(ld, make_fetcher(b.spark, ld)) for ld in self.spec.loaders],
        )
        self.store.initial_load()
        self.enricher = self._compile()
        # stream start, on an empty source so no batch runs
        empty = os.path.join(b.work, "stream_empty")
        os.makedirs(empty, exist_ok=True)
        q = self._start(b, empty, "setup")
        q.stop()

    def _compile(self):
        from logstash_filter_jdbc_static_spark.operators.processor import LookupEnricher

        dims, rows = self.store.dims_and_rows()
        return LookupEnricher(self.spec, dims, dim_rows=rows)

    def _start(self, b, source: str, tag: str, hook=None):
        from logstash_filter_jdbc_static_spark.streaming.stream_pipeline import (
            start_pipeline_stream,
        )

        base = os.path.join(b.work, "stream", tag)
        shutil.rmtree(base, ignore_errors=True)
        self.sink = os.path.join(base, "sink")
        return start_pipeline_stream(
            b.spark, source, self.sink, os.path.join(base, "checkpoint"),
            refresh_dims=hook or (lambda: self.enricher),
        )

    def op(self, b, warm: bool = False) -> OpResult:
        from pyspark.sql import functions as F

        calls = {"n": 0}
        reloaded: list[int] = []
        reload_s: list[float] = []

        def refresh_dims():
            k = calls["n"]
            calls["n"] += 1
            if k % self.reload_every == self.reload_every - 1:
                t = time.perf_counter()
                with b.tracer.span("refresh.reload"):
                    self.store.refresh()
                with b.tracer.span("lookup.compile"):
                    self.enricher = self._compile()
                reload_s.append(time.perf_counter() - t)
                reloaded.append(k)
            return self.enricher

        tag = f"drain-{self.n}"
        self.n += 1
        q = self._start(b, b.ds.transcripts, tag, refresh_dims)
        q.awaitTermination()
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        samples = [(p.durationMs["triggerExecution"] / 1000.0, p.batchId in reloaded)
                   for p in progress]
        files, size = probe.dir_bytes(self.sink)
        jobs, _, tasks = probe.job_counts(b.spark, str(q.runId))  # the query's job group
        sink = self.sink
        b.progress_log.extend(progress)
        b.reload_log.extend(reload_s)

        def check() -> list[tuple[bool, str]]:
            rows = (b.spark.read.parquet(sink)
                    .groupBy("batch_id", "route", "role", "tool")
                    .agg(F.count(F.lit(1)).alias("n")).collect())
            by_batch: dict[int, list] = {}
            for r in rows:
                by_batch.setdefault(r["batch_id"], []).append(r)
            out = []
            for k in range(self.ops_per_unit):
                files_k = list(range(k * self.files_per_trigger, (k + 1) * self.files_per_trigger))
                out.append(check_counts(b.ds.expected(files_k),
                                        route_role_tool(by_batch.get(k, []))))
            shutil.rmtree(os.path.dirname(sink), ignore_errors=True)
            return out

        return OpResult(turns=self.params.n_turns, check=check, samples=samples,
                        sink_files=files, sink_bytes=size,
                        spark_jobs=jobs, spark_tasks=tasks)


WORKLOADS = {w.name: w for w in (JobWrite, MicrobatchReload)}
