"""The traced run: per-layer metrics, measured from outside the program.

- The workload's own unit runs untraced, traced (spans and Spark job
  counts), and untraced again; the traced time minus the mean of the
  untraced ones is the tracing overhead.
- Lazy layers are timed by prefix materialization: force the scan, then
  scan + parse, then + enrich, + route and + aggregate, each forced by an
  aggregate over the columns of that stage and of every stage before it.
  A layer's self time is the difference between consecutive prefixes
  (approximate under whole-stage codegen fusion; it can read slightly
  negative).
- Set-up layers (dimension load, reload, lookup compile) are called
  directly, a few times each.
- A ``local[1]`` leg over a slice of the input gives the parallel
  efficiency of the per-row layers.

Spans go to ``.perfbench_work/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import os
import time

import probe
import stats
from workloads import pipeline_config

REPS = 2


def traced_run(b, wl, run_unit) -> tuple[dict, dict]:
    from pyspark.sql import functions as F

    tr = b.tracer
    tr.spark = b.spark

    # 1. the workload's own operations: untraced, traced, untraced again,
    # so warm-up drift does not read as tracing overhead
    untraced = [run_unit(b, wl, timed=True)[1]]
    tr.enabled = True
    b.progress_log.clear()
    b.reload_log.clear()
    gc0 = probe.gc_seconds(b.spark)
    res, traced_s = run_unit(b, wl, timed=True)
    gc_s = probe.gc_seconds(b.spark) - gc0
    progress, reloads = list(b.progress_log), list(b.reload_log)
    results = [res] if res is not None else []
    tr.enabled = False
    untraced.append(run_unit(b, wl, timed=True)[1])
    tr.enabled = True

    # 2. set-up layers called directly
    from logstash_filter_jdbc_static_spark.operators.processor import LookupEnricher
    from logstash_filter_jdbc_static_spark.plans.refresh import DimensionStore
    from logstash_filter_jdbc_static_spark.sources.jdbc import make_fetcher
    from logstash_filter_jdbc_static_spark.spec import PipelineSpec

    cfg = pipeline_config("flagship", b.db_url)
    spec = PipelineSpec.from_json(cfg)
    for i in range(REPS):
        store = DimensionStore(b.spark, spec.db_objects,
                               [(ld, make_fetcher(b.spark, ld)) for ld in spec.loaders])
        with tr.span("refresh.initial_load", op=f"setup-{i}"):
            store.initial_load()
        dims, rows = store.dims_and_rows()
        with tr.span("lookup.compile", op=f"setup-{i}"):
            enricher = LookupEnricher(spec, dims, dim_rows=rows)
    for i in range(REPS):
        with tr.span("refresh.reload", op=f"reload-{i}"):
            store.refresh()
    rows_loaded = sum(store.row_counts.values())
    dims, rows = store.dims_and_rows()

    # 3. per-row layers by prefix materialization over the workload's input
    from logstash_filter_jdbc_static_spark.operators.aggregate import sink_counts
    from logstash_filter_jdbc_static_spark.operators.parse import GrokParser
    from logstash_filter_jdbc_static_spark.operators.route import with_route
    from logstash_filter_jdbc_static_spark.sources.registry import load_table

    parser = GrokParser(cfg["grok"], required=cfg["grok_required"])
    single = {
        lk.id: LookupEnricher(PipelineSpec.from_json({**cfg, "local_lookups": [
            x for x in cfg["local_lookups"] if x["id"] == lk.id]}), dims, dim_rows=rows)
        for lk in spec.lookups
    }
    src = load_table(b.spark, b.ds.root, "transcripts")
    n_turns = wl.params.n_turns
    ids = [lk.id for lk in spec.lookups]

    def stages(df):
        """Each prefix forces the columns of every stage before it too, so
        Catalyst cannot prune an earlier stage away."""
        parsed = parser.apply(df)
        enriched = enricher.apply(parsed, drop_status=False)
        routed = with_route(enriched)
        scan = [F.sum(F.length("text")), F.count("conv_id"), F.sum("turn_idx"),
                F.count("role"), F.count("tool"), F.max("ts")]
        parse = scan + [F.count("from_ip").alias("parsed")]
        enrich = parse + [
            *[F.sum(F.size(F.coalesce(F.col(i), F.array()))).alias(f"payload_{i}") for i in ids],
            *[F.sum(F.col(f"__{i}_ok").cast("int")).alias(f"ok_{i}") for i in ids],
            *[F.sum((F.col(f"__{i}_ok") & ~F.col(f"__{i}_default_used")).cast("int"))
              .alias(f"useful_{i}") for i in ids],
            F.sum(F.size("tags")), F.sum(F.col("matched").cast("int")),
        ]
        route = enrich + [F.sum((F.col("route") == "hit").cast("int")),
                          F.sum((F.col("route") == "miss").cast("int"))]
        return {
            "scan": lambda: df.agg(*scan).collect(),
            "parse": lambda: parsed.agg(*parse).collect(),
            "enrich": lambda: enriched.agg(*enrich).collect(),
            "route": lambda: routed.agg(*route).collect(),
            "aggregate": lambda: sink_counts(routed).collect(),
        }

    prefix: dict[str, list[float]] = {}
    outputs = {}
    for r in range(REPS):
        for name, force in stages(src).items():
            with tr.span(f"prefix.{name}", op=f"prefix-{r}") as sp:
                outputs[name] = force()
            prefix.setdefault(name, []).append(sp.end - sp.start)
        with tr.span("prefix.parse_only", op=f"prefix-{r}") as sp:
            parser.apply(src).agg(F.count("from_ip")).collect()
        prefix.setdefault("parse_only", []).append(sp.end - sp.start)
        for lid, enr in single.items():
            with tr.span(f"prefix.lookup.{lid}", op=f"prefix-{r}") as sp:
                enr.apply(parser.apply(src)).agg(
                    F.count("from_ip"),
                    F.sum(F.size(F.coalesce(F.col(lid), F.array())))).collect()
            prefix.setdefault(f"lookup.{lid}", []).append(sp.end - sp.start)
    med = {k: stats.median(v) for k, v in prefix.items()}
    row = outputs["enrich"][0]
    n_ok = sum(row[f"ok_{i}"] for i in ids)
    n_useful = sum(row[f"useful_{i}"] for i in ids)
    payload_rows = sum(row[f"payload_{i}"] for i in ids)
    malformed = n_turns - row["parsed"]

    # 4. parallel efficiency: local[1] against local[nproc] on a slice
    ctl = probe.host_control(b.spark)
    eff, one_s, many_s = parallel_efficiency(b, cfg)

    # 5. tallies
    units_ops = sum(len(res.samples) for res in results) or 1
    op_jobs = sum(res.spark_jobs for res in results)
    op_tasks = sum(res.spark_tasks for res in results)
    op_latency = [s for res in results for s, _ in res.samples]
    turns = sum(res.turns for res in results) or 1

    def span_median(name):
        return stats.median(tr.durations(name))

    def span_jobs(name):
        spans = [s for s in tr.spans if s.name == name]
        return sum(s.jobs for s in spans) / len(spans)

    metrics = {
        "session.start_s": (stats.median(b.session_times), "s"),
        "refresh.initial_load_s": (span_median("refresh.initial_load"), "s"),
        "refresh.reload_s": (span_median("refresh.reload"), "s"),
        "refresh.spark_jobs": (span_jobs("refresh.reload"), "count"),
        "refresh.rows_loaded": (rows_loaded, "count"),
        "lookup.compile_s": (span_median("lookup.compile"), "s"),
        "lookup.compile_spark_jobs": (span_jobs("lookup.compile"), "count"),
        "sources.scan_s": (med["scan"], "s"),
        "parse.s": (med["parse"] - med["scan"], "s"),
        "parse.malformed_ratio": (malformed / n_turns, "ratio"),
        "lookup.apply_s": (med["enrich"] - med["parse"], "s"),
        **{f"lookup.apply_s.{i}": (med[f"lookup.{i}"] - med["parse_only"], "s") for i in ids},
        "lookup.hit_ratio": (n_useful / n_ok if n_ok else 0.0, "ratio"),
        "lookup.payload_rows_per_turn": (payload_rows / n_turns, "count"),
        "route.s": (med["route"] - med["enrich"], "s"),
        "aggregate.s": (med["aggregate"] - med["route"], "s"),
        "op.s": (stats.median(op_latency) if op_latency else 0.0, "s"),
        "op.spark_jobs": (op_jobs / units_ops, "count"),
        "op.tasks": (op_tasks / units_ops, "count"),
        "sink.files_per_op": (sum(r.sink_files for r in results) / units_ops, "count"),
        "sink.bytes_per_turn": (sum(r.sink_bytes for r in results) / turns, "bytes"),
        "jvm.gc_s": (gc_s, "s"),
        "spark.parallel_efficiency": (eff, "ratio"),
        "host.ctl_s": (ctl, "s"),
        "trace.overhead_s": (traced_s - stats.median(untraced), "s"),
    }
    detail = {
        "untraced_unit_s": untraced,
        "traced_unit_s": traced_s,
        "parallel_legs_s": {"local[1]": one_s, "local[n]": many_s},
        **workload_extras(wl, results, med, progress, reloads),
        "errors": b.tally.errors,
    }
    os.makedirs(os.path.dirname(b.work), exist_ok=True)
    tr.write(os.path.join(os.path.dirname(b.work),
                          f"spans-{wl.name}-{b.args.seed}.jsonl"))
    return {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}, detail


def workload_extras(wl, results, med, progress, reloads) -> dict:
    """Per-layer metrics that only one workload has: the job's write
    share, the stream's phase times."""
    out = {}
    if wl.name == "job_write":
        res = results[0]
        run_s = res.samples[0][0]
        out["job.run_s"] = run_s
        out["job.write_share"] = 1.0 - med["aggregate"] / run_s
        out["job.files_written"] = res.sink_files
        out["job.sink_bytes"] = res.sink_bytes
        out["job.spark_jobs"] = res.spark_jobs
        out["job.tasks"] = res.spark_tasks
    if wl.name == "microbatch_reload":
        phases = {"trigger": ["triggerExecution"], "add_batch": ["addBatch"],
                  "planning": ["queryPlanning"], "source": ["getBatch", "latestOffset"],
                  "commit": ["walCommit", "commitOffsets"]}
        for name, keys in phases.items():
            vals = [sum(p.durationMs.get(k, 0) for k in keys) / 1000.0 for p in progress]
            out[f"stream.{name}_s"] = stats.median(vals) if vals else None
        n = sum(len(res.samples) for res in results) or 1
        out["stream.spark_jobs_per_batch"] = sum(res.spark_jobs for res in results) / n
        out["stream.tasks_per_batch"] = sum(res.spark_tasks for res in results) / n
        out["stream.sink_files_per_batch"] = sum(res.sink_files for res in results) / n
        out["refresh.reload_in_stream_s"] = reloads
    return out


def parallel_efficiency(b, cfg) -> tuple[float, float, float]:
    """Wall time of scan -> aggregate over the first half of the input
    files on ``local[nproc]`` and on ``local[1]``; efficiency is
    t(local[1]) / (nproc * t(local[nproc]))."""
    from logstash_filter_jdbc_static_spark.job import build_configured_pipeline
    from logstash_filter_jdbc_static_spark.operators.aggregate import sink_counts
    from logstash_filter_jdbc_static_spark.plans.pipeline import enrich_and_route
    from logstash_filter_jdbc_static_spark.session import get_spark
    files = b.ds.file_paths()
    files = files[: max(1, len(files) // 2)]

    def leg(spark) -> float:
        enricher, parser_, _ = build_configured_pipeline(spark, cfg)
        df = spark.read.parquet(*files)
        times = []
        for _ in range(3):
            t = time.perf_counter()
            sink_counts(enrich_and_route(df, enricher, parser_)).collect()
            times.append(time.perf_counter() - t)
        return stats.median(times[1:])

    many = leg(b.spark)
    b.stop_session()
    one_spark = get_spark(app_name="perfbench-local1", master="local[1]",
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        one = leg(one_spark)
    finally:
        one_spark.stop()
    b.start_session()
    return one / (len(os.sched_getaffinity(0)) * many), one, many
