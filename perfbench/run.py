"""Benchmark of the enrichment engine.

    python3 perfbench/run.py --workload job_write --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates (or reuses) the seeded inputs,
starts the program's Spark session on ``local[nproc]``, sets the program
up several times, warms up, then runs the workload's operations in a
closed loop for ``--seconds`` seconds and checks every output. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it is a
detail record with sample counts, percentiles and the diagnostics that
are not gated.

Everything the run writes (inputs, Derby database, sinks, checkpoints,
Spark scratch space, spans) goes under ``.perfbench_work/`` in the
current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SETUPS = 3  # set-ups per run; setup_s is their median
PACKAGE = "logstash_filter_jdbc_static_spark"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    """Per-run state shared by the runner and the workload."""

    def __init__(self, args, work: str):
        import stats
        from probe import Tracer

        self.args = args
        self.work = work
        self.spark = None
        self.ds = None
        self.db_url = None
        self.tracer = Tracer()
        self.tally = stats.Tally()
        self.progress_log = []  # streaming progress records of every drain
        self.reload_log = []  # in-stream reload + recompile times
        self.session_times = []
        self.warm_failed: list[str] = []
        self.peak_rss_mb = 0.0

    def start_session(self) -> float:
        """The program's session factory; returns its wall time."""
        from logstash_filter_jdbc_static_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{nproc()}]",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        dt = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.spark = self.spark
        return dt

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def prepare_env(work: str) -> None:
    """Keep Spark's and the JVM's scratch files inside the work dir."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    opt = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + opt).strip()


def run_unit(b, wl, timed: bool):
    """One closed-loop unit: time ``wl.op``, then run its checks."""
    t = time.perf_counter()
    try:
        with b.tracer.span("op") as span:
            res = wl.op(b, warm=not timed)
    except Exception as e:  # noqa: BLE001 - a raising operation is a failed one
        wall = time.perf_counter() - t
        traceback.print_exc(file=sys.stderr)
        why = f"raised {type(e).__name__}: {e}"[:300]
        if timed:
            for _ in range(getattr(wl, "ops_per_unit", 1)):
                b.tally.record(False, why)
        else:
            b.warm_failed.append(why)
        return None, wall
    wall = time.perf_counter() - t
    if span is not None:
        res.spark_jobs += span.jobs
        res.spark_tasks += span.tasks
    if not res.samples:
        res.samples = [(wall, False)]
    try:
        verdicts = res.check()
    except Exception as e:  # noqa: BLE001 - a check that cannot run fails
        traceback.print_exc(file=sys.stderr)
        verdicts = [(False, f"check raised {type(e).__name__}: {e}"[:300])] * len(res.samples)
    if timed:
        for ok, why in verdicts:
            b.tally.record(ok, why)
    else:
        b.warm_failed.extend(why for ok, why in verdicts if not ok)
    return res, wall


def measure(b, wl, seconds: float):
    """Closed loop for ``seconds`` of operation wall time. The peak RSS is
    read after the first timed unit: a fixed amount of work, so it does
    not depend on how many units fit in the window."""
    import probe

    results, walls = [], []
    spent = 0.0
    while spent < seconds:
        res, wall = run_unit(b, wl, timed=True)
        if not walls:
            b.peak_rss_mb = probe.peak_rss_mb()
        spent += wall
        walls.append(wall)
        if res is not None:
            results.append(res)
    return results, walls


def end_to_end(b, setups, results, walls) -> tuple[dict, dict]:
    import probe
    import stats

    turns = sum(r.turns for r in results)
    steady = [s for r in results for s, reload in r.samples if not reload]
    reload = [s for r in results for s, rel in r.samples if rel]
    metrics = {
        "turns_per_s": {"value": turns / sum(walls) if turns else 0.0, "unit": "1/s"},
        "batch_latency_p50_s": {"value": stats.median(steady) if steady else 0.0, "unit": "s"},
        "setup_s": {"value": stats.median(setups), "unit": "s"},
        "peak_rss_mb": {"value": b.peak_rss_mb, "unit": "MB"},
    }
    detail = {
        "error_rate": b.tally.error_rate,
        "batch_latency_s": stats.timing_summary(steady) if steady else None,
        "reload_batch_latency_s": stats.timing_summary(reload) if reload else None,
        "setup_s_samples": [round(s, 4) for s in setups],
        "units": len(walls),
        "turns": turns,
        "sink_bytes_per_turn": (sum(r.sink_bytes for r in results) / turns) if turns else None,
        "host.ctl_s": probe.host_control(b.spark),
        "errors": b.tally.errors,
    }
    return metrics, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"no {PACKAGE}/ package in {root}: run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    import derby
    import gen

    work = os.path.join(root, ".perfbench_work")
    prepare_env(work)
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    wl = workloads.WORKLOADS[args.workload]()
    b = Bench(args, run_dir)
    phases = {}
    clock = time.perf_counter()

    def phase(name):
        nonlocal clock
        now = time.perf_counter()
        phases[name] = round(now - clock, 3)
        clock = now

    b.ds = gen.cached(os.path.join(work, "data"), args.seed, wl.params)
    phase("inputs_s")

    setups = []
    try:
        for i in range(SETUPS):
            if i:
                b.stop_session()
            t_session = b.start_session()
            b.session_times.append(t_session)
            if i == 0:
                derby.configure(b.spark, os.path.join(work, "derby.log"))
                b.db_url = derby.seed(b.spark, b.ds)
            t = time.perf_counter()
            wl.setup(b)
            setups.append(t_session + time.perf_counter() - t)

        phase("setups_s")
        for _ in range(wl.warmups):
            run_unit(b, wl, timed=False)
        phase("warmup_s")

        if args.trace:
            import tracing

            metrics, detail = tracing.traced_run(b, wl, run_unit)
        else:
            results, walls = measure(b, wl, args.seconds)
            metrics, detail = end_to_end(b, setups, results, walls)
        phase("measure_s")
        detail["phases"] = phases
        if b.warm_failed:
            detail["warmup_errors"] = b.warm_failed
        declared = declared_metrics(root, "per_layer" if args.trace else "end_to_end")
        if declared is not None and declared != set(metrics):
            raise RuntimeError(f"metrics {sorted(set(metrics) ^ declared)} differ from BENCHMARK.json")
        correct = b.tally.correct and not b.warm_failed
        print(json.dumps({"workload": args.workload, "seed": args.seed, **detail}))
        print(json.dumps({
            "correct": correct,
            "attempted": b.tally.attempted,
            "failed": b.tally.failed,
            "metrics": metrics,
        }))
    finally:
        if b.spark is not None:
            derby.shutdown(b.spark)
        shutdown_jvm(b)
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


def declared_metrics(root: str, kind: str) -> set[str] | None:
    """Metric names BENCHMARK.json declares for ``kind``, if it is there."""
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return {m["name"] for m in json.load(fh)[kind]}


def shutdown_jvm(b) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    b.stop_session()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
