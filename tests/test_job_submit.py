"""The spark-submit --py-files contract (north_rule: "runs via
spark-submit --py-files on N and 4N executors").

One real ``spark-submit`` subprocess proves the packaging path (zip on
--py-files, no repo on PYTHONPATH); resume semantics are then asserted
in-process against the same lineage file — the resume contract lives
entirely in the on-disk lineage + idempotent overwrite, so it is
process-agnostic.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import pytest
from pyspark.sql import functions as F

from logstash_filter_jdbc_static_spark.job import run_job

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


def _build_pkg_zip(dest: str) -> str:
    from logstash_filter_jdbc_static_spark.job import build_py_files_zip

    return build_py_files_zip(dest)


@pytest.fixture(scope="module")
def job_out(tmp_path_factory):
    """Run the job once via a genuine spark-submit; yield its output dir."""
    if not os.path.exists(SPARK_SUBMIT):
        pytest.skip("spark-submit not available")
    work = tmp_path_factory.mktemp("submit")
    zip_path = _build_pkg_zip(str(work))
    out_dir = str(work / "out")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            os.path.join(REPO, "logstash_filter_jdbc_static_spark", "job.py"),
            "--input", "/root/testdata/sf0.001",
            "--output", out_dir,
            "--batches", "3",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        # cwd outside the repo: the package must come from the zip.
        cwd=str(work),
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    summary = json.loads(
        [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    )
    return out_dir, summary


class TestSparkSubmit:
    def test_summary_and_sinks(self, job_out, spark):
        out_dir, summary = job_out
        assert summary["batches_processed"] == 3
        assert summary["rows_routed"] == 1000
        # Controlled routing fractions from sources/transcripts.py.
        assert summary["route_totals"] == {"hit": 650, "miss": 300, "malformed": 50}
        routed = spark.read.parquet(os.path.join(out_dir, "routed"))
        assert routed.count() == 1000
        # Fan-out layout: route is a physical partition under each batch.
        assert sorted(
            r["route"] for r in routed.select("route").distinct().collect()
        ) == ["hit", "malformed", "miss"]
        counts = spark.read.parquet(os.path.join(out_dir, "sink_counts"))
        assert counts.agg(F.sum("n_turns")).collect()[0][0] == 1000

    def test_routed_rows_match_inprocess_run(self, job_out, spark, sf_dir):
        """Cross-process equality: spark-submit output == in-process plan."""
        out_dir, _ = job_out
        from logstash_filter_jdbc_static_spark.plans.pipeline import (
            build_enricher,
            enrich_and_route,
            routed_projection,
        )
        from logstash_filter_jdbc_static_spark.sources.transcripts import (
            load_transcripts,
        )

        expected = routed_projection(
            enrich_and_route(load_transcripts(spark, sf_dir), build_enricher(spark))
        )
        actual = spark.read.parquet(os.path.join(out_dir, "routed")).drop("batch")
        assert actual.select(*expected.columns).exceptAll(expected).count() == 0
        assert expected.exceptAll(actual.select(*expected.columns)).count() == 0

    def test_resume_skips_completed_batches(self, job_out, spark):
        out_dir, first = job_out
        summary = run_job(
            spark, "/root/testdata/sf0.001", out_dir, batches=3
        )
        assert summary["batches_processed"] == 0
        assert summary["batches_skipped"] == 3
        assert summary["rows_routed"] == first["rows_routed"]

    def test_crash_resume_reprocesses_only_missing(self, job_out, spark):
        out_dir, _ = job_out
        lineage = os.path.join(out_dir, "_lineage.jsonl")
        with open(lineage) as fh:
            lines = fh.read().splitlines()
        done = [l for l in lines if json.loads(l).get("status") == "done"]
        assert len(done) == 3
        # Simulate a crash after 2 of 3 batches were logged.
        with open(lineage, "w") as fh:
            fh.write("\n".join(done[:2]) + "\n")
        summary = run_job(spark, "/root/testdata/sf0.001", out_dir, batches=3)
        assert summary["batches_processed"] == 1
        # Idempotent overwrite: totals unchanged after the partial re-run.
        assert summary["rows_routed"] == 1000
        assert summary["route_totals"] == {"hit": 650, "miss": 300, "malformed": 50}

    def test_resume_with_different_batches_refuses(self, job_out, spark):
        out_dir, _ = job_out
        with pytest.raises(SystemExit, match="batches"):
            run_job(spark, "/root/testdata/sf0.001", out_dir, batches=5)

    def test_resume_with_missing_config_refuses(self, job_out, spark):
        """Lineage present but _job_config.json gone: the original batch
        count is unknowable, so a resume could mix two hash-bucketings
        in one output — refuse rather than guess."""
        out_dir, _ = job_out
        os.remove(os.path.join(out_dir, "_job_config.json"))
        with pytest.raises(SystemExit, match="_job_config.json is missing"):
            run_job(spark, "/root/testdata/sf0.001", out_dir, batches=3)


def _parquet_files(routed: str, batch: int) -> dict[str, int]:
    """relative path -> mtime (ns) of every data file of one batch."""
    base = os.path.join(routed, f"batch={batch}")
    return {
        os.path.relpath(os.path.join(d, f), routed): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, names in os.walk(base)
        for f in names
        if f.endswith(".parquet")
    }


def _write_ids(files) -> set[str]:
    """Write-job UUIDs embedded in Spark's part-<task>-<uuid> file names."""
    return {re.search(r"part-\d+-([0-9a-f-]{36})", f).group(1) for f in files}


class TestMultiBatchResume:
    def test_missing_batches_rewritten_in_one_pass(self, spark, sf_dir, tmp_path):
        """Two of three batches lost from the lineage: one resume re-runs
        both in a single write, leaves the completed batch's files alone
        and logs exactly what it put on disk."""
        out_dir = str(tmp_path / "out")
        run_job(spark, sf_dir, out_dir, batches=3)
        routed = os.path.join(out_dir, "routed")
        lineage = os.path.join(out_dir, "_lineage.jsonl")
        with open(lineage) as fh:
            done = fh.read().splitlines()
        assert [json.loads(l)["partition"] for l in done] == [
            "batch=0", "batch=1", "batch=2"
        ]
        kept = _parquet_files(routed, 0)
        assert kept
        with open(lineage, "w") as fh:
            fh.write(done[0] + "\n")

        summary = run_job(spark, sf_dir, out_dir, batches=3)
        assert summary["batches_processed"] == 2
        assert summary["batches_skipped"] == 1
        # The completed batch was not rewritten.
        assert _parquet_files(routed, 0) == kept
        # Both missing batches came from ONE write job.
        rerun_ids = _write_ids(
            list(_parquet_files(routed, 1)) + list(_parquet_files(routed, 2))
        )
        assert len(rerun_ids) == 1
        assert rerun_ids.isdisjoint(_write_ids(kept))
        # Lineage n_rows of each re-run batch == its on-disk count.
        on_disk = {
            r["batch"]: r["count"]
            for r in spark.read.parquet(routed).groupBy("batch").count().collect()
        }
        with open(lineage) as fh:
            recs = [json.loads(l) for l in fh.read().splitlines()]
        rerun = {
            r["partition"]: r["n_rows"] for r in recs
            if r["run_id"] == summary["run_id"]
        }
        assert rerun == {"batch=1": on_disk[1], "batch=2": on_disk[2]}
        # No duplicate rows after the resume.
        assert summary["rows_routed"] == 1000
        assert summary["route_totals"] == {"hit": 650, "miss": 300, "malformed": 50}
        out = spark.read.parquet(routed)
        assert out.count() == out.select("conv_id", "turn_idx").distinct().count() == 1000


def _lineage_rows(out_dir: str) -> dict[str, int]:
    with open(os.path.join(out_dir, "_lineage.jsonl")) as fh:
        return {
            rec["partition"]: rec["n_rows"]
            for rec in map(json.loads, fh.read().splitlines())
        }


class TestStatsPass:
    # Spark jobs one run_job on sf0.001 with batches=3 starts: 11 with
    # the sinks counted in one aggregate (14 with the persisted stats
    # frame it replaced).
    MAX_JOBS = 11

    def test_job_count(self, spark, sf_dir, tmp_path):
        """The stats step adds no persisted frame and no extra pass: the
        whole run stays within its measured Spark job count."""
        job_py = os.path.join(
            REPO, "logstash_filter_jdbc_static_spark", "job.py"
        )
        with open(job_py) as fh:
            assert ".persist(" not in fh.read()
        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup(None))
        summary = run_job(spark, sf_dir, str(tmp_path / "out"), batches=3)
        started = set(tracker.getJobIdsForGroup(None)) - before
        assert summary["rows_routed"] == 1000
        assert len(started) <= self.MAX_JOBS, sorted(started)

    def test_empty_input(self, spark, tmp_path):
        """A zero-row input writes no data file; the read-back still
        resolves (it takes the written frame's schema), every batch is
        logged with 0 rows and sink_counts is an empty table."""
        from logstash_filter_jdbc_static_spark.schema import TRANSCRIPT_SCHEMA

        src = str(tmp_path / "src")
        spark.createDataFrame([], TRANSCRIPT_SCHEMA).write.parquet(src)
        out_dir = str(tmp_path / "out")
        summary = run_job(spark, src, out_dir, batches=3)
        assert summary["rows_routed"] == 0
        assert summary["route_totals"] == {}
        assert _lineage_rows(out_dir) == {"batch=0": 0, "batch=1": 0, "batch=2": 0}
        assert spark.read.parquet(os.path.join(out_dir, "sink_counts")).count() == 0

    def test_pending_batches_without_rows(self, spark, tmp_path):
        """Two conversations over eight batches: most pending batches get
        no row, so the partition-column count returns nothing for them;
        each is still logged, with its on-disk count (0 for the empty)."""
        out_dir = str(tmp_path / "out")
        summary = run_job(spark, "synth:400", out_dir, batches=8)
        routed = spark.read.parquet(os.path.join(out_dir, "routed"))
        on_disk = {
            r["batch"]: r["count"]
            for r in routed.groupBy("batch").count().collect()
        }
        assert 0 < len(on_disk) < 8
        assert _lineage_rows(out_dir) == {
            f"batch={b}": on_disk.get(b, 0) for b in range(8)
        }
        assert summary["rows_routed"] == sum(on_disk.values()) == 400
