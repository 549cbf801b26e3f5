"""Checkpoint / resume lineage (north_rule).

Generalizes A14's reload counter (single_load_runner.rb:13,23,33-35) to a
per-partition lineage table: each completed output partition gets a row
(partition, run_id, reload_count, n_rows, completed_at). ``job.run_job``
is its one writer: a run re-processes exactly the batches without a
``done`` row, in one idempotent dynamic-partition overwrite, and marks
them from a count of the written sinks over the partition column alone
(``n_rows`` 0 for a batch that received no row) — re-running a partition
replaces its files instead of duplicating them.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field


@dataclass
class LineageLog:
    """Tiny JSON-lines lineage/metrics table (swap for an Iceberg table in
    production; the write pattern — append small immutable records keyed
    by (run_id, partition) — is identical)."""

    path: str
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])

    def completed_partitions(self) -> set[str]:
        done: set[str] = set()
        if os.path.exists(self.path):
            with open(self.path) as fh:
                for line in fh:
                    rec = json.loads(line)
                    if rec.get("status") == "done":
                        done.add(rec["partition"])
        return done

    def mark_done(self, partition: str, n_rows: int, reload_count: int = 0,
                  metrics: dict | None = None) -> None:
        rec = {
            "partition": partition,
            "run_id": self.run_id,
            "status": "done",
            "n_rows": n_rows,
            "reload_count": reload_count,
            "completed_at": time.time(),
        }
        if metrics:
            rec["metrics"] = metrics
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with open(self.path, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
