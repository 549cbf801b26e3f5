"""Dimension load/refresh runners.

Reference machinery being reproduced:
- A1/A2 loader fetch with COUNT pre-check: empty set when 0 rows or
  > max_rows (loader.rb:21-35, read_only_database.rb:7-25).
- A3 local table build honoring preserve_existing (db_object.rb:12-26,
  single_load_runner.rb:39-43).
- A14 SingleLoadRunner.initial_load / RepeatingLoadRunner.repeated_load
  with a reload counter (single_load_runner.rb:20-43,
  repeating_load_runner.rb:8-12).
- A16 atomic snapshot swap: lookups see old or new dimension, never a
  partial load (read_write_database.rb:22-28, 37-54) — free here because
  DataFrames are immutable; the swap is one dict assignment.

The cron scheduler itself (A15, loader_schedule.rb) is a thin wall-clock
wrapper; refresh() is invoked directly between batch runs (or from
foreachBatch in streaming), as SURVEY §7.5 prescribes.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from logstash_filter_jdbc_static_spark.spec import LoaderSpec, LocalDbObject

logger = logging.getLogger("logstash_filter_jdbc_static_spark")


def fetch_with_guard(
    fetch: Callable[[], DataFrame], loader: LoaderSpec, spark: SparkSession
) -> tuple[DataFrame, int]:
    """Loader fetch + row-count guard (loader.rb:23-31): returns
    ``(frame, rows)`` — an EMPTY frame with the fetched schema and 0 when
    the source has 0 rows or more than max_rows, otherwise the fetched
    rows PINNED as a snapshot and their count (the ``rows_loaded``
    bookkeeping in ``DimensionStore.row_counts``).

    One remote query total: the bounded fetch (limit(max_rows+1)) is
    materialized JVM-side via ``localCheckpoint(eager=True)`` — a lazy
    frame over a remote source would re-run the remote query on every
    downstream action (defeating the local-cache premise,
    docs/index.asciidoc:40-45, and drifting mid-swap against
    read_write_database.rb:22-28) — and the guard count then runs on the
    pinned copy, so guard and snapshot can't race a concurrent remote
    write. On a multi-executor cluster with dynamic allocation, swap
    localCheckpoint for a reliable ``spark.checkpoint`` dir; the
    semantics here are identical."""
    pinned = fetch().limit(loader.max_rows + 1).localCheckpoint(eager=True)
    n = pinned.count()
    if n == 0 or n > loader.max_rows:
        return spark.createDataFrame([], pinned.schema), 0
    return pinned, n


class DimensionStore:
    """Holds the current dimension snapshots + reload bookkeeping.

    ``loaders``: LoaderSpec -> fetch function (the remote query seam; in
    production a ``spark.read.format("jdbc").option("query", ...)``, in
    tests a deterministic synthesizer).
    """

    def __init__(
        self,
        spark: SparkSession,
        db_objects: list[LocalDbObject],
        loaders: list[tuple[LoaderSpec, Callable[[], DataFrame]]],
    ):
        self.spark = spark
        self.db_objects = {o.name: o for o in db_objects}
        self.loaders = loaders
        # One attribute holds (snapshots, row_counts); readers take BOTH
        # from a single GIL-atomic read via dims_and_rows(), so a
        # background refresh can never pair a new snapshot with a stale
        # count. Writers build new dicts and swap once.
        self._state: tuple[dict[str, DataFrame], dict[str, int]] = ({}, {})
        self.reload_count = 0
        self.last_load_ts: float | None = None
        self.last_errors: dict[str, str] = {}

    # SingleLoadRunner#initial_load (single_load_runner.rb:20-24).
    # Connection failures here RAISE: the reference verifies the remote
    # connection eagerly at register (loader.rb:17-19,
    # basic_database.rb:85-115) — a pipeline that never loaded has no old
    # snapshot to fall back on.
    def initial_load(self) -> None:
        self._build_db_objects(preserving=True)
        self._populate_all(strict=True)
        self.reload_count += 1
        self.last_load_ts = time.time()

    # RepeatingLoadRunner#repeated_load (repeating_load_runner.rb:8-12).
    # Connection failures on RELOAD are swallowed and the previous
    # snapshot keeps serving ("hope it works next time",
    # read_write_database.rb:88-90); the error is kept for observability.
    def refresh(self) -> None:
        self._populate_all(strict=False)
        self.reload_count += 1
        self.last_load_ts = time.time()

    @property
    def snapshots(self) -> dict[str, DataFrame]:
        return self._state[0]

    @property
    def row_counts(self) -> dict[str, int]:
        return self._state[1]

    def _build_db_objects(self, preserving: bool) -> None:
        """Empty frames with declared schema for tables no loader fills
        (db_object.rb:12-26); preserve_existing keeps a prior snapshot."""
        snaps, counts = dict(self._state[0]), dict(self._state[1])
        for name, obj in self.db_objects.items():
            if not obj.index_columns:
                # verbatim advisory from the reference's local-db build
                # (read_write_database.rb:41-43); in this engine the
                # "index" is the broadcast-join key declaration that
                # lookup compilation verifies (processor.py).
                logger.warning(
                    "local_db_object '%s': `index_columns` is optional but "
                    "on larger datasets consider adding an index on the "
                    "lookup column, it will improve performance", name,
                )
            if obj.preserve_existing and name in snaps:
                continue
            assert obj.schema is not None
            snaps[name] = self.spark.createDataFrame([], obj.schema)
            counts[name] = 0
        self._state = (snaps, counts)

    def _populate_all(self, strict: bool = True) -> None:
        """Fetch every loader then swap all snapshots at once — the
        write-lock equivalent (read_write_database.rb:64-100): readers
        holding the previous dict values keep a consistent old snapshot.

        ``strict=False`` (reload path): a loader whose fetch OR snapshot
        materialization fails is skipped — its previous snapshot stays
        live — instead of failing the whole refresh ("hope it works next
        time", read_write_database.rb:88-90). The remote can die either
        at connect (wrapped ConnectionError_) or mid-materialize (raw
        JVM error from the checkpoint action), so the reload path
        swallows both."""
        staged: dict[str, DataFrame] = {}
        staged_counts: dict[str, int] = {}
        self.last_errors: dict[str, str] = {}
        for loader, fetch in self.loaders:
            try:
                df, n = fetch_with_guard(fetch, loader, self.spark)
            except Exception as e:
                if strict:
                    raise
                self.last_errors[loader.table] = str(e)
                continue
            obj = self.db_objects.get(loader.table)
            if obj is not None and obj.schema is not None:
                # loader column order must match declared schema
                # (docs/index.asciidoc:265-275): align by position.
                df = df.toDF(*[f.name for f in obj.schema.fields])
            # df is already PINNED by fetch_with_guard (JVM-side
            # localCheckpoint — no driver round-trip, bounded by
            # max_rows, loader.rb:65-74), so the staged swap hands out
            # immutable old-or-new snapshots (read_write_database.rb:22-28).
            staged[loader.table] = df
            staged_counts[loader.table] = n
        self._state = (
            {**self._state[0], **staged},
            {**self._state[1], **staged_counts},
        )

    def dims_and_rows(self) -> tuple[dict[str, DataFrame], dict[str, int]]:
        """(snapshots, guard row counts) from ONE atomic state read, so
        the counts always describe the same snapshots."""
        snaps, counts = self._state
        return dict(snaps), dict(counts)

    def dims(self) -> dict[str, DataFrame]:
        return self.dims_and_rows()[0]
