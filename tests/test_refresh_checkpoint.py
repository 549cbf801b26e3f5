"""Reload semantics (≅ jdbc_static_spec.rb:141-158, invoked directly per
SURVEY §7.5) + max_rows guard + reload error handling. Checkpoint/resume
lineage is tested through the job itself in test_job_submit.py."""

from __future__ import annotations

from logstash_filter_jdbc_static_spark.operators.processor import LookupEnricher
from logstash_filter_jdbc_static_spark.plans.refresh import DimensionStore
from logstash_filter_jdbc_static_spark.sources.transcripts import SERVERS_SCHEMA
from logstash_filter_jdbc_static_spark.spec import (
    LoaderSpec,
    LocalDbObject,
    PipelineSpec,
)


def _lookup_name(spark, store, ip):
    spec = PipelineSpec(
        lookups=[
            {
                "id": "server",
                "query": "SELECT name FROM servers WHERE ip = :ip",
                "parameters": {"ip": "ip"},
            }
        ]
    )
    enricher = LookupEnricher(spec, store.dims())
    fact = spark.createDataFrame([("c1", 1, ip)], "conv_id string, turn_idx int, ip string")
    row = enricher.apply(fact).collect()[0]
    return [r["name"] for r in row["server"]]


DB_OBJECTS = [
    LocalDbObject(
        {
            "name": "servers",
            "columns": [["ip", "varchar(64)"], ["name", "varchar(64)"], ["location", "varchar(64)"]],
            "index_columns": ["ip"],
        }
    )
]


class TestReload:
    def test_reload_swaps_snapshot_and_counts(self, spark):
        versions = [
            [("10.1.1.1", "old-name", "L1")],
            [("10.1.1.1", "new-name", "L1")],
        ]
        state = {"i": 0}

        def fetch():
            return spark.createDataFrame(versions[state["i"]], SERVERS_SCHEMA)

        loader = LoaderSpec({"local_table": "servers", "query": "select * from remote"})
        store = DimensionStore(spark, DB_OBJECTS, [(loader, fetch)])
        store.initial_load()
        assert store.reload_count == 1
        assert _lookup_name(spark, store, "10.1.1.1") == ["old-name"]

        state["i"] = 1
        old_dims = store.dims()  # a reader holding the old snapshot
        store.refresh()
        assert store.reload_count == 2
        assert _lookup_name(spark, store, "10.1.1.1") == ["new-name"]
        # old snapshot still consistent (atomic swap, read_write_database.rb:22-28)
        assert old_dims["servers"].collect()[0]["name"] == "old-name"

    def test_max_rows_guard_returns_empty(self, spark):
        # loader.rb:23-31: count > max_rows => empty set
        def fetch():
            return spark.createDataFrame(
                [(f"10.0.0.{i}", f"n{i}", "L") for i in range(10)], SERVERS_SCHEMA
            )

        loader = LoaderSpec(
            {"local_table": "servers", "query": "q", "max_rows": 5}
        )
        store = DimensionStore(spark, DB_OBJECTS, [(loader, fetch)])
        store.initial_load()
        assert store.dims()["servers"].count() == 0

    def test_preserve_existing(self, spark):
        obj = LocalDbObject(
            {
                "name": "keepme",
                "columns": [["k", "varchar(8)"]],
                "preserve_existing": True,
            }
        )
        store = DimensionStore(spark, [obj], [])
        store.snapshots["keepme"] = spark.createDataFrame([("x",)], obj.schema)
        store.initial_load()
        assert store.dims()["keepme"].count() == 1  # not clobbered


class TestReloadErrorSwallow:
    """A17 reload semantics: connection errors at initial load are fatal
    (eager verification, loader.rb:17-19); the SAME error during a
    scheduled reload is swallowed and the previous snapshot keeps
    serving ("hope it works next time", read_write_database.rb:88-90)."""

    def _store(self, spark, state):
        from logstash_filter_jdbc_static_spark.sources.jdbc import ConnectionError_

        def fetch():
            if state["fail"]:
                raise ConnectionError_("remote is down")
            return spark.createDataFrame(
                [("10.1.1.1", "srv", "L1")], SERVERS_SCHEMA
            )

        loader = LoaderSpec({"local_table": "servers", "query": "select 1"})
        return DimensionStore(spark, [], [(loader, fetch)])

    def test_initial_load_raises(self, spark):
        import pytest as _pytest

        from logstash_filter_jdbc_static_spark.sources.jdbc import ConnectionError_

        store = self._store(spark, {"fail": True})
        with _pytest.raises(ConnectionError_):
            store.initial_load()

    def test_reload_keeps_old_snapshot(self, spark):
        state = {"fail": False}
        store = self._store(spark, state)
        store.initial_load()
        assert store.dims()["servers"].count() == 1
        state["fail"] = True
        store.refresh()  # must NOT raise
        assert store.reload_count == 2
        assert store.dims()["servers"].count() == 1  # old snapshot lives
        assert "servers" in store.last_errors
        state["fail"] = False
        store.refresh()
        assert store.last_errors == {}
