"""A1/A17 against a REAL embedded Apache Derby database — the exact
engine the reference embeds (basic_database.rb:9-10: EmbeddedDriver,
``jdbc:derby:memory:...;create=true``). The Derby jars ship in
/opt/spark/jars, so the genuine ``spark.read.format("jdbc")`` loader
path is exercised end-to-end: seed Derby via Spark's JDBC writer, fetch
with a loader SELECT, guard with max_rows, broadcast-join the snapshot,
and reload after the remote table changes (rspec parity:
spec/filters/jdbc_static_spec.rb:59-125, 141-158).

Unique in-memory db name per session mirrors read_write_database.rb:56-60.
"""

from __future__ import annotations

import os
import sys
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest
from pyspark.sql import functions as F

from logstash_filter_jdbc_static_spark.operators.processor import LookupEnricher
from logstash_filter_jdbc_static_spark.plans.refresh import (
    DimensionStore,
    fetch_with_guard,
)
from logstash_filter_jdbc_static_spark.sources.jdbc import jdbc_fetch, make_fetcher
from logstash_filter_jdbc_static_spark.sources.transcripts import (
    SERVERS_ROWS,
    SERVERS_SCHEMA,
)
from logstash_filter_jdbc_static_spark.spec import LoaderSpec, PipelineSpec

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
DB_NAME = f"refdb_{uuid.uuid4().hex[:8]}"
URL = f"jdbc:derby:memory:{DB_NAME};create=true"


def _loader(query: str, table: str = "servers", **kw) -> LoaderSpec:
    spec = LoaderSpec(
        {
            "id": table,
            "local_table": table,
            "query": query,
            "jdbc_driver_class": DRIVER,
            "jdbc_connection_string": URL,
            **kw,
        }
    )
    assert not spec.option_errors, spec.option_errors
    return spec


@pytest.fixture(scope="module")
def derby_servers(spark):
    """Seed the canonical 3-row servers table (rspec fixture, embedded
    quote included) into in-memory Derby through Spark's JDBC writer."""
    (
        spark.createDataFrame(SERVERS_ROWS, SERVERS_SCHEMA)
        .write.format("jdbc")
        .option("url", URL)
        .option("driver", DRIVER)
        .option("dbtable", "servers")
        # VARCHAR, not Derby's default CLOB: the reference declares
        # varchar columns (spec/filters/jdbc_static_spec.rb:28) and CLOB
        # would reject WHERE comparisons.
        .option(
            "createTableColumnTypes",
            "ip VARCHAR(64), name VARCHAR(64), location VARCHAR(64)",
        )
        .mode("overwrite")
        .save()
    )
    return URL


class TestDerbyLoader:
    def test_fetch_returns_canonical_rows(self, spark, derby_servers):
        df = jdbc_fetch(
            spark, _loader('SELECT "ip", "name", "location" FROM servers ORDER BY "ip"')
        )
        rows = [(r.ip, r.name, r.location) for r in df.collect()]
        assert rows == sorted(SERVERS_ROWS)
        # The embedded quote survived the real JDBC round-trip
        # (rspec asserts mv-serv'r-1, jdbc_static_spec.rb:94).
        assert rows[2][1] == "mv-serv'r-1"

    def test_projection_alias_pushed_to_remote(self, spark, derby_servers):
        """Loader queries use SQL aliases so remote columns match the
        local schema (docs/index.asciidoc:455-458) — executed by the
        remote engine, not rewritten by us."""
        df = jdbc_fetch(
            spark, _loader('SELECT "ip", "name" AS "server_name" FROM servers')
        )
        assert df.columns == ["ip", "server_name"]

    def test_max_rows_guard_on_real_source(self, spark, derby_servers):
        loader = _loader('SELECT "ip", "name", "location" FROM servers', max_rows=2)
        guarded, n = fetch_with_guard(make_fetcher(spark, loader), loader, spark)
        assert n == 0
        assert guarded.count() == 0
        assert guarded.columns == ["ip", "name", "location"]

    def test_enrichment_through_real_derby_dim(self, spark, derby_servers):
        """The canonical hit case end-to-end with the dim actually loaded
        from Derby over JDBC (rspec jdbc_static_spec.rb:90-96)."""
        loader = _loader('SELECT "ip", "name", "location" FROM servers')
        store = DimensionStore(spark, [], [(loader, make_fetcher(spark, loader))])
        store.initial_load()
        assert store.reload_count == 1
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "server",
                    "query": "SELECT * FROM servers WHERE ip = :ip",
                    "parameters": {"ip": "from_ip"},
                }
            ]
        )
        fact = spark.createDataFrame(
            [("e1", "10.3.1.1"), ("e2", "10.9.9.9")], ["event", "from_ip"]
        )
        out = LookupEnricher(spec, store.dims()).apply(fact).orderBy("event")
        hit, miss = out.collect()
        assert [r.asDict() for r in hit.server] == [
            {"ip": "10.3.1.1", "name": "mv-serv'r-1", "location": "MV-9-6-4"}
        ]
        assert list(miss.server) == []  # valid-but-empty => [] (rspec :98-105)

    def test_reload_sees_remote_changes(self, spark, derby_servers):
        """Scheduled-reload semantics (rspec :141-158): a row added to the
        remote table is visible after refresh(), not before."""
        loader = _loader('SELECT "ip", "name", "location" FROM servers')
        store = DimensionStore(spark, [], [(loader, make_fetcher(spark, loader))])
        store.initial_load()
        before = store.dims()["servers"]
        spark.createDataFrame(
            [("10.7.1.1", "sfo-server-1", "SFO-1-1-1")], SERVERS_SCHEMA
        ).write.format("jdbc").option("url", URL).option("driver", DRIVER).option(
            "dbtable", "servers"
        ).mode("append").save()
        assert before.filter(F.col("ip") == "10.7.1.1").count() == 0
        store.refresh()
        assert store.reload_count == 2
        assert store.dims()["servers"].filter(F.col("ip") == "10.7.1.1").count() == 1
        # The pre-reload snapshot is PINNED (old-or-new, never drifting:
        # read_write_database.rb:22-28): it still answers from the old
        # state even though Derby has already changed underneath it.
        assert before.filter(F.col("ip") == "10.7.1.1").count() == 0
        assert before.count() == 3


class TestDerbyLargeRecordset:
    def test_65536_row_dim_last_row_lookup(self, spark):
        """rspec 'large recordset' case (jdbc_static_spec.rb:107-125):
        256x256 = 65,536 rows loaded through real JDBC, exact-match
        lookup of the last row."""
        url = f"jdbc:derby:memory:big_{uuid.uuid4().hex[:8]};create=true"
        big = spark.range(0, 65536).select(
            F.concat(
                F.lit("192.168."),
                (F.col("id") / 256).cast("int").cast("string"),
                F.lit("."),
                (F.col("id") % 256).cast("string"),
            ).alias("ip"),
            F.concat(F.lit("server-"), F.col("id").cast("string")).alias("name"),
        )
        (
            big.coalesce(1)
            .write.format("jdbc")
            .option("url", url)
            .option("driver", DRIVER)
            .option("dbtable", "big_servers")
            .option("createTableColumnTypes", "ip VARCHAR(64), name VARCHAR(64)")
            .option("batchsize", "10000")
            .mode("overwrite")
            .save()
        )
        loader = LoaderSpec(
            {
                "id": "big",
                "local_table": "big_servers",
                "query": 'SELECT "ip", "name" FROM big_servers',
                "jdbc_driver_class": DRIVER,
                "jdbc_connection_string": url,
            }
        )
        dim, n = fetch_with_guard(make_fetcher(spark, loader), loader, spark)
        assert n == 65536
        assert dim.count() == 65536  # default max_rows=1M admits it
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "server",
                    "query": "SELECT name FROM big_servers WHERE ip = :ip",
                    "parameters": {"ip": "from_ip"},
                }
            ]
        )
        fact = spark.createDataFrame([("192.168.255.255",)], ["from_ip"])
        out = LookupEnricher(spec, {"big_servers": dim}).apply(fact)
        assert [r.asDict() for r in out.collect()[0].server] == [
            {"name": "server-65535"}
        ]


class TestConfiguredPipelineJob:
    """The reference's full workflow as a user would configure it —
    loaders (real Derby over JDBC) + local_db_objects + local_lookups in
    one JSON config — run through the batch job entry (job.py
    --pipeline): config -> loader fetch -> snapshot -> broadcast enrich
    -> tag/route -> fan-out sinks."""

    def test_job_with_json_pipeline_config(self, spark, derby_servers, tmp_path):
        import json

        from logstash_filter_jdbc_static_spark.job import run_job

        cfg = {
            "loaders": [
                {
                    "id": "servers",
                    "local_table": "servers",
                    "query": 'SELECT "ip", "name", "location" FROM servers',
                    "jdbc_driver_class": DRIVER,
                    "jdbc_connection_string": URL,
                }
            ],
            "local_db_objects": [
                {
                    "name": "servers",
                    "columns": [
                        ["ip", "varchar(64)"],
                        ["name", "varchar(64)"],
                        ["location", "varchar(64)"],
                    ],
                    "index_columns": ["ip"],
                }
            ],
            "local_lookups": [
                {
                    "id": "server",
                    "query": "SELECT name, location FROM servers WHERE ip = :ip",
                    "parameters": {"ip": "from_ip"},
                    "default_hash": {"name": "unknown", "location": "NOWHERE"},
                }
            ],
        }
        cfg_path = tmp_path / "pipeline.json"
        cfg_path.write_text(json.dumps(cfg))
        out_dir = str(tmp_path / "out")
        summary = run_job(
            spark, "/root/testdata/sf0.001", out_dir, batches=2,
            pipeline=str(cfg_path),
        )
        assert summary["rows_routed"] == 1000
        routed = spark.read.parquet(f"{out_dir}/routed")
        assert routed.filter(F.col("route") == "malformed").count() == 50
        # Hits carry the Derby-loaded payload as JSON.
        hits = routed.filter(
            (F.col("route") == "hit") & F.col("text").contains("10.3.1.1")
        )
        assert hits.count() > 0
        sample = hits.select("server_json").first()["server_json"]
        assert '"name":"mv-serv\'r-1"' in sample
        # Misses took the default_hash (10.4.* ips are not in the dim).
        miss = routed.filter(F.col("route") == "miss").select("server_json").first()
        assert '"name":"unknown"' in miss["server_json"]


class TestStreamingDerbyReload:
    """A15 under Structured Streaming: the refresh_dims seam re-resolves
    the dimension from REAL Derby per micro-batch run, so rows ingested
    after the remote changed are enriched with the new snapshot while
    already-written rows keep the old payload (append sink = the
    streaming analog of rspec's reload case, jdbc_static_spec.rb:141-158)."""

    def test_dim_refresh_between_stream_runs(self, spark, tmp_path):
        import datetime

        from logstash_filter_jdbc_static_spark.operators.processor import (
            LookupEnricher,
        )
        from logstash_filter_jdbc_static_spark.plans.pipeline import flagship_spec
        from logstash_filter_jdbc_static_spark.schema import TRANSCRIPT_SCHEMA
        from logstash_filter_jdbc_static_spark.sources.transcripts import (
            tool_catalog_df,
        )
        from logstash_filter_jdbc_static_spark.streaming.stream_pipeline import (
            start_pipeline_stream,
        )

        url = f"jdbc:derby:memory:stream_{uuid.uuid4().hex[:8]};create=true"

        def seed(name: str) -> None:
            (
                spark.createDataFrame(
                    [("10.1.1.1", name, "LDN-2-3-4")], SERVERS_SCHEMA
                )
                .write.format("jdbc")
                .option("url", url)
                .option("driver", DRIVER)
                .option("dbtable", "servers")
                .option(
                    "createTableColumnTypes",
                    "ip VARCHAR(64), name VARCHAR(64), location VARCHAR(64)",
                )
                .mode("overwrite")
                .save()
            )

        loader = LoaderSpec(
            {
                "id": "servers",
                "local_table": "servers",
                "query": 'SELECT "ip", "name", "location" FROM servers',
                "jdbc_driver_class": DRIVER,
                "jdbc_connection_string": url,
            }
        )
        store = DimensionStore(spark, [], [(loader, make_fetcher(spark, loader))])
        seed("ldn-server-v1")
        store.initial_load()

        def refresh_dims() -> LookupEnricher:
            store.refresh()  # per-micro-batch reload (A14/A15)
            return LookupEnricher(
                flagship_spec(),
                {**store.dims(), "tool_catalog": tool_catalog_df(spark)},
            )

        def turns(offset: int):
            ts = datetime.datetime(2024, 1, 1)
            return [
                (f"conv-{offset}", i, "user",
                 "call tool=tool_0 from_ip=10.1.1.1 type=x", "tool_0", ts)
                for i in range(5)
            ]

        src, sink, ckpt = (
            str(tmp_path / d) for d in ("src", "sink", "ckpt")
        )
        spark.createDataFrame(turns(0), TRANSCRIPT_SCHEMA).write.mode(
            "append"
        ).parquet(src)
        start_pipeline_stream(spark, src, sink, ckpt, refresh_dims).awaitTermination(120)

        seed("ldn-server-v2")  # remote changes AFTER the first run
        spark.createDataFrame(turns(1), TRANSCRIPT_SCHEMA).write.mode(
            "append"
        ).parquet(src)
        start_pipeline_stream(spark, src, sink, ckpt, refresh_dims).awaitTermination(120)

        out = spark.read.parquet(sink).select(
            "conv_id", F.get(F.col("server"), 0).getField("name").alias("srv")
        )
        got = {r["conv_id"]: r["srv"] for r in out.distinct().collect()}
        assert got == {"conv-0": "ldn-server-v1", "conv-1": "ldn-server-v2"}
        assert store.reload_count >= 3  # initial + one per stream run


class TestConnectionErrors:
    def test_bad_url_wrapped_as_connection_error(self, spark):
        """A17: connect failures surface as the wrapped error type
        (basic_database.rb:20-24), raised eagerly at fetch."""
        from logstash_filter_jdbc_static_spark.sources.jdbc import (
            ConnectionError_,
            make_fetcher,
        )

        loader = LoaderSpec(
            {
                "id": "bad",
                "local_table": "bad",
                "query": "SELECT 1",
                "jdbc_driver_class": DRIVER,
                "jdbc_connection_string": "jdbc:derby:memory:nonexistent_db_no_create",
            }
        )
        with pytest.raises(ConnectionError_, match="bad"):
            make_fetcher(spark, loader)()

    def test_iceberg_mode_fails_fast_without_runtime_jar(self, spark):
        from logstash_filter_jdbc_static_spark.job import configure_format

        with pytest.raises(SystemExit, match="iceberg-spark-runtime"):
            configure_format(spark, "iceberg")
        assert configure_format(spark, "parquet") == "parquet"


class TestFileBasedDerbyExample:
    """File-backed Derby (the reference's jdbc_static_file_local_spec.rb
    variant): the db persists across sessions, so the shipped example —
    seed script + examples/pipeline_servers.json — runs end-to-end."""

    def test_seed_then_run_example_config(self, spark, tmp_path):
        import json

        from examples.seed_derby import seed
        from logstash_filter_jdbc_static_spark.job import run_job

        db_path = str(tmp_path / "filedb")
        seed(db_path)
        cfg = json.load(
            open(os.path.join(os.path.dirname(__file__), "..",
                              "examples", "pipeline_servers.json"))
        )
        # plugin-level setting: inherited by the loader via the
        # add_plugin_configs merge (jdbc_static.rb:220-239)
        cfg["jdbc_connection_string"] = f"jdbc:derby:{db_path}"
        out = str(tmp_path / "out")
        summary = run_job(
            spark, "/root/testdata/sf0.001", out, batches=2, pipeline=cfg
        )
        assert summary["rows_routed"] == 1000
        routed = spark.read.parquet(f"{out}/routed")
        hit = routed.filter(
            (F.col("route") == "hit") & F.col("text").contains("10.1.1.1")
        ).first()
        assert '"name":"ldn-server-1"' in hit["server_json"]


class TestDerbyResultShapeLookups:
    """The round-3 result-shape SQL (ORDER BY/LIMIT, GROUP BY+HAVING)
    against a dim ACTUALLY loaded from embedded Derby over JDBC — the
    same store/loader path the reference's local db_objects take."""

    def test_order_limit_lookup_on_derby_dim(self, spark, derby_servers):
        loader = _loader('SELECT "ip", "name", "location" FROM servers')
        store = DimensionStore(spark, [], [(loader, make_fetcher(spark, loader))])
        store.initial_load()
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "top",
                    "query": "SELECT name FROM servers WHERE ip LIKE :pre "
                             "ORDER BY ip DESC LIMIT 2",
                    "parameters": {"pre": "%{[prefix]}%"},
                }
            ]
        )
        fact = spark.createDataFrame([("e1", "10.")], ["event", "prefix"])
        # expectations derive from the LIVE dim: earlier module tests
        # legitimately insert rows into the shared Derby table
        dim_rows = [
            (r["ip"], r["name"])
            for r in store.dims()["servers"].collect()
            if r["ip"].startswith("10.")
        ]
        expect = [
            name for _, name in sorted(dim_rows, reverse=True)[:2]
        ]
        (row,) = LookupEnricher(spec, store.dims()).apply(fact).collect()
        assert [x["name"] for x in row["top"]] == expect

    def test_group_having_lookup_on_derby_dim(self, spark, derby_servers):
        loader = _loader('SELECT "ip", "name", "location" FROM servers')
        store = DimensionStore(spark, [], [(loader, make_fetcher(spark, loader))])
        store.initial_load()
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "grp",
                    "query": "SELECT location, count(*) AS n FROM servers "
                             "WHERE ip LIKE :pre GROUP BY location "
                             "HAVING count(*) >= 1",
                    "parameters": {"pre": "%{[prefix]}%"},
                }
            ]
        )
        fact = spark.createDataFrame([("e1", "10.")], ["event", "prefix"])
        from collections import Counter

        live = [
            r["location"]
            for r in store.dims()["servers"].collect()
            if r["ip"].startswith("10.")
        ]
        (row,) = LookupEnricher(spec, store.dims()).apply(fact).collect()
        got = sorted((x["location"], x["n"]) for x in row["grp"])
        assert got == sorted(Counter(live).items())


class TestDerbyExprLookups:
    """Round-4 widened SQL (column/expression comparands, scalar
    subqueries) against a dim ACTUALLY loaded from embedded Derby —
    expectations derive from the live dim rows, so earlier module
    tests mutating the shared table stay harmless."""

    def _store(self, spark):
        loader = _loader('SELECT "ip", "name", "location" FROM servers')
        store = DimensionStore(spark, [], [(loader, make_fetcher(spark, loader))])
        store.initial_load()
        return store

    def test_column_comparand_on_derby_dim(self, spark, derby_servers):
        store = self._store(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "cmp",
                    "query": "SELECT name FROM servers "
                             "WHERE ip LIKE :pre AND name < location",
                    "parameters": {"pre": "%{[prefix]}%"},
                }
            ]
        )
        fact = spark.createDataFrame([("e1", "10.")], ["event", "prefix"])
        live = sorted(
            r["name"]
            for r in store.dims()["servers"].collect()
            if r["ip"].startswith("10.") and r["name"] < r["location"]
        )
        (row,) = LookupEnricher(spec, store.dims()).apply(fact).collect()
        assert sorted(x["name"] for x in row["cmp"]) == live

    def test_scalar_subquery_on_derby_dim(self, spark, derby_servers):
        store = self._store(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "longest",
                    "query": "SELECT name, ip FROM servers WHERE "
                             "length(ip) = (SELECT max(length(ip)) "
                             "FROM servers)",
                    "parameters": {},
                }
            ]
        )
        fact = spark.createDataFrame([("e1",)], ["event"])
        rows = store.dims()["servers"].collect()
        mx = max(len(r["ip"]) for r in rows)
        live = sorted(
            (r["name"], r["ip"]) for r in rows if len(r["ip"]) == mx
        )
        (row,) = LookupEnricher(spec, store.dims()).apply(fact).collect()
        assert sorted((x["name"], x["ip"]) for x in row["longest"]) == live


class TestDerbyRound4Shapes:
    """Union, aggregate-expression and tail-expression lookups against
    the Derby-loaded dim (expectations from live rows, as above)."""

    def _store(self, spark):
        loader = _loader('SELECT "ip", "name", "location" FROM servers')
        store = DimensionStore(spark, [], [(loader, make_fetcher(spark, loader))])
        store.initial_load()
        return store

    def test_union_all_lookup_on_derby_dim(self, spark, derby_servers):
        store = self._store(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "u",
                    "query": (
                        "SELECT name AS v FROM servers WHERE ip LIKE :pre "
                        "UNION ALL "
                        "SELECT location FROM servers WHERE ip LIKE :pre"
                    ),
                    "parameters": {"pre": "%{[prefix]}%"},
                }
            ]
        )
        fact = spark.createDataFrame([("e1", "10.")], ["event", "prefix"])
        rows = [
            r for r in store.dims()["servers"].collect()
            if r["ip"].startswith("10.")
        ]
        live = sorted(
            [r["name"] for r in rows] + [r["location"] for r in rows]
        )
        (row,) = LookupEnricher(spec, store.dims()).apply(fact).collect()
        assert sorted(x["v"] for x in row["u"]) == live

    def test_agg_expression_lookup_on_derby_dim(self, spark, derby_servers):
        store = self._store(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "agg",
                    "query": (
                        "SELECT max(length(name || location)) AS mx, "
                        "count(*) AS n FROM servers WHERE ip LIKE :pre"
                    ),
                    "parameters": {"pre": "%{[prefix]}%"},
                }
            ]
        )
        fact = spark.createDataFrame([("e1", "10.")], ["event", "prefix"])
        rows = [
            r for r in store.dims()["servers"].collect()
            if r["ip"].startswith("10.")
        ]
        (row,) = LookupEnricher(spec, store.dims()).apply(fact).collect()
        (payload,) = row["agg"]
        assert payload["mx"] == max(
            len(r["name"] + r["location"]) for r in rows
        )
        assert payload["n"] == len(rows)

    def test_order_by_expression_on_derby_dim(self, spark, derby_servers):
        store = self._store(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "ord",
                    "query": (
                        "SELECT name FROM servers WHERE ip LIKE :pre "
                        "ORDER BY length(name) DESC, name LIMIT 2"
                    ),
                    "parameters": {"pre": "%{[prefix]}%"},
                }
            ]
        )
        fact = spark.createDataFrame([("e1", "10.")], ["event", "prefix"])
        names = [
            r["name"] for r in store.dims()["servers"].collect()
            if r["ip"].startswith("10.")
        ]
        expect = sorted(names, key=lambda n: (-len(n), n))[:2]
        (row,) = LookupEnricher(spec, store.dims()).apply(fact).collect()
        assert [x["name"] for x in row["ord"]] == expect

    def test_correlated_subquery_on_derby_dim(self, spark, derby_servers):
        store = self._store(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "corr",
                    "query": (
                        "SELECT name, location FROM servers WHERE "
                        "length(name) >= (SELECT max(length(s2.name)) "
                        "FROM servers s2 "
                        "WHERE s2.location = servers.location)"
                    ),
                    "parameters": {},
                }
            ]
        )
        fact = spark.createDataFrame([("e1",)], ["event"])
        rows = [
            (r["name"], r["location"])
            for r in store.dims()["servers"].collect()
        ]
        by_loc: dict = {}
        for nm, loc in rows:
            by_loc.setdefault(loc, []).append(nm)
        live = sorted(
            (nm, loc)
            for nm, loc in rows
            if len(nm) >= max(len(x) for x in by_loc[loc])
        )
        (row,) = LookupEnricher(spec, store.dims()).apply(fact).collect()
        assert sorted((x["name"], x["location"]) for x in row["corr"]) == live

    def test_in_subquery_on_derby_dim(self, spark, derby_servers):
        store = self._store(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "inq",
                    "query": (
                        "SELECT name FROM servers WHERE location NOT IN "
                        "(SELECT location FROM servers WHERE ip LIKE '10.%')"
                    ),
                    "parameters": {},
                }
            ]
        )
        fact = spark.createDataFrame([("e1",)], ["event"])
        rows = store.dims()["servers"].collect()
        excluded = {
            r["location"] for r in rows if r["ip"].startswith("10.")
        }
        live = sorted(
            r["name"] for r in rows if r["location"] not in excluded
        )
        (row,) = LookupEnricher(spec, store.dims()).apply(fact).collect()
        assert sorted(x["name"] for x in row["inq"]) == live


class TestDerbyRound5Shapes:
    """[NOT] EXISTS, correlated [NOT] IN, and CAST/nullif/replace/instr
    lookups against the Derby-loaded dim — the round-5 widening of the
    execute-anything contract (lookup.rb:131-147), with expectations
    derived from the live Derby rows like the round-4 class above."""

    def _store(self, spark):
        loader = _loader('SELECT "ip", "name", "location" FROM servers')
        store = DimensionStore(spark, [], [(loader, make_fetcher(spark, loader))])
        store.initial_load()
        return store

    def test_exists_on_derby_dim(self, spark, derby_servers):
        store = self._store(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "ex",
                    "query": (
                        "SELECT name FROM servers WHERE EXISTS "
                        "(SELECT 1 FROM servers s2 WHERE "
                        "s2.location = servers.location "
                        "AND s2.ip LIKE '10.%')"
                    ),
                    "parameters": {},
                }
            ]
        )
        fact = spark.createDataFrame([("e1",)], ["event"])
        rows = store.dims()["servers"].collect()
        locs_with_10 = {
            r["location"] for r in rows if r["ip"].startswith("10.")
        }
        live = sorted(
            r["name"] for r in rows if r["location"] in locs_with_10
        )
        (row,) = LookupEnricher(spec, store.dims()).apply(fact).collect()
        assert sorted(x["name"] for x in row["ex"]) == live

    def test_not_exists_on_derby_dim(self, spark, derby_servers):
        store = self._store(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "nx",
                    "query": (
                        "SELECT name FROM servers WHERE NOT EXISTS "
                        "(SELECT 1 FROM servers s2 WHERE "
                        "s2.location = servers.location "
                        "AND s2.ip LIKE '192.%')"
                    ),
                    "parameters": {},
                }
            ]
        )
        fact = spark.createDataFrame([("e1",)], ["event"])
        rows = store.dims()["servers"].collect()
        locs_with_192 = {
            r["location"] for r in rows if r["ip"].startswith("192.")
        }
        live = sorted(
            r["name"] for r in rows if r["location"] not in locs_with_192
        )
        (row,) = LookupEnricher(spec, store.dims()).apply(fact).collect()
        assert sorted(x["name"] for x in row["nx"]) == live

    def test_param_subquery_on_derby_dim(self, spark, derby_servers):
        # round-5 latest: a :param inside a scalar subquery's WHERE —
        # the per-event aggregate keys on the bound prefix; pinned as a
        # Derby prepared-statement shape in TestDerbyGrammarLegality
        store = self._store(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "ps",
                    "query": (
                        "SELECT name AS nm FROM servers "
                        "WHERE ip >= "
                        "(SELECT min(ip) FROM servers "
                        "WHERE location = :loc)"
                    ),
                    "parameters": {"loc": "loc"},
                }
            ]
        )
        rows = store.dims()["servers"].collect()
        locs = sorted({r["location"] for r in rows})
        fact = spark.createDataFrame(
            [(f"e{i}", lo) for i, lo in enumerate(locs + ["NOWHERE"])],
            ["event", "loc"],
        )

        def expect(loc):
            keyed = [r["ip"] for r in rows if r["location"] == loc]
            if not keyed:
                return []  # min over empty group -> NULL -> no rows
            mn = min(keyed)
            return sorted(r["name"] for r in rows if r["ip"] >= mn)

        out = {
            r["loc"]: sorted(x["nm"] for x in r["ps"])
            for r in LookupEnricher(spec, store.dims()).apply(fact).collect()
        }
        assert out == {
            lo: expect(lo) for lo in locs + ["NOWHERE"]
        }

    def test_theta_param_subquery_on_derby_dim(self, spark, derby_servers):
        # round-5 final: a NON-equality param predicate inside the
        # subquery WHERE (``ip < :iplim``) — the THETA path builds the
        # per-event aggregate from the fact's distinct bound tuples;
        # Derby runs the same SQL as a prepared statement
        # (TestDerbyGrammarLegality.test_theta_param_shapes_native)
        store = self._store(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "th",
                    "query": (
                        "SELECT name AS nm FROM servers "
                        "WHERE ip <= "
                        "(SELECT max(ip) FROM servers WHERE ip < :iplim)"
                    ),
                    "parameters": {"iplim": "iplim"},
                }
            ]
        )
        rows = store.dims()["servers"].collect()
        ips = sorted(r["ip"] for r in rows)
        bounds = ips + ["0", "zzz"]  # below-all and above-all bounds
        fact = spark.createDataFrame(
            [(f"e{i}", b) for i, b in enumerate(bounds)],
            ["event", "iplim"],
        )

        def expect(bound):
            below = [ip for ip in ips if ip < bound]
            if not below:
                return []  # max over empty -> NULL -> unknown
            mx = max(below)
            return sorted(r["name"] for r in rows if r["ip"] <= mx)

        out = {
            r["iplim"]: sorted(x["nm"] for x in r["th"])
            for r in LookupEnricher(spec, store.dims()).apply(fact).collect()
        }
        assert out == {b: expect(b) for b in bounds}

    def test_theta_or_param_subquery_on_derby_dim(
        self, spark, derby_servers
    ):
        # round-5 final: OR around the param predicate inside the
        # subquery WHERE — the whole DNF evaluates in the theta frame
        store = self._store(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "cnt",
                    "query": (
                        "SELECT name AS nm FROM servers "
                        "WHERE length(name) > "
                        "(SELECT count(*) FROM servers "
                        "WHERE ip < :iplim OR location = 'lga')"
                    ),
                    "parameters": {"iplim": "iplim"},
                }
            ]
        )
        rows = store.dims()["servers"].collect()
        fact = spark.createDataFrame(
            [("e1", "10.2"), ("e2", "zzz")], ["event", "iplim"]
        )

        def expect(bound):
            n = sum(
                1
                for r in rows
                if r["ip"] < bound or r["location"] == "lga"
            )
            return sorted(r["name"] for r in rows if len(r["name"]) > n)

        out = {
            r["iplim"]: sorted(x["nm"] for x in r["cnt"])
            for r in LookupEnricher(spec, store.dims()).apply(fact).collect()
        }
        assert out == {b: expect(b) for b in ("10.2", "zzz")}

    def test_param_projection_subquery_on_derby_dim(
        self, spark, derby_servers
    ):
        # round-5 latest: a :param inside a PROJECTION scalar
        # subquery — Derby runs the prepared shape natively (pinned
        # in TestDerbyGrammarLegality); here the per-event value
        # broadcast-joins onto the fact and overlays the payload field
        store = self._store(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "pp",
                    "query": (
                        "SELECT name AS nm, "
                        "(SELECT count(*) FROM servers "
                        "WHERE location = :loc) AS n_loc "
                        "FROM servers WHERE location = :loc"
                    ),
                    "parameters": {"loc": "loc"},
                }
            ]
        )
        rows = store.dims()["servers"].collect()
        locs = sorted({r["location"] for r in rows})
        fact = spark.createDataFrame(
            [(f"e{i}", lo) for i, lo in enumerate(locs + ["NOWHERE"])],
            ["event", "loc"],
        )
        out = {
            r["loc"]: sorted((x["nm"], x["n_loc"]) for x in r["pp"])
            for r in LookupEnricher(spec, store.dims()).apply(fact).collect()
        }
        assert out == {
            lo: sorted(
                (r["name"], sum(1 for s in rows if s["location"] == lo))
                for r in rows
                if r["location"] == lo
            )
            for lo in locs + ["NOWHERE"]
        }

    def test_param_having_subquery_on_derby_dim(self, spark, derby_servers):
        # round-5 latest: a :param scalar subquery as a HAVING
        # comparand — Derby runs the prepared shape natively; here the
        # per-event value rides into the payload as a hidden overlaid
        # carrier and the HAVING filter reads it post-aggregation
        store = self._store(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "ph",
                    "query": (
                        "SELECT location AS loc, count(*) AS n "
                        "FROM servers GROUP BY location "
                        "HAVING count(*) >= "
                        "(SELECT count(*) FROM servers "
                        "WHERE location = :loc)"
                    ),
                    "parameters": {"loc": "loc"},
                }
            ]
        )
        rows = store.dims()["servers"].collect()
        locs = sorted({r["location"] for r in rows})
        fact = spark.createDataFrame(
            [(f"e{i}", lo) for i, lo in enumerate(locs + ["NOWHERE"])],
            ["event", "loc"],
        )
        counts: dict[str, int] = {}
        for r in rows:
            counts[r["location"]] = counts.get(r["location"], 0) + 1
        out = {
            r["loc"]: sorted((x["loc"], x["n"]) for x in r["ph"])
            for r in LookupEnricher(spec, store.dims()).apply(fact).collect()
        }
        assert out == {
            lo: sorted(
                (gl, gn)
                for gl, gn in counts.items()
                if gn >= counts.get(lo, 0)
            )
            for lo in locs + ["NOWHERE"]
        }

    def test_mixed_dim_param_expression_on_derby_dim(
        self, spark, derby_servers
    ):
        # round-5 latest: a predicate rhs MIXING a dim column with a
        # bound param (``length(ip) > length(location) + :k``) — Derby
        # evaluates these per (row, binding); here the theta probe
        # evaluates both scopes at once. Expectations derive from the
        # live Derby rows (robust to the reload test's 4th row).
        store = self._store(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "mx",
                    "query": (
                        "SELECT name FROM servers "
                        "WHERE length(ip) > length(location) + :k"
                    ),
                    "parameters": {"k": "k"},
                }
            ]
        )
        rows = store.dims()["servers"].collect()
        fact = spark.createDataFrame(
            [("e0", -1), ("e1", 0)], ["event", "k"]
        )
        out = {
            r["k"]: sorted(x["name"] for x in r["mx"])
            for r in LookupEnricher(spec, store.dims()).apply(fact).collect()
        }
        assert out == {
            k: sorted(
                r["name"]
                for r in rows
                if len(r["ip"]) > len(r["location"]) + k
            )
            for k in (-1, 0)
        }

    def test_correlated_in_on_derby_dim(self, spark, derby_servers):
        store = self._store(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "ci",
                    "query": (
                        "SELECT name FROM servers WHERE length(name) IN "
                        "(SELECT length(s2.name) FROM servers s2 WHERE "
                        "s2.location = servers.location "
                        "AND s2.ip LIKE '10.%')"
                    ),
                    "parameters": {},
                }
            ]
        )
        fact = spark.createDataFrame([("e1",)], ["event"])
        rows = store.dims()["servers"].collect()
        lens_by_loc: dict = {}
        for r in rows:
            if r["ip"].startswith("10."):
                lens_by_loc.setdefault(r["location"], set()).add(
                    len(r["name"])
                )
        live = sorted(
            r["name"] for r in rows
            if len(r["name"]) in lens_by_loc.get(r["location"], set())
        )
        (row,) = LookupEnricher(spec, store.dims()).apply(fact).collect()
        assert sorted(x["name"] for x in row["ci"]) == live

    def test_nested_exists_on_derby_dim(self, spark, derby_servers):
        # round-5 latest: a nested EXISTS against the Derby-loaded dim
        # — the semi-join flag joins onto the enclosing sub frame
        store = self._store(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "nx",
                    "query": (
                        "SELECT name FROM servers WHERE ip <= "
                        "(SELECT max(s2.ip) FROM servers s2 "
                        "WHERE EXISTS (SELECT 1 FROM servers s3 "
                        "WHERE s3.location = s2.location "
                        "AND s3.ip LIKE '10.%'))"
                    ),
                    "parameters": {},
                }
            ]
        )
        fact = spark.createDataFrame([("e1",)], ["event"])
        rows = store.dims()["servers"].collect()
        locs10 = {r["location"] for r in rows if r["ip"].startswith("10.")}
        mx = max(
            (r["ip"] for r in rows if r["location"] in locs10),
            default=None,
        )
        live = sorted(
            r["name"] for r in rows if mx is not None and r["ip"] <= mx
        )
        (row,) = LookupEnricher(spec, store.dims()).apply(fact).collect()
        assert sorted(x["name"] for x in row["nx"]) == live

    def test_nested_ineq_on_derby_dim(self, spark, derby_servers):
        # round-5 latest: a NESTED inequality correlation against the
        # Derby-loaded dim — each distinct correlation tuple of the
        # enclosing sub frame pairs with its strictly-lower inner rows
        store = self._store(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "ni",
                    "query": (
                        "SELECT name FROM servers WHERE ip >= "
                        "(SELECT min(s2.ip) FROM servers s2 "
                        "WHERE EXISTS (SELECT 1 FROM servers s3 "
                        "WHERE s3.ip < s2.ip))"
                    ),
                    "parameters": {},
                }
            ]
        )
        fact = spark.createDataFrame([("e1",)], ["event"])
        rows = store.dims()["servers"].collect()
        ips = sorted(r["ip"] for r in rows)
        # s2 qualifies iff some row is strictly below it -> all but
        # the global minimum; min of those = the second-lowest ip
        live = sorted(r["name"] for r in rows if r["ip"] >= ips[1])
        (row,) = LookupEnricher(spec, store.dims()).apply(fact).collect()
        assert sorted(x["name"] for x in row["ni"]) == live

    def test_ineq_correlated_in_on_derby_dim(self, spark, derby_servers):
        # round-5 latest: an INEQUALITY correlation inside an
        # IN-subquery (standard SQL, Derby runs it natively) — here
        # the value set is aggregated per distinct outer correlation
        # tuple and broadcast back
        store = self._store(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "qi",
                    "query": (
                        "SELECT name FROM servers WHERE location IN "
                        "(SELECT s2.location FROM servers s2 "
                        "WHERE s2.ip < servers.ip)"
                    ),
                    "parameters": {},
                }
            ]
        )
        fact = spark.createDataFrame([("e1",)], ["event"])
        rows = store.dims()["servers"].collect()
        live = sorted(
            r["name"]
            for r in rows
            if r["location"] in {
                s["location"] for s in rows if s["ip"] < r["ip"]
            }
        )
        (row,) = LookupEnricher(spec, store.dims()).apply(fact).collect()
        assert sorted(x["name"] for x in row["qi"]) == live

    def test_cast_and_scalar_funcs_on_derby_dim(self, spark, derby_servers):
        store = self._store(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "cf",
                    "query": (
                        "SELECT cast(length(ip) AS varchar(8)) AS len_s, "
                        "nullif(location, 'MV-9') AS loc2, "
                        "replace(name, '-', '_') AS uname "
                        "FROM servers WHERE instr(ip, '.') > 0"
                    ),
                    "parameters": {},
                }
            ]
        )
        fact = spark.createDataFrame([("e1",)], ["event"])
        rows = store.dims()["servers"].collect()
        live = sorted(
            (
                str(len(r["ip"])),
                None if r["location"] == "MV-9" else r["location"],
                r["name"].replace("-", "_"),
            )
            for r in rows
            if "." in r["ip"]
        )
        (row,) = LookupEnricher(spec, store.dims()).apply(fact).collect()
        got = sorted(
            (x["len_s"], x["loc2"], x["uname"]) for x in row["cf"]
        )
        assert got == live

    def test_exists_ineq_correlation_on_derby_dim(self, spark, derby_servers):
        store = self._store(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "gx",
                    "query": (
                        "SELECT name FROM servers WHERE EXISTS "
                        "(SELECT 1 FROM servers s2 WHERE "
                        "s2.location = servers.location "
                        "AND s2.name > servers.name)"
                    ),
                    "parameters": {},
                }
            ]
        )
        fact = spark.createDataFrame([("e1",)], ["event"])
        rows = [(r["name"], r["location"])
                for r in store.dims()["servers"].collect()]
        by_loc: dict = {}
        for nm, loc in rows:
            by_loc.setdefault(loc, []).append(nm)
        live = sorted(
            nm for nm, loc in rows if nm < max(by_loc[loc])
        )
        (row,) = LookupEnricher(spec, store.dims()).apply(fact).collect()
        assert sorted(x["name"] for x in row["gx"]) == live

    def test_exists_flag_recomputes_on_reload(self, spark, derby_servers):
        """A16 parity for the round-5 machinery: the EXISTS semi-join
        flag is built per refresh snapshot, so a row added to the
        remote table flips the answer after refresh() — and the
        pre-reload enricher (pinned snapshot) still answers from the
        old state."""
        loader = _loader('SELECT "ip", "name", "location" FROM servers')
        store = DimensionStore(
            spark, [], [(loader, make_fetcher(spark, loader))]
        )
        store.initial_load()
        marker = f"zz-{uuid.uuid4().hex[:6]}"
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "xz",
                    "query": (
                        "SELECT name FROM servers WHERE EXISTS "
                        "(SELECT 1 FROM servers s2 WHERE "
                        "s2.location = servers.location "
                        f"AND s2.name = '{marker}')"
                    ),
                    "parameters": {},
                }
            ]
        )
        fact = spark.createDataFrame([("e1",)], ["event"])
        old_enr = LookupEnricher(spec, store.dims())
        (before,) = old_enr.apply(fact).collect()
        assert list(before["xz"]) == []  # marker not in any location yet
        loc = store.dims()["servers"].select("location").first()[0]
        spark.createDataFrame(
            [("10.42.0.1", marker, loc)], SERVERS_SCHEMA
        ).write.format("jdbc").option("url", URL).option(
            "driver", DRIVER
        ).option("dbtable", "servers").mode("append").save()
        store.refresh()
        new_enr = LookupEnricher(spec, store.dims())
        (after,) = new_enr.apply(fact).collect()
        live = sorted(
            r["name"]
            for r in store.dims()["servers"].collect()
            if r["location"] == loc
        )
        assert sorted(x["name"] for x in after["xz"]) == live
        # the pinned pre-reload snapshot still answers the OLD state
        (again,) = old_enr.apply(fact).collect()
        assert list(again["xz"]) == []

    def test_join_correlated_exists_on_derby_dims(self, spark, derby_servers):
        """Round-5 late widening e2e: a multi-table JOIN lookup whose
        EXISTS correlates against the JOINED relation's column
        (t.location), both dims loaded from live Derby. build_join_dim
        flat-rewrites the correlation key onto the derived dim, and
        the semi-join flag is built there once per snapshot."""
        loaders = [
            _loader('SELECT "ip", "name", "location" FROM servers'),
            _loader(
                'SELECT DISTINCT "location" FROM servers', table="sites"
            ),
        ]
        store = DimensionStore(
            spark, [], [(ld, make_fetcher(spark, ld)) for ld in loaders]
        )
        store.initial_load()
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "jx",
                    "query": (
                        "SELECT s.name AS name FROM servers s "
                        "JOIN sites t ON s.location = t.location "
                        "WHERE EXISTS (SELECT 1 FROM servers s2 "
                        "WHERE s2.location = t.location "
                        "AND s2.ip LIKE '10.%')"
                    ),
                    "parameters": {},
                }
            ]
        )
        fact = spark.createDataFrame([("e1",)], ["event"])
        rows = store.dims()["servers"].collect()
        locs_with_10 = {
            r["location"] for r in rows if r["ip"].startswith("10.")
        }
        live = sorted(
            r["name"] for r in rows if r["location"] in locs_with_10
        )
        (row,) = LookupEnricher(spec, store.dims()).apply(fact).collect()
        assert sorted(x["name"] for x in row["jx"]) == live

    def test_projection_scalar_subqueries_on_derby_dim(
        self, spark, derby_servers
    ):
        """Round-5 widening e2e: scalar subqueries in the PROJECTION —
        a correlated per-location max ip and an uncorrelated count(*),
        both over a live Derby-loaded dim, attached as payload fields
        alongside the plain column."""
        ld = _loader('SELECT "ip", "name", "location" FROM servers')
        store = DimensionStore(spark, [], [(ld, make_fetcher(spark, ld))])
        store.initial_load()
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "px",
                    "query": (
                        "SELECT s.name AS name, "
                        "(SELECT max(s2.ip) FROM servers s2 "
                        "WHERE s2.location = s.location) AS loc_max_ip, "
                        "(SELECT count(*) FROM servers) AS n_servers "
                        "FROM servers s WHERE s.ip = :ip"
                    ),
                    "parameters": {"ip": "ip"},
                }
            ]
        )
        rows = store.dims()["servers"].collect()
        n_total = len(rows)
        by_loc_max = {}
        for r in rows:
            loc = r["location"]
            if loc not in by_loc_max or r["ip"] > by_loc_max[loc]:
                by_loc_max[loc] = r["ip"]
        probe = rows[0]
        fact = spark.createDataFrame([(probe["ip"],)], ["ip"])
        (row,) = LookupEnricher(spec, store.dims()).apply(fact).collect()
        got = {(d["name"], d["loc_max_ip"], d["n_servers"]) for d in row["px"]}
        exp = {
            (r["name"], by_loc_max[r["location"]], n_total)
            for r in rows
            if r["ip"] == probe["ip"]
        }
        assert got == exp


class TestDerbySetOps:
    """EXCEPT / INTERSECT lookups against the Derby-loaded dim —
    Derby executes both verbatim (lookup.rb:131-147); here the
    set-semantics fold runs over the per-branch payload arrays, with
    expectations derived from the live Derby rows."""

    def _store(self, spark):
        loader = _loader('SELECT "ip", "name", "location" FROM servers')
        store = DimensionStore(spark, [], [(loader, make_fetcher(spark, loader))])
        store.initial_load()
        return store

    def test_except_on_derby_dim(self, spark, derby_servers):
        store = self._store(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "ex",
                    "query": (
                        "SELECT location AS loc FROM servers "
                        "WHERE ip LIKE :pre "
                        "EXCEPT "
                        "SELECT location AS loc FROM servers "
                        "WHERE ip LIKE '192.%'"
                    ),
                    "parameters": {"pre": "%{[prefix]}%"},
                }
            ]
        )
        fact = spark.createDataFrame([("e1", "10.")], ["event", "prefix"])
        rows = store.dims()["servers"].collect()
        minus = {r["location"] for r in rows if r["ip"].startswith("192.")}
        live = sorted(
            {r["location"] for r in rows if r["ip"].startswith("10.")}
            - minus
        )
        (row,) = LookupEnricher(spec, store.dims()).apply(fact).collect()
        assert sorted(x["loc"] for x in row["ex"]) == live

    def test_intersect_on_derby_dim(self, spark, derby_servers):
        store = self._store(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "it",
                    "query": (
                        "SELECT location AS loc FROM servers "
                        "WHERE ip LIKE :pre "
                        "INTERSECT "
                        "SELECT location AS loc FROM servers "
                        "WHERE ip LIKE '192.%'"
                    ),
                    "parameters": {"pre": "%{[prefix]}%"},
                }
            ]
        )
        fact = spark.createDataFrame([("e1", "10.")], ["event", "prefix"])
        rows = store.dims()["servers"].collect()
        with_192 = {r["location"] for r in rows if r["ip"].startswith("192.")}
        live = sorted(
            {r["location"] for r in rows if r["ip"].startswith("10.")}
            & with_192
        )
        (row,) = LookupEnricher(spec, store.dims()).apply(fact).collect()
        assert sorted(x["loc"] for x in row["it"]) == live

    def test_except_all_and_mixed_on_derby_dim(self, spark, derby_servers):
        # round-5 latest: the multiset EXCEPT ALL and a mixed
        # UNION ALL ... INTERSECT ... (SQL precedence) against the
        # live Derby-loaded dim, expectations derived from its rows
        from collections import Counter

        store = self._store(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "xa",
                    "query": (
                        "SELECT location AS loc FROM servers "
                        "WHERE ip LIKE :pre "
                        "EXCEPT ALL "
                        "SELECT location AS loc FROM servers "
                        "WHERE ip LIKE '10.1%'"
                    ),
                    "parameters": {"pre": "%{[prefix]}%"},
                },
                {
                    "id": "mx",
                    "query": (
                        "SELECT location AS loc FROM servers "
                        "WHERE ip LIKE :pre "
                        "UNION ALL "
                        "SELECT location AS loc FROM servers "
                        "INTERSECT "
                        "SELECT location AS loc FROM servers "
                        "WHERE ip LIKE '10.1%'"
                    ),
                    "parameters": {"pre": "%{[prefix]}%"},
                },
            ]
        )
        fact = spark.createDataFrame([("e1", "10.")], ["event", "prefix"])
        rows = store.dims()["servers"].collect()
        ca = Counter(
            r["location"] for r in rows if r["ip"].startswith("10.")
        )
        cb = Counter(
            r["location"] for r in rows if r["ip"].startswith("10.1")
        )
        exp_xa = sorted(
            loc
            for loc, n in ca.items()
            for _ in range(max(0, n - cb[loc]))
        )
        # INTERSECT binds tighter: A UNION ALL (all ∩ 10.1-prefixed)
        exp_mx = sorted(
            list(ca.elements())
            + sorted({r["location"] for r in rows} & set(cb))
        )
        (row,) = LookupEnricher(spec, store.dims()).apply(fact).collect()
        assert sorted(x["loc"] for x in row["xa"]) == exp_xa
        assert sorted(x["loc"] for x in row["mx"]) == exp_mx


class TestDerbyDateFuncs:
    """YEAR/MONTH/DAY/HOUR/MINUTE/SECOND lookups against a
    Derby-loaded dim with real DATE/TIMESTAMP columns (Derby's
    extraction surface — it has no EXTRACT). Expectations from the
    live Derby rows."""

    @pytest.fixture(scope="class")
    def derby_subs(self, spark):
        import datetime as dt

        rows = [
            ("tool_a", dt.date(2024, 2, 29),
             dt.datetime(2024, 3, 1, 15, 30, 45)),
            ("tool_b", dt.date(1999, 12, 31),
             dt.datetime(1999, 12, 31, 23, 59, 59)),
            ("tool_a", dt.date(2001, 6, 13), None),
        ]
        (
            spark.createDataFrame(rows, "tool string, since date, seen timestamp")
            .write.format("jdbc")
            .option("url", URL)
            .option("driver", DRIVER)
            .option("dbtable", "subs")
            .option(
                "createTableColumnTypes",
                "tool VARCHAR(64), since DATE, seen TIMESTAMP",
            )
            .mode("overwrite")
            .save()
        )
        return rows

    def test_date_extraction_lookup_on_derby_dim(self, spark, derby_subs):
        loader = _loader(
            'SELECT "tool", "since", "seen" FROM subs', table="subs"
        )
        store = DimensionStore(spark, [], [(loader, make_fetcher(spark, loader))])
        store.initial_load()
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "dx",
                    "query": (
                        "SELECT year(since) AS y, month(since) AS mo, "
                        "day(since) AS dd, hour(seen) AS hh "
                        "FROM subs WHERE tool = :tool "
                        "AND day(since) <> 13"
                    ),
                    "parameters": {"tool": "tool"},
                }
            ]
        )
        fact = spark.createDataFrame(
            [("tool_a",), ("tool_b",)], ["tool"]
        )
        live = {}
        for tool, since, seen in derby_subs:
            if since.day == 13:
                continue
            live.setdefault(tool, []).append(
                (since.year, since.month, since.day,
                 seen.hour if seen is not None else None)
            )
        rows = LookupEnricher(spec, store.dims()).apply(fact).collect()
        got = {
            r["tool"]: sorted(
                (d["y"], d["mo"], d["dd"], d["hh"]) for d in r["dx"]
            )
            for r in rows
        }
        assert got == {t: sorted(v) for t, v in live.items()}


class TestDerbyDerivedTables:
    """Derived-table lookups against the Derby-loaded dim — Derby
    executes ``FROM (SELECT ...) d`` verbatim (lookup.rb:131-147);
    here the inner select materializes per refresh snapshot. Also
    verifies a RELOAD re-materializes the derived dim (new snapshot →
    new inner rows)."""

    def _store(self, spark):
        loader = _loader('SELECT "ip", "name", "location" FROM servers')
        store = DimensionStore(spark, [], [(loader, make_fetcher(spark, loader))])
        store.initial_load()
        return store

    def test_aggregate_derived_lookup_on_derby_dim(self, spark, derby_servers):
        store = self._store(spark)
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "ld",
                    "query": (
                        "SELECT n AS n, mx AS mx FROM "
                        "(SELECT location AS location, count(*) AS n, "
                        "max(name) AS mx FROM servers GROUP BY location) g "
                        "WHERE g.location = :loc"
                    ),
                    "parameters": {"loc": "loc"},
                }
            ]
        )
        rows = store.dims()["servers"].collect()
        by_loc = {}
        for r in rows:
            n, mx = by_loc.get(r["location"], (0, ""))
            by_loc[r["location"]] = (n + 1, max(mx, r["name"]))
        loc = rows[0]["location"]
        fact = spark.createDataFrame([(loc,)], ["loc"])
        (row,) = LookupEnricher(spec, store.dims()).apply(fact).collect()
        assert [(d["n"], d["mx"]) for d in row["ld"]] == [by_loc[loc]]


class TestDerbyIneqSubquery:
    """Inequality-correlated scalar subquery against the Derby-loaded
    dim (round-5 late): Derby nests the subquery per outer row; here
    it aggregates per distinct outer correlation tuple (the theta
    distinct-tuple frame) and broadcasts the result back.
    Expectations from the live Derby rows."""

    def test_rank_count_on_derby_dim(self, spark, derby_servers):
        loader = _loader('SELECT "ip", "name", "location" FROM servers')
        store = DimensionStore(spark, [], [(loader, make_fetcher(spark, loader))])
        store.initial_load()
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "rk",
                    "query": (
                        "SELECT name, "
                        "(SELECT count(*) FROM servers s2 "
                        "WHERE s2.location = servers.location "
                        "AND s2.ip < servers.ip) AS n_below "
                        "FROM servers WHERE ip LIKE :pre"
                    ),
                    "parameters": {"pre": "%{[prefix]}%"},
                }
            ]
        )
        fact = spark.createDataFrame([("e1", "")], ["event", "prefix"])
        rows = store.dims()["servers"].collect()
        live = sorted(
            (
                r["name"],
                sum(
                    1 for s in rows
                    if s["location"] == r["location"] and s["ip"] < r["ip"]
                ),
            )
            for r in rows
        )
        (row,) = LookupEnricher(spec, store.dims()).apply(fact).collect()
        assert sorted((x["name"], x["n_below"]) for x in row["rk"]) == live


class TestDerbyGrammarLegality:
    """Proof that the round-5 accepted lookup-SQL SHAPES are Derby-legal:
    each query below executes NATIVELY on embedded Derby through the
    JDBC reader (the reference would hand these to Derby verbatim,
    lookup.rb:131-147). Identifiers are quoted because the Spark JDBC
    writer creates quoted lowercase columns — the grammar shape, not
    the quoting, is what each case pins."""

    @pytest.fixture(scope="class", autouse=True)
    def _fresh_servers(self, spark, derby_servers):
        # re-seed: the module-scoped fixture seeds ONCE, and
        # test_reload_sees_remote_changes appends a 4th row earlier in
        # this module — the count assertions here pin the canonical 3
        (
            spark.createDataFrame(SERVERS_ROWS, SERVERS_SCHEMA)
            .write.format("jdbc")
            .option("url", URL)
            .option("driver", DRIVER)
            .option("dbtable", "servers")
            .option(
                "createTableColumnTypes",
                "ip VARCHAR(64), name VARCHAR(64), location VARCHAR(64)",
            )
            .mode("overwrite")
            .save()
        )

    def _fetch(self, spark, sql):
        return jdbc_fetch(
            spark, _loader(sql, table="servers")
        ).collect()

    def test_nested_exists_and_in_native(self, spark, derby_servers):
        # round-5 latest: EXISTS / correlated IN nested inside another
        # subquery's WHERE — standard SQL Derby runs natively
        rows = self._fetch(
            spark,
            'SELECT "name" FROM servers WHERE "ip" <= '
            '(SELECT max(s2."ip") FROM servers s2 WHERE EXISTS '
            '(SELECT 1 FROM servers s3 '
            'WHERE s3."location" = s2."location"))',
        )
        assert len(rows) == 3  # every row has itself as witness
        rows2 = self._fetch(
            spark,
            'SELECT "name" FROM servers WHERE "ip" >= '
            '(SELECT min(s2."ip") FROM servers s2 WHERE s2."ip" IN '
            '(SELECT s3."ip" FROM servers s3 '
            'WHERE s3."location" = s2."location"))',
        )
        assert len(rows2) == 3

    def test_corr_set_subquery_in_having_native(self, spark, derby_servers):
        # round-5 latest: correlated [NOT] IN and quantified
        # subqueries in HAVING, correlated on GROUP BY keys — Derby
        # runs them natively, pinned so the accepted grammar stays a
        # Derby subset
        rows = self._fetch(
            spark,
            'SELECT "location", max("ip") AS mx FROM servers '
            'GROUP BY "location" HAVING max("ip") IN '
            '(SELECT s2."ip" FROM servers s2 '
            'WHERE s2."location" = servers."location")',
        )
        assert len(rows) == 3  # every group's max is in its own set
        rows2 = self._fetch(
            spark,
            'SELECT "location", max("ip") AS mx FROM servers '
            'GROUP BY "location" HAVING max("ip") >= ALL '
            '(SELECT s2."ip" FROM servers s2 '
            'WHERE s2."location" = servers."location")',
        )
        assert len(rows2) == 3
        # inequality-correlated SCALAR comparand on a group key
        rows3 = self._fetch(
            spark,
            'SELECT "location", count(*) AS n FROM servers '
            'GROUP BY "location" HAVING count(*) <= '
            '(SELECT count(*) FROM servers s2 '
            'WHERE s2."location" >= servers."location")',
        )
        assert len(rows3) == 3

    def test_having_expression_lhs_native(self, spark, derby_servers):
        # round-5 latest: expression left-hand sides in HAVING are
        # standard SQL Derby runs natively — pinned so the accepted
        # grammar stays a Derby subset
        rows = self._fetch(
            spark,
            'SELECT "location", count(*) AS n FROM servers '
            'GROUP BY "location" '
            'HAVING count(*) * 2 > LENGTH("location") - 50',
        )
        assert len(rows) == 3
        rows2 = self._fetch(
            spark,
            'SELECT "location", max("ip") AS mx FROM servers '
            'GROUP BY "location" '
            "HAVING max(\"ip\") || '!' <> 'nope'",
        )
        assert len(rows2) == 3

    def test_nested_ineq_correlation_native(self, spark, derby_servers):
        # round-5 latest: INEQUALITY correlations nested inside
        # another subquery's WHERE — standard SQL Derby runs natively,
        # pinned so the accepted grammar stays a Derby subset
        rows = self._fetch(
            spark,
            'SELECT "name" FROM servers WHERE "ip" <= '
            '(SELECT max(s2."ip") FROM servers s2 WHERE EXISTS '
            '(SELECT 1 FROM servers s3 WHERE s3."ip" >= s2."ip"))',
        )
        assert len(rows) == 3  # every row has itself as witness
        rows2 = self._fetch(
            spark,
            'SELECT "name" FROM servers WHERE "ip" >= '
            '(SELECT min(s2."ip") FROM servers s2 WHERE s2."ip" IN '
            '(SELECT s3."ip" FROM servers s3 '
            'WHERE s3."ip" <= s2."ip"))',
        )
        assert len(rows2) == 3

    def test_ineq_correlated_in_native(self, spark, derby_servers):
        # round-5 latest: an inequality correlation inside an
        # IN-subquery is standard SQL Derby runs natively — pinned so
        # the accepted grammar stays a Derby subset here
        rows = self._fetch(
            spark,
            'SELECT "name" FROM servers WHERE "ip" IN '
            '(SELECT s2."ip" FROM servers s2 '
            'WHERE s2."ip" <= servers."ip")',
        )
        assert len(rows) == 3  # every row matches itself

    def test_derived_table_with_group_by_having(self, spark, derby_servers):
        rows = self._fetch(
            spark,
            'SELECT g."location" AS loc, g.n AS n FROM '
            '(SELECT "location", count(*) AS n FROM servers '
            'GROUP BY "location" HAVING count(*) >= 1) g',
        )
        assert sum(r["N"] for r in rows) == 3  # all seeded rows counted

    def test_values_table_with_column_list(self, spark, derby_servers):
        rows = self._fetch(
            spark,
            "SELECT v.tool AS tool, v.tier AS tier FROM "
            "(VALUES ('t1', 'gold'), ('t2', 'basic')) AS v (tool, tier)",
        )
        # Derby types a VALUES column CHAR(longest literal) and
        # right-pads the shorter rows — hence the strip
        assert sorted((r["TOOL"].strip(), r["TIER"].strip())
                      for r in rows) == [("t1", "gold"), ("t2", "basic")]

    def test_except_and_intersect(self, spark, derby_servers):
        exc = self._fetch(
            spark,
            'SELECT "location" FROM servers WHERE "ip" LIKE \'10.%\' '
            'EXCEPT SELECT "location" FROM servers '
            'WHERE "ip" LIKE \'192.%\'',
        )
        itc = self._fetch(
            spark,
            'SELECT "name" FROM servers INTERSECT '
            'SELECT "name" FROM servers WHERE "ip" LIKE \'10.%\'',
        )
        assert isinstance(exc, list) and isinstance(itc, list)
        assert len(itc) >= 1

    def test_parenthesized_union_with_fetch(self, spark, derby_servers):
        # raw JDBC: Spark's reader wraps queries as table subqueries,
        # and Derby does not accept an ORDER BY query expression
        # there — standalone (as the reference executes lookups,
        # lookup.rb:131-147) it is legal
        jvm = spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(URL)
        try:
            # Derby resolves a post-union ORDER BY name only when the
            # branches agree on it — hence the second branch's alias
            rs = conn.createStatement().executeQuery(
                '(SELECT "name" FROM servers) UNION '
                '(SELECT "location" AS "name" FROM servers) '
                'ORDER BY "name" FETCH FIRST 3 ROWS ONLY'
            )
            n = 0
            while rs.next():
                n += 1
            assert n == 3
        finally:
            conn.close()

    def test_math_and_sign_functions(self, spark, derby_servers):
        rows = self._fetch(
            spark,
            'SELECT SQRT(CAST(LENGTH("ip") AS DOUBLE)) AS rt, '
            'SIGN(LENGTH("name") - 5) AS sg, '
            'DEGREES(ATAN2(1.0, 1.0)) AS ang, LN(EXP(1.0)) AS one '
            "FROM servers",
        )
        assert all(abs(r["ANG"] - 45.0) < 1e-9 for r in rows)
        assert all(abs(r["ONE"] - 1.0) < 1e-12 for r in rows)

    def test_ineq_correlated_scalar_subquery(self, spark, derby_servers):
        rows = self._fetch(
            spark,
            'SELECT s."name" AS nm, '
            '(SELECT COUNT(*) FROM servers s2 '
            'WHERE s2."location" = s."location" '
            'AND s2."ip" < s."ip") AS n_below '
            "FROM servers s",
        )
        assert len(rows) == 3 and all(r["N_BELOW"] >= 0 for r in rows)

    def test_date_extraction_functions(self, spark, derby_servers):
        import datetime as dt

        (
            spark.createDataFrame(
                [("g1", dt.date(2024, 2, 29),
                  dt.datetime(2024, 3, 1, 15, 30, 45))],
                "tool string, since date, seen timestamp",
            )
            .write.format("jdbc")
            .option("url", URL)
            .option("driver", DRIVER)
            .option("dbtable", "gsubs")
            .option(
                "createTableColumnTypes",
                "tool VARCHAR(64), since DATE, seen TIMESTAMP",
            )
            .mode("overwrite")
            .save()
        )
        rows = self._fetch(
            spark,
            'SELECT YEAR("since") AS y, MONTH("since") AS mo, '
            'DAY("since") AS dd, HOUR("seen") AS hh, '
            'MINUTE("seen") AS mi, SECOND("seen") AS ss '
            'FROM gsubs WHERE DAY("since") <> 13',
        )
        assert [tuple(r) for r in rows] == [(2024, 2, 29, 15, 30, 45)]

    def test_quantified_subquery_comparisons(self, spark, derby_servers):
        # round-5 latest: <op> ALL / ANY / SOME (subquery) are Derby
        # quantified comparisons (Derby ref manual, boolean
        # expressions); correlated and uncorrelated both legal
        rows = self._fetch(
            spark,
            'SELECT s."name" AS nm FROM servers s '
            'WHERE s."ip" >= ALL (SELECT s2."ip" FROM servers s2 '
            'WHERE s2."location" = s."location") '
            'AND s."ip" <= ANY (SELECT "ip" FROM servers)',
        )
        assert len(rows) >= 1
        rows2 = self._fetch(
            spark,
            'SELECT "name" FROM servers '
            "WHERE \"ip\" > SOME (SELECT \"ip\" FROM servers "
            "WHERE \"ip\" LIKE '10.%')",
        )
        assert isinstance(rows2, list)

    def test_union_branch_aggregates_group_by_having_distinct(
        self, spark, derby_servers
    ):
        # round-5 latest: each UNION branch is a full query
        # specification on Derby — aggregates, GROUP BY, HAVING and
        # DISTINCT are branch-level; an aggregate branch with no GROUP
        # BY contributes exactly one row even over an empty match set.
        # Raw JDBC: Spark's table-subquery wrapper cannot nest this
        # union shape (as with the ORDER BY query expression above);
        # the reference executes it standalone (lookup.rb:131-147).
        jvm = spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(URL)
        try:
            rs = conn.createStatement().executeQuery(
                'SELECT "location" AS g, COUNT(*) AS n FROM servers '
                'GROUP BY "location" HAVING COUNT(*) >= 1 '
                "UNION ALL "
                'SELECT DISTINCT "name" AS g2, LENGTH("name") AS n2 '
                "FROM servers "
                "UNION ALL "
                "SELECT 'none' AS g3, COUNT(*) AS n3 FROM servers "
                "WHERE \"ip\" = 'no-such-ip'"
            )
            rows = []
            while rs.next():
                rows.append((rs.getString(1), rs.getInt(2)))
        finally:
            conn.close()
        # the empty-match aggregate branch still yields its one row
        assert ("none", 0) in rows
        assert len(rows) >= 4

    def test_group_by_with_order_by_and_fetch_offset(
        self, spark, derby_servers
    ):
        # round-5 latest: ORDER BY + FETCH/OFFSET combine with GROUP BY
        # in one SELECT on Derby (top-N-per-key), ordering by a SELECT
        # output alias of an aggregate; and OFFSET past the single row
        # of an ungrouped aggregate returns ZERO rows (so the lookup
        # default can fire). Raw JDBC: Spark's table-subquery wrapper
        # cannot nest an ORDER BY query expression (as above); the
        # reference executes lookups standalone (lookup.rb:131-147).
        jvm = spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(URL)
        try:
            rs = conn.createStatement().executeQuery(
                'SELECT "location" AS loc, COUNT(*) AS n FROM servers '
                'GROUP BY "location" '
                "ORDER BY n DESC FETCH FIRST 2 ROWS ONLY"
            )
            rows = []
            while rs.next():
                rows.append((rs.getString(1), rs.getInt(2)))
            assert 1 <= len(rows) <= 2
            assert [n for _, n in rows] == sorted(
                (n for _, n in rows), reverse=True
            )
            rs2 = conn.createStatement().executeQuery(
                "SELECT COUNT(*) AS n FROM servers OFFSET 1 ROWS"
            )
            n2 = 0
            while rs2.next():
                n2 += 1
            assert n2 == 0  # aggregate's one row skipped -> empty set
        finally:
            conn.close()

    def test_setops_inside_derived_table(self, spark, derby_servers):
        # round-5 latest: a derived table's body is a full query
        # EXPRESSION on Derby — mixed UNION ALL / EXCEPT ALL joints
        # and the multiset ALL variants are legal inside FROM (...),
        # and a parenthesized VALUES branch may join a SELECT branch
        # (column list naming the set-op output)
        ten = self._fetch(
            spark, 'SELECT "name" FROM servers WHERE "ip" LIKE \'10.%\''
        )
        rows = self._fetch(
            spark,
            'SELECT d."name" AS nm FROM '
            '(SELECT "name" FROM servers '
            'UNION ALL SELECT "name" FROM servers '
            'EXCEPT ALL SELECT "name" FROM servers '
            "WHERE \"ip\" LIKE '10.%') d",
        )
        # doubled names minus one copy per 10.%-row: 6 - |ten|
        assert len(rows) == 6 - len(ten)
        # a BARE VALUES branch is a Derby query primary (no parens);
        # the column list names the set-op output positionally
        rows2 = self._fetch(
            spark,
            'SELECT d.nm AS nm FROM (SELECT "name" FROM servers '
            "UNION ALL VALUES ('zz')) AS d (nm)",
        )
        assert len(rows2) == 4
        assert any(r["NM"].strip() == "zz" for r in rows2)

    def test_parenthesized_branch_in_derived_is_derby_superset(
        self, spark, derby_servers
    ):
        # Derby REJECTS parenthesized branches INSIDE a derived table
        # (42X01 — though it accepts them at the top level, pinned in
        # test_parenthesized_union_with_fetch), so this engine's
        # acceptance — ((SELECT ...) UNION ALL (VALUES ...)) d, with
        # branch-level ordered top-N tails — is a documented
        # standard-SQL EXTENSION: no semantics conflict is possible on
        # a query Derby cannot run
        jvm = spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(URL)
        try:
            with pytest.raises(Exception, match="42X01|Syntax"):
                conn.createStatement().executeQuery(
                    'SELECT d.nm FROM ((SELECT "name" FROM servers) '
                    'UNION ALL (SELECT "name" FROM servers)) AS d (nm)'
                )
        finally:
            conn.close()

    def test_top_level_multiset_and_mixed_setops(self, spark, derby_servers):
        # round-5 latest: the multiset ALL variants and MIXED joints
        # are Derby-legal at the TOP level of a lookup query —
        # INTERSECT binds tighter (4 rows below: A UNION ALL (B ∩ B');
        # were UNION ALL applied first, the INTERSECT would collapse
        # the result to 1 row)
        exa = self._fetch(
            spark,
            'SELECT "location" FROM servers EXCEPT ALL '
            'SELECT "location" FROM servers WHERE "ip" LIKE \'10.1%\'',
        )
        assert len(exa) == 2  # 3 rows minus ONE occurrence
        ina = self._fetch(
            spark,
            'SELECT "name" FROM servers INTERSECT ALL '
            'SELECT "name" FROM servers WHERE "ip" LIKE \'10.%\'',
        )
        assert len(ina) == 3  # min(cnt, cnt) keeps all three
        mix = self._fetch(
            spark,
            'SELECT "name" FROM servers UNION ALL '
            'SELECT "name" FROM servers WHERE "ip" LIKE \'10.1%\' '
            'INTERSECT SELECT "name" FROM servers '
            "WHERE \"ip\" LIKE '10.1%'",
        )
        assert len(mix) == 4
        ue = self._fetch(
            spark,
            'SELECT "name" FROM servers UNION '
            'SELECT "name" FROM servers EXCEPT '
            'SELECT "name" FROM servers WHERE "ip" LIKE \'10.1%\'',
        )
        assert len(ue) == 2  # left-to-right: distinct union, then minus

    def test_parenthesized_setop_groups_native(self, spark, derby_servers):
        # explicit parenthesized GROUPING of set ops — (A UNION B)
        # EXCEPT C, and a group as the RIGHT operand — is Derby-legal
        # at the top level (raw JDBC here: Spark's JDBC reader wraps
        # loader queries as SELECT * FROM (...) x, and a parenthesized
        # group INSIDE a derived table is the 42X01 quirk pinned in
        # test_parenthesized_branch_in_derived_is_derby_superset).
        # A GROUP carrying its own ORDER BY/FETCH tail, however, hits
        # a Derby-internal NullPointerException — Derby cannot run it,
        # so this engine's group-tail acceptance is a documented
        # standard-SQL EXTENSION with no semantics conflict possible.
        jvm = spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(URL)
        try:
            rs = conn.createStatement().executeQuery(
                '(SELECT "name" FROM servers UNION '
                'SELECT "name" FROM servers) EXCEPT ALL '
                'SELECT "name" FROM servers '
                "WHERE \"name\" = 'ldn-server-1'"
            )
            n = 0
            while rs.next():
                n += 1
            assert n == 2
            rs = conn.createStatement().executeQuery(
                'SELECT "name" FROM servers EXCEPT '
                '((SELECT "name" FROM servers WHERE "ip" LIKE \'10.1%\') '
                'UNION (SELECT "name" FROM servers '
                "WHERE \"ip\" LIKE '10.2%'))"
            )
            n = 0
            while rs.next():
                n += 1
            assert n == 1
        finally:
            conn.close()
        # the group-tail extension: Derby's own failure is an internal
        # NPE, not a syntax error — executed on a FRESH connection
        # because the crash poisons the current one
        conn = jvm.java.sql.DriverManager.getConnection(URL)
        try:
            with pytest.raises(Exception, match="Java exception|NullPointer"):
                conn.createStatement().executeQuery(
                    '(SELECT "name" FROM servers UNION '
                    'SELECT "name" FROM servers '
                    "ORDER BY 1 FETCH FIRST 2 ROWS ONLY) "
                    'EXCEPT SELECT "name" FROM servers'
                )
        finally:
            try:
                conn.close()
            except Exception:
                pass

    def test_intersect_binds_tighter_than_union(self, spark, derby_servers):
        # SQL precedence pinned natively: A UNION ALL (B INTERSECT B)
        # keeps all of A plus B once — were UNION ALL applied first,
        # the INTERSECT would collapse duplicates and drop non-B rows
        ten = self._fetch(
            spark, 'SELECT "name" FROM servers WHERE "ip" LIKE \'10.%\''
        )
        rows = self._fetch(
            spark,
            'SELECT d."name" AS nm FROM '
            '(SELECT "name" FROM servers '
            'UNION ALL SELECT "name" FROM servers '
            "WHERE \"ip\" LIKE '10.%' "
            'INTERSECT SELECT "name" FROM servers '
            "WHERE \"ip\" LIKE '10.%') d",
        )
        assert len(rows) == 3 + len(ten)

    def test_params_inside_expressions(self, spark, derby_servers):
        # round-5 latest: bound placeholders INSIDE expressions are
        # Derby-legal prepared-statement shapes — as an arithmetic
        # comparand, as a concatenated equi key, and as a computed
        # LIKE pattern (the reference binds and executes these per
        # event, lookup.rb:131-147)
        jvm = spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(URL)
        try:
            ps = conn.prepareStatement(
                'SELECT "name" FROM servers WHERE LENGTH("ip") > ? * 2'
            )
            ps.setInt(1, 2)
            rs = ps.executeQuery()
            n = 0
            while rs.next():
                n += 1
            assert n == 3  # every seeded ip is longer than 4 chars

            # Derby types a bare ? inside || as LONG VARCHAR, which it
            # cannot compare to VARCHAR — the Derby-legal spelling
            # wraps the param in a CAST (our grammar accepts both;
            # COVERAGE.md notes the quirk)
            ps2 = conn.prepareStatement(
                'SELECT "name" FROM servers '
                "WHERE \"ip\" = '10.' || CAST(? AS VARCHAR(16))"
            )
            ps2.setString(1, "1.1")
            rs2 = ps2.executeQuery()
            names = []
            while rs2.next():
                names.append(rs2.getString(1))
            assert len(names) == (
                1 if any(r[0] == "10.1.1" for r in SERVERS_ROWS) else len(names)
            )

            ps3 = conn.prepareStatement(
                'SELECT COUNT(*) FROM servers WHERE "ip" LIKE ? || \'%\''
            )
            ps3.setString(1, "10.")
            rs3 = ps3.executeQuery()
            rs3.next()
            assert rs3.getInt(1) >= 1
        finally:
            conn.close()

    def test_param_set_subqueries_in_having_native(self, spark, derby_servers):
        # round-5 latest: parameterized [NOT] IN / quantified / EXISTS
        # subqueries in HAVING are Derby-legal PREPARED shapes —
        # pinned so the accepted grammar stays a Derby subset
        jvm = spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(URL)
        try:
            for sql, want in [
                ('SELECT "location", max("ip") FROM servers '
                 'GROUP BY "location" HAVING max("ip") IN '
                 '(SELECT s2."ip" FROM servers s2 WHERE s2."name" = ?)',
                 None),
                ('SELECT "location", count(*) FROM servers '
                 'GROUP BY "location" HAVING count(*) >= ALL '
                 '(SELECT LENGTH(s2."ip") - 9 FROM servers s2 '
                 'WHERE s2."name" = ?)',
                 None),
                ('SELECT "location", count(*) FROM servers '
                 'GROUP BY "location" HAVING EXISTS '
                 '(SELECT 1 FROM servers s2 WHERE s2."name" = ?)',
                 None),
            ]:
                ps = conn.prepareStatement(sql)
                ps.setString(1, SERVERS_ROWS[0][1])
                rs = ps.executeQuery()
                n = 0
                while rs.next():
                    n += 1
                # grammar-legality pin: each prepared shape executes
                assert n >= 0
        finally:
            conn.close()

    def test_mixed_column_param_expressions(self, spark, derby_servers):
        # round-5 latest: expressions MIXING table columns with bound
        # placeholders in ONE rhs are Derby-legal prepared-statement
        # shapes — an arithmetic mix and a computed LIKE pattern over
        # a column and a param (lookup.rb:131-147 hands them verbatim)
        jvm = spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(URL)
        try:
            ps = conn.prepareStatement(
                'SELECT COUNT(*) FROM servers '
                'WHERE LENGTH("ip") > LENGTH("location") + ?'
            )
            ps.setInt(1, -1)
            rs = ps.executeQuery()
            rs.next()
            assert rs.getInt(1) == sum(
                1 for ip, _, loc in SERVERS_ROWS
                if len(ip) > len(loc) - 1
            )

            ps2 = conn.prepareStatement(
                'SELECT COUNT(*) FROM servers WHERE "ip" LIKE '
                "SUBSTR(\"ip\", 1, 3) || CAST(? AS VARCHAR(8)) || '%'"
            )
            ps2.setString(1, "")
            rs2 = ps2.executeQuery()
            rs2.next()
            assert rs2.getInt(1) == 3  # each ip matches its own prefix
        finally:
            conn.close()

    def test_like_escape(self, spark, derby_servers):
        # round-5 latest: LIKE ... ESCAPE 'c' — escaped wildcards
        # match literally (Derby ref manual)
        rows = self._fetch(
            spark,
            'SELECT "name" FROM servers '
            "WHERE \"ip\" LIKE '10!.%' ESCAPE '!'",
        )
        assert len(rows) == 3  # literal "10." prefix
        rows = self._fetch(
            spark,
            'SELECT "name" FROM servers '
            "WHERE \"ip\" LIKE '10!_%' ESCAPE '!'",
        )
        assert len(rows) == 0  # literal "10_" prefix matches nothing

    def test_full_trim_syntax(self, spark, derby_servers):
        # round-5 latest: Derby's full TRIM syntax —
        # TRIM([BOTH|LEADING|TRAILING] [char] FROM expr)
        rows = self._fetch(
            spark,
            "SELECT TRIM(LEADING '1' FROM \"ip\") AS t FROM servers "
            "WHERE \"ip\" LIKE '10.%'",
        )
        assert len(rows) == 3 and all(
            not r[0].startswith("1") for r in rows
        )
        rows = self._fetch(
            spark,
            'SELECT "name" FROM servers '
            "WHERE TRIM(BOTH '1' FROM \"ip\") = '0.1.1.'",
        )
        assert [r[0] for r in rows] == ["ldn-server-1"]

    def test_having_exists_correlated_on_group_key(
        self, spark, derby_servers
    ):
        # round-5 latest: [NOT] EXISTS in HAVING, correlated on a
        # grouping column, is Derby-legal — our engine rides the
        # group-constant flag into the payload as a hidden max agg
        rows = self._fetch(
            spark,
            'SELECT "location" AS loc, COUNT(*) AS n FROM servers '
            'GROUP BY "location" HAVING EXISTS '
            '(SELECT 1 FROM servers s2 WHERE '
            's2."location" = servers."location" '
            "AND s2.\"ip\" LIKE '10.%')",
        )
        assert len(rows) == 3  # every seeded location has a 10.* ip
        rows = self._fetch(
            spark,
            'SELECT "location" AS loc, COUNT(*) AS n FROM servers '
            'GROUP BY "location" HAVING NOT EXISTS '
            '(SELECT 1 FROM servers s2 WHERE '
            's2."location" = servers."location" '
            "AND s2.\"ip\" LIKE '192.%')",
        )
        assert len(rows) == 3  # none has a 192.* sibling

    def test_exists_with_two_inequality_correlations(
        self, spark, derby_servers
    ):
        # round-5 latest: SEVERAL inequality correlations in one
        # EXISTS (pareto dominance) — plain SQL, Derby-legal; our
        # engine counts the witnesses per distinct outer correlation
        # tuple
        rows = self._fetch(
            spark,
            'SELECT "name" FROM servers WHERE NOT EXISTS '
            '(SELECT 1 FROM servers s2 WHERE s2."ip" > servers."ip" '
            'AND s2."name" > servers."name")',
        )
        # seeded rows: ips ascend 10.1<10.2<10.3 while names go
        # ldn < nyc but mv-serv'r-1 < nyc; dominance on (ip, name):
        # ldn (10.1) is dominated by nyc (10.2, nyc>ldn); nyc (10.2)
        # needs ip>10.2 AND name>nyc -> mv fails the name test; mv
        # (10.3) has no higher ip — frontier = {nyc, mv}
        assert sorted(r[0] for r in rows) == ["mv-serv'r-1", "nyc-server-1"]

    def test_param_inside_subquery_where(self, spark, derby_servers):
        # round-5 latest: a bound placeholder inside a scalar
        # subquery's WHERE is a Derby-legal prepared-statement shape —
        # the reference re-executes it per event (lookup.rb:131-147);
        # our engine hoists it to a per-group aggregate frame joined
        # onto the fact by the bound param
        jvm = spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(URL)
        try:
            ps = conn.prepareStatement(
                'SELECT "name" FROM servers WHERE LENGTH("ip") >= '
                '(SELECT MAX(LENGTH("ip")) FROM servers WHERE "ip" LIKE ?)'
            )
            ps.setString(1, "10.%")
            rs = ps.executeQuery()
            n = 0
            while rs.next():
                n += 1
            assert n == 3  # all seeded ips share length 8
            # params inside [NOT] IN and quantified subqueries are
            # prepared-statement shapes too (round-5 latest)
            ps2 = conn.prepareStatement(
                'SELECT "name" FROM servers WHERE "location" IN '
                '(SELECT "location" FROM servers WHERE "ip" = ?)'
            )
            ps2.setString(1, "10.1.1.1")
            rs2 = ps2.executeQuery()
            n = 0
            while rs2.next():
                n += 1
            assert n == 1
            ps3 = conn.prepareStatement(
                'SELECT "name" FROM servers WHERE "ip" >= ALL '
                '(SELECT "ip" FROM servers WHERE "ip" LIKE ?)'
            )
            ps3.setString(1, "10.%")
            rs3 = ps3.executeQuery()
            n = 0
            while rs3.next():
                n += 1
            assert n == 1  # only the max ip satisfies >= ALL
            # a param inside a PROJECTION scalar subquery is a Derby
            # prepared-statement shape too (round-5 latest) — legal in
            # a NON-aggregate SELECT list (the aggregate combinations
            # are 42Y30/42Y35, pinned elsewhere)
            ps4 = conn.prepareStatement(
                'SELECT "name", (SELECT COUNT(*) FROM servers '
                'WHERE "location" = ?) FROM servers'
            )
            ps4.setString(1, "lga")
            rs4 = ps4.executeQuery()
            n = 0
            while rs4.next():
                assert rs4.getInt(2) >= 0
                n += 1
            assert n == 3
            # ...and a param scalar subquery as a HAVING comparand
            # (round-5 latest) is equally a prepared shape on Derby
            ps5 = conn.prepareStatement(
                'SELECT "location", COUNT(*) FROM servers '
                'GROUP BY "location" HAVING COUNT(*) >= '
                '(SELECT COUNT(*) FROM servers WHERE "location" = ?)'
            )
            ps5.setString(1, "lga")
            rs5 = ps5.executeQuery()
            n = 0
            while rs5.next():
                n += 1
            assert n >= 1
        finally:
            conn.close()

    def test_theta_param_shapes_native(self, spark, derby_servers):
        # round-5 final: the THETA-parameterized subquery shapes are
        # Derby prepared-statement shapes — a NON-equality param
        # predicate, OR around a param predicate, and an expression
        # mixing a sub column with a param, all inside a subquery WHERE
        jvm = spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(URL)
        try:
            ps = conn.prepareStatement(
                'SELECT "name" FROM servers WHERE "ip" <= '
                '(SELECT MAX("ip") FROM servers WHERE "ip" < ?)'
            )
            ps.setString(1, "10.3")
            rs = ps.executeQuery()
            n = 0
            while rs.next():
                n += 1
            assert n == 2  # ips <= max(ip < '10.3') = 10.2.1.1
            ps2 = conn.prepareStatement(
                'SELECT "name" FROM servers WHERE LENGTH("name") > '
                '(SELECT COUNT(*) FROM servers '
                'WHERE "ip" < ? OR "location" = \'lga\')'
            )
            ps2.setString(1, "10.2")
            rs2 = ps2.executeQuery()
            n = 0
            while rs2.next():
                n += 1
            assert n == 3  # every seeded name is longer than 2
            ps3 = conn.prepareStatement(
                'SELECT "name" FROM servers WHERE 0 < '
                '(SELECT COUNT(*) FROM servers s2 '
                'WHERE LENGTH(s2."ip") > LENGTH(s2."location") + ?)'
            )
            ps3.setInt(1, -2)
            rs3 = ps3.executeQuery()
            n = 0
            while rs3.next():
                n += 1
            assert n == 3  # 8 > 9-2 witnesses exist -> all rows pass
            # round-5 final: a non-equality param subquery as a HAVING
            # comparand is a Derby prepared shape too
            ps4 = conn.prepareStatement(
                'SELECT "location", COUNT(*) FROM servers '
                'GROUP BY "location" HAVING COUNT(*) >= '
                '(SELECT COUNT(*) FROM servers WHERE "ip" > ?)'
            )
            ps4.setString(1, "10.9")
            rs4 = ps4.executeQuery()
            n = 0
            while rs4.next():
                n += 1
            assert n == 3  # count(ip > '10.9') = 0 -> every group
            # ...and in a non-aggregate projection (the aggregate
            # combinations are Derby 42Y30/42Y35, pinned elsewhere —
            # ours is a documented standard-SQL extension there)
            ps5 = conn.prepareStatement(
                'SELECT "name", (SELECT MAX("ip") FROM servers '
                'WHERE "ip" < ?) FROM servers'
            )
            ps5.setString(1, "10.3")
            rs5 = ps5.executeQuery()
            n = 0
            while rs5.next():
                assert rs5.getString(2) == "10.2.1.1"
                n += 1
            assert n == 3
            # round-5 final: a MIXED alias+param expression as a
            # HAVING comparand is a Derby prepared shape too
            ps6 = conn.prepareStatement(
                'SELECT "location", COUNT(*) FROM servers '
                'GROUP BY "location" '
                'HAVING COUNT(*) >= LENGTH("location") - ?'
            )
            ps6.setInt(1, 8)
            rs6 = ps6.executeQuery()
            n = 0
            while rs6.next():
                n += 1
            assert n == 3  # 1 >= 9-8 for every 1-row location group
            # round-5 final: a param INSIDE the HAVING LHS expression
            # is a Derby prepared shape too (Derby wants the ? typed:
            # CAST pins it, same quirk as || concat)
            ps7 = conn.prepareStatement(
                'SELECT "location", COUNT(*) FROM servers '
                'GROUP BY "location" '
                'HAVING COUNT(*) * CAST(? AS INT) >= 1'
            )
            ps7.setInt(1, 2)
            rs7 = ps7.executeQuery()
            n = 0
            while rs7.next():
                n += 1
            assert n == 3
            # round-5 final: a param inside a NESTED subquery is a
            # Derby prepared shape too
            ps8 = conn.prepareStatement(
                'SELECT "name" FROM servers WHERE "ip" >= '
                '(SELECT MIN("ip") FROM servers WHERE LENGTH("ip") > '
                '(SELECT COUNT(*) FROM servers WHERE "location" = ?))'
            )
            ps8.setString(1, "lga")
            rs8 = ps8.executeQuery()
            n = 0
            while rs8.next():
                n += 1
            assert n == 3  # count=0 -> 8>0 -> min(ip) -> all ips >=
            # round-5 final: DISTINCT under every set function is
            # Derby-legal (ref manual) — though Derby allows only ONE
            # DISTINCT aggregate per SELECT ("Multiple DISTINCT
            # aggregates are not supported at this time", pinned
            # below); our engine is a documented superset there
            st9 = conn.createStatement()
            for q9, want in (
                ('SELECT SUM(DISTINCT LENGTH("ip")) FROM servers', 8),
                ('SELECT AVG(DISTINCT LENGTH("ip")) FROM servers', 8),
                ('SELECT COUNT(DISTINCT "location") FROM servers', 3),
            ):
                rs9 = st9.executeQuery(q9)
                assert rs9.next()
                assert rs9.getInt(1) == want, q9
            try:
                st9.executeQuery(
                    'SELECT SUM(DISTINCT LENGTH("ip")), '
                    'AVG(DISTINCT LENGTH("ip")) FROM servers'
                )
                raise AssertionError("Derby multiple-DISTINCT accepted?")
            except Exception as e9:
                assert "DISTINCT aggregates" in str(e9)
        finally:
            conn.close()

    def test_branch_level_tail_in_parenthesized_setop(
        self, spark, derby_servers
    ):
        # round-5 latest: a PARENTHESIZED set-op branch may carry its
        # own ORDER BY + FETCH on Derby — the branch's ordered top-N
        # is computed before the set operation; a BARE branch tail is
        # a syntax error there (and is rejected by our parser too).
        # Raw JDBC, as with the other query-expression shapes above.
        jvm = spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(URL)
        try:
            rs = conn.createStatement().executeQuery(
                '(SELECT "name" FROM servers ORDER BY "name" DESC '
                "FETCH FIRST 1 ROWS ONLY) "
                'UNION ALL (SELECT "name" FROM servers ORDER BY "name" '
                "FETCH FIRST 1 ROWS ONLY)"
            )
            rows = []
            while rs.next():
                rows.append(rs.getString(1))
            assert len(rows) == 2
            rs2 = conn.createStatement().executeQuery(
                '(SELECT "location" FROM servers ORDER BY "location" '
                "OFFSET 1 ROWS) "
                'INTERSECT SELECT "location" FROM servers'
            )
            n = 0
            while rs2.next():
                n += 1
            assert n >= 1
        finally:
            conn.close()

    def test_conversion_functions(self, spark, derby_servers):
        # round-5 latest: Derby's function-spelled casts. VARCHAR()
        # of a NON-character operand is a Derby type error (we accept
        # it as a documented superset — plain CAST semantics).
        rows = self._fetch(
            spark,
            "SELECT INTEGER('42') AS i, DOUBLE(LENGTH(\"ip\")) AS d, "
            'BIGINT(LENGTH("name")) AS b, SMALLINT(LENGTH("ip")) AS s, '
            'VARCHAR("name") AS v, DATE(\'2024-02-29\') AS dt, '
            "TIMESTAMP('2024-03-01 15:30:45') AS ts FROM servers",
        )
        assert all(r["I"] == 42 for r in rows)
        assert all(isinstance(r["D"], float) for r in rows)
        assert all(str(r["DT"]) == "2024-02-29" for r in rows)

    def test_correlated_having_subquery(self, spark, derby_servers):
        # round-5 latest: a correlated scalar subquery as a HAVING
        # comparand is Derby-legal when the correlated column is a
        # grouping column; correlating on a NON-grouping column is a
        # Derby error (our parser rejects it with the same rule)
        jvm = spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(URL)
        try:
            rs = conn.createStatement().executeQuery(
                'SELECT s."location", COUNT(*) FROM servers s '
                'GROUP BY s."location" '
                "HAVING COUNT(*) >= (SELECT COUNT(*) FROM servers s2 "
                'WHERE s2."location" = s."location" '
                "AND s2.\"ip\" LIKE '99.%')"
            )
            n = 0
            while rs.next():
                n += 1
            assert n == 3  # zero-count correlated groups all pass
            try:
                conn.createStatement().executeQuery(
                    'SELECT s."location", COUNT(*) FROM servers s '
                    'GROUP BY s."location" '
                    "HAVING COUNT(*) > (SELECT COUNT(*) FROM servers s2 "
                    'WHERE s2."ip" = s."ip")'
                )
                raised = False
            except Exception:
                raised = True  # non-grouping correlated column
            assert raised
        finally:
            conn.close()

    def test_expression_correlations(self, spark, derby_servers):
        # round-5 latest: expressions on either side of a correlation
        # equality are Derby-legal — the sub-side function, the
        # outer-side function, and both at once
        rows = self._fetch(
            spark,
            'SELECT s."name" AS nm, (SELECT COUNT(*) FROM servers s2 '
            'WHERE UCASE(s2."location") = UCASE(s."location")) AS n '
            "FROM servers s",
        )
        assert len(rows) == 3 and all(r["N"] >= 1 for r in rows)
        rows2 = self._fetch(
            spark,
            'SELECT s."name" FROM servers s WHERE EXISTS '
            "(SELECT 1 FROM servers s2 "
            'WHERE s2."location" = SUBSTR(s."location", 1) '
            'AND s2."ip" = s."ip")',
        )
        assert len(rows2) == 3

    def test_grouped_projection_subquery_is_a_derby_superset(
        self, spark, derby_servers
    ):
        # round-5 latest quirk pin: Derby REJECTS any scalar subquery
        # in the SELECT list of a grouped query (ERROR 42Y30 — its
        # grouped-projection rule admits only grouping and aggregate
        # expressions), correlated or not, even though it accepts the
        # same subquery as a HAVING comparand. The engine accepts the
        # shape as a documented standard-SQL EXTENSION (the __psq
        # column folds into the grouping) — like the GROUP-BY-alias
        # extension, no Derby-semantics conflict is possible on a
        # query Derby cannot run.
        for sql in (
            'SELECT s."location" AS loc, (SELECT count(*) FROM servers '
            's2 WHERE s2."location" = s."location") AS c, count(*) AS n '
            'FROM servers s GROUP BY s."location"',
            'SELECT s."location" AS loc, (SELECT count(*) FROM servers '
            's2) AS c, count(*) AS n FROM servers s GROUP BY s."location"',
        ):
            with pytest.raises(Exception, match="42Y30"):
                self._fetch(spark, sql)
        # ...while the HAVING spelling of the same correlation IS legal
        rows = self._fetch(
            spark,
            'SELECT s."location" AS loc, count(*) AS n FROM servers s '
            'GROUP BY s."location" HAVING count(*) >= '
            '(SELECT count(*) FROM servers s2 '
            'WHERE s2."location" = s."location")',
        )
        assert len(rows) == 3
        # ...and the GLOBAL-aggregate combination (round-5 latest,
        # no GROUP BY) is equally a Derby rejection — 42Y35, the
        # non-grouped-query flavor of the same rule — so accepting it
        # (the subquery resolves to a snapshot literal the empty-set
        # aggregate row can carry) is the same documented extension
        with pytest.raises(Exception, match="42Y35|invalid expression"):
            self._fetch(
                spark,
                'SELECT (SELECT max("ip") FROM servers) AS mx, '
                "count(*) AS n FROM servers",
            )

    def test_nested_correlated_subquery(self, spark, derby_servers):
        # round-5 latest: a scalar subquery nested inside another
        # subquery's WHERE, correlated to the ENCLOSING subquery's
        # relation — Derby executes the whole chain per outer row
        rows = self._fetch(
            spark,
            'SELECT s."name" AS nm FROM servers s '
            "WHERE EXISTS (SELECT 1 FROM servers s2 "
            'WHERE s2."location" = s."location" '
            'AND LENGTH(s2."ip") >= (SELECT MIN(LENGTH(s3."ip")) '
            'FROM servers s3 WHERE s3."location" = s2."location"))',
        )
        assert len(rows) == 3
