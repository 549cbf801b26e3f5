"""Tier-1 validation tests, mirroring the reference's unit specs
(spec/filters/jdbc/lookup_spec.rb, db_object_spec.rb, loader_spec.rb,
lookup_processor_spec.rb) — same error conditions, messages verbatim
where the reference asserts them."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from logstash_filter_jdbc_static_spark.schema import derby_type_to_spark
from logstash_filter_jdbc_static_spark.spec import (
    DEFAULT_MAX_ROWS,
    LoaderSpec,
    LocalDbObject,
    LookupSpec,
    PipelineSpec,
    ValidationError,
)


class TestLookupSpec:
    def test_query_required(self):
        lk = LookupSpec({"id": "L1"})
        assert "The options for 'L1' must include a 'query' string" in lk.option_errors

    def test_parameters_and_prepared_mutually_exclusive(self):
        # lookup_spec.rb:48-57
        lk = LookupSpec(
            {
                "id": "L1",
                "query": "select * from t where a = :a and b = ?",
                "parameters": {"a": "fa"},
                "prepared_parameters": ["fb"],
            }
        )
        assert (
            "Can't specify 'parameters' and 'prepared_parameters' in the same lookup"
            in lk.option_errors
        )

    def test_prepared_count_mismatch(self):
        # lookup_spec.rb:59-67, lookup.rb:224-235
        lk = LookupSpec(
            {
                "id": "L1",
                "query": "select * from t where a = ? and b = ?",
                "prepared_parameters": ["fa"],
            }
        )
        assert (
            "The 'prepared_parameters' option for 'L1' doesn't match count "
            "with query's placeholder" in lk.option_errors
        )

    def test_parameters_must_be_hash(self):
        lk = LookupSpec({"id": "L1", "query": "q", "parameters": ["x"]})
        assert "The 'parameters' option for 'L1' must be a Hash" in lk.option_errors

    def test_defaults(self):
        lk = LookupSpec({"query": "select * from t"}, index=2)
        assert lk.id == "lookup-3"
        assert lk.target == "lookup-3"  # target defaults to id (lookup.rb:54-60)
        assert lk.id_used_as_target
        assert lk.tag_on_failure == ["_jdbcstaticfailure"]
        assert lk.tag_on_default_use == ["_jdbcstaticdefaultsused"]
        assert not lk.use_default

    def test_global_tag_override(self):
        lk = LookupSpec(
            {"query": "q"}, {"tag_on_failure": ["boom"], "tag_on_default_use": None}
        )
        assert lk.tag_on_failure == ["boom"]
        assert lk.tag_on_default_use == ["_jdbcstaticdefaultsused"]


class TestPipelineSpecUniqueness:
    # lookup_processor_spec.rb:47-110
    def test_duplicate_ids(self):
        with pytest.raises(ValidationError) as ei:
            PipelineSpec(
                lookups=[
                    {"id": "L1", "query": "select * from t", "target": "a"},
                    {"id": "L1", "query": "select * from t", "target": "b"},
                ]
            )
        assert "Id setting must be different across all lookups" in ei.value.errors
        assert "'L1' is specified multiple times" in ei.value.errors

    def test_duplicate_targets(self):
        with pytest.raises(ValidationError) as ei:
            PipelineSpec(
                lookups=[
                    {"id": "L1", "query": "select * from t", "target": "same"},
                    {"id": "L2", "query": "select * from t", "target": "same"},
                ]
            )
        assert "Target setting must be different across all lookups" in ei.value.errors
        assert "'L1', 'L2' have the same target field setting" in ei.value.errors

    def test_id_as_target_skips_target_check(self):
        # lookup_processor.rb:86-88
        spec = PipelineSpec(
            lookups=[
                {"id": "L1", "query": "select * from t"},
                {"id": "L2", "query": "select * from t"},
            ]
        )
        assert [lk.target for lk in spec.lookups] == ["L1", "L2"]


class TestDbObject:
    def test_requires_name_and_columns(self):
        obj = LocalDbObject({})
        assert "DbObject options must include a 'name' string" in obj.option_errors
        assert (
            "DbObject options for 'unnamed' must include a 'columns' array"
            in obj.option_errors
        )

    def test_non_uniform_columns(self):
        obj = LocalDbObject({"name": "t", "columns": [["a", "int"], ["b"]]})
        assert (
            "The columns array for 't' is not uniform, it should contain "
            "arrays of two strings only" in obj.option_errors
        )

    def test_bad_index_column(self):
        # db_object_spec.rb:66-71
        obj = LocalDbObject(
            {
                "name": "t",
                "columns": [["ip", "varchar(64)"]],
                "index_columns": ["nope"],
            }
        )
        assert (
            "The index_columns element: 'nope' must be a column defined in "
            "the columns array" in obj.option_errors
        )

    def test_schema_mapping(self):
        obj = LocalDbObject(
            {
                "name": "servers",
                "columns": [
                    ["ip", "varchar(64)"],
                    ["cnt", "int"],
                    ["big", "bigint"],
                    ["amt", "decimal(10,2)"],
                    ["seen", "timestamp"],
                ],
                "index_columns": ["ip"],
            }
        )
        assert obj.valid
        assert obj.schema == T.StructType(
            [
                T.StructField("ip", T.StringType(), True),
                T.StructField("cnt", T.IntegerType(), True),
                T.StructField("big", T.LongType(), True),
                T.StructField("amt", T.DecimalType(10, 2), True),
                T.StructField("seen", T.TimestampType(), True),
            ]
        )
        assert obj.index_columns == ["ip"]


class TestLoaderSpec:
    def test_defaults(self):
        ld = LoaderSpec({"local_table": "servers", "query": "select * from ref"})
        assert ld.valid
        assert ld.id == "servers"
        assert ld.max_rows == DEFAULT_MAX_ROWS  # loader.rb:73

    def test_requires_table_and_query(self):
        ld = LoaderSpec({})
        assert "The options must include a 'local_table' string" in ld.option_errors
        assert "The options for 'None' must include a 'query' string" in ld.option_errors


class TestPluginLevelJdbcMerge:
    """add_plugin_configs (jdbc_static.rb:220-239): plugin-level jdbc_*
    settings merge into every loader, with a set plugin value OVERRIDING
    the per-loader one (the reference assigns unconditionally). This is
    the docs' own one-remote-DB-many-loaders shape
    (docs/index.asciidoc:85-131)."""

    _LOADERS = [
        {"local_table": "servers", "query": "select * from s"},
        {
            "local_table": "tools",
            "query": "select * from t",
            "jdbc_user": "loader_user",
        },
    ]

    def _spec(self, **plugin):
        return PipelineSpec(
            lookups=[
                {
                    "id": "l1",
                    "query": "SELECT name FROM servers WHERE ip = :ip",
                    "parameters": {"ip": "from_ip"},
                }
            ],
            loaders=[dict(o) for o in self._LOADERS],
            plugin_jdbc=plugin,
        )

    def test_loaders_inherit_plugin_settings(self):
        spec = self._spec(
            jdbc_connection_string="jdbc:derby:memory:x",
            jdbc_driver_class="org.apache.derby.jdbc.EmbeddedDriver",
            jdbc_user="admin",
            jdbc_password="pw",
        )
        for ld in spec.loaders:
            assert ld.jdbc_connection_string == "jdbc:derby:memory:x"
            assert ld.jdbc_driver_class == "org.apache.derby.jdbc.EmbeddedDriver"
            assert ld.jdbc_password == "pw"
        # plugin value wins over the per-loader one (unconditional assign)
        assert spec.loaders[1].jdbc_user == "admin"

    def test_per_loader_value_survives_when_plugin_unset(self):
        spec = self._spec(jdbc_connection_string="jdbc:derby:memory:x")
        assert spec.loaders[0].jdbc_user is None
        assert spec.loaders[1].jdbc_user == "loader_user"

    def test_from_json_reads_top_level_keys(self):
        spec = PipelineSpec.from_json(
            {
                "jdbc_driver_class": "org.apache.derby.jdbc.EmbeddedDriver",
                "jdbc_connection_string": "jdbc:derby:memory:y",
                "jdbc_driver_library": "/opt/jars/derby.jar",
                "loaders": [dict(o) for o in self._LOADERS],
                "local_lookups": [
                    {
                        "id": "l1",
                        "query": "SELECT name FROM servers WHERE ip = :ip",
                        "parameters": {"ip": "from_ip"},
                    }
                ],
            }
        )
        for ld in spec.loaders:
            assert ld.jdbc_connection_string == "jdbc:derby:memory:y"
            # accepted for config parity; jars ship via --jars on Spark
            assert ld.jdbc_driver_library == "/opt/jars/derby.jar"

    def test_non_string_plugin_value_is_an_error(self):
        with pytest.raises(ValidationError, match="jdbc_user.*must be a string"):
            self._spec(jdbc_user=42)


class TestLoaderScheduleOption:
    """loader_schedule is a first-class plugin option
    (jdbc_static.rb:80-85) validated eagerly like the rest
    (loader_schedule.rb:48-62)."""

    _LOOKUPS = [
        {
            "id": "l1",
            "query": "SELECT name FROM servers WHERE ip = :ip",
            "parameters": {"ip": "from_ip"},
        }
    ]

    def test_valid_cron_accepted(self):
        spec = PipelineSpec(lookups=self._LOOKUPS, loader_schedule="0 2 * * *")
        assert spec.loader_schedule == "0 2 * * *"

    def test_invalid_cron_is_aggregated_error(self):
        with pytest.raises(ValidationError, match="loader_schedule option is invalid"):
            PipelineSpec(lookups=self._LOOKUPS, loader_schedule="not a cron")

    def test_unsatisfiable_cron_rejected_at_validation(self):
        """'0 0 31 2 *' (Feb 31) parses but never fires; it must fail HERE,
        not kill the reload thread on its first tick."""
        with pytest.raises(ValidationError, match="never fires"):
            PipelineSpec(lookups=self._LOOKUPS, loader_schedule="0 0 31 2 *")

    def test_from_json_reads_key(self):
        spec = PipelineSpec.from_json(
            {"local_lookups": self._LOOKUPS, "loader_schedule": "*/30 * * * * *"}
        )
        assert spec.loader_schedule == "*/30 * * * * *"


class TestEngineOptions:
    """The engine has no physical-plan options: a config that still
    carries an ``engine`` block fails at register time instead of
    silently losing the setting it was written for."""

    _LOOKUPS = [
        {
            "id": "l1",
            "query": "SELECT name FROM servers WHERE ip = :ip",
            "parameters": {"ip": "from_ip"},
        }
    ]

    @pytest.mark.parametrize(
        "engine",
        [{"pattern_strategy": "shuffle_map"}, {"inline_threshold": 0}, {}, "fast"],
    )
    def test_from_json_rejects_engine_block(self, engine):
        with pytest.raises(ValidationError, match="'engine' option"):
            PipelineSpec.from_json(
                {"local_lookups": self._LOOKUPS, "engine": engine}
            )

    def test_from_json_file_rejects_engine_block(self, tmp_path):
        import json

        cfg = tmp_path / "pipeline.json"
        cfg.write_text(json.dumps({
            "local_lookups": self._LOOKUPS,
            "engine": {"pattern_strategy": "auto"},
        }))
        with pytest.raises(ValidationError, match="'engine' option"):
            PipelineSpec.from_json(str(cfg))
        cfg.write_text(json.dumps({"local_lookups": self._LOOKUPS}))
        assert [lk.id for lk in PipelineSpec.from_json(str(cfg)).lookups] == ["l1"]

    def test_constructor_takes_no_engine_option(self):
        with pytest.raises(TypeError):
            PipelineSpec(lookups=self._LOOKUPS, engine={})
        assert not hasattr(PipelineSpec(lookups=self._LOOKUPS), "pattern_strategy")


class TestIndexColumnWarnings:
    """index_columns informs the physical lookup key: an empty
    declaration warns at dim build (read_write_database.rb:41-43,
    message verbatim), and a lookup probing a non-indexed column warns
    at compile."""

    def test_uncovered_lookup_column_warns(self, caplog, spark):
        import logging

        from logstash_filter_jdbc_static_spark.operators.processor import (
            LookupEnricher,
        )
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "srv",
                    "query": "SELECT name FROM servers WHERE name = :n",
                    "parameters": {"n": "tool"},
                }
            ],
            db_objects=[
                {
                    "name": "servers",
                    "columns": [["ip", "varchar(64)"], ["name", "varchar(64)"]],
                    "index_columns": ["ip"],
                }
            ],
        )
        dim = spark.createDataFrame([("1.1.1.1", "a")], "ip string, name string")
        with caplog.at_level(logging.WARNING, "logstash_filter_jdbc_static_spark"):
            LookupEnricher(spec, {"servers": dim})
        assert any(
            "no index on lookup column" in r.message and "'srv'" in r.message
            for r in caplog.records
        )

    def test_indexed_lookup_column_is_silent(self, caplog, spark):
        import logging

        from logstash_filter_jdbc_static_spark.operators.processor import (
            LookupEnricher,
        )
        spec = PipelineSpec(
            lookups=[
                {
                    "id": "srv",
                    "query": "SELECT name FROM servers WHERE ip = :ip",
                    "parameters": {"ip": "tool"},
                }
            ],
            db_objects=[
                {
                    "name": "servers",
                    "columns": [["ip", "varchar(64)"], ["name", "varchar(64)"]],
                    "index_columns": ["ip"],
                }
            ],
        )
        dim = spark.createDataFrame([("1.1.1.1", "a")], "ip string, name string")
        with caplog.at_level(logging.WARNING, "logstash_filter_jdbc_static_spark"):
            LookupEnricher(spec, {"servers": dim})
        assert not any("no index" in r.message for r in caplog.records)

    def test_literal_predicate_column_does_not_warn(self, caplog, spark):
        """A constant filter (status = 'active') is a dim-side predicate,
        not a lookup key — it must not trigger the no-index warning."""
        import logging

        from logstash_filter_jdbc_static_spark.operators.processor import (
            LookupEnricher,
        )

        spec = PipelineSpec(
            lookups=[
                {
                    "id": "srv",
                    "query": "SELECT name FROM servers "
                             "WHERE ip = :ip AND status = 'active'",
                    "parameters": {"ip": "tool"},
                }
            ],
            db_objects=[
                {
                    "name": "servers",
                    "columns": [["ip", "varchar(64)"], ["name", "varchar(64)"],
                                ["status", "varchar(16)"]],
                    "index_columns": ["ip"],
                }
            ],
        )
        dim = spark.createDataFrame(
            [("1.1.1.1", "a", "active")], "ip string, name string, status string"
        )
        with caplog.at_level(logging.WARNING, "logstash_filter_jdbc_static_spark"):
            LookupEnricher(spec, {"servers": dim})
        assert not any("no index" in r.message for r in caplog.records)

    def test_empty_index_columns_warns_at_build(self, caplog, spark):
        import logging

        from logstash_filter_jdbc_static_spark.plans.refresh import (
            DimensionStore,
        )
        store = DimensionStore(
            spark,
            [LocalDbObject({"name": "servers",
                            "columns": [["ip", "varchar(64)"]]})],
            [],
        )
        with caplog.at_level(logging.WARNING, "logstash_filter_jdbc_static_spark"):
            store.initial_load()
        assert any(
            "`index_columns` is optional but on larger datasets" in r.message
            for r in caplog.records
        )


class TestDerbyTypes:
    @pytest.mark.parametrize(
        "derby,expected",
        [
            ("varchar(64)", T.StringType()),
            ("text", T.StringType()),
            ("int", T.IntegerType()),
            ("INTEGER", T.IntegerType()),
            ("bigint", T.LongType()),
            ("double", T.DoubleType()),
            ("boolean", T.BooleanType()),
            ("date", T.DateType()),
            ("numeric(5)", T.DecimalType(5, 0)),
        ],
    )
    def test_map(self, derby, expected):
        assert derby_type_to_spark(derby) == expected

    def test_unknown_type(self):
        with pytest.raises(ValueError):
            derby_type_to_spark("geometry")
