"""Pipeline specification + validation.

Mirrors the reference's ``Validatable`` framework
(lib/logstash/filters/jdbc/validatable.rb:4-45) and the per-class
``parse_options`` rules, with error messages kept verbatim where the
reference's specs assert them:

- lookup options         lib/logstash/filters/jdbc/lookup.rb:202-251
- lookup-set uniqueness  lib/logstash/filters/jdbc/lookup_processor.rb:73-98
- db objects / columns   lib/logstash/filters/jdbc/db_object.rb:48-99,
                         lib/logstash/filters/jdbc/column.rb:21-37
- loaders                lib/logstash/filters/jdbc/loader.rb:53-117

Specs are plain dataclass-ish objects validated eagerly (the reference
fails fast at plugin ``register``, jdbc_static.rb:126-145).
"""

from __future__ import annotations

import json
import re
from typing import Any

from pyspark.sql import types as T

from logstash_filter_jdbc_static_spark.schema import columns_to_struct

DEFAULT_TAG_ON_FAILURE = ["_jdbcstaticfailure"]
DEFAULT_TAG_ON_DEFAULT_USE = ["_jdbcstaticdefaultsused"]
DEFAULT_MAX_ROWS = 1_000_000  # loader.rb:73

_SPRINTF_RE = re.compile(r"%\{([^}]+)\}")
# :named placeholders in lookup SQL (lookup.rb's Sequel named-param style).
_NAMED_PARAM_RE = re.compile(r"(?<!:):([A-Za-z_][A-Za-z0-9_]*)")


class ValidationError(ValueError):
    """Aggregated spec errors (== Validatable#formatted_errors)."""

    def __init__(self, errors: list[str]):
        self.errors = list(errors)
        super().__init__("; ".join(self.errors))


class _Validatable:
    def __init__(self, options: Any):
        self.option_errors: list[str] = []
        self.options = options
        self.parse_options()
        self.valid = not self.option_errors

    def parse_options(self) -> None:  # pragma: no cover - overridden
        raise NotImplementedError

    @property
    def formatted_errors(self) -> str:
        return ", ".join(self.option_errors)

    def raise_if_invalid(self) -> None:
        if not self.valid:
            raise ValidationError(self.option_errors)


class LocalDbObject(_Validatable):
    """A declared local dimension table (== ``local_db_objects`` entry,
    db_object.rb:48-99). ``index_columns`` marks the broadcast-join key."""

    def parse_options(self) -> None:
        options = self.options
        if not isinstance(options, dict):
            self.option_errors.append("DbObject options must be a Hash")
            return
        self.name = options.get("name")
        if not isinstance(self.name, str) or not self.name:
            self.option_errors.append("DbObject options must include a 'name' string")
            self.name = "unnamed"
        self.preserve_existing = options.get("preserve_existing", False) in (True, "true")
        columns_options = options.get("columns")
        self.columns: list[tuple[str, str]] = []
        self.schema: T.StructType | None = None
        column_names: list[str] = []
        if isinstance(columns_options, list) and columns_options:
            sizes = {len(c) if isinstance(c, (list, tuple)) else -1 for c in columns_options}
            if sizes == {2}:
                try:
                    self.schema = columns_to_struct(columns_options)
                    self.columns = [(str(n), str(t)) for n, t in columns_options]
                    column_names = [n for n, _ in self.columns]
                except ValueError as e:
                    self.option_errors.append(str(e))
            else:
                self.option_errors.append(
                    f"The columns array for '{self.name}' is not uniform, "
                    "it should contain arrays of two strings only"
                )
        else:
            self.option_errors.append(
                f"DbObject options for '{self.name}' must include a 'columns' array"
            )
        self.index_columns: list[str] = []
        for option in options.get("index_columns", []) or []:
            if isinstance(option, str) and option in column_names:
                self.index_columns.append(option)
            else:
                self.option_errors.append(
                    f"The index_columns element: '{option}' must be a column "
                    "defined in the columns array"
                )


class LoaderSpec(_Validatable):
    """A remote-fetch spec (== ``loaders`` entry, loader.rb:53-117).

    ``query`` runs against the remote source; ``max_rows`` guards the
    broadcast build side (loader.rb:23-31: COUNT pre-check, empty set if
    0 or > max_rows)."""

    def parse_options(self) -> None:
        options = self.options if isinstance(self.options, dict) else {}
        self.table = options.get("local_table")
        if not isinstance(self.table, str) or not self.table:
            self.option_errors.append("The options must include a 'local_table' string")
        self.id = options.get("id", self.table)
        self.query = options.get("query")
        if not isinstance(self.query, str) or not self.query:
            self.option_errors.append(
                f"The options for '{self.table}' must include a 'query' string"
            )
        max_rows = options.get("max_rows")
        if max_rows is None:
            self.max_rows = DEFAULT_MAX_ROWS
        else:
            try:
                self.max_rows = int(max_rows)
            except (TypeError, ValueError):
                self.option_errors.append(
                    f"The 'max_rows' option for '{self.table}' must be an integer"
                )
                self.max_rows = DEFAULT_MAX_ROWS
        # jdbc_driver_library is accepted for config parity
        # (loader.rb:76-81) but carries no classloader behavior here:
        # on Spark the driver jar ships via --jars/--packages, so the
        # value is recorded for operator visibility only.
        # staging_directory is accepted and ignored (A4 bulk-CSV staging
        # is obsolete in this engine — dims load directly; COVERAGE.md).
        for key in (
            "jdbc_driver_class", "jdbc_connection_string", "jdbc_user",
            "jdbc_password", "jdbc_driver_library", "staging_directory",
        ):
            val = options.get(key)
            if val is not None and not isinstance(val, str):
                self.option_errors.append(
                    f"The '{key}' option for '{self.table}' must be a string"
                )
            setattr(self, key, val)


class LookupSpec(_Validatable):
    """One enrichment lookup (== ``local_lookups`` entry, lookup.rb:202-251).

    Exactly one binding style:
    - ``parameters``: {placeholder: event-field or "%{...}" template}
      (named :sym placeholders, lookup.rb:9-35, 198-200)
    - ``prepared_parameters``: [event-field, ...] for ``?`` positional
      placeholders; count must match (lookup.rb:224-235)
    """

    def __init__(self, options: Any, globals_: dict | None = None, index: int = 0):
        self._globals = globals_ or {}
        self._index = index
        super().__init__(options)

    def parse_options(self) -> None:
        options = self.options if isinstance(self.options, dict) else {}
        # id defaults to "lookup-<n>" (the plugin inherits Logstash's
        # auto-id); target defaults to id (lookup.rb:54-60).
        self.id = options.get("id") or f"lookup-{self._index + 1}"
        self.query: str = options.get("query")
        if not isinstance(self.query, str) or not self.query:
            self.option_errors.append(
                f"The options for '{self.id}' must include a 'query' string"
            )
            self.query = ""
        self.parameters: dict[str, str] | None = None
        self.prepared_parameters: list[str] | None = None
        self.parameters_specified = False
        if options.get("parameters") and options.get("prepared_parameters"):
            self.option_errors.append(
                "Can't specify 'parameters' and 'prepared_parameters' in the same lookup"
            )
        elif options.get("parameters") is not None:
            if not isinstance(options["parameters"], dict):
                self.option_errors.append(
                    f"The 'parameters' option for '{self.id}' must be a Hash"
                )
            else:
                self.parameters = dict(options["parameters"])
                self.parameters_specified = bool(self.parameters)
        elif options.get("prepared_parameters") is not None:
            pp = options["prepared_parameters"]
            if not isinstance(pp, list):
                self.option_errors.append(
                    f"The 'prepared_parameters' option for '{self.id}' must be an Array"
                )
            elif self.query.count("?") != len(pp):
                self.option_errors.append(
                    f"The 'prepared_parameters' option for '{self.id}' doesn't "
                    "match count with query's placeholder"
                )
            else:
                self.prepared_parameters = list(pp)
                self.parameters_specified = bool(pp)
        self.target: str = options.get("target") or self.id
        self.id_used_as_target = options.get("target") is None
        default_hash = options.get("default_hash")
        self.default_hash: dict | None = dict(default_hash) if default_hash else None
        self.use_default = self.default_hash is not None
        self.tag_on_failure: list[str] = list(
            options.get("tag_on_failure")
            or self._globals.get("tag_on_failure")
            or DEFAULT_TAG_ON_FAILURE
        )
        self.tag_on_default_use: list[str] = list(
            options.get("tag_on_default_use")
            or self._globals.get("tag_on_default_use")
            or DEFAULT_TAG_ON_DEFAULT_USE
        )

    @property
    def named_placeholders(self) -> list[str]:
        return _NAMED_PARAM_RE.findall(self.query)

    @property
    def use_prepared_statement(self) -> bool:
        return self.prepared_parameters is not None


def is_sprintf(value: str) -> bool:
    """True if the binding is a %{...} template (Sprintfier, lookup.rb:9-21),
    else a direct field get (Getfier, lookup.rb:23-35)."""
    return bool(_SPRINTF_RE.search(value))


def sprintf_fields(value: str) -> list[str]:
    return _SPRINTF_RE.findall(value)


class PipelineSpec:
    """Whole-pipeline spec == the plugin config (jdbc_static.rb:19-96).

    Validates eagerly, including cross-lookup id/target uniqueness
    (lookup_processor.rb:73-98).
    """

    # Plugin-level JDBC settings that merge into every loader
    # (add_plugin_configs, jdbc_static.rb:220-239): set once at plugin
    # level, inherited by all loaders; a set plugin value OVERRIDES the
    # per-loader one, exactly as the reference's unconditional assigns do.
    PLUGIN_JDBC_KEYS = (
        "jdbc_driver_library", "jdbc_driver_class", "jdbc_connection_string",
        "jdbc_user", "jdbc_password", "staging_directory",
    )

    def __init__(
        self,
        lookups: list[dict],
        db_objects: list[dict] | None = None,
        loaders: list[dict] | None = None,
        tag_on_failure: list[str] | None = None,
        tag_on_default_use: list[str] | None = None,
        plugin_jdbc: dict | None = None,
        loader_schedule: str | None = None,
    ):
        globals_ = {
            "tag_on_failure": tag_on_failure,
            "tag_on_default_use": tag_on_default_use,
        }
        errors: list[str] = []
        # loader_schedule validates eagerly like every other option
        # (loader_schedule.rb:48-62 wraps cron-parse failures into the
        # aggregated error list); the parsed value drives
        # RepeatingLoadRunner for long-running/streaming pipelines, while
        # a one-shot batch run is a SingleLoadRunner by construction
        # (jdbc_static.rb:189-204's runner choice).
        self.loader_schedule = loader_schedule
        if loader_schedule is not None:
            from logstash_filter_jdbc_static_spark.plans.schedule import (
                parse_schedule,
            )

            try:
                parse_schedule(loader_schedule)
            except ValueError as e:
                errors.append(str(e))
        plugin_jdbc = {
            k: v
            for k, v in (plugin_jdbc or {}).items()
            if k in self.PLUGIN_JDBC_KEYS and v is not None
        }
        self.db_objects = [LocalDbObject(o) for o in (db_objects or [])]
        self.loaders = [
            LoaderSpec({**o, **plugin_jdbc} if isinstance(o, dict) else o)
            for o in (loaders or [])
        ]
        self.lookups = [LookupSpec(o, globals_, i) for i, o in enumerate(lookups)]
        for obj in [*self.db_objects, *self.loaders, *self.lookups]:
            errors.extend(obj.option_errors)
        errors.extend(self._validate_lookups())
        if errors:
            raise ValidationError(errors)

    @classmethod
    def from_json(cls, source: str | dict) -> "PipelineSpec":
        """Build from a JSON config file (or pre-parsed dict) carrying the
        plugin's config surface 1:1: ``local_lookups``,
        ``local_db_objects``, ``loaders``, ``tag_on_failure``,
        ``tag_on_default_use`` (jdbc_static.rb:19-96), the plugin-level
        ``jdbc_*`` connection settings that every loader inherits
        (add_plugin_configs, jdbc_static.rb:220-239 — the docs' own
        one-remote-DB-many-loaders shape, docs/index.asciidoc:85-131),
        plus the pipeline-level parse keys ``grok`` / ``grok_required``
        consumed by job.py.

        A config carrying an ``engine`` block is rejected: the engine
        has no physical-plan options (every lookup runs one plan, as the
        reference runs one prepared statement), and dropping the block
        silently would lose the setting it was written for."""
        if isinstance(source, dict):
            cfg = source
        else:
            with open(source) as f:
                cfg = json.load(f)
        if "engine" in cfg:
            raise ValidationError(
                ["The 'engine' option is not supported: lookups take no "
                 "physical-plan options (remove the 'engine' block)"]
            )
        return cls(
            lookups=cfg.get("local_lookups", cfg.get("lookups", [])),
            db_objects=cfg.get("local_db_objects"),
            loaders=cfg.get("loaders"),
            tag_on_failure=cfg.get("tag_on_failure"),
            tag_on_default_use=cfg.get("tag_on_default_use"),
            plugin_jdbc={k: cfg.get(k) for k in cls.PLUGIN_JDBC_KEYS},
            loader_schedule=cfg.get("loader_schedule"),
        )

    def _validate_lookups(self) -> list[str]:
        """Uniqueness rules, messages verbatim (lookup_processor.rb:73-98)."""
        errors: list[str] = []
        id_counts: dict[str, int] = {}
        for lk in self.lookups:
            id_counts[lk.id] = id_counts.get(lk.id, 0) + 1
        dup_errors = [
            f"'{id_}' is specified multiple times" for id_, c in id_counts.items() if c > 1
        ]
        if dup_errors:
            errors.append("Id setting must be different across all lookups")
            errors.extend(dup_errors)
        targets: dict[str, list[str]] = {}
        for lk in self.lookups:
            if lk.id_used_as_target:
                continue
            targets.setdefault(lk.target, []).append(lk.id)
        tgt_errors = [
            "'" + "', '".join(ids) + "' have the same target field setting"
            for _, ids in targets.items()
            if len(ids) > 1
        ]
        if tgt_errors:
            errors.append("Target setting must be different across all lookups")
            errors.extend(tgt_errors)
        return errors
