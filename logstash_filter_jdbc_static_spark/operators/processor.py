"""Multi-lookup composition == LookupProcessor#enhance
(lookup_processor.rb:46-48) + the plugin's matched gate
(jdbc_static.rb:154-157).

All lookups are applied "sequentially" in spec order — in Spark that is a
chain of narrow enrichments over one DataFrame, compiled into a single
Catalyst plan. Tags are appended (never overwritten, dedup like
LogStash::Event#tag) in lookup order: per-lookup failure tags, then
default-use tags (lookup.rb:119-129).
"""

from __future__ import annotations

import copy
import logging

from pyspark.sql import DataFrame, functions as F, types as T

from logstash_filter_jdbc_static_spark.operators.lookup import (
    CompiledLookup,
    CompiledUnionLookup,
    build_join_dim,
    extract_derived_tables,
    is_setop_query,
    materialize_derived,
    parse_lookup_query,
    resolve_subqueries_with_dim,
)
from logstash_filter_jdbc_static_spark.spec import PipelineSpec, ValidationError

MATCHED_COL = "matched"
TAGS_COL = "tags"

logger = logging.getLogger("logstash_filter_jdbc_static_spark")


def _check_index_coverage(spec: PipelineSpec, compiled: "list[CompiledLookup]") -> None:
    """Verify each lookup's predicate columns against the table's
    declared ``index_columns`` (db_object.rb index declaration). In this
    engine the declaration maps to the broadcast-join key: an equi
    lookup whose key column IS declared confirms the physical plan the
    user asked for; a predicate column missing from a non-empty
    declaration earns the reference's no-index-on-lookup-column
    performance warning (read_write_database.rb:41-43 adapted per
    lookup)."""
    declared = {o.name: o.index_columns for o in spec.db_objects}
    for cl in compiled:
        if cl.query.joins:
            # derived-dim lookup: flat column names no longer correspond
            # to any single table's index declaration
            continue
        table = cl.query.table
        idx = declared.get(table)
        if not idx:
            continue  # empty declaration already warned at dim build
        # literal-only predicates are dim-side constant filters, never
        # lookup keys — only parameter-bound columns drive the per-row
        # probe the index declaration is about
        pred_cols = [
            p.dim_column for p in cl.query.predicates if p.param_names
        ]
        uncovered = [c for c in pred_cols if c not in idx]
        if uncovered:
            logger.warning(
                "lookup '%s': no index on lookup column(s) %s of table "
                "'%s' (declared index_columns: %s) — on larger datasets "
                "the lookup key should be the indexed column",
                cl.spec.id, uncovered, table, idx,
            )


class LookupEnricher:
    """Compiles every lookup in a PipelineSpec against its dimension
    DataFrame and applies them as one chained transformation.

    ``dim_rows`` is accepted and ignored: no plan choice reads a row
    count any more, but existing callers still pass it."""

    def __init__(
        self,
        spec: PipelineSpec,
        dims: dict[str, DataFrame],
        dim_rows: dict[str, int] | None = None,
    ):
        self.spec = spec
        self.compiled: list[CompiledLookup] = []
        for lk in spec.lookups:
            # Derived tables (round-5 late): each FROM/JOIN (SELECT ...)
            # materializes ONCE per snapshot as its own dimension; the
            # outer query then compiles over the synthetic table name
            # on the unchanged machinery (union branches included)
            new_q, derived = extract_derived_tables(lk.query)
            lk_dims = dims
            if derived:
                lk = copy.copy(lk)
                lk.query = new_q
                lk_dims = dict(dims)
                for dt_name, dt_inner, dt_cols in derived:
                    lk_dims[dt_name] = materialize_derived(
                        dt_inner, dims, dt_cols
                    )

            if is_setop_query(lk.query):
                # set ops (UNION/EXCEPT/INTERSECT [ALL], mixed under SQL
                # precedence): each leaf compiles against its own dim;
                # the set-op wrapper shares this spec's binding/target/
                # default machinery across branches
                self.compiled.append(CompiledUnionLookup(lk, lk_dims))
                continue
            parsed = parse_lookup_query(lk.query)
            # Scalar subqueries resolve here — the one site with the
            # full table dict in scope (they may aggregate a DIFFERENT
            # dim than the one being probed) — once per compile/refresh
            # snapshot. Correlated subqueries left-join their per-group
            # aggregate/flag onto the probed dim; in join queries that
            # is the DERIVED dim, so the flat rewrite runs first and
            # the correlation keys resolve to flat names (round-5).
            if parsed.joins:
                # Multi-table lookup: pre-join the dims into one derived
                # dimension at compile/refresh time (dim-sized work, once
                # per snapshot) and compile against the flat rewrite.
                dim_df, parsed = build_join_dim(parsed, lk_dims)
                parsed, dim_df = resolve_subqueries_with_dim(
                    parsed, lk_dims, dim_df
                )
            else:
                if parsed.table not in lk_dims:
                    raise ValidationError(
                        [f"lookup '{lk.id}' references unknown local table "
                         f"'{parsed.table}'"]
                    )
                dim_df = lk_dims[parsed.table]
                parsed, dim_df = resolve_subqueries_with_dim(
                    parsed, lk_dims, dim_df
                )
            self.compiled.append(
                CompiledLookup(lk, dim_df, parsed_query=parsed)
            )
        _check_index_coverage(spec, self.compiled)

    def apply(self, fact: DataFrame, drop_status: bool = True) -> DataFrame:
        df = fact
        if TAGS_COL not in df.columns:
            df = df.withColumn(TAGS_COL, F.array().cast(T.ArrayType(T.StringType())))
        status_cols: list[str] = []
        ok_cols: list[str] = []
        for cl in self.compiled:
            df = cl.apply(df)
            sid = cl.spec.id
            failed, default_used, ok = (
                f"__{sid}_failed", f"__{sid}_default_used", f"__{sid}_ok",
            )
            # tag ordering: failure tags then default tags, per lookup
            # (lookup.rb:88-99 calls tag_failure / tag_default in sequence)
            tags = F.col(TAGS_COL)
            if cl.spec.tag_on_failure:
                tags = F.when(
                    F.col(failed),
                    F.array_union(tags, F.array(*[F.lit(t) for t in cl.spec.tag_on_failure])),
                ).otherwise(tags)
            if cl.spec.tag_on_default_use:
                tags = F.when(
                    F.col(default_used),
                    F.array_union(
                        tags, F.array(*[F.lit(t) for t in cl.spec.tag_on_default_use])
                    ),
                ).otherwise(tags)
            df = df.withColumn(TAGS_COL, tags)
            status_cols += [failed, default_used]
            ok_cols.append(ok)
        matched = F.lit(True)
        for c in ok_cols:
            matched = matched & F.col(c)
        df = df.withColumn(MATCHED_COL, matched)
        if drop_status:
            df = df.drop(*status_cols, *ok_cols)
        return df
