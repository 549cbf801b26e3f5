"""The core enrichment operator: cached-dimension lookup as Spark joins.

Reference semantics being reproduced (all cited file:line into
/root/reference/lib/logstash/filters/jdbc/):

- A5 point/pattern lookup: per event, bind fields into lookup SQL, run
  against local Derby, collect all rows as array of hashes
  (lookup.rb:83-104, 131-156, 158-183).
- A6 named :param binding via Getfier (direct field) / Sprintfier
  (%{...} template) (lookup.rb:9-35, 198-200).
- A7 prepared ? positional binding (lookup.rb:106-115, 224-235).
- A8 invalid parameters: sprintf found no field, or field is
  nil/Hash/Array (lookup.rb:14-21, 28-35); SQL errors mark failed
  (lookup.rb:148-152).
- A9 tag_on_failure (lookup.rb:88-91, 119-123), A10 default_hash +
  tag_on_default_use on valid-but-empty (lookup.rb:93-99, 125-129),
  A11 target write as deep-cloned array-of-hashes (lookup.rb:144-147,
  185-188), A12 sequential multi-lookup with all-valid => matched
  (lookup_processor.rb:46-48, jdbc_static.rb:154-157).

Spark-first physical design (NOT a port of the Derby execution path):

- **Equi lookups** (``WHERE k = :p [AND k2 = :p2]``): the dimension is
  pre-grouped by join key into one ``array<struct>`` row per key, then
  LEFT-joined with an explicit ``F.broadcast`` hint.  The fact side never
  shuffles, never fans out, and needs no regroup — this is the 100 TB
  path.  The dim-side groupBy is bounded by ``max_rows`` (loader.rb:73).
- **Pattern/theta lookups** (``WHERE k LIKE :p``, other non-equi ops),
  whatever the dim's size, are probed per DISTINCT parameter tuple —
  one prepared-statement path, as the reference runs every lookup
  against its Derby table (lookup.rb:131-156): the slim tuple projection is
  ``distinct()``-ed (the only shuffle, a few small columns), theta-joined
  once against the broadcast dim, aggregated into a tuple->payload map,
  and the map is broadcast back onto the untouched fact with a null-safe
  hash join.  The fact side never shuffles and never fans out, and the
  theta probe runs |distinct tuples| x |dim| times instead of
  |fact| x |dim| — the decisive ratio at 10^12 turns, where parameter
  tuples come from low-cardinality fields (tool/server names).  The BNLJ
  cost stays bounded by ``max_rows`` exactly as the reference's Derby
  table scan is.  The map is always broadcast: a lookup whose distinct
  tuples outgrow the driver's broadcast capacity fails with Spark's
  broadcast error rather than shuffling the fact.
- **WHERE surface** (round 3): the reference hands lookup SQL verbatim
  to Derby (lookup.rb:131-147), so ``parse_lookup_query`` accepts the
  full single-table predicate grammar — comparison ops, ``[NOT] LIKE``
  / ``IN`` / ``BETWEEN``, ``IS [NOT] NULL``, AND/OR/parens, optional
  ``func(col)`` lhs wrappers and table-qualified columns — normalized
  to OR-of-conjunctions and compiled onto the same two paths (exact
  grammar + physical mapping: COVERAGE.md §2B), plus the result-shape
  tail — ``SELECT DISTINCT``, ``ORDER BY`` (Derby null-largest
  semantics, sort keys need not be projected), ``LIMIT`` / ``FETCH
  FIRST n ROWS ONLY`` / ``OFFSET n ROWS`` — and aggregate projections
  (``count(*) | count[(DISTINCT)] | sum | min | max | avg ... AS
  alias``, exactly one payload row even over an empty match set). All
  of it computes dim-side on every physical path; the fact side never
  shuffles for it.
"""

from __future__ import annotations

import dataclasses
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F, types as T

from logstash_filter_jdbc_static_spark.operators import sqlexpr
from logstash_filter_jdbc_static_spark.spec import (
    LookupSpec,
    ValidationError,
    is_sprintf,
)

_FIELD_REF_RE = re.compile(r"\[([^\]]+)\]")
_SPRINTF_SPLIT_RE = re.compile(r"(%\{[^}]+\})")

def _resolve_field_path(ref: str, schema: T.StructType) -> tuple[Column | None, bool]:
    """Resolve a Logstash field reference (``[a][b]`` or plain ``a``) to a
    Column against a fixed fact schema.

    Returns (column, exists). Nested segments traverse structs
    (``getField``) and maps (``getItem``) — the MapType column plays the
    role of the event's dynamic fields (lookup.rb:29).
    """
    segments = _FIELD_REF_RE.findall(ref) or [ref]
    head, rest = segments[0], segments[1:]
    dtype: T.DataType | None = None
    for f in schema.fields:
        if f.name == head:
            dtype = f.dataType
            break
    if dtype is None:
        return None, False
    col = F.col(head)
    for seg in rest:
        if isinstance(dtype, T.StructType):
            names = {f.name: f.dataType for f in dtype.fields}
            if seg not in names:
                return None, False
            col = col.getField(seg)
            dtype = names[seg]
        elif isinstance(dtype, T.MapType):
            col = col.getItem(seg)
            dtype = dtype.valueType
        else:
            return None, False
    return col, True


@dataclass
class BoundParam:
    """A lookup parameter bound to the event/fact schema.

    ``value``: the derived key column; ``valid``: per-row validity
    predicate (A8); ``static_invalid``: known-at-compile-time failure
    (sprintf referencing a missing field, lookup.rb:14-21, or a
    Hash/Array-typed field, lookup.rb:28-35).
    """

    name: str
    value: Column
    valid: Column
    static_invalid: bool = False


def bind_param(binding: str, schema: T.StructType, name: str) -> BoundParam:
    """Getfier / Sprintfier dispatch (lookup.rb:198-200)."""
    if is_sprintf(binding):
        # Sprintfier: interleave literal text with field values
        # (lookup.rb:9-21). Any missing/null field => param invalid.
        parts = [p for p in _SPRINTF_SPLIT_RE.split(binding) if p != ""]
        cols: list[Column] = []
        valid = F.lit(True)
        static_invalid = False
        for part in parts:
            if part.startswith("%{") and part.endswith("}"):
                ref = part[2:-1]
                col, exists = _resolve_field_path(ref, schema)
                if not exists:
                    static_invalid = True
                    cols.append(F.lit(None).cast("string"))
                else:
                    cols.append(col.cast("string"))
                    valid = valid & col.isNotNull()
            else:
                cols.append(F.lit(part))
        value = F.concat(*cols) if len(cols) > 1 else cols[0]
        if static_invalid:
            valid = F.lit(False)
        return BoundParam(name, value, valid, static_invalid)
    # Getfier: direct event.get (lookup.rb:23-35). nil/Hash/Array invalid.
    col, exists = _resolve_field_path(binding, schema)
    if not exists:
        return BoundParam(name, F.lit(None).cast("string"), F.lit(False), True)
    dtype = None
    segments = _FIELD_REF_RE.findall(binding) or [binding]
    cur: T.DataType = schema
    ok = True
    for seg in segments:
        if isinstance(cur, T.StructType):
            match = [f.dataType for f in cur.fields if f.name == seg]
            if not match:
                ok = False
                break
            cur = match[0]
        elif isinstance(cur, T.MapType):
            cur = cur.valueType
        else:
            ok = False
            break
    dtype = cur if ok else None
    if isinstance(dtype, (T.MapType, T.ArrayType, T.StructType)):
        # "Field <x> is of unsupported type" — always invalid (lookup.rb:28-35)
        return BoundParam(name, F.lit(None).cast("string"), F.lit(False), True)
    return BoundParam(name, col, col.isNotNull(), False)


@dataclass(frozen=True)
class _Term:
    """One rhs operand of a predicate.

    kinds: ``param`` (bound placeholder), ``literal`` (Python literal),
    ``column`` (a dim column — possibly a synthetic ``__exprN`` computed
    column — so ``a = b + 1`` compares dim-side), ``subquery`` (a scalar
    sub-select, resolved to a literal once per refresh snapshot),
    ``param_expr`` (round-5 latest: a scalar-expression AST over params
    + literals ONLY — ``:lim * 2`` — compiled FACT-side per event by
    substituting the bound event Columns), ``mixed_expr`` (round-5
    latest: an AST mixing dim columns WITH params — ``a = b + :k`` —
    evaluable only where both scopes are in play at once, so it routes
    off the pure-equi path and compiles inside the theta probe
    condition: params substitute to the tuple/event Columns, dim
    columns to the array element's or broadcast dim struct's fields)."""

    kind: str  # 'param' | 'literal' | 'column' | 'subquery' |
    #            'param_expr' | 'mixed_expr'
    value: object  # placeholder name, Python literal, column name,
    #                _Subquery, or a sqlexpr AST (param_expr)


@dataclass(frozen=True)
class _Subquery:
    """An uncorrelated scalar subquery term:
    ``(SELECT agg(col) FROM table [WHERE <static predicates>])``.

    The reference hands such SQL verbatim to Derby per event
    (lookup.rb:131-147); here it is evaluated ONCE per refresh snapshot
    against the local dim tables (the subquery may only reference dim
    columns and literals — params would make it correlated per event,
    which no set-oriented plan can stage) and substituted as a literal
    term before compile. ``where`` is a tuple-of-tuples DNF of static
    predicates; ``computed`` carries the sub-WHERE's own synthetic
    expression columns."""

    func: str  # count | count_distinct | sum | min | max | avg
    col: str | None  # None == count(*)
    table: str
    where: tuple = ()  # tuple[tuple[_Predicate, ...], ...]
    computed: tuple = ()  # tuple[(name, sqlexpr AST), ...]
    # correlation pairs (sub_col, outer_col) extracted from
    # outer-qualified equalities in the sub-WHERE (``WHERE t2.cat =
    # t.cat``): the subquery is then evaluated as ONE per-group
    # aggregation left-joined onto the outer dim per refresh snapshot —
    # the set-at-a-time hoist of Derby's per-row nested execution.
    corr: tuple = ()  # tuple[(sub_col, outer_col), ...]
    # inequality correlations (sub_col, op, outer_col) — scalar and
    # EXISTS subqueries: ``EXISTS (... WHERE sub.k = t.k AND
    # sub.price > t.price)``. ONE inequality on an EXISTS decorrelates
    # to the per-group max/min extremum compared against the outer
    # column (one row satisfies ``sub_col > x`` iff ``max(sub_col) >
    # x``); SEVERAL (round-5 latest — no single extremum can witness
    # two inequalities), all scalar-aggregate and all set cases
    # aggregate per distinct outer correlation tuple through a
    # _ThetaParamFrame (_join_outer_theta; dim-sized work, like a
    # non-equi ON).
    ineq: tuple = ()  # tuple[(sub_col, op, outer_col), ...]
    # OUTER-side correlation expressions (round-5 latest):
    # ``WHERE p2.plan = upper(t.plan)`` — each (name, ast) is a scalar
    # expression over OUTER columns only, materialized as a synthetic
    # ``__sq_oexpr*`` column on the outer dim at resolution time; the
    # matching ``corr`` pair's outer side references the name.
    outer_exprs: tuple = ()  # tuple[(name, sqlexpr AST), ...]
    # PARAMETER correlations (round-5 latest): ``WHERE sub_col = :p``
    # equalities extracted from the sub-WHERE — the subquery value then
    # depends on the EVENT, not the dim, so it compiles as a per-group
    # aggregate frame keyed by the sub columns, broadcast-joined onto
    # the FACT at probe time (the set-at-a-time hoist of Derby's
    # per-event prepared-statement re-execution, lookup.rb:131-147);
    # the term then rides every physical path as an ordinary bound
    # param. Each entry is (sub_col, _Term) with term kind 'param' or
    # 'param_expr'. Scalar predicate-RHS subqueries only.
    param_corr: tuple = ()  # tuple[(sub_col, _Term), ...]
    # THETA parameter shapes (round-5 latest): the ENTIRE sub-WHERE,
    # kept as a DNF of _Predicate, when its parameter predicates are
    # NOT all plain equalities — inequality/BETWEEN/IN/LIKE params, OR
    # around a param predicate, or expressions mixing SUB columns with
    # params (``WHERE price > :lim`` / ``qty = base + :k``). No
    # snapshot groupBy can key such a frame, so the aggregate frame is
    # built AT PROBE TIME from the fact's distinct bound-param tuples
    # (the same lazy distinct-tuple design as the LIKE map-probe):
    # tuples theta-join the dim-sized sub frame, aggregate per tuple,
    # broadcast-join back onto the FACT — Derby re-executes the
    # prepared subquery per event (lookup.rb:131-147); this is the
    # per-DISTINCT-tuple hoist. Mutually exclusive with param_corr and
    # with outer correlations (corr/ineq).
    param_theta: tuple = ()  # tuple[tuple[_Predicate, ...], ...] (DNF)


@dataclass
class _Predicate:
    """``[func(]col[)] <op> terms``. Binary ops carry one term, BETWEEN
    two, IN one or more, IS [NOT] NULL zero. ``func`` optionally wraps
    the dim column (``lower(ip) = :ip`` — _LHS_FUNCS)."""

    dim_column: str
    op: str  # '=', '<>', '<', ..., 'like', 'not like', 'in', 'not in',
    #          'between', 'not between', 'is null', 'is not null'
    terms: list[_Term] = field(default_factory=list)
    func: str | None = None
    # [NOT] LIKE ... ESCAPE 'c' (round-5 latest, Derby-legal): the
    # single-char escape literal; e% / e_ / ee in the pattern match
    # literally. None == no ESCAPE clause.
    like_escape: str | None = None

    @property
    def param_names(self) -> list[str]:
        out: list[str] = []

        def add_term(t) -> None:
            if t.kind == "param":
                if t.value not in out:
                    out.append(t.value)
            elif t.kind in ("param_expr", "mixed_expr"):
                for n in sqlexpr.params_of(t.value):
                    if n not in out:
                        out.append(n)
            elif t.kind == "subquery":
                # parameterized subqueries (round-5 latest) bind event
                # params through their param correlations / theta WHERE
                for _, pt in t.value.param_corr:
                    add_term(pt)
                for dj in t.value.param_theta:
                    for pp in dj:
                        for tt in pp.terms:
                            add_term(tt)

        for t in self.terms:
            add_term(t)
        return out

    # legacy single-operand accessors (index-coverage check, logging)
    @property
    def param(self) -> str | None:
        names = self.param_names
        return names[0] if names else None

    @property
    def literal(self):
        lits = [t.value for t in self.terms if t.kind == "literal"]
        return lits[0] if lits else None

    @property
    def is_static(self) -> bool:
        """True when no placeholder participates — evaluable against the
        dimension alone (a dim-side constant filter)."""
        return not self.param_names


_MAX_DISJUNCTS = 64

_LIKE_OPS = ("like", "not like")

# op -> its SQL complement, for pushing a leading NOT down to the leaves
# (De Morgan; valid under SQL 3-valued logic because every mapped pair
# agrees on NULL: both sides yield NULL/falsy for NULL operands).
_NEG_OPS = {
    "=": "<>", "<>": "=",
    "<": ">=", ">=": "<", ">": "<=", "<=": ">",
    "like": "not like", "not like": "like",
    "in": "not in", "not in": "in",
    "between": "not between", "not between": "between",
    "is null": "is not null", "is not null": "is null",
    # EXISTS is two-valued (never NULL), so De Morgan holds trivially
    "exists": "not exists", "not exists": "exists",
    # quantified comparisons: NOT (x op ALL S) == x op' ANY S under
    # Kleene logic (NOT keeps UNKNOWN; the quantifier flips with the
    # comparison complement)
    "= all": "<> any", "<> all": "= any",
    "< all": ">= any", ">= all": "< any",
    "> all": "<= any", "<= all": "> any",
    "= any": "<> all", "<> any": "= all",
    "< any": ">= all", ">= any": "< all",
    "> any": "<= all", "<= any": "> all",
}


# quantified-comparison compile tables (round-5 latest): base
# comparison as a Column lambda; the parse-time ops ("{cmp} all/any",
# literal terms after uncorrelated expansion) and the post-resolution
# correlated ops ("{cmp} all_set/any_set", set/had-null/count columns)
_QUANT_CMP = {
    "=": lambda a, b: a == b, "<>": lambda a, b: a != b,
    "<": lambda a, b: a < b, "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b, ">=": lambda a, b: a >= b,
}
_QUANT_OPS = frozenset(
    f"{c} {q}" for c in _QUANT_CMP for q in ("all", "any")
)
_QUANT_SET_OPS = frozenset(
    f"{c} {q}" for c in _QUANT_CMP for q in ("all_set", "any_set")
)


def _negate(node):
    """NOT over a parsed boolean tree: flip AND/OR, complement leaf ops."""
    if node[0] == "pred":
        p = node[1]
        return ("pred", _Predicate(
            p.dim_column, _NEG_OPS[p.op], p.terms, func=p.func,
            like_escape=p.like_escape,
        ))
    kind = "and" if node[0] == "or" else "or"
    return (kind, [_negate(c) for c in node[1]])

# Scalar functions accepted around the lhs column (the shapes real
# configs wrap lookup keys in — case folds, whitespace trims, lengths).
_LHS_FUNCS = {
    "lower": F.lower,
    "upper": F.upper,
    "trim": F.trim,
    "ltrim": F.ltrim,
    "rtrim": F.rtrim,
    "length": F.length,
    "abs": F.abs,
}


def _apply_lhs_func(p: _Predicate, col: Column) -> Column:
    return _LHS_FUNCS[p.func](col) if p.func else col


def _pred_column_condition(p: _Predicate, lhs: Column, rhs: list[Column]) -> Column:
    """One predicate as a Column expression; ``rhs`` holds one
    pre-staged Column per term (LIKE patterns already compiled to
    anchored regexes). Three-valued SQL semantics fall out of Spark's
    null propagation — a null that reaches a filter drops the row,
    matching Derby/DuckDB."""
    op = p.op
    if op == "=":
        return lhs == rhs[0]
    if op == "<>":
        return lhs != rhs[0]
    if op == "<":
        return lhs < rhs[0]
    if op == ">":
        return lhs > rhs[0]
    if op == "<=":
        return lhs <= rhs[0]
    if op == ">=":
        return lhs >= rhs[0]
    if op == "like":
        return F.rlike(lhs, rhs[0])
    if op == "not like":
        return ~F.rlike(lhs, rhs[0])
    if op in ("in", "not in"):
        if not rhs:
            # empty IN-subquery set: IN () is FALSE, NOT IN () is TRUE
            # (no comparisons happen, so even a NULL lhs decides)
            return F.lit(op == "not in")
        cond = lhs == rhs[0]
        for r in rhs[1:]:
            cond = cond | (lhs == r)
        return ~cond if op == "not in" else cond
    if op == "between":
        return (lhs >= rhs[0]) & (lhs <= rhs[1])
    if op == "not between":
        return ~((lhs >= rhs[0]) & (lhs <= rhs[1]))
    if op in _QUANT_OPS:
        # quantified comparison against an UNCORRELATED row-set
        # subquery, expanded to literal terms per refresh snapshot
        # (NULL set values stay: each comparison yields UNKNOWN, and
        # Spark's &/| are Kleene, exactly SQL)
        base, quant = op.split(" ")
        cmp = _QUANT_CMP[base]
        if not rhs:
            # over the empty set ALL is vacuously TRUE, ANY FALSE —
            # decided even for a NULL lhs (no comparisons happen)
            return F.lit(quant == "all")
        conds = [cmp(lhs, r) for r in rhs]
        out = conds[0]
        for c in conds[1:]:
            out = (out & c) if quant == "all" else (out | c)
        return out
    if op in _QUANT_SET_OPS:
        # CORRELATED quantified comparison, resolved to the same three
        # per-group dim columns as in_set: rhs[0] the group's non-null
        # value set, rhs[1] had-NULL, rhs[2] group count (NULL == left
        # join miss == empty group). A NULL group value makes every
        # undecided comparison UNKNOWN; higher-order exists/forall and
        # the Kleene joins reproduce SQL exactly.
        base, quant = op.split(" ")
        cmp = _QUANT_CMP[base]
        unknown = F.lit(None).cast("boolean")
        had_null = F.coalesce(rhs[1], F.lit(False))
        if quant == "all_set":
            allc = F.forall(rhs[0], lambda v: cmp(lhs, v))
            return F.when(rhs[2].isNull(), F.lit(True)).otherwise(
                allc & F.when(had_null, unknown).otherwise(F.lit(True))
            )
        anyc = F.exists(rhs[0], lambda v: cmp(lhs, v))
        return F.when(rhs[2].isNull(), F.lit(False)).otherwise(
            anyc | F.when(had_null, unknown).otherwise(F.lit(False))
        )
    if op in ("in_set", "not in_set"):
        # Correlated [NOT] IN subquery, resolved per refresh snapshot to
        # three per-group dim columns: rhs[0] the group's non-null value
        # set (collect_set drops NULLs), rhs[1] whether the group had a
        # NULL value, rhs[2] the group row count (NULL == left-join miss
        # == empty group). SQL filter semantics (FALSE and UNKNOWN both
        # drop, NOT is already pushed to the leaf op):
        #   IN: TRUE iff some group value equals lhs — a NULL lhs, a
        #       missing group, or no match all drop the row.
        #   NOT IN: TRUE iff the group is EMPTY (vacuous — even for a
        #       NULL lhs), else lhs non-NULL, no NULL in the set, and
        #       no match.
        contains = F.coalesce(F.array_contains(rhs[0], lhs), F.lit(False))
        if op == "in_set":
            return contains
        return F.when(rhs[2].isNull(), F.lit(True)).otherwise(
            lhs.isNotNull()
            & ~F.coalesce(rhs[1], F.lit(False))
            & ~contains
        )
    if op == "is null":
        return lhs.isNull()
    # "is not null"
    return lhs.isNotNull()


def _static_operand(p: _Predicate, t: _Term) -> Column:
    """A parameter-free term as a Column in a context where the dim's
    real columns are in scope: literals inline, column terms by name."""
    if t.kind == "subquery":
        raise ValidationError(
            ["internal: unresolved subquery term reached compile — "
             "resolve_subqueries_with_dim must run before CompiledLookup"]
        )
    base = F.col(t.value) if t.kind == "column" else F.lit(t.value)
    return _like_regex(base, p.like_escape) if p.op in _LIKE_OPS else base


# Sentinel prefix marking a column resolved through the ENCLOSING
# query's scope inside a subquery WHERE (NUL bytes cannot appear in a
# parsed identifier, so no legitimate column collides).
_OUTER_MARK = "\x00outer\x00:"


# op complement under operand swap: outer.col < sub_col == sub_col > outer.col
_SWAP_OPS = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}


def _extract_correlation(
    table: str, where: tuple, computed: list, allow_ineq: bool = False
) -> tuple[tuple, tuple, tuple, tuple]:
    """Split a subquery WHERE into (static where, equality correlation
    pairs, inequality correlations, outer-side expressions).
    Correlation is restricted to the set-at-a-time-compilable shapes:
    ``sub_side = outer_side`` equalities in a pure conjunction — each
    becomes a groupBy key of the per-group aggregation that is
    left-joined onto the outer dim — where since round-5 latest EITHER
    side may be an expression over ITS OWN scope's columns
    (``substr(p2.plan,1,2) = t.plan``, ``p2.plan = upper(t.plan)``):
    sub-side expressions ride as sub computed columns, outer-side ones
    as ``__sq_oexpr*`` dim columns materialized at resolution. Plus
    (``allow_ineq`` — scalar and EXISTS subqueries) plain
    ``sub_col <op> outer.col`` inequalities: ONE on an EXISTS
    decorrelates to the group's max/min extremum; several (round-5
    latest), scalar aggregates and set subqueries aggregate per
    distinct outer correlation tuple (_join_outer_theta). Anything
    MIXING scopes inside one expression, or OR branches around a
    correlation, raises: those would need per-row nested execution,
    which no broadcast plan can stage."""
    def is_outer(name: str) -> bool:
        return isinstance(name, str) and name.startswith(_OUTER_MARK)

    # classify computed expressions by the scope their columns live in:
    # all-sub -> ordinary sub computed column (stays in ``computed``);
    # all-outer -> an outer-side expression, rehomed to a dim column
    # name (the parser's __exprN names would collide with the OUTER
    # query's own computed columns on the dim); mixed -> no single
    # frame can evaluate it
    outer_map: dict[str, tuple[str, object]] = {}
    for cname, ast in list(computed):
        cols = sqlexpr.columns(ast)
        outer_cols = {c for c in cols if is_outer(c)}
        if not outer_cols:
            continue
        if outer_cols != cols:
            raise ValidationError(
                [f"lookup subquery on {table!r}: an expression mixing "
                 f"subquery and outer columns is not supported — "
                 f"correlate with ``sub_expr = outer_expr`` where each "
                 f"side uses one scope's columns"]
            )
        new = f"__sq_oexpr{len(outer_map)}"
        outer_map[cname] = (
            new,
            sqlexpr.map_columns(ast, lambda c: c[len(_OUTER_MARK):]),
        )
        computed.remove((cname, ast))

    def side_outer(name: str) -> bool:
        return is_outer(name) or name in outer_map

    def outer_name(name: str) -> str:
        return (
            outer_map[name][0]
            if name in outer_map
            else name[len(_OUTER_MARK):]
        )

    has_outer = any(
        side_outer(p.dim_column)
        or any(t.kind == "column" and side_outer(t.value) for t in p.terms)
        for d in where
        for p in d
    )
    if not has_outer:
        if outer_map:
            raise ValidationError(
                [f"lookup subquery on {table!r}: outer-column "
                 f"expression not used in any correlation predicate"]
            )
        return where, (), (), ()
    if len(where) != 1:
        raise ValidationError(
            [f"lookup subquery on {table!r}: correlated predicates must "
             f"form a pure AND conjunction (no OR around the "
             f"correlation)"]
        )
    corr: list[tuple[str, str]] = []
    ineq: list[tuple[str, str, str]] = []
    rest: list[_Predicate] = []
    used_oexpr: set[str] = set()
    for p in where[0]:
        lhs_outer = side_outer(p.dim_column)
        term_outer = any(
            t.kind == "column" and side_outer(t.value) for t in p.terms
        )
        if not lhs_outer and not term_outer:
            rest.append(p)
            continue
        # a _LHS_FUNCS-wrapped side desugars into the expression form
        # (round-5 latest): func over the SUB column joins the sub
        # computed columns; func over the OUTER column joins outer_map
        if (
            p.func is not None
            and len(p.terms) == 1
            and p.terms[0].kind == "column"
            and p.op == "="
            and lhs_outer != side_outer(p.terms[0].value)
        ):
            fast = sqlexpr.Func(
                p.func,
                (sqlexpr.Col(
                    p.dim_column[len(_OUTER_MARK):]
                    if is_outer(p.dim_column)
                    else p.dim_column
                ),),
            )
            if lhs_outer:
                new = f"__sq_oexpr{len(outer_map)}"
                outer_map[f"\x00f{new}"] = (new, fast)
                used_oexpr.add(new)
                corr.append((p.terms[0].value, new))
            else:
                new = f"__sqlhs{len(computed)}"
                computed.append((new, fast))
                corr.append((new, outer_name(p.terms[0].value)))
                if p.terms[0].value in outer_map:
                    used_oexpr.add(outer_map[p.terms[0].value][0])
            continue
        plain = (
            p.func is None
            and len(p.terms) == 1
            and p.terms[0].kind == "column"
            # exactly ONE side references the outer scope
            and lhs_outer != side_outer(p.terms[0].value)
        )
        if plain and p.op == "=":
            t = p.terms[0]
            if lhs_outer:
                corr.append((t.value, outer_name(p.dim_column)))
                if p.dim_column in outer_map:
                    used_oexpr.add(outer_map[p.dim_column][0])
            else:
                corr.append((p.dim_column, outer_name(t.value)))
                if t.value in outer_map:
                    used_oexpr.add(outer_map[t.value][0])
            continue
        if (
            plain
            and allow_ineq
            and p.op in ("<", ">", "<=", ">=")
            and not (p.dim_column in outer_map or p.terms[0].value in outer_map)
        ):
            t = p.terms[0]
            if lhs_outer:  # outer.col <op> sub_col -> sub_col <swap> outer
                ineq.append(
                    (t.value, _SWAP_OPS[p.op], p.dim_column[len(_OUTER_MARK):])
                )
            else:
                ineq.append(
                    (p.dim_column, p.op, t.value[len(_OUTER_MARK):])
                )
            continue
        if allow_ineq:
            raise ValidationError(
                [f"lookup subquery on {table!r}: unsupported correlated "
                 f"predicate — only plain equalities (sub_col = "
                 f"outer.col) plus plain inequalities "
                 f"(sub_col < <= > >= outer.col) are supported"]
            )
        raise ValidationError(
            [f"lookup subquery on {table!r}: unsupported correlated "
             f"predicate — only plain equalities between one subquery "
             f"column and one outer column (sub_col = outer.col) are "
             f"supported"]
        )
    unused = sorted(
        new for new, _ in outer_map.values() if new not in used_oexpr
    )
    if unused:
        raise ValidationError(
            [f"lookup subquery on {table!r}: outer-column expression "
             f"not used in any correlation equality"]
        )
    return (
        ((tuple(rest),) if rest else ()),
        tuple(corr),
        tuple(ineq),
        tuple(v for v in outer_map.values()),
    )


def _pred_terms(parsed: ParsedQuery) -> list[_Predicate]:
    """Every predicate of a parsed query whose terms may need subquery
    resolution: WHERE (DNF or overflow tree) plus HAVING."""
    preds = list(parsed.predicates)
    for d in parsed.having:
        preds.extend(d)
    return preds


def has_subqueries(parsed: ParsedQuery) -> bool:
    return bool(parsed.proj_subqueries) or any(
        t.kind == "subquery" for p in _pred_terms(parsed) for t in p.terms
    )


def _static_where_condition(disjuncts) -> Column | None:
    """OR-of-AND Column over fully-static predicates (the subquery
    WHERE grammar guarantees no params)."""
    parts: list[Column] = []
    for d in disjuncts:
        c: Column | None = None
        for p in d:
            pc = _pred_column_condition(
                p,
                _apply_lhs_func(p, F.col(p.dim_column)),
                [_static_operand(p, t) for t in p.terms],
            )
            c = pc if c is None else c & pc
        parts.append(c if c is not None else F.lit(True))
    if not parts:
        return None
    out = parts[0]
    for c in parts[1:]:
        out = out | c
    return out


def _native_agg(func: str, col: Column, star: Column | None = None) -> Column:
    """One aggregate func as a native Column (count(*) counts ``star``).
    ``sum_distinct``/``avg_distinct`` (round-5 final — Derby accepts
    DISTINCT under every set function): F.sum_distinct, and
    avg(DISTINCT x) = sum(DISTINCT x) / count(DISTINCT x) (exact — the
    distinct multiset's mean; long/long division is double in Spark,
    matching avg's result type for integral inputs).
    min/max(DISTINCT) parse to plain min/max (SQL: a no-op)."""
    if func == "count":
        return F.count(star if col is None else col)
    if func == "count_distinct":
        return F.count_distinct(col)
    if func == "sum_distinct":
        return F.sum_distinct(col)
    if func == "avg_distinct":
        return F.sum_distinct(col) / F.count_distinct(col)
    return getattr(F, func)(col)


def _sub_filtered_df(
    sq: _Subquery, dims: dict[str, DataFrame], _depth: int = 0
) -> tuple[DataFrame, Column]:
    """The subquery's source frame — computed columns materialized,
    static WHERE applied, nested (uncorrelated) subqueries resolved —
    plus its aggregate Column."""
    if _depth > 8:
        raise ValidationError(
            ["lookup subquery: nesting deeper than 8 levels"]
        )
    if sq.table not in dims:
        raise ValidationError(
            [f"lookup subquery references unknown local table {sq.table!r}"]
        )
    df = dims[sq.table]
    names = {f.name for f in df.schema.fields}
    for cname, ast in sq.computed:
        missing = sorted(r for r in sqlexpr.columns(ast) if r not in names)
        if missing:
            raise ValidationError(
                [f"lookup subquery on {sq.table!r}: expression references "
                 f"unknown column(s) {missing}"]
            )
        df = df.withColumn(cname, sqlexpr.compile_expr(ast))
        names.add(cname)
    # nested subqueries in the sub-WHERE resolve first (depth-bounded):
    # uncorrelated -> a literal; correlated to THIS subquery's scope
    # (round-5 latest, ``... WHERE p2.qty > (SELECT min(p3.qty) FROM t
    # p3 WHERE p3.plan = p2.plan)``) -> the same per-group hoist as
    # outer-level correlations, left-joined onto the SUB frame as a
    # synthetic ``__nsq*`` column — dim-sized snapshot work, recursive
    # over the depth bound
    nested_state = {"df": df, "n": 0}

    def _validate_nested_scope(inner: _Subquery, what: str):
        """Materialize the enclosing frame's outer expressions and
        validate every correlation target (equality AND inequality)
        against the ENCLOSING subquery's relation."""
        d2 = nested_state["df"]
        for oe_name, ast in inner.outer_exprs:
            if oe_name not in d2.columns:
                d2 = d2.withColumn(oe_name, sqlexpr.compile_expr(ast))
        bad = sorted(
            (
                {oc for _, oc in inner.corr}
                | {ioc for _, _, ioc in inner.ineq}
            )
            - set(d2.columns)
        )
        if bad:
            raise ValidationError(
                [f"lookup {what} on {inner.table!r}: outer column(s) "
                 f"{bad} not in table {sq.table!r} (nested correlations "
                 f"resolve against the ENCLOSING subquery's relation)"]
            )
        return d2

    def _resolve_nested(t: _Term) -> _Term:
        inner = t.value
        if not inner.corr and not inner.ineq:
            return _Term(
                "literal", _eval_subquery(inner, dims, _depth + 1)
            )
        if inner.func in ("__values", "__exists"):
            raise ValidationError(
                [f"lookup subquery on {inner.table!r}: correlated "
                 f"IN/EXISTS subqueries cannot nest inside another "
                 f"subquery"]
            )
        d2 = _validate_nested_scope(inner, "subquery")
        in_df, in_agg = _sub_filtered_df(inner, dims, _depth + 1)
        name = f"__nsq{nested_state['n']}"
        nested_state["n"] += 1
        if inner.ineq:
            # nested scalar aggregate over a per-ROW moving range
            # (round-5 latest): one value per distinct correlation
            # tuple of the ENCLOSING frame, the nested twin of
            # corr_col_of's inequality path
            d2 = _join_outer_theta(d2, inner, in_df, name, (name,), inner.func)
            nested_state["df"] = d2
            names.add(name)
            return _Term("column", name)
        keys = [f"__nk{i}_{name}" for i in range(len(inner.corr))]
        agg_df = in_df.groupBy(
            *[F.col(sc).alias(k) for (sc, _), k in zip(inner.corr, keys)]
        ).agg(in_agg.alias(name))
        cond = None
        for (_, oc), k in zip(inner.corr, keys):
            piece = d2[oc] == agg_df[k]
            cond = piece if cond is None else (cond & piece)
        d2 = d2.join(F.broadcast(agg_df), cond, "left").drop(*keys)
        if inner.func in ("count", "count_distinct"):
            # empty correlated group counts 0, not NULL
            d2 = d2.withColumn(name, F.coalesce(F.col(name), F.lit(0)))
        nested_state["df"] = d2
        names.add(name)
        return _Term("column", name)

    def _nested_corr_join(inner: _Subquery, what: str):
        """Shared plumbing for nested EXISTS/IN (round-5 latest):
        materialize the inner relation + the enclosing frame's outer
        expressions and validate scopes (equality AND inequality
        correlations, round-5 latest). Returns (in_df, d2)."""
        d2 = _validate_nested_scope(inner, what)
        in_df, _ = _sub_filtered_df(inner, dims, _depth + 1)
        return in_df, d2

    def nested_exists_col(inner: _Subquery) -> str:
        """Nested [NOT] EXISTS (round-5 latest): a semi-join boolean
        flag on the ENCLOSING sub frame — uncorrelated folds to a
        constant (one snapshot-time take(1)), eq-correlated left-joins
        the distinct correlation-key set, misses coalesce FALSE
        (EXISTS is two-valued)."""
        in_df, d2 = _nested_corr_join(inner, "EXISTS subquery")
        name = f"__nsqx{nested_state['n']}"
        nested_state["n"] += 1
        if inner.ineq:
            # inequality-correlated nested EXISTS (round-5 latest): a
            # per-tuple witness count; an empty or missed tuple counts
            # 0, so the flag is FALSE (two-valued)
            d2 = _join_outer_theta(d2, inner, in_df, name, (name,), "count")
            d2 = d2.withColumn(name, F.col(name) > 0)
        elif not inner.corr:
            d2 = d2.withColumn(name, F.lit(bool(in_df.take(1))))
        else:
            keys = [f"__xk{i}_{name}" for i in range(len(inner.corr))]
            keyset = (
                in_df.select(
                    *[
                        F.col(sc).alias(k)
                        for (sc, _), k in zip(inner.corr, keys)
                    ]
                )
                .distinct()
                .withColumn(name, F.lit(True))
            )
            cond = None
            for (_, oc), k in zip(inner.corr, keys):
                piece = d2[oc] == keyset[k]
                cond = piece if cond is None else (cond & piece)
            d2 = d2.join(F.broadcast(keyset), cond, "left").drop(*keys)
            d2 = d2.withColumn(
                name, F.coalesce(F.col(name), F.lit(False))
            )
        nested_state["df"] = d2
        names.add(name)
        return name

    def nested_in_cols(inner: _Subquery) -> tuple[str, str, str]:
        """Nested correlated [NOT] IN / quantified (round-5 latest):
        per-group (value set, had-NULL, count) columns left-joined
        onto the ENCLOSING sub frame by the correlation keys — the
        nested twin of in_group_cols_of, honoring _IN_SUBQUERY_CAP."""
        in_df, d2 = _nested_corr_join(inner, "IN-subquery")
        base = f"__nsqi{nested_state['n']}"
        nested_state["n"] += 1
        names3 = (f"{base}_set", f"{base}_null", f"{base}_cnt")
        if inner.ineq:
            # inequality-correlated nested set subquery (round-5
            # latest): the value set is per enclosing correlation
            # TUPLE, not per eq-key group; an empty tuple stays NULL,
            # which the in_set ops read as "empty group"
            d2 = _join_outer_theta(d2, inner, in_df, base, names3, "__values")
            nested_state["df"] = d2
            names.update(names3)
            return names3
        keys = [f"__ik{i}_{base}" for i in range(len(inner.corr))]
        grouped = in_df.groupBy(
            *[F.col(sc).alias(k) for (sc, _), k in zip(inner.corr, keys)]
        ).agg(
            F.collect_set(F.col(inner.col)).alias(names3[0]),
            F.max(F.col(inner.col).isNull()).alias(names3[1]),
            F.count(F.lit(1)).alias(names3[2]),
        )
        _check_in_group_cap(grouped, names3[0], inner.table, "correlation")
        cond = None
        for (_, oc), k in zip(inner.corr, keys):
            piece = d2[oc] == grouped[k]
            cond = piece if cond is None else (cond & piece)
        d2 = d2.join(F.broadcast(grouped), cond, "left").drop(*keys)
        nested_state["df"] = d2
        names.update(names3)
        return names3

    def fix_nested_pred(p: _Predicate) -> _Predicate:
        if not any(t.kind == "subquery" for t in p.terms):
            return p
        if p.op in ("exists", "not exists"):
            name = nested_exists_col(p.terms[0].value)
            return _Predicate(
                name, "=", [_Term("literal", p.op == "exists")]
            )
        if (
            len(p.terms) == 1
            and p.terms[0].kind == "subquery"
            and p.terms[0].value.func == "__values"
        ):
            inner = p.terms[0].value
            if inner.corr or inner.ineq:
                s, nn, c = nested_in_cols(inner)
                mapped = (
                    f"{p.op}_set"
                    if p.op in _QUANT_OPS
                    else ("in_set" if p.op == "in" else "not in_set")
                )
                return _Predicate(
                    p.dim_column,
                    mapped,
                    [_Term("column", s), _Term("column", nn),
                     _Term("column", c)],
                    func=p.func,
                )
            # uncorrelated nested row set: a literal value list, with
            # the same cap the outer expansion honors
            vals = _collect_in_values(inner, dims)
            return _Predicate(
                p.dim_column,
                p.op,
                [_Term("literal", v) for v in vals],
                func=p.func,
            )
        return _Predicate(
            p.dim_column,
            p.op,
            [
                _resolve_nested(t) if t.kind == "subquery" else t
                for t in p.terms
            ],
            func=p.func,
        )

    where = [[fix_nested_pred(p) for p in d] for d in sq.where]
    df = nested_state["df"]
    for d in where:
        for p in d:
            if p.dim_column not in names:
                raise ValidationError(
                    [f"lookup subquery on {sq.table!r}: predicate column "
                     f"{p.dim_column!r} not in table"]
                )
            for t in p.terms:
                if t.kind == "column" and t.value not in names:
                    raise ValidationError(
                        [f"lookup subquery on {sq.table!r}: predicate "
                         f"column {t.value!r} not in table"]
                    )
    cond = _static_where_condition(where)
    if cond is not None:
        df = df.filter(cond)
    for c in (
        [sq.col]
        + [sc for sc, _ in sq.corr]
        + [sc for sc, _, _ in sq.ineq]
    ):
        if c is not None and c not in names:
            raise ValidationError(
                [f"lookup subquery on {sq.table!r}: column {c!r} not in "
                 f"table"]
            )
    if sq.func in ("__values", "__exists"):
        agg = None  # row-set / existence subquery: no aggregate
    elif sq.func == "count":
        agg = F.count(F.lit(1)) if sq.col is None else F.count(F.col(sq.col))
    elif sq.func == "count_distinct":
        agg = F.count_distinct(F.col(sq.col))
    else:
        agg = _native_agg(sq.func, F.col(sq.col))
    return df, agg


def _eval_subquery(sq: _Subquery, dims: dict[str, DataFrame], _depth: int = 0):
    """Evaluate one UNCORRELATED scalar subquery against the local dim
    tables: a dim-sized aggregation, once per refresh snapshot (the
    Spark-first hoist of Derby's per-event execution). Returns a Python
    scalar (None == SQL NULL)."""
    if sq.corr or sq.ineq:
        raise ValidationError(
            [f"lookup subquery on {sq.table!r}: correlated subqueries "
             f"cannot nest inside another subquery"]
        )
    if sq.func in ("__values", "__exists"):
        raise ValidationError(
            [f"lookup subquery on {sq.table!r}: IN/EXISTS subqueries "
             f"cannot nest inside another subquery"]
        )
    df, agg = _sub_filtered_df(sq, dims, _depth)
    return df.agg(agg).collect()[0][0]


# [NOT] IN (SELECT ...) value sets are collected driver-side once per
# refresh snapshot; dims are broadcast-sized by contract, and the cap
# fails loud long before a collect could hurt.
_IN_SUBQUERY_CAP = 65536


def _collect_in_values(sq: _Subquery, dims: dict[str, DataFrame]) -> list:
    df, _ = _sub_filtered_df(sq, dims)
    rows = (
        df.select(F.col(sq.col)).distinct().limit(_IN_SUBQUERY_CAP + 1).collect()
    )
    if len(rows) > _IN_SUBQUERY_CAP:
        raise ValidationError(
            [f"lookup IN-subquery on {sq.table!r}: more than "
             f"{_IN_SUBQUERY_CAP} distinct values — pre-shape the dim "
             f"with a loader query instead"]
        )
    return [r[0] for r in rows]


def _check_in_group_cap(
    grouped: DataFrame, set_col: str, table: str, group: str
) -> None:
    """Fail loud when the largest per-group value set in ``grouped``'s
    ``set_col`` exceeds _IN_SUBQUERY_CAP; ``group`` names the grouping
    ("correlation" / "parameter") in the message. Collects one value."""
    biggest = grouped.agg(F.max(F.size(set_col))).collect()[0][0]
    if biggest is not None and biggest > _IN_SUBQUERY_CAP:
        raise ValidationError(
            [f"lookup IN-subquery on {table!r}: a {group} group exceeds "
             f"{_IN_SUBQUERY_CAP} distinct values — pre-shape the dim "
             f"with a loader query instead"]
        )


@dataclass
class _ThetaParamFrame:
    """Per-tuple aggregate frame for a subquery whose WHERE no snapshot
    groupBy can key. It serves two callers:

    - a THETA-parameterized subquery (round-5 final): the sub-WHERE's
      parameter predicates are not plain equalities (``price > :lim``,
      OR around a param predicate, mixed sub-column+param
      expressions); the tuples are the FACT's distinct bound-param
      tuples, built at probe time;
    - an INEQUALITY-correlated subquery (``p2.price < t.price``,
      ``_join_outer_theta``): the outer frame's correlation columns are
      the parameters and the tuples are the outer frame's distinct
      correlation tuples, built at resolution time.

    The tuples (a lazy slim select + distinct) theta-join the dim-sized
    sub frame on the full DNF with params substituted to tuple columns,
    aggregate per tuple, and the result broadcast-joins back by the
    same bound expressions (``_join_per_tuple``) — the
    per-DISTINCT-tuple hoist of Derby re-executing the prepared
    subquery per event and a correlated subquery per outer row
    (lib/logstash/filters/jdbc/lookup.rb:131-147). Cost: |distinct
    tuples| x |sub table| pair evaluations, constant in fact count. As
    with the map-probe's map-back (``CompiledLookup._apply_bnlj``), a
    frame too large for the driver fails with Spark's broadcast error
    rather than shuffling the fact."""

    sub_df: DataFrame  # snapshot sub frame, computed columns applied
    where: tuple  # param_theta DNF
    func: str  # scalar aggregate | '__values'
    col: str | None
    keys: tuple  # tuple-frame key column names (__psubN_kI)
    pnames: tuple  # event param name per key
    names: tuple  # output value column name(s): (v,) | (set, null, cnt)
    sub_cols: tuple  # referenced sub columns (validated at resolution)
    table: str
    # output value DataType per entry of ``names`` — derived at
    # RESOLUTION from a schema-only aggregate over the sub frame (no
    # job runs), so the HAVING/projection typed-NULL placeholders can
    # be cast before the frame exists (having_param_carrier /
    # psq_param registration read it in place of frame.schema)
    dtypes: tuple = ()
    # NESTED parameterized subqueries inside the theta WHERE (round-5
    # final): each entry is (names, keys, terms, frame-or-builder,
    # funcs) — the same shape as a param_subs entry — whose per-tuple
    # value joins onto the DISTINCT-TUPLE frame before the theta
    # condition evaluates (the rewritten predicate reads it as a
    # ``__..._n{i}`` pseudo-param). A nested THETA builder recurses
    # with the tuple frame as its fact.
    nested: tuple = ()
    # what one tuple is, for the IN-cap message: "parameter" (event
    # params) or "correlation" (outer correlation columns)
    group: str = "parameter"

    def dtype_of(self, name: str):
        return self.dtypes[self.names.index(name)]

    def _term_col(self, p: _Predicate, t: _Term, sub_col, tup) -> Column:
        if t.kind == "literal":
            base = F.lit(t.value)
        elif t.kind == "column":
            base = sub_col(t.value)
        elif t.kind == "param":
            base = tup(t.value)
        elif t.kind in ("param_expr", "mixed_expr"):
            base = sqlexpr.compile_expr(
                sqlexpr.subst_columns(
                    sqlexpr.subst_params(t.value, tup),
                    sub_col,
                )
            )
        else:  # pragma: no cover — parser guarantees
            raise ValidationError(
                [f"internal: unexpected term kind {t.kind!r} in a "
                 f"theta-parameterized subquery WHERE"]
            )
        return _like_regex(base, p.like_escape) if p.op in _LIKE_OPS else base

    def _cond(self, sub_col, tup) -> Column:
        parts: list[Column] = []
        for d in self.where:
            c: Column | None = None
            for p in d:
                lhs = _apply_lhs_func(p, sub_col(p.dim_column))
                rhs = [self._term_col(p, t, sub_col, tup) for t in p.terms]
                pc = _pred_column_condition(p, lhs, rhs)
                c = pc if c is None else c & pc
            parts.append(c if c is not None else F.lit(True))
        out = parts[0]
        for c in parts[1:]:
            out = out | c
        return out

    def build(self, fact: DataFrame, params: dict) -> DataFrame:
        """The per-tuple aggregate frame, keyed by ``keys``, over
        ``fact``'s distinct bound-param tuples. Lazy, except the
        ``__values`` shape's IN-cap guard, which collects one value."""
        key_of = dict(zip(self.pnames, self.keys))
        tuples = fact.select(
            *[
                params[n].value.alias(k)
                for n, k in zip(self.pnames, self.keys)
            ]
        ).distinct()
        # NESTED parameterized subqueries (round-5 final): join each
        # per-tuple value onto the distinct-tuple frame so the theta
        # condition can read it as a pseudo-param column — a nested
        # THETA builder recurses with THIS tuple frame as its fact
        tuple_params = {
            n: BoundParam(n, F.col(k), F.lit(True)) for n, k in key_of.items()
        }
        for entry in self.nested:
            tuples = _join_per_tuple(tuples, tuple_params, entry)

        def sub_col(name: str) -> Column:
            return F.col(f"__s_{name}")

        def tup(name: str) -> Column:
            # nested pseudo-params (``..._n{i}``) live ON the tuple
            # frame under their own names
            return F.col(key_of.get(name, name))

        sub = self.sub_df.select(
            *[F.col(c).alias(f"__s_{c}") for c in self.sub_cols],
            F.lit(1).alias("__s__m"),
        )
        probed = tuples.join(
            F.broadcast(sub), self._cond(sub_col, tup), "left"
        )
        g = probed.groupBy(*[F.col(k) for k in self.keys])
        if self.func == "__values":
            s_name, n_name, c_name = self.names
            scol = sub_col(self.col)
            raw = g.agg(
                F.sort_array(F.collect_set(scol)).alias(s_name),
                F.max(
                    F.when(F.col("__s__m").isNotNull(), scol.isNull())
                ).alias(n_name),
                F.count(F.col("__s__m")).alias(c_name),
            )
            # an EMPTY per-tuple group must look exactly like a
            # fact-join MISS (all three columns NULL) so the in_set /
            # quantified ops read "empty set" identically to the
            # snapshot-grouped frames
            frame = raw.select(
                *self.keys,
                F.when(F.col(c_name) > 0, F.col(s_name)).alias(s_name),
                F.when(F.col(c_name) > 0, F.col(n_name)).alias(n_name),
                F.when(F.col(c_name) > 0, F.col(c_name)).alias(c_name),
            )
            _check_in_group_cap(frame, s_name, self.table, self.group)
            return frame
        name = self.names[0]
        if self.func == "count" and self.col is None:
            agg = F.count(F.col("__s__m"))  # never counts join-miss rows
        elif self.func == "count":
            agg = F.count(sub_col(self.col))
        elif self.func == "count_distinct":
            agg = F.count_distinct(sub_col(self.col))
        else:
            agg = _native_agg(self.func, sub_col(self.col))
        return g.agg(agg.alias(name))


def _theta_frame_of(
    sq: _Subquery, dims: dict[str, DataFrame], base: str, names: tuple,
    _depth: int = 0,
) -> _ThetaParamFrame:
    """Resolution-time constructor: validates the theta WHERE's column
    references against the sub frame (computed columns included) and
    fixes the param-tuple key order; the frame itself builds at probe
    time, once per apply(). NESTED parameterized subqueries (round-5
    final) become per-tuple pseudo-param columns: plain-equality inner
    shapes register their snapshot groupBy frame, theta inner shapes a
    recursive builder (fact = the tuple frame); param-free inner
    subqueries fold to snapshot literals."""
    if _depth > 8:
        raise ValidationError(
            ["lookup subquery: nesting deeper than 8 levels"]
        )
    sub_df, _ = _sub_filtered_df(sq, dims)  # where=(): unfiltered frame
    avail = set(sub_df.columns)
    refs: set[str] = set()
    pnames: list[str] = []
    for d in sq.param_theta:
        for p in d:
            refs.add(p.dim_column)
            for t in p.terms:
                if t.kind == "column":
                    refs.add(t.value)
                elif t.kind in ("param_expr", "mixed_expr"):
                    refs.update(sqlexpr.columns(t.value))
            for n in p.param_names:
                if n not in pnames:
                    pnames.append(n)
    if sq.col is not None:
        refs.add(sq.col)
    missing = sorted(r for r in refs if r not in avail)
    if missing:
        raise ValidationError(
            [f"lookup subquery on {sq.table!r}: predicate column(s) "
             f"{missing} not in table"]
        )
    # rewrite nested subquery terms (round-5 final): param-free fold
    # to literals per snapshot; parameterized ones become pseudo-param
    # reads of a per-tuple value column joined in build()
    nested_entries: list[tuple] = []

    def nested_value(inner: _Subquery) -> str:
        for e in nested_entries:
            if e[5] == inner:
                return e[0][0]
        nb = f"{base}_n{len(nested_entries)}"
        if inner.param_theta:
            fr = _theta_frame_of(inner, dims, nb, (nb,), _depth + 1)
            entry = ((nb,), fr.keys,
                     tuple(_Term("param", n) for n in fr.pnames),
                     fr, (inner.func,), inner)
        else:
            in_df, in_agg = _sub_filtered_df(inner, dims)
            keys2 = tuple(
                f"{nb}_k{i}" for i in range(len(inner.param_corr))
            )
            fr = in_df.groupBy(
                *[
                    F.col(sc).alias(k)
                    for (sc, _), k in zip(inner.param_corr, keys2)
                ]
            ).agg(in_agg.alias(nb))
            entry = ((nb,), keys2,
                     tuple(t for _, t in inner.param_corr),
                     fr, (inner.func,), inner)
        nested_entries.append(entry)
        return nb

    where_rw = []
    for d in sq.param_theta:
        nd = []
        for p in d:
            if any(t.kind == "subquery" for t in p.terms):
                terms = []
                for t in p.terms:
                    if t.kind != "subquery":
                        terms.append(t)
                    elif t.value.param_corr or t.value.param_theta:
                        terms.append(
                            _Term("param", nested_value(t.value))
                        )
                    else:
                        terms.append(
                            _Term(
                                "literal",
                                _eval_subquery(t.value, dims),
                            )
                        )
                p = dataclasses.replace(p, terms=terms)
            nd.append(p)
        where_rw.append(tuple(nd))
    keys = tuple(f"{base}_k{i}" for i in range(len(pnames)))
    if sq.func == "__values":
        # (sorted value set, had-NULL, count) — the set's element type
        # is the projected column's
        dtypes = (
            T.ArrayType(sub_df.schema[sq.col].dataType),
            T.BooleanType(),
            T.LongType(),
        )
    else:
        # schema-only aggregate: Spark resolves the result type
        # (sum widening, avg->double, count->long) without running a job
        if sq.func == "count" and sq.col is None:
            agg0 = F.count(F.lit(1))
        elif sq.func == "count":
            agg0 = F.count(F.col(sq.col))
        elif sq.func == "count_distinct":
            agg0 = F.count_distinct(F.col(sq.col))
        else:
            agg0 = _native_agg(sq.func, F.col(sq.col))
        dtypes = (sub_df.limit(0).agg(agg0).schema[0].dataType,)
    return _ThetaParamFrame(
        sub_df=sub_df,
        where=tuple(where_rw),
        func=sq.func,
        col=sq.col,
        keys=keys,
        pnames=tuple(pnames),
        names=names,
        sub_cols=tuple(sorted(refs)),
        table=sq.table,
        dtypes=dtypes,
        nested=tuple(e[:5] for e in nested_entries),
    )


def _join_per_tuple(
    fact: DataFrame, params: dict[str, BoundParam], entry: tuple
) -> DataFrame:
    """Broadcast left-join one per-tuple value frame onto ``fact``.

    ``entry`` is ``(names, keys, terms, frame, funcs)``: ``frame`` (a
    DataFrame, or a _ThetaParamFrame built here over ``fact``) carries
    key column ``keys[i]`` equal to ``terms[i]`` bound through
    ``params``, and the value columns ``names``. The keys are dropped
    after the join. A miss leaves a value NULL, SQL's empty scalar
    subquery, except count/count(DISTINCT), which read 0. The [NOT] IN
    / quantified set columns (func None) stay NULL on a miss, which the
    in_set ops read as the empty group."""
    names, keys, terms, frame, funcs = entry
    if isinstance(frame, _ThetaParamFrame):
        frame = frame.build(fact, params)
    cond = None
    for k, t in zip(keys, terms):
        if t.kind == "param":
            fexpr = params[t.value].value
        else:  # param_expr over params + literals only
            fexpr = sqlexpr.compile_expr(
                sqlexpr.subst_params(t.value, lambda n: params[n].value)
            )
        piece = frame[k] == fexpr
        cond = piece if cond is None else cond & piece
    fact = fact.join(F.broadcast(frame), cond, "left").drop(*keys)
    for name, func in zip(names, funcs):
        if func in ("count", "count_distinct"):
            fact = fact.withColumn(name, F.coalesce(F.col(name), F.lit(0)))
    return fact


def _join_outer_theta(
    outer: DataFrame,
    sq: _Subquery,
    sub_df: DataFrame,
    base: str,
    names: tuple,
    func: str,
) -> DataFrame:
    """Decorrelate an INEQUALITY-correlated subquery onto ``outer`` (the
    probed dim, or the enclosing sub frame of a nested subquery) through
    a _ThetaParamFrame whose parameters are the outer correlation
    columns: each ``corr`` pair becomes an ``=`` predicate and each
    ``ineq`` triple a theta predicate over the already-filtered
    ``sub_df``. The frame aggregates ``func`` per distinct outer
    correlation tuple and joins back by those tuples. Lazy, except the
    ``__values`` shape's IN-cap guard. A NULL correlation value matches
    no sub row and misses the join-back: the empty group either way."""
    where = tuple(
        _Predicate(sc, "=", [_Term("param", oc)]) for sc, oc in sq.corr
    ) + tuple(
        _Predicate(sc, op, [_Term("param", oc)]) for sc, op, oc in sq.ineq
    )
    pnames = tuple(dict.fromkeys(p.terms[0].value for p in where))
    keys = tuple(f"{base}_k{i}" for i in range(len(pnames)))
    sub_cols = [p.dim_column for p in where]
    if sq.col is not None:
        sub_cols.append(sq.col)
    frame = _ThetaParamFrame(
        sub_df=sub_df,
        where=(where,),
        func=func,
        col=sq.col,
        keys=keys,
        pnames=pnames,
        names=names,
        sub_cols=tuple(dict.fromkeys(sub_cols)),
        table=sq.table,
        group="correlation",
    )
    params = {n: BoundParam(n, F.col(n), F.lit(True)) for n in pnames}
    terms = tuple(_Term("param", n) for n in pnames)
    funcs = (None,) * 3 if func == "__values" else (func,)
    return _join_per_tuple(outer, params, (names, keys, terms, frame, funcs))


def resolve_subqueries_with_dim(
    parsed: ParsedQuery,
    dims: dict[str, DataFrame],
    dim_df: DataFrame | None,
) -> tuple[ParsedQuery, DataFrame | None]:
    """Subquery resolution with the probed dim frame in scope:
    uncorrelated subqueries become literals; CORRELATED ones
    (``WHERE price > (SELECT avg(price) FROM t2 WHERE t2.cat = t.cat)``)
    become synthetic dim columns — the sub-aggregation runs ONCE per
    refresh snapshot grouped by its correlation keys and left-joins
    onto the dim (dim-sized work), and the predicate compiles as an
    ordinary static column comparand on every physical path. Returns
    the rewritten query and the (possibly augmented) dim frame."""
    if not has_subqueries(parsed):
        return parsed, dim_df
    lit_cache: list[tuple[_Subquery, object]] = []
    corr_cache: list[tuple[_Subquery, str]] = []
    param_subs: list[tuple] = []
    holder = {"dim": dim_df}

    def param_term_of(sq: _Subquery) -> _Term:
        """A PARAMETERIZED subquery (round-5 latest): group the sub
        frame by its param-correlation keys ONCE per refresh snapshot
        (dim-sized work); CompiledLookup broadcast-joins the aggregate
        frame onto the FACT per probe and the term compiles as an
        ordinary bound param on every physical path — the
        set-at-a-time hoist of Derby re-executing the prepared
        subquery per event (lookup.rb:131-147)."""
        for entry in param_subs:
            if entry[5] == sq:
                return _Term("param", entry[0][0])
        name = f"__psub{len(param_subs)}"
        if sq.param_theta:
            # THETA shape (round-5 final): the frame builds at probe
            # time from the fact's distinct bound-param tuples
            # (_ThetaParamFrame.build); the entry's terms carry the
            # raw event param names the tuple keys bind to
            frame = _theta_frame_of(sq, dims, name, (name,))
            terms = tuple(_Term("param", n) for n in frame.pnames)
            param_subs.append(
                ((name,), frame.keys, terms, frame, (sq.func,), sq)
            )
            return _Term("param", name)
        sub_df, agg = _sub_filtered_df(sq, dims)
        keys = tuple(f"{name}_k{i}" for i in range(len(sq.param_corr)))
        frame = sub_df.groupBy(
            *[F.col(sc).alias(k) for (sc, _), k in zip(sq.param_corr, keys)]
        ).agg(agg.alias(name))
        terms = tuple(t for _, t in sq.param_corr)
        param_subs.append(((name,), keys, terms, frame, (sq.func,), sq))
        return _Term("param", name)

    def set_param_cols_of(sq: _Subquery) -> tuple[str, str, str]:
        """A PARAMETERIZED [NOT] IN / quantified subquery (round-5
        latest): per-param-group (sorted value set, had-NULL, count)
        columns, aggregated once per refresh snapshot and
        broadcast-joined onto the FACT — the predicate then compiles
        as the same ``in_set`` / ``{cmp} {quant}_set`` ops the
        correlated machinery uses, with the three columns bound as
        synthetic params. Honors the _IN_SUBQUERY_CAP against the
        largest group, like correlated IN."""
        for entry in param_subs:
            if entry[5] == sq:
                return entry[0]
        base = f"__psub{len(param_subs)}"
        names = (f"{base}_set", f"{base}_null", f"{base}_cnt")
        if sq.param_theta:
            # THETA set shape (round-5 final): probe-time per-tuple
            # (sorted set, had-NULL, count) frame; the cap checks
            # against the built frame inside build()
            frame = _theta_frame_of(sq, dims, base, names)
            terms = tuple(_Term("param", n) for n in frame.pnames)
            param_subs.append(
                (names, frame.keys, terms, frame,
                 (None, None, None), sq)
            )
            return names
        sub_df, _ = _sub_filtered_df(sq, dims)
        keys = tuple(f"{base}_k{i}" for i in range(len(sq.param_corr)))
        grouped = sub_df.groupBy(
            *[F.col(sc).alias(k) for (sc, _), k in zip(sq.param_corr, keys)]
        ).agg(
            F.sort_array(F.collect_set(F.col(sq.col))).alias(names[0]),
            F.max(F.col(sq.col).isNull()).alias(names[1]),
            F.count(F.lit(1)).alias(names[2]),
        )
        _check_in_group_cap(grouped, names[0], sq.table, "parameter")
        param_subs.append(
            (names, keys, tuple(t for _, t in sq.param_corr), grouped,
             (None, None, None), sq)
        )
        return names

    def value_term(sq: _Subquery) -> _Term:
        if sq.param_corr or sq.param_theta:
            return param_term_of(sq)
        if sq.corr or sq.ineq:
            return _Term("column", corr_col_of(sq))
        for k, v in lit_cache:
            if k == sq:
                return _Term("literal", v)
        v = _eval_subquery(sq, dims)
        lit_cache.append((sq, v))
        return _Term("literal", v)

    # correlated scalar subqueries in HAVING (round-5 latest): the
    # HAVING filter runs over the AGGREGATED payload rows, so the
    # per-group subquery value must ride INTO the payload — a hidden
    # ``max(__sq_corrN) AS __hsq{k}`` aggregate (exact: Derby requires
    # the correlated column to be a grouping column, so the joined
    # value is constant within each group), stripped from the payload
    # after the HAVING filter (_shape_raw).
    hidden_aggs: list[tuple[str, str, str]] = []
    # PARAMETERIZED HAVING subqueries (round-5 latest): hidden-carrier
    # alias -> synthetic ``__psub{k}`` param, consumed by the same
    # post-stage overlay as projection subqueries (psq_params)
    having_psq: dict[str, str] = {}

    def having_param_carrier(pname: str) -> str:
        """Ride a synthetic per-event param (a broadcast-joined
        subquery value, scalar OR one of the three set columns) INTO
        the payload: a typed NULL placeholder dim column + hidden
        ``max(__hsq*)`` carrier (stripped post-filter like the
        correlated ones), OVERLAID with the per-event value inside the
        payload stage (_overlay_psq_params)."""
        for n0, p0 in having_psq.items():
            if p0 == pname:
                return n0
        frame = next(e[3] for e in param_subs if pname in e[0])
        dtype = (
            frame.dtype_of(pname)
            if isinstance(frame, _ThetaParamFrame)
            else frame.schema[pname].dataType
        )
        col = f"__sq_hp{len(having_psq)}"
        holder["dim"] = holder["dim"].withColumn(
            col, F.lit(None).cast(dtype)
        )
        name = f"__hsq{len(hidden_aggs)}"
        hidden_aggs.append((col, "max", name))
        having_psq[name] = pname
        return name

    def having_value_term(sq: _Subquery) -> _Term:
        if sq.param_theta:
            # THETA shape (round-5 final): same hidden-carrier overlay
            # as the plain-equality shapes — the placeholder's dtype
            # comes from the builder's schema-only aggregate
            # (_ThetaParamFrame.dtypes), since the frame itself builds
            # at probe time
            term = param_term_of(sq)
            return _Term("column", having_param_carrier(term.value))
        if sq.param_corr:
            # PARAMETERIZED HAVING subquery (round-5 latest): the
            # HAVING filter reads aggregated PAYLOAD fields, so the
            # per-event value must ride INTO the payload via the
            # hidden-carrier overlay. Derby runs the shape natively
            # as a prepared statement.
            term = param_term_of(sq)
            return _Term("column", having_param_carrier(term.value))
        if not sq.corr and not sq.ineq:
            return value_term(sq)
        # round-5 latest: INEQUALITY correlations are legal here too —
        # the per-correlation-tuple values coincide within a group
        # once every outer column (equality or inequality) is a GROUP
        # BY key, so the hidden max carrier stays exact
        bad = sorted(
            (
                {oc for _, oc in sq.corr}
                | {oc for _, _, oc in sq.ineq}
            )
            - set(parsed.group_by)
        )
        if bad:
            raise ValidationError(
                [f"lookup HAVING subquery on {sq.table!r}: correlated "
                 f"column(s) {bad} must be GROUP BY keys (Derby's own "
                 f"rule — the subquery value must be constant within "
                 f"each group)"]
            )
        col = corr_col_of(sq)
        for c0, _f0, n0 in hidden_aggs:
            if c0 == col:
                return _Term("column", n0)
        name = f"__hsq{len(hidden_aggs)}"
        hidden_aggs.append((col, "max", name))
        return _Term("column", name)

    def ensure_outer_cols(sq: _Subquery) -> None:
        """Materialize the subquery's OUTER-side correlation
        expressions (round-5 latest: ``p2.plan = upper(t.plan)``) as
        synthetic ``__sq_oexpr*`` columns on the probed dim — once per
        snapshot, before any correlation join reads them; the ``__sq_``
        prefix keeps them out of SELECT * payloads."""
        if holder["dim"] is None:
            return  # _need_dim raises the targeted message
        for name, ast in sq.outer_exprs:
            if name in holder["dim"].columns:
                continue
            missing = sorted(
                c
                for c in sqlexpr.columns(ast)
                if c not in holder["dim"].columns
            )
            if missing:
                raise ValidationError(
                    [f"lookup subquery on {sq.table!r}: outer column(s) "
                     f"{missing} not in table {parsed.table!r}"]
                )
            holder["dim"] = holder["dim"].withColumn(
                name, sqlexpr.compile_expr(ast)
            )

    def corr_col_of(sq: _Subquery) -> str:
        for k, name in corr_cache:
            if k == sq:
                return name
        ensure_outer_cols(sq)
        dim = _need_dim(sq, "correlated")
        sub_df, agg = _sub_filtered_df(sq, dims)
        name = f"__sq_corr{len(corr_cache)}"
        if sq.ineq:
            # inequality correlation (round-5 late): no per-group
            # extremum can carry a general aggregate over a moving
            # range, so aggregate per distinct outer correlation tuple
            # (_join_outer_theta; dim-sized work like a non-equi ON)
            holder["dim"] = _join_outer_theta(
                dim, sq, sub_df, name, (name,), sq.func
            )
            corr_cache.append((sq, name))
            return name
        keys = [f"__ck{i}_{name}" for i in range(len(sq.corr))]
        agg_df = sub_df.groupBy(
            *[F.col(sc).alias(k) for (sc, _), k in zip(sq.corr, keys)]
        ).agg(agg.alias(name))
        cond = None
        for (_, oc), k in zip(sq.corr, keys):
            piece = dim[oc] == agg_df[k]
            cond = piece if cond is None else (cond & piece)
        # per-group aggregate of a broadcast-contract dim: hint the
        # broadcast so this snapshot-time join never sort-merges
        dim = dim.join(F.broadcast(agg_df), cond, "left").drop(*keys)
        if sq.func in ("count", "count_distinct"):
            # SQL: an aggregate over an empty correlated group is a
            # COUNT of 0, not NULL — a left-join miss must not differ
            # from a matched-but-empty group
            dim = dim.withColumn(name, F.coalesce(F.col(name), F.lit(0)))
        holder["dim"] = dim
        corr_cache.append((sq, name))
        return name

    set_cache: list[tuple[_Subquery, list]] = []
    exists_cache: list[tuple[_Subquery, str]] = []
    in_group_cache: list[tuple[_Subquery, tuple[str, str, str]]] = []

    def _need_dim(sq: _Subquery, what: str) -> DataFrame:
        if holder["dim"] is None:
            raise ValidationError(
                [f"lookup subquery on {sq.table!r}: {what} subqueries "
                 f"need the probed dimension in scope — use "
                 f"resolve_subqueries_with_dim"]
            )
        outer_cols = [oc for _, oc in sq.corr]
        outer_cols += [oc for _, _, oc in sq.ineq]
        missing = sorted(
            oc for oc in outer_cols if oc not in holder["dim"].columns
        )
        if missing:
            raise ValidationError(
                [f"lookup subquery on {sq.table!r}: outer column(s) "
                 f"{missing} not in table {parsed.table!r}"]
            )
        return holder["dim"]

    def exists_col_of(sq: _Subquery) -> str:
        """[NOT] EXISTS as a synthetic NON-NULL boolean dim column
        (EXISTS is two-valued in SQL), built once per refresh snapshot:
        equality-correlated -> the distinct correlation-key set of the
        sub rows left-joins onto the dim as a TRUE flag, missing keys
        coalesce FALSE (the set-at-a-time hoist of Derby's per-row
        nested EXISTS); an inequality correlation decorrelates to the
        per-group extremum (a row with ``sub_col > x`` exists iff
        ``max(sub_col) > x``; max/min ignore NULL sub values, which
        could never satisfy the inequality anyway — and a NULL outer
        value compares unknown, coalescing FALSE, exactly SQL); several
        inequalities count their witnesses per distinct outer
        correlation tuple (_join_outer_theta); uncorrelated -> one
        driver-side emptiness probe folds to a constant column."""
        for k, name in exists_cache:
            if k == sq:
                return name
        ensure_outer_cols(sq)
        dim = _need_dim(sq, "EXISTS")
        name = f"__sq_exists{len(exists_cache)}"
        sub_df, _ = _sub_filtered_df(sq, dims)
        if len(sq.ineq) > 1:
            # SEVERAL inequality correlations (round-5 latest): no
            # single extremum can witness two inequalities at once —
            # a row with the group's max price need not be the row
            # with its max qty — so count the witnesses per distinct
            # outer correlation tuple (_join_outer_theta, the scalar
            # aggregates' path); an empty or missed tuple counts 0
            dim = _join_outer_theta(dim, sq, sub_df, name, (name,), "count")
            dim = dim.withColumn(name, F.col(name) > 0)
        elif sq.ineq:
            (sub_col, op, outer_col) = sq.ineq[0]
            # one inequality witness per group: > >= need the group max,
            # < <= the group min
            ext = (F.max if op in (">", ">=") else F.min)(F.col(sub_col))
            if sq.corr:
                keys = [f"__xk{i}_{name}" for i in range(len(sq.corr))]
                agg_df = sub_df.groupBy(
                    *[F.col(sc).alias(k)
                      for (sc, _), k in zip(sq.corr, keys)]
                ).agg(ext.alias(name))
                cond = None
                for (_, oc), k in zip(sq.corr, keys):
                    piece = dim[oc] == agg_df[k]
                    cond = piece if cond is None else (cond & piece)
                dim = (
                    dim.join(F.broadcast(agg_df), cond, "left")
                    .withColumn(
                        name,
                        F.coalesce(
                            _QUANT_CMP[op](F.col(name), dim[outer_col]),
                            F.lit(False),
                        ),
                    )
                    .drop(*keys)
                )
            else:
                extremum = sub_df.agg(ext).collect()[0][0]
                dim = dim.withColumn(
                    name,
                    F.coalesce(
                        _QUANT_CMP[op](F.lit(extremum), F.col(outer_col)),
                        F.lit(False),
                    ),
                )
        elif not sq.corr:
            flag = bool(sub_df.take(1))
            dim = dim.withColumn(name, F.lit(flag))
        else:
            keys = [f"__xk{i}_{name}" for i in range(len(sq.corr))]
            flags = (
                sub_df.groupBy(
                    *[F.col(sc).alias(k) for (sc, _), k in zip(sq.corr, keys)]
                )
                .agg(F.lit(True).alias(name))
            )
            cond = None
            for (_, oc), k in zip(sq.corr, keys):
                piece = dim[oc] == flags[k]
                cond = piece if cond is None else (cond & piece)
            dim = (
                dim.join(F.broadcast(flags), cond, "left")
                .drop(*keys)
                .withColumn(name, F.coalesce(F.col(name), F.lit(False)))
            )
        holder["dim"] = dim
        exists_cache.append((sq, name))
        return name

    def in_group_cols_of(sq: _Subquery) -> tuple[str, str, str]:
        """A CORRELATED [NOT] IN subquery as three per-group dim
        columns (value set / had-NULL / group count), aggregated once
        per refresh snapshot and left-joined by the correlation keys;
        the predicate then compiles as the static ``in_set`` op on
        every physical path. The per-group set honors the same
        broadcast-dim size contract as uncorrelated IN-subqueries
        (_IN_SUBQUERY_CAP, checked against the largest group)."""
        for k, names in in_group_cache:
            if k == sq:
                return names
        ensure_outer_cols(sq)
        dim = _need_dim(sq, "correlated IN")
        i = len(in_group_cache)
        names = (f"__sq_in{i}_set", f"__sq_in{i}_null", f"__sq_in{i}_cnt")
        sub_df, _ = _sub_filtered_df(sq, dims)
        if sq.ineq:
            # INEQUALITY correlations (round-5 latest): the value set
            # is per distinct outer correlation TUPLE, not per
            # correlation-key group (_join_outer_theta). An empty tuple
            # stays NULL — the in_set ops read that as "empty group",
            # exactly like an eq-key left-join miss.
            holder["dim"] = _join_outer_theta(
                dim, sq, sub_df, f"__sq_in{i}", names, "__values"
            )
            in_group_cache.append((sq, names))
            return names
        keys = [f"__ik{j}_{i}" for j in range(len(sq.corr))]
        grouped = sub_df.groupBy(
            *[F.col(sc).alias(k) for (sc, _), k in zip(sq.corr, keys)]
        ).agg(
            F.collect_set(F.col(sq.col)).alias(names[0]),
            F.max(F.col(sq.col).isNull()).alias(names[1]),
            F.count(F.lit(1)).alias(names[2]),
        )
        _check_in_group_cap(grouped, names[0], sq.table, "correlation")
        cond = None
        for (_, oc), k in zip(sq.corr, keys):
            piece = dim[oc] == grouped[k]
            cond = piece if cond is None else (cond & piece)
        holder["dim"] = dim.join(F.broadcast(grouped), cond, "left").drop(*keys)
        in_group_cache.append((sq, names))
        return names

    def hidden_carrier_of(col: str) -> str:
        """Get-or-create the hidden ``max(col) AS __hsq{n}`` payload
        carrier a HAVING predicate reads (group-constant by the GROUP
        BY-key validation, so max is exact; stripped from the payload
        after the HAVING filter, _shape_raw)."""
        for c0, _f0, n0 in hidden_aggs:
            if c0 == col:
                return n0
        name = f"__hsq{len(hidden_aggs)}"
        hidden_aggs.append((col, "max", name))
        return name

    def having_set_cols_of(sq: _Subquery, what: str) -> tuple[str, str, str]:
        """A CORRELATED [NOT] IN / quantified subquery in HAVING
        (round-5 latest, Derby-legal when every correlated column —
        equality or inequality — is a GROUP BY key, so the value set
        is constant within each group): the per-group (set, had-NULL,
        count) dim columns ride into the payload as hidden max
        carriers the HAVING filter's ``in_set`` / ``{cmp} {quant}_set``
        ops then read. The ops are membership tests, blind to the
        order of the collected set."""
        outer_cols = {oc for _, oc in sq.corr} | {
            oc for _, _, oc in sq.ineq
        }
        bad = sorted(outer_cols - set(parsed.group_by))
        if bad:
            raise ValidationError(
                [f"lookup HAVING {what} subquery on {sq.table!r}: "
                 f"correlated column(s) {bad} must be GROUP BY keys "
                 f"(the value set must be constant within each group)"]
            )
        s, n, c = in_group_cols_of(sq)
        return (
            hidden_carrier_of(s),
            hidden_carrier_of(n),
            hidden_carrier_of(c),
        )

    def fix_pred(p: _Predicate, in_having: bool = False) -> _Predicate:
        if not any(t.kind == "subquery" for t in p.terms):
            return p
        if p.op in ("exists", "not exists"):
            sq0 = p.terms[0].value
            if in_having and (sq0.param_corr or sq0.param_theta):
                # params-only EXISTS in HAVING (round-5 latest,
                # Derby-prepared-legal): existence of the param-keyed
                # group is exactly ``0 < count(*)`` — the per-event
                # count rides the scalar hidden-carrier overlay
                # (misses coalesce to 0) and the HAVING filter
                # compares the payload field (theta shapes included,
                # round-5 final: the count builds on the probe-time
                # distinct-tuple frame)
                count_sq = dataclasses.replace(
                    sq0, func="count", col=None
                )
                name = having_value_term(count_sq).value
                return _Predicate(
                    name, ">" if p.op == "exists" else "<=",
                    [_Term("literal", 0)],
                )
            if in_having:
                # HAVING [NOT] EXISTS (round-5 latest, Derby-legal):
                # the flag is group-CONSTANT when every correlated
                # column is a GROUP BY key, so it rides into the
                # payload as a hidden max(__sq_exists*) aggregate —
                # exactly the correlated-scalar __hsq mechanism
                outer_cols = {oc for _, oc in sq0.corr} | {
                    oc for _, _, oc in sq0.ineq
                }
                bad = sorted(outer_cols - set(parsed.group_by))
                if bad:
                    raise ValidationError(
                        [f"lookup HAVING EXISTS subquery on "
                         f"{sq0.table!r}: correlated column(s) {bad} "
                         f"must be GROUP BY keys (the flag must be "
                         f"constant within each group)"]
                    )
                col = exists_col_of(sq0)
                for c0, _f0, n0 in hidden_aggs:
                    if c0 == col:
                        return _Predicate(
                            n0, "=", [_Term("literal", p.op == "exists")]
                        )
                hn = f"__hsq{len(hidden_aggs)}"
                hidden_aggs.append((col, "max", hn))
                return _Predicate(
                    hn, "=", [_Term("literal", p.op == "exists")]
                )
            name = exists_col_of(sq0)
            return _Predicate(
                name, "=", [_Term("literal", p.op == "exists")]
            )
        if (
            p.op in _QUANT_OPS
            and len(p.terms) == 1
            and p.terms[0].kind == "subquery"
            and p.terms[0].value.func == "__values"
        ):
            # quantified comparison (round-5 latest): correlated rides
            # the same per-group set/had-null/count columns as IN;
            # uncorrelated expands to a literal value list (the
            # distinct collect keeps its one NULL — a NULL set value
            # must keep making comparisons UNKNOWN)
            sq = p.terms[0].value
            if sq.param_corr or sq.param_theta:
                # PARAMETERIZED (round-5 latest): per-param-group set
                # columns broadcast-joined onto the FACT, same ops
                # (theta shapes build their frame at probe time)
                s, n, c = set_param_cols_of(sq)
                if in_having:
                    # round-5 latest, Derby-prepared-legal: the three
                    # per-event set columns ride into the payload via
                    # the hidden-carrier overlay, read as payload
                    # fields by the HAVING filter's set ops
                    return _Predicate(
                        p.dim_column,
                        f"{p.op}_set",
                        [_Term("column", having_param_carrier(s)),
                         _Term("column", having_param_carrier(n)),
                         _Term("column", having_param_carrier(c))],
                        func=p.func,
                    )
                return _Predicate(
                    p.dim_column,
                    f"{p.op}_set",
                    [_Term("param", s), _Term("param", n),
                     _Term("param", c)],
                    func=p.func,
                )
            if sq.corr or sq.ineq:
                if in_having:
                    # round-5 latest, Derby-legal: the per-group set
                    # rides as hidden max carriers (having_set_cols_of)
                    s, n, c = having_set_cols_of(sq, "quantified")
                else:
                    s, n, c = in_group_cols_of(sq)
                return _Predicate(
                    p.dim_column,
                    f"{p.op}_set",
                    [_Term("column", s), _Term("column", n),
                     _Term("column", c)],
                    func=p.func,
                )
            vals = None
            for k, v in set_cache:
                if k == sq:
                    vals = v
                    break
            if vals is None:
                vals = _collect_in_values(sq, dims)
                set_cache.append((sq, vals))
            return _Predicate(
                p.dim_column,
                p.op,
                [_Term("literal", v) for v in vals],
                func=p.func,
            )
        if (
            p.op in ("in", "not in")
            and len(p.terms) == 1
            and p.terms[0].kind == "subquery"
            and p.terms[0].value.func == "__values"
        ):
            sq = p.terms[0].value
            if sq.param_corr or sq.param_theta:
                # PARAMETERIZED [NOT] IN (round-5 latest): per-param-
                # group (set, had-null, count) columns broadcast-joined
                # onto the FACT; the predicate compiles as the same
                # in_set op the correlated machinery uses (theta
                # shapes build their frame at probe time)
                s, n, c = set_param_cols_of(sq)
                if in_having:
                    # round-5 latest, Derby-prepared-legal: hidden-
                    # carrier overlay, like the quantified branch
                    return _Predicate(
                        p.dim_column,
                        "in_set" if p.op == "in" else "not in_set",
                        [_Term("column", having_param_carrier(s)),
                         _Term("column", having_param_carrier(n)),
                         _Term("column", having_param_carrier(c))],
                        func=p.func,
                    )
                return _Predicate(
                    p.dim_column,
                    "in_set" if p.op == "in" else "not in_set",
                    [_Term("param", s), _Term("param", n),
                     _Term("param", c)],
                    func=p.func,
                )
            if sq.corr or sq.ineq:
                if in_having:
                    # round-5 latest, Derby-legal: the per-group set
                    # rides as hidden max carriers (having_set_cols_of)
                    s, n, c = having_set_cols_of(sq, "IN")
                else:
                    s, n, c = in_group_cols_of(sq)
                return _Predicate(
                    p.dim_column,
                    "in_set" if p.op == "in" else "not in_set",
                    [_Term("column", s), _Term("column", n),
                     _Term("column", c)],
                    func=p.func,
                )
            # uncorrelated row-set subquery: expand to a literal IN
            # list (empty set -> zero terms; the condition compilers
            # give IN () = FALSE and NOT IN () = TRUE, standard SQL)
            vals = None
            for k, v in set_cache:
                if k == sq:
                    vals = v
                    break
            if vals is None:
                vals = _collect_in_values(sq, dims)
                set_cache.append((sq, vals))
            return _Predicate(
                p.dim_column,
                p.op,
                [_Term("literal", v) for v in vals],
                func=p.func,
            )
        term_fn = having_value_term if in_having else value_term
        return _Predicate(
            p.dim_column,
            p.op,
            [
                term_fn(t.value) if t.kind == "subquery" else t
                for t in p.terms
            ],
            func=p.func,
            like_escape=p.like_escape,
        )

    def fix_tree(node):
        if node[0] == "pred":
            return ("pred", fix_pred(node[1]))
        return (node[0], [fix_tree(c) for c in node[1]])

    # projection scalar subqueries (round-5) materialize as dim
    # columns under their ``__psq{n}`` names: correlated ones alias
    # the shared per-group aggregate column; uncorrelated ones become
    # one TYPED literal (Derby types a NULL aggregate by the
    # aggregate's result type, and a NullType payload field would
    # poison the struct schema).
    psq_lit: dict[str, object] = {}
    psq_param: dict[str, str] = {}
    for name, sq in parsed.proj_subqueries:
        if holder["dim"] is None:
            raise ValidationError(
                [f"lookup subquery on {sq.table!r}: projection "
                 f"subqueries need the probed dimension in scope — "
                 f"use resolve_subqueries_with_dim"]
            )
        if sq.param_corr or sq.param_theta:
            # PARAMETERIZED projection subquery (round-5 latest): the
            # per-event value rides the predicate machinery — the
            # snapshot-built per-param-group aggregate frame broadcast-
            # joins onto the FACT (_attach_param_subs) and the payload
            # field is OVERLAID post-stage (_overlay_psq_params); the
            # dim carries a typed NULL placeholder so every physical
            # path keeps its snapshot-typed payload struct
            term = param_term_of(sq)
            pname = term.value
            frame = next(
                e[3] for e in param_subs if e[0][0] == pname
            )
            dtype = (
                frame.dtype_of(pname)
                if isinstance(frame, _ThetaParamFrame)
                else frame.schema[pname].dataType
            )
            holder["dim"] = holder["dim"].withColumn(
                name, F.lit(None).cast(dtype)
            )
            psq_param[name] = pname
        elif sq.corr or sq.ineq:
            col = corr_col_of(sq)  # joins the aggregate onto holder["dim"]
            holder["dim"] = holder["dim"].withColumn(name, F.col(col))
        else:
            v = None
            for k, cached in lit_cache:
                if k == sq:
                    v = cached
                    break
            else:
                v = _eval_subquery(sq, dims)
                lit_cache.append((sq, v))
            if v is None:
                df, agg = _sub_filtered_df(sq, dims)
                lit = F.lit(None).cast(df.agg(agg).schema[0].dataType)
            else:
                lit = F.lit(v)
            holder["dim"] = holder["dim"].withColumn(name, lit)
            psq_lit[name] = v
    new_disjuncts = [[fix_pred(p) for p in d] for d in parsed.disjuncts]
    new_tree = (
        None if parsed.where_tree is None else fix_tree(parsed.where_tree)
    )
    new_having = tuple(
        tuple(fix_pred(p, in_having=True) for p in d)
        for d in parsed.having
    )
    parsed = dataclasses.replace(
        parsed,
        disjuncts=new_disjuncts,
        where_tree=new_tree,
        having=new_having,
        # hidden per-group carriers for correlated HAVING subqueries
        # (stripped from the payload after the HAVING filter)
        aggregates=parsed.aggregates
        + tuple((f, c, n) for c, f, n in hidden_aggs),
        proj_subqueries=(),
        # parameterized-subquery aggregate frames, consumed fact-side
        # by CompiledLookup._attach_param_subs (the cached _Subquery
        # tail element is resolution-internal and stripped here)
        param_subs=tuple(e[:5] for e in param_subs),
        # GLOBAL-aggregate case (no GROUP BY): the parse converted each
        # projected uncorrelated subquery into a max(__psq{n})
        # aggregate — record its resolved literal so the empty-set
        # aggregate row carries the subquery value, as SQL requires
        agg_empty=tuple(
            (alias, psq_lit[col])
            for _f, col, alias in parsed.aggregates
            if col in psq_lit and not parsed.group_by
        ),
        # PARAMETERIZED projection subqueries (round-5 latest): the
        # (payload alias, synthetic param) pairs the post-stage
        # overlay substitutes into the typed NULL placeholders
        psq_params=tuple(
            (alias, psq_param[src])
            for src, alias in (parsed.projection or [])
            if src in psq_param
        )
        # GLOBAL-aggregate combination (round-5 latest): the parse
        # converted the projected subquery into a max(__psq{n})
        # aggregate — map its ALIAS onto the synthetic param so the
        # overlay (and the in-stage empty-row substitution) reach it
        + tuple(
            (alias, psq_param[col])
            for _f, col, alias in parsed.aggregates
            if col in psq_param and not parsed.group_by
        )
        # hidden carriers for PARAMETERIZED HAVING subqueries — same
        # overlay, stripped from the payload after the HAVING filter
        + tuple(having_psq.items()),
    )
    return parsed, holder["dim"]


@dataclass(frozen=True)
class _JoinPart:
    """One JOIN clause of a multi-table lookup query. ``alias`` is the
    lowercase qualifier this relation is referenced by (explicit alias,
    else the table name); ``on`` is a conjunction of alias-qualified
    conditions (l_qual, l_col, op, r_qual, r_col) — op is one of
    ``= <> < > <= >=`` (non-equi ON is legal since round 4; a pure
    non-equi join compiles to a dim-sized nested-loop, still once per
    refresh snapshot). A side with qual ``None`` carries a LITERAL in
    the col slot (round-5: ``ON p.k = b.k AND b.status = 'active'`` —
    with a LEFT join this is not WHERE-expressible, the unmatched left
    row survives with NULLs)."""

    table: str
    alias: str
    how: str  # 'inner' | 'left'
    on: tuple[tuple[str | None, object, str, str | None, object], ...]


@dataclass
class ParsedQuery:
    projection: list[tuple[str, str]] | None  # (source, alias); None == SELECT *
    table: str
    # WHERE in disjunctive normal form: OR over conjunctions. [] == no WHERE.
    disjuncts: list[list[_Predicate]] = field(default_factory=list)
    # multi-table surface: qualifier of the FROM table + JOIN clauses.
    # Kept on the flat-rewritten query too (build_join_dim) so callers
    # can tell a derived-dim lookup from a plain one.
    base_alias: str = ""
    joins: tuple[_JoinPart, ...] = ()
    # ORDER BY (col, ascending) keys — payload array order — and the
    # LIMIT / FETCH FIRST n ROWS ONLY row cap plus OFFSET n ROWS skip,
    # applied after ordering (and after DISTINCT).
    order_by: tuple[tuple[str, bool], ...] = ()
    limit: int | None = None
    offset: int | None = None
    # SELECT DISTINCT: dedupe payload rows (SQL order: DISTINCT, then
    # ORDER BY — whose keys must be selected, as Derby enforces — then
    # LIMIT).
    distinct: bool = False
    # Aggregate projection (``SELECT count(*) AS n, max(col) AS m``):
    # (func, col | None for ``*``, alias) triples. Without GROUP BY,
    # mutually exclusive with plain columns and with
    # DISTINCT/ORDER BY/LIMIT; the payload is always exactly ONE row —
    # SQL aggregates over an empty set still return a row.
    aggregates: tuple[tuple[str, str | None, str], ...] = ()
    # GROUP BY keys: the payload carries one row per group among the
    # matching dim rows (plain projected columns must be group keys;
    # zero groups on an empty match set — the default_hash CAN fire).
    group_by: tuple[str, ...] = ()
    # HAVING in DNF over PAYLOAD FIELDS (group keys / aggregate
    # aliases): filters the group rows after aggregation; referencing
    # an aggregate not in the SELECT list is rejected with a pointer to
    # add it.
    having: tuple = ()
    # Expression LEFT-HAND SIDES in HAVING (round-5 latest, Derby runs
    # them verbatim: ``HAVING total * 2 > n + 1``): (name, sqlexpr AST)
    # pairs whose Cols are PAYLOAD aliases (aggregate calls already
    # rewritten to their aliases); the matching predicate's dim_column
    # is the synthetic name, and every evaluator computes the
    # expression over the group row at filter time — never a payload
    # field.
    having_exprs: tuple = ()
    # Dim-side scalar expressions (arithmetic / CASE / COALESCE in the
    # projection or a predicate lhs), each materialized as a synthetic
    # dim column named ``__expr{n}``: (name, sqlexpr AST) pairs. The
    # rest of the query references them as plain columns, so every
    # physical path works unchanged (a param-keyed equality on a
    # computed column keeps the broadcast-hash equi path).
    computed: tuple[tuple[str, object], ...] = ()
    # The raw boolean tree, kept ONLY when DNF normalization would
    # exceed _MAX_DISJUNCTS (``disjuncts`` is then empty): the theta
    # paths compile/evaluate the tree directly instead of raising —
    # the reference executes any WHERE verbatim in Derby, so a wide OR
    # is a legal config. None for every normalizable query.
    where_tree: object | None = None
    # Scalar subqueries in the PROJECTION (round-5:
    # ``SELECT name, (SELECT max(x) FROM t2 WHERE t2.k = s.k) AS mx``)
    # — Derby evaluates the sub-SELECT per output row
    # (lookup.rb:131-147); here each resolves once per refresh
    # snapshot into a synthetic ``__psq{n}`` dim column (uncorrelated
    # -> one typed literal; correlated -> the per-group aggregate
    # left-joined by its correlation keys) the projection then
    # references like any plain column. Cleared by
    # resolve_subqueries_with_dim.
    proj_subqueries: tuple[tuple[str, "_Subquery"], ...] = ()
    # True when a plain/expression column follows an aggregate in the
    # SELECT list. The payload struct orders group keys before
    # aggregates regardless of SELECT order (documented contract), so
    # positional UNION-branch alignment rejects interleaved lists —
    # they would align against the reordered payload, not the SQL.
    select_interleaved: bool = False
    # PARAMETERIZED subqueries (round-5 latest): filled by
    # resolve_subqueries_with_dim — each entry is (synthetic param
    # name, key column names on the aggregate frame, the fact-side
    # param terms those keys equal, the per-group aggregate DataFrame
    # built once per refresh snapshot, the aggregate func). The
    # compiled lookup broadcast-joins each frame onto the FACT at
    # probe time and the term rides as an ordinary bound param
    # (CompiledLookup._attach_param_subs).
    param_subs: tuple = ()
    # GLOBAL-aggregate empty-set overrides (round-5 latest): (alias,
    # literal) pairs for aggregates that carry a projected UNCORRELATED
    # scalar subquery (parsed as ``max(__psq{n})``) — SQL evaluates the
    # subquery even over zero matched rows, so the one empty-set
    # aggregate row substitutes the snapshot-resolved literal instead
    # of max()'s NULL. Filled at subquery resolution.
    agg_empty: tuple[tuple[str, object], ...] = ()
    # PARAMETERIZED projection subqueries (round-5 latest): (payload
    # alias, synthetic ``__psub{k}`` param) pairs. The dim carries a
    # typed NULL placeholder under the ``__psq{n}`` projection source
    # (so every physical path keeps its snapshot-typed payload struct)
    # and CompiledLookup overlays the per-event broadcast-joined value
    # into the payload field post-stage (_overlay_psq_params). Filled
    # at subquery resolution.
    psq_params: tuple[tuple[str, str], ...] = ()

    @property
    def predicates(self) -> list[_Predicate]:
        """All predicates, flattened across disjuncts — or across the
        un-normalized tree on DNF overflow (validation/advisory)."""
        if self.where_tree is not None:
            return _tree_leaves(self.where_tree)
        return [p for d in self.disjuncts for p in d]

    @property
    def is_pure_equi(self) -> bool:
        """True when the broadcast-hash path applies: a single
        conjunction whose parameter-bound predicates are all simple
        equalities (static predicates of ANY op ride along as dim-side
        filters), with at least one bound key to join on."""
        if len(self.disjuncts) != 1:
            return False
        has_key = False
        for p in self.disjuncts[0]:
            if p.is_static:
                continue
            if (
                p.op == "="
                and len(p.terms) == 1
                # a mixed dim+param expression (a = b + :k) depends on
                # the dim ROW, so it cannot be a probe key — route to
                # the theta paths, which evaluate both scopes at once
                and p.terms[0].kind != "mixed_expr"
            ):
                has_key = True
            else:
                return False
        return has_key


_SELECT_HEAD_RE = re.compile(
    r"^\s*select\s+(?P<distinct>distinct\s+)?", re.IGNORECASE
)


def _split_select(
    query: str,
) -> tuple[bool, str, str, str | None] | None:
    """Split ``SELECT [DISTINCT] <proj> FROM <from> [WHERE <where>]``
    at paren depth 0. A plain regex split breaks the moment a
    projection item is a scalar subquery (round-5) — its inner FROM
    would truncate the projection — so the keyword scan tracks paren
    depth and ``'...'`` string state (with ``''`` escapes). Returns
    (distinct, proj, from_text, where_text|None), or None on a shape
    this parser does not accept."""
    head = _SELECT_HEAD_RE.match(query)
    if head is None:
        return None
    s = query.rstrip()
    if s.endswith(";"):
        s = s[:-1].rstrip()
    n = len(s)
    depth = 0
    i = head.end()
    from_span: tuple[int, int] | None = None
    where_span: tuple[int, int] | None = None
    while i < n:
        ch = s[i]
        if ch == "'":
            i += 1
            while i < n:
                if s[i] == "'":
                    if i + 1 < n and s[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
            i += 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and (ch.isalpha() or ch == "_"):
            j = i
            while j < n and (s[j].isalnum() or s[j] in "_$"):
                j += 1
            prev = s[i - 1] if i else " "
            if not (prev.isalnum() or prev in "_$.:"):
                w = s[i:j].lower()
                if w == "from" and from_span is None:
                    from_span = (i, j)
                elif w == "where" and from_span is not None:
                    where_span = (i, j)
                    break
            i = j
            continue
        i += 1
    if from_span is None:
        return None
    proj = s[head.end():from_span[0]].strip()
    if not proj:
        return None
    if where_span is not None:
        from_text = s[from_span[1]:where_span[0]].strip()
        where_text = s[where_span[1]:].strip()
        if not where_text:
            return None
    else:
        from_text = s[from_span[1]:].strip()
        where_text = None
    if not from_text:
        return None
    return head.group("distinct") is not None, proj, from_text, where_text

_SIMPLE_TABLE_RE = re.compile(r"^[A-Za-z_][\w.]*$")

_AGG_RE = re.compile(
    r"^(?P<func>count|sum|min|max|avg)\s*\(\s*(?P<distinct>distinct\s+)?"
    r"(?P<arg>\*|[A-Za-z_][\w.]*)\s*\)$",
    re.IGNORECASE,
)

# aggregate over an expression argument — the greedy group takes
# everything to the final ')'; the expression parser then validates
# balance and shape
_AGG_EXPR_RE = re.compile(
    r"^(?P<func>count|sum|min|max|avg)\s*\(\s*(?P<distinct>distinct\s+)?"
    r"(?P<arg>.+)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)

_TOKEN_RE = re.compile(
    r"""(?:
        (?P<string>'(?:[^']|'')*')
      | (?P<number>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
      | (?P<param>:[A-Za-z_][A-Za-z0-9_]*)
      | (?P<qmark>\?)
      | (?P<op><>|!=|<=|>=|=|<|>)
      | (?P<arith>\|\||[+\-*/])
      | (?P<lparen>\()
      | (?P<rparen>\))
      | (?P<comma>,)
      | (?P<word>[A-Za-z_][\w]*(?:\.[A-Za-z_][\w]*)?)
    )""",
    re.VERBOSE,
)


def _tokenize_where(text: str) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    pos, n = 0, len(text)
    while pos < n:
        if text[pos].isspace():
            pos += 1
            continue
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise ValidationError(
                [f"unsupported lookup predicate syntax at: {text[pos:pos + 40]!r}"]
            )
        out.append((m.lastgroup, m.group()))
        pos = m.end()
    return out


_FROM_KEYWORDS = {"join", "inner", "left", "outer", "on", "as", "and"}


class _TokenCursor:
    """Shared peek/take cursor over ``_tokenize_where`` token lists —
    the FROM and ORDER BY/LIMIT clause parsers both walk tokens this
    way (the round-3 review found two drifting copies)."""

    def __init__(self, toks: list[tuple[str, str]], what: str):
        self.toks = toks
        self.what = what
        self.pos = 0

    def peek(self):
        return self.toks[self.pos] if self.pos < len(self.toks) else None

    def take(self):
        t = self.peek()
        if t is None:
            raise ValidationError(
                [f"unsupported lookup {self.what}: unexpected end of clause"]
            )
        self.pos += 1
        return t

    @staticmethod
    def word_of(t):
        return t[1].lower() if t and t[0] == "word" else None


def _parse_from(text: str) -> tuple[str, str, tuple[_JoinPart, ...]]:
    """Parse the FROM clause: ``table [alias] (JOIN table [alias] ON
    qual.col = qual.col [AND ...])*`` with INNER (default) and LEFT
    [OUTER] join types. Single-table FROMs (possibly schema-dotted)
    short-circuit to the legacy shape. The reference executes arbitrary
    Derby SQL (lookup.rb:131-147), where joins of local db_objects are
    legal lookup configs."""
    text = text.strip()
    if _SIMPLE_TABLE_RE.match(text) and text.lower() not in _FROM_KEYWORDS:
        return text, text.lower(), ()
    cur = _TokenCursor(_tokenize_where(text), "FROM")
    peek, take, word_of = cur.peek, cur.take, cur.word_of

    def relation() -> tuple[str, str]:
        kind, name = take()
        if kind != "word" or "." in name or name.lower() in _FROM_KEYWORDS:
            raise ValidationError(
                [f"unsupported lookup FROM: expected table name, got {name!r}"]
            )
        alias = name.lower()
        t = peek()
        if word_of(t) == "as":
            take()
            t = peek()
            if word_of(t) is None or "." in t[1] or t[1].lower() in _FROM_KEYWORDS:
                raise ValidationError(
                    [f"unsupported lookup FROM: bad alias after {name!r} AS"]
                )
            alias = take()[1].lower()
        elif word_of(t) is not None and word_of(t) not in _FROM_KEYWORDS and "." not in t[1]:
            alias = take()[1].lower()
        return name, alias

    def operand(side: str) -> tuple[str | None, object]:
        """One ON operand: a qualified column (qual, col) or a literal
        (None, value) — Derby accepts literal ON operands
        (lookup.rb:131-147), and with a LEFT join they are NOT
        WHERE-expressible (the unmatched left row survives)."""
        kind, name = take()
        if kind == "string":
            return None, name[1:-1].replace("''", "'")
        if kind == "arith" and name == "-":
            kind, name = take()
            if kind != "number":
                raise ValidationError(
                    [f"unsupported lookup FROM: ON {side} side — "
                     f"expected a number after '-', got {name!r}"]
                )
            return None, -(
                float(name) if any(ch in name for ch in ".eE") else int(name)
            )
        if kind == "number":
            return None, (
                float(name) if any(ch in name for ch in ".eE") else int(name)
            )
        if kind != "word" or "." not in name:
            raise ValidationError(
                [f"unsupported lookup FROM: ON {side} side must be a "
                 f"qualified column (alias.col) or a literal, got {name!r}"]
            )
        q, c = name.split(".", 1)
        return q.lower(), c

    base_table, base_alias = relation()
    joins: list[_JoinPart] = []
    while peek() is not None:
        w = word_of(peek())
        how = "inner"
        if w == "inner":
            take()
        elif w == "left":
            take()
            if word_of(peek()) == "outer":
                take()
            how = "left"
        elif w != "join":
            raise ValidationError(
                [f"unsupported lookup FROM near {peek()[1]!r}"]
            )
        t = take()
        if word_of(t) != "join":
            raise ValidationError(
                [f"unsupported lookup FROM: expected JOIN, got {t[1]!r}"]
            )
        tbl, alias = relation()
        t = take()
        if word_of(t) != "on":
            raise ValidationError(
                [f"unsupported lookup FROM: expected ON after {tbl!r}"]
            )
        on: list[tuple[str | None, object, str, str | None, object]] = []
        while True:
            lq, lc = operand("left")
            opk, opv = take()
            if opk != "op":
                raise ValidationError(
                    ["unsupported lookup FROM: ON supports "
                     "alias.col <op> alias.col|literal conditions "
                     "(=, <>, <, >, <=, >=)"]
                )
            op = "<>" if opv == "!=" else opv
            rq, rc = operand("right")
            if lq is None and rq is None:
                raise ValidationError(
                    ["unsupported lookup FROM: an ON condition must "
                     "reference at least one column (got two literals)"]
                )
            on.append((lq, lc, op, rq, rc))
            if word_of(peek()) == "and":
                take()
                continue
            break
        joins.append(_JoinPart(tbl, alias, how, tuple(on)))
    return base_table, base_alias, tuple(joins)


class _WhereParser:
    """Recursive-descent parser for the lookup WHERE surface:

        or_expr  := and_expr (OR and_expr)*
        and_expr := primary (AND primary)*
        primary  := NOT primary | '(' or_expr ')' | predicate
        predicate:= col (=|<>|!=|<|>|<=|>=) term
                  | col [NOT] LIKE term
                  | col [NOT] IN '(' term (',' term)* ')'
                  | col [NOT] BETWEEN term AND term
                  | col IS [NOT] NULL
        term     := :name | ? | 'string' | number

    The reference hands lookup SQL verbatim to Derby (lookup.rb:131-147),
    so any of these shapes is a legal config there; this parser covers
    the full conjunctive/disjunctive predicate surface over one table.
    ``BETWEEN``'s inner AND binds inside the predicate, which is why this
    is a real parser and not a split-on-AND."""

    def __init__(
        self,
        tokens: list[tuple[str, str]],
        table: str = "",
        quals: set[str] | None = None,
        alias: str = "",
        computed: list[tuple[str, object]] | None = None,
        qualifier_fallback=None,
        in_subquery: bool = False,
        in_having: bool = False,
    ):
        self.tokens = tokens
        self.table = table
        # True when parsing a HAVING clause: lhs expressions register
        # in the PAYLOAD-level computed list (ParsedQuery.having_exprs)
        # and param/mixed rejections use HAVING-specific messages
        self.in_having = in_having
        # True when parsing a subquery's own WHERE: EXISTS cannot nest
        # there (no set-at-a-time plan can stage doubly-nested
        # existence), so the parser rejects it with a direct message.
        self.in_subquery = in_subquery
        # Subquery scoping hook: called with a qualified name whose
        # qualifier is NOT this parser's relation — the enclosing
        # query's parser resolves it as an OUTER (correlated) reference.
        self.qualifier_fallback = qualifier_fallback
        # Shared registry of dim-side computed expressions (see
        # ParsedQuery.computed); None == expression lhs not legal in
        # this clause (HAVING runs over payload fields, not the dim).
        self.computed = computed
        # Multi-table mode: the set of in-scope relation aliases.
        # Qualified references are KEPT as "alias.col" (lowercased
        # alias) for build_join_dim to resolve; single-table mode
        # (quals=None) strips the FROM table's qualifier as before.
        self.quals = quals
        # Single-table alias (``FROM servers s``): strips like the
        # table name itself.
        self.alias = alias
        self.i = 0
        self.positional = 0

    def _strip_qualifier(self, name: str) -> str:
        """``table.col`` -> ``col`` when the qualifier IS the FROM table
        (the only relation in scope); any other qualifier is an error.
        In join mode, in-scope qualifiers are preserved as
        ``alias.col``."""
        if "." not in name:
            return name
        prefix, col = name.split(".", 1)
        if self.quals is not None:
            if prefix.lower() in self.quals:
                return f"{prefix.lower()}.{col}"
            raise ValidationError(
                [f"unsupported lookup predicate: unknown relation "
                 f"qualifier {prefix!r} in {name!r} (in scope: "
                 f"{sorted(self.quals)})"]
            )
        if self.table and (
            prefix.lower() == self.table.lower()
            or (self.alias and prefix.lower() == self.alias)
        ):
            return col
        if self.qualifier_fallback is not None:
            return self.qualifier_fallback(name)
        raise ValidationError(
            [f"unsupported lookup predicate: unknown table qualifier "
             f"{prefix!r} in {name!r} (FROM table is {self.table!r})"]
        )

    def _peek(self) -> tuple[str, str] | None:
        return self.tokens[self.i] if self.i < len(self.tokens) else None

    def _next(self) -> tuple[str, str]:
        tok = self._peek()
        if tok is None:
            raise ValidationError(["unsupported lookup predicate: unexpected end of WHERE"])
        self.i += 1
        return tok

    def _peek_word(self) -> str | None:
        tok = self._peek()
        return tok[1].lower() if tok and tok[0] == "word" else None

    def _expect_word(self, *words: str) -> str:
        tok = self._next()
        if tok[0] != "word" or tok[1].lower() not in words:
            raise ValidationError(
                [f"unsupported lookup predicate: expected {'/'.join(words).upper()}, got {tok[1]!r}"]
            )
        return tok[1].lower()

    def parse_tree(self):
        """The raw boolean tree — kept un-normalized when DNF expansion
        would explode past _MAX_DISJUNCTS (the theta paths can evaluate
        the tree directly; see ParsedQuery.where_tree)."""
        node = self._or_expr()
        if self._peek() is not None:
            raise ValidationError(
                [f"unsupported lookup predicate: trailing tokens at {self._peek()[1]!r}"]
            )
        return node

    def parse(self) -> list[list[_Predicate]]:
        return _to_dnf(self.parse_tree())

    def _or_expr(self):
        parts = [self._and_expr()]
        while self._peek_word() == "or":
            self._next()
            parts.append(self._and_expr())
        return parts[0] if len(parts) == 1 else ("or", parts)

    def _and_expr(self):
        parts = [self._primary()]
        while self._peek_word() == "and":
            self._next()
            parts.append(self._primary())
        return parts[0] if len(parts) == 1 else ("and", parts)

    def _primary(self):
        # leading NOT: `NOT <primary>` — covers NOT (a OR b) and NOT a = 1.
        # (Postfix forms — col NOT LIKE/IN/BETWEEN — are handled in
        # _predicate; a column named "not" is already rejected there.)
        if self._peek_word() == "not":
            self._next()
            return _negate(self._primary())
        if self._peek_word() == "exists":
            nxt = (
                self.tokens[self.i + 1]
                if self.i + 1 < len(self.tokens) else None
            )
            if nxt and nxt[0] == "lparen":
                self._next()  # EXISTS
                self._next()  # (
                return ("pred", self._exists_predicate())
        tok = self._peek()
        if tok and tok[0] == "lparen":
            # '(' may open a boolean group or a parenthesized arithmetic
            # lhs (``(a + 1) > :x``): try the boolean reading first and
            # fall back to a predicate whose expression grammar owns the
            # paren; when both fail, the boolean error is the clearer one
            save = self.i
            try:
                self._next()
                node = self._or_expr()
                if self._next()[0] != "rparen":
                    raise ValidationError(
                        ["unsupported lookup predicate: unbalanced parentheses"]
                    )
                return node
            except ValidationError as bool_err:
                self.i = save
                try:
                    return ("pred", self._predicate())
                except ValidationError:
                    raise bool_err
        return ("pred", self._predicate())

    def _term(self) -> _Term:
        """One rhs operand: a ``:name``/``?`` placeholder, a literal, a
        scalar subquery, a dim-side column/expression, or (round-5
        latest) an expression over params+literals evaluated FACT-side
        per event (``price > :lim * 2``). Non-param, non-literal shapes
        are STATIC — evaluable against the dimension alone — so
        ``a = b + 1`` rides dim-side on every physical path.
        Expressions MIXING dim columns and params are rejected
        (``a = b + :k`` is neither a dim constant nor a fact key any
        path can stage)."""
        tok = self._peek()
        if tok is None:
            raise ValidationError(
                ["unsupported lookup predicate: unexpected end of WHERE"]
            )
        kind, text = tok
        if kind in ("param", "qmark"):
            nxt = (
                self.tokens[self.i + 1]
                if self.i + 1 < len(self.tokens)
                else None
            )
            if not (nxt and nxt[0] == "arith"):
                # plain placeholder — the fast path every existing
                # config takes (a trailing operator means the param is
                # the FIRST leaf of an expression: fall through)
                self._next()
                if kind == "param":
                    return _Term("param", text[1:])
                name = f"p{self.positional}"
                self.positional += 1
                return _Term("param", name)
        if kind == "lparen":
            nxt = self.tokens[self.i + 1] if self.i + 1 < len(self.tokens) else None
            if nxt and nxt[0] == "word" and nxt[1].lower() == "select":
                return self._subquery_term()
        # Everything else is a scalar expression over dim columns,
        # literals, and (round-5 latest) :name/? params — the
        # arithmetic grammar also lexes plain literals (signed numbers,
        # concatenated strings), which fold back to literal terms below.
        def resolve_param(tkind: str, ttext: str) -> str:
            if tkind == "param":
                return ttext[1:]
            name = f"p{self.positional}"
            self.positional += 1
            return name

        ep = sqlexpr.ExprParser(
            self.tokens, self.i, resolve_col=self._strip_qualifier,
            resolve_param=resolve_param,
        )
        try:
            ast = ep.parse()
        except ValidationError as e:
            raise ValidationError(
                [f"unsupported lookup predicate rhs: {text!r} "
                 f"(expected :name, ?, literal, subquery, or a dim-side "
                 f"column/expression; {e.errors[0]})"]
            )
        self.i = ep.i
        pnames = sqlexpr.params_of(ast)
        if pnames:
            cols = sqlexpr.columns(ast)
            if cols:
                # mixed dim+param expression (round-5 latest: ``a = b +
                # :k``): legal in the MAIN WHERE, where the theta probe
                # evaluates dim row and event tuple together; in a
                # predicate-RHS subquery's WHERE (round-5 final), where
                # the THETA-parameterized frame evaluates sub row and
                # distinct param tuple together (_ThetaParamFrame); and
                # in HAVING comparands (round-5 final) — the HAVING
                # filter runs FACT-side over the aggregated payload
                # rows with the bound params in scope, so payload
                # aliases and params share a row
                # (_having_element_condition; alias membership is
                # validated with the other HAVING references).
                return _Term("mixed_expr", ast)
            if isinstance(ast, sqlexpr.Param):
                return _Term("param", ast.name)
            return _Term("param_expr", ast)
        if isinstance(ast, sqlexpr.Lit):
            return _Term("literal", ast.value)
        if not sqlexpr.columns(ast):
            # constant expression ((2+3), 'a'||'b'): fold at parse time
            return _Term("literal", sqlexpr.eval_expr(ast, {}))
        simple = sqlexpr.is_simple_column(ast)
        if simple is not None:
            return _Term("column", simple)
        return _Term("column", self._new_computed(ast))

    def _subquery_term(self) -> _Term:
        """``( SELECT agg([DISTINCT] col | *) FROM table [WHERE ...] )``
        — an uncorrelated scalar subquery rhs. The inner WHERE accepts
        the same static predicate grammar (column/literal/expression
        operands, nested subqueries); ``:param``/``?`` inside it is
        rejected — that would be a correlated probe per event."""
        self._next()  # (
        self._next()  # SELECT
        tok = self._next()
        if tok[0] != "word" or tok[1].lower() not in (
            "count", "sum", "min", "max", "avg"
        ):
            raise ValidationError(
                [f"unsupported lookup subquery: expected an aggregate "
                 f"(count/sum/min/max/avg), got {tok[1]!r} — scalar "
                 f"subqueries must return one value"]
            )
        func = tok[1].lower()
        if self._next()[0] != "lparen":
            raise ValidationError(
                [f"unsupported lookup subquery: expected '(' after {func}"]
            )
        distinct = False
        if self._peek_word() == "distinct":
            self._next()
            distinct = True
        # round-5 final: DISTINCT is legal under every set function
        # (Derby accepts them all) — mapped after the arg parse
        # The aggregate argument may be an expression (max(length(c)));
        # slice its tokens to the matching ')' and parse once the FROM
        # table (needed for qualifier stripping) is known.
        depth, j = 0, self.i
        while j < len(self.tokens):
            k = self.tokens[j][0]
            if k == "lparen":
                depth += 1
            elif k == "rparen":
                if depth == 0:
                    break
                depth -= 1
            j += 1
        arg_toks = self.tokens[self.i:j]
        if j >= len(self.tokens):
            raise ValidationError(
                [f"unsupported lookup subquery: unclosed {func}(...)"]
            )
        self.i = j + 1  # past the aggregate's ')'
        table, sub_alias, strip_sub_qual = self._sub_relation()
        computed: list[tuple[str, object]] = []
        col: str | None
        if (
            len(arg_toks) == 1
            and arg_toks[0][0] == "arith"
            and arg_toks[0][1] == "*"
        ):
            if func != "count" or distinct:
                raise ValidationError(
                    [f"unsupported lookup subquery: {func}(*) — only "
                     f"count(*) takes '*'"]
                )
            col = None
        else:
            col = self._sub_head_column(
                arg_toks, strip_sub_qual, computed, "aggregate argument"
            )
        where, corr, ineq, oexprs, pcorr, ptheta = self._sub_where(
            table, sub_alias, computed, allow_ineq=True
        )
        # NESTED parameterized scalar subqueries are legal since
        # round-5 final: the ENCLOSING subquery classifies as THETA
        # (its predicate's param_names include the nested params) and
        # the nested per-tuple value joins onto the distinct-tuple
        # frame (_theta_frame_of.nested_value); nested CORRELATED or
        # IN/EXISTS param shapes reject in _check_theta_where.
        if pcorr and (corr or ineq):
            raise ValidationError(
                [f"unsupported lookup subquery on {table!r}: a subquery "
                 f"that is BOTH correlated and parameterized is not "
                 f"supported — no single snapshot-or-probe frame can "
                 f"key on the dim and the event at once; pre-shape via "
                 f"a loader query"]
            )
        if distinct:
            # round-5 final: DISTINCT under every set function (Derby
            # accepts all of them); MIN/MAX(DISTINCT) is a SQL no-op
            func = {
                "count": "count_distinct", "sum": "sum_distinct",
                "avg": "avg_distinct", "min": "min", "max": "max",
            }[func]
        return _Term(
            "subquery",
            _Subquery(func, col, table, where, tuple(computed), corr, ineq,
                      oexprs, tuple(pcorr), param_theta=ptheta),
        )

    def _exists_predicate(self) -> _Predicate:
        """``[NOT] EXISTS ( SELECT <any> FROM table [alias] [WHERE ...] )``
        — the projection is irrelevant to existence (SQL) and accepted
        as ``*``, a literal, or a column; the sub-WHERE takes the same
        static-predicate grammar plus plain-equality correlations. The
        reference runs EXISTS verbatim in Derby per event
        (lookup.rb:131-147); here a correlated EXISTS compiles to a
        semi-join flag column built once per refresh snapshot (see
        resolve_subqueries_with_dim.exists_col_of), an uncorrelated one
        folds to a constant — so every physical path keeps its plan.
        NOT EXISTS arrives via _negate (op complement, EXISTS is
        two-valued). In HAVING (round-5 latest, Derby-legal) the flag
        must be group-constant — resolve validates the correlated
        columns are GROUP BY keys and rides the flag into the payload
        as a hidden ``max(__sq_exists*)`` aggregate."""
        # nested EXISTS (round-5 latest): legal inside another
        # subquery's WHERE — _sub_filtered_df compiles it as a
        # semi-join flag on the ENCLOSING sub frame (fix_nested_pred);
        # param/inequality combinations reject at resolution
        self._expect_word("select")
        # slice the projection tokens up to the depth-0 FROM
        depth, j = 0, self.i
        while j < len(self.tokens):
            k, v = self.tokens[j]
            if k == "lparen":
                depth += 1
            elif k == "rparen":
                if depth == 0:
                    raise ValidationError(
                        ["unsupported lookup EXISTS subquery: missing FROM"]
                    )
                depth -= 1
            elif k == "word" and v.lower() == "from" and depth == 0:
                break
            j += 1
        proj_toks = self.tokens[self.i:j]
        if not proj_toks:
            raise ValidationError(
                ["unsupported lookup EXISTS subquery: missing projection"]
            )
        self.i = j  # at FROM (consumed by _sub_relation)
        table, sub_alias, strip_sub_qual = self._sub_relation()
        computed: list[tuple[str, object]] = []
        if proj_toks != [("arith", "*")]:
            # anything the scalar grammar accepts is fine — the value
            # is discarded; the parse just closes the grammar
            self._sub_head_column(
                proj_toks, strip_sub_qual, computed, "EXISTS projection"
            )
            computed.clear()  # projection expressions are never evaluated
        where, corr, ineq, oexprs, pcorr, ptheta = self._sub_where(
            table, sub_alias, computed, allow_ineq=True
        )
        if ptheta and self.in_having:
            # HAVING context (round-5 final): keep the generic EXISTS
            # predicate — resolution rewrites it onto the per-event
            # count through the hidden-carrier overlay (fix_pred),
            # exactly like the plain-equality param shapes; the
            # carrier's dtype comes from the theta builder's
            # schema-only aggregate
            return _Predicate(
                "",
                "exists",
                [_Term(
                    "subquery",
                    _Subquery(
                        "__exists", None, table, (), tuple(computed),
                        param_theta=ptheta,
                    ),
                )],
            )
        if ptheta:
            # THETA-parameterized EXISTS (round-5 final): existence of
            # rows matching the per-event theta WHERE is exactly
            # ``0 < count(*)`` — the same rewrite as params-only
            # EXISTS, on the probe-time distinct-tuple frame (count
            # misses coalesce to 0, so FALSE; NOT EXISTS negates via
            # _negate's op complement).
            zero = self._new_computed(sqlexpr.Lit(0))
            return _Predicate(
                zero,
                "<",
                [_Term(
                    "subquery",
                    _Subquery(
                        "count", None, table, (), tuple(computed),
                        param_theta=ptheta,
                    ),
                )],
            )
        if pcorr:
            if corr or ineq:
                raise ValidationError(
                    [f"unsupported lookup EXISTS subquery on {table!r}: "
                     f"an EXISTS that is BOTH correlated and "
                     f"parameterized is not supported — no single "
                     f"snapshot-or-probe frame can key on the dim and "
                     f"the event at once; pre-shape via a loader query"]
                )
            if self.in_having:
                # HAVING context (round-5 latest): no dim-side
                # computed-zero lhs exists here, so keep the generic
                # EXISTS predicate — resolution rewrites it onto the
                # per-event count through the hidden-carrier overlay
                # (fix_pred), the oracle's per-event resolver mirrors
                return _Predicate(
                    "",
                    "exists",
                    [_Term(
                        "subquery",
                        _Subquery(
                            "__exists", None, table, where,
                            tuple(computed), param_corr=tuple(pcorr),
                        ),
                    )],
                )
            # params-only EXISTS (round-5 latest): existence of rows in
            # the param-keyed group is exactly ``0 < (SELECT count(*)
            # ...)`` — rewrite onto the parameterized-scalar machinery
            # (per-group count frame broadcast-joined onto the fact;
            # count misses coalesce to 0, so a missing key is FALSE).
            # NOT EXISTS negates via _negate's op complement (0 >= n).
            zero = self._new_computed(sqlexpr.Lit(0))
            return _Predicate(
                zero,
                "<",
                [_Term(
                    "subquery",
                    _Subquery(
                        "count", None, table, where, tuple(computed),
                        param_corr=tuple(pcorr),
                    ),
                )],
            )
        return _Predicate(
            "",  # EXISTS has no lhs column; resolved to a flag column
            "exists",
            [_Term(
                "subquery",
                _Subquery("__exists", None, table, where, tuple(computed),
                          corr, ineq, oexprs),
            )],
        )

    def _set_subquery_term(self) -> _Term:
        """``IN ( SELECT col FROM table [alias] [WHERE ...] )`` —
        a row-SET subquery for [NOT] IN membership. Uncorrelated: the
        value set is collected once per refresh snapshot (distinct,
        size-capped) and expanded into a literal IN list. Correlated
        (plain sub_col = outer.col equalities, round-5): per-group
        value sets aggregate once per snapshot and left-join onto the
        dim, and the predicate compiles as the static ``in_set`` op —
        either way every physical path treats it as an ordinary static
        predicate. The opening '(' is already consumed by the IN
        branch."""
        self._next()  # SELECT
        if self._peek_word() == "distinct":
            self._next()  # membership semantics: DISTINCT is a no-op
        # slice the projection tokens up to the depth-0 FROM
        depth, j = 0, self.i
        while j < len(self.tokens):
            k, v = self.tokens[j]
            if k == "lparen":
                depth += 1
            elif k == "rparen":
                if depth == 0:
                    raise ValidationError(
                        ["unsupported lookup IN-subquery: missing FROM"]
                    )
                depth -= 1
            elif k == "word" and v.lower() == "from" and depth == 0:
                break
            j += 1
        proj_toks = self.tokens[self.i:j]
        if not proj_toks:
            raise ValidationError(
                ["unsupported lookup IN-subquery: missing projected column"]
            )
        self.i = j  # at FROM (consumed by _sub_relation)
        table, sub_alias, strip_sub_qual = self._sub_relation()
        computed: list[tuple[str, object]] = []
        col = self._sub_head_column(
            proj_toks, strip_sub_qual, computed, "projection"
        )
        # inequality correlations are legal here since round-5 latest:
        # the set subquery aggregates per distinct outer correlation
        # tuple, like scalar aggregates (in_group_cols_of)
        where, corr, ineq, oexprs, pcorr, ptheta = self._sub_where(
            table, sub_alias, computed, allow_ineq=True
        )
        if pcorr and (corr or ineq):
            raise ValidationError(
                [f"unsupported lookup IN-subquery on {table!r}: a "
                 f"subquery that is BOTH correlated and parameterized "
                 f"is not supported — no single snapshot-or-probe "
                 f"frame can key on the dim and the event at once"]
            )
        if (pcorr or ptheta) and self.in_subquery:
            raise ValidationError(
                [f"unsupported lookup IN-subquery on {table!r}: "
                 f"parameters inside a NESTED subquery are not "
                 f"supported"]
            )
        return _Term(
            "subquery",
            _Subquery("__values", col, table, where, tuple(computed), corr,
                      ineq, outer_exprs=oexprs, param_corr=tuple(pcorr),
                      param_theta=ptheta),
        )

    def _sub_head_column(
        self, toks, strip_sub_qual, computed, what: str
    ) -> str:
        """Parse a subquery head (aggregate argument / set projection)
        as a column or expression, registering expressions as synthetic
        sub columns."""
        ep = sqlexpr.ExprParser(toks, 0, resolve_col=strip_sub_qual)
        ast = ep.parse()
        if ep.i != len(toks):
            raise ValidationError(
                [f"unsupported lookup subquery: bad {what} near "
                 f"{toks[ep.i][1]!r}"]
            )
        simple = sqlexpr.is_simple_column(ast)
        if simple is not None:
            return simple
        name = f"__sq_expr{len(computed)}"
        computed.append((name, ast))
        return name

    def _sub_relation(self) -> tuple[str, str, object]:
        """``FROM table [alias]`` of a subquery. The optional alias is
        required to correlate a subquery against ITS OWN table: it
        HIDES the table name (standard SQL scoping), so ``plans.cat``
        under ``FROM plans p2`` resolves to the OUTER relation."""
        self._expect_word("from")
        tok = self._next()
        if tok[0] != "word":
            raise ValidationError(
                [f"unsupported lookup subquery: expected a table name "
                 f"after FROM, got {tok[1]!r}"]
            )
        table = tok[1]
        sub_alias = table.lower()
        nt = self._peek()
        if (
            nt is not None
            and nt[0] == "word"
            and nt[1].lower() != "where"
            and "." not in nt[1]
        ):
            self._next()
            sub_alias = nt[1].lower()

        def strip_sub_qual(name: str) -> str:
            # only the sub-relation's own qualifier resolves inner
            if "." not in name:
                return name
            q, c = name.split(".", 1)
            if q.lower() != sub_alias:
                raise ValidationError(
                    [f"unsupported lookup subquery: unknown table "
                     f"qualifier {q!r} in {name!r} (subquery relation "
                     f"is {sub_alias!r})"]
                )
            return c

        return table, sub_alias, strip_sub_qual

    def _sub_where(
        self, table: str, sub_alias: str, computed: list,
        allow_ineq: bool = False,
    ) -> tuple[tuple, tuple, tuple, tuple, tuple, tuple]:
        """``[WHERE ...] )`` tail of a subquery: static predicates plus
        correlation pairs extracted from outer-qualified equalities
        (and, for EXISTS, at most one outer-qualified inequality), plus
        — round-5 latest — PARAMETER correlations: ``sub_col = :p``
        equalities, each a groupBy key of a per-event aggregate frame
        broadcast-joined onto the FACT at probe time (scalar subqueries
        only; the callers reject other contexts). Round-5 final: when
        the parameter predicates are NOT all plain equalities —
        inequality/BETWEEN/IN/LIKE params, OR around them, or a
        mixed sub-column+param expression — the WHOLE sub-WHERE is
        kept as a THETA DNF (``param_theta``) and the aggregate frame
        is built at probe time from the fact's distinct bound-param
        tuples (_ThetaParamFrame). Returns (static where, corr, ineq,
        outer exprs, param corr, param theta)."""
        where: tuple = ()
        if self._peek_word() == "where":
            self._next()
            # slice the sub-WHERE tokens up to the subquery's closing
            # paren (depth-tracked: the sub-WHERE may itself contain
            # parens and nested subqueries)
            depth, j = 0, self.i
            while j < len(self.tokens):
                k = self.tokens[j][0]
                if k == "lparen":
                    depth += 1
                elif k == "rparen":
                    if depth == 0:
                        break
                    depth -= 1
                j += 1

            def outer_ref(name: str) -> str:
                # a qualifier that is not the subquery's relation
                # resolves through the ENCLOSING query's scope: a
                # correlated outer-column reference (``t2.cat = t.cat``).
                # Single-table: the outer alias strips to the bare
                # column. Join mode (round-5): _strip_qualifier
                # validates the qualifier against the in-scope aliases
                # and KEEPS the "alias.col" spelling — build_join_dim
                # maps it onto the derived dim's flat name, so the
                # correlation may target ANY joined relation's column.
                return _OUTER_MARK + self._strip_qualifier(name)

            sub = _WhereParser(
                self.tokens[self.i:j], sub_alias, computed=computed,
                qualifier_fallback=outer_ref, in_subquery=True,
            )
            where = tuple(tuple(d) for d in sub.parse())
            self.i = j
        tok = self._next()
        if tok[0] != "rparen":
            raise ValidationError(
                [f"unsupported lookup subquery: expected ')', got {tok[1]!r}"]
            )
        # parameter correlations (round-5 latest): pull ``sub_col = :p``
        # equalities out of the static WHERE before the outer-correlation
        # extractor sees it. Round-5 final: shapes that are NOT pure-AND
        # plain equalities — ``sub_col > :p``, BETWEEN/IN/LIKE params,
        # OR around a param predicate, mixed sub-column+param
        # expressions — take the THETA path instead of rejecting: the
        # ENTIRE sub-WHERE rides as a DNF into a probe-time frame built
        # from the fact's distinct bound-param tuples (_ThetaParamFrame).
        param_corr: list[tuple[str, _Term]] = []
        param_theta: tuple = ()
        if any(p.param_names for d in where for p in d):
            plain = len(where) == 1 and all(
                (not p.param_names)
                or (
                    p.op == "="
                    and len(p.terms) == 1
                    and p.terms[0].kind in ("param", "param_expr")
                )
                for p in where[0]
            )
            if plain:
                keep: list[_Predicate] = []
                for p in where[0]:
                    if not p.param_names:
                        keep.append(p)
                        continue
                    key = p.dim_column
                    if p.func is not None:
                        # func(sub_col) = :p desugars to a computed sub
                        # column, exactly like the correlation extractor
                        key = f"__sqpf{len(computed)}"
                        computed.append(
                            (key, sqlexpr.Func(p.func, (sqlexpr.Col(p.dim_column),)))
                        )
                    param_corr.append((key, p.terms[0]))
                where = (tuple(keep),) if keep else ()
            else:
                self._check_theta_where(table, where, computed)
                param_theta = where
                where = ()
        out = _extract_correlation(table, where, computed, allow_ineq)
        return out + (tuple(param_corr), param_theta)

    def _check_theta_where(
        self, table: str, where: tuple, computed: list
    ) -> None:
        """Validate a THETA-parameterized sub-WHERE (round-5 final):
        the probe-time frame evaluates (distinct param tuple, sub row)
        pairs, so every name must live in ONE of those two scopes —
        outer correlations (a third scope) and nested subquery terms
        (no snapshot to resolve against, the static resolver never
        sees a theta WHERE) reject with targeted messages."""
        def names_of(p: _Predicate):
            yield p.dim_column
            for t in p.terms:
                if t.kind == "column":
                    yield t.value
                elif t.kind in ("param_expr", "mixed_expr"):
                    yield from sqlexpr.columns(t.value)

        outer = sorted(
            {
                n[len(_OUTER_MARK):]
                for d in where
                for p in d
                for n in names_of(p)
                if isinstance(n, str) and n.startswith(_OUTER_MARK)
            }
            | {
                c[len(_OUTER_MARK):]
                for _n, ast in computed
                for c in sqlexpr.columns(ast)
                if c.startswith(_OUTER_MARK)
            }
        )
        if outer:
            raise ValidationError(
                [f"unsupported lookup subquery on {table!r}: outer "
                 f"column(s) {outer} combined with non-equality "
                 f"parameter predicates — no single probe frame can "
                 f"key on the dim and the event at once; pre-shape "
                 f"via a loader query"]
            )
        for d in where:
            for p in d:
                for t in p.terms:
                    if t.kind != "subquery":
                        continue
                    inner = t.value
                    # round-5 final: a nested subquery is legal inside
                    # a theta WHERE when the probe frame can stage it —
                    # UNCORRELATED (resolves to a snapshot literal) or
                    # PARAMETERIZED (its per-tuple value joins onto the
                    # distinct-tuple frame, recursively). Correlations
                    # to the enclosing sub would need per-(tuple, row)
                    # nested execution — still rejected.
                    if inner.corr or inner.ineq or inner.outer_exprs:
                        raise ValidationError(
                            [f"unsupported lookup subquery on "
                             f"{table!r}: a CORRELATED nested subquery "
                             f"combined with non-equality parameter "
                             f"predicates — flatten the nesting or use "
                             f"plain ``sub_col = :param`` equalities"]
                        )
                    if inner.func in ("__values", "__exists"):
                        raise ValidationError(
                            [f"unsupported lookup subquery on "
                             f"{table!r}: a nested IN/EXISTS subquery "
                             f"combined with non-equality parameter "
                             f"predicates is not supported"]
                        )

    def _new_computed(self, ast) -> str:
        """Register a dim-side expression lhs, returning its synthetic
        column name; structurally identical expressions share one
        column (the ASTs are frozen dataclasses, comparable by value)."""
        if self.computed is None:
            raise ValidationError(
                ["lookup HAVING: expression left-hand sides are not "
                 "supported — SELECT the expression with an alias and "
                 "reference the alias"]
            )
        # join mode: expression columns stay alias-qualified
        # ("a.price"); build_join_dim maps them onto the derived dim's
        # flat names and materializes the expression there (round 5)
        for name, existing in self.computed:
            if existing == ast:
                return name
        name = f"__expr{len(self.computed)}"
        self.computed.append((name, ast))
        return name

    def _predicate(self) -> _Predicate:
        tok0 = self._peek()
        if tok0 is None:
            raise ValidationError(
                ["unsupported lookup predicate: unexpected end of WHERE"]
            )
        if tok0[0] == "word" and tok0[1].lower() in ("and", "or", "null"):
            raise ValidationError(
                [f"unsupported lookup predicate: expected column name, "
                 f"got {tok0[1]!r}"]
            )
        func: str | None = None
        # The lhs is a scalar expression; a bare column and the legacy
        # func(col) wrap keep their dedicated representations (and the
        # is_pure_equi computed-key behavior pinned by tests) — any
        # other shape is materialized as a synthetic dim column. In
        # HAVING (round-5 final) the LHS may carry :name params too
        # (``HAVING n * :k > 10``): the HAVING filter runs fact-side
        # with the bound params in scope, so the expression registers
        # as a payload-level hx entry with Param leaves, substituted
        # at filter time ('?' was rejected at HAVING tokenization).
        def lhs_param(tkind: str, ttext: str) -> str:
            return ttext[1:]

        ep = sqlexpr.ExprParser(
            self.tokens, self.i, resolve_col=self._strip_qualifier,
            resolve_param=lhs_param if self.in_having else None,
        )
        ast = ep.parse()
        self.i = ep.i
        simple = sqlexpr.is_simple_column(ast)
        if simple is not None:
            col = simple
        else:
            fc = sqlexpr.single_func_column(ast)
            if fc is not None and not self.in_having:
                func, col = fc
            else:
                # HAVING (round-5 latest): func-wrapped and compound
                # lhs shapes both register as payload-level expressions
                col = self._new_computed(ast)
        tok = self._peek()
        if tok is None:
            raise ValidationError(
                [f"unsupported lookup predicate: dangling column {col!r}"]
            )
        if tok[0] == "op":
            self._next()
            op = "<>" if tok[1] == "!=" else tok[1]
            # quantified comparison (round-5 latest): <op> ALL|ANY|SOME
            # ( SELECT col FROM t ... ) — Derby runs these verbatim
            # (lookup.rb:131-147); SOME is SQL's synonym for ANY
            word = self._peek_word()
            if word in ("all", "any", "some") and op in (
                "=", "<>", "<", "<=", ">", ">="
            ):
                nxt = (
                    self.tokens[self.i + 1]
                    if self.i + 1 < len(self.tokens) else None
                )
                nxt2 = (
                    self.tokens[self.i + 2]
                    if self.i + 2 < len(self.tokens) else None
                )
                if (
                    nxt is not None and nxt[0] == "lparen"
                    and nxt2 is not None and nxt2[0] == "word"
                    and nxt2[1].lower() == "select"
                ):
                    self._next()  # ALL/ANY/SOME
                    self._next()  # (
                    term = self._set_subquery_term()
                    quant = "any" if word == "some" else word
                    return _Predicate(
                        col, f"{op} {quant}", [term], func=func
                    )
            return _Predicate(col, op, [self._term()], func=func)
        word = self._peek_word()
        negate = False
        if word == "not":
            self._next()
            negate = True
            word = self._peek_word()
        if word == "like":
            self._next()
            t = self._term()
            esc: str | None = None
            if self._peek_word() == "escape":
                # LIKE ... ESCAPE 'c' (round-5 latest, Derby-legal)
                self._next()
                et = self._next()
                if et is None or et[0] != "string":
                    raise ValidationError(
                        [f"unsupported lookup predicate: ESCAPE on "
                         f"{col!r} takes a string literal"]
                    )
                raw = et[1][1:-1].replace("''", "'")
                if len(raw) != 1 or raw in ("%", "_"):
                    raise ValidationError(
                        [f"unsupported lookup predicate: ESCAPE "
                         f"character {raw!r} must be a single character "
                         f"other than the LIKE wildcards"]
                    )
                esc = raw
            return _Predicate(
                col, "not like" if negate else "like", [t], func=func,
                like_escape=esc,
            )
        if word == "between":
            self._next()
            lo = self._term()
            self._expect_word("and")
            hi = self._term()
            return _Predicate(col, "not between" if negate else "between", [lo, hi], func=func)
        if word == "in":
            self._next()
            if self._next()[0] != "lparen":
                raise ValidationError(
                    [f"unsupported lookup predicate: IN on {col!r} requires a parenthesized list"]
                )
            nxt = self._peek()
            if nxt is not None and nxt[0] == "word" and nxt[1].lower() == "select":
                # [NOT] IN (SELECT col FROM t ...): a row-set subquery,
                # expanded to a literal value list per refresh snapshot
                term = self._set_subquery_term()
                return _Predicate(
                    col, "not in" if negate else "in", [term], func=func
                )
            terms = [self._term()]
            while True:
                tok = self._next()
                if tok[0] == "rparen":
                    break
                if tok[0] != "comma":
                    raise ValidationError(
                        [f"unsupported lookup predicate: bad IN list near {tok[1]!r}"]
                    )
                terms.append(self._term())
            return _Predicate(col, "not in" if negate else "in", terms, func=func)
        if word == "is" and not negate:
            self._next()
            if self._peek_word() == "not":
                self._next()
                self._expect_word("null")
                return _Predicate(col, "is not null", [], func=func)
            self._expect_word("null")
            return _Predicate(col, "is null", [], func=func)
        raise ValidationError(
            [f"unsupported lookup predicate: unexpected token after column {col!r}"]
        )


def _tree_leaves(node) -> list[_Predicate]:
    """Every predicate leaf of a raw boolean tree, in traversal order."""
    if node[0] == "pred":
        return [node[1]]
    return [p for child in node[1] for p in _tree_leaves(child)]


def _to_dnf(node) -> list[list[_Predicate]]:
    """Distribute AND over OR. Bounded: a pathological nesting that
    explodes past _MAX_DISJUNCTS raises instead of building a huge plan."""
    if node[0] == "pred":
        return [[node[1]]]
    if node[0] == "or":
        out: list[list[_Predicate]] = []
        for child in node[1]:
            out.extend(_to_dnf(child))
            if len(out) > _MAX_DISJUNCTS:
                raise ValidationError(
                    [f"lookup WHERE expands to more than {_MAX_DISJUNCTS} OR-branches"]
                )
        return out
    result: list[list[_Predicate]] = [[]]
    for child in node[1]:
        child_dnf = _to_dnf(child)
        result = [a + b for a in result for b in child_dnf]
        if len(result) > _MAX_DISJUNCTS:
            raise ValidationError(
                [f"lookup WHERE expands to more than {_MAX_DISJUNCTS} OR-branches"]
            )
    return result


_WORD_RE = re.compile(r"[A-Za-z_]\w*")


def _resolve_qualified(
    name: str,
    table: str,
    base_alias: str,
    quals: set[str] | None,
    context: str,
) -> str:
    """Canonicalize a possibly-qualified column reference, with the one
    strip-or-raise rule every clause shares (the round-3 review found
    three hand-rolled drifting copies): join mode (``quals`` set) keeps
    a lowercased ``alias.col``; single-table mode strips the FROM
    table's name or alias; unknown qualifiers raise, naming the
    clause."""
    if "." not in name:
        return name
    q, c = name.split(".", 1)
    ql = q.lower()
    if quals is not None:
        if ql not in quals:
            raise ValidationError(
                [f"lookup {context}: unknown relation qualifier {q!r} "
                 f"in {name!r} (in scope: {sorted(quals)})"]
            )
        return f"{ql}.{c}"
    if ql == table.lower() or (base_alias != table.lower() and ql == base_alias):
        return c
    raise ValidationError(
        [f"lookup {context}: unknown table qualifier in {name!r} "
         f"(FROM table is {table!r})"]
    )


def _find_tail(
    text: str,
    by_words: tuple[str, ...] = ("order", "group"),
    bare_words: tuple[str, ...] = ("limit", "fetch", "offset", "having"),
) -> int | None:
    """Index where a top-level result-shape clause (``GROUP BY`` /
    ``HAVING`` / ``ORDER BY`` / ``LIMIT`` / ``OFFSET`` / ``FETCH``)
    starts in ``text``, or None. Scans outside string literals and
    parentheses only, so a pattern like ``'%order by%'`` inside a LIKE
    literal can never split the query."""
    i, n, depth = 0, len(text), 0
    while i < n:
        ch = text[i]
        if ch == "'":
            i += 1
            while i < n:
                if text[i] == "'":
                    if i + 1 < n and text[i + 1] == "'":
                        i += 2  # '' escape
                        continue
                    break
                i += 1
            i += 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and (ch.isalpha() or ch == "_"):
            m = _WORD_RE.match(text, i)
            w = m.group().lower()
            boundary = i == 0 or not (text[i - 1].isalnum() or text[i - 1] in "_.:")
            if boundary:
                if w in by_words and re.match(
                    r"\s+by\b", text[m.end():], re.IGNORECASE
                ):
                    return i
                if w in bare_words:
                    return i
            i = m.end()
            continue
        i += 1
    return None


def _split_top_level_commas(text: str) -> list[str]:
    """Split on commas outside string literals and parentheses, so a
    projection item like ``coalesce(name, '?')`` stays whole."""
    items: list[str] = []
    start, i, n, depth = 0, 0, len(text), 0
    while i < n:
        ch = text[i]
        if ch == "'":
            i += 1
            while i < n:
                if text[i] == "'":
                    if i + 1 < n and text[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
            i += 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            items.append(text[start:i])
            start = i + 1
        i += 1
    items.append(text[start:])
    return [s.strip() for s in items]


def _split_projection_alias(item: str) -> tuple[str, str | None]:
    """Split one projection item at its LAST top-level ``AS`` (outside
    string literals and parentheses) -> (source text, alias or None)."""
    i, n, depth, pos = 0, len(item), 0, None
    while i < n:
        ch = item[i]
        if ch == "'":
            i += 1
            while i < n:
                if item[i] == "'":
                    if i + 1 < n and item[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
            i += 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and (ch.isalpha() or ch == "_"):
            m = _WORD_RE.match(item, i)
            boundary = i == 0 or not (item[i - 1].isalnum() or item[i - 1] in "_.")
            if boundary and m.group().lower() == "as":
                pos = i
            i = m.end()
            continue
        i += 1
    if pos is None:
        return item.strip(), None
    src = item[:pos].strip()
    alias = item[pos + 2:].strip()
    if not src or not re.match(r"^[A-Za-z_][\w.]*$", alias):
        raise ValidationError(
            [f"lookup projection: bad AS alias in {item.strip()!r}"]
        )
    return src, alias


def _parse_tail(
    text: str,
) -> tuple[
    tuple[str, ...],
    tuple[tuple[str, bool], ...],
    int | None,
    int | None,
]:
    """Parse a trailing ``[GROUP BY col, ...]``
    ``[ORDER BY col [ASC|DESC], ...]`` ``[OFFSET n ROW[S]]``
    ``[LIMIT n [OFFSET n] | FETCH FIRST|NEXT [n] ROW[S] ONLY]`` clause
    (Derby's result-shape surface; LIMIT/OFFSET accepted in the common
    dialect spellings too)."""
    cur = _TokenCursor(_tokenize_where(text), "ORDER BY/LIMIT")
    peek, take, word_of = cur.peek, cur.take, cur.word_of

    def take_count(what: str) -> int:
        kind, num = take()
        if kind != "number" or not re.fullmatch(r"\d+", num):
            raise ValidationError(
                [f"unsupported lookup {what}: expected a row count, got {num!r}"]
            )
        return int(num)

    offset: int | None = None

    def parse_offset() -> None:
        nonlocal offset
        if offset is not None:
            raise ValidationError(
                ["unsupported lookup query: OFFSET specified twice"]
            )
        take()  # OFFSET
        offset = take_count("OFFSET")
        if word_of(peek()) in ("row", "rows"):
            take()

    def parse_item(clause: str, stop_words: tuple[str, ...]):
        """One GROUP BY / ORDER BY item: a plain (possibly qualified)
        column, or a scalar expression (``substr(c,1,3)``, ``a*b``) —
        returned as an unresolved ``("expr", ast)`` marker the caller
        materializes once the FROM scope is known."""
        tok = peek()
        if tok is None:
            raise ValidationError(
                [f"unsupported lookup {clause}: unexpected end of clause"]
            )
        if tok[0] == "word" and tok[1].lower() in stop_words:
            raise ValidationError(
                [f"unsupported lookup {clause}: expected column, "
                 f"got {tok[1]!r}"]
            )
        nxt = cur.toks[cur.pos + 1] if cur.pos + 1 < len(cur.toks) else None
        if tok[0] == "word" and (
            nxt is None or nxt[0] in ("comma", "word")
        ):
            # plain column (next token is ASC/DESC, a clause keyword,
            # a comma, or the end)
            take()
            return tok[1]
        ep = sqlexpr.ExprParser(cur.toks, cur.pos, resolve_col=lambda n: n)
        try:
            ast = ep.parse()
        except ValidationError as e:
            raise ValidationError(
                [f"unsupported lookup {clause}: expected column or "
                 f"expression, got {tok[1]!r} ({e.errors[0]})"]
            )
        cur.pos = ep.i
        simple = sqlexpr.is_simple_column(ast)
        return simple if simple is not None else ("expr", ast)

    group: list = []
    if word_of(peek()) == "group":
        take()
        if word_of(take()) != "by":
            raise ValidationError(
                ["unsupported lookup query: GROUP not followed by BY"]
            )
        while True:
            group.append(
                parse_item("GROUP BY", ("order", "limit", "fetch", "offset"))
            )
            if peek() is not None and peek()[0] == "comma":
                take()
                continue
            break
    order: list[tuple] = []
    if word_of(peek()) == "order":
        take()
        if word_of(take()) != "by":
            raise ValidationError(["unsupported lookup query: ORDER not followed by BY"])
        while True:
            item = parse_item("ORDER BY", ("asc", "desc", "limit", "fetch"))
            asc = True
            w = word_of(peek())
            if w in ("asc", "desc"):
                asc = take()[1].lower() == "asc"
            order.append((item, asc))
            if peek() is not None and peek()[0] == "comma":
                take()
                continue
            break
    limit: int | None = None
    if word_of(peek()) == "offset":
        parse_offset()  # standard order: OFFSET before FETCH
    w = word_of(peek())
    if w == "limit":
        take()
        limit = take_count("LIMIT")
        if word_of(peek()) == "offset":
            parse_offset()  # dialect order: LIMIT n OFFSET m
    elif w == "fetch":
        take()
        if word_of(take()) not in ("first", "next"):
            raise ValidationError(
                ["unsupported lookup FETCH: expected FIRST or NEXT"]
            )
        limit = 1
        if peek() is not None and peek()[0] == "number":
            limit = take_count("FETCH")
        if word_of(take()) not in ("row", "rows"):
            raise ValidationError(["unsupported lookup FETCH: expected ROW[S]"])
        if word_of(take()) != "only":
            raise ValidationError(["unsupported lookup FETCH: expected ONLY"])
    if peek() is not None:
        raise ValidationError(
            [f"unsupported lookup query: trailing tokens after "
             f"ORDER BY/LIMIT near {peek()[1]!r}"]
        )
    if limit is not None and limit < 1:
        raise ValidationError(["unsupported lookup LIMIT: row count must be >= 1"])
    return tuple(group), tuple(order), limit, offset


_AGG_FUNC_NAMES = ("count", "sum", "min", "max", "avg")


def _rewrite_having_aggregates(
    toks: list[tuple[str, str]],
    aggregates: list[tuple[str, str | None, str]],
    table: str,
    base_alias: str,
    quals: set[str] | None,
    computed: tuple[tuple[str, object], ...] = (),
) -> list[tuple[str, str]]:
    """Rewrite SELECTed aggregate calls in a HAVING token stream to their
    SELECT aliases. Matching is token-level and qualifier-normalized, so
    ``HAVING sum( t.amount ) > 3`` resolves against ``SELECT sum(amount)
    AS total`` regardless of whitespace or qualifier spelling, and a
    function that merely ends in an aggregate name (``checksum(...)``)
    is never touched (round-3 ADVICE: the old regex rewrite mangled it).
    An aggregate call with no SELECT counterpart raises with a pointer —
    the payload can only carry selected fields."""
    sel: dict[tuple[str, str | None], str] = {}
    for func, col, alias in aggregates:
        key_col = None if col is None else _resolve_qualified(
            col, table, base_alias, quals, "HAVING"
        )
        sel[(func, key_col)] = alias
    out: list[tuple[str, str]] = []
    i, n = 0, len(toks)
    while i < n:
        kind, val = toks[i]
        if (
            kind == "lparen"
            and i + 1 < n
            and toks[i + 1][0] == "word"
            and toks[i + 1][1].lower() == "select"
        ):
            # a scalar/row-set SUBQUERY comparand (round-5: legal in
            # HAVING when uncorrelated): its tokens are the SUBQUERY's
            # scope — an inner count(*) must NOT rewrite to a SELECTed
            # aggregate's alias. Copy the balanced span verbatim.
            depth = 0
            while i < n:
                k2 = toks[i][0]
                out.append(toks[i])
                if k2 == "lparen":
                    depth += 1
                elif k2 == "rparen":
                    depth -= 1
                    if not depth:
                        i += 1
                        break
                i += 1
            continue
        if not (
            kind == "word"
            and "." not in val
            and val.lower() in _AGG_FUNC_NAMES
            and i + 1 < n
            and toks[i + 1][0] == "lparen"
        ):
            out.append(toks[i])
            i += 1
            continue
        func = val.lower()
        j, depth = i + 2, 1
        inner: list[tuple[str, str]] = []
        while j < n:
            k2 = toks[j][0]
            if k2 == "lparen":
                depth += 1
            elif k2 == "rparen":
                depth -= 1
                if not depth:
                    break
            inner.append(toks[j])
            j += 1
        if depth:
            raise ValidationError([f"lookup HAVING: unclosed {func}(...)"])
        key: tuple[str, str | None]
        if func == "count" and len(inner) == 1 and inner[0] == ("arith", "*"):
            key = ("count", None)
        elif (
            len(inner) == 2
            and inner[0][0] == "word"
            and inner[0][1].lower() == "distinct"
            and inner[1][0] == "word"
        ):
            # DISTINCT under any set function (round-5 final) —
            # min/max(DISTINCT) normalized to plain min/max at parse
            key = (
                {
                    "count": "count_distinct",
                    "sum": "sum_distinct",
                    "avg": "avg_distinct",
                }.get(func, func),
                _resolve_qualified(
                    inner[1][1], table, base_alias, quals, "HAVING"
                ),
            )
        elif len(inner) == 1 and inner[0][0] == "word":
            key = (func, _resolve_qualified(
                inner[0][1], table, base_alias, quals, "HAVING"
            ))
        else:
            # expression argument (HAVING sum(price*qty) > :x):
            # structural match against the SELECTed aggregate's
            # synthetic column
            arg_toks = inner
            kfunc = func
            if (
                arg_toks
                and arg_toks[0][0] == "word"
                and arg_toks[0][1].lower() == "distinct"
            ):
                kfunc = {
                    "count": "count_distinct",
                    "sum": "sum_distinct",
                    "avg": "avg_distinct",
                }.get(func, func)
                arg_toks = arg_toks[1:]
            ast = None
            try:
                ep = sqlexpr.ExprParser(
                    arg_toks,
                    0,
                    resolve_col=lambda nm: _resolve_qualified(
                        nm, table, base_alias, quals, "HAVING"
                    ),
                )
                parsed_ast = ep.parse()
                if ep.i == len(arg_toks):
                    ast = parsed_ast
            except ValidationError:
                ast = None
            key = None
            if ast is not None:
                for name, existing in computed:
                    if existing == ast:
                        key = (kfunc, name)
                        break
            if key is None:
                arg_text = " ".join(v for _, v in inner)
                raise ValidationError(
                    [f"lookup HAVING: aggregate argument in "
                     f"{func}({arg_text}) does not match any SELECTed "
                     f"aggregate — add it to the projection with an "
                     f"alias and reference the alias"]
                )
        alias = sel.get(key)
        if alias is None:
            raise ValidationError(
                ["lookup HAVING references an aggregate that is not in "
                 "the SELECT list — add it to the projection with an "
                 "alias"]
            )
        out.append(("word", alias))
        i = j + 1
    return out


def _split_setop_raw(
    text: str,
) -> tuple[list[str], list[tuple[str, bool]]]:
    """Quote- and paren-aware scan for top-level ``UNION [ALL]`` /
    ``EXCEPT [ALL]`` / ``INTERSECT [ALL]`` joints. Returns (branch
    texts, joints) with ``joints[i] = (op, all)`` connecting branches
    ``i`` and ``i+1`` — no homogeneity rules applied here: both the
    per-event set-op compile (:func:`parse_setop_tree` →
    CompiledUnionLookup) and a derived table
    (:func:`_materialize_derived_setop`) accept the full mixed/
    multiset surface (round-5 latest)."""
    parts: list[str] = []
    joints: list[tuple[str, bool]] = []  # (op, all)
    i, n, depth, start = 0, len(text), 0, 0
    while i < n:
        c = text[i]
        if c == "'":
            i += 1
            while i < n:
                if text[i] == "'":
                    if i + 1 < n and text[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif (
            depth == 0
            and c in "uUeEiI"
            and (i == 0 or not (text[i - 1].isalnum() or text[i - 1] == "_"))
        ):
            m = re.match(
                r"(union|except|intersect)(\s+all)?\b",
                text[i:],
                re.IGNORECASE,
            )
            if m:
                parts.append(text[start:i])
                joints.append((m.group(1).lower(), bool(m.group(2))))
                i += m.end()
                start = i
                continue
        i += 1
    parts.append(text[start:])
    return parts, joints


@dataclasses.dataclass
class SetOpGroup:
    """One node of the top-level set-op tree: ``children`` are leaf
    indexes (into :func:`parse_setop_tree`'s leaf list) or nested
    groups (a PARENTHESIZED set op — explicit grouping); ``joints[i]``
    is the ``(op, all)`` joint connecting children ``i`` and ``i+1``.
    A group may carry its own trailing ``ORDER BY`` / ``LIMIT`` /
    ``OFFSET`` / ``FETCH`` tail (shapes the group's result BEFORE the
    enclosing set op combines it). Precedence is applied at fold time:
    ``INTERSECT [ALL]`` binds tighter, then left-to-right — exactly
    Derby (pinned natively in test_jdbc_derby.py)."""

    children: list
    joints: list[tuple[str, bool]]
    order_by: tuple = ()
    limit: int | None = None
    offset: int | None = None

    def has_tail(self) -> bool:
        return bool(
            self.order_by or self.limit is not None
            or self.offset is not None
        )


def parse_setop_tree(text: str) -> tuple[list[str], "SetOpGroup | None"]:
    """Parse a lookup query's top-level set-op structure — ``UNION
    [ALL]`` / ``EXCEPT [ALL]`` / ``INTERSECT [ALL]`` joints, quote- and
    paren-aware, with PARENTHESIZED sub-set-ops as nested groups and
    per-group trailing tails. Returns (leaf SELECT texts in
    left-to-right order, root group); root is ``None`` for a
    single-SELECT query. The reference hands these to Derby verbatim
    (lookup.rb:131-147); since round-5 latest the WHOLE surface —
    mixed joints under SQL precedence, the multiset ALL variants, and
    explicit parenthesized grouping — is accepted at the top level,
    matching what a derived table already accepted
    (:func:`_materialize_derived_setop`). Leaf texts keep their
    original spelling (a parenthesized leaf may carry its own ordered
    top-N tail — the branch compiler strips and shapes it)."""
    leaves: list[str] = []

    def build(t: str) -> "SetOpGroup | int":
        parts, joints = _split_setop_raw(t)
        if len(parts) == 1:
            leaves.append(t)
            return len(leaves) - 1
        parts, order_by, limit, offset = split_union_tail(parts)
        children: list = []
        for p in parts:
            stripped = strip_outer_parens(p)
            if len(_split_setop_raw(stripped)[0]) > 1:
                children.append(build(stripped))
            else:
                children.append(build(p))
        return SetOpGroup(children, joints, order_by, limit, offset)

    node = build(text.strip())
    if isinstance(node, int):
        return leaves, None
    return leaves, node


def is_setop_query(text: str) -> bool:
    """True when the query splits on at least one top-level set-op
    joint — the CompiledUnionLookup vs CompiledLookup dispatch test
    (no validation: the tree compiler owns the full surface)."""
    return len(_split_setop_raw(text)[0]) > 1


def strip_outer_parens(text: str) -> str:
    """Strip balanced outer parentheses off a set-op branch —
    ``(SELECT ...) UNION (SELECT ...)`` is the common SQL spelling and
    Derby accepts it (lookup.rb:131-147). Quote-aware; only strips
    when the opening paren's match is the LAST character, repeatedly."""
    t = text.strip()
    while t.startswith("(") and t.endswith(")"):
        depth, i, n = 0, 0, len(t)
        closes_at = -1
        while i < n:
            c = t[i]
            if c == "'":
                i += 1
                while i < n:
                    if t[i] == "'":
                        if i + 1 < n and t[i + 1] == "'":
                            i += 2
                            continue
                        break
                    i += 1
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    closes_at = i
                    break
            i += 1
        if closes_at != n - 1:
            break
        t = t[1:-1].strip()
    return t


def extract_derived_tables(
    query: str,
) -> tuple[str, tuple[tuple[str, str, tuple[str, ...] | None], ...]]:
    """Rewrite ``FROM (SELECT ...) alias`` / ``JOIN (SELECT ...) alias``
    / ``FROM (VALUES (..), ..) AS alias (col, ...)`` derived tables to
    synthetic table names (``__dt0``, ``__dt1``, ...) and return
    (rewritten query, ((name, inner text, column list | None), ...)).
    Derby executes derived tables verbatim (lookup.rb:131-147); here
    each inner relation materializes ONCE per refresh snapshot as its
    own dimension (:func:`materialize_derived`) and the outer query
    compiles against it unchanged — per-event cost is identical to a
    plain-table lookup. A column list after the alias (Derby's
    correlation-name columns) renames the output positionally and is
    REQUIRED for a VALUES table.

    Quote-aware; only a ``(`` directly following the FROM/JOIN keyword
    opens a derived table, so subquery parentheses (``IN (SELECT``,
    ``= (SELECT``) never match. SQL requires the alias; a missing one
    is an error here exactly as on Derby."""
    out: list[str] = []
    derived: list[tuple[str, str]] = []
    i, n = 0, len(query)
    last_word = ""
    while i < n:
        c = query[i]
        if c == "'":
            j = i + 1
            while j < n:
                if query[j] == "'":
                    if j + 1 < n and query[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(query[i:j + 1])
            i = j + 1
            last_word = ""
            continue
        if c.isalpha() or c == "_":
            j = i
            while j < n and (query[j].isalnum() or query[j] in "_."):
                j += 1
            last_word = query[i:j].lower()
            out.append(query[i:j])
            i = j
            continue
        if c == "(" and last_word in ("from", "join"):
            depth, j = 1, i + 1
            while j < n and depth:
                ch = query[j]
                if ch == "'":
                    j += 1
                    while j < n:
                        if query[j] == "'":
                            if j + 1 < n and query[j + 1] == "'":
                                j += 2
                                continue
                            break
                        j += 1
                elif ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if not depth:
                        break
                j += 1
            if depth:
                raise ValidationError(
                    [f"lookup FROM: unbalanced parenthesis in {query!r}"]
                )
            inner = query[i + 1:j].strip()
            # a derived table's body may itself open with a
            # parenthesized set-op branch — ((SELECT ...) UNION ...) d
            # (round-5 latest); validate the first keyword past any
            # balanced leading parens
            if not re.match(
                r"[(\s]*(select|values)\b", inner, re.IGNORECASE
            ):
                raise ValidationError(
                    [f"lookup FROM: expected a derived table "
                     f"(SELECT ...) or (VALUES ...) after "
                     f"{last_word.upper()}, got ({inner[:40]}...)"]
                )
            m = re.match(
                r"\s*(?:as\s+)?([A-Za-z_][A-Za-z0-9_]*)",
                query[j + 1:],
                re.IGNORECASE,
            )
            if m is None or m.group(1).lower() in _FROM_KEYWORDS | {
                "where", "group", "order", "union", "except", "intersect",
            }:
                raise ValidationError(
                    ["lookup FROM: a derived table requires an alias "
                     "(SQL rule — Derby rejects it too): "
                     "FROM (SELECT ...) alias"]
                )
            # optional correlation-name column list: AS t (c1, c2) —
            # renames the output positionally (required for VALUES)
            cols: tuple[str, ...] | None = None
            rest = query[j + 1 + m.end():]
            cm = re.match(
                r"\s*\(\s*([A-Za-z_][\w]*(?:\s*,\s*[A-Za-z_][\w]*)*)\s*\)",
                rest,
            )
            consumed = j + 1 + m.end()
            if cm is not None:
                cols = tuple(
                    c.strip().lower() for c in cm.group(1).split(",")
                )
                consumed += cm.end()
            name = f"__dt{len(derived)}"
            derived.append((name, inner, cols))
            out.append(name + " " + query[j + 1:j + 1 + m.end()].strip())
            i = consumed
            last_word = ""
            continue
        if not c.isspace():
            last_word = ""
        out.append(c)
        i += 1
    return "".join(out), tuple(derived)


def _parse_values_rows(text: str) -> list[tuple]:
    """Parse Derby's inline-table constructor ``VALUES (lit, ...),
    (lit, ...)`` into Python literal tuples. Literals only (strings,
    numbers with optional sign, NULL, TRUE/FALSE) — expressions belong
    in a SELECT derived table over the VALUES one."""
    toks = _tokenize_where(text)
    cur = _TokenCursor(toks, "VALUES")
    kind, word = cur.take()
    if kind != "word" or word.lower() != "values":
        raise ValidationError(
            [f"lookup VALUES table: expected VALUES, got {word!r}"]
        )
    rows: list[tuple] = []
    while True:
        kind, tok = cur.take()
        if kind != "lparen":
            raise ValidationError(
                [f"lookup VALUES table: expected '(' starting a row, "
                 f"got {tok!r}"]
            )
        row: list = []
        while True:
            kind, tok = cur.take()
            neg = False
            if kind == "arith" and tok == "-":
                neg = True
                kind, tok = cur.take()
            if kind == "string":
                if neg:
                    raise ValidationError(
                        [f"lookup VALUES table: '-' before a string"]
                    )
                row.append(tok[1:-1].replace("''", "'"))
            elif kind == "number":
                v = float(tok) if any(c in tok for c in ".eE") else int(tok)
                row.append(-v if neg else v)
            elif kind == "word" and tok.lower() == "null":
                row.append(None)
            elif kind == "word" and tok.lower() in ("true", "false"):
                row.append(tok.lower() == "true")
            else:
                raise ValidationError(
                    [f"lookup VALUES table: expected a literal, got "
                     f"{tok!r} — expressions belong in a SELECT derived "
                     f"table over the VALUES one"]
                )
            kind, tok = cur.take()
            if kind == "rparen":
                break
            if kind != "comma":
                raise ValidationError(
                    [f"lookup VALUES table: expected ',' or ')', got "
                     f"{tok!r}"]
                )
        rows.append(tuple(row))
        nxt = cur.peek()
        if nxt is None:
            break
        if nxt[0] != "comma":
            raise ValidationError(
                [f"lookup VALUES table: unexpected {nxt[1]!r} after a "
                 f"row"]
            )
        cur.take()
    arities = {len(r) for r in rows}
    if len(arities) != 1:
        raise ValidationError(
            [f"lookup VALUES table: rows differ in arity ({sorted(arities)})"]
        )
    return rows


def _values_dataframe(
    rows: list[tuple], cols: tuple[str, ...], dims: dict[str, DataFrame]
) -> DataFrame:
    """Build the VALUES dimension DataFrame with per-column types
    inferred from the literals (int -> long, float -> double, str,
    bool; a column of only NULLs has no type — rejected)."""
    from pyspark.sql import SparkSession

    if rows and len(cols) != len(rows[0]):
        raise ValidationError(
            [f"lookup VALUES table: {len(rows[0])} value(s) per row but "
             f"{len(cols)} column name(s) {list(cols)}"]
        )
    fields = []
    for ci, cname in enumerate(cols):
        vals = [r[ci] for r in rows if r[ci] is not None]
        if not vals:
            raise ValidationError(
                [f"lookup VALUES table: column '{cname}' is all NULL — "
                 f"its type cannot be inferred; CAST in a SELECT "
                 f"derived table instead"]
            )
        kinds = {type(v) for v in vals}
        if kinds == {int}:
            t = T.LongType()
        elif kinds <= {int, float}:
            t = T.DoubleType()
        elif kinds == {str}:
            t = T.StringType()
        elif kinds == {bool}:
            t = T.BooleanType()
        else:
            raise ValidationError(
                [f"lookup VALUES table: column '{cname}' mixes types "
                 f"{sorted(k.__name__ for k in kinds)}"]
            )
        fields.append(T.StructField(cname, t, True))
    spark = (
        next(iter(dims.values())).sparkSession
        if dims
        else SparkSession.getActiveSession()
    )
    coerced = [
        tuple(
            float(v) if isinstance(f.dataType, T.DoubleType) and v is not None
            else v
            for v, f in zip(r, fields)
        )
        for r in rows
    ]
    return spark.createDataFrame(coerced, T.StructType(fields))


def materialize_derived(
    inner: str, dims: dict[str, DataFrame],
    cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Materialize a derived table's inner SELECT as a dimension
    DataFrame, ONCE per refresh snapshot (dim-sized work — never
    per event). Accepted inner surface: projection (columns, scalar
    expressions, aggregates + GROUP BY), multi-table JOINs, a static
    WHERE (the full predicate grammar, no params), DISTINCT, and
    NESTED derived tables (each level materializes its own dims), and
    a static HAVING over the aggregated rows, subqueries (all
    snapshot-time here: uncorrelated fold to literals, correlated/
    EXISTS/IN join per-group columns onto the inner relation) — or an
    inline ``VALUES (lit, ...), ...`` table (literals only; ``cols``
    names the columns, Derby's correlation-name column list). ``cols``
    on a SELECT derived table renames the output positionally.
    Set ops — ``UNION [ALL]`` / ``EXCEPT [ALL]`` / ``INTERSECT
    [ALL]``, mixed under SQL precedence — combine branch relations
    with exact DataFrame set semantics (round-5 latest,
    :func:`_materialize_derived_setop`), and ``ORDER BY ... LIMIT/
    OFFSET/FETCH`` selects an ordered top-N row set (round-5 late).
    Rejected with targeted messages: :param/? placeholders (they would
    re-bind per event — bind them in the OUTER query) and LIMIT/OFFSET
    without an ORDER BY (nondeterministic row set)."""
    label = "lookup derived table"
    if re.match(r"\s*values\b", inner, re.IGNORECASE):
        if cols is None:
            raise ValidationError(
                [f"{label}: a VALUES table needs a column list — "
                 f"(VALUES ...) AS t (c1, c2)"]
            )
        return _values_dataframe(_parse_values_rows(inner), cols, dims)
    inner2, nested = extract_derived_tables(inner)
    if nested:
        dims = dict(dims)
        for name, sub, sub_cols in nested:
            dims[name] = materialize_derived(sub, dims, sub_cols)
        inner = inner2
    texts, joints = _split_setop_raw(inner)
    if len(texts) > 1:
        df = _materialize_derived_setop(texts, joints, dims, cols, label)
        return _rename_positional(df, cols, label)
    parsed = parse_lookup_query(inner)
    if (
        parsed.limit is not None or parsed.offset is not None
    ) and not parsed.order_by:
        raise ValidationError(
            [f"{label}: LIMIT/OFFSET inside a derived table requires "
             f"an ORDER BY — the selected row set would be "
             f"nondeterministic otherwise"]
        )
    for d in list(parsed.disjuncts) + list(parsed.having):
        for p in d:
            if not p.is_static:
                raise ValidationError(
                    [f"{label}: :param/? placeholders inside a derived "
                     f"table are not supported (they would re-bind per "
                     f"event) — bind parameters in the outer WHERE"]
                )
    for _hn, hast in parsed.having_exprs:
        # round-5 final: HAVING LHS expressions may carry params in
        # the OUTER query (fact-side filter); a derived table resolves
        # per snapshot, so they stay rejected here
        if sqlexpr.params_of(hast):
            raise ValidationError(
                [f"{label}: :param/? placeholders inside a derived "
                 f"table are not supported (they would re-bind per "
                 f"event) — bind parameters in the outer WHERE"]
            )
    for _n, sq in parsed.proj_subqueries:
        if sq.param_corr or sq.param_theta:
            raise ValidationError(
                [f"{label}: :param/? placeholders inside a derived "
                 f"table's projection subquery are not supported "
                 f"(they would re-bind per event) — bind parameters "
                 f"in the outer query"]
            )
    if parsed.joins:
        dim_df, parsed = build_join_dim(parsed, dims)
    else:
        if parsed.table not in dims:
            raise ValidationError(
                [f"{label}: references unknown local table "
                 f"'{parsed.table}'"]
            )
        dim_df = dims[parsed.table]
    # subqueries inside a derived table (round-5 late): everything is
    # snapshot-time here — uncorrelated ones fold to literals,
    # correlated/EXISTS/IN ones join their per-group columns onto THIS
    # inner relation, exactly as on a probed dim
    parsed, dim_df = resolve_subqueries_with_dim(parsed, dims, dim_df)
    df = dim_df
    for name, ast in parsed.computed:
        df = df.withColumn(name, sqlexpr.compile_expr(ast))
    cond = _static_where_condition(parsed.disjuncts)
    if cond is not None:
        df = df.filter(cond)
    if parsed.aggregates:
        aggs = []
        for func, col, alias in parsed.aggregates:
            if func == "count" and col is None:
                aggs.append(F.count(F.lit(1)).alias(alias))
            elif func == "count_distinct":
                aggs.append(F.count_distinct(F.col(col)).alias(alias))
            else:
                aggs.append(_native_agg(func, F.col(col)).alias(alias))
        if parsed.group_by:
            df = df.groupBy(*[F.col(k) for k in parsed.group_by]).agg(*aggs)
            df = df.select(
                *[F.col(s).alias(a) for s, a in (parsed.projection or [])],
                *[F.col(a) for _, _, a in parsed.aggregates],
            )
            # HAVING is STATIC inside a derived table (params are
            # rejected above), so it is just a filter over the
            # aggregated rows — unlike the per-event payload HAVING.
            # Expression LHS columns (round-5 latest) materialize over
            # the aggregated frame for the filter and drop after it.
            for hx_name, hx_ast in parsed.having_exprs:
                df = df.withColumn(hx_name, sqlexpr.compile_expr(hx_ast))
            hcond = _static_where_condition(parsed.having)
            if hcond is not None:
                df = df.filter(hcond)
            if parsed.having_exprs:
                df = df.drop(*[n for n, _ in parsed.having_exprs])
        else:
            df = df.agg(*aggs)
            if parsed.agg_empty:
                # projected-subquery carriers (max(__psq)) must yield
                # the subquery's literal even over an EMPTY inner
                # relation; coalesce is exact — over a non-empty one
                # max() already equals the (constant) literal
                empty = {
                    a: v for a, v in parsed.agg_empty if v is not None
                }
                df = df.select(
                    *[
                        F.coalesce(F.col(a), F.lit(empty[a])).alias(a)
                        if a in empty
                        else F.col(a)
                        for a in df.columns
                    ]
                )
    elif parsed.group_by:
        # GROUP BY with no aggregates == SELECT DISTINCT of the keys
        df = df.select(
            *[F.col(s).alias(a) for s, a in (parsed.projection or [])]
        ).distinct()
    elif parsed.projection is not None:
        df = df.select(*[F.col(s).alias(a) for s, a in parsed.projection])
    else:
        # SELECT *: never leak synthetic __expr columns from a WHERE
        df = df.select(
            *[c for c in dim_df.columns if not c.startswith("__")]
        )
    if parsed.distinct:
        df = df.distinct()
    df = _derived_topn(
        df, parsed.order_by, parsed.limit, parsed.offset, label
    )
    return _rename_positional(df, cols, label)


def _derived_topn(
    df: DataFrame,
    order_by: tuple,
    limit: int | None,
    offset: int | None,
    label: str,
) -> DataFrame:
    """Ordered top-N shaping of a derived relation (round-5 late):
    ORDER BY keys in Derby result order (ASC puts NULLs last, DESC
    first) + every other output column NULL-first ASC as a total-order
    tiebreak — Derby leaves tie selection unspecified; this engine pins
    the same canonical order the payload contract uses, so the selected
    row SET is deterministic and oracle-comparable. A bare ORDER BY
    (no LIMIT/OFFSET) has no effect — a derived table is an unordered
    relation, exactly as on Derby."""
    if limit is None and offset is None:
        return df
    keys = [c for c, _ in order_by]
    missing = [c for c in keys if c not in df.columns]
    if missing:
        raise ValidationError(
            [f"{label}: ORDER BY column(s) {missing} are not in "
             f"the derived output {df.columns} — order by "
             f"projected aliases"]
        )
    sort_cols = [
        (F.col(c).asc_nulls_last() if asc else F.col(c).desc_nulls_first())
        for c, asc in order_by
    ]
    sort_cols += [
        F.col(c).asc_nulls_first()
        for c in df.columns
        if c not in keys
    ]
    df = df.orderBy(*sort_cols)
    if offset:
        df = df.offset(offset)
    if limit is not None:
        df = df.limit(limit)
    return df


def _rename_positional(
    df: DataFrame, cols: tuple[str, ...] | None, label: str
) -> DataFrame:
    """Apply a derived table's correlation-name column list — it
    renames the output positionally (Derby's rule)."""
    if cols is None:
        return df
    if len(cols) != len(df.columns):
        raise ValidationError(
            [f"{label}: column list {list(cols)} has {len(cols)} "
             f"name(s) but the derived select projects "
             f"{len(df.columns)}"]
        )
    return df.toDF(*cols)


def _materialize_derived_setop(
    parts: list[str],
    joints: list[tuple[str, bool]],
    dims: dict[str, DataFrame],
    cols: tuple[str, ...] | None,
    label: str,
) -> DataFrame:
    """Set ops INSIDE a derived table (round-5 latest). Unlike the
    per-event top-level compile — restricted to homogeneous joints and
    distinct-only EXCEPT/INTERSECT because it combines per-event
    payload ARRAYS — a derived table materializes ONCE per snapshot as
    a DataFrame, where Derby's full query-expression surface
    (lookup.rb:131-147 executes it verbatim) maps 1:1 onto exact
    built-ins: ``UNION [ALL]`` (union [+ distinct]), ``EXCEPT [ALL]``
    (subtract / exceptAll), ``INTERSECT [ALL]`` (intersect /
    intersectAll) — NULL is not distinct from NULL on all of them,
    exactly as SQL set ops require (verified empirically; the Derby
    legality of the shapes is pinned natively in test_jdbc_derby.py).
    Mixed joints combine under SQL precedence: INTERSECT binds
    tighter, then left-to-right; a PARENTHESIZED branch may itself be
    a set-op group, giving explicit grouping. Branches align
    POSITIONALLY and take branch 1's column names (Derby requires the
    branches to agree on a name for it to be referencable; taking
    branch 1's names is the same documented superset the per-event
    union uses), with Spark widening union-compatible types
    (int -> bigint) as Derby does. A trailing unparenthesized
    ``ORDER BY``/``LIMIT``/``OFFSET`` shapes the WHOLE set-op result
    (ordered top-N, Derby result order); a parenthesized branch may
    carry its own tail; a bare branch may not (Derby rejects that)."""
    parts, order_by, limit, offset = split_union_tail(parts)
    frames: list[DataFrame] = []
    for bi, p in enumerate(parts):
        blabel = f"{label} set-op branch {bi + 1}"
        stripped = strip_outer_parens(p)
        parenthesized = stripped != p.strip()
        if re.match(r"\s*values\b", stripped, re.IGNORECASE):
            rows = _parse_values_rows(stripped)
            if bi == 0 and cols is None:
                raise ValidationError(
                    [f"{blabel}: a VALUES first branch needs a column "
                     f"list on the derived table — (VALUES ...) "
                     f"UNION ... AS t (c1, c2) — it names the set-op "
                     f"output columns"]
                )
            width = len(rows[0]) if rows else 0
            frames.append(
                _values_dataframe(
                    rows, tuple(f"c{i}" for i in range(width)), dims
                )
            )
            continue
        if not parenthesized and _find_tail(
            stripped,
            by_words=("order",),
            bare_words=("limit", "fetch", "offset"),
        ) is not None:
            # mirror of the per-event union rule: Derby rejects a bare
            # ORDER BY/FETCH inside a branch — an unparenthesized
            # trailing tail after the LAST branch shapes the whole
            # set-op result (split_union_tail above); a PARENTHESIZED
            # branch may carry its own ordered top-N
            raise ValidationError(
                [f"{blabel}: ORDER BY/LIMIT/OFFSET inside a set-op "
                 f"branch needs the branch parenthesized — "
                 f"(SELECT ... ORDER BY ... FETCH ...) UNION ...; an "
                 f"unparenthesized trailing tail applies to the whole "
                 f"set-op result"]
            )
        frames.append(materialize_derived(stripped, dims))

    def _combine(a: DataFrame, b: DataFrame, op: str, all_: bool) -> DataFrame:
        if len(b.columns) != len(a.columns):
            raise ValidationError(
                [f"{label}: set-op branches project {len(a.columns)} "
                 f"vs {len(b.columns)} column(s) — branches align "
                 f"positionally"]
            )
        b = b.toDF(*a.columns)
        if op == "union":
            u = a.union(b)
            return u if all_ else u.distinct()
        if op == "except":
            return a.exceptAll(b) if all_ else a.subtract(b)
        return a.intersectAll(b) if all_ else a.intersect(b)

    vals = list(frames)
    ops = list(joints)
    i = 0
    while i < len(ops):
        # SQL precedence: INTERSECT binds tighter than UNION/EXCEPT —
        # reduce INTERSECT runs first, then fold left-to-right
        if ops[i][0] == "intersect":
            op, all_ = ops.pop(i)
            vals[i] = _combine(vals[i], vals.pop(i + 1), op, all_)
        else:
            i += 1
    df = vals[0]
    for (op, all_), b in zip(ops, vals[1:]):
        df = _combine(df, b, op, all_)
    if (limit is not None or offset is not None) and not order_by:
        raise ValidationError(
            [f"{label}: LIMIT/OFFSET on a set-op derived table "
             f"requires an ORDER BY — the selected row set would be "
             f"nondeterministic otherwise"]
        )
    return _derived_topn(df, order_by, limit, offset, label)


def split_union_tail(
    texts: list[str],
) -> tuple[
    list[str], tuple[tuple[str, bool], ...], int | None, int | None
]:
    """Strip a UNION-LEVEL result-shape tail — ``ORDER BY`` / ``LIMIT``
    / ``OFFSET`` / ``FETCH FIRST`` trailing the LAST branch — and
    return (branch texts, order_by, limit, offset). SQL (Derby
    included) attaches a trailing tail to the WHOLE union, so it is
    parsed here, above the per-branch parser (which rejects
    branch-level ORDER BY/LIMIT). A ``GROUP BY``/``HAVING`` found in
    the last branch belongs to the BRANCH (union-level GROUP BY does
    not exist in SQL), so the tail scan skips them; ORDER BY keys must
    be plain branch-1 output aliases — expressions and ordinals are
    rejected (project the expression in every branch instead). No-op
    on single-branch input or when no tail exists."""
    if len(texts) < 2:
        return texts, (), None, None
    last = texts[-1]
    cut = _find_tail(
        last, by_words=("order",), bare_words=("limit", "fetch", "offset")
    )
    if cut is None:
        return texts, (), None, None
    # _parse_tail cannot yield group_by here: the cut starts at ORDER/
    # LIMIT/FETCH/OFFSET, so a GROUP BY inside the tail text is caught
    # as trailing tokens by _parse_tail itself
    _, order_by, limit, offset = _parse_tail(last[cut:])
    for c, _ in order_by:
        if not isinstance(c, str):
            raise ValidationError(
                ["lookup UNION: ORDER BY after a UNION takes plain "
                 "output aliases — project the expression in every "
                 "branch and order by its alias"]
            )
    return texts[:-1] + [last[:cut]], order_by, limit, offset


def parse_lookup_query(query: str) -> ParsedQuery:
    """Parse the lookup SQL surface (SURVEY 2B, widened rounds 2-5):
    projection with aliases / ``*`` / scalar expressions / aggregates
    (incl. expression arguments), single table or JOINs (equi and
    non-equi ON), optional WHERE combining ``=``/``<>``/ranges/
    ``[NOT] LIKE``/``[NOT] IN``/``[NOT] BETWEEN``/``IS [NOT] NULL``
    predicates with AND/OR/NOT and parentheses; operands are
    ``:name``/``?`` placeholders, literals, dim columns/expressions,
    or uncorrelated scalar subqueries; GROUP BY/HAVING/ORDER BY/LIMIT/
    OFFSET tails (expressions allowed in GROUP BY/ORDER BY). Normalized
    to OR-of-conjunctions (raw tree kept past the 64-disjunct cap).
    Set-op splitting happens ABOVE this parser
    (parse_setop_tree / CompiledUnionLookup); the full grammar
    lives in COVERAGE.md."""
    parts = _split_select(query)
    if parts is None:
        raise ValidationError([f"unsupported lookup query shape: {query!r}"])
    is_distinct, proj_raw, from_text, where_text = parts
    # Split a trailing ORDER BY / LIMIT / FETCH FIRST clause off the
    # greedy-tail clause (the WHERE text when present, else the
    # FROM text) before handing either to its parser.
    group_by: tuple[str, ...] = ()
    order_by: tuple[tuple[str, bool], ...] = ()
    limit: int | None = None
    offset: int | None = None
    tail_holder = where_text if where_text is not None else from_text
    cut = _find_tail(tail_holder)
    having_text: str | None = None
    if cut is not None:
        tail_text = tail_holder[cut:]
        hcut = _find_tail(tail_text, by_words=(), bare_words=("having",))
        if hcut is not None:
            having_text = tail_text[hcut + len("having"):]
            tail_text = tail_text[:hcut]
            # clauses legally following HAVING (ORDER BY/FETCH in
            # Derby's clause order) parse as the result-shape tail so
            # the GROUP BY exclusivity check names the right clause
            tcut = _find_tail(having_text)
            if tcut is not None:
                g2, order_by, limit, offset = _parse_tail(having_text[tcut:])
                if g2:
                    raise ValidationError(
                        ["unsupported lookup query: GROUP BY after HAVING"]
                    )
                having_text = having_text[:tcut]
        group_by, order_by2, limit2, offset2 = _parse_tail(tail_text)
        order_by = order_by or order_by2
        limit = limit if limit is not None else limit2
        offset = offset if offset is not None else offset2
        tail_holder = tail_holder[:cut]
        if where_text is not None:
            if not tail_holder.strip():
                # "WHERE ORDER BY x" / "WHERE LIMIT 2": a truncated
                # filter must not silently become match-everything
                raise ValidationError(
                    ["unsupported lookup query: WHERE clause is empty "
                     "(predicate missing before ORDER BY/LIMIT)"]
                )
            where_text = tail_holder
        else:
            from_text = tail_holder
    table, base_alias, joins = _parse_from(from_text)
    quals: set[str] | None = None
    if joins:
        quals = {base_alias} | {j.alias for j in joins}
        if len(quals) != 1 + len(joins):
            raise ValidationError(
                [f"lookup FROM: duplicate relation alias in {from_text!r}"]
            )
    projection: list[tuple[str, str]] | None
    aggregates: list[tuple[str, str | None, str]] = []
    computed: list[tuple[str, object]] = []
    proj_subqueries: list[tuple[str, _Subquery]] = []
    # (aggregates-scanned-so-far, __psq name, alias) per projected
    # subquery — SELECT-order bookkeeping for the global-aggregate
    # conversion below
    psq_agg_pos: list[tuple[int, str, str]] = []
    select_interleaved = False
    if proj_raw == "*":
        if joins:
            raise ValidationError(
                ["lookup queries joining tables require an explicit "
                 "projection (SELECT * is ambiguous across relations)"]
            )
        projection = None
    else:
        projection = []
        for item in _split_top_level_commas(proj_raw):
            src, alias = _split_projection_alias(item)
            am = _AGG_RE.match(src)
            if am:
                if alias is None:
                    raise ValidationError(
                        [f"lookup aggregate projection {src!r} requires an "
                         f"AS alias (the payload hash is keyed by it)"]
                    )
                func = am.group("func").lower()
                arg = am.group("arg")
                if arg == "*" and func != "count":
                    raise ValidationError(
                        [f"lookup aggregate: {func}(*) is not valid SQL "
                         f"(only count(*))"]
                    )
                if am.group("distinct"):
                    if arg == "*":
                        raise ValidationError(
                            [f"lookup aggregate: DISTINCT needs a column "
                             f"argument, got {src!r}"]
                        )
                    # round-5 final: DISTINCT under every set function
                    func = {
                        "count": "count_distinct",
                        "sum": "sum_distinct",
                        "avg": "avg_distinct",
                        "min": "min", "max": "max",
                    }[func]
                aggregates.append((func, None if arg == "*" else arg, alias))
            elif (aem := _AGG_EXPR_RE.match(src)) is not None:
                # aggregate over a scalar EXPRESSION (sum(price*qty),
                # max(length(name)), count(DISTINCT upper(c))): the
                # argument materializes as a synthetic dim column the
                # aggregate then runs over, like every other expression
                if alias is None:
                    raise ValidationError(
                        [f"lookup aggregate projection {src!r} requires an "
                         f"AS alias (the payload hash is keyed by it)"]
                    )
                func = aem.group("func").lower()
                if aem.group("distinct"):
                    # round-5 final: DISTINCT under every set function
                    func = {
                        "count": "count_distinct",
                        "sum": "sum_distinct",
                        "avg": "avg_distinct",
                        "min": "min", "max": "max",
                    }[func]
                toks = _tokenize_where(aem.group("arg"))
                ep = sqlexpr.ExprParser(
                    toks,
                    0,
                    resolve_col=lambda nm: _resolve_qualified(
                        nm, table, base_alias, quals, "aggregate"
                    ),
                )
                ast = ep.parse()
                if ep.i != len(toks):
                    raise ValidationError(
                        [f"lookup aggregate: bad argument near "
                         f"{toks[ep.i][1]!r} in {src!r}"]
                    )
                cname = None
                for name, existing in computed:
                    if existing == ast:
                        cname = name
                        break
                if cname is None:
                    cname = f"__expr{len(computed)}"
                    computed.append((cname, ast))
                aggregates.append((func, cname, alias))
            elif _SIMPLE_TABLE_RE.match(src):
                if aggregates:
                    select_interleaved = True
                projection.append((src, alias if alias is not None else src))
            elif re.match(r"^\(\s*select\b", src, flags=re.IGNORECASE):
                # scalar subquery projection (round-5): Derby returns
                # the sub-SELECT's value per output row
                # (lookup.rb:131-147); here it resolves once per
                # refresh snapshot — uncorrelated to one typed-literal
                # column, correlated to the per-group aggregate
                # left-joined onto the dim — and the projection
                # references the synthetic ``__psq{n}`` column.
                if alias is None:
                    raise ValidationError(
                        [f"lookup subquery projection {src!r} requires "
                         f"an AS alias (the payload hash is keyed by it)"]
                    )
                toks = _tokenize_where(src)
                wp = _WhereParser(
                    toks,
                    table,
                    quals,
                    alias="" if joins else (
                        base_alias if base_alias != table.lower() else ""
                    ),
                    computed=computed,
                )
                term = wp._term()  # '(' + SELECT dispatches to subquery
                if wp.i != len(toks):
                    raise ValidationError(
                        [f"lookup projection: trailing tokens after "
                         f"subquery at {toks[wp.i][1]!r} in {src!r}"]
                    )
                sq = term.value
                name = next(
                    (n for n, k in proj_subqueries if k == sq), None
                )
                if name is None:
                    name = f"__psq{len(proj_subqueries)}"
                    proj_subqueries.append((name, sq))
                if aggregates:
                    select_interleaved = True
                # SELECT position relative to the aggregates scanned so
                # far — the global-aggregate conversion below re-inserts
                # the subquery's hidden aggregate at this spot, so the
                # payload keeps the written column order
                psq_agg_pos.append((len(aggregates), name, alias))
                projection.append((name, alias))
            else:
                # scalar expression projection (arithmetic / CASE /
                # COALESCE ... — the reference executes these verbatim
                # in Derby, lookup.rb:131-147); materialized dim-side
                # as a synthetic column the projection references
                if alias is None:
                    raise ValidationError(
                        [f"lookup expression projection {src!r} requires an "
                         f"AS alias (the payload hash is keyed by it)"]
                    )
                toks = _tokenize_where(src)
                ep = sqlexpr.ExprParser(
                    toks,
                    0,
                    resolve_col=lambda nm: _resolve_qualified(
                        nm, table, base_alias, quals, "projection"
                    ),
                )
                ast = ep.parse()
                if ep.i != len(toks):
                    raise ValidationError(
                        [f"lookup projection: trailing tokens after "
                         f"expression at {toks[ep.i][1]!r} in {src!r}"]
                    )
                name = next((n for n, e in computed if e == ast), None)
                if name is None:
                    name = f"__expr{len(computed)}"
                    computed.append((name, ast))
                if aggregates:
                    select_interleaved = True
                projection.append((name, alias))
        if proj_subqueries and aggregates and not group_by:
            # round-5 latest: a GLOBAL aggregate (no GROUP BY) may
            # carry UNCORRELATED scalar-subquery projections — the
            # subquery resolves to one snapshot literal, so each
            # projected subquery becomes a hidden ``max(__psq{n})``
            # aggregate re-inserted at its SELECT position, and the
            # empty-set aggregate row substitutes the resolved literal
            # (ParsedQuery.agg_empty, filled at resolution) — SQL
            # evaluates the subquery even over zero matched rows.
            # Correlated ones stay rejected: with no groups, a
            # per-group value is per-ROW, which no single aggregate
            # row can carry.
            for _n, sq in proj_subqueries:
                if sq.corr or sq.ineq:
                    raise ValidationError(
                        ["lookup projection: a CORRELATED scalar-"
                         "subquery projection cannot combine with a "
                         "GLOBAL aggregate (no GROUP BY) — its value "
                         "is per-row; add the correlation columns to "
                         "a GROUP BY or aggregate inside the subquery"]
                    )
                # PARAMETERIZED ones are legal too (round-5 latest):
                # the hidden max(__psq) aggregate reads the typed NULL
                # placeholder and the per-event value overlays the
                # payload field — including the EMPTY-set row, which
                # substitutes inside the payload stage while the
                # broadcast-joined per-event columns are in scope
            psq_names = {n for n, _ in proj_subqueries}
            projection = [
                (src, alias)
                for src, alias in projection
                if src not in psq_names
            ]
            new_aggs: list[tuple[str, str | None, str]] = []
            for i, agg in enumerate(aggregates + [None]):
                new_aggs.extend(
                    ("max", name, alias)
                    for pos, name, alias in psq_agg_pos
                    if pos == i
                )
                if agg is not None:
                    new_aggs.append(agg)
            aggregates = new_aggs
            if not projection:
                # everything in the SELECT list is now an aggregate —
                # positional UNION alignment sees the written order
                select_interleaved = False
        if aggregates and projection and not group_by:
            raise ValidationError(
                ["lookup projection cannot mix aggregates with plain "
                 "columns without GROUP BY"]
            )
    if projection is not None and joins:
        # keep in-scope qualifiers on sources (lowercased alias);
        # output aliases always flatten to the bare column name.
        norm: list[tuple[str, str]] = []
        for src, alias in projection:
            if "." in src:
                q, c = src.split(".", 1)
                if q.lower() not in quals:
                    raise ValidationError(
                        [f"lookup projection: unknown relation qualifier "
                         f"{q!r} in {src!r} (in scope: {sorted(quals)})"]
                    )
                src = f"{q.lower()}.{c}"
            if "." in alias:
                alias = alias.split(".", 1)[1]
            norm.append((src, alias))
        projection = norm
    elif projection is not None:
        # strip the FROM table's qualifier, or its alias ("FROM servers s")
        strip = [table.lower() + "."]
        if base_alias != table.lower():
            strip.append(base_alias + ".")

        def _unqual(name: str, is_src: bool = False) -> str:
            for q in strip:
                if name.lower().startswith(q):
                    return name[len(q):]
            if is_src and "." in name:
                raise ValidationError(
                    [f"lookup projection: unknown table qualifier in "
                     f"{name!r} (FROM table is {table!r})"]
                )
            return name

        projection = [
            (_unqual(src, is_src=True), _unqual(alias))
            for src, alias in projection
        ]
    disjuncts: list[list[_Predicate]] = []
    where_tree = None
    if where_text:
        single_alias = "" if joins else (
            base_alias if base_alias != table.lower() else ""
        )
        tree = _WhereParser(
            _tokenize_where(where_text), table, quals, alias=single_alias,
            computed=computed,
        ).parse_tree()
        try:
            disjuncts = _to_dnf(tree)
        except ValidationError:
            # DNF would exceed _MAX_DISJUNCTS: keep the un-normalized
            # tree — the theta paths evaluate it directly. The join
            # flat-rewrite (build_join_dim) needs DNF, so there the
            # bound still raises.
            if joins:
                raise
            where_tree = tree
    def _tail_expr_col(item, clause: str) -> str:
        """Materialize a GROUP BY / ORDER BY expression item as a
        synthetic dim column (shared with structurally-equal projection
        / predicate expressions, so ``SELECT a*b AS x ... GROUP BY a*b``
        groups by the projected column)."""
        if not (isinstance(item, tuple) and item and item[0] == "expr"):
            return item
        ast = sqlexpr.map_columns(
            item[1],
            lambda nm: _resolve_qualified(nm, table, base_alias, quals, clause),
        )
        if not sqlexpr.columns(ast):
            raise ValidationError(
                [f"lookup {clause}: constant/ordinal items are not "
                 f"supported — name a column or expression over columns"]
            )
        for name, existing in computed:
            if existing == ast:
                return name
        name = f"__expr{len(computed)}"
        computed.append((name, ast))
        return name

    group_by = tuple(_tail_expr_col(c, "GROUP BY") for c in group_by)
    if group_by or aggregates:
        # grouped/aggregate query (round-5 latest: ORDER BY/LIMIT/OFFSET
        # combine with GROUP BY — Derby's top-N-per-key shape): ORDER BY
        # items name PAYLOAD fields (SELECT output aliases, or the bare/
        # qualified source spelling of a projected group key), because
        # the sort runs over the aggregated payload rows, not dim rows
        if any(
            isinstance(c, tuple) and c and c[0] == "expr"
            for c, _ in order_by
        ):
            raise ValidationError(
                ["lookup ORDER BY on a grouped/aggregate query must "
                 "name a selected column or alias — alias the "
                 "expression in the SELECT list and order by the alias"]
            )
        payload_names = [alias for _, alias in (projection or [])] + [
            a for _, _, a in aggregates
        ]
        src_to_alias = {src: alias for src, alias in (projection or [])}
        resolved_order = []
        for col, asc in order_by:
            if col in payload_names:
                resolved_order.append((col, asc))
                continue
            target = src_to_alias.get(col)
            if target is None:
                try:
                    r = _resolve_qualified(
                        col, table, base_alias, quals, "ORDER BY"
                    )
                except ValidationError:
                    r = None
                target = src_to_alias.get(r) if r is not None else None
            if target is None:
                raise ValidationError(
                    [f"lookup ORDER BY: {col!r} is not a selected "
                     f"column or alias of this grouped/aggregate query "
                     f"(available: {sorted(payload_names)})"]
                )
            resolved_order.append((target, asc))
        order_by = tuple(resolved_order)
    else:
        order_by = tuple(
            (_tail_expr_col(c, "ORDER BY"), asc) for c, asc in order_by
        )
    if order_by and not (group_by or aggregates):
        # SQL resolution order: a SELECT output alias first, then a base
        # column (qualified names validated/stripped like the projection).
        alias_to_src = {
            alias: src for src, alias in (projection or []) if alias != src
        }
        order_by = tuple(
            (
                alias_to_src[col]
                if col in alias_to_src
                else _resolve_qualified(col, table, base_alias, quals, "ORDER BY")
            , asc)
            for col, asc in order_by
        )
    distinct = is_distinct
    if distinct and order_by and projection is not None and not joins:
        # single-table: both sides are canonical bare names here; the
        # join-mode equivalent runs on flat names in build_join_dim
        srcs = {src for src, _ in projection}
        bad = [c for c, _ in order_by if c not in srcs]
        if bad:
            raise ValidationError(
                [f"lookup ORDER BY column(s) {bad} must appear in the "
                 f"SELECT list when DISTINCT is used"]
            )
    if group_by:
        if distinct:
            # projection may name a strict SUBSET of the group keys, so
            # group rows are not necessarily distinct — but Derby's own
            # DISTINCT-over-grouped corner is rare; keep it closed
            raise ValidationError(
                ["lookup GROUP BY cannot combine with DISTINCT "
                 "(pre-shape the dim with a loader query)"]
            )
        if projection is None:
            raise ValidationError(
                ["lookup GROUP BY requires an explicit projection "
                 "(SELECT * cannot be grouped)"]
            )
        # a group item naming the ALIAS of a projected expression
        # resolves to its synthetic column (``SELECT substr(c,1,3) AS
        # pre ... GROUP BY pre``) — Derby itself cannot spell that
        # grouping via an alias, so no Derby-semantics conflict; plain
        # column aliases deliberately do NOT resolve (Derby rule:
        # GROUP BY names source columns)
        synth_names = {n for n, _ in computed}
        alias_to_synth = {
            alias: src
            for src, alias in (projection or [])
            if src in synth_names
        }
        group_by = tuple(alias_to_synth.get(c, c) for c in group_by)
        group_by = tuple(
            _resolve_qualified(c, table, base_alias, quals, "GROUP BY")
            for c in group_by
        )
        if proj_subqueries:
            # projection scalar subqueries under GROUP BY (round-5
            # latest): accepted when group-CONSTANT — uncorrelated
            # ones are global constants; correlated ones must
            # correlate on GROUP BY keys (the standard-SQL grouped-
            # projection rule), so the resolved ``__psq{n}`` dim
            # column is a function of the group keys and FOLDS INTO
            # the grouping without changing the groups. Every physical
            # path then handles it as one more grouping column. NOTE:
            # this is a documented EXTENSION over Derby, which rejects
            # ANY scalar subquery in a grouped SELECT list (ERROR
            # 42Y30, pinned natively in test_jdbc_derby.py) — like the
            # GROUP-BY-alias extension, no semantics conflict is
            # possible on a query Derby cannot run.
            for _n, sq in proj_subqueries:
                if sq.ineq:
                    raise ValidationError(
                        ["lookup projection: an inequality-correlated "
                         "scalar subquery cannot combine with GROUP BY "
                         "(its value is per-ROW, not per-group) — "
                         "aggregate inside the subquery or pre-shape "
                         "the dim with a loader query"]
                    )
                if sq.outer_exprs:
                    raise ValidationError(
                        ["lookup projection: an expression-correlated "
                         "scalar subquery cannot combine with GROUP BY "
                         "— correlate on plain GROUP BY columns"]
                    )
                if not joins:
                    bad_corr = sorted(
                        {oc for _, oc in sq.corr} - set(group_by)
                    )
                    if bad_corr:
                        raise ValidationError(
                            [f"lookup projection subquery: correlated "
                             f"column(s) {bad_corr} must be GROUP BY "
                             f"keys (a projected subquery must be "
                             f"constant per group)"]
                        )
                # join mode defers the corr-key check to
                # build_join_dim, where qualified and bare spellings
                # of one column unify on flat names
            group_by = group_by + tuple(
                n for n, _ in proj_subqueries if n not in group_by
            )
        if not joins:
            # join mode defers to build_join_dim's flat names, where
            # qualified and bare spellings of one column compare equal
            bad = [src for src, _ in projection if src not in group_by]
            if bad:
                raise ValidationError(
                    [f"lookup GROUP BY: projected column(s) {bad} must "
                     f"appear in the GROUP BY list (or be aggregated)"]
                )
    having: tuple = ()
    having_exprs: tuple = ()
    if having_text is not None:
        if not group_by:
            raise ValidationError(["lookup HAVING requires GROUP BY"])
        # rewrite SELECTed aggregate calls to their aliases so the
        # predicate parser sees plain payload-field names; token-level,
        # so whitespace/qualifier spelling differences between SELECT
        # and HAVING resolve instead of raising
        htoks = _rewrite_having_aggregates(
            _tokenize_where(having_text), aggregates,
            table, base_alias, quals, computed=tuple(computed),
        )
        # group-key references may be qualifier-spelled too
        # (`HAVING h.cat <> 'z'`): canonicalize like every other clause
        # — but NOT inside subquery spans, whose qualified refs belong
        # to the SUB-relation's scope (round-5: uncorrelated subquery
        # comparands in HAVING)
        canon: list[tuple[str, str]] = []
        sub_depth = 0
        for idx, (k, v) in enumerate(htoks):
            if k == "lparen":
                nxt = htoks[idx + 1] if idx + 1 < len(htoks) else None
                if sub_depth or (
                    nxt is not None
                    and nxt[0] == "word"
                    and nxt[1].lower() == "select"
                ):
                    sub_depth += 1
            elif k == "rparen" and sub_depth:
                sub_depth -= 1
            if sub_depth == 0 and k == "word" and "." in v:
                canon.append(
                    ("word", _resolve_qualified(
                        v, table, base_alias, quals, "HAVING"
                    ))
                )
            else:
                canon.append((k, v))
        htoks = canon
        if any(k == "qmark" for k, _ in htoks):
            raise ValidationError(
                ["lookup HAVING: positional '?' placeholders are not "
                 "supported here — use a named :param"]
            )

        def _having_corr(name: str) -> str:
            raise ValidationError(
                [f"lookup HAVING: unknown qualifier in reference "
                 f"{name!r} — HAVING references SELECT aliases; "
                 f"subquery outer references resolve against the FROM "
                 f"scope (correlated scalar subqueries on GROUP BY "
                 f"keys are supported, round-5 latest)"]
            )

        # FROM scope passed through (round-5 latest): outer references
        # INSIDE a HAVING subquery resolve like WHERE-clause
        # correlations (``... HAVING total > (SELECT avg(price) FROM
        # t p2 WHERE p2.plan = t.plan)``); direct qualified refs were
        # already canonicalized above, so the fallback only fires for
        # genuinely unknown qualifiers
        # expression LHS support (round-5 latest): the HAVING parser
        # gets its OWN computed list — entries are payload-level
        # expressions over SELECT aliases, evaluated at filter time
        hx: list[tuple[str, object]] = []
        having = tuple(
            _WhereParser(
                htoks, table=table, quals=quals, alias=base_alias,
                qualifier_fallback=_having_corr, computed=hx,
                in_having=True,
            ).parse()
        )
        having_exprs = tuple(hx)
        hx_names = {n for n, _ in hx}
        payload_names = {alias for _, alias in projection} | {
            a for _, _, a in aggregates
        }
        for name, ast in hx:
            bad = sorted(sqlexpr.columns(ast) - payload_names)
            if bad:
                raise ValidationError(
                    [f"lookup HAVING: expression references {bad} — "
                     f"not selected column aliases "
                     f"(available: {sorted(payload_names)})"]
                )
        for d in having:
            for p in d:
                if p.op in ("exists", "not exists"):
                    # [NOT] EXISTS has no payload lhs — the flag column
                    # resolves per snapshot and resolve validates its
                    # correlated columns are GROUP BY keys (round-5
                    # latest, Derby-legal)
                    continue
                if p.func is not None:
                    raise ValidationError(
                        [f"lookup HAVING: function-wrapped fields are not "
                         f"supported ({p.func}({p.dim_column}))"]
                    )
                if (
                    p.dim_column not in payload_names
                    and p.dim_column not in hx_names
                ):
                    raise ValidationError(
                        [f"lookup HAVING: {p.dim_column!r} is not a "
                         f"selected column alias "
                         f"(available: {sorted(payload_names)})"]
                    )
                for t in p.terms:
                    if (
                        t.kind == "column"
                        and t.value not in payload_names
                        and t.value not in hx_names
                    ):
                        raise ValidationError(
                            [f"lookup HAVING: comparand {t.value!r} is "
                             f"not a selected column alias "
                             f"(available: {sorted(payload_names)})"]
                        )
                    if t.kind == "mixed_expr":
                        # round-5 final: a mixed alias+param comparand
                        # (``n > cnt + :k``) — every column must be a
                        # payload alias (params bind fact-side)
                        bad = sorted(
                            sqlexpr.columns(t.value)
                            - payload_names
                            - hx_names
                        )
                        if bad:
                            raise ValidationError(
                                [f"lookup HAVING: expression references "
                                 f"{bad} — not selected column aliases "
                                 f"(available: {sorted(payload_names)})"]
                            )
    if aggregates and not group_by:
        if distinct:
            raise ValidationError(
                ["lookup aggregate projection cannot combine with "
                 "DISTINCT (the result is a single row)"]
            )
        # ORDER BY is a validated no-op over the single aggregate row;
        # OFFSET can empty the result set (Derby returns zero rows and
        # the default branch runs) — both accepted, round-5 latest
    # qualifier resolution runs for grouped aggregates too (the HAVING
    # rewrite above already normalized both sides the same way)
    aggregates = [
        (
            func,
            None if col is None else _resolve_qualified(
                col, table, base_alias, quals, "aggregate"
            ),
            alias,
        )
        for func, col, alias in aggregates
    ]
    # Prune computed expressions no clause ended up referencing (the
    # boolean-vs-arithmetic paren backtracking can register an lhs on
    # an attempt that is then re-parsed the other way).
    if computed:
        referenced = {src for src, _ in (projection or [])}
        where_preds = (
            _tree_leaves(where_tree) if where_tree is not None
            else [p for d in disjuncts for p in d]
        )
        referenced |= {p.dim_column for p in where_preds}
        # rhs column terms reference computed columns too (a = b + 1
        # registers __exprN as the rhs comparand)
        referenced |= {
            t.value
            for p in where_preds
            for t in p.terms
            if t.kind == "column"
        }
        # GROUP BY / ORDER BY expression items and aggregate expression
        # arguments materialize as computed columns referenced only
        # from their clauses
        referenced |= set(group_by)
        referenced |= {c for c, _ in order_by}
        referenced |= {c for _, c, _ in aggregates if c is not None}
        computed = [(n, a) for n, a in computed if n in referenced]
    return ParsedQuery(
        projection, table, disjuncts, base_alias, joins,
        order_by=order_by, limit=limit, offset=offset, distinct=distinct,
        aggregates=tuple(aggregates), group_by=group_by, having=having,
        having_exprs=having_exprs,
        computed=tuple(computed), where_tree=where_tree,
        proj_subqueries=tuple(proj_subqueries),
        select_interleaved=select_interleaved,
    )


def build_join_dim(
    parsed: ParsedQuery, dims: dict[str, DataFrame]
) -> tuple[DataFrame, ParsedQuery]:
    """Pre-join a multi-table lookup's dimension tables into ONE derived
    dimension DataFrame and rewrite the query onto flat column names, so
    the single-table compile machinery (broadcast-hash / map-probe)
    applies unchanged.

    Scale shape: the join runs once per refresh snapshot over dim-sized
    inputs — the per-event cost model is identical to a single dim
    table, and the derived dim broadcasts exactly like a plain one. The
    reference reaches the same semantics by letting Derby execute the
    join per event (lookup.rb:131-147); hoisting it to load time is the
    Spark-first equivalent.

    Column references resolve standard-SQL style: qualified (alias.col)
    against that relation, bare names against the single relation that
    has the column (ambiguous bare names are errors). When two
    referenced columns share a bare name, flat names are disambiguated
    as ``<alias>_<col>``.
    """
    alias_map: dict[str, str] = {parsed.base_alias: parsed.table}
    for j in parsed.joins:
        alias_map[j.alias] = j.table
    missing = sorted({t for t in alias_map.values() if t not in dims})
    if missing:
        raise ValidationError(
            [f"lookup references unknown local table(s) {missing}"]
        )
    frames = {a: dims[t].alias(a) for a, t in alias_map.items()}

    joined = frames[parsed.base_alias]
    in_scope = {parsed.base_alias}
    for j in parsed.joins:
        cond: Column | None = None
        for lq, lc, op, rq, rc in j.on:
            for q, c in ((lq, lc), (rq, rc)):
                if q is None:  # literal ON operand
                    continue
                if q not in in_scope and q != j.alias:
                    raise ValidationError(
                        [f"lookup FROM: ON references {q}.{c} but "
                         f"{q!r} is not in scope yet"]
                    )
                if c not in dims[alias_map[q]].columns:
                    raise ValidationError(
                        [f"lookup FROM: column '{c}' not in table "
                         f"'{alias_map[q]}' (alias {q!r})"]
                    )
            l = F.lit(lc) if lq is None else F.col(f"{lq}.{lc}")
            r = F.lit(rc) if rq is None else F.col(f"{rq}.{rc}")
            piece = {
                "=": l == r, "<>": l != r, "<": l < r,
                ">": l > r, "<=": l <= r, ">=": l >= r,
            }[op]
            cond = piece if cond is None else (cond & piece)
        joined = joined.join(frames[j.alias], cond, j.how)
        in_scope.add(j.alias)

    def resolve(ref: str) -> tuple[str, str]:
        if "." in ref:
            q, c = ref.split(".", 1)
            if q not in alias_map:
                raise ValidationError(
                    [f"lookup: unknown relation qualifier {q!r} in {ref!r}"]
                )
            if c not in dims[alias_map[q]].columns:
                raise ValidationError(
                    [f"lookup: column '{c}' not in table "
                     f"'{alias_map[q]}' (alias {q!r})"]
                )
            return q, c
        owners = [a for a, t in alias_map.items() if ref in dims[t].columns]
        if not owners:
            raise ValidationError(
                [f"lookup: column '{ref}' not found in any joined table"]
            )
        if len(owners) > 1:
            raise ValidationError(
                [f"lookup: column '{ref}' is ambiguous across relations "
                 f"{sorted(owners)} — qualify it"]
            )
        return owners[0], ref

    # synthetic expression columns (__exprN) resolve AFTER the flat
    # rewrite: their ASTs reference real (possibly alias-qualified)
    # columns, mapped below and materialized by CompiledLookup on the
    # derived dim — so every clause may reference them by name here
    synth = {n for n, _ in parsed.computed} | {
        n for n, _ in parsed.proj_subqueries
    }
    refs: list[tuple[str, str]] = []
    srcs = [s for s, _ in (parsed.projection or [])]
    # EXISTS predicates have no lhs column (empty dim_column)
    pred_cols = [p.dim_column for p in parsed.predicates if p.dim_column] + [
        # rhs column comparands (``WHERE a.x < b.y``) are dim columns too
        t.value
        for p in parsed.predicates
        for t in p.terms
        if t.kind == "column"
    ]
    # grouped/aggregate ORDER BY names payload ALIASES, not dim columns
    order_cols = (
        []
        if (parsed.group_by or parsed.aggregates)
        else [c for c, _ in parsed.order_by]
    )
    agg_cols = [c for _, c, _ in parsed.aggregates if c is not None]
    group_cols = list(parsed.group_by)
    expr_cols = [
        r for _, a in parsed.computed for r in sorted(sqlexpr.columns(a))
    ] + [
        # mixed dim+param rhs expressions reference dim columns of the
        # derived dim too (round-5 latest: ``WHERE p.price > b.lo + :k``)
        r
        for p in parsed.predicates
        for t in p.terms
        if t.kind == "mixed_expr"
        for r in sorted(sqlexpr.columns(t.value))
    ]
    # correlated-subquery outer references ("alias.col", kept qualified
    # by the parser) are dim columns of the derived dim too: the
    # per-group aggregate/flag left-joins onto it by these keys
    # (round-5: correlated subqueries in JOIN lookups)
    sub_outer = [
        oc
        for p in parsed.predicates
        for t in p.terms
        if t.kind == "subquery"
        for oc in (
            [o for _, o in t.value.corr] + [o for _, _, o in t.value.ineq]
        )
    ] + [
        oc
        for _, sq in parsed.proj_subqueries
        for oc in [o for _, o in sq.corr]
    ]
    for ref in (
        srcs + pred_cols + order_cols + agg_cols + group_cols + expr_cols
        + sub_outer
    ):
        if ref in synth:
            continue
        pair = resolve(ref)
        if pair not in refs:
            refs.append(pair)
    bare_owner_count: dict[str, set[str]] = {}
    for a, c in refs:
        bare_owner_count.setdefault(c, set()).add(a)
    # Flat names must be globally unique — the <alias>_<col>
    # disambiguation can itself collide with a referenced column whose
    # bare name IS "<alias>_<col>" (e.g. a.x with b.a_x), which would
    # put duplicate column names in the derived dim. Deterministic in
    # refs order, so projection and predicates rewrite identically.
    flat: dict[tuple[str, str], str] = {}
    used: set[str] = set()
    for a, c in refs:
        cand = c if len(bare_owner_count[c]) == 1 else f"{a}_{c}"
        n = 2
        while cand in used:
            cand = f"{a}_{c}_{n}"
            n += 1
        flat[(a, c)] = cand
        used.add(cand)
    dim = joined.select(*[F.col(f"{a}.{c}").alias(flat[(a, c)]) for a, c in refs])

    def res(ref: str) -> str:
        return ref if ref in synth else flat[resolve(ref)]

    new_proj = [(res(src), alias) for src, alias in (parsed.projection or [])]

    def flat_term(t: _Term) -> _Term:
        if t.kind == "column":
            return _Term("column", res(t.value))
        if t.kind == "mixed_expr":
            # the AST's (possibly alias-qualified) dim references remap
            # onto the derived dim's flat names; Param nodes untouched
            return _Term("mixed_expr", sqlexpr.map_columns(t.value, res))
        if t.kind == "subquery" and (t.value.corr or t.value.ineq):
            # correlation keys flatten with the dim; the subquery's own
            # columns (sub-relation scope) stay untouched. Outer-side
            # expression names (__sq_oexpr*) are synthetic — their ASTs
            # remap instead (materialized on the derived dim at
            # resolution)
            sq = t.value
            oe_names = {n for n, _ in sq.outer_exprs}
            return _Term(
                "subquery",
                dataclasses.replace(
                    sq,
                    corr=tuple(
                        (sc, oc if oc in oe_names else res(oc))
                        for sc, oc in sq.corr
                    ),
                    ineq=tuple(
                        (sc, op, res(oc)) for sc, op, oc in sq.ineq
                    ),
                    outer_exprs=tuple(
                        (n, sqlexpr.map_columns(a, res))
                        for n, a in sq.outer_exprs
                    ),
                ),
            )
        return t

    new_disjuncts = [
        [
            _Predicate(
                res(p.dim_column) if p.op not in ("exists", "not exists")
                else p.dim_column,  # EXISTS has no lhs column
                p.op,
                [flat_term(t) for t in p.terms],
                func=p.func,
            )
            for p in d
        ]
        for d in parsed.disjuncts
    ]
    new_group = tuple(res(c) for c in parsed.group_by)
    if new_group:
        bad = [src for src, _ in new_proj if src not in new_group]
        if bad:
            raise ValidationError(
                [f"lookup GROUP BY: projected column(s) {bad} must "
                 f"appear in the GROUP BY list (or be aggregated)"]
            )
        # join-mode twin of the parse-time check: a projected
        # subquery's correlation keys must be GROUP BY keys (compared
        # on flat names, where qualified and bare spellings unify)
        for _n, sq in parsed.proj_subqueries:
            bad_corr = sorted(
                {res(oc) for _, oc in sq.corr} - set(new_group)
            )
            if bad_corr:
                raise ValidationError(
                    [f"lookup projection subquery: correlated "
                     f"column(s) {bad_corr} must be GROUP BY keys "
                     f"(a projected subquery must be constant per "
                     f"group)"]
                )
    if parsed.group_by or parsed.aggregates:
        # grouped/aggregate ORDER BY names payload ALIASES (parse-time
        # resolution) — flat-safe exactly like HAVING, no remap
        new_order = parsed.order_by
    else:
        new_order = tuple((res(c), asc) for c, asc in parsed.order_by)
    if parsed.distinct and new_order:
        # join-mode twin of the parse-time single-table check: on flat
        # names, qualified-vs-bare spellings of the same column compare
        # equal (the round-3 review's false-rejection finding)
        srcs = {src for src, _ in new_proj}
        bad = [c for c, _ in new_order if c not in srcs]
        if bad:
            raise ValidationError(
                [f"lookup ORDER BY column(s) {bad} must appear in the "
                 f"SELECT list when DISTINCT is used"]
            )
    rewritten = ParsedQuery(
        new_proj, parsed.table, new_disjuncts, parsed.base_alias, parsed.joins,
        order_by=new_order,
        limit=parsed.limit,
        offset=parsed.offset,
        distinct=parsed.distinct,
        aggregates=tuple(
            (func, None if c is None else res(c), alias)
            for func, c, alias in parsed.aggregates
        ),
        group_by=new_group,
        having=parsed.having,  # references payload ALIASES — flat-safe
        having_exprs=parsed.having_exprs,  # likewise alias-based
        # expression ASTs remapped onto the derived dim's flat names;
        # CompiledLookup materializes them there like any single-table
        # computed column (round 5: expressions in JOIN lookups)
        computed=tuple(
            (n, sqlexpr.map_columns(a, lambda ref: flat[resolve(ref)]))
            for n, a in parsed.computed
        ),
        # projection scalar subqueries: correlation keys flatten with
        # the dim (the per-group aggregate left-joins onto the DERIVED
        # dim); the subquery's own columns stay in the sub-relation's
        # scope (round-5)
        proj_subqueries=tuple(
            (
                n,
                dataclasses.replace(
                    sq,
                    corr=tuple((sc, res(oc)) for sc, oc in sq.corr),
                ),
            )
            for n, sq in parsed.proj_subqueries
        ),
    )
    return dim, rewritten


class CompiledLookup:
    """One lookup compiled against a dimension DataFrame.

    Produces, when applied to a fact DataFrame:
      - ``<target>``: array<struct> payload column (A11) — null when the
        lookup failed (target untouched in the reference), ``[]`` on
        valid-but-empty without default (spec/filters/jdbc_static_spec.rb:98-105),
        ``[default_hash]`` on miss with default (A10)
      - ``__<id>_ok``: the boolean the lookup returns (A12's matched gate)
      - ``__<id>_failed`` / ``__<id>_default_used``: tag drivers
    """

    def __init__(
        self,
        spec: LookupSpec,
        dim_df: DataFrame,
        parsed_query: ParsedQuery | None = None,
    ):
        spec.raise_if_invalid()
        self.spec = spec
        # Join lookups hand in a pre-parsed flat-rewritten query whose
        # columns exist only in the derived dim (build_join_dim).
        self.query = (
            parsed_query if parsed_query is not None
            else parse_lookup_query(spec.query)
        )
        if has_subqueries(self.query):
            # Direct construction (tests, single-table callers): scalar
            # subqueries resolve against the one dim in scope — a
            # dim-sized aggregation, once per compile/refresh snapshot;
            # correlated subqueries may augment the dim with their
            # per-group value column. LookupEnricher resolves earlier
            # with the full table dict, so cross-table subqueries
            # require that path.
            self.query, dim_df = resolve_subqueries_with_dim(
                self.query, {self.query.table: dim_df}, dim_df
            )
        # Materialize dim-side computed expressions (arithmetic / CASE /
        # COALESCE) as synthetic columns BEFORE any path sees the dim;
        # every physical strategy then treats them as ordinary columns.
        base_schema_fields = list(dim_df.schema.fields)
        if self.query.computed:
            names = {f.name for f in base_schema_fields}
            for cname, ast in self.query.computed:
                missing = sorted(
                    r for r in sqlexpr.columns(ast) if r not in names
                )
                if missing:
                    raise ValidationError(
                        [f"lookup '{spec.id}': expression references "
                         f"unknown column(s) {missing} in table "
                         f"'{self.query.table}'"]
                    )
                if cname in names:
                    raise ValidationError(
                        [f"lookup '{spec.id}': synthetic expression column "
                         f"{cname!r} collides with a dim column"]
                    )
                dim_df = dim_df.withColumn(cname, sqlexpr.compile_expr(ast))
                names.add(cname)
        self.dim_df = dim_df
        # Resolve projection against the dim schema.
        dim_fields = {f.name: f.dataType for f in dim_df.schema.fields}
        if self.query.aggregates or self.query.group_by:
            for func, col, _ in self.query.aggregates:
                if col is not None and col not in dim_fields:
                    raise ValidationError(
                        [f"lookup '{spec.id}': aggregate column '{col}' "
                         f"not in table '{self.query.table}'"]
                    )
                if func in ("sum", "avg") and not isinstance(
                    dim_fields[col],
                    (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                     T.FloatType, T.DoubleType),
                ):
                    raise ValidationError(
                        [f"lookup '{spec.id}': {func}({col}) requires an "
                         f"integer or floating-point column "
                         f"(got {dim_fields[col].simpleString()})"]
                    )
            for c in self.query.group_by:
                if c not in dim_fields:
                    raise ValidationError(
                        [f"lookup '{spec.id}': GROUP BY column '{c}' "
                         f"not in table '{self.query.table}'"]
                    )
            for src, _ in self.query.projection or []:
                if src not in dim_fields:
                    raise ValidationError(
                        [f"lookup '{spec.id}': column '{src}' not in "
                         f"table '{self.query.table}'"]
                    )
            # payload field order: plain projected group keys first (in
            # SELECT order), then the aggregates (in SELECT order)
            self.out_fields = list(self.query.projection or []) + [
                (alias, alias) for _, _, alias in self.query.aggregates
            ]
        elif self.query.projection is None:
            # SELECT * expands to the BASE table columns — synthetic
            # __expr columns from a WHERE expression and __sq_* columns
            # (correlated scalar/EXISTS/IN subqueries) never leak out
            self.out_fields = [
                (f.name, f.name)
                for f in base_schema_fields
                if not f.name.startswith("__sq_")
            ]
        else:
            for src, _ in self.query.projection:
                if src not in dim_fields:
                    raise ValidationError(
                        [f"lookup '{spec.id}': column '{src}' not in table '{self.query.table}'"]
                    )
            self.out_fields = list(self.query.projection)
        for p in self.query.predicates:
            if p.dim_column not in dim_fields:
                raise ValidationError(
                    [f"lookup '{spec.id}': predicate column '{p.dim_column}' "
                     f"not in table '{self.query.table}'"]
                )
            for t in p.terms:
                if t.kind == "column" and t.value not in dim_fields:
                    raise ValidationError(
                        [f"lookup '{spec.id}': predicate comparand column "
                         f"'{t.value}' not in table '{self.query.table}'"]
                    )
                if t.kind == "mixed_expr":
                    missing = sorted(
                        c
                        for c in sqlexpr.columns(t.value)
                        if c not in dim_fields
                    )
                    if missing:
                        raise ValidationError(
                            [f"lookup '{spec.id}': predicate expression "
                             f"references unknown column(s) {missing} in "
                             f"table '{self.query.table}'"]
                        )
        if not (self.query.group_by or self.query.aggregates):
            # grouped/aggregate ORDER BY names PAYLOAD aliases (already
            # validated at parse); dim-row ORDER BY names dim columns
            for c, _ in self.query.order_by:
                if c not in dim_fields:
                    raise ValidationError(
                        [f"lookup '{spec.id}': ORDER BY column '{c}' "
                         f"not in table '{self.query.table}'"]
                    )
        # Map placeholder name -> event binding string.
        if spec.prepared_parameters is not None:
            self.bindings = {f"p{i}": v for i, v in enumerate(spec.prepared_parameters)}
        else:
            self.bindings = dict(spec.parameters or {})
        needed: list[str] = []
        having_preds = [p for d in self.query.having for p in d]
        for p in self.query.predicates + having_preds:
            for n in p.param_names:
                if n not in needed:
                    needed.append(n)
        # HAVING LHS expressions may carry params too (round-5 final:
        # ``HAVING n * :k > 10``) — they live in having_exprs, not in
        # any predicate's terms
        for _hn, hast in self.query.having_exprs:
            for n in sqlexpr.params_of(hast):
                if n not in needed:
                    needed.append(n)
        # a PROJECTION-only parameterized subquery's event params reach
        # no predicate — collect them from the resolved frames' terms
        for _ns, _ks, terms, _fr, _fs in self.query.param_subs:
            for t in terms:
                names = (
                    [t.value] if t.kind == "param"
                    else sqlexpr.params_of(t.value)
                )
                for n in names:
                    if n not in needed:
                        needed.append(n)
        missing = [
            n
            for n in needed
            if n not in self.bindings
            # __psub* are the synthetic parameterized-subquery params:
            # bound at probe time by _attach_param_subs, not the event
            and not n.startswith("__psub")
        ]
        if missing:
            raise ValidationError(
                [f"lookup '{spec.id}': no binding for placeholder(s) {missing}"]
            )
        self._needed_params = needed
        # WHERE-referenced params only: the map-probe tuple key must not
        # include HAVING-only params (the HAVING filter runs fact-side
        # in apply(), so a probe keyed on them would multiply the
        # tuple->payload map cardinality for nothing)
        where_needed: list[str] = []
        for p in self.query.predicates:
            for n in p.param_names:
                if n not in where_needed:
                    where_needed.append(n)
        self._where_params = where_needed
        # internal struct = what the physical stages collect (incl. the
        # hidden ``__hsq*`` per-group carriers for correlated HAVING
        # subqueries); public struct = the user-visible payload shape
        # (hidden fields stripped after the HAVING filter, _shape_raw)
        self._internal_struct = self._payload_struct_type()
        self._payload_struct = T.StructType(
            [
                f
                for f in self._internal_struct.fields
                if not f.name.startswith("__hsq")
            ]
        )
        self._default_array = self._build_default_array()

    # ---- payload/result shapes -------------------------------------
    def _agg_result_type(self, func: str, col: str | None) -> T.DataType:
        """Aggregate result types, matching Spark's native aggregate
        outputs so the equi path (real groupBy agg) and the theta paths
        (array-expression aggregates) agree: count -> long; sum -> long
        for integral inputs, double for fractional; avg -> double;
        min/max -> the column's own type."""
        dim_fields = {f.name: f.dataType for f in self.dim_df.schema.fields}
        if func in ("count", "count_distinct"):
            return T.LongType()
        if func in ("avg", "avg_distinct"):
            return T.DoubleType()
        if func in ("sum", "sum_distinct"):
            return (
                T.DoubleType()
                if isinstance(dim_fields[col], (T.FloatType, T.DoubleType))
                else T.LongType()
            )
        return dim_fields[col]  # min/max

    def _payload_struct_type(self) -> T.StructType:
        dim_fields = {f.name: f.dataType for f in self.dim_df.schema.fields}
        if self.query.aggregates or self.query.group_by:
            fields = [
                T.StructField(alias, dim_fields[src], True)
                for src, alias in (self.query.projection or [])
            ]
            fields += [
                T.StructField(alias, self._agg_result_type(func, col), True)
                for func, col, alias in self.query.aggregates
            ]
            return T.StructType(fields)
        return T.StructType(
            [T.StructField(alias, dim_fields[src], True) for src, alias in self.out_fields]
        )

    def _build_default_array(self) -> Column | None:
        """[default_hash] payload (lookup.rb:239-245, 93-99)."""
        if not self.spec.use_default:
            return None
        dh = self.spec.default_hash or {}
        aliases = [a for _, a in self.out_fields]
        unknown = [k for k in dh if k not in aliases]
        if unknown:
            raise ValidationError(
                [f"lookup '{self.spec.id}': default_hash keys {unknown} are not "
                 f"in the lookup projection {aliases}"]
            )
        cols = []
        for (src, alias), fld in zip(self.out_fields, self._payload_struct.fields):
            if alias in dh:
                cols.append(F.lit(dh[alias]).cast(fld.dataType).alias(alias))
            else:
                cols.append(F.lit(None).cast(fld.dataType).alias(alias))
        return F.array(F.struct(*cols))

    # ---- predicate evaluation (shared by all physical paths) --------
    def _pred_condition(self, p: _Predicate, lhs: Column, rhs: list[Column]) -> Column:
        return _pred_column_condition(p, lhs, rhs)

    def _static_rhs(self, p: _Predicate) -> list[Column]:
        """rhs Columns for a parameter-free predicate: literals inline
        (literal LIKE patterns compile here and constant-fold), column
        terms reference the dim column by name — valid only where the
        dim's real columns are in scope (the equi path's dim filter)."""
        return [_static_operand(p, t) for t in p.terms]

    def _indexed_disjuncts(self) -> list[list[tuple[int, _Predicate]]]:
        """Disjuncts with a stable flat index per predicate, used to key
        staged rhs/regex columns consistently across paths."""
        out: list[list[tuple[int, _Predicate]]] = []
        f = 0
        for d in self.query.disjuncts:
            row = []
            for p in d:
                row.append((f, p))
                f += 1
            out.append(row)
        return out

    def _flat_indexed(self) -> list[tuple[int, _Predicate]]:
        """Every WHERE predicate with its stable flat index — DNF order,
        or tree-traversal order on DNF overflow. Drives rhs/regex
        staging identically for both representations."""
        if self.query.where_tree is not None:
            return list(enumerate(_tree_leaves(self.query.where_tree)))
        return [fp for d in self._indexed_disjuncts() for fp in d]

    def _where_condition(self, lhs_for, rhs_for) -> Column:
        """The WHERE clause as one Column expression: OR-of-ANDs from
        the normalized disjuncts, or a direct walk of the un-normalized
        boolean tree on DNF overflow (same operand callbacks, so every
        theta path supports both representations)."""
        if self.query.where_tree is None:
            return self._dnf_condition(lhs_for, rhs_for)
        flat_iter = iter(self._flat_indexed())

        def walk(node) -> Column:
            if node[0] == "pred":
                f, p = next(flat_iter)
                return self._pred_condition(p, lhs_for(p), rhs_for(f, p))
            parts = [walk(c) for c in node[1]]
            out = parts[0]
            for c in parts[1:]:
                out = (out & c) if node[0] == "and" else (out | c)
            return out

        return walk(self.query.where_tree)

    def _term_rhs(self, p: _Predicate, t: _Term, param_value) -> Column:
        """One rhs operand as a Column: literals inline (LIKE patterns
        compile to constant-folded regexes); params via
        ``param_value(name)`` — param EXPRESSIONS substitute the bound
        Columns into the AST — with the LIKE rewrite applied."""
        if t.kind == "literal":
            lit = F.lit(t.value)
            return _like_regex(lit, p.like_escape) if p.op in _LIKE_OPS else lit
        if t.kind == "param_expr":
            v = sqlexpr.compile_expr(
                sqlexpr.subst_params(t.value, param_value)
            )
        else:
            v = param_value(t.value)
        return _like_regex(v, p.like_escape) if p.op in _LIKE_OPS else v

    def _dnf_condition(self, lhs_for, rhs_for, indexed=None) -> Column:
        """OR over disjuncts of AND over predicates. ``lhs_for(p)`` and
        ``rhs_for(flat_idx, p) -> list[Column]`` supply the operands, so
        the same normalized WHERE drives the dim filter, the map-probe
        join condition, and (via ``indexed``) the HAVING payload
        filter."""
        parts: list[Column] = []
        for d in (self._indexed_disjuncts() if indexed is None else indexed):
            c: Column | None = None
            for f, p in d:
                pc = self._pred_condition(p, lhs_for(p), rhs_for(f, p))
                c = pc if c is None else c & pc
            parts.append(c if c is not None else F.lit(True))
        if not parts:
            return F.lit(True)
        out = parts[0]
        for c in parts[1:]:
            out = out | c
        return out

    # ---- physical strategies ----------------------------------------
    def _grouped_dim(self) -> tuple[DataFrame, list[str]]:
        """Equi path: the key-grouped dim, pinned on first use — the
        reference builds its lookup-column index once per load
        (db_object.rb:19) and every event probes it until the next
        reload. A CompiledLookup is built per dim snapshot, so the pin
        never outlives its snapshot; the blocks are freed with it.

        The checkpoint is lazy: under AQE the first apply runs only the
        grouping's shuffle-map stage and the first action over the
        lookup materializes the grouped blocks, so a one-shot query pays
        no extra job; every later apply reads the pinned frame instead
        of shuffling and regrouping the whole dim again."""
        if not hasattr(self, "_grouped_cache"):
            grouped, key_names = self._build_grouped_dim()
            self._grouped_cache = (
                grouped.localCheckpoint(eager=False), key_names
            )
        return self._grouped_cache

    def _build_grouped_dim(self) -> tuple[DataFrame, list[str]]:
        """Equi path: dim grouped by key -> one array<struct> per key.
        Static predicates of any op pre-filter the dim (the single
        conjunction guaranteed by is_pure_equi)."""
        key_cols = []
        dim = self.dim_df
        for i, p in enumerate(self.query.disjuncts[0]):
            if p.is_static:
                dim = dim.filter(
                    self._pred_condition(
                        p, _apply_lhs_func(p, F.col(p.dim_column)), self._static_rhs(p)
                    )
                )
            else:
                key_cols.append((f"__k{i}", p))
        payload = F.struct(
            *[F.col(src).alias(alias) for src, alias in self.out_fields]
        )
        keys = [
            _apply_lhs_func(p, F.col(p.dim_column)).alias(k) for k, p in key_cols
        ]
        if self.query.group_by:
            # two dim-side aggregations: per (key, group) aggregate,
            # then per key collect the sorted group-row payload
            aggs = self._agg_columns_native(F.col, F.lit(1)) or [
                F.count(F.lit(1)).alias("__n_rows_ignored")
            ]
            level1 = dim.groupBy(
                *keys, *[F.col(c) for c in self.query.group_by]
            ).agg(*aggs)
            payload_struct = F.struct(
                *[
                    F.col(src).alias(alias)
                    for src, alias in (self.query.projection or [])
                ],
                *[F.col(alias) for _, _, alias in self.query.aggregates],
            )
            grouped = level1.groupBy(*[F.col(k) for k, _ in key_cols]).agg(
                F.sort_array(F.collect_list(payload_struct)).alias("__payload")
            )
        elif self.query.aggregates:
            # real groupBy aggregation per key — every group row is a
            # dim row, so count(*) counts lit(1)
            grouped = dim.groupBy(*keys).agg(
                F.array(
                    F.struct(*self._agg_columns_native(F.col, F.lit(1)))
                ).alias("__payload")
            )
        elif self._has_result_order():
            grouped = (
                dim.groupBy(*keys)
                .agg(F.collect_list(self._slim_row(F.col)).alias("__rows"))
                .select(
                    *[F.col(k) for k, _ in key_cols],
                    self._assemble_payload(F.col("__rows")).alias("__payload"),
                )
            )
        else:
            grouped = (
                dim.groupBy(*keys)
                .agg(F.sort_array(F.collect_list(payload)).alias("__payload"))
            )
        return grouped, [k for k, _ in key_cols]

    def _param_cols(self, schema: T.StructType) -> dict[str, BoundParam]:
        return {
            name: bind_param(binding, schema, name)
            for name, binding in self.bindings.items()
        }

    def _validity(self, params: dict[str, BoundParam]) -> Column:
        if not params:
            return F.lit(True)
        valid = F.lit(True)
        for bp in params.values():
            valid = valid & bp.valid
        return valid

    def apply(self, fact: DataFrame) -> DataFrame:
        """Enrich ``fact`` with this lookup's target + status columns.

        Laziness contract: plan construction is lazy EXCEPT (a) a
        THETA-parameterized [NOT] IN / quantified subquery
        (``_ThetaParamFrame.build``), whose IN-cap guard collects the
        largest per-tuple value set — one extra pass over ``fact``'s
        lineage per apply(); callers looping apply() over an expensive
        uncached fact should cache the fact. (b) The first apply of an
        equi lookup runs the dim grouping's shuffle stage and pins the
        grouped dim (``_grouped_dim``); later applies of the same
        compiled lookup run no job."""
        params = self._param_cols(fact.schema)
        valid = self._validity(params)
        sid = self.spec.id
        ok_col, failed_col, default_col = (
            f"__{sid}_ok", f"__{sid}_failed", f"__{sid}_default_used",
        )
        enriched = self._payload_stage(fact, params)
        # Outcome logic (lookup.rb:83-104): invalid => failed, target
        # untouched; valid+empty+default => default payload + default tag;
        # valid otherwise => payload ([] when empty, no default).
        raw = self._shape_raw(F.col("__raw_payload"), params)
        grouped_tail = self._grouped_tail
        if self.query.aggregates and not self.query.group_by and not grouped_tail:
            # an aggregate query always returns exactly ONE row (SQL
            # aggregates over an empty set still produce a row), so the
            # payload is never empty and default_hash never fires; only
            # an equi-path key miss leaves raw NULL — substitute the
            # empty-set aggregate row (count 0, others NULL)
            target_expr = (
                F.when(
                    ~valid, F.lit(None).cast(T.ArrayType(self._payload_struct))
                )
                .when(raw.isNull(), self._empty_agg_array())
                .otherwise(raw)
            )
            default_expr = F.lit(False)
        else:
            empty = raw.isNull() | (F.size(raw) == 0)
            target_expr = (
                F.when(~valid, F.lit(None).cast(T.ArrayType(self._payload_struct)))
                .when(
                    empty,
                    self._default_array
                    if self._default_array is not None
                    else F.array().cast(T.ArrayType(self._payload_struct)),
                )
                .otherwise(raw)
            )
            default_expr = valid & empty & F.lit(self.spec.use_default)
        return (
            enriched.withColumn(self.spec.target, target_expr)
            .withColumn(failed_col, ~valid)
            .withColumn(default_col, default_expr)
            .withColumn(ok_col, valid)
            .drop("__raw_payload")
        )

    @property
    def _grouped_tail(self) -> bool:
        """ORDER BY / LIMIT / OFFSET over a grouped or aggregate
        payload — shaped post-stage (``_shape_raw``), unlike plain-row
        tails which assemble inside the payload stage."""
        return bool(
            (self.query.group_by or self.query.aggregates)
            and (
                self.query.order_by
                or self.query.limit is not None
                or self.query.offset is not None
            )
        )

    def _shape_raw(
        self, raw: Column, params: dict[str, BoundParam]
    ) -> Column:
        """Post-stage payload shaping shared by the single-query
        ``apply()`` and each UNION branch: the HAVING filter, then the
        grouped/aggregate ORDER BY + LIMIT/OFFSET tail."""
        if self.query.having:
            # HAVING filters the aggregated group rows; a NULL payload
            # (equi key miss) stays NULL through F.filter, preserving
            # miss semantics, and an emptied payload takes the normal
            # empty branch (Derby returns zero rows -> default can fire)
            raw = F.filter(raw, self._having_element_condition(params))
            if len(self._internal_struct.fields) != len(
                self._payload_struct.fields
            ):
                # strip the hidden ``__hsq*`` per-group carriers the
                # correlated HAVING subqueries rode in on — before the
                # grouped tail sorts (its keys are public aliases)
                pub = [f.name for f in self._payload_struct.fields]
                raw = F.transform(
                    raw,
                    lambda r: F.struct(
                        *[r.getField(n).alias(n) for n in pub]
                    ),
                )
        if self._grouped_tail:
            # grouped/aggregate ORDER BY + LIMIT/OFFSET (round-5 latest,
            # Derby's top-N-per-key): sort the aggregated payload rows
            # by their ALIAS fields under the Derby result-order
            # contract, then slice — SQL clause order (after HAVING).
            # A NULL payload (equi key miss) passes through array_sort/
            # slice as NULL, preserving miss semantics; an ungrouped
            # aggregate substitutes its empty-set row FIRST so OFFSET
            # can empty it (Derby then returns zero rows -> default)
            if self.query.aggregates and not self.query.group_by:
                raw = F.when(raw.isNull(), self._empty_agg_array()).otherwise(
                    raw
                )
            if self.query.order_by:
                keys = list(self.query.order_by) + [
                    (f.name, True) for f in self._payload_struct.fields
                ]
                raw = F.array_sort(raw, self._order_comparator(keys))
            start = (self.query.offset or 0) + 1
            if self.query.limit is not None:
                raw = F.slice(raw, start, self.query.limit)
            elif start > 1:
                raw = F.slice(raw, start, F.size(raw))
        return raw

    def _attach_param_subs(
        self, fact: DataFrame, params: dict[str, BoundParam]
    ) -> tuple[DataFrame, dict[str, BoundParam], list[str]]:
        """PARAMETERIZED subqueries (round-5 latest): broadcast-join
        each per-group aggregate frame (snapshot-built, or per distinct
        param tuple for a theta shape) onto the FACT by the bound event
        params, then expose the joined value as a
        synthetic BoundParam so the subquery term compiles as an
        ordinary param on every physical path — the set-at-a-time
        hoist of Derby re-executing the prepared subquery per event
        (lookup.rb:131-147). Miss semantics are _join_per_tuple's. A
        theta shape's frame builds lazily over THIS fact's distinct
        bound-param tuples (apply()'s contract (a) covers the set
        shape's IN-cap guard). The fact side gains one exchange-free
        broadcast hash join per distinct parameterized subquery; the
        synthetic columns are dropped after the payload stage."""
        params = dict(params)
        drops: list[str] = []
        for entry in self.query.param_subs:
            fact = _join_per_tuple(fact, params, entry)
            for name in entry[0]:
                params[name] = BoundParam(name, F.col(name), F.lit(True))
                drops.append(name)
        return fact, params, drops

    def _payload_stage(
        self, fact: DataFrame, params: dict[str, BoundParam]
    ) -> DataFrame:
        """Run the physical lookup and attach ``__raw_payload`` (NULL on
        an equi key miss, [] on a theta empty match) — the
        pre-outcome-shaping stage, reused by CompiledUnionLookup to
        evaluate each branch independently."""
        drops: list[str] = []
        if self.query.param_subs:
            fact, params, drops = self._attach_param_subs(fact, params)
        if self.query.is_pure_equi:
            out = self._apply_equi(fact, params)
        else:
            out = self._apply_bnlj(fact, params)
        if self.query.psq_params:
            out = out.withColumn(
                "__raw_payload",
                self._overlay_psq_params(F.col("__raw_payload"), params),
            )
            if self.query.aggregates and not self.query.group_by:
                # GLOBAL-aggregate + parameterized projection subquery
                # (round-5 latest): the empty-set aggregate row must
                # carry the PER-EVENT value, so substitute it HERE —
                # while the broadcast-joined ``__psub*`` columns are
                # still in scope (downstream isNull substitutions
                # become no-ops on an already-materialized row)
                raw = F.col("__raw_payload")
                out = out.withColumn(
                    "__raw_payload",
                    F.when(
                        raw.isNull(), self._empty_agg_array(params)
                    ).otherwise(raw),
                )
        return out.drop(*drops) if drops else out

    def _overlay_psq_params(
        self, raw: Column, params: dict[str, BoundParam]
    ) -> Column:
        """PARAMETERIZED projection subqueries (round-5 latest):
        substitute each per-event value (a synthetic BoundParam
        broadcast-joined onto the fact by _attach_param_subs) into its
        typed NULL placeholder payload field. Runs inside the payload
        stage, while the synthetic ``__psub*`` columns are still in
        scope; a NULL payload (equi key miss) passes through
        F.transform untouched, preserving miss semantics."""
        repl = dict(self.query.psq_params)
        fields = self._internal_struct.fields
        return F.transform(
            raw,
            lambda r: F.struct(
                *[
                    params[repl[f.name]].value.cast(f.dataType).alias(f.name)
                    if f.name in repl
                    else r.getField(f.name).alias(f.name)
                    for f in fields
                ]
            ),
        )

    def _apply_equi(self, fact: DataFrame, params: dict[str, BoundParam]) -> DataFrame:
        """Broadcast hash equi-join against the key-grouped dim — the
        index-backed point lookup (db_object.rb:19) done set-at-a-time."""
        grouped, key_names = self._grouped_dim()
        with_keys = fact
        conds = []
        preds = self.query.disjuncts[0]
        for i, p in enumerate(preds):
            if p.is_static:
                continue
            t0 = p.terms[0]
            if t0.kind == "param_expr":
                # fact-side param expression as the equi KEY (round-5
                # latest: ``name = 'srv-' || :suffix``): the probe key
                # column is the expression over the bound event Columns
                val = sqlexpr.compile_expr(
                    sqlexpr.subst_params(
                        t0.value, lambda n: params[n].value
                    )
                )
            else:
                val = params[t0.value].value
            kc = f"__fk_{self.spec.id}_{i}"
            with_keys = with_keys.withColumn(kc, val)
            conds.append(F.col(kc).eqNullSafe(grouped[f"__k{i}"]))
        cond = conds[0]
        for c in conds[1:]:
            cond = cond & c
        joined = with_keys.join(F.broadcast(grouped), cond, "left")
        drop_cols = [f"__k{i}" for i, p in enumerate(preds) if not p.is_static]
        drop_cols += [c for c in with_keys.columns if c.startswith(f"__fk_{self.spec.id}_")]
        return joined.withColumnRenamed("__payload", "__raw_payload").drop(*drop_cols)

    def _project_struct(self, row: Column) -> Column:
        return F.struct(
            *[row.getField(src).alias(alias) for src, alias in self.out_fields]
        )

    # ---- result-shape contract (DISTINCT / ORDER BY / LIMIT) --------
    def _has_result_order(self) -> bool:
        """True when the payload needs the assembly pipeline instead of
        the legacy sort_array contract (DISTINCT counts: dedupe happens
        on the assembled projected array)."""
        return (
            bool(self.query.order_by)
            or self.query.limit is not None
            or self.query.offset is not None
            or self.query.distinct
        )

    def _slim_row(self, row_field) -> Column:
        """Dim-shaped slim struct carrying exactly the columns the
        payload projection and ORDER BY need (original names, deduped) —
        what gets collected per match when a result order is requested,
        so non-projected sort keys survive to the sort without dragging
        the full dim row through the aggregation."""
        names: list[str] = []
        for src, _ in self.out_fields:
            if src not in names:
                names.append(src)
        for c, _ in self.query.order_by:
            if c not in names:
                names.append(c)
        return F.struct(*[row_field(n).alias(n) for n in names])

    def _order_comparator(self, keys: list[tuple[str, bool]] | None = None):
        """``array_sort`` comparator over dim-shaped elements: ORDER BY
        keys under Derby's result-order semantics — NULL sorts as the
        LARGEST value (nulls last ASC, nulls first DESC) — then a
        deterministic full-payload tiebreak in projection order under
        the same null-largest convention, matching the row-at-a-time
        oracle's ``(v is None, v)`` sort key exactly. ``keys``
        overrides the field list for payload-shaped elements (grouped
        top-N: ORDER BY aliases + all payload fields as tiebreak)."""
        if keys is None:
            keys = list(self.query.order_by) + [
                (src, True) for src, _ in self.out_fields
            ]

        def cmp(a: Column, b: Column) -> Column:
            result: Column | None = None
            for colname, asc in keys:
                ka, kb = a.getField(colname), b.getField(colname)
                lo, hi = (-1, 1) if asc else (1, -1)
                c = (
                    F.when(ka.isNull() & kb.isNull(), F.lit(0))
                    .when(ka.isNull(), F.lit(hi))
                    .when(kb.isNull(), F.lit(lo))
                    .when(ka < kb, F.lit(lo))
                    .when(ka > kb, F.lit(hi))
                    .otherwise(F.lit(0))
                )
                result = (
                    c if result is None
                    else F.when(result != 0, result).otherwise(c)
                )
            return result

        return cmp

    def _assemble_payload(self, rows: Column) -> Column:
        """``rows``: array of dim-shaped structs (at least the projected
        + ORDER BY columns). With ORDER BY: comparator sort, project,
        then LIMIT-slice. Without: the legacy deterministic contract
        (``sort_array`` over projected structs), sliced when a bare
        LIMIT is present."""
        if self.query.order_by:
            out = F.transform(
                F.array_sort(rows, self._order_comparator()),
                self._project_struct,
            )
        else:
            out = F.sort_array(F.transform(rows, self._project_struct))
        if self.query.distinct:
            # SQL applies DISTINCT before ORDER BY; deduping the sorted
            # array is equivalent because DISTINCT's ORDER BY keys must
            # be selected (array_distinct keeps first occurrences, which
            # are in payload order)
            out = F.array_distinct(out)
        start = (self.query.offset or 0) + 1
        if self.query.limit is not None:
            out = F.slice(out, start, self.query.limit)
        elif start > 1:
            # OFFSET without FETCH: keep everything past the skip
            # (slice clamps the length to what remains)
            out = F.slice(out, start, F.size(out))
        return out

    # ---- aggregate projections (SELECT count(*) AS n, ...) ----------
    def _agg_columns_native(self, field_of, star: Column) -> list[Column]:
        """Native aggregate expressions for ``groupBy().agg(...)``
        contexts. ``field_of(col)`` yields the dim column; ``star`` is
        the count(*) row indicator — ``lit(1)`` when every group row is
        a real dim row (equi path), the dim struct itself on the
        map-probe path so a left-join miss row (NULL dim) counts 0."""
        out: list[Column] = []
        for func, col, alias in self.query.aggregates:
            t = self._agg_result_type(func, col)
            c = _native_agg(
                func, None if col is None else field_of(col), star
            )
            out.append(self._with_agg_empty(c, alias).cast(t).alias(alias))
        return out

    def _with_agg_empty(self, agg: Column, alias: str) -> Column:
        """A projected-subquery carrier (``max(__psq{n})``) over an empty
        match set still yields the subquery's snapshot literal — SQL
        evaluates the subquery over zero rows; over a non-empty set
        max() already equals that constant, so coalesce is exact."""
        for a, v in self.query.agg_empty:
            if a == alias and v is not None:
                return F.coalesce(agg, F.lit(v))
        return agg

    def _having_element_condition(self, params: dict[str, BoundParam]):
        """Element-predicate for the HAVING filter over the aggregated
        payload rows: the same DNF machinery as the WHERE compile, with
        lhs = payload field and rhs literals/bound :params (re-evaluated
        per group row — group counts are small, so the staging trap that
        matters for dim-sized arrays does not bite here)."""
        indexed = [
            [(0, p) for p in d] for d in self.query.having
        ]
        hx = dict(self.query.having_exprs)

        def fn(r: Column) -> Column:
            def hx_col(name: str) -> Column:
                # a payload-level expression, compiled over the group
                # row's fields — with any :params (round-5 final)
                # substituted to the event's bound Columns first
                return sqlexpr.compile_expr(
                    sqlexpr.subst_columns(
                        sqlexpr.subst_params(
                            hx[name], lambda n: params[n].value
                        ),
                        lambda n: r.getField(n),
                    )
                )

            def lhs_one(p: _Predicate) -> Column:
                if p.dim_column in hx:
                    # expression LHS (round-5 latest): evaluate over
                    # the group row's payload fields at filter time
                    return hx_col(p.dim_column)
                return r.getField(p.dim_column)

            def rhs_one(p: _Predicate, t: _Term) -> Column:
                if t.kind == "column":
                    # HAVING comparand naming another payload field
                    # (``HAVING total > cnt``) — or a payload-level
                    # EXPRESSION (``> n + 12``, round-5 latest)
                    c = (
                        hx_col(t.value)
                        if t.value in hx
                        else r.getField(t.value)
                    )
                    return _like_regex(c, p.like_escape) if p.op in _LIKE_OPS else c
                if t.kind == "mixed_expr":
                    # mixed alias+param comparand (round-5 final:
                    # ``n > cnt + :k``): the filter's group row
                    # supplies the aliases, the event binding the
                    # params — both scopes live on this fact row
                    def alias_col(n: str) -> Column:
                        return hx_col(n) if n in hx else r.getField(n)

                    c = sqlexpr.compile_expr(
                        sqlexpr.subst_columns(
                            sqlexpr.subst_params(
                                t.value, lambda n: params[n].value
                            ),
                            alias_col,
                        )
                    )
                    return _like_regex(c, p.like_escape) if p.op in _LIKE_OPS else c
                return self._term_rhs(p, t, lambda n: params[n].value)

            return self._dnf_condition(
                lhs_one,
                lambda _f, p: [rhs_one(p, t) for t in p.terms],
                indexed=indexed,
            )

        return fn

    def _empty_agg_array(self, params: dict | None = None) -> Column:
        """The one-row payload an aggregate query yields over an empty
        match set: count columns 0, everything else NULL — except a
        projected-subquery carrier (``max(__psq{n})``), which
        substitutes its snapshot-resolved literal (SQL evaluates the
        subquery even over zero rows). With ``params`` (round-5
        latest, the in-stage call only — the broadcast-joined
        ``__psub*`` columns must still be in scope), a PARAMETERIZED
        carrier substitutes its per-event value instead."""
        empty = dict(self.query.agg_empty)
        repl = dict(self.query.psq_params) if params is not None else {}
        # the in-stage call runs BEFORE the HAVING filter strips the
        # hidden carriers, so its row must have the INTERNAL shape
        struct = (
            self._internal_struct if params is not None
            else self._payload_struct
        )
        cols = [
            (
                params[repl[alias]].value if alias in repl
                else F.lit(empty[alias]) if alias in empty
                else F.lit(0) if func.startswith("count")
                else F.lit(None)
            )
            .cast(fld.dataType)
            .alias(alias)
            for (func, _, alias), fld in zip(
                self.query.aggregates, struct.fields
            )
        ]
        return F.array(F.struct(*cols))

    def _apply_bnlj(self, fact: DataFrame, params: dict[str, BoundParam]) -> DataFrame:
        """Theta lookup, probed per DISTINCT parameter tuple.

        The naive shape — BNLJ every fact row against the dim, then
        regroup the fan-out — shuffles the whole fact (every column) on
        the hot path; at 10^12 turns that regroup is the single most
        expensive operation in the job. Instead:

        1. derive the parameter tuple per fact row (narrow projection);
        2. ``distinct()`` the slim tuple projection — the only shuffle,
           and it carries just the few key columns;
        3. theta-join the distinct tuples against the broadcast dim and
           aggregate matches into one sorted payload array per tuple
           (probe cost |tuples| x |dim| instead of |fact| x |dim|);
        4. map the tuple->payload table back onto the untouched fact with
           a null-safe broadcast hash join — no fact shuffle, no fan-out
           (the map has exactly one row per tuple, including the
           all-null tuple from invalid params).

        The plan stays lazy: nothing here runs a Spark job. A map that
        outgrows the driver's broadcast capacity (near-unique tuples)
        fails with Spark's broadcast error; a shuffle map-back would
        hash-partition the whole fact first, even where AQE later
        converts the join to a broadcast."""
        sid = self.spec.id
        with_keys = fact
        # One staged column per DISTINCT placeholder (ordered by first
        # use in the WHERE): the tuple carries the RAW parameter values —
        # the LIKE->regex rewrite runs once per distinct tuple on the map
        # side, and the map-back join key stays the short raw value.
        param_order = list(self._where_params)
        fk = {n: f"__fk_{sid}_{j}" for j, n in enumerate(param_order)}
        mk = {n: f"__mk_{sid}_{j}" for j, n in enumerate(param_order)}
        for n in param_order:
            with_keys = with_keys.withColumn(fk[n], params[n].value)
        fk_names = [fk[n] for n in param_order]
        mk_names = [mk[n] for n in param_order]

        dim_alias = f"__dim_{sid}"
        dim = self.dim_df.select(
            F.struct(*[F.col(f.name) for f in self.dim_df.schema.fields]).alias(
                dim_alias
            )
        )

        # LIKE predicates bound to a placeholder (or a param EXPRESSION)
        # get their regex staged as a COLUMN on the tuple frame (once
        # per distinct tuple) — an inline rewrite in the join condition
        # would re-run per (tuple, dim) pair. Keyed by flat predicate
        # index: the same placeholder may feed both a LIKE and an
        # equality. Each spec carries a factory building the RAW
        # pattern Column from the tuple's mk columns.
        rx_specs: list[tuple[int, object, str | None]] = []
        for f, p in self._flat_indexed():
            if p.op in _LIKE_OPS and p.terms:
                t0 = p.terms[0]
                if t0.kind == "param":
                    rx_specs.append(
                        (f, lambda n=t0.value: F.col(mk[n]), p.like_escape)
                    )
                elif t0.kind == "param_expr":
                    rx_specs.append((
                        f,
                        lambda a=t0.value: sqlexpr.compile_expr(
                            sqlexpr.subst_params(
                                a, lambda n: F.col(mk[n])
                            )
                        ),
                        p.like_escape,
                    ))

        def rhs_for_probe(f: int, p: _Predicate) -> list[Column]:
            rhs: list[Column] = []
            for t in p.terms:
                if t.kind == "literal":
                    lit = F.lit(t.value)
                    # literal pattern compiles here; Catalyst constant-folds
                    rhs.append(_like_regex(lit, p.like_escape) if p.op in _LIKE_OPS else lit)
                elif t.kind == "column":
                    # static dim-side comparand (a = b + 1): both sides
                    # come from the broadcast dim struct
                    c = F.col(dim_alias).getField(t.value)
                    rhs.append(_like_regex(c, p.like_escape) if p.op in _LIKE_OPS else c)
                elif t.kind == "mixed_expr":
                    # mixed dim+param expression (a = b + :k): params
                    # read off the tuple's mk columns, dim columns off
                    # the broadcast dim struct — evaluated inline per
                    # (tuple, dim) pair, the same order of work as the
                    # comparison itself (a mixed LIKE derives its regex
                    # per pair too, like a column pattern)
                    c = sqlexpr.compile_expr(
                        sqlexpr.subst_columns(
                            sqlexpr.subst_params(
                                t.value, lambda n: F.col(mk[n])
                            ),
                            lambda nm: F.col(dim_alias).getField(nm),
                        )
                    )
                    rhs.append(_like_regex(c, p.like_escape) if p.op in _LIKE_OPS else c)
                elif p.op in _LIKE_OPS:
                    rhs.append(F.col(f"__rx_{sid}_{f}"))
                elif t.kind == "param_expr":
                    # computed inline per (tuple, dim) pair: arithmetic
                    # over the tuple's few mk columns, the same order of
                    # work as the comparison itself
                    rhs.append(
                        sqlexpr.compile_expr(
                            sqlexpr.subst_params(
                                t.value, lambda n: F.col(mk[n])
                            )
                        )
                    )
                else:
                    rhs.append(F.col(mk[t.value]))
            return rhs

        probe_cond = self._where_condition(
            lambda p: _apply_lhs_func(p, F.col(dim_alias).getField(p.dim_column)),
            rhs_for_probe,
        )

        def group_key_payload(src_df: DataFrame, by: list[str]) -> DataFrame:
            """GROUP BY on the map-probe path: two aggregations over
            rows carrying the dim struct — per (tuple, group) aggregate,
            then per tuple collect the sorted group-row payload. NULL
            dim rows (left-join misses) are excluded, so a miss tuple
            simply has no payload row and maps back to NULL -> [] (SQL:
            GROUP BY over an empty set yields zero rows)."""
            gb = list(self.query.group_by)
            aggs = self._agg_columns_native(
                lambda c: F.col(dim_alias).getField(c), F.col(dim_alias)
            ) or [F.count(F.lit(1)).alias("__n_rows_ignored")]
            level1 = (
                src_df.filter(F.col(dim_alias).isNotNull())
                .groupBy(
                    *by,
                    *[
                        F.col(dim_alias).getField(c).alias(f"__gb_{c}")
                        for c in gb
                    ],
                )
                .agg(*aggs)
            )
            payload_struct = F.struct(
                *[
                    F.col(f"__gb_{src}").alias(alias)
                    for src, alias in (self.query.projection or [])
                ],
                *[F.col(alias) for _, _, alias in self.query.aggregates],
            )
            return level1.groupBy(*by).agg(
                F.sort_array(F.collect_list(payload_struct)).alias(
                    "__raw_payload"
                )
            )

        payload_arr = None
        if self.query.group_by:
            pass  # handled by group_key_payload at the use sites
        elif self.query.aggregates:
            # aggregate once per distinct tuple; the left-join miss row
            # carries a NULL dim struct, so count(*) counts the struct
            # (0 on miss) and field aggregates skip its NULL fields
            payload_arr = F.array(
                F.struct(
                    *self._agg_columns_native(
                        lambda c: F.col(dim_alias).getField(c),
                        F.col(dim_alias),
                    )
                )
            )
        elif self._has_result_order():
            payload_arr = self._assemble_payload(
                F.filter(
                    F.collect_list(
                        F.when(
                            F.col(dim_alias).isNotNull(),
                            self._slim_row(
                                lambda n: F.col(dim_alias).getField(n)
                            ),
                        )
                    ),
                    lambda x: x.isNotNull(),
                )
            )
        else:
            payload_arr = F.sort_array(
                F.filter(
                    F.collect_list(
                        F.when(
                            F.col(dim_alias).isNotNull(),
                            self._project_struct(F.col(dim_alias)),
                        )
                    ),
                    lambda x: x.isNotNull(),
                )
            )
        if fk_names:
            tuples = with_keys.select(
                *[F.col(f).alias(m) for f, m in zip(fk_names, mk_names)]
            ).distinct().select(
                "*",
                *[
                    _like_regex(raw_pattern(), esc).alias(
                        f"__rx_{sid}_{f}"
                    )
                    for f, raw_pattern, esc in rx_specs
                ],
            )
            probed = tuples.join(F.broadcast(dim), probe_cond, "left")
            if self.query.group_by:
                key_payload = group_key_payload(probed, mk_names)
            else:
                key_payload = probed.groupBy(*mk_names).agg(
                    payload_arr.alias("__raw_payload")
                )
            back = F.lit(True)
            for fn, mn in zip(fk_names, mk_names):
                back = back & F.col(fn).eqNullSafe(F.col(mn))
            joined = with_keys.join(F.broadcast(key_payload), back, "left")
            return joined.drop(*fk_names, *mk_names)
        # No bound parameters: every fact row shares ONE payload (the dim
        # filtered by the literal predicates) — aggregate it to a single
        # row and broadcast-cross-join it on.
        if self.query.group_by:
            single = group_key_payload(dim.filter(probe_cond), [])
        else:
            single = dim.filter(probe_cond).agg(
                payload_arr.alias("__raw_payload")
            )
        return with_keys.crossJoin(F.broadcast(single))


def _remap_having_aliases(having: tuple, ren: dict[str, str]) -> tuple:
    """Rename payload-field references inside HAVING predicates (both
    the lhs and column-kind comparands) — the positional UNION-branch
    alias alignment renames the payload fields the predicates point at,
    so the references must follow."""
    out = []
    for d in having:
        nd = []
        for p in d:
            terms = [
                dataclasses.replace(t, value=ren.get(t.value, t.value))
                if t.kind == "column"
                else dataclasses.replace(
                    t,
                    value=sqlexpr.map_columns(
                        t.value, lambda n: ren.get(n, n)
                    ),
                )
                if t.kind == "mixed_expr"
                else t
                for t in p.terms
            ]
            nd.append(
                dataclasses.replace(
                    p,
                    dim_column=ren.get(p.dim_column, p.dim_column),
                    terms=terms,
                )
            )
        out.append(tuple(nd))
    return tuple(out)


class CompiledUnionLookup:
    """Set-op lookups — ``SELECT ... UNION [ALL] | EXCEPT [ALL] |
    INTERSECT [ALL] SELECT ...`` — Derby executes them verbatim per
    event (lookup.rb:131-147). Each leaf branch compiles as its own
    CompiledLookup over its own dim (different tables and joined dims
    are fine) and runs its physical path in sequence over the fact; the
    per-event payload arrays then fold through the joint tree under
    SQL precedence (INTERSECT binds tighter, then left-to-right;
    parenthesized groups give explicit grouping and may carry their
    own ordered top-N tails — round-5 latest, pinned natively on
    Derby). Plain joints use SQL set semantics (distinct result, NULL
    not distinct from NULL); the ALL variants are exact multisets.
    Scale shape: N broadcast probes instead of one — each branch keeps
    its own exchange-free plan, nothing new shuffles, and the fold is
    per-event array arithmetic inside whole-stage codegen.

    Branch surface: explicit projections + WHERE (the full predicate
    grammar incl. expressions/subqueries), plus — round-5 late, matching
    Derby's own branch rules — aggregates, GROUP BY, HAVING and
    DISTINCT per branch (an aggregate branch with no GROUP BY always
    contributes its one row, so the union is never empty and the
    default never fires — exactly Derby). Per-branch ORDER BY/LIMIT/
    OFFSET stay rejected: Derby itself only accepts a trailing tail
    that shapes the WHOLE union. Branches align positionally (payload
    order: group keys, then aggregates — interleaved SELECT lists are
    rejected) and must project the same number of columns with
    identical types; the FIRST branch's aliases name the payload
    fields (SQL rule), with HAVING references remapped through the
    rename."""

    def __init__(
        self,
        spec: LookupSpec,
        dims: dict[str, DataFrame],
    ):
        spec.raise_if_invalid()
        self.spec = spec
        texts, tree = parse_setop_tree(spec.query)
        if tree is None:
            raise ValidationError(
                [f"lookup '{spec.id}': not a set-op query"]
            )
        # the joint tree carries mixed UNION [ALL] / EXCEPT [ALL] /
        # INTERSECT [ALL] joints (SQL precedence applied at fold time),
        # nested parenthesized groups, and per-group tails; the ROOT
        # tail — SQL attaches a trailing ORDER BY / LIMIT / OFFSET /
        # FETCH to the whole set-op result — shapes after the fold
        self.tree = tree
        self.union_order = tree.order_by
        self.union_limit, self.union_offset = tree.limit, tree.offset
        self.branches: list[CompiledLookup] = []
        aliases0: list[str] | None = None
        for bi, text in enumerate(texts):
            label = f"lookup '{spec.id}' UNION branch {bi + 1}"
            stripped = strip_outer_parens(text)
            parenthesized = stripped != text.strip()
            parsed = parse_lookup_query(stripped)
            if parsed.projection is None:
                raise ValidationError(
                    [f"{label}: SELECT * is not supported in UNION "
                     f"branches — project explicit columns"]
                )
            if (
                parsed.order_by or parsed.limit is not None
                or parsed.offset is not None
            ) and not parenthesized:
                # Derby rejects a bare ORDER BY/FETCH inside a branch —
                # an unparenthesized trailing tail after the LAST
                # branch shapes the whole union (split_union_tail
                # above). A PARENTHESIZED branch, round-5 latest, may
                # carry its own tail (Derby-legal — pinned natively in
                # test_jdbc_derby.py): the branch's ordered top-N is
                # shaped before the set operation combines payloads.
                raise ValidationError(
                    [f"{label}: ORDER BY/LIMIT/OFFSET inside a UNION "
                     f"branch needs the branch parenthesized — "
                     f"(SELECT ... ORDER BY ... FETCH ...) UNION ...; "
                     f"an unparenthesized trailing tail applies to "
                     f"the whole union"]
                )
            if parsed.select_interleaved:
                raise ValidationError(
                    [f"{label}: a plain column follows an aggregate in "
                     f"the SELECT list — the payload orders group keys "
                     f"before aggregates, so positional UNION alignment "
                     f"would not match the written order; list the "
                     f"group keys first"]
                )
            full = [a for _, a in parsed.projection] + [
                a for _, _, a in parsed.aggregates
            ]
            if aliases0 is None:
                aliases0 = full
            else:
                if len(full) != len(aliases0):
                    raise ValidationError(
                        [f"{label}: projects {len(full)} "
                         f"column(s); branch 1 projects {len(aliases0)} "
                         f"(UNION branches align positionally)"]
                    )
                np_ = len(parsed.projection)
                ren = {
                    old: new
                    for old, new in zip(full, aliases0)
                    if old != new
                }
                parsed = dataclasses.replace(
                    parsed,
                    projection=[
                        (src, a0)
                        for (src, _), a0 in zip(
                            parsed.projection, aliases0[:np_]
                        )
                    ],
                    aggregates=tuple(
                        (f, c, a0)
                        for (f, c, _), a0 in zip(
                            parsed.aggregates, aliases0[np_:]
                        )
                    ),
                    # HAVING predicates reference payload fields by
                    # alias; the positional rename must follow them
                    having=_remap_having_aliases(parsed.having, ren)
                    if ren
                    else parsed.having,
                    # expression LHS ASTs reference the same aliases
                    having_exprs=tuple(
                        (n, sqlexpr.map_columns(
                            a, lambda c: ren.get(c, c)
                        ))
                        for n, a in parsed.having_exprs
                    )
                    if ren
                    else parsed.having_exprs,
                )
            if parsed.joins:
                # flat-rewrite first: correlated subqueries left-join
                # their per-group aggregate/flag onto the DERIVED dim
                dim_df, parsed = build_join_dim(parsed, dims)
                parsed, dim_df = resolve_subqueries_with_dim(
                    parsed, dims, dim_df
                )
            else:
                if parsed.table not in dims:
                    raise ValidationError(
                        [f"{label}: references unknown local table "
                         f"'{parsed.table}'"]
                    )
                dim_df = dims[parsed.table]
                parsed, dim_df = resolve_subqueries_with_dim(
                    parsed, dims, dim_df
                )
            self.branches.append(
                CompiledLookup(
                    spec,
                    dim_df,
                    parsed_query=parsed,
                )
            )
        t0 = self.branches[0]._payload_struct
        for bi, b in enumerate(self.branches[1:], start=2):
            if b._payload_struct != t0:
                raise ValidationError(
                    [f"lookup '{spec.id}' UNION branch {bi}: payload "
                     f"type {b._payload_struct.simpleString()} does not "
                     f"match branch 1's {t0.simpleString()}"]
                )
        self._payload_struct = t0
        def _check_tail_keys(node: SetOpGroup) -> None:
            bad = [c for c, _ in node.order_by if c not in (aliases0 or [])]
            if bad:
                raise ValidationError(
                    [f"lookup '{spec.id}' set-op ORDER BY: column(s) "
                     f"{bad} are not branch-1 output aliases "
                     f"(available: {aliases0})"]
                )
            for ch in node.children:
                if isinstance(ch, SetOpGroup):
                    _check_tail_keys(ch)

        _check_tail_keys(tree)
        # advisory surface (index-coverage hints) reads .query
        self.query = self.branches[0].query

    def _order_comparator(self, order: tuple):
        """array_sort comparator for a set-op-level ORDER BY tail: the
        named keys first (Derby result order — NULL sorts LARGEST, so
        ASC puts NULLs last and DESC first), then the default payload
        contract over every field (NULL smallest) as a total-order
        tiebreak, so equal-key rows stay deterministic for the hash
        compare — Derby itself leaves tie order unspecified."""

        def cmp(a: Column, b: Column) -> Column:
            expr: Column = F.lit(0)
            for fld in reversed(self._payload_struct.fields):
                av, bv = a.getField(fld.name), b.getField(fld.name)
                raw = (
                    F.when(av.isNull() & bv.isNull(), F.lit(0))
                    .when(av.isNull(), F.lit(-1))
                    .when(bv.isNull(), F.lit(1))
                    .when(av < bv, F.lit(-1))
                    .when(av > bv, F.lit(1))
                    .otherwise(F.lit(0))
                )
                expr = F.when(raw != F.lit(0), raw).otherwise(expr)
            for col, asc in reversed(order):
                av, bv = a.getField(col), b.getField(col)
                raw = (
                    F.when(av.isNull() & bv.isNull(), F.lit(0))
                    .when(av.isNull(), F.lit(1))
                    .when(bv.isNull(), F.lit(-1))
                    .when(av < bv, F.lit(-1))
                    .when(av > bv, F.lit(1))
                    .otherwise(F.lit(0))
                )
                signed = raw if asc else (-raw)
                expr = F.when(signed != F.lit(0), signed).otherwise(expr)
            return expr

        return cmp

    @staticmethod
    def _combine_arrays(a: Column, b: Column, op: str, all_: bool) -> Column:
        """One set-op joint over two per-event payload arrays, SQL
        semantics (NULL is not distinct from NULL — array_intersect /
        array_except treat NULL struct fields as equal, and the
        multiset membership test below reuses array_intersect for
        exactly that equality). Plain ops yield distinct results; the
        ALL variants are multisets: EXCEPT ALL keeps ``max(0, cntA -
        cntB)`` occurrences, INTERSECT ALL ``min(cntA, cntB)`` —
        Derby's multiset rules. Payload arrays are per-event (dim-row
        fan-in sized), so the O(|a|·(|a|+|b|)) count scan is constant
        work per event and stays whole-stage-codegen'd JVM-side."""
        if op == "union":
            out = F.concat(a, b)
            return out if all_ else F.array_distinct(out)
        if not all_:
            if op == "intersect":
                return F.array_intersect(a, b)
            return F.array_except(a, b)  # distinct by definition

        def cnt(arr: Column, v: Column) -> Column:
            return F.size(
                F.filter(
                    arr,
                    lambda x: F.size(
                        F.array_intersect(F.array(x), F.array(v))
                    )
                    == 1,
                )
            )

        if op == "except":
            def mult(v: Column) -> Column:
                return F.greatest(F.lit(0), cnt(a, v) - cnt(b, v))
        else:  # intersect all
            def mult(v: Column) -> Column:
                return F.least(cnt(a, v), cnt(b, v))

        return F.flatten(
            F.transform(
                F.array_distinct(a), lambda v: F.array_repeat(v, mult(v))
            )
        )

    def _fold_group(
        self, node: SetOpGroup, arrs: list[Column]
    ) -> Column:
        """Fold one tree node over the staged per-leaf payload arrays:
        SQL precedence — reduce INTERSECT [ALL] joints first, then the
        UNION/EXCEPT level left-to-right; a non-root group's own tail
        (ordered top-N) shapes its result BEFORE the enclosing joint
        combines it (the root tail is applied by apply() after the
        whole fold, where the default-fire check needs the final
        array)."""
        vals = [
            arrs[ch] if isinstance(ch, int) else self._fold_group(ch, arrs)
            for ch in node.children
        ]
        ops = list(node.joints)
        i = 0
        while i < len(ops):
            if ops[i][0] == "intersect":
                op, all_ = ops.pop(i)
                vals[i] = self._combine_arrays(
                    vals[i], vals.pop(i + 1), op, all_
                )
            else:
                i += 1
        out = vals[0]
        for (op, all_), b in zip(ops, vals[1:]):
            out = self._combine_arrays(out, b, op, all_)
        if node is not self.tree and node.has_tail():
            if node.order_by:
                out = F.array_sort(
                    out, self._order_comparator(node.order_by)
                )
            else:
                # slice without ORDER BY runs over the deterministic
                # default-contract order, as at the root
                out = F.sort_array(out)
            if node.offset is not None or node.limit is not None:
                out = F.slice(
                    out,
                    F.lit((node.offset or 0) + 1),
                    F.lit(node.limit)
                    if node.limit is not None
                    else F.size(out),
                )
        return out

    def apply(self, fact: DataFrame) -> DataFrame:
        sid = self.spec.id
        b0 = self.branches[0]
        params = b0._param_cols(fact.schema)
        valid = b0._validity(params)
        arr_t = T.ArrayType(self._payload_struct)
        cur = fact
        tmp: list[str] = []
        for i, b in enumerate(self.branches):
            # branches share spec bindings, so one bound-param set
            # drives every branch's physical path
            cur = b._payload_stage(cur, params)
            if (
                b.query.having
                or b._grouped_tail
                or (b.query.aggregates and not b.query.group_by)
            ):
                # the single-query apply() shaping, per branch: the
                # HAVING filter + the grouped/aggregate branch tail
                # (_shape_raw — a parenthesized branch may carry its
                # own ORDER BY/FETCH, round-5 latest); a no-GROUP-BY
                # aggregate branch always yields exactly one row (SQL
                # aggregates over an empty set still return a row), so
                # an equi-path key miss substitutes the empty-set row
                raw = b._shape_raw(F.col("__raw_payload"), params)
                if (
                    b.query.aggregates
                    and not b.query.group_by
                    and not b._grouped_tail
                ):
                    raw = (
                        F.when(raw.isNull(), b._empty_agg_array())
                        .otherwise(raw)
                    )
                cur = cur.withColumn("__raw_payload", raw)
            name = f"__u_{sid}_{i}"
            cur = cur.withColumnRenamed("__raw_payload", name)
            tmp.append(name)
        arrs = [F.coalesce(F.col(n), F.array().cast(arr_t)) for n in tmp]
        # fold the joint tree — mixed UNION [ALL] / EXCEPT [ALL] /
        # INTERSECT [ALL] under SQL precedence, nested parenthesized
        # groups with their own tails (round-5 latest; semantics
        # pinned natively on Derby in test_jdbc_derby.py)
        combined = self._fold_group(self.tree, arrs)
        if self.union_order:
            combined = F.array_sort(
                combined, self._order_comparator(self.union_order)
            )
        else:
            combined = F.sort_array(combined)
        if self.union_offset is not None or self.union_limit is not None:
            # SQL clause order: dedupe, ORDER BY, then OFFSET/FETCH —
            # the slice runs on the SORTED result set; an offset past
            # the end yields an empty set (and the default CAN fire,
            # exactly as Derby's empty post-shaping result set does)
            combined = F.slice(
                combined,
                F.lit((self.union_offset or 0) + 1),
                F.lit(self.union_limit)
                if self.union_limit is not None
                else F.size(combined),
            )
        empty = F.size(combined) == 0
        default_arr = b0._default_array
        target_expr = (
            F.when(~valid, F.lit(None).cast(arr_t))
            .when(
                empty,
                default_arr if default_arr is not None
                else F.array().cast(arr_t),
            )
            .otherwise(combined)
        )
        return (
            cur.withColumn(self.spec.target, target_expr)
            .withColumn(f"__{sid}_failed", ~valid)
            .withColumn(
                f"__{sid}_default_used",
                valid & empty & F.lit(self.spec.use_default),
            )
            .withColumn(f"__{sid}_ok", valid)
            .drop(*tmp)
        )


def _like_regex(pattern: Column, escape: str | None = None) -> Column:
    """Compile a SQL-LIKE pattern column to an anchored regex: % -> .*,
    _ -> . (with regex-quoting of the rest). Column.like() requires a
    literal pattern, so dynamic patterns go through rlike; the attested
    suffix/prefix shapes (`%X`, `X%`, spec/filters/jdbc_static_spec.rb:
    21-22,85) stay inside codegen.

    ``escape`` (round-5 latest: LIKE ... ESCAPE 'c', Derby-legal):
    ``e%`` / ``e_`` / ``ee`` in the pattern match literally. Escaped
    occurrences hide behind NUL sentinels (never valid in a LIKE
    pattern) before the quoting and wildcard rewrite, then re-emerge
    as regex-quoted literals; a trailing lone escape matches itself
    literally (Derby raises 22025 — our superset is documented)."""
    if escape is None:
        quoted = F.regexp_replace(
            pattern, r"([\\^$.|?*+()\[\]{}])", r"\\$1"
        )
        return F.concat(
            F.lit("^"),
            F.regexp_replace(F.regexp_replace(quoted, "%", ".*"), "_", "."),
            F.lit("$"),
        )
    s_e, s_p, s_u = "\x00E\x00", "\x00P\x00", "\x00U\x00"
    eq = re.escape(escape)
    p0 = F.regexp_replace(pattern, eq + eq, s_e)
    p1 = F.regexp_replace(p0, eq + "%", s_p)
    p2 = F.regexp_replace(p1, eq + "_", s_u)
    quoted = F.regexp_replace(p2, r"([\\^$.|?*+()\[\]{}])", r"\\$1")
    body = F.regexp_replace(F.regexp_replace(quoted, "%", ".*"), "_", ".")
    # replacement-string escaping: regexp_replace treats \ specially
    # in the REPLACEMENT, so the regex-quoted escape char doubles its
    # backslashes ('.' -> replacement '\\.' -> regex '\.')
    body = F.regexp_replace(body, s_p, "%")
    body = F.regexp_replace(body, s_u, "_")
    body = F.regexp_replace(body, s_e, eq.replace("\\", "\\\\"))
    return F.concat(F.lit("^"), body, F.lit("$"))

