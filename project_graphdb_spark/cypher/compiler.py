"""Cypher-subset → DataFrame compiler.

Lowers a parsed :class:`Query` onto a :class:`PropertyGraph`:

* each bound node variable becomes the label's node frame with columns
  renamed ``var__col``; each bound edge variable the type's edge frame;
* pattern chains become equi hash joins edge.src/dst ↔ node keys —
  exactly the plan shape Catalyst then optimizes (broadcast for small
  labels, AQE for skew). Shared variables across comma patterns join on
  the variable's key (the Cypher "same node" semantics);
* WHERE compiles to ``filter`` (pushed down by Catalyst);
* WITH/RETURN use Cypher's implicit grouping: if any item contains an
  aggregate, the non-aggregate items become groupBy keys;
* ORDER BY / LIMIT / DISTINCT map 1:1.

Analysis errors (unknown labels/types/properties, direction mismatches)
raise :class:`CypherAnalysisError` with a list of messages — the input
to the validate → correct lifecycle (reference:
final/langraph_neo4j3.py:310-391, where EXPLAIN round-trips to Neo4j
play this role).

Determinism note: with ``exact_decimal_sums`` (default), ``sum()`` over
double columns is computed in DECIMAL(18,2) and surfaced as double, so
compiled aggregates hash-match a single-threaded SQL oracle regardless
of Spark's accumulation order (see operators/exact.py).
"""

from __future__ import annotations

import copy
import dataclasses
from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from project_graphdb_spark.cypher import ast as A
from project_graphdb_spark.graph.algorithms import (
    multi_source_hops,
    unified_edges,
)
from project_graphdb_spark.graph.property_graph import (
    PropertyGraph,
    unified_id,
)
from project_graphdb_spark.spark_util import memoized_measure


class CypherAnalysisError(ValueError):
    def __init__(self, errors: list[str]):
        super().__init__("; ".join(errors))
        self.errors = errors


@dataclass
class _BoundVar:
    kind: str  # "node" | "edge"
    label: str  # node label or edge type
    columns: list[str]  # original property/column names
    key: str | None = None  # node key column (nodes only)
    # extra labels already intersected onto this variable by
    # conj_attach — the same conjunctive re-match can reach
    # conj_attach twice (pattern-start branch AND attach_endpoint when
    # the variable is both a pattern's first node and an edge
    # endpoint); without the memo the second call found no new columns
    # but still emitted a redundant key-only inner join per label
    applied_labels: set = field(default_factory=set)


# guard for percentileDisc's collect_list fallback (contexts the
# pre-aggregation window rewrite in _project does not cover): one group
# larger than this raises a diagnosable error pointing at the window
# rewrite (the collect buffer has already been built when the size
# check runs — the guard names the fix, it does not bound memory)
PDISC_FALLBACK_MAX_GROUP = 1_000_000

_AGG_FNS = frozenset(
    {
        "count", "sum", "avg", "min", "max", "collect",
        "stdev", "stddev", "stdevp", "stddevp",
        "percentilecont", "percentiledisc",
    }
)


def _is_aggregate(e: A.Expr) -> bool:
    if isinstance(e, A.FnCall):
        if e.name in _AGG_FNS:
            return True
        return any(_is_aggregate(a) for a in e.args)
    if isinstance(e, A.BinOp):
        return _is_aggregate(e.left) or _is_aggregate(e.right)
    if isinstance(e, A.Cmp):
        return _is_aggregate(e.left) or _is_aggregate(e.right)
    if isinstance(e, (A.And, A.Or)):
        return any(_is_aggregate(p) for p in e.parts)
    if isinstance(e, A.Not):
        return _is_aggregate(e.part)
    if isinstance(e, A.Case):
        return any(
            _is_aggregate(c) or _is_aggregate(v) for c, v in e.whens
        ) or (e.default is not None and _is_aggregate(e.default))
    if isinstance(e, A.Prop) and isinstance(e.base, A.Expr):
        return _is_aggregate(e.base)
    if isinstance(e, A.Index):
        return _is_aggregate(e.base) or _is_aggregate(e.index)
    return False


class _Scope:
    """Column resolution: either bound pattern variables (pre-projection)
    or the flat aliases produced by a WITH clause."""

    def __init__(
        self,
        vars: dict[str, _BoundVar] | None,
        flat: set[str] | None,
        df: DataFrame,
    ):
        self.vars = vars
        self.flat = flat
        self.df = df
        self.errors: list[str] = []

    def prop(self, var: str, name: str) -> Column:
        if self.vars is not None and var in self.vars:
            bound = self.vars[var]
            if name not in bound.columns:
                self.errors.append(
                    f"unknown property {name!r} on {var}:{bound.label}"
                )
                return F.lit(None)
            return F.col(f"{var}__{name}")
        self.errors.append(f"unknown variable {var!r}")
        return F.lit(None)

    def var(self, name: str) -> Column:
        if self.flat is not None and name in self.flat:
            return F.col(name)
        if self.vars is not None and name in self.vars:
            bound = self.vars[name]
            if bound.kind == "node" and bound.key:
                return F.col(f"{name}__{bound.key}")
            if bound.kind == "edge":
                # count(r)/aggregates over a relationship variable: any
                # always-present column stands in for the match row
                return F.col(f"{name}__src")
            if bound.kind == "path":
                return F.col(f"{name}__len")
        self.errors.append(f"unknown identifier {name!r}")
        return F.lit(None)


_SCALAR_FNS = {
    "tolower": lambda args: F.lower(args[0]),
    "toupper": lambda args: F.upper(args[0]),
    "tostring": lambda args: args[0].cast("string"),
    "tointeger": lambda args: args[0].cast("bigint"),
    "tofloat": lambda args: args[0].cast("double"),
    "date": lambda args: F.to_date(args[0]) if args else F.current_date(),
    "datetime": lambda args: F.to_timestamp(args[0])
    if args
    else F.current_timestamp(),
    "abs": lambda args: F.abs(args[0]),
    "round": lambda args: F.round(args[0], 0)
    if len(args) == 1
    else F.round(*args),
    "coalesce": lambda args: F.coalesce(*args),
    "trim": lambda args: F.trim(args[0]),
    "size": lambda args: F.length(args[0]),
    "floor": lambda args: F.floor(args[0]).cast("double"),
    "ceil": lambda args: F.ceil(args[0]).cast("double"),
    "sqrt": lambda args: F.sqrt(args[0]),
    "sign": lambda args: F.signum(args[0]).cast("bigint"),
    "left": lambda args: args[0].substr(F.lit(1), args[1]),
    # Cypher substring(s, start[, length]) is 0-based
    "substring": lambda args: args[0].substr(args[1] + 1, args[2])
    if len(args) == 3
    else args[0].substr(args[1] + 1, F.lit(2147483647)),
    "replace": lambda args: F.replace(args[0], args[1], args[2]),
    "split": lambda args: F.split(args[0], args[1]),
    "exists": lambda args: args[0].isNotNull(),
    "head": lambda args: F.element_at(args[0], 1),
    "last": lambda args: F.element_at(args[0], -1),
    # list/sequence
    "range": lambda args: F.sequence(
        args[0].cast("bigint"), args[1].cast("bigint"),
        *( [args[2].cast("bigint")] if len(args) == 3 else [] )
    ),
    "reverse": lambda args: F.reverse(args[0]),
    # string extras
    "ltrim": lambda args: F.ltrim(args[0]),
    "rtrim": lambda args: F.rtrim(args[0]),
    "lower": lambda args: F.lower(args[0]),  # alias of toLower
    "upper": lambda args: F.upper(args[0]),  # alias of toUpper
    # math
    "exp": lambda args: F.exp(args[0]),
    "log": lambda args: F.log(args[0]),
    "log10": lambda args: F.log10(args[0]),
    "sin": lambda args: F.sin(args[0]),
    "cos": lambda args: F.cos(args[0]),
    "tan": lambda args: F.tan(args[0]),
    "asin": lambda args: F.asin(args[0]),
    "acos": lambda args: F.acos(args[0]),
    "atan": lambda args: F.atan(args[0]),
    "atan2": lambda args: F.atan2(args[0], args[1]),
    "pi": lambda args: F.lit(3.141592653589793),
    "e": lambda args: F.lit(2.718281828459045),
}

# date(x).year-style component access on date/datetime results
_DATE_COMPONENTS = {
    "year": F.year,
    "month": F.month,
    "day": F.dayofmonth,
    "hour": F.hour,
    "minute": F.minute,
    "second": F.second,
}

_DEC = "decimal(18,2)"


def _collect_pdisc(e: object) -> list[A.FnCall]:
    """Every non-DISTINCT ``percentileDisc`` call node under ``e``
    (document order)."""
    return [
        n
        for n in A.walk(e)
        if isinstance(n, A.FnCall)
        and n.name == "percentiledisc"
        and not n.distinct
        and len(n.args) == 2
    ]


class _ExprCompiler:
    def __init__(
        self,
        scope: _Scope,
        exact_decimal_sums: bool,
        pattern_counts: dict[int, str] | None = None,
        agg_partials: dict[int, tuple[str, str]] | None = None,
    ):
        self.scope = scope
        self.exact = exact_decimal_sums
        # id(PatternCount node) -> pre-joined count column name; filled
        # by _attach_pattern_counts before expressions compile
        self.pattern_counts = pattern_counts or {}
        # id(aggregate FnCall) -> (partial column, merge kind); filled
        # by _try_agg_pushdown when the MATCH was lowered to a
        # pre-aggregated edge frame (aggregation pushdown below the
        # node join) — the aggregate then compiles to the MERGE of the
        # per-key partials instead of re-aggregating raw rows
        self.agg_partials = agg_partials or {}
        # id(percentileDisc FnCall) -> pre-agg window helper column;
        # filled by _project before aggregate expressions compile
        self.pdisc_cols: dict[int, str] = {}
        # lambda variables of enclosing list comprehensions / reduce()
        # (innermost binding shadows, same-name outer vars included)
        self.lambda_bindings: dict[str, Column] = {}

    def _with_bindings(self, extra: dict[str, Column]):
        import contextlib

        @contextlib.contextmanager
        def ctx():
            saved = dict(self.lambda_bindings)
            self.lambda_bindings.update(extra)
            try:
                yield
            finally:
                self.lambda_bindings = saved

        return ctx()

    def compile(self, e: A.Expr, decimal_ctx: bool = False) -> Column:
        if isinstance(e, A.PatternPred):
            self.scope.errors.append(
                "exists(pattern) / EXISTS { } is only supported in a "
                "MATCH clause's WHERE, as a top-level conjunct"
            )
            return F.lit(None)
        if isinstance(e, A.ListComp):
            src = self.compile(e.source)
            if e.where is not None:

                def _pred(x: Column) -> Column:
                    with self._with_bindings({e.var: x}):
                        return self.compile(e.where)

                src = F.filter(src, _pred)
            if e.map_expr is not None:

                def _map(x: Column) -> Column:
                    with self._with_bindings({e.var: x}):
                        return self.compile(e.map_expr)

                src = F.transform(src, _map)
            return src
        if isinstance(e, A.ListPred):
            src = self.compile(e.source)

            def _pred(x: Column) -> Column:
                with self._with_bindings({e.var: x}):
                    return self.compile(e.pred)

            if e.kind == "any":
                return F.exists(src, _pred)
            if e.kind == "all":
                return F.forall(src, _pred)
            if e.kind == "none":
                return ~F.exists(src, _pred)
            return F.size(F.filter(src, _pred)) == 1  # single
        if isinstance(e, A.Reduce):
            src = self.compile(e.source)
            init = self.compile(e.init)
            # Spark's aggregate() requires init and merge-result types
            # to match exactly; widen numeric literal accumulators so
            # `reduce(t = 0, x IN range(...) | t + x)` type-checks
            # (range() yields bigint, arithmetic on doubles → double)
            if isinstance(e.init, A.Lit):
                if isinstance(e.init.value, bool):
                    pass
                elif isinstance(e.init.value, int):
                    init = init.cast("bigint")
                elif isinstance(e.init.value, float):
                    init = init.cast("double")

            def _merge(acc: Column, x: Column) -> Column:
                with self._with_bindings({e.acc: acc, e.var: x}):
                    return self.compile(e.expr)

            return F.aggregate(src, init, _merge)
        if isinstance(e, A.PatternCount):
            col = self.pattern_counts.get(id(e))
            if col is None:
                self.scope.errors.append(
                    "COUNT { pattern } is not supported in this position"
                )
                return F.lit(None)
            return F.col(col)
        if isinstance(e, A.Lit):
            col = F.lit(e.value)
            if decimal_ctx and isinstance(e.value, (int, float)):
                col = col.cast(_DEC)
            return col
        if isinstance(e, A.Var):
            if e.name in self.lambda_bindings:
                return self.lambda_bindings[e.name]
            return self.scope.var(e.name)
        if isinstance(e, A.Prop):
            if isinstance(e.base, str):
                col = self.scope.prop(e.base, e.name)
                if decimal_ctx:
                    col = self._maybe_dec(col, e.base, e.name)
                return col
            base = self.compile(e.base)
            if e.name.lower() in _DATE_COMPONENTS:
                return _DATE_COMPONENTS[e.name.lower()](base)
            self.scope.errors.append(
                f"unsupported property access .{e.name} on expression"
            )
            return F.lit(None)
        if isinstance(e, A.BinOp):
            left = self.compile(e.left, decimal_ctx)
            right = self.compile(e.right, decimal_ctx)
            return {
                "+": left + right,
                "-": left - right,
                "*": left * right,
                "/": left / right,
                "%": left % right,
            }[e.op]
        if isinstance(e, A.Cmp):
            left = self.compile(e.left)
            if e.op == "IN":
                if isinstance(e.right, A.ListExpr):
                    vals = []
                    for v in e.right.items:
                        if isinstance(v, A.Lit):
                            vals.append(v.value)
                        else:
                            self.scope.errors.append(
                                "IN list items must be literals; got "
                                f"{v!r}"
                            )
                    return left.isin(vals)
                self.scope.errors.append("IN requires a literal list")
                return F.lit(False)
            right = self.compile(e.right)
            return {
                "=": left == right,
                "<>": left != right,
                "<": left < right,
                "<=": left <= right,
                ">": left > right,
                ">=": left >= right,
                "CONTAINS": left.contains(right),
                "STARTS_WITH": left.startswith(right),
                "ENDS_WITH": left.endswith(right),
            }[e.op]
        if isinstance(e, A.And):
            out = self.compile(e.parts[0])
            for p in e.parts[1:]:
                out = out & self.compile(p)
            return out
        if isinstance(e, A.Or):
            out = self.compile(e.parts[0])
            for p in e.parts[1:]:
                out = out | self.compile(p)
            return out
        if isinstance(e, A.Not):
            return ~self.compile(e.part)
        if isinstance(e, A.IsNull):
            c = self.compile(e.part)
            return c.isNotNull() if e.negated else c.isNull()
        if isinstance(e, A.ListExpr):
            return F.array(*[self.compile(i) for i in e.items])
        if isinstance(e, A.Index):
            # Cypher lists are 0-based; element_at is 1-based
            return F.element_at(
                self.compile(e.base), self.compile(e.index) + F.lit(1)
            )
        if isinstance(e, A.Case):
            out = None
            for cond, val in e.whens:
                c, v = self.compile(cond), self.compile(val, decimal_ctx)
                out = F.when(c, v) if out is None else out.when(c, v)
            if e.default is not None:
                out = out.otherwise(self.compile(e.default, decimal_ctx))
            return out
        if isinstance(e, A.FnCall):
            return self._fn(e)
        if isinstance(e, A.Star):
            return F.lit(1)
        raise CypherAnalysisError([f"cannot compile expression {e!r}"])

    def _maybe_dec(self, col: Column, var: str, name: str) -> Column:
        """Inside an exact sum(), cast double-typed property columns to
        decimal so the aggregate is order-independent."""
        dtype = dict(self.scope.df.dtypes).get(f"{var}__{name}")
        if dtype in ("double", "float"):
            return col.cast(_DEC)
        return col

    def _is_integral(self, e: A.Expr) -> bool:
        """True when the expression is statically known integer-typed
        (a directly bound integral property or an int literal) —
        conservative: anything else is treated as non-integral."""
        if isinstance(e, A.Prop) and isinstance(e.base, str):
            dtype = dict(self.scope.df.dtypes).get(f"{e.base}__{e.name}")
            return dtype in ("tinyint", "smallint", "int", "bigint")
        if isinstance(e, A.Lit):
            return isinstance(e.value, int) and not isinstance(
                e.value, bool
            )
        return False

    def _fn(self, e: A.FnCall) -> Column:
        name = e.name
        if id(e) in self.agg_partials:
            # aggregation pushdown: this call was pre-aggregated per
            # join key below the node join — emit the merge. sum/count
            # merge as sum (count of a group = sum of per-key counts),
            # min/max as themselves; exact non-integral sums cast to
            # double only HERE, after the exact decimal merge (casting
            # the partials would reintroduce order-dependent float
            # accumulation).
            cname, kind = self.agg_partials[id(e)]
            col = F.col(cname)
            if kind == "sum_double":
                return F.sum(col).cast("double")
            if kind == "sum":
                return F.sum(col)
            if kind == "count":
                # counts merge as sums but must keep count()'s
                # non-nullable long schema (the inner join guarantees
                # >=1 partial per group, so the 0 branch never fires —
                # it exists to pin nullability)
                return F.coalesce(F.sum(col), F.lit(0).cast("bigint"))
            return F.min(col) if kind == "min" else F.max(col)
        if name == "length":
            # length(p) — hop count of a shortestPath binding. String
            # length is size() in this dialect (CYPHER.md scalars).
            if (
                len(e.args) == 1
                and isinstance(e.args[0], A.Var)
                and self.scope.vars is not None
                and e.args[0].name in self.scope.vars
                and self.scope.vars[e.args[0].name].kind == "path"
            ):
                return F.col(f"{e.args[0].name}__len").cast("bigint")
            self.scope.errors.append(
                "length() takes a bound path variable "
                "(p = shortestPath(...)); for string length use size()"
            )
            return F.lit(None)
        if name == "size" and len(e.args) == 1:
            # size(): element count on lists/maps, character count on
            # strings. The argument's type is resolved against the
            # current frame's schema (driver-side analysis only).
            arg_col = self.compile(e.args[0])
            try:
                dt = (
                    self.scope.df.select(arg_col.alias("__t"))
                    .schema[0]
                    .dataType.simpleString()
                )
            except AnalysisException:
                # a list-comprehension variable is a lambda variable,
                # which no frame resolves; string semantics apply, the
                # documented default (CYPHER.md)
                dt = "string"
            if dt.startswith(("array", "map")):
                return F.size(arg_col)
            return F.length(arg_col)
        if name in ("id", "elementid", "keys", "properties"):
            # node-variable introspection; ids use the unified
            # 'Label:key' space (same as the graph algorithms)
            bound = None
            if (
                len(e.args) == 1
                and isinstance(e.args[0], A.Var)
                and self.scope.vars is not None
            ):
                bound = self.scope.vars.get(e.args[0].name)
            if bound is None or bound.kind != "node":
                self.scope.errors.append(
                    f"{name}() takes a bound node variable"
                )
                return F.lit(None)
            var = e.args[0].name
            if name in ("id", "elementid"):
                return unified_id(bound.label, F.col(f"{var}__{bound.key}"))
            if name == "keys":
                return F.array(*[F.lit(c) for c in bound.columns])
            return F.struct(
                *[
                    F.col(f"{var}__{c}").alias(c)
                    for c in bound.columns
                ]
            )
        if name == "count":
            if len(e.args) == 1 and isinstance(e.args[0], A.Star):
                return F.count(F.lit(1))
            arg = self.compile(e.args[0])
            return F.countDistinct(arg) if e.distinct else F.count(arg)
        if name == "sum":
            arg = self.compile(e.args[0], decimal_ctx=self.exact)
            out = F.sum_distinct(arg) if e.distinct else F.sum(arg)
            # exact mode routes double props through decimal then casts
            # the sum back to double (order-independent money sums) —
            # but an INTEGRAL argument sums exactly as-is, and Cypher
            # sum() over integers returns an integer, so keep it long
            if self.exact and not self._is_integral(e.args[0]):
                out = out.cast("double")
            return out
        if name == "avg":
            if self.exact:
                arg_dec = self.compile(e.args[0], decimal_ctx=True)
                arg = self.compile(e.args[0])
                if e.distinct:
                    return F.sum_distinct(arg_dec).cast(
                        "double"
                    ) / F.count_distinct(arg)
                return F.sum(arg_dec).cast("double") / F.count(arg)
            arg = self.compile(e.args[0])
            if e.distinct:
                return F.sum_distinct(arg) / F.count_distinct(arg)
            return F.avg(arg)
        if name in ("min", "max"):
            if e.distinct:
                # DISTINCT is a no-op for min/max; accept it.
                pass
            arg = self.compile(e.args[0])
            return F.min(arg) if name == "min" else F.max(arg)
        if name == "collect":
            arg = self.compile(e.args[0])
            return (
                F.collect_set(arg) if e.distinct else F.collect_list(arg)
            )
        if name in ("labels", "type"):
            arg = e.args[0]
            if (
                isinstance(arg, A.Var)
                and self.scope.vars is not None
                and arg.name in self.scope.vars
            ):
                b = self.scope.vars[arg.name]
                if name == "labels" and b.kind == "node":
                    col = (
                        F.col(f"{arg.name}__label")
                        if b.label == "*"
                        else F.lit(b.label)
                    )
                    return F.array(col)
                if name == "type" and b.kind == "edge":
                    return (
                        F.col(f"{arg.name}__type")
                        if b.label == "*"
                        else F.lit(b.label)
                    )
            self.scope.errors.append(
                f"{name}() needs a bound "
                + ("node" if name == "labels" else "relationship")
                + " variable"
            )
            return F.lit(None)
        if name in ("stdev", "stddev", "stdevp", "stddevp", "percentilecont", "percentiledisc") and e.distinct:
            self.scope.errors.append(
                f"DISTINCT is not supported for {name}()"
            )
            return F.lit(None)
        if name in ("stdev", "stddev"):
            return F.stddev_samp(self.compile(e.args[0]))
        if name in ("stdevp", "stddevp"):
            return F.stddev_pop(self.compile(e.args[0]))
        if name == "percentilecont":
            return F.percentile(
                self.compile(e.args[0]), self.compile(e.args[1])
            )
        if name == "percentiledisc":
            # exact nearest-rank (smallest element with cume_dist >= p),
            # matching Neo4j's discrete percentile, with NO accuracy
            # parameter to caveat. _project rewrites grouped calls to a
            # pre-aggregation window helper (see there): the window sort
            # is spillable, so a single giant group cannot blow an
            # aggregation buffer the way collect_list can.
            pre = self.pdisc_cols.get(id(e))
            if pre is not None:
                # helper holds the value only on rows at/above the
                # nearest-rank cutoff; min() picks the exact percentile
                # with O(1) aggregate state
                return F.min(F.col(pre))
            # fallback for contexts _project does not rewrite: sort the
            # group's values and pick the ceil(p*n)-th (1-based; p=0 ->
            # min). Memory O(group) — the size guard fires only AFTER
            # collect_list has buffered the group, so it makes an
            # oversized group fail diagnosably (naming the bounded
            # window rewrite to use instead); it does not bound the
            # buffer itself.
            arr = F.sort_array(F.collect_list(self.compile(e.args[0])))
            n = F.size(arr)
            idx = F.greatest(
                F.lit(1), F.ceil(self.compile(e.args[1]) * n).cast("int")
            )
            guarded = F.when(
                n <= F.lit(PDISC_FALLBACK_MAX_GROUP),
                F.element_at(arr, idx),
            ).otherwise(
                F.raise_error(
                    F.lit(
                        "percentileDisc fallback group exceeded "
                        f"{PDISC_FALLBACK_MAX_GROUP} values; use "
                        "percentileDisc in a grouped WITH/RETURN item "
                        "so the bounded pre-aggregation window rewrite "
                        "applies (or raise compiler."
                        "PDISC_FALLBACK_MAX_GROUP)"
                    )
                )
            )
            return F.when(n > 0, guarded)
        if name in _SCALAR_FNS:
            return _SCALAR_FNS[name]([self.compile(a) for a in e.args])
        self.scope.errors.append(f"unknown function {name}()")
        return F.lit(None)


# ---------------------------------------------------------------------------
# pattern → join plan
# ---------------------------------------------------------------------------

# bound expansion for [*..] with no explicit upper bound — unbounded
# var-length on a large graph is a query bug, not a feature
_MAX_VAR_HOPS = 10


def _var_length_pairs(
    graph: PropertyGraph,
    rel_type: str | None,
    lo: int,
    hi: int,
    undirected: bool = False,
) -> DataFrame:
    """Distinct (src_id, dst_id) pairs connected by a directed path of
    ``lo..hi`` edges (all of ``rel_type`` if given, else any type), in
    the unified ``Label:key`` id space. With ``undirected`` each hop may
    traverse an edge in either direction (``-[*lo..hi]-``).

    Reachability (DISTINCT-pairs) semantics — equivalent to Cypher's
    ``MATCH (a)-[*lo..hi]->(b) RETURN DISTINCT a, b``. Each hop is one
    self-join + distinct; ``hi`` is bounded so lineage stays shallow and
    the plan remains lazy (no checkpoint needed).
    """
    edges = unified_edges(
        graph,
        undirected=undirected,
        rel_types=None if rel_type is None else {rel_type},
    )

    acc: DataFrame | None = None
    frontier = edges
    for hop in range(1, hi + 1):
        if hop >= lo:
            acc = frontier if acc is None else acc.unionByName(frontier)
        if hop < hi:
            nxt = frontier.alias("f").join(
                edges.alias("e"), F.col("f.dst") == F.col("e.src")
            )
            frontier = nxt.select(
                F.col("f.src").alias("src"), F.col("e.dst").alias("dst")
            ).distinct()
    assert acc is not None
    return acc.distinct()


def _unused_node_vars(q: A.Query) -> frozenset[str] | None:
    """Node-pattern variables that are structurally safe to ELIDE:
    bound by exactly one pattern-node occurrence in the whole query and
    never referenced by any expression (no Var/Prop use anywhere —
    WHERE, WITH, RETURN, ORDER BY, subqueries, comprehensions). Returns
    None (elide nothing) when a bare ``*`` projection makes every
    variable implicitly referenced.

    Walks every AST node, so new AST node types are conservative by
    construction: an unknown expression's Var leaves are still found."""
    used: set[str] = set()
    occurrences: dict[str, int] = {}
    star = False
    for x in A.walk(q):
        if isinstance(x, A.Var):
            used.add(x.name)
        elif isinstance(x, A.Prop) and isinstance(x.base, str):
            used.add(x.base)
        elif isinstance(x, A.NodePat):
            if x.var:
                occurrences[x.var] = occurrences.get(x.var, 0) + 1
        elif isinstance(x, A.EdgePat) and x.var:
            used.add(x.var)  # edge bindings never block node elision
        elif isinstance(x, A.Item) and isinstance(x.expr, A.Star):
            star = True  # RETURN/WITH * — everything is referenced
        elif isinstance(x, A.PathPat) and x.path_var:
            used.add(x.path_var)
    if star:
        return None
    return frozenset(
        v for v, n in occurrences.items() if n == 1 and v not in used
    )


def _bind_patterns(
    graph: PropertyGraph,
    patterns: list[A.PathPat],
    anon_seed: int = 0,
    init_df: DataFrame | None = None,
    init_vars: dict[str, _BoundVar] | None = None,
    unused_elidable: frozenset[str] | None = None,
) -> tuple[DataFrame, dict[str, _BoundVar]]:
    """Bind patterns into a joined frame. ``init_df``/``init_vars`` seed
    the binding with an earlier segment's state (MATCH after WITH):
    variables that survived the WITH are reused, not re-attached."""
    errors: list[str] = []
    vars: dict[str, _BoundVar] = dict(init_vars or {})
    df: DataFrame | None = init_df
    bound_frames: set[str] = set()
    anon = anon_seed
    # Edge identities for openCypher relationship uniqueness (edge
    # isomorphism): two relationship bindings in one MATCH clause may
    # not bind the same edge (separate MATCH clauses may). Each entry is
    # (clause, rel_type|None, symmetrized?, type_expr, src_expr,
    # dst_expr) in the unified Label:key id space.
    edge_idents: list[
        tuple[int, str | None, bool, Column, Column, Column]
    ] = []

    def node_frame(
        var: str, label: str, extras: tuple[str, ...] = ()
    ) -> DataFrame:
        """Bind a node pattern's frame. ``extras`` carries the extra
        labels of a VALID conjunctive multi-label pattern (n:A:B) —
        validated upfront in the per-pattern loop below: every label
        exists and shares the primary label's key column. The
        conjunction compiles to an intersection (inner key-join) of
        the per-label frames; the bound property set is the union
        (first-label-wins on name collisions, key joined once)."""
        node_def = graph.schema.node(label)
        frame = graph.nodes[label]
        cols = list(frame.columns)
        for l in extras:
            ef = graph.nodes[l]
            new_cols = [c for c in ef.columns if c not in cols]
            frame = frame.join(
                ef.select(node_def.key, *new_cols), node_def.key, "inner"
            )
            cols.extend(new_cols)
        if extras:
            # the key join moved the key column first
            frame = frame.select(*cols)
        renamed = frame.toDF(*[f"{var}__{c}" for c in cols])
        vars[var] = _BoundVar(
            "node",
            label,
            cols,
            key=node_def.key,
            applied_labels=set(extras),
        )
        return renamed

    def conj_extras(node: A.NodePat) -> tuple[str, ...]:
        """The validated extra labels of a conjunctive node pattern
        (empty for plain single-label nodes)."""
        return tuple(
            dict.fromkeys(l for l in node.extra_labels if l != node.label)
        )

    def known_label(p: A.NodePat) -> str | None:
        """The label a pattern node resolves to so far: its bound
        variable's label, else its own (None when unlabeled)."""
        if p.var and p.var in vars:
            return vars[p.var].label
        return p.label

    def conj_attach(v: str, p: A.NodePat) -> None:
        """Apply a conjunctive pattern's extra labels to an ALREADY
        BOUND node variable: each extra label intersects (inner
        key-join) and contributes its new property columns — the
        bound-var twin of node_frame's conjunction, so e.g.
        ``MATCH (c:Customer)-->(o) ... MATCH (c:Customer:ActiveBuyer)``
        filters c to ActiveBuyers instead of silently ignoring the
        extra label (validated upfront in the per-pattern loop)."""
        nonlocal df
        bv = vars[v]
        extras = [
            l
            for l in conj_extras(p)
            if l != bv.label and l not in bv.applied_labels
        ]
        if not extras or bv.kind != "node" or bv.label == "*":
            return
        key = graph.schema.node(bv.label).key
        for l in extras:
            bv.applied_labels.add(l)
            ef = graph.nodes[l]
            new_cols = [c for c in ef.columns if c not in bv.columns]
            sel = ef.select(key, *new_cols).toDF(
                f"__cj__{key}", *[f"{v}__{c}" for c in new_cols]
            )
            df = df.join(
                sel,
                F.col(f"{v}__{key}") == F.col(f"__cj__{key}"),
                "inner",
            ).drop(f"__cj__{key}")
            bv.columns.extend(new_cols)

    def any_node_frame(var: str) -> DataFrame:
        """Label-agnostic scan — MATCH (n) with no label (C2/C3,
        reference inject_relationship.py:932,945): the union of every
        label as (id, label) in the unified id space."""
        frames = []
        for label, frame in graph.nodes.items():
            key = graph.schema.node(label).key
            frames.append(
                frame.select(
                    unified_id(label, F.col(key)).alias(f"{var}__id"),
                    F.lit(label).alias(f"{var}__label"),
                )
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        vars[var] = _BoundVar("node", "*", ["id", "label"], key="id")
        return out

    def fresh(prefix: str) -> str:
        nonlocal anon
        anon += 1
        return f"__{prefix}{anon}"

    def attach_endpoint(p: A.NodePat, expected_label: str | None) -> str:
        """Bind (or reuse) an endpoint node variable and attach its
        frame; shared with the var-length path below."""
        nonlocal df
        v = p.var or fresh("n")
        p.var = v
        if v in vars:
            if p.label and vars[v].label != p.label:
                errors.append(f"variable {v!r} rebound to a different label")
            else:
                conj_attach(v, p)
            return v
        label = p.label or expected_label
        if label is None:
            errors.append(
                f"endpoint {v!r} of a variable-length pattern needs an "
                "explicit label"
            )
            raise CypherAnalysisError(errors)
        if label not in graph.nodes:
            errors.append(f"unknown node label {label!r}")
            raise CypherAnalysisError(errors)
        nf = node_frame(v, label, conj_extras(p))
        df = nf if df is None else df.crossJoin(nf)
        return v

    def bind_var_length(
        edge_pat: A.EdgePat, src_pat: A.NodePat, dst_pat: A.NodePat
    ) -> None:
        """Lower ``-[:T*lo..hi]->`` to a join against the distinct
        reachable-pairs frame (see :func:`_var_length_pairs`)."""
        nonlocal df
        if edge_pat.var:
            errors.append(
                "binding a variable to a variable-length relationship "
                "is not supported"
            )
            raise CypherAnalysisError(errors)
        lo = edge_pat.min_hops or 1
        hi = edge_pat.max_hops if edge_pat.max_hops is not None else _MAX_VAR_HOPS
        if lo < 1 or hi < lo:
            errors.append(f"invalid hop range *{edge_pat.min_hops}..{edge_pat.max_hops}")
            raise CypherAnalysisError(errors)
        if hi > _MAX_VAR_HOPS:
            errors.append(
                f"variable-length upper bound {hi} exceeds the engine cap "
                f"{_MAX_VAR_HOPS}"
            )
            raise CypherAnalysisError(errors)
        exp_src = exp_dst = None
        if edge_pat.rel_type is not None:
            if edge_pat.rel_type not in graph.edges:
                errors.append(
                    f"unknown relationship type {edge_pat.rel_type!r}"
                )
                raise CypherAnalysisError(errors)
            meta = graph.edges[edge_pat.rel_type].meta
            exp_src, exp_dst = meta.source, meta.target
        if edge_pat.undirected:
            # Either endpoint may sit at either end of the (symmetrized)
            # path, so the schema orientation cannot infer labels —
            # endpoints need explicit labels (attach_endpoint errors
            # otherwise).
            exp_src = exp_dst = None
        src_var = attach_endpoint(src_pat, exp_src)
        dst_var = attach_endpoint(dst_pat, exp_dst)

        tag = fresh("vl")
        pairs = _var_length_pairs(
            graph,
            edge_pat.rel_type,
            lo,
            hi,
            undirected=edge_pat.undirected,
        ).select(
            F.col("src").alias(f"{tag}__src"),
            F.col("dst").alias(f"{tag}__dst"),
        )
        src_b, dst_b = vars[src_var], vars[dst_var]
        src_id = unified_id(src_b.label, F.col(f"{src_var}__{src_b.key}"))
        dst_id = unified_id(dst_b.label, F.col(f"{dst_var}__{dst_b.key}"))
        assert df is not None
        df = df.join(
            pairs,
            (F.col(f"{tag}__src") == src_id)
            & (F.col(f"{tag}__dst") == dst_id),
        )

    def any_edge_frame(var: str) -> DataFrame:
        """Type-agnostic edge scan — MATCH ()-[r]->() (C4, reference
        inject_relationship.py:952): all relationships as
        (src, dst, type) in the unified id space."""
        frames = []
        for rel_type, ef in graph.edges.items():
            meta = ef.meta
            frames.append(
                ef.df.select(
                    unified_id(meta.source, F.col("src")).alias(f"{var}__src"),
                    unified_id(meta.target, F.col("dst")).alias(f"{var}__dst"),
                    F.lit(rel_type).alias(f"{var}__type"),
                )
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        vars[var] = _BoundVar("edge", "*", ["src", "dst", "type"])
        return out

    for pat in patterns:
        # multi-label patterns (n:A:B): compiled CONJUNCTIVELY — an
        # intersection (inner key-join) of the per-label frames with
        # the union of their properties — when the conjunction is
        # well-formed in this table-backed graph model: every label
        # exists and all share the primary label's key column (the
        # labels are views over the same entity-key domain, e.g. a
        # base label plus a derived sub-label). Otherwise reject with
        # an error precise enough for the correction loop's
        # deterministic repair (name the label to keep when the
        # schema determines it).
        for node in pat.nodes:
            # source order preserved (dedup only): the corrector's
            # textual repair replaces the chain as the error prints it,
            # so the printed chain must match the query text
            extras = conj_extras(node)
            if not extras:
                continue
            if (
                node.label in graph.nodes
                and all(l in graph.nodes for l in extras)
                and all(
                    graph.schema.node(l).key
                    == graph.schema.node(node.label).key
                    for l in extras
                )
            ):
                continue  # valid conjunction — node_frame intersects
            known = list(
                dict.fromkeys(
                    l
                    for l in [node.label, *extras]
                    if l in graph.nodes
                )
            )
            # the chain prints VERBATIM (dups included) so the
            # corrector's replace finds it in the query text
            chain = ":" + ":".join([node.label, *node.extra_labels])
            if len(known) == 1:
                hint = (
                    f"keep :{known[0]} (the only one that exists in "
                    "this graph)"
                )
            elif known:
                hint = "keep exactly one of " + ", ".join(
                    f":{l}" for l in known
                )
            else:
                hint = "use one existing label"
            errors.append(
                f"multi-label node ({node.var or ''}{chain}) is not "
                "supported: each node has exactly one label in this "
                f"graph; {hint} and drop the rest"
            )
        if errors:
            raise CypherAnalysisError(errors)

        # type-agnostic edge scan: ()-[r]->() with anonymous unlabeled
        # endpoints and no relationship type
        if (
            len(pat.nodes) == 2
            and len(pat.edges) == 1
            and pat.edges[0].rel_type is None
            and not pat.edges[0].var_length
            and all(
                n.label is None and (n.var is None or n.var not in vars)
                for n in pat.nodes
            )
        ):
            e0 = pat.edges[0]
            edge_var = e0.var or fresh("r")
            e0.var = edge_var
            frame = any_edge_frame(edge_var)
            df = frame if df is None else df.crossJoin(frame)
            edge_idents.append(
                (
                    pat.clause,
                    None,
                    False,
                    F.col(f"{edge_var}__type"),
                    F.col(f"{edge_var}__src"),
                    F.col(f"{edge_var}__dst"),
                )
            )
            continue

        # bind/attach the first node (mutating anonymous vars to their
        # generated names keeps chain hops resolving to the same frame)
        prev = pat.nodes[0]
        prev_var = prev.var or fresh("n")
        prev.var = prev_var
        if prev_var not in vars:
            if prev.label is None and not pat.edges:
                # label-agnostic scan: MATCH (n)
                nf = any_node_frame(prev_var)
                df = nf if df is None else df.crossJoin(nf)
                continue
            if prev.label is None and pat.edges:
                # infer the first node's label from the first edge's
                # schema orientation (typed fixed-hop edges only)
                e0 = pat.edges[0]
                if (
                    e0.rel_type in graph.edges
                    and not e0.var_length
                ):
                    meta0 = graph.edges[e0.rel_type].meta
                    prev.label = (
                        meta0.target if e0.reversed else meta0.source
                    )
            if prev.label is None:
                errors.append(
                    f"node variable {prev_var!r} needs a label on first use"
                )
                raise CypherAnalysisError(errors)
            if prev.label not in graph.nodes:
                errors.append(f"unknown node label {prev.label!r}")
                raise CypherAnalysisError(errors)
            nf = node_frame(prev_var, prev.label, conj_extras(prev))
            df = nf if df is None else df.crossJoin(nf)
        elif prev.label is None or vars[prev_var].label == prev.label:
            # re-MATCH of a bound variable: a conjunctive pattern's
            # extra labels still apply (as intersection filters)
            conj_attach(prev_var, prev)
        for edge_pat, node_pat in zip(pat.edges, pat.nodes[1:]):
            if edge_pat.rel_type is None and not edge_pat.var_length:
                # untyped fixed-hop edge — (a)-->(b), (a)--(b), or
                # -[]->: resolve the type from the endpoint labels
                # against the edge catalog. Exactly one candidate is
                # required; ambiguity is an analysis error (the
                # correction loop repairs it), matching the
                # direction-correction philosophy of resolving what the
                # schema determines and erroring on what it doesn't.
                lp, ln = known_label(prev), known_label(node_pat)
                cands = []
                for t, ed in graph.edges.items():
                    m = ed.meta
                    fwd = (lp is None or m.source == lp) and (
                        ln is None or m.target == ln
                    )
                    rev = (lp is None or m.target == lp) and (
                        ln is None or m.source == ln
                    )
                    if edge_pat.undirected:
                        ok = fwd or rev
                    elif edge_pat.reversed:
                        ok = rev
                    else:
                        ok = fwd
                    if ok:
                        cands.append(t)
                if len(cands) == 1:
                    edge_pat.rel_type = cands[0]
                elif cands:
                    errors.append(
                        "untyped relationship between "
                        f"({lp or '?'}) and ({ln or '?'}) is ambiguous: "
                        f"candidates {sorted(cands)}; add a type"
                    )
                    raise CypherAnalysisError(errors)
                else:
                    errors.append(
                        "no relationship type connects "
                        f"({lp or '?'}) and ({ln or '?'}) "
                        f"{'(undirected)' if edge_pat.undirected else 'in this direction'}"
                    )
                    raise CypherAnalysisError(errors)
            symmetric = False
            if edge_pat.undirected and not edge_pat.var_length:
                # resolve -[...]- from the schema: when endpoint labels
                # (or the schema's distinct source/target) force an
                # orientation, set it; a self-type edge matches both
                # ways via a symmetrized frame
                if (
                    edge_pat.rel_type is not None
                    and edge_pat.rel_type in graph.edges
                ):
                    meta_u = graph.edges[edge_pat.rel_type].meta
                    if meta_u.source == meta_u.target:
                        symmetric = True
                    else:
                        lp, ln = known_label(prev), known_label(node_pat)
                        edge_pat.reversed = (
                            lp == meta_u.target or ln == meta_u.source
                        )
            # direction: reversed means pattern arrow points right-to-left
            src_pat, dst_pat = (
                (node_pat, prev) if edge_pat.reversed else (prev, node_pat)
            )
            if edge_pat.var_length:
                bind_var_length(edge_pat, src_pat, dst_pat)
                prev = node_pat
                prev_var = node_pat.var
                continue
            if edge_pat.rel_type is None:
                errors.append("untyped relationships are not supported")
                raise CypherAnalysisError(errors)
            if edge_pat.rel_type not in graph.edges:
                errors.append(f"unknown relationship type {edge_pat.rel_type!r}")
                raise CypherAnalysisError(errors)
            ef_obj = graph.edges[edge_pat.rel_type]
            meta = ef_obj.meta

            # FK join elimination: the NEW endpoint of the pattern's
            # LAST hop needs no node join when (a) its variable is
            # never referenced anywhere in the query (or anonymous),
            # (b) the pattern node adds no filter of its own (no props,
            # no extra labels, label — if any — is the schema-expected
            # one), and (c) the edge tier guarantees that side resolves
            # (own-PK or RELY-trusted FK, EdgeFrame.src/dst_resolved).
            # Sound because node keys are unique: the join would match
            # exactly one row per edge — pure existence, no multiplicity
            # change — and existence is what the resolution flag proves.
            node_side = "src" if edge_pat.reversed else "dst"
            side_resolved = (
                (ef_obj.src_resolved and ef_obj.dst_resolved)
                if symmetric
                else (
                    ef_obj.src_resolved
                    if node_side == "src"
                    else ef_obj.dst_resolved
                )
            )
            node_exp_label = (
                meta.source if node_side == "src" else meta.target
            )
            elide_new = (
                unused_elidable is not None
                and edge_pat is pat.edges[-1]  # terminal hop only
                and side_resolved
                and node_pat.var not in vars
                and (
                    node_pat.var is None
                    or node_pat.var in unused_elidable
                )
                and not node_pat.props
                and not conj_extras(node_pat)
                and (
                    node_pat.label is None
                    or node_pat.label == node_exp_label
                )
            )
            if elide_new:
                if node_side == "dst":
                    src_var = attach_endpoint(src_pat, meta.source)
                    dst_var = None
                    bad = vars[src_var].label != meta.source
                else:
                    dst_var = attach_endpoint(dst_pat, meta.target)
                    src_var = None
                    bad = vars[dst_var].label != meta.target
            else:
                src_var = attach_endpoint(src_pat, meta.source)
                dst_var = attach_endpoint(dst_pat, meta.target)
                bad = (
                    vars[src_var].label != meta.source
                    or vars[dst_var].label != meta.target
                )
            if bad:
                errors.append(
                    f"direction/label mismatch: "
                    f"({vars[src_var].label if src_var else node_exp_label})-"
                    f"[:{edge_pat.rel_type}]->"
                    f"({vars[dst_var].label if dst_var else node_exp_label})"
                    f" but schema has ({meta.source})-"
                    f"[:{edge_pat.rel_type}]->({meta.target})"
                )
                raise CypherAnalysisError(errors)

            edge_var = edge_pat.var or fresh("r")
            edge_pat.var = edge_var
            # join_df: this path always inner-joins BOTH endpoint node
            # frames on the edge keys (below), which subsumes the
            # resolved frame's dangling-FK semi-joins — the raw tier
            # saves two joins per hop. Paths that consume edges without
            # endpoint joins (any_edge_frame, shortestPath/var-length
            # pairs) stay on the resolved .df.
            eframe = graph.edges[edge_pat.rel_type].join_df
            if symmetric:
                # self-type undirected: each edge matches both ways
                swapped = eframe.select(
                    F.col("dst").alias("src"),
                    F.col("src").alias("dst"),
                    *[c for c in eframe.columns if c not in ("src", "dst")],
                )
                eframe = eframe.unionByName(swapped)
            renamed = eframe.toDF(
                *[f"{edge_var}__{c}" for c in eframe.columns]
            )
            vars[edge_var] = _BoundVar(
                "edge", edge_pat.rel_type, meta.properties
            )
            edge_idents.append(
                (
                    pat.clause,
                    edge_pat.rel_type,
                    symmetric,
                    F.lit(edge_pat.rel_type),
                    unified_id(meta.source, F.col(f"{edge_var}__src")),
                    unified_id(meta.target, F.col(f"{edge_var}__dst")),
                )
            )
            assert df is not None
            # one inner join with the full conjunction — the attached
            # endpoint frames join on their keys (an elided endpoint
            # contributes no condition: the edge itself proves it), so
            # Catalyst reorders the earlier crossJoin into equi joins
            # (no cartesian survives; asserted via the physical plan)
            cond = None
            if src_var is not None:
                src_key = f"{src_var}__{graph.schema.node(meta.source).key}"
                cond = F.col(f"{edge_var}__src") == F.col(src_key)
            if dst_var is not None:
                dst_key = f"{dst_var}__{graph.schema.node(meta.target).key}"
                dc = F.col(f"{edge_var}__dst") == F.col(dst_key)
                cond = dc if cond is None else cond & dc
            assert cond is not None
            df = df.join(renamed, cond)
            prev = node_pat
            prev_var = node_pat.var

    if errors:
        raise CypherAnalysisError(errors)
    assert df is not None

    # openCypher relationship uniqueness: exclude rows where two edge
    # bindings of this clause resolve to the same edge. Typed pairs of
    # different rel types can never collide, so no predicate is added
    # for them (the common case stays filter-free).
    for i in range(len(edge_idents)):
        for j in range(i + 1, len(edge_idents)):
            cl_a, t_a, sym_a, ty_a, s_a, d_a = edge_idents[i]
            cl_b, t_b, sym_b, ty_b, s_b, d_b = edge_idents[j]
            if cl_a != cl_b:
                continue
            if t_a is not None and t_b is not None and t_a != t_b:
                continue
            if sym_a or sym_b:
                # symmetrized (undirected self-type) frames may carry
                # the edge in either orientation — compare canonically
                same = (
                    (ty_a == ty_b)
                    & (F.least(s_a, d_a) == F.least(s_b, d_b))
                    & (F.greatest(s_a, d_a) == F.greatest(s_b, d_b))
                )
            else:
                same = (ty_a == ty_b) & (s_a == s_b) & (d_a == d_b)
            df = df.filter(~same)

    # inline property maps — (n:L {p: v}) / [r:T {p: v}] — are equality
    # filters applied inside this binding (so an OPTIONAL MATCH map
    # filters before the left join, per Cypher semantics)
    prop_filters: list[tuple[str, str, A.Expr]] = []
    for pat in patterns:
        for npat in pat.nodes:
            prop_filters.extend((npat.var, n, e) for n, e in npat.props)
        for epat in pat.edges:
            if epat.props and epat.var_length:
                raise CypherAnalysisError(
                    ["property maps on variable-length relationships "
                     "are not supported"]
                )
            prop_filters.extend((epat.var, n, e) for n, e in epat.props)
    if prop_filters:
        scope = _Scope(vars, None, df)
        comp = _ExprCompiler(scope, False)
        cond = None
        for var, name, expr in prop_filters:
            clause = scope.prop(var, name) == comp.compile(expr)
            cond = clause if cond is None else (cond & clause)
        if scope.errors:
            raise CypherAnalysisError(scope.errors)
        df = df.filter(cond)

    return df, vars


_SHORTEST_DEFAULT_MAX = 10


def _attach_shortest_path(
    graph: PropertyGraph,
    df: DataFrame | None,
    vars: dict[str, _BoundVar],
    pat: A.PathPat,
    exact_decimal_sums: bool,
) -> tuple[DataFrame, dict[str, _BoundVar]]:
    """Lower ``p = shortestPath((a:L1)-[:T*lo..hi]-(b:L2))``.

    BFS (``multi_source_hops``) anchored on the left endpoint set in
    the unified ``Label:key`` id space; the hop count binds to the path
    variable for ``length(p)``. Semantics: one row per (a, b) pair with
    the minimum hop count in [lo, hi] — the length/endpoint surface of
    openCypher's shortestPath (the path's relationship list is not
    materialized; binding it is rejected at parse level by having no
    edge var).

    Scale: frontier state is keyed (root, id) and checkpointed per
    level; each level is one shuffle join against the (reusable) edge
    frame. Anchor-set size multiplies state — anchor the selective side
    (inline props / pre-bound variables make the left side selective in
    the observed query shapes).
    """
    errors: list[str] = []
    edge = pat.edges[0]
    left, right = pat.nodes
    if edge.reversed:
        left, right = right, left
    lo = edge.min_hops if edge.min_hops is not None else 1
    hi = edge.max_hops if edge.max_hops is not None else (
        _SHORTEST_DEFAULT_MAX if edge.var_length else 1
    )
    if edge.var is not None:
        errors.append(
            "shortestPath cannot bind a relationship variable; bind the "
            "path (p = shortestPath(...)) and use length(p)"
        )

    # edge frame in the unified id space, restricted to the rel type
    if edge.rel_type is not None and edge.rel_type not in graph.edges:
        raise CypherAnalysisError(
            [f"unknown relationship type {edge.rel_type!r}"]
        )
    frame = unified_edges(
        graph,
        undirected=edge.undirected,
        rel_types=None if edge.rel_type is None else {edge.rel_type},
    )

    def endpoint(node: A.NodePat) -> tuple[str, str, DataFrame, str]:
        """(var, label, frame with var__cols + uid col, uid_col)."""
        var = node.var
        label = node.label
        if label is None and var is not None and var in vars:
            label = vars[var].label
        if label is None:
            raise CypherAnalysisError(
                ["shortestPath endpoints need a label (or an "
                 "already-bound variable)"]
            )
        if label not in graph.nodes:
            raise CypherAnalysisError([f"unknown label {label!r}"])
        if var is None:
            var = f"__sp{id(node) % 10000}"
        node_def = graph.schema.node(label)
        nf = graph.nodes[label]
        for prop, expr in node.props:
            if not isinstance(expr, A.Lit):
                errors.append(
                    "shortestPath endpoint property maps must be "
                    f"literals; got {expr!r}"
                )
                continue
            if prop not in nf.columns:
                errors.append(f"unknown property {prop!r} on :{label}")
                continue
            nf = nf.filter(F.col(prop) == F.lit(expr.value))
        uid = f"{var}__uid"
        out = nf.toDF(*[f"{var}__{c}" for c in nf.columns]).withColumn(
            uid, unified_id(label, F.col(f"{var}__{node_def.key}"))
        )
        return var, label, out, uid

    a_var, a_label, a_frame, a_uid = endpoint(left)
    b_var, b_label, b_frame, b_uid = endpoint(right)
    if errors:
        raise CypherAnalysisError(errors)

    roots = a_frame.select(F.col(a_uid).alias("root")).distinct()
    hops = multi_source_hops(frame, roots, max_depth=hi)
    pairs = hops.filter((F.col("dist") >= lo) & (F.col("dist") <= hi))

    res = (
        a_frame.join(pairs, a_frame[a_uid] == pairs["root"])
        .join(b_frame, pairs["id"] == b_frame[b_uid])
        .drop("root", "id", a_uid, b_uid)
    )
    plen = pat.path_var
    if plen is not None:
        res = res.withColumnRenamed("dist", f"{plen}__len")
    else:
        res = res.drop("dist")

    new_vars = dict(vars)
    for var, label in ((a_var, a_label), (b_var, b_label)):
        if var in vars:
            if vars[var].kind != "node" or vars[var].label != label:
                raise CypherAnalysisError(
                    [f"shortestPath endpoint {var!r} conflicts with an "
                     "existing binding"]
                )
            continue
        node_def = graph.schema.node(label)
        new_vars[var] = _BoundVar(
            kind="node",
            label=label,
            columns=list(graph.nodes[label].columns),
            key=node_def.key,
        )
    if plen is not None:
        new_vars[plen] = _BoundVar(
            kind="path", label="", columns=["len"], key=None
        )

    if df is None:
        return res, new_vars
    shared = [
        v for v in (a_var, b_var) if v in vars and vars[v].kind == "node"
    ]
    if not shared:
        raise CypherAnalysisError(
            ["shortestPath must share a bound variable with the "
             "enclosing MATCH (or be the first pattern)"]
        )
    keys = [f"{v}__{vars[v].key}" for v in shared]
    dup = [c for c in res.columns if c in df.columns and c not in keys]
    return df.join(res.drop(*dup), on=keys), new_vars


def _contains_pattern_pred(e: A.Expr) -> bool:
    return any(isinstance(n, A.PatternPred) for n in A.walk(e))


def _extract_pattern_preds(
    e: A.Expr,
) -> tuple[list[tuple[A.PatternPred, bool]], A.Expr | None, list[str]]:
    """Split a WHERE tree into (pattern predicates, residual predicate).

    Pattern predicates are supported as top-level AND conjuncts,
    optionally under NOT — the forms a semi/anti join can express. A
    PatternPred anywhere deeper (inside OR, CASE, comparisons) is an
    analysis error, not a silent drop.
    """
    preds: list[tuple[A.PatternPred, bool]] = []
    rest: list[A.Expr] = []
    errors: list[str] = []

    def visit(c: A.Expr) -> None:
        if isinstance(c, A.PatternPred):
            preds.append((c, False))
        elif isinstance(c, A.Not) and isinstance(c.part, A.PatternPred):
            preds.append((c.part, True))
        elif isinstance(c, A.And):
            for p in c.parts:
                visit(p)
        elif _contains_pattern_pred(c):
            errors.append(
                "pattern predicates (exists((...)-[...]->(...))) are only "
                "supported as top-level WHERE conjuncts, optionally "
                "under NOT"
            )
        else:
            rest.append(c)

    visit(e)
    residual: A.Expr | None
    if not rest:
        residual = None
    elif len(rest) == 1:
        residual = rest[0]
    else:
        residual = A.And(rest)
    return preds, residual, errors


def _correlated_subframe(
    graph: PropertyGraph,
    vars: dict[str, _BoundVar],
    pattern: A.PathPat,
    where: A.Expr | None,
    anon_seed: int,
    exact_decimal_sums: bool,
    what: str,
) -> tuple[DataFrame, list[str]]:
    """Shared lowering for EXISTS / COUNT subqueries: bind the pattern
    in isolation, apply the block WHERE (subpattern variables only),
    and return (frame, correlation key columns) — the keys are the
    shared node variables\' key columns, present under the same names
    in both the subframe and the outer frame."""
    errors: list[str] = []
    # fill unlabeled shared node endpoints from the outer binding so
    # the subpattern resolves to the same node frame (and key column)
    nodes = []
    for node in pattern.nodes:
        if (
            node.var
            and node.label is None
            and node.var in vars
            and vars[node.var].kind == "node"
        ):
            node = dataclasses.replace(node, label=vars[node.var].label)
        nodes.append(node)
    pattern = dataclasses.replace(pattern, nodes=nodes)

    sub_df, sub_vars = _bind_patterns(graph, [pattern], anon_seed=anon_seed)
    if where is not None:
        # the block WHERE filters the subpattern before the join; it
        # resolves against subpattern variables only (an outer-only
        # variable reference is reported as unknown)
        sub_scope = _Scope(sub_vars, None, sub_df)
        sub_comp = _ExprCompiler(sub_scope, exact_decimal_sums)
        cond = sub_comp.compile(where)
        if sub_scope.errors:
            raise CypherAnalysisError(
                [
                    f"in {what} block WHERE (subpattern variables only):"
                    f" {m}"
                    for m in sub_scope.errors
                ]
            )
        sub_df = sub_df.filter(cond)
    shared = [v for v in sub_vars if v in vars]
    if not shared:
        raise CypherAnalysisError(
            [f"{what} pattern must share at least one bound variable "
             "with the enclosing MATCH"]
        )
    keys: list[str] = []
    for v in shared:
        bo, bs = vars[v], sub_vars[v]
        if bo.kind != "node" or bs.kind != "node":
            errors.append(
                f"relationship variable {v!r} cannot be shared into "
                f"{what}"
            )
            continue
        if bo.label != bs.label:
            errors.append(
                f"{what} binds {v!r} as :{bs.label} but the enclosing "
                f"MATCH binds it as :{bo.label}"
            )
            continue
        if bo.key:
            keys.append(f"{v}__{bo.key}")
    if errors:
        raise CypherAnalysisError(errors)
    return sub_df, keys


def _apply_pattern_pred(
    graph: PropertyGraph,
    df: DataFrame,
    vars: dict[str, _BoundVar],
    pred: A.PatternPred,
    negated: bool,
    anon_seed: int,
    exact_decimal_sums: bool = True,
) -> DataFrame:
    """Apply ``exists(pattern)`` / ``NOT exists(pattern)`` as a
    left-semi / left-anti join on the variables shared with the
    enclosing MATCH.

    Semi/anti joins add no columns and preserve outer row
    multiplicity — exactly openCypher\'s pattern-predicate semantics.
    At scale this is a hash semi-join on node keys; Catalyst is free to
    broadcast whichever side is small.
    """
    sub_df, keys = _correlated_subframe(
        graph, vars, pred.pattern, pred.where, anon_seed,
        exact_decimal_sums, what="exists()" if pred.where is None else "EXISTS",
    )
    how = "left_anti" if negated else "left_semi"
    return df.join(sub_df.select(*keys), on=keys, how=how)


def _apply_call_subquery(
    graph: PropertyGraph,
    df: DataFrame | None,
    vars: dict[str, _BoundVar],
    flat: set[str],
    call: A.CallSub,
    exact_decimal_sums: bool,
) -> tuple[DataFrame, set[str]]:
    """Lower ``CALL { [WITH a] … RETURN … }``.

    Uncorrelated: the subquery compiles independently and cross-joins
    the outer frame (Catalyst broadcasts the scalar/small side — the
    same constructor shape the compiler already emits for one-row
    seeds). Correlated: the imported node variables' key columns are
    injected into the subquery RETURN — Cypher's implicit grouping
    then aggregates *per correlation key*, which is exactly per-row
    execution — and the result joins back on those keys.

    Zero-match semantics (openCypher): a subquery whose RETURN items
    are ALL aggregates still yields one row per outer row — LEFT join,
    with the aggregates whose empty-input value is non-NULL backfilled
    (``count()`` → 0, ``sum()`` → 0, ``collect()`` → []; min/max/avg
    are NULL, which the left join already gives). A RETURN that mixes
    a grouping key with an aggregate produces *no groups* over empty
    input, so a zero-match outer row drops — INNER join. A pure
    non-aggregate subquery likewise inner-joins.

    Correlated ORDER BY / SKIP / LIMIT (the per-entity top-k idiom,
    ``CALL { WITH c MATCH … RETURN o ORDER BY o.total DESC LIMIT 1 }``)
    lowers to a ``row_number()`` window over the correlation keys —
    supported for non-aggregating subqueries; combined with aggregates
    it stays a clear analysis error. An importing WITH with no inner
    MATCH mentioning the variable (``CALL { WITH c RETURN c.x AS y }``)
    binds the variable to its label frame and inner-joins on the key.

    Out of scope (clear analysis errors): importing non-node
    variables, UNION inside a correlated CALL.
    """
    errors: list[str] = []
    sub_q = call.query
    if not call.imports:
        sub_df = compile_cypher(graph, sub_q, exact_decimal_sums)
        collide = set(sub_df.columns) & (
            set(df.columns) if df is not None else set()
        )
        if collide:
            raise CypherAnalysisError(
                [
                    f"CALL returns column {c!r} that is already bound "
                    "in the enclosing query"
                    for c in sorted(collide)
                ]
            )
        out = sub_df if df is None else df.crossJoin(sub_df)
        return out, set(flat) | set(sub_df.columns)

    if df is None:
        raise CypherAnalysisError(
            ["CALL { WITH … } cannot import variables before any MATCH"]
        )
    if sub_q.unions:
        raise CypherAnalysisError(
            ["UNION inside a correlated CALL {} is not supported"]
        )
    agg_flags = [_is_aggregate(i.expr) for i in sub_q.ret.items]
    has_agg = any(agg_flags)
    all_agg = bool(agg_flags) and all(agg_flags)
    if all_agg:
        # the zero-match backfill below knows the empty-input value of
        # BARE aggregates only; a compound expression (count(o) + 1,
        # sum(x) * 2) would silently stay NULL where per-row openCypher
        # gives 1 / 0 — reject loudly instead of answering wrong
        compound = [
            i.alias or "<unaliased expression>"
            for i in sub_q.ret.items
            if not isinstance(i.expr, A.FnCall)
        ]
        if compound:
            raise CypherAnalysisError(
                [
                    f"correlated CALL {{}} RETURN item {name!r} wraps an "
                    "aggregate in an expression; return the bare "
                    "aggregate and compute the expression outside the "
                    "CALL (zero-match backfill is defined for bare "
                    "count/sum/collect/min/max/avg only)"
                    for name in compound
                ]
            )
    windowed = (
        sub_q.order_by
        or sub_q.skip is not None
        or sub_q.limit is not None
    )
    if windowed and has_agg:
        raise CypherAnalysisError(
            [
                "ORDER BY / SKIP / LIMIT combined with aggregates "
                "inside a correlated CALL {} is not supported; "
                "aggregate in an outer WITH instead"
            ]
        )
    key_cols: list[tuple[str, str]] = []  # (outer col, injected alias)
    inject: list[A.Item] = []
    seen: set[str] = set()
    for v in call.imports:
        if v in seen:
            continue
        seen.add(v)
        bv = (vars or {}).get(v)
        if bv is None or bv.kind != "node":
            errors.append(
                f"CALL imports {v!r}, which is not a bound node variable"
            )
            continue
        if not bv.key:
            errors.append(f"imported node {v!r} has no key column")
            continue
        alias = f"__call_{v}_{bv.key}"
        key_cols.append((f"{v}__{bv.key}", alias))
        inject.append(A.Item(A.Prop(v, bv.key), alias))
        # bind the imported var's label inside the subquery patterns
        # (same fill as EXISTS blocks); an explicit conflicting label
        # is an analysis error, not a silent wrong-key join. (The AST
        # is this compile's private deep copy, so resolving in place
        # is safe.)
        mentioned = False
        for seg in sub_q.segments:
            pats = list(seg.patterns) + [
                p for p, _ in seg.optional_patterns
            ]
            for pat in pats:
                for node in pat.nodes:
                    if node.var != v:
                        continue
                    mentioned = True
                    if node.label is None:
                        node.label = bv.label
                    elif node.label != bv.label:
                        errors.append(
                            f"CALL binds imported {v!r} as "
                            f":{node.label} but the enclosing query "
                            f"binds it as :{bv.label}"
                        )
        if not mentioned:
            # CALL { WITH c RETURN c.x AS y } — no inner MATCH uses c;
            # bind it to its label frame (the key join below restores
            # per-outer-row scoping)
            sub_q.segments[0].patterns.insert(
                0, A.PathPat(nodes=[A.NodePat(v, bv.label)], edges=[])
            )
    if errors:
        raise CypherAnalysisError(errors)
    out_items = list(sub_q.ret.items)
    # per-row ORDER BY / SKIP / LIMIT: strip the subquery-global forms
    # and re-apply them per correlation key via row_number() below
    order_by = list(sub_q.order_by)
    o_skip, o_limit = sub_q.skip, sub_q.limit
    sub_q.order_by, sub_q.skip, sub_q.limit = [], None, None
    ord_specs: list[tuple[str, bool]] = []  # (column, ascending)
    ord_injected: list[str] = []
    for oi, ok in enumerate(order_by):
        name = None
        for item in out_items:
            if ok.expr == item.expr or (
                isinstance(ok.expr, A.Var) and ok.expr.name == item.alias
            ):
                name = item.out_name().replace(".", "_")
                break
        if name is None:
            name = f"__call_ord{oi}"
            inject.append(A.Item(ok.expr, name))
            ord_injected.append(name)
        ord_specs.append((name, ok.ascending))
    sub_q.ret.items = out_items + inject
    sub_df = compile_cypher(graph, sub_q, exact_decimal_sums)
    injected = {alias for _, alias in key_cols} | set(ord_injected)
    new_cols = [c for c in sub_df.columns if c not in injected]
    collide = set(new_cols) & set(df.columns)
    if collide:
        raise CypherAnalysisError(
            [
                f"CALL returns column {c!r} that is already bound in "
                "the enclosing query"
                for c in sorted(collide)
            ]
        )
    key_aliases = [alias for _, alias in key_cols]
    if windowed:
        # per-correlation-key top-k: rank within each outer key. One
        # shuffle on the key — the same plan shape as the hand-written
        # "top N per group" idiom; no per-row subquery execution.
        from pyspark.sql.window import Window

        okeys = [
            (sub_df[n].asc() if asc else sub_df[n].desc())
            for n, asc in ord_specs
        ] or [F.lit(1).asc()]  # bare SKIP/LIMIT: arbitrary stable pick
        w = Window.partitionBy(*[sub_df[a] for a in key_aliases]).orderBy(
            *okeys
        )
        sub_df = sub_df.withColumn("__call_rn", F.row_number().over(w))
        lo = o_skip or 0
        keep = F.col("__call_rn") > F.lit(lo)
        if o_limit is not None:
            keep = keep & (F.col("__call_rn") <= F.lit(lo + o_limit))
        sub_df = sub_df.filter(keep).drop("__call_rn", *ord_injected)
    cond = None
    for outer_col, alias in key_cols:
        c = df[outer_col] == sub_df[alias]
        cond = c if cond is None else (cond & c)
    # all-aggregate RETURN: zero matches still yield one row per outer
    # row (LEFT). Grouping keys present (or no aggregates): zero-match
    # outer rows drop (INNER) — grouped aggregation over empty input
    # has no groups.
    joined = df.join(
        sub_df, on=cond, how="left" if all_agg else "inner"
    ).drop(*[sub_df[a] for a in key_aliases])
    if all_agg:
        # empty-input aggregate values (openCypher): count()=0, sum()=0,
        # collect()=[]; min/max/avg stay NULL (the left join's default)
        dtypes = {f.name: f.dataType for f in joined.schema.fields}
        for item, out in zip(out_items, new_cols):
            e = item.expr
            if not isinstance(e, A.FnCall):
                continue
            if e.name in ("count", "sum"):
                joined = joined.withColumn(
                    out,
                    F.coalesce(F.col(out), F.lit(0).cast(dtypes[out])),
                )
            elif e.name == "collect":
                joined = joined.withColumn(
                    out,
                    F.coalesce(F.col(out), F.array().cast(dtypes[out])),
                )
    return joined, set(flat) | set(new_cols)


def _collect_pattern_counts(exprs: list[A.Expr]) -> list[A.PatternCount]:
    """Every PatternCount node in the given expression trees (document
    order; a nested COUNT{} inside a COUNT{} WHERE is unsupported, so
    the walk stops at each block)."""
    blocks = A.walk(exprs, into=lambda n: not isinstance(n, A.PatternCount))
    return [n for n in blocks if isinstance(n, A.PatternCount)]


def _attach_pattern_counts(
    graph: PropertyGraph,
    df: DataFrame,
    vars: dict[str, _BoundVar],
    exprs: list[A.Expr],
    anon_seed: int,
    exact_decimal_sums: bool,
    pattern_counts: dict[int, str],
) -> DataFrame:
    """Pre-join ``COUNT { pattern }`` subqueries: one groupBy-count on
    the correlation keys + left join + coalesce(0) per distinct block.
    The mapping id(node) -> joined column name lets the expression
    compiler treat each block as a plain column afterwards (so it
    composes with arithmetic, comparisons, and outer aggregates).

    Scale: the count frame is an aggregation of the subpattern join —
    one shuffle on the correlation key, the same shape as the
    OPTIONAL MATCH + count() idiom it replaces."""
    for ci, pc in enumerate(_collect_pattern_counts(exprs)):
        if id(pc) in pattern_counts:
            continue
        sub_df, keys = _correlated_subframe(
            graph, vars, pc.pattern, pc.where,
            anon_seed + ci * 100, exact_decimal_sums, what="COUNT",
        )
        col = f"__pc{anon_seed}_{ci}"
        counts = sub_df.groupBy(*[F.col(k) for k in keys]).agg(
            F.count(F.lit(1)).alias(col)
        )
        df = df.join(counts, on=keys, how="left").withColumn(
            col, F.coalesce(F.col(col), F.lit(0))
        )
        pattern_counts[id(pc)] = col
    return df


def _attach_optional(
    graph: PropertyGraph,
    df: DataFrame,
    vars: dict[str, _BoundVar],
    pattern: A.PathPat,
    anon_seed: int,
    opt_where: A.Expr | None = None,
) -> DataFrame:
    """OPTIONAL MATCH: bind the pattern in isolation, then LEFT-join it
    onto the mandatory match on the shared node variables' keys —
    unmatched rows carry nulls in the optional pattern's columns
    (Cypher's optional-match semantics; ``count(x)`` over an optional
    node variable then counts only matches, since count skips nulls)."""
    shared = [
        n.var for n in pattern.nodes if n.var and n.var in vars
    ]
    if not shared:
        raise CypherAnalysisError(
            ["OPTIONAL MATCH must share at least one variable with MATCH"]
        )
    for n in pattern.nodes:
        if n.var in vars:
            if vars[n.var].kind != "node":
                raise CypherAnalysisError(
                    [f"OPTIONAL MATCH cannot rebind edge variable {n.var!r}"]
                )
            if n.label and n.label != vars[n.var].label:
                raise CypherAnalysisError(
                    [f"variable {n.var!r} rebound to a different label"]
                )
            n.label = vars[n.var].label

    odf, ovars = _bind_patterns(graph, [pattern], anon_seed=anon_seed)
    for v in ovars:
        if v in vars and v not in shared:
            raise CypherAnalysisError(
                [f"variable {v!r} already bound in an earlier pattern"]
            )
    if opt_where is not None:
        # the clause's own WHERE filters the optional side *before* the
        # left join — unmatched rows still survive with nulls
        oscope = _Scope(ovars, None, odf)
        cond = _ExprCompiler(oscope, False).compile(opt_where)
        if oscope.errors:
            raise CypherAnalysisError(oscope.errors)
        odf = odf.filter(cond)

    # shared-var columns exist on both sides: prefix the optional side's
    # copies, join on the keys, then drop the prefixed duplicates
    rename = {
        c: f"__opt_{c}"
        for v in shared
        for c in odf.columns
        if c.startswith(f"{v}__")
    }
    odf = odf.toDF(*[rename.get(c, c) for c in odf.columns])
    cond = None
    for v in shared:
        key = vars[v].key
        clause = F.col(f"{v}__{key}") == F.col(f"__opt_{v}__{key}")
        cond = clause if cond is None else (cond & clause)
    out = df.join(odf, cond, "left").drop(*rename.values())
    for v, bound in ovars.items():
        if v not in vars:
            vars[v] = bound
    return out


# ---------------------------------------------------------------------------
# Aggregation pushdown below the endpoint node join
# ---------------------------------------------------------------------------

# kill switch for A/B equivalence tests (tests/test_cypher.py)
AGG_PUSHDOWN_ENABLED = True

# Measured fan-in gate (r10, SCALE.md finding 23): pre-aggregating the
# edge frame below the node join only pays when enough edge rows fold
# into each key group. sf10 A/B, same harness: partkey grain (~30
# edges/key) 8.0 -> 6.3 s wall and 1266 -> 608 MB shuffle (WIN);
# custkey grain (~10) 1.7 -> 2.2 s (LOSS); orderkey grain (~4)
# 6.0 -> 8.5 s with NO shuffle savings (LOSS) — a high-cardinality key
# gives the partial aggregate nothing to combine pre-shuffle while
# paying a giant hash table. Threshold between the measured win and
# the nearest measured loss.
AGG_PUSHDOWN_MIN_FANIN = 16.0


def _edge_fanin(eframe: DataFrame, key: str) -> float:
    """Measured edge rows per distinct key: one narrow
    count+approx_count_distinct job per edge frame per session."""

    def measure(df: DataFrame) -> float:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct(key).alias("k"),
        ).head()
        return float(row["n"]) / max(float(row["k"]), 1.0)

    return memoized_measure(eframe, f"fanin:{key}", measure)


_PUSHABLE_AGGS = frozenset({"sum", "count", "min", "max"})


def _expr_vars(e: object) -> set[str]:
    """Every variable a (sub)expression references: ``Prop`` bases and
    bare ``Var`` names, nested arbitrarily (generic dataclass walk).
    Lambda variables of list comprehensions are included — that is the
    CONSERVATIVE direction for the pushdown's eligibility test (a
    spurious name can only make a query ineligible, never mis-push)."""
    out: set[str] = set()
    for n in A.walk(e):
        if isinstance(n, A.Prop) and isinstance(n.base, str):
            out.add(n.base)
        elif isinstance(n, A.Var):
            out.add(n.name)
    return out


def _agg_calls(e: object) -> list[A.FnCall]:
    """Top-level aggregate FnCalls of an expression (no descent into an
    aggregate's own arguments — nested aggregates are invalid Cypher
    and fail later in the generic path)."""

    def is_agg(n: object) -> bool:
        return isinstance(n, A.FnCall) and n.name in _AGG_FNS

    return [n for n in A.walk(e, into=lambda n: not is_agg(n)) if is_agg(n)]


def _try_agg_pushdown(
    graph: PropertyGraph,
    seg: A.Segment,
    proj: A.Projection,
    elidable: frozenset[str] | None,
    exact: bool,
) -> tuple[DataFrame, dict[str, _BoundVar], dict[int, tuple[str, str]]] | None:
    """Lower ``MATCH (a)-[e:T]->(b) … aggregate`` to a pre-aggregation
    of the EDGE FRAME below the endpoint node join, when the grouping
    keys are functionally determined by the join key (VERDICT r9 plan
    nit #4, the Q10/Q13 pattern generalized to compiled Cypher).

    The generic path joins the full edge frame (~fact-scale) to the
    node frame and aggregates on top — the join exchange carries every
    edge row. When every aggregate reads only edge properties and every
    key reads only ONE endpoint, the aggregation commutes with the
    join: pre-aggregate per edge key (sum/count/min/max are
    decomposable; decimal sums stay exact because decimal addition is
    associative), join the ≤#nodes group rows to the node frame, then
    merge per final key. Eligibility (None = fall back to the generic
    path, which also owns all error reporting):

    * single fixed-hop directed pattern, no WHERE / OPTIONAL / UNWIND /
      CALL / shortestPath, no inline props or extra labels;
    * projection aggregates, not DISTINCT, no pattern-count predicates;
    * every aggregate call is non-DISTINCT sum/count/min/max over
      edge-only expressions (count(*) allowed);
    * key items reference exactly one endpoint variable;
    * the OTHER endpoint is elidable exactly like the generic path's FK
      join elimination: unreferenced query-wide and resolution-
      guaranteed by the edge tier (``EdgeFrame.src/dst_resolved``) —
      the resolved ``.df`` tier then proves the skipped join's
      existence semantics.
    """
    if not AGG_PUSHDOWN_ENABLED:
        return None
    if (
        seg.optional_patterns
        or seg.unwinds
        or seg.calls
        or len(seg.patterns) != 1
    ):
        return None
    if seg.where is not None and _contains_pattern_pred(seg.where):
        return None  # exists()/EXISTS{}/COUNT{} forms stay generic
    pat = seg.patterns[0]
    if pat.shortest or len(pat.nodes) != 2 or len(pat.edges) != 1:
        return None
    edge = pat.edges[0]
    if (
        edge.var_length
        or edge.undirected
        or edge.props
        or edge.rel_type not in graph.edges
    ):
        return None
    if any(n.props or n.extra_labels for n in pat.nodes):
        return None
    ef = graph.edges[edge.rel_type]
    meta = ef.meta
    s_pat, t_pat = (
        (pat.nodes[1], pat.nodes[0])
        if edge.reversed
        else (pat.nodes[0], pat.nodes[1])
    )
    if s_pat.label not in (None, meta.source):
        return None
    if t_pat.label not in (None, meta.target):
        return None
    if proj.distinct or _collect_pattern_counts(
        [i.expr for i in proj.items]
    ):
        return None
    keys = [i for i in proj.items if not _is_aggregate(i.expr)]
    aggs = [i for i in proj.items if _is_aggregate(i.expr)]
    if not aggs:
        return None
    evar = edge.var or "__pushed_edge"
    key_vars: set[str] = set()
    for i in keys:
        key_vars |= _expr_vars(i.expr)
    if len(key_vars) != 1:
        return None
    gvar = next(iter(key_vars))
    if gvar == s_pat.var:
        gkey, glabel = "src", meta.source
        other_pat, other_resolved = t_pat, ef.dst_resolved
    elif gvar == t_pat.var:
        gkey, glabel = "dst", meta.target
        other_pat, other_resolved = s_pat, ef.src_resolved
    else:
        return None
    if not other_resolved:
        return None
    if other_pat.var is not None and (
        elidable is None or other_pat.var not in elidable
    ):
        return None
    # WHERE handling (r10.1): conjuncts referencing ONLY the edge
    # variable filter the edge frame BEFORE the pre-aggregation
    # (row-identical to the generic plan); conjuncts referencing ONLY
    # the group endpoint (or no variable) filter after the node join —
    # a purely node-determined predicate gives every edge row of a key
    # the same verdict, so dropping the group post-aggregation is
    # row-identical to dropping its rows pre-aggregation. Anything
    # referencing both sides (or the elided endpoint) declines.
    where_edge: list[A.Expr] = []
    where_node: list[A.Expr] = []
    if seg.where is not None:
        conjuncts = (
            list(seg.where.parts)
            if isinstance(seg.where, A.And)
            else [seg.where]
        )
        for c in conjuncts:
            cv = _expr_vars(c)
            if cv <= {evar}:
                where_edge.append(c)
            elif cv <= {gvar}:
                where_node.append(c)
            else:
                return None
    calls: list[A.FnCall] = []
    for i in aggs:
        if _expr_vars(i.expr) - {evar}:
            return None
        for c in _agg_calls(i.expr):
            if c.name not in _PUSHABLE_AGGS or c.distinct:
                return None
            if any(isinstance(a, A.Star) for a in c.args) and (
                c.name != "count" or len(c.args) != 1
            ):
                return None
            calls.append(c)
    # -- eligible: build the pre-aggregated frame -------------------------
    # the resolved edge tier (.df) stands in for the skipped endpoint
    # join — it already drops edges whose elided endpoint dangles
    eframe = ef.df
    # measured fan-in gate: below the threshold the pre-aggregate is a
    # measured wall-clock LOSS (see AGG_PUSHDOWN_MIN_FANIN) — decline
    # and let the generic join-first path run
    if _edge_fanin(eframe, gkey) < AGG_PUSHDOWN_MIN_FANIN:
        return None
    renamed = eframe.toDF(*[f"{evar}__{c}" for c in eframe.columns])
    escope = _Scope(
        {evar: _BoundVar("edge", edge.rel_type, meta.properties)},
        None,
        renamed,
    )
    ecomp = _ExprCompiler(escope, exact)
    for c in where_edge:
        cond = ecomp.compile(c)
        if escope.errors:
            return None
        renamed = renamed.filter(cond)
        escope.df = renamed
    partial_cols: list[Column] = []
    partials: dict[int, tuple[str, str]] = {}
    for j, c in enumerate(calls):
        cname = f"__aggp_{j}"
        if c.name == "count":
            if len(c.args) == 1 and isinstance(c.args[0], A.Star):
                pcol = F.count(F.lit(1))
            else:
                pcol = F.count(ecomp.compile(c.args[0]))
            kind = "count"
        elif c.name == "sum":
            pcol = F.sum(ecomp.compile(c.args[0], decimal_ctx=exact))
            kind = (
                "sum_double"
                if exact and not ecomp._is_integral(c.args[0])
                else "sum"
            )
        else:
            pcol = (F.min if c.name == "min" else F.max)(
                ecomp.compile(c.args[0])
            )
            kind = c.name
        partial_cols.append(pcol.alias(cname))
        partials[id(c)] = (cname, kind)
    if escope.errors:
        return None  # generic path re-raises with its own diagnostics
    grouped = renamed.groupBy(F.col(f"{evar}__{gkey}")).agg(*partial_cols)
    node_def = graph.schema.node(glabel)
    nframe = graph.nodes[glabel]
    ncols = list(nframe.columns)
    nrenamed = nframe.toDF(*[f"{gvar}__{c}" for c in ncols])
    out = grouped.join(
        nrenamed,
        F.col(f"{evar}__{gkey}") == F.col(f"{gvar}__{node_def.key}"),
        "inner",
    ).drop(f"{evar}__{gkey}")
    bound = {gvar: _BoundVar("node", glabel, ncols, key=node_def.key)}
    if where_node:
        nscope = _Scope(bound, None, out)
        ncomp = _ExprCompiler(nscope, exact)
        for c in where_node:
            cond = ncomp.compile(c)
            if nscope.errors:
                return None
            out = out.filter(cond)
            nscope.df = out
    return out, bound, partials


def _project(
    df: DataFrame,
    proj: A.Projection,
    scope: _Scope,
    exact: bool,
    allow_passthrough: bool = False,
    pattern_counts: dict[int, str] | None = None,
    agg_partials: dict[int, tuple[str, str]] | None = None,
) -> tuple[DataFrame, set[str], dict[str, _BoundVar]]:
    """Compile a WITH/RETURN projection.

    With ``allow_passthrough`` (WITH clauses), a bare pattern variable
    keeps its whole binding — all its ``var__*`` columns survive (and
    act as grouping keys under aggregation), so a later MATCH / RETURN
    can still use ``var.prop``. RETURN projections flatten everything.
    Returns (frame, flat output names, surviving variable bindings).
    """
    comp = _ExprCompiler(scope, exact, pattern_counts, agg_partials)
    passthrough: list[str] = []
    flat_items: list[tuple[A.Item, str]] = []
    items = list(proj.items)
    # WITH * / RETURN *: expand to every bound variable (sorted for
    # deterministic column order) plus every flat alias in scope
    if any(isinstance(i.expr, A.Star) for i in items):
        expanded: list[A.Item] = []
        for v in sorted(scope.vars or {}):
            expanded.append(A.Item(A.Var(v), alias=None))
        for f in sorted(scope.flat or ()):
            expanded.append(A.Item(A.Var(f), alias=f))
        items = expanded + [
            i for i in items if not isinstance(i.expr, A.Star)
        ]
        if not items:
            raise CypherAnalysisError(
                ["RETURN * requires at least one bound variable"]
            )
    for item in items:
        e = item.expr
        if (
            allow_passthrough
            and isinstance(e, A.Var)
            and scope.vars is not None
            and e.name in scope.vars
            and (item.alias is None or item.alias == e.name)
        ):
            passthrough.append(e.name)
        else:
            flat_items.append((item, item.out_name().replace(".", "_")))
    pass_cols = [
        c
        for v in passthrough
        for c in df.columns
        if c.startswith(f"{v}__")
    ]

    has_agg = any(_is_aggregate(i.expr) for i, _ in flat_items)
    if has_agg:
        keys = [
            (i, n) for i, n in flat_items if not _is_aggregate(i.expr)
        ]
        aggs = [(i, n) for i, n in flat_items if _is_aggregate(i.expr)]
        key_cols = [F.col(c) for c in pass_cols] + [
            comp.compile(i.expr).alias(n) for i, n in keys
        ]
        # Bounded-memory percentileDisc: exact nearest-rank needs the
        # group's value order, but sort_array(collect_list(...)) holds
        # the whole group in ONE aggregation buffer row — a skewed group
        # OOMs at scale. Rewrite each grouped call as a pre-aggregation
        # window over the same keys (WindowExec's sort spills to disk)
        # plus a plain min() in the aggregate: with cnt_le = running
        # ties-inclusive count of non-null values and grp_n the group's
        # non-null count, the smallest value whose cnt_le reaches
        # ceil(p * grp_n) IS the nearest-rank pick (p=0 -> min).
        pdisc_nodes = [
            node for i, _ in aggs for node in _collect_pdisc(i.expr)
        ]
        if pdisc_nodes:
            from pyspark.sql import Window
        for j, node in enumerate(pdisc_nodes):
            val = comp.compile(node.args[0])
            pct = comp.compile(node.args[1])
            wp = Window.partitionBy(*key_cols)
            grp_n = F.count(val).over(wp)
            cnt_le = F.count(val).over(wp.orderBy(val))
            idx = F.greatest(F.lit(1).cast("bigint"), F.ceil(pct * grp_n))
            cname = f"__pdisc_{j}"
            df = df.withColumn(
                cname, F.when(val.isNotNull() & (cnt_le >= idx), val)
            )
            comp.pdisc_cols[id(node)] = cname
        agg_cols = [comp.compile(i.expr).alias(n) for i, n in aggs]
        if scope.errors:
            raise CypherAnalysisError(scope.errors)
        grouped = df.groupBy(*key_cols) if key_cols else df.groupBy()
        out = grouped.agg(*agg_cols)
        # groupBy(expr.alias) keeps the alias as the output column name
    else:
        cols = [F.col(c) for c in pass_cols] + [
            comp.compile(i.expr).alias(n) for i, n in flat_items
        ]
        if scope.errors:
            raise CypherAnalysisError(scope.errors)
        out = df.select(*cols)
    if proj.distinct:
        out = out.distinct()
    kept = {v: scope.vars[v] for v in passthrough} if scope.vars else {}
    return out, {n for _, n in flat_items}, kept


def _order_by(
    df: DataFrame,
    order: list[A.OrderKey],
    items: list[A.Item],
    scope: _Scope,
    exact_decimal_sums: bool,
) -> DataFrame:
    """Sort a projected frame by WITH/RETURN ORDER BY keys.

    A key identical to a projected item resolves to that item's output
    column (Neo4j allows re-stating the aggregate instead of its alias;
    dataclass equality gives exact structural matching) — but only when
    the item was flattened to a real column: a passed-through node var
    (bare Var, no alias) keeps only its n__* columns, so it falls
    through to compiling the key against ``scope``."""
    comp = _ExprCompiler(scope, exact_decimal_sums)
    keys = []
    for ok in order:
        col = None
        for item in items:
            if ok.expr == item.expr:
                name = item.out_name().replace(".", "_")
                if name in df.columns:
                    col = F.col(name)
                break
        if col is None:
            col = comp.compile(ok.expr)
        keys.append(col.asc() if ok.ascending else col.desc())
    if scope.errors:
        raise CypherAnalysisError(scope.errors)
    return df.orderBy(*keys)


def compile_cypher(
    graph: PropertyGraph,
    query: A.Query | str,
    exact_decimal_sums: bool = True,
    params: dict[str, object] | None = None,
) -> DataFrame:
    """Compile a parsed (or source-text) Cypher query to a DataFrame."""
    from project_graphdb_spark.cypher.parser import parse

    # deep-copy a pre-parsed AST: compilation resolves schema facts into
    # the tree (untyped-edge types, imported-label fills, parameter
    # substitution), and a caller must be able to recompile the same
    # Query object against a different graph without stale resolutions
    q = parse(query) if isinstance(query, str) else copy.deepcopy(query)
    missing: set[str] = set()
    A.substitute_params(q, params, missing)
    if missing:
        raise CypherAnalysisError(
            [f"parameter ${name} not supplied" for name in sorted(missing)]
        )
    pattern_counts: dict[int, str] = {}
    if q.unions:
        base = A.Query(
            segments=q.segments, ret=q.ret, order_by=q.order_by,
            skip=q.skip, limit=q.limit,
        )
        out = compile_cypher(graph, base, exact_decimal_sums)
        is_all = q.unions[0][1]
        for arm, _ in q.unions:
            arm_df = compile_cypher(graph, arm, exact_decimal_sums)
            if sorted(arm_df.columns) != sorted(out.columns):
                raise CypherAnalysisError(
                    [
                        "UNION arms must return the same column names: "
                        f"{out.columns} vs {arm_df.columns}"
                    ]
                )
            out = out.unionByName(arm_df)
        # UNION dedups across ALL arms (openCypher); UNION ALL keeps rows
        out = out if is_all else out.distinct()
        # union-wide ORDER BY / SKIP / LIMIT (hoisted from the trailing
        # clause by the parser); keys resolve against output columns
        if q.union_order_by:
            uscope = _Scope(None, set(out.columns), out)
            ucomp = _ExprCompiler(uscope, exact_decimal_sums)
            keys = [
                (c.asc() if ok.ascending else c.desc())
                for ok in q.union_order_by
                for c in (ucomp.compile(ok.expr),)
            ]
            if uscope.errors:
                raise CypherAnalysisError(uscope.errors)
            out = out.orderBy(*keys)
        if q.union_skip is not None:
            out = out.offset(q.union_skip)
        if q.union_limit is not None:
            out = out.limit(q.union_limit)
        return out
    df: DataFrame | None = None
    vars: dict[str, _BoundVar] = {}
    flat: set[str] = set()
    # whole-query usage analysis for FK join elimination (terminal
    # pattern endpoints bound once and never read skip their node join
    # when the edge guarantees resolution)
    elidable = _unused_node_vars(q)

    agg_partials: dict[int, tuple[str, str]] = {}
    for si, seg in enumerate(q.segments):
        normal_pats = [p for p in seg.patterns if not p.shortest]
        shortest_pats = [p for p in seg.patterns if p.shortest]
        pushed = None
        if df is None and not vars and not shortest_pats:
            # aggregation pushdown below the node join: the aggregating
            # projection is this segment's WITH, or the query's RETURN
            # when this single segment has none
            push_proj = seg.projection
            if push_proj is None and len(q.segments) == 1:
                push_proj = q.ret
            if push_proj is not None and any(
                _is_aggregate(i.expr) for i in push_proj.items
            ):
                pushed = _try_agg_pushdown(
                    graph, seg, push_proj, elidable, exact_decimal_sums
                )
        if pushed is not None:
            df, vars, new_partials = pushed
            agg_partials.update(new_partials)
        elif normal_pats:
            df, vars = _bind_patterns(
                graph,
                normal_pats,
                anon_seed=si * 10000,
                init_df=df,
                init_vars=vars,
                unused_elidable=elidable,
            )
        for sp in shortest_pats:
            df, vars = _attach_shortest_path(
                graph, df, vars, sp, exact_decimal_sums
            )
        if seg.optional_patterns:
            if df is None:
                raise CypherAnalysisError(
                    ["a query cannot start with OPTIONAL MATCH"]
                )
            for i, (opt, opt_where) in enumerate(seg.optional_patterns):
                df = _attach_optional(
                    graph, df, vars, opt,
                    anon_seed=si * 10000 + (i + 1) * 1000,
                    opt_where=opt_where,
                )
        # unwinds and calls apply in source order (steps) — a CALL's
        # returned list may feed a following UNWIND
        steps = seg.steps or (
            [("unwind", i) for i in range(len(seg.unwinds))]
            + [("call", i) for i in range(len(seg.calls))]
        )
        for kind, idx in steps:
            if kind == "unwind":
                expr, alias = seg.unwinds[idx]
                if df is None:
                    # query starts with UNWIND: a one-row seed frame
                    spark = next(iter(graph.nodes.values())).sparkSession
                    df = spark.range(1).select(F.lit(1).alias("__seed"))
                scope_u = _Scope(vars or None, flat or None, df)
                comp_u = _ExprCompiler(scope_u, exact_decimal_sums)
                col = comp_u.compile(expr)
                if scope_u.errors:
                    raise CypherAnalysisError(scope_u.errors)
                df = df.withColumn(alias, F.explode(col)).drop("__seed")
                flat = set(flat) | {alias}
            else:
                df, flat = _apply_call_subquery(
                    graph, df, vars, flat, seg.calls[idx],
                    exact_decimal_sums,
                )
        if df is None:
            if seg.patterns or seg.where is not None:
                raise CypherAnalysisError(["query has no MATCH pattern"])
            # pattern-free query (RETURN 1 AS n — the C18 smoke shape,
            # reference final/app.py:150-152): one seed row
            spark = next(iter(graph.nodes.values())).sparkSession
            df = spark.range(1).select(F.lit(1).alias("__seed"))
        scope = _Scope(vars or None, flat or None, df)
        # a successful aggregation pushdown already applied this
        # segment's WHERE (side-classified inside the rule) — the edge
        # variable no longer exists post-pre-aggregation
        if seg.where is not None and pushed is None:
            preds, residual, perrors = _extract_pattern_preds(seg.where)
            if perrors:
                raise CypherAnalysisError(perrors)
            for pi, (pp, negated) in enumerate(preds):
                df = _apply_pattern_pred(
                    graph, df, vars, pp, negated,
                    anon_seed=si * 10000 + 5000 + pi * 100,
                    exact_decimal_sums=exact_decimal_sums,
                )
                scope.df = df
            if residual is not None:
                df = _attach_pattern_counts(
                    graph, df, vars, [residual],
                    anon_seed=si * 10000 + 7000,
                    exact_decimal_sums=exact_decimal_sums,
                    pattern_counts=pattern_counts,
                )
                scope.df = df
                comp = _ExprCompiler(
                    scope, exact_decimal_sums, pattern_counts
                )
                cond = comp.compile(residual)
                if scope.errors:
                    raise CypherAnalysisError(scope.errors)
                df = df.filter(cond)
                scope.df = df
        if seg.projection is not None:
            df = _attach_pattern_counts(
                graph, df, vars,
                [i.expr for i in seg.projection.items],
                anon_seed=si * 10000 + 8000,
                exact_decimal_sums=exact_decimal_sums,
                pattern_counts=pattern_counts,
            )
            scope.df = df
            df, flat, vars = _project(
                df, seg.projection, scope, exact_decimal_sums,
                allow_passthrough=True,
                pattern_counts=pattern_counts,
                agg_partials=agg_partials,
            )
            scope = _Scope(vars or None, flat or None, df)
            if seg.proj_order:
                df = _order_by(
                    df, seg.proj_order, seg.projection.items, scope,
                    exact_decimal_sums,
                )
            if seg.proj_skip is not None:
                df = df.offset(seg.proj_skip)
            if seg.proj_limit is not None:
                df = df.limit(seg.proj_limit)
            if seg.proj_order or seg.proj_skip is not None or (
                seg.proj_limit is not None
            ):
                scope.df = df
            if seg.proj_where is not None:
                comp2 = _ExprCompiler(scope, exact_decimal_sums)
                cond = comp2.compile(seg.proj_where)
                if scope.errors:
                    raise CypherAnalysisError(scope.errors)
                df = df.filter(cond)
                scope.df = df

    assert q.ret is not None and df is not None
    df = _attach_pattern_counts(
        graph, df, vars, [i.expr for i in q.ret.items],
        anon_seed=90000,
        exact_decimal_sums=exact_decimal_sums,
        pattern_counts=pattern_counts,
    )
    scope = _Scope(vars or None, flat or None, df)
    df, out_names, _ = _project(
        df, q.ret, scope, exact_decimal_sums,
        pattern_counts=pattern_counts,
        agg_partials=agg_partials,
    )

    if q.order_by:
        df = _order_by(
            df, q.order_by, q.ret.items, _Scope(None, out_names, df),
            exact_decimal_sums,
        )
    if q.skip is not None:
        df = df.offset(q.skip)
    if q.limit is not None:
        df = df.limit(q.limit)
    return df


def validate_cypher(
    graph: PropertyGraph, text: str
) -> list[str]:
    """Parse + analyze without executing; returns error messages (empty
    = valid). The Spark analog of the reference's EXPLAIN round-trip
    (final/langraph_neo4j3.py:320-324)."""
    from project_graphdb_spark.cypher.parser import CypherSyntaxError, parse

    try:
        q = parse(text)
    except CypherSyntaxError as e:
        return [f"syntax: {e}"]
    try:
        compile_cypher(graph, q)
    except CypherAnalysisError as e:
        return e.errors
    return []
