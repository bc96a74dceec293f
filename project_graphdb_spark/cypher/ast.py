"""AST for the Cypher subset the reference's NL layer emits.

The shapes covered are exactly the observed workload (SURVEY.md §2.C):
MATCH pattern chains with direction, WHERE predicates (C7), WITH
implicit-grouping projection (C9), RETURN, ORDER BY / LIMIT (C12/C13),
and the scalar surface date()/toString()/toLower() (C10/C11/C8).
"""

from __future__ import annotations

import dataclasses
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field


# -- expressions -------------------------------------------------------------


class Expr:
    pass


@dataclass
class Lit(Expr):
    value: object  # str | int | float | bool | None


@dataclass
class Prop(Expr):
    """``var.prop`` — property access on a bound variable (or on a
    nested expression result, e.g. ``date(x).year``)."""

    base: Expr | str  # variable name or nested expression
    name: str


@dataclass
class Var(Expr):
    name: str


@dataclass
class Param(Expr):
    """``$name`` — query parameter, substituted with a literal before
    compilation (compile_cypher's ``params`` argument)."""

    name: str


@dataclass
class FnCall(Expr):
    name: str  # lower-cased
    args: list[Expr]
    distinct: bool = False


@dataclass
class Star(Expr):
    """``*`` inside count(*)."""


@dataclass
class BinOp(Expr):
    op: str  # + - * / %
    left: Expr
    right: Expr


@dataclass
class Cmp(Expr):
    op: str  # = <> < <= > >= IN CONTAINS STARTS_WITH ENDS_WITH
    left: Expr
    right: Expr


@dataclass
class IsNull(Expr):
    """``x IS NULL`` / ``x IS NOT NULL`` (also ``exists(x.prop)``)."""

    part: Expr
    negated: bool = False  # True = IS NOT NULL


@dataclass
class ListExpr(Expr):
    items: list[Expr]


@dataclass
class Index(Expr):
    """0-based list index access: ``labels(n)[0]``."""

    base: Expr
    index: Expr


@dataclass
class ListComp(Expr):
    """``[x IN src WHERE pred | expr]`` — filter and/or map over a list
    (both parts optional)."""

    var: str
    source: Expr
    where: Expr | None = None
    map_expr: Expr | None = None


@dataclass
class ListPred(Expr):
    """``any/all/none/single(x IN src WHERE pred)``."""

    kind: str  # any | all | none | single
    var: str
    source: Expr
    pred: Expr


@dataclass
class Reduce(Expr):
    """``reduce(acc = init, x IN src | expr)``."""

    acc: str
    init: Expr
    var: str
    source: Expr
    expr: Expr


@dataclass
class And(Expr):
    parts: list[Expr]


@dataclass
class Or(Expr):
    parts: list[Expr]


@dataclass
class Not(Expr):
    part: Expr


@dataclass
class PatternPred(Expr):
    """Pattern predicate ``exists((a)-[:T]->(b))`` or the block form
    ``EXISTS { MATCH (a)-[:T]->(b) WHERE ... }`` — a correlated
    semi-join against the enclosing MATCH. Appears only as a top-level
    WHERE conjunct (possibly under NOT); the compiler rejects deeper
    nesting. ``where`` (block form only) filters the subpattern frame
    before the semi-join and may reference subpattern variables only."""

    pattern: "PathPat"
    where: Expr | None = None


@dataclass
class PatternCount(Expr):
    """``COUNT { (a)-[:T]->(b) [WHERE ...] }`` — per-row match count of
    a correlated subpattern (the degree-query idiom). Lowered to a
    groupBy-count on the shared variables' keys + left join +
    coalesce(0); usable anywhere an expression is (WHERE comparisons,
    WITH/RETURN items, inside aggregates)."""

    pattern: "PathPat"
    where: Expr | None = None


@dataclass
class Case(Expr):
    """Searched CASE: WHEN cond THEN value ... [ELSE default] END.
    (Simple CASE ``CASE e WHEN v ...`` is desugared to ``e = v`` whens
    by the parser.)"""

    whens: list[tuple[Expr, Expr]]
    default: Expr | None = None


# -- patterns ----------------------------------------------------------------


@dataclass
class NodePat:
    var: str | None
    label: str | None
    # inline property map: (n:Label {prop: expr, ...}) — equality filters
    props: list[tuple[str, Expr]] = field(default_factory=list)
    # labels beyond the first in a multi-label pattern (n:A:B) — parsed
    # so the compiler can raise a targeted, corrector-repairable error
    # (each node carries exactly one label in this graph model)
    extra_labels: list[str] = field(default_factory=list)


@dataclass
class EdgePat:
    var: str | None
    rel_type: str | None
    reversed: bool  # True for <-[...]-
    props: list[tuple[str, Expr]] = field(default_factory=list)
    # -[...]- with no arrow: orientation resolved from the schema when
    # endpoint labels disambiguate; symmetrized for self-type edges
    undirected: bool = False
    # variable-length: [*], [*n], [*n..m] — None/None means single hop
    min_hops: int | None = None
    max_hops: int | None = None

    @property
    def var_length(self) -> bool:
        return self.min_hops is not None


@dataclass
class PathPat:
    """node (edge node)* — one comma-separated MATCH pattern."""

    nodes: list[NodePat]
    edges: list[EdgePat]  # len(edges) == len(nodes) - 1
    # which MATCH clause of the segment this pattern came from —
    # relationship uniqueness applies within one clause only
    clause: int = 0
    # ``p = shortestPath((a)-[:T*..n]-(b))``: BFS between the endpoint
    # sets instead of a join chain; path_var binds the hop count for
    # ``length(p)``
    shortest: bool = False
    path_var: str | None = None


# -- clauses -----------------------------------------------------------------


@dataclass
class Item:
    expr: Expr
    alias: str | None

    def out_name(self) -> str:
        if self.alias:
            return self.alias
        e = self.expr
        if isinstance(e, Prop) and isinstance(e.base, str):
            return f"{e.base}.{e.name}"
        if isinstance(e, Var):
            return e.name
        raise ValueError("complex projection items need an AS alias")


@dataclass
class Projection:
    """WITH or RETURN: items + optional DISTINCT; aggregate items imply
    Cypher's implicit grouping by the non-aggregate items."""

    items: list[Item]
    distinct: bool = False


@dataclass
class OrderKey:
    expr: Expr
    ascending: bool = True


@dataclass
class CallSub:
    """``CALL { [WITH a, b] <query> }`` subquery clause.

    ``imports`` is the importing-WITH variable list (bare node
    variables only, the openCypher scope rule); empty = uncorrelated.
    The subquery's RETURN columns join the enclosing scope as flat
    aliases; its internal variables do not escape.
    """

    imports: list[str]
    query: "Query"


@dataclass
class Segment:
    """One reading clause group: MATCH clauses (+ OPTIONAL MATCHes and a
    WHERE), optionally terminated by a WITH projection (+ its WHERE).
    A query is a chain of segments ending in RETURN — this is how
    ``MATCH … WITH … MATCH … RETURN`` composes."""

    patterns: list[PathPat] = field(default_factory=list)
    # OPTIONAL MATCH patterns (each with its own WHERE, applied inside
    # the optional join — unmatched rows survive): left-joined onto the
    # mandatory match on their shared node variables
    optional_patterns: list[tuple[PathPat, Expr | None]] = field(
        default_factory=list
    )
    # UNWIND list AS alias clauses (before this segment's WHERE)
    unwinds: list[tuple[Expr, str]] = field(default_factory=list)
    # CALL { } subqueries (applied after this segment's patterns,
    # interleaved with unwinds per `steps`, before its WHERE)
    calls: list["CallSub"] = field(default_factory=list)
    # source order of unwind/call clauses: ("unwind", i) / ("call", i)
    # indices into the two lists — CALL { … RETURN xs } UNWIND xs must
    # apply the CALL first. Empty (hand-built Segment) = unwinds then
    # calls.
    steps: list[tuple[str, int]] = field(default_factory=list)
    where: Expr | None = None
    projection: Projection | None = None  # the terminating WITH
    # WITH-level ORDER BY / SKIP / LIMIT (Cypher's mid-query top-k),
    # applied before proj_where
    proj_order: list["OrderKey"] = field(default_factory=list)
    proj_skip: int | None = None
    proj_limit: int | None = None
    proj_where: Expr | None = None  # WHERE after that WITH


@dataclass
class Query:
    segments: list[Segment]
    ret: Projection | None = None
    order_by: list[OrderKey] = field(default_factory=list)
    skip: int | None = None
    limit: int | None = None
    # UNION chain: (query, is_all) per arm after the first; openCypher
    # forbids mixing UNION and UNION ALL, so is_all is uniform
    unions: list[tuple["Query", bool]] = field(default_factory=list)
    # union-wide ORDER BY / SKIP / LIMIT (openCypher: a trailing ORDER
    # BY after the last arm sorts the whole union; arms themselves may
    # not carry one). Keys may reference output column names only.
    union_order_by: list[OrderKey] = field(default_factory=list)
    union_skip: int | None = None
    union_limit: int | None = None

    # convenience accessors over the first segment (the single-segment
    # view most analysis code needs; whole-query scans use walk)
    @property
    def patterns(self) -> list[PathPat]:
        return self.segments[0].patterns

    @property
    def where(self) -> Expr | None:
        return self.segments[0].where


# -- traversal ---------------------------------------------------------------


def walk(
    node: object, into: Callable[[object], bool] | None = None
) -> Iterator[object]:
    """Every AST node under ``node`` (``node`` itself first), in
    document order: depth-first through dataclass fields in declaration
    order and through list and tuple elements (``Case.whens``,
    ``NodePat.props``, ``Segment.optional_patterns``). Below a node for
    which ``into(node)`` is false nothing is visited; that node itself
    is still yielded. With :func:`substitute_params` (which rewrites
    nodes), the only code that knows how the AST nests."""
    if isinstance(node, (list, tuple)):
        for x in node:
            yield from walk(x, into)
        return
    if not dataclasses.is_dataclass(node) or isinstance(node, type):
        return
    yield node
    if into is None or into(node):
        for f in dataclasses.fields(node):
            yield from walk(getattr(node, f.name), into)


def substitute_params(
    obj: object, params: dict[str, object] | None, missing: set[str]
) -> None:
    """Replace every Param in the AST with a literal, in place.

    Generic dataclass walk: any field (or list/tuple element) that IS a
    Param becomes Lit(params[name]); unsupplied names collect into
    ``missing``. The compiler runs it first, so the rest of compilation
    never sees parameters. (It rewrites fields, so it cannot be a
    filter over :func:`walk`.)"""

    def resolve(p: Param) -> Expr:
        if params is not None and p.name in params:
            v = params[p.name]
            if isinstance(v, (list, tuple)):
                # list parameters become list literals so `x IN $list`
                # compiles through the same path as an inline list
                return ListExpr([Lit(x) for x in v])
            return Lit(v)
        missing.add(p.name)
        return Lit(None)

    def map_val(v: object) -> object:
        if isinstance(v, Param):
            return resolve(v)
        if isinstance(v, list):
            return [map_val(x) for x in v]
        if isinstance(v, tuple):
            return tuple(map_val(x) for x in v)
        rewrite(v)
        return v

    def rewrite(node: object) -> None:
        if isinstance(node, (list, tuple)) or not hasattr(node, "__dict__"):
            return
        for name, value in list(node.__dict__.items()):
            if isinstance(value, Param):
                setattr(node, name, resolve(value))
            elif isinstance(value, (list, tuple)):
                setattr(node, name, map_val(value))
            elif hasattr(value, "__dict__"):
                rewrite(value)

    rewrite(obj)
