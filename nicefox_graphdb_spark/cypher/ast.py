"""openCypher AST.

Shape follows the openCypher grammar (the public spec the reference also
implements — its hand-written AST is reference src/parser.ts). Dataclasses,
plus the one generic traversal at the end of this module (``children``,
``map_children``, ``walk``); the compiler consumes these.
"""

from __future__ import annotations

import dataclasses
import functools
import re
from dataclasses import dataclass, field
from typing import Callable, Iterator, TypeVar
from typing import Literal as Lit
from typing import Optional, Union


@dataclass
class Node:
    """Base of every AST class."""


# --------------------------------------------------------------------------
# Expressions
# --------------------------------------------------------------------------


@dataclass
class Expr(Node):
    pass


@dataclass
class Literal(Expr):
    value: object  # None | bool | int | float | str
    kind: Lit["null", "bool", "int", "float", "string"] = "null"


@dataclass
class Param(Expr):
    name: str
    # parse position of the `$name` token (see Var.pos)
    pos: Optional[tuple] = field(default=None, compare=False, repr=False)


@dataclass
class Var(Expr):
    name: str
    # (line, col) of the identifier token when parsed from text; None for
    # compiler-synthesized nodes. Excluded from equality so synthetic
    # Var(name) still compares equal to a parsed one (round-9 error-parity:
    # semantic errors carry positions like the reference's structured parse
    # errors, src/types.ts:55-68).
    pos: Optional[tuple] = field(default=None, compare=False, repr=False)


@dataclass
class Prop(Expr):
    base: Expr
    key: str
    # (line, col) of the property-name token (see Var.pos)
    pos: Optional[tuple] = field(default=None, compare=False, repr=False)


@dataclass
class Index(Expr):
    base: Expr
    index: Expr


@dataclass
class Slice(Expr):
    base: Expr
    start: Optional[Expr]
    end: Optional[Expr]


@dataclass
class ListLit(Expr):
    items: list[Expr]


@dataclass
class MapLit(Expr):
    items: list[tuple[str, Expr]]


@dataclass
class Unary(Expr):
    op: Lit["-", "+", "NOT"]
    operand: Expr


@dataclass
class Binary(Expr):
    op: str  # + - * / % ^ = <> < <= > >= AND OR XOR IN STARTSWITH ENDSWITH CONTAINS REGEX
    left: Expr
    right: Expr


@dataclass
class IsNull(Expr):
    operand: Expr
    negated: bool = False


@dataclass
class LabelPred(Expr):
    base: Expr
    labels: list[str] = field(default_factory=list)


@dataclass
class Star(Expr):
    pass


@dataclass
class FuncCall(Expr):
    name: str  # lowercased
    args: list[Expr] = field(default_factory=list)
    distinct: bool = False
    # (line, col) of the function-name token (see Var.pos)
    pos: Optional[tuple] = field(default=None, compare=False, repr=False)


@dataclass
class CaseExpr(Expr):
    test: Optional[Expr]  # simple CASE operand, None for searched
    whens: list[tuple[Expr, Expr]] = field(default_factory=list)
    default: Optional[Expr] = None


@dataclass
class ListComp(Expr):
    var: str
    source: Expr
    where: Optional[Expr] = None
    projection: Optional[Expr] = None


@dataclass
class Quantifier(Expr):
    kind: Lit["all", "any", "none", "single"] = "all"
    var: str = ""
    source: Expr = None  # type: ignore[assignment]
    where: Optional[Expr] = None


@dataclass
class Reduce(Expr):
    acc: str
    init: Expr
    var: str
    source: Expr
    body: Expr


@dataclass
class PatternExpr(Expr):
    """A pattern used as an expression: boolean predicate in WHERE, EXISTS(...),
    or the subject of a pattern comprehension."""

    path: "PatternPath"


@dataclass
class ExistsExpr(Expr):
    pattern: "PatternPath"
    where: Optional[Expr] = None


@dataclass
class PatternComp(Expr):
    path: "PatternPath"
    where: Optional[Expr] = None
    projection: Expr = None  # type: ignore[assignment]


# --------------------------------------------------------------------------
# Patterns
# --------------------------------------------------------------------------


@dataclass
class NodePattern(Node):
    var: Optional[str] = None
    labels: list[str] = field(default_factory=list)
    props: Optional[MapLit] = None


@dataclass
class RelPattern(Node):
    var: Optional[str] = None
    types: list[str] = field(default_factory=list)
    direction: Lit["out", "in", "both"] = "both"
    props: Optional[MapLit] = None
    var_length: bool = False
    min_hops: Optional[int] = None  # None => 1 (or 1 for non-varlength)
    max_hops: Optional[int] = None  # None => unbounded (engine default cap)


@dataclass
class PatternPath(Node):
    """Alternating nodes/rels: [NodePattern, RelPattern, NodePattern, ...]."""

    name: Optional[str] = None  # named path p = (...)
    elements: list[Union[NodePattern, RelPattern]] = field(default_factory=list)
    shortest: Optional[Lit["single", "all"]] = None  # shortestPath()/allShortestPaths()

    @property
    def nodes(self) -> list[NodePattern]:
        return [e for e in self.elements if isinstance(e, NodePattern)]

    @property
    def rels(self) -> list[RelPattern]:
        return [e for e in self.elements if isinstance(e, RelPattern)]


# --------------------------------------------------------------------------
# Clauses
# --------------------------------------------------------------------------


@dataclass
class Clause(Node):
    pass


@dataclass
class Match(Clause):
    paths: list[PatternPath]
    optional: bool = False
    where: Optional[Expr] = None


@dataclass
class Unwind(Clause):
    source: Expr
    alias: str = ""


@dataclass
class ReturnItem(Node):
    expr: Expr
    alias: Optional[str] = None  # explicit AS alias


@dataclass
class OrderItem(Node):
    expr: Expr
    desc: bool = False


@dataclass
class Projection(Clause):
    """Shared shape of WITH / RETURN."""

    items: list[ReturnItem]
    distinct: bool = False
    star: bool = False  # RETURN * / WITH *
    order_by: list[OrderItem] = field(default_factory=list)
    skip: Optional[Expr] = None
    limit: Optional[Expr] = None


@dataclass
class With(Projection):
    where: Optional[Expr] = None


@dataclass
class Return(Projection):
    pass


@dataclass
class Create(Clause):
    paths: list[PatternPath] = field(default_factory=list)


@dataclass
class SetItem(Node):
    kind: Lit["prop", "var_replace", "var_merge", "labels"] = "prop"
    target: Optional[Expr] = None  # Prop for kind=prop; Var otherwise
    value: Optional[Expr] = None
    labels: list[str] = field(default_factory=list)


@dataclass
class SetClause(Clause):
    items: list[SetItem] = field(default_factory=list)


@dataclass
class Merge(Clause):
    path: PatternPath = None  # type: ignore[assignment]
    on_create: list[SetItem] = field(default_factory=list)
    on_match: list[SetItem] = field(default_factory=list)
    # (line, col) of the MERGE keyword — runtime MERGE-null errors locate
    # the clause (see Var.pos)
    pos: Optional[tuple] = field(default=None, compare=False, repr=False)


@dataclass
class RemoveItem(Node):
    kind: Lit["prop", "labels"] = "prop"
    target: Optional[Expr] = None
    labels: list[str] = field(default_factory=list)


@dataclass
class Remove(Clause):
    items: list[RemoveItem] = field(default_factory=list)


@dataclass
class Delete(Clause):
    exprs: list[Expr] = field(default_factory=list)
    detach: bool = False
    # (line, col) of the DELETE/DETACH keyword — the dangling-relationship
    # runtime error locates the clause (see Var.pos)
    pos: Optional[tuple] = field(default=None, compare=False, repr=False)


@dataclass
class CallProc(Clause):
    proc: str = ""
    args: list[Expr] = field(default_factory=list)
    yield_items: list[str] = field(default_factory=list)


@dataclass
class Query(Node):
    clauses: list[Clause] = field(default_factory=list)
    # UNION chain: [(all?, Query), ...] appended to this query's result
    unions: list[tuple[bool, "Query"]] = field(default_factory=list)


# --------------------------------------------------------------------------
# Traversal
# --------------------------------------------------------------------------
# The one place that knows where an AST class keeps its sub-nodes. A field
# holds nodes when its annotation names an AST class (`Expr`,
# `Optional[Expr]`, `list[tuple[str, Expr]]`, `"PatternPath"`, ...); names,
# flags, labels and positions are never children. Nodes inside list and
# tuple fields are children in order, so a MapLit's values and a CaseExpr's
# (when, then) pairs are reached like any other child.

N = TypeVar("N", bound=Node)


@functools.cache
def _child_fields(cls: type) -> tuple[str, ...]:
    if not issubclass(cls, Node):
        return ()
    names = {
        n for n, v in globals().items() if isinstance(v, type) and issubclass(v, Node)
    }
    return tuple(
        f.name
        for f in dataclasses.fields(cls)
        if names.intersection(re.findall(r"\w+", f.type))
    )


def _nodes(value) -> Iterator[Node]:
    if isinstance(value, Node):
        yield value
    elif isinstance(value, (list, tuple)):
        for v in value:
            yield from _nodes(v)


def children(node) -> Iterator[Node]:
    """The nodes directly below ``node``, in field order."""
    for name in _child_fields(type(node)):
        yield from _nodes(getattr(node, name))


def walk(value) -> Iterator[Node]:
    """Every node in ``value`` (a node, a list or tuple of nodes, or None)
    and below it, each before its children."""
    for node in _nodes(value):
        yield node
        for child in children(node):
            yield from walk(child)


def map_children(node: N, fn: Callable[[Node], Node]) -> N:
    """A copy of ``node`` in which each child ``c`` is ``fn(c)``, called in
    field order. Every other field, ``pos`` included, is kept; ``node``
    itself comes back when no child changed. Nothing is mutated."""
    changed = {}
    for name in _child_fields(type(node)):
        old = getattr(node, name)
        new = _map(old, fn)
        if new is not old:
            changed[name] = new
    return dataclasses.replace(node, **changed) if changed else node


def _map(value, fn):
    if isinstance(value, Node):
        return fn(value)
    if isinstance(value, (list, tuple)):
        out = [_map(v, fn) for v in value]
        if all(a is b for a, b in zip(out, value)):
            return value
        return type(value)(out)
    return value
