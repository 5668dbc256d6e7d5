"""Binding-table model: how Cypher variables map onto DataFrame columns.

The compiler threads a single "binding table" DataFrame through the clause
list (the openCypher driving-table concept). Every Cypher variable owns a
set of namespaced columns in that table:

- node var ``n``   → ``__v_n__id`` (+ ``__v_n__label`` on union scans) and
  one ``__p_n__<key>`` per property column.
- edge var ``r``   → ``__v_r__eid``, ``__v_r__src``, ``__v_r__dst``,
  ``__v_r__type``, plus ``__p_r__<key>``; var-length rels add
  ``__v_r__path`` (ARRAY<STRING> of edge ids) and ``__v_r__len``.
- value var ``x``  → ``__v_x__val``.
- path var ``p``   → ``__v_p__nodes`` / ``__v_p__rels`` (ARRAY<STRING>).

Catalyst sees one flat relational plan — column pruning drops any var's
columns the moment the last clause referencing them is compiled, so carrying
"whole nodes" through the pipeline costs nothing after optimization (unlike
the reference, which re-fetches and JSON-parses property bags per phase,
src/executor.ts:231-305).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import types as T


def _safe(name: str) -> str:
    # binding-table column names must not contain '.', or Spark resolves
    # them as nested-field paths (unaliased `RETURN n.a` projections use
    # the expression text as the variable name)
    return name.replace(".", "·")


def vcol(var: str, fld: str) -> str:
    return f"__v_{_safe(var)}__{fld}"


def pcol(var: str, key: str) -> str:
    return f"__p_{_safe(var)}__{_safe(key)}"


@dataclass
class VarInfo:
    name: str
    kind: str  # node | edge | value | path
    labels: list[str] = field(default_factory=list)  # node: resolved labels
    types: list[str] = field(default_factory=list)  # edge: resolved types
    props: dict[str, T.DataType] = field(default_factory=dict)
    dtype: T.DataType | None = None  # value vars
    tz: str | None = None  # value vars holding zoned datetimes (IANA zone)
    var_length: bool = False  # edge vars bound by *min..max patterns
    has_label_col: bool = False  # node came from a union scan
    # path vars: the statically-known sequence of node / rel variable names
    # (None when the path contains a var-length hop, whose interior
    # elements only exist as ids inside the hop's accumulated arrays)
    path_node_vars: list[str] | None = None
    path_rel_vars: list[str] | None = None
    # edge vars: the far-endpoint labels guaranteed by the chosen edge
    # tables (catalog src/dst label metadata) — lets the compiler elide a
    # label-implied node-table join for structurally-used endpoints
    far_labels: list[str] | None = None
    # value vars holding an ARRAY OF ENTITY IDS (collect(n), [a, b],
    # sliced entity lists): ("node"|"edge", (labels_or_types...)).
    # Property access / UNWIND / RETURN over such arrays rehydrate by
    # joining the entity tables (compiler _entity_comp_rewrite et al.)
    elem_entity: tuple | None = None

    def id_col(self) -> str:
        return vcol(self.name, "id" if self.kind == "node" else "eid")

    def columns(self) -> list[str]:
        """All binding-table columns this variable owns."""
        v = self.name
        if self.kind == "node":
            cols = [vcol(v, "id")]
            if self.has_label_col:
                cols.append(vcol(v, "label"))
            cols += [pcol(v, k) for k in self.props]
            return cols
        if self.kind == "edge":
            cols = [vcol(v, "eid"), vcol(v, "src"), vcol(v, "dst"), vcol(v, "type")]
            if self.var_length:
                cols += [vcol(v, "path"), vcol(v, "len")]
            cols += [pcol(v, k) for k in self.props]
            return cols
        if self.kind == "path":
            return [vcol(v, "nodes"), vcol(v, "rels")]
        return [vcol(v, "val")]

    def renamed(self, new_name: str) -> "VarInfo":
        return replace(self, name=new_name)


@dataclass
class Scope:
    vars: dict[str, VarInfo] = field(default_factory=dict)

    def bind(self, info: VarInfo) -> None:
        self.vars[info.name] = info

    def get(self, name: str) -> VarInfo | None:
        return self.vars.get(name)

    def __contains__(self, name: str) -> bool:
        return name in self.vars

    def copy(self) -> "Scope":
        return Scope(vars=dict(self.vars))
