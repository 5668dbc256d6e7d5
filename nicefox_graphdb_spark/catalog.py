"""GraphCatalog — the engine's physical graph model.

The reference stores the whole graph in two row-oriented SQLite tables with
JSON property bags (reference src/db.ts:47-70) and no property indexes. That
design caps out on one node. Here the property graph is a *catalog of typed,
per-label columnar tables*:

- one node DataFrame per label: ``_id: STRING`` + one typed column per
  property key (parquet-backed → predicate pushdown + column pruning);
- one edge DataFrame per (type, src_label, dst_label) triple:
  ``_id, _src, _dst`` + typed property columns. Keeping endpoint labels in
  the catalog lets the compiler prune whole edge tables when the pattern
  constrains an endpoint's label — the distributed analogue of the
  reference's composite ``edges(source_id, type)`` indexes (src/db.ts:64-68).

At cluster scale each table is a parquet/Delta path, bucketed by ``_src``
(edges) / ``_id`` (nodes) so expansion joins co-locate; on local[32] tests
they're plain DataFrames.

Multi-label nodes (reference stores a JSON label array) are modeled by the
same ``_id`` appearing in several label tables; ``labels(n)`` is resolved at
compile time from catalog membership.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nicefox_graphdb_spark.operators.common import local_frame

ID_COL = "_id"
SRC_COL = "_src"
DST_COL = "_dst"
META_COLS = {ID_COL, SRC_COL, DST_COL}


@dataclass
class NodeTable:
    label: str
    df: DataFrame

    @property
    def prop_cols(self) -> list[str]:
        return [c for c in self.df.columns if c not in META_COLS]


DST_COVER_PREFIX = "_dstp_"


@dataclass
class EdgeTable:
    type: str
    src_label: str
    dst_label: str
    df: DataFrame

    @property
    def prop_cols(self) -> list[str]:
        return [
            c
            for c in self.df.columns
            if c not in META_COLS and not c.startswith(DST_COVER_PREFIX)
        ]

    @property
    def dst_covered_props(self) -> list[str]:
        """Destination-node property columns carried on the edge row
        (``_dstp_<prop>``). When an edge and its destination node derive
        from the same physical row (e.g. an FK edge), carrying the node's
        columns on the edge lets the compiler skip the dst-node scan+join
        entirely — one table scan instead of two at 100 TB."""
        return [
            c[len(DST_COVER_PREFIX):]
            for c in self.df.columns
            if c.startswith(DST_COVER_PREFIX)
        ]


@dataclass
class GraphCatalog:
    """Registry of node/edge tables; the compiler's source of truth."""

    spark: SparkSession
    _nodes: dict[str, NodeTable] = field(default_factory=dict)
    _edges: list[EdgeTable] = field(default_factory=list)
    # True once a write MAY have put one node id into several label tables
    # (SET n:Label, CREATE (n:A:B)). Bulk-registered tables are id-disjoint
    # by construction (prefix scheme), so readers skip the membership join
    # entirely until this flips — incremental invalidation, not a scan.
    multi_label_dirty: bool = False
    # monotonically increases on any table (re)registration or mutation —
    # the engine's plan cache keys on it for invalidation (the analogue of
    # the reference's prepared-statement cache, src/db.ts:580-625)
    version: int = 0
    # (version, labels-or-None) → the aligned union-scan DataFrame.
    # Building the union re-aligns every label table's schema column by
    # column (~2 s of py4j round-trips on a 6-label catalog, the single
    # hottest compile cost measured in r11); DataFrames are immutable
    # plans, so reusing the object across compiles of the same catalog
    # version is free. Entries from older versions are dropped on write.
    _union_cache: dict = field(default_factory=dict)

    def touch(self) -> None:
        self.version += 1
        self._union_cache.clear()

    # -- registration -----------------------------------------------------
    def register_node(self, label: str, df: DataFrame) -> None:
        if ID_COL not in df.columns:
            raise ValueError(f"node table {label!r} missing {ID_COL}")
        self._nodes[label] = NodeTable(label, df)
        self.touch()

    def register_edge(
        self, type_: str, src_label: str, dst_label: str, df: DataFrame
    ) -> None:
        for c in (ID_COL, SRC_COL, DST_COL):
            if c not in df.columns:
                raise ValueError(f"edge table {type_!r} missing {c}")
        self._edges.append(EdgeTable(type_, src_label, dst_label, df))
        self.touch()

    # -- lookup -----------------------------------------------------------
    @property
    def labels(self) -> list[str]:
        # "" is the sentinel table for unlabeled nodes — not a label
        return sorted(lbl for lbl in self._nodes if lbl)

    @property
    def edge_types(self) -> list[str]:
        return sorted({e.type for e in self._edges})

    def node(self, label: str) -> NodeTable:
        if label not in self._nodes:
            raise KeyError(f"unknown node label {label!r}; have {self.labels}")
        return self._nodes[label]

    def has_label(self, label: str) -> bool:
        return label in self._nodes

    def edge_tables(
        self,
        types: list[str] | None = None,
        src_label: str | None = None,
        dst_label: str | None = None,
    ) -> list[EdgeTable]:
        """All edge tables matching the constraint — label constraints prune
        entire tables (the scan never happens; cf. reference's reliance on
        SQLite edges(type) indexes)."""
        out = []
        for e in self._edges:
            if types and e.type not in types:
                continue
            if src_label and e.src_label != src_label:
                continue
            if dst_label and e.dst_label != dst_label:
                continue
            out.append(e)
        return out

    # -- schema helpers ---------------------------------------------------
    def node_prop_schema(self, labels: list[str] | None) -> dict[str, T.DataType]:
        """Union of property name→type over the given labels (all if None).
        First-seen type wins on conflict; conflicting-typed props are cast to
        string in union scans."""
        tables = (
            [self._nodes[lbl] for lbl in labels if lbl in self._nodes]
            if labels
            else list(self._nodes.values())
        )
        schema: dict[str, T.DataType] = {}
        for t in tables:
            for f_ in t.df.schema.fields:
                if f_.name in META_COLS:
                    continue
                schema.setdefault(f_.name, f_.dataType)
        return schema

    def union_nodes(self, labels: list[str] | None = None) -> DataFrame:
        """A single scan over one-or-more label tables with a common schema:
        ``_id, _label`` + union-of-props (missing props NULL of the right
        type). Used for untyped ``(n)`` scans and multi-label predicates."""
        key = (self.version, tuple(labels) if labels else None)
        cached = self._union_cache.get(key)
        if cached is not None:
            return cached
        tables = (
            [self.node(lbl) for lbl in labels] if labels else list(self._nodes.values())
        )
        if not tables:
            # empty catalog: MATCH (n) over no data is no rows, not an error
            return local_frame(
                self.spark,
                [],
                T.StructType(
                    [
                        T.StructField(ID_COL, T.StringType()),
                        T.StructField("_label", T.StringType()),
                    ]
                ),
            )
        schema = self.node_prop_schema([t.label for t in tables])
        parts = []
        for t in tables:
            cols = [F.col(ID_COL), F.lit(t.label).alias("_label")]
            have = {f_.name: f_.dataType for f_ in t.df.schema.fields}
            for name, dtype in sorted(schema.items()):
                if name in have:
                    col = F.col(name)
                    if have[name] != dtype:
                        col = col.cast(T.StringType())
                        dtype = T.StringType()  # noqa: PLW2901
                    parts_col = col.alias(name)
                else:
                    parts_col = F.lit(None).cast(dtype).alias(name)
                cols.append(parts_col)
            parts.append(t.df.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        self._union_cache[key] = out
        return out

    def label_membership(self) -> DataFrame:
        """``(_id, _labels)`` — the full, sorted label set of every node id
        (reference returns the whole normalized label array,
        src/executor.ts:10494-10504). One union of the id columns + one
        groupBy; only consulted when ``multi_label_dirty`` (the common
        bulk-loaded graph answers ``labels()`` at compile time)."""
        parts = [
            t.df.select(F.col(ID_COL), F.lit(t.label).alias("_label"))
            for t in self._nodes.values()
        ]
        if not parts:
            raise ValueError("no node tables registered")
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return u.groupBy(ID_COL).agg(
            F.array_remove(  # the sentinel "" is membership, not a label
                F.sort_array(F.collect_set("_label")), ""
            ).alias("_labels")
        )
