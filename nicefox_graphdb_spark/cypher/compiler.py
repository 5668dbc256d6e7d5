"""Cypher AST → DataFrame plan compiler.

The reference translates its AST to SQLite SQL *text* and interleaves JS
interpreters for the cases SQL can't express (reference src/translator.ts,
src/executor.ts:494-651). Here every clause is a function
``(CompileState) -> CompileState`` over a single binding-table DataFrame —
Catalyst is the analyzer/optimizer, so there is no phase machinery:
WITH/aggregate/HAVING chains are just chained transformations, and only
variable-length traversal drops to a driver-side loop (operators/var_length).

Pattern-matching strategy (reference emits nested-loop JOINs over SQLite
indexes, src/translator.ts:1560-1610): each hop is an equi-join
``binding ⋈ edges ⋈ nodes`` on ids. Catalyst/AQE choose broadcast vs
shuffled-hash vs sort-merge per side statistics; label constraints prune
entire edge tables at compile time (see catalog.EdgeTable).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import operator
from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nicefox_graphdb_spark.catalog import META_COLS, GraphCatalog
from nicefox_graphdb_spark.cypher import ast
from nicefox_graphdb_spark.cypher.expressions import (
    AGGREGATE_FUNCTIONS,
    CypherCompileError,
    ExprCompiler,
    ExprCtx,
    TypedCol,
    contains_aggregate,
    widen_prop_dtype,
)
from nicefox_graphdb_spark.cypher.scope import Scope, VarInfo, pcol, vcol
from nicefox_graphdb_spark.graph_store import gated, observed
from nicefox_graphdb_spark.operators import var_length as vl
from nicefox_graphdb_spark.operators.common import local_frame


def _expr_var_names(expr) -> set[str]:
    """All variable names referenced anywhere in an expression tree, or in
    a list of them (over-approximate: includes lambda-bound names, which
    callers filter by scope kind)."""
    return {n.name for n in ast.walk(expr) if isinstance(n, ast.Var)}


@dataclass
class CompileState:
    df: DataFrame | None
    scope: Scope

    def require_df(self) -> DataFrame:
        if self.df is None:
            raise CypherCompileError("no driving table at this point in the query")
        return self.df


class CypherToSpark:
    _last_created_n: int | None = None

    def __init__(
        self,
        spark: SparkSession,
        catalog: GraphCatalog,
        params: dict | None = None,
        max_hops: int = vl.DEFAULT_MAX_HOPS,
        store=None,  # MutableGraph for write clauses
        fragment_cache: dict | None = None,
    ):
        self.spark = spark
        self.catalog = catalog
        self.params = params or {}
        self.max_hops = max_hops
        self.store = store
        # engine-owned structural cache of scan fragments: a node/edge scan
        # is a pure function of (var, labels/types/direction, catalog
        # version, multi_label_dirty) — no parameter value ever reaches it
        # (pattern `{k: $v}` filters apply AFTER the scan) — so hot query
        # SHAPES reuse the fragment DataFrames across compiles even when
        # the param values differ (VERDICT r10 #6). DataFrames are
        # immutable plans and VarInfo is treated immutably throughout the
        # compiler, so sharing the objects is safe; Catalyst still sees
        # per-query filters and prunes/pushes down per plan as usual.
        self._fragment_cache = fragment_cache if fragment_cache is not None else {}
        self._sym = itertools.count()
        # (colname, desc) sort keys established by the immediately-preceding
        # sorted WITH — consumed by ordered collect() (reference
        # collectOrderBy, src/translator.ts:2884-2916)
        self._last_order: list[tuple[str, bool]] | None = None
        self._set_order: list[tuple[str, bool]] | None = None
        # node vars used purely structurally (computed per query in
        # _compile_single): their node-table joins may be elided
        self._structural_only: set[str] = set()
        # output columns that render entity property maps (RETURN n,
        # collect(n), paths): the driver-side formatter drops null-valued
        # keys there — a null stored property is an ABSENT property
        # (reference rejects null property values, src/property-value.ts:1-25),
        # so union-schema scans must not leak `k: null` into results
        self.render_entity_cols: set[str] = set()

    def gensym(self, prefix: str) -> str:
        return f"_{prefix}{next(self._sym)}"

    # ------------------------------------------------------------------
    def compile_query(self, q: ast.Query) -> DataFrame:
        out = self._compile_single(q)
        for all_, uq in q.unions:
            right = self._compile_single(uq)
            if set(out.columns) != set(right.columns):
                raise CypherCompileError(
                    "UNION requires identical column names: "
                    f"{out.columns} vs {right.columns}"
                )
            out, right = self._align_union_types(out, right)
            out = out.unionByName(right)
            if not all_:
                out = out.dropDuplicates()
        return out

    @staticmethod
    def _align_union_types(left: DataFrame, right: DataFrame):
        """Columns whose Catalyst types differ across UNION branches keep
        their per-branch value types by riding the tagged-variant encoding
        (Spark's unionByName would silently coerce, turning 1 into '1')."""
        from nicefox_graphdb_spark.cypher.expressions import (
            _TAGGED_T,
            TypedCol,
            _is_tagged,
            _tag_value,
        )

        lt = {f.name: f.dataType for f in left.schema.fields}
        rt = {f.name: f.dataType for f in right.schema.fields}
        for c in left.columns:
            a, b = lt[c], rt[c]
            if a == b:
                continue
            if isinstance(a, T.NullType):
                left = left.withColumn(c, F.col(c).cast(b))
                continue
            if isinstance(b, T.NullType):
                right = right.withColumn(c, F.col(c).cast(a))
                continue
            if not _is_tagged(a):
                left = left.withColumn(
                    c, _tag_value(TypedCol(F.col(c), a))
                )
            if not _is_tagged(b):
                right = right.withColumn(
                    c, _tag_value(TypedCol(F.col(c), b))
                )
        return left, right

    @staticmethod
    def _structural_only_vars(q: ast.Query) -> set[str]:
        """Node variables that appear EXACTLY ONCE, as a bare pattern
        endpoint, and in no expression anywhere in the query. Joining their
        node table is provably redundant when the edge tables already imply
        the label (see _add_hop elision): edges never dangle (plain DELETE
        refuses, DETACH removes incident edges), so endpoint existence is a
        catalog invariant. At 100 TB this removes a whole table scan + join
        per mid-chain hop node."""
        occurrences: dict[str, int] = {}
        expr_refs: set[str] = set()
        for node in ast.walk(q):
            if isinstance(node, ast.Var):
                expr_refs.add(node.name)
            elif isinstance(node, ast.Projection) and any(
                isinstance(item.expr, ast.Star) for item in node.items
            ):
                return set()  # RETURN/WITH * references everything
            elif isinstance(node, ast.PatternPath) and (
                node.name is not None or node.shortest is not None
            ):
                # nodes(p)/relationships(p) can reach every element's
                # properties without an ast.Var mention, so endpoints of a
                # named path are never structural-only.
                expr_refs.update(el.var for el in node.elements if el.var)
            elif isinstance(node, ast.NodePattern) and node.var:
                occurrences[node.var] = occurrences.get(node.var, 0) + 1
        return {v for v, n in occurrences.items() if n == 1 and v not in expr_refs}

    def _compile_single(self, q: ast.Query) -> DataFrame:
        state = CompileState(df=None, scope=Scope())
        final: DataFrame | None = None
        self._set_order = None  # per-query; don't leak a prior query's sort
        self._vl_max_rows = self._limit_bound_for_traversal(q)
        self._structural_only = self._structural_only_vars(q)
        for i, clause in enumerate(q.clauses):
            # a write clause in terminal position can never have its
            # bindings read by a later clause — write fast paths use this
            # to skip uuid-freezing checkpoints (the durable write itself
            # materializes the ids)
            self._terminal_write_clause = i == len(q.clauses) - 1
            if not isinstance(clause, (ast.With, ast.Return)):
                self._last_order = None  # joins/explodes invalidate row order
            if isinstance(clause, ast.Match):
                state = self.compile_match(state, clause)
            elif isinstance(clause, ast.Unwind):
                state = self.compile_unwind(state, clause)
            elif isinstance(clause, ast.With):
                state = self.compile_projection(state, clause, is_return=False)
            elif isinstance(clause, ast.Return):
                if i != len(q.clauses) - 1:
                    raise CypherCompileError("RETURN must be the final clause")
                final = self.compile_return(state, clause)
            elif isinstance(clause, ast.CallProc):
                state = self.compile_call(state, clause)
            elif isinstance(
                clause, (ast.Create, ast.Merge, ast.SetClause, ast.Remove, ast.Delete)
            ):
                if self.store is None:
                    raise CypherCompileError(
                        f"write clause {type(clause).__name__} requires a mutable "
                        "graph store (CypherEngine(..., mutable=True))"
                    )
                if isinstance(clause, ast.Create):
                    state = self.compile_create(state, clause)
                elif isinstance(clause, ast.Merge):
                    state = self.compile_merge(state, clause)
                elif isinstance(clause, ast.SetClause):
                    state = self.compile_set(state, clause)
                elif isinstance(clause, ast.Remove):
                    state = self.compile_remove(state, clause)
                else:
                    state = self.compile_delete(state, clause)
            else:
                raise CypherCompileError(
                    f"unsupported clause {type(clause).__name__}"
                )
        if final is None:
            if q.clauses and isinstance(q.clauses[-1], ast.CallProc) and state.df is not None:
                # standalone CALL: yield the procedure's columns directly
                return state.df.select(
                    *[
                        F.col(vcol(n, "val")).alias(n)
                        for n in state.scope.vars
                    ]
                )
            if any(
                isinstance(
                    c, (ast.Create, ast.Merge, ast.SetClause, ast.Remove, ast.Delete)
                )
                for c in q.clauses
            ):
                # write-only query: empty result set. Built from a 0-row
                # 1-partition range: a bare createDataFrame([], schema)
                # parallelizes the empty seq over defaultParallelism EMPTY
                # partitions, so every write statement's final collect
                # launched a 32-task no-op job (~300 ms each, measured in
                # the r11 event log — the single largest fixed cost of the
                # write bench).
                out = self.spark.range(0, 0, 1, 1).select(
                    F.col("id").alias("_rows")
                )
                # provably empty constant: engine.query() returns [] without
                # collect()ing — the collect of this frame was still one
                # Spark job + ~100-250 ms of planning/event-bus latency per
                # write statement (r12 event-log trace); the mutations
                # themselves already ran eagerly during compilation
                out._nf_write_only_empty = True
                return out
            raise CypherCompileError("query must end with RETURN")
        return final

    def _limit_bound_for_traversal(self, q: ast.Query) -> int | None:
        """LIMIT-aware traversal bound (reference caps var-length expansion
        at min(limit*10, 10000), src/translator.ts:3355-3359). Only safe
        when nothing after the expansion can drop rows or demand global
        order: exactly MATCH (no WHERE) + RETURN LIMIT n with no ORDER BY,
        no DISTINCT, and no aggregates."""
        if len(q.clauses) != 2:
            return None
        m, r = q.clauses
        if not isinstance(m, ast.Match) or not isinstance(r, ast.Return):
            return None
        if m.optional or m.where is not None or len(m.paths) != 1:
            return None
        elements = m.paths[0].elements
        if len(elements) != 3 or m.paths[0].shortest is not None:
            return None
        rel, right = elements[1], elements[2]
        if not (isinstance(rel, ast.RelPattern) and rel.var_length):
            return None
        # anything that filters AFTER the expansion invalidates the bound
        if right.labels or right.props is not None:
            return None
        # a bound right node (e.g. (a)-[:T*]->(a)) adds a post-expansion
        # row-dropping join — the cap would undercount below LIMIT
        left_el = elements[0]
        if right.var is not None and right.var == getattr(left_el, "var", None):
            return None
        if r.order_by or r.distinct or r.limit is None:
            return None
        if any(contains_aggregate(i.expr) for i in r.items):
            return None
        try:
            limit = int(self._static_eval(r.limit))  # type: ignore[arg-type]
        except Exception:  # noqa: BLE001
            return None
        return min(limit * 10, 10_000)

    # -- helpers ------------------------------------------------------------
    def _ctx(self, state: CompileState) -> ExprCtx:
        return ExprCtx(scope=state.scope, params=self.params)

    def _compile_expr(self, state: CompileState, expr: ast.Expr) -> TypedCol:
        return ExprCompiler(self._ctx(state)).compile(expr)

    def _static_eval(self, expr: ast.Expr) -> object:
        """Evaluate a compile-time-constant expression (SKIP/LIMIT, etc.)."""
        if isinstance(expr, ast.Literal):
            return expr.value
        if isinstance(expr, ast.Param):
            if expr.name not in self.params:
                raise CypherCompileError(
                    f"missing parameter ${expr.name}", pos=expr
                )
            return self.params[expr.name]
        if isinstance(expr, ast.Unary) and expr.op == "-":
            val = self._static_eval(expr.operand)
            return -val  # type: ignore[operator]
        if isinstance(expr, ast.Binary) and expr.op in ("+", "-", "*", "/", "%"):
            left = self._static_eval(expr.left)
            right = self._static_eval(expr.right)
            ops = {
                "+": lambda a, b: a + b,
                "-": lambda a, b: a - b,
                "*": lambda a, b: a * b,
                "/": lambda a, b: a // b if isinstance(a, int) else a / b,
                "%": lambda a, b: a % b,
            }
            return ops[expr.op](left, right)
        raise CypherCompileError("expression must be compile-time constant")

    def _skip_limit_count(self, which: str, expr: ast.Expr) -> int:
        """SKIP/LIMIT operand: a compile-time non-negative integer
        (Neo4j 3.5 raises SyntaxError for negatives and non-integers)."""
        v = self._static_eval(expr)
        if isinstance(v, bool) or not isinstance(v, int):
            raise CypherCompileError(
                f"{which}: Invalid input. '{v}' is not a valid value, "
                "must be a non-negative integer.",
                pos=expr,
            )
        if v < 0:
            raise CypherCompileError(
                f"{which}: Invalid input. '{v}' is not a valid value, "
                "must be a non-negative integer.",
                pos=expr,
            )
        return v

    def _empty_nodes(self, var: str) -> tuple[DataFrame, VarInfo]:
        schema = T.StructType([T.StructField(vcol(var, "id"), T.StringType())])
        return (
            local_frame(self.spark, [], schema),
            VarInfo(name=var, kind="node", labels=[], props={}),
        )

    # -- node / edge scans --------------------------------------------------
    def _node_scan(
        self, var: str, labels: list[str]
    ) -> tuple[DataFrame, VarInfo]:
        """A renamed scan of the label's table (or a union scan)."""
        key = (
            "n", var, tuple(labels),
            self.catalog.version, self.catalog.multi_label_dirty,
        )
        hit = self._fragment_cache.get(key)
        if hit is not None:
            return hit
        out = self._node_scan_uncached(var, labels)
        self._fragment_cache[key] = out
        return out

    def _node_scan_uncached(
        self, var: str, labels: list[str]
    ) -> tuple[DataFrame, VarInfo]:
        if len(labels) > 1:
            # multi-label intersection: nodes present in every label table
            base_df, info = self._node_scan(var, [labels[0]])
            for lbl in labels[1:]:
                if not self.catalog.has_label(lbl):
                    return self._empty_nodes(var)
                other = self.catalog.node(lbl).df.select(
                    F.col("_id").alias(vcol(var, "id"))
                )
                base_df = base_df.join(other, on=vcol(var, "id"), how="left_semi")
            return base_df, replace(info, labels=labels)
        if len(labels) == 1:
            lbl = labels[0]
            if not self.catalog.has_label(lbl):
                return self._empty_nodes(var)
            tbl = self.catalog.node(lbl)
            props = {
                f_.name: f_.dataType
                for f_ in tbl.df.schema.fields
                if f_.name != "_id"
            }
            sel = [F.col("_id").alias(vcol(var, "id"))] + [
                F.col(k).alias(pcol(var, k)) for k in props
            ]
            return tbl.df.select(*sel), VarInfo(
                name=var, kind="node", labels=[lbl], props=props
            )
        # untyped scan over all labels
        udf_ = self.catalog.union_nodes()
        if self.catalog.multi_label_dirty:
            # a node living in several label tables is ONE node: merge its
            # per-table rows (first non-null per property, lowest label as
            # the display label). Only paid once writes introduce
            # multi-label membership — the bulk-loaded graph keeps the
            # plain union (disjoint id spaces, no shuffle).
            mcols = [
                F.min("_label").alias("_label"),
                *[
                    F.first(f_.name, ignorenulls=True).alias(f_.name)
                    for f_ in udf_.schema.fields
                    if f_.name not in ("_id", "_label")
                ],
            ]
            udf_ = udf_.groupBy("_id").agg(*mcols)
        props = {
            f_.name: f_.dataType
            for f_ in udf_.schema.fields
            if f_.name not in ("_id", "_label")
        }
        sel = [
            F.col("_id").alias(vcol(var, "id")),
            F.col("_label").alias(vcol(var, "label")),
        ] + [F.col(k).alias(pcol(var, k)) for k in props]
        return udf_.select(*sel), VarInfo(
            name=var,
            kind="node",
            labels=self.catalog.labels,
            props=props,
            has_label_col=True,
        )

    def _prop_conds(
        self, state: CompileState, info: VarInfo, items: list[tuple[str, ast.Expr]]
    ) -> list[Column]:
        """One equality per `{key: value}` pattern entry."""
        ctx = ExprCtx(scope=state.scope, params=self.params)
        conds = []
        for key, value_expr in items:
            value = ExprCompiler(ctx).compile(value_expr)
            if key in info.props:
                conds.append(F.col(pcol(info.name, key)) == value.col)
            else:
                conds.append(F.lit(False))
        return conds

    def _inline_prop_filter(
        self, df: DataFrame, state: CompileState, info: VarInfo, props: ast.MapLit
    ) -> DataFrame:
        """Apply `{key: value}` pattern filters on a scan (pushdown-friendly)."""
        for cond in self._prop_conds(state, info, props.items):
            df = df.where(cond)
        return df

    def _scan_prop_filter(
        self,
        df: DataFrame,
        state: CompileState,
        info: VarInfo,
        props: ast.MapLit | None,
    ) -> tuple[DataFrame, list[Column]]:
        """`{key: value}` filters on a scan that is about to be joined to
        the bound rows. Entries that reference a bound variable
        (`UNWIND [1, 2] AS j MATCH (b {id: j})`) cannot resolve on the bare
        scan: they come back as conditions for the caller's join, so they
        stay equi-join keys. The rest filter the scan."""
        if props is None:
            return df, []
        const: list[tuple[str, ast.Expr]] = []
        correlated: list[tuple[str, ast.Expr]] = []
        for item in props.items:
            bound = _expr_var_names(item[1]) & state.scope.vars.keys()
            (correlated if bound else const).append(item)
        for cond in self._prop_conds(state, info, const):
            df = df.where(cond)
        return df, self._prop_conds(state, info, correlated)

    def _edge_scan(
        self,
        var: str,
        types: list[str],
        direction: str,
        left_labels: list[str] | None,
        right_labels: list[str] | None,
        fuse_var: str | None = None,
    ) -> tuple[DataFrame | None, VarInfo, VarInfo | None]:
        key = (
            "e", var,
            tuple(types) if types else None,
            direction,
            tuple(left_labels) if left_labels else None,
            tuple(right_labels) if right_labels else None,
            fuse_var,
            self.catalog.version, self.catalog.multi_label_dirty,
        )
        hit = self._fragment_cache.get(key)
        if hit is not None:
            return hit
        out = self._edge_scan_uncached(
            var, types, direction, left_labels, right_labels, fuse_var
        )
        self._fragment_cache[key] = out
        return out

    def _edge_scan_uncached(
        self,
        var: str,
        types: list[str],
        direction: str,
        left_labels: list[str] | None,
        right_labels: list[str] | None,
        fuse_var: str | None = None,
    ) -> tuple[DataFrame | None, VarInfo, VarInfo | None]:
        """Standardized oriented edge scan.

        Output columns: __from (side attached to the already-bound left
        node), __to, plus the var's namespaced eid/src/dst/type/props.
        Endpoint label constraints prune entire edge tables at compile time.

        If `fuse_var` is given and every chosen table carries the far node's
        columns on the edge row (EdgeTable.dst_covered_props), the far node
        variable is bound straight from the edge scan — ONE table scan and
        join instead of two (the 100 TB version of a covering index).
        Returns (df, edge_info, fused_far_node_info-or-None).
        """
        orientations = ["out", "in"] if direction == "both" else [direction]
        # collect candidate (table, orientation) pairs. Endpoint-label
        # pruning is sound only while every node carries exactly the label
        # it was scanned under; once multi-label membership exists
        # (SET n:Label / CREATE (:A:B)), an edge keyed under a node's
        # primary label must stay visible to matches on its other labels —
        # the id-equijoin with the (label-correct) node scan then supplies
        # the constraint the pruning would have.
        prune_labels = not self.catalog.multi_label_dirty
        chosen: list[tuple] = []
        for et in self.catalog.edge_tables(types or None):
            for ori in orientations:
                near = et.src_label if ori == "out" else et.dst_label
                far = et.dst_label if ori == "out" else et.src_label
                if prune_labels and left_labels and near not in left_labels:
                    continue
                if prune_labels and right_labels and far not in right_labels:
                    continue
                chosen.append((et, ori))
        if not chosen:
            return None, VarInfo(name=var, kind="edge", types=types, props={}), None
        # fusion eligibility: single known far label, every chosen scan is
        # forward-oriented and covers the full node schema
        fused_info: VarInfo | None = None
        far_labels = {
            (et.dst_label if ori == "out" else et.src_label) for et, ori in chosen
        }
        if fuse_var is not None and len(far_labels) == 1:
            far_label = next(iter(far_labels))
            if self.catalog.has_label(far_label):
                node_props = {
                    f_.name: f_.dataType
                    for f_ in self.catalog.node(far_label).df.schema.fields
                    if f_.name != "_id"
                }
                if all(
                    ori == "out"
                    and set(node_props) <= set(et.dst_covered_props)
                    for et, ori in chosen
                ):
                    fused_info = VarInfo(
                        name=fuse_var,
                        kind="node",
                        labels=[far_label],
                        props=node_props,
                    )
        # union prop schema across chosen tables
        prop_schema: dict[str, T.DataType] = {}
        for et, _ in chosen:
            for f_ in et.df.schema.fields:
                if f_.name in ("_id", "_src", "_dst") or f_.name.startswith("_dstp_"):
                    continue
                prop_schema.setdefault(f_.name, f_.dataType)
        parts = []
        for et, ori in chosen:
            from_col, to_col = ("_src", "_dst") if ori == "out" else ("_dst", "_src")
            base_df = et.df
            if direction == "both" and ori == "in":
                # a self-loop edge matches an undirected pattern ONCE (Neo4j
                # semantics); the 'out' orientation already produced its row
                base_df = base_df.where(F.col("_src") != F.col("_dst"))
            have = {f_.name for f_ in et.df.schema.fields}
            sel = [
                F.col(from_col).alias("__from"),
                F.col(to_col).alias("__to"),
                F.col("_id").alias(vcol(var, "eid")),
                F.col("_src").alias(vcol(var, "src")),
                F.col("_dst").alias(vcol(var, "dst")),
                F.lit(et.type).alias(vcol(var, "type")),
            ]
            for k, dtype in sorted(prop_schema.items()):
                if k in have:
                    sel.append(F.col(k).alias(pcol(var, k)))
                else:
                    sel.append(F.lit(None).cast(dtype).alias(pcol(var, k)))
            if fused_info is not None:
                sel.append(F.col("_dst").alias(vcol(fuse_var, "id")))
                for k in fused_info.props:
                    sel.append(F.col(f"_dstp_{k}").alias(pcol(fuse_var, k)))
            parts.append(base_df.select(*sel))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        info = VarInfo(
            name=var,
            kind="edge",
            types=sorted({et.type for et, _ in chosen}),
            props=prop_schema,
            far_labels=sorted(far_labels),
        )
        return df, info, fused_info

    # -- MATCH ---------------------------------------------------------------
    def compile_match(self, state: CompileState, m: ast.Match) -> CompileState:
        if m.optional:
            return self._compile_optional_match(state, m)
        new_edge_vars: list[VarInfo] = []
        where_scores = self._selectivity_scores(m.where)
        paths = self._order_paths(m.paths, state.scope, where_scores)
        # a var-length hop prunes its seeds by these
        where = self._conjuncts(m.where) if m.where is not None else []
        for path in paths:
            path = self._maybe_reverse_path(path, state.scope, where_scores)
            state = self._compile_path(state, path, new_edge_vars, where)
        state = self._apply_edge_uniqueness(state, new_edge_vars)
        if m.where is not None:
            state = self._apply_where(state, m.where)
        return state

    # -- selectivity-aware pattern ordering ---------------------------------
    # DataFrame-chained joins are NOT reordered by Catalyst/AQE (no CBO
    # stats), so written-order compilation makes a highly selective filter
    # on the LAST pattern element prune only the last join — the full
    # fan-out is materialized first. Anchor each path at its most selective
    # element instead (the reference picks index-backed anchors the same
    # way its SQLite planner would).
    @staticmethod
    def _conjuncts(expr: ast.Expr) -> list[ast.Expr]:
        if isinstance(expr, ast.Binary) and expr.op == "AND":
            return CypherToSpark._conjuncts(expr.left) + CypherToSpark._conjuncts(
                expr.right
            )
        return [expr]

    # expression nodes a var-length seed filter may hold: row-local and
    # deterministic, so a row the filter drops is one WHERE drops too
    _SEED_FILTER_NODES = (
        ast.Literal, ast.Param, ast.Var, ast.Prop, ast.Binary, ast.Unary,
        ast.IsNull, ast.ListLit,
    )

    def _seed_filter(
        self, state: CompileState, var: str, where: list[ast.Expr]
    ) -> Column | None:
        """The conjuncts of ``where`` (the MATCH's WHERE) that read ``var``
        alone and hold only ``_SEED_FILTER_NODES``, compiled as one filter;
        None when there are none. WHERE still applies in full after the
        pattern: this only prunes which rows start a var-length expansion."""
        conds = []
        for c in where:
            if _expr_var_names(c) == {var} and all(
                isinstance(n, self._SEED_FILTER_NODES) for n in ast.walk(c)
            ):
                try:
                    conds.append(self._compile_expr(state, c).col)
                except CypherCompileError:
                    continue
        return functools.reduce(operator.and_, conds) if conds else None

    def _selectivity_scores(self, where: ast.Expr | None) -> dict[str, float]:
        """Per-variable selectivity weight from top-level WHERE conjuncts
        that reference exactly one variable (OR-branches prune nothing)."""
        scores: dict[str, float] = {}
        if where is None:
            return scores
        for c in self._conjuncts(where):
            names = _expr_var_names(c)
            if len(names) != 1:
                continue
            v = next(iter(names))
            if isinstance(c, ast.Binary) and c.op in ("=", "IN"):
                w = 2.0
            elif isinstance(c, ast.Binary) and c.op in (
                "<", "<=", ">", ">=", "STARTSWITH",
            ):
                w = 0.5
            else:
                w = 0.25
            scores[v] = scores.get(v, 0.0) + w
        return scores

    @staticmethod
    def _node_score(
        np_: ast.NodePattern, scope: Scope, where_scores: dict[str, float]
    ) -> float:
        s = 0.0
        if np_.var and np_.var in scope:
            s += 3.0  # already bound: the binding table is the anchor
        if np_.props is not None:
            if any(_expr_var_names(v) - scope.vars.keys() for _, v in np_.props.items):
                # reads a variable the pattern has yet to bind,
                # `(a)-->(b {k: a.k})`: b cannot anchor
                return -1.0
            s += 2.0 * len(np_.props.items)
        if np_.var:
            s += where_scores.get(np_.var, 0.0)
        return s

    def _order_paths(
        self,
        paths: list[ast.PatternPath],
        scope: Scope,
        where_scores: dict[str, float],
    ) -> list[ast.PatternPath]:
        if len(paths) < 2:
            return list(paths)

        def best(p: ast.PatternPath) -> float:
            return max(
                self._node_score(el, scope, where_scores)
                for el in p.elements
                if isinstance(el, ast.NodePattern)
            )

        # stable: ties keep written order
        return sorted(paths, key=best, reverse=True)

    def _maybe_reverse_path(
        self,
        path: ast.PatternPath,
        scope: Scope,
        where_scores: dict[str, float],
    ) -> ast.PatternPath:
        els = path.elements
        if path.name or path.shortest is not None or len(els) < 3:
            return path
        # var-length expansion seeds from the left; keep written orientation
        if any(
            isinstance(e, ast.RelPattern) and e.var_length for e in els
        ):
            return path
        first, last = els[0], els[-1]
        assert isinstance(first, ast.NodePattern) and isinstance(
            last, ast.NodePattern
        )
        if self._node_score(last, scope, where_scores) <= self._node_score(
            first, scope, where_scores
        ):
            return path
        flip = {"out": "in", "in": "out", "both": "both"}
        rev: list = []
        for e in reversed(els):
            if isinstance(e, ast.RelPattern):
                rev.append(replace(e, direction=flip[e.direction]))
            else:
                rev.append(e)
        return replace(path, elements=rev)

    def _compile_path(
        self,
        state: CompileState,
        path: ast.PatternPath,
        new_edge_vars: list[VarInfo],
        where: list[ast.Expr],
    ) -> CompileState:
        elements = path.elements
        first = elements[0]
        assert isinstance(first, ast.NodePattern)
        state, left_var = self._add_node(state, first)
        first_var = left_var
        # path bookkeeping: node-id / edge-id array fragments in order,
        # plus the static element-variable sequence (drops to None at the
        # first var-length hop — its interior nodes have no bound vars)
        node_frags: list = [F.array(F.col(vcol(left_var, "id")))]
        rel_frags: list = []
        static_nodes: list[str] | None = [left_var]
        static_rels: list[str] | None = []
        i = 1
        while i < len(elements):
            rel = elements[i]
            node = elements[i + 1]
            assert isinstance(rel, ast.RelPattern) and isinstance(
                node, ast.NodePattern
            )
            state, left_var, rinfo = self._add_hop(state, left_var, rel, node, where)
            if rinfo is not None:
                new_edge_vars.append(rinfo)
                if rinfo.var_length:
                    rel_frags.append(F.col(vcol(rinfo.name, "path")))
                    node_frags.append(F.col(vcol(rinfo.name, "nodes_seq")))
                    static_nodes = static_rels = None
                else:
                    rel_frags.append(F.array(F.col(vcol(rinfo.name, "eid"))))
                    node_frags.append(F.array(F.col(vcol(left_var, "id"))))
                    if static_nodes is not None and static_rels is not None:
                        static_rels.append(rinfo.name)
                        static_nodes.append(left_var)
            i += 2
        if path.shortest is not None:
            # shortestPath()/allShortestPaths(): keep only minimal-hop rows
            # per (start, end) pair — a window over the BFS expansion
            # (extension beyond the reference, which has no shortest paths)
            from pyspark.sql import Window

            vl_rels = [r for r in new_edge_vars if r.var_length]
            if not vl_rels:
                raise CypherCompileError(
                    "shortestPath() requires a variable-length relationship"
                )
            rel_name = vl_rels[-1].name
            len_col = F.col(vcol(rel_name, "len"))
            w = Window.partitionBy(
                F.col(vcol(first_var, "id")), F.col(vcol(left_var, "id"))
            )
            df = state.require_df()
            df = (
                df.withColumn("__minlen", F.min(len_col).over(w))
                .where(len_col == F.col("__minlen"))
                .drop("__minlen")
            )
            if path.shortest == "single":
                w2 = w.orderBy(len_col, F.col(vcol(rel_name, "path")))
                df = (
                    df.withColumn("__sp_rn", F.row_number().over(w2))
                    .where(F.col("__sp_rn") == 1)
                    .drop("__sp_rn")
                )
            state = CompileState(df=df, scope=state.scope)
        if path.name:
            df = state.require_df()
            nodes_col = (
                F.concat(*node_frags) if len(node_frags) > 1 else node_frags[0]
            )
            rels_col = (
                F.concat(*rel_frags)
                if len(rel_frags) > 1
                else (rel_frags[0] if rel_frags else F.array().cast("array<string>"))
            )
            df = df.withColumn(vcol(path.name, "nodes"), nodes_col).withColumn(
                vcol(path.name, "rels"), rels_col
            )
            scope = state.scope.copy()
            scope.bind(
                VarInfo(
                    name=path.name,
                    kind="path",
                    path_node_vars=static_nodes,
                    path_rel_vars=static_rels,
                )
            )
            state = CompileState(df=df, scope=scope)
        return state

    def _add_node(
        self, state: CompileState, np_: ast.NodePattern, to: str | None = None
    ) -> tuple[CompileState, str]:
        """Bind a pattern node to the frame. `to` names the column holding
        the id a hop just reached (dropped once used). A bound variable
        checks id equality with it, the pattern's labels and its inline
        property map; an unbound one joins its filtered scan on it, on the
        map entries that read bound variables, or crosses onto the rows."""
        var = np_.var or self.gensym("n")
        existing = state.scope.get(var)
        if existing is not None:
            if existing.kind != "node":
                raise CypherCompileError(f"variable `{var}` is not a node")
            df = state.require_df()
            if to is not None:
                df = df.where(F.col(vcol(var, "id")) == F.col(to)).drop(to)
            if np_.labels:
                tc = ExprCompiler(self._ctx(state)).compile(
                    ast.LabelPred(base=ast.Var(var), labels=np_.labels)
                )
                df = df.where(tc.col)
            if np_.props is not None:
                df = self._inline_prop_filter(df, state, existing, np_.props)
            return CompileState(df=df, scope=state.scope), var
        ndf, info = self._node_scan(var, np_.labels)
        ndf, on = self._scan_prop_filter(ndf, state, info, np_.props)
        scope = state.scope.copy()
        scope.bind(info)
        if state.df is None:
            return CompileState(df=ndf, scope=scope), var
        if to is not None:
            on = [state.df[to] == ndf[vcol(var, "id")], *on]
        if not on:
            return CompileState(df=state.df.crossJoin(ndf), scope=scope), var
        joined = state.df.join(ndf, functools.reduce(operator.and_, on))
        if to is not None:
            joined = joined.drop(to)
        return CompileState(df=joined, scope=scope), var

    def _add_hop(
        self,
        state: CompileState,
        left_var: str,
        rel: ast.RelPattern,
        right_np: ast.NodePattern,
        where: list[ast.Expr],
    ) -> tuple[CompileState, str, VarInfo | None]:
        rel_var = rel.var or self.gensym("r")
        left_info = state.scope.get(left_var)
        assert left_info is not None
        # an untyped binding's label list is informational (every proper
        # label at scan time), NOT a constraint — using it to prune would
        # drop ""-keyed edge tables whose endpoints are unlabeled nodes
        left_labels = (
            left_info.labels
            if left_info.labels and not left_info.has_label_col
            else None
        )
        right_existing = (
            state.scope.get(right_np.var) if right_np.var else None
        )
        right_labels: list[str] | None = right_np.labels or None
        if (
            right_labels is None
            and right_existing is not None
            and not right_existing.has_label_col
        ):
            right_labels = right_existing.labels or None

        if rel.var_length:
            return self._add_var_length_hop(
                state,
                left_var,
                rel,
                rel_var,
                right_np,
                left_labels,
                right_labels,
                where,
            )

        rvar = right_np.var or self.gensym("n")
        # node-join elision: a structurally-used endpoint with no props
        # needs no node-table join — the edge scan's endpoint-label
        # constraint already guarantees label AND existence (no dangling
        # edges). Read-only engines only: label REMOVE on a mutable graph
        # could break the label guarantee without touching the edge table.
        elide = (
            self.store is None
            and right_existing is None
            and right_np.props is None
            and (right_np.var is None or right_np.var in self._structural_only)
        )
        fuse_var = rvar if right_existing is None and not elide else None
        edf, rinfo, fused_info = self._edge_scan(
            rel_var, rel.types, rel.direction, left_labels, right_labels,
            fuse_var=fuse_var,
        )
        df = state.require_df()
        if edf is None:
            # no edge table can satisfy the pattern → empty result; still
            # bind the rel var's columns (all-null) so later clauses that
            # reference it (DELETE r, r.prop under OPTIONAL MATCH) resolve
            df = df.where(F.lit(False))
            for c in ("eid", "src", "dst", "type"):
                df = df.withColumn(
                    vcol(rel_var, c), F.lit(None).cast("string")
                )
            scope = state.scope.copy()
            scope.bind(rinfo)
            if right_np.var:
                state2, rv = self._add_node(
                    CompileState(df=df, scope=scope), right_np
                )
                return state2, rv, rinfo
            return CompileState(df=df, scope=scope), left_var, rinfo
        edf, on = self._scan_prop_filter(edf, state, rinfo, rel.props)
        on = [df[vcol(left_var, "id")] == edf["__from"], *on]
        joined = df.join(edf, functools.reduce(operator.and_, on)).drop("__from")
        scope = state.scope.copy()
        scope.bind(rinfo)
        state = CompileState(df=joined, scope=scope)
        if elide:
            # bind only the id (renamed from the edge's far endpoint);
            # props stay empty — by construction nothing ever reads them
            df2 = state.require_df().withColumnRenamed("__to", vcol(rvar, "id"))
            scope2 = state.scope.copy()
            scope2.bind(
                VarInfo(
                    name=rvar,
                    kind="node",
                    labels=right_np.labels or (rinfo.far_labels or []),
                    props={},
                )
            )
            return CompileState(df=df2, scope=scope2), rvar, rinfo
        if fused_info is not None:
            # covered-destination fusion: the edge scan already bound the
            # right node's id+props — no second scan, no second join
            df2 = state.require_df().drop("__to")
            scope2 = state.scope.copy()
            scope2.bind(fused_info)
            state = CompileState(df=df2, scope=scope2)
            if right_np.props is not None:
                state = CompileState(
                    df=self._inline_prop_filter(
                        state.require_df(), state, fused_info, right_np.props
                    ),
                    scope=state.scope,
                )
            return state, rvar, rinfo
        # a bound far node, or one that needs its scan
        state, rvar = self._add_node(state, replace(right_np, var=rvar), to="__to")
        return state, rvar, rinfo

    def _add_var_length_hop(
        self,
        state: CompileState,
        left_var: str,
        rel: ast.RelPattern,
        rel_var: str,
        right_np: ast.NodePattern,
        left_labels: list[str] | None,
        right_labels: list[str] | None,
        where: list[ast.Expr],
    ) -> tuple[CompileState, str, VarInfo]:
        # Oriented edge set for the traversal. Label constraints only prune
        # the first/last hop in general, so for multi-hop we cannot constrain
        # intermediate labels — use type-only pruning.
        edf, vle_info, _ = self._edge_scan(
            "__vle", rel.types, rel.direction, None, None
        )
        df = state.require_df()
        if edf is not None and rel.props is not None:
            # -[r:T* {k: v}]-> applies the property filter to EVERY edge in
            # the path (reference translator.ts edgePropConditions): filter
            # the oriented edge set before expansion. Values must be
            # constants — they can't reference per-row outer bindings here.
            vle_scope = Scope()
            vle_scope.bind(vle_info)
            edf = self._inline_prop_filter(
                edf, CompileState(df=edf, scope=vle_scope), vle_info, rel.props
            )
        min_h = rel.min_hops if rel.min_hops is not None else 1
        if edf is None:
            if min_h > 0:
                empty = df.where(F.lit(False))
                rinfo = VarInfo(
                    name=rel_var, kind="edge", types=rel.types, props={}, var_length=True
                )
                scope = state.scope.copy()
                scope.bind(rinfo)
                st = CompileState(df=empty, scope=scope)
                st, rvar = self._add_node(st, right_np)
                return st, rvar, rinfo
            # no such edge type, but *0..k still includes the zero-hop
            # identity — every left row reaches itself via an empty path
            exp = df.select(
                F.col(vcol(left_var, "id")).alias("__from"),
                F.col(vcol(left_var, "id")).alias("__to"),
                F.array().cast("array<string>").alias(vcol(rel_var, "path")),
                F.array().cast("array<string>").alias(vcol(rel_var, "nodes_seq")),
                F.lit(0).alias(vcol(rel_var, "len")),
            ).distinct()
        else:
            edges = edf.select(
                F.col("__from"),
                F.col("__to"),
                F.col(vcol("__vle", "eid")).alias("__eid"),
            )
            seeds = df
            cond = self._seed_filter(state, left_var, where)
            if cond is not None:
                seeds = seeds.where(cond)
            expansion = vl.var_length_expand(
                edges,
                max(min_h, 1),
                rel.max_hops if rel.max_hops is not None else self.max_hops,
                # not distinct: the expansion dedups the seeds itself, and
                # a distinct here would shuffle in its bounded seed collect
                seed_ids=seeds.select(F.col(vcol(left_var, "id"))),
                max_rows=getattr(self, "_vl_max_rows", None),
            )
            exp = expansion.select(
                F.col(vl.START).alias("__from"),
                F.col(vl.END).alias("__to"),
                F.col(vl.PATH_EIDS).alias(vcol(rel_var, "path")),
                F.col(vl.PATH_NODES).alias(vcol(rel_var, "nodes_seq")),
                F.col(vl.HOPS).alias(vcol(rel_var, "len")),
            )
        if edf is not None and min_h == 0:
            # zero-hop identity: (n)-[*0..k]->(n) — same node, empty path
            ident = df.select(
                F.col(vcol(left_var, "id")).alias("__from"),
                F.col(vcol(left_var, "id")).alias("__to"),
                F.array().cast("array<string>").alias(vcol(rel_var, "path")),
                F.array().cast("array<string>").alias(vcol(rel_var, "nodes_seq")),
                F.lit(0).alias(vcol(rel_var, "len")),
            ).distinct()
            exp = exp.unionByName(ident)
        joined = df.join(exp, df[vcol(left_var, "id")] == exp["__from"]).drop(
            "__from"
        )
        rinfo = VarInfo(
            name=rel_var,
            kind="edge",
            types=rel.types,
            props={},
            var_length=True,
        )
        scope = state.scope.copy()
        scope.bind(rinfo)
        # give the var-length rel src/dst/eid/type columns for uniformity
        joined = (
            joined.withColumn(vcol(rel_var, "eid"), F.lit(None).cast("string"))
            .withColumn(vcol(rel_var, "src"), F.col(vcol(left_var, "id")))
            .withColumn(vcol(rel_var, "dst"), F.col("__to"))
            .withColumn(
                vcol(rel_var, "type"),
                F.lit(rel.types[0] if rel.types else None).cast("string"),
            )
        )
        state, rvar = self._add_node(
            CompileState(df=joined, scope=scope), right_np, to="__to"
        )
        return state, rvar, rinfo

    def _apply_edge_uniqueness(
        self, state: CompileState, edge_vars: list[VarInfo]
    ) -> CompileState:
        """Cypher relationship isomorphism: edges bound in one MATCH are
        pairwise distinct (reference src/translator.ts:2212-2255)."""
        if len(edge_vars) < 2 or state.df is None:
            return state
        df = state.df
        for a, b in itertools.combinations(edge_vars, 2):
            if a.types and b.types and not set(a.types) & set(b.types):
                continue  # disjoint types can never collide
            if not a.var_length and not b.var_length:
                df = df.where(
                    (F.col(vcol(a.name, "eid")) != F.col(vcol(b.name, "eid")))
                    | F.col(vcol(a.name, "eid")).isNull()
                    | F.col(vcol(b.name, "eid")).isNull()
                )
            elif a.var_length and b.var_length:
                df = df.where(
                    ~F.arrays_overlap(
                        F.col(vcol(a.name, "path")), F.col(vcol(b.name, "path"))
                    )
                )
            else:
                fixed, varlen = (a, b) if b.var_length else (b, a)
                df = df.where(
                    ~F.array_contains(
                        F.col(vcol(varlen.name, "path")),
                        F.col(vcol(fixed.name, "eid")),
                    )
                )
        return CompileState(df=df, scope=state.scope)

    # -- OPTIONAL MATCH --------------------------------------------------------
    def _compile_optional_match(
        self, state: CompileState, m: ast.Match
    ) -> CompileState:
        if state.df is None:
            # OPTIONAL MATCH as first clause: like MATCH, except an empty
            # match still yields one all-null row (Cypher left-join from a
            # conceptual unit row)
            inner = self.compile_match(state, replace(m, optional=False))
            unit = self.spark.range(0, 1, 1, 1).select(F.lit(1).alias("__unit"))
            out = unit.join(inner.require_df(), F.lit(True), "left").drop("__unit")
            return CompileState(df=out, scope=inner.scope)
        # variables shared with the outer scope = correlation keys
        pattern_vars = set()
        for path in m.paths:
            for el in path.elements:
                v = getattr(el, "var", None)
                if v:
                    pattern_vars.add(v)
        shared = [v for v in pattern_vars if v in state.scope]
        # outer VALUE variables referenced by the WHERE or a property map
        # must also ride into the correlated sub-plan (e.g. WITH a, a.x AS t
        # OPTIONAL MATCH (a)-->(b) WHERE b.y > t, or (b {y: t})) — they
        # become extra correlation keys
        props = [el.props for path in m.paths for el in path.elements]
        refs = _expr_var_names([m.where, *props])
        for v in sorted(refs):
            info = state.scope.get(v)
            if info is not None and info.kind == "value" and v not in shared:
                shared.append(v)
        shared_cols: list[str] = []
        seed_scope = Scope()
        for v in shared:
            info = state.scope.get(v)
            assert info is not None
            seed_scope.bind(info)
            shared_cols.extend(info.columns())
        if not shared_cols:
            # Disconnected OPTIONAL MATCH: cartesian per outer row, or an
            # all-null extension when the inner pattern has no matches —
            # a left join on TRUE expresses both cases in one plan
            sub_state = self.compile_match(
                CompileState(df=None, scope=Scope()), replace(m, optional=False)
            )
            out = state.df.join(sub_state.require_df(), F.lit(True), "left")
            scope = state.scope.copy()
            for name, info in sub_state.scope.vars.items():
                if name not in scope:
                    scope.bind(info)
            return CompileState(df=out, scope=scope)
        seed = state.df.select(*[F.col(c) for c in shared_cols]).distinct()
        sub_state = CompileState(df=seed, scope=seed_scope)
        sub_state = self.compile_match(sub_state, replace(m, optional=False))
        sub_df = sub_state.require_df()

        def _key(v: str) -> str:
            info = state.scope.get(v)
            assert info is not None
            if info.kind == "node":
                return vcol(v, "id")
            if info.kind == "edge":
                return vcol(v, "eid")
            return vcol(v, "val")

        join_keys = [_key(v) for v in shared]
        # drop duplicated non-key shared columns from the sub side
        dup = [c for c in shared_cols if c not in join_keys]
        sub_df = sub_df.drop(*dup)
        out = state.df.join(sub_df, on=join_keys, how="left")
        scope = state.scope.copy()
        for name, info in sub_state.scope.vars.items():
            if name not in scope:
                scope.bind(info)
        return CompileState(df=out, scope=scope)

    # -- WHERE and pattern predicates ----------------------------------------
    def _rewrite_pattern_predicates(
        self, state: CompileState, expr: ast.Expr
    ) -> tuple[CompileState, ast.Expr]:
        """Replace pattern predicates / EXISTS / pattern comprehensions with
        marker columns computed via semi-join-style subplans."""

        lam_stack: list[str] = []  # comprehension/quantifier vars in scope

        def under(var: str, e: ast.Expr | None) -> ast.Expr | None:
            """``e`` rewritten inside the scope of lambda variable ``var``."""
            if e is None:
                return None
            lam_stack.append(var)
            try:
                return walk(e)
            finally:
                lam_stack.pop()

        def walk(e: ast.Expr) -> ast.Expr:
            nonlocal state
            if (
                isinstance(e, ast.FuncCall)
                and e.name == "labels"
                and len(e.args) == 1
                and isinstance(e.args[0], ast.Var)
                and self.catalog.multi_label_dirty
            ):
                state, repl = self._labels_membership_marker(state, e.args[0].name)
                if repl is not None:
                    return repl
            if (
                isinstance(e, ast.LabelPred)
                and isinstance(e.base, ast.Var)
                and self.catalog.multi_label_dirty
            ):
                # n:Lbl after any multi-label write: the static scan-label
                # answer can be stale (SET n:Lbl adds membership without
                # moving the scan row) — test against the full membership
                # array instead (reference consults the normalized label
                # set, src/executor.ts:10494-10504). Statically-true cases
                # (scan label itself) stay compile-time constants.
                info = state.scope.get(e.base.name)
                statically_true = (
                    info is not None
                    and info.kind == "node"
                    and not info.has_label_col
                    and all(lbl in info.labels for lbl in e.labels)
                )
                if (
                    info is not None
                    and info.kind == "node"
                    and not statically_true
                ):
                    state, marker = self._labels_membership_marker(
                        state, e.base.name
                    )
                    if marker is not None:
                        out: ast.Expr | None = None
                        for lbl in e.labels:
                            test = ast.Binary(
                                "IN", ast.Literal(lbl, "string"), marker
                            )
                            out = (
                                test
                                if out is None
                                else ast.Binary("AND", out, test)
                            )
                        return out
            if (
                isinstance(e, ast.Prop)
                and isinstance(e.base, ast.FuncCall)
                and e.base.name in ("startnode", "endnode")
                and len(e.base.args) == 1
                and isinstance(e.base.args[0], ast.Var)
            ):
                # startNode(r).prop — resolve the endpoint id to a node row
                state, node_var = self._endpoint_node_marker(
                    state, e.base.name, e.base.args[0].name
                )
                if node_var is not None:
                    return ast.Prop(base=ast.Var(node_var), key=e.key)
            if (
                isinstance(e, ast.Prop)
                and isinstance(e.base, ast.Index)
                and isinstance(e.base.base, ast.Var)
                and (ixinfo := state.scope.get(e.base.base.name)) is not None
                and ixinfo.kind == "value"
                and ixinfo.elem_entity is not None
            ):
                # ms[i].prop over an entity-id array: rehydrate the whole
                # property column first, then index — [x IN ms | x.prop][i]
                # (works for any index expression, including negatives)
                fresh = self.gensym("ix")
                return walk(
                    ast.Index(
                        ast.ListComp(
                            fresh,
                            e.base.base,
                            None,
                            ast.Prop(ast.Var(fresh), e.key),
                        ),
                        e.base.index,
                    )
                )
            if isinstance(e, (ast.PatternExpr, ast.ExistsExpr)):
                path = e.path if isinstance(e, ast.PatternExpr) else e.pattern
                where = e.where if isinstance(e, ast.ExistsExpr) else None
                rewritten = self._lambda_pattern_rewrite(
                    state, lam_stack, path, where
                )
                if rewritten is not None:
                    state, ne = rewritten
                    return walk(ne)
                state, out = self._exists_marker(state, path, where)
                return out
            if isinstance(e, ast.PatternComp):
                state, out = self._pattern_comp_column(state, e)
                return out
            if isinstance(e, ast.ListComp):
                r = self._entity_comp_rewrite(state, e)
                if r is not None:
                    state, out = r
                    return out
                return replace(
                    e,
                    source=walk(e.source),
                    where=under(e.var, e.where),
                    projection=under(e.var, e.projection),
                )
            if isinstance(e, ast.Quantifier):
                r = self._entity_quant_rewrite(state, e)
                if r is not None:
                    state, out = r
                    return out
                return replace(
                    e, source=walk(e.source), where=under(e.var, e.where)
                )
            if isinstance(e, ast.Reduce):
                if (
                    self._entity_array_source(state, e.source) is not None
                    and self._expr_touches_entity(e.body, e.var)
                ):
                    # reduce over an entity-id array with property access in
                    # the body: rehydrate the elements to property structs
                    # first (struct field access then compiles natively)
                    fresh = self.gensym("rd")
                    e = replace(
                        e,
                        source=ast.ListComp(
                            fresh,
                            e.source,
                            None,
                            ast.FuncCall("properties", [ast.Var(fresh)]),
                        ),
                    )
                return replace(
                    e,
                    init=walk(e.init),
                    source=walk(e.source),
                    body=under(e.var, e.body),
                )
            return ast.map_children(e, walk)

        out = walk(expr)
        return state, out

    def _labels_membership_marker(
        self, state: CompileState, var: str
    ) -> tuple[CompileState, ast.Expr | None]:
        """labels(n) after any multi-label write: left-join the catalog's
        membership frame (id → sorted full label array, reference
        src/executor.ts:10494-10504) and substitute a value var. Falls back
        to the scan label for ids the join misses (impossible in practice —
        every bound id exists in some table)."""
        info = state.scope.get(var)
        if info is None or info.kind != "node":
            return state, None
        marker = self.gensym("lbls")
        df = state.require_df()
        mem = self.catalog.label_membership().select(
            F.col("_id").alias(info.id_col()),
            F.col("_labels").alias(vcol(marker, "val")),
        )
        out = df.join(mem, on=info.id_col(), how="left")
        scope = state.scope.copy()
        scope.bind(
            VarInfo(
                name=marker,
                kind="value",
                dtype=T.ArrayType(T.StringType()),
            )
        )
        return CompileState(df=out, scope=scope), ast.Var(marker)

    def _endpoint_node_marker(
        self, state: CompileState, fn: str, rel_var: str
    ) -> tuple[CompileState, str | None]:
        """Bind startNode(r)/endNode(r) as a real node variable via a
        left-join of the untyped node scan on the stored src/dst id
        (reference resolves endpoint rows the same way,
        src/executor.ts startNode/endNode handling)."""
        info = state.scope.get(rel_var)
        if info is None or info.kind != "edge":
            return state, None
        marker = self.gensym("ep")
        side = "src" if fn == "startnode" else "dst"
        df = state.require_df()
        ndf, ninfo = self._node_scan(marker, [])
        joined = df.join(
            ndf,
            df[vcol(rel_var, side)] == ndf[vcol(marker, "id")],
            "left",
        )
        scope = state.scope.copy()
        scope.bind(ninfo)
        return CompileState(df=joined, scope=scope), marker

    def _pattern_anchors(
        self, state: CompileState, path: ast.PatternPath
    ) -> list[str]:
        anchors = []
        for el in path.elements:
            v = getattr(el, "var", None)
            if v and v in state.scope:
                anchors.append(v)
        return anchors

    @staticmethod
    def _refs_vars(expr, names: list[str]) -> bool:
        """Does the expression tree reference any of the given variables?"""
        return not _expr_var_names(expr).isdisjoint(names)

    def _lambda_pattern_rewrite(
        self,
        state: CompileState,
        lam_stack: list[str],
        path: ast.PatternPath,
        where: ast.Expr | None,
    ) -> tuple[CompileState, ast.Expr] | None:
        """Pattern predicate depending on comprehension/quantifier/reduce
        variables — as an ENDPOINT (`[x IN xs WHERE (x)-[:R]->(:B)]`, x over
        collected node ids) or inside a PROPERTY expression
        (`ALL(t IN names WHERE (a)-[:R]->({name: t}))`).

        A lambda element can't seed a join, but the predicate only depends
        on the lambda value itself: hoist the pattern into a PATTERN
        COMPREHENSION (correlated on every OUTER anchor, computed once per
        row) that projects the constrained slots — the endpoint's id and
        each lambda-referencing property's stored value — and rewrite the
        predicate to a membership test evaluated inside the lambda:

            (a)-[:R]->(:B {name: t})  →  coalesce(t IN [(a)-[:R]->(f:B) | f.name], false)
            (x)-[:R]->(:B)            →  coalesce(x IN [(f)-[:R]->(:B) | f], false)

        coalesce(.., false) preserves pattern-predicate truth: a null
        lambda value never matches (it yields null inside IN). Returns None
        when the pattern has no lambda dependence."""
        if not lam_stack:
            return None
        endpoint_refs = [
            v
            for v in lam_stack
            if any(getattr(el, "var", None) == v for el in path.elements)
        ]
        prop_refs = any(
            el.props is not None and self._refs_vars(el.props, lam_stack)
            for el in path.elements
        )
        where_dep = where is not None and self._refs_vars(where, lam_stack)
        if not endpoint_refs and not prop_refs and not where_dep:
            return None
        lhs_exprs: list[ast.Expr] = []
        rhs_exprs: list[ast.Expr] = []
        new_elems: list = []
        for el in path.elements:
            v = getattr(el, "var", None)
            if v is not None and v in lam_stack:
                # node OR relationship lambda element: both rewrite to
                # entity membership over the hoisted comprehension
                # (entities compare by identity; reference correlates
                # these in-SQL, src/translator.ts:12251-12340)
                fresh = self.gensym("lx")
                el = replace(el, var=fresh)
                lhs_exprs.append(ast.Var(v))
                rhs_exprs.append(ast.Var(fresh))
            props = getattr(el, "props", None)
            if props is not None and self._refs_vars(props, lam_stack):
                var = getattr(el, "var", None)
                if var is None:
                    var = self.gensym("lp")
                    el = replace(el, var=var)
                keep: list[tuple[str, ast.Expr]] = []
                for k, vexpr in props.items:
                    if self._refs_vars(vexpr, lam_stack):
                        lhs_exprs.append(vexpr)
                        rhs_exprs.append(ast.Prop(ast.Var(var), k))
                    else:
                        keep.append((k, vexpr))
                el = replace(
                    el, props=ast.MapLit(items=keep) if keep else None
                )
            new_elems.append(el)
        npath = replace(path, elements=new_elems)
        if not where_dep:
            lhs = (
                lhs_exprs[0] if len(lhs_exprs) == 1 else ast.ListLit(lhs_exprs)
            )
            proj = (
                rhs_exprs[0] if len(rhs_exprs) == 1 else ast.ListLit(rhs_exprs)
            )
            new_expr: ast.Expr = ast.FuncCall(
                "coalesce",
                [
                    ast.Binary(
                        "IN",
                        lhs,
                        ast.PatternComp(
                            path=npath, where=where, projection=proj
                        ),
                    ),
                    ast.Literal(False, "bool"),
                ],
            )
            return state, new_expr
        # The predicate WHERE references a lambda variable (reference
        # correlates these in-SQL, src/translator.ts:12251-12340). The
        # lambda value isn't a column inside the hoisted comprehension, so:
        # hoist every maximal pattern-local subexpression of the dependent
        # conjuncts into the comprehension's PROJECTION (struct slots), keep
        # lambda-independent conjuncts as the comprehension's WHERE, and
        # evaluate the residual predicate inside an ANY quantifier over the
        # collected array:
        #   all(x IN xs WHERE (a)-[:R]->(m) WHERE m.v = x)
        #   → all(x IN xs WHERE coalesce(
        #         any(_s IN [(a)-[:R]->(m) | {w0: m.v}] WHERE _s.w0 = x),
        #         false))
        # Endpoint/prop lambda refs become equality conjuncts on `m{i}`
        # slots instead of the IN-tuple form.
        pattern_locals = [
            v
            for el in new_elems
            if (v := getattr(el, "var", None)) and v not in state.scope
        ]
        indep: list[ast.Expr] = []
        dep: list[ast.Expr] = []

        def split(e: ast.Expr) -> None:
            if isinstance(e, ast.Binary) and e.op == "AND":
                split(e.left)
                split(e.right)
            elif self._refs_vars(e, lam_stack):
                dep.append(e)
            else:
                indep.append(e)

        split(where)
        sname = self.gensym("ls")
        slots: list[tuple[str, ast.Expr]] = []

        def hoist(e: ast.Expr) -> ast.Expr:
            refs_lam = self._refs_vars(e, lam_stack)
            refs_pat = self._refs_vars(e, pattern_locals)
            if refs_pat and not refs_lam:
                key = f"w{len(slots)}"
                slots.append((key, e))
                return ast.Prop(ast.Var(sname), key)
            if not refs_pat:
                return e
            return ast.map_children(e, hoist)

        residual: list[ast.Expr] = [hoist(e) for e in dep]
        proj_items: list[tuple[str, ast.Expr]] = []
        for i, (l_, r_) in enumerate(zip(lhs_exprs, rhs_exprs)):
            key = f"m{i}"
            proj_items.append((key, r_))
            residual.append(
                ast.Binary("=", l_, ast.Prop(ast.Var(sname), key))
            )
        proj_items.extend(slots)
        inner = residual[0]
        for e in residual[1:]:
            inner = ast.Binary("AND", inner, e)
        iw: ast.Expr | None = None
        for e in indep:
            iw = e if iw is None else ast.Binary("AND", iw, e)
        comp = ast.PatternComp(
            path=npath, where=iw, projection=ast.MapLit(items=proj_items)
        )
        return state, ast.FuncCall(
            "coalesce",
            [
                ast.Quantifier("any", sname, comp, inner),
                ast.Literal(False, "bool"),
            ],
        )

    def _exists_marker(
        self, state: CompileState, path: ast.PatternPath, where: ast.Expr | None
    ) -> tuple[CompileState, ast.Expr]:
        marker = self.gensym("m")
        df = state.require_df()
        anchors = self._pattern_anchors(state, path)
        anchor_cols: list[str] = []
        seed_scope = Scope()
        for v in anchors:
            info = state.scope.get(v)
            assert info is not None
            seed_scope.bind(info)
            anchor_cols.extend(info.columns())
        if anchors:
            seed = df.select(*anchor_cols).distinct()
            sub = CompileState(df=seed, scope=seed_scope)
            sub = self.compile_match(
                sub, ast.Match(paths=[path], optional=False, where=where)
            )
            keys = [state.scope.get(v).id_col() for v in anchors]  # type: ignore[union-attr]
            marker_df = (
                sub.require_df()
                .select(*keys)
                .distinct()
                .withColumn(vcol(marker, "val"), F.lit(True))
            )
            out = df.join(marker_df, on=keys, how="left")
        else:
            sub = CompileState(df=None, scope=Scope())
            sub = self.compile_match(
                sub, ast.Match(paths=[path], optional=False, where=where)
            )
            # lazy uncorrelated EXISTS: fold the emptiness probe into the
            # plan as a broadcast 1-row boolean (the PageRank dangling-mass
            # shape, operators/graph_algos.py:260-276) — compiling the
            # query schedules ZERO Spark jobs; the flag evaluates with the
            # query itself (round-9, VERDICT r8 #6)
            ones = (
                sub.require_df()
                .limit(1)
                .agg((F.count(F.lit(1)) > F.lit(0)).alias(vcol(marker, "val")))
            )
            out = df.crossJoin(F.broadcast(ones))
        scope = state.scope.copy()
        scope.bind(VarInfo(name=marker, kind="value", dtype=T.BooleanType()))
        new_expr = ast.FuncCall("coalesce", [ast.Var(marker), ast.Literal(False, "bool")])
        return CompileState(df=out, scope=scope), new_expr

    def _pattern_comp_column(
        self, state: CompileState, e: ast.PatternComp
    ) -> tuple[CompileState, ast.Expr]:
        """[ (a)-[:T]->(b) WHERE p | proj ]  →  grouped collect re-joined."""
        out_var = self.gensym("pc")
        df = state.require_df()
        anchors = self._pattern_anchors(state, e.path)
        if not anchors:
            # unanchored: the comprehension is row-independent — compute it
            # ONCE (uncorrelated subplan → single collected array) and
            # broadcast-cross-join the 1-row result onto every row
            sub = self.compile_match(
                CompileState(df=None, scope=Scope()),
                ast.Match(paths=[e.path], optional=False, where=e.where),
            )
            proj = ExprCompiler(self._ctx(sub)).compile(e.projection)
            ones = sub.require_df().agg(
                F.collect_list(proj.col).alias(vcol(out_var, "val"))
            )
            coll_type = ones.schema[vcol(out_var, "val")].dataType
            ones = ones.withColumn(
                vcol(out_var, "val"),
                F.coalesce(
                    F.col(vcol(out_var, "val")), F.array().cast(coll_type)
                ),
            )
            out = df.crossJoin(F.broadcast(ones))
            scope = state.scope.copy()
            scope.bind(
                VarInfo(
                    name=out_var,
                    kind="value",
                    dtype=T.ArrayType(proj.dtype) if proj.dtype else None,
                )
            )
            return CompileState(df=out, scope=scope), ast.Var(out_var)
        anchor_cols: list[str] = []
        seed_scope = Scope()
        for v in anchors:
            info = state.scope.get(v)
            assert info is not None
            seed_scope.bind(info)
            anchor_cols.extend(info.columns())
        seed = df.select(*anchor_cols).distinct()
        sub = CompileState(df=seed, scope=seed_scope)
        sub = self.compile_match(
            sub, ast.Match(paths=[e.path], optional=False, where=e.where)
        )
        proj = ExprCompiler(self._ctx(sub)).compile(e.projection)
        keys = [state.scope.get(v).id_col() for v in anchors]  # type: ignore[union-attr]
        grouped = (
            sub.require_df()
            .groupBy(*keys)
            .agg(F.collect_list(proj.col).alias(vcol(out_var, "val")))
        )
        out = df.join(grouped, on=keys, how="left")
        elem = proj.dtype
        # type the no-match empty list from the collected column's actual
        # schema (proj.dtype can be unknown, e.g. a projected path struct)
        coll_type = grouped.schema[vcol(out_var, "val")].dataType
        out = out.withColumn(
            vcol(out_var, "val"),
            F.coalesce(
                F.col(vcol(out_var, "val")), F.array().cast(coll_type)
            ),
        )
        scope = state.scope.copy()
        scope.bind(
            VarInfo(
                name=out_var,
                kind="value",
                dtype=T.ArrayType(elem) if elem else None,
            )
        )
        return CompileState(df=out, scope=scope), ast.Var(out_var)

    _ENTITY_FNS = {
        "labels",
        "type",
        "properties",
        "keys",
        "id",
        "startnode",
        "endnode",
    }

    def _expr_touches_entity(self, expr, var: str) -> bool:
        """Does `expr` use `var` as an ENTITY (property access / graph
        function), not merely as an opaque value?"""
        v = ast.Var(var)
        return any(
            (isinstance(x, ast.Prop) and x.base == v)
            or (
                isinstance(x, ast.FuncCall)
                and x.name in self._ENTITY_FNS
                and v in x.args
            )
            for x in ast.walk(expr)
        )

    def _entity_array_source(
        self, state: CompileState, src: ast.Expr
    ) -> tuple[str, list[str], str | None] | None:
        """If `src` evaluates to an ARRAY OF ENTITY IDS — nodes(p) /
        relationships(p) over a var-length path, or a var-length rel list
        variable — return (kind, types, id_array_column_or_None)."""
        if (
            isinstance(src, ast.FuncCall)
            and src.name in ("nodes", "relationships")
            and len(src.args) == 1
            and isinstance(src.args[0], ast.Var)
        ):
            pinfo = state.scope.get(src.args[0].name)
            if pinfo is not None and pinfo.kind == "path":
                static = (
                    pinfo.path_node_vars
                    if src.name == "nodes"
                    else pinfo.path_rel_vars
                )
                if static is not None:
                    # fixed-length path: the per-element static compilation
                    # in ExprCompiler is typed and join-free — leave it
                    return None
                return ("node" if src.name == "nodes" else "edge", [], None)
        if isinstance(src, ast.Var):
            sinfo = state.scope.get(src.name)
            if sinfo is not None and sinfo.kind == "edge" and sinfo.var_length:
                # a var-length rel variable IS a list of relationships; its
                # id array is the accumulated path column
                return ("edge", sinfo.types, vcol(src.name, "path"))
            if (
                sinfo is not None
                and sinfo.kind == "value"
                and sinfo.elem_entity is not None
                and isinstance(sinfo.dtype, T.ArrayType)
                and not isinstance(sinfo.dtype.elementType, T.ArrayType)
            ):
                # collect(n) / [a, b] / sliced entity lists: a tagged id
                # array — rehydrate via the same join machinery (nested
                # entity lists peel a level via UNWIND first)
                kind, types = sinfo.elem_entity
                return (kind, list(types) if kind == "edge" else [], vcol(src.name, "val"))
        if isinstance(src, ast.Slice):
            inner = self._entity_array_source(state, src.base)
            if inner is not None:
                # a slice of an entity array is still an entity array; the
                # caller compiles the slice expression itself (ids_col=None)
                return (inner[0], inner[1], None)
        return None

    def _entity_comp_rewrite(
        self, state: CompileState, e: ast.ListComp
    ) -> tuple[CompileState, ast.Expr] | None:
        """[x IN nodes(p) | x.prop] over a var-length path: the array holds
        entity IDS (the BFS accumulates ids only — carrying property structs
        through every frontier join would widen the 100 TB shuffle for
        everyone). Rehydrate on demand: posexplode → join the entity table →
        ordered re-collect, the same shape as pattern comprehensions
        (reference rehydrates path elements at format time,
        src/executor.ts:10434-10488)."""
        meta = self._entity_array_source(state, e.source)
        if meta is None:
            return None
        kind, types, ids_col = meta
        needs = any(
            x is not None and self._expr_touches_entity(x, e.var)
            for x in (e.where, e.projection)
        )
        if not needs:
            return None
        out_var = self.gensym("ec")
        key = vcol(out_var, "key")
        iv = self.gensym("ei")
        orig_cols = list(state.require_df().columns)
        # no checkpoint / self-join: explode, join the entity table, then
        # re-group carrying the original row's columns through first() —
        # one shuffle, fully lazy (compilation triggers no Spark job)
        df0 = state.require_df().withColumn(
            key, F.monotonically_increasing_id()
        )
        src_col = (
            F.col(ids_col)
            if ids_col is not None
            else self._compile_expr(
                CompileState(df=df0, scope=state.scope), e.source
            ).col
        )
        # _outer keeps rows whose array is empty/null (pos comes out null)
        ex = df0.select(
            "*", F.posexplode_outer(src_col).alias("__ec_pos", "__ec_id")
        )
        if kind == "node":
            lookup, einfo = self._node_scan(iv, [])
        else:
            lookup, einfo, _ = self._edge_scan(iv, types, "out", None, None)
            if lookup is not None:
                lookup = lookup.drop("__from", "__to")
        if lookup is None:
            lookup = local_frame(
                self.spark,
                [],
                T.StructType([T.StructField(einfo.id_col(), T.StringType())]),
            )
        joined = ex.join(
            lookup, ex["__ec_id"] == lookup[einfo.id_col()], "left"
        )
        sub_scope = state.scope.copy()
        sub_scope.bind(einfo)
        sub = CompileState(df=joined, scope=sub_scope)
        subst = ExprCompiler._subst_var
        # element predicate folds into the collect condition (not a row
        # filter — a row whose elements all fail must survive with [])
        collect_cond = F.col("__ec_pos").isNotNull()
        if e.where is not None:
            # pattern predicates over the (now join-bound) element compile
            # as ordinary anchored exists markers on the exploded frame
            sub, w_ast = self._rewrite_pattern_predicates(
                sub, subst(e.where, e.var, iv)
            )
            w_tc = self._compile_expr(sub, w_ast)
            # 3VL: null predicate → element not collected (filter semantics)
            collect_cond = collect_cond & w_tc.col
        proj_ast = (
            subst(e.projection, e.var, iv)
            if e.projection is not None
            else ast.Var(iv)
        )
        sub, proj_ast = self._rewrite_pattern_predicates(sub, proj_ast)
        val_tc = self._compile_expr(sub, proj_ast)
        grouped = sub.require_df().groupBy(key).agg(
            F.array_sort(
                F.collect_list(
                    F.when(
                        collect_cond,
                        F.struct(
                            F.col("__ec_pos").alias("p"), val_tc.col.alias("v")
                        ),
                    )
                )
            ).alias("__ec_coll"),
            *[F.first(F.col(c)).alias(c) for c in orig_cols],
        )
        coll_type = grouped.schema["__ec_coll"].dataType
        out = grouped.select(*orig_cols, key, "__ec_coll")
        arr = F.transform(
            F.coalesce(F.col("__ec_coll"), F.array().cast(coll_type)),
            lambda s: s["v"],
        )
        src_on_out = (
            F.col(ids_col)
            if ids_col is not None
            else self._compile_expr(
                CompileState(df=out, scope=state.scope), e.source
            ).col
        )
        out = out.withColumn(
            vcol(out_var, "val"),
            F.when(src_on_out.isNull(), F.lit(None)).otherwise(arr),
        ).drop("__ec_coll", key)
        scope = state.scope.copy()
        scope.bind(
            VarInfo(
                name=out_var,
                kind="value",
                dtype=T.ArrayType(val_tc.dtype) if val_tc.dtype else None,
            )
        )
        return CompileState(df=out, scope=scope), ast.Var(out_var)

    def _entity_quant_rewrite(
        self, state: CompileState, e: ast.Quantifier
    ) -> tuple[CompileState, ast.Expr] | None:
        """all/any/none/single over an entity-id array with a property
        predicate: collect the predicate values via the entity-comp rewrite,
        then quantify over the boolean list (3VL preserved)."""
        if self._entity_array_source(state, e.source) is None:
            return None
        if e.where is None or not self._expr_touches_entity(e.where, e.var):
            return None
        st2, marker = self._entity_comp_rewrite(
            state,
            ast.ListComp(
                var=e.var, source=e.source, where=None, projection=e.where
            ),
        )
        fresh = self.gensym("qv")
        return st2, ast.Quantifier(
            kind=e.kind, var=fresh, source=marker, where=ast.Var(fresh)
        )

    def _apply_where(self, state: CompileState, where: ast.Expr) -> CompileState:
        state, rewritten = self._rewrite_pattern_predicates(state, where)
        tc = self._compile_expr(state, rewritten)
        return CompileState(df=state.require_df().where(tc.col), scope=state.scope)

    # -- UNWIND ---------------------------------------------------------------
    def compile_unwind(self, state: CompileState, u: ast.Unwind) -> CompileState:
        if state.scope.get(u.alias) is not None:
            # Neo4j: UNWIND may not shadow a bound variable
            raise CypherCompileError(
                f"variable `{u.alias}` already declared"
            )
        if state.df is None:
            state = CompileState(
                df=self.spark.range(0, 1, 1, 1).select(), scope=state.scope
            )
        src = u.source
        if (
            isinstance(src, ast.FuncCall)
            and src.name in ("nodes", "relationships")
            and len(src.args) == 1
            and isinstance(src.args[0], ast.Var)
        ):
            pinfo = state.scope.get(src.args[0].name)
            if pinfo is not None and pinfo.kind == "path":
                elem_vars = (
                    pinfo.path_node_vars
                    if src.name == "nodes"
                    else pinfo.path_rel_vars
                )
                if elem_vars:
                    # static path: bind the alias as a real entity variable
                    # per element (union expansion), so property access /
                    # labels()/type() on the unwound rows stay typed columns
                    return self._unwind_path_elems(
                        state, u.alias, elem_vars, node=(src.name == "nodes")
                    )
                # var-length path: interior elements exist only as ids in
                # the accumulated arrays — explode, then re-bind entities
                # by joining the union scan on id (one hash join)
                return self._unwind_path_ids(
                    state, u.alias, pinfo, node=(src.name == "nodes")
                )
        state, src_ast = self._rewrite_pattern_predicates(state, u.source)
        tc = self._compile_expr(state, src_ast)
        if isinstance(tc.dtype, T.ArrayType) and tc.entity is not None:
            if isinstance(tc.dtype.elementType, T.ArrayType):
                # nested entity lists (collect of collected lists): one
                # UNWIND peels one level; the element keeps the tag
                exploded = F.explode(tc.col).alias(vcol(u.alias, "val"))
                df = state.require_df()
                out = (
                    df.select(*df.columns, exploded)
                    if df.columns
                    else df.select(exploded)
                )
                scope = state.scope.copy()
                scope.bind(
                    VarInfo(
                        name=u.alias,
                        kind="value",
                        dtype=tc.dtype.elementType,
                        elem_entity=tc.entity,
                    )
                )
                return CompileState(df=out, scope=scope)
            # UNWIND over an entity-id array (collect(n), [a, b]): bind the
            # alias as a FULL entity by joining the entity tables on id, so
            # property access / labels() / patterns over it stay native
            return self._unwind_entity_ids(
                state, u.alias, tc.col, tc.entity
            )
        df = state.require_df()
        src_col = tc.col
        if isinstance(tc.dtype, T.NullType):
            # UNWIND null → no rows; give explode a typed (null) array
            src_col = src_col.cast("array<string>")
        elif tc.dtype is not None and not isinstance(tc.dtype, T.ArrayType):
            # UNWIND of a non-list scalar yields that single value as one
            # row (reference json_each over a scalar JSON value)
            scope = state.scope.copy()
            scope.bind(VarInfo(name=u.alias, kind="value", dtype=tc.dtype))
            out = df.withColumn(vcol(u.alias, "val"), src_col)
            return CompileState(df=out, scope=scope)
        exploded = F.explode(src_col).alias(vcol(u.alias, "val"))
        out = df.select(*df.columns, exploded) if df.columns else df.select(exploded)
        elem = tc.dtype.elementType if isinstance(tc.dtype, T.ArrayType) else None
        scope = state.scope.copy()
        scope.bind(VarInfo(name=u.alias, kind="value", dtype=elem))
        return CompileState(df=out, scope=scope)

    def _unwind_path_elems(
        self,
        state: CompileState,
        alias: str,
        elem_vars: list[str],
        node: bool,
    ) -> CompileState:
        """UNWIND nodes(p)/relationships(p) over a STATIC path: one union
        branch per path element, the alias bound to that element's columns
        — the distributed equivalent of iterating the path object
        (reference path values are JSON arrays of full entities,
        src/translator.ts:4650-4720)."""
        df = state.require_df()
        infos = [state.scope.get(v) for v in elem_vars]
        assert all(i is not None for i in infos)
        props: dict[str, T.DataType] = {}
        for info in infos:
            for k, t in info.props.items():
                props.setdefault(k, t)
        parts = []
        for info in infos:
            part = df
            if node:
                part = part.withColumn(
                    vcol(alias, "id"), F.col(vcol(info.name, "id"))
                )
                lbl = (
                    F.col(vcol(info.name, "label"))
                    if info.has_label_col
                    else F.lit(info.labels[0] if info.labels else "")
                )
                part = part.withColumn(
                    vcol(alias, "label"), lbl.cast("string")
                )
            else:
                for f_ in ("eid", "src", "dst", "type"):
                    part = part.withColumn(
                        vcol(alias, f_), F.col(vcol(info.name, f_))
                    )
            for k, t in props.items():
                src_col = (
                    F.col(pcol(info.name, k))
                    if k in info.props
                    else F.lit(None)
                )
                part = part.withColumn(pcol(alias, k), src_col.cast(t))
            parts.append(part)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        scope = state.scope.copy()
        if node:
            labels = sorted({l for i in infos for l in (i.labels or [])})
            scope.bind(
                VarInfo(
                    name=alias,
                    kind="node",
                    labels=labels,
                    props=props,
                    has_label_col=True,
                )
            )
        else:
            types = sorted({t for i in infos for t in (i.types or [])})
            scope.bind(
                VarInfo(name=alias, kind="edge", types=types, props=props)
            )
        return CompileState(df=out, scope=scope)

    def _unwind_entity_ids(
        self, state: CompileState, alias: str, src_col: F.Column, entity: tuple
    ) -> CompileState:
        """UNWIND over a tagged entity-id array: explode, then re-bind full
        entities by joining the union scan on id (same shape as
        _unwind_path_ids; one hash join, id-only shuffle)."""
        kind, types = entity
        df = state.require_df()
        exploded = df.select(
            *df.columns, F.explode(src_col).alias("__uw_id")
        )
        if kind == "node":
            ndf, info = self._node_scan(alias, [])
            out = exploded.join(
                ndf, exploded["__uw_id"] == ndf[vcol(alias, "id")]
            ).drop("__uw_id")
        else:
            edf, info, _ = self._edge_scan(
                alias, list(types) or None, "out", None, None
            )
            if edf is None:
                out = exploded.where(F.lit(False)).drop("__uw_id")
            else:
                out = exploded.join(
                    edf, exploded["__uw_id"] == edf[vcol(alias, "eid")]
                ).drop("__uw_id", "__from", "__to")
        scope = state.scope.copy()
        scope.bind(info)
        return CompileState(df=out, scope=scope)

    def _unwind_path_ids(
        self, state: CompileState, alias: str, pinfo, node: bool
    ) -> CompileState:
        """UNWIND nodes(p)/relationships(p) over a VAR-LENGTH path: explode
        the accumulated id array, then re-bind full entities by joining the
        union scan on id."""
        df = state.require_df()
        arr = vcol(pinfo.name, "nodes" if node else "rels")
        exploded = df.select(
            *df.columns, F.explode(F.col(arr)).alias("__uw_id")
        )
        if node:
            ndf, info = self._node_scan(alias, [])
            out = exploded.join(
                ndf, exploded["__uw_id"] == ndf[vcol(alias, "id")]
            ).drop("__uw_id")
        else:
            edf, info, _ = self._edge_scan(alias, None, "out", None, None)
            if edf is None:
                out = exploded.where(F.lit(False)).drop("__uw_id")
            else:
                out = exploded.join(
                    edf, exploded["__uw_id"] == edf[vcol(alias, "eid")]
                ).drop("__uw_id", "__from", "__to")
        scope = state.scope.copy()
        scope.bind(info)
        return CompileState(df=out, scope=scope)

    # -- CALL ------------------------------------------------------------------
    def compile_call(self, state: CompileState, c: ast.CallProc) -> CompileState:
        proc = c.proc.lower()
        if proc == "db.labels":
            name = c.yield_items[0] if c.yield_items else "label"
            rows = [(lbl,) for lbl in self.catalog.labels]
        elif proc == "db.relationshiptypes":
            name = c.yield_items[0] if c.yield_items else "relationshipType"
            rows = [(t_,) for t_ in self.catalog.edge_types]
        elif proc == "db.propertykeys":
            name = c.yield_items[0] if c.yield_items else "propertyKey"
            # node AND relationship property keys (reference returns both)
            keys = set(self.catalog.node_prop_schema(None))
            for et in self.catalog.edge_tables():
                keys.update(
                    f_.name
                    for f_ in et.df.schema.fields
                    if f_.name not in META_COLS
                )
            rows = [(k,) for k in sorted(keys)]
        else:
            raise CypherCompileError(f"unknown procedure {c.proc}")
        df = local_frame(self.spark, rows, f"`{vcol(name, 'val')}` string")
        scope = state.scope.copy() if state.df is not None else Scope()
        scope.bind(VarInfo(name=name, kind="value", dtype=T.StringType()))
        out = state.df.crossJoin(df) if state.df is not None else df
        return CompileState(df=out, scope=scope)

    # -- WITH / RETURN ---------------------------------------------------------
    def _expand_star(
        self, state: CompileState, proj: ast.Projection
    ) -> list[ast.ReturnItem]:
        items: list[ast.ReturnItem] = []
        if proj.star:
            for name, info in state.scope.vars.items():
                if name.startswith("_"):
                    continue
                items.append(ast.ReturnItem(expr=ast.Var(name), alias=None))
        items.extend(proj.items)
        return items

    def compile_projection(
        self, state: CompileState, proj: ast.With, is_return: bool
    ) -> CompileState:
        state, items, out_df, out_scope, output_cols = self._project(state, proj)
        if proj.where is not None:
            st = CompileState(df=out_df, scope=out_scope)
            st = self._apply_where(st, proj.where)
            # pattern-predicate markers may have added columns; re-trim
            # (keep hidden __ord_* sort keys for a following ordered collect)
            hidden = [c for c in out_df.columns if c.startswith("__ord_")]
            out_df = st.require_df().select(*dict.fromkeys(output_cols), *hidden)
        return CompileState(df=out_df, scope=out_scope)

    def _rehydrate_return_items(
        self, state: CompileState, proj: ast.Return
    ) -> ast.Return:
        """RETURN of an entity-id array (collect(n), [a, b]) renders as an
        array of property maps — same row format as RETURN n (reference
        src/types.ts:78-82) — via a rehydrating comprehension."""
        if state.df is None:
            return proj
        items = self._expand_star(state, proj)
        changed = False
        new_items: list[ast.ReturnItem] = []
        for item in items:
            e = item.expr
            if isinstance(e, ast.Var):
                info = state.scope.get(e.name)
                if (
                    info is not None
                    and info.kind == "value"
                    and info.elem_entity is not None
                    and isinstance(info.dtype, T.ArrayType)
                    and not isinstance(info.dtype.elementType, T.ArrayType)
                ):
                    fresh = self.gensym("rh")
                    item = ast.ReturnItem(
                        expr=ast.ListComp(
                            fresh,
                            e,
                            None,
                            ast.FuncCall("properties", [ast.Var(fresh)]),
                        ),
                        alias=item.alias or e.name,
                    )
                    self.render_entity_cols.add(item.alias)
                    changed = True
            elif (
                isinstance(e, ast.ListLit)
                and e.items
                and all(
                    isinstance(i_, ast.Var)
                    and (vi := state.scope.get(i_.name)) is not None
                    and vi.kind in ("node", "edge")
                    for i_ in e.items
                )
            ):
                # RETURN [a, b] of bound entities: render property maps
                # in place (entities still bound — no rehydration join)
                item = ast.ReturnItem(
                    expr=ast.ListLit(
                        [ast.FuncCall("properties", [i_]) for i_ in e.items]
                    ),
                    alias=item.alias or _expr_text(e),
                )
                self.render_entity_cols.add(item.alias)
                changed = True
            elif (
                isinstance(e, ast.FuncCall)
                and e.name == "collect"
                and len(e.args) == 1
                and isinstance(e.args[0], ast.Var)
                and (ei := state.scope.get(e.args[0].name)) is not None
                and ei.kind in ("node", "edge")
            ):
                # RETURN collect(n): render property maps directly — the
                # entity is still bound here, so no rehydration join at all.
                # DISTINCT dedups by IDENTITY first (two prop-identical
                # nodes stay two list elements), via a marked aggregate.
                alias = item.alias or _expr_text(e)
                self.render_entity_cols.add(alias)
                if e.distinct:
                    item = ast.ReturnItem(
                        expr=ast.FuncCall(
                            "__collect_props_distinct", [e.args[0]]
                        ),
                        alias=alias,
                    )
                else:
                    item = ast.ReturnItem(
                        expr=ast.FuncCall(
                            "collect",
                            [ast.FuncCall("properties", [e.args[0]])],
                        ),
                        alias=alias,
                    )
                changed = True
            elif (
                isinstance(e, ast.FuncCall)
                and e.name == "collect"
                and len(e.args) == 1
                and (
                    props_arg := _entity_branch_props_ast(
                        state.scope, e.args[0]
                    )
                )
                is not None
            ):
                # collect(coalesce(a, b)) / collect(CASE ... entity arms):
                # rewrite arms to properties(arm) so the list renders maps
                # instead of raw ids (null entity → properties null → same
                # winner). DISTINCT dedups by the branched entity IDENTITY
                # — the same branch over the arms' ids — so two distinct
                # winners with identical property maps stay two elements
                # (reference row interpreter dedups node identity; r9,
                # ADVICE r8).
                alias = item.alias or _expr_text(e)
                self.render_entity_cols.add(alias)
                if e.distinct:
                    id_arg = _entity_branch_props_ast(
                        state.scope, e.args[0], what="id"
                    )
                    assert id_arg is not None
                    item = ast.ReturnItem(
                        expr=ast.FuncCall(
                            "__collect_props_distinct_branched",
                            [id_arg, props_arg],
                        ),
                        alias=alias,
                    )
                else:
                    item = ast.ReturnItem(
                        expr=ast.FuncCall("collect", [props_arg]),
                        alias=alias,
                    )
                changed = True
            new_items.append(item)
        if not changed:
            return proj
        return replace(proj, star=False, items=new_items)

    def compile_return(self, state: CompileState, proj: ast.Return) -> DataFrame:
        proj = self._rehydrate_return_items(state, proj)
        state, items, out_df, out_scope, output_cols = self._project(state, proj)
        # friendly output names
        renames = []
        seen: set[str] = set()
        for item in items:
            bare = _bare_var_name(item)
            target = item.alias or bare or _expr_text(item.expr)
            nice = target
            if nice in seen:
                nice = f"{nice}_{len(seen)}"
            seen.add(nice)
            info = out_scope.get(target)
            if info is not None and info.kind in ("node", "edge"):
                # whole-entity return → struct of properties (Neo4j 3.5 row
                # format returns the property map, reference src/types.ts:78-82);
                # an unmatched OPTIONAL MATCH entity is null, not a struct of
                # null properties
                fields = [
                    F.col(pcol(info.name, k)).alias(k) for k in sorted(info.props)
                ]
                struct_col = (
                    F.struct(*fields)
                    if fields
                    # Catalyst has no empty struct; a prop-less entity
                    # renders as {} via an empty map
                    else F.map_from_arrays(
                        F.array().cast("array<string>"),
                        F.array().cast("array<string>"),
                    )
                )
                renames.append(
                    F.when(F.col(info.id_col()).isNull(), F.lit(None))
                    .otherwise(struct_col)
                    .alias(nice)
                )
                self.render_entity_cols.add(nice)
            elif info is not None and info.kind == "path":
                # an unmatched OPTIONAL MATCH path is null, not a struct of
                # null arrays
                renames.append(
                    F.when(
                        F.col(vcol(info.name, "nodes")).isNull(), F.lit(None)
                    )
                    .otherwise(
                        F.struct(
                            F.col(vcol(info.name, "nodes")).alias("nodes"),
                            F.col(vcol(info.name, "rels")).alias("rels"),
                        )
                    )
                    .alias(nice)
                )
                self.render_entity_cols.add(nice)
            else:
                renames.append(F.col(vcol(target, "val")).alias(nice))
        return out_df.select(*renames)

    def _project(
        self, state: CompileState, proj: ast.Projection
    ):
        items = self._expand_star(state, proj)
        if not items:
            raise CypherCompileError("empty projection")
        # Neo4j 3.5: duplicate output column names are a SyntaxError
        # ("Multiple result columns with the same name are not supported"),
        # both in RETURN and WITH
        out_names: set[str] = set()
        for it in items:
            name = it.alias or _bare_var_name(it) or _expr_text(it.expr)
            if name in out_names:
                raise CypherCompileError(
                    "Multiple result columns with the same name are not "
                    f"supported (`{name}`)"
                )
            out_names.add(name)
        if state.df is None:
            state = CompileState(df=self.spark.range(0, 1, 1, 1).select(), scope=state.scope)
        # rewrite pattern predicates / comprehensions inside items
        new_items: list[ast.ReturnItem] = []
        for item in items:
            state, ne = self._rewrite_pattern_predicates(state, item.expr)
            new_items.append(ast.ReturnItem(expr=ne, alias=item.alias))
        items = new_items
        has_agg = any(contains_aggregate(i.expr) for i in items) or any(
            contains_aggregate(oi.expr) for oi in proj.order_by
        )
        if has_agg:
            out_df, out_scope, output_cols = self._project_aggregate(
                state, items, proj
            )
        else:
            out_df, out_scope, output_cols = self._project_simple(state, items, proj)
        return state, items, out_df, out_scope, output_cols

    def _entity_branches(
        self, state: CompileState, expr: ast.Expr
    ) -> list[tuple[F.Column, VarInfo | None]] | None:
        """Entity-valued branching expressions — coalesce(b, c) and CASE
        whose result arms are all bound same-kind entity variables (null
        literals allowed). The reference deliberately lets such expressions
        flow as nodes/relationships (src/translator.ts:548,688; its row
        interpreter evaluates CASE arms to whatever they hold). Returns
        ordered (condition, VarInfo|None) branches — first true condition
        wins, None info = null entity — or None when not that shape."""
        scope = state.scope

        def entity_var(a: ast.Expr) -> VarInfo | None:
            if isinstance(a, ast.Var):
                vi = scope.get(a.name)
                if (
                    vi is not None
                    and vi.kind in ("node", "edge")
                    and not vi.var_length
                ):
                    return vi
            return None

        def is_null_lit(a: ast.Expr) -> bool:
            return isinstance(a, ast.Literal) and a.value is None

        branches: list[tuple[F.Column, VarInfo | None]] = []
        if (
            isinstance(expr, ast.FuncCall)
            and expr.name.lower() == "coalesce"
            and expr.args
        ):
            for a in expr.args:
                if is_null_lit(a):
                    continue
                vi = entity_var(a)
                if vi is None:
                    return None
                branches.append((F.col(vi.id_col()).isNotNull(), vi))
        elif isinstance(expr, ast.CaseExpr):
            arms = [t_ for _, t_ in expr.whens]
            if expr.default is not None:
                arms.append(expr.default)
            if not all(entity_var(a) or is_null_lit(a) for a in arms):
                return None
            try:
                for w, t_ in expr.whens:
                    if expr.test is not None:
                        cond = (
                            self._compile_expr(state, expr.test).col
                            == self._compile_expr(state, w).col
                        )
                    else:
                        cond = self._compile_expr(state, w).col
                    branches.append((cond, entity_var(t_)))
            except CypherCompileError:
                return None
            branches.append((F.lit(True), entity_var(expr.default))
                            if expr.default is not None
                            else (F.lit(True), None))
        else:
            return None
        infos = [i for _, i in branches if i is not None]
        if not infos or len({i.kind for i in infos}) != 1:
            return None
        return branches

    def _branched_entity_cols(
        self, alias: str, branches: list[tuple[F.Column, VarInfo | None]]
    ) -> tuple[VarInfo, dict[str, F.Column]]:
        """Materialize an entity-valued branching expression as a
        first-class entity binding: every binding column (id, structural
        fields, label, union of props) is a CASE over the branches — pure
        Column expressions, no join, no shuffle. Downstream property
        access, RETURN rendering, MATCH reuse, and SET/DELETE then treat
        the alias like any bound entity."""
        infos = [i for _, i in branches if i is not None]
        kind = infos[0].kind

        def pick(getter) -> F.Column:
            expr = None
            for cond, info in branches:
                val = getter(info) if info is not None else F.lit(None)
                expr = (
                    F.when(cond, val) if expr is None else expr.when(cond, val)
                )
            return expr

        cols: dict[str, F.Column] = {}
        idfld = "id" if kind == "node" else "eid"
        cols[vcol(alias, idfld)] = pick(lambda i: F.col(i.id_col()))
        if kind == "edge":
            for fld in ("src", "dst", "type"):
                cols[vcol(alias, fld)] = pick(
                    lambda i, f=fld: F.col(vcol(i.name, f))
                )
        else:
            # per-row label provenance: winner's union-scan label column
            # when it has one, else its statically-known primary label
            # ("" for an unlabeled node)
            cols[vcol(alias, "label")] = pick(
                lambda i: F.col(vcol(i.name, "label"))
                if i.has_label_col
                else F.lit(i.labels[0] if i.labels else "")
            )
        props: dict[str, T.DataType] = {}
        for i in infos:
            for k, dt in i.props.items():
                # union dtype per key across arms: numeric widening, else
                # first-seen (the rule the _prop expression twin shares —
                # widen_prop_dtype, round-9)
                props[k] = (
                    widen_prop_dtype(props[k], dt) if k in props else dt
                )
        for k, dt in props.items():
            cols[pcol(alias, k)] = pick(
                lambda i, k=k, dt=dt: F.col(pcol(i.name, k)).cast(dt)
                if k in i.props
                else F.lit(None).cast(dt)
            )
        info = VarInfo(
            name=alias,
            kind=kind,
            labels=[],
            types=sorted({t for i in infos for t in i.types}),
            props=props,
            has_label_col=(kind == "node"),
        )
        return info, cols

    @staticmethod
    def _val_info(alias: str, tc) -> VarInfo:
        """Bind a value variable, carrying zoned-datetime and entity-array
        provenance from the compiled expression into the scope."""
        return VarInfo(
            name=alias,
            kind="value",
            dtype=tc.dtype,
            tz=tc.tz,
            elem_entity=(
                tc.entity if isinstance(tc.dtype, T.ArrayType) else None
            ),
        )

    def _project_simple(
        self, state: CompileState, items: list[ast.ReturnItem], proj: ast.Projection
    ):
        df = state.require_df()
        out_scope = Scope()
        output_cols: list[str] = []
        new_cols: dict[str, F.Column] = {}
        for item in items:
            bare = _bare_var_name(item)
            if bare is not None and bare in state.scope:
                info = state.scope.get(bare)
                assert info is not None
                target = item.alias or bare
                if target != bare:
                    renamed = info.renamed(target)
                    for old_c, new_c in zip(info.columns(), renamed.columns()):
                        new_cols[new_c] = F.col(old_c)
                    out_scope.bind(renamed)
                    output_cols.extend(renamed.columns())
                else:
                    out_scope.bind(info)
                    output_cols.extend(info.columns())
                continue
            ent_branches = self._entity_branches(state, item.expr)
            if ent_branches is not None:
                alias = item.alias or _expr_text(item.expr)
                cinfo, ccols = self._branched_entity_cols(alias, ent_branches)
                new_cols.update(ccols)
                out_scope.bind(cinfo)
                output_cols.extend(cinfo.columns())
                continue
            alias = item.alias
            if alias is None:
                alias = _expr_text(item.expr)
            tc = self._compile_expr(state, item.expr)
            colname = vcol(alias, "val")
            new_cols[colname] = tc.col
            out_scope.bind(self._val_info(alias, tc))
            output_cols.append(colname)
        for name, col in new_cols.items():
            df = df.withColumn(name, col)
        # ORDER BY in both RETURN and (non-DISTINCT) WITH sees the incoming
        # variables as well as the new aliases (reference
        # validateOrderByVariables: "ORDER BY in WITH may reference both
        # incoming variables and projected aliases", src/executor.ts:914-935);
        # the pre-projection columns are still on the frame at sort time.
        # DISTINCT re-restricts below — after dedup the old columns are gone.
        order_scope = state.scope.copy()
        for n, i_ in out_scope.vars.items():
            order_scope.bind(i_)
        if proj.distinct:
            df = df.select(*dict.fromkeys(output_cols)).dropDuplicates()
            order_scope = out_scope
        df = self._order_skip_limit(df, proj, order_scope)
        # retain sort keys as hidden columns so a following aggregate can
        # produce an *ordered* collect() (Spark's shuffle would otherwise
        # destroy the order the user just established)
        hidden: list[str] = []
        self._last_order = None
        self._set_order = None
        if proj.order_by and not proj.distinct:
            order_info: list[tuple[str, bool]] = []
            ost = CompileState(df=df, scope=order_scope)
            for i, oi in enumerate(proj.order_by):
                name = f"__ord_{i}"
                ost, oe = self._rewrite_pattern_predicates(ost, oi.expr)
                ctx = ExprCtx(scope=ost.scope, params=self.params)
                ost = CompileState(
                    df=ost.require_df().withColumn(
                        name, ExprCompiler(ctx).compile(oe).col
                    ),
                    scope=ost.scope,
                )
                order_info.append((name, oi.desc))
                hidden.append(name)
            df = ost.require_df()
            self._last_order = order_info
            # unlike _last_order (ordered-collect, invalidated by any join),
            # the SET row-order survives later clauses: the hidden sort-key
            # columns still encode the user's logical row order even after a
            # MATCH physically reshuffles
            self._set_order = order_info
        df = df.select(*dict.fromkeys(output_cols), *hidden)
        return df, out_scope, output_cols

    def _project_aggregate(
        self, state: CompileState, items: list[ast.ReturnItem], proj: ast.Projection
    ):
        # consume (and clear) any order established by the preceding WITH —
        # collect() honors it (reference collectOrderBy semantics)
        self._agg_order = self._last_order
        self._last_order = None
        self._set_order = None  # aggregation collapses rows; order is gone
        df = state.require_df()
        group_cols: list[str] = []
        out_scope = Scope()
        output_cols: list[str] = []
        agg_cols: list = []
        post_select: list[tuple[str, ast.ReturnItem]] = []
        pre_cols: dict[str, F.Column] = {}

        # pass 1: grouping keys
        for item in items:
            if contains_aggregate(item.expr):
                continue
            bare = _bare_var_name(item)
            if bare is not None and bare in state.scope:
                info = state.scope.get(bare)
                assert info is not None
                target = item.alias or bare
                renamed = info.renamed(target) if target != bare else info
                if target != bare:
                    for old_c, new_c in zip(info.columns(), renamed.columns()):
                        pre_cols[new_c] = F.col(old_c)
                group_cols.extend(renamed.columns())
                out_scope.bind(renamed)
                output_cols.extend(renamed.columns())
                continue
            ent_branches = self._entity_branches(state, item.expr)
            if ent_branches is not None:
                # entity-valued group key (coalesce / CASE of entities):
                # group by ALL binding columns so the entity survives the
                # aggregation as a first-class binding
                alias = item.alias or _expr_text(item.expr)
                cinfo, ccols = self._branched_entity_cols(alias, ent_branches)
                pre_cols.update(ccols)
                group_cols.extend(cinfo.columns())
                out_scope.bind(cinfo)
                output_cols.extend(cinfo.columns())
            else:
                alias = item.alias or _expr_text(item.expr)
                tc = self._compile_expr(state, item.expr)
                colname = vcol(alias, "val")
                pre_cols[colname] = tc.col
                group_cols.append(colname)
                out_scope.bind(self._val_info(alias, tc))
                output_cols.append(colname)

        for name, col in pre_cols.items():
            df = df.withColumn(name, col)

        # pass 2: aggregate items — replace agg calls with placeholder columns
        def compile_agg_call(call: ast.FuncCall) -> tuple[F.Column, T.DataType | None]:
            return self._compile_aggregate(state, call)

        replacements: dict[int, str] = {}
        # percentileDisc is computed EXACTLY via a rank/window two-pass over
        # the pre-aggregation rows (sort-based, spills — never buffers a
        # group in memory) and joined back onto the aggregate result. The
        # former percentile_approx sketch was only exact for groups under
        # its accuracy (reference is exact: src/translator.ts:5288-5409).
        window_percentiles: list[tuple[str, F.Column, F.Column, T.DataType | None]] = []

        def extract(e: ast.Expr) -> ast.Expr:
            if isinstance(e, ast.FuncCall) and e.name == "percentiledisc":
                tmp = self.gensym("agg")
                tc = self._compile_expr(state, e.args[0])
                p = self._compile_expr(state, e.args[1]).col
                window_percentiles.append((tmp, tc.col, p, tc.dtype))
                out_scope_tmp.bind(
                    VarInfo(name=tmp, kind="value", dtype=tc.dtype)
                )
                return ast.Var(tmp)
            if isinstance(e, ast.FuncCall) and e.name in AGGREGATE_FUNCTIONS:
                tmp = self.gensym("agg")
                col, dtype = compile_agg_call(e)
                agg_cols.append(col.alias(vcol(tmp, "val")))
                out_scope_tmp.bind(
                    VarInfo(
                        name=tmp,
                        kind="value",
                        dtype=dtype,
                        elem_entity=getattr(self, "_agg_entity", None),
                    )
                )
                return ast.Var(tmp)
            if not contains_aggregate(e):
                return e
            if isinstance(e, (ast.ListComp, ast.Quantifier)):
                # per-element parts keep their aggregates (a compile error)
                return replace(e, source=extract(e.source))
            return ast.map_children(e, extract)

        out_scope_tmp = Scope()
        agg_items: list[tuple[ast.ReturnItem, ast.Expr]] = []
        for item in items:
            if not contains_aggregate(item.expr):
                continue
            rewritten = extract(item.expr)
            agg_items.append((item, rewritten))

        # ORDER BY aggregate expressions become extra agg columns
        order_items: list[ast.OrderItem] = []
        for oi in proj.order_by:
            if contains_aggregate(oi.expr):
                order_items.append(ast.OrderItem(extract(oi.expr), oi.desc))
            else:
                order_items.append(oi)

        grouped = (
            df.groupBy(*[F.col(c) for c in group_cols]) if group_cols else df.groupBy()
        )
        if not agg_cols:
            agg_cols.append(F.count(F.lit(1)).alias("__dummy_count"))
        agg_df = grouped.agg(*agg_cols)

        for tmp, vcol_expr, p, _dtype in window_percentiles:
            from pyspark.sql import Window

            # Exact discrete percentile at scale, in three cheap passes:
            #   1. per-group sketch → a value bracket [lo, hi] whose rank
            #      guarantee (±N/A) provably contains the exact k-th value
            #      (all partial-aggregate, map-side combinable);
            #   2. exact count of rows strictly below lo (partial agg);
            #   3. rank-order ONLY the ~4N/A rows inside the bracket with a
            #      window and pick global rank k.
            # No task ever sees a whole group — the former whole-group
            # window concentrated each group on one task, the same scale
            # smell as an unbounded crossJoin.
            acc = 10_000
            eps = 2.0 / acc
            valname = f"__wp_{tmp}"
            src = df.withColumn(valname, vcol_expr).where(
                F.col(valname).isNotNull()
            )
            p_lo = F.greatest(p - F.lit(eps), F.lit(0.0))
            p_hi = F.least(p + F.lit(eps), F.lit(1.0))
            gb = src.groupBy(*group_cols) if group_cols else src.groupBy()
            stats = gb.agg(
                F.count(F.lit(1)).alias("__n"),
                F.percentile_approx(F.col(valname), p_lo, acc).alias("__lo"),
                F.percentile_approx(F.col(valname), p_hi, acc).alias("__hi"),
            ).withColumn(
                "__k", F.greatest(F.ceil(p * F.col("__n")), F.lit(1))
            )
            # degenerate bracket (heavy duplicates / tiny group): lo == hi
            # IS the answer — no sort at all
            done = stats.where(F.col("__lo") == F.col("__hi")).select(
                *group_cols, F.col("__lo").alias(vcol(tmp, "val"))
            )
            open_ = stats.where(F.col("__lo") != F.col("__hi"))
            if group_cols:
                joined = src.join(F.broadcast(open_), on=group_cols)
            else:
                joined = src.crossJoin(F.broadcast(open_))
            below = (
                (
                    joined.where(F.col(valname) < F.col("__lo"))
                    .groupBy(*group_cols)
                    .agg(F.count(F.lit(1)).alias("__base"))
                )
                if group_cols
                else joined.where(F.col(valname) < F.col("__lo")).agg(
                    F.count(F.lit(1)).alias("__base")
                )
            )
            bracket = joined.where(
                (F.col(valname) >= F.col("__lo"))
                & (F.col(valname) <= F.col("__hi"))
            )
            if group_cols:
                bracket = bracket.join(below, on=group_cols, how="left")
                w_rank = Window.partitionBy(*group_cols).orderBy(F.col(valname))
            else:
                bracket = bracket.crossJoin(below)
                w_rank = Window.partitionBy().orderBy(F.col(valname))
            picked = (
                bracket.withColumn(
                    "__base", F.coalesce(F.col("__base"), F.lit(0))
                )
                .withColumn("__rn", F.row_number().over(w_rank))
                .where(F.col("__base") + F.col("__rn") == F.col("__k"))
                .select(*group_cols, F.col(valname).alias(vcol(tmp, "val")))
            )
            picked = picked.unionByName(done)
            if group_cols:
                agg_df = agg_df.join(picked, on=group_cols, how="left")
            else:
                agg_df = agg_df.join(picked, F.lit(True), "left")

        # post-aggregation expression evaluation
        post_scope = Scope()
        for n, i_ in out_scope.vars.items():
            post_scope.bind(i_)
        for n, i_ in out_scope_tmp.vars.items():
            post_scope.bind(i_)
        post_state = CompileState(df=agg_df, scope=post_scope)
        for item, rewritten in agg_items:
            alias = item.alias or _expr_text(item.expr)
            tc = ExprCompiler(self._ctx(post_state)).compile(rewritten)
            colname = vcol(alias, "val")
            agg_df = agg_df.withColumn(colname, tc.col)
            post_state = CompileState(df=agg_df, scope=post_scope)
            out_scope.bind(self._val_info(alias, tc))
            output_cols.append(colname)

        order_scope = Scope()
        for n, i_ in out_scope.vars.items():
            order_scope.bind(i_)
        for n, i_ in out_scope_tmp.vars.items():
            order_scope.bind(i_)
        if proj.distinct:
            agg_df = agg_df.select(*dict.fromkeys(output_cols)).dropDuplicates()
        fake_proj = replace(proj, order_by=order_items)
        agg_df = self._order_skip_limit(agg_df, fake_proj, order_scope)
        agg_df = agg_df.select(*dict.fromkeys(output_cols))
        return agg_df, out_scope, output_cols

    @staticmethod
    def _reject_nondeterministic(expr: ast.Expr | None) -> None:
        """Non-deterministic functions inside aggregates are a syntax error
        (reference translator.ts:5414-5418) — per-row re-evaluation across
        shuffle retries would make the aggregate unstable."""
        if any(
            isinstance(e, ast.FuncCall) and e.name in ("rand", "randomuuid")
            for e in ast.walk(expr)
        ):
            raise CypherCompileError(
                "Can't use non-deterministic (random) functions inside of "
                "aggregate functions."
            )

    def _compile_aggregate(
        self, state: CompileState, call: ast.FuncCall
    ) -> tuple[F.Column, T.DataType | None]:
        name = call.name
        # side-channel (like _agg_order): entity provenance of collect()ed
        # values, consumed by the caller's VarInfo binding so entity lists
        # stay rehydratable id arrays
        self._agg_entity = None
        for a in call.args:
            if not isinstance(a, ast.Star):
                self._reject_nondeterministic(a)
        if name == "__collect_props_distinct":
            # RETURN collect(DISTINCT n): dedup by entity IDENTITY (id),
            # then strip the id so only the property map renders —
            # prop-identical but distinct nodes stay separate elements
            info = state.scope.get(call.args[0].name)  # type: ignore[union-attr]
            assert info is not None
            props_tc = self._compile_expr(
                state, ast.FuncCall("properties", [call.args[0]])
            )
            # unmatched OPTIONAL entities (id IS NULL) must be skipped, like
            # collect_list skips NULLs — when() nulls the struct so
            # collect_set drops it instead of keeping struct(null, null)
            packed = F.collect_set(
                F.when(
                    F.col(info.id_col()).isNotNull(),
                    F.struct(
                        F.col(info.id_col()).alias("__i"),
                        props_tc.col.alias("__p"),
                    ),
                )
            )
            return (
                F.transform(packed, lambda s: s.getField("__p")),
                T.ArrayType(props_tc.dtype) if props_tc.dtype else None,
            )
        if name == "__collect_props_distinct_branched":
            # collect(DISTINCT coalesce(a, b)) / collect(DISTINCT CASE ...
            # entity arms): dedup by the branched entity IDENTITY — the
            # same coalesce/CASE over the arms' id columns picks the same
            # winner — then strip the id so only the property map renders.
            # Two prop-identical but distinct winners stay two elements
            # (reference row interpreter identity semantics; r9, ADVICE r8)
            id_tc = self._compile_expr(state, call.args[0])
            props_tc = self._compile_expr(state, call.args[1])
            packed = F.collect_set(
                F.when(
                    id_tc.col.isNotNull(),
                    F.struct(
                        id_tc.col.alias("__i"), props_tc.col.alias("__p")
                    ),
                )
            )
            return (
                F.transform(packed, lambda s: s.getField("__p")),
                T.ArrayType(props_tc.dtype) if props_tc.dtype else None,
            )
        if name == "count":
            if call.args and isinstance(call.args[0], ast.Star):
                return F.count(F.lit(1)), T.LongType()
            tc = self._compile_expr(state, call.args[0])
            if call.distinct:
                return F.countDistinct(tc.col), T.LongType()
            return F.count(tc.col), T.LongType()
        tc = self._compile_expr(state, call.args[0])
        was_tagged = False
        if name in ("sum", "avg", "min", "max", "stdev", "stdevp", "percentilecont"):
            from nicefox_graphdb_spark.cypher.expressions import (
                _is_tagged,
                _untag_numeric,
            )

            was_tagged = _is_tagged(tc.dtype)
            tc = _untag_numeric(tc)  # tagged cells aggregate their numeric slot
        if name == "sum":
            # sum of no values is 0, not null (openCypher; reference
            # aggregation parity) — min/max/avg stay null. A VOID input
            # (unknown/missing property) sums to INTEGER 0, not 0.0.
            if isinstance(tc.dtype, T.NullType):
                # always-null input: constant 0, typed long (never 0.0)
                return (
                    F.coalesce(
                        F.sum(tc.col.cast("long")), F.lit(0).cast("long")
                    ),
                    T.LongType(),
                )
            from nicefox_graphdb_spark.cypher.expressions import (
                _DUR_T,
                _is_duration,
            )

            if _is_duration(tc.dtype):
                # durations sum component-wise (months / days / micros);
                # DISTINCT dedups whole structs first (collect_set), then
                # folds the unique values — sum_distinct can't see structs
                if call.distinct:
                    uniq = F.collect_set(tc.col)

                    def _dsum(field: str) -> F.Column:
                        return F.coalesce(
                            F.aggregate(
                                uniq,
                                F.lit(0).cast("long"),
                                lambda acc, x: acc + x.getField(field),
                            ),
                            F.lit(0).cast("long"),
                        )

                    return (
                        F.struct(
                            _dsum("__dmo").alias("__dmo"),
                            _dsum("__dd").alias("__dd"),
                            _dsum("__dus").alias("__dus"),
                        ),
                        _DUR_T,
                    )
                return (
                    F.struct(
                        F.coalesce(
                            F.sum(tc.col.getField("__dmo")), F.lit(0)
                        )
                        .cast("long")
                        .alias("__dmo"),
                        F.coalesce(F.sum(tc.col.getField("__dd")), F.lit(0))
                        .cast("long")
                        .alias("__dd"),
                        F.coalesce(F.sum(tc.col.getField("__dus")), F.lit(0))
                        .cast("long")
                        .alias("__dus"),
                    ),
                    _DUR_T,
                )
            zero = F.lit(0).cast(tc.dtype) if tc.dtype else F.lit(0)
            agg = F.sum_distinct(tc.col) if call.distinct else F.sum(tc.col)
            return F.coalesce(agg, zero), tc.dtype
        if name == "avg":
            if call.distinct:
                return (
                    F.sum_distinct(tc.col).cast("double")
                    / F.count_distinct(tc.col)
                ), T.DoubleType()
            return F.avg(tc.col), T.DoubleType()
        if name in ("min", "max"):
            col = F.min(tc.col) if name == "min" else F.max(tc.col)
            if was_tagged:
                # re-tag so integer-valued results decode as integers (the
                # flavor contract of mixed-numeric lists)
                from nicefox_graphdb_spark.cypher.expressions import _TAGGED_T

                return (
                    F.struct(
                        F.lit("n").alias("__ck"),
                        col.alias("__cn"),
                        F.lit(None).cast("string").alias("__ct"),
                    ),
                    _TAGGED_T,
                )
            return col, tc.dtype
        if name == "collect":
            if tc.entity is not None:
                # entity provenance survives any nesting depth (collect of
                # collected lists → array<array<id>>); consumers check the
                # element dtype to know when they're at the id level
                self._agg_entity = tc.entity
            if call.distinct:
                return F.collect_set(tc.col), (
                    T.ArrayType(tc.dtype) if tc.dtype else None
                )
            order = getattr(self, "_agg_order", None)
            if order and len({desc for _, desc in order}) == 1:
                # ordered collect: pack (sortkeys, value) structs, sort the
                # collected array, unwrap — restores the WITH ... ORDER BY
                # order that the groupBy shuffle destroyed
                desc = order[0][1]
                packed = F.struct(
                    *[F.col(c).alias(f"__k{i}") for i, (c, _) in enumerate(order)],
                    tc.col.alias("__cv"),
                )
                arr = F.sort_array(F.collect_list(packed), asc=not desc)
                col = F.filter(
                    # collect() skips nulls; the struct packing would
                    # otherwise smuggle them through collect_list
                    F.transform(arr, lambda s: s.getField("__cv")),
                    lambda v: v.isNotNull(),
                )
                return col, T.ArrayType(tc.dtype) if tc.dtype else None
            return F.collect_list(tc.col), (
                T.ArrayType(tc.dtype) if tc.dtype else None
            )
        if name == "stdev":
            # sample stdev of a single value is 0 in Cypher, not null
            return (
                F.when(F.count(tc.col) >= 2, F.stddev_samp(tc.col)).when(
                    F.count(tc.col) == 1, F.lit(0.0)
                ),
                T.DoubleType(),
            )
        if name == "stdevp":
            return F.stddev_pop(tc.col), T.DoubleType()
        if name == "approxcountdistinct":
            if len(call.args) > 1:
                rsd = float(self._static_eval(call.args[1]))  # type: ignore[arg-type]
                return F.approx_count_distinct(tc.col, rsd), T.LongType()
            return F.approx_count_distinct(tc.col), T.LongType()
        if name == "approxpercentile":
            p = self._compile_expr(state, call.args[1]).col
            acc = (
                F.lit(int(self._static_eval(call.args[2])))  # type: ignore[arg-type]
                if len(call.args) > 2
                else F.lit(10000)
            )
            return F.percentile_approx(tc.col, p, acc), tc.dtype
        if name == "percentilecont":
            p = self._compile_expr(state, call.args[1]).col
            return F.percentile(tc.col, p), T.DoubleType()
        raise CypherCompileError(f"unknown aggregate {name}()")

    # -- write clauses (reference: translator INSERT/UPDATE/DELETE emission
    # src/translator.ts:246-374, 909-1209; batched executor paths
    # src/executor.ts:4427+; here each write derives new DataFrame versions
    # via MutableGraph — the Delta-MERGE shape without the Delta dependency)
    # ----------------------------------------------------------------------
    def _ensure_df(self, state: CompileState) -> CompileState:
        if state.df is None:
            return CompileState(df=self.spark.range(0, 1, 1, 1).select(), scope=state.scope)
        return state

    def _merge_add_extra_labels(self, labels: list[str], ids: DataFrame) -> None:
        """Created multi-label MERGE nodes join each extra label table."""
        for extra in labels[1:]:
            self.store.add_label_to_nodes(labels[0], ids, extra)

    @staticmethod
    def _validate_storable(key: str, tc: TypedCol) -> None:
        """Reference property-value domain (src/property-value.ts:1-25):
        primitives and flat lists only; maps / nested lists are query-time
        values and must not be stored."""
        if key in ("_id", "_src", "_dst"):
            # structural column names of the storage tables (the reference
            # reserves `_nf_id` inside its property bags the same way,
            # src/executor.ts rowContext `_nf_id` convention)
            raise CypherCompileError(
                f"InvalidPropertyType: property name `{key}` is reserved"
            )
        dt = tc.dtype
        bad = isinstance(dt, (T.StructType, T.MapType)) or (
            isinstance(dt, T.ArrayType)
            and isinstance(dt.elementType, (T.ArrayType, T.StructType, T.MapType))
        )
        if bad:
            raise CypherCompileError(
                f"InvalidPropertyType: property `{key}` must be a primitive "
                "or a list of primitives"
            )

    def _validate_storable_static(self, key: str, expr: ast.Expr) -> None:
        """Statically-evaluable slice of the property-value domain the dtype
        check can't see: list ELEMENTS must be non-null finite primitives
        (reference validates literal/parameter elements,
        src/property-value.ts:8-16, src/translator.ts:1077-1108)."""
        import math

        def bad_elem(x: object) -> bool:
            return (
                x is None
                or isinstance(x, (list, tuple, dict))
                or (isinstance(x, float) and not math.isfinite(x))
            )

        def raise_bad() -> None:
            raise CypherCompileError(
                f"InvalidPropertyType: property `{key}` must be a primitive "
                "or a list of primitives"
            )

        if isinstance(expr, ast.ListLit):
            for it in expr.items:
                if isinstance(it, ast.Literal) and it.value is None:
                    raise_bad()
                if isinstance(it, ast.Param) and bad_elem(
                    self.params.get(it.name)
                ):
                    raise_bad()
        elif isinstance(expr, ast.Param):
            v = self.params.get(expr.name)
            if isinstance(v, (list, tuple)) and any(bad_elem(x) for x in v):
                raise_bad()
            if isinstance(v, float) and not math.isfinite(v):
                raise_bad()

    def _compiled_props(
        self, state: CompileState, props: ast.MapLit | None
    ) -> dict[str, TypedCol]:
        if props is None:
            return {}
        comp = ExprCompiler(self._ctx(state))
        out = {}
        for k, v in props.items:
            tc = comp.compile(v)
            self._validate_storable(k, tc)
            self._validate_storable_static(k, v)
            out[k] = tc
        return out

    def compile_create(self, state: CompileState, c: ast.Create) -> CompileState:
        state = self._ensure_df(state)
        # Terminal single-node CREATE against a store whose appends
        # materialize (durable parquet write): the uuid-freezing
        # checkpoint is redundant — the append write IS the single
        # materialization of the fresh ids, and terminal position means
        # no later clause (and no result projection — write-only) can
        # re-read the unfrozen binding (r12; one Spark action instead of
        # two per CREATE statement, ~150-250 ms of per-action fixed cost).
        # Scope is deliberately one path with one node: a second node or
        # an edge in the same clause may reference the first node's id.
        self._fuse_create = (
            getattr(self, "_terminal_write_clause", False)
            and len(c.paths) == 1
            and len(c.paths[0].elements) == 1
            and getattr(self.store, "appends_materialize", False)
        )
        try:
            for path in c.paths:
                state = self._create_path(state, path)
        finally:
            self._fuse_create = False
        return state

    def _create_path(self, state: CompileState, path: ast.PatternPath) -> CompileState:
        elements = path.elements
        state, left_var = self._create_node_if_needed(state, elements[0])
        i = 1
        while i < len(elements):
            rel = elements[i]
            node = elements[i + 1]
            assert isinstance(rel, ast.RelPattern)
            state, right_var = self._create_node_if_needed(state, node)
            state = self._create_edge(state, left_var, rel, right_var)
            left_var = right_var
            i += 2
        return state

    def _create_node_if_needed(
        self, state: CompileState, np_: ast.NodePattern
    ) -> tuple[CompileState, str]:
        var = np_.var or self.gensym("cn")
        if var in state.scope:
            if np_.labels or np_.props:
                raise CypherCompileError(
                    f"variable `{var}` already bound; cannot re-create"
                )
            return state, var
        # unlabeled CREATE (n {..}) is legal openCypher: such nodes live in
        # the sentinel "" table (never listed by db.labels / labels())
        label = np_.labels[0] if np_.labels else ""
        props = self._compiled_props(state, np_.props)
        df = state.require_df().withColumn(vcol(var, "id"), F.expr("uuid()"))
        prop_types: dict[str, T.DataType] = {}
        for k, tc in props.items():
            df = df.withColumn(pcol(var, k), tc.col)
            prop_types[k] = tc.dtype or T.StringType()
        fused = getattr(self, "_fuse_create", False) and len(np_.labels) <= 1
        if not fused:
            df = df.localCheckpoint(eager=True)  # freeze the generated uuids
        rows = df.select(
            F.col(vcol(var, "id")).alias("_id"),
            *[F.col(pcol(var, k)).alias(k) for k in props],
        )
        self.store.append_nodes(label, rows)
        # CREATE (:A:B ...): membership in every extra label table
        # (reference normalizes multi-label nodes the same way on insert)
        for extra in np_.labels[1:]:
            self.store.add_label_to_nodes(label, rows.select("_id"), extra)
        scope = state.scope.copy()
        scope.bind(
            VarInfo(
                name=var, kind="node", labels=list(np_.labels), props=prop_types
            )
        )
        return CompileState(df=df, scope=scope), var

    def _create_edge(
        self, state: CompileState, left_var: str, rel: ast.RelPattern, right_var: str
    ) -> CompileState:
        if rel.direction == "both":
            raise CypherCompileError("CREATE requires a directed relationship")
        if rel.var_length:
            raise CypherCompileError(
                "variable length relationships cannot be used in CREATE"
            )
        if len(rel.types) != 1:
            raise CypherCompileError("CREATE requires exactly one relationship type")
        rel_var = rel.var or self.gensym("cr")
        src_var, dst_var = (
            (left_var, right_var) if rel.direction == "out" else (right_var, left_var)
        )
        src_info = state.scope.get(src_var)
        dst_info = state.scope.get(dst_var)
        assert src_info is not None and dst_info is not None
        props = self._compiled_props(state, rel.props)
        df = state.require_df().withColumn(vcol(rel_var, "eid"), F.expr("uuid()"))
        prop_types: dict[str, T.DataType] = {}
        for k, tc in props.items():
            df = df.withColumn(pcol(rel_var, k), tc.col)
            prop_types[k] = tc.dtype or T.StringType()
        df = (
            df.withColumn(vcol(rel_var, "src"), F.col(vcol(src_var, "id")))
            .withColumn(vcol(rel_var, "dst"), F.col(vcol(dst_var, "id")))
            .withColumn(vcol(rel_var, "type"), F.lit(rel.types[0]))
        )
        # a pre-bound endpoint may be NULL (OPTIONAL MATCH): the reference
        # errors ("Cannot resolve source node ID from variable x",
        # src/executor.ts:2258-2302) rather than silently creating nothing.
        # The guard rides the eager checkpoint below — assert_true evaluates
        # during materialization, so this costs zero extra Spark jobs.
        guards = []
        for v in {src_var, dst_var}:
            guards.append(
                F.assert_true(
                    F.col(vcol(v, "id")).isNotNull(),
                    F.lit(
                        "Cannot resolve node ID from variable "
                        f"{v} (null endpoint in CREATE)"
                    ),
                )
            )
        df = df.withColumn("__null_ep_guard", F.coalesce(*guards, F.lit(True)))
        ends = (self._key_label(src_info), self._key_label(dst_info))
        df, pairs = self._observe_label_pairs(df, ends)
        try:
            df = df.localCheckpoint(eager=True)
        except Exception as exc:  # noqa: BLE001
            if "Cannot resolve node ID" in str(exc):
                from nicefox_graphdb_spark.graph_store import CypherRuntimeError

                raise CypherRuntimeError(
                    "Cannot create relationship with a null endpoint "
                    f"({src_var})-[:{rel.types[0]}]->({dst_var})"
                ) from None
            raise
        df = df.drop("__null_ep_guard")
        for src_label, dst_label, part in self._by_label_pair(df, ends, pairs):
            self.store.append_edges(
                rel.types[0],
                src_label,
                dst_label,
                part.select(
                    F.col(vcol(rel_var, "eid")).alias("_id"),
                    F.col(vcol(rel_var, "src")).alias("_src"),
                    F.col(vcol(rel_var, "dst")).alias("_dst"),
                    *[F.col(pcol(rel_var, k)).alias(k) for k in props],
                ),
            )
        scope = state.scope.copy()
        scope.bind(
            VarInfo(name=rel_var, kind="edge", types=rel.types, props=prop_types)
        )
        return CompileState(df=df, scope=scope)

    @staticmethod
    def _key_label(info: VarInfo) -> Column | str:
        """The endpoint label a new relationship's table is keyed under.
        Unlabeled endpoints key under the sentinel "" label, multi-label
        ones under the PRIMARY label (the reference's
        json_extract(label,'$[0]') convention; the edge-scan pruning relaxes
        once multi-label membership exists). A node bound by an untyped
        scan (``has_label_col``) lists every catalog label, so its label is
        the per-row column the scan read (null only with a null id)."""
        if info.has_label_col:
            return F.coalesce(F.col(vcol(info.name, "label")), F.lit(""))
        return info.labels[0] if info.labels else ""

    @staticmethod
    def _observe_label_pairs(frame: DataFrame, ends: tuple) -> tuple:
        """``frame`` observing its distinct (src, dst) key-label pairs when
        an end is per row (see ``_key_label``), so the pairs ride the
        checkpoint the caller runs next; the Observation, or None."""
        if all(isinstance(e, str) for e in ends):
            return frame, None
        from pyspark.sql import Observation

        obs = Observation()
        pair = F.array(*[F.lit(e) if isinstance(e, str) else e for e in ends])
        return frame.observe(obs, F.collect_set(pair).alias("pairs")), obs

    @staticmethod
    def _by_label_pair(frame: DataFrame, ends: tuple, obs) -> list:
        """(src label, dst label, rows) for each table the new
        relationships in ``frame`` go to: the static pair, or each pair the
        Observation of ``_observe_label_pairs`` saw (none for no rows)."""
        if obs is None:
            return [(*ends, frame)]
        out = []
        for got in sorted(map(tuple, observed(obs).get("pairs", []))):
            cond = functools.reduce(operator.and_, [
                e == v for e, v in zip(ends, got) if not isinstance(e, str)
            ])
            out.append((*got, frame.where(cond)))
        return out

    def compile_set(self, state: CompileState, s: ast.SetClause) -> CompileState:
        for item in s.items:
            state = self._apply_set_item(state, item)
        return state

    def _apply_set_item(  # noqa: PLR0912
        self, state: CompileState, item: ast.SetItem
    ) -> CompileState:
        df = state.require_df()
        if item.kind == "labels":
            assert isinstance(item.target, ast.Var)
            info = state.scope.get(item.target.name)
            if info is None or info.kind != "node":
                raise CypherCompileError("SET :Label requires a bound node")
            ids = df.select(F.col(info.id_col()).alias("_id")).distinct()
            if info.has_label_col:
                # untyped scan: copy membership from each source table the
                # ids ACTUALLY occupy (one membership-probe job) — not from
                # every label table, which would rewrite id-hash buckets in
                # all of them on the durable store
                src_labels = self.store.node_tables_containing(ids)
            else:
                src_labels = info.labels[:1] or [""]
            for lbl in item.labels:
                for src in src_labels:
                    self.store.add_label_to_nodes(src, ids, lbl)
            scope = state.scope.copy()
            scope.bind(replace(info, labels=info.labels + [lbl for lbl in item.labels if lbl not in info.labels]))
            return CompileState(df=df, scope=scope)
        if item.kind == "prop":
            assert isinstance(item.target, ast.Prop) and isinstance(
                item.target.base, ast.Var
            )
            var = item.target.base.name
            key = item.target.key
            self._validate_storable_static(key, item.value)
            updates = {key: ExprCompiler(self._ctx(state)).compile(item.value)}
            return self._push_prop_updates(state, var, updates, replace_all=False)
        # var_replace / var_merge with a map value
        assert isinstance(item.target, ast.Var)
        var = item.target.name
        if not isinstance(item.value, ast.MapLit):
            raise CypherCompileError("SET n = / += requires a map literal")
        comp = ExprCompiler(self._ctx(state))
        for k, v in item.value.items:
            self._validate_storable_static(k, v)
        updates = {k: comp.compile(v) for k, v in item.value.items}
        return self._push_prop_updates(
            state, var, updates, replace_all=(item.kind == "var_replace")
        )

    def _push_prop_updates(
        self,
        state: CompileState,
        var: str,
        updates: dict[str, TypedCol],
        replace_all: bool,
    ) -> CompileState:
        info = state.scope.get(var)
        if info is None or info.kind not in ("node", "edge"):
            raise CypherCompileError(f"SET target `{var}` must be a node or edge")
        df = state.require_df()
        # compute new values per binding row, then update both the store and
        # the in-flight binding columns
        tmp_cols = {}
        for k, tc in updates.items():
            if not isinstance(tc.dtype, T.NullType):  # SET to null = removal
                self._validate_storable(k, tc)
            tmp = f"__set_{var}_{k}"
            df = df.withColumn(tmp, tc.col)
            tmp_cols[k] = tmp
        # the same entity may appear in several binding rows with different
        # computed values (UNWIND [...] AS x SET n.v = x): the reference
        # executes one UPDATE per row in row order, so the LAST row wins —
        # max_by over a per-row sequence keeps that semantics with the same
        # single shuffle a dropDuplicates would cost. When a WITH ... ORDER
        # BY established an explicit order, its retained hidden sort-key
        # columns define the sequence (joins after the sort shuffle rows, so
        # a monotonic id would reflect layout, not the ordered semantics);
        # the rank window is global but only over this statement's update
        # rows, and only when the user explicitly sorted them.
        order = self._set_order
        if order and all(name in df.columns for name, _ in order):
            from pyspark.sql import Window

            sort_cols = [
                F.col(n).desc_nulls_first() if d else F.col(n).asc_nulls_last()
                for n, d in order
            ]
            seq = F.row_number().over(Window.orderBy(*sort_cols))
        else:
            seq = F.monotonically_increasing_id()
        seq_col = vcol(self.gensym("setseq"), "val")
        if tmp_cols:
            upd_rows = (
                df.withColumn(seq_col, seq)
                .select(
                    F.col(info.id_col()).alias("_id"),
                    F.col(seq_col),
                    *[F.col(tmp).alias(k) for k, tmp in tmp_cols.items()],
                )
                .groupBy("_id")
                .agg(
                    *[
                        F.max_by(F.col(k), F.col(seq_col)).alias(k)
                        for k in tmp_cols
                    ]
                )
            )
        else:
            # SET n = {} / += {}: no value columns to resolve (agg() with
            # zero aggregates is illegal); replace_all still nulls matched
            # rows' props downstream
            upd_rows = df.select(
                F.col(info.id_col()).alias("_id")
            ).dropDuplicates(["_id"])
        if info.kind == "node":
            if info.has_label_col:
                # untyped scan: update only the tables that actually contain
                # some of the updated ids (one membership-probe job), incl.
                # the "" sentinel — `MATCH (n) SET n.x = 1` reaches unlabeled
                # nodes, but a 10-id SET no longer rewrites touched buckets
                # in every label table
                labels = self.store.node_tables_containing(
                    upd_rows.select("_id")
                )
            else:
                # an unlabeled binding (CREATE (n {..})) lives in the ""
                # sentinel table — an empty label list must not skip the
                # store update
                labels = info.labels or [""]
            for lbl in labels:
                self.store.update_node_props(lbl, upd_rows, replace_all=replace_all)
        else:
            self.store.update_edge_props(
                df.select(info.id_col()).distinct(), upd_rows,
                replace_all=replace_all,
            )
        new_props = dict(info.props)
        for k, tc in updates.items():
            df = df.withColumn(pcol(var, k), F.col(tmp_cols[k]))
            new_props[k] = tc.dtype or new_props.get(k) or T.StringType()
        if replace_all:
            for k in info.props:
                if k not in updates:
                    df = df.withColumn(pcol(var, k), F.lit(None).cast(info.props[k]))
        df = df.drop(*tmp_cols.values())
        scope = state.scope.copy()
        scope.bind(replace(info, props=new_props))
        return CompileState(df=df, scope=scope)

    def compile_remove(self, state: CompileState, r: ast.Remove) -> CompileState:
        for item in r.items:
            if item.kind == "labels":
                assert isinstance(item.target, ast.Var)
                info = state.scope.get(item.target.name)
                if info is None or info.kind != "node":
                    raise CypherCompileError("REMOVE :Label requires a bound node")
                ids = state.require_df().select(
                    F.col(info.id_col()).alias("_id")
                ).distinct()
                for lbl in item.labels:
                    self.store.remove_label_from_nodes(lbl, ids)
                scope = state.scope.copy()
                scope.bind(
                    replace(
                        info,
                        labels=[l_ for l_ in info.labels if l_ not in item.labels],
                    )
                )
                state = CompileState(df=state.df, scope=scope)
            else:
                assert isinstance(item.target, ast.Prop) and isinstance(
                    item.target.base, ast.Var
                )
                null_tc = TypedCol(F.lit(None), T.NullType())
                state = self._push_prop_updates(
                    state,
                    item.target.base.name,
                    {item.target.key: null_tc},
                    replace_all=False,
                )
        return state

    def compile_delete(self, state: CompileState, d: ast.Delete) -> CompileState:
        with self._clause_at(d.pos):
            return self._compile_delete(state, d)

    @contextlib.contextmanager
    def _clause_at(self, pos):
        """Scope `_clause_pos` (the position runtime MERGE/DELETE errors
        anchor to) to one clause: restored on exit so a later clause in a
        multi-clause query can't inherit a stale earlier position (ADVICE
        r10). Raise sites read it before the restore runs, so propagating
        errors keep the right anchor."""
        prev = getattr(self, "_clause_pos", None)
        self._clause_pos = pos
        try:
            yield
        finally:
            self._clause_pos = prev

    def _compile_delete(self, state: CompileState, d: ast.Delete) -> CompileState:
        df = state.require_df()
        for expr in d.exprs:
            if not isinstance(expr, ast.Var):
                raise CypherCompileError("DELETE requires a variable")
            info = state.scope.get(expr.name)
            if info is None:
                raise CypherCompileError(
                    f"variable `{expr.name}` not defined", pos=expr
                )
            if info.kind == "node":
                # DELETE of a null entity (unmatched OPTIONAL MATCH) is a
                # no-op, not an error — filter null ids out
                ids = (
                    df.select(F.col(info.id_col()).alias("_id"))
                    .where(F.col("_id").isNotNull())
                    .distinct()
                )
                from nicefox_graphdb_spark.graph_store import (
                    CypherRuntimeError,
                )

                try:
                    self.store.delete_nodes(ids, detach=d.detach)
                except CypherRuntimeError as err:
                    if err.line is None and d.pos is not None:
                        raise CypherRuntimeError(
                            err.message, pos=d.pos
                        ) from None
                    raise
            elif info.kind == "edge":
                self.store.delete_edges(
                    df.select(F.col(info.id_col()).alias("_id"))
                    .where(F.col("_id").isNotNull())
                    .distinct()
                )
            else:
                raise CypherCompileError("DELETE target must be a node or edge")
        return state

    def compile_merge(self, state: CompileState, m: ast.Merge) -> CompileState:
        # runtime MERGE-null / checkpoint errors locate the clause (r10,
        # VERDICT r9 #6); scoped so multi-clause queries can't leak it
        with self._clause_at(m.pos):
            return self._compile_merge(state, m)

    def _compile_merge(self, state: CompileState, m: ast.Merge) -> CompileState:
        state = self._ensure_df(state)
        elements = m.path.elements
        if any(
            isinstance(el, ast.RelPattern) and el.var_length for el in elements
        ):
            raise CypherCompileError(
                "variable length relationships cannot be used in MERGE"
            )
        # statically-null MERGE key props (literal null or null-valued
        # parameter) error for EVERY element — node or relationship
        # (reference MERGE-null rules, src/translator.ts:829-842; runtime
        # nulls are caught by the created-row probes)
        for el in elements:
            props = getattr(el, "props", None)
            if props is None:
                continue
            kind = (
                "relationship" if isinstance(el, ast.RelPattern) else "node"
            )
            for k, v in props.items:
                is_null = (
                    isinstance(v, ast.Literal) and v.value is None
                ) or (
                    isinstance(v, ast.Param)
                    and v.name in self.params
                    and self.params[v.name] is None
                )
                if is_null:
                    raise CypherCompileError(
                        f"Cannot merge {kind} using null property value "
                        f"for `{k}`",
                        pos=m.pos,
                    )
        if len(elements) == 1:
            return self._merge_node(state, elements[0], m.on_create, m.on_match)
        for r in elements[1::2]:
            if len(r.types) != 1:
                # Neo4j 3.5 parity: multi-type MERGE is a syntax-level
                # rejection
                raise CypherCompileError(
                    "A single relationship type must be specified for MERGE"
                )
        return self._merge_multi_hop(state, m)

    def _merge_multi_hop(self, state: CompileState, m: ast.Merge) -> CompileState:
        """`MERGE (a)-[:X]->(b)...` of one or more hops — openCypher
        full-pattern atomicity: match the ENTIRE path; if absent, create
        the ENTIRE path (never a half-created path). A path with a
        pre-bound variable or a property reading an outer variable is
        correlated and goes to `_merge_chain_correlated`. Otherwise the
        merge is row-independent, so it runs ONCE globally and binds to
        every incoming row (Neo4j's sequential per-row semantics reach the
        same state: the first row creates, the rest match).
        """
        elements = m.path.elements
        correlated = any(
            (el.var and el.var in state.scope)
            or (el.props and self._refs_vars(el.props, list(state.scope.vars)))
            for el in elements
        )
        if correlated:
            return self._merge_chain_correlated(state, m)
        if not state.scope.vars:
            return self._merge_standalone_path(state, m)
        # uncorrelated under bound rows: one global match, cross-joined onto
        # every row, with ON MATCH on the pre-existing matches; when nothing
        # matches, the chain compiler creates (and applies ON CREATE).
        match_state = self.compile_match(
            CompileState(df=None, scope=Scope()),
            ast.Match(paths=[m.path]),
        )
        # emptiness rides the match-set checkpoint (observe count — the
        # durable_store._write_files recipe): one job probes AND
        # pre-materializes the frame the match branch cross-joins, instead
        # of a limit-1 probe job plus a full plan re-execution (round-9,
        # reference runs one transaction with no pre-queries,
        # src/executor.ts:446-456)
        matched, match_empty = self._checkpoint_created(
            match_state.require_df(), [], "unreachable"
        )
        if match_empty:
            # the chain compiler creates the path once per distinct key
            # tuple: here one tuple, or none for zero input rows (Neo4j runs
            # MERGE once per input row), in one created-set checkpoint
            return self._merge_chain_correlated(state, m)
        out = state.require_df().crossJoin(matched)
        scope = state.scope.copy()
        for info in match_state.scope.vars.values():
            scope.bind(info)
        new_state = CompileState(df=out, scope=scope)
        if m.on_match:
            new_state = self.compile_set(
                new_state, ast.SetClause(items=m.on_match)
            )
        return new_state

    def _merge_chain_correlated(
        self, state: CompileState, m: ast.Merge
    ) -> CompileState:
        """Correlated relationship MERGE of any length: `MATCH (a), (b)
        MERGE (a)-[:X]->(b)`, `MATCH (a) MERGE (a)-[:X]->(b:B {k: a.k})
        -[:Y]->(c:C)` — any mix of pre-bound (bare) node variables and
        unbound nodes; properties may reference outer variables (reference
        merge interpreters, src/executor.ts:6835-7121, 7346-7610).

        Vectorized: distinct (bound ids, computed key values) tuples →
        anti-join against existing FULL-chain matches → one fresh
        node-per-unbound/edge-per-hop set per missing tuple; rows sharing a
        tuple bind the same created elements. Full-pattern atomicity: a
        partially-existing chain is never extended — the whole chain is
        created. The existence match and the re-bind of every row are
        `compile_match` over the pattern, its property maps rewritten to
        read the key values as value variables.
        """
        elements = m.path.elements
        nodes = [el for el in elements[0::2]]
        rels = [el for el in elements[1::2]]
        for r in rels:
            if r.var and r.var in state.scope:
                raise CypherCompileError(
                    f"relationship variable `{r.var}` already bound"
                )
        rel_vars = [r.var or self.gensym("mr") for r in rels]
        bound = []
        node_vars = []
        node_labels: list[list[str]] = []
        key_labels: list = []  # position -> _key_label of its node
        first_pos: dict[str, int] = {}  # unbound var -> first position
        canon: list[int] = []  # position -> first position of its variable
        for i, np_ in enumerate(nodes):
            is_bound = np_.var is not None and np_.var in state.scope
            if is_bound:
                if np_.labels or np_.props:
                    # Neo4j 3.5 / reference parity (src/translator.ts:
                    # 305-333): a bound pattern variable cannot take new
                    # label/property predicates in MERGE
                    raise CypherCompileError(
                        f"Variable `{np_.var}` already declared"
                    )
                info = state.scope.get(np_.var)
                if info is None or info.kind != "node":
                    raise CypherCompileError(
                        "MERGE endpoint must be a node variable"
                    )
                var = np_.var
                labels = []  # the pattern restates nothing for a bound node
                key_labels.append(self._key_label(info))
                canon.append(i)
            else:
                var = np_.var or self.gensym("mn")
                if var in first_pos:
                    # repeated unbound variable: ONE node occupies every
                    # occurrence; later occurrences must be bare (Neo4j
                    # rejects re-stated labels/props on a pattern variable)
                    if np_.labels or np_.props:
                        raise CypherCompileError(
                            f"Variable `{var}` already declared"
                        )
                    canon.append(first_pos[var])
                    labels = node_labels[first_pos[var]]
                else:
                    first_pos[var] = i
                    canon.append(i)
                    labels = list(np_.labels)  # [] = unlabeled endpoint
                    if labels:
                        self.store.ensure_label(labels[0])
                key_labels.append(labels[0] if labels else "")
            bound.append(is_bound)
            node_vars.append(var)
            node_labels.append(labels)

        df = state.require_df()
        # each computed key value (it may read outer variables) is bound as
        # a value variable, and the pattern's property maps read those
        # variables: the MATCH compiler joins them like any correlated map
        key_scope = state.scope.copy()
        elem_keys: list[dict[str, str]] = []  # per element: key -> variable
        els: list = []
        for n, el in enumerate(elements):
            key: dict[str, str] = {}
            for k, tc in self._compiled_props(state, el.props).items():
                kv = f"__mk{n}_{len(key)}"
                df = df.withColumn(vcol(kv, "val"), tc.col)
                key_scope.bind(self._val_info(kv, tc))
                key[k] = kv
            elem_keys.append(key)
            props = (
                ast.MapLit([(k, ast.Var(kv)) for k, kv in key.items()])
                if key
                else None
            )
            i = n // 2
            if n % 2:
                els.append(replace(el, var=rel_vars[i], props=props))
            else:
                own = not bound[i] and canon[i] == i
                els.append(
                    ast.NodePattern(
                        var=node_vars[i],
                        labels=node_labels[i] if own else [],
                        props=props,
                    )
                )
        pattern = ast.Match(paths=[replace(m.path, elements=els)])
        node_keys, rel_keys = elem_keys[0::2], elem_keys[1::2]
        df = df.localCheckpoint(eager=True)
        tmp_cols = [vcol(kv, "val") for key in elem_keys for kv in key.values()]
        bound_id_cols = sorted(
            {vcol(node_vars[i], "id") for i in range(len(nodes)) if bound[i]}
        )
        # a bound node's per-row key label rides the tuples to the created
        # rows (it is a function of the id: no extra tuples, and no key
        # of the null check below)
        label_cols = sorted({
            vcol(node_vars[i], "label") for i in range(len(nodes))
            if bound[i] and not isinstance(key_labels[i], str)
        })
        group_cols = bound_id_cols + label_cols + tmp_cols
        if not group_cols:
            # nothing bound and no key props: one global match-else-create
            # tuple (constant grouping key keeps the anti-join machinery)
            df = df.withColumn("__mg", F.lit(1))
            tmp_cols = ["__mg"]
            group_cols = ["__mg"]

        def match(rows: DataFrame) -> CompileState:
            """rows joined to every existing full-chain match whose
            element properties equal the row's key values"""
            return self.compile_match(
                CompileState(df=rows, scope=key_scope), pattern
            )

        # a null bound endpoint (an OPTIONAL MATCH miss) merges nothing and
        # binds nothing: its tuples never reach the anti-join, and the
        # re-bind below drops its rows by id equality (the reference skips
        # the row, src/executor.ts:7135-7138)
        live = df
        for c in bound_id_cols:
            live = live.where(F.col(c).isNotNull())
        all_tuples = live.select(*group_cols).distinct()
        # with every node bound, the distinct tuples are already hash
        # partitioned on the pattern's join keys, so matching them costs no
        # shuffle; otherwise the join keys are a strict subset of the
        # tuple, and joining the aggregate costs one more shuffle stage
        # (one more job under AQE) than joining the checkpointed rows
        if all(self.catalog.edge_tables([r.types[0]]) for r in rels):
            matched = match(all_tuples if all(bound) else live).require_df()
            have = matched.select(*group_cols).distinct()
            missing = all_tuples.join(have, on=group_cols, how="left_anti")
            matched_eids = matched.select(
                F.col(vcol(rel_vars[0], "eid")).alias("_id")
            ).distinct()
        else:
            # a relationship type with no table yet: nothing can match
            missing = all_tuples
            matched_eids = None
        created = missing
        new_node_cols: dict[int, str] = {}
        for i in range(len(nodes)):
            if not bound[i] and canon[i] == i:
                new_node_cols[i] = f"__nu_{i}"
                created = created.withColumn(f"__nu_{i}", F.expr("uuid()"))
        new_edge_cols = [f"__eu_{j}" for j in range(len(rels))]
        for cname in new_edge_cols:
            created = created.withColumn(cname, F.expr("uuid()"))
        # undirected hops create left-to-right (Neo4j)
        hop_ends = [
            (j + 1, j) if r.direction == "in" else (j, j + 1)
            for j, r in enumerate(rels)
        ]
        label_pairs = []
        for li, ri in hop_ends:
            ends = (key_labels[li], key_labels[ri])
            created, obs = self._observe_label_pairs(created, ends)
            label_pairs.append((ends, obs))
        created, created_empty = self._checkpoint_created(
            created,
            [c for c in group_cols if c not in label_cols],
            "Cannot merge using null property value",
        )
        # ON CREATE items that only read their own created element fold
        # into its appended rows; the rest run as a rewrite below
        on_create = list(m.on_create)
        if not created_empty:
            for i in range(len(nodes)):
                if bound[i] or canon[i] != i:
                    continue
                rows, on_create = self._fold_on_create(
                    VarInfo(
                        name=node_vars[i], kind="node", labels=node_labels[i],
                        props={k: created.schema[vcol(kv, "val")].dataType
                               for k, kv in node_keys[i].items()},
                    ),
                    created.select(
                        F.col(new_node_cols[i]).alias("_id"),
                        *[
                            F.col(vcol(kv, "val")).alias(k)
                            for k, kv in node_keys[i].items()
                        ],
                    ),
                    on_create,
                )
                self.store.append_nodes(
                    node_labels[i][0] if node_labels[i] else "", rows
                )
                self._merge_add_extra_labels(
                    node_labels[i],
                    created.select(F.col(new_node_cols[i]).alias("_id")),
                )
            for j, r in enumerate(rels):
                li, ri = hop_ends[j]
                src_col = (
                    vcol(node_vars[li], "id")
                    if bound[li]
                    else new_node_cols[canon[li]]
                )
                dst_col = (
                    vcol(node_vars[ri], "id")
                    if bound[ri]
                    else new_node_cols[canon[ri]]
                )
                rel_info = VarInfo(
                    name=rel_vars[j], kind="edge", types=[r.types[0]],
                    props={k: created.schema[vcol(kv, "val")].dataType
                           for k, kv in rel_keys[j].items()},
                )
                rest = on_create
                for src_label, dst_label, part in self._by_label_pair(
                    created, *label_pairs[j]
                ):
                    rows, rest = self._fold_on_create(
                        rel_info,
                        part.select(
                            F.col(new_edge_cols[j]).alias("_id"),
                            F.col(src_col).alias("_src"),
                            F.col(dst_col).alias("_dst"),
                            *[
                                F.col(vcol(kv, "val")).alias(k)
                                for k, kv in rel_keys[j].items()
                            ],
                        ),
                        on_create,
                    )
                    self.store.append_edges(r.types[0], src_label, dst_label, rows)
                on_create = rest
        # re-bind every row against the now-complete tables
        rebound = match(df)
        scope = state.scope.copy()
        for name, info in rebound.scope.vars.items():
            if name not in key_scope:
                scope.bind(info)
        new_state = CompileState(
            df=rebound.require_df().drop(*tmp_cols), scope=scope
        )
        if on_create and not created_empty:
            new_state = self._apply_merge_sets(
                new_state,
                rel_vars[0],
                created.select(F.col(new_edge_cols[0]).alias("_id")),
                on_create,
            )
        if m.on_match and matched_eids is not None:
            new_state = self._apply_merge_sets(
                new_state, rel_vars[0], matched_eids, m.on_match
            )
        return new_state

    def _merge_node(
        self,
        state: CompileState,
        np_: ast.NodePattern,
        on_create: list[ast.SetItem],
        on_match: list[ast.SetItem],
    ) -> CompileState:
        var = np_.var or self.gensym("mn")
        if var in state.scope:
            raise CypherCompileError(f"MERGE variable `{var}` already bound")
        labels = list(np_.labels)  # [] = unlabeled: match ANY node
        label = labels[0] if labels else ""
        if labels:
            self.store.ensure_label(label)
        props = self._compiled_props(state, np_.props)
        for k, tc in props.items():
            if isinstance(tc.dtype, T.NullType):
                # Neo4j: "Cannot merge node using null property value"
                raise CypherCompileError(
                    f"Cannot merge node using null property value for `{k}`",
                    pos=getattr(self, "_clause_pos", None),
                )
        df = state.require_df()
        # the key values are bound as value variables, read by the
        # pattern's property map on the scans below
        key_scope = state.scope.copy()
        items: list[tuple[str, ast.Expr]] = []
        for n, (k, tc) in enumerate(props.items()):
            kv = f"__mk{n}"
            df = df.withColumn(vcol(kv, "val"), tc.col)
            key_scope.bind(self._val_info(kv, tc))
            items.append((k, ast.Var(kv)))
        key_cols = [vcol(kv.name, "val") for _, kv in items]
        n_input = None
        if items:
            # the binding-row count rides the checkpoint as an Observation
            # (zero extra jobs) and row-gates the broadcast hints on every
            # key/id re-attach below — the checkpoint itself reports
            # MaxValue stats, so the planner alone would shuffle both sides
            from pyspark.sql import Observation

            obs = Observation()
            df = df.observe(
                obs, F.count(F.lit(1)).alias("__n")
            ).localCheckpoint(eager=True)
            n_input = obs.get["__n"]
        scan, info = self._node_scan(var, labels)
        key_names = list(props)
        key_types = {k: tc.dtype for k, tc in props.items()}
        created = None
        appended = False
        staged = None
        if items:
            keys = df.select(*key_cols).distinct()
            if all(k in info.props for k in key_names):
                on = functools.reduce(
                    operator.and_,
                    self._prop_conds(
                        CompileState(df=df, scope=key_scope), info, items
                    ),
                )
                missing_keys = keys.join(scan, on, "left_anti")
                matched = scan.join(gated(keys, n_input), on, "left_semi")
            else:  # a key no node carries yet: nothing matches
                missing_keys = keys
                matched = scan.where(F.lit(False))
            new_rows = missing_keys.select(
                *[F.col(c).alias(k) for c, k in zip(key_cols, key_names)]
            ).withColumn("_id", F.expr("uuid()"))
            folded = (
                self._fold_node_on_create(
                    var, label, new_rows, key_types, on_create
                )
                if on_create
                else None
            )
            if len(labels) <= 1 and (not on_create or folded is not None):
                # fused fast path (r12): with at most one label and a
                # foldable (or absent) ON CREATE, nothing consumes the
                # created set after the append — so the append write itself
                # freezes the uuids and carries the count + null-key probe,
                # deleting the separate freezing checkpoint (one
                # materialization instead of two; see
                # MutableGraph.append_nodes_counted)
                append_args = dict(
                    label=label,
                    rows=folded if folded is not None else new_rows,
                    n_rows_bound=n_input,
                    null_check_cols=tuple(key_names),
                    err="Cannot merge node using null property value",
                    err_pos=getattr(self, "_clause_pos", None),
                )
                if on_match and getattr(self, "_terminal_write_clause", False):
                    # upsert fusion (r12): a TERMINAL MERGE's created rows
                    # are appended inside a staging window around the ON
                    # MATCH update below, so a durable store can ship them
                    # with that bucket rewrite as ONE write. Terminal-gated:
                    # the re-bind below reads the table before the append,
                    # which a later clause (or RETURN) would notice.
                    staged = append_args
                    self._last_created_n = None
                    created_empty = False  # unknown; unused on this path
                else:
                    n_created = self.store.append_nodes_counted(**append_args)
                    self._last_created_n = n_created
                    created_empty = n_created == 0
                appended = True
            else:
                created, created_empty = self._checkpoint_created(
                    new_rows,
                    key_names,
                    "Cannot merge node using null property value",
                )
                # refold over the CHECKPOINTED frame — the frozen uuids,
                # not the plan that would re-draw them
                folded = (
                    self._fold_node_on_create(
                        var, label, created, key_types, on_create
                    )
                    if on_create and not created_empty
                    else None
                )
        else:
            # keyless MERGE (a) / (a:L): one global match-else-create —
            # create ONE bare node iff no node matches the label set AND at
            # least one input row exists (openCypher Merge1; rows all bind
            # the same created node). Both emptiness probes are data, not
            # driver jobs: a limit-1 input seed crossed with a broadcast
            # 1-row match count seeds 0 or 1 creations, and the emptiness
            # flag rides the created-set checkpoint via observe (round-9,
            # VERDICT r8 #2 — reference runs one transaction with no
            # pre-queries, src/executor.ts:446-456).
            matched = scan
            match_cnt = (
                scan.select(vcol(var, "id"))
                .limit(1)
                .agg(F.count(F.lit(1)).alias("__match_n"))
            )
            created, created_empty = self._checkpoint_created(
                df.limit(1)
                .select(F.lit(1).alias("__seed"))
                .crossJoin(F.broadcast(match_cnt))
                .where(F.col("__match_n") == 0)
                .select(F.expr("uuid()").alias("_id")),
                [],
                "unreachable",
            )
            folded = (
                self._fold_node_on_create(
                    var, label, created, key_types, on_create
                )
                if on_create and not created_empty
                else None
            )
        if not appended and not created_empty:
            # ON CREATE SET folded into the insert rows = ONE write instead
            # of append + per-row rewrite (the dominant job count of a MERGE
            # upsert storm); empty create sets skip the write entirely
            self.store.append_nodes(label, folded if folded is not None else created)
            self._merge_add_extra_labels(labels, created.select("_id"))
        # bind var: join the binding rows to the (now complete) table by
        # their keys. An unlabeled MERGE binds through the untyped scan, so
        # downstream SET/REMOVE reach the right label tables.
        rebound, _ = self._add_node(
            CompileState(df=df, scope=key_scope),
            ast.NodePattern(
                var=var, labels=labels, props=ast.MapLit(items) if items else None
            ),
        )
        scope = state.scope.copy()
        scope.bind(rebound.scope.get(var))
        new_state = CompileState(
            df=rebound.require_df().drop(*key_cols), scope=scope
        )
        if on_create and folded is None and not created_empty:
            new_state = self._apply_merge_sets(
                new_state,
                var,
                gated(created.select("_id"), self._last_created_n),
                on_create,
            )
        # matched ids ≤ the distinct binding keys ≤ the observed input rows
        with (
            self.store.staged_append(**staged) if staged else contextlib.nullcontext()
        ):
            return self._apply_merge_sets(
                new_state,
                var,
                gated(matched.select(F.col(vcol(var, "id")).alias("_id")), n_input),
                on_match,
            )

    def _fold_on_create(
        self, info: VarInfo, rows: DataFrame, items: list[ast.SetItem]
    ) -> tuple[DataFrame, list[ast.SetItem]]:
        """Fold ON CREATE SET items into the created element's store rows
        (``_id``, edge ``_src``/``_dst``, one column per prop in
        ``info.props``) — one write instead of append + per-row rewrite.
        An item folds when it assigns a non-key property of ``info``'s
        variable from constants, parameters and that variable's own
        properties. They fold only when no other item reads or writes the
        variable, so in-order SET semantics hold. Returns the rows with
        the folded items applied and the items left for the general
        update path."""
        var = info.name

        def own(it: ast.SetItem) -> bool:
            return (
                it.kind == "prop"
                and isinstance(it.target, ast.Prop)
                and isinstance(it.target.base, ast.Var)
                and it.target.base.name == var
                # a key prop must keep the value the re-bind joins on
                and it.target.key not in info.props
                and _expr_var_names(it.value) <= {var}
            )

        mine = [it for it in items if own(it)]
        rest = [it for it in items if not own(it)]
        if not mine or any(var in _expr_var_names(it) for it in rest):
            return rows, items
        structural = {"_id": info.id_col()}
        if info.kind == "edge":
            structural.update(_src=vcol(var, "src"), _dst=vcol(var, "dst"))
        bound = rows
        for c, b in structural.items():
            bound = bound.withColumnRenamed(c, b)
        for k in info.props:
            bound = bound.withColumnRenamed(k, pcol(var, k))
        if info.kind == "edge":
            bound = bound.withColumn(vcol(var, "type"), F.lit(info.types[0]))
        props = dict(info.props)
        for it in mine:
            key = it.target.key  # type: ignore[union-attr]
            self._validate_storable_static(key, it.value)
            scope = Scope()
            scope.bind(replace(info, props=dict(props)))
            tc = self._compile_expr(CompileState(df=bound, scope=scope), it.value)
            col, dtype = tc.col, tc.dtype
            if dtype is None or isinstance(dtype, T.NullType):
                col, dtype = col.cast("string"), T.StringType()  # parquet-safe
            else:
                self._validate_storable(key, tc)
            bound = bound.withColumn(pcol(var, key), col)
            props[key] = dtype
        return bound.select(
            *[F.col(b).alias(c) for c, b in structural.items()],
            *[F.col(pcol(var, k)).alias(k) for k in props],
        ), rest

    def _fold_node_on_create(
        self, var: str, label: str, rows: DataFrame,
        key_types: dict[str, T.DataType], items: list[ast.SetItem],
    ) -> DataFrame | None:
        """Single-node MERGE: the created rows with EVERY ON CREATE item
        folded, or None when any item needs the general update path."""
        info = VarInfo(name=var, kind="node", labels=[label], props=key_types)
        folded, rest = self._fold_on_create(info, rows, items)
        return None if rest else folded

    def _checkpoint_created(
        self, frame: DataFrame, key_cols: list[str], err: str
    ) -> tuple[DataFrame, bool]:
        """Checkpoint the created set (freezing generated uuids) and ride
        the emptiness + null-key probe on the SAME job via ``observe`` —
        zero follow-up probe jobs (the pattern durable_store._write_files
        uses for write stats). Null key values always land in the created
        set, since null never equals a stored key — raising here is the
        runtime MERGE-null check (reference src/translator.ts:829-842).

        The measured row count is kept on ``self._last_created_n`` for
        broadcast gating by the caller (``graph_store.gated``)."""
        from pyspark.sql import Observation

        from nicefox_graphdb_spark.graph_store import (
            CypherRuntimeError,
            null_metrics,
        )

        obs = Observation()
        created = frame.observe(
            obs, F.count(F.lit(1)).alias("__n"), *null_metrics(key_cols)
        ).localCheckpoint(eager=True)
        row = obs.get
        if row.get("__has_null"):
            raise CypherRuntimeError(
                err, pos=getattr(self, "_clause_pos", None)
            )
        self._last_created_n = row["__n"]
        return created, row["__n"] == 0

    def _apply_merge_sets(
        self,
        state: CompileState,
        var: str,
        ids: DataFrame,
        items: list[ast.SetItem],
    ) -> CompileState:
        if not items:
            return state
        info = state.scope.get(var)
        assert info is not None
        idc = info.id_col()  # nodes bind __v_x__id, edges __v_x__eid
        df = state.require_df()
        flag = f"__merge_flag_{var}"
        marked = df.join(
            ids.select(F.col("_id").alias(idc)).withColumn(
                flag, F.lit(True)
            ),
            on=idc,
            how="left",
        )
        # no emptiness probe: an empty matched/created set flows through
        # compile_set to a zero-touched-bucket no-op write — probing first
        # would cost a Spark job in the common non-empty case
        sub = CompileState(df=marked.where(F.col(flag)).drop(flag), scope=state.scope)
        sub = self.compile_set(sub, ast.SetClause(items=items))
        # merge updated prop columns back into the full binding table for
        # EVERY variable the SET items touch — not just the marker var
        # (`MERGE (a)-[r]->(b) ON CREATE SET b.x = 1 RETURN b.x` must see
        # the fresh value, Neo4j parity)
        target_vars = {var}
        for it in items:
            t = it.target
            if isinstance(t, ast.Prop) and isinstance(t.base, ast.Var):
                target_vars.add(t.base.name)
            elif isinstance(t, ast.Var):
                target_vars.add(t.name)
        updates: list[tuple[str, VarInfo]] = []
        for v in sorted(target_vars):
            uinfo = sub.scope.get(v)
            if uinfo is not None and state.scope.get(v) is not None:
                updates.append((v, uinfo))
        full = marked
        for v, uinfo in updates:
            for k in uinfo.props:
                colname = pcol(v, k)
                if colname not in full.columns:
                    full = full.withColumn(colname, F.lit(None))
        upd_cols = [
            (v, k, f"__mu_{v}_{k}") for v, uinfo in updates for k in uinfo.props
        ]
        sub_sel = sub.df.select(
            F.col(idc).alias("__mid"),
            *[F.col(pcol(v, k)).alias(tmp) for v, k, tmp in upd_cols],
        ).dropDuplicates(["__mid"])
        joined = full.join(
            sub_sel, full[idc] == sub_sel["__mid"], "left"
        )
        for v, k, tmp in upd_cols:
            joined = joined.withColumn(
                pcol(v, k),
                F.when(F.col(flag), F.col(tmp)).otherwise(F.col(pcol(v, k))),
            )
        joined = joined.drop(flag, "__mid", *[tmp for _, _, tmp in upd_cols])
        scope = state.scope.copy()
        for _v, uinfo in updates:
            scope.bind(uinfo)
        return CompileState(df=joined, scope=scope)

    @staticmethod
    def _path_directed_for_create(path: ast.PatternPath) -> ast.PatternPath:
        """MERGE-driven creation of an undirected pattern goes left-to-right
        (Neo4j): coerce `both` hops to `out` for the CREATE branch only."""
        import dataclasses

        els = [
            dataclasses.replace(el, direction="out")
            if isinstance(el, ast.RelPattern) and el.direction == "both"
            else el
            for el in path.elements
        ]
        return dataclasses.replace(path, elements=els)

    def _merge_standalone_path(
        self, state: CompileState, m: ast.Merge
    ) -> CompileState:
        match_state = self.compile_match(
            CompileState(df=None, scope=Scope()),
            ast.Match(paths=[m.path]),
        )
        # emptiness rides the match-set checkpoint (observe count): one job
        # probes AND pre-materializes the frame the match branch
        # cross-joins (round-9, VERDICT r8 #2)
        matched, match_empty = self._checkpoint_created(
            match_state.require_df(), [], "unreachable"
        )
        if match_empty:
            st = self.compile_create(
                state, ast.Create(paths=[self._path_directed_for_create(m.path)])
            )
            if m.on_create:
                st = self.compile_set(st, ast.SetClause(items=m.on_create))
            return st
        out = state.require_df().crossJoin(matched)
        scope = state.scope.copy()
        for info in match_state.scope.vars.values():
            scope.bind(info)
        st = CompileState(df=out, scope=scope)
        if m.on_match:
            st = self.compile_set(st, ast.SetClause(items=m.on_match))
        return st

    def _order_skip_limit(
        self, df: DataFrame, proj: ast.Projection, scope: Scope
    ) -> DataFrame:
        if proj.order_by:
            sort_cols = []
            st = CompileState(df=df, scope=scope)
            for oi in proj.order_by:
                # pattern predicates / comprehensions in sort expressions
                # compile via markers like anywhere else
                st, oe = self._rewrite_pattern_predicates(st, oi.expr)
                ctx = ExprCtx(scope=st.scope, params=self.params)
                tc = ExprCompiler(ctx).compile(oe)
                # Cypher/Neo4j: NULL sorts last ascending, first descending
                sort_cols.append(
                    tc.col.desc_nulls_first() if oi.desc else tc.col.asc_nulls_last()
                )
            orig_cols = df.columns
            df = st.require_df().orderBy(*sort_cols).select(*orig_cols)
        if proj.skip is not None:
            df = df.offset(self._skip_limit_count("SKIP", proj.skip))
        if proj.limit is not None:
            df = df.limit(self._skip_limit_count("LIMIT", proj.limit))
        return df


def _entity_branch_props_ast(
    scope: Scope, expr: ast.Expr, what: str = "props"
) -> ast.Expr | None:
    """AST-level twin of _entity_branches for rendering positions: rewrite
    coalesce(...)/CASE whose result arms are bound entity variables so each
    arm becomes properties(arm) (a null entity's properties are null, so
    the winner is unchanged). With ``what="id"`` the arms become id(arm)
    instead — the identity twin collect(DISTINCT ...) dedups on (round-9,
    ADVICE r8). Returns None when not that shape."""

    def entity_info(a: ast.Expr):
        if isinstance(a, ast.Var):
            vi = scope.get(a.name)
            if vi is not None and vi.kind in ("node", "edge"):
                return vi
        return None

    def is_null_lit(a: ast.Expr) -> bool:
        return isinstance(a, ast.Literal) and a.value is None

    def gather(args: list[ast.Expr]):
        infos = [entity_info(a) for a in args]
        if not all(
            i is not None or is_null_lit(a) for i, a in zip(infos, args)
        ) or not any(infos):
            return None
        # arms' property structs must share ONE schema for coalesce/CASE to
        # type-check: build each arm as a map over the UNION of prop keys
        # (missing → null; null-valued keys are dropped at render time like
        # any entity map), guarded so a null entity stays null
        keys = sorted({k for i in infos if i is not None for k in i.props})
        return infos, keys

    def arm(a: ast.Expr, keys: list[str]) -> ast.Expr:
        if entity_info(a) is None:
            return a
        if what == "id":
            return ast.FuncCall("id", [a])
        m = ast.MapLit(items=[(k, ast.Prop(base=a, key=k)) for k in keys])
        return ast.CaseExpr(
            test=None, whens=[(ast.IsNull(operand=a, negated=True), m)],
            default=None,
        )

    if (
        isinstance(expr, ast.FuncCall)
        and expr.name.lower() == "coalesce"
        and expr.args
        and (g := gather(expr.args)) is not None
    ):
        return ast.FuncCall("coalesce", [arm(a, g[1]) for a in expr.args])
    if isinstance(expr, ast.CaseExpr):
        arms = [t_ for _, t_ in expr.whens]
        if expr.default is not None:
            arms.append(expr.default)
        if (g := gather(arms)) is not None:
            return ast.CaseExpr(
                test=expr.test,
                whens=[(w, arm(t_, g[1])) for w, t_ in expr.whens],
                default=(
                    arm(expr.default, g[1])
                    if expr.default is not None
                    else None
                ),
            )
    return None


def _bare_var_name(item: ast.ReturnItem) -> str | None:
    if isinstance(item.expr, ast.Var):
        return item.expr.name
    return None


def _expr_text(expr: ast.Expr) -> str:
    """Generate an output column name for an un-aliased RETURN item."""
    if isinstance(expr, ast.Var):
        return expr.name
    if isinstance(expr, ast.Prop):
        return f"{_expr_text(expr.base)}.{expr.key}"
    if isinstance(expr, ast.FuncCall):
        inner = ", ".join(_expr_text(a) for a in expr.args)
        distinct = "DISTINCT " if expr.distinct else ""
        return f"{expr.name}({distinct}{inner})"
    if isinstance(expr, ast.Star):
        return "*"
    if isinstance(expr, ast.Literal):
        return repr(expr.value)
    if isinstance(expr, ast.Binary):
        return f"{_expr_text(expr.left)} {expr.op} {_expr_text(expr.right)}"
    if isinstance(expr, ast.Param):
        return f"${expr.name}"
    return type(expr).__name__.lower()
