"""Cypher expression → Spark Column compiler.

Every expression compiles to a native Catalyst expression (whole-stage
codegen eligible); there are NO Python UDFs on this path. The reference
implements the same surface as SQLite SQL text + 9 custom SQL functions
(reference src/translator.ts:4557-9692, src/db.ts:370-546); here Spark's
native three-valued logic covers Cypher NULL semantics for and/or/not and
comparisons, and higher-order functions cover comprehensions/quantifiers/
reduce.

A lightweight static type (`dtype`) rides along with each compiled Column so
overloaded operators (`+` concat-vs-add, `size()` vs `length()`, integer vs
float division, temporal accessors) resolve at compile time instead of at
runtime like the reference's tagged-value JS evaluator.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace
from typing import Callable, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nicefox_graphdb_spark.cypher import ast
from nicefox_graphdb_spark.cypher.scope import Scope, VarInfo, pcol, vcol


class CypherCompileError(Exception):
    """Semantic / typing error with an optional structured position.

    ``pos`` accepts an AST node (its ``.pos``), or a (line, col) tuple;
    when present the message gains the human-readable suffix AND the
    exception carries ``line``/``col`` attributes for the structured
    QueryResponse envelope (reference carries positions on all errors,
    src/types.ts:55-68; r10, VERDICT r9 #6)."""

    def __init__(self, message: str, pos=None):
        pos = getattr(pos, "pos", pos)
        if isinstance(pos, tuple) and len(pos) == 2:
            self.line, self.col = pos
            message = f"{message} (line {pos[0]}, col {pos[1]})"
        else:
            self.line = self.col = None
        self.message = message
        super().__init__(message)


@dataclass
class TypedCol:
    col: Column
    dtype: Optional[T.DataType] = None
    # IANA zone attached to a zoned datetime value. Spark timestamps are
    # zone-less instants; the zone rides as compile-time metadata (the
    # reference stores it inside its ISO strings, src/translator.ts:69-130)
    # so component accessors read wall-clock values in that zone.
    tz: Optional[str] = None
    # entity provenance: ("node"|"edge", (labels_or_types...)) when this
    # value holds an entity ID (scalar) or an array of entity IDs (array
    # dtype). Lists of entities travel as id arrays — property access over
    # them rehydrates by joining the entity tables (compiler
    # _entity_comp_rewrite), and RETURN renders them as property maps.
    entity: Optional[tuple] = None


_NUMERIC_INT = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _is_int(dtype: Optional[T.DataType]) -> bool:
    return isinstance(dtype, _NUMERIC_INT)


def _is_string(dtype: Optional[T.DataType]) -> bool:
    return isinstance(dtype, T.StringType)


def widen_prop_dtype(a: T.DataType, b: T.DataType) -> T.DataType:
    """Union dtype for one property key bound by several entity-branch
    arms (coalesce(a, b).k / CASE arms / _branched_entity_cols): equal
    types pass through; NUMERIC types widen (any fractional → double,
    else long) so a long-on-one-label / double-on-another prop never
    truncates; other mixes keep the FIRST-seen dtype and the loser arm's
    values coerce through Spark's lenient cast — representable values
    convert (long→string yields '42', numeric strings parse), only
    incompatible ones become null. Cypher's dynamic properties have no
    principled static union for such mixes; first-seen-wins is the
    engine-wide rule both twins share (documented COVERAGE.md)."""
    if a == b or isinstance(b, T.NullType):
        return a
    if isinstance(a, T.NullType):
        return b
    if isinstance(a, T.NumericType) and isinstance(b, T.NumericType):
        if isinstance(a, _NUMERIC_INT) and isinstance(b, _NUMERIC_INT):
            return T.LongType()
        return T.DoubleType()
    return a


def _is_array(dtype: Optional[T.DataType]) -> bool:
    return isinstance(dtype, T.ArrayType)


def _is_temporal(dtype: Optional[T.DataType]) -> bool:
    return isinstance(dtype, (T.DateType, T.TimestampType, T.TimestampNTZType))


def _order_category(dtype: Optional[T.DataType]) -> Optional[str]:
    """Cypher orderability category (reference src/db.ts:172-239
    getCypherTypeForOrdering): values compare only within one category.
    Cross-category `<`/`>` is NULL; cross-category `=` is FALSE."""
    if dtype is None:
        return None
    if isinstance(dtype, T.NullType):
        return "null"
    if isinstance(dtype, _NUMERIC_INT) or isinstance(
        dtype, (T.FloatType, T.DoubleType, T.DecimalType)
    ):
        return "number"
    if isinstance(dtype, T.StringType):
        return "string"
    if isinstance(dtype, T.BooleanType):
        return "boolean"
    if isinstance(dtype, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        # one temporal-instant category: date <= datetime compares by
        # casting the date to midnight (engine precedent: TCK
        # temporal_semantics "date strips the time component")
        return "temporal"
    if isinstance(dtype, (T.DayTimeIntervalType, T.YearMonthIntervalType)):
        return "duration"
    if _is_duration(dtype):
        return "duration"
    if isinstance(dtype, T.ArrayType):
        return "list"
    if isinstance(dtype, (T.StructType, T.MapType)):
        return "map"
    return "other"


def _null_bool() -> Column:
    return F.lit(None).cast("boolean")


# Tagged-variant cell for heterogeneous literal lists (reference keeps
# dynamically-typed JSON cells, src/db.ts deepCypherEquals): one Catalyst
# struct type representing any Cypher value — kind tag, a numeric slot
# (ints and floats unify so [1] cells equal [1.0] cells), and a canonical
# text slot for everything else (strings, bools, serialized lists/maps).
_TAGGED_T = T.StructType(
    [
        T.StructField("__ck", T.StringType()),
        T.StructField("__cn", T.DoubleType()),
        T.StructField("__ct", T.StringType()),
    ]
)


def _is_tagged(dtype: Optional[T.DataType]) -> bool:
    return (
        isinstance(dtype, T.StructType)
        and [f.name for f in dtype.fields] == ["__ck", "__cn", "__ct"]
    )


# Composite duration value: months / days / microseconds — the three
# independent component groups of a Cypher duration (reference keeps ISO
# strings, src/translator.ts:13290-13324). A struct (not a Catalyst
# CalendarInterval) so accessors, collection, and negation all work;
# converted to native intervals only at temporal-arithmetic sites.
_DUR_T = T.StructType(
    [
        T.StructField("__dmo", T.LongType()),
        T.StructField("__dd", T.LongType()),
        T.StructField("__dus", T.LongType()),
    ]
)


def _is_duration(dtype: Optional[T.DataType]) -> bool:
    return (
        isinstance(dtype, T.StructType)
        and [f.name for f in dtype.fields] == ["__dmo", "__dd", "__dus"]
    )


def _dur_struct(months: Column, days: Column, us: Column) -> Column:
    return F.struct(
        months.cast("long").alias("__dmo"),
        days.cast("long").alias("__dd"),
        us.cast("long").alias("__dus"),
    )


def _dur_scale(dc: Column, k: Column) -> Column:
    """duration * k / duration / k with Neo4j's approximate carry
    (DurationValue.approximate): fractional months spill into days at the
    average month length (30.4375 days), fractional days into microseconds.
    Exact (no carry) whenever k scales each component to an integer."""
    mo_f = dc.getField("__dmo") * k
    mo = mo_f.cast("long")
    d_f = dc.getField("__dd") * k + (mo_f - mo) * F.lit(30.4375)
    d = d_f.cast("long")
    us = dc.getField("__dus") * k + (d_f - d) * F.lit(86400.0 * 1_000_000)
    return _dur_struct(mo, d, F.round(us))


def _dur_iso_string(dc: Column) -> Column:
    """ISO-8601 rendering of a duration struct (P[nY][nM][nD][T…]; PT0S
    when empty) — the textual form the reference stores durations in."""
    mo = dc.getField("__dmo")
    dd = dc.getField("__dd")
    us = dc.getField("__dus")
    years = (mo / F.lit(12)).cast("long")
    mrem = mo - years * 12
    hours = (us / F.lit(3_600_000_000)).cast("long")
    mins = ((us - hours * 3_600_000_000) / F.lit(60_000_000)).cast("long")
    sec_us = us - hours * 3_600_000_000 - mins * 60_000_000
    sec_whole = (sec_us / F.lit(1_000_000)).cast("long")
    frac = sec_us - sec_whole * 1_000_000

    def seg(col: Column, suffix: str) -> Column:
        return F.when(
            col != 0, F.concat(col.cast("string"), F.lit(suffix))
        ).otherwise(F.lit(""))

    sec_txt = F.when(
        frac != 0,
        F.concat(
            F.regexp_replace(
                F.regexp_replace(
                    (sec_us.cast("decimal(20,6)") / F.lit(1_000_000)).cast(
                        "decimal(20,6)"
                    ).cast("string"),
                    r"0+$",
                    "",
                ),
                r"\.$",
                "",
            ),
            F.lit("S"),
        ),
    ).otherwise(seg(sec_whole, "S"))
    date_part = F.concat(seg(years, "Y"), seg(mrem, "M"), seg(dd, "D"))
    time_part = F.concat(seg(hours, "H"), seg(mins, "M"), sec_txt)
    out = F.concat(
        F.lit("P"),
        date_part,
        F.when(time_part != "", F.concat(F.lit("T"), time_part)).otherwise(
            F.lit("")
        ),
    )
    return F.when(dc.isNull(), F.lit(None)).otherwise(
        F.when(out == "P", F.lit("PT0S")).otherwise(out)
    )


_DUR_KEYS = {
    "years",
    "months",
    "monthsofyear",
    "quarters",
    "quartersofyear",
    "weeks",
    "days",
    "daysofweek",
    "hours",
    "minutes",
    "minutesofhour",
    "seconds",
    "secondsofminute",
    "milliseconds",
    "microseconds",
    "nanoseconds",
}


def _tag_value(tc: "TypedCol") -> Column:
    """Encode a typed value as a tagged-variant struct (see _TAGGED_T)."""
    cat = _order_category(tc.dtype)
    null_struct = F.lit(None).cast(_TAGGED_T)
    if cat in (None, "null"):
        return null_struct
    if cat == "number":
        tagged = F.struct(
            F.lit("n").alias("__ck"),
            tc.col.cast("double").alias("__cn"),
            F.lit(None).cast("string").alias("__ct"),
        )
    elif cat == "map" and isinstance(tc.dtype, T.StructType):
        # canonical text: JSON with key-sorted field order
        ordered = F.struct(
            *[
                tc.col.getField(f.name).alias(f.name)
                for f in sorted(tc.dtype.fields, key=lambda f: f.name)
            ]
        )
        tagged = F.struct(
            F.lit("m").alias("__ck"),
            F.lit(None).cast("double").alias("__cn"),
            F.to_json(ordered, {"ignoreNullFields": "false"}).alias("__ct"),
        )
    elif cat == "list":
        tagged = F.struct(
            F.lit("l").alias("__ck"),
            F.lit(None).cast("double").alias("__cn"),
            # keep null fields: nested tagged cells must round-trip their
            # full key set through the JSON text
            F.to_json(
                F.struct(tc.col.alias("v")), {"ignoreNullFields": "false"}
            ).alias("__ct"),
        )
    else:
        # string / boolean / temporal / duration → canonical text; composite
        # durations render as ISO-8601 (PT1H), not raw struct text
        text = (
            _dur_iso_string(tc.col)
            if _is_duration(tc.dtype)
            else tc.col.cast("string")
        )
        tagged = F.struct(
            F.lit(cat[0]).alias("__ck"),
            F.lit(None).cast("double").alias("__cn"),
            text.alias("__ct"),
        )
    return F.when(tc.col.isNull(), null_struct).otherwise(tagged)


def _untag_numeric(tc: "TypedCol") -> "TypedCol":
    """Numeric view of a tagged-variant cell: the __cn slot (null for
    non-numeric kinds). Plain values pass through unchanged."""
    if _is_tagged(tc.dtype):
        return TypedCol(tc.col.getField("__cn"), T.DoubleType())
    return tc


def _tagged_to_string(col: Column) -> Column:
    """Canonical text of a tagged cell: numbers collapse int-valued doubles
    (the reference's JS number rendering); other kinds use the stored text."""
    n = col.getField("__cn")
    return F.when(
        col.getField("__ck") == "n",
        F.when(n == F.floor(n), n.cast("long").cast("string")).otherwise(
            n.cast("string")
        ),
    ).otherwise(col.getField("__ct"))


def _any_cond(conds: list[Column]) -> Column:
    out = None
    for c in conds:
        out = c if out is None else (out | c)
    return out if out is not None else F.lit(False)


def _deep_list_eq(left: "TypedCol", right: "TypedCol") -> Column:
    """Element-wise three-valued list equality (reference deepCypherEquals,
    src/db.ts:113-151): size mismatch → false; any decided-unequal pair →
    false; else any null-involved pair → null; else true."""
    lt, rt = left.dtype, right.dtype
    lc, rc = left.col, right.col
    let = lt.elementType if isinstance(lt, T.ArrayType) else None
    ret = rt.elementType if isinstance(rt, T.ArrayType) else None
    if _is_tagged(let) != _is_tagged(ret):
        # one side heterogeneous (tagged cells), the other plain: lift the
        # plain side into the same variant encoding element-wise
        if _is_tagged(let) and ret is not None and not isinstance(ret, T.NullType):
            rc = F.transform(rc, lambda x: _tag_value(TypedCol(x, ret)))
            rt = T.ArrayType(_TAGGED_T)
        elif _is_tagged(ret) and let is not None and not isinstance(let, T.NullType):
            lc = F.transform(lc, lambda x: _tag_value(TypedCol(x, let)))
            lt = T.ArrayType(_TAGGED_T)
    lec = _order_category(lt.elementType if isinstance(lt, T.ArrayType) else None)
    rec = _order_category(rt.elementType if isinstance(rt, T.ArrayType) else None)
    if lec == "null" and rec != "null" and rec is not None:
        lc = lc.cast(rt)
        lec = rec
    elif rec == "null" and lec != "null" and lec is not None:
        rc = rc.cast(lt)
        rec = lec
    base = F.when(lc.isNull() | rc.isNull(), _null_bool()).when(
        F.size(lc) != F.size(rc), F.lit(False)
    )
    if lec == "null" and rec == "null":
        # all-null element lists: only emptiness decides
        return base.when(F.size(lc) == 0, F.lit(True)).otherwise(_null_bool())
    if lec is not None and rec is not None and lec != rec:
        # different element categories: only empty lists are equal
        return base.when(F.size(lc) == 0, F.lit(True)).otherwise(F.lit(False))
    pair_false = F.exists(
        F.zip_with(lc, rc, lambda x, y: x.isNotNull() & y.isNotNull() & (x != y)),
        lambda b: b,
    )
    pair_null = F.exists(
        F.zip_with(lc, rc, lambda x, y: x.isNull() | y.isNull()), lambda b: b
    )
    return (
        base.when(pair_false, F.lit(False))
        .when(pair_null, _null_bool())
        .otherwise(F.lit(True))
    )


def _deep_map_eq(left: "TypedCol", right: "TypedCol") -> Column:
    """Key-set + field-wise three-valued map equality (reference
    deepCypherEquals map branch, src/db.ts:131-145)."""
    lt, rt = left.dtype, right.dtype
    lc, rc = left.col, right.col
    lkeys = sorted(f.name for f in lt.fields)
    rkeys = sorted(f.name for f in rt.fields)
    if lkeys != rkeys:
        return F.when(lc.isNull() | rc.isNull(), _null_bool()).otherwise(
            F.lit(False)
        )
    ltypes = {f.name: f.dataType for f in lt.fields}
    rtypes = {f.name: f.dataType for f in rt.fields}
    false_conds: list[Column] = []
    null_conds: list[Column] = []
    for k in lkeys:
        lf, rf = lc.getField(k), rc.getField(k)
        lfc, rfc = _order_category(ltypes[k]), _order_category(rtypes[k])
        if lfc == "null" or rfc == "null":
            null_conds.append(F.lit(True))
            continue
        if lfc is not None and rfc is not None and lfc != rfc:
            false_conds.append(lf.isNotNull() & rf.isNotNull())
            null_conds.append(lf.isNull() | rf.isNull())
            continue
        false_conds.append(lf.isNotNull() & rf.isNotNull() & (lf != rf))
        null_conds.append(lf.isNull() | rf.isNull())
    return (
        F.when(lc.isNull() | rc.isNull(), _null_bool())
        .when(_any_cond(false_conds), F.lit(False))
        .when(_any_cond(null_conds), _null_bool())
        .otherwise(F.lit(True))
    )


@dataclass
class ExprCtx:
    """Compilation context: variable scope, parameters, lambda bindings."""

    scope: Scope
    params: dict = field(default_factory=dict)
    lambdas: dict[str, TypedCol] = field(default_factory=dict)

    def child_with_lambda(self, name: str, tc: TypedCol) -> "ExprCtx":
        lam = dict(self.lambdas)
        lam[name] = tc
        return ExprCtx(scope=self.scope, params=self.params, lambdas=lam)


def lit_value(value) -> TypedCol:
    """Convert a Python (parameter) value to a literal column."""
    if value is None:
        return TypedCol(F.lit(None), T.NullType())
    if isinstance(value, bool):
        return TypedCol(F.lit(value), T.BooleanType())
    if isinstance(value, int):
        return TypedCol(F.lit(value), T.LongType())
    if isinstance(value, float):
        return TypedCol(F.lit(value), T.DoubleType())
    if isinstance(value, str):
        return TypedCol(F.lit(value), T.StringType())
    if isinstance(value, (list, tuple)):
        items = [lit_value(v) for v in value]
        elem = next(
            (tc.dtype for tc in items if tc.dtype is not None), T.StringType()
        )
        return TypedCol(F.array(*[tc.col for tc in items]), T.ArrayType(elem))
    if isinstance(value, dict):
        tcs = {k: lit_value(v) for k, v in value.items()}
        dtype = T.StructType(
            [
                T.StructField(k, tc.dtype or T.StringType())
                for k, tc in tcs.items()
            ]
        )
        return TypedCol(
            F.struct(*[tc.col.alias(k) for k, tc in tcs.items()]), dtype
        )
    raise CypherCompileError(f"unsupported parameter value type: {type(value)}")


class ExprCompiler:
    def __init__(self, ctx: ExprCtx):
        self.ctx = ctx

    # ------------------------------------------------------------------
    def compile(self, expr: ast.Expr) -> TypedCol:  # noqa: PLR0911, PLR0912
        if isinstance(expr, ast.Literal):
            return self._literal(expr)
        if isinstance(expr, ast.Param):
            if expr.name not in self.ctx.params:
                raise CypherCompileError(
                    f"missing parameter ${expr.name}", pos=expr
                )
            return lit_value(self.ctx.params[expr.name])
        if isinstance(expr, ast.Var):
            return self._var(expr.name, getattr(expr, "pos", None))
        if isinstance(expr, ast.Prop):
            return self._prop(expr)
        if isinstance(expr, ast.Index):
            return self._index(expr)
        if isinstance(expr, ast.Slice):
            return self._slice(expr)
        if isinstance(expr, ast.ListLit):
            if not expr.items:
                # typed as array<void> so `[] + [1]` takes the array-concat
                # overload (and gets cast to the other side's element type)
                return TypedCol(F.array(), T.ArrayType(T.NullType()))
            items = [self.compile(e) for e in expr.items]
            cats = {
                _order_category(tc.dtype)
                for tc in items
                if tc.dtype is not None
            } - {"null", None}
            need_tag = len(cats) > 1
            if not need_tag and cats == {"number"}:
                # mixed int/float literal list ([3, 1.5]): a plain array
                # would coerce every element to double and lose the integer
                # flavor (3 → 3.0); tagged cells keep it (__cn is double but
                # the client decode collapses int-valued cells — the
                # reference's JS number behavior). Homogeneous numeric lists
                # stay plain arrays: no struct-ification of the common case.
                flavors = {
                    isinstance(
                        tc.dtype, (T.FloatType, T.DoubleType, T.DecimalType)
                    )
                    for tc in items
                    if tc.dtype is not None
                    and not isinstance(tc.dtype, T.NullType)
                }
                need_tag = len(flavors) > 1
            if not need_tag and cats and next(iter(cats)) in ("list", "map"):
                # same category but incompatible Spark types (e.g. a tagged
                # inner list next to array<int>, or maps with different key
                # sets): F.array can't unify them — tag the outer list too.
                concrete = {
                    tc.dtype.simpleString()
                    for tc in items
                    if tc.dtype is not None
                    and not isinstance(tc.dtype, T.NullType)
                }
                if len(concrete) > 1:
                    cat = next(iter(cats))
                    if cat == "map":
                        # null-holed / partially-overlapping struct maps
                        # ([{k:'a',v:1},{k:null,v:2}]): unify field schemas
                        # so the list stays a typed array instead of
                        # degrading to tagged cells
                        unified = self._try_unify_structs(items)
                        if unified is not None:
                            items = unified
                        else:
                            need_tag = True
                    else:
                        numeric_arrays = all(
                            isinstance(tc.dtype, T.ArrayType)
                            and _order_category(tc.dtype.elementType)
                            in ("number", "null", None)
                            for tc in items
                            if tc.dtype is not None
                            and not isinstance(tc.dtype, T.NullType)
                        )
                        need_tag = not numeric_arrays
            if need_tag:
                # heterogeneous literal list ([1, [2]], [1, 'a']): Catalyst
                # arrays are homogeneous, so encode each cell as a tagged
                # variant struct (kind + numeric slot + canonical text) —
                # value-based equality incl. int/float unification and 3VL
                # null holes then rides on ordinary struct equality
                return TypedCol(
                    F.array(*[_tag_value(tc) for tc in items]),
                    T.ArrayType(_TAGGED_T),
                )
            elem = next((tc.dtype for tc in items if tc.dtype is not None), None)
            ent = None
            kinds = {tc.entity[0] for tc in items if tc.entity is not None}
            if len(kinds) == 1 and all(tc.entity is not None for tc in items):
                # a literal list of same-kind entities stays an id array
                # (rehydrated on property access / RETURN, see TypedCol)
                ent = (
                    next(iter(kinds)),
                    tuple(
                        sorted({t for tc in items for t in tc.entity[1]})
                    ),
                )
            return TypedCol(
                F.array(*[tc.col for tc in items]),
                T.ArrayType(elem) if elem else None,
                entity=ent,
            )
        if isinstance(expr, ast.MapLit):
            tcs = [(k, self.compile(v)) for k, v in expr.items]
            dtype = T.StructType(
                [
                    T.StructField(k, tc.dtype or T.StringType())
                    for k, tc in tcs
                ]
            )
            return TypedCol(
                F.struct(*[tc.col.alias(k) for k, tc in tcs]), dtype
            )
        if isinstance(expr, ast.Unary):
            return self._unary(expr)
        if isinstance(expr, ast.Binary):
            return self._binary(expr)
        if isinstance(expr, ast.IsNull):
            operand = self.compile(expr.operand).col
            return TypedCol(
                operand.isNotNull() if expr.negated else operand.isNull(),
                T.BooleanType(),
            )
        if isinstance(expr, ast.LabelPred):
            return self._label_pred(expr)
        if isinstance(expr, ast.CaseExpr):
            return self._case(expr)
        if isinstance(expr, ast.ListComp):
            return self._list_comp(expr)
        if isinstance(expr, ast.Quantifier):
            return self._quantifier(expr)
        if isinstance(expr, ast.Reduce):
            return self._reduce(expr)
        if isinstance(expr, ast.FuncCall):
            return self._func(expr)
        if isinstance(expr, (ast.PatternExpr, ast.ExistsExpr, ast.PatternComp)):
            raise CypherCompileError(
                "pattern expressions must be rewritten before expression compilation"
            )
        if isinstance(expr, ast.Star):
            raise CypherCompileError("'*' is only valid inside count(*)")
        raise CypherCompileError(f"unsupported expression: {type(expr).__name__}")

    # ------------------------------------------------------------------
    def _literal(self, e: ast.Literal) -> TypedCol:
        dtypes = {
            "null": T.NullType(),
            "bool": T.BooleanType(),
            "int": T.LongType(),
            "float": T.DoubleType(),
            "string": T.StringType(),
        }
        col = F.lit(e.value)
        if e.kind == "int":
            # Cypher integers are 64-bit; a bare F.lit(5) is INT32 and
            # arithmetic on it overflows at 2^31
            col = col.cast("long")
        return TypedCol(col, dtypes[e.kind])

    def _var(self, name: str, pos: tuple | None = None) -> TypedCol:
        if name in self.ctx.lambdas:
            return self.ctx.lambdas[name]
        info = self.ctx.scope.get(name)
        if info is None:
            raise CypherCompileError(
                f"variable `{name}` not defined", pos=pos
            )
        if info.kind == "value":
            return TypedCol(
                F.col(vcol(name, "val")),
                info.dtype,
                tz=getattr(info, "tz", None),
                entity=getattr(info, "elem_entity", None),
            )
        if info.kind in ("node", "edge"):
            # generic value position: the entity's identity (id equality is
            # Cypher node/edge equality — reference src/translator.ts:4739)
            return TypedCol(
                F.col(info.id_col()),
                T.StringType(),
                entity=(
                    (info.kind, tuple(info.labels or []))
                    if info.kind == "node"
                    else (info.kind, tuple(info.types or []))
                ),
            )
        if info.kind == "path":
            return TypedCol(
                F.struct(
                    F.col(vcol(name, "nodes")).alias("nodes"),
                    F.col(vcol(name, "rels")).alias("rels"),
                ),
                None,
            )
        raise CypherCompileError(f"cannot use variable `{name}` here")

    _TEMPORAL_ACCESSORS: dict[str, Callable[[Column], Column]] = {
        "year": F.year,
        "month": F.month,
        "day": F.dayofmonth,
        "hour": F.hour,
        "minute": F.minute,
        "second": F.second,
        "week": F.weekofyear,
        # ISO-8601: Monday=1..Sunday=7 (Spark's dayofweek is Sunday=1)
        "dayofweek": lambda c: F.weekday(c) + 1,
        "quarter": F.quarter,
        "ordinalday": F.dayofyear,
        # ISO week-based year = calendar year of that week's Thursday
        "weekyear": lambda c: F.year(
            F.date_add(F.to_date(c), F.lit(3) - F.weekday(c))
        ),
        # sub-second components (timestamps are microsecond-precision, so
        # nanosecond reports micros*1000 — reference src/translator.ts:13221+)
        "millisecond": lambda c: F.floor(
            (F.unix_micros(c) % 1_000_000) / 1000
        ),
        "microsecond": lambda c: F.unix_micros(c) % 1_000_000,
        "nanosecond": lambda c: (F.unix_micros(c) % 1_000_000) * 1000,
        "epochseconds": lambda c: F.unix_timestamp(c),
        "epochmillis": lambda c: F.unix_millis(c),
    }
    # accessors reading the absolute instant (never zone-shifted)
    _INSTANT_ACCESSORS = {"epochseconds", "epochmillis"}

    def _prop(self, e: ast.Prop) -> TypedCol:
        # accessor errors (unknown temporal/duration component, etc.) get
        # the property-token position when the raise site didn't locate a
        # more specific token (r10, VERDICT r9 #6 — same recipe as _func)
        try:
            return self._prop_inner(e)
        except CypherCompileError as err:
            if err.line is None and e.pos is not None:
                raise CypherCompileError(err.message, pos=e.pos) from None
            raise

    def _prop_inner(self, e: ast.Prop) -> TypedCol:
        if isinstance(e.base, ast.Var) and e.base.name not in self.ctx.lambdas:
            info = self.ctx.scope.get(e.base.name)
            if info is None:
                raise CypherCompileError(
                    f"variable `{e.base.name}` not defined", pos=e.base
                )
            if info.kind in ("node", "edge"):
                if e.key in info.props:
                    return TypedCol(
                        F.col(pcol(e.base.name, e.key)), info.props[e.key]
                    )
                # missing property is NULL (Cypher semantics)
                return TypedCol(F.lit(None), T.NullType())
        # coalesce(b, c).key over bound entities: the winner is the first
        # arg with a non-null id; read ITS property column (the id scalar
        # coalesce alone would lose the property bags — reference keeps
        # such expressions entity-valued, src/translator.ts:548,688)
        if (
            isinstance(e.base, ast.FuncCall)
            and e.base.name.lower() == "coalesce"
            and e.base.args
        ):
            branches = []
            ok = True
            for a in e.base.args:
                if isinstance(a, ast.Literal) and a.value is None:
                    continue
                info = (
                    self.ctx.scope.get(a.name)
                    if isinstance(a, ast.Var) and a.name not in self.ctx.lambdas
                    else None
                )
                # var-length edge bindings carry path/len arrays, not a
                # scalar entity row — excluded here exactly like the
                # compiler twin _entity_branches (round-9, ADVICE r8)
                if (
                    info is None
                    or info.kind not in ("node", "edge")
                    or info.var_length
                ):
                    ok = False
                    break
                branches.append(
                    (
                        F.col(
                            vcol(
                                a.name,
                                "id" if info.kind == "node" else "eid",
                            )
                        ).isNotNull(),
                        self._prop(ast.Prop(base=a, key=e.key)),
                    )
                )
            if ok and branches:
                # arms cast to ONE union dtype (widen_prop_dtype — the
                # rule _branched_entity_cols shares) so the declared
                # TypedCol dtype matches every branch and type-directed
                # downstream compilation (temporal/duration) can't misfire
                # on CaseWhen coercion (round-9, ADVICE r8)
                dtype: T.DataType = T.NullType()
                for _, tc in branches:
                    dtype = widen_prop_dtype(dtype, tc.dtype)
                expr = None
                for hit, tc in branches:
                    col = (
                        tc.col
                        if isinstance(dtype, T.NullType)
                        or tc.dtype == dtype
                        else tc.col.cast(dtype)
                    )
                    expr = (
                        F.when(hit, col)
                        if expr is None
                        else expr.when(hit, col)
                    )
                return TypedCol(expr, dtype)
        # (CASE ... END).key over entity arms: same winner-branch rewrite
        if isinstance(e.base, ast.CaseExpr):
            arms = [(w, t_) for w, t_ in e.base.whens]
            dflt = e.base.default

            def arm_info(a):
                if isinstance(a, ast.Literal) and a.value is None:
                    return "null"
                if isinstance(a, ast.Var) and a.name not in self.ctx.lambdas:
                    vi = self.ctx.scope.get(a.name)
                    if (
                        vi is not None
                        and vi.kind in ("node", "edge")
                        and not vi.var_length  # mirror _entity_branches
                    ):
                        return vi
                return None

            infos = [arm_info(t_) for _, t_ in arms]
            dinfo = arm_info(dflt) if dflt is not None else "null"
            if all(i is not None for i in infos) and dinfo is not None and any(
                i != "null" for i in infos + [dinfo]
            ):
                # two passes: gather arm columns first, then cast every arm
                # to ONE union dtype (widen_prop_dtype — the rule
                # _branched_entity_cols shares) so the declared dtype
                # matches every branch (round-9, ADVICE r8)
                pairs = []
                for (w, t_), i in zip(arms, infos):
                    if e.base.test is not None:
                        cond = (
                            self.compile(e.base.test).col
                            == self.compile(w).col
                        )
                    else:
                        cond = self.compile(w).col
                    val_tc = (
                        TypedCol(F.lit(None), T.NullType())
                        if i == "null"
                        else self._prop(ast.Prop(base=t_, key=e.key))
                    )
                    pairs.append((cond, val_tc))
                d_tc = (
                    self._prop(ast.Prop(base=dflt, key=e.key))
                    if dinfo != "null"
                    else None
                )
                dtype: T.DataType = T.NullType()
                for tc in [*(tc for _, tc in pairs), *([d_tc] if d_tc else [])]:
                    dtype = widen_prop_dtype(dtype, tc.dtype)

                def _cast(tc: TypedCol) -> Column:
                    if isinstance(dtype, T.NullType) or tc.dtype == dtype:
                        return tc.col
                    return tc.col.cast(dtype)

                expr = None
                for cond, val_tc in pairs:
                    expr = (
                        F.when(cond, _cast(val_tc))
                        if expr is None
                        else expr.when(cond, _cast(val_tc))
                    )
                if d_tc is not None:
                    expr = expr.otherwise(_cast(d_tc))
                return TypedCol(expr, dtype)
        base = self.compile(e.base)
        if isinstance(base.dtype, T.NullType):
            # .key on a null value is null (getItem on VOID would not resolve)
            return TypedCol(F.lit(None), T.NullType())
        # duration accessors on composite duration structs: TOTALS within
        # their component group (Neo4j): PT2H30M → .hours = 2 but
        # .minutes = 150; .minutesOfHour = 30.
        if _is_duration(base.dtype):
            mo = base.col.getField("__dmo")
            dd = base.col.getField("__dd")
            us = base.col.getField("__dus")

            def tdiv(col: Column, d: int) -> Column:
                # truncate toward zero (Cypher components follow the sign)
                return (col / F.lit(d)).cast("long")

            key = e.key.lower()
            col = {
                "years": lambda: tdiv(mo, 12),
                "months": lambda: mo,
                "monthsofyear": lambda: mo % 12,
                "quarters": lambda: tdiv(mo, 3),
                "quartersofyear": lambda: tdiv(mo % 12, 3),
                "weeks": lambda: tdiv(dd, 7),
                "days": lambda: dd,
                "daysofweek": lambda: dd - tdiv(dd, 7) * 7,
                "hours": lambda: tdiv(us, 3_600_000_000),
                "minutes": lambda: tdiv(us, 60_000_000),
                "minutesofhour": lambda: tdiv(us, 60_000_000)
                - tdiv(us, 3_600_000_000) * 60,
                "seconds": lambda: tdiv(us, 1_000_000),
                "secondsofminute": lambda: tdiv(us, 1_000_000)
                - tdiv(us, 60_000_000) * 60,
                "milliseconds": lambda: tdiv(us, 1000),
                "microseconds": lambda: us,
                "nanoseconds": lambda: us * 1000,
            }.get(key)
            if col is None:
                raise CypherCompileError(f"unknown duration accessor .{e.key}")
            return TypedCol(col(), T.LongType())
        # duration accessors on native intervals (duration.between /
        # duration.in* results). A day-time interval has no calendar-month
        # components and a year-month interval no day/time ones — those
        # accessors are 0 (the reference's between durations are likewise
        # single-group, 'PT…S' strings, src/translator.ts:8711-8730)
        if isinstance(
            base.dtype, (T.DayTimeIntervalType, T.YearMonthIntervalType)
        ):
            def part(u: str) -> Column:
                return F.date_part(F.lit(u), base.col).cast("long")

            is_ym = isinstance(base.dtype, T.YearMonthIntervalType)
            zero = lambda: F.lit(0).cast("long")  # noqa: E731
            key = e.key.lower()
            if is_ym:
                col = {
                    "years": lambda: part("YEAR"),
                    "months": lambda: part("YEAR") * 12 + part("MONTH"),
                    "monthsofyear": lambda: part("MONTH"),
                    "quarters": lambda: (
                        (part("YEAR") * 12 + part("MONTH")) / 3
                    ).cast("long"),
                    "quartersofyear": lambda: (part("MONTH") / 3).cast("long"),
                }.get(key, zero if key in _DUR_KEYS else None)
            else:
                col = {
                    "weeks": lambda: (part("DAY") / 7).cast("long"),
                    "days": lambda: part("DAY"),
                    "daysofweek": lambda: part("DAY")
                    - (part("DAY") / 7).cast("long") * 7,
                    "hours": lambda: part("HOUR"),
                    "minutes": lambda: part("HOUR") * 60 + part("MINUTE"),
                    "minutesofhour": lambda: part("MINUTE"),
                    "seconds": lambda: part("HOUR") * 3600
                    + part("MINUTE") * 60
                    + F.floor(
                        F.date_part(F.lit("SECOND"), base.col)
                    ).cast("long"),
                    "secondsofminute": lambda: F.floor(
                        F.date_part(F.lit("SECOND"), base.col)
                    ).cast("long"),
                }.get(key, zero if key in _DUR_KEYS else None)
            if col is None:
                raise CypherCompileError(f"unknown duration accessor .{e.key}")
            return TypedCol(col(), T.LongType())
        # temporal accessors: d.year, d.month, ... on date/timestamp values
        if _is_temporal(base.dtype):
            key = e.key.lower()
            if key == "timezone":
                return TypedCol(F.lit(base.tz or "Z"), T.StringType())
            if key in ("offset", "offsetminutes", "offsetseconds"):
                # wall-clock minus instant = UTC offset at that instant
                local = F.from_utc_timestamp(base.col, base.tz or "UTC")
                secs = F.unix_timestamp(local) - F.unix_timestamp(base.col)
                if key == "offsetseconds":
                    return TypedCol(secs.cast("long"), T.LongType())
                if key == "offsetminutes":
                    return TypedCol((secs / 60).cast("long"), T.LongType())
                sign = F.when(secs < 0, F.lit("-")).otherwise(F.lit("+"))
                mag = F.abs(secs)
                return TypedCol(
                    F.concat(
                        sign,
                        F.lpad(F.floor(mag / 3600).cast("string"), 2, "0"),
                        F.lit(":"),
                        F.lpad(
                            F.floor((mag % 3600) / 60).cast("string"), 2, "0"
                        ),
                    ),
                    T.StringType(),
                )
            fn = self._TEMPORAL_ACCESSORS.get(key)
            if fn is None:
                raise CypherCompileError(f"unknown temporal accessor .{e.key}")
            col = base.col
            if base.tz and key not in self._INSTANT_ACCESSORS:
                col = F.from_utc_timestamp(col, base.tz)
            return TypedCol(fn(col).cast("long"), T.LongType())
        dtype = None
        if isinstance(base.dtype, T.StructType):
            match = [f_ for f_ in base.dtype.fields if f_.name == e.key]
            if not match:
                return TypedCol(F.lit(None), T.NullType())
            dtype = match[0].dataType
        elif isinstance(base.dtype, T.MapType):
            dtype = base.dtype.valueType
        elif _is_string(base.dtype):
            # JSON property bag stored as a string — the reference's entire
            # storage model (json_extract, src/translator.ts:4557+); here a
            # JSON-path extraction on the scan
            return TypedCol(
                F.get_json_object(base.col, f"$.{e.key}"), T.StringType()
            )
        return TypedCol(base.col.getItem(e.key), dtype)

    def _index(self, e: ast.Index) -> TypedCol:
        idx_lit = e.index
        if (
            isinstance(idx_lit, ast.Unary)
            and idx_lit.op == "-"
            and isinstance(idx_lit.operand, ast.Literal)
            and idx_lit.operand.kind == "int"
        ):
            idx_lit = ast.Literal(-int(idx_lit.operand.value), "int")  # type: ignore[arg-type]
        if (
            isinstance(e.base, ast.ListLit)
            and isinstance(idx_lit, ast.Literal)
            and idx_lit.kind == "int"
        ):
            # constant-fold literal-list indexing — in particular this lets
            # a heterogeneous list cell come back as its plain value
            # instead of a tagged-variant struct
            i = int(idx_lit.value)  # type: ignore[arg-type]
            n = len(e.base.items)
            if -n <= i < n:
                return self.compile(e.base.items[i])
            return TypedCol(F.lit(None), T.NullType())
        base = self.compile(e.base)
        idx = self.compile(e.index)
        if isinstance(base.dtype, T.NullType) or isinstance(
            idx.dtype, T.NullType
        ):
            # container[null] is null for maps and lists alike
            return TypedCol(F.lit(None), T.NullType())
        if _is_string(idx.dtype):
            if isinstance(base.dtype, T.StructType) and isinstance(
                e.index, ast.Literal
            ):
                # literal key on a struct-backed map: missing key is NULL
                # (getItem would fail analysis with FIELD_NOT_FOUND)
                match = [
                    f_
                    for f_ in base.dtype.fields
                    if f_.name == e.index.value
                ]
                if not match:
                    return TypedCol(F.lit(None), T.NullType())
                return TypedCol(
                    base.col.getField(match[0].name), match[0].dataType
                )
            if isinstance(base.dtype, T.StructType) and not isinstance(
                e.index, ast.Literal
            ):
                # computed key on a struct-backed map: struct extraction
                # needs a literal name, so dispatch over the known fields
                out = None
                for f_ in base.dtype.fields:
                    cond = idx.col == F.lit(f_.name)
                    val = base.col.getField(f_.name)
                    out = F.when(cond, val) if out is None else out.when(cond, val)
                if out is None:
                    return TypedCol(F.lit(None), T.NullType())
                dts = {f_.dataType for f_ in base.dtype.fields}
                return TypedCol(out, dts.pop() if len(dts) == 1 else None)
            dtype = None
            if isinstance(base.dtype, T.MapType):
                dtype = base.dtype.valueType
            return TypedCol(base.col.getItem(idx.col), dtype)
        if _is_string(base.dtype):
            # Neo4j parity: subscripting a string is a type error (a raw
            # Spark element_at analysis failure would stack-bomb instead)
            raise CypherCompileError(
                "subscript access requires a list or map, not a string"
            )
        elem = base.dtype.elementType if _is_array(base.dtype) else None
        # Cypher lists are 0-based; element_at is 1-based with negative wrap
        # (and requires an INT index — Cypher integers are 64-bit)
        shifted = (
            F.when(idx.col >= 0, idx.col + 1).otherwise(idx.col).cast("int")
        )
        return TypedCol(F.element_at(base.col, shifted), elem)

    def _slice(self, e: ast.Slice) -> TypedCol:
        base = self.compile(e.base)
        if isinstance(base.dtype, T.NullType):
            return TypedCol(F.lit(None), T.NullType())
        size = F.size(base.col)
        null_guards = []
        if e.start is None:
            start = F.lit(0)
        else:
            s = self.compile(e.start).col
            null_guards.append(s.isNull())
            start = F.when(s < 0, F.greatest(size + s, F.lit(0))).otherwise(s)
        if e.end is None:
            end = size
        else:
            en = self.compile(e.end).col
            null_guards.append(en.isNull())
            end = F.when(en < 0, size + en).otherwise(F.least(en, size))
        length = F.greatest(end - start, F.lit(0))
        out = F.slice(base.col, start + 1, length)
        if null_guards:
            # a null slice bound nulls the whole slice (openCypher)
            out = F.when(_any_cond(null_guards), F.lit(None)).otherwise(out)
        return TypedCol(out, base.dtype, entity=base.entity)

    def _unary(self, e: ast.Unary) -> TypedCol:
        if (
            e.op == "-"
            and isinstance(e.operand, ast.Literal)
            and e.operand.kind == "int"
        ):
            # fold the sign into the literal: -9223372036854775808 is a
            # valid long but its unsigned half overflows F.lit
            return TypedCol(
                F.lit(-int(e.operand.value)).cast("long"), T.LongType()
            )
        operand = self.compile(e.operand)
        if e.op == "NOT":
            return TypedCol(~operand.col, T.BooleanType())
        if e.op == "-":
            if _is_duration(operand.dtype):
                return TypedCol(
                    _dur_struct(
                        -operand.col.getField("__dmo"),
                        -operand.col.getField("__dd"),
                        -operand.col.getField("__dus"),
                    ),
                    _DUR_T,
                )
            return TypedCol(-operand.col, operand.dtype)
        return operand

    def _temporal_plus_dur(
        self, temporal: TypedCol, dur: TypedCol, sign: int
    ) -> TypedCol:
        """temporal ± composite duration. openCypher: the month and day
        components are CALENDAR arithmetic (wall-clock time preserved, so
        +P1D across a DST gap keeps the local clock reading), while the
        sub-day component is EXACT elapsed time (+PT24H across spring-
        forward lands one local hour later). For zoned datetimes this means
        months+days apply in local wall-clock time, then the exact micros
        apply on the instant."""
        dc = (
            dur.col
            if sign > 0
            else _dur_struct(
                -dur.col.getField("__dmo"),
                -dur.col.getField("__dd"),
                -dur.col.getField("__dus"),
            )
        )
        ym = F.make_ym_interval(F.lit(0), dc.getField("__dmo").cast("int"))
        days = F.make_dt_interval(dc.getField("__dd").cast("int"))
        time = F.make_dt_interval(
            F.lit(0),
            F.lit(0),
            F.lit(0),
            (dc.getField("__dus") / F.lit(1_000_000)).cast("decimal(18,6)"),
        )
        is_date = isinstance(temporal.dtype, T.DateType)
        base = temporal.col.cast("timestamp") if is_date else temporal.col
        tz = temporal.tz
        if tz and not is_date and isinstance(temporal.dtype, T.TimestampType):
            # calendar half in local wall-clock (naive) time, exact half on
            # the UTC instant — the DST-correct composition. Pure sub-day
            # durations (no month/day component) skip the wall-clock round
            # trip entirely: re-resolving the local time would remap base
            # instants inside the ambiguous fall-back hour to the other
            # offset, shifting `datetime + PT1H` by an extra hour.
            local = F.from_utc_timestamp(base, tz) + ym + days
            composed = F.to_utc_timestamp(local, tz) + time
            out = F.when(
                (dc.getField("__dmo") == 0) & (dc.getField("__dd") == 0),
                base + time,
            ).otherwise(composed)
        else:
            out = base + ym + days + time
        if is_date:
            return TypedCol(out.cast("date"), T.DateType(), tz=temporal.tz)
        return TypedCol(out, temporal.dtype, tz=temporal.tz)

    def _binary(self, e: ast.Binary) -> TypedCol:  # noqa: PLR0911, PLR0912
        op = e.op
        if op in ("AND", "OR", "XOR"):
            left, right = self.compile(e.left).col, self.compile(e.right).col
            if op == "AND":
                return TypedCol(left & right, T.BooleanType())
            if op == "OR":
                return TypedCol(left | right, T.BooleanType())
            return TypedCol(left != right, T.BooleanType())  # 3VL XOR
        if op == "IN":
            left, right = self.compile(e.left), self.compile(e.right)
            if isinstance(right.dtype, T.NullType):
                # x IN null is null
                return TypedCol(_null_bool(), T.BooleanType())
            lcol, rcol = left.col, right.col
            # VOID literals (null subject, empty/all-null list) can't feed
            # array_contains; give them concrete types — the 3VL result is
            # unaffected (null compares as null against anything)
            elem_t = right.dtype.elementType if _is_array(right.dtype) else None
            lcat, ecat = _order_category(left.dtype), _order_category(elem_t)
            if (
                lcat not in (None, "null")
                and ecat not in (None, "null")
                and lcat != ecat
                and not _is_tagged(elem_t)
            ):
                # cross-category membership: every element comparison is
                # decided-false (reference cypher_equals), so the result is
                # false — unless a null element leaves it unknown
                # 3VL: a null subject or null list is unknown even though
                # every decided comparison would be false
                return TypedCol(
                    F.when(lcol.isNull() | rcol.isNull(), _null_bool())
                    .when(F.size(rcol) == 0, F.lit(False))
                    .when(
                        F.exists(rcol, lambda x: x.isNull()), _null_bool()
                    )
                    .otherwise(F.lit(False)),
                    T.BooleanType(),
                )
            if _is_tagged(elem_t) and not _is_tagged(left.dtype):
                # scalar IN heterogeneous list: lift the scalar into the
                # same tagged-variant encoding, then array_contains keeps
                # its 3VL semantics over the variant structs
                lcol = _tag_value(left)
                left = TypedCol(lcol, _TAGGED_T)
            if isinstance(elem_t, T.NullType):
                elem_t = left.dtype if left.dtype and not isinstance(
                    left.dtype, T.NullType
                ) else T.StringType()
                rcol = rcol.cast(T.ArrayType(elem_t))
            if isinstance(left.dtype, T.NullType):
                lcol = lcol.cast(elem_t or T.StringType())
            # Cypher IN 3VL: x IN [] is false even for null x; otherwise
            # array_contains is already three-valued (true if found, null if
            # the list has nulls or x is null and no match, false else)
            return TypedCol(
                F.when(F.size(rcol) == 0, F.lit(False)).otherwise(
                    F.array_contains(rcol, lcol)
                ),
                T.BooleanType(),
            )
        if op in ("STARTSWITH", "ENDSWITH", "CONTAINS", "REGEX"):
            left, right = self.compile(e.left), self.compile(e.right)
            # tagged-variant operand (element of a heterogeneous list):
            # the predicate is defined only for the string kind — other
            # kinds decode to null, giving Cypher's cross-type null
            fixed = []
            for tc in (left, right):
                if _is_tagged(tc.dtype):
                    tc = TypedCol(
                        F.when(
                            tc.col.getField("__ck") == "s",
                            tc.col.getField("__ct"),
                        ),
                        T.StringType(),
                    )
                elif tc.dtype is not None and not isinstance(
                    tc.dtype, (T.StringType, T.NullType)
                ):
                    # concretely non-string operand: Spark would CAST and
                    # compare text; Cypher says the predicate is null
                    return TypedCol(F.lit(None), T.BooleanType())
                fixed.append(tc)
            left, right = fixed
            if op == "STARTSWITH":
                return TypedCol(left.col.startswith(right.col), T.BooleanType())
            if op == "ENDSWITH":
                return TypedCol(left.col.endswith(right.col), T.BooleanType())
            if op == "CONTAINS":
                return TypedCol(left.col.contains(right.col), T.BooleanType())
            # Cypher =~ is a FULL match
            pattern = F.concat(F.lit("^(?:"), right.col, F.lit(")$"))
            return TypedCol(F.regexp_like(left.col, pattern), T.BooleanType())
        left, right = self.compile(e.left), self.compile(e.right)
        # tagged-variant operands (elements of heterogeneous / mixed-numeric
        # lists): equality lifts the plain side into the variant encoding
        # (struct value-equality then carries int/float unification); every
        # other scalar operator consumes the numeric slot (__cn) — null for
        # non-numeric kinds, which matches Cypher's cross-type null
        if _is_tagged(left.dtype) or _is_tagged(right.dtype):
            if op in ("=", "<>"):
                if not _is_tagged(left.dtype):
                    left = TypedCol(_tag_value(left), _TAGGED_T)
                if not _is_tagged(right.dtype):
                    right = TypedCol(_tag_value(right), _TAGGED_T)
                eq = left.col == right.col
                return TypedCol(eq if op == "=" else ~eq, T.BooleanType())
            lt = left.col if _is_tagged(left.dtype) else _tag_value(left)
            rt = right.col if _is_tagged(right.dtype) else _tag_value(right)
            lk, rk = lt.getField("__ck"), rt.getField("__ck")
            ln, rn = lt.getField("__cn"), rt.getField("__cn")
            ls, rs = lt.getField("__ct"), rt.getField("__ct")
            if op in ("<", "<=", ">", ">="):
                # same-kind comparisons are defined within each orderable
                # category (number via the numeric slot; string/boolean/
                # temporal via canonical text, which is lexically ordered
                # for each of those kinds); only CROSS-kind ordering is null
                num = {"<": ln < rn, "<=": ln <= rn, ">": ln > rn, ">=": ln >= rn}
                txt = {"<": ls < rs, "<=": ls <= rs, ">": ls > rs, ">=": ls >= rs}
                out = (
                    F.when(lt.isNull() | rt.isNull(), _null_bool())
                    .when((lk == "n") & (rk == "n"), num[op])
                    .when((lk == rk) & lk.isin("s", "b", "t"), txt[op])
                    .otherwise(_null_bool())
                )
                return TypedCol(out, T.BooleanType())
            null_tag = F.lit(None).cast(_TAGGED_T)
            if op in ("+", "-", "*", "/", "%", "^"):
                vals = {
                    "+": ln + rn,
                    "-": ln - rn,
                    "*": ln * rn,
                    "/": ln / rn,
                    "%": ln % rn,
                    "^": F.pow(ln, rn),
                }
                num_res = F.struct(
                    F.lit("n").alias("__ck"),
                    vals[op].alias("__cn"),
                    F.lit(None).cast("string").alias("__ct"),
                )
                out = F.when((lk == "n") & (rk == "n"), num_res)
                if op == "+":
                    # string + anything / anything + string concatenates the
                    # canonical texts (the reference's JS `+` overload)
                    concat = F.struct(
                        F.lit("s").alias("__ck"),
                        F.lit(None).cast("double").alias("__cn"),
                        F.concat(
                            _tagged_to_string(lt), _tagged_to_string(rt)
                        ).alias("__ct"),
                    )
                    out = out.when((lk == "s") | (rk == "s"), concat)
                # result rides the tagged encoding, so int-valued numeric
                # results decode back to integers at the client boundary
                return TypedCol(out.otherwise(null_tag), _TAGGED_T)
            left, right = _untag_numeric(left), _untag_numeric(right)
        if op in ("=", "<>"):
            lcat, rcat = _order_category(left.dtype), _order_category(right.dtype)
            if (
                lcat == "list"
                and rcat == "list"
                and isinstance(left.dtype, T.ArrayType)
                and isinstance(right.dtype, T.ArrayType)
            ):
                eq = _deep_list_eq(left, right)
            elif (
                lcat == "map"
                and rcat == "map"
                and isinstance(left.dtype, T.StructType)
                and isinstance(right.dtype, T.StructType)
            ):
                eq = _deep_map_eq(left, right)
            elif (
                lcat is not None
                and rcat is not None
                and "null" not in (lcat, rcat)
                and lcat != rcat
            ):
                # cross-category equality is FALSE, not a type error
                # (reference deepCypherEquals primitive branch)
                eq = F.when(
                    left.col.isNull() | right.col.isNull(), _null_bool()
                ).otherwise(F.lit(False))
            else:
                eq = left.col == right.col
            return TypedCol(eq if op == "=" else ~eq, T.BooleanType())
        if op in ("<", "<=", ">", ">="):
            lcat, rcat = _order_category(left.dtype), _order_category(right.dtype)
            if (
                lcat is not None
                and rcat is not None
                and "null" not in (lcat, rcat)
                and (lcat != rcat or lcat in ("list", "map"))
            ):
                # cross-category (or non-orderable) comparison is NULL
                # (reference cypher_lt/gt, src/db.ts:404-464)
                return TypedCol(_null_bool(), T.BooleanType())
            ops = {
                "<": left.col < right.col,
                "<=": left.col <= right.col,
                ">": left.col > right.col,
                ">=": left.col >= right.col,
            }
            return TypedCol(ops[op], T.BooleanType())
        if op == "+":
            if isinstance(left.dtype, T.NullType) or isinstance(
                right.dtype, T.NullType
            ):
                # null + x is null under EVERY + overload — in particular a
                # null operand must not become an appended list element
                return TypedCol(F.lit(None), T.NullType())
            if _is_string(left.dtype) or _is_string(right.dtype):
                return TypedCol(F.concat(left.col, right.col), T.StringType())
            if _is_array(left.dtype) or _is_array(right.dtype):
                lc = left.col if _is_array(left.dtype) else F.array(left.col)
                rc = right.col if _is_array(right.dtype) else F.array(right.col)
                ldt = left.dtype if _is_array(left.dtype) else None
                rdt = right.dtype if _is_array(right.dtype) else None
                let = ldt.elementType if ldt is not None else left.dtype
                ret = rdt.elementType if rdt is not None else right.dtype
                if _is_tagged(let) != _is_tagged(ret):
                    # heterogeneous + homogeneous list: lift the plain
                    # side's elements into the tagged-variant encoding
                    if _is_tagged(let):
                        rc = F.transform(
                            rc, lambda x: _tag_value(TypedCol(x, ret))
                        )
                        rdt = T.ArrayType(_TAGGED_T) if rdt is not None else None
                        ret = _TAGGED_T
                    else:
                        lc = F.transform(
                            lc, lambda x: _tag_value(TypedCol(x, let))
                        )
                        ldt = T.ArrayType(_TAGGED_T) if ldt is not None else None
                        let = _TAGGED_T
                # [] literals are ARRAY<VOID>; coerce to the other side's
                # element type so Spark's concat type check passes
                if (
                    ldt is not None
                    and isinstance(ldt.elementType, T.NullType)
                    and rdt is not None
                    and not isinstance(rdt.elementType, T.NullType)
                ):
                    lc, ldt = lc.cast(rdt), rdt
                elif (
                    rdt is not None
                    and isinstance(rdt.elementType, T.NullType)
                    and ldt is not None
                    and not isinstance(ldt.elementType, T.NullType)
                ):
                    rc, rdt = rc.cast(ldt), ldt
                return TypedCol(F.concat(lc, rc), ldt or rdt)
            if _is_temporal(left.dtype) and _is_duration(right.dtype):
                return self._temporal_plus_dur(left, right, 1)
            if _is_duration(left.dtype) and _is_temporal(right.dtype):
                return self._temporal_plus_dur(right, left, 1)
            if _is_duration(left.dtype) and _is_duration(right.dtype):
                return TypedCol(
                    _dur_struct(
                        left.col.getField("__dmo") + right.col.getField("__dmo"),
                        left.col.getField("__dd") + right.col.getField("__dd"),
                        left.col.getField("__dus") + right.col.getField("__dus"),
                    ),
                    _DUR_T,
                )
            if _is_temporal(left.dtype) or _is_temporal(right.dtype):
                # temporal + null is null; anything else non-duration is a
                # type error (Neo4j: date + 1 → invalid), not a Spark
                # analysis stack bomb
                if isinstance(left.dtype, T.NullType) or isinstance(
                    right.dtype, T.NullType
                ):
                    return TypedCol(F.lit(None), T.NullType())
                iv = (T.DayTimeIntervalType, T.YearMonthIntervalType)
                if (
                    left.dtype is None
                    or right.dtype is None
                    or isinstance(left.dtype, iv)
                    or isinstance(right.dtype, iv)
                ):
                    # unknown side / native interval (duration.between):
                    # let Spark's temporal arithmetic handle it
                    t = left if _is_temporal(left.dtype) else right
                    return TypedCol(left.col + right.col, t.dtype, tz=t.tz)
                raise CypherCompileError(
                    "temporal values can only be added to durations"
                )
            return TypedCol(left.col + right.col, self._promote(left, right))
        if op == "-":
            if _is_temporal(left.dtype) and _is_duration(right.dtype):
                return self._temporal_plus_dur(left, right, -1)
            if _is_duration(left.dtype) and _is_duration(right.dtype):
                return TypedCol(
                    _dur_struct(
                        left.col.getField("__dmo") - right.col.getField("__dmo"),
                        left.col.getField("__dd") - right.col.getField("__dd"),
                        left.col.getField("__dus") - right.col.getField("__dus"),
                    ),
                    _DUR_T,
                )
            if _is_temporal(left.dtype) or _is_temporal(right.dtype):
                if isinstance(left.dtype, T.NullType) or isinstance(
                    right.dtype, T.NullType
                ):
                    return TypedCol(F.lit(None), T.NullType())
                iv = (T.DayTimeIntervalType, T.YearMonthIntervalType)
                if (
                    left.dtype is None
                    or right.dtype is None
                    or isinstance(right.dtype, iv)
                ):
                    t = left if _is_temporal(left.dtype) else right
                    return TypedCol(left.col - right.col, t.dtype, tz=t.tz)
                # Neo4j: date - date / date - 1 are type errors (use
                # duration.between for differences)
                raise CypherCompileError(
                    "only durations can be subtracted from temporal values"
                )
            return TypedCol(left.col - right.col, self._promote(left, right))
        if op == "*":
            if _is_duration(left.dtype) or _is_duration(right.dtype):
                dc, k = (
                    (left.col, right.col)
                    if _is_duration(left.dtype)
                    else (right.col, left.col)
                )
                return TypedCol(_dur_scale(dc, k), _DUR_T)
            return TypedCol(left.col * right.col, self._promote(left, right))
        if op == "%":
            return TypedCol(left.col % right.col, self._promote(left, right))
        if op == "/":
            if _is_duration(left.dtype):
                # duration / number (Neo4j supports this; the inverse does
                # not exist)
                return TypedCol(
                    _dur_scale(left.col, F.lit(1.0) / right.col), _DUR_T
                )
            if _is_duration(right.dtype):
                raise CypherCompileError("cannot divide by a duration")
            if _is_int(left.dtype) and _is_int(right.dtype):
                # Cypher integer division truncates toward zero
                return TypedCol((left.col / right.col).cast("long"), T.LongType())
            return TypedCol(left.col / right.col, T.DoubleType())
        if op == "^":
            return TypedCol(F.pow(left.col, right.col), T.DoubleType())
        raise CypherCompileError(f"unsupported operator {op!r}")

    @staticmethod
    def _promote(left: TypedCol, right: TypedCol) -> Optional[T.DataType]:
        if left.dtype is None or right.dtype is None:
            return None
        if _is_int(left.dtype) and _is_int(right.dtype):
            return T.LongType()
        if isinstance(left.dtype, (T.DoubleType, T.FloatType)) or isinstance(
            right.dtype, (T.DoubleType, T.FloatType)
        ):
            return T.DoubleType()
        return left.dtype

    def _label_pred(self, e: ast.LabelPred) -> TypedCol:
        if not isinstance(e.base, ast.Var):
            raise CypherCompileError("label predicate requires a variable")
        info = self.ctx.scope.get(e.base.name)
        if info is None or info.kind != "node":
            raise CypherCompileError(
                f"label predicate on non-node variable `{e.base.name}`"
            )
        if info.has_label_col:
            conds = [
                F.col(vcol(info.name, "label")) == F.lit(lbl) for lbl in e.labels
            ]
            out = conds[0]
            for c in conds[1:]:
                out = out & c
            return TypedCol(out, T.BooleanType())
        ok = all(lbl in info.labels for lbl in e.labels)
        return TypedCol(F.lit(ok), T.BooleanType())

    def _case(self, e: ast.CaseExpr) -> TypedCol:
        conds: list[Column] = []
        thens: list[TypedCol] = []
        for cond_expr, then_expr in e.whens:
            if e.test is not None:
                cond = self.compile(
                    ast.Binary("=", e.test, cond_expr)
                ).col
            else:
                cond_tc = self.compile(cond_expr)
                cond = cond_tc.col
                if isinstance(cond_tc.dtype, T.NullType):
                    # WHEN null THEN — a VOID literal needs a boolean type
                    # for Spark's CASE (null condition = not taken)
                    cond = cond.cast("boolean")
            conds.append(cond)
            thens.append(self.compile(then_expr))
        if not conds:
            raise CypherCompileError("CASE requires at least one WHEN")
        default = self.compile(e.default) if e.default is not None else None
        branches = thens + ([default] if default is not None else [])
        cats = {
            _order_category(b.dtype)
            for b in branches
            if b.dtype is not None
        } - {"null", None}
        if len(cats) > 1:
            # mixed-category result (CASE ... THEN 1 ELSE 'x'): Catalyst
            # needs one column type, so encode each branch as a
            # tagged-variant cell — decoded back to the plain value at the
            # client boundary (dynamic result values, like the reference)
            branch_cols = [_tag_value(b) for b in branches]
            dtype: Optional[T.DataType] = _TAGGED_T
        else:
            branch_cols = [b.col for b in branches]
            dtype = next(
                (b.dtype for b in branches if b.dtype is not None), None
            )
        out = None
        for cond, col in zip(conds, branch_cols):
            out = F.when(cond, col) if out is None else out.when(cond, col)
        if default is not None:
            out = out.otherwise(branch_cols[-1])
        return TypedCol(out, dtype)

    # -- higher-order -----------------------------------------------------
    def _lambda1(self, var: str, body: ast.Expr, elem_dtype) -> Callable:
        def fn(x: Column) -> Column:
            sub = ExprCompiler(self.ctx.child_with_lambda(var, TypedCol(x, elem_dtype)))
            return sub.compile(body).col

        return fn

    def _static_path_elems(self, source: ast.Expr) -> list[str] | None:
        """For ``nodes(p)`` / ``relationships(p)`` over a fixed-length named
        path, the compiler knows the exact bound-variable sequence — return
        it so comprehensions/quantifiers can compile per-element against the
        real (typed) entity columns instead of the bare id array. The
        reference gets this for free from its JSON path objects
        (src/translator.ts:5628-5795); here it costs zero extra joins."""
        if not (
            isinstance(source, ast.FuncCall)
            and source.name in ("nodes", "relationships")
            and len(source.args) == 1
            and isinstance(source.args[0], ast.Var)
        ):
            return None
        info = self.ctx.scope.get(source.args[0].name)
        if info is None or info.kind != "path":
            return None
        return (
            info.path_node_vars
            if source.name == "nodes"
            else info.path_rel_vars
        )

    @staticmethod
    def _pattern_refs(expr, name: str) -> bool:
        """True if `name` occurs as a pattern-element variable inside a
        PatternExpr below `expr` (plain strings, not ast.Var nodes)."""
        return any(
            isinstance(x, ast.PatternExpr)
            and any(el.var == name for el in x.path.elements)
            for x in ast.walk(expr)
        )

    def _try_unify_structs(
        self, items: list[TypedCol]
    ) -> Optional[list[TypedCol]]:
        """Unify struct-map items onto one schema (union of keys; NullType
        holes adopt the concrete field type; ints widen to double next to
        floats). Returns None when two maps genuinely disagree on a field's
        category — that is the tagged-variant case."""
        structs = [
            tc for tc in items if not isinstance(tc.dtype, T.NullType)
        ]
        if not structs or not all(
            isinstance(tc.dtype, T.StructType) for tc in structs
        ):
            return None
        keys: list[str] = []
        for tc in structs:
            for f_ in tc.dtype.fields:
                if f_.name not in keys:
                    keys.append(f_.name)
        unified: dict[str, T.DataType] = {}
        for k in keys:
            concrete = []
            for tc in structs:
                ft = {f_.name: f_.dataType for f_ in tc.dtype.fields}.get(k)
                if ft is not None and not isinstance(ft, T.NullType):
                    concrete.append(ft)
            if not concrete:
                unified[k] = T.StringType()
                continue
            t0 = concrete[0]
            for t1 in concrete[1:]:
                if t1 == t0:
                    continue
                if {_order_category(t0), _order_category(t1)} == {"number"}:
                    t0 = T.DoubleType()
                else:
                    return None
            unified[k] = t0
        dtype = T.StructType([T.StructField(k, unified[k]) for k in keys])
        out: list[TypedCol] = []
        for tc in items:
            if isinstance(tc.dtype, T.NullType):
                out.append(TypedCol(F.lit(None).cast(dtype), dtype))
                continue
            fmap = {f_.name: f_.dataType for f_ in tc.dtype.fields}
            cols = []
            for k in keys:
                if k in fmap and not isinstance(fmap[k], T.NullType):
                    c = tc.col.getField(k)
                    if fmap[k] != unified[k]:
                        c = c.cast(unified[k])
                else:
                    c = F.lit(None).cast(unified[k])
                cols.append(c.alias(k))
            out.append(
                TypedCol(
                    F.when(tc.col.isNull(), F.lit(None).cast(dtype)).otherwise(
                        F.struct(*cols)
                    ),
                    dtype,
                )
            )
        return out

    def _unified_array(self, tcs: list[TypedCol]) -> TypedCol:
        """array(...) with all elements cast to a promoted common type."""
        dtype = None
        for tc in tcs:
            if tc.dtype is not None and not isinstance(tc.dtype, T.NullType):
                if dtype is None:
                    dtype = tc.dtype
                elif dtype != tc.dtype:
                    p = self._promote(
                        TypedCol(F.lit(None), dtype), TypedCol(F.lit(None), tc.dtype)
                    )
                    dtype = p or dtype
        if dtype is None:
            return TypedCol(F.array(*[tc.col for tc in tcs]), None)
        cols = [
            tc.col if tc.dtype == dtype else tc.col.cast(dtype) for tc in tcs
        ]
        return TypedCol(F.array(*cols), T.ArrayType(dtype))

    def _static_elem_comp(self, e: ast.ListComp, elem_vars: list[str]) -> TypedCol:
        proj_ast = e.projection if e.projection is not None else ast.Var(e.var)
        projs = [
            self.compile(self._subst_var(proj_ast, e.var, v)) for v in elem_vars
        ]
        arr = self._unified_array(projs)
        if e.where is None:
            return arr
        keeps = [
            self.compile(self._subst_var(e.where, e.var, v)).col.cast("boolean")
            for v in elem_vars
        ]
        elem_t = arr.dtype.elementType if _is_array(arr.dtype) else None
        pairs = F.array(
            *[
                F.struct(k.alias("k"), p.alias("v"))
                for k, p in zip(keeps, (c for c in [tc.col for tc in projs]))
            ]
        )
        if elem_t is not None:
            pairs = F.array(
                *[
                    F.struct(
                        k.alias("k"),
                        (p if tc.dtype == elem_t else p.cast(elem_t)).alias("v"),
                    )
                    for k, p, tc in zip(keeps, [tc.col for tc in projs], projs)
                ]
            )
        col = F.transform(
            F.filter(pairs, lambda s: s["k"]), lambda s: s["v"]
        )
        return TypedCol(col, T.ArrayType(elem_t) if elem_t else None)

    def _list_comp(self, e: ast.ListComp) -> TypedCol:
        elem_vars = self._static_path_elems(e.source)
        if elem_vars is not None and not any(
            self._pattern_refs(x, e.var)
            for x in (e.where, e.projection)
            if x is not None
        ):
            return self._static_elem_comp(e, elem_vars)
        source = self.compile(e.source)
        if isinstance(source.dtype, T.NullType):
            # comprehension over null is null (transform on VOID won't resolve)
            return TypedCol(F.lit(None), T.NullType())
        elem = source.dtype.elementType if _is_array(source.dtype) else None
        col = source.col
        if e.where is not None:
            col = F.filter(col, self._lambda1(e.var, e.where, elem))
        out_dtype = source.dtype
        if e.projection is not None:
            proj_tc_probe = ExprCompiler(
                self.ctx.child_with_lambda(e.var, TypedCol(F.lit(None), elem))
            ).compile(e.projection)
            col = F.transform(col, self._lambda1(e.var, e.projection, elem))
            out_dtype = (
                T.ArrayType(proj_tc_probe.dtype) if proj_tc_probe.dtype else None
            )
        return TypedCol(col, out_dtype)

    def _quantifier(self, e: ast.Quantifier) -> TypedCol:
        elem_vars = self._static_path_elems(e.source)
        if elem_vars is not None and (
            e.where is None or not self._pattern_refs(e.where, e.var)
        ):
            # per-element predicates over the real entity columns, then the
            # same HOF reduction over the boolean array (identity lambda
            # preserves 3VL)
            pred_ast = e.where or ast.Literal(True, "bool")
            arr = self._unified_array(
                [
                    TypedCol(
                        self.compile(
                            self._subst_var(pred_ast, e.var, v)
                        ).col.cast("boolean"),
                        T.BooleanType(),
                    )
                    for v in elem_vars
                ]
            )
            source = TypedCol(arr.col, T.ArrayType(T.BooleanType()))
            ident = lambda b: b  # noqa: E731
            if e.kind == "all":
                return TypedCol(F.forall(source.col, ident), T.BooleanType())
            if e.kind == "any":
                return TypedCol(F.exists(source.col, ident), T.BooleanType())
            if e.kind == "none":
                return TypedCol(~F.exists(source.col, ident), T.BooleanType())
            return TypedCol(
                self._single_quant(source.col, ident), T.BooleanType()
            )
        source = self.compile(e.source)
        if isinstance(source.dtype, T.NullType):
            return TypedCol(_null_bool(), T.BooleanType())
        elem = source.dtype.elementType if _is_array(source.dtype) else None
        pred = self._lambda1(e.var, e.where or ast.Literal(True, "bool"), elem)
        if e.kind == "all":
            col = F.forall(source.col, pred)
        elif e.kind == "any":
            col = F.exists(source.col, pred)
        elif e.kind == "none":
            col = ~F.exists(source.col, pred)
        else:  # single
            col = self._single_quant(source.col, pred)
        return TypedCol(col, T.BooleanType())

    @staticmethod
    def _single_quant(src: Column, pred: Callable) -> Column:
        """single(): false when more than one element matches, NULL when an
        unknown predicate leaves the count undecidable, true on exactly one
        match (reference translateListPredicate SINGLE case,
        src/translator.ts:11625-11630)."""
        matches = F.size(F.filter(src, pred))
        unknowns = F.exists(src, lambda x: pred(x).isNull())
        return (
            F.when(matches > 1, F.lit(False))
            .when(unknowns, _null_bool())
            .otherwise(matches == 1)
        )

    @staticmethod
    def _subst_var(expr, old: str, new: str):
        """The expression with Var(old) → Var(new), respecting inner
        bindings that shadow `old`."""

        def walk(o):
            if isinstance(o, ast.Var):
                return ast.Var(new) if o.name == old else o
            if isinstance(o, (ast.ListComp, ast.Quantifier)) and o.var == old:
                # inner binding shadows the body/where, but the SOURCE is
                # evaluated in the outer scope — substitute it
                return replace(o, source=walk(o.source))
            if isinstance(o, ast.Reduce) and old in (o.var, o.acc):
                return replace(o, init=walk(o.init), source=walk(o.source))
            out = ast.map_children(o, walk)
            # pattern elements reference variables by NAME STRING, not
            # ast.Var — a pattern predicate anchored on the substituted
            # variable must re-anchor on the new name
            # ((n)-[:L]->() inside [x IN ms ...])
            if isinstance(out, (ast.NodePattern, ast.RelPattern)) and out.var == old:
                out = replace(out, var=new)
            return out

        return walk(expr)

    def _reduce(self, e: ast.Reduce) -> TypedCol:
        elem_vars = self._static_path_elems(e.source)
        if elem_vars is not None:
            # reduce over nodes(p)/relationships(p) of a STATIC path:
            # unroll the fold over the bound element variables so entity
            # property access compiles to typed columns
            acc_tc = self.compile(e.init)
            for v in elem_vars:
                body = self._subst_var(e.body, e.var, v)
                sub = ExprCompiler(self.ctx.child_with_lambda(e.acc, acc_tc))
                acc_tc = sub.compile(body)
            return acc_tc
        source = self.compile(e.source)
        if isinstance(source.dtype, T.NullType):
            return TypedCol(F.lit(None), T.NullType())
        elem = source.dtype.elementType if _is_array(source.dtype) else None
        init = self.compile(e.init)
        # Spark's aggregate() requires zero-type == merge-result type; an
        # integer literal init must be promoted to match the element type
        acc_dtype = init.dtype
        init_col = init.col
        if _is_int(init.dtype) and (elem is None or _is_int(elem)):
            acc_dtype = T.LongType()
            init_col = init_col.cast("long")
        elif isinstance(elem, (T.DoubleType, T.FloatType)) and _is_int(init.dtype):
            acc_dtype = T.DoubleType()
            init_col = init_col.cast("double")
        elif _is_array(init.dtype) and isinstance(
            init.dtype.elementType, T.NullType
        ):
            # `reduce(acc = [], ...)`: the VOID-element initializer must be
            # cast to the merge result's type or aggregate() rejects the
            # lambda — probe-compile the body once to learn that type
            probe = ExprCompiler(
                self.ctx.child_with_lambda(
                    e.acc, TypedCol(init_col, init.dtype)
                ).child_with_lambda(
                    e.var, TypedCol(F.element_at(source.col, 1), elem)
                )
            ).compile(e.body)
            if probe.dtype is not None and not isinstance(
                probe.dtype, T.NullType
            ):
                acc_dtype = probe.dtype
                init_col = init_col.cast(probe.dtype)

        def merge(acc: Column, x: Column) -> Column:
            sub = ExprCompiler(
                self.ctx.child_with_lambda(e.acc, TypedCol(acc, acc_dtype))
                .child_with_lambda(e.var, TypedCol(x, elem))
            )
            return sub.compile(e.body).col

        return TypedCol(F.aggregate(source.col, init_col, merge), acc_dtype)

    # -- function calls ----------------------------------------------------
    def _func(self, e: ast.FuncCall) -> TypedCol:
        # one interception point gives EVERY function/typing error the
        # call-site position (r10, VERDICT r9 #6) — builders that already
        # located a more specific token (e.g. an argument) keep theirs
        try:
            return self._func_inner(e)
        except CypherCompileError as err:
            if err.line is None and e.pos is not None:
                raise CypherCompileError(err.message, pos=e.pos) from None
            raise

    def _func_inner(self, e: ast.FuncCall) -> TypedCol:
        name = e.name
        builder = SCALAR_FUNCTIONS.get(name)
        if builder is not None:
            return builder(self, e.args)
        if name in (
            "duration.between",
            "duration.inmonths",
            "duration.indays",
            "duration.inseconds",
        ):
            return self._duration_diff(name, e.args)
        if name.startswith("."):
            # method call on an arbitrary base expression (parser encodes
            # f(...).method(args) with the base as first argument)
            base = self.compile(e.args[0])
            return self._method_call(base, name[1:], e.args[1:])
        if "." in name:
            # static truncate form: datetime.truncate(unit, v) /
            # date.truncate(unit, v) / localdatetime.truncate(unit, v) —
            # the canonical Neo4j spelling (reference truncateFunctions,
            # src/translator.ts:9224-9232). Only when the head is not a
            # user variable (a variable named `date` wins, as in Neo4j).
            head, _, meth = name.partition(".")
            if (
                meth == "truncate"
                and head in ("date", "datetime", "localdatetime")
                and self.ctx.scope.get(head) is None
                and head not in self.ctx.lambdas
                and len(e.args) == 2
            ):
                value = self.compile(e.args[1])
                out = self._method_call(value, "truncate", [e.args[0]])
                if head == "date":
                    # local calendar date of the truncated instant
                    local = (
                        F.from_utc_timestamp(out.col, out.tz)
                        if out.tz
                        else out.col
                    )
                    return TypedCol(local.cast("date"), T.DateType())
                if head == "localdatetime":
                    local = (
                        F.from_utc_timestamp(out.col, out.tz)
                        if out.tz
                        else out.col
                    )
                    return TypedCol(local, T.TimestampType())
                return out
            # method-call syntax: x.truncate(unit) — the receiver is the
            # dotted prefix (reference translateTemporalTruncate,
            # src/translator.ts:14424-15234)
            *base_parts, method = name.split(".")
            base_expr: ast.Expr = ast.Var(base_parts[0])
            for key in base_parts[1:]:
                base_expr = ast.Prop(base=base_expr, key=key)
            base = self.compile(base_expr)
            return self._method_call(base, method, e.args)
        raise CypherCompileError(f"unknown function {name}()")

    def _duration_diff(self, name: str, args: list[ast.Expr]) -> TypedCol:
        """duration.between / inMonths / inDays / inSeconds as composite
        duration structs (reference translator.ts:8517-8816 calendar-aware
        diffs). Neo4j semantics: between() splits into whole calendar
        months, then whole wall-clock days, then an exact time remainder —
        so `a + duration.between(a, b) = b` holds under our calendar-in-
        wall-clock / time-on-instant addition. Components share the sign of
        the overall duration (truncation toward zero)."""
        a = self.compile(args[0])
        b = self.compile(args[1])
        tz = a.tz or b.tz
        at = a.col.cast("timestamp")
        bt = b.col.cast("timestamp")
        if tz:
            al, bl = F.from_utc_timestamp(at, tz), F.from_utc_timestamp(bt, tz)
        else:
            al, bl = at, bt
        zero = F.lit(0).cast("long")

        def tozero(c: Column) -> Column:  # truncate toward zero
            return F.when(c < 0, F.ceil(c)).otherwise(F.floor(c)).cast("long")

        if name == "duration.inseconds":
            return TypedCol(
                _dur_struct(zero, zero, F.unix_micros(bt) - F.unix_micros(at)),
                _DUR_T,
            )
        if name == "duration.indays":
            # whole wall-clock days
            days = tozero(
                (F.unix_micros(bl) - F.unix_micros(al)) / F.lit(86_400_000_000)
            )
            return TypedCol(_dur_struct(zero, days, zero), _DUR_T)
        months = tozero(F.months_between(bl, al))
        if name == "duration.inmonths":
            return TypedCol(_dur_struct(months, zero, zero), _DUR_T)
        # between: months, then whole days from the month-shifted local,
        # then the exact instant remainder from the day-shifted point
        a2l = al + F.make_ym_interval(F.lit(0), months.cast("int"))
        days = tozero(
            (F.unix_micros(bl) - F.unix_micros(a2l)) / F.lit(86_400_000_000)
        )
        a3l = a2l + F.make_dt_interval(days.cast("int"))
        a3 = F.to_utc_timestamp(a3l, tz) if tz else a3l
        us = F.unix_micros(bt) - F.unix_micros(a3)
        return TypedCol(_dur_struct(months, days, us), _DUR_T)

    def _method_call(
        self, base: TypedCol, method: str, args: list[ast.Expr]
    ) -> TypedCol:
        if method == "truncate":
            if not args or not isinstance(args[0], ast.Literal):
                raise CypherCompileError("truncate(unit) requires a literal unit")
            unit = str(args[0].value)
            if isinstance(base.dtype, T.DateType):
                return TypedCol(F.trunc(base.col, unit), T.DateType())
            if base.tz:
                # zoned datetimes truncate in LOCAL wall-clock time and keep
                # the zone: midnight/hour boundaries are the zone's, not
                # UTC's (reference translateTemporalTruncate operates on the
                # rendered local string, src/translator.ts:14424-15234)
                local = F.from_utc_timestamp(base.col, base.tz)
                out = F.to_utc_timestamp(F.date_trunc(unit, local), base.tz)
                return TypedCol(out, T.TimestampType(), tz=base.tz)
            return TypedCol(F.date_trunc(unit, base.col), T.TimestampType())
        raise CypherCompileError(f"unknown method .{method}()")


# --------------------------------------------------------------------------
# Scalar function registry.  Each builder: (compiler, args_ast) -> TypedCol.
# Reference implements these as SQLite expression templates
# (src/translator.ts:5796-9263 and the temporal block :6418-8816); here each
# maps onto a built-in pyspark.sql.functions call — JVM-side, codegen'd.
# --------------------------------------------------------------------------


def _c(comp: ExprCompiler, args: list[ast.Expr], i: int) -> TypedCol:
    if i >= len(args):
        raise CypherCompileError("missing function argument")
    return comp.compile(args[i])


def _simple(fn: Callable[..., Column], dtype: Optional[T.DataType] = None, nargs=1):
    def build(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
        tcs = [_c(comp, args, i) for i in range(min(nargs, len(args)))]
        if tcs and isinstance(tcs[0].dtype, T.NullType):
            # f(null) is null, and stays NullType so e.g. coalesce doesn't
            # widen its result type to this function's
            return TypedCol(F.lit(None), T.NullType())
        return TypedCol(fn(*[tc.col for tc in tcs]), dtype)

    return build


class _NullEntityArg(Exception):
    """Control-flow: the entity-function argument is a null value."""


def _entity_info(comp: ExprCompiler, args: list[ast.Expr], fn: str) -> VarInfo:
    if not args or not isinstance(args[0], ast.Var):
        # entity function of a null VALUE is null, not a compile error
        if args:
            tc = comp.compile(args[0])
            if isinstance(tc.dtype, T.NullType):
                raise _NullEntityArg()
        raise CypherCompileError(f"{fn}() requires a variable argument")
    name = args[0].name
    if name in comp.ctx.lambdas:
        if isinstance(comp.ctx.lambdas[name].dtype, T.NullType):
            raise _NullEntityArg()
        raise CypherCompileError(f"{fn}() requires a variable argument")
    info = comp.ctx.scope.get(name)
    if info is None:
        raise CypherCompileError(
            f"variable `{name}` not defined", pos=args[0]
        )
    if info.kind == "value" and (
        info.dtype is None or isinstance(info.dtype, T.NullType)
    ):
        # a value variable holding null (WITH null AS x): entity functions
        # of null are null (reference null-entity parity)
        raise _NullEntityArg()
    return info


def _null_on_null_entity(fn):
    def wrap(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
        try:
            return fn(comp, args)
        except _NullEntityArg:
            return TypedCol(F.lit(None), T.NullType())

    return wrap


def _fn_id(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    info = _entity_info(comp, args, "id")
    return TypedCol(F.col(info.id_col()), T.StringType())


def _fn_labels(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    info = _entity_info(comp, args, "labels")
    null_guard = F.col(info.id_col()).isNull()  # unmatched OPTIONAL entity
    if info.has_label_col:
        # "" display label = unlabeled sentinel → empty label set
        arr = F.array_remove(F.array(F.col(vcol(info.name, "label"))), "")
    else:
        # the "" sentinel (unlabeled nodes, e.g. a fused far-node bound
        # off a ""-keyed edge table) is membership, not a label
        arr = F.array(*[F.lit(lbl) for lbl in info.labels if lbl])
    return TypedCol(
        F.when(null_guard, F.lit(None)).otherwise(arr),
        T.ArrayType(T.StringType()),
    )


def _fn_type(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    info = _entity_info(comp, args, "type")
    if info.kind != "edge":
        raise CypherCompileError("type() requires a relationship")
    return TypedCol(F.col(vcol(info.name, "type")), T.StringType())


def _fn_properties(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    # properties(map-value) is the identity (reference passes the JSON bag
    # through); properties(entity) projects the prop columns into a struct
    is_entity_var = (
        args
        and isinstance(args[0], ast.Var)
        and (info_ := comp.ctx.scope.get(args[0].name)) is not None
        and info_.kind in ("node", "edge")
    )
    if not is_entity_var and args:
        tc = comp.compile(args[0])
        if isinstance(tc.dtype, T.NullType):
            return TypedCol(F.lit(None), T.NullType())
        if isinstance(tc.dtype, (T.StructType, T.MapType)):
            return tc
    info = _entity_info(comp, args, "properties")
    fields = [F.col(pcol(info.name, k)).alias(k) for k in sorted(info.props)]
    dtype = T.StructType(
        [T.StructField(k, info.props[k]) for k in sorted(info.props)]
    )
    return TypedCol(
        F.when(F.col(info.id_col()).isNull(), F.lit(None)).otherwise(
            F.struct(*fields)
        ),
        dtype,
    )


def _fn_keys(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    # keys(map-expression): sorted key names of a literal/struct map
    is_entity_var = (
        args
        and isinstance(args[0], ast.Var)
        and (info_ := comp.ctx.scope.get(args[0].name)) is not None
        and info_.kind in ("node", "edge")
    )
    if not is_entity_var and args:
        tc = comp.compile(args[0])
        if isinstance(tc.dtype, T.NullType):
            return TypedCol(F.lit(None), T.NullType())
        if isinstance(tc.dtype, T.StructType):
            # entity property bags (properties(n)) drop null-valued keys —
            # a null property is an absent property. Query-time map values
            # keep them: {a: null} has key 'a' (reference stores the map as
            # a JSON object, which keeps null entries).
            from_props = (
                isinstance(args[0], ast.FuncCall)
                and args[0].name == "properties"
            )
            names = sorted(tc.dtype.fields, key=lambda f: f.name)
            if from_props:
                items = [
                    F.when(
                        tc.col.getField(f.name).isNotNull(), F.lit(f.name)
                    )
                    for f in names
                ]
            else:
                items = [F.lit(f.name) for f in names]
            arr = F.array(*items) if items else F.array().cast("array<string>")
            return TypedCol(F.array_compact(arr), T.ArrayType(T.StringType()))
        if isinstance(tc.dtype, T.MapType):
            return TypedCol(
                F.sort_array(F.map_keys(tc.col)), T.ArrayType(T.StringType())
            )
    info = _entity_info(comp, args, "keys")
    items = [
        F.when(F.col(pcol(info.name, k)).isNotNull(), F.lit(k))
        for k in sorted(info.props)
    ]
    arr = F.array_compact(F.array(*items)) if items else F.array()
    return TypedCol(
        F.when(F.col(info.id_col()).isNull(), F.lit(None)).otherwise(
            arr.cast("array<string>")
        ),
        T.ArrayType(T.StringType()),
    )


def _fn_start_node(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    info = _entity_info(comp, args, "startNode")
    return TypedCol(F.col(vcol(info.name, "src")), T.StringType())


def _fn_end_node(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    info = _entity_info(comp, args, "endNode")
    return TypedCol(F.col(vcol(info.name, "dst")), T.StringType())


def _fn_size(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    if args and isinstance(args[0], ast.Var):
        info = comp.ctx.scope.get(args[0].name)
        # a var-length rel variable is a LIST of relationships; its size is
        # the hop count carried by the expansion
        if info is not None and info.kind == "edge" and info.var_length:
            return TypedCol(
                F.col(vcol(info.name, "len")).cast("long"), T.LongType()
            )
        if info is not None and info.kind == "path":
            return TypedCol(
                F.size(F.col(vcol(info.name, "rels"))).cast("long"),
                T.LongType(),
            )
    tc = _c(comp, args, 0)
    if isinstance(tc.dtype, T.NullType):
        return TypedCol(F.lit(None), T.NullType())
    if _is_string(tc.dtype):
        return TypedCol(F.length(tc.col).cast("long"), T.LongType())
    return TypedCol(F.size(tc.col).cast("long"), T.LongType())


def _fn_length(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    # length(path) — path var carries __rels; length(string) legacy
    if args and isinstance(args[0], ast.Var):
        info = comp.ctx.scope.get(args[0].name)
        if info is not None and info.kind == "path":
            return TypedCol(
                F.size(F.col(vcol(info.name, "rels"))).cast("long"), T.LongType()
            )
        if info is not None and info.kind == "edge" and info.var_length:
            return TypedCol(F.col(vcol(info.name, "len")).cast("long"), T.LongType())
    tc = _c(comp, args, 0)
    if isinstance(tc.dtype, T.NullType):
        return TypedCol(F.lit(None), T.NullType())
    if _is_string(tc.dtype):
        return TypedCol(F.length(tc.col).cast("long"), T.LongType())
    return TypedCol(F.size(tc.col).cast("long"), T.LongType())


def _fn_nodes(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    info = _entity_info(comp, args, "nodes")
    if info.kind != "path":
        raise CypherCompileError("nodes() requires a path")
    return TypedCol(F.col(vcol(info.name, "nodes")), T.ArrayType(T.StringType()))


def _fn_relationships(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    info = _entity_info(comp, args, "relationships")
    if info.kind != "path":
        raise CypherCompileError("relationships() requires a path")
    return TypedCol(F.col(vcol(info.name, "rels")), T.ArrayType(T.StringType()))


def _fn_coalesce(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    tcs = [comp.compile(a) for a in args]
    dtype = next((tc.dtype for tc in tcs if not isinstance(tc.dtype, T.NullType)), None)
    # coalesce over same-kind entities keeps entity provenance (the
    # reference lets coalesce(b, c) return nodes, translator.ts:548): the
    # id scalar rehydrates on property access / RETURN like any entity cell
    ent = None
    with_ent = [tc for tc in tcs if tc.entity is not None]
    kinds = {tc.entity[0] for tc in with_ent}
    if len(kinds) == 1 and all(
        tc.entity is not None or isinstance(tc.dtype, T.NullType) for tc in tcs
    ):
        ent = (
            next(iter(kinds)),
            tuple(sorted({t for tc in with_ent for t in tc.entity[1]})),
        )
    return TypedCol(F.coalesce(*[tc.col for tc in tcs]), dtype, entity=ent)


def _fn_to_boolean(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    tc = _c(comp, args, 0)
    if isinstance(tc.dtype, T.BooleanType):
        return tc
    lowered = F.lower(tc.col)
    col = (
        F.when(lowered == "true", F.lit(True))
        .when(lowered == "false", F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )
    return TypedCol(col, T.BooleanType())


def _fn_substring(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    s = _c(comp, args, 0)
    start = _c(comp, args, 1)
    length = _c(comp, args, 2).col if len(args) > 2 else F.lit(2**31 - 1)
    return TypedCol(s.col.substr(start.col + 1, length), T.StringType())


def _fn_split(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    s = _c(comp, args, 0)
    if isinstance(args[1], ast.Literal) and args[1].value is not None:
        if not isinstance(args[1].value, str):
            # Neo4j: split() wants a string delimiter — typed error, not a
            # silent str() coercion (round-9 error-parity sweep)
            raise CypherCompileError("split() delimiter must be a string")
        pattern = F.lit(re.escape(str(args[1].value)))
        out = F.split(s.col, pattern)
    else:
        sep_tc = _c(comp, args, 1)
        if isinstance(sep_tc.dtype, T.ArrayType):
            # single-delimiter only, like the reference's instr-based split
            # (translator.ts:6275-6303); typed error, not an analysis bomb
            raise CypherCompileError("split() delimiter must be a string")
        sep = sep_tc.col
        pattern = F.concat(F.lit("\\Q"), sep, F.lit("\\E"))
        # a null separator nulls the result (concat already yields null,
        # but F.split treats a null pattern as no-split — guard explicitly)
        out = F.when(sep.isNull(), F.lit(None)).otherwise(
            F.split(s.col, pattern)
        )
    return TypedCol(out, T.ArrayType(T.StringType()))


def _fn_tail(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    tc = _c(comp, args, 0)
    if isinstance(tc.dtype, T.NullType):
        return TypedCol(F.lit(None), T.NullType())
    col = F.slice(tc.col, 2, F.greatest(F.size(tc.col) - 1, F.lit(0)))
    return TypedCol(col, tc.dtype)


def _fn_range(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    # reference parity: a literal zero step is a compile-time error
    # (translator.ts:6211-6215 "range() step cannot be 0")
    if (
        len(args) > 2
        and isinstance(args[2], ast.Literal)
        and args[2].value == 0
    ):
        raise CypherCompileError("range() step cannot be 0")
    a = _c(comp, args, 0).col.cast("long")
    b = _c(comp, args, 1).col.cast("long")
    step = (_c(comp, args, 2).col if len(args) > 2 else F.lit(1)).cast("long")
    # Cypher: empty when the step points away from the bound (range(3, 1)
    # is []) — Spark's sequence would instead auto-descend or throw
    fits = ((step > 0) & (a <= b)) | ((step < 0) & (a >= b))
    return TypedCol(
        F.when(fits, F.sequence(a, b, step)).otherwise(
            F.array().cast("array<long>")
        ),
        T.ArrayType(T.LongType()),
    )


def _fn_round(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    tc = _c(comp, args, 0)
    if len(args) > 1:
        if not isinstance(args[1], ast.Literal):
            raise CypherCompileError("round() scale must be a literal")
        return TypedCol(F.round(tc.col, int(args[1].value)), T.DoubleType())
    return TypedCol(F.round(tc.col), T.DoubleType())


def _fn_sort(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    """Engine extension (not in openCypher): deterministic list sort —
    needed because collect() order is undefined under distributed shuffles."""
    tc = _c(comp, args, 0)
    return TypedCol(F.sort_array(tc.col), tc.dtype)


def _fn_join(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    """Engine extension: join(list, sep) → string (APOC apoc.text.join
    analog). Makes list-valued results portable across clients that can't
    hash arrays; compiles to native array_join."""
    tc = _c(comp, args, 0)
    if len(args) > 1:
        if not isinstance(args[1], ast.Literal):
            raise CypherCompileError("join() separator must be a string literal")
        sep = str(args[1].value)
    else:
        sep = ","
    col = tc.col
    if _is_array(tc.dtype) and not _is_string(tc.dtype.elementType):
        col = F.transform(col, lambda x: x.cast("string"))
    return TypedCol(F.array_join(col, sep), T.StringType())


def _fn_head(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    tc = _c(comp, args, 0)
    if isinstance(tc.dtype, T.NullType):
        return TypedCol(F.lit(None), T.NullType())
    elem = tc.dtype.elementType if _is_array(tc.dtype) else None
    return TypedCol(
        F.when(F.size(tc.col) > 0, F.element_at(tc.col, 1)), elem
    )


def _fn_last(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    tc = _c(comp, args, 0)
    if isinstance(tc.dtype, T.NullType):
        return TypedCol(F.lit(None), T.NullType())
    elem = tc.dtype.elementType if _is_array(tc.dtype) else None
    return TypedCol(
        F.when(F.size(tc.col) > 0, F.element_at(tc.col, -1)), elem
    )


def _fn_localdatetime(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    # same instant math as datetime(), but tagged zoneless (tz="") so
    # toString() omits the zone suffix (reference keeps localdatetime as a
    # zone-free ISO string, src/db.ts:164-169)
    tc = _fn_datetime(comp, args)
    if isinstance(tc.dtype, (T.TimestampType, T.TimestampNTZType)) and not tc.tz:
        return TypedCol(tc.col, tc.dtype, tz="")
    return tc


def _fn_to_string(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    tc = _c(comp, args, 0)
    if isinstance(tc.dtype, T.NullType):
        return TypedCol(F.lit(None), T.NullType())
    if _is_tagged(tc.dtype):
        return TypedCol(_tagged_to_string(tc.col), T.StringType())
    if _is_duration(tc.dtype):
        return TypedCol(_dur_iso_string(tc.col), T.StringType())
    if isinstance(tc.dtype, (T.TimestampType, T.TimestampNTZType)):
        # ISO-8601 text, as the reference stores and returns temporals
        # (src/db.ts:164-169): 'T' separator, fractional seconds only when
        # present, zone suffix for zoned datetimes
        col = tc.col
        if isinstance(tc.dtype, T.TimestampType) and tc.tz:
            col = F.from_utc_timestamp(col, tc.tz)
        base = F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss")
        ms = (F.unix_micros(col.cast("timestamp")) % 1_000_000) / 1000
        frac = F.when(
            ms != 0,
            F.concat(
                F.lit("."), F.lpad(ms.cast("long").cast("string"), 3, "0")
            ),
        ).otherwise(F.lit(""))
        if isinstance(tc.dtype, T.TimestampNTZType) or tc.tz == "":
            suffix = F.lit("")
        elif tc.tz in (None, "UTC", "Z"):
            suffix = F.lit("Z")
        else:
            secs = F.unix_timestamp(
                F.from_utc_timestamp(tc.col, tc.tz)
            ) - F.unix_timestamp(tc.col)
            sign = F.when(secs < 0, F.lit("-")).otherwise(F.lit("+"))
            mag = F.abs(secs)
            suffix = F.concat(
                sign,
                F.lpad(F.floor(mag / 3600).cast("string"), 2, "0"),
                F.lit(":"),
                F.lpad(F.floor((mag % 3600) / 60).cast("string"), 2, "0"),
                F.lit("["),
                F.lit(tc.tz),
                F.lit("]"),
            )
        return TypedCol(F.concat(base, frac, suffix), T.StringType())
    return TypedCol(tc.col.cast("string"), T.StringType())


def _map_args(comp: ExprCompiler, m: ast.MapLit) -> dict[str, Column]:
    return {k.lower(): comp.compile(v).col for k, v in m.items}


def _date_from_parts(m: dict[str, Column]) -> Column:
    """Calendar / ISO-week / ordinal / quarter date forms (reference
    src/translator.ts:6418-6806)."""
    year = m.get("year", F.lit(1970)).cast("int")
    if "week" in m:
        # ISO 8601 week date: week 1 always contains Jan 4; weekday() is
        # Monday=0, so jan4 - weekday(jan4) is week 1's Monday
        jan4 = F.make_date(year, F.lit(1), F.lit(4))
        monday1 = F.date_sub(jan4, F.weekday(jan4))
        off = (m["week"].cast("int") - 1) * 7 + (
            m.get("dayofweek", F.lit(1)).cast("int") - 1
        )
        return F.date_add(monday1, off)
    if "ordinalday" in m:
        return F.date_add(
            F.make_date(year, F.lit(1), F.lit(1)),
            m["ordinalday"].cast("int") - 1,
        )
    if "quarter" in m:
        q_start = F.add_months(
            F.make_date(year, F.lit(1), F.lit(1)),
            (m["quarter"].cast("int") - 1) * 3,
        )
        return F.date_add(q_start, m.get("dayofquarter", F.lit(1)).cast("int") - 1)
    return F.make_date(
        year, m.get("month", F.lit(1)).cast("int"), m.get("day", F.lit(1)).cast("int")
    )


_WEEK_DATE_RE = re.compile(r"^(\d{4})-W(\d{1,2})(?:-(\d))?$")
_ORDINAL_DATE_RE = re.compile(r"^(\d{4})-(\d{3})$")
_QUARTER_DATE_RE = re.compile(r"^(\d{4})-Q([1-4])(?:-(\d{1,2}))?$")


def _fn_date(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    if not args:
        return TypedCol(F.current_date(), T.DateType())
    if isinstance(args[0], ast.MapLit):
        m = _map_args(comp, args[0])
        return TypedCol(_date_from_parts(m), T.DateType())
    if isinstance(args[0], ast.Literal) and isinstance(args[0].value, str):
        # ISO week / ordinal / quarter date string forms parse through the
        # same component math as the map constructors
        s = args[0].value
        if wm := _WEEK_DATE_RE.match(s):
            parts = {
                "year": F.lit(int(wm.group(1))),
                "week": F.lit(int(wm.group(2))),
                "dayofweek": F.lit(int(wm.group(3) or 1)),
            }
            return TypedCol(_date_from_parts(parts), T.DateType())
        if om := _ORDINAL_DATE_RE.match(s):
            parts = {
                "year": F.lit(int(om.group(1))),
                "ordinalday": F.lit(int(om.group(2))),
            }
            return TypedCol(_date_from_parts(parts), T.DateType())
        if qm := _QUARTER_DATE_RE.match(s):
            parts = {
                "year": F.lit(int(qm.group(1))),
                "quarter": F.lit(int(qm.group(2))),
                "dayofquarter": F.lit(int(qm.group(3) or 1)),
            }
            return TypedCol(_date_from_parts(parts), T.DateType())
    return TypedCol(F.to_date(_c(comp, args, 0).col), T.DateType())


# trailing [Zone] on an ISO datetime literal, e.g.
# '2020-01-01T00:00:00[America/New_York]'
_ZONED_LITERAL_RE = re.compile(r"^(?P<local>.+?)\[(?P<zone>[A-Za-z][\w/+\-]*)\]$")


def _literal_tz(arg: ast.Expr) -> Optional[str]:
    """Compile-time IANA zone from a map's `timezone` key."""
    if isinstance(arg, ast.Literal) and isinstance(arg.value, str):
        return arg.value
    raise CypherCompileError("timezone must be a string literal")


def _fn_datetime(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    if not args:
        return TypedCol(F.current_timestamp(), T.TimestampType())
    if isinstance(args[0], ast.MapLit):
        tz = None
        for k, v in args[0].items:
            if k.lower() == "timezone":
                tz = _literal_tz(v)
        m = _map_args(comp, args[0])
        if "epochseconds" in m or "epochmillis" in m:
            # epoch constructors define the absolute instant directly
            # (reference epoch seconds/millis constructors,
            # src/translator.ts:7892-8503); timezone only affects display
            inst = (
                F.timestamp_seconds(m["epochseconds"].cast("double"))
                if "epochseconds" in m
                else F.timestamp_millis(m["epochmillis"].cast("long"))
            )
            return TypedCol(inst, T.TimestampType(), tz=tz)
        date_col = _date_from_parts(m)
        sec = (
            m.get("second", F.lit(0)).cast("double")
            + m.get("millisecond", F.lit(0)).cast("double") / 1000.0
            + m.get("microsecond", F.lit(0)).cast("double") / 1_000_000.0
            + m.get("nanosecond", F.lit(0)).cast("double") / 1_000_000_000.0
        )
        local = F.make_timestamp(
            F.year(date_col),
            F.month(date_col),
            F.dayofmonth(date_col),
            m.get("hour", F.lit(0)).cast("int"),
            m.get("minute", F.lit(0)).cast("int"),
            sec,
        )
        if tz is not None:
            # interpret the wall-clock parts in the zone; store the instant
            return TypedCol(F.to_utc_timestamp(local, tz), T.TimestampType(), tz=tz)
        return TypedCol(local, T.TimestampType())
    if isinstance(args[0], ast.Literal) and isinstance(args[0].value, str):
        zm = _ZONED_LITERAL_RE.match(args[0].value)
        if zm:
            local_s, zone = zm.group("local"), zm.group("zone")
            if re.search(r"(?:Z|[+-]\d{2}(?::?\d{2})?)$", local_s):
                # an explicit offset fully determines the instant — the
                # [zone] suffix only names the display zone (parsing the
                # offset AND re-resolving the wall clock in the zone would
                # double-shift the instant)
                inst = F.to_timestamp(F.lit(local_s))
            else:
                inst = F.to_utc_timestamp(
                    F.to_timestamp(F.lit(local_s)), zone
                )
            return TypedCol(inst, T.TimestampType(), tz=zone)
        off = re.search(r"[+-]\d{2}:?\d{2}$", args[0].value)
        if off:
            # bare offset, no zone name: the offset IS the display zone
            # (Spark accepts ±HH:mm as a timezone id)
            return TypedCol(
                F.to_timestamp(F.lit(args[0].value)),
                T.TimestampType(),
                tz=off.group(0),
            )
    return TypedCol(F.to_timestamp(_c(comp, args, 0).col), T.TimestampType())


_ISO_DURATION_RE = re.compile(
    r"^P(?:(?P<years>-?\d+(?:\.\d+)?)Y)?(?:(?P<months>-?\d+(?:\.\d+)?)M)?"
    r"(?:(?P<weeks>-?\d+(?:\.\d+)?)W)?(?:(?P<days>-?\d+(?:\.\d+)?)D)?"
    r"(?:T(?:(?P<hours>-?\d+(?:\.\d+)?)H)?(?:(?P<minutes>-?\d+(?:\.\d+)?)M)?"
    r"(?:(?P<seconds>-?\d+(?:\.\d+)?)S)?)?$"
)


def _fn_duration(comp: ExprCompiler, args: list[ast.Expr]) -> TypedCol:
    """duration({days: 1, hours: 2}) or duration('P1DT2H') → INTERVAL.

    The reference stores durations as ISO-8601 strings and does positional
    string surgery in SQL (src/translator.ts:13290-13324); here they are
    native Catalyst intervals, so timestamp ± duration is plain arithmetic.
    """
    arg = args[0]
    if isinstance(arg, ast.MapLit):
        m = _map_args(comp, arg)
        zero = F.lit(0)
        months = m.get("years", zero).cast("double") * 12 + m.get(
            "months", zero
        ).cast("double")
        days_d = m.get("weeks", zero).cast("double") * 7 + m.get(
            "days", zero
        ).cast("double")
        days = days_d.cast("long")
        us = (
            (days_d - days) * 86_400
            + m.get("hours", zero).cast("double") * 3_600
            + m.get("minutes", zero).cast("double") * 60
            + m.get("seconds", zero).cast("double")
        ) * 1_000_000 + m.get("milliseconds", zero).cast("double") * 1000 + m.get(
            "microseconds", zero
        ).cast("double")
        return TypedCol(_dur_struct(months, days.cast("double"), us), _DUR_T)
    if isinstance(arg, ast.Literal) and isinstance(arg.value, str):
        match = _ISO_DURATION_RE.match(arg.value)
        if not match:
            raise CypherCompileError(f"invalid ISO-8601 duration {arg.value!r}")
        parts = {k: float(v) for k, v in match.groupdict().items() if v}
        months = parts.get("years", 0) * 12 + parts.get("months", 0)
        days_d = parts.get("weeks", 0) * 7 + parts.get("days", 0)
        days = int(days_d)
        us = (
            (days_d - days) * 86_400
            + parts.get("hours", 0) * 3_600
            + parts.get("minutes", 0) * 60
            + parts.get("seconds", 0)
        ) * 1_000_000
        return TypedCol(
            _dur_struct(
                F.lit(int(months)), F.lit(days), F.lit(int(round(us)))
            ),
            _DUR_T,
        )
    raise CypherCompileError("duration() requires a map or ISO-8601 string literal")


SCALAR_FUNCTIONS: dict[str, Callable] = {
    # graph
    "id": _null_on_null_entity(_fn_id),
    "labels": _null_on_null_entity(_fn_labels),
    "type": _null_on_null_entity(_fn_type),
    "properties": _fn_properties,
    "keys": _fn_keys,
    "startnode": _null_on_null_entity(_fn_start_node),
    "endnode": _null_on_null_entity(_fn_end_node),
    "size": _fn_size,
    "length": _fn_length,
    "nodes": _fn_nodes,
    "relationships": _fn_relationships,
    # null handling / conversion
    "coalesce": _fn_coalesce,
    "tointeger": _simple(lambda c: c.cast("long"), T.LongType()),
    "tofloat": _simple(lambda c: c.cast("double"), T.DoubleType()),
    "toboolean": _fn_to_boolean,
    "tostring": _fn_to_string,
    # strings
    "toupper": _simple(F.upper, T.StringType()),
    "tolower": _simple(F.lower, T.StringType()),
    "trim": _simple(F.trim, T.StringType()),
    "ltrim": _simple(F.ltrim, T.StringType()),
    "rtrim": _simple(F.rtrim, T.StringType()),
    "substring": _fn_substring,
    "replace": _simple(F.replace, T.StringType(), nargs=3),
    "split": _fn_split,
    "left": _simple(F.left, T.StringType(), nargs=2),
    "right": _simple(F.right, T.StringType(), nargs=2),
    "reverse": _simple(F.reverse, None),
    # lists
    "head": _fn_head,
    "last": _fn_last,
    "tail": _fn_tail,
    "range": _fn_range,
    "join": _fn_join,
    # math
    "abs": _simple(F.abs, None),
    "round": _fn_round,
    "sort": _fn_sort,
    "floor": _simple(lambda c: F.floor(c).cast("double"), T.DoubleType()),
    "ceil": _simple(lambda c: F.ceil(c).cast("double"), T.DoubleType()),
    "sqrt": _simple(F.sqrt, T.DoubleType()),
    "sign": _simple(lambda c: F.signum(c).cast("long"), T.LongType()),
    "rand": _simple(lambda: F.rand(), T.DoubleType(), nargs=0),
    "exp": _simple(F.exp, T.DoubleType()),
    "log": _simple(F.log, T.DoubleType()),
    "log10": _simple(F.log10, T.DoubleType()),
    "sin": _simple(F.sin, T.DoubleType()),
    "cos": _simple(F.cos, T.DoubleType()),
    "tan": _simple(F.tan, T.DoubleType()),
    "asin": _simple(F.asin, T.DoubleType()),
    "acos": _simple(F.acos, T.DoubleType()),
    "atan": _simple(F.atan, T.DoubleType()),
    "atan2": _simple(F.atan2, T.DoubleType(), nargs=2),
    "pi": _simple(lambda: F.lit(3.141592653589793), T.DoubleType(), nargs=0),
    "e": _simple(lambda: F.exp(F.lit(1.0)), T.DoubleType(), nargs=0),
    "degrees": _simple(F.degrees, T.DoubleType()),
    "radians": _simple(F.radians, T.DoubleType()),
    # ids / temporal
    "randomuuid": _simple(lambda: F.expr("uuid()"), T.StringType(), nargs=0),
    "timestamp": _simple(
        lambda: F.unix_millis(F.current_timestamp()), T.LongType(), nargs=0
    ),
    "date": _fn_date,
    "datetime": _fn_datetime,
    "localdatetime": _fn_localdatetime,
    "duration": _fn_duration,
    # time-of-day values anchored on the epoch date (no TimeType in Spark;
    # the reference stores ISO strings — same accessor surface either way)
    "time": _simple(
        lambda c: F.to_timestamp(F.concat(F.lit("1970-01-01T"), c)),
        T.TimestampType(),
    ),
    "localtime": _simple(
        lambda c: F.to_timestamp(F.concat(F.lit("1970-01-01T"), c)),
        T.TimestampType(),
    ),
}

AGGREGATE_FUNCTIONS = {
    "count",
    "sum",
    "avg",
    "min",
    "max",
    "collect",
    "percentiledisc",
    "percentilecont",
    "stdev",
    "stdevp",
    # sketch aggregates (beyond-reference, for corpus-scale profiling):
    "approxcountdistinct",  # HyperLogLog++
    "approxpercentile",  # GK quantile sketch
    # internal: RETURN collect(DISTINCT n) — identity-distinct entity
    # collect rendered as property maps (compiler _rehydrate_return_items)
    "__collect_props_distinct",
    # internal: collect(DISTINCT coalesce/CASE with entity arms) — dedup by
    # the branched identity (args: [branched id expr, branched props expr])
    "__collect_props_distinct_branched",
}


def contains_aggregate(expr: ast.Expr) -> bool:
    """True if the expression tree contains an aggregate call over the
    projection's rows. The per-element WHERE and projection of a
    comprehension or quantifier are not searched: an aggregate there stays
    a compile error."""
    if isinstance(expr, ast.FuncCall) and expr.name in AGGREGATE_FUNCTIONS:
        return True
    if isinstance(expr, (ast.ListComp, ast.Quantifier)):
        return contains_aggregate(expr.source)
    return any(map(contains_aggregate, ast.children(expr)))
