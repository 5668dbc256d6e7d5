"""openCypher tokenizer + recursive-descent parser → AST.

Implements the openCypher grammar surface the reference supports (reference
src/parser.ts — hand-written tokenizer `:435-523` + recursive descent; we
re-derive from the public openCypher spec rather than porting): MATCH /
OPTIONAL MATCH / WHERE / WITH / RETURN / ORDER BY / SKIP / LIMIT / UNWIND /
UNION [ALL] / CREATE / MERGE (ON CREATE/ON MATCH SET) / SET / REMOVE /
DELETE / DETACH DELETE / CALL, plus the full expression grammar: literals,
parameters, property access, index/slice, list & map literals, arithmetic,
comparisons (incl. chained), boolean ops, IN, IS [NOT] NULL, STARTS
WITH/ENDS WITH/CONTAINS/=~, label predicates, CASE, list/pattern
comprehensions, quantifiers (ALL/ANY/NONE/SINGLE), reduce, EXISTS patterns,
and variable-length relationship patterns.
"""

from __future__ import annotations

from dataclasses import dataclass

from nicefox_graphdb_spark.cypher import ast


class CypherSyntaxError(Exception):
    def __init__(self, message: str, line: int = 0, col: int = 0):
        super().__init__(f"{message} (line {line}, col {col})")
        self.message = message
        self.line = line
        self.col = col


@dataclass
class Token:
    type: str  # ident | int | float | string | param | op | eof
    value: str
    line: int
    col: int

    def kw(self) -> str:
        """Keyword-normalized value (identifiers only)."""
        return self.value.upper() if self.type == "ident" else ""


_MULTI_OPS = ("<=", ">=", "<>", "!=", "=~", "+=", "..")
_SINGLE_OPS = "()[]{},:;.+-*/%^=<>|$"


def tokenize(text: str) -> list[Token]:
    toks: list[Token] = []
    i, line, col = 0, 1, 1
    n = len(text)

    def err(msg: str):
        raise CypherSyntaxError(msg, line, col)

    while i < n:
        c = text[i]
        if c == "\n":
            i += 1
            line += 1
            col = 1
            continue
        if c in " \t\r":
            i += 1
            col += 1
            continue
        if c == "/" and i + 1 < n and text[i + 1] == "/":
            while i < n and text[i] != "\n":
                i += 1
            continue
        if c == "/" and i + 1 < n and text[i + 1] == "*":
            j = text.find("*/", i + 2)
            if j < 0:
                err("unterminated block comment")
            seg = text[i : j + 2]
            line += seg.count("\n")
            i = j + 2
            continue
        start_col = col
        if c.isdigit() or (c == "." and i + 1 < n and text[i + 1].isdigit()):
            j = i
            is_float = False
            if text[j] == ".":
                is_float = True
                j += 1
            if text[j : j + 2].lower() == "0x":
                j += 2
                while j < n and (text[j] in "abcdefABCDEF" or text[j].isdigit()):
                    j += 1
                toks.append(Token("int", str(int(text[i:j], 16)), line, start_col))
                col += j - i
                i = j
                continue
            while j < n and text[j].isdigit():
                j += 1
            if j < n and text[j] == "." and not is_float:
                # range '..' must not be eaten by the float
                if j + 1 < n and text[j + 1] == ".":
                    pass
                elif j + 1 < n and text[j + 1].isdigit():
                    is_float = True
                    j += 1
                    while j < n and text[j].isdigit():
                        j += 1
                else:
                    is_float = True
                    j += 1
            if j < n and text[j] in "eE":
                k = j + 1
                if k < n and text[k] in "+-":
                    k += 1
                if k < n and text[k].isdigit():
                    is_float = True
                    j = k
                    while j < n and text[j].isdigit():
                        j += 1
            toks.append(
                Token("float" if is_float else "int", text[i:j], line, start_col)
            )
            col += j - i
            i = j
            continue
        if c.isalpha() or c == "_":
            j = i
            while j < n and (text[j].isalnum() or text[j] == "_"):
                j += 1
            toks.append(Token("ident", text[i:j], line, start_col))
            col += j - i
            i = j
            continue
        if c in "'\"":
            quote = c
            j = i + 1
            buf = []
            while j < n and text[j] != quote:
                if text[j] == "\\" and j + 1 < n:
                    esc = text[j + 1]
                    mapping = {
                        "n": "\n",
                        "t": "\t",
                        "r": "\r",
                        "\\": "\\",
                        "'": "'",
                        '"': '"',
                        "b": "\b",
                        "f": "\f",
                    }
                    if esc == "u" and j + 5 < n:
                        buf.append(chr(int(text[j + 2 : j + 6], 16)))
                        j += 6
                        continue
                    buf.append(mapping.get(esc, esc))
                    j += 2
                    continue
                buf.append(text[j])
                j += 1
            if j >= n:
                err("unterminated string")
            toks.append(Token("string", "".join(buf), line, start_col))
            col += j + 1 - i
            i = j + 1
            continue
        if c == "`":
            j = text.find("`", i + 1)
            if j < 0:
                err("unterminated quoted identifier")
            toks.append(Token("ident", text[i + 1 : j], line, start_col))
            col += j + 1 - i
            i = j + 1
            continue
        if c == "$":
            j = i + 1
            while j < n and (text[j].isalnum() or text[j] == "_"):
                j += 1
            if j == i + 1:
                err("empty parameter name")
            toks.append(Token("param", text[i + 1 : j], line, start_col))
            col += j - i
            i = j
            continue
        two = text[i : i + 2]
        if two in _MULTI_OPS:
            toks.append(Token("op", two, line, start_col))
            i += 2
            col += 2
            continue
        if c in _SINGLE_OPS or c == "!":
            toks.append(Token("op", c, line, start_col))
            i += 1
            col += 1
            continue
        err(f"unexpected character {c!r}")
    toks.append(Token("eof", "", line, col))
    return toks


_QUANTIFIERS = {"ALL", "ANY", "NONE", "SINGLE"}


class Parser:
    def __init__(self, text: str):
        self.toks = tokenize(text)
        self.pos = 0

    # -- token helpers ----------------------------------------------------
    def peek(self, offset: int = 0) -> Token:
        return self.toks[min(self.pos + offset, len(self.toks) - 1)]

    def at_op(self, *ops: str, offset: int = 0) -> bool:
        t = self.peek(offset)
        return t.type == "op" and t.value in ops

    def at_kw(self, *kws: str, offset: int = 0) -> bool:
        return self.peek(offset).kw() in kws

    def advance(self) -> Token:
        t = self.toks[self.pos]
        if t.type != "eof":
            self.pos += 1
        return t

    def expect_op(self, op: str) -> Token:
        if not self.at_op(op):
            t = self.peek()
            raise CypherSyntaxError(f"expected {op!r}, got {t.value!r}", t.line, t.col)
        return self.advance()

    def expect_kw(self, kw: str) -> Token:
        if not self.at_kw(kw):
            t = self.peek()
            raise CypherSyntaxError(f"expected {kw}, got {t.value!r}", t.line, t.col)
        return self.advance()

    def expect_ident(self) -> str:
        t = self.peek()
        if t.type != "ident":
            raise CypherSyntaxError(f"expected identifier, got {t.value!r}", t.line, t.col)
        self.advance()
        return t.value

    def save(self) -> int:
        return self.pos

    def restore(self, pos: int) -> None:
        self.pos = pos

    # -- entry ------------------------------------------------------------
    def parse(self) -> ast.Query:
        q = self.parse_single_query()
        while self.at_kw("UNION"):
            self.advance()
            all_ = False
            if self.at_kw("ALL"):
                self.advance()
                all_ = True
            q.unions.append((all_, self.parse_single_query()))
        t = self.peek()
        if t.type != "eof" and not (t.type == "op" and t.value == ";"):
            raise CypherSyntaxError(f"unexpected input {t.value!r}", t.line, t.col)
        return q

    def parse_single_query(self) -> ast.Query:
        clauses: list[ast.Clause] = []
        while True:
            t = self.peek()
            kw = t.kw()
            if kw == "MATCH":
                clauses.append(self.parse_match(optional=False))
            elif kw == "OPTIONAL":
                self.advance()
                self.expect_kw("MATCH")
                clauses.append(self.parse_match(optional=True, consumed=True))
            elif kw == "UNWIND":
                self.advance()
                src = self.parse_expr()
                self.expect_kw("AS")
                clauses.append(ast.Unwind(source=src, alias=self.expect_ident()))
            elif kw == "WITH":
                clauses.append(self.parse_projection(is_with=True))
            elif kw == "RETURN":
                clauses.append(self.parse_projection(is_with=False))
            elif kw == "CREATE":
                self.advance()
                paths = [self.parse_pattern_path()]
                while self.at_op(","):
                    self.advance()
                    paths.append(self.parse_pattern_path())
                clauses.append(ast.Create(paths=paths))
            elif kw == "MERGE":
                clauses.append(self.parse_merge())
            elif kw == "SET":
                clauses.append(self.parse_set())
            elif kw == "REMOVE":
                clauses.append(self.parse_remove())
            elif kw in ("DELETE", "DETACH"):
                detach = kw == "DETACH"
                t = self.peek()
                self.advance()
                if detach:
                    self.expect_kw("DELETE")
                exprs = [self.parse_expr()]
                while self.at_op(","):
                    self.advance()
                    exprs.append(self.parse_expr())
                clauses.append(
                    ast.Delete(
                        exprs=exprs, detach=detach, pos=(t.line, t.col)
                    )
                )
            elif kw == "CALL":
                clauses.append(self.parse_call())
            else:
                break
        if not clauses:
            t = self.peek()
            raise CypherSyntaxError(f"expected a clause, got {t.value!r}", t.line, t.col)
        return ast.Query(clauses=clauses)

    # -- clauses ----------------------------------------------------------
    def parse_match(self, optional: bool, consumed: bool = False) -> ast.Match:
        if not consumed:
            self.expect_kw("MATCH")
        paths = [self.parse_pattern_path()]
        while self.at_op(","):
            self.advance()
            paths.append(self.parse_pattern_path())
        where = None
        if self.at_kw("WHERE"):
            self.advance()
            where = self.parse_expr()
        return ast.Match(paths=paths, optional=optional, where=where)

    def parse_projection(self, is_with: bool) -> ast.Projection:
        self.advance()  # WITH / RETURN
        distinct = False
        if self.at_kw("DISTINCT"):
            self.advance()
            distinct = True
        star = False
        items: list[ast.ReturnItem] = []
        if self.at_op("*"):
            self.advance()
            star = True
            if self.at_op(","):
                self.advance()
                items.append(self.parse_return_item())
                while self.at_op(","):
                    self.advance()
                    items.append(self.parse_return_item())
        else:
            items.append(self.parse_return_item())
            while self.at_op(","):
                self.advance()
                items.append(self.parse_return_item())
        order_by: list[ast.OrderItem] = []
        if self.at_kw("ORDER"):
            self.advance()
            self.expect_kw("BY")
            order_by.append(self.parse_order_item())
            while self.at_op(","):
                self.advance()
                order_by.append(self.parse_order_item())
        skip = limit = None
        if self.at_kw("SKIP"):
            self.advance()
            skip = self.parse_expr()
        if self.at_kw("LIMIT"):
            self.advance()
            limit = self.parse_expr()
        if is_with:
            # Neo4j 3.5: every non-variable expression in WITH must be
            # aliased — `WITH n.p` is a SyntaxError, `WITH n.p AS p` is not
            for it in items:
                if it.alias is None and not isinstance(it.expr, ast.Var):
                    t = self.peek()
                    raise CypherSyntaxError(
                        "Expression in WITH must be aliased (use AS)",
                        t.line,
                        t.col,
                    )
            where = None
            if self.at_kw("WHERE"):
                self.advance()
                where = self.parse_expr()
            return ast.With(
                items=items,
                distinct=distinct,
                star=star,
                order_by=order_by,
                skip=skip,
                limit=limit,
                where=where,
            )
        return ast.Return(
            items=items,
            distinct=distinct,
            star=star,
            order_by=order_by,
            skip=skip,
            limit=limit,
        )

    def parse_return_item(self) -> ast.ReturnItem:
        expr = self.parse_expr()
        alias = None
        if self.at_kw("AS"):
            self.advance()
            alias = self.expect_ident()
        return ast.ReturnItem(expr=expr, alias=alias)

    def parse_order_item(self) -> ast.OrderItem:
        expr = self.parse_expr()
        desc = False
        if self.at_kw("DESC", "DESCENDING"):
            self.advance()
            desc = True
        elif self.at_kw("ASC", "ASCENDING"):
            self.advance()
        return ast.OrderItem(expr=expr, desc=desc)

    def parse_merge(self) -> ast.Merge:
        t = self.peek()
        self.expect_kw("MERGE")
        path = self.parse_pattern_path()
        merge_pos = (t.line, t.col)
        on_create: list[ast.SetItem] = []
        on_match: list[ast.SetItem] = []
        while self.at_kw("ON"):
            self.advance()
            which = self.peek().kw()
            if which not in ("CREATE", "MATCH"):
                t = self.peek()
                raise CypherSyntaxError("expected CREATE or MATCH after ON", t.line, t.col)
            self.advance()
            set_clause = self.parse_set()
            (on_create if which == "CREATE" else on_match).extend(set_clause.items)
        return ast.Merge(
            path=path, on_create=on_create, on_match=on_match, pos=merge_pos
        )

    def parse_set(self) -> ast.SetClause:
        self.expect_kw("SET")
        items = [self.parse_set_item()]
        while self.at_op(","):
            self.advance()
            items.append(self.parse_set_item())
        return ast.SetClause(items=items)

    def parse_set_item(self) -> ast.SetItem:
        # n:Label(:Label)*  |  n.prop = e  |  n = e  |  n += e
        start = self.save()
        name = self.expect_ident()
        if self.at_op(":"):
            labels = []
            while self.at_op(":"):
                self.advance()
                labels.append(self.expect_ident())
            return ast.SetItem(kind="labels", target=ast.Var(name), labels=labels)
        self.restore(start)
        target = self.parse_expr_no_eq()
        if self.at_op("+="):
            self.advance()
            return ast.SetItem(kind="var_merge", target=target, value=self.parse_expr())
        self.expect_op("=")
        value = self.parse_expr()
        if isinstance(target, ast.Prop):
            return ast.SetItem(kind="prop", target=target, value=value)
        if isinstance(target, ast.Var):
            return ast.SetItem(kind="var_replace", target=target, value=value)
        raise CypherSyntaxError("invalid SET target", 0, 0)

    def parse_expr_no_eq(self) -> ast.Expr:
        """A property/variable expression for SET targets (stops before =)."""
        t = self.peek()
        name = self.expect_ident()
        expr: ast.Expr = ast.Var(name, pos=(t.line, t.col))
        while self.at_op("."):
            self.advance()
            tk = self.peek()
            expr = ast.Prop(
                base=expr, key=self.expect_ident(), pos=(tk.line, tk.col)
            )
        return expr

    def parse_remove(self) -> ast.Remove:
        self.expect_kw("REMOVE")
        items: list[ast.RemoveItem] = []
        while True:
            name = self.expect_ident()
            if self.at_op(":"):
                labels = []
                while self.at_op(":"):
                    self.advance()
                    labels.append(self.expect_ident())
                items.append(
                    ast.RemoveItem(kind="labels", target=ast.Var(name), labels=labels)
                )
            else:
                if not self.at_op("."):
                    # `REMOVE n` is invalid — REMOVE takes n.prop or n:Label
                    t = self.peek()
                    raise CypherSyntaxError(
                        "Invalid REMOVE target: expected a property "
                        "(n.prop) or a label (n:Label)",
                        t.line,
                        t.col,
                    )
                expr: ast.Expr = ast.Var(name)
                while self.at_op("."):
                    self.advance()
                    expr = ast.Prop(base=expr, key=self.expect_ident())
                items.append(ast.RemoveItem(kind="prop", target=expr))
            if not self.at_op(","):
                break
            self.advance()
        return ast.Remove(items=items)

    def parse_call(self) -> ast.CallProc:
        self.expect_kw("CALL")
        parts = [self.expect_ident()]
        while self.at_op("."):
            self.advance()
            parts.append(self.expect_ident())
        args: list[ast.Expr] = []
        if self.at_op("("):
            self.advance()
            if not self.at_op(")"):
                args.append(self.parse_expr())
                while self.at_op(","):
                    self.advance()
                    args.append(self.parse_expr())
            self.expect_op(")")
        yields: list[str] = []
        if self.at_kw("YIELD"):
            self.advance()
            yields.append(self.expect_ident())
            while self.at_op(","):
                self.advance()
                yields.append(self.expect_ident())
        return ast.CallProc(proc=".".join(parts), args=args, yield_items=yields)

    # -- patterns ---------------------------------------------------------
    def parse_pattern_path(self) -> ast.PatternPath:
        name = None
        starts_path = (
            self.peek(2).type == "op" and self.peek(2).value == "("
        ) or (
            self.peek(2).kw() in ("SHORTESTPATH", "ALLSHORTESTPATHS")
            and self.at_op("(", offset=3)
        )
        if self.peek().type == "ident" and self.at_op("=", offset=1) and starts_path:
            name = self.expect_ident()
            self.expect_op("=")
        shortest = None
        if self.peek().kw() in ("SHORTESTPATH", "ALLSHORTESTPATHS") and self.at_op(
            "(", offset=1
        ):
            shortest = "single" if self.peek().kw() == "SHORTESTPATH" else "all"
            self.advance()
            self.expect_op("(")
        elements: list = [self.parse_node_pattern()]
        while self.at_op("-", "<"):
            rel = self.parse_rel_pattern()
            node = self.parse_node_pattern()
            elements.append(rel)
            elements.append(node)
        if shortest is not None:
            self.expect_op(")")
        return ast.PatternPath(name=name, elements=elements, shortest=shortest)

    def parse_node_pattern(self) -> ast.NodePattern:
        self.expect_op("(")
        var = None
        labels: list[str] = []
        props = None
        if self.peek().type == "ident" and not self.at_op(":", offset=0):
            var = self.expect_ident()
        while self.at_op(":"):
            self.advance()
            labels.append(self.expect_ident())
        if self.at_op("{"):
            props = self.parse_map_literal()
        if self.at_kw("WHERE"):
            # inline WHERE inside node pattern (openCypher 9+); not supported yet
            t = self.peek()
            raise CypherSyntaxError("inline node WHERE not supported", t.line, t.col)
        self.expect_op(")")
        return ast.NodePattern(var=var, labels=labels, props=props)

    def parse_rel_pattern(self) -> ast.RelPattern:
        left_arrow = False
        if self.at_op("<"):
            self.advance()
            left_arrow = True
        self.expect_op("-")
        rel = ast.RelPattern()
        if self.at_op("["):
            self.advance()
            if self.peek().type == "ident" and not self.at_op(":", offset=0):
                rel.var = self.expect_ident()
            if self.at_op(":"):
                self.advance()
                rel.types.append(self.expect_ident())
                while self.at_op("|"):
                    self.advance()
                    if self.at_op(":"):
                        self.advance()
                    rel.types.append(self.expect_ident())
            if self.at_op("*"):
                self.advance()
                rel.var_length = True
                if self.peek().type == "int":
                    rel.min_hops = int(self.advance().value)
                    if self.at_op(".."):
                        self.advance()
                        if self.peek().type == "int":
                            rel.max_hops = int(self.advance().value)
                    else:
                        rel.max_hops = rel.min_hops
                elif self.at_op(".."):
                    self.advance()
                    if self.peek().type == "int":
                        rel.max_hops = int(self.advance().value)
            if self.at_op("{"):
                rel.props = self.parse_map_literal()
            self.expect_op("]")
        self.expect_op("-")
        right_arrow = False
        if self.at_op(">"):
            self.advance()
            right_arrow = True
        if left_arrow and right_arrow:
            rel.direction = "both"
        elif left_arrow:
            rel.direction = "in"
        elif right_arrow:
            rel.direction = "out"
        else:
            rel.direction = "both"
        return rel

    def parse_map_literal(self) -> ast.MapLit:
        self.expect_op("{")
        items: list[tuple[str, ast.Expr]] = []
        if not self.at_op("}"):
            while True:
                t = self.peek()
                if t.type not in ("ident", "string"):
                    raise CypherSyntaxError("expected map key", t.line, t.col)
                key = self.advance().value
                self.expect_op(":")
                items.append((key, self.parse_expr()))
                if not self.at_op(","):
                    break
                self.advance()
        self.expect_op("}")
        return ast.MapLit(items=items)

    # -- expressions ------------------------------------------------------
    def parse_expr(self) -> ast.Expr:
        return self.parse_or()

    def parse_or(self) -> ast.Expr:
        left = self.parse_xor()
        while self.at_kw("OR"):
            self.advance()
            left = ast.Binary("OR", left, self.parse_xor())
        return left

    def parse_xor(self) -> ast.Expr:
        left = self.parse_and()
        while self.at_kw("XOR"):
            self.advance()
            left = ast.Binary("XOR", left, self.parse_and())
        return left

    def parse_and(self) -> ast.Expr:
        left = self.parse_not()
        while self.at_kw("AND"):
            self.advance()
            left = ast.Binary("AND", left, self.parse_not())
        return left

    def parse_not(self) -> ast.Expr:
        if self.at_kw("NOT"):
            self.advance()
            return ast.Unary("NOT", self.parse_not())
        return self.parse_comparison()

    _COMP_OPS = {"=", "<>", "!=", "<", "<=", ">", ">="}

    def parse_comparison(self) -> ast.Expr:
        left = self.parse_string_list_null()
        comparisons: list[tuple[str, ast.Expr]] = []
        while self.peek().type == "op" and self.peek().value in self._COMP_OPS:
            op = self.advance().value
            if op == "!=":
                op = "<>"
            comparisons.append((op, self.parse_string_list_null()))
        if not comparisons:
            return left
        # chained comparisons a < b < c  =>  a < b AND b < c
        result: ast.Expr | None = None
        prev = left
        for op, right in comparisons:
            cmp_ = ast.Binary(op, prev, right)
            result = cmp_ if result is None else ast.Binary("AND", result, cmp_)
            prev = right
        return result  # type: ignore[return-value]

    def parse_string_list_null(self) -> ast.Expr:
        left = self.parse_additive()
        while True:
            if self.at_kw("IN"):
                self.advance()
                left = ast.Binary("IN", left, self.parse_additive())
            elif self.at_kw("STARTS"):
                self.advance()
                self.expect_kw("WITH")
                left = ast.Binary("STARTSWITH", left, self.parse_additive())
            elif self.at_kw("ENDS"):
                self.advance()
                self.expect_kw("WITH")
                left = ast.Binary("ENDSWITH", left, self.parse_additive())
            elif self.at_kw("CONTAINS"):
                self.advance()
                left = ast.Binary("CONTAINS", left, self.parse_additive())
            elif self.at_op("=~"):
                self.advance()
                left = ast.Binary("REGEX", left, self.parse_additive())
            elif self.at_kw("IS"):
                self.advance()
                negated = False
                if self.at_kw("NOT"):
                    self.advance()
                    negated = True
                self.expect_kw("NULL")
                left = ast.IsNull(operand=left, negated=negated)
            else:
                return left

    def parse_additive(self) -> ast.Expr:
        left = self.parse_multiplicative()
        while self.at_op("+", "-"):
            op = self.advance().value
            left = ast.Binary(op, left, self.parse_multiplicative())
        return left

    def parse_multiplicative(self) -> ast.Expr:
        left = self.parse_unary()
        while self.at_op("*", "/", "%"):
            op = self.advance().value
            left = ast.Binary(op, left, self.parse_unary())
        return left

    def parse_unary(self) -> ast.Expr:
        # unary minus binds LOOSER than ^: -2^2 = -(2^2) = -4 (Neo4j)
        if self.at_op("-"):
            self.advance()
            return ast.Unary("-", self.parse_unary())
        if self.at_op("+"):
            self.advance()
            return ast.Unary("+", self.parse_unary())
        return self.parse_power()

    def parse_power(self) -> ast.Expr:
        # Cypher ^ is left-associative: 2^3^2 = (2^3)^2 = 64
        left = self.parse_postfix()
        while self.at_op("^"):
            self.advance()
            left = ast.Binary("^", left, self._parse_power_operand())
        return left

    def _parse_power_operand(self) -> ast.Expr:
        # allow a signed operand (2 ^ -1) without re-entering the power
        # loop, which would break left-associativity
        if self.at_op("-"):
            self.advance()
            return ast.Unary("-", self._parse_power_operand())
        if self.at_op("+"):
            self.advance()
            return ast.Unary("+", self._parse_power_operand())
        return self.parse_postfix()

    def parse_postfix(self) -> ast.Expr:
        expr = self.parse_atom()
        while True:
            if self.at_op("."):
                self.advance()
                t = self.peek()
                if t.type != "ident":
                    raise CypherSyntaxError("expected property name", t.line, t.col)
                name = self.advance().value
                if self.at_op("("):
                    # method call on an arbitrary base expression, e.g.
                    # localdatetime(...).truncate('day') — encoded as a
                    # FuncCall with a leading-dot name and the base as the
                    # first argument (var bases take the dotted-name path
                    # in parse_atom)
                    call = self.parse_func_call(name, pos=(t.line, t.col))
                    expr = ast.FuncCall(
                        name="." + call.name, args=[expr, *call.args],
                        pos=call.pos,
                    )
                else:
                    expr = ast.Prop(base=expr, key=name, pos=(t.line, t.col))
            elif self.at_op("["):
                self.advance()
                start = None
                if not self.at_op(".."):
                    start = self.parse_expr()
                if self.at_op(".."):
                    self.advance()
                    end = None
                    if not self.at_op("]"):
                        end = self.parse_expr()
                    expr = ast.Slice(base=expr, start=start, end=end)
                else:
                    expr = ast.Index(base=expr, index=start)  # type: ignore[arg-type]
                self.expect_op("]")
            elif self.at_op(":") and isinstance(expr, (ast.Var, ast.Prop)):
                labels = []
                while self.at_op(":"):
                    self.advance()
                    labels.append(self.expect_ident())
                expr = ast.LabelPred(base=expr, labels=labels)
            else:
                return expr

    def parse_atom(self) -> ast.Expr:  # noqa: PLR0911, PLR0912
        t = self.peek()
        if t.type == "int":
            self.advance()
            return ast.Literal(int(t.value), "int")
        if t.type == "float":
            self.advance()
            return ast.Literal(float(t.value), "float")
        if t.type == "string":
            self.advance()
            return ast.Literal(t.value, "string")
        if t.type == "param":
            self.advance()
            return ast.Param(t.value, pos=(t.line, t.col))
        if self.at_op("["):
            return self.parse_list_or_comprehension()
        if self.at_op("{"):
            return self.parse_map_literal()
        if self.at_op("("):
            return self.parse_paren_or_pattern()
        if t.type != "ident":
            raise CypherSyntaxError(f"unexpected token {t.value!r}", t.line, t.col)
        kw = t.kw()
        if kw == "NULL":
            self.advance()
            return ast.Literal(None, "null")
        if kw == "TRUE":
            self.advance()
            return ast.Literal(True, "bool")
        if kw == "FALSE":
            self.advance()
            return ast.Literal(False, "bool")
        if kw == "CASE":
            return self.parse_case()
        if kw == "NOT":
            self.advance()
            return ast.Unary("NOT", self.parse_not())
        if kw == "EXISTS":
            return self.parse_exists()
        if kw == "REDUCE" and self.at_op("(", offset=1):
            return self.parse_reduce()
        if kw in _QUANTIFIERS and self.at_op("(", offset=1):
            return self.parse_quantifier(kw.lower())
        if kw == "COUNT" and self.at_op("(", offset=1) and self.at_op("*", offset=2):
            self.advance()
            self.advance()
            self.advance()
            self.expect_op(")")
            return ast.FuncCall(name="count", args=[ast.Star()])
        # function call (possibly dotted) vs variable
        if self.at_op("(", offset=1):
            t = self.peek()
            name = self.expect_ident()
            return self.parse_func_call(name, pos=(t.line, t.col))
        if self.at_op(".", offset=1):
            # dotted function name like duration.between( — only if the full
            # dotted chain is followed by '('
            start = self.save()
            t0 = self.peek()
            parts = [self.expect_ident()]
            while self.at_op(".") and self.peek(1).type == "ident":
                self.advance()
                parts.append(self.expect_ident())
            if self.at_op("(") and len(parts) > 1:
                return self.parse_func_call(
                    ".".join(parts), pos=(t0.line, t0.col)
                )
            self.restore(start)
        t = self.peek()
        name = self.expect_ident()
        return ast.Var(name, pos=(t.line, t.col))

    def parse_func_call(self, name: str, pos=None) -> ast.FuncCall:
        self.expect_op("(")
        distinct = False
        if self.at_kw("DISTINCT"):
            self.advance()
            distinct = True
        args: list[ast.Expr] = []
        if not self.at_op(")"):
            args.append(self.parse_expr())
            while self.at_op(","):
                self.advance()
                args.append(self.parse_expr())
        self.expect_op(")")
        return ast.FuncCall(
            name=name.lower(), args=args, distinct=distinct, pos=pos
        )

    def parse_case(self) -> ast.CaseExpr:
        self.expect_kw("CASE")
        test = None
        if not self.at_kw("WHEN"):
            test = self.parse_expr()
        whens: list[tuple[ast.Expr, ast.Expr]] = []
        while self.at_kw("WHEN"):
            self.advance()
            cond = self.parse_expr()
            self.expect_kw("THEN")
            whens.append((cond, self.parse_expr()))
        default = None
        if self.at_kw("ELSE"):
            self.advance()
            default = self.parse_expr()
        self.expect_kw("END")
        return ast.CaseExpr(test=test, whens=whens, default=default)

    def parse_exists(self) -> ast.Expr:
        self.expect_kw("EXISTS")
        if self.at_op("{"):
            self.advance()
            if self.at_kw("MATCH"):
                self.advance()
            path = self.parse_pattern_path()
            where = None
            if self.at_kw("WHERE"):
                self.advance()
                where = self.parse_expr()
            self.expect_op("}")
            return ast.ExistsExpr(pattern=path, where=where)
        self.expect_op("(")
        # EXISTS(n.prop) or EXISTS((a)-[:T]->(b))
        start = self.save()
        try:
            path = self.parse_pattern_path()
            if len(path.elements) > 1 or self.at_op(")"):
                self.expect_op(")")
                return ast.ExistsExpr(pattern=path)
        except CypherSyntaxError:
            pass
        self.restore(start)
        inner = self.parse_expr()
        self.expect_op(")")
        return ast.IsNull(operand=inner, negated=True)

    def parse_reduce(self) -> ast.Reduce:
        self.expect_kw("REDUCE")
        self.expect_op("(")
        acc = self.expect_ident()
        self.expect_op("=")
        init = self.parse_expr()
        self.expect_op(",")
        var = self.expect_ident()
        self.expect_kw("IN")
        source = self.parse_expr()
        self.expect_op("|")
        body = self.parse_expr()
        self.expect_op(")")
        return ast.Reduce(acc=acc, init=init, var=var, source=source, body=body)

    def parse_quantifier(self, kind: str) -> ast.Quantifier:
        self.advance()  # keyword
        self.expect_op("(")
        var = self.expect_ident()
        self.expect_kw("IN")
        source = self.parse_expr()
        where = None
        if self.at_kw("WHERE"):
            self.advance()
            where = self.parse_expr()
        self.expect_op(")")
        return ast.Quantifier(kind=kind, var=var, source=source, where=where)  # type: ignore[arg-type]

    def parse_list_or_comprehension(self) -> ast.Expr:
        self.expect_op("[")
        # pattern comprehension: [ (a)-[]->(b) WHERE ... | expr ], optionally
        # with a bound path variable [ p = (a)-->(b) | p ] (reference
        # parsePatternComprehension pathVariable, src/parser.ts:3255-3282)
        has_path_var = (
            self.peek().type == "ident"
            and self.at_op("=", offset=1)
            and self.at_op("(", offset=2)
        )
        if self.at_op("(") or has_path_var:
            start = self.save()
            try:
                path_name = None
                if has_path_var:
                    path_name = self.expect_ident()
                    self.advance()  # '='
                path = self.parse_pattern_path()
                if path_name is not None:
                    path.name = path_name
                if len(path.elements) > 1 and (self.at_kw("WHERE") or self.at_op("|")):
                    where = None
                    if self.at_kw("WHERE"):
                        self.advance()
                        where = self.parse_expr()
                    self.expect_op("|")
                    projection = self.parse_expr()
                    self.expect_op("]")
                    return ast.PatternComp(path=path, where=where, projection=projection)
            except CypherSyntaxError:
                pass
            self.restore(start)
        # list comprehension: [ x IN list WHERE p | e ]
        if self.peek().type == "ident" and self.at_kw("IN", offset=1):
            start = self.save()
            var = self.expect_ident()
            self.advance()  # IN
            source = self.parse_additive()
            if self.at_kw("WHERE") or self.at_op("|"):
                where = None
                if self.at_kw("WHERE"):
                    self.advance()
                    where = self.parse_expr()
                projection = None
                if self.at_op("|"):
                    self.advance()
                    projection = self.parse_expr()
                self.expect_op("]")
                return ast.ListComp(
                    var=var, source=source, where=where, projection=projection
                )
            self.restore(start)
        items: list[ast.Expr] = []
        if not self.at_op("]"):
            items.append(self.parse_expr())
            while self.at_op(","):
                self.advance()
                items.append(self.parse_expr())
        self.expect_op("]")
        return ast.ListLit(items=items)

    def parse_paren_or_pattern(self) -> ast.Expr:
        """Disambiguate parenthesized expression vs pattern expression."""
        start = self.save()
        try:
            path = self.parse_pattern_path()
            if len(path.elements) > 1:
                return ast.PatternExpr(path=path)
        except CypherSyntaxError:
            pass
        self.restore(start)
        self.expect_op("(")
        inner = self.parse_expr()
        self.expect_op(")")
        return inner


def parse(text: str) -> ast.Query:
    """Parse a Cypher statement into an AST."""
    return Parser(text).parse()
