"""Conditional expression compiler + output fan-out routing.

Reference: Logstash's LSCL conditional language (grammar in
`logstash-core/lib/logstash/config/grammar.rb`, runtime in
`org/logstash/config/ir/expression/*.java` compiled by
`EventCondition.java §Compiler` — SURVEY.md §2.6). We compile the same
expression surface directly to a Catalyst `Column`, so conditions are
codegen'd JVM predicates — never Python.

Supported: ==  !=  <  >  <=  >=  =~  !~  in  not in  and  or  nand  xor
!  (),  field refs `[a][b]` or bare names, string/number/regex/array
literals, bare-field truthiness.

Fan-out: an event reaches EVERY output whose conditional path accepts it
(graph fan-out, not first-match — DatasetCompiler §splitDataset). We
compute all route flags in one projection and materialize a
`routes array<string>` column; sinks filter on membership.
"""

from __future__ import annotations

import re
from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logstash_spark.operators.common import METADATA, field_ref_to_col, memo_columns

# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------

_TOKEN = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<lparen>\() | (?P<rparen>\))
  | (?P<lbracket_lit>\[(?=\s*(?:"|'|[-0-9]))) # array literal start
  | (?P<fieldref>(?:\[[^\]]+\])+)             # [a][b]
  | (?P<regex>/(?:\\.|[^/\\])*/)
  | (?P<string>"(?:\\.|[^"\\])*"|'(?:\\.|[^'\\])*')
  | (?P<number>-?\d+(?:\.\d+)?)
  | (?P<op>==|!=|<=|>=|=~|!~|<|>|!)
  | (?P<comma>,)
  | (?P<rbracket>\])
  | (?P<word>[A-Za-z_][A-Za-z0-9_.@-]*)
    """,
    re.VERBOSE,
)

_KEYWORDS = {"and", "or", "nand", "xor", "in", "not", "true", "false"}


def _tokenize(s: str) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    pos = 0
    while pos < len(s):
        m = _TOKEN.match(s, pos)
        if not m:
            raise ValueError(f"condition syntax error at {s[pos:pos + 20]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        text = m.group(0)
        if kind == "word" and text in _KEYWORDS:
            out.append((text, text))
        else:
            out.append((kind or "", text))
    out.append(("eof", ""))
    return out


# ---------------------------------------------------------------------------
# Parser → (Column, kind) where kind ∈ {'col','str','num','regex','array','bool'}
# ---------------------------------------------------------------------------


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]], dtypes: dict[str, str]):
        self.toks = tokens
        self.i = 0
        self.dtypes = dtypes  # column name → spark dtype string (may be empty)

    def peek(self) -> tuple[str, str]:
        return self.toks[self.i]

    def eat(self, kind: str | None = None) -> tuple[str, str]:
        t = self.toks[self.i]
        if kind and t[0] != kind:
            raise ValueError(f"expected {kind}, got {t}")
        self.i += 1
        return t

    # expr := and_expr (('or'|'xor') and_expr)*
    def parse(self) -> Column:
        c = self.or_expr()
        self.eat("eof")
        return c

    def or_expr(self) -> Column:
        left = self.and_expr()
        while self.peek()[0] in ("or", "xor"):
            kind, _ = self.eat()
            right = self.and_expr()
            left = (left | right) if kind == "or" else (left != right)
        return left

    def and_expr(self) -> Column:
        left = self.unary()
        while self.peek()[0] in ("and", "nand"):
            kind, _ = self.eat()
            right = self.unary()
            left = (left & right) if kind == "and" else ~(left & right)
        return left

    def unary(self) -> Column:
        if self.peek()[0] == "op" and self.peek()[1] == "!":
            self.eat()
            return ~self.unary()
        return self.comparison()

    def comparison(self) -> Column:
        if self.peek()[0] == "lparen":
            save = self.i
            self.eat()
            inner = self.or_expr()
            self.eat("rparen")
            # a parenthesized boolean can still be the left side of and/or,
            # handled by callers; comparisons on parenthesized operands are
            # not in the LSCL grammar.
            return inner
        left, lkind, lname = self.operand()
        t = self.peek()
        if t[0] == "op" and t[1] in ("==", "!=", "<", ">", "<=", ">="):
            self.eat()
            right, rkind, _ = self.operand()
            return self._compare(t[1], left, lkind, right, rkind)
        if t[0] == "op" and t[1] in ("=~", "!~"):
            self.eat()
            right, rkind, _ = self.operand()
            pat = right if isinstance(right, str) else None
            if pat is None:
                raise ValueError("=~ requires a regex/string literal pattern")
            c = left.rlike(pat)
            return c if t[1] == "=~" else ~c
        if t[0] == "in" or (t[0] == "not" and self.toks[self.i + 1][0] == "in"):
            negate = t[0] == "not"
            self.eat()
            if negate:
                self.eat("in")
            right, rkind, rname = self.operand()
            c = self._membership(left, lkind, right, rkind, rname)
            return ~c if negate else c
        # bare truthiness: field exists and is not null/false/"" (EventCondition
        # §Compiler truthiness)
        del lname
        if lkind == "col":
            s = left.cast("string")
            return left.isNotNull() & (s != "") & (s != "false")
        if lkind == "bool":
            return left
        raise ValueError("literal cannot be a bare condition")

    def _compare(self, op_: str, left, lkind, right, rkind) -> Column:
        # type-coercing compare (expression/{Eq,Gt,...}.java): numeric
        # comparison if either operand is a number literal
        lc = left if lkind in ("col", "bool") else F.lit(left)
        rc = right if rkind in ("col", "bool") else F.lit(right)
        if lkind == "num" or rkind == "num":
            lc = lc.cast("double")
            rc = rc.cast("double")
        if op_ == "==":
            return lc.eqNullSafe(rc)
        if op_ == "!=":
            return ~lc.eqNullSafe(rc)
        if op_ == "<":
            return lc < rc
        if op_ == ">":
            return lc > rc
        if op_ == "<=":
            return lc <= rc
        return lc >= rc

    def _membership(self, left, lkind, right, rkind, rname) -> Column:
        """LSCL `in`: array membership if RHS is array-typed, else substring
        containment (In.java resolves by operand runtime type; we resolve
        at compile time from literal kind / column dtype — SURVEY.md
        §7.3(d))."""
        lc = left if lkind == "col" else F.lit(left)
        if rkind == "array":
            return lc.isin(list(right))
        rc = right if rkind == "col" else F.lit(right)
        if rkind == "col":
            dt = self.dtypes.get(rname or "", "")
            if dt.startswith("string"):
                return F.coalesce(rc.contains(lc.cast("string")), F.lit(False))
            return F.coalesce(F.array_contains(rc, lc), F.lit(False))
        # string literal RHS → substring containment
        return F.coalesce(rc.contains(lc.cast("string")), F.lit(False))

    def operand(self):
        t = self.peek()
        if t[0] == "fieldref":
            self.eat()
            name = re.findall(r"\[([^\]]+)\]", t[1])[0]
            return field_ref_to_col(t[1]), "col", name
        if t[0] == "string":
            self.eat()
            return _unquote(t[1]), "str", None
        if t[0] == "regex":
            self.eat()
            return t[1][1:-1], "str", None
        if t[0] == "number":
            self.eat()
            v = float(t[1]) if "." in t[1] else int(t[1])
            return v, "num", None
        if t[0] in ("true", "false"):
            self.eat()
            return F.lit(t[0] == "true"), "bool", None
        if t[0] == "lbracket_lit":
            return self._array_literal(), "array", None
        if t[0] == "word":
            self.eat()
            return F.col(t[1]), "col", t[1]
        raise ValueError(f"unexpected token {t}")

    def _array_literal(self):
        self.eat("lbracket_lit")
        vals = []
        while self.peek()[0] != "rbracket":
            tk, tv = self.eat()
            if tk == "string":
                vals.append(_unquote(tv))
            elif tk == "number":
                vals.append(float(tv) if "." in tv else int(tv))
            elif tk == "comma":
                continue
            else:
                raise ValueError(f"bad array literal element {tv}")
        self.eat("rbracket")
        return vals


def _unquote(s: str) -> str:
    body = s[1:-1]
    return re.sub(r"\\(.)", r"\1", body)


def compile_condition(expr: str, df: DataFrame | None = None) -> Column:
    """LSCL condition string → Catalyst Column predicate."""
    return _compile_condition(expr, tuple(df.dtypes) if df is not None else ())


@memo_columns
def _compile_condition(expr: str, dtypes: tuple[tuple[str, str], ...]) -> Column:
    return _Parser(_tokenize(expr), dict(dtypes)).parse()


# ---------------------------------------------------------------------------
# Routing / fan-out
# ---------------------------------------------------------------------------

ROUTES = "routes"


def add_routes(
    df: DataFrame,
    routes: Mapping[str, str | Column],
    *,
    else_sink: str | None = None,
) -> DataFrame:
    """Materialize `routes array<string>`: all sinks whose condition holds.

    Graph fan-out semantics (an event may reach several sinks). The
    optional `else_sink` receives rows matching NONE of the named routes
    — the `else` branch of the conditional output section.
    """
    return df.withColumn(
        ROUTES, _routes_expr(tuple(routes.items()), else_sink, tuple(df.dtypes))
    )


@memo_columns
def _routes_expr(
    items: tuple[tuple[str, str | Column], ...],
    else_sink: str | None,
    dtypes: tuple[tuple[str, str], ...],
) -> Column:
    conds: dict[str, Column] = {}
    for sink, cond in items:
        c = _compile_condition(cond, dtypes) if isinstance(cond, str) else cond
        conds[sink] = F.coalesce(c, F.lit(False))
    entries = [F.when(c, F.lit(sink)) for sink, c in conds.items()]
    arr = F.array_compact(F.array(*entries))
    if else_sink is not None:
        none_matched = F.size(arr) == 0
        arr = F.when(none_matched, F.array(F.lit(else_sink))).otherwise(arr)
    return arr


def route_filter(df: DataFrame, sink: str) -> DataFrame:
    return df.where(F.array_contains(F.col(ROUTES), sink))


def fanout_rows(
    df: DataFrame, sinks: Sequence[str], col: str, drop: Sequence[str] = ()
) -> DataFrame:
    """One row per (event, listed sink it routes to), the sink's name in
    `col`: the rows a shared fan-out write partitions by `col`. The
    pipeline's scratch columns (`routes`, the runner's `_in_part`, and
    `[@metadata]`, never serialized: Event.java §getMetadata) and the
    `drop` columns never reach a sink. `col` must be a new column name
    (Spark resolves names case-insensitively), or the explode's output
    would be ambiguous."""
    if col.lower() in {c.lower() for c in df.columns}:
        raise ValueError(f"fan-out column {col!r} is already an event field")
    return (
        df.select("*", F.explode(ROUTES).alias(col))
        .where(F.col(col).isin(list(sinks)))
        .drop(ROUTES, "_in_part", METADATA, *drop)
    )
