"""OTTL statement compiler: `editor(args) where condition` strings →
executable Spark transformations.

Reference lifecycle (SURVEY.md §3.3): participle lexer (pkg/ottl/grammar.go:569)
→ AST (parsedStatement grammar.go:16) → path/function resolution →
per-record interpretation (parser.go:29-66). Here the same pipeline ends in
a Catalyst Column tree instead of an interpreter: parsing happens ONCE at
plan-build (mirroring 'all OTTL compilation happens at startup',
transformprocessor/internal/logs/processor.go:26-45), then whole-stage
codegen executes it vectorized.

Supported surface (the log-pipeline core):
  statements  set(path, value) | delete_key(path) | keep_keys(p1, p2, ...)
              ... each with optional `where <boolean expression>`
  values      path refs, string/int/float/bool/nil literals,
              Converter(args) calls from functions/ottl.OTTL_FUNCTIONS,
              math + - * /, parentheses
  conditions  == != >= <= > <, and/or/not, parentheses
  paths       attributes["k"] / resource["k"] → column k; body → text;
              bare identifiers → same-named column (override via path_map)

Comparison semantics note: `x == nil` / `x != nil` compile to
isNull()/isNotNull(), and `nil == nil` is true (pkg/ottl/compare.go:44-70);
SQL `x = NULL` would be NULL on every row. Any other comparison against a
NULL column yields NULL, which filters/when-chains treat as false; the
reference's `!=` is true there instead, a difference not shimmed.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .ottl import OTTL_FUNCTIONS

# ---------------------------------------------------------------------------
# lexer (token shapes follow grammar.go:569-600)
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<float>-?\d+\.\d+)
  | (?P<int>-?\d+)
  | (?P<string>"(?:[^"\\]|\\.)*")
  | (?P<op>==|!=|>=|<=|=>|>|<|\+|-|\*|/|\(|\)|\[|\]|,)
  | (?P<ident>[A-Za-z_][A-Za-z0-9_.]*)
    """,
    re.VERBOSE,
)

_KEYWORDS = {"where", "and", "or", "not", "true", "false", "nil"}


def _lex(src: str) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    pos = 0
    while pos < len(src):
        m = _TOKEN_RE.match(src, pos)
        if not m:
            raise ValueError(f"OTTL lex error at {pos}: {src[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        text = m.group()
        if kind == "ident" and text in _KEYWORDS:
            kind = text
        out.append((kind, text))
    out.append(("eof", ""))
    return out


# ---------------------------------------------------------------------------
# parser (recursive descent over the statement grammar)
# ---------------------------------------------------------------------------


_UNBOUND = object()  # a declared formal Spark's HOF cannot supply (e.g. index in forall)


@dataclass
class OttlLambda:
    """A parsed-but-unevaluated lambda argument `(p1, p2) => body`
    (grammar.go:232,277,580 LambdaArrow; lambda.go:15-60 activation model).
    The body token slice re-parses once per HOF wiring with the formals
    bound to the HOF's Column variables — the Catalyst analogue of
    LambdaActivation.SetArg + Eval, resolved entirely at plan build."""

    formals: list[str]
    body: list[tuple[str, str]]
    path_map: dict[str, str]

    def eval(self, bindings: dict[str, object], pred: bool) -> Column:
        p = _Parser(self.body + [("eof", "")], self.path_map)
        p.locals = {k: v for k, v in bindings.items() if k != "_"}
        col = p.bool_expr() if pred else p.value()
        p.expect("eof")
        return col


# Which converters take a lambda, the collection kind that decides formal
# binding, and whether the body is a predicate (boolExpr) or a value
# (Getter) — mirroring the factories' LambdaExpression signatures.
#   slice  — OTTL formals (index, value); Spark filter/transform pass
#            (element, index), so the binding swaps the order
#   slice1 — forall/exists only supply the element; the index formal is
#            declared but unbindable (use `_`, lambda.go blank formals)
#   one    — single-formal (MapKeys key rewrite)
#   acc    — (accumulator, element) for Reduce/aggregate
_LAMBDA_SPECS: dict[str, tuple[str, bool]] = {
    "Filter": ("slice", True),
    "MapEach": ("slice", False),
    "All": ("slice1", True),
    "Any": ("slice1", True),
    "MapKeys": ("one", False),
    "Reduce": ("acc", False),
}


def _bind_lambda(lam: OttlLambda, fn_name: str):
    kind, pred = _LAMBDA_SPECS[fn_name]
    n_want = 1 if kind == "one" else 2
    if len(lam.formals) != n_want:
        # ValidateArity contract (lambda.go:60-75): formal count must match
        # what the function will bind
        raise ValueError(
            f"{fn_name} lambda declares {len(lam.formals)} parameters, expects {n_want}"
        )
    if kind == "slice":
        return lambda x, i: lam.eval({lam.formals[0]: i, lam.formals[1]: x}, pred)
    if kind == "slice1":
        return lambda x: lam.eval({lam.formals[0]: _UNBOUND, lam.formals[1]: x}, pred)
    if kind == "one":
        return lambda k: lam.eval({lam.formals[0]: k}, pred)
    return lambda acc, x: lam.eval({lam.formals[0]: acc, lam.formals[1]: x}, pred)


@dataclass
class Statement:
    editor: str
    target: str | None              # column the editor writes/removes
    keys: list[str] = field(default_factory=list)   # keep_keys list
    value: Column | None = None
    args: list = field(default_factory=list)        # extra editor args
    condition: Column | None = None


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]], path_map: dict[str, str]):
        self.toks = tokens
        self.i = 0
        self.path_map = path_map
        self.locals: dict[str, object] = {}  # lambda formals in scope

    def peek(self) -> tuple[str, str]:
        return self.toks[self.i]

    def next(self) -> tuple[str, str]:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, kind: str, text: str | None = None) -> str:
        k, t = self.next()
        if k != kind or (text is not None and t != text):
            raise ValueError(f"OTTL parse error: expected {text or kind}, got {t!r}")
        return t

    # --- paths ---------------------------------------------------------

    def _resolve_path(self, base: str) -> str:
        # the ident token class admits dots anywhere; empty segments ('X.',
        # 'a..b') are not valid paths and would leak an AnalysisException
        # out of Column construction instead of the parse-error contract
        if base.endswith(".") or ".." in base:
            raise ValueError(f"OTTL parse error: invalid path {base!r}")
        if self.peek() == ("op", "["):
            self.next()
            key = self.expect("string")[1:-1]
            self.expect("op", "]")
            mapped = self.path_map.get(f'{base}["{key}"]')
            if mapped is None and "." in base:
                head, rest = base.split(".", 1)
                if head in CONTEXT_INFER_PRIORITY:  # log.attributes["k"] ≡ attributes["k"]
                    mapped = self.path_map.get(f'{rest}["{key}"]')
            return mapped if mapped is not None else key
        if base in self.path_map:
            return self.path_map[base]
        if "." in base:
            head, rest = base.split(".", 1)
            if head in CONTEXT_INFER_PRIORITY:  # log.body ≡ body in the row model
                return self.path_map.get(rest, rest)
        return base

    # --- expressions ---------------------------------------------------

    def value(self) -> Column:
        return self._additive()

    def _additive(self) -> Column:
        left = self._multiplicative()
        while self.peek() in (("op", "+"), ("op", "-")):
            _, op = self.next()
            right = self._multiplicative()
            left = left + right if op == "+" else left - right
        return left

    def _multiplicative(self) -> Column:
        left = self._primary()
        while self.peek() in (("op", "*"), ("op", "/")):
            _, op = self.next()
            right = self._primary()
            left = left * right if op == "*" else left / right
        return left

    def _primary(self) -> Column:
        kind, text = self.next()
        if kind == "float":
            return F.lit(float(text))
        if kind == "int":
            return F.lit(int(text))
        if kind == "string":
            return F.lit(text[1:-1].replace('\\"', '"'))
        if kind == "true":
            return F.lit(True)
        if kind == "false":
            return F.lit(False)
        if kind == "nil":
            return F.lit(None)
        if kind == "op" and text == "(":
            inner = self.value()
            self.expect("op", ")")
            return inner
        if kind == "ident":
            if self.peek() == ("op", "("):  # Converter call
                if text not in OTTL_FUNCTIONS:
                    raise ValueError(f"unknown OTTL function {text}")
                self.next()
                args: list = []
                while self.peek() != ("op", ")"):
                    args.append(self._arg())
                    if self.peek() == ("op", ","):
                        self.next()
                self.expect("op", ")")
                if any(isinstance(a, OttlLambda) for a in args):
                    if text not in _LAMBDA_SPECS:
                        raise ValueError(f"OTTL function {text} does not accept a lambda")
                    args = [
                        _bind_lambda(a, text) if isinstance(a, OttlLambda) else a
                        for a in args
                    ]
                return OTTL_FUNCTIONS[text](*args)
            if text in self.locals:
                v = self.locals[text]
                if v is _UNBOUND:
                    raise ValueError(
                        f"lambda parameter {text!r} is not bindable in this context"
                        " (use `_` for unavailable formals)"
                    )
                return v
            return F.col(self._resolve_path(text))
        raise ValueError(f"OTTL parse error: unexpected {text!r}")

    def _try_lambda(self) -> OttlLambda | None:
        """At an argument position: `(` ident-list `)` `=>` body — capture
        the body token slice (balanced, up to the enclosing `,` or `)`)
        without evaluating it. Returns None if the lookahead is not a
        lambda (an ordinary parenthesized expression)."""
        if self.peek() != ("op", "("):
            return None
        j = self.i + 1
        formals: list[str] = []
        while self.toks[j][0] == "ident":
            formals.append(self.toks[j][1])
            j += 1
            if self.toks[j] == ("op", ","):
                j += 1
            else:
                break
        if not formals or self.toks[j] != ("op", ")") or self.toks[j + 1] != ("op", "=>"):
            return None
        k = j + 2
        if self.toks[k] == ("op", "(") and self._looks_like_lambda_at(k):
            # grammar.go:677-684 rejects a lambda whose body is a lambda
            raise ValueError("OTTL lambda body must not be another lambda")
        depth = 0
        body: list[tuple[str, str]] = []
        while True:
            tkind, ttext = self.toks[k]
            if tkind == "eof":
                break
            if tkind == "op" and ttext in ("(", "["):
                depth += 1
            elif tkind == "op" and ttext in (")", "]"):
                if depth == 0:
                    break
                depth -= 1
            elif tkind == "op" and ttext == "," and depth == 0:
                break
            body.append(self.toks[k])
            k += 1
        if not body:
            raise ValueError("OTTL lambda has an empty body")
        self.i = k
        return OttlLambda(formals, body, self.path_map)

    def _looks_like_lambda_at(self, j: int) -> bool:
        if self.toks[j] != ("op", "("):
            return False
        j += 1
        seen = False
        while self.toks[j][0] == "ident":
            seen = True
            j += 1
            if self.toks[j] == ("op", ","):
                j += 1
            else:
                break
        return seen and self.toks[j] == ("op", ")") and self.toks[j + 1] == ("op", "=>")

    def _arg(self):
        """Converter args: string literals pass as raw Python strings (most
        registry functions take format/separator strings), everything else
        parses as a value expression."""
        lam = self._try_lambda()
        if lam is not None:
            return lam
        kind, text = self.peek()
        if kind == "string":
            nxt = self.toks[self.i + 1]
            # a string followed by an operator is an expression operand
            if nxt not in (("op", ","), ("op", ")")):
                return self.value()
            self.next()
            return text[1:-1].replace('\\"', '"')
        if kind == "int" and self.toks[self.i + 1] in (("op", ","), ("op", ")")):
            self.next()
            return int(text)
        return self.value()

    # --- boolean expressions ------------------------------------------

    def bool_expr(self) -> Column:
        left = self._bool_term()
        while self.peek()[0] == "or":
            self.next()
            left = left | self._bool_term()
        return left

    def _bool_term(self) -> Column:
        left = self._bool_factor()
        while self.peek()[0] == "and":
            self.next()
            left = left & self._bool_factor()
        return left

    def _bool_factor(self) -> Column:
        if self.peek()[0] == "not":
            self.next()
            return ~self._bool_factor()
        if self.peek() == ("op", "("):
            save = self.i
            self.next()
            try:
                inner = self.bool_expr()
                self.expect("op", ")")
                if self.peek()[0] in ("and", "or", "eof", "op"):
                    return inner
            except ValueError:
                self.i = save
        return self._comparison()

    def _is_nil(self, start: int) -> bool:
        """True when the value parsed from token `start` was the bare nil."""
        return self.i == start + 1 and self.toks[start][0] == "nil"

    def _comparison(self) -> Column:
        start = self.i
        left = self.value()
        left_nil = self._is_nil(start)
        kind, op = self.peek()
        if kind == "op" and op in ("==", "!=", ">=", "<=", ">", "<"):
            self.next()
            start = self.i
            right = self.value()
            right_nil = self._is_nil(start)
            if op in ("==", "!=") and (left_nil or right_nil):
                if left_nil and right_nil:
                    return F.lit(op == "==")
                other = right if left_nil else left
                return other.isNull() if op == "==" else other.isNotNull()
            return {
                "==": left == right,
                "!=": left != right,
                ">=": left >= right,
                "<=": left <= right,
                ">": left > right,
                "<": left < right,
            }[op]
        return left.cast("boolean")

    # --- statements ----------------------------------------------------

    def statement(self) -> Statement:
        editor = self.expect("ident")
        self.expect("op", "(")
        st: Statement
        if editor == "set":
            target_tok = self.expect("ident")
            target = self._resolve_path(target_tok)
            self.expect("op", ",")
            value = self.value()
            st = Statement("set", target, value=value)
        elif editor == "delete_key":
            target_tok = self.expect("ident")
            target = self._resolve_path(target_tok)
            st = Statement("delete_key", target)
        elif editor == "keep_keys":
            keys: list[str] = []
            while self.peek() != ("op", ")"):
                k, t = self.next()
                if k == "string":
                    keys.append(t[1:-1])
                elif k == "ident":
                    keys.append(self._resolve_path(t))
                if self.peek() == ("op", ","):
                    self.next()
            st = Statement("keep_keys", None, keys=keys)
        elif editor in EDITOR_BUILDERS:
            # generic column-rewriting editor: first arg is the target path,
            # the rest parse like Converter args
            target_tok = self.expect("ident")
            target = self._resolve_path(target_tok)
            args: list = []
            while self.peek() == ("op", ","):
                self.next()
                args.append(self._arg())
            st = Statement(editor, target, args=args)
        else:
            raise ValueError(f"unsupported editor {editor}")
        self.expect("op", ")")
        if self.peek()[0] == "where":
            self.next()
            st.condition = self.bool_expr()
        self.expect("eof")
        return st


def _merge_maps(target: Column, source: Column, strategy: str = "upsert") -> Column:
    """func_merge_maps.go strategies: insert (only keys absent from target),
    update (only keys already in target), upsert (source wins). A NULL
    source is a no-op and a NULL target adopts the source (insert/upsert) —
    without the guards, NULL map_keys would poison the map_filter predicate
    and silently wipe the target."""
    if strategy == "upsert":
        merged = F.map_concat(
            F.map_filter(target, lambda k, _v: ~F.array_contains(F.map_keys(source), k)), source
        )
    elif strategy == "insert":
        merged = F.map_concat(
            target, F.map_filter(source, lambda k, _v: ~F.array_contains(F.map_keys(target), k))
        )
    elif strategy == "update":
        merged = F.map_concat(
            F.map_filter(target, lambda k, _v: ~F.array_contains(F.map_keys(source), k)),
            F.map_filter(source, lambda k, _v: F.array_contains(F.map_keys(target), k)),
        )
    else:
        raise ValueError(f"merge_maps strategy {strategy!r} not in (insert, update, upsert)")
    fallback = target if strategy == "update" else F.coalesce(target, source)
    return F.when(source.isNull() | target.isNull(), fallback).otherwise(merged)


def _replace_all_patterns(target: Column, mode: str, pattern: str, rep: str) -> Column:
    """func_replace_all_patterns.go over a map column: mode 'value' rewrites
    every value, mode 'key' rewrites keys (last write wins on collisions,
    matching pdata Map.Upsert semantics)."""
    if mode == "value":
        return OTTL_FUNCTIONS["ReplaceAllPatterns"](target, pattern, rep)
    if mode == "key":
        # rebuild from entries so colliding rewritten keys collapse; keep the
        # LAST entry per key (pdata Map.Upsert semantics): drop entry i when
        # any later entry carries the same key
        entries = F.transform(
            F.map_entries(target),
            lambda e: F.struct(F.regexp_replace(e["key"], pattern, rep).alias("key"), e["value"].alias("value")),
        )
        deduped = F.filter(
            entries,
            lambda e, i: ~F.exists(
                F.slice(entries, i + F.lit(2), F.size(entries)), lambda e2: e2["key"] == e["key"]
            ),
        )
        return F.map_from_entries(deduped)
    raise ValueError(f"replace_all_patterns mode {mode!r} not in (key, value)")


# Column-rewriting editors: each builds the edited value for the target
# column from (current_column, *extra_args). Because they all express the
# edit as a value, `where <cond>` composes uniformly as
# when(cond, edited).otherwise(current) — per-record editor semantics with
# zero branching in the plan (one fused projection).
# Reference set: pkg/ottl/ottlfuncs/functions.go:11-39 editor factories.
EDITOR_BUILDERS: dict[str, Callable[..., Column]] = {
    "replace_pattern": lambda c, pat, rep: OTTL_FUNCTIONS["ReplacePattern"](c, pat, rep),
    "replace_match": lambda c, glob, rep: OTTL_FUNCTIONS["ReplaceMatch"](c, glob, rep),
    "replace_all_patterns": _replace_all_patterns,
    "replace_all_matches": lambda c, glob, rep: OTTL_FUNCTIONS["ReplaceAllMatches"](c, glob, rep),
    "merge_maps": _merge_maps,
    "limit": lambda c, n: OTTL_FUNCTIONS["Limit"](c, n),
    "truncate_all": lambda c, n: OTTL_FUNCTIONS["TruncateAll"](c, n),
    "append": lambda c, v: F.array_append(c, v if isinstance(v, Column) else F.lit(v)),
    "delete_matching_keys": lambda c, pat: OTTL_FUNCTIONS["DeleteMatchingKeys"](c, pat),
    "keep_matching_keys": lambda c, pat: OTTL_FUNCTIONS["KeepMatchingKeys"](c, pat),
    # round 5 (r4 verdict #4): the last three of the reference's 16 editor
    # factories (ottlfuncs/functions.go:11-39) reach statement dispatch —
    # the bodies already existed in OTTL_FUNCTIONS, only the parse was
    # missing, so configs pasting `flatten(...)` etc. no longer error
    "delete_index": lambda c, i: OTTL_FUNCTIONS["DeleteIndex"](c, i),
    "flatten": lambda c: OTTL_FUNCTIONS["Flatten"](c),
    "stringify_all": lambda c: OTTL_FUNCTIONS["StringifyAll"](c),
}


# The OTTL context names, in the reference's inference priority order
# (pkg/ottl/context_inferrer.go:18-29, defaultContextInferPriority). In a
# relational model every context is a column namespace of the SAME row, so
# a `ctx.`-prefixed path resolves through the same path_map as its bare
# form (see _resolve_path).
CONTEXT_INFER_PRIORITY = [
    "log",
    "exemplar",
    "datapoint",
    "metric",
    "spanevent",
    "span",
    "profile",
    "scope",
    "instrumentation_scope",
    "resource",
]

DEFAULT_PATH_MAP = {"body": "text"}


def parse_statement(src: str, path_map: dict[str, str] | None = None) -> Statement:
    """Compile one OTTL statement string (done once at plan build)."""
    return _Parser(_lex(src), {**DEFAULT_PATH_MAP, **(path_map or {})}).statement()


def parse_condition(src: str, path_map: dict[str, str] | None = None) -> Column:
    """Compile a standalone OTTL condition (routingconnector's route
    conditions, filterprocessor's drop conditions)."""
    p = _Parser(_lex(src), {**DEFAULT_PATH_MAP, **(path_map or {})})
    col = p.bool_expr()
    p.expect("eof")
    return col


def apply_statements(df: DataFrame, statements: list[str], path_map: dict[str, str] | None = None) -> DataFrame:
    """transformprocessor analogue: ordered statement application. Each
    `set ... where cond` becomes when(cond, value).otherwise(current) — the
    whole statement list fuses into one projection."""
    out = df
    for src in statements:
        st = parse_statement(src, path_map)
        if st.editor == "set":
            assert st.target is not None and st.value is not None
            if st.condition is not None:
                current = (
                    F.col(st.target) if st.target in out.columns else F.lit(None)
                )
                out = out.withColumn(st.target, F.when(st.condition, st.value).otherwise(current))
            else:
                out = out.withColumn(st.target, st.value)
        elif st.editor == "delete_key":
            if st.condition is not None:
                raise ValueError("delete_key where <cond> is not column-expressible; use set(col, nil) where cond")
            out = out.drop(st.target)
        elif st.editor == "keep_keys":
            if st.condition is not None:
                # eager validation (validate_spec contract): a silent
                # unconditional projection would deviate from the reference's
                # per-record editor semantics
                raise ValueError("keep_keys where <cond> is not column-expressible; route conditionally instead")
            out = out.select(*[k for k in st.keys if k in out.columns])
        else:
            builder = EDITOR_BUILDERS[st.editor]
            edited = builder(F.col(st.target), *st.args)
            if st.condition is not None:
                if st.editor in ("flatten", "stringify_all"):
                    # a conditional type-changing edit cannot type a
                    # relational column. flatten: array<array<T>> vs
                    # array<T> is a plan-time AnalysisException; worse,
                    # stringify_all would NOT error — CaseWhen coercion
                    # widens the otherwise-branch map<string,long> to
                    # map<string,string>, silently stringifying EVERY row
                    # and turning the where-gate into a no-op. Eager loud
                    # error (validate_spec contract), matching
                    # keep_keys/delete_key under where.
                    raise ValueError(
                        f"{st.editor} where <cond> is not column-expressible "
                        "(the edit changes the column type); gate with a "
                        "router/filter split instead"
                    )
                edited = F.when(st.condition, edited).otherwise(F.col(st.target))
            out = out.withColumn(st.target, edited)
    return out

