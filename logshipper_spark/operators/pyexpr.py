"""Compiled ``python``-filter rewrites.

The reference's ``python`` filter (``logshipper/filters.py::prepare_python``
[approx]) compiles an arbitrary Python statement once and runs it per
message.  Arbitrary per-row Python is forbidden here (BASELINE.json
input_hint: vectorized only), so the escape hatch is narrowed to a
documented expression subset with two lowering paths:

* ``{"sql": "..."}``   — native Spark SQL expression (``F.expr``): the fast
  path, stays inside whole-stage codegen.  Preferred.
* ``{"expr": "..."}``  — a Python expression over column names where each
  name is bound to a pandas ``Series`` for the whole Arrow batch
  (``text.str.upper()``, ``value * 2 + other``).  Compiled ONCE into a
  vectorized ``pandas_udf`` — never row-at-a-time.
"""

from __future__ import annotations

import ast
from collections.abc import Mapping

import pandas as pd
from pyspark.sql import Column, functions as F


def _referenced_names(expr: str) -> list[str]:
    tree = ast.parse(expr, mode="eval")
    names = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and node.id not in names:
            names.append(node.id)
    return names


# curated pandas facade: the raw module would re-open the sandbox
# (pd.read_pickle = arbitrary code via pickle, pd.read_csv('http://...') =
# network I/O, pd.eval = eval).  Specs get data-shaping constructors ONLY,
# enforced both here (runtime namespace) and at compile time (_validate_expr
# checks attribute chains rooted at `pd` against _PD_ALLOWED).
_PD_ALLOWED = frozenset({"to_datetime", "to_numeric", "Series", "concat", "isna", "notna"})


def _series_ctor(*args, **kwargs):
    # wrapper, NOT the class: exposing pd.Series itself lets
    # `pd.Series.to_csv(text, path)` call unbound I/O methods
    return pd.Series(*args, **kwargs)


_pd_facade = type("pd_facade", (), {
    name: staticmethod(_series_ctor if name == "Series" else getattr(pd, name))
    for name in _PD_ALLOWED
})()

_SAFE_GLOBALS = {"pd": _pd_facade, "abs": abs, "min": min, "max": max, "round": round, "len": len}

# AST allowlist: the documented "narrowed expression subset" is ENFORCED at
# compile time — names, constants, arithmetic/boolean/comparison operators,
# subscripts, and calls to whitelisted names or (non-dunder) methods.
# Anything else (imports, lambdas, comprehensions, attribute escapes like
# ().__class__) is rejected before any executor sees it.
_ALLOWED_NODES = (
    ast.Expression, ast.Name, ast.Load, ast.Constant, ast.BinOp, ast.UnaryOp,
    ast.BoolOp, ast.Compare, ast.Call, ast.Attribute, ast.IfExp, ast.Subscript,
    ast.Slice, ast.Tuple, ast.List, ast.Dict, ast.keyword,
    ast.Add, ast.Sub, ast.Mult, ast.Div, ast.Mod, ast.Pow, ast.FloorDiv,
    ast.USub, ast.UAdd, ast.Not, ast.Invert, ast.And, ast.Or,
    ast.Eq, ast.NotEq, ast.Lt, ast.LtE, ast.Gt, ast.GtE,
    ast.BitAnd, ast.BitOr, ast.BitXor,
)


# pandas methods with side effects or arbitrary-callable/string dispatch,
# denied at ANY attribute depth — a bound column Series has them too, so a
# pd-rooted check alone is insufficient: `text.to_csv('/tmp/x')` writes on
# the executor, and `text.agg('to_csv', '/tmp/x')` reaches the same method
# via pandas' string-func dispatch (agg forwards *args to the looked-up
# method).  str.format is denied because format specs grant dunder
# attribute traversal ('{0.__class__}') the AST check can't see.
_DENIED_METHODS = frozenset({
    "to_csv", "to_pickle", "to_json", "to_excel", "to_sql", "to_hdf",
    "to_parquet", "to_feather", "to_stata", "to_clipboard", "to_latex",
    "to_html", "to_markdown", "to_xml",
    # path-accepting writers reachable through non-obvious routes (r4
    # review): Series.to_string(buf=path) opens the string as a file;
    # ndarray.dump/tofile are reachable via .values / .to_numpy()
    "to_string", "dump", "dumps", "tofile", "info",
    "pipe", "apply", "map", "agg", "aggregate", "transform", "applymap",
    "eval", "query", "plot", "format", "format_map",
})


def _validate_expr(tree: ast.Expression, allowed_names: set[str]) -> None:
    for node in ast.walk(tree):
        if not isinstance(node, _ALLOWED_NODES):
            raise ValueError(
                f"python rewrite: disallowed syntax {type(node).__name__!r} "
                "(expression subset: names, constants, operators, method calls)"
            )
        if isinstance(node, ast.Attribute) and node.attr.startswith("_"):
            raise ValueError("python rewrite: underscore attributes are not allowed")
        if isinstance(node, ast.Attribute) and node.attr in _DENIED_METHODS:
            raise ValueError(
                f"python rewrite: method {node.attr!r} is not allowed "
                "(I/O or arbitrary-callable dispatch)"
            )
        if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name) and node.value.id == "pd":
            if node.attr not in _PD_ALLOWED:
                raise ValueError(
                    f"python rewrite: pd.{node.attr} is not allowed "
                    f"(facade exposes only {sorted(_PD_ALLOWED)})"
                )
        elif isinstance(node, ast.Attribute) and isinstance(node.value, ast.Attribute):
            # depth-2+ chains rooted at `pd` (pd.Series.to_csv, pd.io.*):
            # the Name-rooted check above never sees them, so walk to the root
            root = node.value
            while isinstance(root, ast.Attribute):
                root = root.value
            if isinstance(root, ast.Name) and root.id == "pd":
                raise ValueError(
                    "python rewrite: chained attribute access on pd is not allowed"
                )
        if isinstance(node, ast.Name) and node.id not in allowed_names:
            raise ValueError(f"python rewrite: unknown name {node.id!r}")
        if isinstance(node, ast.Call) and not isinstance(node.func, (ast.Attribute, ast.Name)):
            raise ValueError("python rewrite: only name/method calls are allowed")


def compile_python_rewrite(params: dict | str, cols: Mapping[str, Column]) -> Column:
    """Compile a python-rewrite spec to a Column (native or pandas-UDF)."""
    if isinstance(params, str):
        params = {"expr": params}
    if "sql" in params:
        return F.expr(params["sql"])
    expr = params["expr"]
    rtype = params.get("type", "string")
    tree = ast.parse(expr, mode="eval")
    names = [n for n in _referenced_names(expr) if n in cols]
    _validate_expr(tree, set(_SAFE_GLOBALS) | set(names))
    code = compile(tree, "<python-rewrite>", "eval")

    if not names:
        # column-free expression: a zero-argument pandas_udf has no Arrow
        # batch to size its output against and fails at execution — the
        # value is a constant, so evaluate it ONCE driver-side in the same
        # sandbox and emit a literal.  This eval runs on the DRIVER at
        # pipeline-compile time, where a stall is not a killable executor
        # task — so the constant path is bounded (r4 advice): ``**`` is
        # rejected pre-eval (nested Pow is the exponential-blowup
        # primitive; 9**9**9 stalls before any post-check can run), and
        # oversized results are rejected post-eval (``'a' * 10**8`` would
        # otherwise become a multi-hundred-MB literal in every task
        # binary).  Column-bound expressions keep ``**`` — they run as
        # executor tasks, which are killable.
        for node in ast.walk(tree):
            if isinstance(node, (ast.BinOp, ast.AugAssign)) and isinstance(
                getattr(node, "op", None), ast.Pow
            ):
                raise ValueError(
                    "python rewrite: '**' is not allowed in a column-free "
                    "(constant) expression — it is evaluated on the driver "
                    "at compile time"
                )
        val = eval(code, {"__builtins__": {}, **_SAFE_GLOBALS}, {})  # noqa: S307
        if isinstance(val, int) and val.bit_length() > 256:
            raise ValueError("python rewrite: constant integer result too large")
        if isinstance(val, (str, bytes)) and len(val) > 65536:
            raise ValueError("python rewrite: constant string result too large")
        return F.lit(val).cast(rtype)

    @F.pandas_udf(rtype)
    def _rewrite(*series: pd.Series) -> pd.Series:
        scope = dict(zip(names, series))
        # empty __builtins__: without it eval() injects the full builtins
        # module (incl. __import__) into the executor-side scope
        out = eval(code, {"__builtins__": {}, **_SAFE_GLOBALS}, scope)  # noqa: S307
        if not isinstance(out, pd.Series):
            out = pd.Series([out] * len(series[0] if series else []))
        return out

    return _rewrite(*[cols[n] for n in names])
