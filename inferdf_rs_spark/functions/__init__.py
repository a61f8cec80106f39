"""User-defined scalar function registry (X1 extension surface).

The reference lets callers plug any ``Function`` implementation as the
``F`` parameter of ``Expression<T, F>`` (src/expression/mod.rs:194-204).
Spark equivalent: named callables ``(compiler, [CV]) -> CV`` that the
expression compiler dispatches on ``Call(name, args)`` when the name is
not a built-in.  Implementations should build JVM Column expressions;
drop to a pandas UDF only when built-ins can't express the semantics.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.expr import CV, _first_err, _nulls
from ..schemas import ERR_NONE, VT_BOOL, VT_DECIMAL, VT_STRING


def _bool_result(b, err) -> CV:
    base = _nulls()
    base["b"] = F.when(err == ERR_NONE, b)
    base["err"] = err
    return CV(vtype=F.lit(VT_BOOL), is_resource=False, **base)


def fn_strlen(comp, args) -> CV:
    """(strlen x) — decimal length of any literal's lexical form."""
    (a,) = args
    s, err = comp._require_any_literal(a)
    base = _nulls()
    base["d"] = F.when(err == ERR_NONE, F.length(s).cast("decimal(38,18)"))
    base["err"] = err
    return CV(vtype=F.lit(VT_DECIMAL), is_resource=False, **base)


def fn_concat(comp, args) -> CV:
    """(concat a b ...) — string concatenation of lexical forms."""
    parts, errs = [], []
    for a in args:
        s, e = comp._require_any_literal(a)
        parts.append(s)
        errs.append(e)
    err = _first_err(errs)
    base = _nulls()
    base["s"] = F.when(err == ERR_NONE, F.concat(*parts))
    base["err"] = err
    return CV(vtype=F.lit(VT_STRING), is_resource=False, **base)


def fn_starts_with(comp, args) -> CV:
    """(starts_with prefix x)"""
    p, x = args
    ps, pe = comp._require_any_literal(p)
    xs, xe = comp._require_any_literal(x)
    err = _first_err([pe, xe])
    return _bool_result(F.startswith(xs, ps), err)


DEFAULT_FUNCTIONS = {
    "strlen": fn_strlen,
    "concat": fn_concat,
    "starts_with": fn_starts_with,
}
