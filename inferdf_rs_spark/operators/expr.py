"""Expression-tree → Column compiler (built-ins F1-F13).

Implements the reference's scalar expression algebra
(src/expression/mod.rs:28-32, 59-83) with the exact typed-comparison
lattice of ``Comparable`` (src/expression/value/comparable.rs:102-124):

- ``Eq`` is true only within the same value space (Any↔Any compares
  resource ids; Regex never equals Regex);
- ordering exists only Decimal↔Decimal and String↔String; Any/Boolean
  are ordered-equal only to themselves; incomparable ⇒ **false, not
  error**;
- ``Or``/``And`` coerce via ``require_boolean`` and **short-circuit**
  (src/expression/mod.rs:266-283), so an error in a later argument is
  masked by an earlier decisive one;
- ``Matches`` takes (regex, haystack) where the haystack is any
  literal's **raw lexical form** (src/expression/mod.rs:300-311,
  require_any_literal at src/expression/value/mod.rs:83-126).

Errors (InvalidLiteral / AmbiguousLiteral / Unexpected,
src/expression/mod.rs:222-235) are carried as an ``err`` column and
surfaced by the caller (deduction raises, validation reports).

Size: every n-ary fold (first error, or/and, chained compare) is one
``coalesce`` over per-argument steps, so compiled size is linear in the
argument count, with a bounded factor per nesting level (a parent reads
a child call's ``b``/``err`` a constant number of times).

Regex dialect: evaluated with Spark's JVM regex (``regexp_like``); the
reference uses the Rust ``regex`` crate.  Rules must stay in the common
subset (no backreferences / lookaround — Rust has neither, so any rule
valid for the reference is valid here except for exotic escapes).
"""

from __future__ import annotations

import operator
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..rules import Call, Lit, TrueStmt, TripleStmt, EqStmt, Var
from ..schemas import (
    DECIMAL_T,
    ERR_NONE,
    ERR_UNEXPECTED,
    KIND_BLANK,
    KIND_IRI,
    KIND_LITERAL,
    REGEX_TYPE_IRI,
    VT_ANY,
    VT_BOOL,
    VT_DECIMAL,
    VT_REGEX,
    VT_STRING,
    XSD_BOOLEAN,
    XSD_DECIMAL,
    XSD_DECIMAL_FAMILY,
    XSD_STRING,
)
from ..terms import Term, term_id_col


@dataclass
class CV:
    """Compiled value: a bundle of Columns mirroring the reference's
    ``Value`` enum (src/expression/value/mod.rs:21-36)."""

    vtype: Column
    b: Column
    d: Column
    s: Column
    r: Column
    res: Column  # resource id when is_resource
    lex: Column  # raw lexical of the resource's literal (require_any_literal)
    lex_ambig: Column
    err: Column
    is_resource: bool  # statically known: node is Expression::Resource


def _nulls():
    return dict(
        b=F.lit(None).cast("boolean"),
        d=F.lit(None).cast(DECIMAL_T),
        s=F.lit(None).cast("string"),
        r=F.lit(None).cast("string"),
        res=F.lit(None).cast("long"),
        lex=F.lit(None).cast("string"),
        lex_ambig=F.lit(False),
        err=F.lit(ERR_NONE),
    )


_ORDER = {"lt": operator.lt, "gt": operator.gt, "leq": operator.le, "geq": operator.ge}

# Fold code that settles a call without an error: an or/and argument was
# decisive, or a chained compare met a false pair.  Below every error code.
_SETTLED = -1


def _step(err: Column) -> Column:
    """An error column as a fold step: null while there is no error."""
    return F.nullif(err, F.lit(ERR_NONE))


def _first_err(errs: list[Column]) -> Column:
    """First-error-wins fold over error columns (arg-order precedence).

    One ``coalesce(nullif(e1, 0), …, nullif(en, 0), 0)``: each column
    enters the expression once, so its size is linear in ``len(errs)``.
    (Catalyst trees share no subtrees: a ``when(out != 0, out)`` fold
    copies the running state at every step and grows exponentially.)"""
    if len(errs) <= 1:
        return errs[0] if errs else F.lit(ERR_NONE)
    return F.coalesce(*[_step(e) for e in errs], F.lit(ERR_NONE))


def _settle(steps: list[Column], settled: bool) -> tuple[Column, Column]:
    """Short-circuit fold as one ``coalesce``: the first non-null step
    settles the call, either with an error code or with ``_SETTLED``;
    running out of steps leaves ``ERR_NONE``.  Returns ``(b, err)``, both
    read from that single code: ``b`` is ``settled`` on ``_SETTLED``,
    ``not settled`` on ``ERR_NONE`` and null on an error."""
    code = F.coalesce(*steps, F.lit(ERR_NONE))
    # get() is null past the array's end, i.e. for every error code
    b = F.get(F.array(F.lit(settled), F.lit(not settled)), code - _SETTLED)
    return b, F.greatest(code, F.lit(ERR_NONE))


def decimal_lexical(d: Column) -> Column:
    """Canonical lexical form of a decimal (no trailing zeros / dot)."""
    s = d.cast("string")
    s = F.regexp_replace(s, r"(\.\d*?)0+$", r"$1")
    return F.regexp_replace(s, r"\.$", "")


class ExprCompiler:
    """Compiles expression trees over a substitution DataFrame.

    ``facet_prefix(i)`` columns (``_f{i}_vtype`` …) must be present for
    every variable in ``facet_vars`` — joined in by the caller from the
    ``resource_facets`` view (the Spark form of the reference's
    ``literals_of`` reverse-interpretation lookup,
    src/expression/mod.rs:380-394).
    """

    def __init__(self, const_ids: dict, facet_vars: set[int], functions: dict | None = None):
        self.const_ids = const_ids
        self.facet_vars = facet_vars
        self.functions = functions or {}
        # Columns are immutable: a node repeated in a rule compiles once
        self._compiled: dict = {}

    # -- value construction ------------------------------------------------

    def compile(self, e) -> CV:
        cv = self._compiled.get(e)
        if cv is None:
            cv = self._compiled[e] = self._compile(e)
        return cv

    def _compile(self, e) -> CV:
        if isinstance(e, Var):
            return self._var(e.index)
        if isinstance(e, Term):
            return self._const_term(e)
        if isinstance(e, Lit):
            return self._lit(e)
        if isinstance(e, Call):
            return self._call(e)
        raise TypeError(f"not an expression: {e!r}")

    def _var(self, i: int) -> CV:
        base = _nulls()
        base["res"] = F.col(f"v{i}")
        if i in self.facet_vars:
            p = f"_f{i}_"
            return CV(
                vtype=F.coalesce(F.col(p + "vtype"), F.lit(VT_ANY)),
                b=F.col(p + "b"),
                d=F.col(p + "d"),
                s=F.col(p + "s"),
                r=F.col(p + "r"),
                res=F.col(f"v{i}"),
                lex=F.col(p + "lex"),
                lex_ambig=F.coalesce(F.col(p + "lex_ambig"), F.lit(False)),
                err=F.coalesce(F.col(p + "err"), F.lit(ERR_NONE)),
                is_resource=True,
            )
        return CV(vtype=F.lit(VT_ANY), is_resource=True, **base)

    def _const_term(self, t: Term) -> CV:
        """Constant resource: facets parsed driver-side (no join needed)."""
        base = _nulls()
        base["res"] = F.lit(self.const_ids[t])
        if t.kind in (KIND_IRI, KIND_BLANK):
            return CV(vtype=F.lit(VT_ANY), is_resource=True, **base)
        # literal term: one facet, parsed exactly like resource_facets
        base["lex"] = F.lit(t.lexical)
        dt = t.datatype or XSD_STRING
        if dt == XSD_BOOLEAN:
            if t.lexical in ("true", "1"):
                base["b"] = F.lit(True)
            elif t.lexical in ("false", "0"):
                base["b"] = F.lit(False)
            else:
                base["err"] = F.lit(1)
            return CV(vtype=F.lit(VT_BOOL), is_resource=True, **base)
        if dt in XSD_DECIMAL_FAMILY:
            # try_cast: a malformed constant must become an InvalidLiteral
            # error row, never an ANSI runtime crash.
            base["d"] = F.lit(t.lexical).try_cast(DECIMAL_T)
            base["err"] = F.when(base["d"].isNull(), F.lit(1)).otherwise(F.lit(ERR_NONE))
            return CV(vtype=F.lit(VT_DECIMAL), is_resource=True, **base)
        if dt == XSD_STRING:
            base["s"] = F.lit(t.lexical)
            return CV(vtype=F.lit(VT_STRING), is_resource=True, **base)
        if dt == REGEX_TYPE_IRI:
            base["r"] = F.lit(t.lexical)
            return CV(vtype=F.lit(VT_REGEX), is_resource=True, **base)
        return CV(vtype=F.lit(VT_ANY), is_resource=True, **base)

    def _lit(self, lit: Lit) -> CV:
        base = _nulls()
        if lit.space == "dec":
            base["d"] = F.lit(lit.value).try_cast(DECIMAL_T)
            return CV(vtype=F.lit(VT_DECIMAL), is_resource=False, **base)
        if lit.space == "str":
            base["s"] = F.lit(lit.value)
            return CV(vtype=F.lit(VT_STRING), is_resource=False, **base)
        if lit.space == "regex":
            base["r"] = F.lit(lit.value)
            return CV(vtype=F.lit(VT_REGEX), is_resource=False, **base)
        raise ValueError(f"unknown literal space {lit.space!r}")

    # -- require_* coercions (src/expression/value/mod.rs:38-170) ----------

    def _require_boolean(self, a: CV) -> tuple[Column, Column]:
        # Boolean::from_resource (value/literal.rs:32-64) SKIPS facets of
        # other datatypes entirely — a resource whose only facet is an
        # (even unparsable) decimal is Unexpected, not InvalidLiteral; a
        # facet error propagates only when the facet IS boolean-typed.
        # Non-resource values (nested calls) keep their evaluation error
        # unconditionally — it predates the coercion.
        return self._require_space(a, VT_BOOL, a.b)

    def _require_regex(self, a: CV) -> tuple[Column, Column]:
        # same facet-space discipline as _require_boolean
        return self._require_space(a, VT_REGEX, a.r)

    @staticmethod
    def _require_space(a: CV, vt: int, payload: Column) -> tuple[Column, Column]:
        ok = a.vtype == vt
        err_gate = (ok & (a.err != ERR_NONE)) if a.is_resource else (a.err != ERR_NONE)
        err = F.when(err_gate, a.err).when(~ok, F.lit(ERR_UNEXPECTED)).otherwise(F.lit(ERR_NONE))
        return F.when(ok, payload), err

    def _require_any_literal(self, a: CV) -> tuple[Column, Column]:
        if a.is_resource:
            # Raw lexical of the resource's literal(s); distinct lexicals
            # ⇒ AmbiguousLiteral, none ⇒ Unexpected (value/mod.rs:83-126).
            # The reference never PARSES here, so typed-facet errors
            # (invalid decimal, Comparable ambiguity) do NOT propagate —
            # only raw-lexical ambiguity (the lex_ambig column) does.
            val = a.lex
            err = (
                F.when(a.lex_ambig, F.lit(2))
                .when(a.lex.isNull(), F.lit(ERR_UNEXPECTED))
                .otherwise(F.lit(ERR_NONE))
            )
            return val, err
        val = (
            F.when(a.vtype == VT_BOOL, F.when(a.b, "true").otherwise("false"))
            .when(a.vtype == VT_DECIMAL, decimal_lexical(a.d))
            .when(a.vtype == VT_STRING, a.s)
            .when(a.vtype == VT_REGEX, a.r)
        )
        return val, a.err

    # -- comparisons (comparable.rs:102-124) --------------------------------

    @staticmethod
    def _cmp_eq(a: CV, b: CV) -> Column:
        same = a.vtype == b.vtype
        return (
            F.when(same & (a.vtype == VT_ANY), a.res == b.res)
            .when(same & (a.vtype == VT_BOOL), a.b == b.b)
            .when(same & (a.vtype == VT_DECIMAL), a.d == b.d)
            .when(same & (a.vtype == VT_STRING), a.s == b.s)
            .otherwise(F.lit(False))  # regex↔regex and cross-type: false
        )

    @classmethod
    def _cmp(cls, op: str, a: CV, b: CV) -> Column:
        if op == "eq":
            return cls._cmp_eq(a, b)
        if op == "ne":
            return ~cls._cmp_eq(a, b)
        same = a.vtype == b.vtype
        both_dec = same & (a.vtype == VT_DECIMAL)
        both_str = same & (a.vtype == VT_STRING)
        order = _ORDER[op]
        out = F.when(both_dec, order(a.d, b.d)).when(both_str, order(a.s, b.s))
        if op in ("leq", "geq"):
            # Any/Boolean compare ordered-equal only when equal (partial_cmp)
            refl = (same & (a.vtype == VT_ANY) & (a.res == b.res)) | (
                same & (a.vtype == VT_BOOL) & (a.b == b.b)
            )
            out = out.when(refl, F.lit(True))
        return out.otherwise(F.lit(False))

    # -- calls ---------------------------------------------------------------

    def _call(self, c: Call) -> CV:
        args = [self.compile(a) for a in c.args]
        base = _nulls()
        if c.fn in ("or", "and"):
            # Short-circuit fold (src/expression/mod.rs:266-283) with the
            # reference's two-phase error discipline: args are fully
            # EVALUATED before the call dispatches (mod.rs:71-77 — the
            # `?` propagates any nested call's error unconditionally, in
            # arg order), while require_boolean COERCION errors — wrong
            # value space, resource facet parse — arise inside the call
            # loop and ARE masked by an earlier decisive argument.
            # The fold is one coalesce over per-argument steps (_settle):
            # every nested call's eval error first, then per argument its
            # coercion error or _SETTLED when it is decisive.  Each
            # argument's columns enter a constant number of times, so the
            # compiled size is linear in the argument count.
            decisive_val = c.fn == "or"  # Or stops at true, And at false
            steps = [_step(a.err) for a, node in zip(args, c.args) if isinstance(node, Call)]
            for a, node in zip(args, c.args):
                if isinstance(node, Call):
                    # its eval error is already counted (unmaskable); the
                    # maskable coercion part is the value-space check alone
                    bv = a.b
                    be = F.when(a.vtype != VT_BOOL, F.lit(ERR_UNEXPECTED))
                else:
                    bv, be = self._require_boolean(a)
                    be = _step(be)
                steps += [be, F.when(bv == F.lit(decisive_val), F.lit(_SETTLED))]
            # an error voids the result entirely
            base["b"], base["err"] = _settle(steps, decisive_val)
            return CV(vtype=F.lit(VT_BOOL), is_resource=False, **base)

        if c.fn in ("eq", "ne", "lt", "leq", "gt", "geq"):
            # Chained n-ary comparison over adjacent pairs
            # (src/expression/mod.rs:284-299); 0/1 args ⇒ true.
            #
            # Error semantics mirror the reference exactly:
            # 1. argument *evaluation* errors (nested calls — args are
            #    evaluated to Values before ``call`` runs) propagate
            #    unconditionally, first-in-arg-order wins;
            # 2. Comparable *conversion* errors (resource facet parse /
            #    ambiguity, ``Comparable::from_value``) follow the
            #    reference loop shape exactly (mod.rs:284-299): every
            #    arg the loop REACHES is converted — arg k is reached
            #    iff all pairs before it compared true — and the `?`
            #    propagates its error.  So ``(lt 3 2 <ambiguous>)`` is
            #    Ok(false) (loop stops at the false pair), while
            #    ``(lt <ambiguous>)`` and ``(lt 2 <ambiguous>)`` are
            #    errors (those args are reached before any false pair).
            #
            # One coalesce (_settle) over: the eval errors, then in arg
            # order each resource arg's conversion error and _SETTLED for
            # each pair that compares false — linear in the arg count.
            steps = [_step(a.err) for a in args if not a.is_resource]
            for k, a in enumerate(args):
                if a.is_resource:
                    steps.append(_step(a.err))
                if k >= 1:
                    pair_ok = F.coalesce(self._cmp(c.fn, args[k - 1], a), F.lit(False))
                    steps.append(F.when(~pair_ok, F.lit(_SETTLED)))
            base["b"], base["err"] = _settle(steps, False)  # a false pair settles to false
            return CV(vtype=F.lit(VT_BOOL), is_resource=False, **base)

        if c.fn == "matches":
            if len(args) != 2:
                raise ValueError(f"matches expects 2 args, got {len(args)}")
            rx, rx_err = self._require_regex(args[0])
            hay, hay_err = self._require_any_literal(args[1])
            err = _first_err([rx_err, hay_err])
            base["b"] = F.when(err == ERR_NONE, F.regexp_like(hay, rx))
            base["err"] = err
            return CV(vtype=F.lit(VT_BOOL), is_resource=False, **base)

        if c.fn in self.functions:
            # X1 extension surface: user scalar function over compiled values
            return self.functions[c.fn](self, args)
        raise ValueError(f"unknown function {c.fn!r}")

    # -- instantiation (Value::into_resource, value/mod.rs:172-185) ----------

    def instantiate(self, a: CV) -> tuple[Column, Column]:
        """Value → resource id; also returns the (nullable) new-term struct
        to upsert into the dictionary when a computed literal is interned."""
        if a.is_resource:
            return a.res, F.lit(None).cast(
                "struct<term_id:bigint,kind:int,lexical:string,datatype:string,lang:string>"
            )
        lexical = (
            F.when(a.vtype == VT_BOOL, F.when(a.b, "true").otherwise("false"))
            .when(a.vtype == VT_DECIMAL, decimal_lexical(a.d))
            .when(a.vtype == VT_STRING, a.s)
            .when(a.vtype == VT_REGEX, a.r)
        )
        dt = (
            F.when(a.vtype == VT_BOOL, F.lit(XSD_BOOLEAN))
            .when(a.vtype == VT_DECIMAL, F.lit(XSD_DECIMAL))
            .when(a.vtype == VT_STRING, F.lit(XSD_STRING))
            .when(a.vtype == VT_REGEX, F.lit(REGEX_TYPE_IRI))
        )
        tid = term_id_col(F.lit(KIND_LITERAL), lexical, dt, F.lit(None).cast("string"))
        res = F.when(a.vtype == VT_ANY, a.res).otherwise(tid)
        new_term = F.when(
            a.vtype != VT_ANY,
            F.struct(
                tid.alias("term_id"),
                F.lit(KIND_LITERAL).alias("kind"),
                lexical.alias("lexical"),
                dt.alias("datatype"),
                F.lit(None).cast("string").alias("lang"),
            ),
        )
        return res, new_term


def expression_vars(e) -> set[int]:
    out: set[int] = set()

    def walk(x):
        if isinstance(x, Var):
            out.add(x.index)
        elif isinstance(x, Call):
            for a in x.args:
                walk(a)

    walk(e)
    return out


def statement_facet_vars(statements) -> set[int]:
    """Variables whose literal facets the compiler will need — any var
    inside a Call (coercions/comparisons).  A *bare* var in a True
    statement needs no facet join: the reference's eval never touches
    facets for Expression::Resource (the V4 True check reads boolean
    facets from the terms dimension itself)."""
    need: set[int] = set()
    for st in statements:
        s = st.stmt
        exprs = []
        if isinstance(s, TripleStmt):
            exprs = [s.s, s.p, s.o]
        elif isinstance(s, EqStmt):
            exprs = [s.a, s.b]
        elif isinstance(s, TrueStmt):
            exprs = [s.e]
        for e in exprs:
            if isinstance(e, Call):
                need |= expression_vars(e)
    return need


def join_facets(subst: DataFrame, facets: DataFrame, facet_vars: set[int]) -> DataFrame:
    """Left-join the parsed-facet view once per needed variable.

    The facet side is a dimension (distinct literals); at scale AQE
    broadcasts it when small, else sort-merge — either way one join per
    distinct variable, not per expression node.
    """
    out = subst
    for i in sorted(facet_vars):
        p = f"_f{i}_"
        fv = facets.select(
            F.col("res").alias(p + "res"),
            F.col("vtype").alias(p + "vtype"),
            F.col("b").alias(p + "b"),
            F.col("d").alias(p + "d"),
            F.col("s").alias(p + "s"),
            F.col("r").alias(p + "r"),
            F.col("lex").alias(p + "lex"),
            F.col("lex_ambig").alias(p + "lex_ambig"),
            F.col("err").alias(p + "err"),
        )
        out = out.join(fv, out[f"v{i}"] == fv[p + "res"], "left").drop(p + "res")
    return out
