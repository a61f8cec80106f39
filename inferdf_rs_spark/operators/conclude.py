"""Conclusion evaluation: existential minting, statement projection, lineage.

Reference flow (``Deduction::eval``, src/system/deduction.rs:210-245):
for each satisfying substitution, bind each conclusion variable ``i`` to
a **fresh** resource (one per (rule, substitution) deduction, shared
across that deduction's statements — src/system/deduction.rs:225-229),
fully substitute the statement templates, evaluate expression trees and
intern computed literals as resources.

Distributed twist: the reference's sequential blank-node generator
cannot be replicated across executors, so fresh nodes are minted
**deterministically** as ``xxhash64(rule_id, substitution_hash,
var_index)`` — stable across runs, retries and checkpoint resumes.
Matching the reference's generator-labeled blanks is then a
canonicalization concern (operators/canon.py), not an execution one.

Every emitted fact carries lineage (``Cause``/``Entailment``,
src/cause.rs:9-40): cause_kind, rule_id, substitution hash, fixpoint
round, and source partition.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rules import EqStmt, Rule, TripleStmt, TrueStmt
from ..schemas import CAUSE_ENTAILED, ERR_NONE, KIND_BLANK, VT_ANY
from ..session import local_frame
from .expr import ExprCompiler, _first_err, join_facets, statement_facet_vars

EQS_COLS = ["a", "b", "sign", "rule_id", "subst_hash"]
TRUES_COLS = ["res", "vtype", "bval", "verr", "sign", "rule_id", "subst_hash"]

NEW_TERM_STRUCT = "struct<term_id:bigint,kind:int,lexical:string,datatype:string,lang:string>"

def _fold_errs(cols) -> tuple["F.Column", bool]:
    """First-error-wins fold, skipping literal no-error columns (rules
    without expressions would otherwise build 0==0 predicates).  Also
    returns whether the fold is STATICALLY trivial (always ERR_NONE) —
    the caller then skips the error filter/frame entirely, since it is
    provably empty."""
    trivial = str(F.lit(ERR_NONE))  # built lazily: needs an active session
    errs = [c for c in cols if str(c) != trivial]
    if not errs:
        return F.lit(ERR_NONE), True
    return _first_err(errs), False


@dataclass
class Concluded:
    """Evaluated deductions of one rule (DeductionsInstance equivalent)."""

    triples: DataFrame  # s,p,o,sign,cause_kind,rule_id,subst_hash,round,src_partition
    eqs: DataFrame  # a,b,sign,rule_id,subst_hash
    trues: DataFrame  # res,vtype,bval,verr,sign,rule_id,subst_hash
    new_terms: DataFrame  # TERMS_SCHEMA
    errors: DataFrame  # rule_id,subst_hash,err


def _empty(spark, schema) -> DataFrame:
    """Session-cached empty frame: building one costs ~10 ms of driver
    round-trips, and loop operators (fixpoint, retract) request the same
    empty schemas every round.  DataFrames are immutable, so one
    instance per (session, schema) serves all callers; the cache dies
    with the session object.  The frame is an empty ``LocalRelation``,
    which the optimizer propagates through unions/joins statically."""
    cache = getattr(spark, "_inferdf_empty_cache", None)
    if cache is None:
        cache = {}
        try:
            spark._inferdf_empty_cache = cache
        except AttributeError:
            return local_frame(spark, [], schema)
    key = schema if isinstance(schema, str) else str(schema)
    df = cache.get(key)
    if df is None:
        df = cache[key] = local_frame(spark, [], schema)
    return df


def _compile_conclusions(
    rule: Rule,
    rule_idx: int,
    const_ids: dict,
    functions: dict | None,
    subst_lineage: bool,
) -> dict:
    """Round-invariant compiled conclusion expressions, cached on the
    rule object.  A fixpoint/retraction loop calls ``conclude`` once per
    round with identical (rule, rule_idx, const_ids, functions) — the
    Column trees it builds are immutable expression handles, so they are
    built once and reused (the repeated construction dominated the
    per-round driver floor; see OPTIMIZATION_r06.md).  Cache entries
    hold strong refs to the keyed objects and verify them by identity,
    so a recycled ``id()`` can never alias a stale entry.  The round
    number is the one per-round varying literal; it is left as a slot
    the caller fills per call."""
    pack = getattr(rule, "_conclude_cache", None)
    if (
        pack is not None
        and pack["const_ids"] is const_ids
        and pack["functions"] is functions
        and pack["rule_idx"] == rule_idx
        and pack["subst_lineage"] == subst_lineage
    ):
        return pack

    rid = rule.rule_id
    hyp_vars = sorted(rule.hypothesis_vars())
    if hyp_vars:
        hash_col = F.xxhash64(F.lit(rid), *[F.col(f"v{i}") for i in hyp_vars])
    else:
        hash_col = F.xxhash64(F.lit(rid))

    vec_col = None
    if subst_lineage:
        hv = set(hyp_vars)
        vec_col = F.array(
            *[
                F.col(f"v{i}") if i in hv else F.lit(None).cast("long")
                for i in range(rule.variables)
            ]
        )

    minted_cols: list[tuple[str, "F.Column"]] = []
    minted_structs = []
    for j in range(rule.conclusion.variables):
        x = rule.variables + j
        minted_cols.append(
            (
                f"v{x}",
                F.xxhash64(F.lit("inferdf:ex"), F.lit(rid), F.col("subst_hash"), F.lit(j)),
            )
        )
        minted_structs.append(
            F.struct(
                F.col(f"v{x}").alias("term_id"),
                F.lit(KIND_BLANK).alias("kind"),
                F.concat(F.lit("ex"), F.hex(F.col(f"v{x}"))).alias("lexical"),
                F.lit(None).cast("string").alias("datatype"),
                F.lit(None).cast("string").alias("lang"),
            )
        )

    facet_vars = statement_facet_vars(rule.conclusion.statements)
    comp = ExprCompiler(const_ids, facet_vars, functions)
    lineage_cols = [F.col("_subst_vec").alias("subst")] if subst_lineage else []

    stmts = []
    for st in rule.conclusion.statements:
        s = st.stmt
        sign = F.lit(bool(st.sign))
        if isinstance(s, TripleStmt):
            cvs = [comp.compile(e) for e in (s.s, s.p, s.o)]
            insts = [comp.instantiate(cv) for cv in cvs]
            err, err_trivial = _fold_errs([cv.err for cv in cvs])
            terms_null = all(cv.is_resource for cv in cvs)
            pre = [
                insts[0][0].alias("s"),
                insts[1][0].alias("p"),
                insts[2][0].alias("o"),
                sign.alias("sign"),
                F.lit(CAUSE_ENTAILED).alias("cause_kind"),
                F.lit(rid).alias("rule_id"),
                F.col("subst_hash"),
            ]
            post = [
                F.lit(f"r{rule_idx}").alias("src_partition"),
                # deduced facts land in the default graph (the reference's
                # deduction emits graph-less TripleStatements)
                F.lit(None).cast("long").alias("g"),
                *lineage_cols,
            ]
            if not err_trivial:
                post.append(err.alias("_err"))
            if not terms_null:
                post.append(F.array(*[i[1] for i in insts]).alias("_terms"))
            stmts.append(
                {
                    "kind": "triple",
                    "pre": pre,
                    "post": post,
                    "err_trivial": err_trivial,
                    "terms_null": terms_null,
                }
            )
        elif isinstance(s, EqStmt):
            ca, cb = comp.compile(s.a), comp.compile(s.b)
            ia, ib = comp.instantiate(ca), comp.instantiate(cb)
            err, err_trivial = _fold_errs([ca.err, cb.err])
            terms_null = ca.is_resource and cb.is_resource
            sel = [
                ia[0].alias("a"),
                ib[0].alias("b"),
                sign.alias("sign"),
                F.lit(rid).alias("rule_id"),
                F.col("subst_hash"),
            ]
            if not err_trivial:
                sel.append(err.alias("_err"))
            if not terms_null:
                sel.append(F.array(ia[1], ib[1]).alias("_terms"))
            stmts.append(
                {
                    "kind": "eq",
                    "sel": sel,
                    "err_trivial": err_trivial,
                    "terms_null": terms_null,
                }
            )
        elif isinstance(s, TrueStmt):
            cv = comp.compile(s.e)
            ires, iterm = comp.instantiate(cv)
            if cv.is_resource:
                # Bare resource in a True statement: the reference's eval
                # never errors on Expression::Resource — the V4 check
                # scans only the resource's xsd:boolean facets
                # (src/system/deduction.rs:132-153).  Do NOT fold facet
                # parse errors (e.g. a malformed decimal facet) into verr;
                # emit the resource and let the True check decide.
                vtype_c, bval_c, verr_c = F.lit(VT_ANY), F.lit(None).cast("boolean"), F.lit(ERR_NONE)
                verr_trivial = True
            else:
                vtype_c, bval_c, verr_c = cv.vtype, cv.b, cv.err
                verr_trivial = str(verr_c) == str(F.lit(ERR_NONE))
            sel = [
                ires.alias("res"),
                vtype_c.alias("vtype"),
                bval_c.alias("bval"),
                verr_c.alias("verr"),
                sign.alias("sign"),
                F.lit(rid).alias("rule_id"),
                F.col("subst_hash"),
            ]
            terms_null = cv.is_resource
            if not terms_null:
                sel.append(iterm.alias("_term"))
            stmts.append(
                {
                    "kind": "true",
                    "sel": sel,
                    "err_trivial": verr_trivial,
                    "terms_null": terms_null,
                }
            )
        else:
            raise TypeError(f"unknown statement {s!r}")

    pack = {
        "const_ids": const_ids,
        "functions": functions,
        "rule_idx": rule_idx,
        "subst_lineage": subst_lineage,
        "hash_col": hash_col,
        "vec_col": vec_col,
        "minted_cols": minted_cols,
        "minted_structs": minted_structs,
        "facet_vars": facet_vars,
        "stmts": stmts,
    }
    try:
        # Rule is a frozen dataclass: bypass the immutability guard for
        # this derived cache (it does not participate in eq/hash)
        object.__setattr__(rule, "_conclude_cache", pack)
    except (AttributeError, TypeError):
        pass
    return pack


def conclude(
    subst: DataFrame,
    rule: Rule,
    rule_idx: int,
    const_ids: dict,
    facets: DataFrame,
    round_num: int = 0,
    functions: dict | None = None,
    subst_lineage: bool = False,
) -> Concluded:
    """Evaluate one rule's conclusions over its substitutions DataFrame.

    ``subst_lineage=True`` additionally stores the dense binding vector
    (``subst: array<long>``, index = rule var, null = unbound) on every
    emitted triple — the reference's ``Vec<Option<T>>`` substitution
    payload (src/pattern/mod.rs:99-119, src/cause.rs:28-34), enabling
    "why does this fact exist" replay.  Off by default: it fattens the
    per-round shuffle by ~8B×variables/row, and the fixpoint only needs
    the hash."""
    spark = subst.sparkSession
    pack = _compile_conclusions(rule, rule_idx, const_ids, functions, subst_lineage)

    # substitution identity → lineage + existential minting seed
    # (Entailment substitution vector, src/cause.rs:28-34)
    subst = subst.withColumn("subst_hash", pack["hash_col"])
    if pack["vec_col"] is not None:
        subst = subst.withColumn("_subst_vec", pack["vec_col"])

    # mint fresh existential resources: deterministic per (rule, subst, var)
    for name, col in pack["minted_cols"]:
        subst = subst.withColumn(name, col)

    subst = join_facets(subst, facets, pack["facet_vars"])

    triples_parts, eqs_parts, trues_parts, terms_parts, err_parts = [], [], [], [], []

    if pack["minted_structs"]:
        terms_parts.append(
            subst.select(F.explode(F.array(*pack["minted_structs"])).alias("t")).select("t.*")
        )

    for sp in pack["stmts"]:
        if sp["kind"] == "triple":
            row = subst.select(
                *sp["pre"], F.lit(round_num).alias("round"), *sp["post"]
            )
            drops = []
            if sp["err_trivial"]:
                ok = row
            else:
                err_parts.append(
                    row.filter(F.col("_err") != ERR_NONE).select(
                        "rule_id", "subst_hash", F.col("_err").alias("err")
                    )
                )
                ok = row.filter(F.col("_err") == ERR_NONE)
                drops.append("_err")
            if not sp["terms_null"]:
                terms_parts.append(
                    ok.select(F.explode("_terms").alias("t"))
                    .filter(F.col("t").isNotNull())
                    .select("t.*")
                )
                drops.append("_terms")
            triples_parts.append(ok.drop(*drops) if drops else ok)
        elif sp["kind"] == "eq":
            row = subst.select(*sp["sel"])
            drops = []
            if sp["err_trivial"]:
                ok = row
            else:
                err_parts.append(
                    row.filter(F.col("_err") != ERR_NONE).select(
                        "rule_id", "subst_hash", F.col("_err").alias("err")
                    )
                )
                ok = row.filter(F.col("_err") == ERR_NONE)
                drops.append("_err")
            if not sp["terms_null"]:
                terms_parts.append(
                    ok.select(F.explode("_terms").alias("t"))
                    .filter(F.col("t").isNotNull())
                    .select("t.*")
                )
                drops.append("_terms")
            eqs_parts.append(ok.drop(*drops) if drops else ok)
        else:  # "true"
            row = subst.select(*sp["sel"])
            if sp["err_trivial"]:
                ok = row
            else:
                err_parts.append(
                    row.filter(F.col("verr") != ERR_NONE).select(
                        "rule_id", "subst_hash", F.col("verr").alias("err")
                    )
                )
                ok = row.filter(F.col("verr") == ERR_NONE)
            if not sp["terms_null"]:
                terms_parts.append(
                    ok.select(F.col("_term").alias("t"))
                    .filter(F.col("t").isNotNull())
                    .select("t.*")
                )
                ok = ok.drop("_term")
            trues_parts.append(ok)

    def u(parts, schema):
        if not parts:
            return _empty(spark, schema)
        out = parts[0]
        for pdf in parts[1:]:
            out = out.unionByName(pdf)
        return out

    from ..schemas import TRIPLES_SCHEMA, TERMS_SCHEMA

    triples_schema = TRIPLES_SCHEMA
    if subst_lineage:
        import pyspark.sql.types as _T

        triples_schema = _T.StructType(
            TRIPLES_SCHEMA.fields + [_T.StructField("subst", _T.ArrayType(_T.LongType()), True)]
        )

    return Concluded(
        triples=u(triples_parts, triples_schema),
        eqs=u(eqs_parts, "a bigint, b bigint, sign boolean, rule_id bigint, subst_hash bigint"),
        trues=u(
            trues_parts,
            "res bigint, vtype int, bval boolean, verr int, sign boolean, rule_id bigint, subst_hash bigint",
        ),
        new_terms=u(terms_parts, TERMS_SCHEMA),
        errors=u(err_parts, "rule_id bigint, subst_hash bigint, err int"),
    )


def merge_concluded(spark, batches: list[Concluded]) -> Concluded:
    """U1: union per-rule deduction batches (Deductions::merge_with)."""
    from ..schemas import TERMS_SCHEMA, TRIPLES_SCHEMA

    if not batches:
        e = lambda s: _empty(spark, s)  # noqa: E731
        return Concluded(
            e(TRIPLES_SCHEMA),
            e("a bigint, b bigint, sign boolean, rule_id bigint, subst_hash bigint"),
            e("res bigint, vtype int, bval boolean, verr int, sign boolean, rule_id bigint, subst_hash bigint"),
            e(TERMS_SCHEMA),
            e("rule_id bigint, subst_hash bigint, err int"),
        )
    out = batches[0]
    for nxt in batches[1:]:
        out = Concluded(
            out.triples.unionByName(nxt.triples),
            out.eqs.unionByName(nxt.eqs),
            out.trues.unionByName(nxt.trues),
            out.new_terms.unionByName(nxt.new_terms),
            out.errors.unionByName(nxt.errors),
        )
    return out
