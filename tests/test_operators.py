"""Operator-level fixtures (FIXTURES.md §6.5 / SURVEY.md §2)."""

import pytest
from pyspark.sql import functions as F

from inferdf_rs_spark import (
    System,
    Term,
    blank,
    build_dataset,
    call,
    dec,
    iri,
    pat,
    rule,
    s_,
    stmt_eq,
    stmt_triple,
    stmt_true,
    v,
)
from inferdf_rs_spark.operators.fixpoint import ExpressionError
from inferdf_rs_spark.operators.match import find_substitutions
from inferdf_rs_spark.terms import decode_triples, encode_terms

EX = "https://example.org/#"


def test_nonlinear_pattern_self_loop(spark):
    # ?x <#knows> ?x matches only self-loops (src/pattern/mod.rs:16-26)
    ds = build_dataset(
        spark,
        [
            (blank("a"), iri(EX + "knows"), blank("b")),
            (blank("b"), iri(EX + "knows"), blank("b")),
            (blank("c"), iri(EX + "knows"), blank("c")),
        ],
    )
    r = rule(
        variables=1,
        hypothesis=[pat("+", v(0), iri(EX + "knows"), v(0))],
        statements=[stmt_triple("+", v(0), iri(EX + "isNarcissist"), v(0))],
    )
    sysm = System(spark, [r])
    subst = find_substitutions(ds.triples, r, sysm.const_ids())
    ids = encode_terms(spark, [blank("b"), blank("c")])
    got = {row.v0 for row in subst.collect()}
    assert got == {ids[blank("b")], ids[blank("c")]}


def test_negative_pattern_unsigned_store(spark):
    # negative patterns match nothing on a store with only positive facts
    # (blanket impl, src/dataset.rs:46-60)
    ds = build_dataset(spark, [(blank("a"), iri(EX + "p"), blank("b"))])
    r = rule(
        variables=2,
        hypothesis=[pat("-", v(0), iri(EX + "p"), v(1))],
        statements=[stmt_triple("+", v(0), iri(EX + "q"), v(1))],
    )
    sysm = System(spark, [r])
    assert find_substitutions(ds.triples, r, sysm.const_ids()).count() == 0


def test_negative_pattern_signed_store(spark):
    # ... but matches explicitly-negative facts on a signed store
    ds = build_dataset(
        spark,
        [
            (blank("a"), iri(EX + "p"), blank("b"), False),
            (blank("c"), iri(EX + "p"), blank("d"), True),
        ],
    )
    r = rule(
        variables=2,
        hypothesis=[pat("-", v(0), iri(EX + "p"), v(1))],
        statements=[stmt_triple("+", v(0), iri(EX + "q"), v(1))],
    )
    sysm = System(spark, [r])
    assert find_substitutions(ds.triples, r, sysm.const_ids()).count() == 1


def test_existential_minting_deterministic(spark):
    # for ?x,?y { ?x <#a> ?y } => for ?z { ?x <#b> ?z }: one fresh node
    # per (rule, substitution); two runs mint identical ids
    # (replaces the sequential generator at src/system/deduction.rs:225-229)
    ds = build_dataset(
        spark,
        [
            (blank("a1"), iri(EX + "a"), blank("y1")),
            (blank("a2"), iri(EX + "a"), blank("y2")),
        ],
    )
    r = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + "a"), v(1))],
        statements=[stmt_triple("+", v(0), iri(EX + "b"), v(2))],
        existentials=1,
    )
    sysm = System(spark, [r])
    out1 = sysm.deduce(ds).triples.select("s", "p", "o").collect()
    out2 = sysm.deduce(ds).triples.select("s", "p", "o").collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    # two distinct substitutions → two distinct fresh nodes
    fresh = {row.o for row in out1}
    assert len(fresh) == 2


def test_existential_shared_across_statements(spark):
    # the same fresh node is used by every statement of one deduction
    ds = build_dataset(spark, [(blank("a"), iri(EX + "a"), blank("y"))])
    r = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + "a"), v(1))],
        statements=[
            stmt_triple("+", v(0), iri(EX + "b"), v(2)),
            stmt_triple("+", v(2), iri(EX + "c"), v(1)),
        ],
        existentials=1,
    )
    sysm = System(spark, [r])
    rows = sysm.deduce(ds).triples.collect()
    b_obj = [r2.o for r2 in rows if len([1]) and r2.s != r2.o and True]
    by_p = {}
    ids = encode_terms(spark, [iri(EX + "b"), iri(EX + "c")])
    for row in rows:
        by_p[row.p] = row
    assert by_p[ids[iri(EX + "b")]].o == by_p[ids[iri(EX + "c")]].s


def test_eq_conclusion_emits_pairs_and_validates(spark):
    # Eq conclusions emit pair rows; validation checks identity per sign
    # (src/system/deduction.rs:120-131)
    ds = build_dataset(
        spark,
        [
            (blank("x"), iri(EX + "same"), blank("x")),
            (blank("y"), iri(EX + "same"), blank("z")),
        ],
    )
    r = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + "same"), v(1))],
        statements=[stmt_eq("+", v(0), v(1))],
    )
    sysm = System(spark, [r])
    eqs = sysm.deduce(ds).eqs.collect()
    assert len(eqs) == 2
    vr = sysm.validate(ds)
    viol = vr.violations.collect()
    assert len(viol) == 1 and viol[0].reason_kind == 1  # NotEq for (y,z)


def test_ambiguous_literal_error(spark):
    # a resource with facets "5"^^xsd:int and "6"^^xsd:int ⇒ AmbiguousLiteral
    # (src/expression/value/comparable.rs:80-89) — via Eq-merged resources
    from inferdf_rs_spark.terms import resource_facets, terms_df
    from inferdf_rs_spark.schemas import XSD, ERR_AMBIGUOUS_LITERAL

    t5 = Term.literal("5", XSD + "int")
    t6 = Term.literal("6", XSD + "int")
    tdf = terms_df(spark, [t5, t6])
    ids = encode_terms(spark, [t5, t6])
    eq_map = spark.createDataFrame(
        [(ids[t5], 1000), (ids[t6], 1000)], "term_id bigint, res bigint"
    )
    facets = resource_facets(tdf, eq_mapping=eq_map).collect()
    assert len(facets) == 1
    assert facets[0].err == ERR_AMBIGUOUS_LITERAL


def test_incomparable_types_false_not_error(spark):
    # (< "abc" 5) ⇒ false (incomparable), not an error
    # (src/expression/value/comparable.rs:114-124)
    ds = build_dataset(spark, [(blank("0"), iri(EX + "p"), Term.literal("abc"))])
    r = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + "p"), v(1))],
        statements=[stmt_true("+", call("lt", v(1), dec(5)))],
    )
    sysm = System(spark, [r])
    vr = sysm.validate(ds)  # must NOT raise ExpressionError
    viol = vr.violations.collect()
    assert len(viol) == 1 and viol[0].reason_kind == 3  # NotTrue


def test_or_short_circuit_masks_error(spark):
    # Or returns true at the first true arg without coercing later args
    # (src/expression/mod.rs:266-274): (or (= 1 1) ?x) with ?x a string is Ok
    ds = build_dataset(spark, [(blank("0"), iri(EX + "p"), Term.literal("abc"))])
    r = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + "p"), v(1))],
        statements=[stmt_true("+", call("or", call("eq", dec(1), dec(1)), v(1)))],
    )
    sysm = System(spark, [r])
    assert sysm.validate(ds).is_valid()

    # flipped order: the non-boolean arg is hit first ⇒ expression error
    r2 = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + "p"), v(1))],
        statements=[stmt_true("+", call("or", v(1), call("eq", dec(1), dec(1))))],
    )
    sysm2 = System(spark, [r2])
    with pytest.raises(ExpressionError):
        sysm2.validate(ds)


def test_chained_comparison(spark):
    # (< 1 2 3) true; (< 1 3 2) false (chained n-ary,
    # src/expression/mod.rs:284-299)
    ds = build_dataset(spark, [(blank("0"), iri(EX + "p"), blank("1"))])
    mk = lambda *args: System(  # noqa: E731
        spark,
        [
            rule(
                variables=2,
                hypothesis=[pat("+", v(0), iri(EX + "p"), v(1))],
                statements=[stmt_true("+", call("lt", *args))],
            )
        ],
    )
    assert mk(dec(1), dec(2), dec(3)).validate(ds).is_valid()
    assert not mk(dec(1), dec(3), dec(2)).validate(ds).is_valid()


def test_chained_comparison_false_masks_later_conversion_error(spark):
    # Compare converts args to Comparable lazily: once an adjacent pair
    # compares false the result is Ok(false) and later args are never
    # converted (src/expression/mod.rs:284-299).  ?x carries an invalid
    # decimal facet ("abc"^^xsd:int): (lt 3 2 ?x) ⇒ false, not error;
    # (lt 1 2 ?x) must still surface the InvalidLiteral error.
    from inferdf_rs_spark.schemas import XSD

    bad = Term.literal("abc", XSD + "int")
    ds = build_dataset(spark, [(blank("0"), iri(EX + "p"), bad)])
    mk = lambda *args: System(  # noqa: E731
        spark,
        [
            rule(
                variables=2,
                hypothesis=[pat("+", v(0), iri(EX + "p"), v(1))],
                statements=[stmt_true("+", call("lt", *args))],
            )
        ],
    )
    vr = mk(dec(3), dec(2), v(1)).validate(ds)  # must NOT raise
    assert not vr.is_valid()  # NotTrue (false), not ExpressionError
    with pytest.raises(ExpressionError):
        mk(dec(1), dec(2), v(1)).validate(ds)


def test_facet_parse_ansi_robust(spark):
    # The engine must never crash under an ANSI-on session: malformed
    # decimals and null-datatype terms (IRIs) flow through resource_facets
    # as InvalidLiteral / no-facet rows, not CAST_INVALID_INPUT errors.
    # This is the driver-harness session config (regression: round-1
    # compare_filter/regex_filter CAST_INVALID_INPUT at terms.py:184).
    from inferdf_rs_spark.schemas import XSD, ERR_INVALID_LITERAL, ERR_NONE
    from inferdf_rs_spark.terms import resource_facets, terms_df

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        bad = Term.literal("kg:n_chars", XSD + "int")  # malformed decimal
        good = Term.literal("42", XSD + "int")
        opaque = Term.iri(EX + "n_chars")  # datatype is NULL
        tdf = terms_df(spark, [bad, good, opaque])
        rows = {r.lex: r for r in resource_facets(tdf).collect()}
        assert rows["kg:n_chars"].err == ERR_INVALID_LITERAL
        assert rows["42"].err == ERR_NONE and rows["42"].d is not None
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_string_comparison_lexicographic(spark):
    ds = build_dataset(spark, [(blank("0"), iri(EX + "p"), blank("1"))])
    r = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + "p"), v(1))],
        statements=[stmt_true("+", call("lt", s_("apple"), s_("banana")))],
    )
    assert System(spark, [r]).validate(ds).is_valid()


def test_named_graph_quads(spark):
    # Quad support (reference src/statement.rs:23-29, src/dataset.rs:14-20):
    # stated facts may carry a named graph; matching is graph-AGNOSTIC
    # (canonical patterns match any graph, src/dataset.rs:55); deduced
    # facts land in the default graph (g null)
    g1, g2 = iri(EX + "graph1"), iri(EX + "graph2")
    ds = build_dataset(
        spark,
        [
            (blank("a"), iri(EX + "p"), blank("b"), True, g1),
            (blank("b"), iri(EX + "p"), blank("c"), True, g2),
            (blank("c"), iri(EX + "p"), blank("d")),  # default graph
        ],
    )
    ids = encode_terms(spark, [g1, g2])
    # graphs ride through the store
    gs = {r.g for r in ds.triples.collect()}
    assert gs == {ids[g1], ids[g2], None}
    # matching spans graphs: the 2-hop rule joins across g1/g2/default
    r = rule(
        variables=3,
        hypothesis=[
            pat("+", v(0), iri(EX + "p"), v(1)),
            pat("+", v(1), iri(EX + "p"), v(2)),
        ],
        statements=[stmt_triple("+", v(0), iri(EX + "q"), v(2))],
    )
    sysm = System(spark, [r])
    out = sysm.deduce(ds).triples.collect()
    assert len(out) == 2  # a→c and b→d, across graph boundaries
    assert all(row.g is None for row in out)  # default graph


def test_regex_dialect_lint_rejects_divergent():
    # F4: the reference evaluates with Rust `regex`, we evaluate on the
    # JVM — rules using constructs outside the common subset must be
    # rejected at load, not silently diverge at eval
    from inferdf_rs_spark.rules import call, regex, stmt_true, lint_regex_dialect

    for bad in [r"(a)\1", r"(?=x)y", r"(?<!a)b", r"a(?>bc)", r"a++", r"\Gx", r"[a-", r"a{2}+"]:
        with pytest.raises(ValueError):
            rule(
                variables=1,
                hypothesis=[pat("+", v(0), iri(EX + "p"), v(0))],
                statements=[stmt_true("+", call("matches", regex(bad), s_("x")))],
            ).validate()
    # common-subset patterns pass — including escape-heavy ones a naive
    # single-regex lint false-positives on (\++ is an escaped plus
    # quantified, \\1 is an escaped backslash then a literal 1)
    for ok in [r"^me[a-z]*$", r"\d{2,4}", r"(?i)foo|bar", r"(?P<y>\d+)", r"(?<y>\d+)", r"\++", r"\\1"]:
        lint_regex_dialect(ok)


def test_regex_dialect_lint_character_classes():
    # quantifier-looking characters INSIDE [...] are literals in both
    # dialects, and a literal '}' (no {m,n} interval) followed by '+' is
    # an ordinary repeated literal — neither is a possessive quantifier
    from inferdf_rs_spark.rules import lint_regex_dialect

    for ok in [r"[*+]", r"[?+]x", r"a[}+]b", r"x}+", r"[\]+]", r"[^+]*", r"[a-z]+"]:
        lint_regex_dialect(ok)
    # ...while real possessive quantifiers are still rejected, including
    # one quantifying a character class, and a possessive {m,n}+
    for bad in [r"[a-z]++", r"a{2,3}+", r"[*+]x*+"]:
        with pytest.raises(ValueError):
            lint_regex_dialect(bad)


def test_compare_single_arg_conversion_and_or_eval_error_discipline(spark):
    # Verified against the reference source, NOT the intuition that
    # 1-arg compares skip conversion: mod.rs:284-299 converts every arg
    # the loop REACHES (the `?` on Comparable::from_value), and a 1-arg
    # loop reaches its only arg — so (lt ?x) with an unparsable decimal
    # facet IS an error.  (gte ?x) on a PARSEABLE facet is Ok(true).
    from inferdf_rs_spark.rules import call, dec, stmt_true
    from inferdf_rs_spark.schemas import XSD

    bad = Term.literal("abc", XSD + "int")
    good = Term.literal("7", XSD + "int")
    ds = build_dataset(spark, [(blank("0"), iri(EX + "p"), bad)])
    ds_good = build_dataset(spark, [(blank("0"), iri(EX + "p"), good)])
    mk = lambda *args: System(  # noqa: E731
        spark,
        [
            rule(
                variables=2,
                hypothesis=[pat("+", v(0), iri(EX + "p"), v(1))],
                statements=[stmt_true("+", call("lt", *args))],
            )
        ],
    )
    with pytest.raises(ExpressionError):
        mk(v(1)).validate(ds)
    assert mk(v(1)).validate(ds_good).is_valid()

    # ...and mod.rs:71-77 evaluates ALL args before Or/And dispatches:
    # a nested call's error is NOT masked by an earlier decisive true,
    # while a bare resource's coercion error (inside require_boolean) is.
    r_nested = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + "p"), v(1))],
        statements=[stmt_true("+", call("or", call("eq", dec(1), dec(1)), call("lt", dec(1), v(1))))],
    )
    with pytest.raises(ExpressionError):
        System(spark, [r_nested]).validate(ds)


def test_require_any_literal_ignores_facet_parse_errors(spark):
    # require_any_literal returns the RAW lexical without parsing
    # (value/mod.rs:83-126) — a resource whose decimal facet is
    # unparsable still matches a regex over its lexical form, no error
    from inferdf_rs_spark.rules import call, regex, stmt_true
    from inferdf_rs_spark.schemas import XSD

    bad = Term.literal("abc", XSD + "int")
    ds = build_dataset(spark, [(blank("0"), iri(EX + "p"), bad)])
    r = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + "p"), v(1))],
        statements=[stmt_true("+", call("matches", regex("^abc$"), v(1)))],
    )
    assert System(spark, [r]).validate(ds).is_valid()


def test_flat_call_compiled_size_linear(spark):
    # Compiled expression size is linear in argument count: from the 3rd
    # argument on, every argument of a flat n-ary call adds the same
    # number of characters of Column text.  n walks upward and the test
    # stops at the first super-linear step, so a fold that re-inlines its
    # running state fails here by assertion long before it exhausts the
    # driver heap (a 12-argument `or` used to, inside compile).
    from inferdf_rs_spark.functions import DEFAULT_FUNCTIONS
    from inferdf_rs_spark.operators.expr import ExprCompiler

    comp = ExprCompiler({}, facet_vars={0}, functions=DEFAULT_FUNCTIONS)

    def size(fn, n):
        cv = comp.compile(call(fn, *[v(0)] * n))
        return sum(len(str(c)) for c in vars(cv).values() if not isinstance(c, bool))

    for fn in ("or", "and", "eq", "ne", "lt", "leq", "gt", "geq", "concat"):
        prev, step = size(fn, 2), None
        for n in range(3, 17):
            cur = size(fn, n)
            step = cur - prev if step is None else step
            assert cur - prev == step, f"({fn} ×{n}) adds {cur - prev} chars, the 3rd arg added {step}"
            prev = cur


def test_malformed_decimal_literal_rejected_at_load():
    from inferdf_rs_spark.rules import call, dec, stmt_true

    with pytest.raises(ValueError, match="decimal"):
        rule(
            variables=1,
            hypothesis=[pat("+", v(0), iri(EX + "p"), v(0))],
            statements=[stmt_true("+", call("lt", dec("1,5"), dec(2)))],
        ).validate()


def test_fixpoint_resume_at_round_cap_raises(spark, tmp_path):
    # a checkpoint parked at max_rounds with a non-empty delta is NOT a
    # fixpoint — resuming must raise, not silently return the partial store
    chain = [(blank(str(i)), iri(EX + "anc"), blank(str(i + 1))) for i in range(5)]
    ds = build_dataset(spark, chain)
    r = rule(
        variables=3,
        hypothesis=[
            pat("+", v(0), iri(EX + "anc"), v(1)),
            pat("+", v(1), iri(EX + "anc"), v(2)),
        ],
        statements=[stmt_triple("+", v(0), iri(EX + "anc"), v(2))],
    )
    sysm = System(spark, [r])
    ck = str(tmp_path / "ck")
    partial = sysm.fixpoint(ds, checkpoint_dir=ck, max_rounds=1, allow_partial=True)
    assert partial.rounds == 1 and partial.metrics[-1]["new_facts"] > 0
    with pytest.raises(RuntimeError, match="converge"):
        sysm.fixpoint(ds, checkpoint_dir=ck, max_rounds=1)


def test_subst_vector_lineage(spark):
    # P6: optional dense binding vector (reference Vec<Option<T>>,
    # src/pattern/mod.rs:99-119, src/cause.rs:28-34) — reconstruct the
    # bindings of a deduced fact from its subst column
    ds = build_dataset(
        spark,
        [
            (blank("c"), iri(EX + "from"), blank("n")),
            (blank("n"), iri(EX + "in"), blank("r")),
        ],
    )
    r = rule(
        variables=3,
        hypothesis=[
            pat("+", v(0), iri(EX + "from"), v(1)),
            pat("+", v(1), iri(EX + "in"), v(2)),
        ],
        statements=[stmt_triple("+", v(0), iri(EX + "locatedIn"), v(2))],
    )
    sysm = System(spark, [r])
    rows = sysm.deduce(ds, subst_lineage=True).triples.collect()
    assert len(rows) == 1
    ids = encode_terms(spark, [blank("c"), blank("n"), blank("r")])
    got = rows[0]
    # the vector is dense over rule vars: v0=c, v1=n, v2=r
    assert got.subst == [ids[blank("c")], ids[blank("n")], ids[blank("r")]]
    # and the emitted fact is the projection of those bindings
    assert got.s == got.subst[0] and got.o == got.subst[2]
    # default path stays slim — no subst column
    assert "subst" not in sysm.deduce(ds).triples.columns


def test_transitive_closure_fixpoint(spark):
    # {?a <#anc> ?b . ?b <#anc> ?c} => {?a <#anc> ?c} over a 6-node chain
    # ⇒ 15 triples at fixpoint; exercises the semi-naive delta
    chain = [(blank(str(i)), iri(EX + "anc"), blank(str(i + 1))) for i in range(5)]
    ds = build_dataset(spark, chain)
    r = rule(
        variables=3,
        hypothesis=[
            pat("+", v(0), iri(EX + "anc"), v(1)),
            pat("+", v(1), iri(EX + "anc"), v(2)),
        ],
        statements=[stmt_triple("+", v(0), iri(EX + "anc"), v(2))],
    )
    sysm = System(spark, [r])
    res = sysm.fixpoint(ds)
    assert res.store.count() == 15  # C(6,2)
    # idempotence: a second fixpoint over the closed graph adds nothing
    from inferdf_rs_spark.engine import Dataset

    res2 = sysm.fixpoint(Dataset(res.store, res.terms))
    assert res2.rounds == 1 and res2.store.count() == 15


def test_fixpoint_large_regime_copartitioned_pieces(spark):
    # store_broadcast_rows=0 forces the 100 TB plan — co-partitioned,
    # sorted store pieces with chained exchange-free anti-joins — which
    # must produce exactly the same closure as the broadcast plan
    chain = [(blank(str(i)), iri(EX + "anc"), blank(str(i + 1))) for i in range(5)]
    ds = build_dataset(spark, chain)
    r = rule(
        variables=3,
        hypothesis=[
            pat("+", v(0), iri(EX + "anc"), v(1)),
            pat("+", v(1), iri(EX + "anc"), v(2)),
        ],
        statements=[stmt_triple("+", v(0), iri(EX + "anc"), v(2))],
    )
    sysm = System(spark, [r])
    res_small = sysm.fixpoint(ds)
    res_large = sysm.fixpoint(ds, store_broadcast_rows=0, compact_pieces=2)
    got_s = sorted(map(tuple, res_small.store.select("s", "p", "o").collect()))
    got_l = sorted(map(tuple, res_large.store.select("s", "p", "o").collect()))
    assert got_s == got_l and len(got_l) == 15


def test_fixpoint_per_delta_rule_dispatch(spark):
    # J3 parity (reference BipolarMap dispatch, src/pattern/map.rs:13-25):
    # two predicate-disjoint rules — once the delta contains only <#anc>
    # facts, the <#other>-rule must be pruned from later rounds (asserted
    # via the per-round rules_run metric).
    chain = [(blank(str(i)), iri(EX + "anc"), blank(str(i + 1))) for i in range(4)]
    other = [(blank("x"), iri(EX + "other"), blank("y"))]
    ds = build_dataset(spark, chain + other)
    r_anc = rule(
        variables=3,
        hypothesis=[
            pat("+", v(0), iri(EX + "anc"), v(1)),
            pat("+", v(1), iri(EX + "anc"), v(2)),
        ],
        statements=[stmt_triple("+", v(0), iri(EX + "anc"), v(2))],
    )
    r_other = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + "other"), v(1))],
        statements=[stmt_triple("+", v(1), iri(EX + "other2"), v(0))],
    )
    sysm = System(spark, [r_anc, r_other])
    res = sysm.fixpoint(ds)
    # round 1 (full) runs both; every delta round's delta is anc/other2
    # only, so rule 1 (<#other> hypothesis) must not run again
    assert res.metrics[0]["rules_run"] == [0, 1]
    for m in res.metrics[1:]:
        assert 1 not in m["rules_run"], f"rule 1 not pruned in round {m['round']}"
    # closure is still complete: C(5,2)=10 anc facts + 1 other + 1 other2
    assert res.store.count() == 12


def test_fixpoint_checkpoint_resume(spark, tmp_path):
    # kill-and-resume between rounds (north_rule resumability)
    chain = [(blank(str(i)), iri(EX + "anc"), blank(str(i + 1))) for i in range(5)]
    ds = build_dataset(spark, chain)
    r = rule(
        variables=3,
        hypothesis=[
            pat("+", v(0), iri(EX + "anc"), v(1)),
            pat("+", v(1), iri(EX + "anc"), v(2)),
        ],
        statements=[stmt_triple("+", v(0), iri(EX + "anc"), v(2))],
    )
    sysm = System(spark, [r])
    d1 = str(tmp_path / "ckpt")
    full = sysm.fixpoint(ds, checkpoint_dir=d1)
    assert full.store.count() == 15

    # simulate a crash after round 1: rewrite meta to round=1/not-done
    import json, os

    meta_path = os.path.join(d1, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    assert meta["done"]
    meta.update({"round": 1, "done": False, "metrics": meta["metrics"][:1]})
    with open(meta_path, "w") as f:
        json.dump(meta, f)

    resumed = sysm.fixpoint(ds, checkpoint_dir=d1)
    assert resumed.store.count() == 15
    assert resumed.rounds == full.rounds


def test_fixpoint_minting_eq_rules_survive_piece_compaction(spark):
    # regression: in the round AFTER a piece compaction (or the
    # small-to-large transition) the prior round's delta-checkpoint
    # blocks were released before the new_terms/eqs/trues jobs ran —
    # those jobs lazily recompute the deduction, which still reads that
    # delta, and a localCheckpoint's lineage is truncated, so any rule
    # system with term minting or Eq/True statements died with
    # "checkpoint block not found".  compact_pieces=1 +
    # store_broadcast_rows=0 force a compaction every round.
    chain = [(blank(str(i)), iri(EX + "anc"), blank(str(i + 1))) for i in range(5)]
    ds = build_dataset(spark, chain)
    tc = rule(
        variables=3,
        hypothesis=[
            pat("+", v(0), iri(EX + "anc"), v(1)),
            pat("+", v(1), iri(EX + "anc"), v(2)),
        ],
        statements=[stmt_triple("+", v(0), iri(EX + "anc"), v(2))],
    )
    eqr = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + "anc"), v(1))],
        statements=[stmt_eq("+", v(0), v(0))],
    )
    mintr = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + "anc"), v(1))],
        statements=[stmt_triple("+", v(0), iri(EX + "hasWitness"), v(2))],
        existentials=1,
    )
    sysm = System(spark, [tc, eqr, mintr])
    res = sysm.fixpoint(ds, store_broadcast_rows=0, compact_pieces=1)
    # closure complete: 15 anc facts + one minted witness per anc fact
    assert res.store.filter(F.col("s").isNotNull()).count() == 30
    # one Eq row per (substitution, lineage); 5 distinct reflexive pairs
    # (nodes 0..4 appear as anc subjects in the closure)
    assert res.eqs.select("a", "b").distinct().count() == 5
    assert res.terms.count() > ds.terms.count()  # minted terms accumulated
    res.release()


def test_fixpoint_lineage_deterministic_when_multiply_derived(spark):
    # two rules derive the SAME fact; the stored lineage must be the
    # lexicographically-least (rule_id, subst_hash), identical across
    # runs — dropDuplicates would keep an arbitrary derivation
    ds = build_dataset(
        spark,
        [
            (blank("a"), iri(EX + "p"), blank("b")),
            (blank("a"), iri(EX + "r"), blank("b")),
        ],
    )
    mk = lambda pred: rule(  # noqa: E731
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + pred), v(1))],
        statements=[stmt_triple("+", v(0), iri(EX + "q"), v(1))],
    )
    rules = [mk("p"), mk("r")]
    runs = []
    for _ in range(2):
        res = System(spark, rules).fixpoint(ds)
        runs.append(
            sorted(
                (r.s, r.p, r.o, r.sign, r.rule_id, r.subst_hash)
                for r in res.store.filter("cause_kind = 1").collect()
            )
        )
        res.release()
    assert runs[0] == runs[1]
    assert len(runs[0]) == 1  # one stored q-fact despite two derivations
    assert runs[0][0][4] == min(r.rule_id for r in rules)


def test_rule_dedup(spark):
    r = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + "p"), v(1))],
        statements=[stmt_triple("+", v(0), iri(EX + "q"), v(1))],
    )
    sysm = System(spark, [r, r])
    assert len(sysm.rules) == 1


def _tc_rule():
    return rule(
        variables=3,
        hypothesis=[
            pat("+", v(0), iri(EX + "anc"), v(1)),
            pat("+", v(1), iri(EX + "anc"), v(2)),
        ],
        statements=[stmt_triple("+", v(0), iri(EX + "anc"), v(2))],
    )


def test_fixpoint_round_action_budget(spark, monkeypatch):
    """Driver-overhead contract: after setup (the input-store checkpoint,
    which observes its row count on the same job; the terms stay
    unmaterialized because no rule reads facets or mints terms), a
    no-minting small-regime round costs exactly ONE
    driver action — the delta materialization (eager localCheckpoint),
    which carries n_new, the expression-error probe and the next round's
    dispatch predicate set as an Observation.  Earlier rounds paid a
    separate stats aggregate, and before that a ``new.count()``, a
    ``limit(1).collect()`` error probe and the next round's
    ``distinct().collect()`` dispatch probe — fixed per-round driver cost
    that a 100-round sameAs closure at web scale pays 100x."""
    import pyspark.sql.classic.dataframe as dfmod

    chain = [(blank(str(i)), iri(EX + "anc"), blank(str(i + 1))) for i in range(5)]
    other = [(blank("x"), iri(EX + "other"), blank("y"))]
    ds = build_dataset(spark, chain + other)
    r_other = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + "other"), v(1))],
        statements=[stmt_triple("+", v(1), iri(EX + "other2"), v(0))],
    )
    # two rules so the per-delta dispatch path (the old third action) runs
    sysm = System(spark, [_tc_rule(), r_other])
    sysm.const_ids()  # pre-encode constants outside the counted window

    actions: list[str] = []
    orig_count = dfmod.DataFrame.count
    orig_collect = dfmod.DataFrame.collect
    orig_ckpt = dfmod.DataFrame.localCheckpoint

    monkeypatch.setattr(
        dfmod.DataFrame, "count", lambda self: (actions.append("count"), orig_count(self))[1]
    )
    monkeypatch.setattr(
        dfmod.DataFrame,
        "collect",
        lambda self: (actions.append("collect"), orig_collect(self))[1],
    )

    def _ckpt(self, eager=True, storageLevel=None):
        if eager:
            actions.append("ckpt")
        if storageLevel is None:
            return orig_ckpt(self, eager=eager)
        return orig_ckpt(self, eager=eager, storageLevel=storageLevel)

    monkeypatch.setattr(dfmod.DataFrame, "localCheckpoint", _ckpt)

    res = sysm.fixpoint(ds)
    n_actions = len(actions)
    monkeypatch.undo()
    assert res.store.count() == 17  # 15 anc closure + other + other2
    # setup = the input checkpoint; then 1 action per round
    assert n_actions == 1 + res.rounds, actions


def _record_actions(monkeypatch) -> list:
    """Record every driver action (``count``, ``collect``, eager
    ``localCheckpoint``) into the returned list until
    ``monkeypatch.undo()``."""
    import pyspark.sql.classic.dataframe as dfmod

    actions: list[str] = []
    orig_count = dfmod.DataFrame.count
    orig_collect = dfmod.DataFrame.collect
    orig_ckpt = dfmod.DataFrame.localCheckpoint

    def _ckpt(self, eager=True, storageLevel=None):
        if eager:
            actions.append("ckpt")
        if storageLevel is None:
            return orig_ckpt(self, eager=eager)
        return orig_ckpt(self, eager=eager, storageLevel=storageLevel)

    monkeypatch.setattr(
        dfmod.DataFrame, "count", lambda self: (actions.append("count"), orig_count(self))[1]
    )
    monkeypatch.setattr(
        dfmod.DataFrame, "collect", lambda self: (actions.append("collect"), orig_collect(self))[1]
    )
    monkeypatch.setattr(dfmod.DataFrame, "localCheckpoint", _ckpt)
    return actions


def test_fixpoint_large_regime_and_seeded_action_budget(spark, monkeypatch):
    """Every delta is materialized one way: one checkpoint whose own job
    observes its row count and its (p, sign) set; in the large regime a
    co-partitioned piece then re-reads its blocks.  So the large regime
    costs 2 + 2·rounds driver actions (the input checkpoint, its
    partitioning into the first piece, then two per round) with no
    collect, and a call seeded with candidate facts apart from a
    checkpointed closed store of known count costs 1 + rounds (the
    seed's checkpoint, then one per round), with no dispatch probe."""
    from inferdf_rs_spark.engine import Dataset

    chain = [(blank(str(i)), iri(EX + "anc"), blank(str(i + 1))) for i in range(5)]
    other = [(blank("x"), iri(EX + "other"), blank("y"))]
    ds = build_dataset(spark, chain + other)
    r_other = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + "other"), v(1))],
        statements=[stmt_triple("+", v(1), iri(EX + "other2"), v(0))],
    )
    sysm = System(spark, [_tc_rule(), r_other])
    sysm.const_ids()

    actions = _record_actions(monkeypatch)
    res = sysm.fixpoint(ds, store_broadcast_rows=0)
    large = list(actions)
    monkeypatch.undo()
    assert res.store.count() == 17
    assert "collect" not in large and len(large) == 2 + 2 * res.rounds, large
    res.release()

    closed = sysm.fixpoint(ds)
    store = closed.store.localCheckpoint(eager=True)
    closed.release()
    grown = chain + [(blank("5"), iri(EX + "anc"), blank("6"))]
    seed = build_dataset(spark, grown + other)
    actions = _record_actions(monkeypatch)
    res = sysm.fixpoint(Dataset(store, seed.terms, n_triples=17), initial_delta=seed.triples)
    seeded = list(actions)
    monkeypatch.undo()
    assert res.store.count() == 23  # C(7,2) = 21 anc facts + other + other2
    assert "collect" not in seeded and len(seeded) == 1 + res.rounds, seeded
    res.release()


def test_fixpoint_seed_overlapping_closed_store_is_batch_closure(spark, tmp_path):
    """A seed that partly overlaps a closed store is anti-joined against
    it before it becomes a store piece: the result is the batch closure
    of the grown fact set, with no duplicate (s, p, o, sign) row.  A
    checkpointed run cannot take a seed (its parquet base would miss
    it), so passing both raises before any work."""
    from inferdf_rs_spark.engine import Dataset
    from inferdf_rs_spark.schemas import TRIPLE_KEY

    chain = [(blank(str(i)), iri(EX + "anc"), blank(str(i + 1))) for i in range(5)]
    grown = build_dataset(spark, chain + [(blank("5"), iri(EX + "anc"), blank("6"))])
    sysm = System(spark, [_tc_rule()])
    closed = sysm.fixpoint(build_dataset(spark, chain))

    res = sysm.fixpoint(Dataset(closed.store, grown.terms), initial_delta=grown.triples)
    rows = [tuple(r) for r in res.store.select(*TRIPLE_KEY).collect()]
    batch = sysm.fixpoint(grown)
    expected = {tuple(r) for r in batch.store.select(*TRIPLE_KEY).collect()}
    assert len(rows) == len(set(rows)) == 21
    assert set(rows) == expected
    for r in (res, batch, closed):
        r.release()

    with pytest.raises(ValueError, match="initial_delta"):
        sysm.fixpoint(grown, checkpoint_dir=str(tmp_path / "ck"), initial_delta=grown.triples)


def test_fixpoint_materialized_input_is_base_piece(spark, monkeypatch):
    """Small regime with ``store_rows`` known: an input store that is
    already a checkpoint becomes the base piece as it is, with no second
    checkpoint of it (and no persist: the loop never persists its input);
    ``release()`` frees only the fixpoint's own blocks, never the
    caller's."""
    import pyspark.sql.classic.dataframe as dfmod

    from inferdf_rs_spark.caches import persistent_rdd_ids
    from inferdf_rs_spark.engine import Dataset

    chain = [(blank(str(i)), iri(EX + "anc"), blank(str(i + 1))) for i in range(5)]
    ds = build_dataset(spark, chain)
    before = persistent_rdd_ids(spark)
    store = ds.triples.localCheckpoint(eager=True)
    caller_ids = persistent_rdd_ids(spark) - before
    assert caller_ids
    sysm = System(spark, [_tc_rule()])
    sysm.const_ids()

    persists: list[int] = []
    orig_persist = dfmod.DataFrame.persist
    monkeypatch.setattr(
        dfmod.DataFrame,
        "persist",
        lambda self, *a, **k: (persists.append(1), orig_persist(self, *a, **k))[1],
    )
    res = sysm.fixpoint(Dataset(store, ds.terms, n_triples=5))
    monkeypatch.undo()
    assert persists == []
    assert res.store.count() == 15
    res.release()
    assert caller_ids <= persistent_rdd_ids(spark)
    assert store.count() == 5


def test_fixpoint_terms_work_only_for_rules_that_read_terms(spark, monkeypatch):
    """A round reads the terms only through the facet join and the
    minted-term anti-join.  A system whose rules do neither keeps the
    caller's terms frame as it is (no checkpoint job) and never builds
    the facet view; a rule that compares a variable still builds it."""
    from inferdf_rs_spark.operators import fixpoint as fp

    calls: list[int] = []
    orig = fp.resource_facets
    monkeypatch.setattr(fp, "resource_facets", lambda t: (calls.append(1), orig(t))[1])

    chain = [(blank(str(i)), iri(EX + "anc"), blank(str(i + 1))) for i in range(5)]
    ds = build_dataset(spark, chain)
    res = System(spark, [_tc_rule()]).fixpoint(ds)
    assert res.store.count() == 15
    assert calls == [] and res.terms is ds.terms
    res.release()

    ds = build_dataset(spark, [(blank("0"), iri(EX + "p"), Term.literal("abc"))])
    cmp_rule = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + "p"), v(1))],
        statements=[stmt_true("+", call("lt", v(1), dec(5)))],
    )
    res = System(spark, [cmp_rule]).fixpoint(ds)
    assert calls and res.terms is not ds.terms
    assert res.trues.count() == 1
    res.release()


def test_fixpoint_store_rows_metadata_skips_count(spark, monkeypatch):
    """Catalog-metadata path: when the caller passes ``store_rows`` (from
    a graph_meta.json sidecar / table catalog) the large-regime fixpoint
    never runs a driver ``count()`` over the input store — at 100 TB the
    count alone is a full-scan job."""
    import pyspark.sql.classic.dataframe as dfmod

    chain = [(blank(str(i)), iri(EX + "anc"), blank(str(i + 1))) for i in range(5)]
    ds = build_dataset(spark, chain)
    sysm = System(spark, [_tc_rule()])
    sysm.const_ids()

    counts: list[int] = []
    orig_count = dfmod.DataFrame.count
    monkeypatch.setattr(
        dfmod.DataFrame, "count", lambda self: (counts.append(1), orig_count(self))[1]
    )
    res = sysm.fixpoint(ds, store_broadcast_rows=0, compact_pieces=2, store_rows=5)
    n_counts = len(counts)
    monkeypatch.undo()
    got = sorted(map(tuple, res.store.select("s", "p", "o").collect()))
    assert len(got) == 15
    assert n_counts == 0, "metadata-provided store_rows must skip the input count"
    res.release()


def test_fixpoint_checkpoint_resume_id_bits_128(spark, tmp_path):
    """North-rule resumability at the 128-bit id width: the checkpoint
    meta records id_bits; resuming at the written width reaches the
    identical closure, resuming at any other width raises loudly instead
    of misreading decimal parquet through a bigint schema."""
    import json
    import os

    from inferdf_rs_spark.operators.fixpoint import load_checkpoint
    from inferdf_rs_spark.terms import id_bits

    d1 = str(tmp_path / "ckpt128")
    chain = [(blank(str(i)), iri(EX + "anc"), blank(str(i + 1))) for i in range(5)]
    with id_bits(128):
        ds = build_dataset(spark, chain)
        sysm = System(spark, [_tc_rule()])
        full = sysm.fixpoint(ds, checkpoint_dir=d1)
        full_facts = sorted(map(tuple, full.store.select("s", "p", "o").collect()))
        assert len(full_facts) == 15

        # simulate a crash after round 1
        meta_path = os.path.join(d1, "meta.json")
        with open(meta_path) as f:
            meta = json.load(f)
        assert meta["done"] and meta["id_bits"] == 128
        meta.update({"round": 1, "done": False, "metrics": meta["metrics"][:1]})
        with open(meta_path, "w") as f:
            json.dump(meta, f)

    # width mismatch: session back at 64-bit ids must refuse to resume
    with pytest.raises(ValueError, match="id_bits"):
        load_checkpoint(spark, d1)

    with id_bits(128):
        resumed = sysm.fixpoint(ds, checkpoint_dir=d1)
        got = sorted(map(tuple, resumed.store.select("s", "p", "o").collect()))
        assert got == full_facts
        assert resumed.rounds == full.rounds
