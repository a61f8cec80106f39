"""DRed incremental retraction (operators/retract.py): equivalence with
from-scratch recomputation, alternative-derivation survival, provenance
invariants, scope guards."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from inferdf_rs_spark import (  # noqa: E402
    Dataset,
    System,
    build_dataset,
    iri,
    pat,
    rule,
    stmt_eq,
    stmt_triple,
    v,
)

EX = "http://ex/"
NEXT = iri(EX + "next")

TC = rule(
    variables=3,
    hypothesis=[pat("+", v(0), NEXT, v(1)), pat("+", v(1), NEXT, v(2))],
    statements=[stmt_triple("+", v(0), NEXT, v(2))],
)


def _edges(names):
    return [(iri(EX + a), NEXT, iri(EX + b)) for a, b in names]


def _keyset(store, terms):
    dim = terms.select("term_id", "lexical")
    out = store.select("s", "p", "o", "sign")
    for c in ("s", "p", "o"):
        d = dim.select(F.col("term_id").alias(f"{c}_id"), F.col("lexical").alias(f"{c}_lex"))
        out = out.join(d, out[c] == d[f"{c}_id"]).drop(f"{c}_id", c)
    out = out.select("s_lex", "p_lex", "o_lex", "sign")
    return {tuple(r) for r in out.collect()}


def _retract_edge(spark, sysm, res, a, b):
    pair = build_dataset(spark, _edges([(a, b)]))
    keys = pair.triples.select("s", "p", "o", "sign")
    return sysm.retract(Dataset(res.store, res.terms), keys)


def test_retract_equals_recompute_chain(spark):
    names = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    ds = build_dataset(spark, _edges(names))
    sysm = System(spark, [TC])
    closed = sysm.fixpoint(ds)

    after = _retract_edge(spark, sysm, closed, "b", "c")

    scratch_ds = build_dataset(spark, _edges([e for e in names if e != ("b", "c")]))
    scratch = System(spark, [TC]).fixpoint(scratch_ds)
    assert _keyset(after.store, after.terms) == _keyset(scratch.store, scratch.terms)


def test_retract_keeps_alternative_derivations(spark):
    # diamond: a->b->d and a->c->d both derive (a, next, d); deleting the
    # b-path must keep (a, d) alive through the c-path (rederive step)
    names = [("a", "b"), ("b", "d"), ("a", "c"), ("c", "d")]
    ds = build_dataset(spark, _edges(names))
    sysm = System(spark, [TC])
    closed = sysm.fixpoint(ds)

    after = _retract_edge(spark, sysm, closed, "a", "b")
    keys = _keyset(after.store, after.terms)
    assert (EX + "a", EX + "next", EX + "d", True) in keys

    scratch = System(spark, [TC]).fixpoint(
        build_dataset(spark, _edges([e for e in names if e != ("a", "b")]))
    )
    assert keys == _keyset(scratch.store, scratch.terms)


def test_retract_preserves_provenance_invariants(spark):
    from inferdf_rs_spark.operators.explain import stated_support
    from inferdf_rs_spark.schemas import CAUSE_ENTAILED

    names = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f")]
    ds = build_dataset(spark, _edges(names))
    sysm = System(spark, [TC])
    closed = sysm.fixpoint(ds)
    after = _retract_edge(spark, sysm, closed, "d", "e")

    # the recursive walk must terminate (strict round decrease holds for
    # rederived lineage too) and cover every entailed fact
    sup = stated_support(Dataset(after.store, after.terms), sysm)
    n_ent = after.store.filter(F.col("cause_kind") == CAUSE_ENTAILED).count()
    assert sup.select("s", "p", "o", "sign").dropDuplicates().count() == n_ent


def test_retract_rejects_unsupported_conclusions(spark):
    eq_rule = rule(
        variables=2,
        hypothesis=[pat("+", v(0), NEXT, v(1))],
        statements=[stmt_eq("+", v(0), v(1))],
    )
    mint_rule = rule(
        variables=2,
        hypothesis=[pat("+", v(0), NEXT, v(1))],
        statements=[stmt_triple("+", v(0), NEXT, v(2))],  # v2 existential
        existentials=1,
    )
    ds = build_dataset(spark, _edges([("a", "b")]))
    empty = ds.triples.limit(0)
    for r in (eq_rule, mint_rule):
        sysm = System(spark, [r])
        with pytest.raises(NotImplementedError):
            sysm.retract(ds, empty)


def test_retract_rejects_checkpoint_dir(spark, tmp_path):
    """The propagation fixpoint is seeded with the rederived facts apart
    from the survivors, and a checkpointed fixpoint resumes from its
    parquet base alone: ``checkpoint_dir`` is refused before any work."""
    ds = build_dataset(spark, _edges([("a", "b"), ("b", "c")]))
    sysm = System(spark, [TC])
    ck = tmp_path / "ck"
    with pytest.raises(ValueError, match="retract"):
        sysm.retract(ds, ds.triples.limit(0), checkpoint_dir=str(ck))
    assert not ck.exists()


def test_retract_negative_conclusions_with_insert_negatives(spark):
    from inferdf_rs_spark.rules import stmt_triple as st

    # {?x next ?y} => {-(?y next ?x)}: retracting one stated edge in a
    # diamond must keep the negative fact derivable from the other edge
    neg_rule = rule(
        variables=2,
        hypothesis=[pat("+", v(0), NEXT, v(1))],
        statements=[st("-", v(1), NEXT, v(0))],
    )
    ds = build_dataset(spark, _edges([("a", "b"), ("a", "c")]))
    sysm = System(spark, [neg_rule])
    closed = sysm.fixpoint(ds, insert_negatives=True)

    after = _retract_edge_kw(spark, sysm, closed, "a", "b", insert_negatives=True)
    scratch = System(spark, [neg_rule]).fixpoint(
        build_dataset(spark, _edges([("a", "c")])), insert_negatives=True
    )
    assert _keyset(after.store, after.terms) == _keyset(scratch.store, scratch.terms)
    # the surviving edge's negative conclusion is present
    assert (EX + "c", EX + "next", EX + "a", False) in _keyset(after.store, after.terms)


def _retract_edge_kw(spark, sysm, res, a, b, **kw):
    pair = build_dataset(spark, _edges([(a, b)]))
    keys = pair.triples.select("s", "p", "o", "sign")
    return sysm.retract(Dataset(res.store, res.terms), keys, **kw)


def test_retract_equals_recompute_property(spark):
    """Property: for random small graphs under the composition rule,
    DRed retraction of a stated edge == from-scratch closure of the
    surviving stated edges (same signed-key set — ids are deterministic
    hashes, so the two encodings agree).  Randomized structure (cycles,
    diamonds, disconnected parts, duplicate conclusions) catches
    overdelete/rederive corner cases the fixed fixtures miss."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    def keys(df):
        return {(r.s, r.p, r.o, r.sign) for r in df.select("s", "p", "o", "sign").collect()}

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 6), st.integers(0, 6)),
            min_size=1,
            max_size=10,
            unique=True,
        )
    )
    def check(pairs):
        edges = _edges([(f"n{a}", f"n{b}") for a, b in pairs])
        ds = build_dataset(spark, edges)
        sysm = System(spark, [TC])
        closed = sysm.fixpoint(ds, max_rounds=30)

        a, b = pairs[0]
        after = _retract_edge(spark, sysm, closed, f"n{a}", f"n{b}")
        scratch_edges = _edges([(f"n{x}", f"n{y}") for x, y in pairs[1:]])
        if scratch_edges:
            scratch = System(spark, [TC]).fixpoint(
                build_dataset(spark, scratch_edges), max_rounds=30
            )
            assert keys(after.store) == keys(scratch.store)
        else:
            assert keys(after.store) == set()

    check()
