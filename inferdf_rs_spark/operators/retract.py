"""Incremental retraction: DRed (delete–rederive) over the closed store.

The reference engine only inserts (``Dataset`` has no removal —
src/dataset.rs:24-38); retraction is the missing direction of
incremental maintenance for a long-lived materialized graph: un-assert
stated facts without recomputing the fixpoint from scratch.

Classic DRed (Gupta/Mumick/Subrahmanian, SIGMOD'93), Spark-shaped:

1. **Overdelete** — semi-naive DOWN: seed Δ with the retracted stated
   facts; each round re-uses the fixpoint's delta-seeded match (J2,
   ``find_substitutions(delta=…)``) to find every substitution touching
   Δ, and marks its conclusions (entailed rows only) deleted.  Repeat
   until Δ empties.  Over-approximates: a fact with an alternative
   derivation is still marked.
2. **Rederive** — one full deduction round over the retained store
   (the single full-match round is DRed's known cost), keeping exactly
   the conclusions that were overdeleted: those have alternative
   support and come back with fresh lineage.
3. **Propagate** — the survivors are the store of a normal insert
   fixpoint and the rederived facts, apart from them, its seed (the
   same ``initial_delta`` path streaming ingest uses): the fixpoint
   materializes them once as a store piece.  Every conclusion it finds
   is inside the old closure, so it terminates by re-inserting at most
   the overdeleted set.  Its rounds start ABOVE the store's max round
   (``initial_round``) so the provenance walk's strict round-decrease
   invariant keeps holding.

Scope: rule systems whose conclusions are pure Triple statements over
universal variables (no Eq/True side statements, no existential
minting, no computed expressions) — the same class the streaming
incremental path supports; anything else raises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..caches import CheckpointTracker
from ..rules import TripleStmt, Var
from ..terms import Term
from ..schemas import CAUSE_ENTAILED, TRIPLE_KEY, TRIPLES_SCHEMA
from .fixpoint import NARROW_COLS, _deduce_round, _delta_stats, _dispatch_rules, _observed, fixpoint


def _check_supported(rules) -> None:
    for r in rules:
        for st in r.conclusion.statements:
            s = st.stmt
            if not isinstance(s, TripleStmt):
                raise NotImplementedError(
                    "retract(): Eq/True conclusions need their own delete "
                    "propagation — not supported yet"
                )
            for node in (s.s, s.p, s.o):
                if isinstance(node, Var):
                    if node.index >= r.variables:
                        raise NotImplementedError(
                            "retract(): existential (minted) conclusions not supported"
                        )
                elif not isinstance(node, Term):
                    # ADVICE r5 (medium): a Call/Lit in a conclusion
                    # position previously slipped past this guard and the
                    # overdelete rounds (run without the caller's custom
                    # functions) silently UNDER-deleted — reject computed
                    # conclusion positions outright, as the docstring
                    # promises
                    raise NotImplementedError(
                        "retract(): computed conclusion positions (expression "
                        "literals / function calls) not supported"
                    )


def retract(
    spark: SparkSession,
    store: DataFrame,
    terms: DataFrame,
    rules,
    const_ids: dict,
    retracted: DataFrame,
    max_rounds: int = 100,
    functions: dict | None = None,
    **fixpoint_kw,
):
    """Remove ``retracted`` stated facts (frame with the TRIPLE_KEY
    columns ``s p o sign``) from a CLOSED store and restore the fixpoint
    incrementally.  Returns a ``FixpointResult`` whose ``store`` is the
    exact closure of the surviving stated facts.  Not resumable: a
    ``checkpoint_dir`` raises, because the propagation seed (the
    rederived facts) would be missing from the checkpoint's base."""
    _check_supported(rules)
    if fixpoint_kw.get("checkpoint_dir"):
        raise ValueError(
            "retract(): checkpoint_dir is not supported (its base would miss the seed)"
        )
    schema_cols = [f.name for f in TRIPLES_SCHEMA.fields]
    store = store.select(*[c for c in schema_cols if c in store.columns])
    tracker = CheckpointTracker(spark)
    rules = list(rules)

    # ---- 1. overdelete ----------------------------------------------
    # ONE driver action per round: the checkpoint of the newly-deleted
    # keys observes the convergence count and the next dispatch set (p
    # and sign are key columns, so the next delta's set IS newly's).
    # Deleted keys accumulate as a UNION of the checkpointed pieces.
    retr_keys = retracted.select(*TRIPLE_KEY).dropDuplicates()
    obs = Observation()
    delta, delta_ids = tracker.checkpoint(
        store.join(retr_keys, on=TRIPLE_KEY, how="left_semi").observe(obs, *_delta_stats())
    )
    _, delta_ps = _observed(obs)
    deleted_pieces = [delta.select(*TRIPLE_KEY)]
    entailed_keys = store.filter(F.col("cause_kind") == CAUSE_ENTAILED).select(*TRIPLE_KEY)

    def deleted_union() -> DataFrame:
        out = deleted_pieces[0]
        for pc in deleted_pieces[1:]:
            out = out.unionByName(pc)
        return out

    overdelete_ids: set = set(delta_ids)
    rnd = 0
    while rnd < max_rounds:
        rnd += 1
        active = _dispatch_rules(rules, const_ids, delta_ps)
        if not active:
            break
        c = _deduce_round(spark, store, terms, active, const_ids, delta, rnd, functions)
        cand = c.triples.select(*TRIPLE_KEY).dropDuplicates()
        obs = Observation()
        newly, newly_ids = tracker.checkpoint(
            cand.join(entailed_keys, on=TRIPLE_KEY, how="left_semi")
            .join(deleted_union(), on=TRIPLE_KEY, how="left_anti")
            .observe(obs, *_delta_stats())
        )
        n_newly, delta_ps = _observed(obs)
        if n_newly == 0:
            tracker.release(newly_ids)
            break
        # semi-naive: next round's delta is the store rows keyed by the
        # NEWLY deleted keys only — a lazy join over checkpointed inputs
        # (the deduction that reads it recomputes a delta-sized join, not
        # the deduction that produced the keys)
        deleted_pieces.append(newly)
        overdelete_ids |= newly_ids
        delta = store.join(newly, on=TRIPLE_KEY, how="left_semi")
    else:
        raise RuntimeError(f"retract(): overdeletion did not converge in {max_rounds} rounds")

    deleted = deleted_union()
    obs = Observation()
    survivors, _ = tracker.checkpoint(
        store.join(deleted, on=TRIPLE_KEY, how="left_anti").observe(
            obs, F.count(F.lit(1)).alias("n"), F.max("round").alias("max_round")
        )
    )
    n_survivors, max_round = obs.get["n"], obs.get["max_round"] or 0

    # ---- 2. rederive (one full deduction round over the survivors) ---
    c = _deduce_round(
        spark, survivors, terms, list(enumerate(rules)), const_ids, None, 0, functions
    )
    # mirror the insert fixpoint's sign discipline: negative conclusions
    # are rederived only when the propagation step will also insert them
    deduced = (
        c.triples
        if fixpoint_kw.get("insert_negatives", False)
        else c.triples.filter(F.col("sign"))
    )
    rederived = (
        deduced
        .select(*NARROW_COLS)
        .join(deleted, on=TRIPLE_KEY, how="left_semi")
        .groupBy(*TRIPLE_KEY)
        .agg(F.min(F.struct("rule_id", "subst_hash")).alias("_lin"))
        .select(
            *TRIPLE_KEY,
            F.lit(CAUSE_ENTAILED).cast("int").alias("cause_kind"),
            F.col("_lin.rule_id").alias("rule_id"),
            F.col("_lin.subst_hash").alias("subst_hash"),
            F.lit(max_round + 1).cast("int").alias("round"),
            F.lit("rederived").alias("src_partition"),
            F.lit(None).cast("long").alias("g"),
        )
    )

    # ---- 3. propagate (insert fixpoint seeded with the rederived) ----
    # the seed reads the overdelete pieces: release them once it is a piece
    try:
        res = fixpoint(
            spark, survivors, terms, rules, const_ids, initial_delta=rederived,
            store_rows=n_survivors, initial_round=max_round + 1,
            max_rounds=max_round + 1 + max_rounds, **fixpoint_kw,
        )
    finally:
        tracker.release(overdelete_ids)
    # the survivors checkpoint is the returned store's base piece — hand
    # its blocks to the result so release() frees them (streaming
    # retraction must not leak one survivors copy per call)
    res.cache_ids |= tracker.ids
    return res
