"""Provenance: explain entailed facts back to their premises.

The reference stores one ``Cause`` per fact (``Stated(u32) |
Entailed(u32)``, src/cause.rs:9-15); the ``Entailed`` index resolves to
an ``Entailment { rule, substitution }`` (src/cause.rs:28-34), so "why
does this fact exist" is one table lookup and a proof tree is a chain of
them.  This engine's fixpoint deliberately exchanges only a NARROW
lineage — ``(rule_id, subst_hash)``, operators/fixpoint.py
``NARROW_COLS`` — instead of shipping the substitution vector through
every round, so explain RECONSTRUCTS the winning substitution
Spark-side:

1. **invert the conclusion** over the target facts — a conclusion
   statement whose positions are all Var / constant / existential-Var
   binds some hypothesis variables directly from the fact's (s, p, o)
   (and pins minted existentials to their deterministic
   ``xxhash64('inferdf:ex', rule_id, subst_hash, j)`` values);
2. **cascade the hypothesis patterns** over those seed bindings — the
   same binding-consistency joins as ``find_substitutions`` (J1), but
   the frontier side stays proportional to the number of facts being
   explained, never the store: each join is a partition-pruned pattern
   scan keyed by already-bound variables (AQE broadcasts the frontier);
3. **keep the binding whose hash matches** the stored ``subst_hash`` —
   exact modulo a 64-bit hash collision, the same bound the dictionary
   collision audit already guards.

Rules whose conclusion positions are computed expressions (literal
instantiation, F12) are not invertible; those fall back to a full
hypothesis match semi-joined on the frontier's ``subst_hash`` set.

At 100 TB the walk touches per hop: the frontier (small), one pruned
pattern scan per hypothesis slot, and one store join to look up premise
lineage — never an unbounded product.  Depth is bounded by the fixpoint
round number, which decreases strictly along every premise edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caches import CheckpointTracker
from ..rules import Rule, TripleStmt, Var
from ..schemas import CAUSE_ENTAILED, CAUSE_STATED
from ..session import local_frame
from ..terms import Term
from .match import _build_scan, _join_bindings, find_substitutions

# fact-side column names carried through the walk (prefixed to avoid
# colliding with the v{i} binding columns and pattern-scan projections)
_FACT = ["fs", "fp", "fo", "fsign"]


def _subst_hash_col(rule: Rule):
    """Mirror of conclude()'s substitution identity — MUST stay in sync
    with operators/conclude.py (xxhash64 over rule_id + sorted bound
    hypothesis vars)."""
    hyp_vars = sorted(rule.hypothesis_vars())
    if hyp_vars:
        return F.xxhash64(F.lit(rule.rule_id), *[F.col(f"v{i}") for i in hyp_vars])
    return F.xxhash64(F.lit(rule.rule_id))


def _invertible(stmt) -> bool:
    return isinstance(stmt, TripleStmt) and all(
        isinstance(n, (Var, Term)) for n in (stmt.s, stmt.p, stmt.o)
    )


def _seed_exprs(rule: Rule, st, const_ids: dict) -> tuple["F.Column", list, list[str]]:
    """Compiled inversion of one conclusion statement: (filter condition
    over the fact columns, bound-variable projection, output columns)."""
    s = st.stmt
    cond = F.col("fsign") == F.lit(bool(st.sign))
    proj: dict[int, str] = {}
    for pos_name, node in zip(_FACT[:3], (s.s, s.p, s.o)):
        if isinstance(node, Var):
            if node.index >= rule.variables:
                # existential: minted deterministically from the very
                # subst_hash the fact carries (conclude.py minting) — a
                # consistency predicate, binds no hypothesis var
                j = node.index - rule.variables
                cond = cond & (
                    F.col(pos_name)
                    == F.xxhash64(
                        F.lit("inferdf:ex"),
                        F.lit(rule.rule_id),
                        F.col("subst_hash"),
                        F.lit(j),
                    )
                )
            elif node.index in proj:
                cond = cond & (F.col(pos_name) == F.col(proj[node.index]))
            else:
                proj[node.index] = pos_name
        else:
            cond = cond & (F.col(pos_name) == F.lit(const_ids[node]))
    sel = [F.col(pos).alias(f"v{i}") for i, pos in sorted(proj.items())] + [F.col("subst_hash")]
    return cond, sel, [f"v{i}" for i in sorted(proj)] + ["subst_hash"]


def _explain_pack(rule: Rule, const_ids: dict, n_p_buckets: int | None) -> dict:
    """Hop-invariant compiled expressions for one rule's proof-step:
    conclusion-inversion seeds, hypothesis scan predicates, the
    substitution-hash column and the per-slot premise projections.  The
    walk re-enters ``explain_step`` once per hop with identical
    (rule, const_ids, p_buckets) — Columns are immutable expression
    handles, so they are built once and cached on the rule object
    (identity-checked; the entry holds a strong ref to ``const_ids``)."""
    pk = getattr(rule, "_explain_cache", None)
    if pk is not None and pk["const_ids"] is const_ids and pk["p_buckets"] == n_p_buckets:
        return pk

    invertible = all(_invertible(st.stmt) for st in rule.conclusion.statements)
    seeds = (
        [_seed_exprs(rule, st, const_ids) for st in rule.conclusion.statements]
        if invertible
        else []
    )
    scans = [_build_scan(p, const_ids, n_p_buckets) for p in rule.hypothesis]

    def _pos(node):
        if isinstance(node, Var):
            return F.col(f"v{node.index}")
        return F.lit(const_ids[node])

    slot_sels = []
    for j, p in enumerate(rule.hypothesis):
        slot_sels.append(
            [
                F.col("fs").alias("s"),
                F.col("fp").alias("p"),
                F.col("fo").alias("o"),
                F.col("fsign").alias("sign"),
                F.col("rule_id"),
                F.col("subst_hash"),
                F.lit(j).alias("hyp_idx"),
                _pos(p.s).alias("ps"),
                _pos(p.p).alias("pp"),
                _pos(p.o).alias("po"),
                F.lit(bool(p.sign)).alias("psign"),
            ]
        )

    pk = {
        "const_ids": const_ids,
        "p_buckets": n_p_buckets,
        "invertible": invertible,
        "seeds": seeds,
        "scans": scans,
        "hash_col": _subst_hash_col(rule),
        "slot_sels": slot_sels,
        "frontier_cond": F.col("rule_id") == F.lit(rule.rule_id),
    }
    try:
        # Rule is a frozen dataclass: bypass the immutability guard for
        # this derived cache (it does not participate in eq/hash)
        object.__setattr__(rule, "_explain_cache", pk)
    except (AttributeError, TypeError):
        pass
    return pk


def _winning_substitutions(
    store: DataFrame,
    rule: Rule,
    const_ids: dict,
    frontier_r: DataFrame,
    p_buckets: int | None,
) -> DataFrame:
    """The substitution behind each frontier fact's stored lineage:
    distinct rows of (all bound v{i}, subst_hash) with the hash check
    applied."""
    # NB: the statements are SignedStatement wrappers — invertibility is a
    # property of the inner ``stmt`` (an ``st``-level check made the
    # inversion branch unreachable through round 5, silently demoting
    # every hop to the store-sized fallback; see OPTIMIZATION_r06.md)
    n_pb = p_buckets if p_buckets is not None else getattr(store, "_inferdf_p_buckets", None)
    if n_pb and "p_bucket" not in store.columns:
        n_pb = None
    pk = _explain_pack(rule, const_ids, n_pb)
    if pk["invertible"]:
        parts = []
        for seed_cond, seed_sel, seed_cols in pk["seeds"]:
            acc = frontier_r.filter(seed_cond).select(*seed_sel)
            acc_cols = seed_cols
            for cond, sel, cols in pk["scans"]:
                nxt = store.filter(cond)
                nxt = (
                    nxt.select(F.lit(1).alias("_ground")).limit(1)
                    if sel is None
                    else nxt.select(*sel)
                )
                acc, acc_cols = _join_bindings(acc, acc_cols, nxt, cols)
            parts.append(acc)
        out = parts[0]
        for df in parts[1:]:
            out = out.unionByName(df)
    else:
        # non-invertible conclusion (computed positions): full hypothesis
        # match restricted to the frontier's substitution hashes
        out = find_substitutions(store, rule, const_ids, distinct=True, p_buckets=p_buckets)
        out = out.withColumn("subst_hash", pk["hash_col"]).join(
            frontier_r.select("subst_hash").dropDuplicates(), "subst_hash"
        )
    return out.filter(pk["hash_col"] == F.col("subst_hash")).dropDuplicates(
        ["subst_hash"]
    )


def explain_step(ds, system, targets: DataFrame | None = None) -> DataFrame:
    """One proof hop: premise edges for entailed facts.

    ``targets``: frame with at least (s, p, o, sign, rule_id,
    subst_hash) — defaults to every entailed fact in the store.  Returns
    one row per (fact, hypothesis slot): fact key ``s p o sign`` +
    ``rule_id subst_hash hyp_idx`` + premise key ``ps pp po psign``.
    Facts whose stored (rule_id, subst_hash) no longer matches any
    substitution (foreign lineage) produce no rows.
    """
    store = ds.triples
    if targets is None:
        targets = store.filter(F.col("cause_kind") == CAUSE_ENTAILED)
    frontier = targets.select(
        F.col("s").alias("fs"),
        F.col("p").alias("fp"),
        F.col("o").alias("fo"),
        F.col("sign").alias("fsign"),
        "rule_id",
        "subst_hash",
    )
    const_ids = system.const_ids()
    parts = [
        frontier.select(
            F.col("fs").alias("s"),
            F.col("fp").alias("p"),
            F.col("fo").alias("o"),
            F.col("fsign").alias("sign"),
            "rule_id",
            "subst_hash",
            F.lit(0).alias("hyp_idx"),
            F.col("fs").alias("ps"),
            F.col("fp").alias("pp"),
            F.col("fo").alias("po"),
            F.col("fsign").alias("psign"),
        ).limit(0)
    ]
    n_pb = ds.p_buckets if getattr(ds, "p_buckets", None) is not None else getattr(
        store, "_inferdf_p_buckets", None
    )
    if n_pb and "p_bucket" not in store.columns:
        n_pb = None
    for rule in system.rules:
        pk = _explain_pack(rule, const_ids, n_pb)
        frontier_r = frontier.filter(pk["frontier_cond"])
        wins = _winning_substitutions(store, rule, const_ids, frontier_r, ds.p_buckets)
        bound = frontier_r.join(wins, "subst_hash")
        for sel in pk["slot_sels"]:
            parts.append(bound.select(*sel))
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out


def stated_support(
    ds,
    system,
    targets: DataFrame | None = None,
    max_depth: int = 64,
) -> DataFrame:
    """For each entailed fact, the set of STATED facts its stored
    derivation bottoms out on — the distributed analogue of following
    ``Cause`` links to ``Stated`` leaves (src/cause.rs:9-15).

    Returns distinct rows (s, p, o, sign, ls, lp, lo, lsign): fact →
    stated leaf.  The walk strictly decreases the premise's fixpoint
    ``round`` each hop, so ``max_depth`` only guards foreign input;
    hitting it raises (a truncated support set would silently read as a
    complete one).
    """
    spark = ds.triples.sparkSession
    tracker = CheckpointTracker(spark)
    store_lineage = ds.triples.select(
        F.col("s").alias("ps"),
        F.col("p").alias("pp"),
        F.col("o").alias("po"),
        F.col("sign").alias("psign"),
        F.col("cause_kind").alias("p_cause"),
        F.col("rule_id").alias("p_rule_id"),
        F.col("subst_hash").alias("p_subst_hash"),
    )
    if targets is None:
        targets = ds.triples.filter(F.col("cause_kind") == CAUSE_ENTAILED)
    # (root fact, current entailed sub-fact) pairs; dedup per hop keeps
    # the pair set bounded by |targets| x |proof DAG| even when many
    # derivations share sub-facts (diamond-shaped proofs)
    frontier, frontier_ids = tracker.checkpoint(
        targets.select(
            F.col("s").alias("rs"),
            F.col("p").alias("rp"),
            F.col("o").alias("ro"),
            F.col("sign").alias("rsign"),
            "s",
            "p",
            "o",
            "sign",
            "rule_id",
            "subst_hash",
        ).dropDuplicates()
    )
    leaves = []
    # hop fold: each hop runs exactly TWO driver actions — the eager hop
    # checkpoint and one tiny aggregate over its narrow blocks that tells
    # whether any entailed premise remains (the next frontier's
    # emptiness).  The former per-hop plan ran three (standalone
    # ``limit(1)`` probe + hop checkpoint + a separate next-frontier
    # checkpoint); the next frontier is now a lazy filter over the hop
    # checkpoint, which the leaves retain anyway.
    more = bool(frontier.limit(1).count())
    try:
        for _ in range(max_depth):
            if not more:
                break
            # one premise expansion over the DISTINCT sub-facts (roots
            # sharing a sub-fact pay for its expansion once) ...
            facts = frontier.select(
                "s", "p", "o", "sign", "rule_id", "subst_hash"
            ).dropDuplicates()
            edges = explain_step(ds, system, targets=facts)
            # ... then premises rejoin their roots and pick up lineage
            hop = (
                frontier.join(edges, ["s", "p", "o", "sign", "rule_id", "subst_hash"])
                .join(store_lineage, ["ps", "pp", "po", "psign"])
                .select(
                    "rs", "rp", "ro", "rsign",
                    "ps", "pp", "po", "psign",
                    "p_cause", "p_rule_id", "p_subst_hash",
                )
                .dropDuplicates()
            )
            hop, hop_ids = tracker.checkpoint(hop)
            leaves.append(
                hop.filter(F.col("p_cause") == CAUSE_STATED).select(
                    F.col("rs").alias("s"),
                    F.col("rp").alias("p"),
                    F.col("ro").alias("o"),
                    F.col("rsign").alias("sign"),
                    F.col("ps").alias("ls"),
                    F.col("pp").alias("lp"),
                    F.col("po").alias("lo"),
                    F.col("psign").alias("lsign"),
                )
            )
            more = bool(
                hop.agg(
                    F.count(F.when(F.col("p_cause") == CAUSE_ENTAILED, 1))
                ).collect()[0][0]
            )
            frontier = hop.filter(F.col("p_cause") == CAUSE_ENTAILED).select(
                "rs", "rp", "ro", "rsign",
                F.col("ps").alias("s"),
                F.col("pp").alias("p"),
                F.col("po").alias("o"),
                F.col("psign").alias("sign"),
                F.col("p_rule_id").alias("rule_id"),
                F.col("p_subst_hash").alias("subst_hash"),
            )
        else:
            tracker.release()
            raise RuntimeError(
                f"stated_support did not bottom out within max_depth={max_depth} "
                "hops — premise rounds must strictly decrease; is the store's "
                "lineage from this rule system?"
            )
        if not leaves:
            out = local_frame(
                spark,
                [],
                "s long, p long, o long, sign boolean, "
                "ls long, lp long, lo long, lsign boolean",
            )
        else:
            out = leaves[0]
            for df in leaves[1:]:
                out = out.unionByName(df)
            out = out.dropDuplicates()
        # sever the result from the walk's checkpoint generations so they
        # can all be released before returning (the caller owns only the
        # final blocks; dropping the result frame leaks them — at scale,
        # write or collect it, then clearCache/unpersist as usual)
        out, out_ids = tracker.checkpoint(out)
    except Exception:
        tracker.release()
        raise
    tracker.release(tracker.ids - out_ids)
    return out
