"""Semi-naive forward-chaining fixpoint with per-round checkpoint/resume.

The reference exposes one deduction round and leaves the fixpoint to the
caller (doc example src/lib.rs:56-69); its seeded
``deduce_from_triple``/``excluded_hypothesis`` API (src/system/mod.rs:124-149,
src/rule/mod.rs:79-108) is exactly the hook semi-naive evaluation needs.
Here the loop is driver-side:

    round k:  delta_{k-1} ⋈ rules ⋈ store  → conclusions
              new = conclusions ∖ store (left-anti on the triple key)
              store ∪= new;  delta_k = new;  stop when empty

Scale design:
- the delta is small after round 1 → AQE broadcasts it into the
  store-side scans; the store itself is never re-shuffled per round;
- **co-partitioned store pieces**: the store is kept as a list of
  pieces, each hash-partitioned on the triple key and locally
  checkpointed.  The per-round "new facts" anti-join chains over the
  pieces, so the store side of every anti-join is exchange-free — only
  the (small) conclusions stream shuffles each round.  Pieces compact
  into one when the list grows past a threshold;
- **one way to materialize a delta**: the seed (``initial_delta``) and
  every round's new facts take the same anti-join against the store and
  one checkpoint, planned under AQE, whose own job observes the delta's
  row count, its {(p, sign)} set and the round's first expression error
  (error rows ride along and are filtered out below the checkpoint):
  one driver action per round, two in the large regime, where a
  co-partitioned piece re-reads those blocks and supersedes them;
- **per-delta rule dispatch** (reference ``BipolarMap`` pattern index,
  src/pattern/map.rs:13-25, src/system/mod.rs:144-148): a rule runs in
  a delta round only if at least one hypothesis slot can match a delta
  triple — checked driver-side on the delta's observed (sign, p) set
  against the slot's sign and constant predicate;
- large deltas spill: past ``DELTA_DISK_ROWS`` rows the piece
  checkpoints use MEMORY_AND_DISK_DESER blocks that evict under memory
  pressure (kills the all-deltas-in-RAM cliff);
- every round's new facts and new terms are (optionally) appended as a
  parquet checkpoint with an atomically-updated meta file, so a killed
  job resumes between rounds (north_rule requirement);
- lineage columns ride on every deduced fact (cause/rule/subst/round).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import terms as _terms_mod
from ..caches import CheckpointTracker, unpersist_rdd_ids
from ..rules import Rule
from ..schemas import CAUSE_ENTAILED, TRIPLE_KEY, TERMS_SCHEMA, TRIPLES_SCHEMA
from ..terms import merge_terms, resource_facets
from .conclude import Concluded, _empty as _empty_df, conclude, merge_concluded
from .expr import statement_facet_vars
from .match import find_substitutions

# the per-round exchanged row: triple key + minimal int lineage.  The
# constant-per-round lineage (cause_kind, round, g) and the derivable
# src_partition label are re-attached LAZILY after the piece checkpoint
# (see _attach_lineage) so they never ride through the dedup/anti-join/
# repartition exchanges — 4 fewer UnsafeRow slots (incl. the one string)
# per shuffled row.
NARROW_COLS = ["s", "p", "o", "sign", "rule_id", "subst_hash"]

# a round after a delta of more rows checkpoints to disk-evictable blocks
DELTA_DISK_ROWS = 2_000_000


class ExpressionError(RuntimeError):
    """Deduction hit an expression error (reference returns Err from eval)."""


@dataclass
class FixpointResult:
    store: DataFrame
    terms: DataFrame
    eqs: DataFrame
    trues: DataFrame
    rounds: int
    metrics: list = field(default_factory=list)
    # persistent-RDD ids backing store/terms/eqs/trues — release() frees
    # them once the caller has copied (or finished with) the result
    cache_ids: set = field(default_factory=set)

    def release(self, blocking: bool = False) -> None:
        """Unpersist every checkpoint this fixpoint run created.

        The result DataFrames become unusable afterwards (localCheckpoint
        lineage is truncated) — call only after materializing your own
        copy (e.g. ``store.localCheckpoint()`` or a parquet write).
        Long-running callers (streaming: one fixpoint per micro-batch)
        MUST do this or the storage pool grows by one store copy per
        batch."""
        unpersist_rdd_ids(self.store.sparkSession, self.cache_ids, blocking)
        self.cache_ids = set()


def _deduce_round(
    spark: SparkSession,
    store: DataFrame,
    terms: DataFrame,
    rules: list[tuple[int, Rule]],
    const_ids: dict,
    delta: DataFrame | None,
    round_num: int,
    functions: dict | None,
    broadcast_store: bool = False,
) -> Concluded:
    """One deduction round of ``rules`` over ``store``.

    ``broadcast_store``: hint the store side of every rule join as a
    broadcast.  Only rules with two or more hypothesis patterns get the
    hint: a single-pattern rule's store scan joins nothing, and a hint
    there is dropped unused (with a warning) by the planner."""
    # the facet view is built only for rules whose conclusions read it
    facets = resource_facets(terms) if any(_reads_facets(r) for _, r in rules) else None
    hinted = F.broadcast(store) if broadcast_store else store
    batches = []
    for idx, rule in rules:
        # distinct=False: duplicate substitutions (a binding reachable via
        # two delta slots) only duplicate conclusion rows, and those are
        # deduped once on the triple key downstream — one exchange per
        # round instead of one per rule per round
        src = hinted if len(rule.hypothesis) > 1 else store
        subst = find_substitutions(src, rule, const_ids, delta=delta, distinct=False)
        batches.append(conclude(subst, rule, idx, const_ids, facets, round_num, functions))
    return merge_concluded(spark, batches)


def _reads_facets(rule: Rule) -> bool:
    """Does evaluating this rule's conclusions join the facet view?"""
    return bool(statement_facet_vars(rule.conclusion.statements))


def _delta_stats(is_fact=None) -> list:
    """What a delta's checkpoint observes: its fact count and its
    {(p, sign)} set (the next dispatch); ``is_fact`` skips marker rows."""
    fact = F.lit(True) if is_fact is None else is_fact
    return [
        F.count(F.when(fact, 1)).alias("n_new"),
        F.collect_set(F.when(fact, F.struct("p", "sign"))).alias("dps"),
    ]


def _observed(obs: Observation) -> tuple[int, set]:
    got = obs.get
    return int(got["n_new"]), {(r.p, r.sign) for r in got["dps"]}


def _is_materialized(df: DataFrame) -> bool:
    """Is ``df`` a bare checkpoint (its analyzed plan a ``LogicalRDD``)?
    Scanning one reads stored blocks; it needs no further persist."""
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LogicalRDD"


def _slot_can_feed(sp, const_ids: dict, pos_ps: set, neg_ps: set) -> bool:
    """Can any delta triple match this hypothesis slot?  Driver-side
    analogue of the reference's canonical-pattern dispatch
    (src/pattern/map.rs:13-25): the slot's sign must have delta rows and
    its predicate, when constant, must be among the delta's predicates.
    (Constant s/o positions could prune further; predicate+sign is the
    dominant case and keeps the observed set small.)"""
    from ..rules import Var

    ps = pos_ps if sp.sign else neg_ps
    if not ps:
        return False
    p_node = sp.positions()[1]
    if isinstance(p_node, Var):
        return True
    return const_ids.get(p_node) in ps


def _dispatch_rules(
    rules: list[Rule], const_ids: dict, delta_ps: set | None
) -> list[tuple[int, Rule]]:
    """J3: prune rules no delta triple can feed.

    ``delta_ps``: the delta's {(p, sign)} set, observed on the
    checkpoint that materialized the delta (so dispatch costs no Spark
    action); ``None`` means a full round, which runs every rule."""
    indexed = list(enumerate(rules))
    if delta_ps is None or len(rules) < 2:
        return indexed
    pos_ps = {p for p, sg in delta_ps if sg}
    neg_ps = {p for p, sg in delta_ps if not sg}
    return [
        (i, r)
        for i, r in indexed
        if any(_slot_can_feed(sp, const_ids, pos_ps, neg_ps) for sp in r.hypothesis)
    ]


def _meta_path(d: str) -> str:
    return os.path.join(d, "meta.json")


def _write_meta(d: str, meta: dict) -> None:
    tmp = _meta_path(d) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, _meta_path(d))  # atomic: resume sees complete rounds only


def read_meta(d: str) -> dict | None:
    try:
        with open(_meta_path(d)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


EQS_SCHEMA = "a bigint, b bigint, sign boolean, rule_id bigint, subst_hash bigint"
TRUES_SCHEMA = (
    "res bigint, vtype int, bval boolean, verr int, sign boolean, rule_id bigint, subst_hash bigint"
)


def fixpoint(
    spark: SparkSession,
    store: DataFrame,
    terms: DataFrame,
    rules: list[Rule],
    const_ids: dict,
    functions: dict | None = None,
    max_rounds: int = 100,
    checkpoint_dir: str | None = None,
    insert_negatives: bool = False,
    compact_pieces: int = 16,
    store_broadcast_rows: int = 2_000_000,
    initial_delta: DataFrame | None = None,
    allow_partial: bool = False,
    store_rows: int | None = None,
    initial_round: int = 0,
) -> FixpointResult:
    """Run deduce→insert to fixpoint (U3/U4 + J2/J3).

    Only positive Triple statements are inserted back into the store,
    mirroring the reference doc example (src/lib.rs:62-69); Eq and True
    statements accumulate in side tables for the caller (the reference
    likewise leaves them to the caller — it only checks them in
    validation).  Set ``insert_negatives`` to also store negative facts.
    An expression error raises ``ExpressionError`` (the reference's Err).

    ``compact_pieces``: max number of co-partitioned store pieces before
    they are compacted into one (a single store-size exchange, amortized
    over that many rounds).
    ``store_broadcast_rows``: while the accumulated store is at most this
    many rows, the per-round new-facts anti-join broadcasts the store
    (map-side, zero exchange — fastest at small scale); past it the loop
    switches to the co-partitioned piece chain (zero *store-side*
    exchange — the only plan that survives a store too big to broadcast).
    ``initial_delta``: candidate facts (distinct on the triple key) apart
    from a closed ``store`` — the seeded ``deduce_from_triple`` path of
    streaming ingest and retraction.  The seed enters like every round's
    delta (anti-join, one observed checkpoint, a store piece) and seeds
    round 1 in place of a full deduce.  Not with ``checkpoint_dir``.
    ``allow_partial``: by default the loop RAISES if max_rounds is
    exhausted before the delta empties (a silent non-fixpoint is an
    incomplete closure, i.e. a wrong result); pass True to accept the
    partial store.
    ``store_rows``: the input store's row count when the caller already
    knows it (catalog / ``graph_meta.json`` sidecar metadata, or an
    Observation on the caller's own checkpoint).  The input store enters
    the loop by one rule:
    - count known and above ``store_broadcast_rows``: the input plan is
      partitioned straight into the first piece (a 100 TB store is never
      counted or copied just to pick the join regime);
    - count known and the input already a checkpoint: it is the base
      piece as it is (its blocks stay the caller's);
    - otherwise: one ``localCheckpoint`` whose job also observes the row
      count; if that count is large, the checkpoint is partitioned into
      the first piece and released.
    On a resume it counts the checkpoint's base, and the last round's
    delta re-enters as the seed.
    """
    from pyspark.storagelevel import StorageLevel

    # normalize to the fact-table contract: callers may hand a store with
    # extra physical columns (e.g. the p_bucket partition column of a
    # materialized graph) — those must not leak into piece unions
    _schema_cols = [f.name for f in TRIPLES_SCHEMA.fields]
    if [c for c in store.columns if c not in _schema_cols]:
        store = store.select(*_schema_cols)

    eqs = _empty_df(spark, EQS_SCHEMA)
    trues = _empty_df(spark, TRUES_SCHEMA)
    metrics: list[dict] = []

    seed = initial_delta
    # round numbers start above initial_round: the retraction path
    # (operators/retract.py) re-derives facts into a store whose
    # retained facts keep their original rounds — new rounds must sit
    # strictly ABOVE them or the explain walk's strict round-decrease
    # invariant breaks on rederived lineage
    start_round = initial_round
    if checkpoint_dir:
        if seed is not None:
            raise ValueError("fixpoint(): a checkpointed run cannot take initial_delta")
        meta = read_meta(checkpoint_dir)
        if meta is None:
            os.makedirs(checkpoint_dir, exist_ok=True)
            store.write.mode("overwrite").parquet(os.path.join(checkpoint_dir, "base"))
            terms.write.mode("overwrite").parquet(os.path.join(checkpoint_dir, "terms_base"))
            meta = {"round": 0, "done": False, "id_bits": _terms_mod.ID_BITS}
            _write_meta(checkpoint_dir, meta)
        store, terms, seed, eqs, trues, metrics = load_checkpoint(spark, checkpoint_dir)
        start_round = meta["round"]
        if meta.get("done"):
            # the last round found nothing: its (empty) delta adds no facts
            return FixpointResult(store, terms, eqs, trues, start_round, metrics)
        if store_rows is not None:
            store_rows += sum(m.get("new_facts", 0) for m in metrics[:-1])

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    tracker = CheckpointTracker(spark)

    # src_partition for entailed facts is derivable from rule_id — a
    # tiny when-chain re-attached after the exchanges, never shuffled
    _src_label = F.lit(None).cast("string")
    for _i, _r in reversed(list(enumerate(rules))):
        _src_label = F.when(F.col("rule_id") == F.lit(_r.rule_id), F.lit(f"r{_i}")).otherwise(
            _src_label
        )

    def _attach_lineage(df: DataFrame, rnd_num: int) -> DataFrame:
        """Narrow exchanged rows → full TRIPLES_SCHEMA (lazy projection
        over checkpointed blocks; the constants never hit the wire)."""
        return df.select(
            "s",
            "p",
            "o",
            "sign",
            F.lit(CAUSE_ENTAILED).cast("int").alias("cause_kind"),
            "rule_id",
            "subst_hash",
            F.lit(rnd_num).cast("int").alias("round"),
            _src_label.alias("src_partition"),
            F.lit(None).cast("long").alias("g"),
        )

    def _ckpt(df: DataFrame) -> DataFrame:
        out, _ = tracker.checkpoint(df)
        return out

    def _piece(df: DataFrame, big: bool) -> DataFrame:
        """Hash-partition on the triple key, sort within partitions, then
        checkpoint: the captured LogicalRDD partitioning+ordering make
        every later anti-join against this piece exchange-free AND
        sort-free on the piece side (only the small conclusions stream
        shuffles+sorts per round).  AQE is toggled off around the
        checkpoint because AdaptiveSparkPlanExec does not expose the
        final plan's partitioning to the Dataset.checkpoint capture
        (verified: with AQE on the LogicalRDD reports
        UnknownPartitioning and every round re-exchanges the store)."""
        rp = df.repartition(n_part, *TRIPLE_KEY).sortWithinPartitions(*TRIPLE_KEY)
        # big pieces: MEMORY_AND_DISK_DESER — stays DESERIALIZED in memory
        # while it fits (the store is scanned by every rule slot every
        # round; serialized/disk levels pay per-scan deserialization,
        # measured ~2x slower fixpoint at 38M stated facts) and evicts to
        # disk under pressure (caps the all-deltas-in-RAM RSS cliff).
        # NB PySpark's bare MEMORY_AND_DISK constant is the *serialized*
        # level — not what we want on the scan-hot store.
        lvl = StorageLevel.MEMORY_AND_DISK_DESER if big else None
        prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            return tracker.checkpoint(rp, storage_level=lvl)
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)

    # the input store enters by the rule in the docstring (``store_rows``)
    if store_rows is not None and store_rows > store_broadcast_rows:
        n_store, large = store_rows, True
        pc0, ids0 = _piece(store, big=True)
        pieces, piece_idsets = [pc0], [ids0]
    elif store_rows is not None and _is_materialized(store):
        # the caller's checkpoint is the base piece as it is: untracked,
        # so release() keeps its blocks
        n_store, large = store_rows, False
        pieces, piece_idsets = [store], [set()]
    else:
        seen = Observation()
        base, base_ids = tracker.checkpoint(store.observe(seen, F.count(F.lit(1)).alias("n")))
        n_store = seen.get["n"]
        large = n_store > store_broadcast_rows
        if large:
            pc0, ids0 = _piece(base, big=True)
            pieces, piece_idsets = [pc0], [ids0]
            tracker.release(base_ids)
        else:
            pieces, piece_idsets = [base], [base_ids]
    # only the facet join and the minted-term anti-join read the terms
    # in a round: a system with neither leaves them as the caller's plan
    if any(r.mints_terms() or _reads_facets(r) for r in rules):
        terms = _ckpt(terms)

    def store_union() -> DataFrame:
        out = pieces[0]
        for pc in pieces[1:]:
            out = out.unionByName(pc)
        return out

    def anti_store(df: DataFrame) -> DataFrame:
        """``df`` without the store's rows.  Small regime: one broadcast
        anti-join (map-side, zero exchange).  Large regime: chained
        anti-joins against the co-partitioned pieces → zero *store-side*
        exchange — the plan that survives a store too big to broadcast."""
        if not large:
            keys = F.broadcast(store_union().select(*TRIPLE_KEY))
            return df.join(keys, on=TRIPLE_KEY, how="left_anti")
        for pc in pieces:
            df = df.join(pc.select(*TRIPLE_KEY), on=TRIPLE_KEY, how="left_anti")
        return df

    def materialize(staged: DataFrame, errors: bool = False):
        """The one way a delta enters the loop (module doc).  Returns
        (delta, its block ids, fact count, (p, sign) set)."""
        is_fact = (F.col("err") == 0) if errors else None
        stats = _delta_stats(is_fact)
        if errors:
            first_err = F.when(F.col("err") > 0, F.struct("err", "rule_id", "subst_hash"))
            stats.append(F.min(first_err).alias("bad"))
        obs = Observation()
        facts = staged.observe(obs, *stats)
        if errors:
            facts = facts.filter(is_fact).drop("err")
        # the deduction runs under AQE in this checkpoint (runtime
        # broadcast of a small delta, skew splits); the large regime's
        # piece (AQE off for partitioning capture) only re-reads its
        # blocks, which are released once the piece exists
        lvl = StorageLevel.MEMORY_AND_DISK_DESER if large else None
        out, ids = tracker.checkpoint(facts, storage_level=lvl)
        bad = obs.get["bad"] if errors else None
        if bad is not None:
            tracker.release()  # a caller catching this must not leak a store copy
            raise ExpressionError(
                f"expression error in round {rnd}: err={bad.err} "
                f"rule_id={bad.rule_id} subst_hash={bad.subst_hash}"
            )
        if large:
            piece, piece_ids = _piece(out, big=last_new > DELTA_DISK_ROWS)
            tracker.release(ids)
            out, ids = piece, piece_ids
        return (out, ids, *_observed(obs))

    def add_piece(piece: DataFrame, ids: set, n: int) -> None:
        """Append a delta piece.  Crossing the broadcastable horizon (one
        store-size exchange, then exchange-free rounds) or outgrowing
        ``compact_pieces`` (the same exchange, amortized) compacts the
        pieces; superseded ones are released, EXCEPT the new piece's
        blocks, which the next round's delta reads."""
        nonlocal n_store, large, pieces, piece_idsets, carry_release
        n_store += n
        pieces.append(piece)
        piece_idsets.append(ids)
        if (not large and n_store > store_broadcast_rows) or (
            large and len(pieces) > compact_pieces
        ):
            large = True
            merged, merged_ids = _piece(store_union(), big=True)
            for old in piece_idsets[:-1]:
                tracker.release(old - ids)
            carry_release = set(ids)  # the delta reads these one more round
            pieces, piece_idsets = [merged], [merged_ids]

    rnd = start_round
    last_new = 0
    # blocks kept alive one extra round because the delta still reads
    # them after their piece was compacted away (released next round)
    carry_release: set = set()
    # the delta and its {(p, sign)} set; None makes round 1 a full deduce
    delta = delta_ps = None
    if seed is not None:
        delta, ids, last_new, delta_ps = materialize(anti_store(seed.select(*_schema_cols)))
        add_piece(delta, ids, last_new)
    # A checkpoint resumed at start_round > 0 with meta done=False is NOT
    # converged — if it already sits at max_rounds the loop never runs and
    # the allow_partial contract below must still fire.
    done = start_round == 0
    while rnd < max_rounds:
        rnd += 1
        active = _dispatch_rules(rules, const_ids, delta_ps)
        # small regime: the store is within the broadcast bound, so the
        # rule joins broadcast their store-side scans too (the hint passes
        # through each scan's filter/projection); left to AQE they run as
        # sort-merge joins until re-planned at run time
        c = _deduce_round(
            spark, store_union(), terms, active, const_ids, delta, rnd, functions,
            broadcast_store=not large,
        )

        deduced = c.triples if insert_negatives else c.triples.filter(F.col("sign"))
        # dedup BEFORE the anti-join: the groupBy runs a map-side partial
        # aggregate that shrinks the conclusions stream before it hits the
        # wire — and only the NARROW_COLS projection rides the exchanges
        # (constants + the src label re-attach after the checkpoint).
        # min(struct(lineage)) instead of dropDuplicates: a fact derived
        # by TWO rules keeps the lexicographically-least (rule_id,
        # subst_hash) — dropDuplicates would retain an arbitrary one,
        # making the stored lineage vary across runs/retries against the
        # engine's determinism guarantees.
        new = anti_store(
            deduced.select(*NARROW_COLS)
            .groupBy(*TRIPLE_KEY)
            .agg(F.min(F.struct("rule_id", "subst_hash")).alias("_lin"))
            .select(*TRIPLE_KEY, "_lin.*")
        )

        # error rows ride along with err > 0: one deduction per round
        errors = any(r.has_expressions() for _, r in active)
        if errors:
            err_rows = c.errors.select(
                F.lit(None).cast("long").alias("s"),
                F.lit(None).cast("long").alias("p"),
                F.lit(None).cast("long").alias("o"),
                F.lit(True).alias("sign"),
                F.col("rule_id"),
                F.col("subst_hash"),
                F.col("err").cast("int").alias("err"),
            )
            new = new.withColumn("err", F.lit(0).cast("int")).unionByName(err_rows)
        new, new_ids, n_new, delta_ps = materialize(new, errors)
        last_new = n_new
        new_full = _attach_lineage(new, rnd)

        # static rule analysis: skip side-channel actions (term minting,
        # Eq/True accumulation) when no active rule can produce them —
        # saves several Spark jobs per round on projection-only systems
        any_mints = any(r.mints_terms() for _, r in active)
        any_eqs = any(r.has_eq_statements() for _, r in active)
        any_trues = any(r.has_true_statements() for _, r in active)

        new_terms = _empty_df(spark, TERMS_SCHEMA)
        if any_mints:
            new_terms = _ckpt(
                c.new_terms.join(terms.select("term_id"), on="term_id", how="left_anti")
                .dropDuplicates(["term_id"])
            )
        # construct the side-channel dedup plans only when a rule can feed
        # them (they would be statically empty otherwise; skipping the
        # construction keeps the per-round driver floor flat)
        round_eqs = round_trues = None
        if any_eqs:
            round_eqs = _ckpt(c.eqs.dropDuplicates())
            eqs = eqs.unionByName(round_eqs).dropDuplicates()
        if any_trues:
            round_trues = _ckpt(c.trues.dropDuplicates())
            trues = trues.unionByName(round_trues).dropDuplicates()

        # the prior round's delta blocks (kept alive across the compaction
        # that superseded their piece) are released only NOW: the
        # new_terms/eqs/trues checkpoints above lazily recompute this
        # round's deduction, which still reads that delta — its lineage is
        # truncated (localCheckpoint), so dropping the blocks before every
        # consumer has materialized fails with CHECKPOINT_RDD_BLOCK_ID_NOT_
        # FOUND for any minting/Eq/True rule system (regression:
        # test_fixpoint_minting_eq_rules_survive_piece_compaction)
        if carry_release:
            tracker.release(carry_release)
            carry_release = set()

        metrics.append({"round": rnd, "new_facts": n_new, "rules_run": [i for i, _ in active]})
        done = n_new == 0

        if checkpoint_dir:
            new_full.write.mode("overwrite").parquet(
                os.path.join(checkpoint_dir, f"delta/round={rnd}")
            )
            if any_mints:
                new_terms.write.mode("overwrite").parquet(
                    os.path.join(checkpoint_dir, f"new_terms/round={rnd}")
                )
            if any_eqs:
                round_eqs.write.mode("overwrite").parquet(
                    os.path.join(checkpoint_dir, f"eqs/round={rnd}")
                )
            if any_trues:
                round_trues.write.mode("overwrite").parquet(
                    os.path.join(checkpoint_dir, f"trues/round={rnd}")
                )
            _write_meta(
                checkpoint_dir,
                {"round": rnd, "done": done, "metrics": metrics, "id_bits": _terms_mod.ID_BITS},
            )

        if done:
            break
        add_piece(new_full, new_ids, n_new)
        if any_mints:
            terms = merge_terms(terms, new_terms)
            if rnd % 8 == 0:
                terms = _ckpt(terms)
        delta = new

    if not done and not allow_partial:
        tracker.release()  # same no-leak discipline as the error path
        raise RuntimeError(
            f"fixpoint did not converge within max_rounds={max_rounds} "
            f"(last delta={last_new} facts) — the closure is incomplete; "
            "raise max_rounds or pass allow_partial=True"
        )
    return FixpointResult(store_union(), terms, eqs, trues, rnd, metrics, tracker.ids)


def load_checkpoint(spark: SparkSession, checkpoint_dir: str):
    """Rebuild fixpoint state from a checkpoint dir (resume path): the
    store through the next-to-last completed round and, apart from it,
    the last round's delta, which the resumed loop takes as its seed.
    Schemas follow the active id width (``terms.set_id_bits``); the meta
    file records the width the checkpoint was WRITTEN with, and resuming
    at any other width raises instead of silently misreading the parquet
    (a 128-bit decimal store read through a bigint schema fails per-row,
    not per-job)."""
    from ..terms import terms_schema, triples_schema

    meta = read_meta(checkpoint_dir)
    if meta is None:
        raise FileNotFoundError(f"no checkpoint at {checkpoint_dir}")
    written_bits = meta.get("id_bits", 64)
    if written_bits != _terms_mod.ID_BITS:
        raise ValueError(
            f"checkpoint at {checkpoint_dir} was written with id_bits="
            f"{written_bits} but the session is at id_bits={_terms_mod.ID_BITS} "
            f"— call terms.set_id_bits({written_bits}) before resuming"
        )
    store = spark.read.schema(triples_schema()).parquet(os.path.join(checkpoint_dir, "base"))
    terms = spark.read.schema(terms_schema()).parquet(os.path.join(checkpoint_dir, "terms_base"))
    eqs = _empty_df(spark, EQS_SCHEMA)
    trues = _empty_df(spark, TRUES_SCHEMA)
    delta = None
    for k in range(1, meta["round"] + 1):
        if delta is not None:
            store = store.unionByName(delta)
        delta = spark.read.schema(triples_schema()).parquet(
            os.path.join(checkpoint_dir, f"delta/round={k}")
        )
        tdir = os.path.join(checkpoint_dir, f"new_terms/round={k}")
        if os.path.isdir(tdir):
            terms = terms.unionByName(spark.read.schema(terms_schema()).parquet(tdir))
        edir = os.path.join(checkpoint_dir, f"eqs/round={k}")
        if os.path.isdir(edir):
            eqs = eqs.unionByName(spark.read.parquet(edir))
        trdir = os.path.join(checkpoint_dir, f"trues/round={k}")
        if os.path.isdir(trdir):
            trues = trues.unionByName(spark.read.parquet(trdir))
    return store, terms, delta, eqs.dropDuplicates(), trues.dropDuplicates(), meta.get("metrics", [])
