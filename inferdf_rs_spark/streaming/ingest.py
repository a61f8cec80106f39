"""Structured-streaming ingest: incremental deduction over arriving pages.

The reference has no streaming (SURVEY.md §2.10), but its seeded
``deduce_from_triple`` API (src/system/mod.rs:124-149) is exactly the
incremental-maintenance hook: each micro-batch's stated triples seed a
semi-naive fixpoint over the accumulated closed graph (rules whose
every hypothesis slot can be fed by earlier facts stay correct because
the store passed to the rounds is the accumulated graph).

Shape: ``readStream`` (file source) → ``foreachBatch`` → per-batch:
encode, one seeded fixpoint call (the seed anti-joined against the
store and materialized once), one checkpoint of the new generation.
``foreachBatch`` gives exactly-once batches on restart via the
streaming checkpoint.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..encode import dedup_triples, encode_edges
from ..engine import System
from ..schemas import PAGES_SCHEMA
from ..terms import merge_terms


class StreamingGraph:
    """Accumulates a closed graph from a stream of page batches.

    Every batch runs through ``operators.fixpoint.fixpoint`` — the first
    with a full deduce, later ones with the closed store and the batch's
    stated facts apart from it as the seed (``initial_delta``) — so the
    incremental path shares ALL of the batch path's semantics:
    minted-term accumulation into the dictionary, Eq/True side tables,
    expression errors, rule dispatch, and the raise-on-round-cap
    guarantee (no silent partial closure)."""

    def __init__(
        self,
        spark: SparkSession,
        system: System,
        out_dir: str,
        commit_every: int | None = None,
    ):
        from ..caches import CheckpointTracker

        self.spark = spark
        self.system = system
        self.out_dir = out_dir
        # publish a versioned snapshot (sources/snapshots.py) every N
        # batches: without durable commits a long-running stream holds
        # the accumulated graph only in executor caches — a crash loses
        # everything since the stream start.  Snapshot commits make the
        # stream's output CONSUMABLE mid-flight (readers get an isolated
        # version while ingestion continues) and bound the replay window
        # on restart to the batches since the last published version.
        self.commit_every = commit_every
        self.store: DataFrame | None = None
        self.terms: DataFrame | None = None
        self.eqs: DataFrame | None = None
        self.trues: DataFrame | None = None
        self._store_rows = 0
        self.batches = 0
        self._tracker = CheckpointTracker(spark)
        self._gen_ids: set[int] = set()

    def process_batch(self, edges: DataFrame, epoch_id: int) -> None:
        from ..operators.fixpoint import fixpoint

        ds = encode_edges(self.spark, edges, src_partition=f"stream:{epoch_id}")
        stated = Observation()
        new_triples, ids_in1 = self._tracker.checkpoint(
            dedup_triples(ds.triples).observe(stated, F.count(F.lit(1)).alias("n"))
        )
        new_terms, ids_in2 = self._tracker.checkpoint(ds.terms)

        if self.store is None:
            # first batch: a full deduce over the batch's own checkpoint,
            # whose observed count lets the fixpoint take it as its base
            store, seed, store_rows = new_triples, None, stated.get["n"]
            terms = merge_terms(new_terms, self.system.rule_constants_terms())
        else:
            # the fixpoint drops the seed facts the store already holds
            store, seed, store_rows = self.store, new_triples, self._store_rows
            terms = merge_terms(self.terms, new_terms)
        res = fixpoint(
            self.spark,
            store,
            terms,
            self.system.rules,
            self.system.const_ids(),
            self.system.functions,
            initial_delta=seed,
            store_rows=store_rows,
        )
        eqs = res.eqs if self.eqs is None else self.eqs.unionByName(res.eqs).dropDuplicates()
        trues = (
            res.trues if self.trues is None else self.trues.unionByName(res.trues).dropDuplicates()
        )
        self._swap_generation(res, eqs, trues, ids_in1 | ids_in2)
        self.batches += 1
        if self.commit_every and self.batches % self.commit_every == 0:
            self.publish()

    def retract_batch(self, retracted: DataFrame) -> None:
        """Remove stated facts mid-stream: DRed incremental retraction
        (operators/retract.py) over the accumulated closed store, with
        the same one-generation cache swap as ``process_batch`` — the
        pool still holds exactly one (store, terms, eqs, trues) between
        batches.  ``retracted`` carries the TRIPLE_KEY columns.  A later
        ``process_batch`` re-delivering a retracted fact sees it absent
        from the store and re-inserts it as a genuine delta (the
        retract/re-add round-trip is exact, pinned by pytest)."""
        from ..operators.retract import retract as _retract

        if self.store is None:
            return
        res = _retract(
            self.spark,
            self.store,
            self.terms,
            self.system.rules,
            self.system.const_ids(),
            retracted,
        )
        self._swap_generation(res, self.eqs, self.trues)

    def _swap_generation(
        self, res, eqs: DataFrame, trues: DataFrame, inputs: set = frozenset()
    ) -> None:
        """Copy the result out of the fixpoint's internal caches, then
        release them, the previous generation and the batch's ``inputs``
        checkpoints: without this every micro-batch would leave one
        cached copy of the (growing) store in the pool — unbounded
        memory/disk growth in a long-running stream.  The pool holds
        exactly one generation of (store, terms, eqs, trues) between
        batches."""
        old_gen = self._gen_ids
        rows = Observation()
        self.store, ids_s = self._tracker.checkpoint(
            res.store.observe(rows, F.count(F.lit(1)).alias("n"))
        )
        self._store_rows = rows.get["n"]
        self.terms, ids_t = self._tracker.checkpoint(res.terms)
        self.eqs, ids_e = self._tracker.checkpoint(eqs)
        self.trues, ids_r = self._tracker.checkpoint(trues)
        self._gen_ids = ids_s | ids_t | ids_e | ids_r
        res.release()
        self._tracker.release(old_gen | inputs)

    def publish(self) -> int:
        """Commit the accumulated graph as a new snapshot version under
        ``out_dir`` (atomic pointer swap; readers of earlier versions are
        untouched).  Because incremental maintenance only ever APPENDS
        facts, the ``snapshot_diff`` between consecutive published
        versions is pure 'added' rows — a ready-made change feed for
        downstream consumers of the stream."""
        from ..sources.snapshots import commit_graph

        return commit_graph(self.store, self.terms, self.out_dir)

    def counts(self) -> tuple[int, int]:
        """(store rows observed on the generation checkpoint, batches)."""
        return (self._store_rows, self.batches)


def stream_pages_to_graph(
    spark: SparkSession,
    system: System,
    pages_dir: str,
    out_dir: str,
    alias_dict: DataFrame,
    entity_types: DataFrame,
    sameas: DataFrame,
    checkpoint: str | None = None,
):
    """Wire a file-source page stream through extraction+linking into the
    incremental graph.  Returns (query, StreamingGraph); caller drives
    with ``query.processAllAvailable()`` (tests) or awaits termination.

    Each micro-batch runs the batch pipeline's extraction stage
    (``extract_mentions``: the fused extract+detect kernel and its
    fidelity gate — a violating page fails the batch).  The alias
    vocabulary is collected once, before the stream starts."""
    from ..extraction.extract import collect_alias_vocabulary, extract_mentions
    from ..pipelines.webkg import stated_edges

    sg = StreamingGraph(spark, system, out_dir)
    aliases = collect_alias_vocabulary(alias_dict)

    stream = (
        spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)
    )

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        # the stage's own count decides emptiness (no separate probe job)
        pages, n_pages, _ = extract_mentions(batch_df, aliases, spark)
        if n_pages == 0:
            pages.unpersist()
            return
        edges = stated_edges(spark, pages, alias_dict, entity_types, sameas, surfaces_col="surfaces")
        sg.process_batch(edges, epoch_id)
        pages.unpersist()

    writer = stream.writeStream.foreachBatch(handle).trigger(availableNow=True)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    return q, sg
