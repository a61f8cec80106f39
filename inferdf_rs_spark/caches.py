"""Cache-lifecycle helpers for iterative drivers.

``localCheckpoint`` truncates lineage by materializing blocks in the
storage pool, but Spark gives no DataFrame-level handle to release
those blocks later: an iterative loop that checkpoints every round
(fixpoint, eq-closure, WL refinement) therefore retains one generation
of blocks per round unless superseded generations are explicitly
unpersisted.  At test scale that is invisible; at web scale a 25-round
closure pins ~25 copies of the label table.

Release works by RDD id: snapshot the persistent-RDD id set around the
checkpoint call and remember exactly the ids it created.  The tracker
makes checkpoints only, never Dataset-level persists: a persist also
registers its plan in the session's CacheManager, and releasing its
blocks by RDD id leaves that entry behind (a later scan of the same
plan reads through an empty cache).  An input store the fixpoint must
materialize is checkpointed through the tracker like every other table.
Driver-side, single-threaded use only — a concurrent persist from
another thread would land in the wrong tracked set (documented
limitation; every driver loop in this engine is single-threaded).

NB: unpersisting a localCheckpoint'ed RDD discards data that can NOT be
recomputed (lineage was truncated) — only release generations that are
provably never read again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of all currently-persisted RDDs in this context."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def unpersist_rdd_ids(spark: SparkSession, ids, blocking: bool = False) -> None:
    """Release the blocks behind the given persistent-RDD ids (no-op for
    ids already gone)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        jrdd = jmap.get(i)
        if jrdd is not None:
            jrdd.unpersist(blocking)


class CheckpointTracker:
    """Routes localCheckpoint calls so the RDD ids they create are
    remembered and can be released once superseded."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.ids: set[int] = set()

    def _run(self, fn):
        before = persistent_rdd_ids(self.spark)
        out = fn()
        created = persistent_rdd_ids(self.spark) - before
        self.ids |= created
        return out, created

    def checkpoint(
        self, df: DataFrame, eager: bool = True, storage_level=None
    ) -> tuple[DataFrame, set[int]]:
        """localCheckpoint ``df``; returns (checkpointed df, created ids)."""
        if storage_level is not None:
            return self._run(lambda: df.localCheckpoint(eager=eager, storageLevel=storage_level))
        return self._run(lambda: df.localCheckpoint(eager=eager))

    def release(self, ids=None, blocking: bool = False) -> None:
        """Unpersist the given ids (default: everything tracked)."""
        ids = set(self.ids) if ids is None else set(ids)
        unpersist_rdd_ids(self.spark, ids, blocking)
        self.ids -= ids
