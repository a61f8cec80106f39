"""Per-layer metrics of a traced run.

Busy times come from the spans the benchmark put around each layer
call; jobs, task time, shuffle, spill and GC come from the Spark event log,
attributed through each span's job group.  A layer's figures include
the spans nested under it.  Each figure is the median over the traced
operations; a layer the workload does not call reads 0.
"""

from __future__ import annotations

from eventlog import read_event_log
from stats import median

# metric name -> unit
PER_LAYER = {
    "extraction.busy_s": "s",
    "extraction.jobs": "count",
    "extraction.task_s": "s",
    "extraction.pages_out": "count",
    "extraction.gc_s": "s",
    "encode.busy_s": "s",
    "encode.jobs": "count",
    "encode.shuffle_mb": "MB",
    "encode.edges_in": "count",
    "encode.triples_out": "count",
    "encode.keep_ratio": "ratio",
    "encode.terms": "count",
    "encode.gc_s": "s",
    "fixpoint.busy_s": "s",
    "fixpoint.rounds": "count",
    "fixpoint.jobs": "count",
    "fixpoint.jobs_per_round": "count",
    "fixpoint.round_s": "s",
    "fixpoint.task_s": "s",
    "fixpoint.shuffle_mb": "MB",
    "fixpoint.spill_mb": "MB",
    "fixpoint.new_facts": "count",
    "fixpoint.gc_s": "s",
    "materialize.busy_s": "s",
    "materialize.jobs": "count",
    "materialize.files": "count",
    "materialize.bytes_per_triple": "B/triple",
    "materialize.top_bucket_share": "ratio",
    "materialize.gc_s": "s",
    "ingest.batch_s": "s",
    "ingest.jobs_per_batch": "count",
    "ingest.delta_facts": "count",
    "ingest.store_rows": "count",
    "ingest.task_s": "s",
    "ingest.shuffle_mb": "MB",
    "ingest.gc_s": "s",
    "snapshots.commit_s": "s",
    "snapshots.written_mb": "MB",
    "caches.cache_mb": "MB",
    "caches.rdds_held": "count",
    "query.open_s": "s",
    "query.constants_s": "s",
    "query.scan_s": "s",
    "query.jobs_per_query": "count",
    "query.input_mb_per_query": "MB",
    "query.rows_out": "count",
    "query.gc_s": "s",
    "process.peak_rss_mb": "MB",
    "process.live_heap_mb": "MB",
    "process.gc_s": "s",
    "process.steal_share": "ratio",
    "trace.traced_ops": "count",
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
    "trace.unaccounted_s": "s",
    "trace.layers_busy_s": "s",
}


def _per_op(tracer, groups, name: str) -> list[dict]:
    """One dict per traced operation that called layer ``name``: busy
    seconds, event-log totals and recorded counts, summed over the
    layer's spans in that operation."""
    ops: dict[int, dict] = {}
    for s in tracer.spans:
        if s.name != name:
            continue
        d = ops.setdefault(s.op, {"busy_s": 0.0})
        d["busy_s"] += s.seconds
        for k, v in vars(tracer.inclusive(s, groups)).items():
            d[k] = d.get(k, 0) + v
        for k, v in s.counts.items():
            d[k] = d.get(k, 0) + v
    return list(ops.values())


def _med(rows: list[dict], key: str, per: str | None = None) -> float:
    """Median over operations of ``key``, or of ``key / per``."""
    vals = [r.get(key, 0) / (max(1, r.get(per, 0)) if per else 1) for r in rows]
    return median(vals) if vals else 0.0


def per_layer_metrics(tracer, event_log: str, loop, process: dict) -> dict:
    groups = read_event_log(event_log)
    L = {n: _per_op(tracer, groups, n) for n in (
        "extraction", "encode", "fixpoint", "materialize", "ingest", "snapshots",
        "query", "query.open", "query.constants", "query.scan",
    )}
    ex, en, fx, mt, ing, sn, q = (L[n] for n in (
        "extraction", "encode", "fixpoint", "materialize", "ingest", "snapshots", "query"))
    vals = {
        "extraction.busy_s": _med(ex, "busy_s"),
        "extraction.jobs": _med(ex, "jobs"),
        "extraction.task_s": _med(ex, "task_s"),
        "extraction.pages_out": _med(ex, "pages_out"),
        "extraction.gc_s": _med(ex, "gc_s"),
        "encode.busy_s": _med(en, "busy_s"),
        "encode.jobs": _med(en, "jobs"),
        "encode.shuffle_mb": _med(en, "shuffle_mb"),
        "encode.edges_in": _med(en, "edges_in"),
        "encode.triples_out": _med(en, "triples_out"),
        "encode.keep_ratio": _med(en, "triples_out", per="edges_in"),
        "encode.terms": _med(en, "terms"),
        "encode.gc_s": _med(en, "gc_s"),
        "fixpoint.busy_s": _med(fx, "busy_s"),
        "fixpoint.rounds": _med(fx, "rounds"),
        "fixpoint.jobs": _med(fx, "jobs"),
        "fixpoint.jobs_per_round": _med(fx, "jobs", per="rounds"),
        "fixpoint.round_s": _med(fx, "busy_s", per="rounds"),
        "fixpoint.task_s": _med(fx, "task_s"),
        "fixpoint.shuffle_mb": _med(fx, "shuffle_mb"),
        "fixpoint.spill_mb": _med(fx, "spill_mb"),
        "fixpoint.new_facts": _med(fx, "new_facts"),
        "fixpoint.gc_s": _med(fx, "gc_s"),
        "materialize.busy_s": _med(mt, "busy_s"),
        "materialize.jobs": _med(mt, "jobs"),
        "materialize.files": _med(mt, "files"),
        "materialize.bytes_per_triple": _med(mt, "bytes_per_triple"),
        "materialize.top_bucket_share": _med(mt, "top_bucket_share"),
        "materialize.gc_s": _med(mt, "gc_s"),
        "ingest.batch_s": _med(ing, "busy_s"),
        "ingest.jobs_per_batch": _med(ing, "jobs"),
        "ingest.delta_facts": _med(ing, "delta_facts"),
        "ingest.store_rows": _med(ing, "store_rows"),
        "ingest.task_s": _med(ing, "task_s"),
        "ingest.shuffle_mb": _med(ing, "shuffle_mb"),
        "ingest.gc_s": _med(ing, "gc_s"),
        "snapshots.commit_s": _med(sn, "busy_s"),
        "snapshots.written_mb": _med(sn, "written_mb"),
        "caches.cache_mb": loop.cache_mb,
        "caches.rdds_held": loop.rdds_held,
        "query.open_s": _med(L["query.open"], "busy_s"),
        "query.constants_s": _med(L["query.constants"], "busy_s"),
        "query.scan_s": _med(L["query.scan"], "busy_s"),
        "query.jobs_per_query": _med(q, "jobs"),
        "query.input_mb_per_query": _med(q, "input_mb"),
        "query.rows_out": _med(L["query.scan"], "rows_out"),
        "query.gc_s": _med(q, "gc_s"),
        "process.peak_rss_mb": process["peak_rss_mb"],
        "process.live_heap_mb": process["live_heap_mb"],
        "process.gc_s": process["gc_s"],
        "process.steal_share": loop.steal[0] / max(1, loop.steal[1]),
    }
    # tracing overhead: traced minus untraced operation time; the part of
    # a traced operation no top-level span covers; and the busy time of
    # the top-level layer spans, trace-only counting excluded, to hold
    # against the untraced operation time
    base = median(loop.times) if loop.times else 0.0
    traced = median(loop.traced_times) if loop.traced_times else 0.0
    top: dict = {}
    layers: dict = {}
    for s in tracer.spans:
        if s.parent is None:
            top[s.op] = top.get(s.op, 0.0) + s.seconds
            if s.name != "trace":
                layers[s.op] = layers.get(s.op, 0.0) + s.seconds
    gaps = [t - top.get(op, 0.0) for op, t in zip(loop.traced_ops, loop.traced_times)]
    busy = [layers.get(op, 0.0) for op in loop.traced_ops]
    vals.update(
        {
            "trace.traced_ops": len(loop.traced_times),
            "trace.overhead_s": traced - base,
            "trace.overhead_share": (traced - base) / base if base else 0.0,
            "trace.unaccounted_s": median(gaps) if gaps else 0.0,
            "trace.layers_busy_s": median(busy) if busy else 0.0,
        }
    )
    return {k: {"value": vals[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
