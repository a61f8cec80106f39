"""Physical-plan shape assertions for the pipeline operators.

Each operator's docstring makes a scale claim ("map-only", "one
shuffle", "broadcast offsets") — these tests pin the claim to the
actual executed plan so a refactor that silently adds an exchange (the
100 TB regression) fails here, not in production."""

import datetime as dt
import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from inferdf_rs_spark.operators.asof import asof_join  # noqa: E402
from inferdf_rs_spark.operators.packing import distributed_prefix_sum  # noqa: E402
from inferdf_rs_spark.operators.sampling import stratified_sample, topk_per_group  # noqa: E402
from inferdf_rs_spark.operators.sessionize import sessionize  # noqa: E402
from inferdf_rs_spark.operators.textstats import (  # noqa: E402
    pii_redact,
    quality_filter,
    repetition_features,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan: str) -> int:
    """Shuffle exchanges only — broadcast exchanges are the cheap kind
    the operators deliberately choose."""
    return sum(
        1
        for ln in plan.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
    )


def _docs(spark):
    return spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma tok{i} alpha", "en") for i in range(64)],
        "doc_id long, text string, lang string",
    )


def test_map_only_operators_have_zero_shuffles(spark):
    docs = _docs(spark)
    for name, df in [
        ("quality_filter", quality_filter(docs)),
        ("pii_redact", pii_redact(docs)),
        ("repetition_features", repetition_features(docs)),
        ("stratified_sample", stratified_sample(docs, {"en": 50})),
    ]:
        n = _shuffles(_plan(df))
        assert n == 0, f"{name}: {n} shuffle exchange(s) in a map-only operator"


def test_sessionize_single_shuffle(spark):
    ev = spark.createDataFrame(
        [(i, i % 7, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i * 60)) for i in range(64)],
        "event_id long, user_id long, ts timestamp",
    )
    # lag + running sum share one (key, order) sort: one exchange total
    assert _shuffles(_plan(sessionize(ev))) == 1


def test_asof_join_single_shuffle(spark):
    left = spark.createDataFrame([(i, i % 5, i) for i in range(32)], "lid long, uid long, t long")
    right = spark.createDataFrame([(i % 5, i, i, 1.0) for i in range(32)], "uid long, t long, rid long, val double")
    out = asof_join(left, right, on="uid", order="t", values=["rid", "val"], tie="rid")
    assert _shuffles(_plan(out)) == 1, "union-tag as-of must shuffle once on the key"


def test_topk_two_windows_no_single_partition_exchange(spark):
    df = _docs(spark).withColumn("n_chars", F.length("text"))
    out = topk_per_group(df, ["lang"], [F.col("n_chars").desc(), F.col("doc_id")], k=3)
    plan = _plan(out)
    assert _shuffles(plan) == 2  # (group, salt) pass + group re-rank
    assert "SinglePartition" not in plan


def test_prefix_sum_broadcasts_offsets_and_partitions_data_window(spark):
    df = spark.createDataFrame([(i, i % 3) for i in range(256)], "k long, v long")
    plan = _plan(distributed_prefix_sum(df, "k", "v", n_buckets=8))
    assert "BroadcastHashJoin" in plan, "bucket offsets must broadcast-join back"
    # the only SinglePartition exchange allowed is the tiny per-bucket
    # totals window (post-aggregate); the data window partitions by _bkt
    sp = [ln for ln in plan.splitlines() if "Exchange SinglePartition" in ln]
    assert len(sp) <= 1
    assert "hashpartitioning(_bkt" in plan


def test_kmeans_assign_is_map_only(spark):
    from inferdf_rs_spark.operators.clustering import kmeans_assign

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centers = [[0] * 64, [100] * 64]
    plan = _plan(kmeans_assign(emb, centers))
    assert _shuffles(plan) == 0, plan


def test_ann_ivf_broadcasts_probe_side_no_cartesian(spark):
    from inferdf_rs_spark.operators.clustering import ann_ivf, kmeans_fit

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centers = kmeans_fit(emb, k=4, iters=1)
    plan = _plan(ann_ivf(emb, centers, [0, 1], k=5, nprobe=2))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_joins_on_cluster_key_no_cartesian(spark):
    from inferdf_rs_spark.operators.clustering import kmeans_fit, semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centers = kmeans_fit(emb, k=4, iters=1)
    plan = _plan(semantic_dedup(emb, centers, max_dist_milli2=1))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_contamination_probe_shuffles_hits_only(spark):
    """decontaminate's one shuffle is the per-doc hit aggregate AFTER
    the broadcast gram probe — the corpus-gram explode itself must not
    exchange."""
    from inferdf_rs_spark.operators.decontaminate import contamination_hits

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(9, "alpha beta gamma")], "doc_id long, text string")
    plan = _plan(contamination_hits(docs, bench))
    # exactly the aggregate's exchange pair-at-most (AQE may show 1)
    assert _shuffles(plan) <= 2, plan
    assert "BroadcastHashJoin" in plan


def _dangling_hints(plan, under_join: bool = False) -> int:
    """ResolvedHint nodes of an analyzed plan that no join will take:
    the planner moves a hint up through single-child nodes into the
    nearest join and drops (and logs) any other."""
    name = plan.getClass().getSimpleName()
    n = int(name == "ResolvedHint" and not under_join)
    kids = plan.children()
    for i in range(kids.size()):
        n += _dangling_hints(kids.apply(i), name == "Join" or (under_join and kids.size() == 1))
    return n


def test_fixpoint_round_hints_only_joined_store_scans(spark):
    """A small-regime round hints the store side of its rule joins as a
    broadcast, but not the store scan of a single-pattern rule, which
    joins nothing (the planner would drop that hint with a warning).
    The optimized plan is the one a hint on every scan gave."""
    import re

    from inferdf_rs_spark import System, blank, build_dataset, iri, pat, rule, stmt_triple, v
    from inferdf_rs_spark.operators.fixpoint import _deduce_round

    ex = "https://example.org/#"
    ds = build_dataset(spark, [(blank(str(i)), iri(ex + "anc"), blank(str(i + 1))) for i in range(5)])
    single = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(ex + "anc"), v(1))],
        statements=[stmt_triple("+", v(1), iri(ex + "desc"), v(0))],
    )
    chained = rule(
        variables=3,
        hypothesis=[pat("+", v(0), iri(ex + "anc"), v(1)), pat("+", v(1), iri(ex + "anc"), v(2))],
        statements=[stmt_triple("+", v(0), iri(ex + "anc"), v(2))],
    )
    sysm = System(spark, [single, chained])
    rules = list(enumerate(sysm.rules))

    def round_plan(store, **kw):
        c = _deduce_round(spark, store, ds.terms, rules, sysm.const_ids(), None, 1, None, **kw)
        return c.triples._jdf.queryExecution()

    every = round_plan(F.broadcast(ds.triples))
    joined = round_plan(ds.triples, broadcast_store=True)
    assert _dangling_hints(every.analyzed()) == 1
    assert _dangling_hints(joined.analyzed()) == 0

    def norm(qe) -> str:
        return re.sub(r"#\d+L?", "#", qe.optimizedPlan().toString())

    assert "strategy=broadcast" in norm(joined)
    assert norm(joined) == norm(every)
