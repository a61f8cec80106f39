"""Storage-pool lifecycle: iterative operators must not leak cached
generations (VERDICT r2: unpersist superseded localCheckpoints, release
fixpoint caches per streaming batch, bound repeated near-dup calls)."""

from inferdf_rs_spark import System, blank, iri, pat, rule, stmt_triple, v, build_dataset
from inferdf_rs_spark.caches import persistent_rdd_ids, unpersist_rdd_ids

EX = "https://example.org/#"


def _chain_dataset(spark, n=12):
    facts = [(blank(f"n{i}"), iri(EX + "next"), blank(f"n{i+1}")) for i in range(n)]
    return build_dataset(spark, facts)


def test_eq_closure_releases_superseded_generations(spark):
    # a 17-node chain needs several hook+jump rounds; only the FINAL
    # label generation may stay persisted (edges + intermediates freed)
    from inferdf_rs_spark.operators.eqclosure import eq_closure

    pairs = spark.createDataFrame([(i, i + 1) for i in range(16)], "a bigint, b bigint")
    before = persistent_rdd_ids(spark)
    mapping = eq_closure(pairs)
    assert mapping.count() == 17
    growth = persistent_rdd_ids(spark) - before
    assert len(growth) <= 1, f"eq_closure leaked {len(growth)} cached generations"
    unpersist_rdd_ids(spark, growth)


def test_canon_releases_superseded_generations(spark):
    from inferdf_rs_spark.operators.canon import canonical_bnode_labels

    ds = _chain_dataset(spark)
    before = persistent_rdd_ids(spark)
    labels = canonical_bnode_labels(ds.triples, ds.terms, iterations=4)
    assert labels.count() == 13
    growth = persistent_rdd_ids(spark) - before
    assert len(growth) <= 1, f"canon leaked {len(growth)} cached generations"
    unpersist_rdd_ids(spark, growth)


def test_near_dup_pairs_storage_no_growth(spark):
    # repeated calls must not accumulate shingle/band caches: each call
    # may retain ONLY its own materialized result, released by the caller
    from inferdf_rs_spark.operators.dedup import minhash_near_dup_pairs

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta " + ("x" if i % 2 else "y")) for i in range(20)],
        "doc_id bigint, text string",
    )
    baseline = persistent_rdd_ids(spark)
    for _ in range(3):
        out = minhash_near_dup_pairs(docs)
        assert out.count() >= 0
        created = persistent_rdd_ids(spark) - baseline
        assert len(created) <= 1, f"near_dup_pairs leaked {len(created)} cache entries"
        unpersist_rdd_ids(spark, created)
    # one-sided: Spark's ContextCleaner may concurrently drop OTHER tests'
    # stale ids from the pool — we only assert WE added nothing
    assert persistent_rdd_ids(spark) - baseline == set()


def test_fixpoint_release_restores_pool(spark):
    # FixpointResult.release() must free every internal cache/checkpoint
    ds = _chain_dataset(spark, n=6)
    tc = rule(
        variables=3,
        hypothesis=[
            pat("+", v(0), iri(EX + "next"), v(1)),
            pat("+", v(1), iri(EX + "next"), v(2)),
        ],
        statements=[stmt_triple("+", v(0), iri(EX + "next"), v(2))],
    )
    sysm = System(spark, [tc])
    baseline = persistent_rdd_ids(spark)
    res = sysm.fixpoint(ds)
    assert res.store.count() == 6 * 7 // 2  # full transitive closure of the chain
    assert persistent_rdd_ids(spark) - baseline, "expected fixpoint to cache state"
    res.release()
    assert persistent_rdd_ids(spark) - baseline == set(), "release() left cached state behind"


def test_fixpoint_input_leaves_no_cache_entry(spark):
    # an input the loop must materialize (no known count, not a
    # checkpoint) enters as a tracked checkpoint, never a Dataset-level
    # persist: while the result is live the session's CacheManager holds
    # no entry for the input plan, and release() frees every block
    from pyspark import StorageLevel

    ds = _chain_dataset(spark, n=6)
    tc = rule(
        variables=3,
        hypothesis=[
            pat("+", v(0), iri(EX + "next"), v(1)),
            pat("+", v(1), iri(EX + "next"), v(2)),
        ],
        statements=[stmt_triple("+", v(0), iri(EX + "next"), v(2))],
    )
    baseline = persistent_rdd_ids(spark)
    res = System(spark, [tc]).fixpoint(ds)
    assert res.store.count() == 6 * 7 // 2
    assert ds.triples.storageLevel == StorageLevel.NONE, "input plan is in the CacheManager"
    res.release()
    assert persistent_rdd_ids(spark) - baseline == set(), "release() left cached state behind"


def test_fixpoint_expression_error_releases_pool(spark):
    # the ExpressionError raise path must release every cache the run
    # created: a long-running driver catching it per batch (streaming)
    # must not leak one store copy per failure
    import pytest

    from inferdf_rs_spark import Term, call, stmt_true
    from inferdf_rs_spark.operators.fixpoint import ExpressionError
    from inferdf_rs_spark.schemas import XSD

    # unparsable decimal facet → conversion error inside the compare
    bad = Term.literal("abc", XSD + "int")
    ds = build_dataset(spark, [(blank("0"), iri(EX + "p"), bad)])
    r = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + "p"), v(1))],
        statements=[stmt_true("+", call("lt", v(1)))],
    )
    sysm = System(spark, [r])
    baseline = persistent_rdd_ids(spark)
    with pytest.raises(ExpressionError):
        sysm.fixpoint(ds)
    leaked = persistent_rdd_ids(spark) - baseline
    assert leaked == set(), f"ExpressionError path leaked {len(leaked)} cache entries"


def test_fixpoint_nonconvergence_releases_pool(spark):
    import pytest

    ds = _chain_dataset(spark, n=6)
    tc = rule(
        variables=3,
        hypothesis=[
            pat("+", v(0), iri(EX + "next"), v(1)),
            pat("+", v(1), iri(EX + "next"), v(2)),
        ],
        statements=[stmt_triple("+", v(0), iri(EX + "next"), v(2))],
    )
    baseline = persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="converge"):
        System(spark, [tc]).fixpoint(ds, max_rounds=1)
    leaked = persistent_rdd_ids(spark) - baseline
    assert leaked == set(), f"non-convergence path leaked {len(leaked)} cache entries"


def test_eq_closure_strict_raise_releases_pool(spark):
    import pytest

    from inferdf_rs_spark.operators.eqclosure import eq_closure

    pairs = spark.createDataFrame([(i, i + 1) for i in range(64)], "a bigint, b bigint")
    baseline = persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="converge"):
        eq_closure(pairs, max_iter=1)
    leaked = persistent_rdd_ids(spark) - baseline
    assert leaked == set(), f"eq_closure strict path leaked {len(leaked)} cache entries"


def test_validate_runs_one_deduction(spark):
    # the error probe inside validate() and the caller's later
    # violations action must share ONE materialization of the
    # hypothesis joins — asserted by counting store scans with an
    # accumulator-instrumented store: consuming the violations after
    # validate() returns must trigger ZERO further store reads
    from inferdf_rs_spark.engine import Dataset

    ds = _chain_dataset(spark, n=6)
    tc = rule(
        variables=3,
        hypothesis=[
            pat("+", v(0), iri(EX + "next"), v(1)),
            pat("+", v(1), iri(EX + "next"), v(2)),
        ],
        statements=[stmt_triple("+", v(0), iri(EX + "next"), v(2))],
    )
    sysm = System(spark, [tc])
    acc = spark.sparkContext.accumulator(0)

    def tick(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    counted = ds.triples.mapInPandas(tick, schema=ds.triples.schema)
    n_rows = 6  # stated chain facts
    baseline = persistent_rdd_ids(spark)
    vr = sysm.validate(Dataset(counted, ds.terms))
    # validate() itself reads the store once per hypothesis slot (2) to
    # build + checkpoint the substitutions; the error probe reads the
    # CACHED substitutions, not the store
    assert acc.value == 2 * n_rows, f"validate() scanned the store {acc.value / n_rows} times"
    assert vr.violations.count() > 0  # chain is not closed → MissingTriple
    a1 = acc.value
    assert vr.violations.count() > 0
    a2 = acc.value
    # each violations action re-reads the store exactly ONCE — the V2
    # containment anti-join (inherent to the check) — never the
    # hypothesis join cascade (which would add 2·n more row-reads)
    assert a2 - a1 == n_rows, (
        f"violations action cost {(a2 - a1) / n_rows} store scans — deduction recomputed"
    )
    vr.release()
    assert persistent_rdd_ids(spark) - baseline == set()


def test_streaming_pool_bounded_across_batches(spark):
    # the pool must hold ONE generation of graph state between batches —
    # pool size after batch k+1 equals pool size after batch k
    from inferdf_rs_spark.encode import iri_edges
    from inferdf_rs_spark.streaming.ingest import StreamingGraph

    r = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + "a"), v(1))],
        statements=[stmt_triple("+", v(0), iri(EX + "b"), v(1))],
    )
    sysm = System(spark, [r])
    sg = StreamingGraph(spark, sysm, out_dir="/tmp/unused")

    def batch(i):
        return iri_edges(
            spark.createDataFrame(
                [(EX + f"x{i}", EX + "a", EX + f"y{i}")], "s_lex string, p_lex string, o_lex string"
            )
        )

    sizes = []
    for i in range(3):
        sg.process_batch(batch(i), i)
        sizes.append(len(persistent_rdd_ids(spark)))
    assert sizes[2] <= sizes[1], f"streaming pool grew across batches: {sizes}"
    assert sg.store.count() == 6  # 3 stated + 3 deduced
    sg._tracker.release()


def test_pipeline_release_restores_pool(spark):
    # run_pipeline materializes every stage through one tracker whose ids
    # ride on the result: release() frees the whole run, the extracted
    # pages, the stated layer and the terms included
    from inferdf_rs_spark.extraction import synth
    from inferdf_rs_spark.pipelines import webkg

    pages = synth.synth_pages(spark, 60)
    baseline = persistent_rdd_ids(spark)
    pr = webkg.run_pipeline(spark, pages)
    assert pr.result.store.count() == pr.n_total
    pr.result.release()
    left = persistent_rdd_ids(spark) - baseline
    assert left == set(), f"release() left {len(left)} checkpoints of the run behind"


def test_stream_batch_expression_error_releases_pool(spark):
    # a micro-batch makes no checkpoint of its own, so one whose fixpoint
    # raises leaves the pool as it found it
    import pytest

    from inferdf_rs_spark import call, stmt_true
    from inferdf_rs_spark.operators.fixpoint import ExpressionError
    from inferdf_rs_spark.schemas import KIND_LITERAL, XSD
    from inferdf_rs_spark.streaming.ingest import StreamingGraph

    # unparsable decimal facet → conversion error inside the compare
    edges = spark.createDataFrame(
        [(EX + "x", EX + "p", KIND_LITERAL, "abc", XSD + "int")],
        "s_lex string, p_lex string, o_kind int, o_lex string, o_dt string",
    )
    r = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + "p"), v(1))],
        statements=[stmt_true("+", call("lt", v(1)))],
    )
    sg = StreamingGraph(spark, System(spark, [r]), out_dir="/tmp/unused")
    baseline = persistent_rdd_ids(spark)
    with pytest.raises(ExpressionError):
        sg.process_batch(edges, 0)
    leaked = persistent_rdd_ids(spark) - baseline
    assert leaked == set(), f"a failed micro-batch leaked {len(leaked)} checkpoints"
