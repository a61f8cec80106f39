"""X1 custom functions, X2 source backends, and streaming ingest tests."""

import pytest

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
    stmt_true,
    v,
)
from inferdf_rs_spark.functions import DEFAULT_FUNCTIONS
from inferdf_rs_spark.sources.registry import read_dataset, write_dataset

EX = "https://example.org/#"


def test_custom_function_strlen(spark):
    # (>= (strlen ?name) 5) over a string literal
    ds = build_dataset(spark, [(blank("0"), iri(EX + "name"), Term.literal("Armstrong"))])
    r = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + "name"), v(1))],
        statements=[stmt_true("+", call("geq", call("strlen", v(1)), dec(5)))],
    )
    sysm = System(spark, [r], functions=DEFAULT_FUNCTIONS)
    assert sysm.validate(ds).is_valid()

    r2 = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + "name"), v(1))],
        statements=[stmt_true("+", call("lt", call("strlen", v(1)), dec(5)))],
    )
    assert not System(spark, [r2], functions=DEFAULT_FUNCTIONS).validate(ds).is_valid()


def test_custom_function_concat_starts_with(spark):
    ds = build_dataset(spark, [(blank("0"), iri(EX + "p"), Term.literal("world"))])
    r = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + "p"), v(1))],
        statements=[
            stmt_true("+", call("eq", call("concat", s_("hello "), v(1)), s_("hello world"))),
            stmt_true("+", call("starts_with", s_("wor"), v(1))),
        ],
    )
    assert System(spark, [r], functions=DEFAULT_FUNCTIONS).validate(ds).is_valid()


def test_unknown_function_raises(spark):
    ds = build_dataset(spark, [(blank("0"), iri(EX + "p"), blank("1"))])
    r = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EX + "p"), v(1))],
        statements=[stmt_true("+", call("no_such_fn", v(1)))],
    )
    with pytest.raises(ValueError, match="no_such_fn"):
        System(spark, [r]).validate(ds)


@pytest.mark.parametrize("fmt", ["parquet", "json", "csv"])
def test_dataset_roundtrip_formats(spark, tmp_path, fmt):
    ds = build_dataset(
        spark,
        [
            (blank("a"), iri(EX + "p"), blank("b")),
            (blank("b"), iri(EX + "p"), Term.literal("x")),
        ],
    )
    path = str(tmp_path / fmt)
    write_dataset(ds, path, fmt=fmt)
    back = read_dataset(spark, path, fmt=fmt)
    assert sorted(map(tuple, back.triples.select("s", "p", "o").collect())) == sorted(
        map(tuple, ds.triples.select("s", "p", "o").collect())
    )
    assert back.terms.count() == ds.terms.count()


def test_ann_lsh_recall_vs_exact(spark):
    """Semantic-quality guard for the ANN path (row-level correctness is
    the DuckDB oracle in __spark_entry__): multi-table multi-probe
    sign-LSH must reach recall ≥ 0.9 @ k=10 against the brute-force
    exact top-k on the sf0.01 fixture (measured 0.96 at the default
    n_tables=8, n_planes=8, n_probes=3 with integer-quantized planes)."""
    from inferdf_rs_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()
    qids = [0, 1, 2, 3, 4]
    exact = similarity.brute_force_topk(emb, qids, k=10)
    approx = similarity.lsh_bucket_ann(emb, qids, k=10, dim=64)
    recall = similarity.recall_vs_exact(approx, exact)
    emb.unpersist()
    assert recall >= 0.9, f"LSH-ANN recall {recall} < 0.9"


def test_ann_lsh_auto_params_recall_at_scale(spark):
    """Joint auto-parameterization (auto_lsh_params) must hold recall
    ≥ 0.9 on the largest feasible local fixture — 50k clustered
    vectors, 25× the sf0.1 table, where auto_n_planes already exceeds
    the hand-tuned 8-plane default — with n_tables/n_probes scaled
    alongside the plane count.  Also pins the model's clamp behavior:
    at 10^10 vectors the plane count hi-clamps at 24 and the table
    count rises to compensate."""
    import numpy as np

    from inferdf_rs_spark.operators import similarity

    # clamp behavior: planes saturate, tables grow to hold recall
    p_small, t_small, _ = similarity.auto_lsh_params(10**5)
    p_huge, t_huge, probes_huge = similarity.auto_lsh_params(10**10)
    assert p_huge == 24 and p_small < p_huge
    assert t_huge > t_small and probes_huge >= 3

    # 50k clustered vectors (500 clusters × 100, centroid + noise —
    # embedding-like geometry where neighbors are genuinely close)
    rng = np.random.RandomState(7)
    dim, n_clusters, per = 32, 500, 100
    cents = rng.randn(n_clusters, dim)
    vecs = (
        np.repeat(cents, per, axis=0) + 0.35 * rng.randn(n_clusters * per, dim)
    ).astype("float32")
    n = len(vecs)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id bigint, embedding array<float>",
    ).cache()
    emb.count()
    qids = [0, 5_000, 17_500, 33_333, 49_999]
    planes, tables, probes = similarity.auto_lsh_params(n)
    assert planes > 8  # this fixture really is past the hand-tuned default
    exact = similarity.brute_force_topk(emb, qids, k=10)
    approx = similarity.lsh_bucket_ann(
        emb, qids, k=10, dim=dim, n_planes=None, n_tables=None, n_vectors=n
    )
    recall = similarity.recall_vs_exact(approx, exact)
    emb.unpersist()
    assert recall >= 0.9, (
        f"auto-params recall {recall} < 0.9 at n={n} (planes={planes}, "
        f"tables={tables}, probes={probes})"
    )


def test_ann_lsh_auto_planes_bound_occupancy(spark):
    """auto_n_planes must grow the plane count with the corpus so the
    probed-candidate count stays SUBLINEAR in n: a 10× corpus gets more
    planes and produces far fewer than 10× the candidates."""
    import hashlib

    from inferdf_rs_spark.operators import similarity

    assert similarity.auto_n_planes(5_000) > similarity.auto_n_planes(500)
    # expected per-table occupancy bounded across 6 orders of magnitude
    for n in (10**3, 10**5, 10**7):
        planes = similarity.auto_n_planes(n)
        assert n / 2**planes <= 64 or planes == 24  # hi-clamp at extreme n

    def vecs(n, dim=16):
        rows = [
            (
                i,
                [
                    float(
                        int.from_bytes(hashlib.md5(f"v:{i}:{d}".encode()).digest()[:4], "big")
                        / 2**32
                        - 0.5
                    )
                    for d in range(dim)
                ],
            )
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    qids = [0, 1, 2]
    c_small = similarity.lsh_candidate_count(
        vecs(500), qids, dim=16, n_planes=None, n_vectors=500, n_probes=1
    )
    c_big = similarity.lsh_candidate_count(
        vecs(5_000), qids, dim=16, n_planes=None, n_vectors=5_000, n_probes=1
    )
    # measured ratio ≈ 2.2 at 10× corpus; assert comfortably sublinear
    assert c_big < 5 * c_small, f"candidates scaled ~linearly: {c_small} -> {c_big}"


def test_ann_lsh_requires_dim(spark):
    # library functions must not probe data from the driver (.first())
    from inferdf_rs_spark.operators import similarity

    emb = spark.range(1).select(F_array_dummy())
    with pytest.raises(ValueError, match="dim"):
        similarity.lsh_bucket_ann(emb, [0], k=1)


def F_array_dummy():
    from pyspark.sql import functions as F

    return F.array(F.lit(0.0)).alias("embedding")


def test_streaming_accumulates_minted_terms_and_eqs(spark):
    """Incremental batches with a rule system that mints existentials and
    emits Eq pairs: every term id in the accumulated store must resolve
    in the accumulated dictionary, and Eq conclusions must survive the
    seeded path (regression: the old seeded loop dropped both)."""
    from inferdf_rs_spark.encode import iri_edges
    from inferdf_rs_spark.rules import stmt_eq, stmt_triple
    from inferdf_rs_spark.streaming.ingest import StreamingGraph

    EXK = "https://example.org/k#"
    r_mint = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EXK + "a"), v(1))],
        statements=[stmt_triple("+", v(0), iri(EXK + "b"), v(2))],
        existentials=1,
    )
    r_eq = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EXK + "same"), v(1))],
        statements=[stmt_eq("+", v(0), v(1))],
    )
    sysm = System(spark, [r_mint, r_eq])
    sg = StreamingGraph(spark, sysm, out_dir="/tmp/unused")

    def batch(rows):
        return iri_edges(
            spark.createDataFrame(rows, "s_lex string, p_lex string, o_lex string")
        )

    sg.process_batch(batch([(EXK + "x1", EXK + "a", EXK + "y1")]), 0)
    sg.process_batch(
        batch([(EXK + "x2", EXK + "a", EXK + "y2"), (EXK + "x2", EXK + "same", EXK + "y2")]), 1
    )
    # every id referenced by the store resolves in the dictionary
    ids = (
        sg.store.selectExpr("s AS t")
        .unionByName(sg.store.selectExpr("p AS t"))
        .unionByName(sg.store.selectExpr("o AS t"))
        .dropDuplicates()
    )
    unresolved = ids.join(sg.terms.selectExpr("term_id AS t"), "t", "left_anti").count()
    assert unresolved == 0
    # both batches minted one existential each → 2 kg:b facts
    assert sg.store.filter("rule_id IS NOT NULL").count() == 2
    # the Eq conclusion from the seeded batch survived
    assert sg.eqs is not None and sg.eqs.count() == 1


def test_id_width_collision_fallback(spark):
    """The collision audit trips on a term population whose ids collide
    at a narrow width and passes the SAME population at 128-bit — the
    documented remedy for a tripped 64-bit audit at the 10^12-term
    design point (terms.set_id_bits)."""
    from inferdf_rs_spark import id_bits
    from inferdf_rs_spark.terms import audit_collisions, terms_df

    terms = [blank(f"t{i}") for i in range(2000)]
    # 16-bit ids: 2000 draws from 2^16 → birthday collisions certain
    with id_bits(16):
        assert audit_collisions(terms_df(spark, terms)).count() > 0
    with id_bits(128):
        tdf = terms_df(spark, terms)
        assert dict(tdf.dtypes)["term_id"] == "decimal(38,0)"
        assert audit_collisions(tdf).count() == 0
        assert tdf.select("term_id").distinct().count() == 2000


def test_id_width_128_engine_parity(spark):
    """The full engine path — encode, conjunctive join, semi-naive
    fixpoint (both broadcast and co-partitioned-piece regimes), decode —
    must produce the identical lexical closure under 128-bit decimal ids
    as under default 64-bit ids (ids are opaque to every operator)."""
    from inferdf_rs_spark import id_bits
    from inferdf_rs_spark.terms import decode_triples

    def closure(**kw):
        chain = [(blank(str(i)), iri(EX + "anc"), blank(str(i + 1))) for i in range(5)]
        ds = build_dataset(spark, chain)
        from inferdf_rs_spark import stmt_triple

        tc = rule(
            variables=3,
            hypothesis=[
                pat("+", v(0), iri(EX + "anc"), v(1)),
                pat("+", v(1), iri(EX + "anc"), v(2)),
            ],
            statements=[stmt_triple("+", v(0), iri(EX + "anc"), v(2))],
        )
        res = System(spark, [tc]).fixpoint(ds, **kw)
        rows = sorted(
            (r.s_lex, r.p_lex, r.o_lex, bool(r.sign))
            for r in decode_triples(res.store, res.terms).collect()
        )
        res.release()
        return rows

    want = closure()
    with id_bits(128):
        assert closure() == want
        assert closure(store_broadcast_rows=0, compact_pieces=2) == want


def test_id_width_128_pipeline_parity(spark, tmp_path):
    """The whole north-rule pipeline — fused extraction, bulk encoding,
    stated-layer dedup, rule fixpoint, predicate-bucket materialization
    and re-open — must produce the identical lexical graph under 128-bit
    decimal ids as under the 64-bit default."""
    from inferdf_rs_spark import id_bits
    from inferdf_rs_spark.extraction import synth
    from inferdf_rs_spark.pipelines import webkg
    from inferdf_rs_spark.terms import decode_triples

    pages = synth.synth_pages(spark, 40).localCheckpoint(eager=True)

    def lexical_graph(pr):
        return sorted(
            (r.s_lex, r.p_lex, r.o_lex)
            for r in decode_triples(pr.result.store, pr.result.terms).collect()
        )

    base = webkg.run_pipeline(spark, pages, skip_fidelity=True)
    want = lexical_graph(base)
    with id_bits(128):
        out = str(tmp_path / "g128")
        wide = webkg.run_pipeline(spark, pages, out_dir=out, skip_fidelity=True)
        assert dict(wide.result.store.dtypes)["s"] == "decimal(38,0)"
        assert wide.n_total == base.n_total
        assert lexical_graph(wide) == want
        # materialized graph round-trips at the wide width
        rg = webkg.read_graph(spark, out)
        assert rg.triples.count() == wide.n_total


def test_streaming_replay_idempotent(spark):
    """foreachBatch restart semantics: on recovery Spark REDELIVERS the
    last uncommitted micro-batch (same epoch id, same data).  Replaying
    an already-applied batch must leave the accumulated graph unchanged
    — same store count, same canonical graph signature — which is what
    makes the streaming-checkpoint exactly-once claim
    (streaming/ingest.py module doc) actually hold end-to-end."""
    from inferdf_rs_spark.encode import iri_edges
    from inferdf_rs_spark.operators.canon import graph_signature
    from inferdf_rs_spark.rules import stmt_triple
    from inferdf_rs_spark.streaming.ingest import StreamingGraph

    EXK = "https://example.org/r#"
    r = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EXK + "a"), v(1))],
        statements=[stmt_triple("+", v(0), iri(EXK + "b"), v(1))],
    )
    sysm = System(spark, [r])
    sg = StreamingGraph(spark, sysm, out_dir="/tmp/unused")

    def batch(rows):
        return iri_edges(
            spark.createDataFrame(rows, "s_lex string, p_lex string, o_lex string")
        )

    sg.process_batch(batch([(EXK + "x1", EXK + "a", EXK + "y1")]), 0)
    sg.process_batch(batch([(EXK + "x2", EXK + "a", EXK + "y2")]), 1)
    n = sg.store.count()
    sig = graph_signature(sg.store, sg.terms)

    sg.process_batch(batch([(EXK + "x2", EXK + "a", EXK + "y2")]), 1)  # replayed epoch

    assert sg.store.count() == n
    assert graph_signature(sg.store, sg.terms) == sig
    sg._tracker.release()


def test_streaming_counts_submit_no_job(spark, count_jobs):
    """``StreamingGraph.counts()`` returns the store row count observed on
    the checkpoint that copied the current generation (the count the
    next batch passes the fixpoint as ``store_rows``): it submits no
    Spark job.  A batch that repeats a stored fact adds it once."""
    from inferdf_rs_spark.encode import iri_edges
    from inferdf_rs_spark.rules import stmt_triple
    from inferdf_rs_spark.streaming.ingest import StreamingGraph

    EXK = "https://example.org/c#"
    r = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EXK + "a"), v(1))],
        statements=[stmt_triple("+", v(0), iri(EXK + "b"), v(1))],
    )
    sg = StreamingGraph(spark, System(spark, [r]), out_dir="/tmp/unused")

    def batch(rows):
        return iri_edges(
            spark.createDataFrame(rows, "s_lex string, p_lex string, o_lex string")
        )

    sg.process_batch(batch([(EXK + "x1", EXK + "a", EXK + "y1")]), 0)
    sg.process_batch(
        batch([(EXK + "x1", EXK + "a", EXK + "y1"), (EXK + "x2", EXK + "a", EXK + "y2")]), 1
    )
    with count_jobs() as jobs:
        counts = sg.counts()
    assert jobs.n == 0
    assert counts == (4, 2) and sg.store.count() == 4
    sg._tracker.release()


def test_streaming_snapshot_commits_monotone_feed(spark, tmp_path):
    """commit_every=1: each micro-batch publishes a snapshot version of
    the accumulated graph; because incremental maintenance only appends,
    the CDC feed between consecutive versions is pure 'added' rows and
    each version's count equals the store at that batch."""
    from pyspark.sql import functions as F

    from inferdf_rs_spark.encode import iri_edges
    from inferdf_rs_spark.rules import stmt_triple
    from inferdf_rs_spark.sources import snapshots as snap
    from inferdf_rs_spark.streaming.ingest import StreamingGraph

    EXK = "https://example.org/r#"
    r = rule(
        variables=2,
        hypothesis=[pat("+", v(0), iri(EXK + "a"), v(1))],
        statements=[stmt_triple("+", v(0), iri(EXK + "b"), v(1))],
    )
    root = str(tmp_path / "stream_store")
    sg = StreamingGraph(spark, System(spark, [r]), root, commit_every=1)

    def batch(rows):
        return iri_edges(
            spark.createDataFrame(rows, "s_lex string, p_lex string, o_lex string")
        )

    sg.process_batch(batch([(EXK + "x1", EXK + "a", EXK + "y1")]), 0)
    n1 = sg.store.count()
    sg.process_batch(batch([(EXK + "x2", EXK + "a", EXK + "y2")]), 1)
    n2 = sg.store.count()

    assert snap.latest_version(root) == 2
    assert snap.read_graph_version(spark, root, version=1).triples.count() == n1
    assert snap.read_graph_version(spark, root, version=2).triples.count() == n2

    diff = snap.snapshot_diff(spark, root, 1, 2)
    assert diff.filter(F.col("change") == "removed").count() == 0
    assert diff.count() == n2 - n1
    sg._tracker.release()


def test_streaming_incremental_graph(spark, tmp_path):
    """Two page micro-batches; the incremental graph equals the batch
    pipeline's fixpoint over the union."""
    from inferdf_rs_spark.extraction import synth
    from inferdf_rs_spark.pipelines import webkg
    from inferdf_rs_spark.streaming.ingest import stream_pages_to_graph

    pages_dir = str(tmp_path / "pages_stream")
    all_pages = synth.synth_pages(spark, 30).persist()
    all_pages.filter("url like '%/1_' or url like '%/_'").write.parquet(pages_dir + "/b1")
    all_pages.filter("url like '%/2_'").write.parquet(pages_dir + "/b2")

    sysm = System(spark, webkg.web_rules())
    q, sg = stream_pages_to_graph(
        spark,
        sysm,
        pages_dir + "/*",
        str(tmp_path / "out"),
        synth.alias_dict(spark),
        synth.entity_types(spark),
        synth.sameas_seed(spark),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    n_stream, n_batches = sg.counts()
    assert n_batches >= 1

    # batch reference
    pr = webkg.run_pipeline(spark, all_pages, skip_fidelity=True)
    assert n_stream == pr.n_total
    all_pages.unpersist()


def _start_page_stream(spark, pages_dir, out_dir, checkpoint):
    from inferdf_rs_spark.extraction import synth
    from inferdf_rs_spark.pipelines import webkg
    from inferdf_rs_spark.streaming.ingest import stream_pages_to_graph

    return stream_pages_to_graph(
        spark,
        System(spark, webkg.web_rules()),
        pages_dir,
        out_dir,
        synth.alias_dict(spark),
        synth.entity_types(spark),
        synth.sameas_seed(spark),
        checkpoint=checkpoint,
    )


def test_streaming_fidelity_violation_fails_batch(spark, tmp_path):
    """A micro-batch holding a page whose ``text`` is not its stripped
    ``html`` fails the stream, as it fails the batch pipeline."""
    from pyspark.sql import functions as F

    from inferdf_rs_spark.extraction import synth

    pages_dir = str(tmp_path / "pages")
    pages = synth.synth_pages(spark, 6)
    tampered = F.col("url") == "https://example.org/page/3"
    pages.withColumn(
        "text", F.when(tampered, F.concat("text", F.lit(" tampered"))).otherwise(F.col("text"))
    ).write.parquet(pages_dir)

    q, sg = _start_page_stream(spark, pages_dir, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    try:
        with pytest.raises(Exception, match="extraction fidelity violated on 1 urls"):
            q.processAllAvailable()
    finally:
        q.stop()
    assert sg.batches == 0


def test_streaming_collects_alias_vocabulary_once(spark, tmp_path, monkeypatch):
    """The stream collects the alias vocabulary once, not once per
    micro-batch.  One page file per micro-batch: the file source is held
    to one file per trigger so the stream runs two batches."""
    from pyspark.sql.streaming.readwriter import DataStreamReader

    from inferdf_rs_spark.extraction import extract, synth

    pages_dir = str(tmp_path / "pages")
    pages = synth.synth_pages(spark, 20)
    pages.filter("url like '%/1_'").coalesce(1).write.parquet(pages_dir + "/b1")
    pages.filter("url like '%/_'").coalesce(1).write.parquet(pages_dir + "/b2")

    calls = []
    collect = extract.collect_alias_vocabulary
    monkeypatch.setattr(
        extract, "collect_alias_vocabulary", lambda d: calls.append(1) or collect(d)
    )
    parquet = DataStreamReader.parquet
    monkeypatch.setattr(
        DataStreamReader,
        "parquet",
        lambda self, path: parquet(self.option("maxFilesPerTrigger", 1), path),
    )

    q, sg = _start_page_stream(
        spark, pages_dir + "/*", str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()
    assert sg.batches == 2
    assert len(calls) == 1
    sg._tracker.release()


def test_auto_lsh_params_probes_override_and_clamp_warning():
    """ADVICE r4 pair: (a) a no-probe caller (exact code match — Hamming
    radius 0, the embedding near-dup path) passes ``probes=1`` and gets
    a table count sized from the radius-0 collision probability
    p^planes — strictly more tables than the multiprobe path needs at
    the same target recall; (b) when the computed table count clamps at
    ``max_tables`` the unmet recall target surfaces as a UserWarning,
    never silently."""
    import warnings

    from inferdf_rs_spark.operators import similarity

    p_multi, t_multi, pr_multi = similarity.auto_lsh_params(500)
    p_one, t_one, pr_one = similarity.auto_lsh_params(500, probes=1)
    assert p_one == p_multi and pr_one == 1
    assert t_one > t_multi, "radius-0 sizing must compensate with more tables"
    # the radius-0 model recall at the chosen table count meets target
    q0 = (2.0 / 3.0) ** p_one
    assert 1.0 - (1.0 - q0) ** t_one >= 0.9

    # no warning in the healthy regime
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        similarity.auto_lsh_params(500)

    # hi-clamp regime: planes clamp at 24, tables clamp at 64 and the
    # model's own recall is below target — must be reported
    with pytest.warns(UserWarning, match="max_tables"):
        similarity.auto_lsh_params(10**10)


def test_embed_near_dup_joint_auto_uses_radius0_tables(spark):
    """The joint-auto near-dup path must size tables via probes=1 (it
    matches codes exactly) — pinned by intercepting the params call."""
    from inferdf_rs_spark.operators import similarity

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0, 0.5]) for i in range(40)],
        "vec_id bigint, embedding array<float>",
    )
    seen = {}
    orig = similarity.auto_lsh_params

    def spy(n_vectors, *a, **kw):
        out = orig(n_vectors, *a, **kw)
        seen["args"] = (n_vectors, kw.get("probes"))
        seen["out"] = out
        return out

    similarity.auto_lsh_params, _saved = spy, orig
    try:
        pairs = similarity.embedding_near_dup_pairs(
            emb, threshold=0.99, dim=4, n_planes=None, n_tables=None, n_vectors=40
        )
        pairs.count()  # force plan execution
    finally:
        similarity.auto_lsh_params = _saved
    assert seen["args"] == (40, 1)
    assert seen["out"][2] == 1  # probes pinned to 1


def test_dedup_groups_collapses_chains(spark):
    """A~B and B~C near-dups (A!~C directly) must land in ONE cluster
    with the minimum id as representative; drop_near_dups keeps exactly
    the representative plus all singletons."""
    from pyspark.sql import functions as F

    from inferdf_rs_spark.operators.dedup import dedup_groups, drop_near_dups

    base = "the quick brown fox jumps over the lazy dog again and again " * 6
    rows = [
        (1, base + "alpha beta gamma delta"),          # A
        (2, base + "alpha beta gamma epsilon"),        # B ~ A and ~ C
        (3, base + "alpha beta zeta epsilon"),         # C
        (10, "completely unrelated text about spark engines " * 8),
        (11, "another standalone document on graph closure theory " * 8),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    groups = dedup_groups(docs, threshold=0.5).collect()
    by_id = {r["doc_id"]: r for r in groups}
    assert set(by_id) == {1, 2, 3}, "singletons must not appear in clusters"
    assert {r["rep_id"] for r in groups} == {1}, "chained cluster collapses to min id"
    assert all(r["cluster_size"] == 3 for r in groups)

    kept = {r["doc_id"] for r in drop_near_dups(docs, threshold=0.5).collect()}
    assert kept == {1, 10, 11}

    # precomputed-pairs path: bypass minhash, feed explicit pairs
    pairs = spark.createDataFrame([(10, 11)], ["id_a", "id_b"])
    g2 = dedup_groups(docs, pairs=pairs).collect()
    assert {(r["doc_id"], r["rep_id"]) for r in g2} == {(10, 10), (11, 10)}


def test_streaming_retract_then_readd_roundtrip(spark):
    """Mid-stream retraction (StreamingGraph.retract_batch): the DRed
    pass restores the exact closure of the surviving stated facts, a
    later batch re-delivering the retracted fact re-inserts it as a
    genuine delta (same signature as before the retraction), and the
    storage pool still holds one generation between batches."""
    from inferdf_rs_spark.caches import persistent_rdd_ids
    from inferdf_rs_spark.encode import iri_edges
    from inferdf_rs_spark.operators.canon import graph_signature
    from inferdf_rs_spark.rules import stmt_triple
    from inferdf_rs_spark.streaming.ingest import StreamingGraph

    EXK = "https://example.org/sr#"
    tc = rule(
        variables=3,
        hypothesis=[
            pat("+", v(0), iri(EXK + "n"), v(1)),
            pat("+", v(1), iri(EXK + "n"), v(2)),
        ],
        statements=[stmt_triple("+", v(0), iri(EXK + "n"), v(2))],
    )
    sysm = System(spark, [tc])
    sg = StreamingGraph(spark, sysm, out_dir="/tmp/unused")

    def batch(rows):
        return iri_edges(
            spark.createDataFrame(rows, "s_lex string, p_lex string, o_lex string")
        )

    chain = [(EXK + a, EXK + "n", EXK + b) for a, b in [("a", "b"), ("b", "c"), ("c", "d")]]
    sg.process_batch(batch(chain), 0)
    sig_full = graph_signature(sg.store, sg.terms)
    n_full = sg.store.count()

    # retract the middle edge: closure must shrink to the two fragments
    from inferdf_rs_spark.engine import build_dataset

    pair = build_dataset(spark, [(iri(EXK + "b"), iri(EXK + "n"), iri(EXK + "c"))])
    pool_before = len(persistent_rdd_ids(spark))
    sg.retract_batch(pair.triples.select("s", "p", "o", "sign"))
    assert sg.store.count() == 2  # a->b, c->d only; no entailed facts left
    # one-generation discipline: the pool did not grow across the call
    assert len(persistent_rdd_ids(spark)) <= pool_before + 4

    # re-adding the edge restores the original closure exactly
    sg.process_batch(batch([chain[1]]), 1)
    assert sg.store.count() == n_full
    assert graph_signature(sg.store, sg.terms) == sig_full
    sg._tracker.release()
