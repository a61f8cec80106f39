"""End-to-end north-rule pipeline tests: extraction fidelity, deterministic
entity linking, and a golden P/R harness over the synthesized pages."""

import itertools
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from inferdf_rs_spark.extraction import synth
from inferdf_rs_spark.extraction.extract import extract_text, link_mentions, verify_fidelity
from inferdf_rs_spark.pipelines import webkg
from inferdf_rs_spark.schemas import KIND_IRI, RDF_TYPE
from inferdf_rs_spark.terms import decode_triples

N_PAGES = 60


def gold_mentions(n_pages):
    """Driver-side replica of synthesis + detection + linking."""
    aliases = sorted({a for a, _, _ in synth.ALIAS_ROWS})
    n_al, n_fill = len(aliases), len(synth.FILLER)
    best = {}
    for a, iri_, score in synth.ALIAS_ROWS:
        cur = best.get(a)
        if cur is None or (score, [iri_]) > (cur[0], [cur[1]]):
            # higher score wins; tie → iri asc
            if cur is None or score > cur[0] or (score == cur[0] and iri_ < cur[1]):
                best[a] = (score, iri_)
    vocab = set(best)
    out = {}
    for i in range(n_pages):
        words = [
            aliases[(i * 7 + (k // 8) * 5) % n_al]
            if k % 8 == 0
            else synth.FILLER[(i * 5 + k * 3) % n_fill]
            for k in range(24)
        ]
        text = " ".join(words + ["& more"])
        toks = [t for t in __import__("re").split(r"[^a-z0-9]+", text.lower()) if t]
        cands = set()
        for n in (1, 2):
            for j in range(len(toks) - n + 1):
                c = " ".join(toks[j : j + n])
                if c in vocab:
                    cands.add(c)
        out[f"https://example.org/page/{i}"] = {best[c][1] for c in cands}
    return out


def sameas_closure():
    """Symmetric-transitive closure classes over the seed pairs."""
    import collections

    adj = collections.defaultdict(set)
    for a, b in synth.SAMEAS_SEED:
        adj[a].add(b)
        adj[b].add(a)
    classes = {}
    for start in adj:
        if start in classes:
            continue
        comp, stack = set(), [start]
        while stack:
            x = stack.pop()
            if x in comp:
                continue
            comp.add(x)
            stack.extend(adj[x])
        for x in comp:
            classes[x] = comp
    return classes


def test_extraction_fidelity(spark):
    pages = synth.synth_pages(spark, N_PAGES)
    assert verify_fidelity(extract_text(pages)) == 0


def test_link_determinism_and_ambiguity(spark):
    pages = synth.synth_pages(spark, N_PAGES)
    linked = link_mentions(pages, synth.alias_dict(spark), text_col="text")
    rows = linked.collect()
    # ambiguous alias resolves to the higher-score IRI
    for r in rows:
        if r.surface == "mercury":
            assert r.iri == synth.ENT + "mercury_planet"
    # two runs identical
    rows2 = link_mentions(pages, synth.alias_dict(spark), text_col="text").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_gazetteer_trie_regex_parity(spark):
    # the two detector paths (compiled alternation vs broadcast token
    # trie) must emit identical mention lists on the same corpus
    from inferdf_rs_spark.extraction import extract

    pages = synth.synth_pages(spark, 40)
    aliases = [r.alias for r in synth.alias_dict(spark).select("alias").distinct().collect()]
    d_regex = extract.make_mention_detector(aliases, spark=spark)
    saved = extract.REGEX_GAZETTEER_MAX
    extract.REGEX_GAZETTEER_MAX = 0  # force the trie path
    try:
        d_trie = extract.make_mention_detector(aliases, spark=spark)
    finally:
        extract.REGEX_GAZETTEER_MAX = saved
    import pyspark.sql.functions as F

    got = pages.select(
        "url", d_regex(F.col("text")).alias("a"), d_trie(F.col("text")).alias("b")
    ).collect()
    assert got and all(r.a == r.b for r in got)


def test_gazetteer_50k_aliases_completes(spark):
    # the compiled-alternation regex cannot survive a 50k-alias dict;
    # the broadcast trie path must detect over the synth corpus fine
    from inferdf_rs_spark.extraction import extract
    import pyspark.sql.functions as F

    real = [r.alias for r in synth.alias_dict(spark).select("alias").distinct().collect()]
    fake = [f"zzalias{i} q{i % 97}" for i in range(50_000 - len(real))]
    detect = extract.make_mention_detector(real + fake, spark=spark)
    pages = synth.synth_pages(spark, 40)
    out = pages.select("url", F.explode(detect(F.col("text"))).alias("surface"))
    # fake aliases never occur; real ones still found
    assert out.count() > 0
    assert out.filter(F.col("surface").startswith("zzalias")).count() == 0


def test_fused_extract_detect_parity(spark):
    """The fused extract+detect kernel (one Arrow pass, run_pipeline's
    fast path) must emit exactly the surfaces and fidelity bit of the
    unfused extract_text → make_mention_detector → eqNullSafe path, on
    BOTH physical matcher paths (compiled regex / broadcast trie)."""
    from inferdf_rs_spark.extraction import extract

    pages = synth.synth_pages(spark, 40)
    aliases = [r.alias for r in synth.alias_dict(spark).select("alias").distinct().collect()]

    def run_parity():
        fused = extract.make_fused_extract_detect(aliases, spark=spark)
        det = extract.make_mention_detector(aliases, spark=spark)
        a = pages.select(
            "url", fused(F.decode(F.col("html"), "utf-8"), F.col("text")).alias("ex")
        )
        b = extract_text(pages).select(
            "url",
            det(F.col("extracted_text")).alias("ref_surfaces"),
            F.col("extracted_text").eqNullSafe(F.col("text")).alias("ref_fid"),
        )
        rows = a.join(b, "url").collect()
        assert rows
        for r in rows:
            assert list(r.ex.surfaces) == list(r.ref_surfaces), r.url
            assert r.ex.fid_ok == r.ref_fid, r.url

    run_parity()  # regex path
    saved = extract.REGEX_GAZETTEER_MAX
    extract.REGEX_GAZETTEER_MAX = 0  # force the broadcast-trie path
    try:
        run_parity()
    finally:
        extract.REGEX_GAZETTEER_MAX = saved


def test_pipeline_golden_pr(spark, tmp_path):
    pages = synth.synth_pages(spark, N_PAGES)
    out_dir = str(tmp_path / "graph")
    pr = webkg.run_pipeline(spark, pages, out_dir=out_dir)
    assert pr.fidelity_violations == 0

    # ---- gold standard (reference semantics computed driver-side)
    KG = webkg.KG
    gold = set()
    mentions = gold_mentions(N_PAGES)
    classes = sameas_closure()
    for url, ents in mentions.items():
        full = set(ents)
        for e in ents:
            if e in classes:
                full |= classes[e]
        for e in full:
            gold.add((url, KG + "mentions", e))
            if synth.ENTITY_TYPES.get(e) == synth.TYPE + "Person":
                gold.add((url, KG + "mentionsPerson", e))
    # sameAs closure edges (irreflexive: engine derives a~a only via a~b~a)
    for a, comp in classes.items():
        for b in comp:
            gold.add((a, KG + "sameAs", b))
    for e, t in synth.ENTITY_TYPES.items():
        gold.add((e, RDF_TYPE, t))
    for i in range(N_PAGES):
        gold.add(
            (
                f"https://example.org/page/{i}",
                KG + "inLang",
                synth.LANGS[i % len(synth.LANGS)],
            )
        )

    decoded = decode_triples(pr.result.store, pr.result.terms)
    got = {(r.s_lex, r.p_lex, r.o_lex) for r in decoded.collect()}

    tp = len(got & gold)
    precision = tp / len(got)
    recall = tp / len(gold)
    assert precision >= 0.95 and recall >= 0.95, (
        f"P={precision} R={recall}; missing={list(gold - got)[:5]} extra={list(got - gold)[:5]}"
    )

    # ---- materialized graph round-trips
    ds = webkg.read_graph(spark, out_dir)
    assert ds.triples.count() == pr.n_total
    # lineage: entailed rows carry rule ids and rounds
    ent = ds.triples.filter(F.col("cause_kind") == 1)
    assert ent.filter(F.col("rule_id").isNull()).count() == 0
    assert ent.agg(F.min("round")).collect()[0][0] >= 1


def test_pipeline_reports_fidelity_violations(spark):
    """One page whose ``text`` is not its stripped ``html``: counted under
    ``skip_fidelity``, fatal without it."""
    pages = synth.synth_pages(spark, 10)
    tampered = F.col("url") == "https://example.org/page/3"
    pages = pages.withColumn(
        "text", F.when(tampered, F.concat("text", F.lit(" tampered"))).otherwise(F.col("text"))
    )
    pr = webkg.run_pipeline(spark, pages, skip_fidelity=True)
    assert (pr.fidelity_violations, pr.n_pages) == (1, 10)
    with pytest.raises(RuntimeError, match="extraction fidelity violated on 1 urls"):
        webkg.run_pipeline(spark, pages)


def test_materialized_graph_p_bound_scan_prunes_partitions(spark, tmp_path):
    """SURVEY §2 S2: the predicate-bucket layout must actually prune —
    a p-bound pattern over a read_graph dataset carries a p_bucket
    partition filter into the parquet scan (1/n_buckets of the
    directories), the Spark analogue of the reference's canonical-
    pattern index (src/pattern/map.rs:13-25)."""
    from inferdf_rs_spark import build_dataset, blank, iri, pat, v
    from inferdf_rs_spark.operators.match import scan_pattern
    from inferdf_rs_spark.pipelines.webkg import read_graph, write_graph
    from inferdf_rs_spark.terms import encode_terms

    EX = "https://example.org/#"
    ds = build_dataset(
        spark,
        [(blank(f"a{i}"), iri(EX + ("knows" if i % 2 else "likes")), blank(f"b{i}")) for i in range(8)],
    )
    out = str(tmp_path / "graph")
    write_graph(ds.triples, ds.terms, out)
    rg = read_graph(spark, out)
    assert rg.p_buckets == 16

    knows = iri(EX + "knows")
    cids = encode_terms(spark, [knows])

    def assert_prunes(df, expect_rows):
        plan = df._jdf.queryExecution().executedPlan().toString()
        pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert pf_lines and "p_bucket#" in pf_lines[0]
        assert "p_bucket" in pf_lines[0].split("PartitionFilters")[1]
        assert df.count() == expect_rows

    assert_prunes(scan_pattern(rg.triples, pat("+", v(0), knows, v(1)), cids, p_buckets=rg.p_buckets), 4)

    # pruning must SURVIVE composition: the bucket count rides on the
    # Dataset, so a .filter()-wrapped store still prunes when the engine
    # threads rg.p_buckets through (ADVICE r3)
    from pyspark.sql import functions as F

    wrapped = rg.triples.filter(F.col("sign"))
    assert_prunes(
        scan_pattern(wrapped, pat("+", v(0), knows, v(1)), cids, p_buckets=rg.p_buckets), 4
    )
    # and a frame that DROPPED the partition column must not raise —
    # the bucket predicate is skipped when p_bucket is absent
    shed = rg.triples.drop("p_bucket")
    assert scan_pattern(shed, pat("+", v(0), knows, v(1)), cids, p_buckets=rg.p_buckets).count() == 4


def test_pipeline_kill_resume_same_signature(spark, tmp_path):
    """North-rule resumability at PIPELINE level (the operator-level
    probe is test_fixpoint_checkpoint_resume): a run killed mid-fixpoint
    (round cap exhausted after round 1, meta says done=False) must
    resume from its checkpoint and produce a graph with the identical
    canonical signature as an uninterrupted run."""
    import pytest as _pytest

    from inferdf_rs_spark.extraction import synth
    from inferdf_rs_spark.operators.canon import graph_signature
    from inferdf_rs_spark.operators.fixpoint import read_meta
    from inferdf_rs_spark.pipelines import webkg

    pages = synth.synth_pages(spark, 120).localCheckpoint(eager=True)
    ck = str(tmp_path / "ck")

    # the "kill": the loop writes round 1's delta + meta, then dies at
    # the round cap (a real SIGKILL between rounds leaves the same state
    # because the meta write is atomic os.replace)
    with _pytest.raises(RuntimeError, match="did not converge"):
        webkg.run_pipeline(spark, pages, checkpoint_dir=ck, max_rounds=1, skip_fidelity=True)
    meta = read_meta(ck)
    assert meta["round"] == 1 and not meta["done"]

    resumed = webkg.run_pipeline(spark, pages, checkpoint_dir=ck, skip_fidelity=True)
    assert read_meta(ck)["done"]
    fresh = webkg.run_pipeline(spark, pages, skip_fidelity=True)

    assert resumed.n_total == fresh.n_total
    assert resumed.result.rounds >= 2  # it really did continue past round 1
    sig_resumed = graph_signature(resumed.result.store, resumed.result.terms)
    sig_fresh = graph_signature(fresh.result.store, fresh.result.terms)
    assert sig_resumed == sig_fresh


def test_pipeline_derived_counts_match_store(spark, tmp_path):
    """``n_stated`` comes from an Observation on the stated-triples
    checkpoint and ``n_total`` from ``n_stated`` plus each round's new
    facts; both must equal counts over the result store, on a fresh run,
    on a resume after a kill and on a rerun of a finished checkpoint."""
    from inferdf_rs_spark.schemas import CAUSE_STATED

    pages = synth.synth_pages(spark, N_PAGES).localCheckpoint(eager=True)

    def assert_counts(pr):
        store = pr.result.store
        assert pr.n_stated == store.filter(F.col("cause_kind") == CAUSE_STATED).count()
        assert pr.n_total == store.count()

    fresh = webkg.run_pipeline(spark, pages)
    assert_counts(fresh)
    ck = str(tmp_path / "ck")
    with pytest.raises(RuntimeError, match="did not converge"):
        webkg.run_pipeline(spark, pages, checkpoint_dir=ck, max_rounds=1)
    resumed = webkg.run_pipeline(spark, pages, checkpoint_dir=ck)
    assert_counts(resumed)
    rerun = webkg.run_pipeline(spark, pages, checkpoint_dir=ck)
    assert_counts(rerun)
    assert fresh.n_total == resumed.n_total == rerun.n_total


def test_small_store_fixpoint_job_count_pinned(spark, count_jobs):
    """The small-regime fixpoint on the golden fixture submits exactly 19
    Spark jobs over its 3 rounds, on every run: each round's stats ride
    on its checkpoint (one action) and every rule join broadcasts its
    store-side scan, so no join waits on AQE to re-plan a sort-merge
    join.  The checkpointed input is the base piece as it is (no persist
    and count), and the terms are not checkpointed again, since no web
    rule reads facets or mints terms.  A change that cuts jobs lowers
    this pin."""
    from inferdf_rs_spark.engine import Dataset
    from inferdf_rs_spark.schemas import CAUSE_STATED

    pr = webkg.run_pipeline(spark, synth.synth_pages(spark, N_PAGES))
    stated = pr.result.store.filter(F.col("cause_kind") == CAUSE_STATED).localCheckpoint(eager=True)
    terms = pr.result.terms.localCheckpoint(eager=True)
    for _ in range(2):
        with count_jobs() as jobs:
            res = webkg.web_system(spark).fixpoint(Dataset(stated, terms, n_triples=pr.n_stated))
        assert (res.rounds, jobs.n) == (3, 19)
        assert res.store.count() == pr.n_total
        res.release()


def test_pipeline_job_count_pinned(spark, count_jobs, tmp_path):
    """``run_pipeline`` on the golden fixture, written out, submits
    exactly 35 Spark jobs on every run, the first in the session
    included: the fixpoint's 19 (pinned above), and extraction, encode
    and ``write_graph`` around it.  Extraction is one checkpoint whose
    own job observes the page and fidelity-violation counts.  A change
    that cuts jobs lowers this pin."""
    pages = synth.synth_pages(spark, N_PAGES)
    for i in range(2):
        with count_jobs() as jobs:
            pr = webkg.run_pipeline(spark, pages, out_dir=str(tmp_path / f"g{i}"))
        assert (pr.n_total, jobs.n) == (389, 35)


def test_stream_micro_batch_job_count_pinned(spark, count_jobs):
    """One base and one delta ``StreamingGraph.process_batch`` over the
    golden fixture's pages (pages 0-39, then 40-59) submit exactly 25
    and 19 Spark jobs, on every run: each batch makes one fixpoint call
    and no checkpoint of its own.  The base batch passes its stated
    triples as they are, which the fixpoint's input rule checkpoints
    once with their count observed on the same job.  The delta batch
    passes the closed store as it is and its stated triples as the
    seed, which is anti-joined against the store and materialized once.
    The merged dictionary is materialized once, by the generation swap.
    A change that cuts jobs lowers these pins."""
    from inferdf_rs_spark import System
    from inferdf_rs_spark.streaming.ingest import StreamingGraph

    pages = synth.synth_pages(spark, N_PAGES)
    page_no = F.element_at(F.split("url", "/"), -1).cast("int")
    dicts = [synth.alias_dict(spark), synth.entity_types(spark), synth.sameas_seed(spark)]
    batches = [
        webkg.stated_edges(spark, extract_text(pages.filter(cond)), *dicts).localCheckpoint()
        for cond in (page_no < 40, page_no >= 40)
    ]
    pr = webkg.run_pipeline(spark, pages)
    counts = []
    for _ in range(2):
        sg = StreamingGraph(spark, System(spark, webkg.web_rules()), out_dir="/unused")
        for epoch, edges in enumerate(batches):
            with count_jobs() as jobs:
                sg.process_batch(edges, epoch)
            counts.append(jobs.n)
        assert sg.counts() == (pr.n_total, 2)
        sg._tracker.release()
    assert counts == [25, 19] * 2, counts


def test_pipeline_dedup_pages_drops_mirrors(spark):
    """dedup_pages=True: mirror urls serving byte-identical html are
    dropped before extraction (keeper = lexicographically smallest url),
    so the mirrored corpus produces the IDENTICAL graph to the clean
    one; without the flag the mirrors leak into the page count."""
    from inferdf_rs_spark.operators.canon import graph_signature

    pages = synth.synth_pages(spark, 30).localCheckpoint(eager=True)
    mirrors = pages.withColumn("url", F.concat(F.col("url"), F.lit("?mirror")))
    corpus = pages.unionByName(mirrors).localCheckpoint(eager=True)

    base = webkg.run_pipeline(spark, pages, skip_fidelity=True)
    deduped = webkg.run_pipeline(spark, corpus, skip_fidelity=True, dedup_pages=True)
    assert deduped.n_pages == 30 == base.n_pages
    assert deduped.n_total == base.n_total
    assert graph_signature(deduped.result.store, deduped.result.terms) == graph_signature(
        base.result.store, base.result.terms
    )

    undeduped = webkg.run_pipeline(spark, corpus, skip_fidelity=True)
    assert undeduped.n_pages == 60


def test_write_graph_skewed_predicates_balanced_writers(spark, tmp_path):
    """The salted writer layout must spread a dominant predicate bucket
    over many files (real predicate distributions are heavily skewed —
    a one-writer-per-bucket layout serializes the write behind the hub
    predicate), while keeping total file count ~bounded by
    target_writers (not tasks x buckets)."""
    import glob

    from pyspark.sql import functions as F

    from inferdf_rs_spark.pipelines.webkg import read_graph, write_graph
    from inferdf_rs_spark.schemas import TRIPLES_SCHEMA

    # 50k facts, 95% on one hub predicate
    hub, rare = 7777, 13
    df = (
        spark.range(50_000)
        .select(
            F.col("id").alias("s"),
            F.when(F.col("id") % 20 < 19, F.lit(hub)).otherwise(F.lit(rare)).alias("p"),
            (F.col("id") * 31).alias("o"),
            F.lit(True).alias("sign"),
            F.lit(0).alias("cause_kind"),
            F.lit(None).cast("long").alias("rule_id"),
            F.lit(None).cast("long").alias("subst_hash"),
            F.lit(0).alias("round"),
            F.lit("stated").alias("src_partition"),
            F.lit(None).cast("long").alias("g"),
        )
    )
    out = str(tmp_path / "g")
    write_graph(spark.createDataFrame(df.collect(), TRIPLES_SCHEMA), df.limit(0).select("s"), out, target_writers=8)
    hub_files = glob.glob(f"{out}/triples/p_bucket={hub % 16}/*.parquet")
    all_files = glob.glob(f"{out}/triples/p_bucket=*/*.parquet")
    assert len(hub_files) >= 4, f"hub bucket written by {len(hub_files)} writer(s) — skew not spread"
    assert len(all_files) <= 3 * 8, f"{len(all_files)} files — fan-out not bounded"
    assert read_graph(spark, out).triples.count() == 50_000
    assert_schemas_as_inferred(spark, out)  # incl. the single-column terms frame

    # per-partition metrics in graph_meta: rows sum to the table, the
    # skew is visible (hub bucket carries ~95%), bytes/files populated
    import json

    with open(f"{out}/graph_meta.json") as f:
        meta = json.load(f)
    parts = meta["partitions"]
    assert sum(p["rows"] for p in parts.values()) == 50_000
    assert parts[str(hub % 16)]["rows"] == 47_500
    assert all(p["bytes"] > 0 and p["files"] >= 1 for p in parts.values())
    assert parts[str(hub % 16)]["files"] == len(hub_files)


def test_write_graph_empty_store(spark, tmp_path):
    from inferdf_rs_spark.pipelines.webkg import read_graph, write_graph
    from inferdf_rs_spark.schemas import TRIPLES_SCHEMA

    empty = spark.createDataFrame([], TRIPLES_SCHEMA)
    out = str(tmp_path / "g0")
    write_graph(empty, empty.select("s").withColumnRenamed("s", "term_id"), out)
    rg = read_graph(spark, out)
    assert rg.triples.count() == 0
    # no triples file to infer from: the store opens with the engine
    # schema plus the partition column; terms still as inferred
    assert rg.triples.schema == T.StructType(TRIPLES_SCHEMA.fields + [T.StructField("p_bucket", T.IntegerType())])
    assert rg.terms.schema == spark.read.parquet(f"{out}/terms").schema


def assert_schemas_as_inferred(spark, out):
    """``read_graph`` opens both tables with exactly the schemas parquet
    inference returns (field order, types, nullability) and reads the
    same rows."""
    from inferdf_rs_spark.pipelines.webkg import read_graph

    rg = read_graph(spark, out)
    for table, df in (("triples", rg.triples), ("terms", rg.terms)):
        inferred = spark.read.parquet(f"{out}/{table}")
        assert df.schema == inferred.schema, table
        assert Counter(df.collect()) == Counter(inferred.collect()), table
    return rg


def _chain(n=4):
    from inferdf_rs_spark import blank, iri

    return [(blank(f"n{i}"), iri("https://example.org/#next"), blank(f"n{i+1}")) for i in range(n)]


def test_read_graph_pinned_schemas_submit_no_job(spark, tmp_path, count_jobs):
    """``write_graph`` records both schemas in graph_meta.json, so opening a
    graph — directly or as a snapshot version — submits no Spark job."""
    from inferdf_rs_spark import build_dataset
    from inferdf_rs_spark.pipelines.webkg import read_graph, write_graph
    from inferdf_rs_spark.sources.snapshots import commit_graph, read_graph_version

    ds = build_dataset(spark, _chain())
    out = str(tmp_path / "g")
    write_graph(ds.triples, ds.terms, out)
    commit_graph(ds.triples, ds.terms, str(tmp_path / "snap"))
    with count_jobs() as jobs:
        read_graph(spark, out)
        read_graph_version(spark, str(tmp_path / "snap"))
    assert jobs.n == 0
    assert_schemas_as_inferred(spark, out)


def test_read_graph_pinned_schema_decimal_ids(spark, tmp_path):
    from inferdf_rs_spark import build_dataset
    from inferdf_rs_spark.pipelines.webkg import write_graph
    from inferdf_rs_spark.terms import id_bits

    out = str(tmp_path / "g128")
    with id_bits(128):
        ds = build_dataset(spark, _chain())
        write_graph(ds.triples, ds.terms, out)
        rg = assert_schemas_as_inferred(spark, out)
    assert rg.triples.schema["s"].dataType == T.DecimalType(38, 0)
    assert rg.terms.schema["term_id"].dataType == T.DecimalType(38, 0)
    assert sorted(r.s for r in rg.triples.collect()) == sorted(r.s for r in ds.triples.collect())


def test_read_graph_meta_without_schemas_infers(spark, tmp_path, count_jobs):
    """A layout whose graph_meta.json predates the schema keys still opens,
    through parquet inference, with its partition pruning intact."""
    import json

    from inferdf_rs_spark import build_dataset
    from inferdf_rs_spark.pipelines.webkg import read_graph, write_graph

    ds = build_dataset(spark, _chain())
    out = str(tmp_path / "g")
    write_graph(ds.triples, ds.terms, out)
    with open(f"{out}/graph_meta.json") as f:
        meta = json.load(f)
    with open(f"{out}/graph_meta.json", "w") as f:
        json.dump({k: v for k, v in meta.items() if not k.endswith("_schema")}, f)
    with count_jobs() as jobs:
        rg = read_graph(spark, out)
    assert jobs.n > 0  # inference ran
    assert rg.p_buckets == 16 and rg.n_triples == 4
    assert_schemas_as_inferred(spark, out)


def test_fixpoint_over_materialized_graph(spark, tmp_path):
    """Write a graph, re-open it, and run FURTHER inference over it —
    the restart path a real deployment takes between jobs.  The
    p_bucket partition column read_graph keeps for pruning must not
    leak into the fixpoint's fact-table contract."""
    from inferdf_rs_spark import System, blank, build_dataset, iri, pat, rule, stmt_triple, v
    from inferdf_rs_spark.engine import Dataset
    from inferdf_rs_spark.pipelines.webkg import read_graph, write_graph

    EX = "https://example.org/#"
    ds = build_dataset(
        spark, [(blank(f"n{i}"), iri(EX + "next"), blank(f"n{i+1}")) for i in range(4)]
    )
    out = str(tmp_path / "g")
    write_graph(ds.triples, ds.terms, out)
    rg = read_graph(spark, out)
    assert "p_bucket" in rg.triples.columns  # pruning path is active

    tc = rule(
        variables=3,
        hypothesis=[
            pat("+", v(0), iri(EX + "next"), v(1)),
            pat("+", v(1), iri(EX + "next"), v(2)),
        ],
        statements=[stmt_triple("+", v(0), iri(EX + "next"), v(2))],
    )
    res = System(spark, [tc]).fixpoint(Dataset(rg.triples, rg.terms))
    assert res.store.count() == 4 * 5 // 2  # closure of the 5-node chain
    assert "p_bucket" not in res.store.columns
    res.release()


def test_graph_meta_row_counts_skip_fixpoint_count(spark, tmp_path, monkeypatch):
    """write_graph records n_triples/n_terms (parquet-footer catalog
    metadata); read_graph surfaces them on the Dataset; System.fixpoint
    threads them through as store_rows, so inference over a re-opened
    graph never runs a driver count() over the input store."""
    import pyspark.sql.classic.dataframe as dfmod

    from inferdf_rs_spark import System, blank, build_dataset, iri, pat, rule, stmt_triple, v
    from inferdf_rs_spark.pipelines.webkg import read_graph, write_graph

    EX = "https://example.org/#"
    ds = build_dataset(
        spark, [(blank(f"n{i}"), iri(EX + "next"), blank(f"n{i+1}")) for i in range(4)]
    )
    out = str(tmp_path / "g")
    write_graph(ds.triples, ds.terms, out)
    rg = read_graph(spark, out)
    assert rg.n_triples == 4
    assert rg.n_terms == rg.terms.count()

    tc = rule(
        variables=3,
        hypothesis=[
            pat("+", v(0), iri(EX + "next"), v(1)),
            pat("+", v(1), iri(EX + "next"), v(2)),
        ],
        statements=[stmt_triple("+", v(0), iri(EX + "next"), v(2))],
    )
    sysm = System(spark, [tc])
    sysm.const_ids()
    counts: list[int] = []
    orig_count = dfmod.DataFrame.count
    monkeypatch.setattr(
        dfmod.DataFrame, "count", lambda self: (counts.append(1), orig_count(self))[1]
    )
    # store_broadcast_rows=0: the large regime, where an input count is a
    # full-scan job at web scale — metadata must replace it entirely
    res = sysm.fixpoint(rg, store_broadcast_rows=0)
    n_counts = len(counts)
    monkeypatch.undo()
    assert res.store.count() == 10
    assert n_counts == 0
    res.release()


def test_explain_over_materialized_graph(spark, tmp_path):
    """Provenance closes the loop on the north-rule pipeline: open the
    materialized graph with read_graph and walk EVERY entailed fact's
    stored lineage back to stated leaves — seeded scans run against the
    p_bucket-partitioned parquet store (pruned where the pattern binds
    the predicate), and the walk must bottom out for all four web rules
    (symmetric/transitive sameAs, mention propagation, typed
    projection)."""
    from inferdf_rs_spark.engine import System
    from inferdf_rs_spark.operators.explain import stated_support
    from inferdf_rs_spark.schemas import CAUSE_ENTAILED, CAUSE_STATED

    pages = synth.synth_pages(spark, N_PAGES)
    out_dir = str(tmp_path / "graph")
    webkg.run_pipeline(spark, pages, out_dir=out_dir, skip_fidelity=True)
    ds = webkg.read_graph(spark, out_dir)
    assert ds.p_buckets  # pruning metadata survived the round-trip

    sysm = System(spark, webkg.web_rules())
    sup = stated_support(ds, sysm)

    # every entailed fact bottoms out on at least one stated leaf
    ent = ds.triples.filter(F.col("cause_kind") == CAUSE_ENTAILED).select("s", "p", "o", "sign")
    n_ent = ent.count()
    assert n_ent > 0
    explained = sup.select("s", "p", "o", "sign").dropDuplicates()
    assert explained.count() == n_ent, "some entailed facts have no stated support"

    # every leaf really is a stated store fact
    stated = ds.triples.filter(F.col("cause_kind") == CAUSE_STATED).select(
        F.col("s").alias("ls"),
        F.col("p").alias("lp"),
        F.col("o").alias("lo"),
        F.col("sign").alias("lsign"),
    )
    orphans = sup.select("ls", "lp", "lo", "lsign").dropDuplicates().join(
        stated, ["ls", "lp", "lo", "lsign"], "left_anti"
    )
    assert orphans.count() == 0

    # typed projection: every mentionsPerson fact's support includes the
    # rdf:type Person stated fact for its entity
    from inferdf_rs_spark.terms import encode_terms
    from inferdf_rs_spark.rules import iri as mk_iri

    ids = encode_terms(
        spark, [mk_iri(webkg.KG + "mentionsPerson"), mk_iri(RDF_TYPE), mk_iri(synth.TYPE + "Person")]
    )
    mp = sup.filter(
        (F.col("p") == ids[mk_iri(webkg.KG + "mentionsPerson")])
        & (F.col("lp") == ids[mk_iri(RDF_TYPE)])
        & (F.col("lo") == ids[mk_iri(synth.TYPE + "Person")])
        & (F.col("ls") == F.col("o"))
    )
    n_mp = ds.triples.filter(F.col("p") == ids[mk_iri(webkg.KG + "mentionsPerson")]).count()
    assert n_mp > 0 and mp.count() == n_mp
    sup.unpersist()


def test_snapshot_commit_time_travel_vacuum(spark, tmp_path):
    """Versioned store (sources/snapshots.py — the Iceberg/Delta pattern
    over plain parquet, jars-free): two pipeline runs publish v1/v2; a
    reader holding v1 is untouched by the v2 commit (immutable data
    dirs + atomic pointer swap); time travel re-opens v1; vacuum drops
    it plus the orphan of a crashed commit, after which the v1 read
    fails loudly, and the published version still reads."""
    import os

    import pytest

    from inferdf_rs_spark.sources import snapshots as snap

    root = str(tmp_path / "store")
    pages1 = synth.synth_pages(spark, 40).localCheckpoint(eager=True)
    pages2 = synth.synth_pages(spark, 80).localCheckpoint(eager=True)

    webkg.run_pipeline(spark, pages1, out_dir=root, skip_fidelity=True, snapshots=True)
    assert snap.latest_version(root) == 1
    ds1 = snap.read_graph_version(spark, root)
    n1 = ds1.triples.count()
    assert n1 == snap.versions(root)[0]["n_triples"]

    webkg.run_pipeline(spark, pages2, out_dir=root, skip_fidelity=True, snapshots=True)
    assert snap.latest_version(root) == 2
    # snapshot isolation: the pre-commit handle still scans only v1 files
    assert ds1.triples.count() == n1
    n2 = snap.read_graph_version(spark, root).triples.count()
    assert n2 > n1
    # time travel
    assert snap.read_graph_version(spark, root, version=1).triples.count() == n1

    # change-data feed v1 -> v2: added/removed partition the symmetric
    # difference, and |v1| - removed + added = |v2| (identity = signed
    # quad, not lineage)
    diff = snap.snapshot_diff(spark, root, 1).cache()
    try:
        n_added = diff.filter(F.col("change") == "added").count()
        n_removed = diff.filter(F.col("change") == "removed").count()
        assert n_added > 0 and n1 - n_removed + n_added == n2
        # a fact can't be both added and removed
        assert diff.count() == diff.dropDuplicates(
            ["p_bucket", "s", "p", "o", "sign", "g"]
        ).count()
    finally:
        diff.unpersist()
    # self-diff is empty
    assert snap.snapshot_diff(spark, root, 2, 2).isEmpty()

    # a crashed commit's orphan data dir: invisible to readers, vacuumable
    os.makedirs(os.path.join(root, "data", "v99999.tmp"))
    removed = snap.vacuum(root, keep_last=1)
    assert any(p.endswith("v00001") for p in removed)
    assert any(p.endswith("v99999.tmp") for p in removed)
    assert snap.read_graph_version(spark, root).triples.count() == n2
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        snap.read_graph_version(spark, root, version=1)
