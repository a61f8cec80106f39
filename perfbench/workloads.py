"""The workloads.  Each is a closed loop with one client: the next
operation starts when the previous one has returned.

A workload object owns its inputs and reference answers.  ``op(i)``
runs timed operation ``i``; ``traced_op(i, tracer)`` runs the same
operation with a span around each layer call; ``check`` compares an
operation's output with the reference; ``release`` frees what the
operation left in Spark storage; ``finish`` runs the checks that come
after the last operation.  The seed picks the page sample and the query
targets; the engine only ever sees the generated inputs.
"""

from __future__ import annotations

import contextlib
import json
import os
import random

from probes import note
from pyspark.sql import Window
from pyspark.sql import functions as F

from inferdf_rs_spark.caches import persistent_rdd_ids, unpersist_rdd_ids
from inferdf_rs_spark.encode import dedup_triples, encode_edges, term_rows
from inferdf_rs_spark.engine import Dataset, System
from inferdf_rs_spark.extraction import synth
from inferdf_rs_spark.extraction.extract import (
    collect_alias_vocabulary,
    extract_text,
    make_fused_extract_detect,
)
from inferdf_rs_spark.operators import fixpoint as fixpoint_mod
from inferdf_rs_spark.operators.match import find_substitutions, scan_pattern
from inferdf_rs_spark.pipelines import webkg
from inferdf_rs_spark.rules import iri, pat, rule, v
from inferdf_rs_spark.schemas import CAUSE_STATED, KIND_IRI, KIND_LITERAL, RDF_TYPE, XSD_STRING
from inferdf_rs_spark.sources import snapshots
from inferdf_rs_spark.streaming.ingest import StreamingGraph
from inferdf_rs_spark.terms import encode_terms

MENTIONS = iri(webkg.KG + "mentions")
MENTIONS_PERSON = iri(webkg.KG + "mentionsPerson")
SAME = iri(webkg.KG + "sameAs")
TYPE = iri(RDF_TYPE)
PERSON = iri(synth.TYPE + "Person")


def sample_pages(spark, seed: int, sizes: list[int]):
    """Split a seeded sample of synthesized pages into consecutive parts
    of the given sizes.  The pool holds twice the pages needed and the
    seed orders it, so each seed draws a different page-id sample."""
    total = sum(sizes)
    par = spark.sparkContext.defaultParallelism
    ranked = (
        synth.synth_pages(spark, 2 * total)
        .withColumn("_rk", F.row_number().over(Window.orderBy(F.xxhash64("url", F.lit(seed)), "url")))
        .filter(F.col("_rk") <= total)
        .localCheckpoint(eager=True)
    )
    parts, lo = [], 0
    for n in sizes:
        part = ranked.filter((F.col("_rk") > lo) & (F.col("_rk") <= lo + n)).drop("_rk")
        parts.append(part.repartition(par, "url").localCheckpoint(eager=True))
        lo += n
    return parts


def web_closure(stated, same, mentions, rdf_type, person, mentions_person) -> set:
    """Reference closure of ``webkg.web_rules`` over ``(s, p, o)`` id
    facts, forward-chained in Python: sameAs is symmetric and
    transitive, mentions propagate across sameAs, and a mention of a
    Person entity adds mentionsPerson."""
    facts = set(stated)
    while True:
        same_out: dict = {}
        for s, p, o in facts:
            if p == same:
                same_out.setdefault(s, set()).add(o)
        persons = {s for s, p, o in facts if p == rdf_type and o == person}
        new = set()
        for a, bs in same_out.items():
            for b in bs:
                new.add((b, same, a))
                new.update((a, same, c) for c in same_out.get(b, ()))
        for x, p, a in facts:
            if p == mentions:
                new.update((x, mentions, b) for b in same_out.get(a, ()))
                if a in persons:
                    new.add((x, mentions_person, a))
        new -= facts
        if not new:
            return facts
        facts |= new


def store_signature(store) -> tuple[int, int, int]:
    """Row count and an order-independent checksum of the store over
    ``(s, p, o, sign)``: two sums of the halves of a 64-bit row hash."""
    h = F.xxhash64("s", "p", "o", "sign")
    r = store.agg(
        F.count("*"),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))),
        F.sum(F.shiftright(h, 32)),
    ).collect()[0]
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


def release_all(spark, keep: set[int]) -> None:
    """Free everything an operation persisted or checkpointed, the way
    ``jobs/run_kg_pipeline.py`` does between iterations."""
    spark.catalog.clearCache()
    unpersist_rdd_ids(spark, persistent_rdd_ids(spark) - keep)
    spark.sparkContext._jvm.System.gc()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(path) for n in names
    )


def layout_counts(span, out_dir: str) -> None:
    """Record the written layout of a graph directory on ``span``."""
    with open(os.path.join(out_dir, "graph_meta.json")) as f:
        meta = json.load(f)
    parts = meta["partitions"].values()
    n = max(1, meta["n_triples"])
    span.counts.update(
        files=sum(p["files"] for p in parts),
        bytes_per_triple=sum(p["bytes"] for p in parts) / n,
        top_bucket_share=max((p["rows"] for p in parts), default=0) / n,
    )


class WebKGBatch:
    """Repeated ``webkg.run_pipeline`` over one page sample: extract →
    link/encode → fixpoint → ``write_graph``.  Every layer of the batch
    job does real work on each operation."""

    name = "webkg_batch"
    pages = 1000
    warmup = 1
    min_ops = max_ops = 2

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed = spark, seed
        self.out_dir = os.path.join(work, "graph")
        self.expected = None

    def setup(self, tr=None) -> None:
        spark = self.spark
        (self.input,) = sample_pages(spark, self.seed, [self.pages])
        self.alias_d = synth.alias_dict(spark)
        self.etypes = synth.entity_types(spark)
        self.sameas = synth.sameas_seed(spark)
        # batch-invariant state held across iterations, as the batch job does
        self.aliases = collect_alias_vocabulary(self.alias_d)
        self.static_terms = webkg.static_term_rows(
            spark, self.alias_d, self.etypes, self.sameas
        ).localCheckpoint(eager=True)
        self.keep = persistent_rdd_ids(spark)

    def items(self, out) -> int:
        return out["pages"]

    def op(self, i: int):
        pr = webkg.run_pipeline(
            self.spark,
            self.input,
            out_dir=self.out_dir,
            static_terms=self.static_terms,
            aliases=self.aliases,
        )
        return {
            "pages": pr.n_pages,
            "counts": (pr.fidelity_violations, pr.n_pages, pr.n_stated, pr.n_total, pr.result.rounds),
            "store": pr.result.store,
        }

    def traced_op(self, i: int, tr):
        """``run_pipeline``'s layer calls in its order, each forced by the
        action the pipeline uses, with a span around each layer."""
        spark = self.spark
        with tr.span("extraction", i) as sp:
            det = make_fused_extract_detect(self.aliases, spark=spark)
            pages = (
                self.input.select(
                    "url", "lang", det(F.decode(F.col("html"), "utf-8"), F.col("text")).alias("_ex")
                )
                .select(
                    "url",
                    "lang",
                    F.col("_ex.surfaces").alias("surfaces"),
                    F.col("_ex.fid_ok").alias("_fid_ok"),
                )
                .persist()
            )
            stats = pages.agg(
                F.count("*").alias("n"),
                F.sum(F.when(F.col("_fid_ok"), 0).otherwise(1)).alias("bad"),
            ).collect()[0]
            sp.counts["pages_out"] = stats.n
        with tr.span("encode", i) as sp:
            edges = webkg.stated_edges(
                spark, pages, self.alias_d, self.etypes, self.sameas,
                aliases=self.aliases, surfaces_col="surfaces",
            )
            terms_df = (
                term_rows(pages, KIND_IRI, "url", distinct=False)
                .unionByName(self.static_terms)
                .unionByName(
                    term_rows(pages.select("lang").distinct(), KIND_LITERAL, "lang", XSD_STRING, distinct=False)
                )
            )
            ds = encode_edges(spark, edges, terms=terms_df)
            sysm = System(spark, webkg.web_rules())
            triples = dedup_triples(ds.triples).localCheckpoint(eager=True)
            terms = (
                ds.terms.unionByName(sysm.rule_constants_terms())
                .dropDuplicates(["term_id"])
                .localCheckpoint(eager=True)
            )
            n_stated = triples.count()
        with tr.span("trace", i):
            sp.counts.update(edges_in=edges.count(), triples_out=n_stated, terms=terms.count())
        pages.unpersist()
        with tr.span("fixpoint", i) as sp:
            res = sysm.fixpoint(Dataset(triples, terms, n_triples=n_stated), max_rounds=20)
            n_total = res.store.count()
            sp.counts.update(rounds=res.rounds, new_facts=n_total - n_stated)
        with tr.span("materialize", i) as sp:
            webkg.write_graph(res.store, res.terms, self.out_dir, metrics=res.metrics)
        layout_counts(sp, self.out_dir)
        return {
            "pages": stats.n,
            "counts": (int(stats.bad or 0), stats.n, n_stated, n_total, res.rounds),
            "store": res.store,
        }

    def check(self, out) -> bool:
        sig = (out["counts"], store_signature(out["store"]))
        if self.expected is None:  # the first warm-up run is the reference
            self.expected = sig
        return sig == self.expected and out["counts"][:2] == (0, self.pages)

    def release(self, out) -> None:
        release_all(self.spark, self.keep)

    def finish(self) -> bool:
        return True


class GraphQuery:
    """A seeded mix of reads against a graph built in setup: an s-bound
    lookup, a p+o-bound count and a two-pattern conjunction.  Each query
    opens the graph with ``read_graph``, encodes its constants with
    ``encode_terms`` and runs ``scan_pattern`` or ``find_substitutions``;
    no extraction, encoding or fixpoint runs while queries are timed.

    Setup builds the graph through the incremental path: a base batch and
    then one micro-batch go through ``extract_text`` → ``stated_edges`` →
    ``StreamingGraph.process_batch`` (the second one a delta-seeded
    fixpoint over the closed base), and ``publish`` commits the closure
    as a snapshot written by ``write_graph``.  The published store must
    equal one batch closure of its stated facts, computed in Python by
    ``web_closure``; the answers are checked against an index of that
    closure."""

    name = "graph_query"
    base_pages = 1000
    batch_pages = 300
    warmup = 4
    min_ops = 12
    max_ops = 1000
    n_targets = 64

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed = spark, seed
        self.root = os.path.join(work, "snapshots")

    def _edges(self, pages):
        return webkg.stated_edges(self.spark, pages, self.alias_d, self.etypes, self.sameas)

    def _ingest(self, sg, part, epoch: int) -> None:
        extracted = extract_text(part).persist()
        sg.process_batch(self._edges(extracted), epoch)
        extracted.unpersist()
        note(f"graph_query: batch {epoch} ingested")

    def _traced_batch(self, sg, part, epoch: int, tr) -> None:
        op = -1  # set-up work, not a timed operation
        rows_before = sg.counts()[0]
        with tr.span("extraction", op) as sp:
            extracted = extract_text(part).persist()
            sp.counts["pages_out"] = extracted.count()
        edges = self._edges(extracted)

        def fix_counts(s, res):
            s.counts.update(rounds=res.rounds, new_facts=sum(m["new_facts"] for m in res.metrics))

        with tr.span("ingest", op) as sp, tr.wrap(fixpoint_mod, "fixpoint", "fixpoint", fix_counts):
            sg.process_batch(edges, epoch)
        with tr.span("trace", op):
            rows = sg.counts()[0]
            sp.counts.update(delta_facts=rows - rows_before, store_rows=rows)
        extracted.unpersist()

    def setup(self, tr=None) -> None:
        spark = self.spark
        base, batch = sample_pages(spark, self.seed, [self.base_pages, self.batch_pages])
        self.alias_d = synth.alias_dict(spark).localCheckpoint(eager=True)
        self.etypes = synth.entity_types(spark).localCheckpoint(eager=True)
        self.sameas = synth.sameas_seed(spark).localCheckpoint(eager=True)
        note("graph_query: inputs sampled")
        sg = StreamingGraph(spark, System(spark, webkg.web_rules()), self.root)
        self._ingest(sg, base, 0)
        if tr is None:
            self._ingest(sg, batch, 1)
            version = sg.publish()
        else:
            self._traced_batch(sg, batch, 1, tr)
            with tr.span("snapshots", -1) as sp, tr.wrap(webkg, "write_graph", "materialize"):
                version = sg.publish()
        note("graph_query: snapshot published")
        manifest = snapshots.versions(self.root)[-1]
        self.graph = manifest["data_dir"]
        if tr is not None:
            sp.counts["written_mb"] = dir_bytes(self.graph) / (1024 * 1024)
            layout_counts(next(s for s in tr.subtree(sp) if s.name == "materialize"), self.graph)
        rows = [tuple(r) for r in sg.store.select("s", "p", "o", "sign", "cause_kind").collect()]
        ids = encode_terms(spark, [SAME, MENTIONS, TYPE, PERSON, MENTIONS_PERSON])
        stated = {r[:3] for r in rows if r[3] and r[4] == CAUSE_STATED}
        closure = web_closure(stated, *(ids[t] for t in (SAME, MENTIONS, TYPE, PERSON, MENTIONS_PERSON)))
        self.setup_ok = (
            version == 1
            and manifest["n_triples"] == len(rows) == len(closure)
            and {r[:3] for r in rows if r[3]} == closure
        )
        urls = sorted(r.url for r in base.unionByName(batch).select("url").collect())
        self._index(closure, urls)
        release_all(spark, set())
        note("graph_query: reference closure and index built")

    def _index(self, facts, urls) -> None:
        by_sp: dict = {}
        by_po: dict = {}
        for s, p, o in facts:
            by_sp.setdefault((s, p), set()).add(o)
            by_po.setdefault((p, o), set()).add(s)
        rng = random.Random(self.seed)
        # typed entities plus the sameAs aliases that only receive
        # mentions through the fixpoint
        entities = sorted(set(synth.ENTITY_TYPES) | {b for _, b in synth.SAMEAS_SEED})
        page_t = [iri(u) for u in rng.sample(urls, self.n_targets)]
        ent_t = [iri(rng.choice(entities)) for _ in range(self.n_targets)]
        ids = encode_terms(self.spark, page_t + ent_t + [MENTIONS, TYPE, PERSON])
        m, t, person = ids[MENTIONS], ids[TYPE], ids[PERSON]
        persons = by_po.get((t, person), set())
        self.queries = []
        for k in range(self.n_targets):
            x, e = page_t[k], ent_t[k]
            pages_e = by_po.get((m, ids[e]), set())
            self.queries += [
                ("lookup", x, by_sp.get((ids[x], m), set())),
                ("count", e, len(pages_e)),
                ("conj", e, {s for s in pages_e if by_sp.get((s, m), set()) & persons}),
            ]

    def items(self, out) -> int:
        return 1

    def _run(self, kind: str, target, tr=None, i=None):
        spark = self.spark

        def span(name):
            return tr.span(name, i) if tr is not None else contextlib.nullcontext()

        with span("query.open"):
            ds = webkg.read_graph(spark, self.graph)
        with span("query.constants"):
            consts = [target, MENTIONS] + ([TYPE, PERSON] if kind == "conj" else [])
            ids = encode_terms(spark, consts)
        with span("query.scan") as sp:
            if kind == "lookup":
                df = scan_pattern(ds.triples, pat("+", target, MENTIONS, v(0)), ids, p_buckets=ds.p_buckets)
                ans = {r[0] for r in df.collect()}
                n = len(ans)
            elif kind == "count":
                df = scan_pattern(ds.triples, pat("+", v(0), MENTIONS, target), ids, p_buckets=ds.p_buckets)
                ans = n = df.count()
            else:
                hyp = [
                    pat("+", v(0), MENTIONS, target),
                    pat("+", v(0), MENTIONS, v(1)),
                    pat("+", v(1), TYPE, PERSON),
                ]
                df = find_substitutions(ds.triples, rule(2, hyp, []), ids, p_buckets=ds.p_buckets)
                ans = {r[0] for r in df.select("v0").distinct().collect()}
                n = len(ans)
            if sp is not None:
                sp.counts["rows_out"] = n
        return ans

    def op(self, i: int):
        kind, target, expected = self.queries[i % len(self.queries)]
        return {"answer": self._run(kind, target), "expected": expected}

    def traced_op(self, i: int, tr):
        kind, target, expected = self.queries[i % len(self.queries)]
        with tr.span("query", i):
            ans = self._run(kind, target, tr, i)
        return {"answer": ans, "expected": expected}

    def check(self, out) -> bool:
        return out["answer"] == out["expected"]

    def release(self, out) -> None:
        pass

    def finish(self) -> bool:
        return self.setup_ok


WORKLOADS = {w.name: w for w in (WebKGBatch, GraphQuery)}
