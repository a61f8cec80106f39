"""The north-rule pipeline: pages → extraction → entity linking →
dictionary-encoded stated triples → semi-naive rule fixpoint →
predicate-bucket materialization with lineage.

Skew notes (north_rule): hub predicates (kg:mentions, kg:sameAs,
rdf:type) dominate the triples table; hypothesis joins key on entity
variables, so hot entities skew the shuffle — AQE skew-join splitting is
enabled session-wide, the rule/alias dimensions are broadcast, and the
materialized table is partitioned by predicate bucket so p-bound pattern
scans prune partitions.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..encode import dedup_triples, encode_edges, term_rows
from ..engine import Dataset, System
from ..extraction import synth
from ..extraction.extract import extract_text, link_mentions
from ..operators.fixpoint import FixpointResult
from ..rules import iri, pat, rule, stmt_triple, v
from ..schemas import KIND_IRI, KIND_LITERAL, RDF_TYPE, XSD_STRING

KG = "https://example.org/kg#"


def web_rules():
    same = iri(KG + "sameAs")
    mentions = iri(KG + "mentions")
    return [
        # sameAs is symmetric
        rule(
            variables=2,
            hypothesis=[pat("+", v(0), same, v(1))],
            statements=[stmt_triple("+", v(1), same, v(0))],
        ),
        # sameAs is transitive
        rule(
            variables=3,
            hypothesis=[pat("+", v(0), same, v(1)), pat("+", v(1), same, v(2))],
            statements=[stmt_triple("+", v(0), same, v(2))],
        ),
        # mentions propagate across sameAs
        rule(
            variables=3,
            hypothesis=[pat("+", v(0), mentions, v(1)), pat("+", v(1), same, v(2))],
            statements=[stmt_triple("+", v(0), mentions, v(2))],
        ),
        # typed-mention projection
        rule(
            variables=2,
            hypothesis=[
                pat("+", v(0), mentions, v(1)),
                pat("+", v(1), iri(RDF_TYPE), iri(synth.TYPE + "Person")),
            ],
            statements=[stmt_triple("+", v(0), iri(KG + "mentionsPerson"), v(1))],
        ),
    ]


def stated_edges(
    spark: SparkSession,
    pages: DataFrame,
    alias_dict: DataFrame,
    entity_types: DataFrame,
    sameas: DataFrame,
    text_col: str = "extracted_text",
    aliases: list[str] | None = None,
    surfaces_col: str | None = None,
) -> DataFrame:
    """Assemble the stated-edge table (lexical, pre-encoding).

    ``aliases``: optional pre-collected alias vocabulary — repeated
    callers (bench iterations, streaming micro-batches) collect the
    dictionary once instead of once per call.
    ``surfaces_col``: if the pages frame already carries detected
    mention surfaces (the fused extract+detect fast path), link straight
    from that column — no second detection pass."""
    if surfaces_col is not None:
        from ..extraction.extract import best_links

        mentions = pages.select("url", F.explode(F.col(surfaces_col)).alias("surface"))
        dim = best_links(alias_dict)
        linked = mentions.join(
            F.broadcast(dim), mentions.surface == dim["alias"], "inner"
        ).select("url", "surface", "iri", "score")
    else:
        linked = link_mentions(pages, alias_dict, text_col=text_col, aliases=aliases)
    null_s = F.lit(None).cast("string")

    def iri_obj(df):
        return df.withColumn("o_kind", F.lit(KIND_IRI)).withColumn("o_dt", null_s)

    mention_edges = iri_obj(
        linked.select(
            F.col("url").alias("s_lex"),
            F.lit(KG + "mentions").alias("p_lex"),
            F.col("iri").alias("o_lex"),
        )
    )
    type_edges = iri_obj(
        entity_types.select(
            F.col("iri").alias("s_lex"),
            F.lit(RDF_TYPE).alias("p_lex"),
            F.col("type").alias("o_lex"),
        )
    )
    same_edges = iri_obj(
        sameas.select(
            F.col("a").alias("s_lex"), F.lit(KG + "sameAs").alias("p_lex"), F.col("b").alias("o_lex")
        )
    )
    lang_edges = pages.select(
        F.col("url").alias("s_lex"),
        F.lit(KG + "inLang").alias("p_lex"),
        F.lit(KIND_LITERAL).alias("o_kind"),
        F.col("lang").alias("o_lex"),
        F.lit(XSD_STRING).alias("o_dt"),
    )
    return mention_edges.unionByName(type_edges).unionByName(same_edges).unionByName(lang_edges)


def static_term_rows(spark: SparkSession, alias_d, etypes, sameas) -> DataFrame:
    """Dictionary rows for the batch-invariant term sources: the static
    predicate list and the entity/type/sameAs IRIs of the broadcast
    dimensions.  These are identical across bench iterations and
    streaming micro-batches — compute once, ``localCheckpoint``, and pass
    to ``run_pipeline(static_terms=...)`` so each iteration skips one
    distinct-shuffle per source (the per-iteration dictionary then only
    encodes what actually varies: urls and langs)."""
    preds = spark.createDataFrame(
        [(p,) for p in (KG + "mentions", KG + "sameAs", KG + "inLang", RDF_TYPE)], "lex string"
    )
    ent_lex = (
        alias_d.select(F.col("iri").alias("lex"))
        .unionByName(etypes.select(F.col("iri").alias("lex")))
        .unionByName(etypes.select(F.col("type").alias("lex")))
        .unionByName(sameas.select(F.col("a").alias("lex")))
        .unionByName(sameas.select(F.col("b").alias("lex")))
    )
    return term_rows(preds, KIND_IRI, "lex").unionByName(term_rows(ent_lex, KIND_IRI, "lex"))


@dataclass
class PipelineResult:
    result: FixpointResult
    n_pages: int
    n_stated: int
    n_total: int
    fidelity_violations: int
    timings: dict = field(default_factory=dict)


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str | None = None,
    checkpoint_dir: str | None = None,
    max_rounds: int = 20,
    skip_fidelity: bool = False,
    audit_dictionary: bool = False,
    static_terms: DataFrame | None = None,
    aliases: list[str] | None = None,
    fused_extract: bool = True,
    snapshots: bool = False,
    dedup_pages: bool = False,
) -> PipelineResult:
    timings: dict[str, float] = {}

    t0 = time.perf_counter()
    if dedup_pages:
        # Common-Crawl-style exact dedup BEFORE extraction: mirror urls
        # serving byte-identical html collapse to the lexicographically
        # smallest url (operators/dedup.exact_dedup over the raw bytes).
        # One narrow shuffle on (url, digest) + a semi-join that prunes
        # the wide rows before the extract UDF ever sees them — at
        # 100 TB the html bytes of dropped mirrors are never decoded.
        # Lazy: the cost lands inside the extract_verify stage action.
        from ..operators.dedup import exact_dedup

        keep = (
            exact_dedup(pages, text_col="html", id_col="url")
            .filter("keep")
            .select("url")
        )
        pages = pages.join(keep, "url", "left_semi")
    alias_d, etypes, sameas = (
        synth.alias_dict(spark),
        synth.entity_types(spark),
        synth.sameas_seed(spark),
    )
    if fused_extract:
        # ONE fused Arrow pass per page: html→text strip, byte-fidelity
        # bit, and normalized mention detection — the extracted text never
        # leaves the Python worker.  Persist ONLY the slim result (url,
        # lang, surfaces, fidelity bit, ~0.1KB/page): the unfused shape
        # caches the full extracted_text (~1.2KB/page) and ships it
        # through Arrow a second time for detection.  Caching raw
        # html+text would be worse still (3.5KB/page; measured 84s vs 31s
        # at 2M pages).
        from ..extraction.extract import collect_alias_vocabulary, make_fused_extract_detect

        if aliases is None:
            aliases = collect_alias_vocabulary(alias_d)
        det = make_fused_extract_detect(aliases, spark=spark)
        pages = (
            pages.select(
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
    else:
        # unfused A/B reference path: extract UDF + JVM fidelity bit,
        # detection deferred to the linking stage over the cached text
        pages = (
            extract_text(pages)
            .select(
                "url",
                "lang",
                "extracted_text",
                F.col("extracted_text").eqNullSafe(F.col("text")).alias("_fid_ok"),
            )
            .persist()
        )
    stats = pages.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("_fid_ok"), 0).otherwise(1)).alias("bad"),
    ).collect()[0]
    n_pages, fid = stats.n, (0 if skip_fidelity else int(stats.bad or 0))
    if fid:
        raise RuntimeError(f"extraction fidelity violated on {fid} urls")
    timings["extract_verify"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    edges = stated_edges(
        spark,
        pages,
        alias_d,
        etypes,
        sameas,
        aliases=aliases,
        surfaces_col="surfaces" if fused_extract else None,
    )
    # dictionary from its natural sources instead of a distinct over the
    # 3x-projected edge table: urls are unique per page (no shuffle),
    # predicates/entities/types are batch-invariant (precomputable via
    # static_term_rows), langs are a low-cardinality distinct
    if static_terms is None:
        static_terms = static_term_rows(spark, alias_d, etypes, sameas)
    from ..schemas import KIND_LITERAL as _KL

    terms_df = (
        term_rows(pages, KIND_IRI, "url", distinct=False)
        .unionByName(static_terms)
        .unionByName(term_rows(pages.select("lang").distinct(), _KL, "lang", XSD_STRING, distinct=False))
    )
    ds = encode_edges(spark, edges, terms=terms_df)
    sysm = System(spark, web_rules())
    # materialize the stated layer once: it feeds every fixpoint round.
    # set semantics: duplicate stated edges (two alias surfaces of one
    # entity on a page) collapse on the triple key with a deterministic
    # tie-break, like the reference's idempotent insert.  rule-constant
    # terms join the dictionary so decode/facets cover them.
    triples = dedup_triples(ds.triples).localCheckpoint(eager=True)
    terms = (
        ds.terms.unionByName(sysm.rule_constants_terms())
        .dropDuplicates(["term_id"])
        .localCheckpoint(eager=True)
    )
    n_stated = triples.count()
    if audit_dictionary:
        # 64-bit birthday-bound guard (terms.audit_collisions): at 10^12
        # terms collisions become plausible; fail fast instead of
        # silently conflating two terms
        from ..terms import audit_collisions

        n_coll = audit_collisions(terms).count()
        if n_coll:
            raise RuntimeError(f"dictionary hash collisions detected: {n_coll} ids")
    pages.unpersist()
    timings["link_encode"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    # n_triples metadata: the loop reuses the stated-layer count above
    # instead of re-counting (and, in the large regime, skips the
    # transient double-buffer persist of the already-checkpointed input)
    res = sysm.fixpoint(
        Dataset(triples, terms, n_triples=n_stated),
        checkpoint_dir=checkpoint_dir,
        max_rounds=max_rounds,
    )
    n_total = res.store.count()
    timings["fixpoint"] = time.perf_counter() - t0

    if out_dir:
        t0 = time.perf_counter()
        if snapshots:
            # versioned commit: immutable data dir + manifest + atomic
            # pointer swap (sources/snapshots.py) — re-running the
            # pipeline over an updated corpus PUBLISHES a new version
            # while readers of the old one are untouched
            from ..sources.snapshots import commit_graph

            commit_graph(res.store, res.terms, out_dir, metrics=res.metrics)
        else:
            write_graph(res.store, res.terms, out_dir, metrics=res.metrics)
        timings["materialize"] = time.perf_counter() - t0

    return PipelineResult(res, n_pages, n_stated, n_total, fid, timings)


# ------------------------------------------------------------ materialize


def write_graph(
    triples: DataFrame,
    terms: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    metrics=None,
    target_writers: int | None = None,
) -> None:
    """Materialize: triples partitioned by predicate bucket (p-bound
    pattern scans prune partitions — the Spark analogue of the
    reference's canonical-pattern index), terms dimension, metrics.

    Writer layout (A/B-measured on a 57.7M-row store): rows are salted
    onto ~``target_writers`` BALANCED writer tasks, each bucket getting
    writers proportional to its row count from a cheap histogram pass.
    This fixes both failure modes at once: writing straight from the
    task partitioning emits tasks × buckets files whose commit/rename
    fan-out grows with the task count (the cluster-scale hazard), while
    a naive one-writer-per-bucket repartition serializes the write
    behind the fattest predicate — real predicate distributions are
    heavily skewed (rdf:type / mentions hubs), so a single bucket can
    carry most of the table (measured 57s vs 12s).  File count stays
    ≈ target_writers, independent of BOTH data size and task count.
    The FileOutputCommitter v2 algorithm (task-side file promotion,
    O(1) job commit) is enabled around the write — v1's sequential job
    commit is a second fan-out that grows with file count.

    ``graph_meta.json`` records the bucket count, footer row counts,
    per-bucket metrics and the triples/terms schemas (``StructType.json()``
    strings) that ``read_graph`` opens the tables with.

    Iceberg would add snapshot isolation on a real cluster; the jars
    are not in this container, so plain parquet with identical layout."""
    spark = triples.sparkSession
    if target_writers is None:
        target_writers = 2 * spark.sparkContext.defaultParallelism
    out = triples.withColumn("p_bucket", F.pmod(F.col("p"), F.lit(n_buckets)).cast("int"))
    # histogram → proportional salt modulus per bucket (≤ n_buckets rows)
    hist = out.groupBy("p_bucket").count().collect()
    total = sum(r["count"] for r in hist)
    if total:
        salts = {r["p_bucket"]: max(1, round(target_writers * r["count"] / total)) for r in hist}
        pairs: list = []
        for k, nsalt in salts.items():
            pairs += [F.lit(k), F.lit(nsalt)]
        mod = F.element_at(F.create_map(*pairs), F.col("p_bucket"))
        # 2x partitions over the distinct (bucket, salt) combos keeps
        # hash-collision double-ups rare; empty partitions are free
        out = out.repartition(
            2 * sum(salts.values()), "p_bucket", F.pmod(F.xxhash64("s", "o"), mod)
        )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    prev_committer = hconf.get("mapreduce.fileoutputcommitter.algorithm.version")
    hconf.set("mapreduce.fileoutputcommitter.algorithm.version", "2")
    try:
        out.write.mode("overwrite").partitionBy("p_bucket").parquet(
            os.path.join(out_dir, "triples")
        )
        terms.write.mode("overwrite").parquet(os.path.join(out_dir, "terms"))
    finally:
        if prev_committer is None:
            hconf.unset("mapreduce.fileoutputcommitter.algorithm.version")
        else:
            hconf.set("mapreduce.fileoutputcommitter.algorithm.version", prev_committer)
    # row counts from the just-written parquet FOOTERS (a catalog-metadata
    # stand-in: no extra Spark job, no data re-scan) — read_graph surfaces
    # them on the Dataset so downstream consumers that only need
    # cardinality (fixpoint broadcast-regime pick, auto-LSH sizing) never
    # run a count() over the store
    from ..sources.registry import parquet_row_count

    # per-partition metrics (north rule: per-partition lineage + metrics
    # rows): rows/bytes/files per predicate bucket, straight from the
    # written footers/inodes — the skew report a production run feeds
    # back into the next run's salt histogram and bucket count
    tri_dir = os.path.join(out_dir, "triples")
    partitions = {}
    for d in sorted(os.listdir(tri_dir)):
        if not d.startswith("p_bucket="):
            continue
        pdir = os.path.join(tri_dir, d)
        files = [n for n in os.listdir(pdir) if n.endswith(".parquet")]
        partitions[int(d.split("=", 1)[1])] = {
            "rows": parquet_row_count(pdir),
            "bytes": sum(os.path.getsize(os.path.join(pdir, n)) for n in files),
            "files": len(files),
        }

    # read_graph opens with these instead of running one schema-inference
    # job per table (a read lists the partition column last and makes
    # every column nullable); an empty store wrote no triples file, so it
    # records no triples schema and opens through the fallback as before
    triples_schema = T.StructType(
        [f for f in out.schema.fields if f.name != "p_bucket"] + [T.StructField("p_bucket", T.IntegerType())]
    )
    with open(os.path.join(out_dir, "graph_meta.json"), "w") as f:
        json.dump(
            {
                "n_p_buckets": n_buckets,
                "n_triples": parquet_row_count(tri_dir),
                "n_terms": parquet_row_count(os.path.join(out_dir, "terms")),
                "partitions": partitions,
                "triples_schema": triples_schema.json() if total else None,
                "terms_schema": terms.schema.json(),
            },
            f,
        )
    if metrics is not None:
        with open(os.path.join(out_dir, "metrics.json"), "w") as f:
            json.dump(metrics, f)


def read_graph(spark: SparkSession, out_dir: str) -> Dataset:
    """Open a materialized graph.  The triples DataFrame RETAINS the
    ``p_bucket`` partition column and the returned ``Dataset`` carries
    the bucket count (``Dataset.p_buckets``): the engine threads it into
    ``operators.match.scan_pattern``, which adds the bucket predicate
    for p-bound patterns so those scans prune to 1/n_buckets of the
    partitions (the reference's canonical-pattern index, expressed as
    Hive-style partition pruning).  The count lives on the Dataset — not
    as a DataFrame attribute — so it survives ``.filter()``/``.select()``
    composition over ``triples``; the legacy ``_inferdf_p_buckets``
    attribute is still set for direct-DataFrame callers holding the
    pristine object.  The engine drops the extra column at fixpoint
    entry, so the dataset still feeds every API.

    Both tables open with the schemas ``write_graph`` recorded in
    ``graph_meta.json``, so opening submits no Spark job; a layout whose
    meta has no schema (written before schemas were recorded) falls back
    to parquet schema inference."""
    from pyspark.errors import AnalysisException

    from ..schemas import TRIPLES_SCHEMA

    try:
        with open(os.path.join(out_dir, "graph_meta.json")) as f:
            meta = json.load(f)
    except FileNotFoundError:
        meta = {}

    def read(table: str) -> DataFrame:
        reader = spark.read
        if meta.get(f"{table}_schema"):
            reader = reader.schema(T.StructType.fromJson(json.loads(meta[f"{table}_schema"])))
        return reader.parquet(os.path.join(out_dir, table))

    try:
        triples = read("triples")
    except AnalysisException:
        # an empty store writes no parquet files (nothing to infer from)
        triples = spark.createDataFrame([], TRIPLES_SCHEMA).withColumn(
            "p_bucket", F.lit(None).cast("int")
        )
    p_buckets = meta.get("n_p_buckets")
    if p_buckets is None:
        triples = triples.drop("p_bucket")  # pre-meta layout: no pruning
    else:
        triples._inferdf_p_buckets = p_buckets
    return Dataset(
        triples,
        read("terms"),
        p_buckets=p_buckets,
        n_triples=meta.get("n_triples"),  # absent on pre-r5 layouts
        n_terms=meta.get("n_terms"),
    )
