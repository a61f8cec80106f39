"""Engine facade: the Spark-side equivalent of the reference ``System``.

A ``System`` holds a deduped rule list (reference src/system/mod.rs:26-72)
and runs deduction / fixpoint / validation over a (triples, terms)
dataset pair.  Rule constants are dictionary-encoded once per system on
the driver, with ids byte-identical to bulk-encoded data (see
terms.encode_terms).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .operators.conclude import Concluded, conclude, merge_concluded
from .operators.fixpoint import FixpointResult, fixpoint
from .operators.match import find_substitutions
from .operators.validate import ValidationResult, validate
from .rules import Rule, load_rules, rule_to_json
from .schemas import CAUSE_STATED
from .terms import Term, encode_terms, resource_facets, terms_df, triples_schema


@dataclass
class Dataset:
    """A signed fact store + its interpretation dictionary.

    ``p_buckets``: predicate-bucket count of a materialized graph opened
    via ``pipelines.webkg.read_graph`` (None otherwise).  Carried here —
    not as an ad-hoc attribute on the DataFrame — so partition pruning
    survives composition: any ``.filter()``/``.select()`` over
    ``triples`` returns a fresh DataFrame, and a monkey-patched attribute
    would silently vanish with it.

    ``n_triples``/``n_terms``: catalog row counts (graph_meta.json
    sidecar / parquet footers) when known.  Cardinality-only consumers —
    the fixpoint's broadcast-regime pick, auto-LSH parameter sizing —
    read these instead of running a count() job over the store."""

    triples: DataFrame
    terms: DataFrame
    p_buckets: int | None = None
    n_triples: int | None = None
    n_terms: int | None = None


def build_dataset(spark: SparkSession, facts: list) -> Dataset:
    """Build a Dataset from driver-side facts (test/fixture path).

    ``facts``: list of (s, p, o), (s, p, o, sign) or (s, p, o, sign, g)
    tuples of Terms — the optional 5th element is the named graph
    (reference quads, src/statement.rs:23-29); matching ignores it.
    """
    norm = [
        (f[0], f[1], f[2], f[3] if len(f) > 3 else True, f[4] if len(f) > 4 else None)
        for f in facts
    ]
    all_terms: list[Term] = []
    for s, p, o, _, g in norm:
        all_terms += [s, p, o] + ([g] if g is not None else [])
    ids = encode_terms(spark, all_terms)
    tdf = terms_df(spark, ids)
    rows = [
        (
            ids[s], ids[p], ids[o], bool(sign), CAUSE_STATED, None, None, 0, "stated",
            ids[g] if g is not None else None,
        )
        for s, p, o, sign, g in norm
    ]
    trips = spark.createDataFrame(rows, triples_schema())
    return Dataset(trips, tdf)


class System:
    """Deduction system: deduped rules + encoded constants."""

    def __init__(self, spark: SparkSession, rules=(), functions: dict | None = None):
        self.spark = spark
        self.rules: list[Rule] = []
        self._seen: set[str] = set()
        self.functions = functions or {}
        self._const_ids: dict | None = None
        for r in load_rules(list(rules)):
            self.insert(r)

    def insert(self, rule: Rule) -> int:
        """Insert with dedup (reference System::insert, src/system/mod.rs:58-72)."""
        key = rule_to_json(rule)
        if key not in self._seen:
            rule.validate()
            self._seen.add(key)
            self.rules.append(rule)
            self._const_ids = None  # new constants may appear
        return self.rules.index(rule) if rule in self.rules else len(self.rules) - 1

    def const_ids(self) -> dict:
        if self._const_ids is None:
            consts: list[Term] = []
            for r in self.rules:
                consts += r.constants()
            self._const_ids = encode_terms(self.spark, consts)
        return self._const_ids

    def rule_constants_terms(self) -> DataFrame:
        """Terms dimension rows for all rule constants (merge into the
        dataset dictionary so decode/facet views cover them)."""
        return terms_df(self.spark, self.const_ids())

    # ------------------------------------------------------------ entry 2
    def deduce(
        self,
        ds: Dataset,
        delta: DataFrame | None = None,
        round_num: int = 0,
        subst_lineage: bool = False,
    ) -> Concluded:
        """One deduction round (System::deduce, src/system/mod.rs:110-119);
        pass ``delta`` for the seeded semi-naive variant (deduce_from_triple,
        src/system/mod.rs:124-149).  ``subst_lineage=True`` emits the dense
        binding vector per triple (``subst: array<long>``, reference
        Entailment payload src/cause.rs:28-34) for provenance replay."""
        facets = resource_facets(ds.terms)
        cids = self.const_ids()
        batches = []
        for idx, rule in enumerate(self.rules):
            subst = find_substitutions(ds.triples, rule, cids, delta=delta, p_buckets=ds.p_buckets)
            batches.append(
                conclude(
                    subst, rule, idx, cids, facets, round_num, self.functions,
                    subst_lineage=subst_lineage,
                )
            )
        return merge_concluded(self.spark, batches)

    def fixpoint(self, ds: Dataset, **kw) -> FixpointResult:
        """Deduce→insert to fixpoint (the caller-driven loop of
        src/lib.rs:56-69, run semi-naively).  A dataset opened from a
        materialized graph carries its catalog row count — threaded
        through as ``store_rows`` so the loop never counts the input."""
        kw.setdefault("store_rows", ds.n_triples)
        return fixpoint(
            self.spark, ds.triples, ds.terms, self.rules, self.const_ids(), self.functions, **kw
        )

    def retract(self, ds: Dataset, retracted: DataFrame, **kw) -> FixpointResult:
        """DRed incremental retraction (operators/retract.py): remove the
        given stated facts from a CLOSED dataset and restore the exact
        fixpoint of the surviving stated facts — without recomputing the
        closure from scratch.  The reference store never deletes
        (src/dataset.rs:24-38); this is the maintenance extension a
        long-lived materialized graph needs."""
        from .operators.retract import retract as _retract

        return _retract(
            self.spark, ds.triples, ds.terms, self.rules, self.const_ids(), retracted,
            functions=self.functions, **kw
        )

    def fixpoint_merged(self, ds: Dataset, **kw):
        """Fixpoint, then resolve the accumulated Eq statements the way
        the reference couples deduction with interpretation merging
        (src/system/deduction.rs:120-162: each Eq conclusion merges the
        two resources in the interpretation, and conflicting literal
        facets on a merged resource surface as AmbiguousLiteral):

            fixpoint → eq_closure over the positive Eq pairs
                     → rewrite the closed store through the canonical
                       mapping (apply_eq_mapping)
                     → re-parse literal facets per canonical resource
                       (resource_facets with eq_mapping)

        Returns ``(FixpointResult, mapping, merged_triples, facets)``;
        ambiguity is ``facets.err == ERR_AMBIGUOUS_LITERAL``.  The Spark
        shape differs from the reference deliberately: merging per-round
        inside the loop would re-key the whole store every round, so the
        closure is applied ONCE over the converged store — the final
        merged graph is the same because Eq is monotone (pairs only
        accumulate) and pattern matching never reads facet values."""
        from pyspark.sql import functions as F

        from .operators.eqclosure import apply_eq_mapping, eq_closure

        res = self.fixpoint(ds, **kw)
        pairs = res.eqs.filter(F.col("sign")).select("a", "b")
        mapping = eq_closure(pairs)
        merged = apply_eq_mapping(res.store, mapping)
        facets = resource_facets(res.terms, eq_mapping=mapping)
        return res, mapping, merged, facets

    # ------------------------------------------------------------ entry 3
    def validate(self, ds: Dataset) -> ValidationResult:
        """System::validate (src/system/mod.rs:188-265): all violations."""
        return validate(
            self.spark,
            ds.triples,
            ds.terms,
            self.rules,
            self.const_ids(),
            self.functions,
            p_buckets=ds.p_buckets,
        )
