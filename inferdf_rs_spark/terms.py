"""Interpretation layer: dictionary-encoding of RDF terms to int64 ids.

The reference is generic over an ``Interpretation`` mapping resources to
lexical terms (reference: src/lib.rs:104, interpretation traits used at
src/system/deduction.rs:136-137, src/expression/mod.rs:380-394).  Spark
equivalent: a ``terms`` dimension DataFrame with **deterministic**
hash-based ids — ``xxhash64(kind, lexical, datatype, lang)`` — so that
re-runs, resumed checkpoints and independently-encoded rule constants
all agree without any sequential id generator (which cannot be
replicated distributedly; reference's generator: src/rule/mod.rs:230-233).

The id has two definitions that must agree: ``term_id_col`` (the Spark
expression bulk encoding runs) and ``term_id`` (the same function on the
driver, over ``xxh64.xxhash64``, for rule constants, query constants and
fixtures — no Spark job).  tests/test_xxh64.py pins their parity at
every id width, plus known vectors that fail loudly if a Spark upgrade
changes ``xxhash64``.

One resource id may carry several literal facets only after Eq-closure
merging (reference ReverseTermInterpretation allows several literals per
resource); ``resource_facets`` exposes the parsed-facet view with the
reference's refine/ambiguity semantics
(src/expression/value/comparable.rs:39-89).
"""

from __future__ import annotations

from dataclasses import dataclass
from decimal import Decimal

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import (
    DECIMAL_T,
    ERR_AMBIGUOUS_LITERAL,
    ERR_INVALID_LITERAL,
    ERR_NONE,
    KIND_BLANK,
    KIND_IRI,
    KIND_LITERAL,
    REGEX_TYPE_IRI,
    TERMS_SCHEMA,
    TRIPLES_SCHEMA,
    VT_ANY,
    VT_BOOL,
    VT_DECIMAL,
    VT_REGEX,
    VT_STRING,
    XSD_BOOLEAN,
    XSD_DECIMAL_FAMILY,
    XSD_STRING,
)
from .xxh64 import xxhash64

# sentinel for null datatype/lang inside the hash (never a legal IRI/tag)
_NULL_S = "\x00"

# ------------------------------------------------------------- id width
# 64-bit xxhash64 ids are the default.  At the 10^12-term design point
# the birthday bound makes 64-bit collisions plausible (~2.7% chance of
# at least one for 10^12 draws from 2^63 distinct positives), so
# ``set_id_bits(128)`` switches the dictionary to 126-bit ids packed
# into one decimal(38,0) column: two INDEPENDENT xxhash64 passes over
# the same facets (the second with a salt prepended), combined as
# ``h1·2^63 + pmod(h2, 2^63)`` — max magnitude 2^126 ≈ 8.5e37, inside
# decimal(38,0) even under ANSI overflow checks.  Collision probability
# at 10^12 terms drops to ~10^-14.  Every operator treats ids as opaque
# scalars (join/groupBy/compare), so the mode changes ONLY the encoding
# layer; Spark's set-operation widening (bigint → decimal) keeps
# engine-internal empty frames and 64-bit minted existential ids
# compatible with a decimal store.  Widths < 64 exist ONLY to let tests
# inject birthday collisions cheaply (mask to 2^bits).
ID_BITS = 64
_ID_DEC = "decimal(38,0)"


def set_id_bits(bits: int) -> None:
    """Select the dictionary id width (the 128-bit collision fallback).

    Call before any encoding; mixing widths in one dataset conflates or
    splits terms.  Checkpoint resume (``fixpoint.load_checkpoint``) and
    the DuckDB oracles assume the default 64-bit width."""
    if bits != 64 and bits != 128 and not (4 <= bits < 64):
        raise ValueError(f"id width must be 64, 128, or a 4..63 test width, got {bits}")
    global ID_BITS
    ID_BITS = bits


class id_bits:
    """Context manager: ``with id_bits(128): ...`` (restores on exit)."""

    def __init__(self, bits: int):
        self.bits = bits

    def __enter__(self):
        self.prev = ID_BITS
        set_id_bits(self.bits)

    def __exit__(self, *exc):
        set_id_bits(self.prev)


def id_spark_type() -> str:
    return "bigint" if ID_BITS <= 64 else _ID_DEC


def _id_struct_type():
    from pyspark.sql import types as T

    return T.LongType() if ID_BITS <= 64 else T.DecimalType(38, 0)


def triples_schema():
    """``TRIPLES_SCHEMA`` with id columns at the active width."""
    from pyspark.sql import types as T

    if ID_BITS <= 64:
        return TRIPLES_SCHEMA
    return T.StructType(
        [
            T.StructField(f.name, _id_struct_type(), f.nullable)
            if f.name in ("s", "p", "o", "g")
            else f
            for f in TRIPLES_SCHEMA.fields
        ]
    )


def terms_schema():
    """``TERMS_SCHEMA`` with ``term_id`` at the active width."""
    from pyspark.sql import types as T

    if ID_BITS <= 64:
        return TERMS_SCHEMA
    return T.StructType(
        [
            T.StructField(f.name, _id_struct_type(), f.nullable) if f.name == "term_id" else f
            for f in TERMS_SCHEMA.fields
        ]
    )


@dataclass(frozen=True)
class Term:
    """Driver-side term value: IRI | blank node | literal.

    Mirrors the three lexical forms of the reference's ``Term``
    (reference README.md:9-13).
    """

    kind: int
    lexical: str
    datatype: str | None = None
    lang: str | None = None

    @staticmethod
    def iri(value: str) -> "Term":
        return Term(KIND_IRI, value)

    @staticmethod
    def blank(label: str) -> "Term":
        return Term(KIND_BLANK, label)

    @staticmethod
    def literal(value: str, datatype: str = XSD_STRING, lang: str | None = None) -> "Term":
        return Term(KIND_LITERAL, value, datatype, lang)


def term_id_col(kind: Column, lexical: Column, datatype: Column, lang: Column) -> Column:
    """Deterministic term id over the four facets (nulls → sentinel) at
    the active ``ID_BITS`` width (see the id-width block above)."""
    facets = (
        kind.cast("int"),
        lexical,
        F.coalesce(datatype, F.lit(_NULL_S)),
        F.coalesce(lang, F.lit(_NULL_S)),
    )
    h1 = F.xxhash64(*facets)
    if ID_BITS == 64:
        return h1
    if ID_BITS < 64:  # test-only narrow width: forces birthday collisions
        return F.pmod(h1, F.lit(1 << ID_BITS)).cast("long")
    two63 = F.lit(Decimal(1 << 63))  # 2^63 > Long.MAX — must be a decimal literal
    h2 = F.xxhash64(F.lit("#id2"), *facets)  # independent second 64 bits
    return (h1.cast(_ID_DEC) * two63 + F.pmod(h2.cast(_ID_DEC), two63)).cast(_ID_DEC)


def term_id(t: Term) -> int | Decimal:
    """Driver-side ``term_id_col`` for one term at the active width."""
    facets = (
        t.kind,
        t.lexical,
        _NULL_S if t.datatype is None else t.datatype,
        _NULL_S if t.lang is None else t.lang,
    )
    h1 = xxhash64(*facets)
    if ID_BITS == 64:
        return h1
    if ID_BITS < 64:
        return h1 % (1 << ID_BITS)
    return Decimal(h1 * (1 << 63) + xxhash64("#id2", *facets) % (1 << 63))


def encode_terms(spark: SparkSession, terms: list[Term]) -> dict[Term, int]:
    """Resolve driver-side terms (rule constants, query constants, test
    fixtures) to ids, in first-seen order.

    The ids are computed on the driver by ``term_id`` and submit no
    Spark job; they equal the Spark-side ``term_id_col`` used for bulk
    encoding, which tests/test_xxh64.py pins.  ``spark`` is unused and
    kept for the callers' signature.
    """
    return {t: term_id(t) for t in dict.fromkeys(terms)}


def terms_df(spark: SparkSession, terms: list[Term] | dict[Term, int]) -> DataFrame:
    """Build a ``terms`` dimension DataFrame (with ids) from driver-side
    terms, or from an ``encode_terms`` result so its ids are not
    computed twice.  No Spark job runs."""
    ids = terms if isinstance(terms, dict) else encode_terms(spark, terms)
    rows = [
        (ids[t], t.kind, t.lexical, t.datatype, t.lang)
        for t in sorted(ids, key=lambda t: (t.kind, t.lexical, t.datatype or "", t.lang or ""))
    ]
    return spark.createDataFrame(rows, terms_schema())


def encode_term_batch(df: DataFrame, kind: str = "kind", lexical: str = "lexical", datatype: str = "datatype", lang: str = "lang") -> DataFrame:
    """Add a ``term_id`` column to a DataFrame of raw term facets."""
    return df.withColumn(
        "term_id", term_id_col(F.col(kind), F.col(lexical), F.col(datatype), F.col(lang))
    )


def empty_terms(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], terms_schema())


def merge_terms(*dfs: DataFrame) -> DataFrame:
    """Union + dedup of terms dimensions (id is function of content)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out.dropDuplicates(["term_id"])


def audit_collisions(terms: DataFrame) -> DataFrame:
    """Hash-collision audit: ids carrying >1 distinct lexical form.

    At 10^12-term scale the birthday bound makes 64-bit collisions
    possible; run this after bulk encoding and fail the job if
    non-empty.  The remedy is ``set_id_bits(128)`` (see the id-width
    block above): re-encode the corpus with 126-bit decimal ids, under
    which the audit passes (tripped-at-64 / clean-at-128 is pinned by
    tests/test_extensions.py::test_id_width_collision_fallback).
    """
    # count_distinct over a STRUCT, not the bare columns: multi-arg
    # count_distinct drops any tuple containing a NULL, and datatype/lang
    # are null for every IRI and blank node — the bare-column form was
    # blind to collisions between exactly the terms that dominate a web
    # KG (caught by test_id_width_collision_fallback's injected
    # collisions; struct values with null fields count normally)
    return (
        terms.groupBy("term_id")
        .agg(F.count_distinct(F.struct("kind", "lexical", "datatype", "lang")).alias("n"))
        .filter(F.col("n") > 1)
    )


# --------------------------------------------------------------- facets


def resource_facets(terms: DataFrame, eq_mapping: DataFrame | None = None) -> DataFrame:
    """Parsed literal facets per resource.

    Implements the reference's typed-literal refinement
    (src/expression/value/comparable.rs:39-89): per literal, the
    datatype IRI selects the facet space — xsd:boolean → Boolean,
    any XSD decimal-family type → Decimal, xsd:string → String, the
    spruceid Regex IRI → Regex; anything else contributes no facet
    (the resource stays opaque/Any).  Unparseable lexical forms are
    InvalidLiteral errors; conflicting facets on one (Eq-merged)
    resource are AmbiguousLiteral errors.

    Returns columns: ``res, vtype, b, d, s, r, lex, lex_ambig, err``.
    ``lex`` is the raw lexical form of the resource's literal — kept for
    *all* literals, even non-facet datatypes, because the reference's
    ``require_any_literal`` (src/expression/value/mod.rs:83-126) returns
    the raw lexical regardless of datatype and reports AmbiguousLiteral
    on distinct lexicals.

    ``eq_mapping`` (optional): DataFrame ``(term_id, res)`` from
    Eq-closure; without it each term is its own resource.

    The built plan is cached on the ``terms`` object per ``eq_mapping``
    identity: a fixpoint re-derives the same facet view every round over
    the same (checkpointed) terms frame, and rebuilding it was a
    measurable share of the per-round driver floor.  DataFrames are
    immutable, so reuse is safe; the cache dies with the terms object.
    """
    cached = getattr(terms, "_inferdf_facets_cache", None)
    if cached is not None and cached[0] is eq_mapping:
        return cached[1]

    def _done(out: DataFrame) -> DataFrame:
        try:
            terms._inferdf_facets_cache = (eq_mapping, out)
        except AttributeError:
            pass
        return out

    lit = terms.filter(F.col("kind") == KIND_LITERAL)

    dt = F.col("datatype")
    lex = F.col("lexical")
    # Null-safe datatype predicates: with a null datatype, ``dt.isin(...)``
    # is NULL (not false) and ``And(null, x)`` still evaluates x — which
    # under an ANSI-on session makes the decimal cast below throw on
    # non-numeric lexicals.  The engine must be ANSI-robust regardless of
    # session config, so every predicate is coalesced to false.
    is_bool = F.coalesce(dt == XSD_BOOLEAN, F.lit(False))
    is_dec = F.coalesce(dt.isin(list(XSD_DECIMAL_FAMILY)), F.lit(False))
    is_str = F.coalesce(dt == XSD_STRING, F.lit(False))
    is_re = F.coalesce(dt == REGEX_TYPE_IRI, F.lit(False))

    b = F.when(lex.isin("true", "1"), F.lit(True)).when(lex.isin("false", "0"), F.lit(False))
    # try_cast, never cast: malformed decimals must become NULL (then an
    # InvalidLiteral error row, matching reference
    # src/expression/value/literal.rs:86-101) — not an ANSI runtime crash.
    d = lex.try_cast(DECIMAL_T)

    parsed = lit.select(
        F.col("term_id").alias("res"),
        F.when(is_bool, VT_BOOL)
        .when(is_dec, VT_DECIMAL)
        .when(is_str, VT_STRING)
        .when(is_re, VT_REGEX)
        .otherwise(VT_ANY)
        .alias("vtype"),
        F.when(is_bool, b).alias("b"),
        F.when(is_dec, d).alias("d"),
        F.when(is_str, lex).alias("s"),
        F.when(is_re, lex).alias("r"),
        lex.alias("lex"),
        F.lit(False).alias("lex_ambig"),
        F.when(is_bool & b.isNull(), ERR_INVALID_LITERAL)
        .when(is_dec & d.isNull(), ERR_INVALID_LITERAL)
        .otherwise(ERR_NONE)
        .alias("err"),
    )

    if eq_mapping is None:
        return _done(parsed)

    # Eq-merged resources: re-key literals to their canonical resource and
    # apply the refine rule — distinct facets conflict ⇒ AmbiguousLiteral
    # (src/expression/value/comparable.rs:80-89).
    mapped = (
        parsed.join(eq_mapping.withColumnRenamed("res", "canon"), parsed.res == eq_mapping.term_id, "left")
        .withColumn("res2", F.coalesce(F.col("canon"), F.col("res")))
        .select(F.col("res2").alias("res"), "vtype", "b", "d", "s", "r", "lex", "err")
    )
    agg = mapped.groupBy("res").agg(
        F.collect_set(
            F.when(F.col("vtype") != VT_ANY, F.struct("vtype", "b", "d", "s", "r"))
        ).alias("facets"),
        F.collect_set("lex").alias("lexs"),
        F.max("err").alias("perr"),
    )
    f0 = F.col("facets")[0]
    one = F.size("facets") == 1
    return _done(agg.select(
        "res",
        F.when(one, f0["vtype"]).otherwise(F.lit(VT_ANY)).alias("vtype"),
        F.when(one, f0["b"]).alias("b"),
        F.when(one, f0["d"]).alias("d"),
        F.when(one, f0["s"]).alias("s"),
        F.when(one, f0["r"]).alias("r"),
        F.col("lexs")[0].alias("lex"),
        (F.size("lexs") > 1).alias("lex_ambig"),
        F.when(F.col("perr") != ERR_NONE, F.col("perr"))
        .when(F.size("facets") > 1, F.lit(ERR_AMBIGUOUS_LITERAL))
        .otherwise(F.lit(ERR_NONE))
        .alias("err"),
    ))


def decode_triples(triples: DataFrame, terms: DataFrame) -> DataFrame:
    """Join triple ids back to lexical forms for human-readable output.

    Three broadcast-able joins against the dictionary (the dimension is
    tiny relative to the fact table only in tests; at scale Catalyst/AQE
    picks sort-merge — decode is an output-edge op, not a hot path).
    """
    t = terms.select("term_id", "kind", "lexical", "datatype")
    out = triples
    for pos in ("s", "p", "o"):
        tt = t.select(
            F.col("term_id").alias(f"_{pos}_id"),
            F.col("kind").alias(f"{pos}_kind"),
            F.col("lexical").alias(f"{pos}_lex"),
            F.col("datatype").alias(f"{pos}_dt"),
        )
        out = out.join(tt, out[pos] == tt[f"_{pos}_id"], "left").drop(f"_{pos}_id")
    return out
