"""Deterministic synthesis of the north-rule input table.

BASELINE.json input_hint: Iceberg/parquet table of Common-Crawl-style
pages ``(url string, warc_ts timestamp, html binary, text string,
lang string)``.  No external data: pages are generated entirely from
``spark.range`` arithmetic — same N ⇒ byte-identical table, at any
partition count (generation is embarrassingly parallel and seedless).

The text embeds alias-dictionary mentions at deterministic positions so
extraction/linking output is golden-checkable, and ``html`` is a
wrapping of ``text`` such that ``extract.html_to_text(html) == text``
byte-for-byte (the per-url fidelity invariant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

ENT = "https://example.org/entity/"
TYPE = "https://example.org/type/"

# alias dictionary: ~50 surface forms over 20 IRIs; 'mercury' is the
# deliberately ambiguous alias (two IRIs, distinct scores) — argmax
# linking must deterministically pick the higher score, tie → iri asc
ALIAS_ROWS: list[tuple[str, str, float]] = [
    ("alice johnson", ENT + "alice_johnson", 0.95),
    ("alice", ENT + "alice_johnson", 0.55),
    ("bob smith", ENT + "bob_smith", 0.94),
    ("bob", ENT + "bob_smith", 0.52),
    ("carol white", ENT + "carol_white", 0.93),
    ("david brown", ENT + "david_brown", 0.92),
    ("erin davis", ENT + "erin_davis", 0.91),
    ("frank miller", ENT + "frank_miller", 0.90),
    ("grace wilson", ENT + "grace_wilson", 0.89),
    ("henry moore", ENT + "henry_moore", 0.88),
    ("paris", ENT + "paris_france", 0.80),
    ("london", ENT + "london_uk", 0.81),
    ("berlin", ENT + "berlin_de", 0.82),
    ("madrid", ENT + "madrid_es", 0.83),
    ("rome", ENT + "rome_it", 0.84),
    ("tokyo", ENT + "tokyo_jp", 0.85),
    ("acme corp", ENT + "acme_corp", 0.87),
    ("acme", ENT + "acme_corp", 0.60),
    ("globex", ENT + "globex_inc", 0.86),
    ("initech", ENT + "initech_llc", 0.79),
    ("umbrella group", ENT + "umbrella_group", 0.78),
    ("mercury", ENT + "mercury_planet", 0.70),
    ("mercury", ENT + "mercury_element", 0.40),
    ("venus", ENT + "venus_planet", 0.71),
    ("jupiter", ENT + "jupiter_planet", 0.72),
]

# entity → type (Person / Place / Org / Planet / Element)
ENTITY_TYPES: dict[str, str] = {
    ENT + "alice_johnson": TYPE + "Person",
    ENT + "bob_smith": TYPE + "Person",
    ENT + "carol_white": TYPE + "Person",
    ENT + "david_brown": TYPE + "Person",
    ENT + "erin_davis": TYPE + "Person",
    ENT + "frank_miller": TYPE + "Person",
    ENT + "grace_wilson": TYPE + "Person",
    ENT + "henry_moore": TYPE + "Person",
    ENT + "paris_france": TYPE + "Place",
    ENT + "london_uk": TYPE + "Place",
    ENT + "berlin_de": TYPE + "Place",
    ENT + "madrid_es": TYPE + "Place",
    ENT + "rome_it": TYPE + "Place",
    ENT + "tokyo_jp": TYPE + "Place",
    ENT + "acme_corp": TYPE + "Org",
    ENT + "globex_inc": TYPE + "Org",
    ENT + "initech_llc": TYPE + "Org",
    ENT + "umbrella_group": TYPE + "Org",
    ENT + "mercury_planet": TYPE + "Planet",
    ENT + "mercury_element": TYPE + "Element",
    ENT + "venus_planet": TYPE + "Planet",
    ENT + "jupiter_planet": TYPE + "Planet",
}

# sameAs seed pairs (directed; rules close them symmetrically/transitively)
SAMEAS_SEED: list[tuple[str, str]] = [
    (ENT + "acme_corp", ENT + "acme_inc_alias"),
    (ENT + "acme_inc_alias", ENT + "acme_global"),
    (ENT + "globex_inc", ENT + "globex_worldwide"),
]

FILLER = [
    "report", "about", "market", "team", "today", "visited", "office",
    "meeting", "with", "announced", "launch", "quarterly", "update",
    "interview", "travel", "press", "release", "story", "analysis",
]

LANGS = ["en", "fr", "de", "es", "zh"]


def alias_dict(spark: SparkSession) -> DataFrame:
    return local_frame(spark, ALIAS_ROWS, "alias string, iri string, score double")


def entity_types(spark: SparkSession) -> DataFrame:
    return local_frame(spark, ENTITY_TYPES.items(), "iri string, type string")


def sameas_seed(spark: SparkSession) -> DataFrame:
    return local_frame(spark, SAMEAS_SEED, "a string, b string")


def synth_pages(
    spark: SparkSession,
    n_pages: int,
    partitions: int | None = None,
    words_per_page: int = 24,
) -> DataFrame:
    """Generate N pages deterministically from range arithmetic.

    Word k of page i is an alias mention when ``k % 8 == 0`` (chosen by
    modular arithmetic on (i, k)), a filler word otherwise; html wraps
    text in tags with '&' escaped so extraction reproduces the text
    byte-identically.  ``words_per_page`` scales page size (24 ≈ test
    fixtures; 150+ ≈ realistic crawled-page text)."""
    aliases = sorted({a for a, _, _ in ALIAS_ROWS})
    n_al, n_fill = len(aliases), len(FILLER)
    alias_arr = F.array(*[F.lit(a) for a in aliases])
    fill_arr = F.array(*[F.lit(w) for w in FILLER])

    df = spark.range(0, n_pages, 1, partitions or spark.sparkContext.defaultParallelism)
    i = F.col("id")
    # slot step 5 is coprime to the alias-vocabulary size → consecutive
    # mention slots cycle the whole dictionary, not a small subgroup
    words = [
        alias_arr[(i * 7 + (k // 8) * 5) % n_al] if k % 8 == 0 else fill_arr[(i * 5 + k * 3) % n_fill]
        for k in range(words_per_page)
    ]
    text = F.concat_ws(" ", *words, F.lit("& more"))
    html = F.concat(
        F.lit("<html><head><title>page "),
        i.cast("string"),
        F.lit("</title></head><body><p>"),
        F.regexp_replace(text, "&", "&amp;"),
        F.lit("</p><script>var x=1;</script></body></html>"),
    )
    return df.select(
        F.concat(F.lit("https://example.org/page/"), i.cast("string")).alias("url"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=i.cast("double"))).alias("warc_ts"),
        F.encode(html, "utf-8").alias("html"),
        text.alias("text"),
        F.element_at(F.array(*[F.lit(lang) for lang in LANGS]), (i % len(LANGS) + 1).cast("int")).alias("lang"),
    )
