"""Driver-side term ids (``terms.term_id`` over ``xxh64.xxhash64``) must
equal the Spark-side ``term_id_col`` at every id width, and computing
them must submit no Spark job."""

from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from inferdf_rs_spark import System, build_dataset, iri, pat, rule, stmt_triple, v
from inferdf_rs_spark.schemas import KIND_BLANK, KIND_IRI, KIND_LITERAL, XSD_BOOLEAN, XSD_STRING
from inferdf_rs_spark.terms import Term, encode_term_batch, encode_terms, id_bits, terms_df
from inferdf_rs_spark.xxh64 import xxh64

WIDTHS = (64, 128, 12)

# (term, id at 64 bits, at 128 bits, at the 12-bit test width), as
# Spark 4.1's xxhash64 computes them: a Spark upgrade that changes the
# hash breaks every stored dictionary, and must fail here first
KNOWN = [
    (Term.iri("https://example.org/kg#mentions"), -9216940590000571844,
     Decimal("-85011272103163033409881217089005751407"), 2620),
    (Term.iri(""), -7826176088288498634, Decimal("-72183733688221631389603274294260573132"), 3126),
    (Term.blank("b0"), 5634270081840489503, Decimal("51966969120935040056961100314674935788"), 1055),
    (Term.literal("true", XSD_BOOLEAN), -189469106054734926,
     Decimal("-1747544054633114004448690974647683567"), 2994),
    (Term.literal("chat", XSD_STRING, "fr"), 1579967335844541836,
     Decimal("14572626544572485477744422309137597751"), 1420),
    (Term.literal("漢字 é 😀\x00", XSD_STRING), -9077010589459531735,
     Decimal("-83720645649055730416379893489397301393"), 2089),
    (Term.iri("x" * 33), -2883547942146247130, Decimal("-26596035456521828614914779018691738264"), 1574),
]


def spark_ids(spark, terms):
    """``term_id_col`` evaluated by Spark, in input order."""
    raw = spark.createDataFrame(
        [(i, t.kind, t.lexical, t.datatype, t.lang) for i, t in enumerate(terms)],
        "i int, kind int, lexical string, datatype string, lang string",
    )
    return [r.term_id for r in encode_term_batch(raw).orderBy("i").collect()]


def test_xxh64_reference_vectors():
    # the published XXH64 test vectors (seed 0)
    assert xxh64(b"", 0) == 0xEF46DB3751D8E999
    assert xxh64(b"a", 0) == 0xD24EC4F1A98C6E5B
    assert xxh64(b"abc", 0) == 0x44BC2CF5AD770999


@pytest.mark.parametrize("col,bits", enumerate(WIDTHS, start=1))
def test_known_vectors(spark, col, bits):
    terms = [k[0] for k in KNOWN]
    want = [k[col] for k in KNOWN]
    with id_bits(bits):
        assert spark_ids(spark, terms) == want
        assert list(encode_terms(spark, terms).values()) == want


# lexicals whose UTF-8 length sits on the 4-, 8- and 32-byte boundaries
# of XXH64's tail and stripe loops, led by multi-byte and NUL characters
_CHARS = ["a", "Z", "0", " ", "#", "\x00", "é", "ß", "漢", "😀"]
_straddling = st.builds(
    lambda head, n: head + "x" * max(0, n - len(head.encode("utf-8"))),
    st.text(alphabet=_CHARS, max_size=3),
    st.sampled_from([0, 3, 4, 5, 7, 8, 9, 31, 32, 33, 63, 64, 65]),
)
_text = st.one_of(st.text(alphabet=_CHARS, max_size=80), _straddling)
_terms = st.builds(
    Term,
    st.sampled_from([KIND_IRI, KIND_BLANK, KIND_LITERAL]),
    _text,
    st.one_of(st.none(), st.just(XSD_STRING), _text),
    st.one_of(st.none(), st.just("en"), _text),
)


@pytest.mark.parametrize("bits", WIDTHS)
@settings(max_examples=25, deadline=None, derandomize=True, suppress_health_check=[HealthCheck.too_slow])
@given(terms=st.lists(_terms, min_size=1, max_size=20))
def test_driver_ids_match_spark(spark, bits, terms):
    with id_bits(bits):
        assert list(encode_terms(spark, terms).values()) == spark_ids(spark, list(dict.fromkeys(terms)))


def test_count_jobs_sees_jobs(spark, count_jobs):
    with count_jobs() as jobs:
        spark.range(3).collect()
    assert jobs.n >= 1


@pytest.mark.parametrize("bits", WIDTHS)
def test_driver_ids_submit_no_job(spark, count_jobs, bits):
    terms = [k[0] for k in KNOWN]
    ex = "https://example.org/#"
    sysm = System(spark, [rule(2, [pat("+", v(0), iri(ex + "p"), v(1))], [stmt_triple("+", v(1), iri(ex + "q"), v(0))])])
    with id_bits(bits), count_jobs() as jobs:
        encode_terms(spark, terms)
        terms_df(spark, terms)
        build_dataset(spark, [tuple(terms[:3]), (terms[2], terms[0], terms[3], False)])
        sysm.const_ids()
        sysm.rule_constants_terms()
    assert jobs.n == 0
