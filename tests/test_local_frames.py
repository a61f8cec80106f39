"""Driver-built constant tables are Arrow-backed ``LocalRelation``s:
collecting one submits no Spark job (a list-built frame would run a
Python-worker task per partition), at both id widths."""

from decimal import Decimal

import pytest

from inferdf_rs_spark.extraction import synth
from inferdf_rs_spark.pipelines import webkg
from inferdf_rs_spark.schemas import KIND_IRI, KIND_LITERAL
from inferdf_rs_spark.session import local_frame
from inferdf_rs_spark.terms import Term, id_bits, terms_df, terms_schema

EX = "https://example.org/#"


def constant_frames(spark):
    return {
        "alias_dict": synth.alias_dict(spark),
        "entity_types": synth.entity_types(spark),
        "sameas_seed": synth.sameas_seed(spark),
        "terms_df": terms_df(spark, [Term.iri(EX + "a"), Term.literal("1", lang="en")]),
        "predicate_term_rows": webkg.predicate_term_rows(spark),
    }


def optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("bits", [64, 128])
def test_constant_frames_collect_without_jobs(spark, count_jobs, bits):
    with id_bits(bits):
        frames = constant_frames(spark)
        want_schema = terms_schema()
        with count_jobs() as jobs:
            rows = {name: df.collect() for name, df in frames.items()}
    assert jobs.n == 0
    for name, df in frames.items():
        plan = optimized_plan(df)
        assert plan.startswith("LocalRelation") and "LogicalRDD" not in plan, (name, plan)
    assert len(rows["alias_dict"]) == len(synth.ALIAS_ROWS)
    assert len(rows["entity_types"]) == len(synth.ENTITY_TYPES)
    assert len(rows["sameas_seed"]) == len(synth.SAMEAS_SEED)
    assert {r.lexical for r in rows["predicate_term_rows"]} == set(webkg.WEB_PREDICATES)
    id_type = int if bits == 64 else Decimal
    assert all(isinstance(r.term_id, id_type) for r in rows["terms_df"])
    assert frames["terms_df"].schema == want_schema


def test_local_frame_keeps_schema_and_values(spark):
    rows = [(KIND_IRI, "a", None), (KIND_LITERAL, "b", "x")]
    df = local_frame(spark, rows, "kind int, lexical string, datatype string")
    assert [tuple(r) for r in df.collect()] == rows
    assert df.dtypes == [("kind", "int"), ("lexical", "string"), ("datatype", "string")]
    empty = local_frame(spark, [], terms_schema())
    assert empty.schema == terms_schema() and empty.count() == 0
    assert optimized_plan(empty).startswith("LocalRelation <empty>")
