"""The session's generated-code cache holds the pipeline's plan
vocabulary, so warm runs reuse compiled classes instead of repaying
Janino compilation, class loading and JIT warm-up on every run."""

from inferdf_rs_spark.extraction import synth
from inferdf_rs_spark.pipelines import webkg
from inferdf_rs_spark.session import CODEGEN_CACHE_CONF, codegen_compiles


def test_warm_pipeline_reuses_generated_code(spark):
    """At Spark's default cache size (100 entries) every golden-fixture
    run recompiles about 190-240 classes; with the cache sized to the
    vocabulary the third run compiles at most a quarter of the first.
    The size is a static conf, so the check reads it back from the
    running session."""
    assert spark.conf.get(CODEGEN_CACHE_CONF) == "1024"
    pages = synth.synth_pages(spark, 60)
    compiled = []
    for _ in range(3):
        c0 = codegen_compiles(spark)
        webkg.run_pipeline(spark, pages)
        compiled.append(codegen_compiles(spark) - c0)
    assert compiled[2] <= compiled[0] / 4, compiled
