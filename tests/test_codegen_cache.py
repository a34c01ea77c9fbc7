"""The session keeps its generated code: a plan run again after many
other distinct plans reuses its compiled classes instead of recompiling
(``spark.sql.codegen.cache.maxEntries`` in ``session.get_spark``)."""


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _plan(spark, i: int):
    # the literal is inlined into the generated source, so every i gives
    # a distinct whole-stage class
    return spark.range(16).selectExpr(f"id * {i + 7} + {i} AS v").filter(f"v > {i}")


def test_rerun_plan_reuses_compiled_code_after_150_others(spark):
    first = _plan(spark, 0).collect()
    for i in range(1, 160):
        _plan(spark, i).collect()
    before = _compiles(spark)
    assert _plan(spark, 0).collect() == first
    assert _compiles(spark) == before
