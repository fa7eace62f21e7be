"""The session factory's generated-code cache bound.

Spark keeps compiled generated classes in one JVM-wide LRU cache
(``spark.sql.codegen.cache.maxEntries``, 100 by default).  The
engine's working set is far larger, so ``get_spark`` raises the bound;
these tests pin the setting and its effect: a query's classes survive
the compilation of more than 100 other classes.
"""

from __future__ import annotations

from hospital_data_engineering_pipeline_end_to_end_project_spark.session import (
    CODEGEN_CACHE_ENTRIES,
)


def _compiled(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_get_spark_reports_the_codegen_cache_bound(spark):
    assert CODEGEN_CACHE_ENTRIES > 100
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_query_classes_survive_more_than_100_other_compiles(spark):
    def aggregate():
        return (
            spark.range(0, 1000, 1, 2)
            .selectExpr("id % 7 AS k", "id * 3 AS v")
            .groupBy("k")
            .agg({"v": "sum"})
            .orderBy("k")
            .collect()
        )

    want = aggregate()
    before = _compiled(spark)
    # each distinct int literal is inlined into the generated source,
    # so every call compiles new classes
    for i in range(60):
        spark.range(1).selectExpr(f"id + {i + 7919}").collect()
    churn = _compiled(spark) - before
    assert churn > 100, f"only {churn} classes compiled in between"
    start = _compiled(spark)
    assert aggregate() == want
    assert _compiled(spark) == start, "the aggregate's classes were recompiled"
