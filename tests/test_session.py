"""The session factory's static settings.

Spark keeps compiled generated classes in one JVM-wide LRU cache
(``spark.sql.codegen.cache.maxEntries``, 100 by default).  The
engine's working set is far larger, so ``get_spark`` raises the bound;
these tests pin the setting and its effect: a query's classes survive
the compilation of more than 100 other classes.  ``get_spark`` also
turns PySpark's per-Column-call call-site capture off, and for local
masters runs the Python workers under the engine's worker daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from hospital_data_engineering_pipeline_end_to_end_project_spark import session
from hospital_data_engineering_pipeline_end_to_end_project_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    WORKER_DAEMON,
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


def test_get_spark_turns_column_call_site_capture_off(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_second_arrow_task_sees_no_zip_finder(spark):
    def zip_finders(batches):
        # nested, so it ships by value: the task imports no test module
        import sys
        import zipimport

        import pyarrow as pa

        finders = sys.path_importer_cache.values()
        n = sum(isinstance(f, zipimport.zipimporter) for f in finders)
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"id": [n]})

    assert spark.conf.get("spark.python.daemon.module") == WORKER_DAEMON
    df = spark.range(0, 10, 1, 1)
    df.mapInArrow(zip_finders, df.schema).collect()
    assert [r.id for r in df.mapInArrow(zip_finders, df.schema).collect()] == [0]


def _options(monkeypatch, **kwargs) -> dict:
    """The settings get_spark hands the builder, without building."""
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    return session.get_spark(**kwargs)


def test_local_master_runs_the_worker_daemon(monkeypatch):
    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    opts = _options(
        monkeypatch, master="local[2]",
        extra_conf={"spark.executorEnv.PYTHONPATH": "/elsewhere"},
    )
    assert opts["spark.python.daemon.module"] == WORKER_DAEMON
    assert opts["spark.executorEnv.PYTHONPATH"] == os.pathsep.join([root, "/elsewhere"])


def test_non_local_master_leaves_the_daemon_unset(monkeypatch):
    opts = _options(monkeypatch, master="spark://head:7077")
    assert "spark.python.daemon.module" not in opts
    assert "spark.executorEnv.PYTHONPATH" not in opts
