"""SparkSession factory.

The reference relies on an ambient Databricks session with implicit AQE
(SURVEY.md section 4).  Here the session is explicit and tuned for both
the local[32] test harness and a real multi-executor cluster: AQE on
(runtime coalesce + skew-join handling), Arrow on (fast pandas-UDF and
toPandas paths), and a shuffle-partition count sized from the
environment rather than Spark's 200 default.

At 100 TB the same settings hold: AQE re-plans post-shuffle partition
counts from actual map output sizes, so an over-provisioned static
``spark.sql.shuffle.partitions`` is coalesced for free; skewed join
keys are split by the skew-join rule instead of stalling one executor.

Generated-code cache.  Spark compiles every whole-stage-codegen stage
and every projection/predicate into a Java class and keeps the
compiled classes in one JVM-wide LRU cache, bounded at 100 entries by
default (``spark.sql.codegen.cache.maxEntries``).  The engine's working
set is far larger, so at 100 the cache thrashes and every pass
recompiles what the previous pass already compiled.  Measured with
Spark's ``CodegenMetrics`` compile counter (4-vCPU VM, local[2]):

- a steady-state pass of the 6-query benchmark catalog compiles 56-61
  classes at 100, 2 at 4096;
- a medallion incremental batch compiles 138 / 28 / 16 classes in
  ``run_silver`` / the fact refreshes / ``refresh_marts`` at 100, and
  24 / 8 / 0 at 4096;
- every pass over the 142 headline queries at sf0.001 compiles
  ~3,300 classes at 100.  At 4096 the first pass compiles ~2,420 and
  each later pass 110-130 (Date and Int literals are inlined into the
  Java source, so a query whose literal changes compiles a new
  class); keeping them costs ~20 MB of metaspace (190 -> 209 MB after
  the first pass) and ~13 MB of JIT code cache.

:data:`CODEGEN_CACHE_ENTRIES` (4096) holds that working set with room
for the literal-varying classes of a long-lived session.  It must stay
positive: 0 disables the cache.  The setting is static: the cache is
created once per JVM, from the configuration of the JVM's first
session, so it only takes effect when :func:`get_spark` builds that
first session.  A session a caller builds itself, before or instead of
``get_spark``, keeps Spark's 100.

Column call-site capture.  PySpark 4 turns
``spark.python.sql.dataFrameDebugging.enabled`` on by default: every
wrapped Column call (``F.col``, ``+``, ``F.when``, ...) then walks the
Python stack for the first frame outside pyspark and records it in the
JVM as the expression's origin, several extra Py4J round trips per
call.  For every engine operator that frame is a line of the engine's
own modules (``operators/*.py``, ``plans/*.py``), not the caller's
code, so the context buys little in error messages while it is paid on
every node of every DataFrame built.  ``get_spark`` turns it off.
Measured per call on a 4-vCPU VM (local[2], warm session, on -> off):
``col + col`` 0.95 -> 0.13 ms, ``F.when(..).otherwise(..)`` 2.48 ->
0.55 ms, ``F.col`` 1.12 -> 0.29 ms.  The setting is static too, and
PySpark reads it once per process
(``pyspark.errors.utils.is_debugging_enabled`` caches the first
answer), so it only takes effect when :func:`get_spark` builds the
process's first session.  A caller who wants the call sites passes
``{"spark.python.sql.dataFrameDebugging.enabled": "true"}`` through
``extra_conf``.

Worker daemon.  For a local master, ``get_spark`` sets
``spark.python.daemon.module`` to :mod:`.worker_daemon` and prepends
the directory holding the package to ``spark.executorEnv.PYTHONPATH``
so the Python workers can import it.  Each Python task (mapInArrow,
mapInPandas, pandas_udf, RDD) otherwise spends 106-160 ms in PySpark's
``setup_spark_files``, whose ``importlib.invalidate_caches()`` makes
every cached ``zipimporter`` re-read ``pyspark.zip``'s central
directory (Python 3.11); the daemon drops those finders before each
task.  Measured on a 4-vCPU VM (local[2]): an identity mapInArrow job
249 -> 131 ms, mapInPandas 247 -> 115 ms.  Other masters keep Spark's
stock daemon: their executors need not have the package installed.
Both settings are static, effective only when ``get_spark`` builds the
JVM's first SparkContext.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

#: ``spark.python.daemon.module`` for local masters (module docstring)
WORKER_DAEMON = f"{__package__}.worker_daemon"

#: ``spark.sql.codegen.cache.maxEntries``: compiled generated classes
#: kept per JVM (Spark's default is 100).  Sized from the measured
#: working set in the module docstring: the 142 headline queries compile
#: ~2,420 classes on their first pass and 110-130 literal-varying ones
#: on each later pass, for ~20 MB of metaspace.  Never 0 (disables the
#: cache).
CODEGEN_CACHE_ENTRIES = 4096


def _cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS", "*")


def get_spark(
    app_name: str = "hospital-engine",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Settings are chosen for scale-out behavior, not just local runs:

    - ``spark.sql.adaptive.enabled`` + coalescePartitions + skewJoin:
      runtime re-planning from real shuffle statistics.
    - ``spark.sql.execution.arrow.pyspark.enabled``: Arrow-batched
      transfer for the pandas-UDF extension operators.
    - ``spark.sql.shuffle.partitions``: sized to the harness; on a real
      cluster set this to ~2-3x total cores (AQE coalesces the rest).
    - ``spark.sql.codegen.cache.maxEntries``: :data:`CODEGEN_CACHE_ENTRIES`,
      so a generated class is compiled once per JVM instead of once per
      pass (static: effective only in the JVM's first session).
    - ``spark.python.sql.dataFrameDebugging.enabled`` = false: no Python
      stack walk and JVM call-site record per Column call (static:
      effective only in the process's first session; see the module
      docstring).
    - ``spark.python.daemon.module`` = :data:`WORKER_DAEMON` and the
      package's directory on ``spark.executorEnv.PYTHONPATH``, for local
      masters only: Python tasks skip re-reading ``pyspark.zip`` (static;
      see the module docstring).
    - ``spark.sql.parquet.filterPushdown`` / vectorized reader are Spark
      defaults and intentionally left on.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # push full-scan MIN/MAX/COUNT to parquet footer statistics
        # (exact — the reader falls back to a normal scan whenever a
        # predicate, group-by, or non-pushable type makes stats
        # insufficient); at 100 TB this turns bare row-count/extent
        # probes into metadata reads
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # events.parquet stores ts as INT64 TIMESTAMP(NANOS) which the
        # Spark parquet reader rejects; read it as epoch-nanos LongType
        # and convert explicitly (exact integer arithmetic, never via
        # double division — 1.7e18 ns exceeds double's 2^53 integer range)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local-harness hygiene; harmless on a cluster where master is
        # supplied by the submitter
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    extra_conf = dict(extra_conf or {})
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{_cpus()}]"
    if master is not None:
        builder = builder.master(master)
    if master is not None and master.startswith("local"):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        path_key = "spark.executorEnv.PYTHONPATH"
        builder = builder.config("spark.python.daemon.module", WORKER_DAEMON)
        extra_conf[path_key] = os.pathsep.join(
            p for p in (root, extra_conf.get(path_key)) if p
        )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
