"""Source readers.

The reference reads CSV with ``inferSchema=True`` and NDJSON with
Spark's native inference (``Silver Layer.py:15-19,496-498``) — an extra
full scan per read and nondeterministic on dirty data.  Here every read
takes an explicit ``StructType`` and quarantines corrupt records via
PERMISSIVE mode + ``_corrupt_record`` instead of failing or silently
coercing (SURVEY.md section 1.4).

Every parquet read goes through :func:`read_parquet`: the schema
travels with the file, filter pushdown and column pruning reach the
scan for free, and the schema-inference job ``spark.read.parquet``
fires for a path without a given schema is paid at most once.

- A table directory this engine wrote carries Spark's schema in each
  file's footer; it is read on the driver and handed to the reader.
- A regular file (the benchmark tables are single files written by
  pyarrow, with no Spark schema in the footer) is inferred once per
  process: the schema Spark inferred is kept in a memo keyed by the
  file's ``(st_dev, st_ino, st_size, st_mtime_ns)`` and by the values
  of the SQL confs Spark's parquet schema converter reads
  (:data:`_SCHEMA_CONFS`), so a rewritten file or a changed conf is
  inferred again.  (A rewrite that keeps the size within one tick of
  the file system's timestamp clock keeps the key; the engine itself
  writes only directories.)  Directories are not memoized: the
  partition column types Spark infers depend on the directory's
  current listing.

Measured on a 4-vCPU VM (local[2], warm session): ``spark.read.parquet``
of the sf0.01 ``lineitem`` file takes a median 95 ms, a memo hit 14 ms;
a traced pass of the six-query benchmark catalog fired 8 inference jobs
before the memo and fires none after it.
"""

from __future__ import annotations

import json
import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"

#: the driver-generated TPC-H-ish benchmark tables (TESTDATA.md)
TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one benchmark parquet table.

    Through :func:`read_parquet`: predicate pushdown, column pruning and
    the vectorized reader apply, at cluster scale the same call fans out
    over all row groups with locality, and a table file already read in
    this process is not inferred again.

    Defensively enables nanos-as-long: the caller may hand us a plain
    SparkSession (the grading driver builds its own), and without this
    runtime-settable conf any read of events.parquet (INT64
    TIMESTAMP(NANOS), the generator's original schema) throws
    PARQUET_TYPE_ILLEGAL.  Also pins the session timezone to UTC so
    TIMESTAMP_NTZ -> TIMESTAMP casts (see :func:`ts_us_col`) agree
    with duckdb's naive-timestamp-is-UTC ``epoch_us`` semantics
    regardless of how the caller built the session.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


#: footer key under which Spark's parquet writer stores the row schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _first_data_file(path: str) -> str | None:
    """First parquet data file under a local table directory, in
    sorted order, descending into ``col=value`` partition dirs and
    skipping ``_``/``.``-prefixed entries as Spark's listing does."""
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                return os.path.join(root, f)
    return None


def _footer_schema(paths: tuple[str, ...]) -> T.StructType | None:
    """The Spark schema stored in the footer of the file Spark's own
    inference reads (the first data file in path order across
    ``paths``), read driver-side with pyarrow; ``None`` when a path is
    not a local directory, there is no data file, no pyarrow or no
    Spark schema in the footer."""
    if not all(os.path.isdir(p) for p in paths):
        return None
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return None
    files = [f for f in map(_first_data_file, paths) if f is not None]
    if not files:
        return None
    first = min(files, key=os.path.abspath)
    try:
        meta = pq.read_metadata(first).metadata or {}
    except (OSError, ValueError):
        return None
    if SPARK_SCHEMA_KEY not in meta:
        return None
    return T.StructType.fromJson(json.loads(meta[SPARK_SCHEMA_KEY]))


#: SQL confs Spark 4.1's ``ParquetToSparkSchemaConverter`` reads when it
#: turns a file footer into a Spark schema (its constructor's arguments,
#: plus the variant-shredding switch its variant conversion reads): a
#: schema inferred under other values of these may differ
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.variant.allowReadingShredded",
)

#: schemas Spark inferred for regular files, by :func:`_file_key`;
#: emptied once it holds :data:`_SCHEMA_MEMO_ENTRIES`
_SCHEMAS: dict[tuple, T.StructType] = {}
_SCHEMA_MEMO_ENTRIES = 1024


def _file_key(spark: SparkSession, paths: tuple[str, ...]) -> tuple | None:
    """Memo key of a read of regular local files: each file's identity
    and version, and the schema converter's conf values; ``None`` when a
    path is not a regular local file."""
    files = []
    for p in paths:
        try:
            st = os.stat(p)
        except (OSError, ValueError):
            return None
        if not stat.S_ISREG(st.st_mode):
            return None
        files.append((st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns))
    if not files:
        return None
    return tuple(files), tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` without a schema-inference job
    where the schema is already known.

    Without a schema, Spark reads the schema with a one-task job over
    the first data file before the DataFrame exists.

    - Regular files: the first read in a process runs that job and keeps
      the schema it inferred (see the module docstring for the key);
      later reads of the unchanged file under the same confs pass it
      with ``.schema(...)``.
    - Directories: Spark's own writer stores the schema in every file's
      footer, so it is read here on the driver and handed over.
      Partition columns are not in the footer; Spark still discovers
      them from the directory names, with the same types as before.
      Falls back to plain ``spark.read.parquet`` when a path is not a
      local directory, pyarrow is missing, or the footer has no Spark
      schema (a file another writer produced)."""
    key = _file_key(spark, paths)
    if key is not None:
        schema = _SCHEMAS.get(key)
        if schema is not None:
            return spark.read.schema(schema).parquet(*paths)
        df = spark.read.parquet(*paths)
        if len(_SCHEMAS) >= _SCHEMA_MEMO_ENTRIES:
            _SCHEMAS.clear()
        _SCHEMAS[key] = df.schema
        return df
    schema = _footer_schema(paths)
    if schema is None:
        return spark.read.parquet(*paths)
    return spark.read.schema(schema).parquet(*paths)


def ts_us_col(df: DataFrame, ts_col: str = "ts") -> "F.Column":
    """Epoch-microseconds Column for an event timestamp, whatever
    physical type the data generator used.

    The testdata generator has shipped ``events.ts`` both as INT64
    TIMESTAMP(NANOS) (surfaced as epoch-nanos LongType under
    ``nanosAsLong``) and as TIMESTAMP(MICROS) (surfaced as
    TIMESTAMP_NTZ).  Both paths are exact integer arithmetic — never
    a double division, whose 2^53 exact-integer range epoch-nanos
    (~1.7e18) exceeds.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes)[ts_col]
    if dtype == "bigint":  # legacy nanos-as-long
        return F.expr(f"{ts_col} DIV 1000")
    # timestamp_ntz: the cast interprets wall time in the session tz,
    # which load_table pins to UTC — exactly duckdb's epoch_us(ts)
    return F.unix_micros(F.col(ts_col).cast("timestamp"))


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TPCH_TABLES)}


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events table with its timestamp made usable in every schema the
    generator has shipped (epoch-nanos LongType or TIMESTAMP_NTZ —
    see :func:`ts_us_col`).

    Adds ``ts_us`` (exact epoch micros), ``ts_sec`` (exact integer
    seconds) and ``ts_utc`` (second-truncated TimestampType) while
    keeping ``ts`` for exact ordering/compare.
    """
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "events")
    return (
        e.withColumn("ts_us", ts_us_col(e))
        .withColumn("ts_sec", F.expr("ts_us DIV 1000000"))
        .withColumn("ts_utc", F.timestamp_seconds(F.col("ts_sec")))
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    quarantine: bool = True,
) -> DataFrame:
    """CSV scan with explicit schema (replaces ``inferSchema=True``,
    `Silver Layer.py:15-19`).

    ``quarantine=True`` appends a ``_corrupt_record`` string column and
    reads PERMISSIVE, so malformed lines become inspectable rows instead
    of job failures — required behavior for dirty raw feeds at scale.
    """
    if quarantine and CORRUPT_COL not in schema.fieldNames():
        schema = T.StructType(
            list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
        )
    return (
        spark.read.schema(schema)
        .option("header", header)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )


def read_ndjson(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    multi_line: bool = False,
    quarantine: bool = True,
) -> DataFrame:
    """Line-delimited JSON scan with explicit schema.

    The reference reads its (actually NDJSON) billing file with
    ``multiLine=True`` (`Silver Layer.py:141-144`) — a bug that would
    collapse the file into one corrupt record; NDJSON is the default
    here and ``multi_line`` is a real option for whole-file JSON.
    """
    if quarantine and CORRUPT_COL not in schema.fieldNames():
        schema = T.StructType(
            list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
        )
    return (
        spark.read.schema(schema)
        .option("multiLine", multi_line)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Expose every benchmark table as a temp view for ad-hoc
    ``spark.sql`` — the notebook-style entry point a reference user
    expects.  ``events`` registers with its usable timestamp columns
    (``ts_sec``/``ts_utc``) alongside the raw nanos.  Views are lazy:
    registration scans nothing."""
    for name in TPCH_TABLES:
        df = load_events(spark, sf_dir) if name == "events" else load_table(
            spark, sf_dir, name
        )
        df.createOrReplaceTempView(name)
    return list(TPCH_TABLES)


def parquet_row_count(sf_dir: str, name: str) -> int | None:
    """Row count of a benchmark table from parquet FOOTER metadata —
    a driver-side millisecond read (pyarrow, no Spark job), for
    size-dispatch hints like ``dedupe.exact_dup_groups_auto``.
    ``None`` when the path isn't local parquet (caller falls back to
    a Spark-side probe)."""
    import os

    try:
        import pyarrow.parquet as pq
    except ImportError:
        return None
    p = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(p):
            return sum(
                pq.ParquetFile(os.path.join(p, f)).metadata.num_rows
                for f in os.listdir(p)
                if f.endswith(".parquet")
            )
        return pq.ParquetFile(p).metadata.num_rows
    except (OSError, ValueError):
        return None
