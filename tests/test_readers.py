"""Whole-file (multiLine) JSON vs NDJSON reader contract.

Closes SURVEY 2 S2: the reference reads its NDJSON billing feed with
``multiLine=True`` (``Silver Layer.py:141-144``) — the wrong mode for
the file it actually has.  This suite pins down both directions of
that mismatch and the correct whole-file path.
"""

from __future__ import annotations

import textwrap
import uuid

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.readers import (
    CORRUPT_COL,
    load_table,
    read_ndjson,
    read_parquet,
)

SCHEMA = T.StructType(
    [
        T.StructField("vital_id", T.StringType()),
        T.StructField("patient_id", T.StringType()),
        T.StructField("heart_rate", T.LongType()),
    ]
)

WHOLE_FILE_JSON = textwrap.dedent(
    """\
    [
      {
        "vital_id": "V1",
        "patient_id": "P1",
        "heart_rate": 72
      },
      {
        "vital_id": "V2",
        "patient_id": "P2",
        "heart_rate": 88
      }
    ]
    """
)

NDJSON = (
    '{"vital_id": "V1", "patient_id": "P1", "heart_rate": 72}\n'
    '{"vital_id": "V2", "patient_id": "P2", "heart_rate": 88}\n'
)


def test_multiline_reads_whole_file_json_array(spark, tmp_path):
    p = tmp_path / "vitals_pretty.json"
    p.write_text(WHOLE_FILE_JSON)
    # cache: Spark disallows querying only _corrupt_record off a raw
    # scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — same idiom as medallion
    df = read_ndjson(spark, str(p), SCHEMA, multi_line=True).cache()
    rows = {tuple(r) for r in df.select("vital_id", "patient_id", "heart_rate").collect()}
    assert rows == {("V1", "P1", 72), ("V2", "P2", 88)}
    assert df.filter(F.col(CORRUPT_COL).isNotNull()).count() == 0
    df.unpersist()


def test_default_mode_quarantines_whole_file_json(spark, tmp_path):
    # the inverse mismatch: pretty-printed JSON through the NDJSON
    # default becomes corrupt rows, not a crash — quarantine semantics
    p = tmp_path / "vitals_pretty.json"
    p.write_text(WHOLE_FILE_JSON)
    df = read_ndjson(spark, str(p), SCHEMA).cache()
    assert df.filter(F.col("vital_id").isNotNull()).count() == 0
    assert df.filter(F.col(CORRUPT_COL).isNotNull()).count() > 0
    df.unpersist()


def test_multiline_on_ndjson_is_the_reference_bug(spark, tmp_path):
    # Silver Layer.py:141-144 reproduced: multiLine=True over NDJSON
    # parses only the first object of the file instead of every line
    p = tmp_path / "vitals.ndjson"
    p.write_text(NDJSON)
    df = read_ndjson(spark, str(p), SCHEMA, multi_line=True)
    assert df.filter(F.col("vital_id").isNotNull()).count() < 2


def test_ndjson_default_reads_every_line(spark, tmp_path):
    p = tmp_path / "vitals.ndjson"
    p.write_text(NDJSON)
    df = read_ndjson(spark, str(p), SCHEMA).cache()
    assert df.count() == 2
    assert df.filter(F.col(CORRUPT_COL).isNotNull()).count() == 0
    df.unpersist()


def test_register_views_sql_surface(spark):
    from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.readers import (
        TPCH_TABLES,
        register_views,
    )
    from tests.conftest import SF_SMOKE

    names = register_views(spark, SF_SMOKE)
    assert set(names) == set(TPCH_TABLES)
    got = spark.sql(
        """
        SELECT n_name, count(*) AS n
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n DESC LIMIT 3
        """
    ).collect()
    assert len(got) == 3 and all(r["n"] > 0 for r in got)
    # events view exposes the converted timestamp columns
    cols = set(spark.table("events").columns)
    assert {"ts", "ts_sec", "ts_utc"} <= cols


# -- parquet without the schema-inference job ---------------------------

def _jobs_fired(spark, fn):
    """``fn()``'s result and the number of Spark jobs it fired."""
    sc = spark.sparkContext
    # a group no other call uses, in this or a second import of this
    # module (pytest imports it as ``test_readers`` and, through other
    # suites, ``tests.test_readers``): a shared group counts both calls' jobs
    group = f"read-parquet-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def _parquet_table(spark, path, layout):
    df = spark.range(40).selectExpr(
        "id",
        "CAST(id * 1.25 AS DECIMAL(12,2)) AS amount",
        "IF(id % 7 = 0, NULL, CAST(id AS STRING)) AS label",
        "DATE_ADD(DATE'2025-01-01', CAST(id * 9 AS INT)) AS day",
    )
    if layout == "flat":
        df.drop("amount").write.parquet(path)
    elif layout == "decimal":
        df.select("id", "amount").write.parquet(path)
    else:
        df.selectExpr("*", "YEAR(day) AS year", "MONTH(day) AS month").write.partitionBy(
            "year", "month"
        ).parquet(path)


@pytest.mark.parametrize("layout", ["flat", "year_month", "decimal"])
def test_read_parquet_skips_schema_inference(spark, tmp_path, layout):
    path = str(tmp_path / layout)
    _parquet_table(spark, path, layout)
    df, jobs = _jobs_fired(spark, lambda: read_parquet(spark, path))
    assert jobs == 0, "the schema comes from the footer, not from a job"
    plain, plain_jobs = _jobs_fired(spark, lambda: spark.read.parquet(path))
    assert plain_jobs == 1, "spark.read.parquet infers the schema with one job"
    assert df.schema == plain.schema
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, plain.collect()))


def test_read_parquet_falls_back_without_spark_footer(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "foreign"
    path.mkdir()
    pq.write_table(
        pa.table({"id": [1, 2, None], "name": ["a", None, "c"]}),
        str(path / "part-0.parquet"),
    )
    df, jobs = _jobs_fired(spark, lambda: read_parquet(spark, str(path)))
    assert jobs == 1, "no Spark schema in the footer: Spark infers it"
    plain = spark.read.parquet(str(path))
    assert df.schema == plain.schema
    assert sorted(map(repr, df.collect())) == sorted(map(repr, plain.collect()))


# -- regular files: the inferred schema is kept per process --------------

def _pyarrow_file(path, **columns):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(columns), str(path))
    return str(path)


def test_second_read_of_a_file_fires_no_job(spark, tmp_path):
    import pyarrow as pa

    sf = tmp_path / "sf"
    sf.mkdir()
    path = _pyarrow_file(
        sf / "lineitem.parquet",
        id=[1, 2, None],
        price=pa.array([1.5, None, 3.25]),
        name=["a", None, "c"],
    )
    first, jobs = _jobs_fired(spark, lambda: read_parquet(spark, path))
    assert jobs == 1, "the first read of a file infers its schema"
    again, jobs = _jobs_fired(spark, lambda: read_parquet(spark, path))
    assert jobs == 0, "the schema inferred for the unchanged file is reused"
    table, jobs = _jobs_fired(spark, lambda: load_table(spark, str(sf), "lineitem"))
    assert jobs == 0, "load_table goes through the same memo"
    plain = spark.read.parquet(path)
    want = sorted(map(repr, plain.collect()))
    for df in (first, again, table):
        assert df.schema == plain.schema
        assert sorted(map(repr, df.collect())) == want


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = _pyarrow_file(tmp_path / "t.parquet", id=[1, 2])
    read_parquet(spark, path)
    _pyarrow_file(tmp_path / "t.parquet", id=["x", "y", "z"], n=[1.0, 2.0, 3.0])
    df, jobs = _jobs_fired(spark, lambda: read_parquet(spark, path))
    assert jobs == 1, "another file version: its schema is inferred"
    assert df.schema == spark.read.parquet(path).schema
    assert df.schema.simpleString() == "struct<id:string,n:double>"
    assert sorted(r["id"] for r in df.collect()) == ["x", "y", "z"]


def _with_conf(spark, key, value, fn):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        return fn()
    finally:
        spark.conf.set(key, old)


def test_schema_conf_is_part_of_the_key(spark, tmp_path):
    import pyarrow as pa

    key = "spark.sql.legacy.parquet.nanosAsLong"
    nanos = _pyarrow_file(
        tmp_path / "nanos.parquet",
        ts=pa.array([1_700_000_000_123_456_789], type=pa.timestamp("ns")),
    )
    as_long = _with_conf(spark, key, "true", lambda: read_parquet(spark, nanos))
    assert as_long.schema.simpleString() == "struct<ts:bigint>"
    assert as_long.collect()[0]["ts"] == 1_700_000_000_123_456_789
    # the other value of the conf: Spark rejects the nanos column, and so
    # does a read that might have reused the schema inferred above
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        _with_conf(spark, key, "false", lambda: spark.read.parquet(nanos))
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        _with_conf(spark, key, "false", lambda: read_parquet(spark, nanos))
    _, jobs = _jobs_fired(
        spark, lambda: _with_conf(spark, key, "true", lambda: read_parquet(spark, nanos))
    )
    assert jobs == 0

    # a conf whose other value yields another schema
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    micros = _pyarrow_file(
        tmp_path / "micros.parquet",
        ts=pa.array([1_700_000_000_123_456], type=pa.timestamp("us")),
    )
    ntz = _with_conf(spark, key, "true", lambda: read_parquet(spark, micros))
    ltz = _with_conf(spark, key, "false", lambda: read_parquet(spark, micros))
    assert ntz.schema.simpleString() == "struct<ts:timestamp_ntz>"
    assert ltz.schema.simpleString() == "struct<ts:timestamp>"
    assert ltz.schema == _with_conf(
        spark, key, "false", lambda: spark.read.parquet(micros).schema
    )
