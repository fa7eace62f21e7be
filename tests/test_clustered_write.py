"""Range-clustered write layout: files must cover disjoint key ranges
(the property that lets parquet min/max stats skip data at scan
time)."""

from __future__ import annotations

import bisect

from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.writers import write_clustered


def test_clustered_files_have_disjoint_ranges(spark, tmp_path):
    path = str(tmp_path / "clustered")
    df = spark.range(0, 10000).select(
        (F.col("id") * 37 % 10000).alias("k"), F.col("id").alias("payload")
    )
    write_clustered(df, path, ["k"], num_files=8)

    per_file = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"), F.count("*").alias("n"))
        .collect()
    )
    assert len(per_file) == 8
    spans = sorted((r["lo"], r["hi"]) for r in per_file)
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev < lo_next  # disjoint -> min/max stats are selective
    assert sum(r["n"] for r in per_file) == 10000

    # a selective range predicate touches a strict subset of files
    touched = (
        spark.read.parquet(path)
        .filter((F.col("k") >= 100) & (F.col("k") < 200))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert touched == 1


def test_zordered_files_are_selective_in_both_dims(spark, tmp_path):
    from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.writers import write_zordered

    path = str(tmp_path / "zordered")
    # two independent uniform dims: single-key clustering on x leaves
    # every file spanning the full y range; the Z-curve must bound
    # per-file spans in BOTH
    df = spark.range(0, 16384).select(
        (F.col("id") * 37 % 16384).cast("double").alias("x"),
        (F.col("id") * 101 % 16384).cast("double").alias("y"),
    )
    write_zordered(df, path, ["x", "y"], num_files=16)

    per_file = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min("x").alias("xlo"), F.max("x").alias("xhi"),
            F.min("y").alias("ylo"), F.max("y").alias("yhi"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    assert sum(r["n"] for r in per_file) == 16384
    full = 16384.0
    # Z-curve span profile: MOST files cover a small hyper-rectangle
    # in every dimension; the few segments that cross a high-order
    # curve boundary legitimately span wide (the crossing file can
    # cover the full axis), so the contract is on the typical file,
    # not the worst one
    for dim in (("xlo", "xhi"), ("ylo", "yhi")):
        spans = sorted((r[dim[1]] - r[dim[0]]) / full for r in per_file)
        assert spans[len(spans) // 2] <= 0.5, f"median {dim} span too wide"
        assert sum(1 for sp in spans if sp > 0.6) <= 2, (
            f"too many wide files on {dim}"
        )

    # a box predicate on EITHER single dimension touches a strict
    # minority of files — the property single-key clustering gives
    # only for its own key
    for col in ("x", "y"):
        touched = (
            spark.read.parquet(path)
            .filter((F.col(col) >= 1000) & (F.col(col) < 2000))
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )
        assert touched <= len(per_file) // 2, f"no skipping on {col}"


def _spec_zb(bounds: list[float], x: float | None) -> int:
    # the old binary when-tree computed "count of bounds <= x", with
    # NULL/NaN comparisons falling through every else-branch to 0
    if x is None or x != x:
        return 0
    return bisect.bisect_right(bounds, x)


def _spec_zkey(zbs: list[int], bits: int) -> int:
    n_dims = len(zbs)
    key = 0
    for d, zb in enumerate(zbs):
        for i in range(bits):
            key |= ((zb >> i) & 1) << (i * n_dims + d)
    return key


def test_zorder_kernel_matches_expression_spec(spark):
    from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.writers import (
        with_zorder_key,
    )

    rows = [
        (1, 0.5, 10.0),
        (2, 99.9, -5.0),
        (3, None, 3.0),       # NULL dim -> bucket 0 (when-tree else-chain)
        (4, float("nan"), 7.0),  # NaN dim -> bucket 0
        (5, 42.0, None),
        (6, 42.0, 42.0),      # duplicate values across rows
        (7, 42.0, 42.0),
        (8, -1e18, 1e18),     # beyond every boundary
        (9, 0.0, 0.0),
    ] + [(10 + i, float(i * 37 % 101), float(i * 13 % 53)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, x double, y double")

    keyed = with_zorder_key(df, ["x", "y"], bits_per_dim=8)
    got = {r["id"]: (r["__zb0"], r["__zb1"], r["__zkey"]) for r in keyed.collect()}

    # reproduce the quantile boundaries the operator used
    bounds = df.approxQuantile(["x", "y"], [i / 256 for i in range(1, 256)], 0.01)
    for (rid, x, y) in rows:
        zb0 = _spec_zb(bounds[0], x)
        zb1 = _spec_zb(bounds[1], y)
        zkey = _spec_zkey([zb0, zb1], 8)
        assert got[rid] == (zb0, zb1, zkey), rid

    # schema contract: int buckets, long key, payload columns unchanged
    assert dict(keyed.dtypes)["__zb0"] == "int"
    assert dict(keyed.dtypes)["__zkey"] == "bigint"
    assert [c for c in keyed.columns[:3]] == ["id", "x", "y"]
