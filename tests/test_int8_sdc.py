"""int8 symmetric-distance search contracts (q111).

Value parity vs the DuckDB replay is covered by the catalog-wide
parity suites; these pin the operator's semantic properties:

- the expr and blas scorers are BIT-IDENTICAL (integer gemm has no
  rounding — unlike the float blocked scorers this is equality by
  construction, and the test is the proof obligation);
- quantized cosine approximates true cosine to the int8 grid error;
- top-k recall vs the exact float cosine top-k is far above chance
  on the concentrated synthetic embeddings;
- the auto route (always the integer gemm — it won at every measured
  query count) agrees with the pinned reference path;
- the ``max_queries`` guard rejects an oversize query side, and a
  bounded one costs one build-time job, shared with the gemm route.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import similarity

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_expr_blas_bit_identical(spark):
    e = _emb(spark)
    q = e.filter(F.col("vec_id") < 16)
    a = sorted(
        map(
            tuple,
            similarity.int8_sdc_topk(
                e, q, "vec_id", "embedding", scorer="expr"
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            similarity.int8_sdc_topk(
                e, q, "vec_id", "embedding", scorer="blas"
            ).collect(),
        )
    )
    assert a == b and len(a) == 16 * 5


def test_quantized_cosine_close_to_true(spark):
    e = _emb(spark)
    q = e.filter(F.col("vec_id") < 8)
    q8 = {
        (r["query_id"], r["neighbor_id"]): r["cos_q8"]
        for r in similarity.int8_sdc_topk(
            e, q, "vec_id", "embedding", k_top=5
        ).collect()
    }
    true = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in similarity.cosine_topk(
            q, e, "vec_id", "embedding", k=400
        ).collect()
    }
    checked = 0
    for key, cq in q8.items():
        if key in true:
            # 32-dim absmax int8: worst-case relative grid error is
            # ~dim * (1/254) of the norms' product; empirically far
            # tighter — 0.05 absolute is a generous measured bound
            assert abs(cq - true[key]) < 0.05, (key, cq, true[key])
            checked += 1
    assert checked >= 30  # most of the q8 top-5 appear in the true top-400


def test_topk_recall_above_chance(spark):
    e = _emb(spark)
    q = e.filter(F.col("vec_id") < 8)
    got = similarity.int8_sdc_topk(e, q, "vec_id", "embedding", k_top=5)
    exact = similarity.cosine_topk(q, e, "vec_id", "embedding", k=5)
    g = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
    x = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    # near-uniform synthetic noise concentrates pairwise distances,
    # so demand "far above the ~1% chance floor", not "high"
    assert len(g & x) / len(x) >= 0.3


def test_auto_route_matches_reference(spark):
    e = _emb(spark)
    small = e.filter(F.col("vec_id") < 2)
    auto = sorted(
        map(
            tuple,
            similarity.int8_sdc_topk(e, small, "vec_id", "embedding").collect(),
        )
    )
    expr = sorted(
        map(
            tuple,
            similarity.int8_sdc_topk(
                e, small, "vec_id", "embedding", scorer="expr"
            ).collect(),
        )
    )
    assert auto == expr and len(auto) == 10


def test_query_side_guard_is_one_job(spark):
    from tests.test_readers import _jobs_fired

    e = _emb(spark)
    q = e.filter(F.col("vec_id") < 16)
    with pytest.raises(ValueError, match="max_queries"):
        similarity.int8_sdc_topk(e, q, "vec_id", "embedding", max_queries=15)
    got, jobs = _jobs_fired(
        spark,
        lambda: similarity.int8_sdc_topk(
            e, q, "vec_id", "embedding", max_queries=16
        ),
    )
    assert jobs == 1, "one bounded collect both guards and feeds the gemm"
    assert got.count() == 16 * 5
