"""The broadcast query-side guards of the flat-scan search operators.

``cosine_topk``, ``pq_adc_topk``, ``ivf_pq_adc_topk`` and
``binary_hamming_topk`` broadcast their query side, so each bounds it
with ``max_queries``: an oversize side raises ``ValueError``, and a
bounded one costs one build-time job (one bounded collect; the
``limit(n + 1).count()`` probe it replaced fired two under AQE).  The
int8 operator's guard is pinned in ``tests/test_int8_sdc.py``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import similarity
from tests.conftest import SF_SMOKE
from tests.test_readers import _jobs_fired

N_Q = 16


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


@pytest.fixture(scope="module")
def ops(emb):
    books = similarity.build_pq_codebooks(emb, "embedding", "vec_id", n_sub=4, k=16, iterations=2)
    model = similarity.build_ivf_pq(emb, "vec_id", "embedding", n_clusters=8, n_sub=4, k_codes=16)
    return {
        "cosine_topk": lambda q, n: similarity.cosine_topk(q, emb, k=5, max_queries=n),
        "pq_adc_topk": lambda q, n: similarity.pq_adc_topk(
            emb, q, "vec_id", "embedding", books, max_queries=n
        ),
        "ivf_pq_adc_topk": lambda q, n: similarity.ivf_pq_adc_topk(
            emb, q, "vec_id", "embedding", model=model, max_queries=n
        ),
        "binary_hamming_topk": lambda q, n: similarity.binary_hamming_topk(
            q, emb, dim=64, k=5, max_queries=n
        ),
    }


@pytest.mark.parametrize(
    "op", ["cosine_topk", "pq_adc_topk", "ivf_pq_adc_topk", "binary_hamming_topk"]
)
def test_query_side_guard_is_one_job(spark, emb, ops, op):
    q = emb.filter(F.col("vec_id") < N_Q)
    with pytest.raises(ValueError, match=f"{op} broadcasts the query side.*max_queries"):
        ops[op](q, N_Q - 1)
    got, jobs = _jobs_fired(spark, lambda: ops[op](q, N_Q))
    assert jobs == 1, "one bounded collect guards the broadcast side"
    assert got.select("query_id").distinct().count() == N_Q
