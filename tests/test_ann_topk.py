"""The shared ANN top-k plan (``ann._topk``): one UDF evaluation per input
side, pinned content for the float variants that have no oracle, and the
all-rows brute-force search against a numpy top-k."""

import hashlib

import numpy as np
import pytest

from seq2kg_spark.operators.ann import (
    brute_force_topk,
    ivf_topk,
    ivf_topk_int,
    lsh_bucketed_topk,
    lsh_topk_int,
)
from test_ann_ivf import _emb  # the sf0.001 embeddings table


def _sorted_rows_md5(df) -> str:
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


@pytest.mark.parametrize("search", [lsh_topk_int, ivf_topk_int])
def test_bucket_udf_runs_once_per_side(spark, search):
    """A filter Catalyst infers on the keys (isnotnull, size > 0) must not
    be pushed below the projection that computes them: a pushed copy runs
    the plane/codebook matmul a second time on every row."""
    emb = _emb(spark)
    plan = search(emb, [0, 1, 2], k=5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 2, plan


# sorted-row md5 of the float variants' declared-query arguments on sf0.001
@pytest.mark.parametrize("search,n_queries,md5", [
    (ivf_topk, 5, "e1d2e8aa6cf0ef5b4e246efb30c20abe"),
    (lsh_bucketed_topk, 10, "0b7bdf1996904186e0ea94194653a3ba"),
])
def test_float_variant_content_pinned(spark, search, n_queries, md5):
    emb = _emb(spark)
    out = search(emb, query_ids=list(range(n_queries)), k=5)
    assert _sorted_rows_md5(out) == md5


def _half_up(x: np.ndarray) -> np.ndarray:
    """Spark's ``round(x, 0)`` (HALF_UP: halves away from zero)."""
    return (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)


def test_brute_force_all_queries_matches_numpy(spark):
    emb = _emb(spark)
    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    V = _half_up(np.stack(pdf["embedding"].map(
        lambda v: np.asarray(v, dtype=np.float32).astype(np.float64)))
        * 1000)
    D = V @ V.T
    want = []
    for i, qid in enumerate(ids):
        order = sorted((-D[i, j], ids[j]) for j in range(len(ids))
                       if ids[j] != qid)[:3]
        want += [(int(qid), r + 1, int(nid), int(-nd))
                 for r, (nd, nid) in enumerate(order)]
    got = sorted(map(tuple, brute_force_topk(emb, query_ids=None, k=3)
                     .collect()))
    assert got == sorted(want) and len(got) == 3 * len(ids)
