"""IVF coarse quantizer: broadcast-numpy assignment (no plan literals).

The cell-assignment path must hold at real codebook sizes (k=2^10..2^16) —
the former plan-literal CASE chain exploded plan size/codegen beyond k≈8.
"""

import numpy as np
import pyspark.sql.functions as F

from seq2kg_spark.operators.ann import (
    fixed_codebook,
    ivf_topk_int,
    kmeans_centroids,
    nearest_cells,
    quantized,
)


def _emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_assignment_matches_numpy_argmin(spark):
    emb = _emb(spark).limit(50)
    cents = fixed_codebook(n_cells=8, dim=64)
    assign = nearest_cells(
        spark.sparkContext.broadcast(np.asarray(cents, dtype=np.int64)))
    got = (
        emb.select("vec_id", quantized(F.col("embedding")).alias("qv"))
        .withColumn("cell", assign(F.col("qv"))[0])
        .collect()
    )
    C = np.asarray(cents, dtype=np.int64)
    for r in got:
        v = np.asarray(r.qv, dtype=np.int64)
        d = ((v[None, :] - C) ** 2).sum(axis=1)
        assert r.cell == int(np.argmin(d)), r.vec_id


def test_ivf_int_k1024_runs_without_plan_blowup(spark):
    emb = _emb(spark)
    out = ivf_topk_int(emb, query_ids=[0, 1, 2], k=5,
                       n_cells=1024, n_probe=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the codebook must NOT ride in the plan: no kilo-branch CASE chain
    assert plan.count("CASE WHEN") < 50
    rows = out.collect()
    assert {r.query_id for r in rows} <= {0, 1, 2}
    assert all(1 <= r.rank <= 5 for r in rows)


def test_kmeans_centroids_posexplode_agg(spark):
    emb = _emb(spark).limit(200)
    cents = kmeans_centroids(emb, k=4, n_iter=2)
    assert len(cents) == 4 and all(len(c) == 64 for c in cents)
    # centroids moved off the seeds and are finite
    flat = np.asarray(cents, dtype=np.float64)
    assert np.isfinite(flat).all()


def test_kmeans_high_dim_no_column_fanout(spark):
    # 768-dim: the posexplode aggregation must not widen into one agg
    # column per dimension (the former F.sum(x_i) fan-out)
    import pyspark.sql.functions as F
    emb = spark.range(60).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(767)),
            lambda i: ((F.col("id") + i) % 7).cast("float") / 7,
        ).alias("embedding"),
    )
    cents = kmeans_centroids(emb, k=3, n_iter=1)
    assert len(cents) == 3 and all(len(c) == 768 for c in cents)
    assert all(np.isfinite(np.asarray(c)).all() for c in cents)


def test_codebook_sink_roundtrip_serving(spark, tmp_path):
    """Serving path: codebook persisted through the S8 weights sink, read
    back by path — results identical to the in-memory codebook, int grid
    restored exactly (fp32 is exact on the quantized integer range)."""
    from seq2kg_spark.operators.ann import (fixed_codebook, ivf_topk_int,
                                            read_codebook, write_codebook)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = fixed_codebook()
    path = str(tmp_path / "cb")
    write_codebook(spark, cb, path)
    assert read_codebook(spark, path, integer=True) == cb

    direct = sorted(map(tuple, ivf_topk_int(
        emb, query_ids=[0, 1, 2], k=5).collect()))
    served = sorted(map(tuple, ivf_topk_int(
        emb, query_ids=[0, 1, 2], k=5, codebook=path).collect()))
    assert direct == served
