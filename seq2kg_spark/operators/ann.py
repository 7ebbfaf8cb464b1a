"""Similarity search over an embedding column (array<float>).

* ``brute_force_topk`` — exact top-k by quantized-integer dot product.
  Quantization (round(x*1000) → int64) makes the arithmetic exact, so
  ranking is deterministic across engines (the DuckDB oracle matches
  bit-for-bit) and across partitionings.  The join is
  queries × corpus — fine when the query set is small (broadcast) —
  ranking via a window, ties broken by vec_id.

* ``lsh_bucketed_topk`` — the scale path: random-hyperplane LSH buckets
  (signs of dot with seeded deterministic hyperplanes), candidates only
  within bucket (multi-probe via n_tables), then exact re-rank.  At 10^9
  vectors the bucket join replaces the full cross product; recall is
  tunable with n_bits/n_tables.

* true-cosine variants keep float math JVM-side via aggregate/zip_with.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def quantized(vec_col, quant: int = 1000):
    return F.transform(
        vec_col, lambda x: F.round(x.cast("double") * quant, 0).cast("long")
    )


# Past this width the flat forms stop paying: the expression tree itself
# gets large (compile time, codegen size) and for floats the left-deep
# chain would overflow the codegen recursion stack (a 768-dim left-deep
# sum StackOverflow'd the executor JVM — caught by test_production_dims).
FLAT_INT_MAX_DIM = 4096
FLAT_FLOAT_MAX_DIM = 256


def _quote(name: str) -> str:
    """Column name as a SQL identifier (backticked, so dots and spaces in
    the name are part of it)."""
    return "`" + name.replace("`", "``") + "`"


def _tree_sum_sql(terms: list[str]) -> str:
    """Balanced-tree sum — O(log n) expression depth, safe for wide
    vectors.  Only for EXACT arithmetic (int64): the addition order
    differs from the sequential fold, which is invisible to integers and
    NOT to floats."""
    while len(terms) > 1:
        terms = [
            f"({terms[i]} + {terms[i + 1]})" if i + 1 < len(terms)
            else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def _seq_sum_sql(terms: list[str]) -> str:
    """Left-deep (sequential-order) sum — same accumulation order as the
    ``aggregate`` fold.  The left-deep tree is O(n) deep: codegen
    recursion overflows the JVM stack near a thousand terms, so callers
    cap n (see FLAT_FLOAT_MAX_DIM)."""
    out = terms[0]
    for t in terms[1:]:
        out = f"({out} + {t})"
    return out


def _size_guarded(a: str, b: str, dim: int, flat: str, fold: str):
    """``flat`` when both vectors have ``dim`` elements, else ``fold`` —
    ONE parsed SQL expression: building the flat tree from Column objects
    cost ~300 py4j round-trips of driver time per plan (~0.25s at
    dim=64), the parse ~1."""
    return F.expr(f"CASE WHEN size({a}) = {dim} AND size({b}) = {dim} "
                  f"THEN {flat} ELSE {fold} END")


def int_dot(a: str, b: str, dim: int | None = None):
    """Integer dot product of the array columns named ``a`` and ``b``.
    With ``dim`` given (up to FLAT_INT_MAX_DIM), ``dim``-element rows take
    a flat element_at-sum (whole-stage-codegen'd; higher-order-function
    lambdas are interpreted) and other rows the ``aggregate`` fold —
    identical values either way (int64 addition is associative, so the
    balanced tree is exact), measured ~1.5x on the sf1.0 brute-force
    scan."""
    a, b = _quote(a), _quote(b)
    fold = (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
            f"CAST(0 AS BIGINT), (acc, v) -> acc + v)")
    if dim is None or dim < 1 or dim > FLAT_INT_MAX_DIM:
        return F.expr(fold)
    flat = _tree_sum_sql([f"(element_at({a}, {i}) * element_at({b}, {i}))"
                          for i in range(1, dim + 1)])
    return _size_guarded(a, b, dim, flat, fold)


def float_cosine(a: str, b: str, dim: int | None = None):
    """Cosine of the array columns named ``a`` and ``b``; flat form for
    ``dim``-element rows (up to FLAT_FLOAT_MAX_DIM), ``aggregate`` folds
    otherwise.  The flat sums are LEFT-DEEP so their accumulation order
    matches the folds'."""
    a, b = _quote(a), _quote(b)

    def norm(col: str) -> str:
        return f"sqrt(aggregate({col}, 0D, (acc, v) -> acc + v * v))"

    fold = (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, "
            f"(acc, v) -> acc + v) / ({norm(a)} * {norm(b)})")
    if dim is None or dim < 1 or dim > FLAT_FLOAT_MAX_DIM:
        return F.expr(fold)
    ea = [f"element_at({a}, {i})" for i in range(1, dim + 1)]
    eb = [f"element_at({b}, {i})" for i in range(1, dim + 1)]
    dot = _seq_sum_sql([f"({x} * {y})" for x, y in zip(ea, eb)])
    na = f"sqrt({_seq_sum_sql([f'({x} * {x})' for x in ea])})"
    nb = f"sqrt({_seq_sum_sql([f'({y} * {y})' for y in eb])})"
    return _size_guarded(a, b, dim, f"({dot} / ({na} * {nb}))", fold)


def _probe_dim(emb: DataFrame, vec_col: str) -> int | None:
    """Vector width from one row (driver-sized: a single-row take against
    a column-pruned scan); None on an empty/null-vector table."""
    row = emb.select(vec_col).first()
    if row is None or row[0] is None:
        return None
    return len(row[0])


def brute_force_topk(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    quant: int = 1000,
) -> DataFrame:
    """(query_id, rank, neighbor_id, dot) — exact top-k, integer math."""
    dim = _probe_dim(emb, vec_col)
    q = emb.select(
        F.col(id_col).alias("query_id"),
        quantized(F.col(vec_col), quant).alias("qv"),
    )
    if query_ids is not None:
        q = q.where(F.col("query_id").isin(query_ids))
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        quantized(F.col(vec_col), quant).alias("cv"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dot", int_dot("qv", "cv", dim=dim))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("dot"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "dot")
    )


def _hyperplane(seed: int, dim: int, table: int, bit: int) -> list[float]:
    """Deterministic pseudo-random hyperplane (splitmix-style, no RNG dep)."""
    out = []
    x = (seed * 0x9E3779B97F4A7C15 + table * 0xBF58476D1CE4E5B9
         + bit * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    for i in range(dim):
        x = (x ^ (x >> 30)) * 0xBF58476D1CE4E5B9 & 0xFFFFFFFFFFFFFFFF
        x = (x ^ (x >> 27)) * 0x94D049BB133111EB & 0xFFFFFFFFFFFFFFFF
        v = ((x >> 33) & 0xFFFF) / 32768.0 - 1.0
        out.append(v)
    return out


def float_hyperplanes(n_tables: int, n_bits: int, dim: int,
                      seed: int = 42) -> np.ndarray:
    """(n_tables·n_bits) × dim float64 matrix; row t·n_bits+b = plane (t, b)."""
    return np.asarray(
        [_hyperplane(seed, dim, t, b)
         for t in range(n_tables) for b in range(n_bits)],
        dtype=np.float64,
    )


def _sign_codes_udf(spark, planes: np.ndarray, n_tables: int, n_bits: int):
    """array<long> bucket codes (one per table) from ONE Arrow-batched
    matmul against a once-per-executor broadcast plane matrix.

    This replaces the former plan-literal expression tree — n_tables·n_bits
    planes × dim literals plus one aggregate(zip_with) per plane compiled
    straight into the plan, the same O(k·dim)-literal codegen blowup the
    IVF codebook fix removed (at production dims, 768 × 32 planes ≈ 25k
    literals).  Planes ship once per executor; per batch the work is a
    single V @ Mᵀ.
    """
    bc = spark.sparkContext.broadcast(planes)

    @pandas_udf("array<long>")
    def codes(v: pd.Series) -> pd.Series:
        M = bc.value
        if len(v) == 0:
            return pd.Series([], dtype=object)
        V = np.stack([np.asarray(x, dtype=M.dtype) for x in v])
        signs = (V @ M.T) >= 0                      # B × (tables·bits)
        weights = 1 << np.arange(n_bits, dtype=np.int64)
        by_table = signs.reshape(len(V), n_tables, n_bits)
        out = (by_table * weights[None, None, :]).sum(axis=2)
        return pd.Series([row.tolist() for row in out])

    return codes


def lsh_bucketed_topk(
    emb: DataFrame,
    query_ids: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    n_bits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: sign-LSH bucket join, exact float-cosine re-rank
    in-bucket.

    Bucket codes come from :func:`_sign_codes_udf` — ONE Arrow-batched
    float64 matmul against the once-per-executor broadcast plane matrix
    (no plan literals), candidates meet in a bucket equi-join, never a
    cross product.  Sign decisions use numpy's float64 dot rather than a
    sequential Catalyst fold; the two can differ only when |dot| is within
    summation-reordering noise of 0 (measured: zero bucket flips on the
    test corpora), and the variant is rows-only checked anyway — the
    engine-exact twin is :func:`lsh_topk_int`.
    """
    spark = emb.sparkSession
    codes = _sign_codes_udf(
        spark, float_hyperplanes(n_tables, n_bits, dim, seed),
        n_tables, n_bits,
    )
    tagged = emb.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v")
    ).withColumn("codes", codes(F.col("v")))
    base = tagged.select(
        "vid", "v", F.posexplode("codes").alias("t", "code"))
    q = (
        tagged.where(F.col("vid").isin(query_ids))
        .select(F.col("vid").alias("query_id"), F.col("v").alias("qv"),
                F.posexplode("codes").alias("t", "code"))
    )
    cands = (
        F.broadcast(q)
        .join(base, ["t", "code"])
        .where(F.col("vid") != F.col("query_id"))
        .select("query_id", "qv", F.col("vid").alias("neighbor_id"),
                F.col("v").alias("cv"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cosine", float_cosine("qv", "cv", dim=dim))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id",
                F.round("cosine", 4).alias("cosine"))
    )


def broadcast_codebook(spark, centroids, integer: bool = False):
    """Ship a codebook once per executor as a Spark broadcast numpy matrix.
    Callers that rebuild codebooks in a loop (the k-means trainer) should
    ``destroy()`` each handle after its job completes — a k=2^16 × 768
    codebook is hundreds of MB, and per-iteration broadcasts accumulate on
    the driver and executors otherwise."""
    dtype = np.int64 if integer else np.float64
    return spark.sparkContext.broadcast(np.asarray(centroids, dtype=dtype))


def nearest_cells_from_broadcast(bc, n_cells_out: int = 1):
    """Vectorized cell assignment over an existing broadcast codebook:
    pandas UDF returning the ``n_cells_out`` nearest centroid ids
    (squared L2, ties broken by lower cell id).

    The per-batch work is one Arrow-batched matmul — this replaces the
    former plan-literal CASE chain, whose O(k·dim) literals blew up plan
    size and whole-stage codegen beyond k≈8 (a real IVF coarse quantizer is
    k=2^10..2^16).  An int64 codebook keeps every step exact (argsort over
    exact distances ⇒ bit-reproducible across engines).  The float path
    uses the ||v||² − 2v·c + ||c||² expansion, which is not bit-identical
    to a direct (v−c)² accumulation — catastrophic cancellation on
    near-tie distances can flip the argmin cell, acceptable for the
    approximate un-oracled float variants only.
    """
    n = n_cells_out

    @pandas_udf("array<int>")
    def nearest(v: pd.Series) -> pd.Series:
        C = bc.value
        if len(v) == 0:
            return pd.Series([], dtype=object)
        V = np.stack([np.asarray(x, dtype=C.dtype) for x in v])
        # ||v-c||² = ||v||² − 2v·c + ||c||²; exact in int64 when quantized
        d = ((V * V).sum(axis=1)[:, None] - 2 * (V @ C.T)
             + (C * C).sum(axis=1)[None, :])
        idx = np.argsort(d, axis=1, kind="stable")[:, :n]
        return pd.Series([row.tolist() for row in idx.astype(np.int32)])

    return nearest


def nearest_cells_udf(spark, centroids, n_cells_out: int = 1,
                      integer: bool = False):
    """One-shot convenience: broadcast the codebook and build the
    assignment UDF (see :func:`nearest_cells_from_broadcast`)."""
    return nearest_cells_from_broadcast(
        broadcast_codebook(spark, centroids, integer), n_cells_out)


def int_hyperplanes(n_tables: int, n_bits: int, dim: int, seed: int = 42,
                    quant: int = 1000) -> list[list[list[int]]]:
    """[table][bit] → integer hyperplane (the float planes scaled to the
    same fixed-point grid as :func:`quantized`), so the sign decision
    ``dot >= 0`` is exact 64-bit integer math — reproducible bit-for-bit
    across engines."""
    return [
        [[int(round(x * quant)) for x in _hyperplane(seed, dim, t, b)]
         for b in range(n_bits)]
        for t in range(n_tables)
    ]


def lsh_topk_int(
    emb: DataFrame,
    query_ids: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    n_bits: int = 8,
    n_tables: int = 2,
    seed: int = 42,
    quant: int = 1000,
) -> DataFrame:
    """Sign-LSH top-k with EXACT integer arithmetic end-to-end: integer
    hyperplanes decide buckets (sign of an int64 dot), quantized-int dot
    re-ranks in-bucket, ties by neighbor id — so a DuckDB oracle can
    reproduce the result bit-for-bit (the float-cosine variant
    :func:`lsh_bucketed_topk` cannot be oracled).

    Same scale shape: bucket codes come from ONE Arrow-batched matmul
    against a once-per-executor broadcast plane matrix (n_tables·n_bits
    planes — no plan literals), candidates meet in a bucket equi-join,
    never a cross product.
    """
    spark = emb.sparkSession
    planes = int_hyperplanes(n_tables, n_bits, dim, seed, quant)
    # (n_tables*n_bits) × dim matrix; row t*n_bits+b = plane (t, b)
    P = np.asarray([p for tbl in planes for p in tbl], dtype=np.int64)
    codes = _sign_codes_udf(spark, P, n_tables, n_bits)

    tagged = emb.select(
        F.col(id_col).alias("vid"),
        quantized(F.col(vec_col), quant).alias("qv"),
    ).withColumn("codes", codes(F.col("qv")))
    base = tagged.select(
        "vid", "qv", F.posexplode("codes").alias("t", "code"))
    q = (
        tagged.where(F.col("vid").isin(query_ids))
        .select(F.col("vid").alias("query_id"), F.col("qv").alias("qq"),
                F.posexplode("codes").alias("t", "code"))
    )
    cands = (
        F.broadcast(q).join(base, ["t", "code"])
        .where(F.col("vid") != F.col("query_id"))
        # multi-table probing CAN duplicate a pair — dedup before re-rank
        .dropDuplicates(["query_id", "vid"])
        .withColumn("dot", int_dot("qq", "qv", dim=dim))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("vid"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", F.col("vid").alias("neighbor_id"), "dot")
    )


def kmeans_centroids(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> list[list[float]]:
    """Deterministic Lloyd's iterations, DataFrame-native.

    Seeds = the k vectors with the smallest ids (deterministic, no RNG).
    Each iteration: assign via the broadcast-numpy argmin UDF (narrow — no
    shuffle of the corpus), then average per cluster via
    posexplode + groupBy(cell, pos) — the partial (map-side) aggregation
    collapses each partition to k·dim cells before the exchange, so the
    shuffle is O(k·dim·partitions) regardless of corpus size (the former
    per-dimension ``F.sum(x_i)`` fan-out meant dim agg columns — 768-dim
    would have been 768-wide agg state per row).  Returns plain Python
    lists (the coarse quantizer is tiny).

    The per-iteration ``collect()`` pulls O(k·dim) partial sums to the
    driver — the codebook must land on the driver anyway to be broadcast,
    but at k=2^16 × 768 that is ~50M cells per iteration: this trainer is
    an offline / moderate-k tool.  Production IVF serves queries from a
    PRECOMPUTED codebook (``ivf_topk(codebook=...)`` /
    ``ivf_topk_int``'s fixed codebook), never by retraining in the query
    path.  Each iteration's broadcast is destroyed after its job
    completes so n_iter × codebook bytes never accumulate.
    """
    spark = emb.sparkSession
    seeds = (
        emb.orderBy(F.col(id_col).asc()).limit(k)
        .select(vec_col).collect()
    )
    centroids = [[float(x) for x in r[0]] for r in seeds]
    for _ in range(n_iter):
        bc = broadcast_codebook(spark, centroids)
        assign = nearest_cells_from_broadcast(bc)
        assigned = emb.select(
            F.col(vec_col).alias("v"),
            assign(F.col(vec_col))[0].alias("c"),
        )
        stats = (
            assigned.select("c", F.posexplode("v").alias("pos", "x"))
            .groupBy("c", "pos")
            .agg(F.sum(F.col("x").cast("double")).alias("s"),
                 F.count("*").alias("n"))
            .collect()
        )
        bc.destroy(blocking=False)
        new = [list(c) for c in centroids]
        for r in stats:
            if r["n"] > 0:
                new[r["c"]][r["pos"]] = r["s"] / r["n"]
        centroids = new
    return centroids


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    dim: int = 64,
    codebook: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: coarse k-means cells, probe the n_probe
    nearest cells per query, exact cosine re-rank inside probed cells.

    At 10^9 vectors the cell assignment is a narrow Arrow-batched matmul
    (no shuffle) against a once-per-executor broadcast codebook, and the
    search touches n_probe/n_cells of the corpus.  Pass ``codebook`` (a
    PRECOMPUTED n_cells × dim list, e.g. from an offline
    :func:`kmeans_centroids` run) to skip training in the query path —
    the production mode; without it a k-means fit runs inline first.
    """
    spark = emb.sparkSession
    if isinstance(codebook, str):  # path → S8 weights sink (serving mode)
        codebook = read_codebook(spark, codebook)
    cents = codebook if codebook is not None else kmeans_centroids(
        emb, k=n_cells, id_col=id_col, vec_col=vec_col, dim=dim)
    # ONE UDF pass computes the n_probe nearest cells; the corpus keeps
    # cell[0] (its home cell), queries explode all probes.  A neighbor
    # lives in exactly one cell, so a (query, neighbor) pair can match at
    # most once — no dedup shuffle needed.
    nearest = nearest_cells_udf(spark, cents, n_cells_out=n_probe)
    tagged = emb.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v"),
        nearest(F.col(vec_col)).alias("cells"),
    )
    base = tagged.select("vid", "v", F.col("cells")[0].alias("cell"))
    q = (
        tagged.where(F.col("vid").isin(query_ids))
        .select(F.col("vid").alias("query_id"), F.col("v").alias("qv"),
                F.explode("cells").alias("cell"))
    )
    cands = (
        F.broadcast(q).join(base, "cell")
        .where(F.col("vid") != F.col("query_id"))
        .withColumn("cosine", float_cosine("qv", "v", dim=dim))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("vid"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", F.col("vid").alias("neighbor_id"),
                F.round("cosine", 4).alias("cosine"))
    )


def write_codebook(spark, centroids, path: str) -> None:
    """Persist a trained coarse quantizer through the S8 weights sink
    (``sources/sinks.py``) so IVF serving reads table → broadcast with no
    driver-side literal: the offline k-means job checkpoints its codebook
    next to the pipeline's other tables (HDFS/S3-safe), and every serving
    query loads it by path.  float32 storage is exact for integer
    codebooks up to 2^24 (the quantized grid is ~quant·|x| ≤ a few
    thousand), so the int path round-trips bit-for-bit."""
    from ..sources.sinks import write_weights_parquet

    arr = np.asarray(centroids, dtype=np.float32)
    write_weights_parquet(spark, {
        "codebook": arr,
        "n_cells": int(arr.shape[0]),
        "dim": int(arr.shape[1]),
    }, path)


def read_codebook(spark, path: str, integer: bool = False):
    """Inverse of :func:`write_codebook`; ``integer=True`` restores the
    exact int64 grid (rint on fp32-exact values, not a float cast)."""
    from ..sources.sinks import read_weights_parquet

    arr = read_weights_parquet(spark, path)["codebook"]
    if integer:
        return np.rint(arr).astype(np.int64).tolist()
    return [[float(x) for x in row] for row in arr]


def fixed_codebook(n_cells: int = 8, dim: int = 64, seed: int = 7,
                   quant: int = 1000) -> list[list[int]]:
    """Deterministic integer coarse-quantizer codebook (offline-trained
    codebooks are broadcast like this in production IVF; here the cells are
    seeded hyperplanes scaled to the same integer grid as ``quantized``)."""
    return [[int(round(x * quant)) for x in _hyperplane(seed, dim, c, 0)]
            for c in range(n_cells)]


def ivf_topk_int(
    emb: DataFrame,
    query_ids: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
    n_cells: int = 8,
    dim: int = 64,
    quant: int = 1000,
    codebook: list[list[int]] | str | None = None,
) -> DataFrame:
    """IVF top-k over a FIXED integer codebook with quantized-int re-rank —
    every arithmetic step is exact 64-bit integer math, so a DuckDB oracle
    can reproduce it bit-for-bit (unlike the float-cosine k-means variant).

    Same scale shape as :func:`ivf_topk`: cell assignment is a narrow
    Arrow-batched int64 matmul against the once-per-executor broadcast
    codebook (NOT plan literals — a k=2^16 codebook would otherwise compile
    to a megabyte-scale CASE chain), the probe touches n_probe/n_cells of
    the corpus, re-rank is in-cell only.
    """
    spark = emb.sparkSession
    if isinstance(codebook, str):  # path → S8 weights sink (serving mode)
        codebook = read_codebook(spark, codebook, integer=True)
    cents = codebook if codebook is not None else fixed_codebook(
        n_cells=n_cells, dim=dim, quant=quant)
    # ONE UDF pass (n_probe nearest cells per row): the corpus keeps its
    # home cell cells[0], queries explode all probes.  A neighbor is in
    # exactly one cell ⇒ pairs are already unique — no dedup shuffle.
    nearest = nearest_cells_udf(spark, cents, n_cells_out=n_probe,
                                integer=True)
    tagged = emb.select(
        F.col(id_col).alias("vid"), quantized(F.col(vec_col), quant).alias("qv")
    ).withColumn("cells", nearest(F.col("qv")))
    base = tagged.select("vid", "qv", F.col("cells")[0].alias("cell"))
    q = (
        tagged.where(F.col("vid").isin(query_ids))
        .select(F.col("vid").alias("query_id"), F.col("qv").alias("qq"),
                F.explode("cells").alias("cell"))
    )
    cands = (
        F.broadcast(q).join(base, "cell")
        .where(F.col("vid") != F.col("query_id"))
        .withColumn("dot", int_dot("qq", "qv", dim=dim))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("vid"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", F.col("vid").alias("neighbor_id"), "dot")
    )
