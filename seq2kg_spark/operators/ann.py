"""Similarity search over an embedding column (array<float>).

Every search is one plan (:func:`_topk`): the query rows are broadcast
and joined to the corpus on a bucket key (a cross join for brute force),
self pairs are dropped, each pair is scored, and the k best rows per query
are kept, ties broken by neighbor id.  The broadcast query side against
the partitioned corpus is the one join choice all variants share.  They
differ only in the bucket key and the re-rank metric:

* ``brute_force_topk`` — no key, exact quantized-int dot.  Quantization
  (round(x*1000) → int64) makes the arithmetic exact, so ranking is
  deterministic across engines (the DuckDB oracle matches bit-for-bit)
  and across partitionings.
* ``lsh_topk_int`` / ``lsh_bucketed_topk`` — random-hyperplane sign-LSH,
  one bucket code per table (multi-probe via n_tables).  At 10^9 vectors
  the bucket join replaces the full cross product; recall is tunable with
  n_bits/n_tables.
* ``ivf_topk_int`` / ``ivf_topk`` — coarse-quantizer cells: queries probe
  their n_probe nearest cells, the corpus sits in its nearest one.

The ``_int`` variants re-rank by the exact dot (engine-exact, oracled);
the float ones by cosine, computed JVM-side via aggregate/zip_with.
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


def _dot(dim: int | None):
    """Exact re-rank metric: quantized-int dot, reported as ``dot``."""
    return "dot", int_dot("qv", "cv", dim=dim), F.col("dot")


def _cosine(dim: int | None):
    """Float re-rank metric: cosine, reported rounded to 4 places."""
    return ("cosine", float_cosine("qv", "cv", dim=dim),
            F.round("cosine", 4).alias("cosine"))


def _topk(emb: DataFrame, query_ids, id_col: str, vec, k: int, metric,
          key=None, probe=None, home=None, dedup: bool = False) -> DataFrame:
    """(query_id, rank, neighbor_id, <metric>) — the k best-scoring corpus
    rows per query (all rows are queries when ``query_ids`` is None).

    ``vec`` is the vector Column both sides score with ``metric`` (a
    :func:`_dot` / :func:`_cosine` triple).  ``key`` is a pandas UDF from a
    vector to its array of bucket keys; ``probe`` and ``home`` turn that
    array into the query's and the corpus row's join columns.  Without a
    key the join is queries × corpus.  ``dedup`` drops the duplicate pairs
    a query meets when a corpus row has several keys (LSH tables).
    """
    name, score, out = metric
    vecs = emb.select(F.col(id_col).alias("vid"), vec.alias("v"))
    q = vecs if query_ids is None else vecs.where(F.col("vid").isin(query_ids))
    q = q.select(F.col("vid").alias("query_id"), F.col("v").alias("qv"))
    if key is None:
        pairs = F.broadcast(q).crossJoin(vecs)
    else:
        # Nondeterministic, so Catalyst pushes no inferred filter on the
        # keys (isnotnull, size > 0) below the projection computing them:
        # such a copy ran the UDF, one matmul per row, twice on each side.
        key = key.asNondeterministic()
        q = q.select("*", *probe(key(F.col("qv"))))
        pairs = F.broadcast(q).join(
            vecs.select("*", *home(key(F.col("v")))), q.columns[2:])
    pairs = pairs.select("query_id", "qv", F.col("vid").alias("neighbor_id"),
                         F.col("v").alias("cv")) \
        .where(F.col("query_id") != F.col("neighbor_id"))
    if dedup:
        pairs = pairs.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc(name),
                                               F.asc("neighbor_id"))
    return (
        pairs.withColumn(name, score)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", out)
    )


def brute_force_topk(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    quant: int = 1000,
) -> DataFrame:
    """(query_id, rank, neighbor_id, dot) — exact top-k, integer math."""
    return _topk(emb, query_ids, id_col, quantized(F.col(vec_col), quant), k,
                 _dot(_probe_dim(emb, vec_col)))


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


def hyperplanes(n_tables: int, n_bits: int, dim: int, seed: int = 42,
                quant: int | None = None) -> np.ndarray:
    """(n_tables·n_bits) × dim matrix; row t·n_bits+b = plane (t, b).
    float64 planes, or with ``quant`` the planes on the :func:`quantized`
    grid as int64, so the sign decision ``dot >= 0`` is exact 64-bit
    integer math — reproducible bit-for-bit across engines."""
    P = np.asarray([_hyperplane(seed, dim, t, b)
                    for t in range(n_tables) for b in range(n_bits)],
                   dtype=np.float64)
    return P if quant is None else np.rint(P * quant).astype(np.int64)


def _matmul_udf(bc, return_type: str, rows):
    """pandas UDF: each Arrow batch stacked into one matrix V in the dtype
    of the broadcast matrix M, one output row per vector from
    ``rows(V, M)``.  Per batch the work is one matmul against M, shipped
    once per executor — never plan literals (a 768-dim table of 32 planes
    or a k=2^16 codebook would compile to tens of thousands of them)."""
    @pandas_udf(return_type)
    def apply(v: pd.Series) -> pd.Series:
        M = bc.value
        if len(v) == 0:
            return pd.Series([], dtype=object)
        V = np.stack([np.asarray(x, dtype=M.dtype) for x in v])
        return pd.Series([row.tolist() for row in rows(V, M)])

    return apply


def _lsh(emb, query_ids, id_col, vec, k, metric, planes, n_tables, n_bits):
    """Sign-LSH top-k: array<long> bucket codes (one per table) from the
    signs of ``vec`` against ``planes``, candidates only within a bucket."""
    weights = 1 << np.arange(n_bits, dtype=np.int64)

    def codes(V, M):
        signs = ((V @ M.T) >= 0).reshape(len(V), n_tables, n_bits)
        return (signs * weights[None, None, :]).sum(axis=2)

    def buckets(c):
        return [F.posexplode(c).alias("t", "code")]

    bc = emb.sparkSession.sparkContext.broadcast(planes)
    return _topk(emb, query_ids, id_col, vec, k, metric,
                 _matmul_udf(bc, "array<long>", codes), buckets, buckets,
                 dedup=True)


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
    """Approximate top-k: float sign-LSH buckets, float-cosine re-rank.

    Sign decisions use numpy's float64 dot rather than a sequential
    Catalyst fold; the two can differ only when |dot| is within
    summation-reordering noise of 0 (measured: zero bucket flips on the
    test corpora), and the variant is rows-only checked anyway — the
    engine-exact twin is :func:`lsh_topk_int`.
    """
    return _lsh(emb, query_ids, id_col, F.col(vec_col), k, _cosine(dim),
                hyperplanes(n_tables, n_bits, dim, seed), n_tables, n_bits)


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
    :func:`lsh_bucketed_topk` cannot be oracled)."""
    return _lsh(emb, query_ids, id_col, quantized(F.col(vec_col), quant), k,
                _dot(dim), hyperplanes(n_tables, n_bits, dim, seed, quant),
                n_tables, n_bits)


def nearest_cells(bc, n_cells_out: int = 1):
    """Cell assignment against the broadcast codebook ``bc`` (an n_cells ×
    dim numpy matrix): pandas UDF returning the ``n_cells_out`` nearest
    centroid ids (squared L2, ties broken by lower cell id).

    An int64 codebook keeps every step exact (argsort over exact distances
    ⇒ bit-reproducible across engines).  The float path uses the
    ||v||² − 2v·c + ||c||² expansion, which is not bit-identical to a
    direct (v−c)² accumulation — catastrophic cancellation on near-tie
    distances can flip the argmin cell, acceptable for the approximate
    un-oracled float variants only.
    """
    def nearest(V, C):
        d = ((V * V).sum(axis=1)[:, None] - 2 * (V @ C.T)
             + (C * C).sum(axis=1)[None, :])
        idx = np.argsort(d, axis=1, kind="stable")[:, :n_cells_out]
        return idx.astype(np.int32)

    return _matmul_udf(bc, "array<int>", nearest)


def _ivf(emb, query_ids, id_col, vec, k, metric, cents, dtype, n_probe):
    """IVF top-k: queries probe their ``n_probe`` nearest cells, the corpus
    keeps its home cell cells[0].  A neighbor lives in exactly one cell,
    so a (query, neighbor) pair matches at most once — no dedup shuffle."""
    bc = emb.sparkSession.sparkContext.broadcast(np.asarray(cents, dtype))
    return _topk(emb, query_ids, id_col, vec, k, metric,
                 nearest_cells(bc, n_probe),
                 lambda c: [F.explode(c).alias("cell")],
                 lambda c: [c[0].alias("cell")])


def kmeans_centroids(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic Lloyd's iterations, DataFrame-native.

    Seeds = the k vectors with the smallest ids (deterministic, no RNG).
    Each iteration: assign via :func:`nearest_cells` (narrow — no shuffle
    of the corpus), then average per cluster via posexplode +
    groupBy(cell, pos) — the partial (map-side) aggregation collapses each
    partition to k·dim cells before the exchange, so the shuffle is
    O(k·dim·partitions) regardless of corpus size.  Returns plain Python
    lists (the coarse quantizer is tiny).

    The per-iteration ``collect()`` pulls O(k·dim) partial sums to the
    driver — at k=2^16 × 768 that is ~50M cells per iteration: this
    trainer is an offline / moderate-k tool.  Production IVF serves
    queries from a PRECOMPUTED codebook (``ivf_topk(codebook=...)`` /
    ``ivf_topk_int``'s fixed codebook).  Each iteration's broadcast is
    destroyed after its job completes so n_iter × codebook bytes never
    accumulate on the driver and executors.
    """
    sc = emb.sparkSession.sparkContext
    seeds = (
        emb.orderBy(F.col(id_col).asc()).limit(k)
        .select(vec_col).collect()
    )
    centroids = [[float(x) for x in r[0]] for r in seeds]
    for _ in range(n_iter):
        bc = sc.broadcast(np.asarray(centroids, dtype=np.float64))
        assigned = emb.select(
            F.col(vec_col).alias("v"),
            nearest_cells(bc)(F.col(vec_col))[0].alias("c"),
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
    codebook: list[list[float]] | str | None = None,
) -> DataFrame:
    """IVF approximate top-k: coarse k-means cells, exact cosine re-rank
    inside the probed cells; the search touches n_probe/n_cells of the
    corpus.  Pass ``codebook`` (a PRECOMPUTED n_cells × dim list, e.g.
    from an offline :func:`kmeans_centroids` run, or its sink path) to
    skip training in the query path — the production mode; without it a
    k-means fit runs inline first.
    """
    if isinstance(codebook, str):  # path → S8 weights sink (serving mode)
        codebook = read_codebook(emb.sparkSession, codebook)
    cents = codebook if codebook is not None else kmeans_centroids(
        emb, k=n_cells, id_col=id_col, vec_col=vec_col)
    return _ivf(emb, query_ids, id_col, F.col(vec_col), k, _cosine(dim),
                cents, np.float64, n_probe)


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
    codebooks are broadcast like this in production IVF; here cell c is
    the seeded hyperplane (c, 0) on the same integer grid as
    ``quantized``)."""
    return hyperplanes(n_cells, 1, dim, seed, quant).tolist()


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
    can reproduce it bit-for-bit (unlike the float-cosine k-means variant
    :func:`ivf_topk`)."""
    if isinstance(codebook, str):  # path → S8 weights sink (serving mode)
        codebook = read_codebook(emb.sparkSession, codebook, integer=True)
    cents = codebook if codebook is not None else fixed_codebook(
        n_cells=n_cells, dim=dim, quant=quant)
    return _ivf(emb, query_ids, id_col, quantized(F.col(vec_col), quant), k,
                _dot(dim), cents, np.int64, n_probe)
