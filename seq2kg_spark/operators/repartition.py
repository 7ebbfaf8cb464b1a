"""Salted, size-bucketed repartition — the skew defense for NLP inference.

Web documents are log-normal in length with heavy outliers; a plain hash
repartition by url gives some tasks 10× the token count of others and the
stage runs at straggler speed.  The north-star design (SURVEY.md §4.1):

* bucket documents by length decile (``width_bucket``-style on a log scale),
* salt within each bucket with a deterministic hash of the url,
* repartition on (bucket, salt) so every task draws a near-uniform mix of
  document sizes.

At 100 TB this is the difference between a stage bounded by mean task time
and one bounded by the largest document in the corpus.  Deterministic: no
``rand()`` — the salt derives from ``xxhash64(url)``, so reruns and resumes
place every row identically (required for lineage/resume).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# log2 size classes: 256 B, 512 B, 1 KB, ... up to 32 KB and over.
SIZE_BUCKETS = 8


def salted_size_repartition(
    df: DataFrame,
    size_col: Column,
    num_partitions: int | None = None,
    salt_buckets: int = 512,
) -> DataFrame:
    """Repartition so each task gets a balanced mix of document sizes.

    ``size_col`` is any monotone size proxy (``length(text)`` is fine —
    token count correlates).  Rows land in ``SIZE_BUCKETS`` ``log2``-ish
    size buckets; the shuffle key is (size_bucket, xxhash64(url) %
    salt_buckets), spreading each size class across ``salt_buckets``
    tasks.

    The partition count is always PINNED (``repartition(N, cols)`` carries
    the REPARTITION_BY_NUM shuffle origin, which AQE must preserve).  A
    column-only ``repartition(cols)`` is AQE-coalescable, and AQE's byte
    heuristic (~64 MB targets) starves the CPU-bound mapInPandas stage this
    exchange feeds: extraction costs ~100 CPU-ms per KB of text, so a few
    tens of MB of compressed prose is hours of Python work — measured at
    10 M pages, byte-coalescing left a 32-core box running 13 tasks
    (0.263 ms/page vs 0.141 at 5 M where more bytes masked it).  Default N =
    max(spark.sql.shuffle.partitions, 2 × defaultParallelism): a multiple of
    total cores, never a function of bytes.
    """
    # log2 of (size/256): byte-length buckets at 256/512/1k/.../32k+ — the
    # web-prose range.  A bare floor(log2(size)) saturates its cap for every
    # document over ~128 bytes, collapsing the whole corpus into ONE size
    # class and turning the "mix of sizes" key into salt-only.
    bucket = F.least(
        F.lit(SIZE_BUCKETS - 1),
        F.greatest(
            F.lit(0),
            F.floor(F.log2(F.greatest(
                size_col.cast("double") / F.lit(256.0), F.lit(1.0)))),
        ),
    ).alias("__size_bucket")
    # The salt hash MUST be decorrelated from any bucket id derived from the
    # same key: lineage's resume bucket is pmod(xxhash64(url), n_buckets),
    # so a bare pmod(xxhash64(url), salt_buckets) is congruent to it — a
    # 4-bucket wave of a 32-bucket stage then populates only 2 salts per
    # bucket (hash ≡ b mod 32 ⇒ hash mod 64 ∈ {b, b+32}), and 75% of wave
    # tasks receive ZERO rows (measured: 10 M pages, 8-task effective
    # parallelism on 32 cores).  Seeding the hash with a literal breaks the
    # congruence; 512 salts over ~2×cores partitions keeps per-partition
    # key-count lumpiness (Poisson) small.
    salt = F.pmod(F.xxhash64(F.lit("__seq2kg_salt__"), F.col("url")),
                  F.lit(salt_buckets)).alias("__salt")
    out = df.withColumns({"__size_bucket": bucket, "__salt": salt})
    if not num_partitions:
        spark = df.sparkSession
        num_partitions = max(
            int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
            2 * spark.sparkContext.defaultParallelism,
        )
    out = out.repartition(num_partitions, "__size_bucket", "__salt")
    return out.drop("__size_bucket", "__salt")
