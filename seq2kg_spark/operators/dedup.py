"""Deduplication operators for web-scale training-data pipelines.

Five families, all DataFrame-native:

* exact            — md5(text) hash-groupBy (one shuffle on the hash).
* ngram Jaccard    — word-3-shingle set overlap within a blocking key.
* MinHash + LSH    — banded min-signature bucketing → candidate pairs →
                     Jaccard verification.  The oracle-parity variant uses
                     ``md5`` (identical hex in Spark and DuckDB); the scale
                     variant uses ``xxhash64`` (8 bytes, JVM-side, no hex
                     strings to shuffle).
* SimHash          — bitwise majority signature; 16-bit md5-nibble variant
                     (cross-engine exact) and 64-bit xxhash64 variant.
* embedding cosine — quantized-integer dot product near-dup pairs (exact
                     arithmetic → deterministic across engines).

Scale notes: every operator blocks before it pairs — LSH bands or an
explicit ``block_col`` — so the self-join never goes quadratic in corpus
size, only in bucket size.  AQE's skew-join split handles hot buckets.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from seq2kg_spark.operators.ann import int_dot, quantized


def with_text_md5(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("text_md5", F.md5(F.col(text_col)))


def dedup_exact(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """One row per distinct text: keeper id (min), duplicate count."""
    return (
        with_text_md5(df, text_col)
        .groupBy("text_md5")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").cast("long").alias("n_dups"),
        )
    )


def word_shingles(text_col: Column, k: int = 3) -> Column:
    """Word k-gram shingles as an array<string> (JVM higher-order fns).

    The token array is BOUND once via a single-element ``transform`` before
    the per-index lambda runs: referencing ``toks`` directly inside
    ``transform(idx, ...)`` would re-inline (and re-evaluate) the whole
    split+filter expression per shingle index — Catalyst does no CSE across
    lambda boundaries.  Measured 16.9s -> 2.3s on 50k sf1.0 docs for
    identical output.  The wrapper costs one 1-element array allocation per
    row; ``element_at(..., 1)`` unwraps it.
    """
    toks = F.filter(F.split(text_col, " "), lambda w: w != F.lit(""))

    def _shingles_of(tk: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.size(tk) - (k - 1), F.lit(1)))
        # concat_ws over try_element_at instead of array_join(slice(...)):
        # no per-shingle slice-array allocation (measured 2.2s -> 1.65s at
        # sf1.0, identical output).  try_element_at (not element_at): for
        # docs shorter than k the tail indices run past the array, which
        # is an ERROR under ANSI mode; null elements are skipped by
        # concat_ws exactly like the short slice was.
        return F.transform(idx, lambda i: F.concat_ws(
            " ", *[F.try_element_at(tk, i + j) for j in range(k)]))

    return F.element_at(F.transform(F.array(toks), _shingles_of), 1)


def shingle_table(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k: int = 3) -> DataFrame:
    """Distinct (id, shingle) pairs — the build side of every similarity op.

    Dedup happens inside the array (``array_distinct``) BEFORE the explode:
    the dedup key contains doc_id, so a shuffle-based dropDuplicates would
    be pure waste — this keeps the whole stage narrow.
    """
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(word_shingles(F.col(text_col), k))
        ).alias("shingle"),
    )


# Shingle document-frequency cap: a word-k-gram shared by df documents
# fans the equi-join out by df² rows, so one stop-phrase ("click here to",
# a boilerplate footer gram) goes quadratic at web scale.  Shingles with
# df > cap are dropped before the join; the DuckDB oracle twin interpolates
# this same constant so the `approx` flag can never silently drift from it.
MAX_DF_DEFAULT = 10_000


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    threshold: float = 0.5,
    k: int = 3,
    max_df: int = MAX_DF_DEFAULT,
) -> DataFrame:
    """Near-dup pairs by word-k-gram Jaccard, blocked to avoid O(n²).

    Relational formulation (works identically in any SQL engine):
    inter = |shingles(a) ∩ shingles(b)| via equi-join on shingle;
    union = |a| + |b| - inter.

    ``max_df`` is the skew guard on the shingle equi-join: shingles whose
    document frequency (within the blocking key, when blocked) exceeds the
    cap are dropped BEFORE the join, bounding its fan-out at
    O(max_df²) rows per shingle instead of O(|corpus|²) for one hot
    stop-gram.  Per-doc sizes stay TRUE sizes, so dropping only biases
    jaccard DOWN — and only for pairs whose overlap includes stop-shingles
    (a pair overlapping *solely* in stop-shingles is never emitted, which
    is the point of the cap).  Pairs where either side contains a capped
    shingle are flagged ``approx = true``; on corpora where no shingle
    reaches the cap — the entire oracle corpus — results are exact with
    ``approx = false`` everywhere.
    """
    sh = shingle_table(df, id_col, text_col, k)
    if block_col:
        blocks = df.select(F.col(id_col).alias("doc_id"),
                           F.col(block_col).alias("block"))
        sh = sh.join(blocks, "doc_id")
    df_keys = ["shingle"] + (["block"] if block_col else [])
    # shingle_table is distinct per doc, so count(*) per key IS the df.
    # The hot set is tiny by construction (only stop-grams cross a 10k
    # cap) — AQE sees its runtime size and broadcasts the marker join.
    hot = (
        sh.groupBy(*df_keys)
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") > max_df)
        .select(*df_keys)
        .withColumn("_hot", F.lit(True))
    )
    marked = sh.join(hot, df_keys, "left")
    sizes = marked.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.max(F.coalesce("_hot", F.lit(False))).alias("_has_hot"),
    )
    cold = marked.where(F.col("_hot").isNull()).select("doc_id", *df_keys)
    a = cold.select(F.col("doc_id").alias("doc_a"), *df_keys)
    b = cold.select(F.col("doc_id").alias("doc_b"), *df_keys)
    inter = (
        a.join(b, df_keys)
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_shingles").alias("n_a"),
                      F.col("_has_hot").alias("_hot_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_shingles").alias("n_b"),
                      F.col("_has_hot").alias("_hot_b"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                4,
            ),
        )
        .withColumn("approx", F.col("_hot_a") | F.col("_hot_b"))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard", "approx")
    )


def band_signature(shingles: Column, band: Column, band_rows: int,
                   hash_fn: str) -> Column:
    """MinHash signature of one LSH band over a shingle array — the one
    place the signature formula lives (dedup and canonicalize both call it).

    Row j of the band is an independent MinHash keyed by (band, j, shingle);
    at r=1 by (band, shingle), the historical formula the DuckDB twins
    interpolate.  ``hash_fn='md5'`` hashes the ``:``-joined strings
    (cross-engine-identical hex); ``'xxhash64'`` hashes the values directly
    (8-byte ints, no hex strings to shuffle).  At r=1 the signature is the
    row minimum; at r>1 the r row minima are folded into one join key —
    ``concat_ws('|')`` for md5, ``xxhash64`` for xxhash64 — so a bucket
    collision needs all r to match (P = jaccard^r).
    """
    def row_min(seed: list[int]) -> Column:
        # built in a closure, never through a default argument: a
        # two-parameter lambda is PySpark's (element, index) form of
        # transform, which would bind the "default" to the index
        if hash_fn == "md5":
            key = [band.cast("string"), *[F.lit(str(j)) for j in seed]]
            return F.array_min(F.transform(
                shingles, lambda s: F.md5(F.concat_ws(":", *key, s))))
        key = [band, *[F.lit(j) for j in seed]]
        return F.array_min(F.transform(
            shingles, lambda s: F.xxhash64(*key, s)))

    if band_rows <= 1:
        return row_min([])
    minima = [row_min([j]) for j in range(band_rows)]
    return (F.concat_ws("|", *minima) if hash_fn == "md5"
            else F.xxhash64(*minima))


# Default per-doc verification-set cap; the DuckDB oracle twin interpolates
# this same constant so the `approx` flag can never silently drift from it.
MAX_SHINGLES_DEFAULT = 2048

# (band, sig) hot-bucket cap for LSH candidate pairing: a bucket of n
# members emits n² candidate rows, so one hot signature (template pages,
# empty or boilerplate-identical docs) goes quadratic at web scale.
# Buckets over the cap are dropped before pairing (lsh_bucket_pairs, the
# builder canonicalize.similarity_edges shares); the oracle twin
# interpolates it.
MAX_BUCKET_DEFAULT = 10_000


def band_signatures(
    df: DataFrame,
    member: Column,
    shingles: Column,
    n_bands: int,
    band_rows: int,
    hash_fn: str,
) -> DataFrame:
    """(m, band, sig): one row per ``member`` of ``df`` and LSH band — the
    signature projection shared by :func:`lsh_bucket_pairs` and
    :func:`minhash_cluster_edges`.

    All n_bands signatures (:func:`band_signature`) are computed in ONE
    projection, an array over the band sequence, posexploded after; the
    band number is the array position.
    """
    sigs = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: band_signature(shingles, b, band_rows, hash_fn))
    return df.select(member.alias("m"),
                     F.posexplode(sigs).alias("band", "sig"))


def lsh_bucket_pairs(
    df: DataFrame,
    member: Column,
    shingles: Column,
    n_bands: int,
    band_rows: int,
    hash_fn: str,
    max_bucket: int,
) -> DataFrame:
    """LSH candidate pairs: (a, b) with a < b, distinct, for every two
    ``member`` values of ``df`` that share a (band, sig) bucket of at most
    ``max_bucket`` members — the one candidate builder behind
    :func:`minhash_lsh_pairs` and ``canonicalize.similarity_edges``.

    ``shingles`` is each row's shingle array (signatures via
    :func:`band_signature`); ``member`` any orderable column, a struct
    when the caller needs more than the id on both sides of a pair.

    The signatures come from :func:`band_signatures`, then a single
    groupBy(band, sig) → collect_list → in-bucket pair expansion.  The
    former shape (groupBy count for the bucket cap + join back + self-join
    on (band, sig)) evaluated the whole shingle→signature pipeline THREE
    times (x side, y side, cap) and paid three exchanges; this shape
    evaluates it once and pays one exchange before dropDuplicates —
    measured 35s → 20s for dedup at sf1.0, with bit-identical pairs on
    both hash paths.
    """
    sig = band_signatures(df, member, shingles, n_bands, band_rows, hash_fn)
    # Hot-bucket guard (drop-before-pairing): members of an over-cap bucket
    # contribute no candidates from that band — true near-dups usually
    # collide in a calmer band too.  Bounds pair expansion at
    # O(max_bucket²) rows per bucket, never O(|df|²) for one hot
    # signature.
    #
    # The cap is a window COUNT over (band, sig), applied BEFORE the
    # collect_list: a hot bucket is dropped without ever materializing its
    # member list in an aggregation buffer (a collect-then-filter cap
    # would build an O(bucket) in-memory array first — executor OOM bait
    # at web scale; the window exec buffers through a spillable sorter).
    # The window and the groupBy share one (band, sig) exchange, and this
    # shape also measured faster than collect-then-filter at sf1.0
    # (8.6s → 7.3s for the candidate stage).
    wb = Window.partitionBy("band", "sig")
    sig = (
        sig.withColumn("_n", F.count("*").over(wb))
        .where(F.col("_n") <= max_bucket)
        .drop("_n")
    )
    ms = F.col("ms")
    pair_arr = F.flatten(F.transform(
        ms,
        lambda a: F.transform(
            F.filter(ms, lambda b: b > a),
            lambda c: F.struct(a.alias("a"), c.alias("b")),
        ),
    ))
    return (
        sig.groupBy("band", "sig").agg(F.collect_list("m").alias("ms"))
        .select(F.explode(pair_arr).alias("p"))
        .select("p.a", "p.b")
        .dropDuplicates(["a", "b"])
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 8,
    threshold: float = 0.5,
    k: int = 3,
    hash_fn: str = "md5",
    max_shingles: int = MAX_SHINGLES_DEFAULT,
    max_bucket: int = MAX_BUCKET_DEFAULT,
    band_rows: int = 1,
) -> DataFrame:
    """MinHash/LSH near-dup detection: shingle → banded min-sig → bucket
    join → Jaccard verify.  Output: (doc_a, doc_b, jaccard ≥ threshold).

    ``max_shingles`` bounds the per-doc verification set (kept in sorted
    order, deterministic) so a pathological multi-megabyte page cannot blow
    up the set-join row width at 100 TB; docs under the cap — the entire
    oracle corpus — are verified exactly (``approx = false``).  When either
    side was truncated the reported jaccard is the prefix-set (bottom-k
    style) ESTIMATE |A_k∩B_k|/|A_k∪B_k| — both sides keep the same sorted
    prefix, so heavy overlap still surfaces — and the pair is flagged
    ``approx = true`` (two over-cap docs differing only past the cap can
    estimate 1.0; the flag makes that visible instead of silently exact).

    ``max_bucket`` caps the (band, sig) bucket width fed to candidate
    pairing — see :data:`MAX_BUCKET_DEFAULT`.

    ``band_rows`` (r) is the LSH sharpness knob: a band's signature is the
    combination of r independent min-hashes, so two docs collide in a band
    with probability jaccard^r.  The default r=1 is the recall-oriented
    setting the low-threshold driver oracle uses (P(collide) = jaccard —
    fine for small corpora and threshold 0.002 recall sweeps), but it is
    WRONG at web scale for real dedup thresholds: long documents over a
    shared vocabulary almost all contain the globally-minimal shingle, so
    1-row bands degenerate toward a full cross product (measured: 50k
    synthetic pages → 181.5M candidate pairs at r=1 vs ~exact-dup-only at
    r=4).  For threshold≈0.5 dedup use r=4, n_bands=8: P(candidate) =
    1-(1-s⁴)⁸ ≈ 0.40 at s=0.5, 0.997 at s=0.9, 0.0008 at s=0.1.
    """
    # Set-based formulation: the distinct-shingle ARRAY (the source of
    # both the signatures and the verification set) is built once per row
    # and never exploded, so the only shuffled rows in the whole operator
    # are the (doc, band, sig) triples, the candidate pairs, and the capped
    # verification sets (candidate shape: :func:`lsh_bucket_pairs`).
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(word_shingles(F.col(text_col), k)).alias("sh"),
    )
    cand = lsh_bucket_pairs(
        base, F.col("doc_id"), F.col("sh"), n_bands=n_bands,
        band_rows=band_rows, hash_fn=hash_fn, max_bucket=max_bucket,
    ).withColumnsRenamed({"a": "doc_a", "b": "doc_b"})
    # Verification via per-doc shingle SETS + array_intersect: the naive
    # candidates×shingles join explodes to |cand| × avg-shingles rows; the
    # set join is |cand| rows with a vectorized JVM intersect per row, and
    # the doc→set dictionary is join-key-partitioned (broadcast when small).
    #
    # On the scale (non-md5) path the verification sets are xxhash64-coded
    # AFTER the sort+slice, so the compared prefix set is exactly the
    # spec's and int64 intersection replaces string intersection (measured
    # 18.3s → 14s at sf1.0, bit-identical pairs; collision probability over
    # an intersect is ~|cand|·max_shingles²/2⁶⁴ ≈ 1e-9 at 10M pairs).  The
    # md5/oracle path keeps the string sets so the DuckDB twin stays
    # provably bit-exact on any input.
    prefix = F.slice(F.array_sort(F.col("sh")), 1, max_shingles)
    if hash_fn != "md5":
        prefix = F.transform(prefix, lambda s: F.xxhash64(s))
    doc_sets = base.select(
        "doc_id",
        prefix.alias("shingles"),
        F.size("sh").alias("n_true"),
    ).withColumn("n", F.size("shingles"))
    a_sets = doc_sets.select(F.col("doc_id").alias("doc_a"),
                             F.col("shingles").alias("sh_a"),
                             F.col("n").alias("n_a"),
                             F.col("n_true").alias("nt_a"))
    b_sets = doc_sets.select(F.col("doc_id").alias("doc_b"),
                             F.col("shingles").alias("sh_b"),
                             F.col("n").alias("n_b"),
                             F.col("n_true").alias("nt_b"))
    return (
        cand.join(a_sets, "doc_a")
        .join(b_sets, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4),
        )
        .withColumn(
            "approx",
            (F.col("nt_a") > F.lit(max_shingles))
            | (F.col("nt_b") > F.lit(max_shingles)),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard", "approx")
    )


def _words(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, word): one row per non-empty space-separated token."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda x: x != F.lit(""))
        ).alias("word"),
    )


def _majority_bits(words: DataFrame, bit_sql: Callable[[int], str],
                   n_bits: int) -> tuple[DataFrame, list[str]]:
    """SimHash majority vote: ONE wide aggregation per doc over the
    per-word bit expressions ``bit_sql(j)`` (0/1 longs), returned with the
    SQL predicates "bit j is set" for j in range(n_bits).

    One wide aggregation instead of an n_bits× bit explode + two groupBys
    (50k docs x ~54 words x 64 = 173M pre-shuffle rows at sf1.0).  Bit j
    is set iff 2*cnt_j > n_words, identical to the sum-of-±1 > 0
    formulation.  The counters are PACKED two per long (32-bit limbs: bit
    j in the low half, bit j + n_bits/2 in the high half), so the
    aggregate carries n_bits/2 + 1 buffers — at 64 bits the 65-buffer
    form fell out of whole-stage codegen and its interpreted update loop
    was the whole cost at small inputs (0.85s → 0.30s at sf0.1, 0.87s →
    0.66s at 50k docs, identical output).  A 32-bit limb cannot overflow
    into its neighbour below 2^31 words per doc.

    Expressions are built as SQL strings (one JVM parse each) instead of
    nested Column calls: the Column form was ~1,500 py4j round-trips and
    1.5s of driver time PER INVOCATION at 64 bits — more than the sf0.1
    execution itself.
    """
    half = n_bits // 2
    agg = words.groupBy("doc_id").agg(F.count("*").alias("n"), *[
        F.expr(f"sum(({bit_sql(j)}) | shiftleft({bit_sql(j + half)}, 32))"
               ).alias(f"p{j}") for j in range(half)])
    mask = (1 << 32) - 1
    majority = ([f"(p{j} & {mask}L) * 2 > n" for j in range(half)]
                + [f"shiftright(p{j}, 32) * 2 > n" for j in range(half)])
    return agg, majority


def simhash16(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """16-bit SimHash from md5-nibble parities (cross-engine exact).

    bit_j(word) = parity of hex nibble j of md5(word); doc bit j = majority
    over words.  Output: (doc_id, simhash string of '0'/'1' x 16).
    """
    w = _words(df, id_col, text_col).withColumn("h", F.md5("word"))
    agg, majority = _majority_bits(
        w, lambda j: (f"CASE WHEN instr('13579bdf', substring(h, {j + 1}, 1))"
                      f" > 0 THEN 1L ELSE 0L END"), 16)
    bits = ", ".join(f"CASE WHEN {m} THEN '1' ELSE '0' END" for m in majority)
    return agg.select("doc_id", F.expr(f"concat({bits})").alias("simhash"))


def simhash64(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """64-bit SimHash via xxhash64 — the scale variant (JVM-side ints,
    SQL-expr bit arithmetic because shift-by-column needs expr())."""
    # (h >> j) & 1 equals the old (h >> j) % 2 != 0 test for negative
    # hashes too (-1 & 1 == 1).
    #
    # Small inputs arrive as one scan split (a single small parquet file),
    # which serializes the whole explode+aggregate on one core; repartition
    # by doc_id first ONLY in that case — the groupBy reuses the hash
    # partitioning, so it is still one exchange, and at scale (scan already
    # parallel) the text payload is never shuffled at all.
    par = df.sparkSession.sparkContext.defaultParallelism
    base = df
    if df.rdd.getNumPartitions() < par:
        base = df.repartition(2 * par, id_col)
    w = _words(base, id_col, text_col).withColumn("h", F.xxhash64("word"))
    agg, majority = _majority_bits(
        w, lambda j: f"(shiftright(h, {j}) & 1)", 64)
    total = " | ".join(f"CASE WHEN {m} THEN shiftleft(1L, {j}) ELSE 0L END"
                       for j, m in enumerate(majority))
    return agg.select("doc_id", F.expr(total).alias("simhash64"))


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 1000,
    min_dot: int = 1_000_000,
    block_col: str | None = "label",
) -> DataFrame:
    """Near-dup pairs by quantized-integer dot product (exact arithmetic).

    Quantize each float to round(x*quant) int64, join within ``block_col``
    (or all pairs if None), keep pairs with dot ≥ min_dot.  Integer dot of
    two 64-dim x |x|≤~5000 vectors ≤ 1.6e9 — exact in int64 and in DuckDB's
    double accumulation, so oracle comparison is bit-stable.
    """
    blk = ["block"] if block_col else []
    q = emb.select(F.col(id_col).alias("vid"),
                   *[F.col(block_col).alias(c) for c in blk],
                   quantized(F.col(vec_col), quant).alias("qv"))
    a = q.select(F.col("vid").alias("id_a"), F.col("qv").alias("qa"), *blk)
    b = q.select(F.col("vid").alias("id_b"), F.col("qv").alias("qb"), *blk)
    pairs = a.join(b, "block") if block_col else a.crossJoin(b)
    return (
        pairs.where(F.col("id_a") < F.col("id_b"))
        .withColumn("dot", int_dot("qa", "qb"))
        .where(F.col("dot") >= min_dot)
        .select("id_a", "id_b", "dot")
    )


def minhash_cluster_edges(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 8,
    k: int = 3,
    hash_fn: str = "xxhash64",
    band_rows: int = 4,
) -> DataFrame:
    """LINEAR-cost near-dup edges for the retention path: per (band, sig)
    bucket emit member→min-member STAR edges (w−1 rows per bucket) instead
    of the w² candidate pairs.

    Why this exists: a bucket of w near-identical documents (template
    pages, short boilerplate — measured 5,036-wide at r=4 on a 50k-page
    sample, 80.5M all-pairs candidates) is a CLIQUE in the candidate
    graph, and a star spans a clique — so connected components over star
    edges reconstruct exactly the same clusters the all-pairs graph
    yields, at O(Σw) instead of O(Σw²) rows.  ``minhash_lsh_pairs`` keeps
    the all-pairs + Jaccard-verify semantics for when the caller really
    wants scored pairs; THIS is the operator the 100 TB dedup-retention
    policy feeds from.  r=4 bands (see ``band_rows`` in
    :func:`minhash_lsh_pairs`) keep bucket membership precise enough that
    no verification pass is needed for retention decisions; edges are
    (a, b) with a = bucket min, deduplicated across bands.
    """
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(word_shingles(F.col(text_col), k)).alias("sh"),
    )
    # band_signatures is shared with minhash_lsh_pairs, so the two
    # operators bucket identically at equal r — CC over star edges then
    # equals CC over the all-pairs candidate graph (pytest-pinned).  The
    # bucket min is a window over the (band, sig) exchange, not a groupBy
    # joined back, so the signature pipeline runs once and the plan pays
    # two exchanges: the window's and dropDuplicates'.
    sig = band_signatures(base, F.col("doc_id"), F.col("sh"), n_bands,
                          band_rows, hash_fn)
    rep = F.min("m").over(Window.partitionBy("band", "sig"))
    return (
        sig.withColumn("rep", rep)
        .where(F.col("m") != F.col("rep"))
        .select(F.col("rep").alias("a"), F.col("m").alias("b"))
        .dropDuplicates(["a", "b"])
    )
