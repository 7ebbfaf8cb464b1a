"""MinHash verification shingle cap: bounded row width on pathological docs.

The LSH verification joins per-doc shingle SETS; ``max_shingles`` bounds the
array so a multi-megabyte page cannot blow up the join row width at scale
(operators/dedup.py).  Docs under the cap are verified exactly.
"""

from seq2kg_spark.operators.dedup import minhash_lsh_pairs


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pathological_doc_is_capped_and_normal_docs_exact(spark):
    # a "giant" doc: thousands of distinct shingles
    giant = " ".join(f"w{i}" for i in range(5000))
    giant_dup = " ".join(f"w{i}" for i in range(4990))  # near-dup of giant
    small_a = "the quick brown fox jumps over the lazy dog again and again"
    small_b = "the quick brown fox jumps over the lazy dog again and again!"
    df = _mk(spark, [(1, giant), (2, giant_dup), (3, small_a), (4, small_b)])

    pairs = minhash_lsh_pairs(df, threshold=0.5, max_shingles=256)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in pairs.collect()}

    # small docs (under the cap) verify exactly and pair up
    assert (3, 4) in got and got[(3, 4)] >= 0.5
    # giant near-dups still pair: the capped prefix sets overlap heavily
    assert (1, 2) in got
    # row width is bounded: every verification array ≤ max_shingles
    from seq2kg_spark.operators.dedup import shingle_table
    import pyspark.sql.functions as F
    sh = shingle_table(df, "doc_id", "text", 3)
    capped = sh.groupBy("doc_id").agg(
        F.slice(F.array_sort(F.collect_set("shingle")), 1, 256).alias("s"))
    assert capped.select(F.max(F.size("s"))).first()[0] <= 256


def test_cap_default_does_not_change_small_corpus(spark):
    rows = [(i, f"doc {i} shares words alpha beta gamma delta {i%3}")
            for i in range(30)]
    df = _mk(spark, rows)
    a = sorted(map(tuple, minhash_lsh_pairs(df, threshold=0.3).collect()))
    b = sorted(map(tuple, minhash_lsh_pairs(df, threshold=0.3,
                                            max_shingles=10**6).collect()))
    assert a == b


def test_oracle_corpus_under_cap(spark):
    """Exactness precondition of the dedup_minhash_lsh driver oracle: the
    DuckDB twin computes jaccard on uncapped sets, so every sf0.01 doc must
    stay under MAX_SHINGLES_DEFAULT (the twin interpolates the same
    constant for its `approx` flag)."""
    import pyspark.sql.functions as F

    from seq2kg_spark.operators.dedup import MAX_SHINGLES_DEFAULT, shingle_table

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    sh = shingle_table(docs, "doc_id", "text", 3)
    mx = sh.groupBy("doc_id").count().agg(F.max("count")).first()[0]
    assert mx <= MAX_SHINGLES_DEFAULT


def test_minhash_hot_bucket_guard(spark):
    """10k identical docs must not emit ~10^8 candidate pairs: an over-cap
    (band, sig) bucket is dropped before the self-join (identical docs are
    dedup_exact's job).  Scaled-down here: 200 identical docs, cap 50."""
    same = "every page of this template says exactly the same thing forever"
    rows = [(i, same) for i in range(200)]
    rows += [(1001, "the quick brown fox jumps over the lazy dog today"),
             (1002, "the quick brown fox jumps over the lazy dog today!")]
    df = _mk(spark, rows)

    pairs = minhash_lsh_pairs(df, threshold=0.3, max_bucket=50).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    # the hot bucket contributed nothing…
    assert not any(a < 1000 and b < 1000 for a, b in got)
    # …but the calm near-dup pair still verifies
    assert (1001, 1002) in got

    # without the guard the identical docs pair up quadratically
    full = minhash_lsh_pairs(df, threshold=0.3).collect()
    assert sum(1 for r in full if r.doc_a < 1000) == 200 * 199 // 2


def test_ngram_df_cap_drops_stop_shingles(spark):
    """A shingle shared by every doc fans the equi-join out by df² — the
    df-cap drops it before the join; pairs overlapping ONLY in stop-
    shingles disappear, pairs with cold overlap survive flagged approx."""
    from seq2kg_spark.operators.dedup import ngram_jaccard_pairs

    rows = [(i, f"STOP STOP STOP u{i} v{i}") for i in range(100)]
    rows += [(201, "alpha beta gamma delta STOP STOP STOP"),
             (202, "alpha beta gamma delta STOP STOP STOP")]
    df = _mk(spark, rows)

    capped = ngram_jaccard_pairs(df, threshold=0.05, max_df=50).collect()
    got = {(r.doc_a, r.doc_b): r for r in capped}
    assert not any(a < 200 and b < 200 for a, b in got)   # hot-only pairs gone
    assert (201, 202) in got and got[(201, 202)].approx is True

    uncapped = ngram_jaccard_pairs(df, threshold=0.05,
                                   max_df=10**6).collect()
    ug = {(r.doc_a, r.doc_b): r for r in uncapped}
    assert any(a < 200 and b < 200 for a, b in ug)        # join fans out
    assert all(not r.approx for r in uncapped)            # nothing capped


def test_multi_lambda_projection_binding_pitfall(spark):
    """band_signature puts r row lambdas into one projection; each must
    bind its own row seed (pinned against hashlib at md5 r=1 and r=2).
    A Python default argument cannot carry the seed: a two-parameter
    lambda is transform's (element, index) form, so the "default" is
    bound to the index."""
    import hashlib

    import pyspark.sql.functions as F

    from seq2kg_spark.operators.dedup import band_signature

    sh = ["a", "b", "c"]
    df = spark.createDataFrame([(band, sh) for band in range(4)],
                               "band int, sh array<string>")

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    exp = {
        1: [(band, min(md5(f"{band}:{s}") for s in sh)) for band in range(4)],
        2: [(band, "|".join(min(md5(f"{band}:{j}:{s}") for s in sh)
                            for j in range(2)))
            for band in range(4)],
    }
    for r, want in exp.items():
        sig = band_signature(F.col("sh"), F.col("band"), r, "md5")
        got = sorted(map(tuple, df.select("band", sig).collect()))
        assert got == want, r

    row = df.select(F.transform("sh", lambda s, seed=7: seed).alias("x"))
    assert row.first()["x"] == [0, 1, 2]


def test_cluster_edges_components_equal_pairs_components(spark):
    """Star edges span each (band, sig) bucket-clique, so connected
    components over minhash_cluster_edges equal components over the
    all-pairs candidate graph at the same r — the retention-policy
    equivalence that makes the linear form safe at scale."""
    import re

    from seq2kg_spark.operators.canonicalize import connected_components
    from seq2kg_spark.operators.dedup import (minhash_cluster_edges,
                                              minhash_lsh_pairs)
    import pyspark.sql.functions as F

    rows = []
    for c in range(5):                      # 5 template clusters of 6
        for i in range(6):
            rows.append((c * 100 + i,
                         f"template {c} body text repeated again here"))
    rows += [(900 + i, f"unique document number {i} with its own words x{i}")
             for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    stars = minhash_cluster_edges(df, band_rows=1, hash_fn="md5")
    # the bucket min is a window over the (band, sig) exchange, not a
    # groupBy joined back: ONE Generate (the band posexplode), two
    # exchanges (window + dropDuplicates), no join
    plan = stars._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bGenerate\b", plan)) == 1, plan
    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 2, plan
    assert "Join" not in plan, plan
    pairs = minhash_lsh_pairs(df, threshold=0.0, band_rows=1,
                              hash_fn="md5").select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))

    def comps(edges):
        c = connected_components(edges)
        return {(r.node, r.component) for r in c.collect()}

    assert comps(stars) == comps(pairs)
    # and the star form is LINEAR: ≤ n_bands × n_docs edges total (a
    # member contributes at most one edge per band), never O(w²) within a
    # bucket — templates sharing suffix shingles can pull one member into
    # differently-repped buckets across bands, so the bound is per band,
    # not per cluster
    assert stars.count() <= 8 * len(rows)
