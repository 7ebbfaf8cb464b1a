"""Connected components + canonicalization."""

import pytest
from pyspark.sql import functions as F

from seq2kg_spark.operators.canonicalize import (
    _char_shingles,
    canonicalize,
    connected_components,
    release_caches,
    similarity_edges,
    mentions_from_triples,
    normalize_mention,
)
from seq2kg_spark.operators.dedup import band_signature, lsh_bucket_pairs


def _cc(spark, pairs):
    e = spark.createDataFrame(pairs, "a string, b string")
    return {
        (r.node, r.component)
        for r in connected_components(e).collect()
    }


def test_cc_chain_and_islands(spark):
    got = _cc(spark, [("b", "a"), ("b", "c"), ("c", "d"), ("x", "y")])
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
                   ("x", "x"), ("y", "x")}


def test_cc_two_triangles_bridge(spark):
    pairs = [("a", "b"), ("b", "c"), ("a", "c"),
             ("p", "q"), ("q", "r"), ("p", "r"), ("c", "p")]
    got = _cc(spark, pairs)
    assert {c for _n, c in got} == {"a"}
    assert {n for n, _c in got} == {"a", "b", "c", "p", "q", "r"}


def test_canonicalize_merges_possessive_and_case(spark):
    triples = spark.createDataFrame(
        [
            ("u1", "BYD", "debuted", "E-SEED GT"),
            ("u2", "BYD's", "launched", "Song Pro"),
            ("u3", "byd", "showcased", "Dynasty series"),
            ("u4", "Jamie Oliver", "opened", "Fifteen"),
        ],
        "url string, subj string, pred string, obj string",
    )
    nodes, edges = canonicalize(triples, threshold=0.5)
    nrows = {r.canonical: r for r in nodes.collect()}
    # all three BYD surface forms share one canonical node
    byd = [r for c, r in nrows.items() if "byd" in c.lower()]
    assert len(byd) == 1
    assert set(byd[0].members) >= {"BYD", "BYD's", "byd"}
    assert byd[0].n_mentions == 3
    e = edges.collect()
    assert all(r.weight >= 1 for r in e)
    # every edge endpoint resolves to a node id
    ids = {r.canon_id for r in nodes.collect()}
    assert all(r.src in ids and r.dst in ids for r in e)


def test_similarity_edges_blocking_not_quadratic(spark):
    # distinct unrelated mentions should produce no candidate pairs
    triples = spark.createDataFrame(
        [("u", f"Entity{i:03d} Unrelated{i:03d}", "p", f"Other{i:03d}")
         for i in range(50)],
        "url string, subj string, pred string, obj string",
    )
    m = mentions_from_triples(triples)
    sim = similarity_edges(m, threshold=0.9)
    assert sim.count() == 0


def test_similarity_edges_hot_bucket_guard(spark):
    """The max_bucket skew guard bounds the LSH self-join: with the cap at
    1, every candidate-producing bucket (≥2 members) is dropped, so no
    pairs survive; with the default cap the near-identical mentions pair
    up as before."""
    triples = spark.createDataFrame(
        [("u", f"Globex Corporation {i}", "p", "x") for i in range(8)],
        "url string, subj string, pred string, obj string",
    )
    m = mentions_from_triples(triples)
    assert similarity_edges(m, threshold=0.5).count() > 0
    assert similarity_edges(m, threshold=0.5, max_bucket=1).count() == 0


# Norm families with ONE shared shingle set ({aba, bab} / {cdc, dcd}):
# each family is one (band, sig) bucket in every band, whatever the hash.
AT_CAP = ["abab", "baba", "ababa"]
OVER_CAP = ["cdcd", "dcdc", "cdcdc", "dcdcd"]
NEW = {"baba", "cdcd", "globex corp"}
NORMS = AT_CAP + OVER_CAP + [
    "globex corporation", "globex corporations", "globex corp",
    "initech systems", "initech system"]


def _ref_guarded_self_join(spark, hash_fn, band_rows, n_bands, cap, flag):
    """The former candidate shape, kept here as the reference: signature
    rows per (norm, band), bucket count <= cap, join back, self-join on
    (band, sig) with x < y (and, in incremental mode, x or y new)."""
    norms = spark.createDataFrame(
        [(n, n in NEW) for n in NORMS], "norm string, _new boolean")
    sig = norms.select(
        "norm", "_new",
        F.array_sort(_char_shingles(F.col("norm"))).alias("sh"),
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
    ).select("norm", "_new", "band", band_signature(
        F.col("sh"), F.col("band"), band_rows, hash_fn).alias("sig"))
    ok = (sig.groupBy("band", "sig").count()
          .where(F.col("count") <= cap).select("band", "sig"))
    sig = sig.join(ok, ["band", "sig"])
    cand = (sig.alias("x").join(sig.alias("y"), ["band", "sig"])
            .where(F.col("x.norm") < F.col("y.norm")))
    if flag:
        cand = cand.where(F.col("x._new") | F.col("y._new"))
    return {(r.a, r.b) for r in cand.select(
        F.col("x.norm").alias("a"), F.col("y.norm").alias("b")).collect()}


@pytest.mark.parametrize("hash_fn,band_rows,n_bands",
                         [("md5", 1, 6), ("xxhash64", 4, 32)])
def test_lsh_bucket_builder_matches_guarded_self_join(
        spark, hash_fn, band_rows, n_bands):
    """The shared dedup/canonicalize bucket builder (window-count cap →
    one groupBy(band, sig) → in-bucket pairs) yields exactly the pairs of
    the former guarded self-join: a bucket AT the cap is kept, one over it
    dropped, and in incremental mode old-old pairs are dropped.  At
    threshold 0 the Jaccard verify passes every candidate, so
    similarity_edges returns the candidate set itself."""
    cap = len(AT_CAP)
    shape = dict(n_bands=n_bands, band_rows=band_rows, hash_fn=hash_fn,
                 max_bucket=cap)
    ref = _ref_guarded_self_join(spark, hash_fn, band_rows, n_bands, cap,
                                 flag=False)
    assert {("abab", "ababa"), ("abab", "baba"), ("ababa", "baba")} <= ref
    assert not any(a in OVER_CAP for a, _b in ref)

    norms = spark.createDataFrame([(n,) for n in NORMS], "norm string")
    sets = norms.select(
        "norm", F.array_sort(_char_shingles(F.col("norm"))).alias("sh"))
    direct = lsh_bucket_pairs(sets, F.col("norm"), F.col("sh"), **shape)
    assert {(r.a, r.b) for r in direct.collect()} == ref

    sim = similarity_edges(norms, threshold=0.0, **shape)
    assert {(r.a, r.b) for r in sim.collect()} == ref
    release_caches(sim)

    ref_new = _ref_guarded_self_join(spark, hash_fn, band_rows, n_bands,
                                     cap, flag=True)
    assert ("abab", "baba") in ref_new
    assert ("abab", "ababa") not in ref_new
    flagged = spark.createDataFrame(
        [(n, n in NEW) for n in NORMS], "norm string, is_new boolean")
    sim = similarity_edges(flagged, threshold=0.0, new_flag_col="is_new",
                           **shape)
    assert {(r.a, r.b) for r in sim.collect()} == ref_new
    release_caches(sim)


def test_canonical_name_tie_break(spark):
    """Canonical surface = most frequent, then longest, then smallest.
    All three "acme" surfaces that can win appear twice; two of them are
    also the longest (11 chars), so the binary order picks "ACME CORP's"
    over "Acme Corp's".  "--Acme Corp" is as long but less frequent.
    "Jane Doe" wins on frequency over the longer "JANE DOE's"."""
    triples = spark.createDataFrame(
        [
            ("u1", "ACME CORP's", "employs", "Jane Doe"),
            ("u2", "Acme Corp's", "employs", "jane doe"),
            ("u3", "acme corp", "employs", "Jane Doe"),
            ("u4", "Jane Doe", "founded", "ACME CORP's"),
            ("u5", "JANE DOE's", "founded", "Acme Corp's"),
            ("u6", "--Acme Corp", "sued", "Zeta Systems"),
            ("u7", "acme corp", "sued", "Zeta Systems"),
        ],
        "url string, subj string, pred string, obj string",
    )
    nodes, edges = canonicalize(triples)
    # each entity's surfaces share one norm, so component == that norm
    comps = ["acme corp", "jane doe", "zeta systems"]
    ids = spark.createDataFrame([(c,) for c in comps], "c string").select(
        "c", F.xxhash64("c").alias("h")).collect()
    cid = {r.c: r.h for r in ids}
    got_nodes = {(r.canon_id, r.canonical, tuple(r.members), r.n_mentions)
                 for r in nodes.collect()}
    assert got_nodes == {
        (cid["acme corp"], "ACME CORP's",
         ("--Acme Corp", "ACME CORP's", "Acme Corp's", "acme corp"), 7),
        (cid["jane doe"], "Jane Doe",
         ("JANE DOE's", "Jane Doe", "jane doe"), 5),
        (cid["zeta systems"], "Zeta Systems", ("Zeta Systems",), 2),
    }
    got_edges = {(r.src, r.src_name, r.pred, r.dst, r.dst_name, r.weight)
                 for r in edges.collect()}
    assert got_edges == {
        (cid["acme corp"], "ACME CORP's", "employs",
         cid["jane doe"], "Jane Doe", 3),
        (cid["jane doe"], "Jane Doe", "founded",
         cid["acme corp"], "ACME CORP's", 2),
        (cid["acme corp"], "ACME CORP's", "sued",
         cid["zeta systems"], "Zeta Systems", 2),
    }
    release_caches(nodes, edges)


@pytest.mark.parametrize("source", ["corpus", "no-candidates"])
def test_distinct_mentions_stat_matches_independent_count(
        spark, pages, source):
    """``stats["distinct_mentions"]`` is read from an observation on the
    similarity input, and from a count of its own only when AQE drops
    the observed scan (no candidate pair survives): both must equal the
    distinct non-empty normalized subjects and objects."""
    if source == "corpus":
        from seq2kg_spark.operators.extract import extract_triples

        triples = extract_triples(pages, num_partitions=4)
    else:
        triples = spark.createDataFrame(
            [("u1", "Alpha Corp", "p", "alpha corp."), ("u2", "x", "q", "")],
            "url string, subj string, pred string, obj string")
    triples = triples.cache()
    norms = (triples.select(F.col("subj").alias("m"))
             .union(triples.select("obj"))
             .select(normalize_mention(F.col("m")).alias("n"))
             .where(F.col("n") != "").distinct())
    want = norms.count()
    stats = {}
    nodes, edges = canonicalize(triples, stats=stats)
    nodes.count()
    release_caches(nodes)
    triples.unpersist()
    assert want > (300 if source == "corpus" else 1)
    assert stats["distinct_mentions"] == want
