"""Cache lifetime discipline in the canonicalize path (round-7 ask #4).

Every persist()/localCheckpoint the module takes must be paired with a
release on the repeated-invocation path: a long-lived session calling
canonicalize / incremental_assign per batch (the streaming use case) must
not accumulate cached blocks and lean on LRU eviction.

The assertions use sc.getPersistentRDDs() deltas, not absolute emptiness:
the session fixture may legitimately carry caches from other tests (e.g.
the shared pages corpus).
"""

from pyspark.sql import functions as F

from seq2kg_spark.operators.canonicalize import (
    canonicalize,
    incremental_assign,
    release_caches,
    similarity_edges,
)


def _persistent_ids(spark):
    return set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _norms(spark, values):
    return spark.createDataFrame([(v,) for v in values], "norm string")


def _triples(spark):
    rows = [
        ("u1", "Acme Corporation", "acquired", "General Widgets Inc"),
        ("u1", "Acme Corp", "employs", "Jane Doe"),
        ("u2", "acme corporation", "sued", "Zeta Systems"),
        ("u2", "General Widgets Incorporated", "supplies", "Acme Corp"),
        ("u3", "Jane Doe", "founded", "Brand New Thing"),
    ]
    return spark.createDataFrame(
        rows, "url string, subj string, pred string, obj string")


def test_incremental_assign_releases_everything(spark):
    old = _norms(spark, ["acme corporation", "acme corp", "zeta systems"])
    old_assign = old.select(
        "norm", F.col("norm").alias("component"))
    before = _persistent_ids(spark)

    out = incremental_assign(
        old_assign, _norms(spark, ["acme corporatian", "new thing"]))
    rows = out.collect()          # materialize BEFORE releasing
    assert len(rows) == 5
    release_caches(out)

    leaked = _persistent_ids(spark) - before
    assert leaked == set(), f"leaked persistent RDDs: {leaked}"


def test_canonicalize_releases_everything(spark):
    before = _persistent_ids(spark)

    nodes, edges = canonicalize(_triples(spark), threshold=0.55)
    n_nodes = nodes.count()       # materialize both outputs first
    n_edges = edges.count()
    assert n_nodes > 0 and n_edges > 0
    # mid-check: only the naming checkpoint may remain alive (everything
    # upstream — mentions cache, similarity persists, CC round snapshots —
    # was released inside canonicalize)
    assert len(_persistent_ids(spark) - before) <= 1

    release_caches(nodes, edges)  # shared handle list: one call suffices
    leaked = _persistent_ids(spark) - before
    assert leaked == set(), f"leaked persistent RDDs: {leaked}"
    # idempotent on the shared list
    release_caches(edges, nodes)


def test_similarity_edges_standalone_release(spark):
    before = _persistent_ids(spark)
    sim = similarity_edges(
        _norms(spark, ["acme corporation", "acme corporatian", "other"]))
    assert sim.count() >= 1
    release_caches(sim)
    assert _persistent_ids(spark) - before == set()


def test_repeated_invocations_do_not_accumulate(spark):
    """The actual leak scenario: N batches through incremental_assign."""
    before = _persistent_ids(spark)
    assign = _norms(spark, ["seed entity"]).select(
        "norm", F.col("norm").alias("component"))
    for i in range(3):
        out = incremental_assign(
            assign, _norms(spark, [f"batch {i} entity", "seed entity"]))
        rows = out.collect()
        release_caches(out)
        assign = spark.createDataFrame(
            rows, "norm string, component string")
    assert _persistent_ids(spark) - before == set()
