"""Incremental canonicalization: append a batch of mentions without
re-verifying old-old similarity, provably equal to the full recompute.

The equality argument (operators/canonicalize.incremental_assign): the
old assignment's component STAR edges span exactly the old components —
the closure of the old-old similarity edges — so closing (stars ∪
edges-touching-new) equals closing the full edge set.
"""

from pyspark.sql import functions as F

from seq2kg_spark.operators.canonicalize import (
    connected_components,
    incremental_assign,
    release_caches,
    similarity_edges,
)


def _norms(spark, values):
    return spark.createDataFrame([(v,) for v in values], "norm string")


def _full_assign(spark, values):
    m = _norms(spark, values)
    sim = similarity_edges(m, threshold=0.55)
    comp = connected_components(sim)
    return {
        (r.norm, r.component)
        for r in m.join(comp, F.col("norm") == F.col("node"), "left")
        .select("norm", F.coalesce("component", F.col("norm"))
                .alias("component")).collect()
    }


def test_incremental_equals_full_recompute(spark):
    old = ["acme corporation", "acme corp", "general widgets inc",
           "zeta systems", "standalone entity"]
    new = ["acme corporatian",          # near-dup of an OLD cluster
           "general widgets incorporated",
           "brand new thing",           # singleton
           "zeta systems"]              # exact repeat of an old norm

    old_assign = spark.createDataFrame(
        sorted(_full_assign(spark, old)), "norm string, component string")
    stats = {}
    inc = {
        tuple(r) for r in incremental_assign(
            old_assign, _norms(spark, new), stats=stats).collect()
    }
    full = _full_assign(spark, old + new)
    assert inc == full
    # the repeated old norm must NOT count as new work
    assert stats["n_new_norms"] == 3


def test_incremental_never_unmerges(spark):
    """Monotonicity: every old same-component pair stays together."""
    old = ["alpha beta gamma", "alpha beta gama", "delta one"]
    old_assign = spark.createDataFrame(
        sorted(_full_assign(spark, old)), "norm string, component string")
    merged = incremental_assign(
        old_assign, _norms(spark, ["unrelated new mention"]))
    got = {r.norm: r.component for r in merged.collect()}
    before = {r.norm: r.component for r in old_assign.collect()}
    for a in before:
        for b in before:
            if before[a] == before[b]:
                assert got[a] == got[b]


def test_incremental_assign_keeps_norm_component_schema(spark):
    """The streaming snapshot is written from this result and read back
    with the schema ``norm string, component string``: no join key or
    other helper column may leak into it."""
    old_assign = spark.createDataFrame(
        [("acme corp", "acme corp")], "norm string, component string")
    out = incremental_assign(
        old_assign, _norms(spark, ["acme corporation", "brand new thing"]))
    assert out.dtypes == [("norm", "string"), ("component", "string")]
    release_caches(out)
