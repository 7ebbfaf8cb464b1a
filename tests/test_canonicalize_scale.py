"""Connected components on adversarial graph shapes.

The large/small-star algorithm converges in O(log n) rounds; the worst
case is a long PATH (diameter n), where naive label propagation needs n
rounds.  A power-law star forest stresses the skewed-neighborhood side
(one node with a huge collect_set).  Expected round counts are asserted
so a regression to linear convergence fails loudly instead of timing out
at scale (see PLANS.md).
"""

import pyspark.sql.functions as F
import pytest

from seq2kg_spark.operators.canonicalize import connected_components


def _cc_map(cc_df):
    return {r.node: r.component for r in cc_df.collect()}


def test_long_path_converges_logarithmically(spark):
    # path 0-1-2-...-9999: diameter 10^4, must close in <= 20 rounds
    n = 10_000
    edges = spark.range(n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
    got = _cc_map(connected_components(edges, max_iter=20))
    assert len(got) == n
    assert set(got.values()) == {0}


def test_power_law_components(spark):
    # one giant star (hub 0, 5000 leaves) + many small chains — skewed
    # neighborhood sizes on the groupBy(x) collect_set
    hub = spark.range(1, 5001).select(
        F.lit(0).cast("long").alias("a"), F.col("id").alias("b"))
    chains = spark.range(100).select(
        (F.col("id") * 3 + 10_000).alias("a"),
        (F.col("id") * 3 + 10_001).alias("b"),
    ).unionAll(spark.range(100).select(
        (F.col("id") * 3 + 10_001).alias("a"),
        (F.col("id") * 3 + 10_002).alias("b"),
    ))
    got = _cc_map(connected_components(hub.unionAll(chains), max_iter=20))
    assert sum(1 for c in got.values() if c == 0) == 5001
    # 100 chains of 3 nodes each, component = chain min
    assert sum(1 for c in got.values() if c >= 10_000) == 300
    assert len({c for c in got.values() if c >= 10_000}) == 100


def test_non_convergence_raises(spark):
    # a path cannot reach a fixpoint in one round — the guard must fire
    edges = spark.range(199).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1)


def test_lazy_input_evaluated_once(spark):
    # Round 1 references the input four times; CC checkpoints it first,
    # so a lazy input plan (in production: the LSH join + Jaccard verify)
    # runs once.  A Python UDF *filter* counts evaluations — a projected
    # UDF would be duplicated by filter push-down and count twice anyway.
    n = 22
    calls = spark.sparkContext.accumulator(0)

    @F.udf("boolean")
    def keep(a):
        calls.add(1)
        return True

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "a long, b long").where(keep("a"))
    got = _cc_map(connected_components(edges, max_iter=20))
    assert set(got.values()) == {0} and len(got) == n + 1
    assert calls.value == n
