"""E7 — exact-match precision/recall of our triples vs a golden triple set.

The parity gate (BASELINE.json metric): inner join on (doc, subj, pred,
obj), counts → P/R.  Pure Catalyst: two aggregates + one join; the golden
side is tiny (reference eval sets), so it broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_pr(
    predicted: DataFrame,
    golden: DataFrame,
    keys: tuple[str, ...] = ("doc", "subj", "pred", "obj"),
) -> DataFrame:
    """Exact-match P/R.  Both inputs must expose ``keys`` columns.

    Returns one row: (n_pred, n_gold, n_hit, precision, recall, f1).
    Duplicates are collapsed (set semantics, like the reference evaluator's
    per-doc triple lists after dedup).
    """
    p = predicted.select(*keys).dropDuplicates(list(keys))
    g = golden.select(*keys).dropDuplicates(list(keys))
    hits = p.join(F.broadcast(g), on=list(keys), how="inner")
    return (
        p.agg(F.count("*").alias("n_pred"))
        .crossJoin(g.agg(F.count("*").alias("n_gold")))
        .crossJoin(hits.agg(F.count("*").alias("n_hit")))
        .select(
            "n_pred", "n_gold", "n_hit",
            (F.col("n_hit") / F.greatest("n_pred", F.lit(1))).alias("precision"),
            (F.col("n_hit") / F.greatest("n_gold", F.lit(1))).alias("recall"),
            (2 * F.col("n_hit") /
             F.greatest(F.col("n_pred") + F.col("n_gold"), F.lit(1))).alias("f1"),
        )
    )
