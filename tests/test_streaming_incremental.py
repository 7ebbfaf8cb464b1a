"""Streaming incremental canonicalization (round-7 ask #6): N micro-batches
through stream_incremental_canonicalize must equal the one-shot recompute
over the union — the cap-stable fixture makes incremental_assign's
union-closure semantics exactly equal to the full recompute.
"""

import os

import pytest
from pyspark.sql import functions as F

from seq2kg_spark.operators.canonicalize import (
    connected_components,
    similarity_edges,
)
from seq2kg_spark.streaming.ingest import (
    read_assignment,
    stream_incremental_canonicalize,
)

TRIPLES_SCHEMA = "url string, subj string, pred string, obj string"

BATCHES = [
    [("u1", "Acme Corporation", "acquired", "General Widgets Inc"),
     ("u1", "Acme Corp", "employs", "Jane Doe")],
    [("u2", "acme corporation", "sued", "Zeta Systems"),
     ("u2", "General Widgets Incorporated", "supplies", "Acme Corp")],
    [("u3", "Jane Doe", "founded", "Brand New Thing"),
     ("u3", "Zeta Systems Inc", "hired", "Jane Doe")],
]


def _full_assign(spark, norms_df):
    sim = similarity_edges(norms_df, threshold=0.55)
    comp = connected_components(sim)
    return {
        tuple(r)
        for r in norms_df.join(comp, F.col("norm") == F.col("node"), "left")
        .select("norm", F.coalesce("component", F.col("norm"))
                .alias("component")).collect()
    }


def test_stream_batches_equal_one_shot(spark, tmp_path):
    in_dir = str(tmp_path / "triples_in")
    assign_dir = str(tmp_path / "assign")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    # one file per micro-batch (maxFilesPerTrigger=1)
    for i, rows in enumerate(BATCHES):
        spark.createDataFrame(rows, TRIPLES_SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(f"{in_dir}/b{i}")
    stream = (
        spark.readStream.schema(TRIPLES_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir + "/b*")
    )
    stats_sink: list = []
    q = stream_incremental_canonicalize(
        stream, assign_dir, ckpt, available_now=True,
        stats_sink=stats_sink)
    q.awaitTermination(120)

    got = {tuple(r) for r in read_assignment(spark, assign_dir).collect()}

    union = spark.createDataFrame(
        [r for b in BATCHES for r in b], TRIPLES_SCHEMA)
    from seq2kg_spark.operators.canonicalize import mentions_from_triples
    norms = mentions_from_triples(union).select("norm").distinct()
    want = _full_assign(spark, norms)
    assert got == want

    # telemetry: every batch reported, new-norm counts monotone-consistent
    assert len(stats_sink) >= 1
    assert sum(s["n_new_norms"] for _, s in stats_sink) == len(want)


def test_snapshot_retention_and_latest_wins(spark, tmp_path):
    in_dir = str(tmp_path / "t_in")
    assign_dir = str(tmp_path / "t_assign")
    ckpt = str(tmp_path / "t_ckpt")
    os.makedirs(in_dir)
    for i, rows in enumerate(BATCHES):
        spark.createDataFrame(rows, TRIPLES_SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(f"{in_dir}/b{i}")

    stream = (
        spark.readStream.schema(TRIPLES_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir + "/b*")
    )
    q = stream_incremental_canonicalize(
        stream, assign_dir, ckpt, available_now=True, keep_snapshots=1)
    q.awaitTermination(120)

    snaps = sorted(d for d in os.listdir(assign_dir)
                   if d.startswith("batch="))
    assert len(snaps) == 1          # retention pruned the older snapshots
    # the surviving snapshot is the final one and covers every norm
    from seq2kg_spark.operators.canonicalize import mentions_from_triples
    union = spark.createDataFrame(
        [r for b in BATCHES for r in b], TRIPLES_SCHEMA)
    n_norms = mentions_from_triples(union).select("norm").distinct().count()
    final = read_assignment(spark, assign_dir)
    assert final.count() == final.select("norm").distinct().count() == n_norms


def test_read_assignment_history_states(spark, tmp_path):
    """No dir, or only a write's _temporary leftover: no history yet.  An
    unreadable snapshot raises instead of passing for "no history", which
    would let the next batch write an assignment of only its own norms and
    the retention pruning delete the good snapshots."""
    assign_dir = str(tmp_path / "assign_states")
    assert read_assignment(spark, assign_dir) is None
    os.makedirs(f"{assign_dir}/_temporary/0")
    assert read_assignment(spark, assign_dir) is None

    corrupt_dir = str(tmp_path / "assign_corrupt")
    os.makedirs(f"{corrupt_dir}/batch=3")
    with open(f"{corrupt_dir}/batch=3/part-00000.parquet", "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet|FAILED_READ_FILE"):
        read_assignment(spark, corrupt_dir)

    for b, comp in ((1, "a"), (2, "b")):
        spark.createDataFrame([("x", comp)], "norm string, component string") \
            .write.parquet(f"{assign_dir}/batch={b}")
    assert [tuple(r) for r in read_assignment(spark, assign_dir).collect()] \
        == [("x", "b")]
