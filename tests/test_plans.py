"""Physical-plan audits: the properties that matter at 100 TB.

These tests read ``explain('formatted')`` output and assert the plan shape:
filters pushed to the parquet scan, columns pruned, exactly one shuffle in
the extraction pipeline, broadcast joins where a side is small.
"""

import contextlib
import io

from pyspark.sql import functions as F


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_lang_filter_pushed_and_columns_pruned(spark, pages, tmp_path):
    path = str(tmp_path / "pages")
    pages.write.parquet(path)
    df = spark.read.parquet(path)
    from seq2kg_spark.operators.extract import extract_triples

    plan = _plan(extract_triples(df))
    assert "PushedFilters" in plan
    assert "EqualTo(lang,en)" in plan or "lang" in plan.split(
        "PushedFilters")[1][:200]
    # column pruning: html (binary, the big column) must not be read
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "html" not in read_schema
    assert "url" in read_schema and "text" in read_schema


def test_extract_pipeline_has_exactly_one_shuffle(spark, pages):
    from seq2kg_spark.operators.extract import extract_triples

    plan = _plan(extract_triples(pages))
    assert plan.count("Exchange") - plan.count("Exchange (") <= plan.count(
        "Exchange")
    # formatted plans list nodes once in the tree; count tree occurrences
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert tree.count("MapInPandas") == 1


def test_small_dim_join_broadcasts(spark, pages):
    # E7-style parity join: golden side is tiny → must broadcast
    from seq2kg_spark.eval.parity import exact_pr

    pred = pages.select(
        F.col("url").alias("doc"), F.lit("s").alias("subj"),
        F.lit("p").alias("pred"), F.lit("o").alias("obj"))
    gold = pred.limit(10)
    plan = _plan(exact_pr(pred, gold))
    assert "BroadcastHashJoin" in plan


def test_filter_battery_stays_codegen(spark):
    from seq2kg_spark.operators.filter_battery import apply_filter_battery

    t = spark.createDataFrame(
        [("u", "Acme", "bought", "Globex")],
        "url string, subj string, pred string, obj string",
    )
    plan = _plan(apply_filter_battery(t))
    assert "EvalPython" not in plan  # pure Catalyst, no Python round trip


def test_curate_barrier_plan_shape(spark, pages, tmp_path):
    """The decode-once barrier (BASELINE.md round 7): the html→text decode
    chain must appear a bounded number of times in the executed plan.  The
    superseded gate-below-projection shape re-inlined it per quality
    feature (144 regexp_replace nodes at the time of the fix); the barrier
    shape carries it in the scan-side projection only."""
    path = str(tmp_path / "pages_curate")
    pages.write.parquet(path)
    df = spark.read.parquet(path)
    from seq2kg_spark.operators.lineage import with_bucket
    from seq2kg_spark.plans.pipeline import curate_stage_fn

    out = curate_stage_fn(df, n_buckets=8)(with_bucket(df, 8))
    plan = out._jdf.queryExecution().executedPlan().toString()
    # HARD check (the actual regression being pinned): one decode inline =
    # 18 regexp_replace nodes; allow the projection plus slack, but
    # nowhere near the 144 of the re-inlining shape
    assert plan.count("regexp_replace") <= 40, plan.count("regexp_replace")
    # SOFT checks: Spark-internal physical-operator spellings, valid on
    # the pinned Spark 4.1 but liable to change across upgrades/AQE-config
    # changes without a real regression — keep them only while the pinned
    # version runs (ADVICE r7 #4)
    import pyspark

    if pyspark.__version__.startswith("4.1."):
        # map-side winner pruning before the md5 exchange
        assert "WindowGroupLimit" in plan
        # exactly one data shuffle (the md5 hash partitioning); the bucket
        # filter is a broadcast, not an exchange
        assert plan.count("Exchange hashpartitioning(_h") == 1
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
