"""End-to-end resumable pipeline: pages → curated → triples → graph."""

import pyspark.sql.functions as F

from seq2kg_spark.plans.pipeline import run_kg_pipeline


def test_pipeline_end_to_end(spark, pages, tmp_path):
    report = run_kg_pipeline(
        pages.limit(60), str(tmp_path / "kg"), n_buckets=4, num_partitions=4
    )
    assert report["curate"]["processed"] == [0, 1, 2, 3]
    assert report["extract"]["processed"] == [0, 1, 2, 3]
    curated = spark.read.parquet(report["paths"]["curated"])
    triples = spark.read.parquet(report["paths"]["triples"])
    nodes = spark.read.parquet(report["paths"]["nodes"])
    edges = spark.read.parquet(report["paths"]["edges"])
    lineage = spark.read.parquet(report["paths"]["lineage"])
    # stage-0 gates: only English, quality-ok, first-copy pages survive
    n_curated = curated.count()
    assert 0 < n_curated <= 60
    assert curated.where(F.col("lang") != "en").count() == 0
    assert curated.groupBy(F.md5("text")).count() \
        .where(F.col("count") > 1).count() == 0
    assert triples.count() > 0
    assert nodes.count() > 0
    assert edges.count() > 0
    # one lineage row per bucket per stage
    per_stage = {r["stage"]: r["n"] for r in
                 lineage.groupBy("stage").agg(F.count("*").alias("n"))
                 .collect()}
    assert per_stage == {"curate": 4, "extract": 4}
    # rerun is a no-op for BOTH checkpointed stages
    report2 = run_kg_pipeline(
        pages.limit(60), str(tmp_path / "kg"), n_buckets=4, num_partitions=4
    )
    assert report2["curate"]["processed"] == []
    assert report2["extract"]["processed"] == []
    # ... including the global canonicalize stage (completion marker keyed
    # by the extract-lineage fingerprint)
    assert report2["canonical"].get("skipped") is True
    assert report["canonical"].get("skipped") is None
    # graph tables from the first run are still intact after the no-op
    assert spark.read.parquet(report2["paths"]["nodes"]).count() == \
        nodes.count()


def test_canonicalize_recomputes_when_triples_change(spark, pages, tmp_path):
    wd = str(tmp_path / "kg2")
    run_kg_pipeline(pages.limit(40), wd, n_buckets=2, num_partitions=4)
    # invalidate one extract bucket: drop its lineage rows (the kill-resume
    # simulation used across the lineage tests)
    lineage_path = wd + "/lineage"
    lin = spark.read.parquet(lineage_path)
    kept = lin.where(~((F.col("stage") == "extract") & (F.col("bucket") == 0)))
    kept_rows = kept.collect()
    spark.createDataFrame(kept_rows, lin.schema).write.mode(
        "overwrite").parquet(lineage_path)
    report = run_kg_pipeline(pages.limit(40), wd, n_buckets=2,
                             num_partitions=4)
    assert report["extract"]["processed"] == [0]
    # extract recomputed a bucket → fingerprint moved → canonicalize reran
    assert report["canonical"].get("skipped") is None
    assert report["canonical"]["cc_rounds"] >= 1


def test_zero_row_stages_complete(spark, pages, tmp_path):
    """A corpus the language gate empties commits zero-row stages, and the
    stage after each still reads its table (no schema to infer from)."""
    report = run_kg_pipeline(
        pages.limit(50).withColumn("lang", F.lit("de")),
        str(tmp_path / "kg_de"), n_buckets=4, num_partitions=4)
    assert spark.read.parquet(report["paths"]["lineage"]).groupBy(
        "stage").count().orderBy("stage").collect() == [
        ("curate", 4), ("extract", 4)]
    triples = spark.read.schema(
        "url string, subj string, pred string, obj string, bucket int"
    ).parquet(report["paths"]["triples"])
    assert triples.count() == 0
    assert spark.read.parquet(report["paths"]["nodes"]).count() == 0
    assert spark.read.parquet(report["paths"]["edges"]).count() == 0
    assert report["canonical"]["distinct_mentions"] == 0
