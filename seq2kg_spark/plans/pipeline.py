"""End-to-end KG construction plan: pages → curated → triples → graph.

The full Seq2KG-equivalent flow with checkpoint/lineage at each stage
boundary (north rule).  Stages:

0. curate    — language gate + quality gate + exact-dedup retention (the
               corpus_curation composition) over the raw pages.
1. extract   — lang filter → salted size-bucketed repartition → T1 clean →
               rule-based extraction (mapInPandas) → triples table.
2. canonical — mention LSH blocking → connected components → nodes/edges.

Each stage writes bucketed parquet + lineage rows via
:mod:`seq2kg_spark.operators.lineage`; a rerun after a kill resumes from
the last committed bucket.  In production the writes target Iceberg tables;
the seam is the ``.write.parquet`` call in lineage.py.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from seq2kg_spark.operators.canonicalize import (SIM_BAND_ROWS_DEFAULT,
                                                 SIM_MAX_BUCKET_DEFAULT,
                                                 SIM_N_BANDS_DEFAULT,
                                                 SIM_THRESHOLD_DEFAULT,
                                                 canonicalize, release_caches)
from seq2kg_spark.operators.extract import TRIPLES_SCHEMA, extract_triples
from seq2kg_spark.operators.lineage import (_hadoop_fs,
                                            run_stage_checkpointed,
                                            with_bucket)


def curate_stage_fn(full_pages: DataFrame, *, n_buckets: int = 16):
    """Stage-0 corpus curation: keep English, quality-'ok', first-copy
    pages (min url per exact text hash wins).

    Dedup retention is a GLOBAL decision but resume is per-bucket, so the
    winner set is computed from the FULL input (closure), never from the
    pending-bucket slice — otherwise a resumed run could keep a duplicate
    whose first copy sits in an already-committed bucket.  min-url-per-md5
    is deterministic, so recomputing it on resume reproduces the killed
    run's decisions exactly.

    Physical plan (the "decode-once barrier" shape — see BASELINE.md
    round 7 for the shootout):
    lang gate (cheap column predicate, pushes into the scan) → ONE
    projection of the html→text decode → hash shuffle on md5(text) →
    ``row_number`` window picks the min-``url`` winner per hash →
    quality gate ABOVE the window → broadcast-semi filter to the slice's
    buckets.

    Two plan hazards this shape avoids, both measured:

    * FilterExec does no subexpression elimination across its predicate
      splits, so a quality filter sitting below the text projection
      re-inlines the 25-step decode chain per feature reference (the
      executed plan showed 144 regexp_replace nodes).  Filters do not
      push through a Window on non-partition columns, so placing the
      quality gate above the window makes its features evaluate
      materialized column refs.  Semantics are unchanged: every row of an
      md5 group shares the same text, hence the same quality label.
    * The previous keeper-table formulation (groupBy + equi-join back)
      gated the corpus TWICE and joined two corpus-sized relations.

    2M-page ABBA shootout, identical fingerprints: keeper-join 81.9 s,
    window-below-gate 49.3 s, this plan **19.1 s** (steal <1 s on the
    deciding legs).
    """
    from seq2kg_spark.functions import text_stats as TS
    from seq2kg_spark.functions.html_text import with_page_text

    def fn(bucketed: DataFrame) -> DataFrame:
        g = (
            with_page_text(with_bucket(full_pages, n_buckets)
                           .where(F.col("lang") == "en"))
            # Null-text guard BEFORE the hash shuffle: md5(NULL) is NULL,
            # so on a largely-null corpus every textless row would land in
            # ONE window partition and sort in a single task (skew/OOM
            # hazard at web scale).  Output is unchanged — those rows
            # fail the quality gate above the window anyway (quality of
            # NULL is NULL, never 'ok').
            .where(F.col("text").isNotNull())
            .withColumn("_h", F.md5("text"))
        )
        # NOTE (duplicate keys, intentional): row_number keeps exactly ONE
        # row per text hash.  If two rows tie on BOTH the hash and url
        # (the same url crawled twice with identical text), which physical
        # row survives is arbitrary — url, bucket and text of the winner
        # are still fully determined, so curation and resume decisions are
        # reproducible; only side columns of such exact re-crawls (e.g.
        # warc_ts) can differ between runs.  One-row-per-hash is the
        # contract; callers needing a total order add their own tiebreak.
        w = Window.partitionBy("_h").orderBy("url")
        winners = (
            g.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "_h")
            .where(TS.quality_label(F.col("text")) == "ok")
        )
        # Restrict the global winner set to the slice's buckets.  The
        # distinct bucket-id list is ≤ n_buckets rows — a broadcast semi
        # join that Catalyst turns into a cheap filter.
        slice_buckets = (
            with_bucket(bucketed, n_buckets)
            .select("bucket").distinct()
        )
        return winners.join(
            F.broadcast(slice_buckets), "bucket", "leftsemi")

    return fn


def run_kg_pipeline(
    pages: DataFrame,
    workdir: str,
    *,
    n_buckets: int = 16,
    num_partitions: int | None = None,
    extractor: str = "rule",
    extract_wave_size: int | None = 4,
) -> dict:
    """Run the resumable three-stage pipeline; returns stage reports + paths.

    ``extractor``: ``"rule"`` (chunker/POS path, operators/extract.py) or
    ``"neural"`` (the BiGRU joint-model path, operators/tagger_infer.py —
    THE Seq2KG model).  Both share the same bucket-grain checkpoint/resume
    machinery; the neural stage broadcasts its weights once per run.

    ``extract_wave_size``: buckets per committed wave in the extract stage
    (lineage.run_stage_checkpointed).  Extraction is the hours-long,
    compute-dominated stage at web scale, so its crash grain defaults to
    waves of 4 buckets — a kill mid-extract loses at most one wave, not
    the stage.  Pass ``None`` for the single-job fast path (one input
    scan, whole-stage crash grain); curate keeps the single-job path —
    it's scan-dominated, so wave rescans would roughly multiply its cost
    by the wave count.
    """
    spark = pages.sparkSession
    curated_path = os.path.join(workdir, "curated")
    triples_path = os.path.join(workdir, "triples")
    lineage_path = os.path.join(workdir, "lineage")

    report_curate = run_stage_checkpointed(
        pages,
        curate_stage_fn(pages, n_buckets=n_buckets),
        stage="curate",
        out_path=curated_path,
        lineage_path=lineage_path,
        n_buckets=n_buckets,
    )
    # keep the stored ``bucket`` PARTITION column: with_bucket trusts it, so
    # each extract wave's ``bucket IN (...)`` filter prunes the scan to the
    # wave's directories instead of re-hashing the full curated table.
    # Both stage tables are read with their known schema (the written
    # columns, then the ``bucket`` partition column, as partition discovery
    # orders them): a stage that committed zero rows leaves no parquet file
    # to infer one from.
    pages = spark.read.schema(with_bucket(pages, n_buckets).schema).parquet(
        curated_path)

    extract, triples_schema = extract_triples, TRIPLES_SCHEMA
    if extractor == "neural":
        from seq2kg_spark.operators.tagger_infer import (
            NEURAL_TRIPLES_SCHEMA, neural_extract_triples)

        extract, triples_schema = neural_extract_triples, NEURAL_TRIPLES_SCHEMA

    def extract_stage(bucketed: DataFrame) -> DataFrame:
        cols = bucketed.select("url", "text", "lang", "bucket")
        t = extract(cols, num_partitions=num_partitions)
        # re-derive the bucket from url (the triples carry no bucket
        # column): deterministic, survives the UDF
        return with_bucket(t, n_buckets)

    report_extract = run_stage_checkpointed(
        pages,
        extract_stage,
        stage="extract",
        out_path=triples_path,
        lineage_path=lineage_path,
        n_buckets=n_buckets,
        wave_size=extract_wave_size,
    )

    triples = spark.read.schema(f"{triples_schema}, bucket int").parquet(
        triples_path)
    nodes_path = os.path.join(workdir, "nodes")
    edges_path = os.path.join(workdir, "edges")

    # Canonicalize is a GLOBAL stage (connected components cannot be
    # bucketed), so its resume unit is the whole stage: a completion marker
    # carrying a fingerprint of the extract lineage it was built from.
    # Written AFTER both graph tables commit — a kill mid-canonicalize
    # leaves no marker and the rerun recomputes; a rerun over unchanged
    # triples skips the stage entirely.
    # Fingerprint = canonicalize PARAMS + CONTENT hash of the committed
    # triples, not per-bucket row counts: a rerun after the SIM_* constants
    # change must NOT skip onto stale graph tables, and a
    # recomputed bucket can change content without changing its count.
    # The combiner must be order-independent AND multiplicity-sensitive:
    # a bare bit_xor of per-row hashes cancels even multiplicities.  An
    # earlier formulation folded per-hash COUNTS via groupBy(h) — but the
    # row hashes are near-unique, so the map-side hash agg built a
    # ~distinct-per-task hash table for nothing and spilled 17.7 GB at
    # the 20M-page scale point (BASELINE.md round 7).  Instead combine
    # bit_xor(h) with the SUMS of four 16-bit limbs of h: each limb sum
    # stays below 2^63 up to ~10^14 rows (no ANSI overflow), every term
    # is a map-side partial aggregate over a single global group — one
    # scan, a one-row shuffle, nothing to spill — and a corruption must
    # now preserve the count, the xor, AND all four limb sums at once.
    _hcols = [F.col(c) for c in triples.columns]
    _h = F.xxhash64(*_hcols)
    _limbs = [
        F.shiftrightunsigned(_h, k * 16).bitwiseAND(F.lit(0xFFFF))
        for k in range(4)
    ]
    _agg = (
        triples.select(
            _h.alias("h"),
            *[limb.alias(f"l{k}") for k, limb in enumerate(_limbs)])
        .agg(F.count(F.lit(1)).alias("n"),
             F.expr("bit_xor(h)").alias("x"),
             *[F.sum(f"l{k}").alias(f"s{k}") for k in range(4)])
        .collect()[0]
    )
    extract_fp = (
        f"v4|t={SIM_THRESHOLD_DEFAULT!r}|b={SIM_N_BANDS_DEFAULT}"
        f"|m={SIM_MAX_BUCKET_DEFAULT}|r={SIM_BAND_ROWS_DEFAULT}"
        f"|n={_agg['n']}|x={_agg['x']}"
        f"|s={_agg['s0']},{_agg['s1']},{_agg['s2']},{_agg['s3']}"
    )
    # one-row parquet, not a local file: workdir may be HDFS/S3
    marker_path = os.path.join(workdir, "canonical_done")
    canon_stats: dict = {}
    prior = None
    fs, hpath = _hadoop_fs(spark, marker_path)
    if fs.exists(hpath):
        rows = spark.read.parquet(marker_path).collect()
        if rows:
            prior = rows[0].fp
    # Skip only when (a) THIS run re-extracted nothing (a recomputed bucket
    # may change content without changing its row count) and (b) the
    # committed lineage matches what the marker was built from.
    if not report_extract["processed"] and prior == extract_fp:
        canon_stats["skipped"] = True
        canon_stats["wall_ms"] = 0
    else:
        t0 = time.monotonic()
        nodes, edges = canonicalize(triples, stats=canon_stats)
        nodes.write.mode("overwrite").parquet(nodes_path)
        edges.write.mode("overwrite").parquet(edges_path)
        # both outputs are on disk — drop the naming checkpoint so
        # a long-lived session running pipelines back-to-back doesn't
        # accumulate cached blocks
        release_caches(nodes, edges)
        canon_stats["wall_ms"] = int((time.monotonic() - t0) * 1000)
        spark.createDataFrame([(extract_fp,)], "fp string").coalesce(
            1).write.mode("overwrite").parquet(marker_path)
    return {
        "curate": report_curate,
        "extract": report_extract,
        "canonical": canon_stats,
        "paths": {
            "curated": curated_path,
            "triples": triples_path,
            "nodes": nodes_path,
            "edges": edges_path,
            "lineage": lineage_path,
        },
    }
