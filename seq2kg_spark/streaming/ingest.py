"""Structured Streaming ingestion of page batches.

The reference is pure batch (SURVEY.md §1.4); this is the incremental-
ingest path a production crawl feed needs: new parquet files landing in a
directory are picked up, triple-extracted, and appended to the triples
sink with exactly-once file-sink semantics (checkpointed offsets).

Also provides the watermarked windowed aggregation over the ``events``
table shape (late data tolerated up to the watermark) — the standard
Structured Streaming pattern for rollup tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from seq2kg_spark.operators.lineage import _hadoop_fs
from seq2kg_spark.sources.pages import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: int = 8) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
    )


def stream_extract_triples(
    pages_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    *,
    available_now: bool = False,
):
    """pages stream → triples parquet sink (append, exactly-once files).

    The batch extractor is reused verbatim — mapInPandas is streaming-safe
    (stateless).  The salted repartition is replaced by
    ``repartition(url)``: micro-batches are small, skew defense is per
    micro-batch and cheap.
    """
    from seq2kg_spark.functions.text_clean import clean_text_expr
    from seq2kg_spark.operators.extract import TRIPLES_SCHEMA, _extract_batches

    cleaned = (
        pages_stream.where(F.col("lang") == "en")
        .repartition("url")
        .select("url", clean_text_expr(F.col("text")).alias("clean_text"))
    )
    triples = cleaned.mapInPandas(_extract_batches, schema=TRIPLES_SCHEMA)
    writer = (
        triples.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window rollup: (window, event_type, n, sum)."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n", "sum_value",
        )
    )


def windowed_event_counts_batch(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Batch twin of :func:`windowed_event_counts`'s availableNow drain.

    In append mode a watermarked window is emitted only once the final
    watermark (max event time − delay) passes its END, so the twin keeps
    exactly the windows with ``window_end <= max(ts) − watermark``.  The
    threshold rides along as a broadcast 1-row aggregate — no driver
    action, no second scan materialization beyond the tiny max().  Pure
    SQL ⇒ doubles as the hash-exact driver oracle for the watermark
    semantics (``tests/test_streaming_multimodal.py`` asserts drain ==
    twin).
    """
    out = (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n", "sum_value",
        )
    )
    thr = events.agg(
        (F.max("ts") - F.expr(f"INTERVAL {watermark}")).alias("wm"))
    return (
        out.crossJoin(F.broadcast(thr))
        .where(F.col("window_end") <= F.col("wm"))
        .drop("wm")
    )


def stream_dedup_pages(
    pages_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    *,
    watermark: str = "1 hour",
    available_now: bool = False,
):
    """Streaming exact dedup: first sighting of each (url, text-hash) wins.

    ``dropDuplicatesWithinWatermark`` keeps bounded state even though the
    event-time column is NOT part of the dedup key: each (url, text_md5)
    state entry expires once the watermark passes its event time.  Plain
    ``dropDuplicates(["url","text_md5"])`` would never evict (the key set
    excludes the watermark column), leaking state on a long-running stream.
    """
    from seq2kg_spark.functions.html_text import with_page_text

    # same stage-0 seam as the batch curate gate
    deduped = (
        with_page_text(pages_stream)
        .withColumn("text_md5", F.md5(F.col("text")))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["url", "text_md5"])
        .drop("html")
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sessionize_events_batch(events: DataFrame,
                            gap_seconds: int = 1800) -> DataFrame:
    """Batch twin of :func:`sessionize_events_stateful`'s availableNow
    drain: lag-gap-cumsum sessionization in pure Spark SQL.

    A drained stateful run emits every session CLOSED by a gap and leaves
    each user's final session open in state, so the twin drops each user's
    last session too.  Gaps compare in exact integer microseconds —
    ``unix_micros`` ⇒ the same decisions as the stateful operator's
    ``(ts - last).total_seconds() > gap`` at microsecond timestamps.
    Being pure SQL, this twin doubles as the hash-exact driver oracle for
    the inherently rows-only streaming path
    (``tests/test_streaming_multimodal.py`` asserts drain == twin).
    """
    w = Window.partitionBy("user_id").orderBy("ts")
    # timestamp_diff works directly on TIMESTAMP_NTZ (the parquet default)
    # with no session-timezone interpretation — exact integer microseconds
    gap_us = F.timestamp_diff("MICROSECOND", F.lag("ts").over(w),
                              F.col("ts"))
    sess = (
        events.select("user_id", "ts", "value")
        .withColumn(
            "new_s",
            F.when(gap_us > F.lit(int(gap_seconds) * 1_000_000), 1)
            .otherwise(0))
        .withColumn("sid", F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    agg = sess.groupBy("user_id", "sid").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.sum("value").alias("sum_value"),
    )
    # each user's LAST session is the open one — a window max over the
    # already-aggregated (small) sessions avoids a second scan of the
    # events table that a groupBy+join formulation would re-plan
    open_w = Window.partitionBy("user_id")
    return (
        agg.withColumn("open_sid", F.max("sid").over(open_w))
        .where(F.col("sid") != F.col("open_sid"))
        .select("user_id", "session_start", "session_end", "n_events",
                "sum_value")
    )


def sessionize_events_stateful(
    events_stream: DataFrame,
    gap_seconds: int = 1800,
    *,
    idle_timeout: bool = True,
):
    """Custom stateful operator: gap-based sessionization per user via
    ``applyInPandasWithState`` (the escape hatch when watermarked windows
    can't express the semantics — session end depends on the NEXT event).

    State per user: (session_start, last_ts, n_events, sum_value).  A new
    micro-batch extends the open session or closes it and emits a row when
    the gap exceeds ``gap_seconds``.  With ``idle_timeout=True`` a
    processing-time timeout also flushes idle sessions — the right mode
    for a long-running stream, but it keeps timeouts pending forever, so
    an ``availableNow`` (drain-and-stop) run NEVER terminates: Spark keeps
    scheduling empty micro-batches hoping to fire them.  Pass
    ``idle_timeout=False`` for batch-style drains — only gap-closed
    sessions are emitted; open sessions stay in state.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp, "
        "n_events long, sum_value double"
    )
    state_schema = (
        "session_start timestamp, last_ts timestamp, n_events long, "
        "sum_value double"
    )

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        rows = []
        if state.hasTimedOut:
            if state.exists:
                ss, last, n, sv = state.get
                rows.append((user_id, ss, last, n, sv))
                state.remove()
        else:
            events = pd.concat(list(pdfs)) if pdfs else pd.DataFrame()
            if len(events):
                events = events.sort_values("ts")
                if state.exists:
                    ss, last, n, sv = state.get
                else:
                    ss = last = events["ts"].iloc[0]
                    n, sv = 0, 0.0
                for ts, val in zip(events["ts"], events["value"]):
                    if (ts - last).total_seconds() > gap_seconds and n > 0:
                        rows.append((user_id, ss, last, n, sv))
                        ss, n, sv = ts, 0, 0.0
                    n += 1
                    sv += float(val)
                    last = ts
                state.update((ss, last, n, sv))
                if idle_timeout:
                    state.setTimeoutDuration(gap_seconds * 1000)
        # no closed session → no frame (an empty one adds no rows, only
        # an object-dtype entry to pyspark's per-batch concat)
        if rows:
            yield pd.DataFrame(
                rows, columns=["user_id", "session_start", "session_end",
                               "n_events", "sum_value"],
            )

    timeout_conf = (GroupStateTimeout.ProcessingTimeTimeout if idle_timeout
                    else GroupStateTimeout.NoTimeout)
    return (
        events_stream.groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", timeout_conf,
        )
    )


# --------------------------------------------------------------------------
# Streaming incremental canonicalization (round-7: the daily-append /
# micro-batch entity-merge path)
# --------------------------------------------------------------------------

def read_assignment(spark: SparkSession, assign_dir: str) -> DataFrame | None:
    """Latest committed (norm, component) snapshot under ``assign_dir``.

    Snapshots are hive-style ``batch=<id>`` dirs written by
    :func:`stream_incremental_canonicalize`; the max batch id wins.
    Returns None when no snapshot exists yet (stream bootstrap).  An
    unreadable snapshot raises: read as "no history", it would make the
    next micro-batch write an assignment of only its own norms, and the
    retention pruning would then delete the good snapshots."""
    fs, hpath = _hadoop_fs(spark, assign_dir)
    if not fs.exists(hpath):
        return None
    df = spark.read.schema(
        "norm string, component string, batch int").parquet(assign_dir)
    latest = df.agg(F.max("batch")).collect()[0][0]
    if latest is None:
        return None
    return df.where(F.col("batch") == latest).drop("batch")


def stream_incremental_canonicalize(
    triples_stream: DataFrame,
    assign_dir: str,
    checkpoint_dir: str,
    *,
    available_now: bool = False,
    keep_snapshots: int = 2,
    stats_sink: list | None = None,
):
    """triples stream → running (norm, component) entity assignment.

    Each micro-batch's new mentions merge into the running assignment via
    :func:`~seq2kg_spark.operators.canonicalize.incremental_assign` inside
    ``foreachBatch`` — the batch operator reused verbatim, so old-old
    mention pairs are never re-candidated or re-verified; per batch the
    LSH + Jaccard work is O(pairs touching a new norm), not O(N²) over the
    accumulated corpus.

    Exactly-once: the merged assignment is written as a FULL snapshot to
    ``assign_dir/batch=<batch_id>`` — a replayed micro-batch (crash before
    the checkpoint commit) deterministically overwrites its own snapshot
    dir, and readers (:func:`read_assignment`) always see the max
    committed batch.  Snapshots older than ``keep_snapshots`` behind the
    current one are pruned.  Semantics match incremental_assign's
    documented monotone union-closure: growth never un-merges an entity.

    ``stats_sink`` (optional list) collects ``(batch_id, stats)`` pairs —
    n_new_norms / cc_rounds per micro-batch, the telemetry a stream
    operator watches.
    """
    from seq2kg_spark.operators.canonicalize import (
        incremental_assign,
        mentions_from_triples,
        release_caches,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        old = read_assignment(spark, assign_dir)
        if old is None:
            old = spark.createDataFrame(
                [], "norm string, component string")
        new_norms = mentions_from_triples(batch_df).select("norm")
        stats: dict = {}
        merged = incremental_assign(old, new_norms, stats=stats)
        merged.write.mode("overwrite").parquet(
            f"{assign_dir}/batch={batch_id}")
        # snapshot is on disk — release the CC checkpoint backing `merged`
        # (the per-batch leak the round-6 ADVICE flagged)
        release_caches(merged)
        # prune old snapshots, never the one just written
        fs, hpath = _hadoop_fs(spark, assign_dir)
        for st in fs.listStatus(hpath):
            name = st.getPath().getName()
            if name.startswith("batch="):
                try:
                    bid = int(name.split("=", 1)[1])
                except ValueError:
                    continue
                if bid <= batch_id - keep_snapshots:
                    fs.delete(st.getPath(), True)
        if stats_sink is not None:
            stats_sink.append((batch_id, stats))

    writer = (
        triples_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
