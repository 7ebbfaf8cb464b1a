"""Checkpointed, resumable pipeline runs with per-partition lineage.

North-rule requirement: every stage checkpoints with per-partition lineage
rows (partition id, url range, row counts, wall time) so a killed job
resumes without recomputing finished partitions.

Design (works the same on parquet here and Iceberg in production):

* The unit of work is a deterministic **bucket**: ``pmod(xxhash64(url), K)``.
  Buckets are stable across runs and machines — resume-safe by
  construction (no rand(), no timestamps in the key).
* Output is written under ``<out>/bucket=<i>/`` (hive-style partition
  dirs); the lineage table is a parquet dir of small per-bucket rows.
* **Resume = anti-join**: buckets present in lineage are skipped; the rest
  are (re)computed — every pending bucket dir is explicitly deleted before
  the dynamic-partition-overwrite write, so a half-written dir from a
  killed run is removed even when the recompute yields zero rows (Iceberg
  commits make the replace fully atomic in production).
* The lineage row is written only *after* the bucket's data is committed:
  lineage row present ⇒ bucket complete.  A crash between data and lineage
  writes costs one recompute, never corruption.

Metrics per bucket: url range, input/output row counts, plus
``job_wall_ms`` — the wall time of the whole multi-bucket stage job
(buckets run in ONE Spark job for parallelism, so a true per-bucket wall
time does not exist; the shared figure is named for what it is).
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "stage string, bucket int, url_min string, url_max string, "
    "n_input long, n_output long, job_wall_ms long, run_id string, "
    "committed_at timestamp"
)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) via the JVM Hadoop FS API — works on any scheme
    (local, HDFS, s3a), unlike os.walk."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath


def with_bucket(df: DataFrame, n_buckets: int = 16) -> DataFrame:
    """Attach the stage's bucket id: ``pmod(xxhash64(url), n_buckets)``.

    If the input already carries a ``bucket`` column it is TRUSTED as that
    same function of the url (true for any table a previous stage committed
    via ``run_stage_checkpointed`` — it partitions output by this very
    derivation).  Keeping the stored column matters for the wave path: a
    filter on a parquet PARTITION column prunes the scan to the wave's
    directories, while re-deriving it from ``xxhash64(key)`` forces every
    wave to scan the full table just to throw most of it away.
    """
    if "bucket" in df.columns:
        return df
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")
    )


def read_lineage(spark: SparkSession, lineage_path: str) -> DataFrame:
    fs, hpath = _hadoop_fs(spark, lineage_path)
    if fs.exists(hpath):
        it = fs.listFiles(hpath, True)  # recursive
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                return spark.read.parquet(lineage_path)
    return spark.createDataFrame([], LINEAGE_SCHEMA)


def completed_buckets(spark: SparkSession, lineage_path: str, stage: str) -> set[int]:
    lin = read_lineage(spark, lineage_path)
    return {
        r.bucket for r in lin.where(F.col("stage") == stage)
        .select("bucket").distinct().collect()
    }


def run_stage_checkpointed(
    inputs: DataFrame,
    stage_fn: Callable[[DataFrame], DataFrame],
    *,
    stage: str,
    out_path: str,
    lineage_path: str,
    n_buckets: int = 16,
    wave_size: int | None = None,
) -> dict:
    """Run ``stage_fn`` over all not-yet-committed buckets; commit + log.

    Returns {"processed": [...], "skipped": [...], "run_id": ...,
    "waves": N}.  The stage_fn receives the bucketed input slice and must
    preserve the ``bucket`` and ``url`` columns.

    ``wave_size`` picks the crash grain vs throughput tradeoff:

    * ``None`` (default): all pending buckets in ONE Spark job — maximum
      parallelism, single input scan, but a kill mid-stage loses the whole
      stage (resume recomputes every pending bucket).
    * ``w``: pending buckets run in committed waves of ``w``; data + the
      wave's lineage rows commit before the next wave starts, so a kill
      loses at most one wave.  Each wave re-scans the input to slice its
      buckets (the bucket is a hash of ``url``, not a storage
      partition), so the mode suits compute-dominated stages — extraction
      runs NLP inference at ~10⁴ docs/s/node while the parquet scan feeding
      it streams ~10⁶ rows/s — where an hours-long stage losing everything
      to one preemption dwarfs a few extra column-pruned scans.  On a
      bucket-partitioned Iceberg input the rescan prunes to the wave's
      partitions and the tradeoff disappears.
    """
    spark = inputs.sparkSession
    run_id = uuid.uuid4().hex[:12]
    done = completed_buckets(spark, lineage_path, stage)
    bucketed = with_bucket(inputs, n_buckets)
    pending = sorted(set(range(n_buckets)) - done)
    if not pending:
        return {"processed": [], "skipped": sorted(done), "run_id": run_id,
                "waves": 0}

    if wave_size and wave_size > 0:
        waves = [pending[i:i + wave_size]
                 for i in range(0, len(pending), wave_size)]
    else:
        waves = [pending]

    # Input metrics: ONE aggregate over every pending bucket, before the
    # first wave — the input does not change between waves, so neither
    # do its per-bucket figures.
    in_stats = {
        r.bucket: (r.lo, r.hi, r.n)
        for r in bucketed.where(F.col("bucket").isin(pending))
        .groupBy("bucket").agg(
            F.count("*").alias("n"),
            F.min("url").alias("lo"),
            F.max("url").alias("hi"),
        ).collect()
    }
    fs, _ = _hadoop_fs(spark, out_path)
    jvm_path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    for wave in waves:
        todo = bucketed.where(F.col("bucket").isin(wave))
        t0 = time.monotonic()
        result = stage_fn(todo)
        assert "bucket" in result.columns, \
            "stage_fn must preserve the bucket column"
        # Dynamic partition overwrite only replaces partitions PRESENT in
        # the new result — a pending bucket whose recompute yields zero rows
        # would leave a half-written dir from a killed run in place (and its
        # stale rows would be counted as n_output).  Delete every bucket dir
        # of this wave first so resume semantics hold even for zero-row
        # buckets.
        for b in wave:
            bdir = jvm_path(f"{out_path}/bucket={b}")
            if fs.exists(bdir):
                fs.delete(bdir, True)
        # n_output is observed on the write job itself instead of
        # re-reading the committed output, which raised on a zero-row
        # first commit (no parquet file to infer a schema from).  Only the
        # WRITE is observed: an observation inside stage_fn's plan never
        # reports when the stage ignores its slice or Catalyst prunes it.
        obs = Observation()
        (
            result.observe(obs, *[
                F.count_if(F.col("bucket") == b).alias(f"n{b}")
                for b in wave])
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(out_path)
        )
        job_wall_ms = int((time.monotonic() - t0) * 1000)
        n_out = obs.get
        rows = [
            (stage, b, *in_stats.get(b, (None, None, 0)), n_out[f"n{b}"],
             job_wall_ms, run_id)
            for b in wave
        ]
        lineage_rows = spark.createDataFrame(
            rows,
            "stage string, bucket int, url_min string, url_max string, "
            "n_input long, n_output long, job_wall_ms long, run_id string",
        ).withColumn("committed_at", F.current_timestamp())
        # lineage commits AFTER the wave's data: lineage row present ⇒
        # bucket complete, exactly as in single-job mode
        lineage_rows.write.mode("append").parquet(lineage_path)
    return {"processed": pending, "skipped": sorted(done),
            "run_id": run_id, "waves": len(waves)}
