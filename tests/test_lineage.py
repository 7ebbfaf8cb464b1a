"""Checkpoint/lineage/resume: killed runs must not recompute done buckets."""

import shutil

import pytest
from pyspark.sql import functions as F

from seq2kg_spark.operators.lineage import (
    completed_buckets,
    read_lineage,
    run_stage_checkpointed,
)

_CALLS = {"n": 0}


def _stage(df):
    # identity-ish stage that tags rows; bucket column must be preserved
    return df.withColumn("out_val", F.length("url").cast("long"))


def test_resume_skips_completed_buckets(spark, pages, tmp_path):
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    inp = pages.select("url", "text")

    r1 = run_stage_checkpointed(
        inp, _stage, stage="tag", out_path=out, lineage_path=lin, n_buckets=8
    )
    assert r1["processed"] == list(range(8))
    total = spark.read.parquet(out).count()
    assert total == inp.count()
    assert completed_buckets(spark, lin, "tag") == set(range(8))

    # simulate a killed run: drop lineage for half the buckets and corrupt
    # their output dirs
    lin_df = read_lineage(spark, lin)
    keep_rows = lin_df.where(F.col("bucket") < 4).collect()
    shutil.rmtree(lin)
    spark.createDataFrame(keep_rows, lin_df.schema).write.mode(
        "overwrite"
    ).parquet(lin)
    for b in range(4, 8):
        shutil.rmtree(f"{out}/bucket={b}", ignore_errors=True)

    r2 = run_stage_checkpointed(
        inp, _stage, stage="tag", out_path=out, lineage_path=lin, n_buckets=8
    )
    assert r2["processed"] == [4, 5, 6, 7]
    assert r2["skipped"] == [0, 1, 2, 3]
    # final table identical to the uninterrupted run
    assert spark.read.parquet(out).count() == total
    # lineage now covers all buckets; recomputed ones carry the new run_id
    lin2 = read_lineage(spark, lin)
    assert lin2.select("bucket").distinct().count() == 8
    run_ids = {r.bucket: r.run_id for r in lin2.collect()}
    assert run_ids[0] != run_ids[7]


def test_noop_when_all_buckets_done(spark, pages, tmp_path):
    out = str(tmp_path / "out2")
    lin = str(tmp_path / "lineage2")
    inp = pages.select("url", "text").limit(50)
    run_stage_checkpointed(
        inp, _stage, stage="tag", out_path=out, lineage_path=lin, n_buckets=4
    )
    r = run_stage_checkpointed(
        inp, _stage, stage="tag", out_path=out, lineage_path=lin, n_buckets=4
    )
    assert r["processed"] == []
    assert r["skipped"] == [0, 1, 2, 3]


def test_wave_commit_matches_single_job(spark, pages, tmp_path):
    """wave_size=w commits identical data/lineage to the single-job path."""
    inp = pages.select("url", "text")
    out_a, lin_a = str(tmp_path / "wa_out"), str(tmp_path / "wa_lin")
    out_b, lin_b = str(tmp_path / "wb_out"), str(tmp_path / "wb_lin")

    r1 = run_stage_checkpointed(
        inp, _stage, stage="tag", out_path=out_a, lineage_path=lin_a,
        n_buckets=8)
    r3 = run_stage_checkpointed(
        inp, _stage, stage="tag", out_path=out_b, lineage_path=lin_b,
        n_buckets=8, wave_size=3)
    assert r1["waves"] == 1
    assert r3["waves"] == 3          # 3 + 3 + 2 buckets
    assert r3["processed"] == list(range(8))

    a = {tuple(r) for r in spark.read.parquet(out_a).collect()}
    b = {tuple(r) for r in spark.read.parquet(out_b).collect()}
    assert a == b
    # every bucket has a lineage row; waves carry distinct job walls but
    # the same run_id
    lin = read_lineage(spark, lin_b)
    assert completed_buckets(spark, lin_b, "tag") == set(range(8))
    assert lin.select("run_id").distinct().count() == 1


def test_wave_commit_survives_mid_stage_crash(spark, pages, tmp_path):
    """A crash in wave 2 keeps wave 1's commits; the rerun resumes there."""
    inp = pages.select("url", "text")
    out, lin = str(tmp_path / "wc_out"), str(tmp_path / "wc_lin")
    calls = {"n": 0}

    def bomb(df):
        calls["n"] += 1
        if calls["n"] == 2:          # second wave dies "mid-stage"
            raise RuntimeError("simulated preemption")
        return _stage(df)

    try:
        run_stage_checkpointed(
            inp, bomb, stage="tag", out_path=out, lineage_path=lin,
            n_buckets=8, wave_size=4)
        raise AssertionError("bomb did not fire")
    except RuntimeError as e:
        assert "preemption" in str(e)

    # wave 1 (buckets 0-3) is durable; wave 2 left nothing
    assert completed_buckets(spark, lin, "tag") == {0, 1, 2, 3}

    r2 = run_stage_checkpointed(
        inp, _stage, stage="tag", out_path=out, lineage_path=lin,
        n_buckets=8, wave_size=4)
    assert r2["skipped"] == [0, 1, 2, 3]
    assert r2["processed"] == [4, 5, 6, 7]
    assert r2["waves"] == 1
    # final table identical to an uninterrupted single-job run
    out_ref, lin_ref = str(tmp_path / "wr_out"), str(tmp_path / "wr_lin")
    run_stage_checkpointed(
        inp, _stage, stage="tag", out_path=out_ref, lineage_path=lin_ref,
        n_buckets=8)
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    ref = {tuple(r) for r in spark.read.parquet(out_ref).collect()}
    assert got == ref


def _keep_even_text(df):
    # drops roughly half the rows, so n_output differs from n_input
    return df.where(F.length("text") % 2 == 0)


@pytest.mark.parametrize("wave_size", [None, 3])
def test_lineage_rows_match_independent_counts(spark, pages, tmp_path,
                                               wave_size):
    """Every lineage row's n_input / url_min / url_max equal a groupBy of
    the input by bucket, and n_output a groupBy of the committed output."""
    inp = pages.select("url", "text")
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    run_stage_checkpointed(
        inp, _keep_even_text, stage="tag", out_path=out, lineage_path=lin,
        n_buckets=8, wave_size=wave_size)

    bucket = F.pmod(F.xxhash64("url"), F.lit(8)).cast("int").alias("b")
    want_in = {
        r.b: (r.n, r.lo, r.hi)
        for r in inp.groupBy(bucket).agg(
            F.count("*").alias("n"), F.min("url").alias("lo"),
            F.max("url").alias("hi")).collect()
    }
    want_out = {
        r.bucket: r.n
        for r in spark.read.parquet(out).groupBy("bucket").agg(
            F.count("*").alias("n")).collect()
    }
    got = {r.bucket: r for r in read_lineage(spark, lin).collect()}
    assert set(got) == set(range(8))
    for b, r in got.items():
        assert (r.n_input, r.url_min, r.url_max) == \
            want_in.get(b, (0, None, None)), b
        assert r.n_output == want_out.get(b, 0), b
    assert 0 < sum(want_out.values()) < inp.count()


@pytest.mark.parametrize("stage_fn", [
    lambda d: d.where(F.col("url") == "nope"),
    lambda d: d.where(F.lit(False)),
    lambda d: d.limit(0),
], ids=["no-match", "lit-false", "limit-0"])
def test_zero_row_first_commit(spark, pages, tmp_path, stage_fn):
    """A stage whose first commit writes no rows still commits one lineage
    row per bucket (n_output 0) instead of failing to re-read an output
    directory that holds no parquet file."""
    inp = pages.select("url", "text")
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    r = run_stage_checkpointed(
        inp, stage_fn, stage="empty", out_path=out, lineage_path=lin,
        n_buckets=4)
    assert r["processed"] == [0, 1, 2, 3]
    rows = read_lineage(spark, lin).collect()
    assert {x.bucket: x.n_output for x in rows} == {b: 0 for b in range(4)}
    assert sum(x.n_input for x in rows) == inp.count()
