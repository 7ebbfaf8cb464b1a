"""Regenerate PLANS.md: formatted physical plans for the headline operators.

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().strip()


def _curate_plan(pages):
    from seq2kg_spark.operators.lineage import with_bucket
    from seq2kg_spark.plans.pipeline import curate_stage_fn

    return curate_stage_fn(pages, n_buckets=16)(with_bucket(pages, 16))


def main() -> None:
    import __spark_entry__ as E
    from seq2kg_spark.session import get_spark
    from seq2kg_spark.sources.pages import ensure_pages_parquet, read_pages
    from seq2kg_spark.operators.extract import extract_triples

    sf_dir = "/root/testdata/sf0.01"
    spark = get_spark("plans", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    pages_path = ensure_pages_parquet(spark, n_rows=300)
    pages = read_pages(spark, pages_path)

    sections = {
        "extract_triples (pages → triples): lang filter pushed to scan, "
        "html column pruned, ONE exchange (salted size-bucketed), clean "
        "chain codegen'd after the shuffle, one MapInPandas":
            extract_triples(pages),
        "q1_pricing_summary: partial agg before exchange (map-side combine)":
            E.q_q1_pricing_summary(spark, sf_dir),
        "q3_top_revenue: broadcast hash join on the filtered customer dim, "
        "TakeOrderedAndProject instead of a full sort":
            E.q_q3_top_revenue(spark, sf_dir),
        "ann_topk_dot: broadcast nested-loop of the tiny query set, window "
        "for top-k": E.q_ann_topk_dot(spark, sf_dir),
        "dedup_minhash_lsh: set-based — per-doc shingle ARRAY feeds both "
        "the banded signatures (transform+array_min, no explode/min-agg "
        "exchange) and the capped verification sets; hot-bucket guard "
        "before the self-join, array_intersect verify":
            E.q_dedup_minhash_lsh(spark, sf_dir),
        "ann_ivf_int: cell assignment is an ArrowEvalPython matmul over a "
        "once-per-executor broadcast numpy codebook (no plan literals) that "
        "runs once per row — one ArrowEvalPython per input side, no "
        "inferred key filter pushed below it; probe join broadcasts the "
        "5-query side":
            E.q_ann_ivf_int(spark, sf_dir),
        "lsh_bucketed_topk (float): bucket codes from the same broadcast "
        "matmul (ArrowEvalPython) as the integer variant, run once per row "
        "— one ArrowEvalPython per input side; bucket equi-join, never a "
        "cross product":
            E.q_lsh_bucketed_topk(spark, sf_dir),
        "sessions_batch: lag-gap-cumsum over one user-keyed window "
        "partitioning reused by both window functions and the session "
        "aggregation — one exchange on user_id":
            E.q_sessions_batch(spark, sf_dir),
        "kg_m4_decode: one narrow MapInPandas over per-doc token arrays "
        "(no shuffle at all — decode is per-row)":
            E.q_kg_m4_decode(spark, sf_dir),
        "curate_stage_fn (pages → curated): decode-once barrier — lang "
        "filter pushed to scan, ONE html→text decode projection, "
        "WindowGroupLimit prunes map-side before the md5 exchange, "
        "quality gate ABOVE the window on materialized text (FilterExec "
        "does no cross-split subexpression elimination, so a gate below "
        "the projection re-inlines the decode chain per feature), "
        "broadcast-semi bucket filter": _curate_plan(pages),
    }

    out = ["# PLANS — formatted physical plans for the headline operators",
           "",
           "Regenerate with `python tools/dump_plans.py`.  These are the",
           "plan shapes asserted by `tests/test_plans.py`; the annotations",
           "are the scale rationale.", ""]
    for title, df in sections.items():
        out.append(f"## {title}\n")
        out.append("```")
        out.append(plan_of(df))
        out.append("```")
        out.append("")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    spark.stop()
    print("PLANS.md written")


if __name__ == "__main__":
    main()
