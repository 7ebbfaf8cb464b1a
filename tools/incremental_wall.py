"""Wall comparison: incremental_assign vs full recompute on a NON-salad
corpus at >=1M norms (round-7 ask #6, second half).

Round 6 measured no incremental win on word salad — there the Jaccard
verify is cheap because the hot-bucket cap already dropped almost
everything, so skipping old-old verification saved nothing.  On the
zipf-entity corpus (sources/zipf_entities.py) same-entity variants live in
NARROW buckets that survive the cap, so the old-old candidate+verify work
is real and skipping it should pay.

Protocol: old = ~90% of norms (deterministic hash split), batch = the
rest.  Measure (a) full assignment over old (the state a previous run
left), (b) incremental_assign(old_assign, batch), (c) full recompute over
the union.  Report walls + assignment drift (incremental is union-closure
monotone; drift appears only where cap decisions shift).

Usage: python tools/incremental_wall.py [--entities 500000] [--new-pct 10]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def full_assign(spark, norms):
    from seq2kg_spark.operators.canonicalize import (connected_components,
                                                     similarity_edges)

    sim = similarity_edges(norms)
    comp = connected_components(sim)
    out = (
        norms.join(comp, F.col("norm") == F.col("node"), "left")
        .select("norm",
                F.coalesce("component", F.col("norm")).alias("component"))
    )
    return out, (sim, comp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--entities", type=int, default=500_000)
    ap.add_argument("--new-pct", type=int, default=10)
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    from seq2kg_spark.operators.canonicalize import (incremental_assign,
                                                     normalize_mention,
                                                     release_caches)
    from seq2kg_spark.session import get_spark
    from seq2kg_spark.sources.zipf_entities import build_zipf_mentions

    spark = get_spark("incremental-wall", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    m = build_zipf_mentions(spark, n_entities=args.entities)
    norms = (
        m.withColumn("norm", normalize_mention(F.col("mention")))
        .where(F.col("norm") != "")
        .select("norm").distinct().persist()
    )
    n_norms = norms.count()
    is_new = F.pmod(F.xxhash64("norm"), F.lit(100)) < args.new_pct
    old = norms.where(~is_new).persist()
    new = norms.where(is_new).persist()
    n_old, n_new = old.count(), new.count()
    print(f"norms={n_norms} old={n_old} new={n_new}", flush=True)

    # (a) previous-run state: full assignment over old
    t0 = time.monotonic()
    old_assign, c0 = full_assign(spark, old)
    old_assign = old_assign.persist()
    old_assign.count()
    wall_old = time.monotonic() - t0
    release_caches(*c0)
    print(f"old full assign: {wall_old:.1f}s", flush=True)

    # (b) incremental merge of the batch
    stats: dict = {}
    t0 = time.monotonic()
    inc = incremental_assign(old_assign, new, stats=stats).persist()
    n_inc = inc.count()
    wall_inc = time.monotonic() - t0
    release_caches(inc)
    print(f"incremental: {wall_inc:.1f}s rows={n_inc} stats={stats}",
          flush=True)

    # (c) full recompute over the union
    t0 = time.monotonic()
    full, c2 = full_assign(spark, norms)
    full = full.persist()
    n_full = full.count()
    wall_full = time.monotonic() - t0
    release_caches(*c2)
    print(f"union full recompute: {wall_full:.1f}s rows={n_full}",
          flush=True)

    # drift: norms whose component differs (union-closure vs recompute —
    # nonzero only where cap decisions shifted between runs)
    drift = (
        inc.alias("i").join(full.alias("f"), "norm")
        .where(F.col("i.component") != F.col("f.component")).count()
    )
    out = {
        "n_norms": n_norms, "n_old": n_old, "n_new": n_new,
        "wall_old_full_s": round(wall_old, 1),
        "wall_incremental_s": round(wall_inc, 1),
        "wall_union_full_s": round(wall_full, 1),
        "speedup_vs_full": round(wall_full / wall_inc, 2),
        "drift_rows": drift,
        "drift_pct": round(100.0 * drift / n_full, 3) if n_full else 0.0,
        "cc_rounds_incremental": stats.get("cc_rounds"),
        "n_new_norms": stats.get("n_new_norms"),
        "cpus": args.cpus,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
