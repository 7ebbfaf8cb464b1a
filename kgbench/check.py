"""Output checks for one pipeline call.

Three checks, all of which must pass:

* **pinned / repeated outputs** — the counts of curated pages, triples,
  nodes and edges plus the ``v4|…`` triples content fingerprint the
  pipeline writes to ``<workdir>/canonical_done``.  They must equal the
  values pinned in ``expected.json`` for that (workload, seed) when pinned,
  and must be identical across every call of a run;
* **kernel agreement** — for a fixed sample of curated URLs, the
  committed triples equal the in-process NLP kernel run on the same
  ``clean_text_expr`` output;
* **graph closure** — every edge endpoint resolves to a node.
"""

from __future__ import annotations

import json
import os
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SUMMARY_KEYS = ("curated", "triples", "nodes", "edges", "fingerprint")
SAMPLE_SIZE = 24  # curated pages with the smallest xxhash64(url)


def summarize(spark: SparkSession, paths: dict, workdir: str) -> dict:
    fp = spark.read.parquet(os.path.join(workdir, "canonical_done")).first()
    return {
        "curated": spark.read.parquet(paths["curated"]).count(),
        "triples": spark.read.parquet(paths["triples"]).count(),
        "nodes": spark.read.parquet(paths["nodes"]).count(),
        "edges": spark.read.parquet(paths["edges"]).count(),
        "fingerprint": fp.fp if fp else None,
    }


def compare_summary(got: dict, want: dict | None) -> list[str]:
    if want is None:
        return []
    return [f"{k}: got {got.get(k)!r}, want {want[k]!r}"
            for k in SUMMARY_KEYS if got.get(k) != want[k]]


def load_pinned(path: str, workload: str, seed: int) -> dict | None:
    with open(path, encoding="utf-8") as f:
        return json.load(f).get(workload, {}).get(str(seed))


def sample_clean_pages(spark: SparkSession, curated_path: str):
    """[(url, clean_text)] for the fixed URL sample."""
    from seq2kg_spark.functions.text_clean import clean_text_expr

    rows = (
        spark.read.parquet(curated_path)
        .orderBy(F.xxhash64("url"), "url").limit(SAMPLE_SIZE)
        .select("url", clean_text_expr(F.col("text")).alias("clean_text"))
        .collect()
    )
    return [(r.url, r.clean_text) for r in rows]


class _Value:
    """Stands in for a Spark broadcast: the kernel only reads ``.value``."""

    def __init__(self, value):
        self.value = value


def kernel_triples(extractor: str, sample) -> list[tuple]:
    """The NLP kernel run in this process on ``[(url, clean_text)]``."""
    if extractor == "rule":
        from seq2kg_spark.nlp.assemble import extract_triples_from_clean_text

        return [(url, s, p, o) for url, text in sample if text
                for s, p, o in extract_triples_from_clean_text(text)]
    import pandas as pd

    from seq2kg_spark.nlp.gru import init_weights
    from seq2kg_spark.operators.tagger_infer import _infer_batches

    # same weights / dim as neural_extract_triples' defaults
    fn = _infer_batches(_Value(init_weights(dim=64, hidden=64, seed=125)), 64)
    pdf = pd.DataFrame({"url": [u for u, _ in sample],
                        "clean_text": [t for _, t in sample]})
    out = []
    for batch in fn(iter([pdf])):
        for r in batch.itertuples(index=False):
            out.append((r.url, r.subj, r.pred, r.obj,
                        tuple(r.subj_types), tuple(r.obj_types)))
    return out


def committed_triples(triples: DataFrame, urls: list[str]) -> list[tuple]:
    cols = [c for c in triples.columns if c != "bucket"]
    rows = triples.where(F.col("url").isin(urls)).select(*cols).collect()
    return [tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in rows]


def compare_triples(want: list[tuple], got: list[tuple]) -> list[str]:
    """Multiset difference, as readable mismatch lines (empty = equal)."""
    w, g = Counter(want), Counter(got)
    return ([f"missing {t!r} x{n}" for t, n in (w - g).items()]
            + [f"unexpected {t!r} x{n}" for t, n in (g - w).items()])


def dangling_edges(spark: SparkSession, paths: dict) -> int:
    nodes = spark.read.parquet(paths["nodes"]).select("canon_id")
    edges = spark.read.parquet(paths["edges"])
    ends = (edges.select(F.col("src").alias("canon_id"))
            .union(edges.select(F.col("dst").alias("canon_id"))))
    return ends.join(nodes, "canon_id", "left_anti").count()


def deep_check(spark: SparkSession, paths: dict, extractor: str) -> list[str]:
    """Kernel agreement on the URL sample plus graph closure."""
    sample = sample_clean_pages(spark, paths["curated"])
    errors = []
    if not sample:
        errors.append("kernel check: URL sample is empty")
    want = kernel_triples(extractor, sample)
    got = committed_triples(spark.read.parquet(paths["triples"]),
                            [u for u, _ in sample])
    errors += [f"kernel check: {m}" for m in compare_triples(want, got)[:10]]
    n = dangling_edges(spark, paths)
    if n:
        errors.append(f"graph closure: {n} edge endpoints have no node")
    return errors
