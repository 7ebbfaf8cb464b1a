"""Per-layer probes, run after the traced pipeline and outside its spans.

* :func:`nlp_probe` — the NLP kernels in this process, single-threaded, on
  the check's fixed sample of cleaned pages, timing each public call;
* :func:`html_decode_probe` — a noop-sink query of the HTML decode chain
  over the workload's pages;
* :func:`similarity_probe` — ``similarity_edges(…, stats=…)`` on the
  committed triples, for the LSH candidate count and verify yield.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgbench.trace import patched


def _timed(targets, acc):
    """Time calls of each ``(owner, attr, phase)`` into ``acc[phase]``."""
    def timer(fn, phase):
        def timed(*a, **k):
            t = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                acc[phase] += time.perf_counter() - t
        return timed

    return patched([(owner, attr, lambda fn, p=phase: timer(fn, p))
                    for owner, attr, phase in targets])


def nlp_probe(sample) -> dict:
    """ms per page of each NLP phase on ``[(url, clean_text)]``."""
    from seq2kg_spark.nlp import assemble, gru
    from seq2kg_spark.nlp.encoder import HashEncoder
    from seq2kg_spark.nlp.wordpiece import WordPieceTokenizer

    from kgbench.check import kernel_triples

    n = max(len(sample), 1)
    kernel_triples("rule", sample[:1])   # first-call imports off the clock
    kernel_triples("neural", sample[:1])
    acc: dict = defaultdict(float)
    with _timed([(assemble, "extract_triples_from_clean_text",
                        "rule")], acc):
        kernel_triples("rule", sample)
    with _timed([
        (WordPieceTokenizer, "encode_sentence", "wordpiece"),
        (HashEncoder, "encode", "encode"),
        (gru, "forward_logits_flat", "gru"),
        (gru, "pool_wordpieces_flat", "pool_decode"),
        (gru, "decode_labels_flat", "pool_decode"),
        (gru, "tags_to_triples", "tags"),
    ], acc):
        kernel_triples("neural", sample)
    return {f"nlp.{phase}_ms_per_page": (acc[phase] * 1000 / n, "ms/page")
            for phase in ("rule", "wordpiece", "encode", "gru",
                          "pool_decode", "tags")}


def html_decode_probe(pages: DataFrame, n_pages: int, reps: int = 3) -> dict:
    """Median ms per 1000 pages of decode + html→text over every page."""
    from seq2kg_spark.functions.html_text import (decode_html_expr,
                                                  html_to_text_expr)

    q = pages.select(html_to_text_expr(decode_html_expr(F.col("html"))))
    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        q.write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t)
    return {"functions.html_decode_ms_per_kpage": (
        statistics.median(walls) * 1000 / (n_pages / 1000), "ms/kpage")}


def similarity_probe(triples: DataFrame, *, threshold: float = 0.55) -> dict:
    """LSH candidates and verified edges with the pipeline's defaults."""
    from seq2kg_spark.operators import canonicalize as C

    stats: dict = {}
    edges = C.similarity_edges(C.mentions_from_triples(triples),
                               threshold=threshold, stats=stats)
    n_edges = edges.count()
    C.release_caches(edges)
    cand = stats.get("n_candidates", 0)
    return {"canonicalize.candidates": (cand, "count"),
            "canonicalize.verify_yield": (n_edges / cand if cand else 0.0,
                                          "ratio")}
