"""Seeded pages tables for the benchmark workloads.

Rows come from ``sources.pages.build_pages_rows`` (the program's own
seeded synthetic-page generator) and are written with pyarrow, so the
same seed gives byte-identical parquet files and generation needs no Spark
session: ``setup_s`` then does not depend on whether the table was already
cached.  The program only ever sees the written table.
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    extractor: str
    text_pages: int       # prose pages that arrive with ``text`` set
    html_docs: int = 0    # unique documents that arrive as HTML only ...
    html_copies: int = 0  # ... each copied under this many distinct URLs

    @property
    def n_pages(self) -> int:
        return self.text_pages + self.html_docs * self.html_copies


# Why each workload exists is recorded in BENCHMARK.json and README.md.
WORKLOADS = {w.name: w for w in (
    Workload("rule_html", "rule", text_pages=1500, html_docs=100,
             html_copies=60),
    Workload("neural_text", "neural", text_pages=60),
)}

N_FILES = 8
SHAPE_SEED = 0  # the corpus whose page sizes and languages every seed reuses


def _sentences(text: str) -> list[str]:
    return [t for t in re.split(r"(?<=\.) ", text) if t]


def page_rows(w: Workload, seed: int) -> list[tuple]:
    """The workload's pages rows ``(url, warc_ts, html, text, lang)``.

    Every page keeps the url, timestamp, language and sentence count of the
    same page of a fixed-seed corpus; ``seed`` chooses only the sentences,
    drawn in order from the seeded corpus.  The work a seed asks for is then
    the same for every seed (a 10x-long document lands on the same page),
    while the text — and so every mention, triple and graph edge — changes.

    Pages ``[0, text_pages)`` keep their text.  Pages ``[text_pages,
    text_pages + html_docs)`` lose it (``text`` is NULL, so curate must
    decode the HTML) and are copied ``html_copies`` times under distinct
    mirror URLs.
    """
    from seq2kg_spark.functions.html_text import wrap_page_html
    from seq2kg_spark.sources.pages import build_pages_rows

    n = w.text_pages + w.html_docs
    shape = build_pages_rows(n, SHAPE_SEED)
    need = sum(len(_sentences(r[3])) for r in shape)
    pool_docs = n
    while True:
        stream = [s for r in build_pages_rows(pool_docs, seed)
                  for s in _sentences(r[3])]
        if len(stream) >= need:
            break
        pool_docs *= 2
    rows, at = [], 0
    for i, (url, ts, _html, shape_text, lang) in enumerate(shape):
        k = len(_sentences(shape_text))
        text = " ".join(stream[at:at + k])
        at += k
        html = wrap_page_html(text).encode("utf-8")
        if i < w.text_pages:
            rows.append((url, ts, html, text, lang))
            continue
        path = url.split("/", 3)[3]
        rows += [(f"https://mirror{c:03d}.example/{path}", ts, html, None,
                  lang) for c in range(w.html_copies)]
    return rows


def write_pages(rows: list[tuple], path: str) -> None:
    """Rows → ``N_FILES`` parquet files (row i goes to file i % N_FILES)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ])
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for i in range(N_FILES):
        part = rows[i::N_FILES]
        cols = list(zip(*part)) if part else [[] for _ in schema]
        pq.write_table(pa.table([pa.array(c, type=f.type)
                                 for c, f in zip(cols, schema)],
                                schema=schema),
                       os.path.join(tmp, f"part-{i:05d}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


def ensure_pages(w: Workload, seed: int, cache_root: str) -> str:
    """Write the pages table once per (workload, seed); returns its path."""
    path = os.path.join(cache_root, f"{w.name}_{w.n_pages}_s{seed}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_pages(page_rows(w, seed), path)
    return path
