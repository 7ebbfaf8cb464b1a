import hashlib
import os

import pytest

from kgbench.workloads import Workload, page_rows, write_pages

TINY = Workload(name="tiny", extractor="rule", text_pages=30, html_docs=3,
                html_copies=4)


def pages_digest(path: str) -> str:
    """sha256 over the table's files, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


@pytest.fixture(autouse=True)
def no_reference_docs(tmp_path, monkeypatch):
    from seq2kg_spark.sources import pages

    monkeypatch.setattr(pages, "_REF_ROOT", str(tmp_path / "absent"))


def test_same_seed_gives_byte_identical_pages(tmp_path):
    digests = []
    for i in range(2):
        path = str(tmp_path / f"run{i}")
        write_pages(page_rows(TINY, seed=7), path)
        digests.append(pages_digest(path))
    assert digests[0] == digests[1]
    other = str(tmp_path / "other")
    write_pages(page_rows(TINY, seed=8), other)
    assert pages_digest(other) != digests[0]


def test_html_copies_arrive_without_text_under_distinct_urls():
    rows = page_rows(TINY, seed=7)
    assert len(rows) == TINY.n_pages == 30 + 3 * 4
    html_only = [r for r in rows if r[3] is None]
    assert len(html_only) == 12
    assert len({r[0] for r in rows}) == len(rows)
    assert len({r[2] for r in html_only}) == 3
