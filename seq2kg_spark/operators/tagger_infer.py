"""Neural (Seq2KG joint-model) inference operator: pages → typed triples.

Spark re-expression of reference joint_model/triples_from_test_data.py +
evaluate.py:402-512 (SURVEY.md §3.2):

    scan pages → lang filter → salted size-bucketed repartition
      → mapInPandas per Arrow batch:
          sentence split on '.' tokens (N8, evaluate.py:431-443)
          → WordPiece (F1) → pad/truncate to MAX_SENT_LEN (F2)
          → hash-encoder embeddings (F5 seam, (B,100,dim))
          → BiGRU forward + two heads (M1, shared-GRU bug preserved)
          → logit>0 decode (M2) + wordpiece→token mean pooling (M3)
          → tag-stream→triples (M4) → per-doc flatten (M5)
      → triples(url, subj, pred, obj, subj_types, obj_types)

The bert-as-a-service ZeroMQ hop (reference process boundary) is gone:
embedding + GRU run in-UDF per Arrow batch.  Weights are built once on the
driver and shipped with ``SparkContext.broadcast`` — one copy per executor,
exactly the pattern a real state_dict would use.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from seq2kg_spark.operators.extract import clean_pages

NEURAL_TRIPLES_SCHEMA = (
    "url string, subj string, pred string, obj string, "
    "subj_types array<string>, obj_types array<string>"
)

_WORD_RE = re.compile(r"[A-Za-z0-9]+(?:[-'][A-Za-z0-9]+)*|[^\sA-Za-z0-9]")

MAX_SENT_LEN = 100
# Hash-encoder embedding width == GRU hidden size (init_weights' default).
DIM = 64


def _split_sentences(tokens: list[str]) -> list[list[str]]:
    """N8: split on '.' tokens, keep trailing partial (evaluate.py:431-443)."""
    sents: list[list[str]] = []
    current: list[str] = []
    for w in tokens:
        if w == "." and current:
            sents.append(current)
            current = []
            continue
        current.append(w)
    if current:
        sents.append(current)
    return sents


def _infer_batches(weights_bc, dim: int):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from seq2kg_spark.nlp.encoder import HashEncoder
        from seq2kg_spark.nlp.gru import (
            ET_LABELS,
            TR_LABELS,
            decode_labels_flat,
            forward_logits_flat,
            pool_wordpieces_flat,
            tags_to_triples,
        )
        from seq2kg_spark.nlp.wordpiece import WordPieceTokenizer

        w = weights_bc.value
        encoder = HashEncoder(dim=dim)
        tokenizer = WordPieceTokenizer()

        for pdf in batches:
            # 1) sentence inventory for the whole Arrow batch
            sent_url: list[str] = []
            sent_tokens: list[list[str]] = []
            sent_wps: list[list[str]] = []
            sent_maps: list[list[list[int]]] = []
            for url, text in zip(pdf["url"], pdf["clean_text"]):
                if not text:
                    continue
                tokens = _WORD_RE.findall(text)
                for sent in _split_sentences(tokens):
                    wps, tok_to_wp = tokenizer.encode_sentence(sent)
                    wps = wps[:MAX_SENT_LEN]
                    expanded = [
                        [i for i in idxs if i < MAX_SENT_LEN]
                        for idxs in tokenizer.expand_map(tok_to_wp, len(wps) + 1)
                    ]
                    sent_url.append(url)
                    sent_tokens.append(sent)
                    sent_wps.append(wps)
                    sent_maps.append(expanded)
            if not sent_url:
                yield pd.DataFrame(
                    {c: pd.Series([], dtype=object)
                     for c in ("url", "subj", "pred", "obj",
                               "subj_types", "obj_types")}
                )
                continue

            # 2) one forward pass over the whole batch of sentences; heads
            #    run on real (non-pad) positions only
            x = encoder.encode(sent_wps, MAX_SENT_LEN)
            lengths = np.asarray([len(ws) for ws in sent_wps],
                                 dtype=np.int64)
            tr_flat, et_flat, offs = forward_logits_flat(x, w, lengths)

            # 3) batched M3 pooling: both heads pooled in ONE segmented
            #    pass (column-independent means, so concatenating the two
            #    heads' label axes changes nothing per column), then
            #    per-sentence decode → per-doc flatten (M5)
            n_tr = tr_flat.shape[1]
            cat = np.concatenate([tr_flat, et_flat], axis=1)
            row_ids: list[int] = []
            seg_starts: list[int] = []
            sent_tok_offs = [0]
            for i, maps in enumerate(sent_maps):
                base = int(offs[i])
                for wp_idxs in maps:
                    seg_starts.append(len(row_ids))
                    row_ids.extend(base + j for j in wp_idxs)
                sent_tok_offs.append(sent_tok_offs[-1] + len(maps))
            pooled = pool_wordpieces_flat(
                cat,
                np.asarray(row_ids, dtype=np.int64),
                np.asarray(seg_starts, dtype=np.int64),
            )

            # M2 decode for the WHOLE batch in one nonzero pass per head
            # (identical per-token lists — see decode_labels_flat)
            tr_all = decode_labels_flat(pooled[:, :n_tr], TR_LABELS)
            et_all = decode_labels_flat(pooled[:, n_tr:], ET_LABELS)
            rows: dict[str, list] = {c: [] for c in (
                "url", "subj", "pred", "obj", "subj_types", "obj_types")}
            for i, url in enumerate(sent_url):
                s, e = sent_tok_offs[i], sent_tok_offs[i + 1]
                tr_lab = tr_all[s:e]
                et_lab = et_all[s:e]
                n = min(len(sent_tokens[i]), len(tr_lab))
                for t in tags_to_triples(sent_tokens[i][:n], tr_lab[:n],
                                         et_lab[:n]):
                    rows["url"].append(url)
                    rows["subj"].append(t["subj"])
                    rows["pred"].append(t["pred"])
                    rows["obj"].append(t["obj"])
                    rows["subj_types"].append(t["subj_types"])
                    rows["obj_types"].append(t["obj_types"])
            yield pd.DataFrame(
                {c: pd.Series(v, dtype=object) for c, v in rows.items()}
            )

    return fn


def neural_extract_triples(
    pages: DataFrame, *, num_partitions: int | None = None
) -> DataFrame:
    """pages → typed triples via the BiGRU tagger (joint model path)."""
    from seq2kg_spark.nlp.gru import init_weights

    weights_bc = pages.sparkSession.sparkContext.broadcast(init_weights())
    return clean_pages(pages, num_partitions, 512).mapInPandas(
        _infer_batches(weights_bc, DIM), schema=NEURAL_TRIPLES_SCHEMA
    )
