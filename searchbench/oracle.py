"""Independent result checks for the benchmark.

``Reference`` re-scores queries with numpy, with no Spark involved:
BM25 with idf ``ln(1 + (N - df + 0.5) / (df + 0.5))`` and the
unweighted tf summed over title, description and body. It also finds
the documents that hold a phrase as consecutive tokens of one field.
It is built either from a segment directory's ``docs_tokens`` table
and ``meta.json`` (read with pyarrow), or from page rows extracted and
tokenized on the driver. Scores compare at a tolerance of 1e-9, and a
tie may surface either of its members.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

TOL = 1e-9
FIELDS = ("tokens_title", "tokens_desc", "tokens_body")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, files in os.walk(path) for f in files
    )


def close(a: float, b: float) -> bool:
    return abs(a - b) <= TOL * max(1.0, abs(a), abs(b))


class Reference:
    """BM25 and phrase matching over ``docs``: (key, (title, desc,
    body) token lists) pairs, keyed by doc_no or doc_id."""

    def __init__(self, docs: list[tuple[object, tuple]], k1: float, b: float):
        self.keys = [k for k, _ in docs]
        self.fields = [f for _, f in docs]
        self.dl = np.asarray([sum(len(t) for t in f) for f in self.fields], dtype=np.float64)
        self.n_docs, self.k1, self.b = len(docs), k1, b
        self.avgdl = float(self.dl.sum()) / self.n_docs
        postings: dict[str, tuple[list[int], list[int]]] = {}
        for row, fields in enumerate(self.fields):
            for term, tf in Counter(t for toks in fields for t in toks).items():
                rows, tfs = postings.setdefault(term, ([], []))
                rows.append(row)
                tfs.append(tf)
        self.postings = {t: (np.asarray(r), np.asarray(f, dtype=np.float64)) for t, (r, f) in postings.items()}

    def bm25(self, tokens: list[str]) -> list[tuple[float, object]]:
        """Every matching doc as (score, key), best first, ties by key."""
        k1, b = self.k1, self.b
        scores = np.zeros(self.n_docs)
        hit = np.zeros(self.n_docs, dtype=bool)
        for term in sorted(set(tokens)):
            if term not in self.postings:
                continue
            rows, tfs = self.postings[term]
            df = len(rows)
            idf = math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))
            scores[rows] += idf * tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * self.dl[rows] / self.avgdl))
            hit[rows] = True
        ranked = [(float(scores[i]), self.keys[i]) for i in np.nonzero(hit)[0]]
        ranked.sort(key=lambda x: (-x[0], x[1]))
        return ranked

    def phrase_docs(self, tokens: list[str]) -> set:
        """Keys of docs with ``tokens`` at consecutive positions of one field."""
        n = len(tokens)
        return {
            key for key, fields in zip(self.keys, self.fields)
            if any(list(toks[p:p + n]) == tokens for toks in fields for p in range(len(toks) - n + 1))
        }


def from_segment(seg_dir: str) -> tuple[Reference, dict]:
    """Reference over a built segment, keyed by doc_no; also returns
    the segment's doc_id -> doc_no map."""
    with open(os.path.join(seg_dir, "meta.json")) as f:
        meta = json.load(f)
    t = pq.read_table(os.path.join(seg_dir, "docs_tokens"), columns=["doc_no", *FIELDS]).to_pydict()
    docs = [(int(d), tuple(t[c][i] for c in FIELDS)) for i, d in enumerate(t["doc_no"])]
    ref = Reference(docs, meta["k1"], meta["b"])
    if ref.n_docs != meta["n_docs"] or not close(ref.avgdl, meta["avgdl"]):
        raise ValueError(f"{seg_dir}: docs_tokens disagree with meta.json")
    dm = pq.read_table(os.path.join(seg_dir, "docmap"), columns=["doc_no", "doc_id"]).to_pydict()
    return ref, dict(zip(dm["doc_id"], dm["doc_no"]))


def from_pages(extracted: list[tuple[str, tuple] | None], k1: float, b: float) -> Reference:
    """Reference over pages already extracted and tokenized on the
    driver (see ``extract_tokens``), keyed by doc_id."""
    return Reference([d for d in extracted if d is not None], k1, b)


def extract_tokens(page: dict, process_document, tokenize):
    """(doc_id, field tokens) of one page the way the index build sees
    it: sha256(url) ids, and pages without extractable content dropped."""
    doc = process_document(page["html"].decode("utf-8"), page["url"])
    if doc is None or doc.get("content") is None:
        return None
    fields = tuple(tokenize(doc[k]) for k in ("title", "description", "content"))
    return hashlib.sha256(page["url"].encode("utf-8")).hexdigest(), fields


def same_ranking(got: list[tuple[float, object]], want: list[tuple[float, object]],
                 score_of: dict) -> bool:
    """``got`` and ``want`` are (score, key) lists in rank order. They
    agree when they have the same length, the scores match rank by rank,
    and every returned key carries its own reference score (so a tie at
    the cut-off may surface either member)."""
    if len(got) != len(want):
        return False
    for (gs, gk), (ws, _) in zip(got, want):
        if not close(gs, ws) or gk not in score_of or not close(score_of[gk], gs):
            return False
    return True
