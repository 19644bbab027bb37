"""Segment build + BM25 query correctness (SURVEY.md §5 items 3/7)."""

import math
import os

import pyarrow.parquet as pq
import pytest

from tests.oracle import oracle_index


def _bm25_oracle(idx, o_postings, o_docs, tokens, k=10, conjunctive=False):
    from nadry_spark.operators.bm25 import bm25_idf, bm25_tfnorm
    import numpy as np

    docmap = {r["doc_id"]: r for r in idx.docmap.collect()}
    n_docs = idx.meta["n_docs"]
    avgdl = idx.meta["avgdl"]
    terms = sorted(set(tokens))
    df = {t: sum(1 for (tt, _d) in o_postings if tt == t) for t in terms}
    terms = [t for t in terms if df[t] > 0]
    if conjunctive and len(terms) < len(sorted(set(tokens))):
        return []
    scores, hits = {}, {}
    for (t, d), p in o_postings.items():
        if t in terms:
            dl = o_docs[d]["total_words"]
            tfn = bm25_tfnorm(
                np.array([p["tf"]]), np.array([dl]), avgdl, idx.meta["k1"], idx.meta["b"]
            )[0]
            scores[d] = scores.get(d, 0.0) + bm25_idf(n_docs, df[t]) * tfn
            hits[d] = hits.get(d, 0) + 1
    if conjunctive:
        scores = {d: s for d, s in scores.items() if hits[d] == len(terms)}
    rows = [(docmap[d]["doc_no"], d, s) for d, s in scores.items()]
    rows.sort(key=lambda r: (-r[2], r[0]))
    return rows[:k]


def test_meta_and_manifest(seg):
    idx, _, o_docs = seg
    assert idx.meta["n_docs"] == len(o_docs)
    from nadry_spark.sources.segments import read_manifest

    m = read_manifest(idx.path)
    done = [s for s, e in m.items() if s >= 0 and e["status"] == "done"]
    assert sorted(done) == [0, 1, 2, 3]
    assert all(m[s]["n_postings"] > 0 for s in done)


def test_blocks_roundtrip_vs_oracle(seg):
    from nadry_spark.operators.codecs import decode_posting_block

    idx, o_postings, o_docs = seg
    docmap = {r["doc_no"]: r for r in idx.docmap.collect()}
    got = {}
    for r in idx.blocks.collect():
        doc_nos, tfs, dls = decode_posting_block(r["docs_bin"], r["tfs_bin"], r["dls_bin"])
        for dn, tf, dl in zip(doc_nos, tfs, dls):
            d = docmap[int(dn)]
            got[(r["term"], d["doc_id"])] = (int(tf), int(dl))
    want = {
        (t, d): (p["tf"], o_docs[d]["total_words"]) for (t, d), p in o_postings.items()
    }
    assert got == want


def test_bmw_block_stats_counts_decodes(spark, seg):
    from nadry_spark.operators.bm25 import bmw_block_stats

    idx, o_postings, _ = seg
    s = bmw_block_stats(idx, "news report", k=10)
    assert s["n_blocks"] > 0
    assert 0 < s["n_decoded"] <= s["n_blocks"]
    assert s["skip_rate"] == round(1 - s["n_decoded"] / s["n_blocks"], 3)
    assert bmw_block_stats(idx, "zzznotaterm") == {
        "n_blocks": 0, "n_decoded": 0, "skip_rate": 0.0
    }
    # a conjunctive query missing a term is never scored
    assert bmw_block_stats(idx, "news zzznotaterm", conjunctive=True) == {
        "n_blocks": 0, "n_decoded": 0, "skip_rate": 0.0
    }


def test_positions_vs_oracle(seg):
    from nadry_spark.operators.codecs import decode_position_lists

    idx, o_postings, _ = seg
    docmap = {r["doc_no"]: r["doc_id"] for r in idx.docmap.collect()}
    pos_rows = idx.positions.collect()

    def dec(r, bcol, ncol):
        return decode_position_lists([r[bcol] or b""], [r[ncol]]).tolist()

    got = {
        (r["term"], docmap[r["doc_no"]]): (
            dec(r, "pos_title_bin", "n_title"),
            dec(r, "pos_desc_bin", "n_desc"),
            dec(r, "pos_body_bin", "n_body"),
        )
        for r in pos_rows
    }
    want = {
        k: (
            sorted(p["positions"]["title"]),
            sorted(p["positions"]["description"]),
            sorted(p["positions"]["body"]),
        )
        for k, p in o_postings.items()
    }
    assert got == want


@pytest.mark.parametrize("conjunctive", [False, True])
def test_bm25_taat_matches_oracle(spark, seg, conjunctive):
    from nadry_spark.functions.tokenizer import tokenize
    from nadry_spark.operators.bm25 import bm25_topk

    idx, o_postings, o_docs = seg
    from collections import Counter

    cnt = Counter(t for t, _ in o_postings)
    common = [t for t, _ in cnt.most_common(30) if ":" not in t][:3]
    query = " ".join(common)
    tokens = tokenize(query)
    got = bm25_topk(idx, query, k=10, mode="taat", conjunctive=conjunctive).collect()
    want = _bm25_oracle(idx, o_postings, o_docs, tokens, k=10, conjunctive=conjunctive)
    assert [(r["doc_no"], r["doc_id"]) for r in got] == [(w[0], w[1]) for w in want]
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w[2], rel=1e-12)


@pytest.mark.parametrize("conjunctive", [False, True])
def test_bmw_equals_taat(spark, seg, conjunctive):
    from collections import Counter

    from nadry_spark.operators.bm25 import bm25_topk

    idx, o_postings, _ = seg
    cnt = Counter(t for t, _ in o_postings)
    ranked = [t for t, _ in cnt.most_common(60) if ":" not in t]
    queries = [
        " ".join(ranked[:2]),
        " ".join(ranked[:4]),
        " ".join([ranked[0], ranked[40]]),
        ranked[5],
    ]
    for q in queries:
        taat = bm25_topk(idx, q, k=5, mode="taat", conjunctive=conjunctive).collect()
        bmw = bm25_topk(idx, q, k=5, mode="bmw", conjunctive=conjunctive).collect()
        assert [(r["doc_no"], round(r["score"], 10)) for r in taat] == [
            (r["doc_no"], round(r["score"], 10)) for r in bmw
        ], q


def test_unknown_and_stopword_queries(seg):
    from nadry_spark.operators.bm25 import bm25_topk

    idx, _, _ = seg
    assert bm25_topk(idx, "zzzznotaterm").collect() == []
    assert bm25_topk(idx, "the and of").collect() == []
    assert bm25_topk(idx, "zzzznotaterm", conjunctive=True).collect() == []


def test_k_below_one_is_empty_without_a_job(spark, seg):
    """k < 1 (e.g. a CLI page size of 0) returns the empty frame at
    every entry point without running a Spark job — BMW's heap would
    otherwise be read while empty."""
    from nadry_spark.operators.bm25 import (
        bm25_queryset_topk, bm25_topk, bmw_block_stats,
    )

    idx, _, _ = seg
    sc = spark.sparkContext
    sc.setJobGroup("bm25-k-below-one", "k < 1 entry points")
    try:
        for k in (0, -1):
            for mode in ("taat", "bmw"):
                for conjunctive in (False, True):
                    assert bm25_topk(idx, "news report", k=k, mode=mode,
                                     conjunctive=conjunctive).collect() == []
            assert bm25_queryset_topk(idx, {1: "news report"}, k=k).collect() == []
            assert bmw_block_stats(idx, "news report", k=k)["n_decoded"] == 0
        assert list(sc.statusTracker().getJobIdsForGroup("bm25-k-below-one")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_resume_rebuilds_only_missing_shards(spark, tiny_pages_path, seg):
    """Simulate a crash after shard group 0: manifest entries for shards
    2,3 missing -> resume rebuilds exactly those, result unchanged."""
    from nadry_spark.operators.bm25 import bm25_topk
    from nadry_spark.sources.segments import SegmentIndex, build_segments, read_manifest

    idx, o_postings, o_docs = seg
    before = bm25_topk(idx, "news report", k=10).collect()

    for s in (2, 3):
        os.remove(os.path.join(idx.path, "manifest", f"shard_{s}.json"))
    assert {s for s in read_manifest(idx.path) if s >= 0} == {0, 1}

    pages = spark.read.parquet(tiny_pages_path)
    build_segments(spark, pages, idx.path, n_shards=4, shards_per_job=2, resume=True)
    m = read_manifest(idx.path)
    assert {s for s in m if s >= 0} == {0, 1, 2, 3}

    idx2 = SegmentIndex(spark, idx.path)
    after = bm25_topk(idx2, "news report", k=10).collect()
    assert [(r["doc_no"], r["score"]) for r in after] == [
        (r["doc_no"], r["score"]) for r in before
    ]


def test_segment_index_rejects_other_codec(spark, tmp_path):
    """A segment whose meta.json names any block format but varint is
    refused on open instead of decoding its blocks as varints."""
    import json

    from nadry_spark.sources.segments import SegmentIndex

    meta = {"n_docs": 1, "avgdl": 1.0, "n_shards": 1, "shard_size": 1,
            "block_size": 128, "k1": 1.2, "b": 0.75, "codec": "pfor"}
    (tmp_path / "meta.json").write_text(json.dumps(meta))
    with pytest.raises(ValueError, match="pfor"):
        SegmentIndex(spark, str(tmp_path))


def test_build_keeps_latest_capture_per_url(spark, tmp_path):
    """A url captured twice in one build is ONE document, built from its
    latest capture (the reference keeps one Documents row per url)."""
    import datetime as dt

    import pyarrow as pa

    from nadry_spark.operators.bm25 import bm25_topk
    from nadry_spark.sources.pages import PAGES_SCHEMA_DDL, build_page
    from nadry_spark.sources.segments import SegmentIndex, build_segments

    rows = [build_page(i, 10) for i in range(6)]
    later = dict(
        rows[2],
        warc_ts=rows[2]["warc_ts"] + dt.timedelta(days=1),
        html=rows[2]["html"] + b"<p>zzlater capture</p>",
    )
    pages = spark.createDataFrame([later] + rows, PAGES_SCHEMA_DDL)
    out = str(tmp_path / "seg")
    meta = build_segments(spark, pages, out, n_shards=2)
    assert meta["n_docs"] == 6
    idx = SegmentIndex(spark, out)
    urls = [r["url"] for r in idx.docmap.select("url").collect()]
    assert sorted(urls) == sorted(r["url"] for r in rows)
    hit = bm25_topk(idx, "zzlater", k=10).collect()
    assert [r["url"] for r in hit] == [rows[2]["url"]]
