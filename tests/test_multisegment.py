"""Multi-segment serving: per-segment scoring with global statistics,
k-way merged top-k, tombstoned re-crawls — rank-identical to a fresh
single-segment rebuild of the latest corpus."""

import os

import pyarrow.parquet as pq
import pytest

QUERIES = ["news report update", "table batch value sort", "news 2024"]


def _topk_single(idx, q, **kw):
    from nadry_spark.operators.bm25 import bm25_topk

    return [
        (r["doc_id"], round(r["score"], 9)) for r in bm25_topk(idx, q, **kw).collect()
    ]


def _topk_multi(msi, q, **kw):
    from nadry_spark.operators.bm25 import bm25_topk_multi

    return [
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk_multi(msi, q, **kw).collect()
    ]


@pytest.fixture(scope="module")
def halves(spark, tiny_pages_path, tmp_path_factory):
    """The tiny corpus split in two, one segment built per half."""
    from nadry_spark.sources.segments import build_segments

    base = tmp_path_factory.mktemp("halves")
    table = pq.read_table(tiny_pages_path)
    n = table.num_rows
    paths = []
    for i, (lo, hi) in enumerate([(0, n // 2), (n // 2, n)]):
        pfile = str(base / f"pages{i}.parquet")
        pq.write_table(table.slice(lo, hi - lo), pfile)
        seg = str(base / f"seg{i}")
        build_segments(spark, spark.read.parquet(pfile), seg, n_shards=3, shards_per_job=3)
        paths.append(seg)
    return paths


def test_multi_segment_matches_single(spark, seg, halves):
    """Two half-corpus segments queried together == the one full-corpus
    segment, for both scorers and both match modes (global N/df/avgdl,
    BMW bound inflation for per-segment avgdl drift)."""
    from nadry_spark.sources.segments import MultiSegmentIndex

    idx_single, _, _ = seg
    msi = MultiSegmentIndex(spark, halves)
    assert msi.meta["n_docs"] == idx_single.meta["n_docs"]
    assert msi.meta["avgdl"] == pytest.approx(idx_single.meta["avgdl"], rel=1e-12)
    for q in QUERIES:
        for mode in ("taat", "bmw"):
            for conj in (False, True):
                got = _topk_multi(msi, q, k=10, mode=mode, conjunctive=conj)
                want = _topk_single(idx_single, q, k=10, mode=mode, conjunctive=conj)
                assert got == want, (q, mode, conj)


def _canon(res):
    """A QueryEngine envelope without its timing."""
    return (
        res["totalResults"],
        res["totalPages"],
        res["tokens"],
        [
            (
                r["url"],
                r["title"],
                r["description"],
                round(r["score"], 9),
            )
            for r in res["data"]
        ],
    )


def test_multi_segment_single_path_is_identity(spark, seg):
    """A one-member family answers like its segment on every serving
    operator (BMW block stats included), and a segment is itself a
    family of one: no tombstones, zero df corrections."""
    from nadry_spark.operators.bm25 import bmw_block_stats
    from nadry_spark.operators.boolquery import bool_search
    from nadry_spark.operators.fieldsearch import field_search
    from nadry_spark.operators.spans import span_near_search
    from nadry_spark.plans.query import QueryEngine
    from nadry_spark.sources.segments import MultiSegmentIndex

    idx, _, _ = seg
    msi = MultiSegmentIndex(spark, [idx.path])
    for q in QUERIES[:1]:
        assert _topk_multi(msi, q, k=10) == _topk_single(idx, q, k=10)

    assert idx.segments == [idx]
    assert idx.excluded == [set()] and msi.excluded == [set()]
    terms = ["news", "report", "zzznotaterm"]
    assert idx.df_corrections(terms) == msi.df_corrections(terms) == dict.fromkeys(terms, 0)

    for scoring in ("exact", "bm25"):
        e_idx = QueryEngine(idx, scoring=scoring)
        e_msi = QueryEngine(msi, scoring=scoring)
        for q in ["news report", '"news report"', "table 2024"]:
            a = e_idx.search(q, page=0, page_size=5)
            assert a["data"], ("vacuous envelope case", scoring, q)
            assert _canon(a) == _canon(e_msi.search(q, page=0, page_size=5)), (scoring, q)

    cases = [
        lambda ix: field_search(ix, "news report", "title", k=50),
        lambda ix: field_search(ix, "table 2024", "body", k=50),
        lambda ix: span_near_search(ix, "news report", slop=20, k=500),
        lambda ix: span_near_search(ix, "news report", slop=20, ordered=True, k=500),
        lambda ix: bool_search(ix, "news AND report", k=500),
        lambda ix: bool_search(ix, "(news OR batch) AND NOT update", k=500),
    ]
    for i, case in enumerate(cases):
        want = case(idx).collect()
        assert want, ("vacuous case", i)
        assert case(msi).collect() == want, i

    for q in ["news report update", "news 2024"]:
        want = bmw_block_stats(idx, q, k=10)
        assert want["n_blocks"] > 0, ("vacuous case", q)
        assert bmw_block_stats(msi, q, k=10) == want, q


def test_bmw_block_stats_over_tombstoned_family(spark, halves):
    """bmw_block_stats scores every member of a family, a tombstone
    included: its block total is the family's term_stats block sum."""
    from nadry_spark.functions.tokenizer import tokenize
    from nadry_spark.operators.bm25 import bmw_block_stats
    from nadry_spark.sources.segments import MultiSegmentIndex

    msi = MultiSegmentIndex(spark, halves)
    msi.excluded = [{0}, set()]
    msi._df_corr = {}
    for q in ["news report update", "news 2024"]:
        stats = msi.term_stats(tokenize(q))
        assert stats, ("vacuous case", q)
        got = bmw_block_stats(msi, q, k=10)
        assert got["n_blocks"] == sum(st["n_blocks"] for st in stats.values()), q
        assert 0 <= got["n_decoded"] <= got["n_blocks"], q


def test_query_engine_over_multi_segment(spark, seg, halves):
    """The FULL serving path (exact ranking, phrase mode, snippet
    enrichment, pagination envelope) answers identically over the
    two-segment family and the single full segment."""
    from nadry_spark.plans.query import QueryEngine
    from nadry_spark.sources.segments import MultiSegmentIndex

    idx_single, _, _ = seg
    msi = MultiSegmentIndex(spark, halves)

    for scoring in ("exact", "bm25"):
        e_single = QueryEngine(idx_single, scoring=scoring)
        e_multi = QueryEngine(msi, scoring=scoring)
        for q in ["news report", '"news report"', "table 2024"]:
            a = e_single.search(q, page=0, page_size=5)
            b = e_multi.search(q, page=0, page_size=5)
            if scoring == "bm25" and not q.startswith('"'):
                # bm25 fast path: compare ids+scores (exact-mode fields
                # like relevance aren't produced by this scorer)
                assert [
                    (r["url"], round(r["score"], 9)) for r in a["data"]
                ] == [(r["url"], round(r["score"], 9)) for r in b["data"]], (scoring, q)
            else:
                assert _canon(a) == _canon(b), (scoring, q)


def test_incremental_finalize_with_recrawl(spark, tiny_pages_path, tmp_path_factory):
    """Three incremental cycles + a re-crawl that CHANGES a page: the
    multi-segment family answers rank-identically to a full rebuild of
    the latest corpus; the superseded doc is tombstoned, not
    double-served."""
    import pyarrow as pa

    from nadry_spark.streaming.ingest import (
        finalize_incremental,
        open_serving_index,
        stream_ingest,
    )

    base = tmp_path_factory.mktemp("inc")
    input_dir = str(base / "in")
    out_dir = str(base / "out")
    ckpt = str(base / "ckpt")
    root = str(base / "serving")
    os.makedirs(input_dir)
    table = pq.read_table(tiny_pages_path)
    n = table.num_rows
    slices = [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]

    for i, (lo, hi) in enumerate(slices):
        pq.write_table(table.slice(lo, hi - lo), os.path.join(input_dir, f"p{i}.parquet"))
        stream_ingest(spark, input_dir, out_dir, ckpt, n_shards=2).awaitTermination(300)
        state = finalize_incremental(spark, out_dir, root)
    assert len(state["segments"]) == 3

    # re-crawl: the FIRST page comes back with different content
    first = table.slice(0, 1).to_pylist()[0]
    first["html"] = first["html"] + b"<p>zzrecrawl marker zzrecrawl</p>"
    schema = table.schema
    pq.write_table(
        pa.Table.from_pylist([first], schema=schema), os.path.join(input_dir, "p3.parquet")
    )
    stream_ingest(spark, input_dir, out_dir, ckpt, n_shards=2).awaitTermination(300)
    state = finalize_incremental(spark, out_dir, root)
    assert len(state["segments"]) == 4

    msi = open_serving_index(spark, root)
    # exactly one superseded doc, excluded from exactly one older segment
    assert sum(len(e) for e in msi.excluded) == 1
    assert msi.meta["n_docs"] == n  # live docs: re-crawl replaces, not adds

    # ground truth: a batch build of the latest corpus
    latest = str(base / "latest.parquet")
    pq.write_table(
        pa.concat_tables([pa.Table.from_pylist([first], schema=schema), table.slice(1)]),
        latest,
    )
    full_dir = str(base / "full")
    from nadry_spark.sources.segments import SegmentIndex, build_segments

    build_segments(spark, spark.read.parquet(latest), full_dir, n_shards=4)

    idx_full = SegmentIndex(spark, full_dir)
    for q in QUERIES + ["zzrecrawl marker"]:
        for mode in ("taat", "bmw"):
            got = _topk_multi(msi, q, k=10, mode=mode)
            want = _topk_single(idx_full, q, k=10, mode=mode)
            assert got == want, (q, mode)
    # the re-crawled content is served from the NEW segment
    hit = _topk_multi(msi, "zzrecrawl", k=5)
    assert len(hit) == 1

    # forced-merge (compact_serving): family folds to ONE segment with
    # identical answers; old segment dirs are GC'd after the state swap.
    # First backfill a sentinel popularity into segment 0 — the merge
    # must PRESERVE it (a new build would otherwise reset it to 0).
    import shutil

    from pyspark.sql import functions as F

    from nadry_spark.streaming.ingest import compact_serving

    seg0_dir = os.path.join(root, state["segments"][0])
    dm0 = spark.read.parquet(os.path.join(seg0_dir, "docmap"))
    seg0_ids = {r["doc_id"] for r in dm0.select("doc_id").collect()}
    dm0.withColumn("popularity_score", F.lit(0.25)).write.mode("overwrite").parquet(
        os.path.join(seg0_dir, "docmap_tmp")
    )
    shutil.rmtree(os.path.join(seg0_dir, "docmap"))
    os.replace(os.path.join(seg0_dir, "docmap_tmp"), os.path.join(seg0_dir, "docmap"))

    old_names = set(state["segments"])
    state2 = compact_serving(spark, out_dir, root, n_shards=4)
    assert len(state2["segments"]) == 1
    for name in old_names:
        assert not os.path.exists(os.path.join(root, name))
    msi2 = open_serving_index(spark, root)
    assert sum(len(e) for e in msi2.excluded) == 0  # tombstones folded away
    for q in QUERIES + ["zzrecrawl marker"]:
        assert _topk_multi(msi2, q, k=10) == _topk_single(idx_full, q, k=10), q
    # popularity survived the merge for segment-0 docs (incl. the
    # re-crawled url — popularity is a url property), 0.0 elsewhere
    pops = {
        r["doc_id"]: r["popularity_score"]
        for r in msi2.segments[0].docmap.select("doc_id", "popularity_score").collect()
    }
    for did, p in pops.items():
        assert p == (0.25 if did in seg0_ids else 0.0), did

    # a second compaction with no new batches changes nothing: the
    # state, the live segment's files and the answers all stay
    seg_meta = os.path.join(root, state2["segments"][0], "meta.json")
    inode = os.stat(seg_meta).st_ino
    before = {q: _topk_multi(msi2, q, k=10) for q in QUERIES}
    assert compact_serving(spark, out_dir, root, n_shards=4) == state2
    assert os.stat(seg_meta).st_ino == inode
    msi3 = open_serving_index(spark, root)
    for q in QUERIES:
        assert _topk_multi(msi3, q, k=10) == before[q], q


def test_df_corrections_colliding_doc_nos(spark, halves):
    """Per-segment doc_no spaces all start at 0: tombstoned docs in
    DIFFERENT segments sharing a doc_no value must each count toward
    the df correction (regression: countDistinct(doc_no) over the
    cross-segment union collapsed them, undercounting and skewing
    multi-segment BM25 idf)."""
    from pyspark.sql import functions as F

    from nadry_spark.sources.segments import MultiSegmentIndex

    msi = MultiSegmentIndex(spark, halves)

    # find a term present in doc_no 0 of BOTH segments
    def terms_in_doc0(seg):
        cands = [
            r["term"]
            for r in seg.blocks.where(F.col("min_doc_no") == 0)
            .select("term")
            .distinct()
            .collect()
        ]
        hit = seg.decoded_tf(cands).where(F.col("doc_no") == 0)
        return {r["term"] for r in hit.select("term").distinct().collect()}

    common = terms_in_doc0(msi.segments[0]) & terms_in_doc0(msi.segments[1])
    assert common, "fixture corpora share no term in doc 0 — rebuild fixture"
    term = sorted(common)[0]

    # tombstone doc_no 0 in BOTH segments (colliding values)
    msi.excluded = [{0}, {0}]
    msi._df_corr = {}
    got = msi.df_corrections([term])
    assert got[term] == 2, got


def test_span_and_bool_parity_multisegment(spark, seg, halves):
    """Round-4 serving surfaces over a MultiSegmentIndex: span-near and
    boolean-tree search return the same ranked results as the single
    full-corpus segment (disjoint doc spaces, per-segment union)."""
    from nadry_spark.operators.boolquery import bool_search
    from nadry_spark.operators.spans import span_near_search
    from nadry_spark.sources.segments import MultiSegmentIndex

    idx_single, _, _ = seg
    msi = MultiSegmentIndex(spark, halves)

    for q, slop, ordered in [
        ("news report", 20, False),
        ("news report update", 30, False),
        ("news report", 20, True),
    ]:
        want = [
            (r["doc_id"], r["min_window"])
            for r in span_near_search(
                idx_single, q, slop=slop, ordered=ordered, k=500
            ).collect()
        ]
        got = [
            (r["doc_id"], r["min_window"])
            for r in span_near_search(
                msi, q, slop=slop, ordered=ordered, k=500
            ).collect()
        ]
        assert want, ("vacuous span parity case", q, slop, ordered)
        assert got == want, (q, slop, ordered)

    for bq in [
        "news AND report",
        "news OR batch",
        "news AND NOT report",
        "(news OR batch) AND update",
    ]:
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in bool_search(idx_single, bq, k=500).collect()
        ]
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in bool_search(msi, bq, k=500).collect()
        ]
        assert want, ("vacuous bool parity case", bq)
        assert got == want, bq


def test_anchor_boost_multi_matches_single(spark, seg, halves, tiny_pages_path):
    """Anchor-boosted ranking over the two-half family equals the
    boosted single full segment (anchors backfilled into all three)."""
    import os

    from pyspark.sql import functions as F

    from nadry_spark.functions.udfs import anchor_links_udf
    from nadry_spark.operators.anchors import (
        anchor_boosted_topk,
        anchor_boosted_topk_multi,
        anchor_term_index_tokenized,
    )
    from nadry_spark.sources.segments import MultiSegmentIndex, SegmentIndex

    idx_single, _, _ = seg
    pages = spark.read.parquet(tiny_pages_path)
    links = pages.select(
        "url", F.explode(anchor_links_udf("html", "url")).alias("l")
    ).select(F.col("url").alias("src"), "l.dst", "l.anchor")
    at = anchor_term_index_tokenized(links).localCheckpoint()

    for seg_dir in [idx_single.path] + list(halves):
        si = SegmentIndex(spark, seg_dir)
        rows = (
            si.docmap.select("doc_no", F.col("url").alias("dst"))
            .join(at, "dst")
            .select("doc_no", "term", "tf", "n_srcs")
        )
        rows.write.mode("overwrite").parquet(os.path.join(seg_dir, "anchors"))

    msi = MultiSegmentIndex(spark, list(halves))
    for q in QUERIES[:2]:
        got = [
            (r["doc_id"], r["score"])
            for r in anchor_boosted_topk_multi(msi, q, k=10, weight=0.5).collect()
        ]
        want = [
            (r["doc_id"], r["score"])
            for r in anchor_boosted_topk(idx_single, q, k=10, weight=0.5).collect()
        ]
        assert got == want, q
