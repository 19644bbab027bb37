"""Segment-native batch serving (operators/bm25.bm25_queryset_topk):
per-query rows must be IDENTICAL to bm25_topk(mode="taat") — the
contract that lets an eval harness or LTR exporter switch from Q
serving calls to one job."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    from nadry_spark.sources.pages import pages_dataframe
    from nadry_spark.sources.segments import SegmentIndex, build_segments

    out = str(tmp_path_factory.mktemp("qset") / "segments")
    pages = pages_dataframe(spark, 400, partitions=8)
    build_segments(spark, pages, out, n_shards=8, shards_per_job=8)
    return SegmentIndex(spark, out).warm()


QUERIES = {
    1: "news report update",
    2: "table batch value sort",
    3: "news 2024",
    4: "zzzunseen términos",          # tokenizes to nothing in-index
    5: "report",
}


def _rows(df):
    return [
        (r["doc_id"], r["url"], r["doc_no"], round(r["score"], 9))
        for r in df.orderBy(F.desc("score"), F.asc("doc_no")).collect()
    ]


def test_queryset_matches_serving_per_query(spark, idx):
    from nadry_spark.operators.bm25 import bm25_queryset_topk, bm25_topk

    batch = bm25_queryset_topk(idx, QUERIES, k=10)
    got = {
        qid: _rows(batch.where(F.col("query_id") == qid).drop("query_id"))
        for qid in QUERIES
    }
    for qid, q in QUERIES.items():
        want = _rows(bm25_topk(idx, q, k=10, mode="taat"))
        assert got[qid] == want, f"query {qid!r} diverged"


def test_queryset_conjunctive_missing_term_empty(spark, idx):
    from nadry_spark.operators.bm25 import bm25_queryset_topk, bm25_topk

    qs = {1: "news report", 2: "news zzzunseen"}
    batch = bm25_queryset_topk(idx, qs, k=10, conjunctive=True)
    assert batch.where(F.col("query_id") == 2).count() == 0
    want = bm25_topk(idx, "news report", k=10, mode="taat", conjunctive=True)
    got = batch.where(F.col("query_id") == 1).drop("query_id")
    assert _rows(got) == _rows(want)


def test_queryset_multi_matches_serving_per_query(spark, idx, tmp_path_factory):
    """Multi-segment batch == bm25_topk_multi per query, across a
    2-segment family (global stats, per-segment scoring, doc_id-asc
    merge ties)."""
    import pyarrow.parquet as paq

    from nadry_spark.operators.bm25 import bm25_queryset_topk_multi, bm25_topk_multi
    from nadry_spark.sources.pages import pages_dataframe
    from nadry_spark.sources.segments import MultiSegmentIndex, build_segments

    base = tmp_path_factory.mktemp("qset_multi")
    pdir = str(base / "pages_parquet")
    pages_dataframe(spark, 300, partitions=4).coalesce(1).write.parquet(pdir)
    table = paq.read_table(pdir)
    n = table.num_rows
    paths = []
    for i, (lo, hi) in enumerate([(0, n // 2), (n // 2, n)]):
        part = str(base / f"pages{i}.parquet")
        # microsecond warc_ts: the build reads it (latest capture per
        # url), and Spark cannot read the nanoseconds pyarrow would write
        paq.write_table(table.slice(lo, hi - lo), part, coerce_timestamps="us")
        seg = str(base / f"seg{i}")
        build_segments(spark, spark.read.parquet(part), seg, n_shards=3, shards_per_job=3)
        paths.append(seg)
    msi = MultiSegmentIndex(spark, paths)

    batch = bm25_queryset_topk_multi(msi, QUERIES, k=10)
    got = {
        qid: [
            (r["doc_id"], round(r["score"], 9))
            for r in batch.where(F.col("query_id") == qid)
            .orderBy(F.desc("score"), F.asc("doc_id")).collect()
        ]
        for qid in QUERIES
    }
    for qid, q in QUERIES.items():
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in bm25_topk_multi(msi, q, k=10, mode="taat").collect()
        ]
        assert got[qid] == want, f"query {qid!r} diverged in multi-segment batch"


def test_queryset_scan_is_term_union_pruned(spark, idx):
    """The blocks scan must carry a term-membership filter (the
    term-pruned read is the point of the batch path)."""
    from nadry_spark.operators.bm25 import bm25_queryset_topk

    df = bm25_queryset_topk(idx, {1: "news report"}, k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "term" in plan
