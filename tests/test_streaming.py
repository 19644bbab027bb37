"""Structured Streaming ingest tests: delta segments match the batch
build; watermarked window agg; stateful first-seen dedup."""

import os

import pyarrow.parquet as pq
import pytest


@pytest.fixture(scope="module")
def stream_dirs(spark, tiny_pages_path, tmp_path_factory):
    """Split the tiny corpus into 3 input files and run the ingest
    stream to completion (availableNow)."""
    import pyarrow as pa

    base = tmp_path_factory.mktemp("stream")
    input_dir = str(base / "in")
    out_dir = str(base / "out")
    ckpt = str(base / "ckpt")
    os.makedirs(input_dir)
    table = pq.read_table(tiny_pages_path)
    n = table.num_rows
    for i, (lo, hi) in enumerate([(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]):
        pq.write_table(table.slice(lo, hi - lo), os.path.join(input_dir, f"part{i}.parquet"))

    from nadry_spark.streaming.ingest import stream_ingest

    q = stream_ingest(spark, input_dir, out_dir, ckpt, max_files_per_trigger=1)
    q.awaitTermination(300)
    return input_dir, out_dir, ckpt


def test_stream_deltas_match_batch_build(spark, stream_dirs, tiny_pages_path):
    from nadry_spark.operators.index_build import build_index
    from nadry_spark.streaming.ingest import compact_deltas

    _, out_dir, _ = stream_dirs
    postings_s, docs_s = compact_deltas(spark, out_dir)
    got = {
        (r["term"], r["doc_id"]): (r["tf"], r["weight"]) for r in postings_s.collect()
    }
    pages = spark.read.parquet(tiny_pages_path)
    postings_b, _ = build_index(pages)
    want = {
        (r["term"], r["doc_id"]): (r["tf"], r["weight"]) for r in postings_b.collect()
    }
    assert got == want
    assert docs_s.count() == 40


def test_stream_resume_is_incremental(spark, stream_dirs):
    """Restarting the ingest with the same checkpoint processes nothing
    new (exactly-once per batch)."""
    from nadry_spark.streaming.ingest import stream_ingest

    input_dir, out_dir, ckpt = stream_dirs
    before = spark.read.parquet(os.path.join(out_dir, "delta_postings")).count()
    q = stream_ingest(spark, input_dir, out_dir, ckpt)
    q.awaitTermination(120)
    after = spark.read.parquet(os.path.join(out_dir, "delta_postings")).count()
    assert after == before


def test_crawl_rate_stats_windowed(spark, stream_dirs):
    from nadry_spark.sources.pages import PAGES_SCHEMA_DDL
    from nadry_spark.streaming.ingest import crawl_rate_stats

    input_dir, _, _ = stream_dirs
    stream = spark.readStream.schema(PAGES_SCHEMA_DDL).parquet(input_dir)
    agg = crawl_rate_stats(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("crawl_stats")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM crawl_stats").collect()
    assert sum(r["n_pages"] for r in rows) == 40
    assert all(r["bytes_in"] > 0 for r in rows)


def test_stateful_first_seen_dedups(spark, stream_dirs, tmp_path_factory):
    """Duplicate urls across files -> only first occurrence emitted."""
    import pyarrow as pa

    base = tmp_path_factory.mktemp("dupstream")
    input_dir = str(base / "in")
    os.makedirs(input_dir)
    from nadry_spark.sources.pages import build_page

    rows = [build_page(i, 10) for i in range(6)]
    dup = [dict(rows[0]), dict(rows[1])]  # re-crawled pages
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), os.path.join(input_dir, "a.parquet"))
    pq.write_table(pa.Table.from_pylist(dup, schema=schema), os.path.join(input_dir, "b.parquet"))

    from nadry_spark.sources.pages import PAGES_SCHEMA_DDL
    from nadry_spark.streaming.ingest import stateful_first_seen

    stream = spark.readStream.schema(PAGES_SCHEMA_DDL).parquet(input_dir)
    out = stateful_first_seen(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("first_seen")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    urls = [r["url"] for r in spark.sql("SELECT url FROM first_seen").collect()]
    assert sorted(urls) == sorted({r["url"] for r in rows})
    assert len(urls) == len(set(urls)) == 6


def test_tiered_compaction_bounds_reads_and_matches_full(
    spark, tiny_pages_path, tmp_path_factory
):
    """Three ingest+finalize cycles with promotion between: results
    stay identical to the full-history fold (== the batch build), and
    the third compaction's L0 read is bounded by the NEWEST batch, not
    3x history (VERDICT r02 #3)."""
    from nadry_spark.operators.index_build import build_index
    from nadry_spark.streaming.ingest import (
        compact_deltas,
        promote_deltas,
        stream_ingest,
    )

    base = tmp_path_factory.mktemp("lsm")
    input_dir = str(base / "in")
    out_dir = str(base / "out")
    ckpt = str(base / "ckpt")
    os.makedirs(input_dir)
    table = pq.read_table(tiny_pages_path)
    n = table.num_rows
    slices = [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]
    cycle_stats = []
    for i, (lo, hi) in enumerate(slices):
        pq.write_table(
            table.slice(lo, hi - lo), os.path.join(input_dir, f"part{i}.parquet")
        )
        q = stream_ingest(spark, input_dir, out_dir, ckpt)
        q.awaitTermination(300)
        stats: dict = {}
        postings, docs = compact_deltas(spark, out_dir, stats=stats)
        assert docs.count() == hi  # every doc ingested so far survives
        cycle_stats.append(stats)
        if i < len(slices) - 1:
            promote_deltas(spark, out_dir)

    # (b) bounded read: cycle 3 scans only the newest batch from L0
    s3 = cycle_stats[-1]
    newest = slices[-1][1] - slices[-1][0]
    assert s3["folded_through"] >= 1
    assert s3["l0_docs_rows"] == newest
    assert s3["l1_docs_rows"] == n - newest
    # cycle 1 had no L1 yet: full-history degradation path
    assert cycle_stats[0]["l1_docs_rows"] == 0

    # (a) identical to the ground-truth batch build over the full corpus
    got = {
        (r["term"], r["doc_id"]): (r["tf"], r["weight"]) for r in postings.collect()
    }
    postings_b, _ = build_index(spark.read.parquet(tiny_pages_path))
    want = {
        (r["term"], r["doc_id"]): (r["tf"], r["weight"]) for r in postings_b.collect()
    }
    assert got == want

    # re-crawl across the tier boundary: re-ingest the FIRST slice; the
    # re-crawled docs supersede their L1 rows, nothing duplicates
    promote_deltas(spark, out_dir)
    pq.write_table(table.slice(0, slices[0][1]), os.path.join(input_dir, "part3.parquet"))
    q = stream_ingest(spark, input_dir, out_dir, ckpt)
    q.awaitTermination(300)
    stats4: dict = {}
    postings4, docs4 = compact_deltas(spark, out_dir, stats=stats4)
    assert docs4.count() == n
    assert stats4["l0_docs_rows"] == slices[0][1]  # only the re-crawl batch
    got4 = {
        (r["term"], r["doc_id"]): (r["tf"], r["weight"]) for r in postings4.collect()
    }
    assert got4 == want


def test_finalize_stream_index_matches_batch_segments(spark, stream_dirs, seg, tmp_path_factory):
    """Streaming deltas finalized into segments answer BM25 queries
    identically to the batch-built segments over the same corpus."""
    from nadry_spark.operators.bm25 import bm25_topk
    from nadry_spark.sources.segments import SegmentIndex
    from nadry_spark.streaming.ingest import finalize_stream_index

    _, out_dir, _ = stream_dirs
    seg_dir = str(tmp_path_factory.mktemp("stream_segments"))
    meta = finalize_stream_index(spark, out_dir, seg_dir, n_shards=4)
    assert meta["n_docs"] == 40

    idx_stream = SegmentIndex(spark, seg_dir)
    idx_batch, _, _ = seg
    for q in ("news report update", "news 2024"):
        a = bm25_topk(idx_stream, q, k=10).collect()
        b = bm25_topk(idx_batch, q, k=10).collect()
        assert [(r["doc_id"], round(r["score"], 10)) for r in a] == [
            (r["doc_id"], round(r["score"], 10)) for r in b
        ], q

    # both writers share one shard writer: the same index content,
    # keyed by doc_id (doc numbering may differ between the two)
    from nadry_spark.operators.codecs import decode_position_lists

    def terms(idx):
        return sorted((r["term"], r["df"]) for r in idx.terms.collect())

    def postings(idx):
        return sorted(
            tuple(r)
            for r in idx.decoded_tf([t for t, _ in terms(idx)])
            .join(idx.docmap.select("doc_no", "doc_id"), "doc_no")
            .select("term", "doc_id", "tf")
            .collect()
        )

    def positions(idx):
        ids = {r["doc_no"]: r["doc_id"] for r in idx.docmap.collect()}
        return {
            (r["term"], ids[r["doc_no"]]): tuple(
                decode_position_lists([r[f"pos_{f}_bin"] or b""], [r[f"n_{f}"]]).tolist()
                for f in ("title", "desc", "body")
            )
            for r in idx.positions.collect()
        }

    assert terms(idx_stream) == terms(idx_batch)
    assert postings(idx_stream) == postings(idx_batch)
    assert positions(idx_stream) == positions(idx_batch)
    for key in ("n_docs", "avgdl"):
        assert idx_stream.meta[key] == idx_batch.meta[key], key
