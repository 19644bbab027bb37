"""Structured Streaming ingest tests: each micro-batch lands as a
segment equal to the batch build; publish and merge keep the family
equal to the batch build of the latest corpus; watermarked window agg;
stateful first-seen dedup."""

import os
import shutil

import pyarrow.parquet as pq
import pytest


def _ingest(spark, table, base, slices, start=0):
    """Write one input file per (lo, hi) slice of ``table`` (named from
    ``start`` on) and run the ingest stream, one file per micro-batch."""
    from nadry_spark.streaming.ingest import stream_ingest

    input_dir, out_dir, ckpt = (str(base / d) for d in ("in", "out", "ckpt"))
    os.makedirs(input_dir, exist_ok=True)
    for i, (lo, hi) in enumerate(slices, start):
        pq.write_table(table.slice(lo, hi - lo), os.path.join(input_dir, f"part{i}.parquet"))
    q = stream_ingest(spark, input_dir, out_dir, ckpt, max_files_per_trigger=1)
    q.awaitTermination(300)
    return input_dir, out_dir, ckpt


def _thirds(n):
    return [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]


@pytest.fixture(scope="module")
def stream_dirs(spark, tiny_pages_path, tmp_path_factory):
    """Split the tiny corpus into 3 input files and run the ingest
    stream to completion (availableNow): 3 staged batch segments."""
    table = pq.read_table(tiny_pages_path)
    return _ingest(spark, table, tmp_path_factory.mktemp("stream"), _thirds(table.num_rows))


def _staged(out_dir):
    staged = os.path.join(out_dir, "staged")
    return [os.path.join(staged, n) for n in sorted(os.listdir(staged))]


def _copy_out(stream_dirs, tmp_path):
    """A private copy of the module stream's output: publishing moves
    the staged segments away."""
    out_dir = str(tmp_path / "out")
    shutil.copytree(stream_dirs[1], out_dir)
    return out_dir, str(tmp_path / "serving")


def _index(idx, dead=frozenset()):
    """A segment's index keyed by doc_id (doc numbering differs between
    builds), tombstoned doc_nos left out: ({(term, doc_id): tf}
    decoded from the blocks, {(term, doc_id): (title, desc, body)
    position lists})."""
    from nadry_spark.operators.codecs import decode_position_lists

    ids = {r["doc_no"]: r["doc_id"] for r in idx.docmap.select("doc_no", "doc_id").collect()}
    terms = [r["term"] for r in idx.terms.select("term").collect()]
    postings = {
        (r["term"], ids[r["doc_no"]]): r["tf"]
        for r in idx.decoded_tf(terms).collect()
        if r["doc_no"] not in dead
    }
    positions = {
        (r["term"], ids[r["doc_no"]]): tuple(
            decode_position_lists([r[f"pos_{f}_bin"] or b""], [r[f"n_{f}"]]).tolist()
            for f in ("title", "desc", "body")
        )
        for r in idx.positions.collect()
        if r["doc_no"] not in dead
    }
    return postings, positions


def _family_index(segs, excluded=None):
    """_index over a family: each live doc lives in exactly one member."""
    postings, positions = {}, {}
    for i, s in enumerate(segs):
        p, q = _index(s, excluded[i] if excluded else frozenset())
        assert not p.keys() & postings.keys()
        postings.update(p)
        positions.update(q)
    return postings, positions


def test_stream_deltas_match_batch_build(spark, stream_dirs, seg):
    """Each micro-batch lands as one segment built by build_segments:
    together the staged segments hold exactly the batch build's
    decoded postings and positions."""
    from nadry_spark.sources.segments import SegmentIndex

    _, out_dir, _ = stream_dirs
    staged = [SegmentIndex(spark, d) for d in _staged(out_dir)]
    assert len(staged) == 3
    assert sum(s.meta["n_docs"] for s in staged) == 40
    assert _family_index(staged) == _index(seg[0])


def test_stream_resume_is_incremental(spark, stream_dirs):
    """Restarting the ingest with the same checkpoint processes nothing
    new (exactly-once per batch): the staged segments stay as they
    are."""
    from nadry_spark.streaming.ingest import stream_ingest

    input_dir, out_dir, ckpt = stream_dirs

    def listing():
        return sorted(
            (os.path.join(r, f), os.stat(os.path.join(r, f)).st_mtime_ns)
            for r, _, files in os.walk(os.path.join(out_dir, "staged"))
            for f in files
        )

    before = listing()
    q = stream_ingest(spark, input_dir, out_dir, ckpt)
    q.awaitTermination(120)
    assert listing() == before


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


def test_finalize_publishes_new_batches_and_matches_full(spark, tiny_pages_path, seg, tmp_path_factory):
    """Three ingest + finalize cycles, then a re-crawl of the first
    slice: each finalize publishes only the new batch, the re-crawl
    tombstones exactly the first slice's docs, and the family's live
    index equals the batch build of the latest corpus."""
    from nadry_spark.sources.segments import SegmentIndex
    from nadry_spark.streaming.ingest import finalize_incremental, open_serving_index

    base = tmp_path_factory.mktemp("lsm")
    root = str(base / "serving")
    table = pq.read_table(tiny_pages_path)
    n = table.num_rows
    slices = _thirds(n) + [(0, n // 3)]
    for i, (lo, hi) in enumerate(slices):
        _, out_dir, _ = _ingest(spark, table, base, [(lo, hi)], start=i)
        state = finalize_incremental(spark, out_dir, root)
        assert state["finalized_through"] == i
        assert len(state["segments"]) == i + 1
        newest = SegmentIndex(spark, os.path.join(root, state["segments"][-1]))
        assert newest.meta["n_docs"] == hi - lo

    idx_batch, _, _ = seg
    msi = open_serving_index(spark, root)
    assert msi.excluded == [set(range(n // 3)), set(), set(), set()]
    assert msi.meta["n_docs"] == n
    assert msi.meta["avgdl"] == pytest.approx(idx_batch.meta["avgdl"], rel=1e-12)
    assert _family_index(msi.segments, msi.excluded) == _index(idx_batch)


def test_compacted_stream_matches_batch_segments(spark, stream_dirs, seg, tmp_path):
    """Streamed segments, published and merged into one segment, answer
    BM25 queries identically to the batch-built segment over the same
    corpus and hold the same index: terms, decoded postings, positions,
    n_docs and avgdl."""
    from nadry_spark.operators.bm25 import bm25_topk
    from nadry_spark.sources.segments import SegmentIndex
    from nadry_spark.streaming.ingest import compact_serving, finalize_incremental

    out_dir, root = _copy_out(stream_dirs, tmp_path)
    assert len(finalize_incremental(spark, out_dir, root)["segments"]) == 3
    state = compact_serving(spark, out_dir, root, n_shards=4)
    idx_stream = SegmentIndex(spark, os.path.join(root, state["segments"][0]))
    assert idx_stream.meta["n_docs"] == 40

    idx_batch, _, _ = seg
    for q in ("news report update", "news 2024"):
        a = bm25_topk(idx_stream, q, k=10).collect()
        b = bm25_topk(idx_batch, q, k=10).collect()
        assert [(r["doc_id"], round(r["score"], 10)) for r in a] == [
            (r["doc_id"], round(r["score"], 10)) for r in b
        ], q

    def terms(idx):
        return sorted((r["term"], r["df"]) for r in idx.terms.collect())

    assert terms(idx_stream) == terms(idx_batch)
    assert _index(idx_stream) == _index(idx_batch)
    for key in ("n_docs", "avgdl"):
        assert idx_stream.meta[key] == idx_batch.meta[key], key


def test_finalize_stops_at_uncommitted_batch(spark, stream_dirs, tmp_path):
    """A staged batch whose build has not committed (a shard's manifest
    row missing) is not published and the watermark stops before it,
    so the committed batch after it waits too; once it commits, the
    next finalize publishes both."""
    from nadry_spark.streaming.ingest import finalize_incremental, open_serving_index

    out_dir, root = _copy_out(stream_dirs, tmp_path)
    _, b1, b2 = _staged(out_dir)
    row = os.path.join(b1, "manifest", "shard_0.json")
    os.rename(row, row + ".held")
    assert finalize_incremental(spark, out_dir, root) == {
        "finalized_through": 0, "segments": ["seg_0_0"]
    }
    assert os.path.isdir(b1) and os.path.isdir(b2)

    os.rename(row + ".held", row)
    assert finalize_incremental(spark, out_dir, root) == {
        "finalized_through": 2, "segments": ["seg_0_0", "seg_1_1", "seg_2_2"]
    }
    assert _staged(out_dir) == []
    # published segments drop the build's resume cache
    assert not os.path.exists(os.path.join(root, "seg_1_1", "docs_tokens"))
    assert open_serving_index(spark, root).meta["n_docs"] == 40


def test_finalize_recovers_from_crash_before_state_swap(spark, stream_dirs, tmp_path, monkeypatch):
    """A publish that dies after moving its segments into the serving
    root but before the serving_state.json swap leaves the family as it
    was; the next finalize publishes the moved batches."""
    from nadry_spark.streaming import ingest

    out_dir, root = _copy_out(stream_dirs, tmp_path)
    write = ingest._write_json

    def crash_on_state(path, obj):
        if path.endswith("serving_state.json"):
            raise OSError("crash before the state swap")
        write(path, obj)

    monkeypatch.setattr(ingest, "_write_json", crash_on_state)
    with pytest.raises(OSError):
        ingest.finalize_incremental(spark, out_dir, root)
    monkeypatch.undo()
    assert sorted(os.listdir(root)) == ["seg_0_0", "seg_1_1", "seg_2_2"]
    assert ingest._read_state(root)["segments"] == []

    state = ingest.finalize_incremental(spark, out_dir, root)
    assert state == {"finalized_through": 2, "segments": ["seg_0_0", "seg_1_1", "seg_2_2"]}
    assert ingest.open_serving_index(spark, root).meta["n_docs"] == 40
