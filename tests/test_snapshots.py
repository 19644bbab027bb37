"""Serving-state snapshots: time-travel reads, snapshot-aware
compaction GC, explicit vacuum."""

import os

import pyarrow as pa
import pyarrow.parquet as pq


def _topk(idx, query, k=10):
    from nadry_spark.operators.bm25 import bm25_topk_multi

    rows = bm25_topk_multi(idx, query, k=k).collect()
    return [(r["doc_id"], round(r["score"], 9)) for r in rows]


def test_snapshot_time_travel_and_gc(spark, tiny_pages_path, tmp_path_factory):
    from nadry_spark.streaming.ingest import (
        compact_serving,
        finalize_incremental,
        open_serving_index,
        stream_ingest,
    )
    from nadry_spark.streaming.snapshots import (
        create_snapshot,
        drop_snapshot,
        list_snapshots,
        open_snapshot,
        vacuum_segments,
    )

    base = tmp_path_factory.mktemp("snap")
    input_dir = str(base / "in")
    out_dir = str(base / "out")
    ckpt = str(base / "ckpt")
    root = str(base / "serving")
    os.makedirs(input_dir)
    table = pq.read_table(tiny_pages_path)
    n = table.num_rows

    # cycle 1: first half of the corpus, then pin snapshot 1
    pq.write_table(table.slice(0, n // 2), os.path.join(input_dir, "p0.parquet"))
    stream_ingest(spark, input_dir, out_dir, ckpt, n_shards=2).awaitTermination(300)
    finalize_incremental(spark, out_dir, root)
    snap1 = create_snapshot(root, note="after first half")
    assert snap1["id"] == 1 and snap1["parent"] is None
    want_snap1 = _topk(open_serving_index(spark, root), "news report")
    assert want_snap1  # non-trivial corpus

    # cycle 2: second half plus a CONTENT-CHANGING re-crawl of doc 0
    first = table.slice(0, 1).to_pylist()[0]
    first["html"] = first["html"] + b"<p>zzsnapmarker zzsnapmarker</p>"
    rest = table.slice(n // 2, n - n // 2)
    cycle2 = pa.Table.from_pylist([first], schema=table.schema)
    pq.write_table(pa.concat_tables([rest, cycle2]), os.path.join(input_dir, "p1.parquet"))
    stream_ingest(spark, input_dir, out_dir, ckpt, n_shards=2).awaitTermination(300)
    state = finalize_incremental(spark, out_dir, root)
    assert len(state["segments"]) == 2
    snap2 = create_snapshot(root)
    assert snap2["id"] == 2 and snap2["parent"] == 1

    # time travel: snapshot 1 still answers exactly as it did pre-growth
    idx1 = open_snapshot(spark, root, 1)
    assert _topk(idx1, "news report") == want_snap1
    assert idx1.meta["n_docs"] == n // 2
    assert _topk(idx1, "zzsnapmarker", k=5) == []  # re-crawl invisible at snap 1
    live = open_serving_index(spark, root)
    assert live.meta["n_docs"] == n  # re-crawl replaces, second half adds
    assert len(_topk(live, "zzsnapmarker", k=5)) == 1
    want_live = _topk(live, "news report")

    # forced merge: snapshot-pinned segments survive the GC
    pinned = set(snap2["segments"])
    state3 = compact_serving(spark, out_dir, root, n_shards=2)
    for name in pinned:
        assert os.path.isdir(os.path.join(root, name)), name
    assert _topk(open_snapshot(spark, root, 1), "news report") == want_snap1
    assert _topk(open_serving_index(spark, root), "news report") == want_live

    # vacuum keeps everything while snapshots are live...
    assert vacuum_segments(root) == []

    # --- CDC: snapshot_diff over the same lifecycle ---
    from nadry_spark.streaming.snapshots import snapshot_diff

    urls = [r["url"] for r in table.to_pylist()]
    first_half, second_half = set(urls[: n // 2]), set(urls[n // 2 :])

    # snap1 -> snap2: second half added, re-crawled doc 0 updated
    d12 = {(r["url"], r["change"])
           for r in snapshot_diff(spark, root, 1, 2).collect()}
    assert d12 == ({(u, "added") for u in second_half}
                   | {(urls[0], "updated")})
    # reverse diff flips added <-> removed, keeps updated
    d21 = {(r["url"], r["change"])
           for r in snapshot_diff(spark, root, 2, 1).collect()}
    assert d21 == ({(u, "removed") for u in second_half}
                   | {(urls[0], "updated")})
    # snap2 -> current (post-compaction): every doc changed SEGMENT but
    # no CONTENT changed — the hash check must report an empty diff
    assert snapshot_diff(spark, root, 2, None).count() == 0
    # snap1 -> current crosses the compaction AND real changes
    d1c = {(r["url"], r["change"])
           for r in snapshot_diff(spark, root, 1, None).collect()}
    assert d1c == d12

    # ...and vacuum reclaims exactly the unpinned dirs once dropped
    drop_snapshot(root, 1)
    drop_snapshot(root, 2)
    removed = vacuum_segments(root)
    assert sorted(removed) == sorted(pinned - set(state3["segments"]))
    assert list_snapshots(root) == []
    assert _topk(open_serving_index(spark, root), "news report") == want_live
