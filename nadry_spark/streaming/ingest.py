"""Structured Streaming ingestion: pages stream -> incremental index.

The reference has no streaming (batch crawl + batch index; resume is
checkpoint-reload — WebCrawlerMain.java:21-34). This module adds the
streaming-native equivalent for continuous corpus growth as ONE
log-structured merge over index segments — the Lucene model of
flushing each batch as a segment and merging segments later:

* ``stream_ingest`` — file-source stream of pages; each micro-batch
  is flushed as one segment by the batch build itself
  (``build_segments`` into ``out/staged/batch_{batch_id}``). A
  replayed batch id resumes the same directory through its manifest,
  so foreachBatch + the stream checkpoint give exactly-once segments.
* ``finalize_incremental`` — publish, no Spark job: the committed
  staged segments past the serving watermark join the serving family
  in batch-id order, each with the older doc_nos it supersedes
  (re-crawled urls: the latest batch wins, the streaming analog of
  the reference's idempotent upsert S5/S6), under one atomic
  ``serving_state.json`` swap.
* ``compact_serving`` — merge: the family's live docs fold into one
  segment; their encoded positions move to new doc numbers without
  re-tokenizing (``segments._merge_segments``).
* ``crawl_rate_stats`` — watermarked tumbling-window counts over
  warc_ts: the late-data-tolerant monitoring aggregation.
* ``stateful_first_seen`` — applyInPandasWithState dedup: only the
  first occurrence of each url ever crosses the stream (custom
  stateful operator, the P2 visited-filter as streaming state).
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from nadry_spark.sources.pages import PAGES_SCHEMA_DDL
from nadry_spark.sources.segments import _write_json, read_manifest

_SERVING_STATE = "serving_state.json"
_PUBLISHED_RE = re.compile(r"^seg_(\d+)_\1$")


def stream_ingest(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
    n_shards: int | None = None,
):
    """Start the ingest stream; returns the StreamingQuery.

    ``input_dir`` is a parquet directory of pages rows,
    ``warc:<dir-or-glob>`` to watch a directory of Common-Crawl WARC
    archives (sources/warc.read_warc_stream — whole archives per
    task, bounded-memory record decode), or ``wet:<dir-or-glob>`` for
    extracted-text WET archives (indexed via the text fall-through);
    everything downstream of the source is identical. Each non-empty
    micro-batch is built by ``build_segments`` (``n_shards`` as there)
    into ``out_dir/staged/batch_{batch_id}``, for
    :func:`finalize_incremental` to publish."""
    from nadry_spark.session import ship_package
    from nadry_spark.sources.segments import build_segments

    ship_package(spark)
    if input_dir.startswith("warc:"):
        from nadry_spark.sources.warc import read_warc_stream

        pages = read_warc_stream(
            spark, input_dir[len("warc:"):], max_files_per_trigger
        )
    elif input_dir.startswith("wet:"):
        from nadry_spark.sources.warc import read_wet_stream

        pages = read_wet_stream(
            spark, input_dir[len("wet:"):], max_files_per_trigger
        )
    else:
        pages = (
            spark.readStream.schema(PAGES_SCHEMA_DDL)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir)
        )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        build_segments(spark, batch_df, _staged_dir(out_dir, batch_id), n_shards=n_shards)

    return (
        pages.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _staged_dir(out_dir: str, batch_id: int) -> str:
    return os.path.join(out_dir, "staged", f"batch_{batch_id}")


def _read_state(segments_root: str) -> dict:
    """The serving family's state: ``finalized_through`` (the batch
    watermark) and the ordered ``segments`` names — an empty family
    before the first publish."""
    path = os.path.join(segments_root, _SERVING_STATE)
    if not os.path.exists(path):
        return {"finalized_through": -1, "segments": []}
    with open(path) as f:
        return json.load(f)


def _committed(seg_dir: str) -> bool:
    """True once build_segments finished seg_dir: every shard's
    manifest row is done and the terms dictionary is written."""
    manifest = read_manifest(seg_dir)
    if manifest.get(-1, {}).get("status") != "done":
        return False
    with open(os.path.join(seg_dir, "meta.json")) as f:
        n_shards = json.load(f)["n_shards"]
    return all(
        manifest.get(s, {}).get("status") == "done" for s in range(n_shards)
    ) and os.path.exists(os.path.join(seg_dir, "terms", "_SUCCESS"))


def _supersedes(segments_root: str, family: list[str], seg_dir: str) -> dict[str, list[int]]:
    """Doc_nos of each family member whose doc_id re-appears in the
    segment at seg_dir (re-crawls), read with pyarrow: two docmap
    columns per member, filtered to the new doc_ids."""
    import pyarrow.parquet as pq

    new_ids = pq.read_table(os.path.join(seg_dir, "docmap"), columns=["doc_id"])
    new_ids = new_ids.column("doc_id").to_pylist()
    if not new_ids:
        return {}
    out: dict[str, list[int]] = {}
    for name in family:
        old = pq.read_table(
            os.path.join(segments_root, name, "docmap"),
            columns=["doc_no"], filters=[("doc_id", "in", new_ids)],
        )
        if old.num_rows:
            out[name] = sorted(old.column("doc_no").to_pylist())
    return out


def finalize_incremental(
    spark: SparkSession, stream_out_dir: str, segments_root: str
) -> dict:
    """Publish (the Lucene multi-segment model): every staged segment
    past the serving watermark whose build committed joins the serving
    family, in batch-id order, as ``seg_{b}_{b}``; the walk stops at
    the first batch that has not committed, so the watermark never
    skips one. Runs no Spark job. Serving reads the family through
    :func:`open_serving_index` / ``bm25_topk_multi``, which excludes
    superseded docs and uses live global statistics, so results are
    rank-identical to a full rebuild of the latest corpus.

    Per batch: the build's resume cache (docs_tokens) is deleted,
    supersedes.json records the older members' doc_nos its docs
    replace (re-crawled urls), and the directory moves into
    segments_root (a rename: keep both dirs on one filesystem). One
    atomic serving_state.json swap then commits them all. A crash
    before the swap leaves each moved segment publishable by the next
    call; staged replays of published batches are removed. Returns
    the new state dict.
    """
    os.makedirs(segments_root, exist_ok=True)
    state = _read_state(segments_root)
    ft = state["finalized_through"]
    segments = list(state["segments"])
    staged_root = os.path.join(stream_out_dir, "staged")
    staged = os.listdir(staged_root) if os.path.isdir(staged_root) else []
    batch_ids = {int(n[len("batch_"):]) for n in staged if n.startswith("batch_")}
    # segments a publish moved but crashed before committing its state
    batch_ids |= {
        int(m.group(1))
        for m in map(_PUBLISHED_RE.match, os.listdir(segments_root))
        if m and int(m.group(1)) > ft
    }
    for b in sorted(batch_ids):
        src = _staged_dir(stream_out_dir, b)
        name = f"seg_{b}_{b}"
        dst = os.path.join(segments_root, name)
        if b <= ft:
            shutil.rmtree(src, ignore_errors=True)  # a replay of a published batch
            continue
        if not os.path.isdir(dst):
            if not _committed(src):
                break
            shutil.rmtree(os.path.join(src, "docs_tokens"), ignore_errors=True)
            _write_json(
                os.path.join(src, "supersedes.json"),
                _supersedes(segments_root, segments, src),
            )
            os.replace(src, dst)
        segments.append(name)
        ft = b
    if ft == state["finalized_through"]:
        return state
    state = {"finalized_through": ft, "segments": segments}
    _write_json(os.path.join(segments_root, _SERVING_STATE), state)
    return state


def compact_serving(
    spark: SparkSession, stream_out_dir: str, segments_root: str,
    n_shards: int | None = None,
) -> dict:
    """Merge policy for the incremental family: publish, then fold the
    whole family into one fresh segment and point serving_state at it
    alone — the Lucene forced-merge. Run when the family has grown
    long enough that per-query fan-out (one scan per segment) or
    tombstone bookkeeping outweighs the merge cost. The state swap is
    atomic: a crash leaves the old family serving. Old segment dirs
    are GC'd after the swap unless a snapshot
    (:mod:`nadry_spark.streaming.snapshots`) still pins them. A family
    that already is the one compacted segment of the latest batch is
    returned unchanged, without touching any directory."""
    from nadry_spark.sources.segments import _merge_segments
    from nadry_spark.streaming.snapshots import live_segment_names

    state = finalize_incremental(spark, stream_out_dir, segments_root)
    old_segments: list[str] = state["segments"]
    hi = state["finalized_through"]
    seg_name = f"seg_compacted_{hi}"
    if old_segments in ([], [seg_name]):
        # nothing to merge: rebuilding would delete the live (possibly
        # snapshot-pinned) segment it reads
        return state
    seg_dir = os.path.join(segments_root, seg_name)
    shutil.rmtree(seg_dir, ignore_errors=True)
    _merge_segments(
        spark, [os.path.join(segments_root, n) for n in old_segments], seg_dir, n_shards
    )

    new_state = {"finalized_through": hi, "segments": [seg_name]}
    _write_json(os.path.join(segments_root, _SERVING_STATE), new_state)
    # snapshot-aware GC: a pinned snapshot may still reference the old
    # segments — keep those; only unreferenced dirs are removed
    live = live_segment_names(segments_root)
    for name in old_segments:
        if name not in live:
            shutil.rmtree(os.path.join(segments_root, name), ignore_errors=True)
    return new_state


def open_serving_index(spark: SparkSession, segments_root: str):
    """The serving handle of a directory: the MultiSegmentIndex over the
    incremental family recorded in serving_state.json (query with
    bm25.bm25_topk_multi), or the SegmentIndex of a segment directory,
    which has no such file."""
    from nadry_spark.sources.segments import MultiSegmentIndex, SegmentIndex

    if not os.path.exists(os.path.join(segments_root, _SERVING_STATE)):
        return SegmentIndex(spark, segments_root)
    return MultiSegmentIndex(
        spark,
        [os.path.join(segments_root, n) for n in _read_state(segments_root)["segments"]],
    )


def crawl_rate_stats(pages_stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window ingest counts by lang (late data
    beyond the watermark is dropped, state is bounded)."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window), "lang")
        .agg(F.count("*").alias("n_pages"), F.sum(F.length("html")).alias("bytes_in"))
    )


_FIRST_SEEN_OUT = "url string, warc_ts timestamp, html binary, text string, lang string"
_FIRST_SEEN_STATE = "seen boolean"


def _first_seen_fn(key, pdf_iter, state: GroupState):
    if state.exists:
        return iter(())
    state.update((True,))
    first = None
    for pdf in pdf_iter:
        pdf = pdf.sort_values("warc_ts")
        first = pdf.iloc[:1] if first is None else first
        break
    return iter(() if first is None else (first,))


def stateful_first_seen(pages_stream: DataFrame) -> DataFrame:
    """P2 visited-filter as streaming state: emit each url only the
    first time it is seen across the whole stream lifetime."""
    return pages_stream.groupBy("url").applyInPandasWithState(
        _first_seen_fn,
        outputStructType=_FIRST_SEEN_OUT,
        stateStructType=_FIRST_SEEN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
