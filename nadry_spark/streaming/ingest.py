"""Structured Streaming ingestion: pages stream -> incremental index.

The reference has no streaming (batch crawl + batch index; resume is
checkpoint-reload — WebCrawlerMain.java:21-34). This module adds the
streaming-native equivalent for continuous corpus growth:

* ``stream_ingest`` — file-source stream of pages; each micro-batch
  runs the SAME extract/tokenize/postings plan as the batch build and
  appends a *delta segment* (LSM L0) under out/delta_postings +
  out/delta_docs, tagged with batch_id. foreachBatch gives exactly-once
  per-batch output with the stream checkpoint.
* ``promote_deltas`` — tiered LSM compaction: folds L0 delta batches
  into a versioned L1 tier (``out/l1/v{N}``), recording the folded
  watermark in ``l1_state.json`` (atomic replace — readers always see
  a fully-written version). Without it a long-lived stream's finalize
  would re-read ALL delta history; with it the read set is
  O(L1) + O(batches since the watermark).
* ``compact_deltas`` — folds L1 + the unpromoted L0 batches into
  postings long form, keeping the LATEST batch per doc (re-crawled
  urls supersede older rows — first-writer-wins inverted to
  last-writer, the streaming analog of the reference's idempotent
  upsert S5/S6). Deltas are written partitioned by batch_id so the
  watermark filter prunes whole partitions at the parquet scan.
* ``crawl_rate_stats`` — watermarked tumbling-window counts over
  warc_ts: the late-data-tolerant monitoring aggregation.
* ``stateful_first_seen`` — applyInPandasWithState dedup: only the
  first occurrence of each url ever crosses the stream (custom
  stateful operator, the P2 visited-filter as streaming state).
"""

from __future__ import annotations

import json
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from nadry_spark.sources.pages import PAGES_SCHEMA_DDL


def stream_ingest(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
):
    """Start the ingest stream; returns the StreamingQuery.

    ``input_dir`` is a parquet directory of pages rows,
    ``warc:<dir-or-glob>`` to watch a directory of Common-Crawl WARC
    archives (sources/warc.read_warc_stream — whole archives per
    task, bounded-memory record decode), or ``wet:<dir-or-glob>`` for
    extracted-text WET archives (indexed via the text fall-through);
    everything downstream of the source is identical."""
    from nadry_spark.operators.index_build import build_postings, doc_stats, extract_documents
    from nadry_spark.session import ship_package

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
        docs = extract_documents(batch_df)
        postings = build_postings(docs).withColumn("batch_id", F.lit(batch_id))
        stats = doc_stats(docs).withColumn("batch_id", F.lit(batch_id))
        # partitioned by batch_id so the L1 watermark filter in
        # compact_deltas prunes whole directories at the parquet scan
        (
            postings.write.mode("append")
            .partitionBy("batch_id")
            .parquet(os.path.join(out_dir, "delta_postings"))
        )
        # content/links kept: needed when deltas are finalized into
        # serving segments (enrichment + pagerank)
        (
            stats.write.mode("append")
            .partitionBy("batch_id")
            .parquet(os.path.join(out_dir, "delta_docs"))
        )

    return (
        pages.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


_L1_STATE = "l1_state.json"


def _read_l1_state(out_dir: str) -> dict | None:
    path = os.path.join(out_dir, _L1_STATE)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _write_state(path: str, state: dict) -> None:
    """Replace a JSON state file atomically (write tmp + rename):
    readers see the old state or the new one, never a partial file."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, path)


def _latest_per_doc(postings: DataFrame, docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Latest batch wins per doc_id: keep each doc_id's newest-batch
    doc row and only the postings of that (doc_id, batch_id); older
    rows of a re-crawled url drop out. Both keep batch_id."""
    w = Window.partitionBy("doc_id").orderBy(F.desc("batch_id"))
    latest_docs = (
        docs.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    )
    latest_post = postings.join(
        latest_docs.select("doc_id", "batch_id"), ["doc_id", "batch_id"], "left_semi"
    )
    return latest_post, latest_docs


def _l1_dirs(out_dir: str, version: int) -> tuple[str, str]:
    base = os.path.join(out_dir, "l1", f"v{version}")
    return os.path.join(base, "postings"), os.path.join(base, "docs")


def promote_deltas(spark: SparkSession, out_dir: str) -> dict:
    """Tiered LSM compaction: fold the L0 delta batches past the
    current watermark into a NEW L1 version (latest batch wins per
    doc_id; rows superseded by a re-crawl are tombstoned out — they
    simply don't survive the fold).

    Crash-safe via versioned directories: ``out/l1/v{N+1}`` is written
    completely, then ``l1_state.json`` is atomically replaced to point
    at it (version + folded_through watermark). A crash at any point
    leaves the state referencing a fully-written version; L0 deltas
    are never deleted, so the worst case is a re-fold. Returns the new
    state dict.
    """
    import shutil

    state = _read_l1_state(out_dir)
    folded = state["folded_through"] if state else -1
    version = state["version"] if state else 0

    l0_post = spark.read.parquet(os.path.join(out_dir, "delta_postings")).where(
        F.col("batch_id") > folded
    )
    l0_docs = spark.read.parquet(os.path.join(out_dir, "delta_docs")).where(
        F.col("batch_id") > folded
    )
    max_row = l0_docs.agg(F.max("batch_id").alias("mb")).collect()[0]
    if max_row["mb"] is None:
        return state or {"version": 0, "folded_through": -1}
    new_watermark = int(max_row["mb"])

    post, docs = l0_post, l0_docs
    if state is not None:
        l1_post_dir, l1_docs_dir = _l1_dirs(out_dir, version)
        post = spark.read.parquet(l1_post_dir).unionByName(post)
        docs = spark.read.parquet(l1_docs_dir).unionByName(docs)

    latest_post, latest_docs = _latest_per_doc(post, docs)

    new_version = version + 1
    new_post_dir, new_docs_dir = _l1_dirs(out_dir, new_version)
    latest_post.write.mode("overwrite").parquet(new_post_dir)
    latest_docs.write.mode("overwrite").parquet(new_docs_dir)
    new_state = {"version": new_version, "folded_through": new_watermark}
    _write_state(os.path.join(out_dir, _L1_STATE), new_state)
    if state is not None:  # old version unreferenced now; best-effort GC
        shutil.rmtree(os.path.join(out_dir, "l1", f"v{version}"), ignore_errors=True)
    return new_state


def compact_deltas(
    spark: SparkSession, out_dir: str, stats: dict | None = None
) -> tuple[DataFrame, DataFrame]:
    """Fold L1 + unpromoted L0 delta batches -> (postings, doc_stats),
    latest batch wins per doc_id (re-ingested urls supersede).

    Reads O(L1) + O(batches past the L1 watermark) — NOT all delta
    history: the ``batch_id > folded_through`` filter prunes whole
    batch partitions at the parquet scan, and everything older lives
    pre-folded in the current L1 version. Without any ``promote_deltas``
    call this degrades gracefully to the full-history fold. ``stats``
    (optional out-param) records l0_docs_rows / l1_docs_rows /
    folded_through / max_batch_id for observability and callers that
    need a watermark consistent with THIS fold's file-listing snapshot
    (parquet listings are pinned at read time, so max_batch_id here can
    never include a batch ingested after the fold started — a fresh
    re-scan could, and would mark unfolded data as finalized)."""
    state = _read_l1_state(out_dir)
    folded = state["folded_through"] if state else -1

    deltas = spark.read.parquet(os.path.join(out_dir, "delta_postings")).where(
        F.col("batch_id") > folded
    )
    docs = spark.read.parquet(os.path.join(out_dir, "delta_docs")).where(
        F.col("batch_id") > folded
    )
    if stats is not None:
        stats["folded_through"] = folded
        stats["l0_docs_rows"] = docs.count()
        stats["l1_docs_rows"] = 0
    if state is not None:
        l1_post_dir, l1_docs_dir = _l1_dirs(out_dir, state["version"])
        l1_docs = spark.read.parquet(l1_docs_dir)
        deltas = spark.read.parquet(l1_post_dir).unionByName(deltas)
        docs = l1_docs.unionByName(docs)
        if stats is not None:
            stats["l1_docs_rows"] = l1_docs.count()
    if stats is not None:
        row = docs.agg(F.max("batch_id").alias("mb")).collect()[0]
        stats["max_batch_id"] = -1 if row["mb"] is None else int(row["mb"])

    postings, latest_docs = _latest_per_doc(deltas, docs)
    return postings.drop("batch_id"), latest_docs.drop("batch_id")


def finalize_stream_index(
    spark: SparkSession, stream_out_dir: str, segments_dir: str, **kwargs
) -> dict:
    """Compact the streamed delta segments into ONE queryable segment
    dir (docmap, compressed blocks, positions, terms, manifests) — the
    full-rebuild streaming-to-serving bridge. Latest batch wins per
    doc_id. For continuous serving that must not rebuild the whole
    corpus per finalize, use :func:`finalize_incremental` instead."""
    from nadry_spark.sources.segments import segments_from_postings

    postings, docs = compact_deltas(spark, stream_out_dir)
    return segments_from_postings(spark, postings, docs, segments_dir, **kwargs)


_SERVING_STATE = "serving_state.json"


def finalize_incremental(
    spark: SparkSession, stream_out_dir: str, segments_root: str, **kwargs
) -> dict:
    """Incremental streaming->serving bridge (the Lucene multi-segment
    model): build ONE new segment from only the delta batches past the
    serving watermark — O(new docs) per finalize, however large the
    corpus has grown — and record which OLDER segments' doc_nos the new
    docs supersede (re-crawled urls) in the new segment's
    supersedes.json. Serving reads the whole family through
    :func:`open_serving_index` / ``bm25_topk_multi``, which excludes
    superseded docs and uses live global statistics, so results are
    rank-identical to a full rebuild of the latest corpus.

    State (segments_root/serving_state.json: finalized_through batch
    watermark + ordered segment list) is replaced atomically AFTER the
    segment directory is fully written; a crash leaves the previous
    state serving and the next call re-folds the same batches into a
    fresh segment name. Returns the new state dict.
    """
    from nadry_spark.sources.segments import SegmentIndex, segments_from_postings

    os.makedirs(segments_root, exist_ok=True)
    state_path = os.path.join(segments_root, _SERVING_STATE)
    if os.path.exists(state_path):
        with open(state_path) as f:
            state = json.load(f)
    else:
        state = {"finalized_through": -1, "segments": []}
    ft = state["finalized_through"]

    docs = spark.read.parquet(os.path.join(stream_out_dir, "delta_docs")).where(
        F.col("batch_id") > ft
    )
    max_row = docs.agg(F.max("batch_id").alias("mb")).collect()[0]
    if max_row["mb"] is None:
        return state
    hi = int(max_row["mb"])

    postings, latest_docs = _latest_per_doc(
        spark.read.parquet(os.path.join(stream_out_dir, "delta_postings")).where(
            F.col("batch_id") > ft
        ),
        docs,
    )

    seg_name = f"seg_{ft + 1}_{hi}"
    seg_dir = os.path.join(segments_root, seg_name)
    segments_from_postings(
        spark, postings.drop("batch_id"), latest_docs.drop("batch_id"), seg_dir, **kwargs
    )

    # supersedes: doc_nos in each OLDER segment whose doc_id re-appears
    # in this segment (re-crawl). Small by construction — only
    # re-crawls. ONE job over the union of tagged docmaps, not a scan
    # per old segment.
    new_ids = latest_docs.select("doc_id")
    supersedes: dict[str, list[int]] = {}
    if state["segments"]:
        tagged = None
        for name in state["segments"]:
            old = SegmentIndex(spark, os.path.join(segments_root, name))
            part = old.docmap.select(
                F.lit(name).alias("_seg"), "doc_no", "doc_id"
            )
            tagged = part if tagged is None else tagged.unionByName(part)
        rows = (
            tagged.join(F.broadcast(new_ids), "doc_id", "left_semi")
            .select("_seg", "doc_no")
            .collect()
        )
        for r in rows:
            supersedes.setdefault(r["_seg"], []).append(int(r["doc_no"]))
        supersedes = {k: sorted(v) for k, v in supersedes.items()}
    with open(os.path.join(seg_dir, "supersedes.json"), "w") as f:
        json.dump(supersedes, f)

    new_state = {
        "finalized_through": hi,
        "segments": state["segments"] + [seg_name],
    }
    _write_state(state_path, new_state)
    return new_state


def compact_serving(
    spark: SparkSession, stream_out_dir: str, segments_root: str, **kwargs
) -> dict:
    """Merge policy for the incremental family: fold EVERYTHING
    ingested so far into one fresh segment and point serving_state at
    it alone — the Lucene forced-merge. Run when the family has grown
    long enough that per-query fan-out (one scan per segment) or
    tombstone bookkeeping outweighs the rebuild cost. Reads through
    compact_deltas, so with an up-to-date L1 tier the input is
    O(L1)+O(new), and the state swap is atomic: a crash leaves the old
    family serving. Old segment dirs are GC'd after the swap unless a
    snapshot (:mod:`nadry_spark.streaming.snapshots`) still pins them.
    A family that already is the one compacted segment of the latest
    batch is returned unchanged, without touching any directory."""
    import shutil

    from nadry_spark.sources.segments import segments_from_postings

    state_path = os.path.join(segments_root, _SERVING_STATE)
    state: dict = {"segments": []}
    if os.path.exists(state_path):
        with open(state_path) as f:
            state = json.load(f)
    old_segments: list[str] = state["segments"]

    fold_stats: dict = {}
    postings, docs = compact_deltas(spark, stream_out_dir, stats=fold_stats)
    # watermark from the SAME file-listing snapshot compact_deltas
    # folded — a fresh delta_docs scan here could see a batch ingested
    # after the fold started and mark it finalized without ever folding
    # it into any segment
    hi = fold_stats["max_batch_id"]
    seg_name = f"seg_compacted_{hi}"
    if old_segments == [seg_name]:
        # nothing new since the last compaction: rebuilding would
        # delete the live (possibly snapshot-pinned) segment it reads
        return state
    # carry backfilled PageRank popularity through the merge: delta
    # doc_stats hardcode popularity 0.0, so without this a forced merge
    # silently reset every doc's popularity (and with it exact-mode
    # blended rankings) until jobs/pagerank.py re-ran
    if old_segments:
        pop = None
        for name in old_segments:
            dm = spark.read.parquet(
                os.path.join(segments_root, name, "docmap")
            ).select("doc_id", "popularity_score")
            pop = dm if pop is None else pop.unionByName(dm)
        # a doc_id re-crawled across segments appears multiple times;
        # keep the max (backfills write the same global score to every
        # copy, so this is a dedup, not a choice)
        pop = pop.groupBy("doc_id").agg(
            F.max("popularity_score").alias("_pop")
        )
        docs = (
            docs.drop("popularity_score")
            .join(pop, "doc_id", "left")
            .withColumn("popularity_score", F.coalesce(F.col("_pop"), F.lit(0.0)))
            .drop("_pop")
        )
    seg_dir = os.path.join(segments_root, seg_name)
    shutil.rmtree(seg_dir, ignore_errors=True)
    segments_from_postings(spark, postings, docs, seg_dir, **kwargs)

    new_state = {"finalized_through": hi, "segments": [seg_name]}
    _write_state(state_path, new_state)
    # snapshot-aware GC: a pinned snapshot may still reference the old
    # segments — keep those; only unreferenced dirs are removed
    from nadry_spark.streaming.snapshots import live_segment_names

    live = live_segment_names(segments_root)
    for name in old_segments:
        if name != seg_name and name not in live:
            shutil.rmtree(os.path.join(segments_root, name), ignore_errors=True)
    return new_state


def open_serving_index(spark: SparkSession, segments_root: str):
    """MultiSegmentIndex over the incremental serving family recorded
    in serving_state.json (query with bm25.bm25_topk_multi)."""
    from nadry_spark.sources.segments import MultiSegmentIndex

    with open(os.path.join(segments_root, _SERVING_STATE)) as f:
        state = json.load(f)
    return MultiSegmentIndex(
        spark, [os.path.join(segments_root, n) for n in state["segments"]]
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
