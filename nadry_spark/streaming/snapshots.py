"""Serving-state snapshots: pin an immutable, queryable view of the
incremental serving family — Iceberg's snapshot / time-travel model
applied to the Lucene-style multi-segment family that
:mod:`nadry_spark.streaming.ingest` maintains.

A snapshot records the serving state (ordered segment list + batch
watermark) at a point in time under ``segments_root/snapshots/``.
Because segments are immutable once written (finalizes only ADD
segments; only compaction rewrites), pinning the segment list is
enough to reproduce the exact corpus a query saw — including
tombstone semantics: a snapshot taken before a re-crawl does not list
the newer segment, so the superseded doc is served un-tombstoned,
exactly as it was at snapshot time.

Lineage: each snapshot records its ``parent`` (the previous snapshot
id), forming the commit chain the north rule's resumability story
asks for. Garbage collection is explicit and snapshot-aware:
``vacuum_segments`` removes only segment directories referenced by
neither the current serving state nor any live snapshot, and
``compact_serving`` (in :mod:`.ingest`) routes its post-merge cleanup
through the same liveness check, so a forced merge can never delete a
segment a snapshot still needs.

Reference parity note: the reference serves only "latest" state
(Nadry-Search-Engine-BE has no versioned index); snapshots are part of
the large-scale operability layer this rebuild adds on top.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

from nadry_spark.sources.segments import _write_json
from nadry_spark.streaming.ingest import _read_state, open_serving_index

_SNAP_DIR = "snapshots"
_SNAP_RE = re.compile(r"^snap_(\d+)\.json$")


def _snap_dir(segments_root: str) -> str:
    return os.path.join(segments_root, _SNAP_DIR)


def list_snapshots(segments_root: str) -> list[dict]:
    """All snapshots, ordered by id ascending."""
    d = _snap_dir(segments_root)
    if not os.path.isdir(d):
        return []
    snaps = []
    for name in os.listdir(d):
        m = _SNAP_RE.match(name)
        if m:
            with open(os.path.join(d, name)) as f:
                snaps.append(json.load(f))
    return sorted(snaps, key=lambda s: s["id"])


def create_snapshot(segments_root: str, note: str | None = None) -> dict:
    """Pin the CURRENT serving state as a new immutable snapshot.

    Returns the snapshot dict (``id``, ``parent``, ``segments``,
    ``finalized_through``, ``note``, ``created_utc``). The file write
    is atomic (tmp + rename); a crash mid-call leaves no partial
    snapshot. Calling with an unchanged serving state creates a new id
    over the same segment list — ids are commit points, not content
    hashes."""
    state = _read_state(segments_root)
    snaps = list_snapshots(segments_root)
    new_id = (snaps[-1]["id"] + 1) if snaps else 1
    snap = {
        "id": new_id,
        "parent": snaps[-1]["id"] if snaps else None,
        "finalized_through": state["finalized_through"],
        "segments": list(state["segments"]),
        "note": note,
        "created_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    d = _snap_dir(segments_root)
    os.makedirs(d, exist_ok=True)
    _write_json(os.path.join(d, f"snap_{new_id}.json"), snap)
    return snap


def get_snapshot(segments_root: str, snapshot_id: int) -> dict:
    path = os.path.join(_snap_dir(segments_root), f"snap_{int(snapshot_id)}.json")
    with open(path) as f:
        return json.load(f)


def open_snapshot(spark, segments_root: str, snapshot_id: int):
    """Time travel: a MultiSegmentIndex serving exactly the corpus the
    family held when the snapshot was taken."""
    from nadry_spark.sources.segments import MultiSegmentIndex

    snap = get_snapshot(segments_root, snapshot_id)
    return MultiSegmentIndex(
        spark, [os.path.join(segments_root, n) for n in snap["segments"]]
    )


def drop_snapshot(segments_root: str, snapshot_id: int) -> None:
    """Remove a snapshot commit point. Segment data it pinned becomes
    eligible for :func:`vacuum_segments` (it is NOT deleted here)."""
    path = os.path.join(_snap_dir(segments_root), f"snap_{int(snapshot_id)}.json")
    os.remove(path)


def _live_docmap(msi):
    """(doc_id, url, title, seg, doc_no) for every LIVE doc of a
    family — tombstoned doc_nos excluded, one row per doc_id (doc
    spaces are disjoint across segments for live docs)."""
    from pyspark.sql import functions as F

    parts = []
    for i, seg in enumerate(msi.segments):
        name = os.path.basename(seg.path.rstrip("/"))
        parts.append(
            msi._live(i, seg.docmap)
            .select("doc_id", "url", "title", "doc_no")
            .withColumn("seg", F.lit(name))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _content_hashes(msi, cand, side: str):
    """(doc_id, h_<side>) content hashes — sha256 over title (carried
    on the candidate row from docmap) + body content — for the
    candidate rows served by each of the family's segments. The scan
    of every docs_content is join-restricted to that segment's
    candidates, so cost is O(candidates), not O(corpus)."""
    from pyspark.sql import functions as F

    h = F.sha2(
        F.concat_ws(
            "\x00",
            F.coalesce(F.col("title"), F.lit("")),
            F.coalesce(F.col("content"), F.lit("")),
        ),
        256,
    ).alias(f"h_{side}")
    parts = []
    for seg in msi.segments:
        name = os.path.basename(seg.path.rstrip("/"))
        sub = cand.where(F.col(f"seg_{side}") == name).select(
            "doc_id",
            F.col(f"title_{side}").alias("title"),
            F.col(f"doc_no_{side}").alias("doc_no"),
        )
        parts.append(seg.docs_content.join(sub, "doc_no").select("doc_id", h))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def snapshot_diff(spark, segments_root: str, from_id: int, to_id: int | None = None):
    """Change-data-capture between two commit points of the serving
    family: a DataFrame of ``(doc_id, url, change)`` with change in
    {'added', 'removed', 'updated'} describing how the LIVE corpus
    moved from snapshot ``from_id`` to snapshot ``to_id`` (or to the
    current serving state when ``to_id`` is None).

    Semantics (doc_id = sha256(url), so identity is the url):

    * ``added``   — live in `to` but not `from` (new crawl).
    * ``removed`` — live in `from` but not `to` (reverse diffs only;
      the ingest model never deletes).
    * ``updated`` — live in both with DIFFERENT content. Segments are
      immutable, so a doc served by the SAME segment in both snapshots
      cannot have changed and is skipped without touching content; only
      docs whose serving segment moved (re-crawls, compaction rewrites)
      get a content-hash check, and a compaction rewrite that preserved
      bytes correctly reports no change.

    The expensive case is a diff ACROSS a compaction, where every
    surviving doc changed segments and must be hash-compared — one
    join-restricted scan of docs_content per side, the honest cost of
    CDC over a rewritten table (same trade-off as Iceberg
    rewrite-data-files). Feed the 'added'+'updated' rows to the
    training-shard export for incremental O(changes) exports
    (``jobs/snapshot_diff.py --content-out``)."""
    from pyspark.sql import functions as F

    a = open_snapshot(spark, segments_root, from_id)
    if to_id is None:
        b = open_serving_index(spark, segments_root)
    else:
        b = open_snapshot(spark, segments_root, to_id)

    live_a = _live_docmap(a).select(
        "doc_id",
        F.col("url").alias("url_a"),
        F.col("title").alias("title_a"),
        F.col("seg").alias("seg_a"),
        F.col("doc_no").alias("doc_no_a"),
    )
    live_b = _live_docmap(b).select(
        "doc_id",
        F.col("url").alias("url_b"),
        F.col("title").alias("title_b"),
        F.col("seg").alias("seg_b"),
        F.col("doc_no").alias("doc_no_b"),
    )
    # one materialization feeds all three change branches (and frees
    # with the frame — same no-unpersist-ownership pattern as
    # similarity.cosine_dup_pairs)
    joined = live_a.join(live_b, "doc_id", "full_outer").localCheckpoint()

    added = joined.where(F.col("seg_a").isNull()).select(
        "doc_id", F.col("url_b").alias("url"), F.lit("added").alias("change")
    )
    removed = joined.where(F.col("seg_b").isNull()).select(
        "doc_id", F.col("url_a").alias("url"), F.lit("removed").alias("change")
    )
    # both-sides rows whose serving segment moved are the only docs
    # that CAN have changed; hash-compare just those
    cand = joined.where(
        F.col("seg_a").isNotNull()
        & F.col("seg_b").isNotNull()
        & (F.col("seg_a") != F.col("seg_b"))
    )
    updated = (
        cand.join(_content_hashes(a, cand, "a"), "doc_id")
        .join(_content_hashes(b, cand, "b"), "doc_id")
        .where(F.col("h_a") != F.col("h_b"))
        .select("doc_id", F.col("url_b").alias("url"), F.lit("updated").alias("change"))
    )
    return added.unionByName(removed).unionByName(updated)


def live_segment_names(segments_root: str) -> set[str]:
    """Segment dir names referenced by the current serving state or by
    any snapshot — everything GC must keep."""
    live = set(_read_state(segments_root)["segments"])
    for snap in list_snapshots(segments_root):
        live.update(snap["segments"])
    return live


def vacuum_segments(segments_root: str) -> list[str]:
    """Delete segment directories (``seg_*``) referenced by neither the
    serving state nor any snapshot. Returns the removed names. Only
    paths matching the segment naming scheme are ever touched."""
    live = live_segment_names(segments_root)
    removed = []
    for name in sorted(os.listdir(segments_root)):
        full = os.path.join(segments_root, name)
        if name.startswith("seg_") and os.path.isdir(full) and name not in live:
            shutil.rmtree(full)
            removed.append(name)
    return removed
