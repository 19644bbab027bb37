"""HITS hubs & authorities (Kleinberg, JACM'99, "Authoritative
sources in a hyperlinked environment") — the classic counterpart to
PageRank: a page is a good AUTHORITY if good hubs link to it, a good
HUB if it links to good authorities.  Completes this engine's graph
family (reference-quirk ``pagerank``, textbook ``trustrank``): HITS
separates "lists of good links" pages from "content worth linking to"
pages, which a corpus pipeline uses to pick seed/landing pages.

Fixed-iteration mutual recursion over the same edge table as
PageRank:

    a_i(v) = Σ_{u→v} h_{i-1}(u)      then L1-normalize a_i
    h_i(u) = Σ_{u→v} a_i(v)          then L1-normalize h_i

L1 normalization (scores sum to 1) instead of Kleinberg's L2 — the
updates are linear, so any per-iteration scalar normalization yields
the same DIRECTION for a fixed iteration count; L1 avoids sqrt and
keeps the DuckDB oracle's double arithmetic op-for-op identical.
Normalization sums ride as 1-row broadcast cross-joins, never a
driver collect.

Scale: per iteration two edge joins + two aggregations (node-sized
shuffles keyed by url); lineage capped with localCheckpoint per
iteration.  Scores land on the 1e-9 grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nadry_spark.localrows import _local_frame, collect_bounded
from nadry_spark.operators.pagerank import _edge_index, build_edges

# driver fast-path gate: edge rows one bounded collect may bring to the
# driver
DRIVER_MAX_EDGES = 5_000_000


def hits(
    documents: DataFrame,
    iters: int = 3,
    broadcast_threshold: int = 1_000_000,
) -> DataFrame:
    """(url, authority, hub) for every page after `iters` rounds.
    Pages nobody links to have authority 0; pages with no outlinks
    have hub 0 (both still listed).

    Like pagerank, the score vectors are node-sized: when the vertex
    count fits ``broadcast_threshold`` they ride as broadcasts so the
    edge table never shuffles (checkpointed frames lose stats, so
    without the hint Catalyst falls back to SortMergeJoin); past the
    threshold the joins degrade to the correct shuffle plan.

    Driver fast path: while the vertices fit ``broadcast_threshold``
    and a non-empty edge list fits ``DRIVER_MAX_EDGES`` (one bounded
    collect decides), the rounds run as numpy scatter-adds over the
    collected edges, summed in a fixed (dst, src) order."""
    # edges checkpointed: the gate collects them and the fallback
    # rounds read them twice per iteration
    edges = build_edges(documents).localCheckpoint()
    nodes = documents.select("url").distinct().localCheckpoint()
    n_nodes = nodes.count()
    # driver fast path (pagerank precedent): the mutual recursion as
    # numpy scatter-adds + scalar normalizations over one collected
    # edge list. Vertices absent from an update keep 0 exactly as the
    # left joins below fill them; summation-order noise is the same
    # class the distributed partial aggregation has, absorbed by the
    # 1e-9 output grid.
    epdf = (
        collect_bounded(edges, DRIVER_MAX_EDGES)
        if n_nodes <= broadcast_threshold
        else None
    )
    if epdf is not None and len(epdf):
        import numpy as np

        urls = np.sort(nodes.toPandas()["url"].to_numpy())
        _order, src_idx, dst_idx = _edge_index(urls, epdf)
        h_vec = np.ones(len(urls), dtype=np.float64)
        a_vec = np.zeros(len(urls), dtype=np.float64)
        for _ in range(iters):
            a_raw = np.zeros(len(urls), dtype=np.float64)
            np.add.at(a_raw, dst_idx, h_vec[src_idx])
            a_vec = a_raw / a_raw.sum()
            h_raw = np.zeros(len(urls), dtype=np.float64)
            np.add.at(h_raw, src_idx, a_vec[dst_idx])
            h_vec = h_raw / h_raw.sum()
        return _local_frame(
            documents.sparkSession, nodes.schema["url"].dataType,
            [("url", urls), ("authority", a_vec), ("hub", h_vec)], round9=True,
        )
    bc = F.broadcast if n_nodes <= broadcast_threshold else (lambda df: df)
    h = nodes.select("url", F.lit(1.0).alias("hub"))
    a = None
    for _ in range(iters):
        # checkpoint the RAW aggregate once, then normalize as a cheap
        # projection over it — the sum and every downstream use read
        # the checkpoint instead of re-running the edge join
        hb = bc(h)
        a_raw = (
            hb.join(edges, hb["url"] == edges["src"])
            .groupBy("dst")
            .agg(F.sum("hub").alias("auth"))
            .select(F.col("dst").alias("url"), "auth")
            .localCheckpoint()
        )
        a = a_raw.crossJoin(
            F.broadcast(a_raw.agg(F.sum("auth").alias("s")))
        ).select("url", (F.col("auth") / F.col("s")).alias("auth"))
        ab = bc(a)
        h_raw = (
            ab.join(edges, ab["url"] == edges["dst"])
            .groupBy("src")
            .agg(F.sum("auth").alias("hub"))
            .select(F.col("src").alias("url"), "hub")
            .localCheckpoint()
        )
        h = h_raw.crossJoin(
            F.broadcast(h_raw.agg(F.sum("hub").alias("s")))
        ).select("url", (F.col("hub") / F.col("s")).alias("hub"))
    return (
        nodes.join(bc(a), "url", "left")
        .join(bc(h), "url", "left")
        .select(
            "url",
            F.round(F.coalesce("auth", F.lit(0.0)), 9).alias("authority"),
            F.round(F.coalesce("hub", F.lit(0.0)), 9).alias("hub"),
        )
    )
