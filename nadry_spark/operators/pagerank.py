"""PageRank — reference-exact semantics as iterative DataFrame joins.

Reference: nadry/ranker/PageRank.java:15-81. Faithfully reproduced
quirks (copy, don't "fix" — SURVEY.md §7 hard part 5):

* The graph map is keyed by DESTINATION url -> list of inlinker urls,
  restricted to known urls (:20-34). The rank vector covers only pages
  with >= 1 inlink; N = that count (:45).
* The contribution divisor is ``graph.get(inPage).size()`` (:67-69) —
  since `graph` is keyed by destination, that is the inlinker's
  **IN-degree**, not its out-degree. (A textbook PageRank would divide
  by out-degree; the reference divides by in-degree. Reproduced.)
* Inlinkers that have no inlinks of their own are skipped (:63-66).
* damping 0.85, L1 tolerance 1e-6, max 100 iterations (:11-13).
* Links per doc are a Set (ProcessedDocument) — duplicate edges cannot
  occur from one page; self-links are allowed if present in the set.

Scale: each iteration is one join + one aggregation on the edge table;
lineage is truncated with localCheckpoint every few iterations; the L1
delta is the per-iteration action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nadry_spark.localrows import _local_frame, collect_bounded

DAMPING = 0.85
TOLERANCE = 1.0e-6
MAX_ITER = 100
# driver fast-path gate of pagerank and trustrank: live edge rows one
# bounded collect may bring to the driver
DRIVER_MAX_EDGES = 5_000_000


def build_edges(documents: DataFrame) -> DataFrame:
    """J5: (src, dst) edges from doc outlinks, dst restricted to known
    urls (PageRank.java:27 membership filter / P8)."""
    urls = documents.select(F.col("url").alias("dst")).distinct()
    return (
        documents.select(F.col("url").alias("src"), F.explode("links").alias("dst"))
        .distinct()  # links are a Set in the reference
        .join(urls, "dst", "left_semi")
    )


def pagerank(
    documents: DataFrame,
    damping: float = DAMPING,
    tol: float = TOLERANCE,
    max_iter: int = MAX_ITER,
    checkpoint_every: int = 5,
    check_every: int = 1,
    broadcast_threshold: int = 1_000_000,
) -> DataFrame:
    """(url, popularity_score) over pages with >=1 inlink.

    check_every=1 (default) reproduces the reference's per-iteration
    convergence test (PageRank.java:49-76) exactly. check_every=k>1
    trades reference-exact stopping for ~k× fewer driver actions: the
    delta is compared against the vector from the LAST check, which in
    practice over-estimates the per-iteration delta (so the loop runs
    at or past the reference's stopping point), but mixed-sign rank
    movements can in principle cancel across k steps, so k>1 is a
    throughput knob, not a parity mode. tol<=0 selects fixed-iteration
    mode: exactly max_iter rounds, zero mid-loop actions — the
    oracle-comparable and benchmark configuration.

    When the rank vector fits a broadcast (n <= broadcast_threshold),
    each iteration broadcasts ranks/contribs instead of shuffling the
    persisted edge table — the edge side never moves, only the
    vertex-sized aggregation output does. The 1M-row default keeps the
    serialized (url, double) vector in the tens of MB (urls ~50-80
    bytes); remember the broadcast ships TWICE per iteration for up to
    max_iter iterations, so this must stay well under what a single
    executor comfortably rebuilds per round. Past the threshold (true
    web-graph scale) the shuffle join takes over unchanged.

    Driver fast path: while n fits ``broadcast_threshold`` and the live
    edge list fits ``DRIVER_MAX_EDGES`` (one bounded collect decides),
    the iterations run in numpy over the collected edges, summed in a
    fixed order — bit-reproducible whatever the input partitioning."""
    spark = documents.sparkSession
    edges = build_edges(documents).persist()

    # V = pages with at least one inlink; indeg = reference divisor
    vertices = edges.groupBy("dst").agg(F.count("*").alias("indeg")).persist()
    n = vertices.count()
    if n == 0:
        edges.unpersist()
        vertices.unpersist()
        return spark.createDataFrame([], "url string, popularity_score double")

    # only edges whose src is itself ranked contribute (:63-66)
    live_edges = (
        edges.join(
            vertices.select(F.col("dst").alias("src"), F.col("indeg").alias("src_indeg")),
            "src",
        )
        .select("src", "dst", "src_indeg")
        .persist()
    )

    ranks = vertices.select("dst", F.lit(1.0 / n).alias("rank"))
    base = (1.0 - damping) / n

    # Driver fast path: the power iteration as numpy scatter-adds on
    # the collected edge table instead of max_iter (broadcast-join +
    # aggregate) rounds — the same recurrence (contrib[dst] = sum
    # rank[src]/indeg[src]; rank = base + d*contrib) and L1 test at the
    # same check_every cadence. Its summation order differs from
    # Spark's partial aggregation (the DuckDB oracle's noise class) but
    # is fixed, so the scores do not depend on the partitioning.
    epdf = (
        collect_bounded(live_edges, DRIVER_MAX_EDGES)
        if n <= broadcast_threshold
        else None
    )
    if epdf is not None:
        out = _pagerank_local(
            spark, epdf, vertices, n, damping, tol, max_iter, check_every
        )
        edges.unpersist()
        vertices.unpersist()
        live_edges.unpersist()
        return out

    small = n <= broadcast_threshold
    bc = F.broadcast if small else (lambda df: df)

    last_checked = ranks
    for it in range(max_iter):
        contribs = (
            live_edges.join(bc(ranks.withColumnRenamed("dst", "src")), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("src_indeg")).alias("contrib"))
        )
        new_ranks = (
            vertices.select("dst")
            .join(bc(contribs), "dst", "left")
            .select(
                "dst",
                (F.lit(base) + damping * F.coalesce(F.col("contrib"), F.lit(0.0))).alias(
                    "rank"
                ),
            )
        )
        at_checkpoint = (it + 1) % checkpoint_every == 0
        if at_checkpoint:
            new_ranks = new_ranks.localCheckpoint()
        ranks = new_ranks if at_checkpoint else new_ranks.localCheckpoint(eager=False)
        if tol > 0 and ((it + 1) % check_every == 0 or it == max_iter - 1):
            delta = (
                ranks.join(last_checked.withColumnRenamed("rank", "old"), "dst")
                .agg(F.sum(F.abs(F.col("rank") - F.col("old"))).alias("d"))
                .collect()[0]["d"]
            )
            last_checked = ranks
            if delta is not None and delta < tol:
                break

    out = ranks.select(F.col("dst").alias("url"), F.col("rank").alias("popularity_score"))
    edges.unpersist()
    vertices.unpersist()
    live_edges.unpersist()
    return out


def _edge_index(verts, epdf, src: str = "src", dst: str = "dst"):
    """(order, src_idx, dst_idx): positions of the collected edges'
    endpoints in the sorted vertex array, and the (dst, src) order that
    fixes every numpy scatter-add's summation order — without it the
    float sums follow the collect's arrival order, which changes with
    the input's partitioning."""
    import numpy as np

    src_idx = np.searchsorted(verts, epdf[src].to_numpy())
    dst_idx = np.searchsorted(verts, epdf[dst].to_numpy())
    order = np.lexsort((src_idx, dst_idx))
    return order, src_idx[order], dst_idx[order]


def _pagerank_local(
    spark, epdf, vertices, n, damping, tol, max_iter, check_every
) -> DataFrame:
    """Driver-side power iteration over the collected live-edge table —
    the exact recurrence of the distributed loop, vectorized with numpy
    scatter-adds (see the fast-path comment in :func:`pagerank`)."""
    import numpy as np

    verts = np.sort(vertices.select("dst").toPandas()["dst"].to_numpy())
    order, src_idx, dst_idx = _edge_index(verts, epdf)
    indeg = epdf["src_indeg"].to_numpy().astype(np.float64)[order]

    ranks = np.full(n, 1.0 / n, dtype=np.float64)
    base = (1.0 - damping) / n
    last_checked = ranks.copy()
    for it in range(max_iter):
        contrib = np.zeros(n, dtype=np.float64)
        np.add.at(contrib, dst_idx, ranks[src_idx] / indeg)
        ranks = base + damping * contrib
        if tol > 0 and ((it + 1) % check_every == 0 or it == max_iter - 1):
            delta = float(np.abs(ranks - last_checked).sum())
            last_checked = ranks.copy()
            if delta < tol:
                break

    return _local_frame(
        spark, vertices.schema["dst"].dataType,
        [("url", verts), ("popularity_score", ranks)],
    )


def apply_pagerank(doc_stats: DataFrame, ranks: DataFrame) -> DataFrame:
    """Write scores back into doc stats (MongoDBIndexStore.java:105-129):
    docs without a rank keep popularity 0.0."""
    return (
        doc_stats.drop("popularity_score")
        .join(ranks, "url", "left")
        .withColumn("popularity_score", F.coalesce(F.col("popularity_score"), F.lit(0.0)))
    )


def trustrank(
    documents: DataFrame,
    seeds: DataFrame,
    damping: float = DAMPING,
    iters: int = 3,
    broadcast_threshold: int = 1_000_000,
) -> DataFrame:
    """TrustRank (Gyongyi, Garcia-Molina & Pedersen, VLDB'04): trust
    propagation from a trusted seed set to demote web spam before a
    corpus is used for training — personalized PageRank with the
    teleport vector restricted to the seeds.

    Deliberately TEXTBOOK semantics (divide by the linker's
    OUT-degree), unlike ``pagerank`` above which reproduces the
    reference's in-degree-divisor quirk: TrustRank is a new
    first-class operator of this engine, not a reference behavior.
    Dangling mass (pages with no outlinks) is dropped, the common
    simplification — scores remain a valid relative trust ordering.

    ``seeds``: DataFrame with a ``url`` column (must be a subset of
    the documents' urls).  Returns (url, trust_score) for EVERY page
    (unreachable non-seeds score 0), scores on the 1e-9 grid.

    Scale: per iteration one edge join + one aggregation, like
    ``pagerank``; the seed vector is node-sized and the uniform seed
    mass 1/|seeds| is a broadcast scalar. The driver fast path takes
    ``pagerank``'s gates: ``broadcast_threshold`` nodes and
    ``DRIVER_MAX_EDGES`` live edges.
    """
    edges = build_edges(documents)
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    live = edges.join(outdeg, "src")
    nodes = documents.select("url").distinct()
    n_seeds = seeds.count()
    base = nodes.join(
        seeds.select("url").withColumn("s", F.lit(1.0 / float(n_seeds))),
        "url",
        "left",
    ).select("url", F.coalesce("s", F.lit(0.0)).alias("s"))
    base = base.localCheckpoint()
    n_nodes = nodes.count()
    # driver fast path (same gates/rationale as pagerank's): the
    # recurrence t = (1-d)*s + d*contrib over a collected live-edge
    # table, numpy scatter-adds per round
    epdf = (
        collect_bounded(live.select("src", "dst", "outdeg"), DRIVER_MAX_EDGES)
        if n_nodes <= broadcast_threshold
        else None
    )
    if epdf is not None:
        import numpy as np

        bpdf = base.toPandas()
        urls = bpdf["url"].to_numpy()
        by_url = np.argsort(urls)
        urls = urls[by_url]
        s_vec = bpdf["s"].to_numpy().astype(np.float64)[by_url]
        order, src_idx, dst_idx = _edge_index(urls, epdf)
        outdeg_f = epdf["outdeg"].to_numpy().astype(np.float64)[order]
        rank = s_vec.copy()
        for _ in range(iters):
            contrib = np.zeros(len(urls), dtype=np.float64)
            np.add.at(contrib, dst_idx, rank[src_idx] / outdeg_f)
            rank = (1.0 - damping) * s_vec + damping * contrib
        return _local_frame(
            documents.sparkSession, base.schema["url"].dataType,
            [("url", urls), ("trust_score", rank)], round9=True,
        )
    # trust vectors are node-sized: broadcast them like pagerank does
    # so the edge table never shuffles while the graph fits; past the
    # threshold the joins degrade to the correct shuffle plan
    bc = F.broadcast if n_nodes <= broadcast_threshold else (lambda df: df)
    t = base.select("url", F.col("s").alias("rank"))
    for _ in range(iters):
        tb = bc(t)
        contrib = (
            tb.join(live, tb["url"] == live["src"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("c"))
        )
        contrib = bc(contrib)
        t = (
            base.join(contrib, base["url"] == contrib["dst"], "left")
            .select(
                base["url"],
                (
                    (F.lit(1.0) - F.lit(damping)) * F.col("s")
                    + F.lit(damping) * F.coalesce("c", F.lit(0.0))
                ).alias("rank"),
            )
        )
    return t.select("url", F.round("rank", 9).alias("trust_score"))
