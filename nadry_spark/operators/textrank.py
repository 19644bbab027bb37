"""TextRank keyword extraction (Mihalcea & Tarau, EMNLP'04 "TextRank:
Bringing Order into Texts") — unsupervised keyword scoring by running
PageRank over the word co-occurrence graph.  The corpus-pipeline use
is topic/keyword tagging of web documents at scale (per-corpus salient
vocabulary, index-time boost terms, cluster labels) without any model
artifact.

Graph: vertices are tokens surviving the tokenizer-lite filter
(length 2..50, non-stopword); an undirected edge joins two tokens
whenever they are TEXTUALLY adjacent in the raw token stream (window
of 2, the paper's default-strength co-occurrence), weighted by the
corpus-wide adjacency count in either order.  Self-loops are dropped.

Score iteration (weighted TextRank, eq. 2 of the paper):

    s_i(v) = (1-d) + d * sum_{u ~ v}  ( s_{i-1}(u) / wdeg(u) ) * w(u,v)

with damping d = 0.85, uniform init s_0 = 1.0, a FIXED iteration count
(tol=0) so the DuckDB oracle can unroll the loop as chained CTEs.
Per-edge op order is divide-then-multiply, mirrored exactly in the
SQL mirror; scores land on the 1e-9 grid.

Scale: the vertex set is the vocabulary and the edge set the distinct
adjacent-bigram set — both shuffle-keyed by term, both orders of
magnitude smaller than the corpus after the first aggregation.  Each
iteration is one broadcast-eligible join + one vocabulary-sized
aggregation; lineage is capped with localCheckpoint per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nadry_spark.localrows import _local_frame, collect_bounded
from nadry_spark.operators.pagerank import _edge_index
from nadry_spark.spread import spread_small_scan

# driver fast-path gate: (u, v) edge rows of the vocabulary graph one
# bounded collect may bring to the driver
DRIVER_MAX_EDGES = 5_000_000


def _token_pairs(docs: DataFrame, stop: list[str], text_col: str) -> DataFrame:
    """Directed textually-adjacent (w1, w2) occurrences; both tokens
    must survive the tokenizer-lite filter (same adjacency semantics
    as operators/collocations.pmi_bigrams)."""

    def _ok(c):
        cond = (F.length(c) >= 2) & (F.length(c) <= 50)
        if stop:
            cond = cond & ~c.isin(stop)
        return cond

    # Generate-array adjacency (see dedup.word_shingles / collocations):
    # the token array is materialized through a Generate node and
    # adjacent pairs explode from it in place — no per-doc lead()
    # window Exchange+Sort. Under-parallel scans are spread by doc
    # first so the downstream aggregation's map side doesn't serialize
    # on a single-split input.
    docs = spread_small_scan(docs, "doc_id")
    toks = docs.select(
        "doc_id",
        F.explode(F.array(F.split(F.lower(F.col(text_col)), r"\s+"))).alias("toks"),
    )
    pair_arr = F.expr(
        "CASE WHEN size(toks) < 2 THEN array() "
        "ELSE transform(sequence(1, size(toks) - 1), "
        "i -> struct(element_at(toks, i) AS w, element_at(toks, i + 1) AS nx)) END"
    )
    return (
        toks.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.w").alias("w"), F.col("p.nx").alias("nx"))
        .where(_ok(F.col("w")) & _ok(F.col("nx")))
        .where(F.col("w") != F.col("nx"))
        .select(F.col("w").alias("w1"), F.col("nx").alias("w2"))
    )


def textrank_keywords(
    docs: DataFrame,
    stopwords: list[str] | None = None,
    iters: int = 3,
    damping: float = 0.85,
    text_col: str = "text",
) -> DataFrame:
    """(term, score) for every token with at least one co-occurrence
    neighbour, after `iters` damped iterations.  Isolated tokens (no
    surviving adjacent partner anywhere in the corpus) have no graph
    presence and are not returned — they carry no relational evidence
    for the keyword decision.

    Driver fast path: while the edge list fits ``DRIVER_MAX_EDGES``
    (one bounded collect decides) the iterations run as numpy
    scatter-adds over the collected edges, summed in a fixed order."""
    stop = sorted(set(stopwords or []))
    pairs = _token_pairs(docs, stop, text_col)

    directed = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    # undirected weight: adjacency count in either order
    edges = (
        directed.select(F.col("w1").alias("u"), F.col("w2").alias("v"), "c")
        .unionByName(directed.select(F.col("w2").alias("u"), F.col("w1").alias("v"), "c"))
        .groupBy("u", "v")
        .agg(F.sum("c").alias("w_uv"))
        .localCheckpoint()
    )
    # driver fast path (pagerank precedent): the vocabulary graph is
    # orders of magnitude smaller than the corpus (distinct adjacent
    # bigrams); when it is driver-sized run the damped iterations as
    # numpy scatter-adds over the collected (u, v, w_uv) table, wdeg
    # being the exact integer sum of w_uv per u — per-edge op order
    # (divide by wdeg THEN multiply by w_uv) matches the distributed
    # expression; output on the same 1e-9 grid.
    epdf = collect_bounded(edges, DRIVER_MAX_EDGES)
    if epdf is not None:
        import numpy as np

        terms = np.unique(epdf["u"].to_numpy())
        order, u_idx, v_idx = _edge_index(terms, epdf, "u", "v")
        w_int = epdf["w_uv"].to_numpy().astype(np.int64)[order]
        wdeg_int = np.zeros(len(terms), dtype=np.int64)
        np.add.at(wdeg_int, u_idx, w_int)
        wdeg_vec = wdeg_int.astype(np.float64)
        w_uv = w_int.astype(np.float64)
        rank = np.ones(len(terms), dtype=np.float64)
        base_f = 1.0 - damping
        for _ in range(iters):
            contrib = np.zeros(len(terms), dtype=np.float64)
            np.add.at(contrib, v_idx, (rank[u_idx] / wdeg_vec[u_idx]) * w_uv)
            rank = base_f + damping * contrib
        return _local_frame(
            docs.sparkSession, edges.schema["u"].dataType,
            [("term", terms), ("score", rank)], round9=True,
        )
    wdeg = edges.groupBy("u").agg(F.sum("w_uv").alias("wdeg")).localCheckpoint()
    vertices = wdeg.select(F.col("u").alias("term"))

    base = F.lit(1.0) - F.lit(damping)
    ranks = vertices.select("term", F.lit(1.0).alias("rank"))
    for _ in range(iters):
        contrib = (
            edges.join(ranks, edges["u"] == ranks["term"])
            .join(wdeg, "u")
            .select(
                F.col("v"),
                ((F.col("rank") / F.col("wdeg")) * F.col("w_uv").cast("double")).alias(
                    "x"
                ),
            )
            .groupBy("v")
            .agg(F.sum("x").alias("s"))
        )
        ranks = (
            vertices.join(contrib, vertices["term"] == contrib["v"], "left")
            .select(
                "term",
                (base + F.lit(damping) * F.coalesce("s", F.lit(0.0))).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks.select("term", F.round("rank", 9).alias("score"))
