"""Connected components by min-label propagation — the clustering
step that turns near-duplicate PAIRS (MinHash/SimHash/cosine output)
into duplicate GROUPS for keep-one-per-cluster corpus cleaning.

Spark has no built-in connected components (GraphFrames is an
external package), so this implements the classic iterative
formulation with DataFrame ops only: every vertex starts labeled with
its own id; each round every vertex takes the min of its own label
and its neighbours' labels. A component converges once the minimum id
has reached every member — O(diameter) rounds, each round one join +
one min-aggregate (two shuffles on vertex id).

Near-dup graphs are almost always unions of small quasi-cliques
(every member of a dup group pairs with most others), so diameter is
tiny and a handful of rounds converges. For graphs with long chains
at 100 TB scale the round count grows with diameter — the
large-star/small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) halves diameter per
round and would be the upgrade path; for dedup clustering the plain
propagation is the right cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nadry_spark.localrows import _local_frame, collect_bounded

# driver fast-path gate of every function here: the SYMMETRIZED edge
# count (twice the raw pair rows) the numpy rounds run over, ~tens of
# MB at 2M. The pair stream is checkpointed before the bounded collect:
# the fallback unions it with itself, and both then read the checkpoint
# instead of re-evaluating an expensive pair pipeline per consumer.
DRIVER_MAX_SYM_EDGES = 2_000_000


def _collect_edges(raw: DataFrame):
    """The driver paths' (a, b) rows, or None past the gate or on a NULL
    endpoint: the distributed plans' rows are the NULL contract."""
    pdf = collect_bounded(raw, DRIVER_MAX_SYM_EDGES // 2)
    return None if pdf is None or pdf.isna().to_numpy().any() else pdf


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 8,
    until_converged: bool = False,
    checkpoint_every: int = 3,
) -> DataFrame:
    """(v, component) for every vertex appearing in ``edges``;
    ``component`` is the minimum vertex id reachable within
    ``iterations`` propagation rounds (= the true component id once
    rounds >= graph diameter).

    ``until_converged=True`` additionally stops early when a round
    changes no label (one count() job per round — the driver-side
    loop is control flow only, all data stays distributed). Fixed
    ``iterations`` with ``until_converged=False`` is bit-deterministic
    regardless of convergence, which is what the cross-engine oracle
    checks rely on.

    Driver fast path (the bpe_merges / mmr_select precedent): dedup
    pair graphs are a tiny fraction of the corpus (LSH/PPJoin
    candidates that VERIFIED — thousands of edges for thousands of
    docs), so when twice the raw edge count is driver-sized
    (``DRIVER_MAX_SYM_EDGES``, 2M; 2x because the recurrence runs over
    the symmetrized set — one bounded collect decides) the k propagation
    rounds run as vectorized numpy min-scatters on one collected edge
    list instead of k (join + min-aggregate) Spark rounds (2 shuffles
    each). The simulation is round-for-round the SAME recurrence
    (label(v) <- min(label(v), min over neighbours)), on index ranks
    of the sorted vertex set, so min-by-rank == min-by-value for
    numeric ids and for strings (UTF-8 byte order == code-point
    order) — bit-identical output to the distributed loop, asserted
    in tests/test_components_fuzzy.py. Past the threshold (true
    corpus-scale pair graphs) the distributed loop runs unchanged.
    """
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint()
    pdf = _collect_edges(raw)
    if pdf is not None:
        # symmetrize the collected RAW pair rows in numpy — duplicate
        # edges are harmless to a min-scatter, so the Spark-side
        # distinct shuffle + checkpoint the distributed loop needs buys
        # nothing on the fast path
        verts, labels = _cc_numpy(pdf, iterations, until_converged)
        return _local_frame(
            edges.sparkSession,
            raw.schema["a"].dataType,
            [("v", verts), ("component", verts[labels])],
            n_keys=2,
        )
    return _cc_distributed(raw, iterations, until_converged, checkpoint_every)


def _cc_distributed(
    raw: DataFrame, iterations: int, until_converged: bool, checkpoint_every: int
) -> DataFrame:
    """The distributed min-label propagation loop over (a, b) pairs."""
    und = raw.unionByName(raw.select(F.col("b").alias("a"), F.col("a").alias("b")))
    und = und.distinct().localCheckpoint()
    labels = (
        und.select(F.col("a").alias("v")).distinct()
        .withColumn("component", F.col("v"))
    )
    for i in range(iterations):
        nbr = und.join(
            labels.select(F.col("v").alias("b"), "component"), "b"
        ).select(F.col("a").alias("v"), "component")
        new_labels = (
            labels.unionByName(nbr)
            .groupBy("v")
            .agg(F.min("component").alias("component"))
        )
        if (i + 1) % checkpoint_every == 0 or until_converged:
            new_labels = new_labels.localCheckpoint()
        if until_converged:
            changed = (
                new_labels.join(labels.withColumnRenamed("component", "_old"), "v")
                .where(F.col("component") != F.col("_old"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        else:
            labels = new_labels
    return labels


def _cc_numpy(pdf, iterations: int, until_converged: bool):
    """Driver-side simulation of ``iterations`` min-label-propagation
    rounds over collected RAW (a, b) pair rows — exactly the
    recurrence of the distributed loop, vectorized with numpy
    min-scatters. Symmetrization happens here (both scatter
    directions); duplicate/self edges cannot change a min. Returns
    (verts, labels) with ``labels`` as indices into the sorted
    ``verts`` (min-by-rank == min-by-value for numeric ids and for
    strings — UTF-8 byte order == code-point order)."""
    import numpy as np

    a_vals = pdf["a"].to_numpy()
    b_vals = pdf["b"].to_numpy()
    verts = np.unique(np.concatenate([a_vals, b_vals]))
    a_idx = np.searchsorted(verts, a_vals)
    b_idx = np.searchsorted(verts, b_vals)
    labels = np.arange(len(verts), dtype=np.int64)
    for _ in range(iterations):
        new = labels.copy()
        # label(v) <- min(label(v), min over labels of its neighbours)
        np.minimum.at(new, a_idx, labels[b_idx])
        np.minimum.at(new, b_idx, labels[a_idx])
        if until_converged and np.array_equal(new, labels):
            break
        labels = new
    return verts, labels


def connected_components_with_sizes(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 8,
) -> DataFrame:
    """(v, component, cluster_size) — :func:`connected_components`
    labels joined with the per-component member count, in ONE call.

    The labels-then-sizes shape every keep-one-per-cluster consumer
    needs costs a groupBy + a join over the (tiny) label frame when
    composed from the outside — two extra shuffle stages whose task
    overhead dominates at driver-graph sizes. On the driver fast path
    the sizes are one ``np.unique`` over the final labels, so the
    whole answer returns as a single driver-built frame; past the
    gate it composes the distributed pieces unchanged."""
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint()
    pdf = _collect_edges(raw)
    if pdf is not None:
        import numpy as np

        verts, labels = _cc_numpy(pdf, iterations, False)
        _, inv, cnt = np.unique(labels, return_inverse=True, return_counts=True)
        return _local_frame(
            edges.sparkSession,
            raw.schema["a"].dataType,
            [
                ("v", verts),
                ("component", verts[labels]),
                ("cluster_size", cnt[inv].astype("int64")),
            ],
            n_keys=2,
        )
    labels = _cc_distributed(raw, iterations, False, checkpoint_every=3)
    sizes = labels.groupBy("component").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return labels.join(sizes, "component").select("v", "component", "cluster_size")


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """Synchronous label propagation communities (Raghavan et al.,
    Phys. Rev. E 2007, "Near linear time algorithm to detect community
    structures in large-scale networks") — (v, community) after a
    FIXED number of rounds.

    Where :func:`connected_components` answers "which docs are
    transitively linked at all" (dedup clusters), LPA answers "which
    densely-linked neighbourhood does each page sit in" (site/domain
    communities for crawl partitioning, domain-cap grouping, topical
    sampling strata).

    Every vertex starts labeled with its own id; each round every
    vertex adopts the most frequent label among its neighbours
    (vertex-count weighted), ties broken by MIN label — with a fixed
    round count this is bit-deterministic, so the DuckDB oracle can
    unroll the rounds as chained CTEs. Vertices keep their previous
    label on rounds where they have no labeled neighbour (isolated
    vertices never occur here: vertices are edge endpoints after
    symmetrization).

    Scale: per round one join keyed by vertex + one (v, label) count
    + one per-v argmax window — all shuffles on the vertex id, no
    driver-side data. Lineage capped per round with localCheckpoint.
    """
    from pyspark.sql import Window

    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint()
    pdf = _collect_edges(raw)
    if pdf is not None:
        # raw rows collected; symmetrize + self-loop drop + DISTINCT
        # happen in numpy (LPA counts neighbours, so unlike CC the
        # dedup is semantic here and must match the distributed
        # loop's distinct() exactly — it does, on pair identity)
        return _lpa_local(raw, pdf, iterations)
    und = raw.unionByName(raw.select(F.col("b").alias("a"), F.col("a").alias("b")))
    und = und.where(F.col("a") != F.col("b")).distinct().localCheckpoint()
    labels = und.select(F.col("a").alias("v")).distinct().withColumn(
        "community", F.col("v")
    )
    w = Window.partitionBy("v").orderBy(F.desc("cnt"), F.asc("community"))
    for _ in range(iterations):
        nbr = und.join(
            labels.select(F.col("v").alias("b"), "community"), "b"
        ).select(F.col("a").alias("v"), "community")
        labels = (
            nbr.groupBy("v", "community")
            .agg(F.count("*").alias("cnt"))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("v", "community")
            .localCheckpoint()
        )
    return labels


def _lpa_local(raw: DataFrame, pdf, iterations: int) -> DataFrame:
    """Driver-side simulation of ``iterations`` synchronous LPA rounds
    over collected RAW (a, b) pair rows — the exact
    argmax-by-(count desc, label asc) recurrence of the distributed
    loop, on index ranks of the sorted vertex set (count/argmax are
    pure integer ops, so the output is bit-identical; min-by-rank ==
    min-by-value, same argument as _cc_numpy). Symmetrization,
    self-loop removal and the distinct() the distributed loop applies
    are reproduced here in numpy — LPA counts neighbours, so the
    dedup is load-bearing, unlike CC's."""
    import numpy as np

    spark = raw.sparkSession
    a0 = pdf["a"].to_numpy()
    b0 = pdf["b"].to_numpy()
    # drop self-loop rows BEFORE the vertex set (matching the
    # distributed `.where(a != b)` placement: a vertex incident only
    # to self-loops is not a vertex of the LPA graph), then
    # symmetrize + distinct on (a, b) identity
    m = a0 != b0
    a0, b0 = a0[m], b0[m]
    verts = np.unique(np.concatenate([a0, b0]))
    n = len(verts)
    ai = np.concatenate([np.searchsorted(verts, a0), np.searchsorted(verts, b0)])
    bi = np.concatenate([np.searchsorted(verts, b0), np.searchsorted(verts, a0)])
    pair_key = np.unique(ai.astype(np.int64) * n + bi.astype(np.int64))
    a_idx = (pair_key // n).astype(np.int64)
    b_idx = (pair_key % n).astype(np.int64)
    labels = np.arange(n, dtype=np.int64)
    for _ in range(iterations):
        # counts[(v, neighbour-label)] -> argmax by (count desc, label asc)
        key = a_idx.astype(np.int64) * n + labels[b_idx]
        uniq, cnt = np.unique(key, return_counts=True)
        v_of = uniq // n
        lab_of = uniq % n
        # lexsort: within each v, highest count first, then smallest
        # label — the first row per v is the distributed row_number()==1
        order = np.lexsort((lab_of, -cnt, v_of))
        v_sorted = v_of[order]
        first = np.ones(len(order), dtype=bool)
        first[1:] = v_sorted[1:] != v_sorted[:-1]
        new = labels.copy()
        new[v_sorted[first]] = lab_of[order][first]
        labels = new
    return _local_frame(
        spark,
        raw.schema["a"].dataType,
        [("v", verts), ("community", verts[labels])],
        n_keys=2,
    )
