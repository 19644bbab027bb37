"""Deduplication operators for large-scale training-data pipelines.

The reference's only dedup is the crawl-side compact-string signature
(webCrawler/WebCrawler.java:224-243, F13) and the visited-url
anti-join (P2/P3). This module keeps those (reference parity) and adds
the standard web-scale family: exact hash dedup, MinHash+LSH, SimHash,
and n-gram Jaccard verification.

Cross-engine determinism: every hash used here is md5 (identical in
Spark and DuckDB) so each operator has an exact SQL oracle. All
operators are pure DataFrame/SQL expressions — no UDFs — and scale as
one or two shuffles:

* exact:    groupBy(md5(text))           — 1 shuffle
* minhash:  explode shingles -> groupBy(doc) agg n mins -> band
            groupBy                      — 2 shuffles, band buckets
            bound the pair blow-up
* simhash:  explode tokens -> 32 bit-majority aggs -> groupBy sig
* jaccard:  shingle self-join restricted to candidate pairs
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nadry_spark.spread import spread_small_scan

_LOG = logging.getLogger("nadry_spark.dedup")

HEX_HIGH = ("8", "9", "a", "b", "c", "d", "e", "f")

# Default LSH band-bucket cap: a degenerate band signature (boilerplate
# or empty docs sharing every minhash) would otherwise make ONE
# bucket's self-join quadratic in bucket size — the classic LSH blowup
# at corpus scale. Buckets over the cap are SKIPPED (standard
# practice: a bucket that large is boilerplate, not near-dup signal)
# and the drop is logged/returned — never silent.
DEFAULT_BUCKET_CAP = 1000

# driver fast-path gates for the exact Jaccard join (ngram_jaccard_dups):
# collect at most this many shingle OCCURRENCE rows (estimated from a
# cheap token-count aggregation before anything is collected) ...
DRIVER_JACCARD_MAX_OCC_ROWS = 5_000_000
# ... and enumerate at most this many co-occurrence pair rows (exact
# bound computed driver-side from the per-shingle dfs; past it the
# collect is abandoned and the distributed PPJoin path runs unchanged)
DRIVER_JACCARD_MAX_PAIR_ROWS = 50_000_000

# Jaccard-verify broadcast gate: broadcast the candidate-doc shingle
# arrays into the pair stream while the (distinct) shingle row count —
# an upper bound on the array table, measured on the already-persisted
# frame — stays under this. ~30 bytes/row -> ~300 MB worst case, well
# inside executor/broadcast limits; past it the verify falls back to
# the two shuffle joins unchanged (the 100 TB shape).
BROADCAST_VERIFY_MAX_SHINGLE_ROWS = 10_000_000


def skip_hot_buckets(
    df: DataFrame,
    key_cols: tuple[str, ...],
    cap: int,
    *,
    op: str,
    stats: dict | None = None,
    stats_key: str = "skipped_buckets",
    logger: logging.Logger = _LOG,
    literal_fallback: int = 4096,
) -> DataFrame:
    """Shared hot-bucket discipline for every pair-generating operator
    (MinHash bands, cosine sign buckets, winnowing fingerprints): ONE
    small aggregation names the over-cap groups — few by definition,
    each holds >cap members — which become a literal NOT-IN filter on
    the main plan (no join, no extra shuffle in the common
    zero-degenerate case; anti-join fallback past ``literal_fallback``
    degenerate groups). Skips are logged with the dropped-pair upper
    bound and reported via ``stats[stats_key]`` /
    ``stats["max_pairs_dropped"]`` — never silent."""
    sizes = df.groupBy(*key_cols).agg(F.count("*").alias("n_bucket"))
    skipped_rows = sizes.where(F.col("n_bucket") > cap).collect()
    n_skipped = len(skipped_rows)
    max_dropped = sum(r["n_bucket"] * (r["n_bucket"] - 1) // 2 for r in skipped_rows)
    if stats is not None:
        stats[stats_key] = n_skipped
        stats["max_pairs_dropped"] = max_dropped
    if not n_skipped:
        return df
    logger.warning(
        "%s: skipped %d hot buckets over cap=%d (up to %d candidate pairs dropped)",
        op, n_skipped, cap, max_dropped,
    )
    if n_skipped <= literal_fallback:
        key = F.concat_ws("\x00", *[F.col(c).cast("string") for c in key_cols])
        skip_keys = ["\x00".join(str(r[c]) for c in key_cols) for r in skipped_rows]
        return df.where(~key.isin(skip_keys))
    keep = sizes.where(F.col("n_bucket") <= cap).select(*key_cols)
    return df.join(keep, list(key_cols), "left_semi")


# ---------------------------------------------------------------------------
# exact + compact-string (reference F13/P3)
# ---------------------------------------------------------------------------


def exact_dup_membership(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exploded dup membership: one row per (text_hash, n_dups, id) for
    texts occurring more than once — the 100TB-scale output shape.

    Window count, NO per-group array: a pathological group (e.g. every
    doc empty) stays exploded rows across tasks instead of one
    corpus-sized collect_list through a single reducer."""
    from pyspark.sql import Window

    h = df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col).alias("id"))
    # count over the id-ordered spec with an unbounded frame: same
    # result as an orderless window but shares ONE sort with the
    # row_number the capped-groups consumer adds on top
    w = Window.partitionBy("text_hash").orderBy("id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return h.withColumn("n_dups", F.count("*").over(w)).where(F.col("n_dups") > 1)


def exact_dup_groups(
    df: DataFrame, id_col: str, text_col: str, id_cap: int = 100
) -> DataFrame:
    """(text_hash, n_dups, ids) for texts occurring more than once.

    Display/driver shape over :func:`exact_dup_membership`: ``n_dups``
    is the exact total, ``ids`` holds only the ``id_cap`` smallest
    member ids (row_number before the collect), so one degenerate
    group can never build a corpus-sized array in a single reducer.
    Consumers needing full membership take the exploded form."""
    from pyspark.sql import Window

    mem = exact_dup_membership(df, id_col, text_col)
    w = Window.partitionBy("text_hash").orderBy("id")
    capped = mem.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= id_cap)
    return capped.groupBy("text_hash", "n_dups").agg(
        F.sort_array(F.collect_list("id")).alias("ids")
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id row per identical text (first-writer-wins analog
    of the reference's setOnInsert upsert, MongoDBIndexStore.java:222)."""
    w_min = (
        df.groupBy(F.md5(F.col(text_col)).alias("_h"))
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(w_min, id_col, "left_semi")


def compact_string_col(text_col: str):
    """F13 (WebCrawler.java:224-243): concat first char of every
    whitespace-separated word with len>2 whose first char is
    alphanumeric. Pure column expression."""
    words = F.split(F.col(text_col), r"\s+")
    firsts = F.transform(
        F.filter(
            words,
            lambda wrd: (F.length(wrd) > 2)
            & F.substring(wrd, 1, 1).rlike("[a-zA-Z0-9]"),
        ),
        lambda wrd: F.substring(wrd, 1, 1),
    )
    return F.array_join(firsts, "")


# ---------------------------------------------------------------------------
# shingles
# ---------------------------------------------------------------------------


def word_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """(id, shingle) — distinct word n-grams over lowercased \\s+ tokens.

    Shuffle-free n-gram formation: ``explode(array(split(...)))``
    materializes the token array through a Generate node, so the
    shingle ``transform()`` lambda references a plain ATTRIBUTE —
    CollapseProject cannot inline the split() into the lambda (the
    O(tokens^2)-per-doc trap of referencing a computed array column
    across select stages), and split() runs exactly once per doc.
    This replaces the earlier posexplode + lead() window formulation:
    same rows, minus the Exchange+Sort over one-row-per-token that the
    per-doc window paid (identity asserted in
    tests/test_dedup.py::test_word_shingles_matches_window_form).

    ``distinct=False`` skips the final dedup shuffle and returns one
    row per shingle OCCURRENCE — for consumers whose aggregations are
    multiset-invariant (MinHash mins) or that dedup in-aggregate
    (jaccard_pairs' array_distinct); set semantics are unchanged.

    Re-split: downstream partial aggregations (distinct / MinHash md5
    mins) run map-side ON THE SCAN TASKS now that no exchange precedes
    them; a small parquet input packs into ~1 split and would serialize
    that work, so under-parallel inputs are spread by id first (doc
    rows — strictly fewer shuffled bytes than the old token-row window
    exchange). At scale the scan already has >= cluster parallelism
    and this is a no-op.
    """
    df = spread_small_scan(df, id_col)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(F.split(F.lower(F.col(text_col)), r"\s+"))
        ).alias("toks"),
    )
    elems = ", ".join(f"element_at(toks, i + {j})" for j in range(n))
    sh_arr = F.expr(
        f"CASE WHEN size(toks) < {n} THEN array() "
        f"ELSE transform(sequence(1, size(toks) - {n - 1}), "
        f"i -> concat_ws(' ', {elems})) END"
    )
    out = toks.select("id", F.explode(sh_arr).alias("shingle"))
    return out.distinct() if distinct else out


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    shingles: DataFrame, n_hashes: int = 16
) -> DataFrame:
    """(id, mh0..mh{n-1}) — mh_i = min(md5(i || shingle)).

    String-min over md5 hex digests: identical in any engine, no seed
    material beyond the hash index.
    """
    aggs = [
        F.min(F.md5(F.concat(F.lit(str(i) + "|"), F.col("shingle")))).alias(f"mh{i}")
        for i in range(n_hashes)
    ]
    return shingles.groupBy("id").agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    stats: dict | None = None,
) -> DataFrame:
    """(id_a, id_b) candidate pairs sharing at least one LSH band.

    Banding is ONE explode over an array of band structs (a 4-way
    union would recompute the signature aggregation per band); the
    bucket self-join reuses the same exchange on both sides.

    ``bucket_cap`` bounds the per-bucket self-join: buckets with more
    than ``bucket_cap`` members are skipped entirely (degenerate band
    signatures — empty/boilerplate docs sharing all minhashes — make
    one bucket quadratic at corpus scale). Skips are logged with the
    upper-bound pair count dropped and reported through ``stats``
    (keys ``skipped_buckets`` / ``max_pairs_dropped``) — no silent
    truncation. ``bucket_cap=None`` disables the cap.
    """
    rows = n_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("|", *[F.col(f"mh{b * rows + r}") for r in range(rows)]).alias("sig"),
        )
        for b in range(bands)
    ]
    banded = signatures.select(
        "id", F.explode(F.array(*band_structs)).alias("bs")
    ).select("id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    if bucket_cap is not None:
        banded = skip_hot_buckets(
            banded, ("band", "sig"), bucket_cap,
            op="lsh_candidate_pairs", stats=stats,
        )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def jaccard_pairs(
    shingles: DataFrame,
    candidates: DataFrame | None = None,
    threshold: float = 0.0,
    broadcast_arrays: bool = False,
) -> DataFrame:
    """(id_a, id_b, jaccard) via shingle self-join; optionally restricted
    to LSH candidates (the scale path — never all-pairs).

    ``broadcast_arrays``: broadcast the per-doc shingle-array table
    into the candidate-pair stream instead of shuffle-joining it twice.
    The arrays are ~KBs per doc, so the two shuffle joins move
    |candidates| x array-size bytes (GBs at ~1M candidates) where the
    pair stream itself is ~16 bytes/row; with the broadcast the verify
    is ONE stage over the skinny pair stream and the only exchanged
    payload is the (candidate-docs-only) array table, once. Callers
    enable it when the candidate-doc set is bounded (ngram_jaccard_dups
    / minhash_dedup_pairs gate on the measured shingle row count)."""
    if candidates is not None:
        # per-pair set intersection: join each candidate pair to the two
        # docs' shingle arrays and intersect. O(candidates * shingle set)
        # — the shingle self-join is O(sum df^2) over ALL docs and blows
        # up on common shingles, which is exactly what LSH candidates
        # are supposed to avoid paying.
        # Only docs that appear in a candidate pair need their shingle
        # array materialized: semi-join BEFORE the wide collect_list agg
        # so the agg is O(candidate docs), not O(corpus).
        cand_ids = (
            candidates.select(F.col("id_a").alias("id"))
            .unionByName(candidates.select(F.col("id_b").alias("id")))
            .distinct()
        )
        arrs = (
            shingles.join(cand_ids, "id", "left_semi")
            .groupBy("id")
            # array_distinct in-aggregate: set semantics even when the
            # caller skipped word_shingles' distinct shuffle (identical
            # for already-distinct inputs; array_intersect dedups its
            # own output either way)
            .agg(F.array_distinct(F.collect_list("shingle")).alias("sh"))
            .select("id", "sh", F.size("sh").alias("n_sh"))
        )
        if broadcast_arrays:
            # materialize the array table ONCE: it embeds the candidate
            # join (via cand_ids), and the a/b broadcast exchanges are
            # different projections, so without the checkpoint each
            # broadcast build would recompute the whole candidate
            # generation
            arrs = arrs.localCheckpoint()
            # the skinny pair stream (16 B/row) coalesces to ~1 AQE
            # partition, serializing the per-pair intersections that
            # dominate the verify — spread it explicitly (hash by the
            # pair key, fixed partition count so AQE keeps it)
            candidates = candidates.repartition(
                candidates.sparkSession.sparkContext.defaultParallelism,
                "id_a", "id_b",
            )
        a = arrs.select(
            F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("n_a")
        )
        b = arrs.select(
            F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("n_b")
        )
        if broadcast_arrays:
            a, b = F.broadcast(a), F.broadcast(b)
        out = (
            candidates.join(a, "id_a")
            .join(b, "id_b")
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("sh_a", "sh_b")).alias("n_int"),
                "n_a",
                "n_b",
            )
            .select(
                "id_a",
                "id_b",
                (F.col("n_int") / (F.col("n_a") + F.col("n_b") - F.col("n_int"))).alias(
                    "jaccard"
                ),
            )
        )
    else:
        sizes = shingles.groupBy("id").agg(F.count("*").alias("n_sh"))
        a = shingles.alias("a")
        bb = shingles.alias("b")
        inter = (
            a.join(
                bb,
                (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count("*").alias("n_int"))
        )
        out = (
            inter.join(
                sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a"
            )
            .join(
                sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b"
            )
            .select(
                "id_a",
                "id_b",
                (F.col("n_int") / (F.col("n_a") + F.col("n_b") - F.col("n_int"))).alias(
                    "jaccard"
                ),
            )
        )
    if threshold > 0:
        out = out.where(F.col("jaccard") >= threshold)
    return out


def prefix_filtered_candidates(
    shingles: DataFrame,
    threshold: float,
    *,
    stats: dict | None = None,
) -> DataFrame:
    """All-Pairs/PPJoin prefix-filtered candidate pairs for an
    exact-threshold Jaccard self-join (Bayardo et al., "Scaling Up All
    Pairs Similarity Search", WWW'07; Xiao et al., "Efficient
    Similarity Joins for Near Duplicate Detection", WWW'08).

    Fix any global total order on shingles. If J(A,B) >= t then
    |A∩B| >= ceil(t*|A∪B|) >= ceil(t*|x|) for x in {A,B}, so the
    globally-smallest common shingle has at least ceil(t*|x|)-1
    intersection members after it inside each set — it must sit within
    the first |x| - ceil(t*|x|) + 1 shingles (the Jaccard prefix) of
    BOTH sets. Equi-joining prefixes only is therefore LOSSLESS vs the
    naive all-pairs shingle join, and the order (global df asc,
    shingle asc) puts the rarest shingles in the prefix: the frequent
    boilerplate shingles that make the naive join O(sum df^2) land in
    suffixes and never generate candidates. A size-compatibility
    predicate (min(|A|,|B|) >= t*max, valid since J <= min/max) prunes
    cross-size pairs inside the join itself.

    Cost: one shuffle by shingle (df window), one by id (prefix rank),
    then a self-join whose fan-out is bounded by rare-shingle df — the
    shape that survives a corpus 100x this size, unlike the naive
    shingle self-join.
    """
    from pyspark.sql import Window

    t = float(threshold)
    ranked = (
        shingles.withColumn("df", F.count("*").over(Window.partitionBy("shingle")))
        .withColumn("n_sh", F.count("*").over(Window.partitionBy("id")))
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("id").orderBy("df", "shingle")),
        )
    )
    prefix = ranked.where(
        F.col("rn") <= F.col("n_sh") - F.ceil(F.lit(t) * F.col("n_sh")) + F.lit(1)
    ).select("id", "shingle", "n_sh", "rn")
    # the prefix frame (two window exchanges over shingle rows) feeds
    # BOTH sides of the self-join and, when asked, the evidence count —
    # materialize it once instead of re-running the window pipeline per
    # consumer (it is a strict subset of the shingle rows, so the
    # checkpoint is bounded by the input)
    prefix = prefix.localCheckpoint()
    if stats is not None:
        # evidence jobs only when the caller asks for them
        stats["shingle_rows"] = shingles.count()
        stats["prefix_rows"] = prefix.count()
    a = prefix.alias("a")
    b = prefix.alias("b")
    # PPJoin positional filter (Xiao WWW'08 §3): a token matching at
    # positions (pa, pb) of the two sorted sets bounds the overlap at
    # 1 + min(n_a - pa, n_b - pb); J >= t requires overlap >=
    # t/(1+t) * (n_a + n_b). Filtering each match row is LOSSLESS for
    # the PAIR: a qualifying pair's FIRST common token (guaranteed in
    # both prefixes) carries the loosest bound among its match rows
    # and satisfies the requirement whenever J >= t, so at least one
    # row survives. The 1e-9 slack keeps binary-fraction noise in
    # t/(1+t) from ever over-pruning at exact integer boundaries
    # (under-pruning only costs verify work, never correctness).
    overlap_bound = F.lit(1) + F.least(
        F.col("a.n_sh") - F.col("a.rn"), F.col("b.n_sh") - F.col("b.rn")
    )
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            & (
                F.least(F.col("a.n_sh"), F.col("b.n_sh"))
                >= F.lit(t) * F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
            )
            & (
                overlap_bound.cast("double") * F.lit(1.0 + t)
                >= F.lit(t) * (F.col("a.n_sh") + F.col("b.n_sh")) - F.lit(1e-9)
            ),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _jaccard_local(spark, occ_pdf, id_dtype, threshold: float, cand_pdf=None):
    """Driver-side exact-threshold Jaccard self-join over collected
    shingle OCCURRENCE rows (id, shingle) — the naive co-occurrence
    formulation, affordable here precisely because the input passed
    the driver gate: n_int(a, b) = count of distinct shingles shared,
    enumerated per shingle group with vectorized numpy offsets.

    ``cand_pdf`` (id_a, id_b rows, id_a < id_b by value) restricts the
    output to a candidate pair set — the LSH verify semantics, where
    only candidate pairs may be returned regardless of their true
    Jaccard. Requires ``threshold > 0``: a candidate pair with zero
    common shingles never enters the co-occurrence stream here, while
    the join verify would emit it with jaccard 0.

    Produces the same (id_a, id_b, jaccard) rows as the PPJoin
    prefix-filter + array_intersect verify (the prefix filter is
    lossless, so both compute exactly the J >= t pair set): same
    id_a < id_b value order (np.unique codes are value-sorted; UTF-8
    byte order == code-point order for string ids), same
    int/(int+int-int) double division. Returns None when the
    enumerated pair bound exceeds ``DRIVER_JACCARD_MAX_PAIR_ROWS``
    (degenerate shared-shingle distribution) — caller falls back to
    the distributed path."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    ids_u, id_code = np.unique(occ_pdf["id"].to_numpy(), return_inverse=True)
    sh_code, _sh_u = pd.factorize(occ_pdf["shingle"])
    n_ids = len(ids_u)
    n_sh = len(_sh_u)
    # distinct (id, shingle) — word_shingles(distinct=True) semantics
    key = np.unique(id_code.astype(np.int64) * n_sh + sh_code)
    idx = (key // n_sh).astype(np.int64)
    shx = (key % n_sh).astype(np.int64)
    n_per_id = np.bincount(idx, minlength=n_ids)
    df_per_sh = np.bincount(shx).astype(np.int64)
    if int((df_per_sh * (df_per_sh - 1) // 2).sum()) > DRIVER_JACCARD_MAX_PAIR_ROWS:
        return None
    order = np.lexsort((idx, shx))
    s_sorted = shx[order]
    d_sorted = idx[order]
    parts = []
    k = 1
    # groups are contiguous after the sort: once no row matches the
    # shingle k positions ahead, no group is larger than k
    while k < len(s_sorted):
        m = s_sorted[:-k] == s_sorted[k:]
        if not m.any():
            break
        # within a shingle group ids are ascending and distinct, so
        # (d[i], d[i+k]) is already the id_a < id_b orientation
        parts.append(d_sorted[:-k][m] * np.int64(n_ids) + d_sorted[k:][m])
        k += 1
    if parts:
        upk, n_int = np.unique(np.concatenate(parts), return_counts=True)
    else:
        upk = np.empty(0, dtype=np.int64)
        n_int = np.empty(0, dtype=np.int64)
    if cand_pdf is not None and n_ids > 0:
        # restrict to the candidate pair set: map candidate ids to
        # codes (ids absent from the occurrence rows have no shingles,
        # hence no signature, hence cannot be candidates — dropped
        # defensively) and keep only enumerated pairs in the set
        ca_vals = cand_pdf["id_a"].to_numpy()
        cb_vals = cand_pdf["id_b"].to_numpy()
        ca = np.minimum(np.searchsorted(ids_u, ca_vals), n_ids - 1)
        cb = np.minimum(np.searchsorted(ids_u, cb_vals), n_ids - 1)
        ok = (ids_u[ca] == ca_vals) & (ids_u[cb] == cb_vals)
        ckeys = np.unique(ca[ok].astype(np.int64) * n_ids + cb[ok])
        keep = np.isin(upk, ckeys, assume_unique=False)
        upk, n_int = upk[keep], n_int[keep]
    ia = upk // n_ids
    ib = upk % n_ids
    jac = n_int / (n_per_id[ia] + n_per_id[ib] - n_int)
    if threshold > 0:
        keep = jac >= threshold
        ia, ib, jac = ia[keep], ib[keep], jac[keep]
    schema = StructType(
        [
            StructField("id_a", id_dtype, True),
            StructField("id_b", id_dtype, True),
            StructField("jaccard", DoubleType(), True),
        ]
    )
    return spark.createDataFrame(
        pd.DataFrame({"id_a": ids_u[ia], "id_b": ids_u[ib], "jaccard": jac}),
        schema,
    )


# driver MinHash-LSH gates (on top of DRIVER_JACCARD_MAX_OCC_ROWS):
# the signature computation hashes each DISTINCT shingle n_hashes
# times driver-side (hashlib md5 ~0.5 us/call -> 16 x 500k = ~4 s
# worst case) ...
DRIVER_MINHASH_MAX_DISTINCT_SHINGLES = 500_000
# ... and the per-pair verify loops over the LSH candidate pairs in
# Python (~5 us/pair); past either bound the distributed pipeline
# runs unchanged (the 100x shape).
DRIVER_MINHASH_MAX_CAND_PAIRS = 2_000_000


def _csr_distinct_shingles(id_code, sh_code, n_ids: int, n_sh: int):
    """CSR view of the DISTINCT (id, shingle) pairs from occurrence
    codes: returns (offsets, sorted shingle codes per id, per-id set
    sizes). word_shingles(distinct=True) semantics — duplicates
    collapse — matching the array_distinct the join verify applies."""
    import numpy as np

    key = np.unique(id_code.astype(np.int64) * n_sh + sh_code)
    idx = (key // n_sh).astype(np.int64)
    shx = (key % n_sh).astype(np.int64)
    counts = np.bincount(idx, minlength=n_ids)
    offs = np.concatenate(([0], np.cumsum(counts)))
    return offs, shx, counts


def _jaccard_local_cand(spark, occ_pdf, id_dtype, threshold: float, cand_pdf):
    """Driver-side CANDIDATE-RESTRICTED Jaccard verify: per-pair sorted
    set intersection over the collected shingle occurrence rows — the
    numpy mirror of the broadcast array_intersect verify, minus the
    full co-occurrence enumeration :func:`_jaccard_local` pays (the
    candidate set is already bounded by LSH, so O(pairs x set size)
    beats O(sum df^2) whenever candidates are selective).

    Identical rows to the join verify for ``threshold > 0`` (callers
    gate on it): same distinct-set sizes, same int/(int+int-int)
    double division, candidates with id_a >= id_b by value or ids
    absent from the occurrence rows dropped exactly as
    :func:`_jaccard_local`'s ckeys restriction drops them. Returns
    None past ``DRIVER_MINHASH_MAX_CAND_PAIRS`` (caller falls back to
    the distributed verify)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    if len(cand_pdf) > DRIVER_MINHASH_MAX_CAND_PAIRS:
        return None
    ids_u, id_code = np.unique(occ_pdf["id"].to_numpy(), return_inverse=True)
    sh_code, sh_uniq = pd.factorize(occ_pdf["shingle"])
    n_ids = len(ids_u)
    n_sh = len(sh_uniq)
    offs, shx, counts = _csr_distinct_shingles(id_code, sh_code, n_ids, n_sh)
    if n_ids and len(cand_pdf):
        ca_vals = cand_pdf["id_a"].to_numpy()
        cb_vals = cand_pdf["id_b"].to_numpy()
        ca = np.minimum(np.searchsorted(ids_u, ca_vals), n_ids - 1)
        cb = np.minimum(np.searchsorted(ids_u, cb_vals), n_ids - 1)
        ok = (ids_u[ca] == ca_vals) & (ids_u[cb] == cb_vals) & (ca < cb)
        keys = np.unique(ca[ok].astype(np.int64) * n_ids + cb[ok])
        ca = (keys // n_ids).astype(np.int64)
        cb = (keys % n_ids).astype(np.int64)
    else:
        ca = np.empty(0, dtype=np.int64)
        cb = np.empty(0, dtype=np.int64)
    n_int = np.empty(len(ca), dtype=np.int64)
    for p in range(len(ca)):
        a = ca[p]
        b = cb[p]
        n_int[p] = np.intersect1d(
            shx[offs[a] : offs[a + 1]],
            shx[offs[b] : offs[b + 1]],
            assume_unique=True,
        ).size
    jac = n_int / (counts[ca] + counts[cb] - n_int) if len(ca) else n_int.astype(float)
    if threshold > 0:
        keep = jac >= threshold
        ca, cb, jac = ca[keep], cb[keep], jac[keep]
    schema = StructType(
        [
            StructField("id_a", id_dtype, True),
            StructField("id_b", id_dtype, True),
            StructField("jaccard", DoubleType(), True),
        ]
    )
    return spark.createDataFrame(
        pd.DataFrame({"id_a": ids_u[ca], "id_b": ids_u[cb], "jaccard": jac}),
        schema,
    )


def _minhash_local(
    spark,
    occ_pdf,
    id_dtype,
    n_hashes: int,
    bands: int,
    threshold: float,
    bucket_cap: int | None,
    stats: dict | None,
):
    """Full driver-side MinHash-LSH pipeline over collected shingle
    OCCURRENCE rows — signatures, banding, hot-bucket skip, candidate
    pairs and the restricted Jaccard verify in one numpy pass (the
    components/pagerank fast-path precedent; gated by the caller on
    the occurrence-row count and here on the distinct-shingle and
    candidate-pair bounds; returns None past a gate so the distributed
    pipeline runs unchanged).

    Bit-identical to the distributed pipeline by construction:

    * mh_i = min over the doc's DISTINCT shingles of
      md5(str(i) + "|" + shingle) — hashlib md5 of the UTF-8 bytes ==
      Spark ``md5()`` of the string (lowercase hex); the min is taken
      on integer RANKS of the digests (ascending digest order == UTF-8
      binary order == numpy U32 order for hex), a bijection, and mins
      over the occurrence MULTISET equal mins over the set.
    * band buckets: two docs share a (band, sig) bucket iff their
      ``rows_per_band`` min-digests all match iff their min-ranks all
      match — grouped on the int columns, no digest strings built.
    * hot-bucket skip: same count-per-(band, sig) > cap rule, same
      ``skipped_buckets`` / ``max_pairs_dropped`` stats and the same
      warning the shared :func:`skip_hot_buckets` emits.
    * pairs: per kept bucket all (id_a < id_b)-by-value pairs,
      deduplicated across bands; verify via
      :func:`_jaccard_local_cand` (identical restricted-verify rows).
    """
    import hashlib

    import numpy as np
    import pandas as pd

    sh_code, sh_uniq = pd.factorize(occ_pdf["shingle"])
    n_sh = len(sh_uniq)
    if n_sh > DRIVER_MINHASH_MAX_DISTINCT_SHINGLES:
        return None
    ids_u, id_code = np.unique(occ_pdf["id"].to_numpy(), return_inverse=True)
    n_ids = len(ids_u)
    rows_per_band = n_hashes // bands
    # group occurrence rows by doc once; per-hash mins via reduceat.
    # sorted id_code groups enumerate codes 0..n_ids-1 in order, so
    # group j IS doc code j and the min-rank arrays index by doc code.
    order = np.argsort(id_code, kind="stable")
    g_sh = sh_code[order]
    g_id = id_code[order]
    starts = (
        np.flatnonzero(np.concatenate(([True], g_id[1:] != g_id[:-1])))
        if n_ids
        else np.empty(0, dtype=np.int64)
    )
    md5 = hashlib.md5
    sh_bytes = [s.encode("utf-8") for s in sh_uniq]
    min_ranks = np.empty((n_hashes, n_ids), dtype=np.int64)
    for i in range(n_hashes):
        pre = (str(i) + "|").encode()
        digs = np.array([md5(pre + b).hexdigest() for b in sh_bytes], dtype="U32")
        sort_idx = np.argsort(digs, kind="stable")
        rank = np.empty(n_sh, dtype=np.int64)
        rank[sort_idx] = np.arange(n_sh)
        min_ranks[i] = (
            np.minimum.reduceat(rank[g_sh], starts) if len(g_sh) else 0
        )
    skipped = 0
    max_dropped = 0
    total_pairs = 0
    pair_parts = []
    for b in range(bands):
        cols = min_ranks[b * rows_per_band : (b + 1) * rows_per_band]
        ord2 = np.lexsort(cols[::-1]) if n_ids else np.empty(0, dtype=np.int64)
        diff = np.zeros(n_ids, dtype=bool)
        if n_ids:
            diff[0] = True
        for c in cols:
            cs = c[ord2]
            diff[1:] |= cs[1:] != cs[:-1]
        bstarts = np.flatnonzero(diff)
        bends = np.concatenate((bstarts[1:], [n_ids])) if len(bstarts) else bstarts
        sizes = bends - bstarts
        if bucket_cap is not None:
            hot = sizes > bucket_cap
            skipped += int(hot.sum())
            max_dropped += sum(int(n) * (int(n) - 1) // 2 for n in sizes[hot])
            keep_mask = (sizes >= 2) & ~hot
        else:
            keep_mask = sizes >= 2
        total_pairs += sum(int(n) * (int(n) - 1) // 2 for n in sizes[keep_mask])
        if total_pairs > DRIVER_MINHASH_MAX_CAND_PAIRS:
            return None
        for s, e in zip(bstarts[keep_mask], bends[keep_mask]):
            m = np.sort(ord2[s:e])
            ii, jj = np.triu_indices(e - s, k=1)
            pair_parts.append(m[ii].astype(np.int64) * n_ids + m[jj])
    if pair_parts:
        keys = np.unique(np.concatenate(pair_parts))
    else:
        keys = np.empty(0, dtype=np.int64)
    if stats is not None and bucket_cap is not None:
        stats["skipped_buckets"] = skipped
        stats["max_pairs_dropped"] = max_dropped
    if skipped:
        _LOG.warning(
            "%s: skipped %d hot buckets over cap=%d (up to %d candidate pairs dropped)",
            "lsh_candidate_pairs", skipped, bucket_cap, max_dropped,
        )
    cand_pdf = pd.DataFrame(
        {"id_a": ids_u[(keys // n_ids)], "id_b": ids_u[(keys % n_ids)]}
        if n_ids
        else {"id_a": [], "id_b": []}
    )
    return _jaccard_local_cand(spark, occ_pdf, id_dtype, threshold, cand_pdf)


def ngram_jaccard_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    threshold: float = 0.5,
    stats: dict | None = None,
) -> DataFrame:
    """Exact-threshold all-pairs n-gram Jaccard near-dup join:
    shingle -> prefix-filtered candidates -> jaccard verify.

    Unlike ``minhash_dedup_pairs`` (probabilistic candidate recall,
    capped buckets), this returns EXACTLY the set of pairs with
    J >= threshold — the prefix filter is lossless by construction —
    while still avoiding the O(sum df^2) naive shingle self-join.
    Returns (id_a, id_b, jaccard). ``stats`` (optional) records
    shingle/prefix/candidate-pair counts as pruning evidence, and
    forces the distributed path (the counts ARE that path's
    telemetry).

    Driver fast path (the components/pagerank precedent): when the
    token-count estimate says the occurrence rows are driver-sized
    (``DRIVER_JACCARD_MAX_OCC_ROWS``) the verify runs as one numpy
    co-occurrence pass over the collected shingle rows
    (:func:`_jaccard_local` — identical rows by construction,
    asserted in tests/test_dedup.py), with an exact enumerated-pair
    bound falling back to the distributed join on degenerate inputs.
    Past the gates the PPJoin shape below runs unchanged — that shape,
    not the fast path, is what survives a 100x corpus.

    Persist discipline mirrors ``minhash_dedup_pairs``: the shingle
    frame feeds both the candidate generation and the verify join, so
    it is persisted for the call and released once the (small) verified
    pair set is checkpointed.
    """
    if stats is None:
        # a count probe, not a bounded collect: it sizes the occurrence
        # frame BEFORE building it, where a LIMIT probe would build and
        # ship up to the bound of shingle rows only to fall back
        est = df.select(
            F.sum(F.size(F.split(F.col(text_col), r"\s+"))).alias("n")
        ).collect()[0]["n"]
        if est is not None and est <= DRIVER_JACCARD_MAX_OCC_ROWS:
            occ = word_shingles(df, id_col, text_col, shingle_n, distinct=False)
            out = _jaccard_local(
                df.sparkSession,
                occ.select(F.col("id"), F.col("shingle")).toPandas(),
                df.schema[id_col].dataType,
                threshold,
            )
            if out is not None:
                return out
            _LOG.warning(
                "ngram_jaccard_dups: enumerated pair bound over %d — "
                "falling back to the distributed prefix join",
                DRIVER_JACCARD_MAX_PAIR_ROWS,
            )
    sh = word_shingles(df, id_col, text_col, shingle_n).persist()
    # count materializes the persisted shingles (paid once, every later
    # stage reads the cache) and gates the verify's broadcast plan
    bcast = sh.count() <= BROADCAST_VERIFY_MAX_SHINGLE_ROWS
    # persist the candidate pairs: the verify consumes them on the pair
    # stream AND (via cand_ids) inside the array table — without the
    # cache the prefix self-join runs once per consumer
    cand = prefix_filtered_candidates(sh, threshold, stats=stats).persist()
    if stats is not None:
        stats["candidate_pairs"] = cand.count()
    pairs = jaccard_pairs(
        sh, cand, threshold, broadcast_arrays=bcast
    ).localCheckpoint()
    sh.unpersist()
    cand.unpersist()
    return pairs


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    stats: dict | None = None,
) -> DataFrame:
    """Full MinHash-LSH pipeline: shingle -> minhash -> band-bucket
    (capped at ``bucket_cap`` members per bucket, skips logged) ->
    jaccard-verify >= threshold. Returns (id_a, id_b, jaccard).

    The shingle frame feeds both the signature aggregation and the
    jaccard verification — persisted so the explode+md5 work runs once,
    and released as soon as the (small) verified pair set is
    materialized. localCheckpoint (not persist) on the result: it
    TRUNCATES lineage, so the returned frame never needs the shingles
    again (re-reads hit the checkpoint blocks, which the ContextCleaner
    frees once the caller drops the DataFrame — no unpersist ownership
    to hand over).
    """
    # occurrence rows, not distinct rows: MinHash mins are multiset-
    # invariant and the verify dedups in-aggregate, so the distinct
    # shuffle buys nothing here
    sh = word_shingles(df, id_col, text_col, shingle_n, distinct=False).persist()
    # a count probe, not a bounded collect: n_occ also picks the
    # broadcast verify below
    n_occ = sh.count()
    occ_pdf = None
    if n_occ <= DRIVER_JACCARD_MAX_OCC_ROWS and threshold > 0:
        # full driver fast path: ONE Spark job (the shingle collect)
        # replaces the signature aggregation (n_hashes md5s per
        # occurrence row), the banding self-join + distinct and the
        # hot-bucket sizes job — the collected rows were already the
        # price of the driver verify. Stats/skip semantics identical
        # (asserted in tests); falls back past the distinct-shingle /
        # candidate-pair gates with the collect as sunk cost.
        occ_pdf = sh.select("id", "shingle").toPandas()
        out = _minhash_local(
            df.sparkSession,
            occ_pdf,
            df.schema[id_col].dataType,
            n_hashes,
            bands,
            threshold,
            bucket_cap,
            stats,
        )
        if out is not None:
            sh.unpersist()
            return out
        _LOG.warning(
            "minhash_dedup_pairs: driver LSH gates tripped — falling "
            "back to the distributed pipeline"
        )
    bcast = n_occ <= BROADCAST_VERIFY_MAX_SHINGLE_ROWS
    # signatures persisted too: with a bucket_cap the banded frame is
    # consumed by the sizes job AND both sides of the bucket self-join —
    # caching the (n_docs x 16) signature frame keeps the 16-way min
    # aggregation from running three times
    sigs = minhash_signatures(sh, n_hashes).persist()
    cand = lsh_candidate_pairs(
        sigs, n_hashes, bands, bucket_cap=bucket_cap, stats=stats
    ).persist()
    pairs = None
    if occ_pdf is not None:
        # driver verify of the LSH-bounded candidates over the rows
        # collected above: identical restricted-verify rows, minus the
        # array-table aggregation + broadcast + intersect stages
        pairs = _jaccard_local_cand(
            df.sparkSession, occ_pdf, df.schema[id_col].dataType, threshold,
            cand.select("id_a", "id_b").toPandas(),
        )
        if pairs is None:
            _LOG.warning(
                "minhash_dedup_pairs: candidate pair bound over %d — "
                "falling back to the distributed verify",
                DRIVER_MINHASH_MAX_CAND_PAIRS,
            )
    if pairs is None:
        pairs = jaccard_pairs(sh, cand, threshold, broadcast_arrays=bcast)
    pairs = pairs.localCheckpoint()
    sh.unpersist()
    sigs.unpersist()
    cand.unpersist()
    return pairs


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """(id, simhash string of `bits` 0/1 chars).

    bit_j(token) = high bit of md5 hex nibble j; signature bit j =
    majority vote weighted by token frequency. md5-derived so the SQL
    oracle reproduces it exactly.
    """
    # the 32 md5-sum aggregations run map-side on the scan tasks; a
    # small parquet input packs into ~1 split and would serialize them
    # (word_shingles' re-split rationale; no-op at scan parallelism >=
    # cluster width)
    df = spread_small_scan(df, id_col)
    toks = (
        df.select(F.col(id_col).alias("id"), F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"))
        .where(F.length("tok") > 0)
        .withColumn("h", F.md5(F.col("tok")))
    )
    aggs = [
        F.sum(
            F.when(F.substring(F.col("h"), j + 1, 1).isin(*HEX_HIGH), 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    per_doc = toks.groupBy("id").agg(*aggs)
    bit_chars = [F.when(F.col(f"b{j}") > 0, "1").otherwise("0") for j in range(bits)]
    return per_doc.select("id", F.concat(*bit_chars).alias("simhash"))


def simhash_dup_groups(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32, id_cap: int = 100
) -> DataFrame:
    """Docs sharing an identical simhash signature (near-dup buckets).

    Bounded like :func:`exact_dup_groups`: exact ``n`` via window
    count, ``ids`` capped at the ``id_cap`` smallest members so a
    degenerate signature bucket never funnels a corpus-sized array
    through one reducer."""
    from pyspark.sql import Window

    sigs = simhash_signatures(df, id_col, text_col, bits)
    wo = Window.partitionBy("simhash").orderBy("id")
    w = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    mem = sigs.withColumn("n", F.count("*").over(w)).where(F.col("n") > 1)
    capped = mem.withColumn("_rn", F.row_number().over(wo)).where(F.col("_rn") <= id_cap)
    return capped.groupBy("simhash", "n").agg(
        F.sort_array(F.collect_list("id")).alias("ids")
    )


def keep_best_per_group(
    members: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "group",
    score_col: str = "quality",
) -> DataFrame:
    """Quality-aware canonical selection: per duplicate GROUP keep the
    highest-scoring member (ties -> min id). Real pipelines keep the
    best-extracted copy of a duplicated page, not the first-crawled
    one — min-id `exact_dedup` is the reference-compat variant, this
    is the quality-aware one. Grouping is pluggable: exact-hash
    groups, SimHash buckets, or MinHash+CC cluster labels all fit the
    (id, group) shape.

    One group-keyed window (argmax by (score desc, id asc)); scores
    should already sit on a rounding grid (quality_score's round-9)
    so the winner is engine-independent. Returns (id, group, score)
    for the surviving member of every group."""
    from pyspark.sql import Window

    joined = members.select(id_col, group_col).join(scores, id_col)
    w = Window.partitionBy(group_col).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
