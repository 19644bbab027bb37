"""Inbound anchor-text aggregation — the classic external-description
signal of web search (Brin & Page, WWW'98 §2.2: "anchors often provide
more accurate descriptions of web pages than the pages themselves";
also the reason Lucene/Nutch index a separate `anchor` field).  The
crawl emits per-occurrence (src page, dst page, anchor text) triples;
this operator inverts them into a per-TARGET term table a ranker can
blend as an extra field — covering pages whose own text is thin
(homepages, media, JS-rendered shells).

Output per (dst, term): ``tf`` = total occurrences of the term across
all inbound anchors, ``n_srcs`` = number of DISTINCT linking pages
whose anchors use the term (the spam-resistant count — one page
repeating "cheap pills" a thousand times still counts once).

Scale shape: explode + one (dst, term)-keyed aggregation.  Both
aggregates are map-side combinable (count_distinct(src) partial-aggs
to a per-partition distinct set before shuffling); the hot-dst skew of
mega-popular targets is the same shape as a stopword-heavy term in
postings building and is handled by the same two-phase partial
aggregation, so no salting is needed for counting aggregates.
Tokenization is the tokenizer-lite filter (length 2..50, non-stop) so
the DuckDB oracle mirrors it verbatim.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def anchor_term_index_tokenized(
    links: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    anchor_col: str = "anchor",
) -> DataFrame:
    """(dst, term, tf, n_srcs) with anchor text run through the
    engine's REAL tokenizer (NFC + Porter2 + specials, the same
    pandas UDF the index build uses) — so anchor terms live in the
    SAME vocabulary as the serving index and a query token can join
    them directly. The tokenizer-lite variant below is the
    oracle-mirrorable analytics flavor; this one is the serving
    flavor (jobs/anchors.py backfill)."""
    from nadry_spark.functions.udfs import tokenize_udf

    tok = links.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.explode(tokenize_udf(F.col(anchor_col))).alias("term"),
    )
    return tok.groupBy("dst", "term").agg(
        F.count("*").alias("tf"),
        F.countDistinct("src").alias("n_srcs"),
    )


def _anchor_boosted(index, topk, tie: str, query: str, k: int, weight: float,
                    pool: int | None, mode: str, conjunctive: bool) -> DataFrame:
    """The one body of both boosted entry points: ``topk`` (a BM25
    entry point) ranks the pool with its tie contract, each family
    member's live backfilled anchors map to doc_id through its own
    docmap (doc_no spaces are per-segment), and the boosted pool is
    reordered on (score desc, ``tie`` asc). Members without a backfill
    contribute no evidence."""
    from nadry_spark.functions.tokenizer import tokenize

    toks = sorted(set(tokenize(query)))
    base = topk(index, query, k=pool or max(50, 5 * k), mode=mode,
                conjunctive=conjunctive)
    parts = [
        index._live(i, seg.anchors.where(F.col("term").isin(toks)))
        .join(seg.docmap.select("doc_no", "doc_id"), "doc_no")
        .select("doc_id", "n_srcs")
        for i, seg in enumerate(index.segments)
        if seg.has_anchors
    ]
    if parts:
        asrc = reduce(DataFrame.unionByName, parts)
        asrc = asrc.groupBy("doc_id").agg(F.sum("n_srcs").alias("_asrc"))
        base = base.join(asrc, "doc_id", "left")
    else:
        base = base.withColumn("_asrc", F.lit(None).cast("long"))
    return (
        base.select(
            *(c for c in base.columns if c not in ("score", "_asrc")),
            F.round(
                F.col("score")
                + F.lit(float(weight))
                * F.log(F.lit(1.0) + F.coalesce("_asrc", F.lit(0)).cast("double")),
                9,
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(tie))
        .limit(k)
    )


def anchor_boosted_topk(
    index,
    query: str,
    k: int = 10,
    weight: float = 0.2,
    pool: int | None = None,
    mode: str = "taat",
    conjunctive: bool = False,
) -> DataFrame:
    """BM25 re-ranked with inbound-anchor evidence:

        final = round( bm25 + weight * ln(1 + anchor_srcs), 9 )

    where anchor_srcs sums the doc's distinct inbound linkers whose
    anchors use each query term (the spam-resistant count).  The
    candidate pool is the BM25 top-`pool` (default 5k-per-k), so the
    anchor join touches pool rows, never the corpus; rows carry
    doc_no and ties break on it like the unboosted bm25_topk.
    Requires a `jobs/anchors.py` backfill (index.has_anchors);
    anchor-only hits (docs matched by inbound text but not their own)
    stay out of the pool by design — BM25F (operators/bm25f) is the
    full multi-field treatment, this is the cheap serving-time
    boost."""
    from nadry_spark.operators.bm25 import bm25_topk

    if not index.has_anchors:
        raise FileNotFoundError(
            f"no anchors table under {index.path}; run jobs/anchors.py first"
        )
    return _anchor_boosted(index, bm25_topk, "doc_no", query, k, weight,
                           pool, mode, conjunctive)


def anchor_boosted_topk_multi(
    msi,
    query: str,
    k: int = 10,
    weight: float = 0.2,
    pool: int | None = None,
    mode: str = "taat",
) -> DataFrame:
    """Family (MultiSegmentIndex) variant of :func:`anchor_boosted_topk`:
    the anchor evidence is the union of each LIVE segment's backfilled
    anchors table.  Segments without a backfill simply contribute no
    evidence — a freshly ingested segment degrades to plain BM25 until
    jobs/anchors.py runs, never errors.  Ties break doc_id like
    bm25_topk_multi."""
    from nadry_spark.operators.bm25 import bm25_topk_multi

    return _anchor_boosted(msi, bm25_topk_multi, "doc_id", query, k, weight,
                           pool, mode, False)


def anchor_term_index(
    links: DataFrame,
    stopwords: list[str] | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
    anchor_col: str = "anchor",
) -> DataFrame:
    """(dst, term, tf, n_srcs) from per-occurrence anchor triples."""
    stop = sorted(set(stopwords or []))
    tok = (
        links.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.explode(F.split(F.lower(F.col(anchor_col)), r"\s+")).alias("term"),
        )
        .where((F.length("term") >= 2) & (F.length("term") <= 50))
    )
    if stop:
        tok = tok.where(~F.col("term").isin(stop))
    return tok.groupBy("dst", "term").agg(
        F.count("*").alias("tf"),
        F.countDistinct("src").alias("n_srcs"),
    )
