"""Query-time ranking — reference-identical exact mode.

Reproduces the serving path SearchWrapper.searchWithMetadata ->
Ranker.Rank (api/SearchWrapper.java:123-220, nadry/ranker/Ranker.java:
25-162) as one DataFrame plan:

1. J1 index probe: broadcast the (tiny) query-term set against the
   postings table — disjunctive OR semantics, every doc containing >=1
   term is a candidate (SearchWrapper.java:138-185).
2. A7 per-candidate tf: posting.getFrequency() summed per (doc, term).
3. J3 doc-stats join: popularity_score + total_words by doc
   (Ranker.java:26 via MongoDBIndexStore.populateScoresAndTotalword).
4. A8 DF over the CANDIDATE SET only, A9 TF-IDF with N = candidate-set
   size, docLength = total_words (doc) / query length (query), idf =
   log10(N / (1 + df)) (Ranker.java:77-137).
5. A10 relevance = raw dot product (cosine normalization is commented
   out in the reference, Ranker.java:152 — faithfully NOT applied),
   summed per doc in term order so its last bit does not depend on
   how the candidate rows are partitioned.
6. A11 max-normalizations of popularity and relevance over candidates.
   Reference quirks at the zero boundary: max popularity == 0 gives
   0/0 = NaN in Java (Ranker.java:70-71) and the blended score becomes
   NaN for every doc (undefined final order) — we pin
   popularity_norm = 0.0; max relevance == 0 likewise divides by zero
   (Ranker.java:115) — we pass relevance_raw (= 0.0 for every doc)
   through unchanged. Both are deliberate NaN-guard deviations; neither
   affects ordering (all-zero either way), documented here and in tests.
7. A12 blend 0.7*relevance + 0.3*popularity (Ranker.java:42); full sort
   desc. The reference's tie order is HashMap iteration order
   (nondeterministic); we pin (score desc, doc_id asc) as canonical.

Scale notes: the candidate set (docs matching >=1 query term) is the
only data that flows; scalar aggregates (N, maxes) travel via 1-row
broadcast cross-joins, never a driver collect. The doc-stats join is
left to AQE: for selective queries the candidate side lands under the
broadcast threshold and AQE converts the shuffle join to a broadcast
at runtime; for stopword-scale candidate sets a forced broadcast would
OOM the executors, so no static hint is applied on purpose.

Two executors of the same formulas: ``rank_exact`` (the Spark plan
above) and ``rank_exact_local`` (numpy on the driver, for a candidate
set read from the driver pins of a warmed segment family). They agree
bit for bit: idf is ``StrictMath.log10``, the fdlibm function Spark's
``log10`` runs (numpy's ``log10`` differs in the last ulp on ~1 in 4
(N, df) pairs), every other step is one IEEE double operation in the
same order, and both sum a doc's contributions in term order. The
driver executor costs milliseconds where the Spark plan's
localCheckpoint and broadcast chain costs ~1 s, so it is the serving
path whenever the candidates come from pins; the pin byte gate bounds
the candidate set it holds.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from nadry_spark.localrows import empty_df, local_rows_df
from nadry_spark.functions.tokenizer import tokenize


def candidates_for_terms(postings: DataFrame, query_tokens: list[str]) -> DataFrame:
    """J1: (doc_id, url, term, tf) for docs containing >=1 query term.

    An isin-filter compiles to parquet predicate pushdown on the sorted
    term column — at scale this prunes row groups / partitions instead
    of scanning the index.
    """
    distinct_terms = sorted(set(query_tokens))
    return postings.where(F.col("term").isin(distinct_terms)).select(
        "term", "doc_id", "url", "tf"
    )


def rank_exact(
    spark: SparkSession,
    candidates: DataFrame,
    doc_stats: DataFrame,
    query_tokens: list[str],
    phrase_mode: bool = False,
    with_metadata: bool = False,
    materialize: bool = False,
) -> DataFrame:
    """Ranker.Rank over a candidate long-form (term, doc_id, url, tf).

    Returns (doc_id, url, relevance, popularity, score) sorted by
    (score desc, doc_id asc). In phrase mode every term's tf is forced
    to 1 (SearchWrapper.java:357-366).

    with_metadata=True adds the QueryDocument reflection-dump fields the
    reference's serving envelope carries (SearchWrapper.toMap over
    nadry/ranker/QueryDocument.java fields): term_frequency (term->tf),
    total_words, doc_tfidf (term->doc TF-IDF, Ranker.java:108-110) and
    query_tfidf (term->query TF-IDF incl. df=0 terms, Ranker.java:94-97
    — the same map on every row, as in the reference).

    materialize=True localCheckpoints the joined candidate set before
    the aggregates fan out. The candidate-set-relative formulas consume
    the same frame from 3+ branches (N, per-term DF, the scoring join,
    QUERY_TFIDF) and Spark does not dedupe common subplans — without
    materialization each branch re-scans and re-decodes the postings
    blocks (observed 6 scans in one serving plan). One bounded
    candidate materialization per query is the serving-path trade.
    """
    if phrase_mode:
        candidates = candidates.withColumn("tf", F.lit(1))

    query_bag = Counter(query_tokens)
    query_len = sum(query_bag.values())

    # doc stats join (J3) — AQE broadcasts whichever side fits at runtime
    cand = candidates.join(
        doc_stats.select("doc_id", "total_words", "popularity_score"), "doc_id", "inner"
    )
    if materialize:
        cand = cand.localCheckpoint()

    # A8: DF(t) over candidates; N = candidate count — via 1-row broadcast
    n_df = cand.agg(F.countDistinct("doc_id").alias("n_candidates"))
    term_df = cand.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    cand = (
        cand.join(F.broadcast(term_df), "term")
        .crossJoin(F.broadcast(n_df))
    )

    # query-term frequency as a literal map (query is tiny)
    qmap_items = []
    for t, c in query_bag.items():
        qmap_items.extend([F.lit(t), F.lit(c)])
    qtf = F.element_at(F.create_map(*qmap_items), F.col("term"))

    idf = F.log10(F.col("n_candidates") / (1 + F.col("df")))
    q_tfidf = (qtf / F.lit(float(query_len))) * idf
    d_tfidf = (F.col("tf") / F.col("total_words")) * idf

    meta_aggs = []
    if with_metadata:
        meta_aggs = [
            F.first("total_words").alias("total_words"),
            F.map_from_entries(F.collect_list(F.struct("term", "tf"))).alias(
                "term_frequency"
            ),
            F.map_from_entries(
                F.collect_list(F.struct("term", F.col("_d_tfidf")))
            ).alias("doc_tfidf"),
        ]
    per_doc = (
        cand.withColumn("contrib", q_tfidf * d_tfidf)
        .withColumn("_d_tfidf", d_tfidf)
        .groupBy("doc_id")
        .agg(
            F.first("url").alias("url"),
            F.first("popularity_score").alias("popularity_raw"),
            # sum(contrib) folded in term order (rank_exact_local's order)
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("term", "contrib"))),
                F.lit(0.0),
                lambda acc, x: acc + x["contrib"],
            ).alias("relevance_raw"),
            *meta_aggs,
        )
    )

    if with_metadata:
        # QUERY_TFIDF covers every query token; tokens absent from all
        # candidates get df = 0 (Ranker.java:129 getOrDefault) — a tiny
        # (|query| rows) aggregate broadcast onto every result row
        qterms = local_rows_df(
            spark, "term string, qtf int", [(t, c) for t, c in query_bag.items()]
        )
        q_vec = (
            qterms.join(term_df, "term", "left")
            .crossJoin(F.broadcast(n_df))
            .select(
                "term",
                (
                    (F.col("qtf") / F.lit(float(query_len)))
                    * F.log10(
                        F.col("n_candidates") / (1 + F.coalesce(F.col("df"), F.lit(0)))
                    )
                ).alias("q_tfidf"),
            )
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("term", "q_tfidf"))
                ).alias("query_tfidf")
            )
        )
        per_doc = per_doc.crossJoin(F.broadcast(q_vec))

    maxes = per_doc.agg(
        F.max("relevance_raw").alias("max_rel"), F.max("popularity_raw").alias("max_pop")
    )
    meta_cols = (
        ["total_words", "term_frequency", "doc_tfidf", "query_tfidf"]
        if with_metadata
        else []
    )
    scored = (
        per_doc.crossJoin(F.broadcast(maxes))
        .select(
            "doc_id",
            "url",
            F.when(F.col("max_rel") > 0, F.col("relevance_raw") / F.col("max_rel"))
            .otherwise(F.col("relevance_raw"))
            .alias("relevance"),
            # NaN-guard deviation: reference divides by 0 -> NaN here
            F.when(F.col("max_pop") > 0, F.col("popularity_raw") / F.col("max_pop"))
            .otherwise(0.0)
            .alias("popularity"),
            *meta_cols,
        )
        .withColumn("score", 0.7 * F.col("relevance") + 0.3 * F.col("popularity"))
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id"))


def strict_log10(spark: SparkSession, x: float) -> float:
    """log10 as Spark SQL computes it (java.lang.StrictMath, fdlibm)."""
    return spark._jvm.java.lang.StrictMath.log10(float(x))


def rank_exact_local(
    spark: SparkSession,
    candidates: pd.DataFrame,
    query_tokens: list[str],
    phrase_mode: bool = False,
    with_metadata: bool = False,
) -> "RankedRows":
    """``rank_exact`` on the driver: the same formulas over a pandas
    candidate long form (term, doc_id, url, tf, total_words,
    popularity_score) — the frame rank_exact ranks after its doc-stats
    join, one row per (term, doc). Returns the rows ``rank_exact(...)
    .collect()`` returns, in its order and bit for bit, as a
    ``RankedRows`` sequence. No Spark job runs; idf takes one JVM
    ``StrictMath.log10`` call per distinct (N, df)."""
    if candidates.empty:
        return RankedRows(np.empty(0, dtype=np.int64), None)
    query_bag = Counter(query_tokens)
    query_len = float(sum(query_bag.values()))
    doc_code, docs = pd.factorize(candidates["doc_id"], sort=True)
    term_code, terms = pd.factorize(candidates["term"], sort=True)
    n_docs = len(docs)

    # A8: N = candidate count, DF(t) = distinct candidate docs per term
    df_of = dict(zip(terms, np.bincount(
        np.unique(term_code * n_docs + doc_code) // n_docs, minlength=len(terms)).tolist()))
    log10_of: dict[int, float] = {}

    def idf(df: int) -> float:
        if df not in log10_of:
            log10_of[df] = strict_log10(spark, n_docs / (1 + df))
        return log10_of[df]

    # A9: per-row query and doc TF-IDF, A10: their product
    qtf = np.array([query_bag[t] for t in terms], dtype=np.float64)
    t_idf = np.array([idf(df_of[t]) for t in terms], dtype=np.float64)
    q_tfidf = (qtf / query_len) * t_idf
    order = np.lexsort((term_code, doc_code))  # a doc's rows, term order
    d_of, t_of = doc_code[order], term_code[order]
    tf = (np.ones(len(order), dtype=np.float64) if phrase_mode
          else candidates["tf"].to_numpy(np.float64)[order])
    words = candidates["total_words"].to_numpy(np.float64)[order]
    d_tfidf = (tf / words) * t_idf[t_of]
    contrib = q_tfidf[t_of] * d_tfidf

    # relevance_raw: a left fold from 0.0 over each doc's rows in term
    # order (the j-th row of every doc is added in round j)
    starts = np.searchsorted(d_of, np.arange(n_docs))
    rank_in_doc = np.arange(len(order)) - starts[d_of]
    rel_raw = np.zeros(n_docs)
    for j in range(int(rank_in_doc.max()) + 1):
        sel = rank_in_doc == j
        rel_raw[d_of[sel]] = rel_raw[d_of[sel]] + contrib[sel]
    first = order[starts]
    pop_raw = candidates["popularity_score"].to_numpy(np.float64)[first]

    # A11: max-normalizations with the NaN guards; Spark's max and ">"
    # rank NaN above every number. A12: the blend.
    def norm(raw: np.ndarray, otherwise):
        top = np.nan if np.isnan(raw).any() else raw.max()
        return raw / top if np.isnan(top) or top > 0 else otherwise

    relevance = norm(rel_raw, rel_raw)
    popularity = norm(pop_raw, np.zeros(n_docs))
    score = 0.7 * relevance + 0.3 * popularity
    # (score desc, NaN first as in Spark, doc_id asc); the doc codes
    # are in doc_id order
    nan = np.isnan(score)
    ranked = np.lexsort((np.arange(n_docs), np.where(nan, 0.0, -score), ~nan))

    urls = candidates["url"].to_numpy(object)[first]
    words_first = candidates["total_words"].to_numpy()[first]
    tf_rows = tf.astype(np.int64)
    q_vec = {t: (c / query_len) * idf(df_of.get(t, 0)) for t, c in query_bag.items()}
    ends = np.append(starts[1:], len(order))

    def row(d: int) -> Row:
        out = dict(doc_id=docs[d], url=urls[d], relevance=float(relevance[d]),
                   popularity=float(popularity[d]))
        if with_metadata:
            rows = range(starts[d], ends[d])
            out.update(
                total_words=int(words_first[d]),
                term_frequency={terms[t_of[r]]: int(tf_rows[r]) for r in rows},
                doc_tfidf={terms[t_of[r]]: float(d_tfidf[r]) for r in rows},
                query_tfidf=dict(q_vec),
            )
        return Row(**out, score=float(score[d]))
    return RankedRows(ranked, row)


class RankedRows(Sequence):
    """``rank_exact_local``'s ranked rows: ``len`` is the candidate
    count and a row (a pyspark ``Row``, as ``collect()`` returns) is
    built when it is read, so a page costs its own rows only."""

    def __init__(self, order: np.ndarray, row):
        self._order = order
        self._row = row

    def __len__(self) -> int:
        return len(self._order)

    def __getitem__(self, i):
        if isinstance(i, slice):
            return [self._row(int(d)) for d in self._order[i]]
        return self._row(int(self._order[i]))


def search(
    spark: SparkSession,
    postings: DataFrame,
    doc_stats: DataFrame,
    query: str,
    page: int = 0,
    page_size: int = 10,
) -> DataFrame:
    """Full disjunctive search path: tokenize -> probe -> rank -> paginate.

    Pagination is offset/limit AFTER full ranking (SearchWrapper.java:
    649-666). Empty token list -> empty result (:128-130).
    """
    tokens = tokenize(query)  # the indexing Tokenizer (SearchWrapper.java:126)
    if not tokens:
        return empty_df(
            spark,
            "doc_id string, url string, relevance double, popularity double, score double",
        )
    cand = candidates_for_terms(postings, tokens)
    ranked = rank_exact(spark, cand, doc_stats, tokens)
    return ranked.offset(page * page_size).limit(page_size)


def additive_search(postings: DataFrame, query_tokens: list[str], k: int = 10) -> DataFrame:
    """A16 legacy additive scoring (api/SearchEngine.java:36-67):
    score(doc) = sum over query tokens of posting weight, top-k.

    Duplicate query tokens contribute twice (the reference loops the
    raw token list) — preserved via an inner join against the token
    multiset rather than an isin filter.
    """
    spark = postings.sparkSession
    terms = local_rows_df(spark, "term string", [(t,) for t in query_tokens])
    return (
        postings.join(F.broadcast(terms), "term")
        .groupBy("doc_id")
        .agg(F.first("url").alias("url"), F.sum("weight").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_topk_batch(
    tf: DataFrame,
    tw: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    term_col: str = "term",
) -> DataFrame:
    """Batch BM25 over a QUERY TABLE — the retrieval-training-data /
    eval-set generator: thousands of queries ranked in ONE job instead
    of one serving call each (LTR feature extraction, hard-negative
    mining, recall evaluation all start from exactly this frame).

    `queries` is long form (query_id, term); duplicate terms within a
    query are collapsed (standard bag-of-distinct-terms BM25, matching
    the serving formula of _bm25_scored / rank_exact: idf =
    ln(1 + (N - df + 0.5)/(df + 0.5)), tfnorm with k1/b, 1e-9-grid
    rank with doc_id-asc ties). `tf`/`tw` are the engine's
    (doc_id, term, tf) and (doc_id, total_words) frames.

    Scale shape: the tf join on term IS the term-pruned postings scan
    (only rows for terms some query uses are ever read); df and corpus
    stats are tiny broadcast aggregates; per-(query, doc) scoring is
    one groupBy; per-query top-k a window. The query side stays a
    DataFrame end-to-end — broadcast while small, shuffle-hash when
    the query set is corpus-sized."""
    from pyspark.sql import Window

    qterms = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(term_col).alias("term")
    ).distinct()
    corpus = tw.agg(
        F.count("*").alias("n_docs"), F.avg("total_words").alias("avgdl")
    )
    df_t = (
        tf.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    scored = (
        tf.join(qterms, "term")
        .join(tw, "doc_id")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "idf",
            F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        )
        .withColumn(
            "tfnorm",
            F.col("tf") * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("total_words") / F.col("avgdl"))),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("idf") * F.col("tfnorm")).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("score"), 9)), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id")
    )
