"""Span / proximity queries — terms near each other, ordered or not.

The reference engine stops at exact consecutive phrases
(api/SearchWrapper.java:266-397, see operators/phrase.py); spans are
the natural generalization every full-text engine grows next (Lucene's
SpanNearQuery is the public model): match documents where all query
terms occur within a bounded window, optionally in order, and rank by
how tight the window is.

Two formulations, both shuffle-light:

* **Unordered minimal cover** (`minimal_cover_windows`): the smallest
  window [a, b] containing at least one occurrence of EVERY term.
  Classic k-lists smallest-range, done relationally: sort all
  query-term occurrences per (doc, field); for each occurrence at
  position p, the earliest position of term t at-or-after p is a
  suffix-min window aggregate (``min(pos) FILTER (term = t) OVER
  (... ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)``), so the
  window starting at p ends at the max of those n columns.  The
  optimum always starts at some occurrence, hence ``min over p`` is
  exact.  One sort per (doc, field) partition, n whole-stage-codegen
  window columns, no self-join — O(occ · n) and it survives a 100 TB
  corpus because the partition key is (doc, field), never a term.

* **Ordered greedy chain** (`ordered_span_windows`): occurrences must
  appear in token order (p1 < p2 < ... < pn).  Greedy earliest-next
  completion is optimal per start, so n-1 chained
  join-on-(doc, field) + min aggregations compute the minimal ordered
  window exactly; n is query length (tiny), each join is an equi-join
  on (doc, field) with a position inequality filter.

A document matches ``slop`` iff min_window <= n + slop (slop = extra
positions admitted beyond the n the terms themselves occupy; slop=0
unordered means the terms are consecutive in SOME order, slop=0
ordered is exactly the phrase semantics of operators/phrase.py —
asserted by tests).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nadry_spark.functions.tokenizer import tokenize


def minimal_cover_windows(
    pos_long: DataFrame,
    terms: list[str],
    id_cols: tuple = ("doc_no", "field"),
    pos_col: str = "pos",
) -> DataFrame:
    """(id..., term, pos) -> (id..., min_window) over groups containing
    ALL of ``terms``; min_window = smallest [a, b] cover, inclusive
    length.  Rows whose suffix lacks some term cannot start a full
    window and are filtered before the aggregate."""
    terms = list(dict.fromkeys(terms))
    n = len(terms)
    if n == 0:
        raise ValueError("minimal_cover_windows needs at least one term")
    w = (
        Window.partitionBy(*id_cols)
        .orderBy(pos_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    nxt = [
        F.min(F.when(F.col("term") == t, F.col(pos_col))).over(w).alias(f"_n{i}")
        for i, t in enumerate(terms)
    ]
    df = (
        pos_long.where(F.col("term").isin(terms))
        .select(*id_cols, pos_col, *nxt)
    )
    cond = F.col("_n0").isNotNull()
    for i in range(1, n):
        cond = cond & F.col(f"_n{i}").isNotNull()
    have_all = df.where(cond)
    win = F.greatest(*[F.col(f"_n{i}") for i in range(n)]) - F.col(pos_col) + 1
    return have_all.groupBy(*id_cols).agg(
        F.min(win).cast("long").alias("min_window")
    )


def ordered_span_windows(
    pos_long: DataFrame,
    tokens: list[str],
    id_cols: tuple = ("doc_no", "field"),
    pos_col: str = "pos",
) -> DataFrame:
    """(id..., term, pos) -> (id..., min_window) where the tokens occur
    in the GIVEN order at strictly increasing positions; min_window =
    last - first + 1, minimized.  Greedy earliest-next per start is
    optimal, computed as a chain of equi-joins + min aggregations.
    Repeated tokens are fine (the chain enforces strict increase)."""
    if not tokens:
        raise ValueError("ordered_span_windows needs at least one token")
    ids = list(id_cols)
    pos = pos_long.select(*ids, "term", F.col(pos_col).alias("pos"))
    cur = (
        pos.where(F.col("term") == tokens[0])
        .select(*ids, F.col("pos").alias("start"), F.col("pos").alias("end"))
    )
    for t in tokens[1:]:
        nxt = pos.where(F.col("term") == t).select(*ids, F.col("pos").alias("_p"))
        cur = (
            cur.join(nxt, ids)
            .where(F.col("_p") > F.col("end"))
            .groupBy(*ids, "start")
            .agg(F.min("_p").alias("end"))
        )
    return cur.groupBy(*ids).agg(
        F.min(F.col("end") - F.col("start") + 1).cast("long").alias("min_window")
    )


def span_near_docs(
    index, tokens: list[str], slop: int = 0, ordered: bool = False
) -> DataFrame:
    """doc_nos (single segment) whose minimal same-field span of
    ``tokens`` fits ``slop``: min_window <= len(tokens) + slop.
    Positions decode through the term-pruned compressed store
    (phrase.positions_long), so only query-term blocks are read."""
    from nadry_spark.operators.phrase import positions_long

    distinct = sorted(set(tokens))
    pos = positions_long(index.positions.where(F.col("term").isin(distinct)))
    if ordered:
        mw = ordered_span_windows(pos, tokens)
    else:
        mw = minimal_cover_windows(pos, distinct)
    bound = len(tokens if ordered else distinct) + int(slop)
    return (
        mw.where(F.col("min_window") <= bound)
        .groupBy("doc_no")
        .agg(F.min("min_window").alias("min_window"))
    )


def span_near_search(
    index, query: str, slop: int = 0, ordered: bool = False, k: int = 10
) -> DataFrame:
    """Proximity search surface: tokenize -> span match -> rank by
    window tightness (min_window asc, doc_id asc), top k.  Works over
    any segment family (per-segment spans union; doc spaces are
    disjoint and tombstoned re-crawls are excluded)."""
    spark = index.spark
    tokens = tokenize(query)
    empty = spark.createDataFrame(
        [], "doc_id string, url string, min_window long"
    )
    if not tokens:
        return empty
    out = reduce(DataFrame.unionByName, [
        seg.docmap.join(
            index._live(i, span_near_docs(seg, tokens, slop, ordered)), "doc_no"
        ).select("doc_id", "url", "min_window")
        for i, seg in enumerate(index.segments)
    ])
    return out.orderBy(F.asc("min_window"), F.asc("doc_id")).limit(k)
