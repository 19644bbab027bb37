"""Field-restricted search: BM25 over occurrences in ONE field.

The reference scores every field together with static weights
(IndexBuilder.java field-weight accumulation, see index_build.py);
``title:term``-style restriction is the standard next surface (Lucene
per-field queries are the public model).  The per-field occurrence
counts are ALREADY materialized in the positions store
(n_title/n_desc/n_body, sources/segments.py:270), so a field query
never decodes a position buffer and never touches the full postings
blocks: it is one term-pruned parquet scan + a docmap join.

Scoring: BM25 with tf = the field-restricted occurrence count and
df = documents whose FIELD contains the term (computed exactly from
the same probe — the positions store covers every doc).  Document
length / avgdl stay whole-doc (per-field lengths are not stored;
consistent ranking matters more than a second dl normalization).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nadry_spark.functions.tokenizer import tokenize

_FIELD_COL = {"title": "n_title", "description": "n_desc", "body": "n_body"}


def _segment_field_tf(seg, tokens: list[str], field: str) -> DataFrame:
    """(doc_no, term, tf) for docs whose ``field`` contains the term —
    straight off the stored per-field counts, term filter pushed to
    the parquet scan."""
    ncol = _FIELD_COL[field]
    return (
        seg.positions.where(F.col("term").isin(tokens))
        .select("doc_no", "term", F.col(ncol).cast("long").alias("tf"))
        .where(F.col("tf") > 0)
    )


def field_search(index, query: str, field: str, k: int = 10) -> DataFrame:
    """Top-k (doc_id, url, score) where every scoring occurrence sits
    in ``field``; disjunctive over the query tokens, ties on doc_id.
    Works over any segment family (disjoint doc spaces, tombstoned
    re-crawls excluded; global N/avgdl from the family's meta so
    results equal a fresh full rebuild)."""
    if field not in _FIELD_COL:
        raise ValueError(f"field must be one of {sorted(_FIELD_COL)}")
    spark = index.spark
    tokens = sorted(set(tokenize(query)))
    if not tokens:
        from nadry_spark.localrows import empty_df

        return empty_df(spark, "doc_id string, url string, score double")

    cand = reduce(DataFrame.unionByName, [
        index._live(i, _segment_field_tf(seg, tokens, field))
        .join(seg.docmap.select("doc_no", "doc_id", "url", "total_words"), "doc_no")
        .select(
            "doc_id", "url", "term", "tf",
            F.col("total_words").cast("double").alias("dl"),
        )
        for i, seg in enumerate(index.segments)
    ])

    n_docs = int(index.meta["n_docs"])
    avgdl = float(index.meta["avgdl"])
    k1 = float(index.meta.get("k1", 1.2))
    b = float(index.meta.get("b", 0.75))

    # exact field-df from the probe itself ((term, doc) unique per
    # segment, doc spaces disjoint): tiny frame, broadcast back
    # idf column expression mirrors bm25.bm25_idf — keep in lockstep
    # (tests compare against the python oracle, which uses bm25_idf)
    dfreq = cand.groupBy("term").agg(F.count("*").alias("df")).select(
        "term",
        F.log(
            1.0
            + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
    )
    tfnorm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl))
    )
    scored = (
        cand.join(F.broadcast(dfreq), "term")
        .select("doc_id", "url", (F.col("idf") * tfnorm).alias("_s"))
        .groupBy("doc_id", "url")
        .agg(F.round(F.sum("_s"), 9).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
