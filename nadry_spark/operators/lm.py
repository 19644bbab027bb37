"""Corpus-trained character-trigram language model quality scoring.

Perplexity filtering is a standard web-corpus quality gate (CCNet,
Wenzek et al. 2020, trains a KenLM and drops high-perplexity pages).
No LM libraries ship in this environment, so the same idea is built
from the corpus itself with pure DataFrame aggregations: train
add-k-smoothed character-trigram statistics over the whole corpus in
one pass, then score every document by its mean trigram
log-probability.  Gibberish / boilerplate / wrong-language text scores
far below fluent text drawn from the corpus distribution — the usual
use is thresholding the bottom tail before training.

Shape at 100 TB: the *model* is the pair of count tables (distinct
trigrams and their bigram contexts) — bounded by charset^3 regardless
of corpus size, i.e. always broadcastable — while the *data* side is
one explode + two broadcast joins + one groupBy(doc), all
whole-stage-codegen column expressions.  Training is a single
map-side-combinable count aggregation.  Nothing here is per-row
Python.

Determinism: log-probs are IEEE doubles; scores are rounded to 9
digits so engine summation-order differences can't leak into ranked
output (same convention as the rankers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# NB: Spark's sequence(1, 0) is a DESCENDING [1, 0], not empty — the
# length guard must short-circuit docs under 3 chars explicitly.
_TRIGRAMS = (
    "CASE WHEN length({c}) < 3 THEN array()"
    " ELSE transform(sequence(1, length({c}) - 2), i -> substring({c}, i, 3))"
    " END"
)


def _doc_trigrams(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per trigram OCCURRENCE: (id, tri).  Documents shorter
    than 3 chars contribute nothing (and score NULL downstream)."""
    return docs.select(
        F.col(id_col).alias("_id"),
        F.explode(F.expr(_TRIGRAMS.format(c=text_col))).alias("tri"),
    )


def char_trigram_lm_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
) -> DataFrame:
    """(id, lm_score): mean natural-log trigram probability under the
    corpus-trained add-k model,
    ``ln((c3 + k) / (c2 + k * V))`` averaged over the document's
    trigrams, rounded to 9 digits.  V = corpus charset size.  Higher
    is more fluent; docs with < 3 chars get no row."""
    # ONE corpus trigram pass: the per-doc trigram tf (a postings-shaped
    # frame, far smaller than the occurrence stream) feeds BOTH the
    # model (c3 = exact integer sum of tf by trigram) and the scoring
    # (occurrence-weighted mean, sum(n*lp)/sum(n) == avg over the
    # occurrence rows up to summation order, which the 9-digit rounding
    # grid absorbs — the engine-order noise class the module already
    # documents).  The earlier shape exploded the corpus twice (train +
    # score).  The model stays bounded by charset^3 regardless of
    # corpus size: collect the trigram counts once, derive the context
    # counts driver-side (exact integer sums), and ship a single
    # (tri, c3, c2) broadcast table.  Log-probs still evaluate in the
    # JVM on identical integer inputs — identical doubles.
    from concurrent.futures import ThreadPoolExecutor

    def _charset_probe() -> int:
        # distinct chars PER DOC before the explode: the fan-out is
        # bounded by charset-per-doc (~dozens) instead of one row per
        # character of the corpus; the global distinct is unchanged
        return int(
            docs.select(
                F.explode(F.array_distinct(F.split(text_col, ""))).alias("ch")
            )
            .where(F.col("ch") != "")
            .agg(F.countDistinct("ch").alias("v"))
            .collect()[0]["v"]
        )

    # the trigram explode + tf partial agg and the charset probe both
    # run map-side on the scan — spread an under-parallel input first
    # (nadry_spark.spread rationale)
    from nadry_spark.spread import spread_small_scan

    docs = spread_small_scan(docs, id_col)
    # the charset probe and the trigram-tf pass are independent corpus
    # scans — overlap them so the probe back-fills the tf job's
    # straggler tail (guide-§2.6 pattern, as in the stage-0 index
    # writes)
    with ThreadPoolExecutor(max_workers=1) as pool:
        charset_f = pool.submit(_charset_probe)
        tf = (
            _doc_trigrams(docs, id_col, text_col)
            .groupBy("_id", "tri")
            .agg(F.count("*").alias("n"))
            # materialized once (the one corpus pass); feeds the c3
            # collect AND the scoring join, and is released when the
            # returned frame goes out of scope
            .localCheckpoint()
        )
        rows = tf.groupBy("tri").agg(F.sum("n").alias("c3")).collect()
        charset = charset_f.result()
    c2map: dict[str, int] = {}
    for r in rows:
        ctx = r["tri"][:2]
        c2map[ctx] = c2map.get(ctx, 0) + r["c3"]
    spark = docs.sparkSession
    table = spark.createDataFrame(
        [(r["tri"], r["c3"], c2map[r["tri"][:2]]) for r in rows],
        "tri string, c3 long, c2 long",
    )
    scored = tf.join(F.broadcast(table), "tri").withColumn(
        "_lp",
        F.log(
            (F.col("c3").cast("double") + F.lit(float(k)))
            / (F.col("c2").cast("double") + F.lit(float(k) * charset))
        ),
    )
    out = scored.groupBy(F.col("_id").alias(id_col)).agg(
        F.round(
            F.sum(F.col("n").cast("double") * F.col("_lp")) / F.sum(F.col("n").cast("double")),
            9,
        ).alias("lm_score")
    )
    return out
