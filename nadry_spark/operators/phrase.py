"""Phrase search — the J2 conjunctive positional join.

Reference: api/SearchWrapper.java:266-397. A doc matches iff every
phrase token i appears at position p0 + i in the SAME field for some
start p0 (consecutive positions, same-field requirement :326-328).
Tokens missing from the index abort with an empty result (:313-316).
Single-token phrases delegate to regular search (:282-284). Matched
docs are ranked with every phrase token's tf forced to 1 (:357-366).

Spark formulation: instead of the reference's iterative narrowing
(seeded from token 0), one shuffle does it — join each token's
positions against the token-offset list, normalize to the would-be
phrase start (adj = pos - i), and count distinct offsets per
(doc, field, adj). A group holding all n offsets is an exact match.
This is algebraically identical and O(total postings of phrase terms)
with a single aggregation, no n-way self-join chain. On a pinned
segment the same count runs as one fused numpy kernel on the driver.

Ranking has the same two executors. ``phrase_ranked`` and
``disjunctive_ranked`` build ``rank_exact``'s Spark plan; over a family
whose every member is pinned, ``pinned_ranked`` reads the same
candidates from the pins (phrase matches crossed with the distinct
tokens, tf 1; or the decoded blocks of the query terms) and
``rank_exact_local`` ranks them on the driver, bit-identical and with
no Spark job. ``QueryEngine`` takes the driver rows when it can.
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nadry_spark.localrows import empty_df, local_rows_df

from nadry_spark.functions.tokenizer import tokenize
from nadry_spark.sources.segments import SegmentIndex

_QUOTED = re.compile(r'"([^"]*)"')


def extract_quoted_phrases(query: str) -> list[str]:
    """F16 — api/SearchController.java:127-140; first phrase wins."""
    return _QUOTED.findall(query)


def positions_long(positions: DataFrame) -> DataFrame:
    """Segment positions table (delta-varint binary per field) ->
    (doc_no, term, field, pos) long form.

    One vectorized mapInPandas pass: per Arrow batch and field the row
    buffers are joined into ONE byte string (C-level; varints are
    self-delimiting), decoded in a single codecs.decode_position_lists
    call, and absolute positions recovered with a segmented cumsum —
    no per-row decode calls, no per-position Python. Callers filter by
    term FIRST so the parquet scan prunes (tests/test_plans.py asserts
    the pushdown) and only query-term rows ever reach the decoder."""
    import numpy as np
    import pandas as pd

    from nadry_spark.operators.codecs import decode_position_lists
    from nadry_spark.sources.segments import _POS_FIELDS

    def gen(batches):
        for pdf in batches:
            for field, ncol, bcol in _POS_FIELDS:
                counts = pdf[ncol].to_numpy(dtype=np.int64)
                if counts.sum() == 0:
                    continue
                pos = decode_position_lists(list(pdf[bcol]), counts)
                yield pd.DataFrame(
                    {
                        "doc_no": np.repeat(pdf["doc_no"].to_numpy(np.int64), counts),
                        "term": np.repeat(pdf["term"].to_numpy(dtype=object), counts),
                        "field": field,
                        "pos": pos.astype(np.int32),
                    }
                )

    return positions.mapInPandas(
        gen, "doc_no long, term string, field string, pos int"
    )


def phrase_match_docs(index: SegmentIndex, tokens: list[str]) -> DataFrame:
    """doc_nos containing the exact consecutive same-field phrase.

    One match, two executors, row-identical:

    * **Fused kernel** (pinned segment, see ``SegmentIndex.warm``): the
      driver runs ``_phrase_match_fused`` over each pinned shard's
      phrase-term rows, sliced by term as ``pinned_blocks`` slices the
      blocks. Doc-range sharding puts every row of a doc in exactly one
      shard, so per-shard matches are exact and the shards' doc_nos are
      distinct. No Spark job runs.
    * **Join + aggregation** (otherwise, the scale path): offset join,
      groupBy (doc, field, adj), countDistinct(i) == n.
    """
    spark = index.spark
    if index.pinned:
        return local_rows_df(spark, "doc_no long", [(d,) for d in _pinned_matches(index, tokens)])
    n = len(tokens)
    # LocalRelation-backed (localrows): a createDataFrame list goes
    # through parallelize, so even this tiny broadcast input costs a
    # full task set to build
    offsets = local_rows_df(
        spark, "i int, term string", [(i, t) for i, t in enumerate(tokens)]
    )
    pos = positions_long(
        index.positions.where(F.col("term").isin(sorted(set(tokens))))
    )
    joined = pos.join(F.broadcast(offsets), "term")
    starts = (
        joined.select("doc_no", "field", (F.col("pos") - F.col("i")).alias("adj"), "i")
        .groupBy("doc_no", "field", "adj")
        .agg(F.countDistinct("i").alias("n_hit"))
        .where(F.col("n_hit") == n)
    )
    return starts.select("doc_no").distinct()


def _pinned_matches(seg: SegmentIndex, tokens: list[str]) -> list[int]:
    """The phrase's doc_nos in a pinned segment: the fused kernel per shard."""
    return [int(d) for _, rows in seg.pinned_positions(tokens) for d in _phrase_match_fused(rows, tokens)]


def _phrase_match_fused(pdf, tokens: list[str]):
    """One-pass phrase match over the doc-complete positions rows
    ``pdf`` (see phrase_match_docs): the same (doc, field, adj)
    distinct-i count as the join form, vectorized. Returns the matched
    doc_nos as a numpy array."""
    import numpy as np

    from nadry_spark.operators.codecs import decode_position_lists
    from nadry_spark.sources.segments import _POS_FIELDS

    n = len(tokens)
    nf = len(_POS_FIELDS)
    offs_of: dict[str, list[int]] = {}
    for i, t in enumerate(tokens):
        offs_of.setdefault(t, []).append(i)

    docs_p = []
    field_p = []
    adj_p = []
    i_p = []
    terms = pdf["term"].to_numpy(dtype=object)
    doc_nos = pdf["doc_no"].to_numpy(np.int64)
    for f_code, (_field, ncol, bcol) in enumerate(_POS_FIELDS):
        counts = pdf[ncol].to_numpy(dtype=np.int64)
        if counts.sum() == 0:
            continue
        posv = decode_position_lists(list(pdf[bcol]), counts).astype(
            np.int64
        )
        d_rep = np.repeat(doc_nos, counts)
        t_rep = np.repeat(terms, counts)
        for t, offs in offs_of.items():
            m = t_rep == t
            if not m.any():
                continue
            pm, dm = posv[m], d_rep[m]
            for i in offs:
                docs_p.append(dm)
                field_p.append(
                    np.full(len(dm), f_code, dtype=np.int64)
                )
                adj_p.append(pm - i)
                i_p.append(np.full(len(dm), i, dtype=np.int64))
    if not docs_p:
        return np.empty(0, dtype=np.int64)
    d = np.concatenate(docs_p)
    fc = np.concatenate(field_p)
    adj = np.concatenate(adj_p) + np.int64(n)  # >= 1
    iv = np.concatenate(i_p)
    m1 = int(adj.max()) + 1
    grp = (d * nf + fc) * m1 + adj
    # distinct (group, i) then count distinct i per group
    per_grp = np.unique(grp * n + iv) // n
    uniq, cnt = np.unique(per_grp, return_counts=True)
    return np.unique(uniq[cnt == n] // m1 // nf)


def phrase_match_doc_ids(index, tokens: list[str]) -> DataFrame:
    """doc_ids containing the phrase, over a segment family (doc spaces
    are segment-disjoint, so the J2 positional match runs per segment
    and the matched ids union; tombstoned re-crawls excluded). On a
    family whose every member is pinned, the driver kernel's doc_nos
    map to doc_ids through the docmap pins, with no Spark job."""
    if index.pinned:
        return local_rows_df(index.spark, "doc_id string", [
            (seg._docmap_dict[d][0],)
            for seg, excl in zip(index.segments, index.excluded)
            for d in _pinned_matches(seg, tokens)
            if d not in excl
        ])
    return reduce(DataFrame.unionByName, [
        seg.docmap.join(index._live(i, phrase_match_docs(seg, tokens)), "doc_no")
        .select("doc_id")
        for i, seg in enumerate(index.segments)
    ])


def disjunctive_ranked(
    index, tokens: list[str], with_metadata: bool = False
) -> DataFrame:
    """Regular exact-mode search over pre-tokenized index terms: decode
    candidate tfs from the compressed blocks (term-pruned scan) and run
    the reference ranking formulas. Unlimited — callers paginate.
    Works over any segment family (candidates_for / doc_meta_df union
    the live docs, tombstoned re-crawls excluded)."""
    from nadry_spark.operators.ranker import rank_exact

    cand = index.candidates_for(tokens)
    return rank_exact(
        index.spark,
        cand,
        index.doc_meta_df().select("doc_id", "total_words", "popularity_score"),
        tokens,
        with_metadata=with_metadata,
        materialize=True,
    )


def phrase_ranked(
    index, tokens: list[str], with_metadata: bool = False
) -> DataFrame:
    """Multi-token phrase path: positional match -> rank with every
    term's tf forced to 1 (SearchWrapper.java:357-366). Unlimited —
    pagination happens AFTER full ranking (:649-666). Works over any
    segment family (phrase_match_doc_ids)."""
    from nadry_spark.operators.ranker import rank_exact

    spark = index.spark
    meta = index.doc_meta_df()
    docs = meta.join(phrase_match_doc_ids(index, tokens), "doc_id").select(
        "doc_id", "url", "total_words", "popularity_score"
    )
    terms_df = local_rows_df(
        spark, "term string", [(t,) for t in sorted(set(tokens))]
    )
    cand = docs.crossJoin(F.broadcast(terms_df)).select(
        "term", "doc_id", "url", F.lit(1).alias("tf")
    )
    return rank_exact(
        spark,
        cand,
        meta.select("doc_id", "total_words", "popularity_score"),
        tokens,
        phrase_mode=True,
        with_metadata=with_metadata,
        materialize=True,
    )


def pinned_ranked(index, tokens: list[str], phrase_mode: bool):
    """The rows of ``phrase_ranked`` (``phrase_mode``) or
    ``disjunctive_ranked``, both with_metadata=True, over a family whose
    every member is pinned: the candidates come from the pins and
    ``rank_exact_local`` ranks them on the driver. Returns its
    ``RankedRows``; no Spark job runs."""
    from nadry_spark.operators.ranker import rank_exact_local

    cand = _pinned_candidates(index, tokens, phrase_mode)
    return rank_exact_local(index.spark, cand, tokens, phrase_mode=phrase_mode, with_metadata=True)


def _pinned_candidates(index, tokens: list[str], phrase_mode: bool):
    """The joined candidate long form rank_exact ranks — (term, doc_id,
    url, tf, total_words, popularity_score), live docs only — read
    from a pinned family: in phrase mode every phrase-matched doc once
    per distinct token with tf 1 (phrase_ranked's cross join), else
    the (term, doc_no, tf) rows decoded from the pinned blocks
    (candidates_for)."""
    import numpy as np
    import pandas as pd

    from nadry_spark.operators.codecs import explode_tf_batches

    terms = sorted(set(tokens))
    parts = []
    for seg, excl in zip(index.segments, index.excluded):
        if phrase_mode:
            docs = np.array([d for d in _pinned_matches(seg, tokens) if d not in excl], dtype=np.int64)
            part = pd.DataFrame({
                "term": np.repeat(np.array(terms, dtype=object), len(docs)),
                "doc_no": np.tile(docs, len(terms)),
                "tf": 1,
            })
        else:
            decoded = list(explode_tf_batches(blocks for _, blocks in seg.pinned_blocks(terms)))
            if not decoded:
                continue
            part = pd.concat(decoded, ignore_index=True)
            part = part[~part["doc_no"].isin(excl)]
        if part.empty:
            continue
        # the docmap pin: (doc_id, url, title, total_words, popularity_score)
        doc_id, url, _, words, popularity = zip(*map(seg._docmap_dict.__getitem__, part["doc_no"].tolist()))
        parts.append(part.assign(doc_id=doc_id, url=url, total_words=words, popularity_score=popularity))
    if not parts:
        return pd.DataFrame(columns=["term", "doc_no", "tf", "doc_id", "url", "total_words", "popularity_score"])
    return pd.concat(parts, ignore_index=True)


def phrase_search(index: SegmentIndex, phrase: str, k: int = 10) -> DataFrame:
    """Full phrase path: tokenize -> positional match -> rank (tf=1).

    Returns (doc_id, url, relevance, popularity, score) like the
    disjunctive path; ranking uses the reference-exact formulas with
    phrase_mode tf=1.

    Single-token quirk: the reference delegates to
    searchWithMetadata(phraseTokens[0]) (SearchWrapper.java:282-284),
    which RE-tokenizes the already-stemmed token — results differ
    whenever tokenize(stem(w)) != stem(w) (e.g. a stem that equals a
    stop word vanishes). Faithfully reproduced.
    """
    spark = index.spark
    tokens = tokenize(phrase)
    ddl = "doc_id string, url string, relevance double, popularity double, score double"
    if not tokens:
        return empty_df(spark, ddl)
    if len(tokens) == 1:
        retok = tokenize(tokens[0])
        if not retok:
            return empty_df(spark, ddl)
        return disjunctive_ranked(index, retok).limit(k)
    return phrase_ranked(index, tokens).limit(k)
