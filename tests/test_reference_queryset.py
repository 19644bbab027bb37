"""The reference query set (FIXTURES.md §4): end-to-end rank-identity
gate over the tiny corpus WITH PageRank popularity blended in — the
full serving semantics (0.7*relevance + 0.3*popularity, candidate-set
N/DF) against the pure-Python oracle of Ranker.java.

Query mix: single-term, multi-term disjunctive, duplicate tokens,
stopword-only, unknown terms, phrase mode.
"""

import pytest

from nadry_spark.functions.tokenizer import tokenize
from tests.oracle import oracle_pagerank, oracle_rank


@pytest.fixture(scope="module")
def ranked_engine(spark, seg):
    """Segments + docmap with real PageRank popularity scores."""
    from pyspark.sql import functions as F

    from nadry_spark.operators.pagerank import pagerank

    idx, o_postings, o_docs = seg
    links_df = spark.createDataFrame(
        [(d["url"], d["links"]) for d in o_docs.values()],
        "url string, links array<string>",
    )
    ranks = {r["url"]: r["popularity_score"] for r in pagerank(links_df).collect()}
    o_docs_pr = {
        doc_id: {**d, "popularity_score": ranks.get(d["url"], 0.0)}
        for doc_id, d in o_docs.items()
    }
    # oracle pagerank must agree with the spark one on this corpus
    want = oracle_pagerank({d["url"]: d["links"] for d in o_docs.values()})
    assert set(want) == set(ranks)
    for u in want:
        assert ranks[u] == pytest.approx(want[u], abs=1e-9)

    docmap_pr = idx.docmap.drop("popularity_score").join(
        spark.createDataFrame(
            [(u, s) for u, s in ranks.items()], "url string, popularity_score double"
        ),
        "url",
        "left",
    ).fillna({"popularity_score": 0.0})
    return idx, docmap_pr, o_postings, o_docs_pr


def _queryset(o_postings):
    from collections import Counter

    cnt = Counter(t for t, _ in o_postings if ":" not in t and "_" not in t)
    common = [t for t, _ in cnt.most_common(10)]
    rare = [t for t, c in cnt.items() if c == 1 and ":" not in t][:2]
    return [
        ("q1_single", common[0]),
        ("q2_multi", " ".join(common[:3])),
        ("q3_dup_tokens", f"{common[0]} {common[1]} {common[0]}"),
        ("q4_rare_mix", f"{common[0]} {rare[0]}" if rare else common[1]),
        ("q5_unknown", "zzzznotaterm"),
        ("q6_stopwords", "the and of in is"),
        ("q7_mixed_unknown", f"{common[2]} zzzznotaterm"),
    ]


def test_reference_queryset_rank_identity(spark, ranked_engine):
    from pyspark.sql import functions as F

    from nadry_spark.operators.ranker import rank_exact

    idx, docmap_pr, o_postings, o_docs_pr = ranked_engine
    for qid, query in _queryset(o_postings):
        tokens = tokenize(query)
        want = oracle_rank(tokens, o_postings, o_docs_pr) if tokens else []
        if not tokens:
            continue
        tf = idx.decoded_tf(sorted(set(tokens)))
        cand = tf.join(docmap_pr.select("doc_no", "doc_id", "url"), "doc_no").select(
            "term", "doc_id", "url", "tf"
        )
        got = rank_exact(
            spark,
            cand,
            docmap_pr.select("doc_id", "total_words", "popularity_score"),
            tokens,
        ).collect()
        assert [g["doc_id"] for g in got] == [w[0] for w in want], qid
        for g, w in zip(got, want):
            assert g["score"] == pytest.approx(w[4], rel=1e-12), (qid, g["doc_id"])
            assert g["relevance"] == pytest.approx(w[2], rel=1e-12), qid
            assert g["popularity"] == pytest.approx(w[3], rel=1e-12), qid


def test_popularity_actually_influences_order(spark, ranked_engine):
    """Sanity: with PageRank blended, at least one query's order differs
    from the popularity-free order (the blend is live, not a no-op)."""
    idx, docmap_pr, o_postings, o_docs_pr = ranked_engine
    o_docs_flat = {d: {**v, "popularity_score": 0.0} for d, v in o_docs_pr.items()}
    diffs = 0
    for qid, query in _queryset(o_postings):
        tokens = tokenize(query)
        if not tokens:
            continue
        with_pr = [r[0] for r in oracle_rank(tokens, o_postings, o_docs_pr)]
        without = [r[0] for r in oracle_rank(tokens, o_postings, o_docs_flat)]
        if with_pr != without:
            diffs += 1
    assert diffs >= 1
