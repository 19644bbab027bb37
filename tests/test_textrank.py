"""TextRank (operators/textrank) vs a pure-Python reference of the
weighted damped iteration over the undirected adjacency graph."""

import re


def _ref_textrank(texts, stop, iters=3, d=0.85):
    def toks(t):
        return [w for w in re.split(r"\s+", t.lower()) if w]

    def ok(w):
        return 2 <= len(w) <= 50 and w not in stop

    dir_c = {}
    for t in texts:
        ws = toks(t)
        for a, b in zip(ws, ws[1:]):
            if ok(a) and ok(b) and a != b:
                dir_c[(a, b)] = dir_c.get((a, b), 0) + 1
    und = {}
    for (a, b), c in dir_c.items():
        und[(a, b)] = und.get((a, b), 0) + c
        und[(b, a)] = und.get((b, a), 0) + c
    wdeg = {}
    for (u, _v), c in und.items():
        wdeg[u] = wdeg.get(u, 0) + c
    rank = {u: 1.0 for u in wdeg}
    for _ in range(iters):
        s = {}
        for (u, v), c in und.items():
            s[v] = s.get(v, 0.0) + (rank[u] / wdeg[u]) * float(c)
        rank = {u: (1.0 - d) + d * s.get(u, 0.0) for u in wdeg}
    return {u: round(r, 9) for u, r in rank.items()}


def test_textrank_matches_reference(spark):
    from nadry_spark.operators.textrank import textrank_keywords

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "quick brown foxes and quick brown wolves",
        "a dog and a fox met a wolf",
        "lazy lazy lazy",  # self-adjacent: self-loops must be dropped
        "solitary",  # isolated token: no edges, not returned
    ]
    stop = ["the", "and", "over"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["term"]: r["score"]
        for r in textrank_keywords(docs, stopwords=stop, iters=3).collect()
    }
    want = _ref_textrank(texts, set(stop), iters=3)
    assert got == want
    assert "solitary" not in got and "the" not in got
    # 'quick'/'brown' co-occur most -> must outrank a one-edge token
    assert got["brown"] > got["met"]


def test_textrank_isolated_corpus_empty(spark):
    from nadry_spark.operators.textrank import textrank_keywords

    docs = spark.createDataFrame([(0, "x y z")], "doc_id long, text string")
    # every token <2 chars -> filtered -> no graph at all
    assert textrank_keywords(docs, stopwords=[], iters=2).count() == 0


def test_textrank_driver_fast_path_matches_distributed(spark, monkeypatch):
    import pytest as _pt

    from nadry_spark.operators import textrank as tr
    from nadry_spark.operators.textrank import textrank_keywords

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha beta delta"),
            (2, "beta gamma gamma epsilon alpha"),
            (3, "delta epsilon alpha beta"),
        ],
        "doc_id long, text string",
    )
    fast = {r["term"]: r["score"] for r in textrank_keywords(docs, iters=3).collect()}
    monkeypatch.setattr(tr, "DRIVER_MAX_EDGES", 0)
    dist = {r["term"]: r["score"] for r in textrank_keywords(docs, iters=3).collect()}
    assert set(fast) == set(dist) and fast
    for t in dist:
        assert fast[t] == _pt.approx(dist[t], abs=1e-9), t
