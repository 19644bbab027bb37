"""PageRank closed-form graph tests (SURVEY.md §5 item 6) — asserting
the reference's exact (quirky) semantics via the pure-Python oracle and
hand-computed fixed points."""

import pytest

from tests.oracle import oracle_pagerank


def _spark_ranks(spark, doc_links):
    from nadry_spark.operators.pagerank import pagerank

    rows = [(u, list(ls)) for u, ls in doc_links.items()]
    docs = spark.createDataFrame(rows, "url string, links array<string>")
    return {r["url"]: r["popularity_score"] for r in pagerank(docs).collect()}


CASES = {
    # 3-cycle: every node indeg 1 -> uniform 1/3
    "cycle": {"a": ["b"], "b": ["c"], "c": ["a"]},
    # star: hub receives from 3 leaves; leaves have no inlinks -> only hub
    # ranked; leaf contributions skipped (no inlinks themselves)
    "star": {"l1": ["hub"], "l2": ["hub"], "l3": ["hub"], "hub": []},
    # chain with dangling tail
    "chain": {"a": ["b"], "b": ["c"], "c": []},
    # two-node mutual + one dangling-in node
    "mutual": {"a": ["b"], "b": ["a"], "c": ["a"]},
    # self-link mixed in
    "selfy": {"a": ["a", "b"], "b": ["a"]},
    # dense 4-clique (no self links)
    "clique": {
        "a": ["b", "c", "d"],
        "b": ["a", "c", "d"],
        "c": ["a", "b", "d"],
        "d": ["a", "b", "c"],
    },
    # link to unknown url must be ignored (membership filter)
    "unknown": {"a": ["b", "https://nowhere.example.com/x"], "b": ["a"]},
}


@pytest.mark.parametrize("name", list(CASES))
def test_spark_matches_oracle(spark, name):
    doc_links = CASES[name]
    want = oracle_pagerank(doc_links)
    got = _spark_ranks(spark, doc_links)
    assert set(got) == set(want), name
    for u in want:
        assert got[u] == pytest.approx(want[u], abs=1e-9), (name, u)


def test_cycle_uniform():
    ranks = oracle_pagerank(CASES["cycle"])
    for v in ranks.values():
        assert v == pytest.approx(1 / 3, abs=1e-6)


def test_star_only_hub_ranked():
    ranks = oracle_pagerank(CASES["star"])
    # only 'hub' has inlinks -> N=1, no live inlinkers -> (1-d)/1 = 0.15
    assert set(ranks) == {"hub"}
    assert ranks["hub"] == pytest.approx(0.15, abs=1e-9)


def test_no_inlink_pages_excluded():
    ranks = oracle_pagerank(CASES["chain"])
    assert set(ranks) == {"b", "c"}  # 'a' has no inlinks


def test_empty_graph():
    assert oracle_pagerank({"a": [], "b": []}) == {}


def test_apply_pagerank_fills_zero(spark):
    from nadry_spark.operators.pagerank import apply_pagerank, pagerank

    doc_links = CASES["mutual"]
    docs = spark.createDataFrame(
        [(u, list(ls), 0.0) for u, ls in doc_links.items()],
        "url string, links array<string>, popularity_score double",
    )
    ranks = pagerank(docs)
    out = {r["url"]: r["popularity_score"] for r in apply_pagerank(docs, ranks).collect()}
    want = oracle_pagerank(doc_links)
    assert out["c"] == 0.0  # c has no inlinks -> keeps 0.0
    assert out["a"] == pytest.approx(want["a"])
    assert out["b"] == pytest.approx(want["b"])


def test_trustrank_matches_python_reference(spark):
    """trustrank (textbook out-degree divisor, seed teleport, dangling
    dropped) vs a direct python power iteration on a small graph that
    has a dangling node (d), an unreachable non-seed (e), and a seed."""
    from nadry_spark.operators.pagerank import trustrank

    links = {
        "a": ["b", "c"],
        "b": ["c"],
        "c": ["a"],
        "d": [],        # dangling: receives from nobody here, emits nothing
        "e": ["a"],     # e links in, but nothing links to e
    }
    docs = spark.createDataFrame(
        [(u, ls) for u, ls in links.items()], "url string, links array<string>"
    )
    seeds = ["a", "e"]
    got = {
        r["url"]: r["trust_score"]
        for r in trustrank(
            docs, spark.createDataFrame([(s,) for s in seeds], "url string"), iters=3
        ).collect()
    }

    d = 0.85
    s = {u: (1.0 / len(seeds) if u in seeds else 0.0) for u in links}
    t = dict(s)
    for _ in range(3):
        c = {u: 0.0 for u in links}
        for u, ls in links.items():
            # build_edges dedups and keeps known urls only
            out = sorted(set(x for x in ls if x in links))
            for v in out:
                c[v] += t[u] / len(out)
        t = {u: (1.0 - d) * s[u] + d * c[u] for u in links}
    for u in links:
        assert abs(got[u] - t[u]) < 1e-9, (u, got[u], t[u])
    assert got["e"] == round((1.0 - d) * 0.5, 9)  # unreachable seed: teleport only
    total = sum(got.values())
    assert total <= 1.0 + 1e-9  # mass only leaks (dangling), never appears


def test_driver_fast_path_matches_distributed(spark, monkeypatch):
    """The numpy fast path must match the distributed broadcast-join
    loop on the same graph — fixed-iteration and converged modes.
    (Not bit-compared: the two sum contributions in different orders,
    the same noise class the distributed loop has run-to-run; 1e-12
    is far below the 1e-9 output grid.)"""
    import random

    from nadry_spark.operators import pagerank as pr
    from nadry_spark.operators.pagerank import pagerank

    rng = random.Random(5)
    docs = [
        (f"u{i}", list({f"u{rng.randrange(40)}" for _ in range(rng.randrange(1, 5))}))
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, "url string, links array<string>")
    for kwargs in ({"tol": 0.0, "max_iter": 7}, {"tol": 1e-6, "max_iter": 50}):
        fast = {
            r["url"]: r["popularity_score"] for r in pagerank(df, **kwargs).collect()
        }
        with monkeypatch.context() as m:
            m.setattr(pr, "DRIVER_MAX_EDGES", 0)
            dist = {
                r["url"]: r["popularity_score"]
                for r in pagerank(df, **kwargs).collect()
            }
        assert set(fast) == set(dist)
        for u in dist:
            assert fast[u] == pytest.approx(dist[u], abs=1e-12), u


def test_driver_path_bit_identical_across_partitionings(spark):
    """The driver path sums each page's contributions in a fixed
    (dst, src) order, so its scores are BIT-identical whatever order
    the partitioning collects the edges in."""
    import random

    from nadry_spark.operators.pagerank import pagerank

    rng = random.Random(13)
    docs = [
        (f"u{i}", list({f"u{rng.randrange(300)}" for _ in range(rng.randrange(1, 8))}))
        for i in range(300)
    ]
    df = spark.createDataFrame(docs, "url string, links array<string>")

    def scores(n):
        return {
            r["url"]: r["popularity_score"]
            for r in pagerank(df.repartition(n), tol=0.0, max_iter=20).collect()
        }

    one = scores(1)
    assert len(one) > 200
    assert scores(7) == one


def test_trustrank_driver_fast_path_matches_distributed(spark, monkeypatch):
    import random

    from nadry_spark.operators import pagerank as pr
    from nadry_spark.operators.pagerank import trustrank

    rng = random.Random(9)
    docs = [
        (f"u{i}", list({f"u{rng.randrange(25)}" for _ in range(rng.randrange(1, 4))}))
        for i in range(25)
    ]
    df = spark.createDataFrame(docs, "url string, links array<string>")
    seeds = spark.createDataFrame([("u0",), ("u3",)], "url string")
    fast = {r["url"]: r["trust_score"] for r in trustrank(df, seeds).collect()}
    monkeypatch.setattr(pr, "DRIVER_MAX_EDGES", 0)
    dist = {r["url"]: r["trust_score"] for r in trustrank(df, seeds).collect()}
    assert set(fast) == set(dist)
    for u in dist:
        assert fast[u] == pytest.approx(dist[u], abs=1e-9), u
