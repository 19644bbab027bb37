"""HITS (operators/hits) vs a pure-Python reference of the L1
fixed-iteration mutual recursion, including dangling/unlinked nodes."""


def _ref_hits(links: dict[str, list[str]], iters: int):
    urls = set(links)
    edges = sorted(
        {(u, v) for u, vs in links.items() for v in vs if v in urls}
    )
    h = {u: 1.0 for u in urls}
    a = {}
    for _ in range(iters):
        a = {}
        for u, v in edges:
            a[v] = a.get(v, 0.0) + h[u]
        s = sum(a.values())
        a = {v: x / s for v, x in a.items()}
        h = {}
        for u, v in edges:
            if v in a:
                h[u] = h.get(u, 0.0) + a[v]
        s = sum(h.values())
        h = {u: x / s for u, x in h.items()}
    return (
        {u: round(a.get(u, 0.0), 9) for u in urls},
        {u: round(h.get(u, 0.0), 9) for u in urls},
    )


def test_hits_matches_reference(spark):
    from nadry_spark.operators.hits import hits

    links = {
        "hub1": ["auth1", "auth2", "auth3"],
        "hub2": ["auth1", "auth2"],
        "auth1": [],            # pure authority: hub must be 0
        "auth2": ["auth1"],
        "auth3": ["external"],  # link outside the graph is dropped
        "lonely": [],           # no in- or out-links: both scores 0
    }
    docs = spark.createDataFrame(
        [(u, vs) for u, vs in links.items()], "url string, links array<string>"
    )
    got = {
        r["url"]: (r["authority"], r["hub"]) for r in hits(docs, iters=3).collect()
    }
    want_a, want_h = _ref_hits(links, 3)
    assert got == {u: (want_a[u], want_h[u]) for u in links}
    assert got["auth1"][1] == 0.0 and got["lonely"] == (0.0, 0.0)
    # hub1 links to every authority -> strictly the best hub
    assert got["hub1"][1] > got["hub2"][1] > 0.0


def test_hits_driver_fast_path_matches_distributed(spark, monkeypatch):
    import random

    import pytest as _pt

    from nadry_spark.operators import hits as hits_mod
    from nadry_spark.operators.hits import hits

    rng = random.Random(11)
    docs = [
        (f"u{i}", list({f"u{rng.randrange(30)}" for _ in range(rng.randrange(0, 4))}))
        for i in range(30)
    ]
    df = spark.createDataFrame(docs, "url string, links array<string>")
    fast = {r["url"]: (r["authority"], r["hub"]) for r in hits(df, iters=3).collect()}
    monkeypatch.setattr(hits_mod, "DRIVER_MAX_EDGES", 0)
    dist = {
        r["url"]: (r["authority"], r["hub"])
        for r in hits(df, iters=3).collect()
    }
    assert set(fast) == set(dist)
    for u in dist:
        assert fast[u][0] == _pt.approx(dist[u][0], abs=1e-9), u
        assert fast[u][1] == _pt.approx(dist[u][1], abs=1e-9), u
