"""Label propagation (operators/components.label_propagation) vs a
pure-Python reference of the synchronous count/min-tie-break rounds."""


def _ref_lpa(edge_list, iters):
    und = set()
    for a, b in edge_list:
        if a != b:
            und.add((a, b))
            und.add((b, a))
    verts = sorted({a for a, _ in und})
    lab = {v: v for v in verts}
    for _ in range(iters):
        new = {}
        for v in verts:
            cnt = {}
            for a, b in und:
                if a == v:
                    cnt[lab[b]] = cnt.get(lab[b], 0) + 1
            best = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
            new[v] = best
        lab = new
    return lab


def test_lpa_matches_reference(spark):
    from nadry_spark.operators.components import label_propagation

    # two DISCONNECTED triangles stay two communities; the bridge case
    # is covered by the reference comparison (deterministic min-label
    # tie-breaks are known to leak the smaller label across bridges —
    # the semantics the oracle mirrors, not a clustering-quality claim)
    edges = [
        ("a1", "a2"), ("a2", "a3"), ("a3", "a1"),
        ("b1", "b2"), ("b2", "b3"), ("b3", "b1"),
        ("c1", "c1"),  # self-loop must be dropped entirely
        ("c1", "c2"),
        ("a1", "b1"),  # bridge: semantics per reference, whatever they are
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["v"]: r["community"]
        for r in label_propagation(df, iterations=3).collect()
    }
    want = _ref_lpa(edges, 3)
    assert got == want

    # disconnected components can never share a community label
    df2 = spark.createDataFrame(edges[:6] + edges[7:8], "src string, dst string")
    got2 = {
        r["v"]: r["community"]
        for r in label_propagation(df2, iterations=3).collect()
    }
    assert got2 == _ref_lpa(edges[:6] + edges[7:8], 3)
    assert len({got2["a1"], got2["a2"], got2["a3"]}) == 1
    assert len({got2["b1"], got2["b2"], got2["b3"]}) == 1
    assert got2["b2"] != got2["a2"] != got2["c2"]


def test_lpa_driver_fast_path_identical_to_distributed(spark, monkeypatch):
    """LPA is pure integer counting + (cnt desc, label asc) argmax —
    the driver fast path must be BIT-identical to the distributed loop."""
    import random

    from nadry_spark.operators import components
    from nadry_spark.operators.components import label_propagation

    rng = random.Random(3)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(120)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    for iters in (1, 3):
        fast = sorted(
            (r["v"], r["community"])
            for r in label_propagation(df, iterations=iters).collect()
        )
        with monkeypatch.context() as m:
            m.setattr(components, "DRIVER_MAX_SYM_EDGES", 0)
            dist = sorted(
                (r["v"], r["community"])
                for r in label_propagation(df, iterations=iters).collect()
            )
        assert fast == dist
