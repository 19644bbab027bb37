"""connected_components and SymSpell fuzzy_match vs naive references."""

import pytest
from pyspark.sql import functions as F

from nadry_spark.operators.components import connected_components
from nadry_spark.operators.fuzzy import deletion_variants, fuzzy_match


def _true_components(edges):
    """Driver-side union-find ground truth."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_connected_components_vs_union_find(spark):
    import random

    rng = random.Random(13)
    # several chains + cliques + isolated pairs
    edges = []
    base = 0
    for size in (2, 3, 5, 8, 4, 6):
        ids = [base + i for i in range(size)]
        edges += [(ids[i], ids[i + 1]) for i in range(size - 1)]  # chain
        base += size + 3
    for size in (4, 5):
        ids = [base + i for i in range(size)]
        edges += [(a, b) for a in ids for b in ids if a < b]  # clique
        base += size + 2
    edges += [(rng.randrange(base), rng.randrange(base)) for _ in range(15)]
    edges = [(a, b) for a, b in edges if a != b]
    want = _true_components(edges)

    df = spark.createDataFrame(edges, "src long, dst long")
    # longest chain has diameter 7 -> 8 fixed rounds converge fully
    got = {
        r["v"]: r["component"]
        for r in connected_components(df, iterations=8).collect()
    }
    assert got == want

    got_conv = {
        r["v"]: r["component"]
        for r in connected_components(
            df, iterations=50, until_converged=True
        ).collect()
    }
    assert got_conv == want

    # fixed iterations BELOW the diameter: deterministic but unconverged
    # (this is the property the cross-engine oracle relies on)
    partial = {
        r["v"]: r["component"]
        for r in connected_components(df, iterations=2).collect()
    }
    assert set(partial) == set(want)
    assert any(partial[v] != want[v] for v in want)  # chain of 8 unfinished


def _distributed(monkeypatch, fn):
    """``fn()`` with the driver fast path gated off."""
    from nadry_spark.operators import components

    with monkeypatch.context() as m:
        m.setattr(components, "DRIVER_MAX_SYM_EDGES", 0)
        return fn()


def test_cc_driver_fast_path_identical_to_distributed(spark, monkeypatch):
    """The driver-sized numpy fast path must be row-identical to the
    distributed propagation loop for the SAME round count — including
    unconverged fixed-iteration states (the oracle-relied property)
    and string vertex ids (min-by-rank == min-by-value)."""
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    edges += [(i, i + 1) for i in range(100, 112)]  # a 13-chain: diameter > 2
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    for iters in (2, 8):
        fast = sorted(
            (r["v"], r["component"])
            for r in connected_components(df, iterations=iters).collect()
        )
        dist = _distributed(monkeypatch, lambda: sorted(
            (r["v"], r["component"])
            for r in connected_components(df, iterations=iters).collect()
        ))
        assert fast == dist

    sdf = spark.createDataFrame(
        [(f"d{a}", f"d{b}") for a, b in edges], "src string, dst string"
    )
    fast = sorted(
        (r["v"], r["component"])
        for r in connected_components(sdf, iterations=4).collect()
    )
    dist = _distributed(monkeypatch, lambda: sorted(
        (r["v"], r["component"])
        for r in connected_components(sdf, iterations=4).collect()
    ))
    assert fast == dist


def test_cc_with_sizes_fast_path_identical_to_distributed(spark, monkeypatch):
    """connected_components_with_sizes: the driver fast path's numpy
    size computation must match the distributed groupBy+join
    composition row-for-row — including duplicate and self-loop edges
    (the fast path skips the Spark-side distinct because min-scatters
    are dedup-invariant; sizes must still come out identical)."""
    import random

    from nadry_spark.operators.components import connected_components_with_sizes

    rng = random.Random(11)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(70)]
    edges += edges[:10]  # duplicates
    edges += [(5, 5), (41, 41)]  # self-loops (41 only in a self-loop)
    df = spark.createDataFrame(edges, "src long, dst long")
    for iters in (2, 8):
        fast = sorted(
            tuple(r) for r in connected_components_with_sizes(
                df, iterations=iters
            ).collect()
        )
        dist = _distributed(monkeypatch, lambda: sorted(
            tuple(r) for r in connected_components_with_sizes(
                df, iterations=iters
            ).collect()
        ))
        assert fast == dist


def test_deletion_variants_exact_set(spark):
    df = spark.createDataFrame([("abc",)], "t string")
    got = {r["variant"] for r in deletion_variants(df, "t", max_deletes=2).collect()}
    assert got == {"abc", "ab", "ac", "bc", "a", "b", "c"}
    got1 = {r["variant"] for r in deletion_variants(df, "t", max_deletes=1).collect()}
    assert got1 == {"abc", "ab", "ac", "bc"}
    with pytest.raises(ValueError):
        deletion_variants(df, "t", max_deletes=-1)


def test_fuzzy_match_equals_cross_join(spark):
    """SymSpell deletion-neighbourhood pruning must be lossless: the
    pair set equals the naive cross join + levenshtein filter."""
    vocab_words = [
        "spark", "spork", "stark", "shark", "sparkle", "park", "bark",
        "data", "date", "gate", "gaze", "daze", "maze", "mace",
        "join", "coin", "loin", "jinn", "a", "ab", "abc", "",
    ]
    queries = ["spark", "dat", "joun", "xyz", "a", "qq"]
    vocab = spark.createDataFrame([(w,) for w in vocab_words], "term string")
    qdf = spark.createDataFrame([(q,) for q in queries], "q string")

    got = sorted(
        (r["q"], r["term"], r["dist"])
        for r in fuzzy_match(qdf, vocab, "q", "term", max_dist=2).collect()
    )

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    want = sorted(
        (q, w, lev(q, w))
        for q in queries
        for w in vocab_words
        if lev(q, w) <= 2
    )
    assert got == want

    # top_k ranking: dist asc, then term asc (no rank_cols)
    top = fuzzy_match(qdf, vocab, "q", "term", max_dist=2, top_k=2).collect()
    by_q = {}
    for r in top:
        by_q.setdefault(r["q"], []).append((r["rank"], r["dist"], r["term"]))
    for q, rows in by_q.items():
        rows.sort()
        cands = sorted((d, w) for (qq, w, d) in want if qq == q)
        assert [(d, w) for _, d, w in rows] == cands[: len(rows)]
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))


@pytest.mark.parametrize("vtype", ["string", "long"])
@pytest.mark.parametrize(
    "op", ["connected_components", "connected_components_with_sizes", "label_propagation"]
)
def test_null_endpoint_driver_equals_distributed(spark, monkeypatch, op, vtype):
    """An edge with a NULL endpoint: the rows at the default gate equal
    the distributed plan's (the driver rounds cannot rank a NULL, so a
    collected NULL endpoint takes the distributed plan)."""
    from nadry_spark.operators import components

    def vid(v):
        return v if v is None or vtype == "long" else f"v{v}"

    df = spark.createDataFrame(
        [(vid(a), vid(b)) for a, b in [(1, 2), (2, 3), (4, None)]], f"src {vtype}, dst {vtype}"
    )

    def rows():
        return sorted(map(tuple, getattr(components, op)(df).collect()), key=repr)

    got = rows()
    assert got and got == _distributed(monkeypatch, rows)
