"""Driver ANN fast paths (operators/similarity + operators/pq) must
return exactly the distributed pipelines' rows — same quantization
grids, same tie-breaks, stats included. Forcing the distributed shape
= zeroing the collect gate (the CC/pagerank identity-test pattern)."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def vecs(spark):
    # deterministic, near-dup-bearing vector table: base + scaled copies
    rows = []
    for i in range(120):
        base = [((i * 37 + d * 11) % 19) - 9.0 + 0.25 * d for d in range(8)]
        rows.append((i, [float(x) for x in base]))
        if i % 3 == 0:
            rows.append((1000 + i, [x * 1.01 for x in base]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).localCheckpoint()


def _force_distributed(monkeypatch):
    from nadry_spark.operators import similarity as sim

    monkeypatch.setattr(sim, "DRIVER_ANN_MAX_ROWS", 0)


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("iters", [0, 1, 2])
def test_ivf_build_topk_parity(spark, vecs, monkeypatch, iters):
    from nadry_spark.operators import similarity as sim

    queries = vecs.where(F.col("vec_id") < 4)

    def run():
        assigned, cents = sim.ivf_build(vecs, n_centroids=8, iters=iters)
        out = _rows(sim.ivf_topk(assigned, cents, queries, k=5, nprobe=3))
        batch = _rows(sim.ivf_topk_batch(assigned, cents, queries, k=5, nprobe=3))
        return cents, out, batch

    f_cents, f_out, f_batch = run()
    _force_distributed(monkeypatch)
    d_cents, d_out, d_batch = run()
    assert f_cents == d_cents
    assert f_out == d_out and len(f_out) > 0
    assert f_batch == d_batch


def test_cosine_dup_pairs_parity_and_stats(spark, vecs, monkeypatch):
    from nadry_spark.operators import similarity as sim

    def run(cap):
        stats: dict = {}
        out = _rows(
            sim.cosine_dup_pairs(
                vecs, threshold=0.9, dims=[0, 1, 2], bucket_cap=cap,
                stats=stats,
            )
        )
        return out, stats

    for cap in (1000, 5, None):
        f_out, f_stats = run(cap)
        _force_distributed(monkeypatch)
        d_out, d_stats = run(cap)
        monkeypatch.undo()
        assert f_out == d_out, cap
        assert f_stats == d_stats, cap
    assert len(run(1000)[0]) > 0


@pytest.mark.parametrize("iters", [0, 1])
def test_pq_family_parity(spark, vecs, monkeypatch, iters):
    from nadry_spark.operators import pq as pqm

    queries = vecs.where(F.col("vec_id") < 4)
    qtable = vecs.where(F.col("vec_id") % 7 == 0)

    def run():
        codes, books = pqm.pq_build(vecs, m=4, ksub=8, iters=iters)
        stats: dict = {}
        return (
            books,
            _rows(codes),
            _rows(pqm.pq_topk(codes, books, queries, k=5)),
            _rows(pqm.pq_topk_batch(codes, books, qtable, k=5, stats=stats)),
            stats,
            _rows(
                pqm.pq_rerank_topk(codes, books, queries, vecs, k=5, pool=20)
            ),
        )

    f_books, f_codes, f_topk, f_batch, f_stats, f_rerank = run()
    _force_distributed(monkeypatch)
    d_books, d_codes, d_topk, d_batch, d_stats, d_rerank = run()
    assert f_books == d_books
    assert f_codes == d_codes
    assert f_topk == d_topk and len(f_topk) > 0
    assert f_batch == d_batch
    assert f_stats == d_stats
    assert f_rerank == d_rerank


@pytest.mark.parametrize("multiprobe", [True, False])
def test_lsh_and_brute_parity(spark, vecs, monkeypatch, multiprobe):
    from nadry_spark.operators import similarity as sim

    queries = vecs.where(F.col("vec_id") < 4)

    def run():
        return (
            _rows(sim.brute_force_topk(vecs, queries, k=5)),
            _rows(
                sim.lsh_topk(
                    vecs, queries, k=5, dims=[0, 1, 2, 3],
                    multiprobe=multiprobe,
                )
            ),
            _rows(
                sim.lsh_topk_multi(
                    vecs, queries, k=5,
                    tables=[[0, 1, 2], [3, 4, 5]], multiprobe=multiprobe,
                )
            ),
        )

    f_bf, f_lsh, f_multi = run()
    _force_distributed(monkeypatch)
    d_bf, d_lsh, d_multi = run()
    assert f_bf == d_bf and len(f_bf) > 0
    assert f_lsh == d_lsh
    assert f_multi == d_multi and len(f_multi) > 0


def test_ivfpq_parity(spark, vecs, monkeypatch):
    from nadry_spark.operators import pq as pqm
    from nadry_spark.operators import similarity as sim

    queries = vecs.where(F.col("vec_id") < 4)

    def run():
        assigned, cents = sim.ivf_build(vecs, n_centroids=8, iters=0)
        codes, books = pqm.pq_build(vecs, m=4, ksub=8, iters=0)
        return _rows(
            pqm.ivfpq_topk_batch(
                assigned, cents, codes, books, queries, k=5, nprobe=3
            )
        )

    f_out = run()
    _force_distributed(monkeypatch)
    d_out = run()
    assert f_out == d_out and len(f_out) > 0


@pytest.fixture(scope="module")
def hostile(spark, vecs):
    """Vector tables the driver gate must hand to the distributed plan:
    one ragged row and one NULL vector beside well-formed rows, and a
    table whose vectors are shorter than the default sign-bit dims."""
    bad = spark.createDataFrame(
        [(9000, [1.0, 2.0, 3.0]), (9001, None)],
        "vec_id long, embedding array<double>",
    )
    short = spark.createDataFrame(
        [(i, [((i * 7 + d) % 5) - 2.0 for d in range(3)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    return {
        "ragged_null": vecs.unionByName(bad).localCheckpoint(),
        "short_dim": short.localCheckpoint(),
    }


@pytest.mark.parametrize("table", ["ragged_null", "short_dim"])
def test_driver_paths_fall_back_on_hostile_vectors(spark, hostile, monkeypatch, table):
    from nadry_spark.operators import similarity as sim

    vectors = hostile[table]
    queries = vectors.where(F.col("vec_id") < 4)

    def run():
        return (
            _rows(sim.brute_force_topk(vectors, queries, k=5)),
            _rows(sim.lsh_topk(vectors, queries, k=5)),
            _rows(sim.cosine_dup_pairs(vectors, threshold=0.9)),
        )

    f_bf, f_lsh, f_dup = run()
    _force_distributed(monkeypatch)
    d_bf, d_lsh, d_dup = run()
    assert f_bf == d_bf and len(f_bf) > 0
    assert f_lsh == d_lsh
    assert f_dup == d_dup


def test_vector_collect_bounded_by_first_row_dimension(spark, vecs, monkeypatch):
    """The driver collect is capped at min(DRIVER_ANN_MAX_ROWS,
    DRIVER_ANN_MAX_CELLS // d) rows for the first row's dimension d, so
    an over-cell table falls back without reaching the driver whole; a
    NULL or empty first vector falls back before any collect."""
    from nadry_spark.operators import similarity as sim

    queries = vecs.where(F.col("vec_id") < 4)
    with monkeypatch.context() as m:
        _force_distributed(m)
        want = _rows(sim.brute_force_topk(vecs, queries, k=5))

    bounds = []
    collect = sim.collect_bounded

    def spy(df, max_rows):
        bounds.append(max_rows)
        return collect(df, max_rows)

    monkeypatch.setattr(sim, "collect_bounded", spy)
    monkeypatch.setattr(sim, "DRIVER_ANN_MAX_CELLS", 8 * 50)
    assert _rows(sim.brute_force_topk(vecs, queries, k=5)) == want
    assert bounds == [50]  # 160 8-dim rows: one 51-row collect, then fallback

    rows = [tuple(r) for r in vecs.collect()]
    for first in (None, []):
        # parallelize keeps list order: the 1-row probe reads row 0
        table = spark.createDataFrame(
            [(5000, first)] + rows, "vec_id long, embedding array<double>"
        )
        bounds.clear()
        assert sim._collect_vectors_local(table, "vec_id", "embedding") is None
        assert bounds == [], first


def test_ivf_seed_ties_follow_cid_not_position(spark, monkeypatch):
    """Seed centroids listed in DESCENDING cid order, with vectors
    equidistant from both: the driver Lloyd assignment takes the
    smaller cid, as the distributed (distance, cid) struct-min does."""
    from nadry_spark.operators import similarity as sim

    vectors = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [2.0, 0.5]), (2, [-2.0, 0.5]), (3, [0.0, -1.0])],
        "vec_id long, embedding array<double>",
    )
    seeds = [(1, [1.0, 0.0]), (0, [-1.0, 0.0])]

    def run():
        out = []
        for iters in (0, 1):
            assigned, cents = sim.ivf_build(
                vectors, n_centroids=2, iters=iters, seed_centroids=seeds
            )
            out.append((cents, _rows(assigned.select("vec_id", "cid"))))
        return out

    fast = run()
    _force_distributed(monkeypatch)
    assert fast == run()


def test_cosine_dup_pairs_bail_out_reports_once(spark, vecs, monkeypatch, caplog):
    """A driver bail-out past DRIVER_COSINE_MAX_PAIRS leaves the stats
    and the hot-bucket warning to the distributed fallback: one
    warning, and the distributed run's stats."""
    import logging

    from nadry_spark.operators import similarity as sim

    def run():
        stats: dict = {}
        caplog.clear()
        with caplog.at_level(logging.WARNING, logger="nadry_spark.similarity"):
            out = _rows(
                sim.cosine_dup_pairs(
                    vecs, threshold=0.9, dims=[0, 1, 2], bucket_cap=12, stats=stats
                )
            )
        warned = [r for r in caplog.records if "hot buckets" in r.getMessage()]
        return out, stats, len(warned)

    with monkeypatch.context() as m:
        _force_distributed(m)
        want = run()
    assert want[1]["skipped_buckets"] > 0 and want[2] == 1
    monkeypatch.setattr(sim, "DRIVER_COSINE_MAX_PAIRS", 0)
    assert run() == want
