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
