"""A warmed, pinned segment family is served on the driver: the shard
scorers run over the pinned blocks and enrichment reads the pinned
content, with no Spark job. The driver path must return exactly the
rows of the distributed path (the same handles warmed with the byte
gate zeroed), and the gate must fall back whole-family."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from nadry_spark.operators import bm25
from nadry_spark.plans.query import QueryEngine
from nadry_spark.sources import segments
from nadry_spark.sources.segments import MultiSegmentIndex, SegmentIndex

# head and torso words of the tiny corpus, the re-crawled page's marker
# and a word no page holds
TERMS = ["news", "report", "update", "2024", "zornorsalen", "pusokesus", "lusrev",
         "mezarbornu", "zzrecrawl", "zzznotaterm"]


@pytest.fixture(scope="module")
def family_paths(spark, tiny_pages_path, tmp_path_factory):
    """Two segments: the tiny corpus's first half, then its second half
    plus a re-crawl of the first page, which tombstones that page's
    older copy (supersedes.json, as the streaming finalize writes it)."""
    base = tmp_path_factory.mktemp("driver_family")
    table = pq.read_table(tiny_pages_path)
    n = table.num_rows
    first = table.slice(0, 1).to_pylist()[0]
    first["html"] = first["html"] + b"<p>zzrecrawl marker news zzrecrawl</p>"
    parts = [
        table.slice(0, n // 2),
        pa.concat_tables([table.slice(n // 2), pa.Table.from_pylist([first], schema=table.schema)]),
    ]
    paths = []
    for i, part in enumerate(parts):
        pfile = str(base / f"pages{i}.parquet")
        pq.write_table(part, pfile)
        seg = str(base / f"seg{i}")
        segments.build_segments(spark, spark.read.parquet(pfile), seg, n_shards=3, shards_per_job=3)
        paths.append(seg)
    old = {r["url"]: r["doc_no"] for r in pq.read_table(os.path.join(paths[0], "docmap")).to_pylist()}
    with open(os.path.join(paths[1], "supersedes.json"), "w") as f:
        json.dump({"seg0": [old[first["url"]]]}, f)
    return paths


def _handles(spark, paths):
    return SegmentIndex(spark, paths[0]).warm(), MultiSegmentIndex(spark, paths).warm()


@pytest.fixture(scope="module")
def pinned(spark, family_paths):
    seg, fam = _handles(spark, family_paths)
    assert seg.pinned and all(s.pinned for s in fam.segments)
    assert not seg._cached and not any(s._cached for s in fam.segments)
    return seg, fam


@pytest.fixture(scope="module")
def unpinned(spark, family_paths):
    """The same handles warmed with the driver byte gate zeroed: the
    cached state, served by the distributed path, nothing pinned."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(SegmentIndex, "DRIVER_PIN_MAX_BYTES", 0)
        seg, fam = _handles(spark, family_paths)
    assert not seg.pinned and not any(s.pinned for s in fam.segments)
    for s in [seg, *fam.segments]:
        assert s._docmap_dict is None and s._terms_dict is None
        assert sorted(s._cached) == ["blocks", "docmap", "terms"]
    return seg, fam


def test_family_is_tombstoned(pinned):
    _, fam = pinned
    assert [len(e) for e in fam.excluded] == [1, 0]


def test_tombstone_meta_is_bit_equal_to_spark_sum(spark, family_paths):
    """MultiSegmentIndex subtracts the superseded docs' lengths read
    with pyarrow; n_docs/avgdl equal the Spark aggregate's bit for bit."""
    from pyspark.sql import functions as F

    fam = MultiSegmentIndex(spark, family_paths)
    segs, excl = fam.segments, fam.excluded
    sum_dl = sum(s.meta["avgdl"] * s.meta["n_docs"] for s in segs)
    for s, e in zip(segs, excl):
        if e:
            row = s.docmap.where(F.col("doc_no").isin(sorted(e))).agg(F.sum("total_words")).collect()[0]
            sum_dl -= float(row[0] or 0.0)
    n_live = sum(s.meta["n_docs"] for s in segs) - sum(len(e) for e in excl)
    assert fam.meta["n_docs"] == n_live
    assert fam.meta["avgdl"] == sum_dl / n_live


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    terms=st.lists(st.sampled_from(TERMS), min_size=1, max_size=3),
    k=st.integers(min_value=0, max_value=12),
    mode=st.sampled_from(["taat", "bmw"]),
    conjunctive=st.booleans(),
)
def test_driver_topk_equals_distributed(pinned, unpinned, terms, k, mode, conjunctive):
    """bm25_topk on a segment and bm25_topk_multi on the tombstoned
    family: the driver rows equal the distributed rows, no tolerance."""
    q = " ".join(terms)
    for fn, i in ((bm25.bm25_topk, 0), (bm25.bm25_topk_multi, 1)):
        got = fn(pinned[i], q, k=k, mode=mode, conjunctive=conjunctive).collect()
        want = fn(unpinned[i], q, k=k, mode=mode, conjunctive=conjunctive).collect()
        assert got == want, (fn.__name__, q, k, mode, conjunctive)


def test_driver_topk_is_not_vacuous(pinned, unpinned):
    q = "news report update"
    for fn, i in ((bm25.bm25_topk, 0), (bm25.bm25_topk_multi, 1)):
        got = fn(pinned[i], q, k=10).collect()
        assert len(got) == 10
        assert got == fn(unpinned[i], q, k=10).collect()


def test_bmw_block_stats_driver_equals_distributed(pinned, unpinned):
    for q in ["news report update", "news zzrecrawl", "zornorsalen lusrev pusokesus"]:
        for conj in (False, True):
            for i in (0, 1):
                got = bm25.bmw_block_stats(pinned[i], q, k=5, conjunctive=conj)
                assert got == bm25.bmw_block_stats(unpinned[i], q, k=5, conjunctive=conj), (q, conj, i)
                assert got["n_blocks"] > 0 or conj, q


def test_df_corrections_driver_equals_distributed(pinned, unpinned):
    terms = ["news", "report", "zzrecrawl", "zzznotaterm"]
    got = pinned[1].df_corrections(terms)
    assert got == unpinned[1].df_corrections(terms)
    assert any(got.values())


def test_pinned_content_excludes_tombstones_like_content_for(spark, family_paths):
    """Enrichment from the pins reads exactly content_for's rows: live
    copies only, a tombstoned doc with no newer copy absent."""
    fam = MultiSegmentIndex(spark, family_paths).warm()
    dm = pq.read_table(os.path.join(family_paths[0], "docmap")).to_pylist()
    victim = next(r for r in dm if r["doc_no"] not in fam.excluded[0])
    fam.excluded = [fam.excluded[0] | {victim["doc_no"]}, set()]
    ids = [r["doc_id"] for r in dm[:6]] + [victim["doc_id"]]
    ids_df = spark.createDataFrame([(d,) for d in ids], "doc_id string")
    want = {r["doc_id"]: (r["title"], r["content"]) for r in fam.content_for(ids_df).collect()}
    got = fam.pinned_content(ids)
    assert got == want
    assert victim["doc_id"] not in got and len(got) >= 5


def _envelope(env):
    return {k: v for k, v in env.items() if k != "searchTimeSec"}


def test_query_engine_envelopes_driver_equal_distributed(pinned, unpinned):
    """Full bm25 envelopes, title/description/totalResults included."""
    queries = ["news report", "zzrecrawl marker", "zornorsalen lusrev", "update 2024", '"news"', "zzznotaterm"]
    for i in (0, 1):
        a = QueryEngine(pinned[i], scoring="bm25")
        b = QueryEngine(unpinned[i], scoring="bm25")
        for q in queries:
            for page, size in ((0, 5), (1, 3)):
                a._cache.clear()
                b._cache.clear()
                got, want = a.search(q, page=page, page_size=size), b.search(q, page=page, page_size=size)
                assert _envelope(got) == _envelope(want), (i, q, page)
        hit = QueryEngine(pinned[i], scoring="bm25").search("news report")
        assert hit["data"] and all(r["title"] and r["description"] for r in hit["data"])
    # the re-crawled page is enriched from its new copy only
    env = QueryEngine(pinned[1], scoring="bm25").search("zzrecrawl")
    assert env["totalResults"] == 1 and "zzrecrawl" in env["data"][0]["description"]


def test_phrase_and_exact_envelopes_pinned_equal_cached(pinned, unpinned):
    """Phrase and exact-mode QueryEngine envelopes — doc order,
    totalResults, title, description and scores — are identical
    between the pinned handles and the cached ones; the re-crawled
    page's phrase matches its new copy only."""
    phrases = ['"news report"', '"zzrecrawl marker news"', '"news zzrecrawl"', '"report news"',
               '"news zzznotaterm"', '"news news"']
    for i in (0, 1):
        for scoring, queries in (("bm25", phrases), ("exact", phrases + ["news report", "zzrecrawl"])):
            a, b = QueryEngine(pinned[i], scoring=scoring), QueryEngine(unpinned[i], scoring=scoring)
            for q in queries:
                got, want = a.search(q, page_size=5), b.search(q, page_size=5)
                assert _envelope(got) == _envelope(want), (i, scoring, q)
        assert QueryEngine(pinned[i]).search('"news report"')["totalResults"] > 0
    env = QueryEngine(pinned[1]).search('"zzrecrawl marker news"')
    assert env["totalResults"] == 1 and "zzrecrawl" in env["data"][0]["description"]


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
        return list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_warmed_search_runs_no_job(spark, pinned, unpinned):
    """A warmed bm25 search of a plain-term query runs 0 Spark jobs on a
    segment and on a tombstoned family (first search, so df corrections
    and enrichment are not cached); the unpinned handles run some."""
    pinned[1]._df_corr.clear()
    for i, name in ((0, "segment"), (1, "family")):
        env = {}
        jobs = _jobs(spark, f"driver-{name}", lambda: env.update(
            QueryEngine(pinned[i], scoring="bm25").search("news report update")))
        assert env["data"], name
        assert jobs == [], name
        assert _jobs(spark, f"spark-{name}", lambda: QueryEngine(
            unpinned[i], scoring="bm25").search("news report update")), name


def test_pinned_warm_runs_no_job(spark, family_paths):
    """warm() of a pinned segment and of the tombstoned family reads its
    tables with pyarrow: no Spark job, no Spark cache."""
    for name, idx in (("segment", SegmentIndex(spark, family_paths[0])),
                      ("family", MultiSegmentIndex(spark, family_paths))):
        assert _jobs(spark, f"warm-{name}", idx.warm) == [], name
        assert all(s.pinned and not s._cached for s in idx.segments), name


def test_gate_from_file_sizes_alone(spark, family_paths, monkeypatch):
    """The pin gate compares the on-disk bytes of the five tables warm()
    pins: a gate of exactly that many bytes pins, one byte less does
    not, and the over-gate warm reads no table with pyarrow."""
    path = family_paths[0]
    size = sum(
        os.path.getsize(os.path.join(r, f))
        for t in ("terms", "docmap", "postings", "docs_content", "positions")
        for r, _, files in os.walk(os.path.join(path, t))
        for f in files
    )
    monkeypatch.setattr(SegmentIndex, "DRIVER_PIN_MAX_BYTES", size)
    assert SegmentIndex(spark, path).warm().pinned

    def no_read(*a, **kw):
        raise AssertionError("read a table past the gate")

    monkeypatch.setattr(SegmentIndex, "DRIVER_PIN_MAX_BYTES", size - 1)
    monkeypatch.setattr(segments.pq, "read_table", no_read)
    over = SegmentIndex(spark, path).warm()
    assert not over.pinned
    monkeypatch.undo()
    want = bm25.bm25_topk(SegmentIndex(spark, path).warm(), "news report", k=10).collect()
    assert want and bm25.bm25_topk(over, "news report", k=10).collect() == want


def test_one_over_gate_member_serves_whole_family_distributed(spark, family_paths, pinned, monkeypatch):
    """A family with one member past the gate never mixes executors: the
    pinned member is scored under applyInPandas too, with the rows of
    the fully pinned family."""
    fam = MultiSegmentIndex(spark, family_paths)
    fam.segments[0].warm()
    monkeypatch.setattr(SegmentIndex, "DRIVER_PIN_MAX_BYTES", 0)
    fam.segments[1].warm()
    monkeypatch.undo()
    assert fam.segments[0].pinned and not fam.segments[1].pinned

    queries = ["news report update", "zzrecrawl news"]
    want = [
        [bm25.bm25_topk_multi(pinned[1], q, k=10, mode=mode).collect() for mode in ("taat", "bmw")]
        + [bm25.bmw_block_stats(pinned[1], q, k=5)]
        for q in queries
    ]
    want_corr = pinned[1].df_corrections(["news"])

    def no_driver(self, terms):
        raise AssertionError("driver scoring in a mixed family")

    monkeypatch.setattr(SegmentIndex, "pinned_blocks", no_driver)
    for q, w in zip(queries, want):
        got = [bm25.bm25_topk_multi(fam, q, k=10, mode=mode).collect() for mode in ("taat", "bmw")]
        assert got + [bm25.bmw_block_stats(fam, q, k=5)] == w, q
    assert fam.df_corrections(["news"]) == want_corr
    assert fam.pinned_content(["x"]) is None
    assert _jobs(spark, "mixed-family", lambda: QueryEngine(fam, scoring="bm25").search("news report"))


# phrases the family holds (the re-crawled page's among them), next to
# random 2-3 token ones from TERMS (repeated tokens and the missing term
# included)
PHRASES = st.one_of(
    st.lists(st.sampled_from(TERMS), min_size=2, max_size=3),
    st.sampled_from([["news", "report"], ["zzrecrawl", "marker", "news"], ["news", "zzrecrawl"],
                     ["news", "news"], ["news", "zzznotaterm"]]),
)


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    words=st.one_of(PHRASES.map(lambda w: f'"{" ".join(w)}"'),
                    st.lists(st.sampled_from(TERMS), min_size=1, max_size=4).map(" ".join)),
    page=st.integers(min_value=0, max_value=1),
    i=st.sampled_from([0, 1]),
)
def test_phrase_and_exact_envelopes_identity(pinned, unpinned, words, page, i):
    """Phrase and exact-mode envelopes of the driver ranking (pinned)
    equal the Spark plan's (cached), whole envelopes, no tolerance."""
    got = QueryEngine(pinned[i]).search(words, page=page, page_size=4)
    want = QueryEngine(unpinned[i]).search(words, page=page, page_size=4)
    assert _envelope(got) == _envelope(want), (i, words, page)


def test_warmed_phrase_and_exact_search_run_no_job(spark, pinned):
    """A warmed phrase search and a warmed exact-mode search rank on the
    driver: 0 Spark jobs on a segment and on the tombstoned family."""
    for i, name in ((0, "segment"), (1, "family")):
        for scoring, q in (("bm25", '"news report"'), ("exact", '"news report"'),
                           ("exact", "news report update")):
            env = {}
            jobs = _jobs(spark, f"rank-{name}-{scoring}-{len(q)}", lambda: env.update(
                QueryEngine(pinned[i], scoring=scoring).search(q)))
            assert env["totalResults"] > 0 and env["data"][0]["description"], (name, q)
            assert jobs == [], (name, scoring, q)


def _rank_both(spark, cand, tokens, phrase_mode=False, with_metadata=True):
    """rank_exact (Spark) and rank_exact_local (driver) over the same
    joined candidate rows (term, doc_id, url, tf, total_words,
    popularity_score)."""
    import pandas as pd

    from nadry_spark.operators.ranker import rank_exact, rank_exact_local

    cols = ["term", "doc_id", "url", "tf", "total_words", "popularity_score"]
    pdf = pd.DataFrame(cand, columns=cols)

    def rows(c):  # tuples, not pandas: a pandas NaN would reach Spark as NULL
        return list(pdf[c].drop_duplicates().itertuples(index=False, name=None))

    cand_df = spark.createDataFrame(rows(cols[:4]), "term string, doc_id string, url string, tf int")
    stats = spark.createDataFrame(rows(cols[1:2] + cols[4:]),
                                  "doc_id string, total_words long, popularity_score double")
    want = rank_exact(spark, cand_df, stats, tokens, phrase_mode=phrase_mode,
                      with_metadata=with_metadata).collect()
    got = list(rank_exact_local(spark, pdf, tokens, phrase_mode=phrase_mode, with_metadata=with_metadata))
    return got, want


def test_nan_guards_all_zero_popularity_and_zero_relevance(spark):
    """max popularity 0 pins popularity to 0.0; max relevance 0 (every
    idf log10(1) = 0) passes relevance_raw through; both executors."""
    # N = 4 and df = 3 for both terms
    words = {"d1": 10, "d2": 5, "d3": 7, "d4": 9}
    cand = [(t, d, f"u{d}", 2, words[d], 0.0)
            for t, d in (("a", "d1"), ("a", "d2"), ("b", "d2"), ("a", "d3"), ("b", "d3"), ("b", "d4"))]
    for meta in (False, True):
        got, want = _rank_both(spark, cand, ["a", "b"], with_metadata=meta)
        assert got == want
        assert all(r["popularity"] == 0.0 and r["relevance"] == 0.0 and r["score"] == 0.0 for r in got)
        assert [r["doc_id"] for r in got] == ["d1", "d2", "d3", "d4"]  # doc_id ties


def test_nan_guards_single_candidate(spark):
    """One candidate: N = 1, the max-normalizations divide by the doc's
    own values (relevance 1.0), or pin popularity 0.0 when it is 0."""
    for pop, want_pop in ((0.0, 0.0), (0.25, 1.0)):
        for phrase in (False, True):
            cand = [("a", "d1", "u1", 3, 11, pop), ("b", "d1", "u1", 1, 11, pop)]
            got, want = _rank_both(spark, cand, ["a", "b", "a"], phrase_mode=phrase)
            assert got == want
            assert [(r["relevance"], r["popularity"]) for r in got] == [(1.0, want_pop)]


def test_nan_popularity_orders_like_spark(spark):
    """Spark's max and ">" rank NaN above every number: one NaN
    popularity makes every score NaN, and the rows fall back to doc_id
    order; the driver executor does the same."""
    cand = [("a", "d2", "u2", 1, 5, float("nan")), ("a", "d1", "u1", 2, 5, 0.5), ("b", "d1", "u1", 1, 5, 0.5)]
    got, want = _rank_both(spark, cand, ["a", "b"], with_metadata=False)
    assert repr(got) == repr(want)  # NaN != NaN, so compare the reprs
    assert [r["doc_id"] for r in got] == ["d1", "d2"] and all(r["score"] != r["score"] for r in got)


def test_rank_exact_local_equals_spark_over_many_terms(spark):
    """Many candidates, 4 terms (3+-term sums), popularity and total
    words spread: rows equal, order and every double included."""
    import random

    rnd = random.Random(7)
    cand = []
    for d in range(60):
        words, pop = rnd.randint(3, 400), rnd.choice([0.0, rnd.random()])
        for t in rnd.sample(["a", "b", "c", "d"], rnd.randint(1, 4)):
            cand.append((t, f"d{d:03d}", f"u{d}", rnd.randint(1, 9), words, pop))
    for meta in (False, True):
        got, want = _rank_both(spark, cand, ["a", "b", "c", "d", "b", "zz"], with_metadata=meta)
        assert got == want and len(got) == 60


def test_driver_idf_is_spark_log10_bit_for_bit(spark):
    """The driver idf (StrictMath.log10) equals Spark SQL's log10 over a
    grid of (N, df) — and numpy's log10 does not, on this grid."""
    import numpy as np
    from pyspark.sql import functions as F

    from nadry_spark.operators.ranker import strict_log10

    grid = [(n, df) for n in range(1, 121) for df in range(0, n + 1)]
    sdf = spark.createDataFrame(grid, "n long, df long")
    want = [r[0] for r in sdf.select(F.log10(F.col("n") / (1 + F.col("df")))).collect()]
    got = [strict_log10(spark, n / (1 + df)) for n, df in grid]
    assert got == want
    assert any(np.log10(n / (1 + df)) != w for (n, df), w in zip(grid, want))
