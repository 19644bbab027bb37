"""Plan-quality tests: predicate pushdown reaches the parquet scan,
term lookups prune, the salted A4 agg equals the plain agg."""

import pytest
from pyspark.sql import functions as F


def test_term_filter_pushed_to_parquet(spark, seg):
    idx, _, _ = seg
    plan = idx.blocks.where(F.col("term") == "news")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "IsNotNull(term)" in plan or "EqualTo(term,news)" in plan, plan


def test_column_pruning_on_docmap(spark, seg):
    idx, _, _ = seg
    plan = (
        idx.docmap.select("doc_id", "doc_no")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # ReadSchema must not include the wide columns
    assert "title" not in plan.split("ReadSchema")[1][:200]


def test_candidates_probe_uses_pushdown(spark, seg):
    idx, _, _ = seg
    probe = idx.positions.where(F.col("term").isin(["news", "report"]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(term" in plan, plan


def test_salted_term_lists_equal_plain(spark, seg):
    """A4 salted two-phase agg produces byte-identical posting lists."""
    from nadry_spark.operators.index_build import term_posting_lists

    idx, o_postings, _ = seg
    # long-form postings straight from the segment positions (tf and
    # the per-field counts are columns; the compressed position
    # buffers ride through the collected structs untouched)
    postings = (
        idx.positions.join(idx.docmap.select("doc_no", "doc_id", "url"), "doc_no")
        .select(
            "term", "doc_id", "url",
            F.col("pos_title_bin").alias("positions_title"),
            F.col("pos_desc_bin").alias("positions_desc"),
            F.col("pos_body_bin").alias("positions_body"),
            (F.col("n_title") + F.col("n_desc") + F.col("n_body")).alias("tf"),
            (
                F.col("n_title") * 3.0
                + F.col("n_desc") * 1.5
                + F.col("n_body") * 1.0
            ).alias("weight"),
        )
    )
    plain = {
        r["term"]: [p["doc_id"] for p in r["postings"]]
        for r in term_posting_lists(postings, skew_threshold=10**9).collect()
    }
    salted = {
        r["term"]: [p["doc_id"] for p in r["postings"]]
        for r in term_posting_lists(postings, skew_threshold=2, salt_buckets=4).collect()
    }
    assert plain == salted
    assert len(plain) > 50

    # blocked export: every output array bounded, blocks sort-merge
    # back to the exact plain lists (a 3-entry cap forces real blocking
    # on every term with df > 3)
    from nadry_spark.operators.index_build import term_posting_blocks

    blocks: dict[str, list] = {}
    for r in term_posting_blocks(postings, block_cap=3).collect():
        assert len(r["postings"]) <= 3 + 4, (r["term"], len(r["postings"]))
        blocks.setdefault(r["term"], []).extend(
            p["doc_id"] for p in r["postings"]
        )
    merged = {t: sorted(ids) for t, ids in blocks.items()}
    # plain lists sort by the full entry struct; doc_id leads the
    # struct, so doc_id order matches
    assert merged == {t: sorted(ids) for t, ids in plain.items()}


def test_jaccard_verify_semi_joins_candidates(spark):
    """The MinHash verify stage must restrict the wide collect_list agg
    to candidate-pair docs (semi-join), not aggregate the whole corpus."""
    from nadry_spark.operators.dedup import jaccard_pairs, word_shingles

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x"), (3, "p q r s t")],
        "id long, text string",
    )
    sh = word_shingles(df, "id", "text")
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = jaccard_pairs(sh, cand)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan, plan
    rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert rows == {(1, 2): pytest.approx(2 / 4)}  # shingles abc bcd | bcx cdx -> |int|=2,|un|=4


def test_bm25_pretokenized_terms_skip_retokenize(spark, seg):
    """bm25_topk(tokens=...) must treat the input as index terms: a term
    whose re-tokenization would diverge (stem==stopword, specials) still
    probes the index. Regression for the QueryEngine double-tokenize bug."""
    from nadry_spark.functions.tokenizer import tokenize
    from nadry_spark.operators.bm25 import bm25_topk

    idx, o_postings, _ = seg
    from collections import Counter

    cnt = Counter(t for t, _ in o_postings if ":" not in t)
    stable = next(t for t, _ in cnt.most_common() if tokenize(t) == [t])
    via_tokens = [r["doc_id"] for r in bm25_topk(idx, "", k=5, tokens=[stable]).collect()]
    via_string = [r["doc_id"] for r in bm25_topk(idx, stable, k=5).collect()]
    assert via_tokens == via_string and via_tokens
    # a term that vanishes under re-tokenization must still work
    vanishing = next((t for t, _ in o_postings if not tokenize(t)), None)
    if vanishing is not None:
        assert bm25_topk(idx, "", k=5, tokens=[vanishing]).count() >= 1


def test_broadcast_join_on_candidates(spark, seg):
    """The doc-stats enrichment join must broadcast the small top-k side."""
    from nadry_spark.operators.bm25 import bm25_topk

    idx, _, _ = seg
    df = bm25_topk(idx, "news report", k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_warm_serving_fast_path_matches_join_path(spark, seg):
    """warm() pins the term dictionary, docmap, blocks and content in
    the driver (the segment fits the byte gate); the serving fast path
    (driver scoring, merge and enrichment, no Spark job) must return
    exactly the join path's rows in the same order, and term_stats
    must match the Spark probe."""
    from nadry_spark.sources.segments import SegmentIndex
    from nadry_spark.operators.bm25 import bm25_topk

    idx, _, _ = seg
    warm = SegmentIndex(spark, idx.path).warm()
    assert warm.pinned and warm._docmap_dict is not None and warm._terms_dict is not None
    assert not warm._cached  # the pinned state registers no Spark cache
    for q in ("news report", "value sort", "zzz-missing"):
        fast = [tuple(r) for r in bm25_topk(warm, q, k=5).collect()]
        join = [tuple(r) for r in bm25_topk(idx, q, k=5).collect()]
        assert fast == join, q
        assert warm.term_stats(q.split()) == idx.term_stats(q.split())
