"""BPE merge learning (operators/bpe) vs an independent pure-Python
reference implementing the published algorithm (Sennrich ACL'16):
overlapping pair counts, greedy left-to-right non-overlapping merge,
(count desc, pair asc) tie-break."""

import re
from collections import Counter

import pytest


def _ref_bpe(texts: list[str], n_merges: int):
    """Pure-Python reference: list-of-symbols representation (no
    string replace), so it is an independent check of the spaced-
    string formulation in operators/bpe."""
    vocab = Counter()
    for t in texts:
        for w in re.split("[^a-z]+", t.lower()):
            if w:
                vocab[w] += 1
    words = {w: list(w) for w in vocab}
    merges = []
    for step in range(1, n_merges + 1):
        pairs = Counter()
        for w, syms in words.items():
            for a, b in zip(syms, syms[1:]):  # overlapping included
                pairs[(a, b)] += vocab[w]
        if not pairs:
            break
        (lft, rgt), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, lft, rgt, c))
        for w, syms in words.items():  # greedy left-to-right merge
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lft and syms[i + 1] == rgt:
                    out.append(lft + rgt)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    return merges, words


@pytest.fixture(scope="module")
def texts():
    # 'aaaa' forces the overlap case: (a,a) counts 3 per occurrence,
    # the merge yields 'aa aa' (left-to-right non-overlapping)
    return [
        "the cat sat on the mat aaaa",
        "lower newest lowest newer the the",
        "aaaa aaa banana bandana the mat",
    ]


def test_bpe_merges_match_reference(spark, texts):
    from nadry_spark.operators.bpe import bpe_merges

    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = [tuple(r) for r in bpe_merges(docs, n_merges=6).orderBy("step").collect()]
    want, _ = _ref_bpe(texts, 6)
    assert got == want


def test_bpe_overlap_merge_semantics(spark):
    """'aaaa' -> one (a,a) merge must produce 'aa aa', never 'aaa a'
    or an overlapping double-merge."""
    from nadry_spark.operators.bpe import bpe_merges, bpe_segment, word_counts

    docs = spark.createDataFrame([(1, "aaaa aaaa b")], "doc_id long, text string")
    merges = [tuple(r) for r in bpe_merges(docs, n_merges=1).collect()]
    assert merges == [(1, "a", "a", 6)]  # 3 overlapping pairs x 2 occurrences
    seg = bpe_segment(
        word_counts(docs), [(m[1], m[2]) for m in merges]
    )
    toks = {r["word"]: r["tokens"] for r in seg.collect()}
    assert toks["aaaa"] == "aa aa"


def test_bpe_early_stop_and_empty(spark):
    from nadry_spark.operators.bpe import bpe_merges

    # single-char words only: zero adjacent pairs -> empty merge table
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    assert bpe_merges(docs, n_merges=3).count() == 0
    # one two-char word: exactly one merge then exhaustion
    docs2 = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    got = [tuple(r) for r in bpe_merges(docs2, n_merges=5).collect()]
    assert got == [(1, "a", "b", 2)]


def _ref_apply(syms, lft, rgt):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == lft and syms[i + 1] == rgt:
            out.append(lft + rgt)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def test_bpe_merge_application_exhaustive(spark):
    """EVERY {a,b}-string of length 1..10 (2046 words — the complete
    run-structure domain for the islands logic) through a merge chain
    that exercises equal-symbol runs, cross-symbol pairs, and merged
    symbols as inputs; one Spark job, word-by-word vs the reference."""
    from itertools import product

    from nadry_spark.operators.bpe import bpe_segment

    words = [
        "".join(p) for n in range(1, 11) for p in product("ab", repeat=n)
    ]
    merges = [("a", "a"), ("b", "b"), ("aa", "b"), ("a", "bb")]
    wdf = spark.createDataFrame([(w,) for w in words], "word string")
    got = {r["word"]: r["tokens"].split(" ") for r in bpe_segment(wdf, merges).collect()}
    for w in words:
        syms = list(w)
        for lft, rgt in merges:
            syms = _ref_apply(syms, lft, rgt)
        assert got[w] == syms, (w, got[w], syms)


def test_bpe_encode_stats(spark, texts):
    """Per-doc (n_words, n_subwords) vs the reference's final symbol
    lists, and learn-inside (merges=None) == encode-with-given-table."""
    from nadry_spark.operators.bpe import bpe_encode_stats, bpe_merges

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, want_words = _ref_bpe(texts, 4)
    want = {}
    for i, t in enumerate(texts):
        ws = [w for w in re.split("[^a-z]+", t.lower()) if w]
        want[i] = (len(ws), sum(len(want_words[w]) for w in ws))
    got = {
        r["doc_id"]: (r["n_words"], r["n_subwords"])
        for r in bpe_encode_stats(docs, n_merges=4).collect()
    }
    assert got == want
    # pre-learned table path must agree with the learn-inside path
    table = [(m[1], m[2]) for m in merges]
    got2 = {
        r["doc_id"]: (r["n_words"], r["n_subwords"])
        for r in bpe_encode_stats(docs, merges=table).collect()
    }
    assert got2 == want


def test_bpe_segment_applies_in_order(spark, texts):
    """Later merges build on earlier ones: segmentation from the
    learned table must equal the reference's final symbol lists."""
    from nadry_spark.operators.bpe import bpe_merges, bpe_segment, word_counts

    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    merges = [tuple(r) for r in bpe_merges(docs, n_merges=6).orderBy("step").collect()]
    seg = bpe_segment(word_counts(docs), [(m[1], m[2]) for m in merges])
    got = {r["word"]: r["tokens"].split(" ") for r in seg.collect()}
    _, want_words = _ref_bpe(texts, 6)
    assert got == want_words


def test_bpe_driver_gate_falls_back_identically(spark, texts, monkeypatch):
    """The LIMIT-bounded vocab gate: zeroing it must force the
    distributed per-merge loop with an identical merge table and
    identical encode stats."""
    from nadry_spark.operators import bpe as bpe_mod

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    def run():
        m = sorted(map(tuple, bpe_mod.bpe_merges(docs, n_merges=4).collect()))
        e = sorted(map(tuple, bpe_mod.bpe_encode_stats(docs, n_merges=4).collect()))
        return m, e

    fast = run()
    monkeypatch.setattr(bpe_mod, "DRIVER_BPE_MAX_VOCAB", 0)
    dist = run()
    assert fast == dist and len(fast[0]) == 4
