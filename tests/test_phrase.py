"""Phrase positional-join tests (SURVEY.md §5 item 5): consecutive
same-field matches, cross-field near-misses, missing-term aborts."""

import pytest

from nadry_spark.functions.tokenizer import tokenize


def _oracle_docs(o_postings, tokens):
    by_term = {}
    for (t, d), p in o_postings.items():
        by_term.setdefault(t, {})[d] = p["positions"]
    if any(t not in by_term for t in tokens):
        return set()
    matched = set()
    for d, fpos in by_term[tokens[0]].items():
        for field in ("title", "description", "body"):
            for p0 in fpos[field]:
                ok = True
                for i in range(1, len(tokens)):
                    postings_i = by_term[tokens[i]].get(d)
                    if postings_i is None or (p0 + i) not in postings_i[field]:
                        ok = False
                        break
                if ok:
                    matched.add(d)
                    break
            if d in matched:
                break
    return matched


def _bigrams_from_corpus(o_docs, n=5):
    """Frequent adjacent token pairs from doc bodies (true phrases)."""
    from collections import Counter

    cnt = Counter()
    for d in o_docs.values():
        toks = tokenize(d["content"])
        for a, b in zip(toks, toks[1:]):
            if ":" not in a and ":" not in b and not a.startswith("_") and not b.startswith("_"):
                cnt[(a, b)] += 1
    # only stemming fixed points: the query path re-tokenizes the phrase
    return [
        list(p) for p, _ in cnt.most_common(n * 3) if tokenize(" ".join(p)) == list(p)
    ][:n]


def test_phrase_match_docs_vs_oracle(spark, seg):
    from nadry_spark.operators.phrase import phrase_match_docs

    idx, o_postings, o_docs = seg
    docmap = {r["doc_no"]: r["doc_id"] for r in idx.docmap.collect()}
    for tokens in _bigrams_from_corpus(o_docs, 4):
        got = {docmap[r["doc_no"]] for r in phrase_match_docs(idx, tokens).collect()}
        want = _oracle_docs(o_postings, tokens)
        assert got == want, tokens
        assert want, f"test vacuous for {tokens}"  # bigram exists somewhere


def test_phrase_non_adjacent_pair_no_match(spark, seg):
    """Two terms that co-occur in docs but never adjacently must not match."""
    from collections import Counter

    from nadry_spark.operators.phrase import phrase_match_docs

    idx, o_postings, o_docs = seg
    cnt = Counter(t for t, _ in o_postings if ":" not in t and "_" not in t)
    common = [t for t, _ in cnt.most_common(20)]
    found = None
    for a in common:
        for b in common:
            if a != b and not _oracle_docs(o_postings, [a, b]):
                # both exist corpus-wide but never adjacent
                found = [a, b]
                break
        if found:
            break
    assert found, "corpus has no non-adjacent pair among common terms"
    assert phrase_match_docs(idx, found).collect() == []


def test_phrase_missing_term_aborts(spark, seg):
    from nadry_spark.operators.phrase import phrase_search

    idx, _, _ = seg
    assert phrase_search(idx, '"news zzzznotaterm"').collect() == []


def test_phrase_search_ranks_with_tf1(spark, seg):
    from nadry_spark.operators.phrase import phrase_search
    from tests.oracle import oracle_rank

    idx, o_postings, o_docs = seg
    bigram = _bigrams_from_corpus(o_docs, 1)[0]
    got = phrase_search(idx, " ".join(bigram), k=10).collect()
    matched = _oracle_docs(o_postings, bigram)
    # oracle: phrase mode -> tf=1 for all tokens on matched docs
    phrase_postings = {
        (t, d): {**o_postings[(t, d)], "tf": 1}
        for t in bigram
        for d in matched
        if (t, d) in o_postings
    }
    want = oracle_rank(bigram, phrase_postings, o_docs)
    assert [g["doc_id"] for g in got] == [w[0] for w in want[:10]]
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w[4], rel=1e-12)


def test_extract_quoted_phrases():
    from nadry_spark.operators.phrase import extract_quoted_phrases

    assert extract_quoted_phrases('find "exact phrase" here') == ["exact phrase"]
    assert extract_quoted_phrases("no quotes") == []
    assert extract_quoted_phrases('"a" and "b"') == ["a", "b"]


def test_phrase_fused_kernel_matches_join_form(spark, seg):
    """The fused positional-match kernel, run on the driver over a
    pinned segment, must return exactly the join+aggregation form's
    doc set — including repeated tokens, 3-token phrases, and phrases
    with no match."""
    from nadry_spark.operators.phrase import phrase_match_docs
    from nadry_spark.sources.segments import SegmentIndex

    idx, o_postings, o_docs = seg
    warm = SegmentIndex(spark, idx.path).warm()
    assert warm.pinned  # tiny segment: the gate must admit it
    phrases = _bigrams_from_corpus(o_docs, 3)
    if phrases:
        a, b = phrases[0]
        phrases.append([a, b, a])  # repeated token
        phrases.append([b, b])     # adjacent self-pair (usually empty)
    for tokens in phrases:
        fused = {r["doc_no"] for r in phrase_match_docs(warm, tokens).collect()}
        join = {r["doc_no"] for r in phrase_match_docs(idx, tokens).collect()}
        assert fused == join, tokens
