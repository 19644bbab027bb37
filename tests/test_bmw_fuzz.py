"""Property fuzz of the BMW scorer against TAAT at the pandas level.

The two shard scorers are plain (key, pdf) functions, so the WAND
cursor machinery (block skipping, seek, pivot selection, heap ties,
tombstone exclusion, bound inflation) fuzzes WITHOUT a Spark session:
random per-term posting lists are block-encoded exactly like the
segment writer does, and both scorers must agree on the top-k. The
TAAT scorer scores a queryset; the fuzzed query shares its shard with
a second random query, and its rows must equal its solo run.

Float caveat handled explicitly: TAAT accumulates per term, BMW per
document — different addition ORDER, so scores can differ at ~1e-16.
Scores are compared on the 1e-9 grid; doc membership is compared
exactly only when the k boundary is not tied on that grid (a genuine
tie there may legitimately resolve to a different member).
"""

import math

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from nadry_spark.operators.bm25 import _shard_bmw, _shard_taat, bm25_idf
from nadry_spark.operators.codecs import encode_posting_block

K1, B, AVGDL = 1.2, 0.75, 25.0
SHARD_SIZE = 512
BLOCK = 4  # tiny blocks force multi-block lists -> real skipping/seeking


def _blocks_pdf(term_postings: dict) -> pd.DataFrame:
    from nadry_spark.operators.codecs import bm25_tfnorm

    rows = []
    for term, postings in term_postings.items():
        docs = np.array(sorted(postings), dtype=np.uint64)
        tfs = np.array([postings[int(d)][0] for d in docs], dtype=np.uint64)
        dls = np.array([postings[int(d)][1] for d in docs], dtype=np.uint64)
        for s in range(0, len(docs), BLOCK):
            blk = encode_posting_block(docs[s:s + BLOCK], tfs[s:s + BLOCK], dls[s:s + BLOCK])
            tfn = bm25_tfnorm(tfs[s:s + BLOCK], dls[s:s + BLOCK], AVGDL, K1, B)
            rows.append({
                "term": term, "min_doc_no": blk["min_doc_no"],
                "max_doc_no": blk["max_doc_no"], "n_docs": blk["n"],
                "docs_bin": blk["docs_bin"], "tfs_bin": blk["tfs_bin"],
                "dls_bin": blk["dls_bin"], "max_tfnorm": float(tfn.max()),
            })
    return pd.DataFrame(rows)


postings_strategy = st.dictionaries(
    st.sampled_from(["alpha", "beta", "gamma"]),  # query terms
    st.dictionaries(
        st.integers(min_value=0, max_value=SHARD_SIZE - 1),  # doc_no
        st.tuples(
            st.integers(min_value=1, max_value=7),    # tf
            st.integers(min_value=5, max_value=80),   # dl
        ),
        min_size=1,
        max_size=40,
    ),
    min_size=1,
    max_size=3,
)


@given(
    tp=postings_strategy,
    k=st.integers(min_value=0, max_value=12),
    conjunctive=st.booleans(),
    n_excl=st.integers(min_value=0, max_value=4),
    inflation=st.sampled_from([1.0, 1.37]),
    other=st.lists(st.sampled_from(["alpha", "beta", "gamma"]), min_size=1, max_size=3),
)
@settings(max_examples=300, deadline=None)
def test_bmw_matches_taat(tp, k, conjunctive, n_excl, inflation, other):
    # dl must be consistent per doc across terms (it is a doc property)
    dl_by_doc: dict[int, int] = {}
    for term in tp:
        tp[term] = {
            d: (tf, dl_by_doc.setdefault(d, dl))
            for d, (tf, dl) in tp[term].items()
        }
    all_docs = sorted(dl_by_doc)
    exclude = frozenset(all_docs[:n_excl])

    n_docs, terms = 1000, sorted(tp)
    idf_map = {t: bm25_idf(n_docs, len(tp[t])) for t in terms}
    pdf = _blocks_pdf(tp)
    args = dict(
        k=k, k1=K1, b=B, avgdl=AVGDL, idf_map=idf_map,
        conjunctive=conjunctive, exclude=exclude,
    )
    # the second query: the drawn terms the shard holds (all if none)
    q2 = sorted(set(other) & set(terms)) or terms

    def taat_run(q_terms):
        return _shard_taat(shard_size=SHARD_SIZE, q_ids=list(range(len(q_terms))),
                           q_terms=q_terms, **args)((0,), pdf)

    taat = taat_run([terms])
    both = taat_run([terms, q2])
    for qi, solo in enumerate((taat, taat_run([q2]))):
        # shared decode across queries leaves each query's rows unchanged
        got = both[both["query_id"] == qi].reset_index(drop=True)
        pd.testing.assert_frame_equal(got, solo.assign(query_id=qi))
    bmw = _shard_bmw(bound_inflation=inflation, n_query_terms=len(terms), **args)((0,), pdf)

    t_scores = [round(s, 9) for s in taat["score"]]
    b_scores = [round(s, 9) for s in bmw["score"]]
    assert b_scores == t_scores  # same ranked score sequence
    # membership is exact unless the k boundary ties on the grid
    boundary_tied = (
        0 < len(t_scores) == k and t_scores.count(t_scores[-1]) > 1
    )
    if not boundary_tied:
        assert list(bmw["doc_no"]) == list(taat["doc_no"])
    # exclusions honored on both sides
    assert not (set(taat["doc_no"]) | set(bmw["doc_no"])) & set(exclude)
    if conjunctive:
        full = set.intersection(*[set(tp[t]) for t in terms]) - set(exclude)
        assert set(taat["doc_no"]) <= full
        assert len(taat) == min(k, len(full))
