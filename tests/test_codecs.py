"""Compression round-trip properties (SURVEY.md §5 item 3)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from nadry_spark.operators.codecs import (
    bm25_tfnorm,
    decode_posting_block,
    delta_decode,
    delta_encode,
    encode_posting_block,
    varint_decode,
    varint_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert varint_decode(varint_encode(arr)).tolist() == values


@given(st.sets(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300))
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip(ids):
    arr = np.array(sorted(ids), dtype=np.uint64)
    assert delta_decode(delta_encode(arr)).tolist() == sorted(ids)


@given(
    st.lists(
        st.one_of(
            st.none(),
            st.sets(st.integers(min_value=0, max_value=1 << 20), max_size=40).map(sorted),
        ),
        max_size=30,
    )
)
@settings(max_examples=200, deadline=None)
def test_position_lists_roundtrip(rows):
    from nadry_spark.operators.codecs import (
        decode_position_lists,
        encode_position_lists,
    )

    bufs, counts = encode_position_lists(rows)
    assert counts.tolist() == [len(r) if r is not None else 0 for r in rows]
    # batch decode == all rows' values concatenated in order
    flat = decode_position_lists(bufs, counts).tolist()
    want = [v for r in rows if r for v in r]
    assert flat == want
    # every row also decodes standalone from its own buffer slice
    for r, b, c in zip(rows, bufs, counts):
        assert decode_position_lists([b], np.array([c])).tolist() == (list(r) if r else [])


def test_empty():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert varint_decode(b"").tolist() == []
    assert delta_decode(delta_encode(np.array([], dtype=np.uint64))).tolist() == []


def test_block_roundtrip():
    docs = np.array([3, 17, 18, 200, 100000], dtype=np.uint64)
    tfs = np.array([1, 5, 2, 130, 7], dtype=np.uint64)
    dls = np.array([100, 250, 90, 4000, 17], dtype=np.uint64)
    blk = encode_posting_block(docs, tfs, dls)
    d, t, L = decode_posting_block(blk["docs_bin"], blk["tfs_bin"], blk["dls_bin"])
    assert d.tolist() == docs.tolist()
    assert t.tolist() == tfs.tolist()
    assert L.tolist() == dls.tolist()
    assert blk["min_doc_no"] == 3 and blk["max_doc_no"] == 100000 and blk["n"] == 5


def test_pfor_block_roundtrip_and_size():
    # the dense, far-from-zero full block a patched-frame codec would
    # target: the varint block format must round-trip it and keep the
    # doc ids at varint's floor of one byte per small gap
    rng = np.random.default_rng(5)
    docs = (np.cumsum(rng.integers(1, 4, 128)) + 5_000_000).astype(np.uint64)
    tfs = rng.integers(1, 9, 128).astype(np.uint64)
    dls = rng.integers(40, 400, 128).astype(np.uint64)
    blk = encode_posting_block(docs, tfs, dls)
    d, t, L = decode_posting_block(blk["docs_bin"], blk["tfs_bin"], blk["dls_bin"], "varint")
    assert (d == docs).all() and (t == tfs).all() and (L == dls).all()
    assert blk["min_doc_no"] == int(docs[0]) and blk["max_doc_no"] == int(docs[-1])
    assert blk["n"] == 128
    # first id (< 2**28) takes 4 bytes, each of the 127 gaps (1..3) one byte
    assert len(blk["docs_bin"]) == 4 + 127
    assert len(blk["tfs_bin"]) == 128
    # outlier-heavy values still round-trip through the same varints
    spiky = np.where(
        rng.random(128) < 0.06,
        rng.integers(0, 2**45, 128),
        rng.integers(0, 4, 128),
    ).astype(np.uint64)
    assert (varint_decode(varint_encode(spiky)) == spiky).all()


def test_decode_rejects_other_codec():
    blk = encode_posting_block(
        np.array([1, 2], dtype=np.uint64),
        np.array([1, 1], dtype=np.uint64),
        np.array([9, 9], dtype=np.uint64),
    )
    with pytest.raises(ValueError, match="pfor"):
        decode_posting_block(blk["docs_bin"], blk["tfs_bin"], blk["dls_bin"], "pfor")


def test_compression_is_compact():
    # sequential ids: gap=1 -> 1 byte each after the first
    docs = np.arange(1000, 1128, dtype=np.uint64)
    enc = delta_encode(docs)
    assert len(enc) < 2 + 127 * 1 + 2


def test_bm25_tfnorm_monotone_in_tf():
    tfs = np.array([1, 2, 4, 8], dtype=np.uint64)
    dls = np.full(4, 100, dtype=np.uint64)
    s = bm25_tfnorm(tfs, dls, avgdl=100.0, k1=1.2, b=0.75)
    assert np.all(np.diff(s) > 0)
    assert np.all(s <= 1.2 + 1.0)  # bounded by k1+1
