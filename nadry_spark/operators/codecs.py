"""Posting-list block compression: the segment's one block format,
delta-gap + LEB128 varint blocks of 128 with per-block max-score
metadata, plus the same delta-varint coding for per-field position
lists.

The reference stores postings as uncompressed BSON arrays
(indexer/MongoDBIndexStore.java:230-324); the rebuild's segment format
compresses doc ids as delta gaps + varints per block, the north_star's
"sorted, delta-gap + varint (PForDelta-style block) compressed postings
with per-block max-score metadata". Varint is the only posting codec:
segments record ``"codec": "varint"`` in meta.json and readers reject
any other value.

Both encoder and decoder are numpy-vectorized (no per-value Python in
the hot path) so they run cheaply inside Arrow-batched pandas UDFs on
executors.
"""

from __future__ import annotations

import numpy as np

_MAX_VARINT_BYTES = 10


def varint_encode_with_offsets(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode (vectorized); also return the END byte-offset of
    each value so callers can slice per-value ranges out of the buffer
    (offsets[i] = bytes used by values[0..i])."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return b"", np.zeros(0, dtype=np.int64)
    nbytes = np.ones(n, dtype=np.int64)
    for j in range(1, _MAX_VARINT_BYTES):
        nbytes[v >= (np.uint64(1) << np.uint64(7 * j))] = j + 1
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=starts[1:])
    total = int(starts[-1] + nbytes[-1])
    out = np.zeros(total, dtype=np.uint8)
    for j in range(_MAX_VARINT_BYTES):
        mask = nbytes > j
        if not mask.any():
            break
        chunk = (v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (j < nbytes[mask] - 1).astype(np.uint8) << 7
        out[starts[mask] + j] = chunk.astype(np.uint8) | cont
    return out.tobytes(), starts + nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode an array of non-negative ints (vectorized)."""
    return varint_encode_with_offsets(values)[0]


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes back to uint64 (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    ends = np.nonzero(is_last)[0]
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    values = np.zeros(ends.size, dtype=np.uint64)
    for j in range(int(lengths.max())):
        mask = lengths > j
        part = b[starts[mask] + j].astype(np.uint64) & np.uint64(0x7F)
        values[mask] |= part << np.uint64(7 * j)
    return values


def delta_encode(sorted_values: np.ndarray) -> bytes:
    """Delta-gap + varint for a strictly-increasing id list."""
    v = np.asarray(sorted_values, dtype=np.uint64)
    if v.size == 0:
        return b""
    gaps = np.empty_like(v)
    gaps[0] = v[0]
    np.subtract(v[1:], v[:-1], out=gaps[1:])
    return varint_encode(gaps)


def delta_decode(buf: bytes) -> np.ndarray:
    gaps = varint_decode(buf)
    return np.cumsum(gaps, dtype=np.uint64)


def encode_position_lists(arrays) -> tuple[list[bytes], np.ndarray]:
    """Delta-gap + varint encode a sequence of per-row ASCENDING
    position lists in one vectorized pass.

    All rows' values are concatenated, gaps computed with a reset at
    each row start (first value absolute), varint-encoded ONCE, and
    per-row byte ranges sliced from the value end-offsets — the same
    no-per-value-Python pattern as the posting block encoder. Returns
    (buffers, counts); empty/None rows encode as b"".
    """
    n = len(arrays)
    counts = np.fromiter(
        (len(a) if a is not None else 0 for a in arrays), dtype=np.int64, count=n
    )
    total = int(counts.sum())
    if total == 0:
        return [b""] * n, counts
    vals = np.concatenate(
        [np.asarray(a, dtype=np.int64) for a in arrays if a is not None and len(a)]
    ).astype(np.uint64)
    ends = np.cumsum(counts)
    row_starts = ends - counts
    first = np.zeros(total, dtype=bool)
    first[row_starts[counts > 0]] = True
    gaps = vals.copy()
    idx = np.nonzero(~first)[0]
    gaps[idx] -= vals[idx - 1]
    buf, off = varint_encode_with_offsets(gaps)
    byte_start = np.where(row_starts > 0, off[np.maximum(row_starts - 1, 0)], 0)
    byte_end = np.where(ends > 0, off[np.maximum(ends - 1, 0)], 0)
    buffers = [
        buf[s:e] if c else b"" for s, e, c in zip(byte_start, byte_end, counts)
    ]
    return buffers, counts


def decode_position_lists(buffers, counts) -> np.ndarray:
    """Inverse of encode_position_lists: absolute positions for all
    rows concatenated in row order (length == counts.sum()).

    One varint decode over the JOINED buffers (b''.join is C-level and
    varints are self-delimiting) + a segmented cumsum: global cumsum of
    the gaps minus each segment's entry offset — no per-row decode
    calls, no per-position Python.
    """
    counts = np.asarray(counts, dtype=np.int64)
    buf = b"".join(buffers)
    gaps = varint_decode(buf)
    if gaps.size == 0:
        return np.empty(0, dtype=np.int64)
    total = np.cumsum(gaps.astype(np.int64))
    nz = counts[counts > 0]
    ends = np.cumsum(nz)
    starts = ends - nz
    seg_off = total[starts] - gaps[starts].astype(np.int64)
    return total - np.repeat(seg_off, nz)


def encode_posting_block(doc_nos: np.ndarray, tfs: np.ndarray, dls: np.ndarray) -> dict:
    """One block: doc ids delta-gapped, tfs/doc-lengths raw, each
    LEB128 varint-packed."""
    return {
        "n": int(len(doc_nos)),
        "min_doc_no": int(doc_nos[0]),
        "max_doc_no": int(doc_nos[-1]),
        "docs_bin": delta_encode(doc_nos),
        "tfs_bin": varint_encode(tfs),
        "dls_bin": varint_encode(dls),
    }


def decode_posting_block(
    docs_bin: bytes, tfs_bin: bytes, dls_bin: bytes, codec: str = "varint"
):
    """-> (doc_nos, tfs, dls) as numpy arrays. ``codec`` names the block
    format and must be ``"varint"``, the only one; any other value
    raises instead of decoding foreign bytes as varints."""
    if codec != "varint":
        raise ValueError(f"unknown posting codec {codec!r}; blocks are varint")
    return (
        delta_decode(docs_bin),
        varint_decode(tfs_bin),
        varint_decode(dls_bin),
    )


def bm25_tfnorm(tfs: np.ndarray, dls: np.ndarray, avgdl: float, k1: float, b: float) -> np.ndarray:
    """BM25 tf component: tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))."""
    tfs = tfs.astype(np.float64)
    dls = dls.astype(np.float64)
    return tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))


def explode_tf_batches(batches, with_term: bool = True):
    """mapInPandas body: block rows -> long-form (term?, doc_no, tf).

    Fully vectorized per Arrow batch: one decode per block row, then a
    single np.concatenate / np.repeat — no per-posting Python loop.
    Shared by the exact-mode candidate probe and the single-token
    phrase path (J1/S7/S8)."""
    import pandas as pd

    for pdf in batches:
        doc_parts: list[np.ndarray] = []
        tf_parts: list[np.ndarray] = []
        lens: list[int] = []
        for docs_bin, tfs_bin, dls_bin in zip(
            pdf["docs_bin"], pdf["tfs_bin"], pdf["dls_bin"]
        ):
            d, t, _ = decode_posting_block(docs_bin, tfs_bin, dls_bin)
            doc_parts.append(d)
            tf_parts.append(t)
            lens.append(len(d))
        if doc_parts:
            doc_no = np.concatenate(doc_parts).astype("int64")
            tf = np.concatenate(tf_parts).astype("int32")
        else:
            doc_no = np.empty(0, dtype="int64")
            tf = np.empty(0, dtype="int32")
        out = {"doc_no": doc_no, "tf": tf}
        if with_term:
            out = {
                "term": np.repeat(pdf["term"].to_numpy(), lens),
                **out,
            }
        yield pd.DataFrame(out)
