"""BM25 top-k over compressed segments: one scoring core, distributed
block-max WAND.

north_star: "multi-term conjunctive/disjunctive top-k via posting-list
intersection with block-max WAND pruning and a bounded min-heap".

Every top-k entry point is a thin wrapper over one core, ``_topk``,
that ranks a QUERYSET (query_id -> index terms) over a segment FAMILY:
the (segment, tombstoned doc_nos) pairs of a MultiSegmentIndex, or
``[(index, ())]`` for a SegmentIndex. A single query is Q=1;
``bmw_block_stats`` shares the term resolution. The core:

1. resolves terms (``_resolve``): live df (minus ``df_corrections``),
   missing-term and conjunctive drops, idf from the family's ``meta``;
   a queryset with nothing left returns its empty frame without a job;
2. scores (``_score``) each segment's term-pruned blocks per shard —
   shards partition the doc space, so per-shard top-k is exact — with
   one of two scorers of identical output:
   * ``taat`` — term-at-a-time numpy accumulators; each block of the
     term union is decoded once per shard for every query using it;
   * ``bmw`` — document-at-a-time block-max WAND with a bounded
     min-heap, Q=1 only; skips whole blocks without decoding when the
     block maxima can't beat the heap threshold (wins for small k and
     long, selective lists);
3. finishes: if ``warm()`` pinned every segment's docmap, the
   ``(query_id, _seg, doc_no, score)`` frame collects in ONE job and
   merges and enriches on the driver; otherwise a distributed
   per-query top-k and a broadcast docmap join.

Ties break on ``doc_no`` ascending for one segment (``bm25_topk``,
``bm25_queryset_topk``) and on ``doc_id`` ascending for a family
(``bm25_topk_multi``, ``bm25_queryset_topk_multi``). The queryset
entry points are TAAT-only and always return the lazy distributed
frame: jobs/batch_rank.py writes it out, and its plan shows the
term-pruned scan.

idf is the Lucene/Robertson BM25+ form ln(1 + (N - df + 0.5)/(df +
0.5)) — always positive, monotone in rarity.
"""
from __future__ import annotations

import heapq
import itertools
import math
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nadry_spark.functions.tokenizer import tokenize
from nadry_spark.localrows import empty_df, local_rows_df
from nadry_spark.operators.codecs import bm25_tfnorm, decode_posting_block
from nadry_spark.sources.segments import SegmentIndex

TOPK_SCHEMA = "doc_no long, score double"
QSET_SCHEMA = "query_id long, doc_no long, score double"
_COL_TYPES = {
    "query_id": "long", "doc_id": "string", "url": "string",
    "doc_no": "long", "score": "double",
}


def bm25_idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _shard_taat(
    k: int, k1: float, b: float, avgdl: float, shard_size: int,
    q_ids: list[int], q_terms: list[list[str]], idf_map: dict[str, float],
    conjunctive: bool, exclude: frozenset = frozenset(),
):
    """Term-at-a-time shard scorer for a queryset: every posting block
    of the queryset's TERM UNION is decoded exactly ONCE per shard, its
    idf*tfnorm contribution accumulated into each query that uses the
    term. Memory is O(n_queries x shard_size) accumulator floats;
    shard_size is docs-per-shard (bounded by construction at any corpus
    size), so batch the queryset if Q is huge."""
    term_to_qs: dict[str, list[int]] = {}
    for qi, ts in enumerate(q_terms):
        for t in ts:
            term_to_qs.setdefault(t, []).append(qi)
    nq = len(q_terms)
    need = np.array([len(ts) for ts in q_terms], dtype=np.int32)

    def score(key, pdf: pd.DataFrame):
        base = int(key[0]) * shard_size
        scores = np.zeros((nq, shard_size), dtype=np.float64)
        seen = np.zeros((nq, shard_size), dtype=np.int32)
        for term, tpdf in pdf.groupby("term"):
            contrib = np.zeros(shard_size, dtype=np.float64)
            present = np.zeros(shard_size, dtype=np.int32)
            idf = idf_map[term]
            for docs_bin, tfs_bin, dls_bin in zip(
                tpdf["docs_bin"], tpdf["tfs_bin"], tpdf["dls_bin"]
            ):
                doc_nos, tfs, dls = decode_posting_block(docs_bin, tfs_bin, dls_bin)
                idx = (doc_nos - np.uint64(base)).astype(np.int64)
                contrib[idx] += idf * bm25_tfnorm(tfs, dls, avgdl, k1, b)
                present[idx] = 1
            for qi in term_to_qs.get(term, ()):
                scores[qi] += contrib
                seen[qi] += present
        excl_arr = (
            np.fromiter(exclude, dtype=np.int64) if exclude else None
        )
        outs = []
        for qi in range(nq):
            mask = (seen[qi] == need[qi]) if conjunctive else (seen[qi] > 0)
            cand = np.nonzero(mask)[0]
            if excl_arr is not None and cand.size:
                # tombstoned doc_nos (re-crawls superseded by a newer
                # segment) drop BEFORE top-k selection so the k slots
                # fill with live docs
                cand = cand[~np.isin(cand + base, excl_arr)]
            topn = min(k, cand.size)
            if topn < 1:
                continue
            # top-k by (score desc, doc_no asc). Full lexsort, NOT
            # argpartition: argpartition picks an ARBITRARY member of a
            # score tie straddling the k boundary, so the doc_no
            # tie-break would only apply to whichever members survived
            # the partition (found by the tests/test_bmw_fuzz.py
            # property fuzz — BMW's heap honored the tie rule, TAAT
            # didn't). cand is bounded by shard_size, so the exact sort
            # is O(shard_size log) — noise.
            order = np.lexsort((cand, -scores[qi][cand]))
            sel = cand[order[:topn]]
            outs.append(pd.DataFrame({
                "query_id": np.full(topn, q_ids[qi], dtype=np.int64),
                "doc_no": (sel + base).astype("int64"),
                "score": scores[qi][sel],
            }))
        if not outs:
            return pd.DataFrame(
                {"query_id": [], "doc_no": [], "score": []}
            ).astype({"query_id": "int64", "doc_no": "int64", "score": "float64"})
        return pd.concat(outs, ignore_index=True)

    return score


class _TermCursor:
    """Cursor over one term's blocks within a shard (lazy block decode)."""

    __slots__ = ("idf", "blocks", "bi", "pi", "doc_nos", "tfnorms", "max_score", "cur",
                 "_k1b", "_decodes", "_bscale")

    def __init__(self, idf: float, blocks: list[dict], k1: float, b: float, avgdl: float,
                 decodes: list | None = None, bound_scale: float = 1.0):
        self.idf = idf
        # blocks sorted by min_doc_no: list of dicts w/ bins + max_tfnorm
        self.blocks = blocks
        self.bi = -1
        self.pi = 0
        self.doc_nos = None
        self.tfnorms = None
        # bound_scale: stored max_tfnorm was computed with the SEGMENT's
        # build-time avgdl; under a larger query-time (global) avgdl the
        # true tfnorm can exceed it by at most avgdl_g/avgdl_s (the
        # denominator D = tf + k1(1-b) + k1*b*dl/avgdl satisfies
        # D_s/D_g <= avgdl_g/avgdl_s for avgdl_g >= avgdl_s), so
        # scaling the bound keeps block-max skipping admissible in
        # multi-segment mode
        self._bscale = bound_scale
        self.max_score = idf * max(blk["max_tfnorm"] for blk in blocks) * bound_scale
        self._k1b = (k1, b, avgdl)
        self._decodes = decodes  # shared [count] cell for skip-rate evidence
        self.cur = -1
        self._next_block()

    def _decode(self, blk):
        k1, b, avgdl = self._k1b
        if self._decodes is not None:
            self._decodes[0] += 1
        doc_nos, tfs, dls = decode_posting_block(
            blk["docs_bin"], blk["tfs_bin"], blk["dls_bin"]
        )
        self.doc_nos = doc_nos.astype(np.int64)
        self.tfnorms = bm25_tfnorm(tfs, dls, avgdl, k1, b)

    def _next_block(self):
        self.bi += 1
        if self.bi >= len(self.blocks):
            self.cur = None  # exhausted
            return
        self._decode(self.blocks[self.bi])
        self.pi = 0
        self.cur = int(self.doc_nos[0])

    def block_max(self) -> float:
        return self.idf * self.blocks[self.bi]["max_tfnorm"] * self._bscale

    def score_current(self) -> float:
        return self.idf * float(self.tfnorms[self.pi])

    def advance(self):
        """Next posting."""
        self.pi += 1
        if self.pi >= len(self.doc_nos):
            self._next_block()
        else:
            self.cur = int(self.doc_nos[self.pi])

    def seek(self, target: int):
        """Advance to first doc_no >= target, skipping blocks w/o decode."""
        if self.cur is None or self.cur >= target:
            return
        # skip whole blocks by max_doc_no (no decode)
        while self.bi < len(self.blocks) and self.blocks[self.bi]["max_doc_no"] < target:
            self.bi += 1
            self.doc_nos = None
        if self.bi >= len(self.blocks):
            self.cur = None
            return
        if self.doc_nos is None:
            self._decode(self.blocks[self.bi])
        self.pi = int(np.searchsorted(self.doc_nos, target, side="left"))
        if self.pi >= len(self.doc_nos):
            self._next_block()
        else:
            self.cur = int(self.doc_nos[self.pi])


def _shard_bmw(k: int, k1: float, b: float, avgdl: float,
               idf_map: dict[str, float], n_query_terms: int, conjunctive: bool,
               stats_mode: bool = False, exclude: frozenset = frozenset(),
               bound_inflation: float = 1.0):
    def score(key, pdf: pd.DataFrame):
        decodes = [0]
        cursors: list[_TermCursor] = []
        for term, tpdf in pdf.groupby("term"):
            blocks = (
                tpdf.sort_values("min_doc_no")[
                    ["min_doc_no", "max_doc_no", "docs_bin", "tfs_bin", "dls_bin", "max_tfnorm"]
                ]
                .to_dict("records")
            )
            cursors.append(
                _TermCursor(idf_map[term], blocks, k1, b, avgdl, decodes=decodes,
                            bound_scale=bound_inflation)
            )
        if conjunctive and len(cursors) < n_query_terms:
            if stats_mode:
                return pd.DataFrame(
                    {"shard": [int(key[0])], "n_blocks": [len(pdf)],
                     "n_decoded": [decodes[0]]}
                )
            return pd.DataFrame({"doc_no": [], "score": []}).astype(
                {"doc_no": "int64", "score": "float64"}
            )

        heap: list[tuple[float, int]] = []  # (score, -doc_no) min-heap, size k
        threshold = -math.inf

        def push(doc_no: int, s: float):
            nonlocal threshold
            item = (s, -doc_no)
            if len(heap) < k:
                heapq.heappush(heap, item)
                if len(heap) == k:
                    threshold = heap[0][0]
            elif heap and item > heap[0]:  # heap stays empty when k < 1
                heapq.heapreplace(heap, item)
                threshold = heap[0][0]

        live = [c for c in cursors if c.cur is not None]
        while live:
            live.sort(key=lambda c: c.cur)
            if conjunctive:
                if len(live) < n_query_terms:
                    break
                pivot_doc = live[-1].cur  # all terms must contain the doc
                ub = sum(c.max_score for c in live)
                if ub <= threshold and len(heap) == k:
                    break
            else:
                # WAND pivot: smallest prefix whose UB sum beats threshold
                acc = 0.0
                pivot_idx = None
                for i, c in enumerate(live):
                    acc += c.max_score
                    if acc > threshold or len(heap) < k:
                        pivot_idx = i
                        break
                if pivot_idx is None:
                    break  # nothing can beat the heap
                pivot_doc = live[pivot_idx].cur

            # align: all cursors before pivot must reach pivot_doc
            aligned = all(c.cur == pivot_doc for c in live if c.cur <= pivot_doc)
            if aligned:
                at_pivot = [c for c in live if c.cur == pivot_doc]
                # block-max check: sum of current block maxes.
                # `>=` is a conservative no-op, not a correctness
                # requirement: WAND scores candidates in strictly
                # increasing doc_no order, and push()'s (score, -doc_no)
                # tuple compare only displaces the heap min on a tie
                # when the NEW doc_no is smaller — which a later
                # candidate never is. Equal-to-threshold blocks are
                # therefore admitted purely to keep this bound check
                # visibly safe; the strict `acc > threshold` pivot
                # selection and `ub <= threshold` conjunctive break
                # above are correct for the same reason.
                bub = sum(c.block_max() for c in at_pivot)
                if bub >= threshold or len(heap) < k or conjunctive:
                    if (not conjunctive or len(at_pivot) == n_query_terms) and (
                        pivot_doc not in exclude
                    ):
                        s = sum(c.score_current() for c in at_pivot)
                        push(pivot_doc, s)
                for c in at_pivot:
                    c.advance()
            else:
                for c in live:
                    if c.cur < pivot_doc:
                        c.seek(pivot_doc)
            live = [c for c in live if c.cur is not None]

        if stats_mode:
            return pd.DataFrame(
                {"shard": [int(key[0])], "n_blocks": [len(pdf)],
                 "n_decoded": [decodes[0]]}
            )
        rows = sorted(((s, -negd) for s, negd in heap), key=lambda x: (-x[0], x[1]))
        return pd.DataFrame(
            {"doc_no": [d for _, d in rows], "score": [s for s, _ in rows]}
        ).astype({"doc_no": "int64", "score": "float64"})

    return score


def _resolve(index, queries: dict[int, list[str]], conjunctive: bool):
    """Term resolution of a queryset against a family: returns
    ``(q_ids, q_terms, idf_map)`` for the queries left to score.

    Tokens are index terms. A term with no live posting in the family
    drops out; a conjunctive query that lost a term can never match and
    drops out whole; a query with no term left drops out."""
    distinct = {qid: sorted(set(ts)) for qid, ts in queries.items()}
    union = sorted({t for ts in distinct.values() for t in ts})
    if not union:
        return [], [], {}
    stats = index.term_stats(union)
    present = [t for t in union if t in stats]
    # df correction: superseded docs still sit in their segment's terms
    # table; subtract the tombstoned docs that actually contain each
    # term (cached on the handle — one batched probe per unseen term,
    # nothing per query on the steady-state serving path)
    corr = index.df_corrections(present) if hasattr(index, "segments") else {}
    live_df = {t: stats[t]["df"] - corr.get(t, 0) for t in present}
    q_ids, q_terms = [], []
    for qid, ts in distinct.items():
        terms = [t for t in ts if live_df.get(t, 0) > 0]
        if terms and not (conjunctive and len(terms) < len(ts)):
            q_ids.append(qid)
            q_terms.append(terms)
    n_docs = index.meta["n_docs"]
    idf_map = {t: bm25_idf(n_docs, live_df[t]) for ts in q_terms for t in ts}
    return q_ids, q_terms, idf_map


def _score(family, meta: dict, q_ids: list[int], q_terms: list[list[str]],
           idf_map: dict[str, float], k: int, mode: str,
           conjunctive: bool) -> list[DataFrame]:
    """Per segment, the (query_id, doc_no, score) per-shard top-k frame."""
    terms = sorted(idf_map)
    frames = []
    for seg, excl in family:
        # shard size is a per-SEGMENT property; k1/b/avgdl are the
        # family's global statistics
        args = dict(
            k=k, k1=meta["k1"], b=meta["b"], avgdl=meta["avgdl"],
            idf_map=idf_map, conjunctive=conjunctive,
            exclude=frozenset(int(x) for x in excl),
        )
        shards = seg.blocks.where(F.col("term").isin(terms)).groupBy("shard")
        if mode == "taat":
            scorer = _shard_taat(shard_size=seg.meta["shard_size"],
                                 q_ids=q_ids, q_terms=q_terms, **args)
            frames.append(shards.applyInPandas(scorer, QSET_SCHEMA))
        else:
            scorer = _shard_bmw(
                n_query_terms=len(q_terms[0]),
                bound_inflation=max(1.0, meta["avgdl"] / seg.meta["avgdl"]),
                **args,
            )
            frames.append(
                shards.applyInPandas(scorer, TOPK_SCHEMA).select(
                    F.lit(q_ids[0]).cast("long").alias("query_id"), "doc_no", "score"
                )
            )
    return frames


def _top(df: DataFrame, k: int, order: list, fn=F.row_number) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(*order)
    return df.withColumn("_rn", fn().over(w)).where(F.col("_rn") <= k).drop("_rn")


def _topk(index, queries: dict[int, list[str]], k: int, mode: str,
          conjunctive: bool, cols: tuple[str, ...],
          lazy: bool = False) -> DataFrame:
    """The scoring core behind every entry point: ``queries`` (query_id
    -> index terms) ranked over ``index``'s segment family, <= k rows
    per query in (query_id, score desc, tie asc) order, projected to
    ``cols``. ``lazy`` keeps the distributed finish even when warm."""
    spark = index.spark
    ddl = ", ".join(f"{c} {_COL_TYPES[c]}" for c in cols)
    multi = hasattr(index, "segments")
    family = list(zip(index.segments, index.excluded)) if multi else [(index, ())]
    tie = "doc_id" if multi else "doc_no"
    if k < 1:
        return empty_df(spark, ddl)
    q_ids, q_terms, idf_map = _resolve(index, queries, conjunctive)
    if not q_ids:
        return empty_df(spark, ddl)
    frames = _score(family, index.meta, q_ids, q_terms, idf_map, k, mode, conjunctive)

    if not lazy and all(s._docmap_dict is not None for s, _ in family):
        # serving fast path (docmaps pinned in the driver at warm()):
        # ONE Spark job collects the per-shard top-ks (<= n_segments *
        # n_shards * k rows per query), then the k-way merge and the
        # enrichment run driver-side — the join formulation costs a
        # broadcast materialization job per segment per query. The
        # rows come back as a LocalRelation (local_rows_df), so the
        # caller's collect() runs no second job.
        merged = reduce(DataFrame.unionByName,
                        [f.withColumn("_seg", F.lit(i)) for i, f in enumerate(frames)])
        rows = []
        for r in merged.collect():
            row = r.asDict()
            row["doc_id"], row["url"] = family[row["_seg"]][0]._docmap_dict[row["doc_no"]]
            rows.append(row)
        rows.sort(key=lambda x: (x["query_id"], -x["score"], x[tie]))
        top = [
            tuple(row[c] for c in cols)
            for _, g in itertools.groupby(rows, key=lambda x: x["query_id"])
            for row in itertools.islice(g, k)
        ]
        return local_rows_df(spark, ddl, top)

    # distributed finish: a per-query top-k per segment BEFORE its
    # docmap broadcast bounds the broadcast near Q*k rows (the raw
    # frame holds up to n_shards*Q*k). In a family, rank() over the
    # score keeps every row tied with the segment's k-th score, so the
    # doc_id tie-break of the merge sees whole ties.
    seg_order = [F.desc("score")] + ([] if multi else [F.asc("doc_no")])
    parts = [
        seg.docmap.join(F.broadcast(_top(f, k, seg_order, F.rank)), "doc_no")
        .select("query_id", "doc_id", "url", "doc_no", "score")
        for (seg, _), f in zip(family, frames)
    ]
    out = reduce(DataFrame.unionByName, parts)
    if multi:
        out = _top(out, k, [F.desc("score"), F.asc("doc_id")])
    return out.orderBy("query_id", F.desc("score"), F.asc(tie)).select(*cols)


def bm25_topk(
    index: SegmentIndex,
    query: str,
    k: int = 10,
    mode: str = "taat",
    conjunctive: bool = False,
    tokens: list[str] | None = None,
) -> DataFrame:
    """BM25 top-k of one query over one segment.

    Returns (doc_id, url, doc_no, score) ordered by (score desc, doc_no).

    `tokens` bypasses tokenization for callers that already hold index
    terms (QueryEngine): re-tokenizing stems diverges from the index —
    stems equal to stopwords vanish ('wills'->'will'-> dropped), stems
    restem ('happili'->'happi'), and special tokens shred ('num:2024'
    -> 'num','_num_') — which also falsely empties conjunctive mode.
    """
    toks = tokenize(query) if tokens is None else list(tokens)
    return _topk(index, {0: toks}, k, mode, conjunctive,
                 ("doc_id", "url", "doc_no", "score"))


def bm25_topk_multi(
    msi,
    query: str,
    k: int = 10,
    mode: str = "taat",
    conjunctive: bool = False,
    tokens: list[str] | None = None,
) -> DataFrame:
    """BM25 top-k over a MultiSegmentIndex — the incremental-serving
    path: per-segment exact scoring with GLOBAL statistics, k-way merge
    of per-segment top-ks, ties on doc_id (cluster-size independent).

    Global statistics are tombstone-exact: N/avgdl come from the
    index's live-doc meta, and per-term df subtracts superseded docs
    containing the term (msi.df_corrections), so SCORES are identical
    to a fresh single-segment rebuild of the latest corpus. BMW mode
    inflates each segment's stored block maxima by
    max(1, avgdl_global/avgdl_segment) to stay admissible under the
    global length normalization (see _TermCursor.bound_scale).

    Returns (doc_id, url, score) ordered by (score desc, doc_id asc).
    Tie semantics: the global merge breaks exact-score ties on doc_id,
    but per-shard top-k pruning inside the scorers keeps ties by the
    shard-local doc_no — the same fast-path caveat as single-segment
    bm25_topk (SURVEY §9.5): an exact float-score tie AT the per-shard
    k boundary can surface a different member of the tied group than a
    rebuild would. Exact BM25 ties across distinct docs are
    fp-measure-zero in practice; the rank-identity tests pass on real
    corpora, and exact-mode scoring (the reference-parity path) has
    the cluster-size-independent tie order.
    """
    toks = tokenize(query) if tokens is None else list(tokens)
    return _topk(msi, {0: toks}, k, mode, conjunctive, ("doc_id", "url", "score"))


BMW_STATS_SCHEMA = "shard int, n_blocks long, n_decoded long"


def bmw_block_stats(
    index: SegmentIndex,
    query: str,
    k: int = 10,
    conjunctive: bool = False,
    tokens: list[str] | None = None,
) -> dict:
    """Measured block-skip evidence for the BMW scorer: runs the exact
    WAND loop over the query's blocks but reports, per shard, how many
    blocks existed vs how many the cursors actually DECODED (seek()
    skips whole blocks by max_doc_no without decoding; the block-max
    threshold check skips scoring). Returns
    ``{"n_blocks", "n_decoded", "skip_rate"}`` totals — all zero for a
    query that is never scored (no term left, or a conjunctive query
    missing a term).
    """
    toks = tokenize(query) if tokens is None else list(tokens)
    q_ids, q_terms, idf_map = (
        _resolve(index, {0: toks}, conjunctive) if k >= 1 else ([], [], {})
    )
    if not q_ids:
        return {"n_blocks": 0, "n_decoded": 0, "skip_rate": 0.0}
    meta = index.meta
    scorer = _shard_bmw(
        k=k, k1=meta["k1"], b=meta["b"], avgdl=meta["avgdl"],
        idf_map=idf_map, n_query_terms=len(q_terms[0]), conjunctive=conjunctive,
        stats_mode=True,
    )
    rows = (
        index.blocks.where(F.col("term").isin(q_terms[0]))
        .groupBy("shard")
        .applyInPandas(scorer, BMW_STATS_SCHEMA)
        .collect()
    )
    total = sum(r["n_blocks"] for r in rows)
    decoded = sum(r["n_decoded"] for r in rows)
    return {
        "n_blocks": int(total),
        "n_decoded": int(decoded),
        "skip_rate": round(1.0 - decoded / total, 3) if total else 0.0,
    }


def bm25_queryset_topk(
    index: SegmentIndex,
    queries: dict[int, str],
    k: int = 10,
    conjunctive: bool = False,
) -> DataFrame:
    """Segment-native BATCH serving: a whole QUERYSET ranked in one
    Spark job — the LTR-training / eval-harness / hard-negative-mining
    shape over the real compressed index. One blocks scan pruned to the
    UNION of all query terms, each block decoded once per shard, per-
    query global top-k as a window. Q serving calls cost Q jobs + Q
    scans; this costs one of each.

    Per-query semantics are EXACTLY bm25_topk(mode="taat")'s (same
    core) — asserted row-identical per query in
    tests/test_bm25_queryset.py.

    Returns (query_id, doc_id, url, doc_no, score) with per-query rank
    order (score desc, doc_no asc), <= k rows per query."""
    toks = {qid: tokenize(q) for qid, q in queries.items()}
    return _topk(index, toks, k, "taat", conjunctive,
                 ("query_id", "doc_id", "url", "doc_no", "score"), lazy=True)


def bm25_queryset_topk_multi(
    msi,
    queries: dict[int, str],
    k: int = 10,
    conjunctive: bool = False,
) -> DataFrame:
    """Batch queryset serving over a MultiSegmentIndex — the
    incremental-family counterpart of :func:`bm25_queryset_topk`: one
    job ranks the whole queryset across every live segment with the
    per-query semantics of :func:`bm25_topk_multi` (same core; asserted
    row-identical in tests/test_bm25_queryset.py).

    Returns (query_id, doc_id, url, score), <= k rows per query,
    ordered (query_id, score desc, doc_id asc)."""
    toks = {qid: tokenize(q) for qid, q in queries.items()}
    return _topk(msi, toks, k, "taat", conjunctive,
                 ("query_id", "doc_id", "url", "score"), lazy=True)
